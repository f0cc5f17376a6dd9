"""``ingest_search``: a single closed-loop HTTP client drives an
in-process ``api.server.make_server`` over an ``IndexStore``.

The index is keyed by an integer ``file_id``, so the store's
primary-key rule sends each write down the driver-side fast path. Each
cycle sends one write batch (edits and new files, then a
``DELETE ?ids``) and two searches: one for the token unique to the
batch (read-your-writes) and one from a seeded term stream. Every
eighth commit auto-compacts; the timed phase runs whole compaction
periods, at least two, for at least ``--seconds``. After it, a sample
of requests is checked against ``tests/oracle.py`` over the expected
final state.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import urllib.parse
import urllib.request

import pandas as pd

import inputs
import layers
from harness import (bytes_written, compare_answer, dir_bytes, file_sizes, log,
                     mean, median, oracle_answers, percentile, tail_percentile)
from tracing import ms

INDEX = "code"
WARMUP = "def return"
SETUP_REPS = 2
FINAL_SAMPLE = 4
WARMUP_SEARCHES = 2


class Client:
    def __init__(self, port: int):
        self.base = f"http://127.0.0.1:{port}/indexes/{INDEX}"

    def call(self, method: str, path: str, body=None):
        data = json.dumps(body).encode() if body is not None else None
        req = urllib.request.Request(self.base + path, data=data, method=method,
                                     headers={"Content-Type": "application/json"})
        with urllib.request.urlopen(req, timeout=120) as resp:
            raw = resp.read()
        return json.loads(raw) if raw else None

    def search(self, q: str, limit: int) -> dict:
        return self.call("POST", "/searches?" + urllib.parse.urlencode(
            {"q": q, "limit": limit}))


class Service:
    """One IndexStore behind one HTTP server thread."""

    def __init__(self, ctx, corpus: str, data_dir: str):
        from bright_spark.api.server import make_server
        from bright_spark.index.store import IndexStore
        from bright_spark.models import IndexConfig
        self.data_dir = data_dir
        self.store = IndexStore(ctx.spark, data_dir)
        self.store.create_index(IndexConfig(id=INDEX, primary_key="file_id"))
        self.store.add_documents(INDEX, ctx.spark.read.parquet(corpus)
                                 .select("file_id", "content"))
        self.server = make_server(self.store, 0)
        self.thread = threading.Thread(target=self.server.serve_forever,
                                       daemon=True)
        self.thread.start()
        self.client = Client(self.server.server_address[1])
        self.client.search(WARMUP, 10)

    @property
    def index_dir(self) -> str:
        return os.path.join(self.data_dir, INDEX)

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.thread.join()


def _wrap_layers(tracer) -> None:
    from bright_spark.index.mutations import IndexMutator
    from bright_spark.index.store import IndexStore
    tracer.wrap(IndexStore, "engine", "store.engine")
    tracer.wrap(IndexStore, "search", "store.search")
    tracer.wrap(IndexStore, "add_document_rows", "store.write")
    tracer.wrap(IndexStore, "delete_documents", "store.write")
    tracer.wrap(IndexMutator, "upsert_rows", "mutations.write")
    tracer.wrap(IndexMutator, "delete_ids", "mutations.write")
    tracer.wrap(IndexMutator, "compact", "compaction")
    layers.wrap_query(tracer)


class Cycles:
    """The closed-loop write/search cycles and their bookkeeping."""

    def __init__(self, ctx, svc: Service, corpus: str):
        self.ctx, self.svc = ctx, svc
        src = pd.read_parquet(corpus, columns=["file_id", "content"])
        self.state = dict(zip(src["file_id"].astype(int), src["content"]))
        self.next_id = len(self.state)
        self.cycle = 0
        self.requests: list[dict] = []   # every HTTP request, in order
        self.depth_max = self.depth()
        self.changed_bytes = 0
        self.n_requests = 0

    def depth(self) -> int:
        """Longest delta chain of the live snapshot: the auto-compaction
        trigger watches postings and term_stats."""
        from bright_spark.index.catalog import IndexCatalog
        cat = IndexCatalog(self.svc.index_dir)
        return max(cat.delta_depth("postings"), cat.delta_depth("term_stats"))

    def request(self, kind: str, fn, tracer):
        """One timed HTTP request; with a tracer, its server-side calls
        run inside spans."""
        if tracer:
            tracer.request_id = self.n_requests
            _wrap_layers(tracer)
        self.n_requests += 1
        if kind == "write":
            before, depth0 = file_sizes(self.svc.index_dir), self.depth()
        t0 = time.perf_counter()
        error, out = None, None
        try:
            out = fn()
        except Exception as e:  # counted as a failed request
            error = repr(e)
        finally:
            if tracer:
                tracer.unwrap_all()
        rec = {"kind": kind, "ms": (time.perf_counter() - t0) * 1000,
               "id": self.n_requests - 1, "error": error,
               "traced": tracer is not None}
        if kind == "write":
            rec["bytes"] = bytes_written(before, file_sizes(self.svc.index_dir))
            depth = self.depth()
            rec["compacted"] = depth < depth0
            self.depth_max = max(self.depth_max, depth)
        self.requests.append(rec)
        return out, rec

    def run_cycle(self, queries: list[str], tracer) -> None:
        """With a tracer, both writes and one of the two searches are
        traced: the batch-token search in even cycles, the stream search
        in odd ones, so traced and untraced searches see the same mix of
        request kinds and delta-chain depths."""
        c = self.cycle
        rows, deletes = self.ctx.inputs.ingest_batch(
            c, sorted(self.state), self.next_id)
        docs = [{"file_id": r["file_id"], "content": r["content"]} for r in rows]
        cl = self.svc.client
        self.request("write", lambda: cl.call("POST", "/documents", docs), tracer)
        self.request("write", lambda: cl.call(
            "DELETE", "/documents?ids=" + ",".join(map(str, deletes))), tracer)
        self.requests[-2]["changed"] = len(docs)
        self.requests[-1]["changed"] = len(deletes)
        self.changed_bytes += sum(len(d["content"].encode()) for d in docs)
        for d in docs:
            self.state[d["file_id"]] = d["content"]
        for i in deletes:
            del self.state[i]
        self.next_id = max(self.next_id, max(d["file_id"] for d in docs) + 1)
        token = inputs.batch_token(self.ctx.seed, c)
        got, rec = self.request("search", lambda: cl.search(token, 50),
                                tracer if c % 2 == 0 else None)
        want = sorted(d["file_id"] for d in docs)
        if got is None or got["totalHits"] != len(want) or sorted(
                int(h["doc_id"]) for h in got["hits"]) != want:
            rec["error"] = rec["error"] or f"read-your-writes miss for {token}"
        self.request("search", lambda: cl.search(queries[c % len(queries)], 10),
                     tracer if c % 2 == 1 else None)
        self.cycle += 1

    def run_periods(self, seconds: float, min_compactions: int, queries, tracer):
        """Cycles until at least ``seconds`` of wall time and
        ``min_compactions`` compactions have passed, ending right after
        a compaction so each run covers whole compaction periods."""
        t0 = time.perf_counter()
        start = len(self.requests)
        compactions = 0
        while True:
            self.run_cycle(queries, tracer)
            if tracer:
                tracer.resolve()
            last = [r for r in self.requests[-4:] if r["kind"] == "write"]
            if any(r.get("compacted") for r in last):
                compactions += 1
                if (compactions >= min_compactions
                        and time.perf_counter() - t0 >= seconds):
                    break
            if time.perf_counter() - t0 > 3 * seconds + 60:
                break  # no compaction came; the detail line shows the count
        return self.requests[start:]


def _setup(ctx, corpus: str, i: int):
    t0 = time.perf_counter()
    svc = Service(ctx, corpus, os.path.join(ctx.tmp, f"store-{i}"))
    return time.perf_counter() - t0, svc


def measure(ctx) -> dict:
    corpus = ctx.corpus
    tracer = ctx.tracer
    if tracer:
        layers.wrap_build(tracer)
    setups, svc = [], None
    for i in range(SETUP_REPS):
        if svc:
            svc.close()
            shutil.rmtree(svc.data_dir, ignore_errors=True)
        dt, svc = _setup(ctx, corpus, i)
        setups.append(dt)
    log(f"set up {SETUP_REPS}x: {', '.join(f'{t:.2f}s' for t in setups)}")
    if tracer:
        tracer.unwrap_all()
        tracer.resolve()
    try:
        return _measure(ctx, svc, corpus, setups)
    finally:
        svc.close()


def _measure(ctx, svc: Service, corpus: str, setups: list[float]) -> dict:
    tracer = ctx.tracer
    build_layers = layers.index_metrics(svc.index_dir) if tracer else {}
    idx_bytes = dir_bytes(svc.index_dir)[0]
    queries = ctx.inputs.ingest_queries(
        layers.term_dictionary(ctx.spark, svc.index_dir), inputs.INGEST_FILES)
    src_bytes = sum(len(c.encode()) for c in
                    pd.read_parquet(corpus, columns=["content"])["content"])
    cyc = Cycles(ctx, svc, corpus)
    # untimed searches warm the JVM's planning and execution paths (the
    # first few dozen requests run slower); the timed phase then starts
    # at the first commit of a compaction period
    for q in queries[-WARMUP_SEARCHES:]:
        svc.client.search(q, 10)

    reqs = cyc.run_periods(ctx.seconds, 2, queries, tracer)

    log(f"{cyc.cycle} cycles timed")
    writes = [r for r in reqs if r["kind"] == "write"]
    upserts = writes[0::2]
    searches = [r["ms"] for r in reqs if r["kind"] == "search"]
    changed = sum(r["changed"] for r in writes)
    tail = tail_percentile(len(searches))

    # final-state parity: engine answers now, oracle answers after Spark stops
    final_queries = queries[:FINAL_SAMPLE - 2] + [
        inputs.batch_token(ctx.seed, c) for c in (0, cyc.cycle - 1)]
    final = []
    for q in final_queries:
        got, rec = cyc.request("search", lambda q=q: svc.client.search(q, 10), None)
        final.append({"q": q, "got": got, "error": rec["error"]})
    state_path = os.path.join(ctx.tmp, "ingest-final.parquet")
    pd.DataFrame({"file_id": list(cyc.state), "content": list(cyc.state.values())}
                 ).to_parquet(state_path, index=False)

    out = {
        "state": {"requests": cyc.requests, "final": final,
                  "final_corpus": state_path},
        "e2e": {
            "setup_s": ctx.session_s + median(setups),
            "throughput_per_s": changed / (sum(r["ms"] for r in writes) / 1000),
            "latency_p50_ms": median(searches),
        },
        "detail": {
            "cycles": len(writes) // 2, "writes": len(writes),
            "compactions": sum(bool(r.get("compacted")) for r in writes),
            "compaction_write_ms": [r["ms"] for r in writes if r.get("compacted")],
            "ingest_docs_per_s": changed / (sum(r["ms"] for r in writes) / 1000),
            "upsert_p50_ms": median(r["ms"] for r in upserts),
            "write_p50_ms": median(r["ms"] for r in writes),
            "fresh_search_p50_ms": median(searches),
            f"fresh_search_p{tail}_ms": percentile(searches, tail),
            "fresh_searches": len(searches),
            "write_bytes_per_changed_byte": (sum(r["bytes"] for r in writes)
                                             / cyc.changed_bytes),
            "index_bytes_per_source_byte": idx_bytes / src_bytes,
            "setup_s_each": setups,
        },
    }
    if tracer:
        out["layers"] = _layer_metrics(tracer, cyc, reqs)
        out["layers"].update(build_layers)
        sample = pd.read_parquet(corpus, columns=["content"])["content"].head(200)
        out["layers"]["tokenizer.mb_per_s"] = layers.tokenizer_mb_per_s(sample.tolist())
    return out


def _layer_metrics(tracer, cyc: Cycles, reqs: list[dict]) -> dict:
    """Per-layer figures of the traced requests."""
    traced = [r for r in reqs if r["traced"]]
    by_req: dict[int, list[dict]] = {}
    for s in tracer.spans:
        if s["name"] in ("store.search", "store.write"):
            by_req.setdefault(s["request"], []).append(s)
    api_self = [r["ms"] - sum(ms(s) for s in by_req.get(r["id"], ()))
                for r in traced]
    muts = [tracer.totals(s) for s in tracer.named("mutations.write")]
    comp = tracer.named("compaction")
    writes = [r for r in traced if r["kind"] == "write"]

    def search_ms(flag):
        return median(r["ms"] for r in reqs
                      if r["kind"] == "search" and r["traced"] == flag)
    return {
        **layers.build_metrics(tracer),
        "catalog.delta_depth_max": float(cyc.depth_max),
        **layers.query_metrics(tracer),
        "store.engine_ms": median(ms(s) for s in tracer.named("store.engine")),
        "store.search_ms": median(ms(s) for s in tracer.named("store.search")),
        "api.self_ms": median(api_self),
        "mutations.write_ms": median(ms(s) for s in
                                     tracer.named("mutations.write")),
        "mutations.spark_jobs": mean(t["jobs"] for t in muts),
        "mutations.fast_ratio": (sum(t["jobs"] == 0 for t in muts) / len(muts)
                                 if muts else 0.0),
        "mutations.bytes_written": mean(r["bytes"] for r in writes),
        "compaction.count": float(len(comp)),
        "compaction.ms": median(ms(s) for s in comp),
        "compaction.bytes": mean(r["bytes"] for r in writes if r.get("compacted")),
        "trace.overhead_ratio": search_ms(True) / search_ms(False),
    }


def check(ctx, state: dict) -> tuple[int, int, list[str]]:
    reqs = state["requests"]
    msgs = [f"request {r['id']} ({r['kind']}): {r['error']}"
            for r in reqs if r["error"]]
    failed = len(msgs)
    final = state["final"]
    cache = os.path.join(ctx.tmp, "oracle-ingest.json")
    answers = oracle_answers(ctx.root, cache, state["final_corpus"],
                             [(f["q"], 0, 10) for f in final], ctx.tmp,
                             ctx.cpus, id_col="file_id")
    from oracle_answers import request_key
    for f in final:
        if f["error"]:
            continue  # already counted above
        got = f["got"]
        msg = compare_answer([int(h["doc_id"]) for h in got["hits"]],
                             [float(h["_score"]) for h in got["hits"]],
                             int(got["totalHits"]),
                             answers[request_key(f["q"], 0, 10)])
        if msg:
            failed += 1
            msgs.append(f"final state {f['q']!r}: {msg}")
    return len(reqs), failed, msgs[:10]
