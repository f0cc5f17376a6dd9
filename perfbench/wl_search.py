"""``search``: a single closed-loop client sends the seeded request
stream to ``SearchEngine.search`` on an index built during set-up.

Set-up (timed, twice, median reported): a fresh
``IndexBuilder.build`` of the corpus, ``SearchEngine`` construction and
one warm-up request. The last index serves the timed phase. Each
distinct request is checked once against ``tests/oracle.py``.
"""

from __future__ import annotations

import os
import shutil
import time

import pandas as pd

import inputs
import layers
from harness import (compare_answer, dir_bytes, log, mean, median,
                     oracle_answers, oracle_hash, percentile, tail_percentile)
from tracing import ms

SOURCE_COLS = ["repo", "path", "commit", "lang", "content"]
# one request down each physical path: WAND, and relational (phrase)
WARMUP = ("def return", '"return None"')
SETUP_REPS = 2


def _setup(ctx, corpus: str, i: int):
    from bright_spark.index.builder import IndexBuilder
    from bright_spark.models import IndexConfig, SearchRequest
    from bright_spark.query.engine import SearchEngine
    d = os.path.join(ctx.tmp, f"search-index-{i}")
    t0 = time.perf_counter()
    source = ctx.spark.read.parquet(corpus).select(*SOURCE_COLS)
    IndexBuilder(ctx.spark, IndexConfig(id="search"), d).build(source)
    eng = SearchEngine(ctx.spark, d)
    for q in WARMUP:
        eng.search(SearchRequest(q=q, limit=10))
    return time.perf_counter() - t0, d, eng


def _wand_kernel(eng, aq, k: int):
    """(postings frame, per-range kernel) of the engine's WAND path for
    ``aq``, captured from ``SearchEngine._wand_hits`` as it hands them
    to ``applyInPandas``; (None, None) when the query can match
    nothing. With the engine's df cache warm the call runs no Spark
    job: it only plans."""
    from pyspark.sql.group import GroupedData
    orig = GroupedData.applyInPandas
    got = {}

    def capture(grouped, func, schema):
        got["rows"], got["kernel"] = grouped._df, func
        return orig(grouped, func, schema)

    GroupedData.applyInPandas = capture
    try:
        eng._wand_hits(aq, k)
    finally:
        GroupedData.applyInPandas = orig
    return got.get("rows"), got.get("kernel")


class Replay:
    """Re-runs a request's layers through their public functions, one
    at a time, so each layer's share of the request can be timed. The
    postings fetch and the scorer are replayed only for requests the
    engine sent down its WAND path, with the frame and kernel the
    engine itself builds (:func:`_wand_kernel`)."""

    def __init__(self, ctx, eng):
        from bright_spark.query.parser import parse_query
        from bright_spark.query.planner import Planner
        self.ctx, self.eng = ctx, eng
        # captured before any wrapping: the replay adds no layer spans
        self.parse = parse_query
        self.analyze = Planner.analyze
        self.rows: list[dict] = []

    def __call__(self, req: dict, hit_ids: list[int], request_ms: float,
                 layer_ms: float, cached: set, wand: bool) -> None:
        """``cached``: the engine's df-cache keys before the request;
        ``wand``: whether the engine took its WAND path."""
        spark, cat = self.ctx.spark, self.eng.catalog
        aq = self.analyze(self.eng.planner, self.parse(req["q"]))
        pairs = sorted({s.key for s in aq.scoring_terms})
        out = {"pairs": len(pairs), "seen": sum(p in cached for p in pairs)}
        if pairs:
            t0 = time.perf_counter()
            cat.term_stats_for_terms(spark, pairs).collect()
            out["term_stats_ms"] = (time.perf_counter() - t0) * 1000
        rows, kernel = (_wand_kernel(self.eng, aq, req["offset"] + req["limit"])
                        if wand else (None, None))
        if rows is not None:
            t0 = time.perf_counter()
            pdf = rows.toPandas()
            out["postings_ms"] = (time.perf_counter() - t0) * 1000
            out["postings_rows"] = len(pdf)
            out["postings_bytes"] = sum(
                len(b) for c in ("docs", "tfs", "dls")
                for arr in pdf[c] if arr is not None for b in arr)
            groups = [(rid, g.reset_index(drop=True))
                      for rid, g in pdf.groupby("range_id", sort=True)]
            t0 = time.perf_counter()
            for rid, g in groups:
                kernel((rid,), g)
            out["scorer_ms"] = (time.perf_counter() - t0) * 1000
            out["scorer_ranges"] = len(groups)
        if hit_ids:
            t0 = time.perf_counter()
            cat.docs_for_ids(spark, hit_ids).collect()
            out["assemble_ms"] = (time.perf_counter() - t0) * 1000
        if all(k in out for k in ("term_stats_ms", "postings_ms", "scorer_ms",
                                  "assemble_ms")):
            out["unattributed_ms"] = request_ms - layer_ms - sum(
                out[k] for k in ("term_stats_ms", "postings_ms", "scorer_ms",
                                 "assemble_ms"))
        self.rows.append(out)

    def metrics(self) -> dict[str, float]:
        def col(k):
            return [r[k] for r in self.rows if k in r]
        pairs = sum(r["pairs"] for r in self.rows)
        return {
            "term_stats.ms": median(col("term_stats_ms")),
            "df_cache.hit_ratio": (sum(r["seen"] for r in self.rows) / pairs
                                   if pairs else 0.0),
            "postings.ms": median(col("postings_ms")),
            "postings.rows": mean(col("postings_rows")),
            "postings.bytes": mean(col("postings_bytes")),
            "assemble.ms": median(col("assemble_ms")),
            "scorer.ms": median(col("scorer_ms")),
            "scorer.ranges": mean(col("scorer_ranges")),
            "search.unattributed_ms": median(col("unattributed_ms")),
        }


def _timed(eng, sreq):
    t0 = time.perf_counter()
    resp = eng.search(sreq)
    return resp, (time.perf_counter() - t0) * 1000


def measure(ctx) -> dict:
    from bright_spark.fixtures import LANGS
    from bright_spark.index.catalog import IndexCatalog
    from bright_spark.models import SearchRequest
    corpus = ctx.corpus
    tracer = ctx.tracer
    if tracer:
        layers.wrap_build(tracer)
    setups, eng, index_dir = [], None, None
    for i in range(SETUP_REPS):
        if index_dir:
            shutil.rmtree(index_dir, ignore_errors=True)
        dt, index_dir, eng = _setup(ctx, corpus, i)
        setups.append(dt)
    log(f"set up {SETUP_REPS}x: {', '.join(f'{t:.2f}s' for t in setups)}")
    if tracer:
        tracer.unwrap_all()
        tracer.resolve()

    # the query stream is drawn from the built term dictionary (not timed)
    terms = layers.term_dictionary(ctx.spark, index_dir)
    sample = pd.read_parquet(corpus, columns=["content"])["content"].head(200).tolist()
    langs = [lang for lang, _, _ in LANGS]
    stream = ctx.inputs.search_queries(inputs.SEARCH_FILES, terms, sample, langs)
    # the first few dozen requests are slower while the JVM compiles the
    # planning and execution paths: a few untimed requests down both
    for req in ctx.inputs.search_warmup(terms, sample, langs):
        eng.search(SearchRequest(q=req["q"], offset=req["offset"],
                                 limit=req["limit"]))

    log(f"{len(stream)} requests ready")
    results: list[dict] = []
    replay = Replay(ctx, eng) if tracer else None

    # a traced run sends each request twice, untraced and traced, in
    # alternating order (the first of the two fills the df cache), so
    # the overhead compares like with like; the layer replays run after
    # the loop, so their Spark jobs do not disturb later requests
    lat, ratios, to_replay = [], [], []
    t_end = time.perf_counter() + ctx.seconds
    while ((time.perf_counter() < t_end or len(results) % inputs.BLOCK_LEN)
           and len(results) < len(stream)):
        i = len(results)
        req = stream[i]
        sreq = SearchRequest(q=req["q"], offset=req["offset"], limit=req["limit"])
        try:
            if tracer is None:
                resp, dt = _timed(eng, sreq)
            else:
                cached = set(eng._df_cache)
                for traced in ((False, True) if i % 2 == 0 else (True, False)):
                    if not traced:
                        resp, dt = _timed(eng, sreq)
                        continue
                    tracer.request_id = i
                    since = time.perf_counter()
                    layers.wrap_query(tracer)
                    try:
                        _, dt_traced = _timed(eng, sreq)
                    finally:
                        tracer.unwrap_all()
                    layer_ms = sum(ms(s) for s in tracer.named("parser", since)
                                   + tracer.named("planner", since))
                    wand = bool(tracer.named("engine.wand", since))
        except Exception as e:  # counted as a failed request
            results.append({"req": req, "error": repr(e)})
            continue
        lat.append(dt)
        ids = [int(h["doc_id"]) for h in resp.hits]
        results.append({"req": req, "ids": ids, "ms": dt,
                        "scores": [float(h["_score"]) for h in resp.hits],
                        "total": int(resp.total_hits)})
        if tracer:
            ratios.append(dt_traced / dt)
            to_replay.append((req, ids, dt_traced, layer_ms, cached, wand))
    if tracer:
        tracer.resolve()
        for args in to_replay:
            replay(*args)
    log(f"{len(lat)} searches timed")
    src_bytes = sum(len(c.encode()) for c in
                    pd.read_parquet(corpus, columns=["content"])["content"])
    idx_bytes = dir_bytes(index_dir)[0]
    n_files = inputs.SEARCH_FILES
    tail = tail_percentile(len(lat))
    state = {"results": results, "corpus": corpus}
    out = {
        "state": state,
        "e2e": {
            "setup_s": ctx.session_s + median(setups),
            "throughput_per_s": len(lat) / (sum(lat) / 1000),
            "latency_p50_ms": median(lat),
        },
        "detail": {
            "searches": len(lat), "distinct": len({_key(r["req"]) for r in results}),
            "kind_p50_ms": {k: round(median(r["ms"] for r in results
                                            if r["req"]["kind"] == k and "ms" in r))
                            for k in sorted({r["req"]["kind"] for r in results})},
            "search_p50_ms": median(lat), f"search_p{tail}_ms": percentile(lat, tail),
            "setup_builds_s": setups,
            "build_docs_per_s": n_files / median(setups),
            "index_bytes_per_source_byte": idx_bytes / src_bytes,
        },
    }
    if tracer:
        out["layers"] = {
            **layers.build_metrics(tracer),
            **layers.index_metrics(index_dir),
            "catalog.delta_depth_max": float(IndexCatalog(index_dir).delta_depth()),
            **layers.query_metrics(tracer),
            **replay.metrics(),
            "trace.overhead_ratio": median(ratios),
            "tokenizer.mb_per_s": layers.tokenizer_mb_per_s(sample),
        }
    return out


def _key(req: dict) -> tuple:
    return (req["q"], req["offset"], req["limit"])


def check(ctx, state: dict) -> tuple[int, int, list[str]]:
    """(attempted, failed, messages): every request counts once. The
    first answer to each distinct request is compared with the oracle;
    a repeat, served from the engine's warm df cache, must give the
    same ids, scores and total as that first answer, and fails with it
    when it was wrong."""
    results = state["results"]
    distinct = sorted({_key(r["req"]) for r in results if "error" not in r})
    cache = ctx.inputs.path(f"oracle-search-s{ctx.seed}-n{inputs.SEARCH_FILES}"
                            f"-{oracle_hash(ctx.root)}.json")
    answers = oracle_answers(ctx.root, cache, state["corpus"], distinct, ctx.tmp,
                             ctx.cpus, lang_col="lang")
    from oracle_answers import request_key
    first: dict[tuple, dict] = {}
    first_bad: dict[tuple, str] = {}
    msgs: list[str] = []
    failed = 0
    for i, r in enumerate(results):
        k = _key(r["req"])
        if "error" in r:
            msg = r["error"]
        elif k in first:
            msg = compare_answer(r["ids"], r["scores"], r["total"], first[k])
            msg = (f"repeat differs from first answer: {msg}" if msg
                   else first_bad.get(k))
        else:
            first[k] = r
            msg = compare_answer(r["ids"], r["scores"], r["total"],
                                 answers[request_key(*k)])
            if msg:
                first_bad[k] = msg
        if msg:
            failed += 1
            msgs.append(f"request {i} {k[0]!r} offset={k[1]}: {msg}")
    return len(results), failed, msgs[:10]
