"""``curate``: a fixed chain of the ``text/`` and ``vectors/`` operators
over ``(doc_id, text)`` from the repo generator, with seeded planted
exact and near copies and decontamination probes, plus seeded 64-d
embeddings with planted near neighbours.

exact_duplicates -> near_duplicates_minhash -> duplicate_clusters ->
quality_scores -> lm_perplexity_bigram -> vocabulary ->
probe_containment -> near_duplicates_cosine

Each pass runs the whole chain over the same inputs; the timed phase
runs whole passes for at least ``--seconds``. Every pass checks each
operator's output against a reference computed here from the cached
inputs: the planted copies, probes and neighbours must be recovered,
and every reported duplicate, cluster, probe match and vector pair must
hold when recomputed.
"""

from __future__ import annotations

import math
import re
import time

import numpy as np
import pandas as pd

import layers
from harness import log, mean, median
from tracing import ms

SETUP_REPS = 3
MINHASH_THRESHOLD = 0.7
COSINE_THRESHOLD = 0.99
SHINGLE_K = 3      # near_duplicates_minhash's default
PROBE_N = 5
PROBE_MIN_RATIO = 0.5
# slack for recomputed ratios and cosines compared with a threshold
EPS = 1e-9
WARMUP_DOCS = 200

STAGES = ("dedup_exact", "dedup_minhash", "dup_clusters", "quality",
          "lm_bigram", "vocabulary", "decontaminate", "ann_near_dup")


def _open(ctx, meta: dict):
    """The three input frames, each scanned once."""
    docs = ctx.spark.read.parquet(meta["docs"])
    probes = ctx.spark.read.parquet(meta["probes"])
    vecs = ctx.spark.read.parquet(meta["vectors"])
    for df in (docs, probes, vecs):
        df.count()
    return docs, probes, vecs


def one_pass(ctx, frames, tracer) -> tuple[dict, dict[str, float]]:
    """Run the chain once; returns (outputs, stage -> ms)."""
    from pyspark.sql import functions as F

    from bright_spark.text.decontaminate import probe_containment
    from bright_spark.text.dedup import (duplicate_clusters, exact_duplicates,
                                         near_duplicates_minhash)
    from bright_spark.text.quality import (lm_perplexity_bigram, quality_scores,
                                           vocabulary)
    from bright_spark.vectors.similarity import near_duplicates_cosine
    spark = ctx.spark
    docs, probes, vecs = frames
    out, times = {}, {}

    def stage(name, fn):
        t0 = time.perf_counter()
        if tracer:
            with tracer.span(f"curate.{name}"):
                res = fn()
        else:
            res = fn()
        times[name] = (time.perf_counter() - t0) * 1000
        out[name] = res
        return res

    exact = stage("dedup_exact", lambda: [
        (r["doc_id"], r["canonical_id"]) for r in exact_duplicates(docs)
        .filter(F.col("doc_id") != F.col("canonical_id"))
        .select("doc_id", "canonical_id").collect()])
    kept = docs.filter(~F.col("doc_id").isin([d for d, _ in exact]))
    pairs = stage("dedup_minhash", lambda: [
        (r["id_a"], r["id_b"]) for r in near_duplicates_minhash(
            kept, threshold=MINHASH_THRESHOLD).select("id_a", "id_b").collect()])
    pairs_df = spark.createDataFrame(pairs, "id_a BIGINT, id_b BIGINT")
    clusters = stage("dup_clusters", lambda: {
        r["doc_id"]: r["cluster_id"] for r in duplicate_clusters(kept, pairs_df)
        .filter(F.col("doc_id") != F.col("cluster_id")).collect()})
    dedup = kept.filter(~F.col("doc_id").isin(list(clusters)))
    stage("quality", lambda: quality_scores(dedup).agg(
        F.count("*").alias("n"), F.min("quality_score").alias("lo"),
        F.max("quality_score").alias("hi")).collect()[0].asDict())
    stage("lm_bigram", lambda: lm_perplexity_bigram(dedup).agg(
        F.count("*").alias("n"), F.min("perplexity").alias("lo"),
        F.max("perplexity").alias("hi")).collect()[0].asDict())
    stage("vocabulary", lambda: vocabulary(dedup).count())
    stage("decontaminate", lambda: [
        (r["doc_id"], r["probe_id"]) for r in probe_containment(
            dedup, probes, n=PROBE_N, min_ratio=PROBE_MIN_RATIO)
        .select("doc_id", "probe_id").collect()])
    stage("ann_near_dup", lambda: [
        (r["id_a"], r["id_b"]) for r in near_duplicates_cosine(
            vecs, threshold=COSINE_THRESHOLD, n_planes=6, dim=64)
        .select("id_a", "id_b").collect()])
    out["kept"] = kept
    return out, times


_SPACE = re.compile(r"[ \t\n\x0b\f\r]+")


def shingles(text: str, k: int) -> set[str]:
    """The distinct k-token shingles of ``text`` as
    ``text.dedup.shingle_arrays`` defines them: lowercased, spaces
    trimmed, split on runs of whitespace; a text shorter than k tokens
    is one shingle."""
    toks = _SPACE.split(text.lower().strip(" "))
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


class Reference:
    """The cached inputs, read once with pandas, and what the operators
    must return on them where that is fixed: exact duplicates (every
    doc whose text equals a lower doc_id's, mapped to the lowest)."""

    def __init__(self, meta: dict):
        docs = pd.read_parquet(meta["docs"])
        self.texts = dict(zip(docs["doc_id"].astype(int), docs["text"]))
        probes = pd.read_parquet(meta["probes"])
        self.probes = dict(zip(probes["doc_id"].astype(int), probes["text"]))
        vecs = pd.read_parquet(meta["vectors"])
        self.vecs = dict(zip(vecs["vec_id"].astype(int),
                             (np.asarray(v, dtype=np.float64)
                              for v in vecs["embedding"])))
        canonical: dict[str, int] = {}
        for d in sorted(self.texts):
            canonical.setdefault(self.texts[d], d)
        self.exact = {d: canonical[t] for d, t in self.texts.items()
                      if canonical[t] != d}
        self._sh: dict[tuple, set] = {}

    def doc_shingles(self, d: int, k: int) -> set[str]:
        if (d, k) not in self._sh:
            self._sh[(d, k)] = shingles(self.texts[d], k)
        return self._sh[(d, k)]

    def jaccard(self, a: int, b: int) -> float:
        sa, sb = self.doc_shingles(a, SHINGLE_K), self.doc_shingles(b, SHINGLE_K)
        return len(sa & sb) / len(sa | sb)

    def containment(self, d: int, probe: int) -> float:
        sp = shingles(self.probes[probe], PROBE_N)
        return len(sp & self.doc_shingles(d, PROBE_N)) / len(sp)

    def cosine(self, a: int, b: int) -> float:
        va, vb = self.vecs[a], self.vecs[b]
        return float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))


def components(pairs) -> dict[int, int]:
    """doc -> lowest doc_id of its connected component through
    ``pairs``, for every doc that is not that lowest one."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {d: find(d) for d in list(parent) if find(d) != d}


def check_pass(meta: dict, ref: Reference, out: dict) -> list[str]:
    """Failures of one pass, one message per failed stage."""
    bad = []
    exact = dict(out["dedup_exact"])
    if exact != ref.exact:
        bad.append(f"dedup_exact: {len(exact)} duplicates reported, "
                   f"{len(ref.exact)} expected, or another canonical doc")
    pairs = out["dedup_minhash"]
    if not {tuple(p) for p in meta["near_pairs"]} <= set(pairs):
        bad.append("dedup_minhash: a planted near copy was not found")
    low = [(a, b) for a, b in pairs if a >= b or a in ref.exact or b in ref.exact
           or ref.jaccard(a, b) < MINHASH_THRESHOLD - EPS]
    if low:
        bad.append(f"dedup_minhash: {len(low)} reported pairs are not "
                   f"near duplicates, e.g. {low[0]}")
    clusters, want_clusters = out["dup_clusters"], components(pairs)
    if clusters != want_clusters:
        bad.append("dup_clusters: clusters differ from the connected "
                   "components of the reported pairs")
    n_left = meta["n_docs"] - len(ref.exact) - len(want_clusters)
    q = out["quality"]
    if q["n"] != n_left or not (0.0 <= q["lo"] <= q["hi"] <= 1.0):
        bad.append(f"quality: {q} over {n_left} docs")
    lm = out["lm_bigram"]
    if lm["n"] != n_left or not (1.0 <= lm["lo"] <= lm["hi"] < math.inf):
        bad.append(f"lm_bigram: {lm} over {n_left} docs")
    if out["vocabulary"] <= 0:
        bad.append("vocabulary: empty")
    found = set(out["decontaminate"])
    if (any((src, k) not in found for k, src in meta["probe_pairs"])
            or any(d in ref.exact or d in want_clusters
                   or ref.containment(d, p) < PROBE_MIN_RATIO - EPS
                   for d, p in found)):
        bad.append("decontaminate: a planted probe was missed, or a match "
                   "does not contain its probe")
    near = out["ann_near_dup"]
    if not {tuple(p) for p in meta["vec_pairs"]} <= set(near):
        bad.append("ann_near_dup: a planted near neighbour was not found")
    if any(a >= b or ref.cosine(a, b) < COSINE_THRESHOLD - EPS for a, b in near):
        bad.append("ann_near_dup: a reported pair is below the cosine threshold")
    return bad


def measure(ctx) -> dict:
    meta = ctx.curate
    tracer = ctx.tracer
    ref = Reference(meta)
    setups, frames = [], None
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        frames = _open(ctx, meta)
        setups.append(time.perf_counter() - t0)

    log(f"set up {SETUP_REPS}x: {', '.join(f'{t:.2f}s' for t in setups)}")
    passes: list[dict] = []
    failures: list[str] = []

    def run(seconds: float) -> None:
        """Whole passes for ``seconds``, at least two; with a tracer,
        every other pass is traced and the last pass is an untraced one,
        so the traced passes sit between untraced ones."""
        t0 = time.perf_counter()
        while (len(passes) < 2 or time.perf_counter() - t0 < seconds
               or (tracer is not None and len(passes) % 2 == 0)):
            traced = tracer is not None and len(passes) % 2 == 1
            if traced:
                tracer.request_id = len(passes)
            try:
                out, times = one_pass(ctx, frames, tracer if traced else None)
            except Exception as e:  # the whole pass failed
                failures.append(f"pass {len(passes)}: {e!r}")
                rec = {"ms": None, "failed": len(STAGES)}
            else:
                bad = check_pass(meta, ref, out)
                failures.extend(bad)
                rec = {"ms": sum(times.values()), "stages": times,
                       "failed": len(bad), "out": out}
            rec["traced"] = traced
            passes.append(rec)
            if traced:
                tracer.resolve()

    # one untimed pass over a slice of the inputs warms the Python
    # workers and the JVM's code paths before any pass is timed
    from pyspark.sql import functions as F
    docs, probes, vecs = frames
    one_pass(ctx, (docs.filter(F.col("doc_id") < WARMUP_DOCS), probes,
                   vecs.filter(F.col("vec_id") < WARMUP_DOCS)), None)
    run(ctx.seconds)
    log(f"{len(passes)} passes timed")
    times = [p["ms"] for p in passes if p["ms"]]
    if not times:
        raise RuntimeError(f"every curate pass failed: {failures[:3]}")
    docs_per_s = meta["n_docs"] * len(times) / (sum(times) / 1000)
    out = {
        "state": {"attempted": len(passes) * len(STAGES),
                  "failed": sum(p["failed"] for p in passes),
                  "messages": failures[:10]},
        "e2e": {
            "setup_s": ctx.session_s + median(setups),
            "throughput_per_s": docs_per_s,
            "latency_p50_ms": median(times),
        },
        "detail": {
            "passes": len(passes), "curate_docs_per_s": docs_per_s,
            "stage_p50_ms": {s: median(p["stages"][s] for p in passes if p["ms"])
                             for s in STAGES},
        },
    }
    if tracer:
        out["layers"] = _layer_metrics(tracer, passes)
        out["layers"]["tokenizer.mb_per_s"] = layers.tokenizer_mb_per_s(
            frames[0].limit(200).toPandas()["text"].tolist())
    for p in passes:
        p.pop("out", None)
    return out


def _layer_metrics(tracer, passes: list[dict]) -> dict:
    from bright_spark.text.dedup import minhash_candidate_pairs
    m = {f"{s}.s": median(ms(sp) / 1000 for sp in tracer.named(f"curate.{s}"))
         for s in STAGES}
    ok = [p for p in passes if p["ms"] and p["traced"]]
    # candidates before verification: the same LSH banding the operator
    # runs, replayed once outside any timed pass
    kept = ok[-1]["out"]["kept"] if ok else None
    cand = minhash_candidate_pairs(kept).count() if kept is not None else 0
    verified = len(ok[-1]["out"]["dedup_minhash"]) if ok else 0
    m["dedup_minhash.candidates"] = float(cand)
    m["dedup_minhash.verify_ratio"] = verified / cand if cand else 0.0
    per_pass: dict = {}
    for sp in tracer.spans:
        if sp["name"].startswith("curate."):
            pid = sp["request"]
            per_pass[pid] = per_pass.get(pid, 0) + sp.get("tasks", 0)
    m["curate.spark_tasks"] = mean(per_pass.values())
    m["trace.overhead_ratio"] = (
        median(p["ms"] for p in passes if p["ms"] and p["traced"])
        / median(p["ms"] for p in passes if p["ms"] and not p["traced"]))
    return m


def check(ctx, state: dict) -> tuple[int, int, list[str]]:
    """Every pass was checked as it ran."""
    return state["attempted"], state["failed"], state["messages"]
