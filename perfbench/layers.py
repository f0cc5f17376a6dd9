"""Per-layer measurements shared by the workloads."""

from __future__ import annotations

import os
import time

from harness import dir_bytes, mean, median
from tracing import Tracer, ms

BUILD_STAGES = (("resolve_range_bits", "builder.resolve"),
                ("build_docs", "builder.docs"),
                ("build_postings", "builder.postings"),
                ("build_stats", "builder.stats"))


def wrap_build(tracer: Tracer) -> None:
    """Spans around ``IndexBuilder.build``, its four stages and the
    catalog's snapshot commit."""
    from bright_spark.index.builder import IndexBuilder
    from bright_spark.index.catalog import PendingSnapshot
    tracer.wrap(IndexBuilder, "build", "builder.build")
    for attr, name in BUILD_STAGES:
        tracer.wrap(IndexBuilder, attr, name)
    tracer.wrap(PendingSnapshot, "commit", "catalog.commit")


def build_metrics(tracer: Tracer) -> dict[str, float]:
    out = {}
    for _, name in BUILD_STAGES:
        out[f"{name}_s"] = median(ms(s) / 1000 for s in tracer.named(name))
    builds = [tracer.totals(s) for s in tracer.named("builder.build")]
    out["builder.spark_jobs"] = median(t["jobs"] for t in builds)
    out["builder.spark_tasks"] = median(t["tasks"] for t in builds)
    out["builder.failed_tasks"] = sum(t["failed_tasks"] for t in builds)
    out["catalog.commit_s"] = median(ms(s) / 1000
                                     for s in tracer.named("catalog.commit"))
    return out


def wrap_query(tracer: Tracer) -> None:
    """Spans around ``parse_query`` (as the engine calls it),
    ``Planner.analyze`` and ``SearchEngine.search``, and one around
    ``SearchEngine._wand_hits`` that records which physical path the
    engine chose."""
    from bright_spark.query import engine
    from bright_spark.query.engine import SearchEngine
    from bright_spark.query.planner import Planner

    def expanded(rec, args, aq):
        rec["expanded_terms"] = len(aq.scoring_terms) + len(aq.must_not_terms)

    tracer.wrap(engine, "parse_query", "parser")
    tracer.wrap(Planner, "analyze", "planner", after=expanded)
    tracer.wrap(SearchEngine, "search", "engine.search")
    tracer.wrap(SearchEngine, "_wand_hits", "engine.wand")


def query_metrics(tracer: Tracer) -> dict[str, float]:
    planner = tracer.named("planner")
    searches = [tracer.totals(s) for s in tracer.named("engine.search")]
    return {
        "parser.us": median(ms(s) * 1000 for s in tracer.named("parser")),
        "planner.ms": median(ms(s) for s in planner),
        "planner.expanded_terms": mean(s["expanded_terms"] for s in planner),
        "planner.spark_jobs": mean(tracer.totals(s)["jobs"] for s in planner),
        "search.spark_jobs": mean(t["jobs"] for t in searches),
        "search.spark_stages": mean(t["stages"] for t in searches),
        "search.spark_tasks": mean(t["tasks"] for t in searches),
    }


def term_dictionary(spark, index_dir: str) -> dict[str, int]:
    """term -> df of the content field, read from the built index."""
    from bright_spark.index.catalog import IndexCatalog
    ts = (IndexCatalog(index_dir).term_stats(spark)
          .filter("field = 'content'").select("term", "df").toPandas())
    return dict(zip(ts["term"], ts["df"].astype(int)))


def index_metrics(index_dir: str) -> dict[str, float]:
    data = os.path.join(index_dir, "data")
    out = {}
    for table in ("postings", "docs", "term_stats"):
        out[f"index.{table}_bytes"] = float(
            dir_bytes(os.path.join(data, table))[0])
    out["index.files"] = float(dir_bytes(index_dir)[1])
    return out


TOKENIZER_REPS = 3


def tokenizer_mb_per_s(texts: list[str]) -> float:
    """``count_terms_batch`` over a fixed sample, in-process on one
    core: the best of ``TOKENIZER_REPS`` passes."""
    from bright_spark.analysis.tokenizer import count_terms_batch
    mb = sum(len(t.encode()) for t in texts) / 1e6
    best = float("inf")
    for _ in range(TOKENIZER_REPS):
        t0 = time.perf_counter()
        count_terms_batch(texts, mode="code")
        best = min(best, time.perf_counter() - t0)
    return mb / best

