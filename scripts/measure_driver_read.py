"""Driver vs Spark WAND executor: latency and driver transient RSS
against the bytes of the query's term-bucket posting files — the
measurement behind ``query.engine.DRIVER_READ_MAX_BYTES``.

Builds (once) a ``fixtures.make_repos_spark`` corpus of ``--files``
rows and its index under ``--work-dir``, then runs OR queries of the
1, 2, 4, ..., 64 highest-df content terms (plus one two-term AND)
through ``SearchEngine.search`` on both executors, alternating which
goes first, and prints one JSON line per query: bucket-file MB, MB of
posting rows read, median driver and Spark latency, and the driver's
transient RSS for one search in a fresh process with no JVM.

    PYTHONPATH=. python scripts/measure_driver_read.py \
        --files 40000 --work-dir /tmp/drvread --master 'local[4]'
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bright_spark.models import SearchRequest  # noqa: E402
from bright_spark.query import engine as E  # noqa: E402

N_TERMS = (1, 2, 4, 8, 16, 32, 64)
REPS = 3  # timed reps per executor, after one warm-up each


def driver_rss(index_dir: str, q: str, warm_q: str) -> float:
    """MB the driver's RSS rises above its pre-request level during
    one driver-executor search (this process: no SparkSession)."""
    E.DRIVER_READ_MAX_BYTES = 1 << 62
    eng = E.SearchEngine(None, index_dir)
    eng.search(SearchRequest(q=warm_q, limit=10))  # imports and caches
    page = os.sysconf("SC_PAGE_SIZE")

    def rss() -> float:
        with open("/proc/self/statm") as f:
            return int(f.read().split()[1]) * page / 2**20

    peak, done = [0.0], threading.Event()

    def sample() -> None:
        while not done.is_set():
            peak[0] = max(peak[0], rss())
            time.sleep(0.0005)

    base = rss()
    th = threading.Thread(target=sample)
    th.start()
    eng.search(SearchRequest(q=q, limit=10))
    done.set()
    th.join()
    return peak[0] - base


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--files", type=int)
    ap.add_argument("--buckets", type=int, default=8)
    ap.add_argument("--work-dir")
    ap.add_argument("--master", default="local[4]")
    ap.add_argument("--rss-of", nargs=3, metavar=("INDEX", "Q", "WARM_Q"),
                    help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.rss_of:
        print(json.dumps({"rss_mb": driver_rss(*args.rss_of)}))
        return
    if args.files is None or args.work_dir is None:
        ap.error("--files and --work-dir are required")

    import pyarrow.parquet as pq

    from bright_spark.fixtures import make_repos_spark
    from bright_spark.index.builder import build_index
    from bright_spark.models import IndexConfig
    from bright_spark.query.parser import parse_query
    from bright_spark.session import get_spark

    spark = get_spark("measure_driver_read", master=args.master,
                      shuffle_partitions=16)
    idx = os.path.join(args.work_dir, f"idx_{args.files}_b{args.buckets}")
    if not os.path.exists(idx):
        src = make_repos_spark(spark, args.files, seed=7, partitions=16)
        build_index(spark, src, idx,
                    IndexConfig(id="r", n_term_buckets=args.buckets),
                    n_build_partitions=16)
    eng = E.SearchEngine(spark, idx)
    terms = [r["term"] for r in eng.catalog.term_stats(spark)
             .filter("field = 'content'").orderBy("df", ascending=False)
             .limit(max(N_TERMS)).collect()]
    queries = [" ".join(terms[:n]) for n in N_TERMS]
    queries.append(f"+{terms[0]} +{terms[5]}")
    for q in queries:
        spec = eng._wand_spec(eng.planner.analyze(parse_query(q)))
        files = eng.catalog.part_files(
            "postings", eng.catalog.term_buckets(spec.needed))
        wanted = sorted({t for _, t in spec.needed})
        read = sum(pq.read_table(f, filters=[("term", "in", wanted)],
                                 columns=E._WAND_COLS[:-1],
                                 partitioning=None).nbytes for f in files)
        ms: dict[str, list[float]] = {"driver": [], "spark": []}
        for rep in range(REPS + 1):
            for side in (("driver", "spark") if rep % 2 else
                         ("spark", "driver")):
                E.DRIVER_READ_MAX_BYTES = 1 << 62 if side == "driver" else 0
                t0 = time.perf_counter()
                eng.search(SearchRequest(q=q, limit=10))
                if rep:
                    ms[side].append((time.perf_counter() - t0) * 1000)
        out = subprocess.run(
            [sys.executable, __file__, "--rss-of", idx, q, terms[-1]],
            capture_output=True, text=True, check=True).stdout
        print(json.dumps({
            "terms": len(spec.needed),
            "bucket_mb": round(sum(map(os.path.getsize, files)) / 1e6, 1),
            "rows_read_mb": round(read / 1e6, 1),
            "driver_ms": round(statistics.median(ms["driver"]), 1),
            "spark_ms": round(statistics.median(ms["spark"]), 1),
            "driver_rss_mb": round(
                json.loads(out.strip().splitlines()[-1])["rss_mb"], 1),
        }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
