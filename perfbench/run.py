"""Run one benchmark workload with one seed and print one result line.

From the repository root:

    python3 perfbench/run.py --workload search --seed 1 --seconds 20 --trace 0

Workloads: ``search``, ``ingest_search``, ``curate`` (see README.md).
``--trace 0`` measures the end-to-end metrics; ``--trace 1`` wraps the
program's public layer functions in spans and reports the per-layer
metrics instead. Both check the program's answers. The last stdout line
is the JSON result; the line before it holds per-workload detail. Exit
status is 0 only when every answer was correct.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REQUIRED = ("BENCHMARK.json", "bright_spark/__init__.py", "tests/oracle.py")
WORKLOADS = ("search", "ingest_search", "curate")


class Context:
    """What a workload needs: the session, its inputs and the settings."""

    def __init__(self, args, cpus: int, tmp: str, cache_dir: str):
        import inputs
        self.root = ROOT
        self.seed = args.seed
        self.seconds = args.seconds
        self.cpus = cpus
        self.tmp = tmp
        self.inputs = inputs.Inputs(cache_dir, args.seed, cpus, tmp)
        self.spark = None
        self.tracer = None
        self.session_s = 0.0
        self.corpus = None
        self.curate = None


def _workload(name: str):
    import wl_curate
    import wl_ingest
    import wl_search
    return {"search": wl_search, "ingest_search": wl_ingest,
            "curate": wl_curate}[name]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # SIGTERM unwinds like an exception, so the session is stopped and
    # the temp dir removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a bright_spark checkout (missing {missing})",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    cpus = len(os.sched_getaffinity(0))
    scratch = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch)
    # Spark's Python workers import bright_spark from any cwd; every
    # temp file of this run (Python, JVM, Spark) stays in ``tmp``
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)
    try:
        return _run(args, bench, cpus, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _run(args, bench: dict, cpus: int, tmp: str) -> int:
    import harness
    import inputs
    from tracing import Tracer

    ctx = Context(args, cpus, tmp, os.path.join(ROOT, ".perfbench_cache"))
    wl = _workload(args.workload)
    if args.workload == "search":
        ctx.corpus = ctx.inputs.repos_corpus(inputs.SEARCH_FILES, "search")
    elif args.workload == "ingest_search":
        ctx.corpus = ctx.inputs.repos_corpus(inputs.INGEST_FILES, "ingest")
    else:
        ctx.curate = ctx.inputs.curate_inputs()

    harness.log("inputs ready")
    with harness.RssSampler() as rss:
        t0 = time.perf_counter()
        ctx.spark = harness.start_session(f"perfbench-{args.workload}", cpus, tmp)
        ctx.session_s = time.perf_counter() - t0
        harness.log(f"session started in {ctx.session_s:.2f}s")
        try:
            if args.trace:
                ctx.tracer = Tracer(ctx.spark)
            res = wl.measure(ctx)
        finally:
            if ctx.tracer:
                out_dir = os.path.join(ROOT, ".perfbench_out")
                os.makedirs(out_dir, exist_ok=True)
                ctx.tracer.dump(os.path.join(
                    out_dir, f"trace-{args.workload}-s{args.seed}.jsonl"))
            harness.log("measured; stopping the session")
            harness.stop_session(ctx.spark)
    harness.log("session stopped; checking answers")
    attempted, failed, messages = wl.check(ctx, res["state"])
    harness.log("checked")
    for m in messages:
        print(f"perfbench: wrong answer: {m}", file=sys.stderr)

    if args.trace:
        values = {**res["layers"], "session.start_s": ctx.session_s,
                  "rss.jvm_mb": rss.mb("jvm"), "rss.workers_mb": rss.mb("workers"),
                  "rss.driver_mb": rss.mb("driver")}
        declared = bench["per_layer"]
    else:
        values = {**res["e2e"], "peak_rss_mb": rss.mb("total")}
        declared = bench["end_to_end"]
    # a layer this workload never calls reads 0
    metrics = {m["name"]: {"value": float(values.get(m["name"]) or 0.0),
                           "unit": m["unit"]} for m in declared}
    detail = {"workload": args.workload, "seed": args.seed, "cpus": cpus,
              "failed_frac": failed / max(attempted, 1),
              "rss_peak_mb": {k: round(rss.mb(k)) for k in rss.peak},
              **res["detail"]}
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
