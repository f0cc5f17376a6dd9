"""Shared run machinery: the Spark session's life, the /proc memory
sampler, disk accounting, statistics and the oracle subprocess."""

from __future__ import annotations

import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time

_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress on stderr, stamped with seconds since start."""
    print(f"perfbench [{time.perf_counter() - _T0:7.1f}s] {msg}",
          file=sys.stderr, flush=True)


# ------------------------------------------------------------ statistics

def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


def percentile(xs, p: float) -> float:
    """Nearest-rank percentile (p in (0, 100])."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = max(0, min(len(xs) - 1, -(-len(xs) * p // 100) - 1))
    return float(xs[int(k)])


def tail_percentile(n: int) -> int:
    """Highest of p90/p80/p75/p50 with at least ten samples beyond it."""
    for p in (90, 80, 75):
        if n * (100 - p) / 100 >= 10:
            return p
    return 50


# ------------------------------------------------------------------ disk

def file_sizes(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) for every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def bytes_written(before: dict, after: dict) -> int:
    """Bytes of files that are new or rewritten between two snapshots."""
    return sum(s for p, (s, m) in after.items() if before.get(p) != (s, m))


def dir_bytes(root: str) -> tuple[int, int]:
    sizes = file_sizes(root)
    return sum(s for s, _ in sizes.values()), len(sizes)


# ---------------------------------------------------------------- memory

def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return out


def process_tree(root_pid: int) -> list[int]:
    seen, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared between processes (the
    forked Python workers share most of theirs) count once in a sum."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except FileNotFoundError:
        return ""


RSS_INTERVAL_S = 0.1


class RssSampler:
    """Samples the summed resident memory (PSS) of this process and its
    descendants from /proc every ``RSS_INTERVAL_S`` seconds on a
    background thread. Each process is classed as the driver (this process), the JVM (a
    ``java`` process) or a Python worker (anything else below the JVM);
    the peak of the sum and the peak of each class are kept."""

    def __init__(self):
        self.peak = {"total": 0, "driver": 0, "jvm": 0, "workers": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        cur = {"driver": 0, "jvm": 0, "workers": 0}
        for pid in process_tree(me):
            kb = _pss_kb(pid)
            if pid == me:
                cur["driver"] += kb
            elif _comm(pid) == "java":
                cur["jvm"] += kb
            else:
                cur["workers"] += kb
        cur["total"] = sum(cur.values())
        for k, v in cur.items():
            self.peak[k] = max(self.peak[k], v)

    def _loop(self) -> None:
        while not self._stop.wait(RSS_INTERVAL_S):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    def mb(self, key: str) -> float:
        return self.peak[key] / 1024.0


# --------------------------------------------------------------- session

DRIVER_MEM = "2g"

def start_session(app: str, cpus: int, tmp: str):
    """The program's own session factory at ``local[cpus]``, with the
    JVM's scratch space kept inside the run's temp dir. The driver heap
    is capped (``BRIGHT_SPARK_DRIVER_MEM``, default 24g): with the
    default the collector grew the JVM lazily towards the host's whole
    memory, and its peak varied widely from run to run."""
    os.environ["BRIGHT_SPARK_DRIVER_MEM"] = DRIVER_MEM
    from bright_spark.session import get_spark
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return get_spark(app, master=f"local[{cpus}]", shuffle_partitions=cpus,
                     extra_conf={"spark.local.dir": tmp,
                                 "spark.driver.extraJavaOptions": java_opts,
                                 "spark.ui.showConsoleProgress": "false"})


def stop_session(spark) -> None:
    """Stop the SparkContext, then the JVM it was launched in, and wait
    until every process that was below this one has exited; one still
    running 10 s later gets SIGTERM, then SIGKILL."""
    from pyspark import SparkContext
    spark.stop()
    # Python workers hang below the JVM and are re-parented when it
    # exits: remember them all before shutting it down
    started = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    for sig, grace in ((None, 10), (signal.SIGTERM, 5), (signal.SIGKILL, 5)):
        left = [p for p in started if _alive(p)]
        if not left:
            return
        if sig is not None:
            log(f"sending {sig.name} to {[(p, _cmdline(p)) for p in left]}")
            for p in left:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + grace
        while any(_alive(p) for p in left) and time.monotonic() < deadline:
            time.sleep(0.1)


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode()[:120]
    except FileNotFoundError:
        return ""


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return False


# ---------------------------------------------------------------- oracle

ORACLE_SOURCES = ("tests/oracle.py", "bright_spark/analysis/tokenizer.py",
                  "bright_spark/query/parser.py", "bright_spark/index/hashing.py")


def oracle_hash(root: str) -> str:
    h = hashlib.sha256()
    for rel in ORACLE_SOURCES:
        with open(os.path.join(root, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def oracle_answers(root: str, cache_path: str, corpus: str,
                   requests: list[tuple[str, int, int]], tmp: str,
                   partitions: int, id_col: str | None = None,
                   lang_col: str | None = None) -> dict:
    """Oracle answers for ``requests``, computed in a child process for
    those not already in ``cache_path``."""
    req_file = os.path.join(tmp, "oracle_requests.json")
    with open(req_file, "w") as f:
        json.dump([list(r) for r in requests], f)
    cmd = [sys.executable, os.path.join(os.path.dirname(__file__),
                                        "oracle_answers.py"),
           "--root", root, "--corpus", corpus, "--requests", req_file,
           "--cache", cache_path, "--partitions", str(partitions)]
    if id_col:
        cmd += ["--id-col", id_col]
    if lang_col:
        cmd += ["--lang-col", lang_col]
    subprocess.run(cmd, check=True, timeout=150)
    with open(cache_path) as f:
        return json.load(f)


def compare_answer(got_ids: list[int], got_scores: list[float], got_total: int,
                   want: dict) -> str | None:
    """None when rank-identical with scores within 1e-6 and the exact
    total; otherwise a short description of the mismatch."""
    if got_total != want["total"]:
        return f"totalHits {got_total} != {want['total']}"
    if got_ids != want["ids"]:
        return f"ids {got_ids[:5]}... != {want['ids'][:5]}..."
    for a, b in zip(got_scores, want["scores"]):
        if abs(a - b) > 1e-6:
            return f"score {a} != {b}"
    return None
