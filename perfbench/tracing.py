"""Spans around the program's public calls, timed from outside.

A span records name, start, end, parent span and request id. Every span
runs its calls under a Spark job group of its own, so the jobs, stages
and tasks each span caused come from ``SparkContext.statusTracker()``
(the UI, and with it the status REST API, is disabled). Counts are
resolved by :meth:`Tracer.resolve` between requests, never inside a
timed span. Spans stay in memory and are written out by :meth:`dump`.

Wrapping is opt-in: :meth:`Tracer.wrap` replaces a function or method
on its owner and :meth:`Tracer.unwrap_all` puts every original back.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from collections import defaultdict

_GROUP = "spark.jobGroup.id"
# how long resolve() waits for the listener to mark a job finished
RESOLVE_TIMEOUT_S = 2.0


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.request_id: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        self._unresolved: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []

    # ---------------------------------------------------------- spans

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        rec = {"id": sid, "parent": stack[-1]["id"] if stack else None,
               "request": self.request_id, "name": name,
               "group": f"perfbench-{sid}"}
        prev_group = self.sc.getLocalProperty(_GROUP)
        self.sc.setJobGroup(rec["group"], name, False)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(_GROUP, prev_group)
            with self._lock:
                self.spans.append(rec)
                self._unresolved.append(rec)

    def resolve(self) -> None:
        """Attach Spark job/stage/task counts to every finished span
        whose counts are still missing. Waits (up to
        ``RESOLVE_TIMEOUT_S``) for the asynchronous listener to mark
        each job finished."""
        with self._lock:
            todo, self._unresolved = self._unresolved, []
        st = self.sc.statusTracker()
        for rec in todo:
            jobs = st.getJobIdsForGroup(rec["group"])
            deadline = time.monotonic() + RESOLVE_TIMEOUT_S
            infos = []
            for j in jobs:
                info = st.getJobInfo(j)
                while (info is not None and info.status == "RUNNING"
                       and time.monotonic() < deadline):
                    time.sleep(0.01)
                    info = st.getJobInfo(j)
                if info is not None:
                    infos.append(info)
            stages = tasks = failed = 0
            for info in infos:
                for sid in info.stageIds:
                    si = st.getStageInfo(sid)
                    if si is None:
                        continue
                    if si.numCompletedTasks + si.numFailedTasks:
                        stages += 1
                    tasks += si.numCompletedTasks
                    failed += si.numFailedTasks
            rec.update(jobs=len(jobs), stages=stages, tasks=tasks,
                       failed_tasks=failed)

    # ------------------------------------------------------- wrapping

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Run ``owner.attr`` inside a span named ``name``; ``after``
        (span, args, result) may add attributes to the span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                out = orig(*args, **kwargs)
                if after is not None:
                    after(rec, args, out)
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # ------------------------------------------------------- queries

    def named(self, name: str, since: float = 0.0) -> list[dict]:
        return [s for s in self.spans
                if s["name"] == name and s["start"] >= since]

    def totals(self, rec: dict) -> dict:
        """Spark counts of ``rec`` plus all of its descendants."""
        kids = defaultdict(list)
        for s in self.spans:
            kids[s["parent"]].append(s)
        out = defaultdict(int)
        todo = [rec]
        while todo:
            s = todo.pop()
            for k in ("jobs", "stages", "tasks", "failed_tasks"):
                out[k] += s.get(k, 0)
            todo.extend(kids[s["id"]])
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({k: v for k, v in s.items()
                                    if isinstance(v, (int, float, str, type(None)))})
                        + "\n")


def ms(rec: dict) -> float:
    return (rec["end"] - rec["start"]) * 1000.0
