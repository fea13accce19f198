"""Spans around the benchmark's calls into the engine, joined after the
run with the Spark status store.

A span records name, start, end, parent and request id. Spans are kept in
memory; nothing is read from Spark while the workload runs. At the end,
:meth:`Tracer.attach_spark_jobs` reads every job and stage once from the
JVM status store (available with the UI disabled) and gives each job to
the innermost span open when it was submitted. From that each span gets
its jobs, job time (the union of its jobs' intervals), driver gap (wall
minus job time), shuffle bytes, spill bytes and executor run time.

The same span timings drive the untraced run. The traced run adds the
status-store read and the per-span arithmetic, measured as
``overhead_s``, and asks graph_search for its ``with_stats`` columns,
which the kernel counts in either run and which add four integer
columns to the result; those are not in ``overhead_s``.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Span:
    __slots__ = (
        "sid", "name", "parent", "req", "t0", "t1", "e0", "e1",
        "children", "jobs", "stats",
    )

    def __init__(self, sid, name, parent, req):
        self.sid, self.name, self.parent, self.req = sid, name, parent, req
        self.t0 = time.perf_counter()
        self.e0 = time.time()
        self.t1 = self.e1 = None
        self.children: list[Span] = []
        self.jobs: list[dict] = []
        self.stats: dict = {}

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        return self.dur - sum(c.dur for c in self.children)

    def subtree_jobs(self) -> list[dict]:
        out = list(self.jobs)
        for c in self.children:
            out.extend(c.subtree_jobs())
        return out


def _union_s(intervals) -> float:
    """Total length of the union of (start, end) intervals, in seconds."""
    total, cur = 0.0, None
    for s, e in sorted(intervals):
        if cur is None or s > cur[1]:
            if cur is not None:
                total += cur[1] - cur[0]
            cur = [s, e]
        else:
            cur[1] = max(cur[1], e)
    if cur is not None:
        total += cur[1] - cur[0]
    return total


class Tracer:
    """Nested spans on one thread, rooted at a ``run`` span."""

    def __init__(self):
        self._n = 0
        self.root = self._new("run", None, None)
        self._stack = [self.root]
        self.overhead_s = 0.0

    def _new(self, name, parent, req) -> Span:
        self._n += 1
        return Span(self._n, name, parent, req)

    @contextmanager
    def span(self, name: str, req: int | None = None):
        parent = self._stack[-1]
        s = self._new(name, parent.sid, req if req is not None else parent.req)
        parent.children.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            s.e1 = time.time()
            self._stack.pop()

    def close(self) -> None:
        self.root.t1 = time.perf_counter()
        self.root.e1 = time.time()

    def spans(self) -> list[Span]:
        out, todo = [], [self.root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(reversed(s.children))
        return out

    def named(self, name: str, after: int = 0) -> list[Span]:
        """Spans called ``name`` opened after the span with id ``after``
        (:attr:`last_id` read at that point)."""
        return [s for s in self.spans() if s.name == name and s.sid > after]

    @property
    def last_id(self) -> int:
        return self._n

    # -- Spark status store -------------------------------------------

    def attach_spark_jobs(self, spark) -> None:
        """Read every job and stage from the status store and give each
        job to the innermost span open at its submission."""
        t = time.perf_counter()
        jobs = read_status_store(spark)
        spans = [s for s in self.spans() if s.t1 is not None]
        for j in jobs:
            owner = None
            for s in spans:
                # submission times are whole milliseconds
                if s.e0 - 1e-3 <= j["submit"] <= s.e1 and (
                    owner is None or s.e0 >= owner.e0
                ):
                    owner = s
            if owner is not None:  # jobs of earlier runs in the session
                owner.jobs.append(j)
        for s in spans:
            sub = s.subtree_jobs()
            job_s = _union_s(
                (max(j["submit"], s.e0), max(min(j["end"], s.e1), s.e0))
                for j in sub
            )
            s.stats = {
                "jobs": len(sub),
                "job_s": job_s,
                "gap_s": max(0.0, s.dur - job_s),
                "shuffle_bytes": sum(j["shuffle_bytes"] for j in sub),
                "spill_bytes": sum(j["spill_bytes"] for j in sub),
                "executor_run_s": sum(j["executor_run_s"] for j in sub),
            }
        self.overhead_s += time.perf_counter() - t

    def dump(self, path: str) -> None:
        rows = [
            {
                "id": s.sid, "name": s.name, "parent": s.parent,
                "req": s.req, "start": s.e0, "end": s.e1,
                "dur_s": s.dur, "self_s": s.self_s, **s.stats,
                "job_ids": [j["id"] for j in s.jobs],
            }
            for s in self.spans()
        ]
        with open(path, "w") as f:
            json.dump(rows, f)


def read_status_store(spark) -> list[dict]:
    """Every completed job with its interval (epoch seconds) and its
    stages' shuffle read+write, spill and executor run time."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    stages: dict[int, dict] = {}
    # stageList(statuses, details, withSummaries, quantiles, taskStatus)
    it = store.stageList(
        None, False, False, sc._gateway.new_array(sc._jvm.double, 0),
        sc._jvm.java.util.Collections.emptyList(),
    ).iterator()
    while it.hasNext():
        st = it.next()
        acc = stages.setdefault(
            st.stageId(), {"shuffle": 0, "spill": 0, "run_ms": 0}
        )
        acc["shuffle"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
        acc["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        acc["run_ms"] += st.executorRunTime()
    jobs = []
    it = store.jobsList(None).iterator()
    while it.hasNext():
        jobs.append(it.next())
    out, seen = [], set()
    # a stage reused by a later job counts once, for the first job
    for j in sorted(jobs, key=lambda j: j.jobId()):
        sub, done = j.submissionTime(), j.completionTime()
        if not (sub.isDefined() and done.isDefined()):
            continue
        ids = j.stageIds()
        own = {ids.apply(i) for i in range(ids.size())} - seen
        seen |= own
        sts = [stages.get(i, {}) for i in own]
        out.append({
            "id": j.jobId(),
            "submit": sub.get().getTime() / 1000.0,
            "end": done.get().getTime() / 1000.0,
            "shuffle_bytes": sum(s.get("shuffle", 0) for s in sts),
            "spill_bytes": sum(s.get("spill", 0) for s in sts),
            "executor_run_s": sum(s.get("run_ms", 0) for s in sts) / 1000.0,
        })
    return out
