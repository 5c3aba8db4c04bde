"""Tracing for the benchmark's traced runs (``--trace 1``).

Spans are recorded by the benchmark around its calls into the engine's
public functions, never inside the engine.  Each span has a name, a
start and end (``time.perf_counter`` seconds since the run began), the
index of its parent span and the operation id it belongs to.  Spans stay
in memory and are written out once, when the run ends.

Spark work is attributed per span through ``setJobGroup``: every span
opened with ``jobs=True`` gets its own job group, and after the
operation the status tracker reports the jobs, stages and tasks the
group ran.  The untraced run (``Tracer(enabled=False)``) records
nothing and never touches job groups.
"""

from __future__ import annotations

import contextlib
import json
import os
import time


class Tracer:
    def __init__(self, spark, enabled: bool, t0: float):
        self.spark = spark
        self.enabled = enabled
        self.t0 = t0
        self.spans: list[dict] = []
        self.op: int | None = None
        self._stack: list[int] = []
        #: seconds the tracer itself spent inside operation spans
        self.overhead_s: dict[int, float] = {}

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = False):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": 0.0,
            "end": 0.0,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
        }
        if jobs:
            rec["job_group"] = f"op{self.op}:{name}:{idx}"
            self.spark.sparkContext.setJobGroup(rec["job_group"], name)
        self.spans.append(rec)
        self._stack.append(idx)
        self._charge(time.perf_counter() - t_in)
        rec["start"] = time.perf_counter() - self.t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            t_out = time.perf_counter()
            self._stack.pop()
            if jobs:
                self.spark.sparkContext.setJobGroup("bench", "bench bookkeeping")
            self._charge(time.perf_counter() - t_out)

    @contextlib.contextmanager
    def bookkeeping(self):
        """Tracer work done inside an operation span (directory
        listings): charged to the tracing overhead."""
        t_in = time.perf_counter()
        try:
            yield
        finally:
            self._charge(time.perf_counter() - t_in)

    def _charge(self, dt: float) -> None:
        if self.op is not None:
            self.overhead_s[self.op] = self.overhead_s.get(self.op, 0.0) + dt

    def collect_jobs(self, op: int) -> None:
        """Fill ``jobs``/``stages``/``tasks``/``failed_tasks`` on every
        job-grouped span of operation ``op`` from the status tracker."""
        tracker = self.spark.sparkContext.statusTracker()
        for rec in self.spans:
            if rec["op"] != op or "job_group" not in rec:
                continue
            jobs = tracker.getJobIdsForGroup(rec["job_group"])
            stages = tasks = failed = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                        continue  # skipped stage (its shuffle output was reused)
                    stages += 1
                    tasks += st.numCompletedTasks + st.numFailedTasks
                    failed += st.numFailedTasks
            rec.update(jobs=len(jobs), stages=stages, tasks=tasks, failed_tasks=failed)

    def op_spans(self, op: int) -> list[dict]:
        return [s for s in self.spans if s["op"] == op]

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part its direct children cover."""
        idx = self.spans.index(rec)
        kids = sorted(
            (s["start"], s["end"]) for s in self.spans if s["parent"] == idx
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (rec["end"] - rec["start"]) - covered

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def listing(path: str) -> dict[str, int]:
    """Data files under a table directory: relative path → bytes."""
    out: dict[str, int] = {}
    if not os.path.isdir(path):
        return out
    for root, _, files in os.walk(path):
        for name in files:
            if name.endswith(".parquet"):
                full = os.path.join(root, name)
                out[os.path.relpath(full, path)] = os.path.getsize(full)
    return out


def rewrite_stats(before: dict[str, int], after: dict[str, int]) -> tuple[int, int]:
    """(partitions rewritten, bytes written) between two listings.  A
    partition is the first path component (``col=value``) of a
    partitioned table, or the whole table otherwise; it counts as
    rewritten when its set of files changed."""

    def parts(listing_: dict[str, int]) -> dict[str, set[str]]:
        out: dict[str, set[str]] = {}
        for rel in listing_:
            head = rel.split(os.sep, 1)[0] if os.sep in rel else ""
            out.setdefault(head, set()).add(rel)
        return out

    pb, pa = parts(before), parts(after)
    rewritten = sum(1 for k, files in pa.items() if pb.get(k) != files)
    new_bytes = sum(size for rel, size in after.items() if rel not in before)
    return rewritten, new_bytes
