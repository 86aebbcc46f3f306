"""Spans and per-op Spark counters for the benchmark's traced run.

Two recorders, both owned by the run that creates them:

* :class:`Spans` keeps (name, start, end, parent, op) records in memory
  and computes each layer's self time: a span's duration minus the part
  of it that its child spans cover. Spans are recorded from the
  benchmark's own files, around calls into the package (including the
  wrappers :func:`wrap` installs on package functions for a traced run).
* :class:`JobLedger` runs every timed op under its own Spark job group
  and, in a traced run, reads the op's jobs, stages and tasks right
  after the op, before the status store evicts them (it keeps 1000 jobs
  and stages). Jobs are found per group, never by the length of the
  retained job list. Stage metrics come from the application status
  store, a private accessor pinned by ``perfbench/tests/test_accessors.py``.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager

from pyspark.sql import SparkSession


class Spans:
    """In-memory span recorder; a no-op when ``enabled`` is false."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.records: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.records),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter(),
            "end": None,
        }
        self.records.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_seconds(self, keep) -> dict[str, float]:
        """Total self time per span name over the spans whose op
        satisfies ``keep``. Children of one span run one after another,
        so their durations add without overlap; a child has its
        parent's op."""
        child_s = [0.0] * len(self.records)
        for r in self.records:
            if r["parent"] is not None:
                child_s[r["parent"]] += r["end"] - r["start"]
        out: dict[str, float] = {}
        for r, c in zip(self.records, child_s):
            if keep(r["op"]):
                out[r["name"]] = out.get(r["name"], 0.0) + (r["end"] - r["start"] - c)
        return out


def wrap(spans: Spans, owner, attr: str, name: str) -> None:
    """Replace ``owner.attr`` with a wrapper that records a span named
    ``name`` around each call. Used for traced runs only."""
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with spans.span(name):
            return fn(*args, **kwargs)

    setattr(owner, attr, traced)


#: Per-op counters summed over an op's stages. Stages the scheduler
#: skipped (their shuffle output already existed) are not counted.
COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s", "stage_wall_s",
    "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


class JobLedger:
    """Job-group bookkeeping for timed ops."""

    def __init__(self, spark: SparkSession, read_counters: bool):
        self.sc = spark.sparkContext
        self.read_counters = read_counters
        self._tracker = self.sc.statusTracker()
        self._store = self.sc._jsc.sc().statusStore() if read_counters else None
        self.per_op: list[dict] = []

    @contextmanager
    def group(self, group_id: str):
        """Run the block under job group ``group_id``; in a traced run,
        append the group's counters to ``per_op`` afterwards."""
        self.sc.setJobGroup(group_id, group_id)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            if self.read_counters:
                self.per_op.append({"group": group_id, **self.counters(group_id)})

    def counters(self, group_id: str) -> dict:
        out = dict.fromkeys(COUNTERS, 0)
        job_ids = self._tracker.getJobIdsForGroup(group_id)
        out["jobs"] = len(job_ids)
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = self._tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        intervals = []
        for sid in sorted(stage_ids):
            sd = self._store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1000.0
            out["input_bytes"] += sd.inputBytes()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.diskBytesSpilled()
            sub, done = sd.submissionTime(), sd.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
        out["stage_wall_s"] = _union_ms(intervals) / 1000.0
        return out


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    """Length of the union of [start, end] millisecond intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
