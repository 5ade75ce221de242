"""Span recorder for the traced run.

Every span runs its calls under its own Spark job group, so the jobs,
stages and tasks Spark ran for it can be read back from
``SparkContext.statusTracker()``. Spans stay in memory; their counts are
resolved once, at the end of the run (the status store is filled
asynchronously, so a count read right after an action can miss events),
and the whole trace is written to one JSON file.

With tracing off, :meth:`Tracer.span` only yields: no job groups are set
and nothing is recorded.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, functions as F


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.phase = "setup"  # copied into every span: setup|measure|staircase
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-{sid}",
            "phase": self.phase,
            **attrs,
        }
        self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def resolve_counts(self, settle_s: float = 0.5) -> None:
        """Attach jobs/stages/tasks/failed_tasks (the span's own jobs,
        not its children's) to every span."""
        time.sleep(settle_s)
        st = self.sc.statusTracker()
        for rec in self.spans:
            jobs = st.getJobIdsForGroup(rec["group"])
            stages = tasks = failed = 0
            for jid in jobs:
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else []:
                    s = st.getStageInfo(sid)
                    if s is None or s.numCompletedTasks + s.numFailedTasks == 0:
                        continue  # skipped stage: its shuffle output was reused
                    stages += 1
                    tasks += s.numCompletedTasks + s.numFailedTasks
                    failed += s.numFailedTasks
            rec.update(jobs=len(jobs), stages=stages, tasks=tasks, failed_tasks=failed)

    def totals(self, pred) -> dict:
        """Summed counts and durations of the spans matching ``pred``."""
        if any("jobs" not in r for r in self.spans):
            self.resolve_counts()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0, "s": 0.0, "n": 0}
        for rec in self.spans:
            if pred(rec):
                for k in ("jobs", "stages", "tasks", "failed_tasks"):
                    out[k] += rec.get(k, 0)
                out["s"] += rec["end"] - rec["start"]
                out["n"] += 1
        return out

    def write(self, path: str, extra: dict) -> None:
        t0 = min((r["start"] for r in self.spans), default=0.0)
        spans = [
            {k: v for k, v in r.items() if k not in ("start", "end")}
            | {"start_s": round(r["start"] - t0, 6), "end_s": round(r["end"] - t0, 6)}
            for r in sorted(self.spans, key=lambda r: r["start"])
        ]
        with open(path, "w") as f:
            json.dump({"spans": spans} | extra, f, indent=1)


def force(df: DataFrame) -> None:
    """Compute every column of ``df`` with a full-column hash aggregate
    (``.count()`` would let Catalyst prune projected columns)."""
    df.select(F.bit_xor(F.xxhash64(*df.columns))).collect()
