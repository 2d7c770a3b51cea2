"""Spans around the benchmark's calls into the engine.

A span records its name, call id, parent, start and end. When tracing
is on, every span runs under its own Spark job group, and at span end
the status tracker yields the jobs, stages, tasks and failed tasks the
span scheduled (its own group only; a parent's totals add its
children). Spans stay in memory until :meth:`Tracer.dump`.

With tracing off a span only measures wall time, so timed runs pay no
job-group or status-tracker calls.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

COUNTS = ("jobs", "stages", "tasks", "failed_tasks")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._stages_seen: set[int] = set()
        self.cycle = 0

    @contextmanager
    def span(self, name: str, call_id: int | None = None):
        """Time the block as span ``name``; spans opened inside are its children."""
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "call_id": call_id if call_id is not None else (parent or {}).get("call_id"),
            "parent": parent["id"] if parent else None,
            "cycle": self.cycle,
            "traced": self.enabled,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if self.enabled:
            self.sc.setJobGroup(f"perfbench-{rec['id']}", name)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                own = self._counts(f"perfbench-{rec['id']}")
                for c in COUNTS:
                    rec[c] = rec.get(c, 0) + own[c]
                if parent is not None:
                    for c in COUNTS:
                        parent[c] = parent.get(c, 0) + rec[c]
                    self.sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _counts(self, group: str) -> dict:
        # job/stage events reach the status store through the listener
        # bus asynchronously; drain it so the counts are complete
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        out = dict.fromkeys(COUNTS, 0)
        for jid in st.getJobIdsForGroup(group):
            out["jobs"] += 1
            job = st.getJobInfo(jid)
            for sid in job.stageIds if job else ():
                # a later job lists the shuffle stages it reuses (skipped)
                # under their original ids: count each stage once, for the
                # span whose job ran it
                if sid in self._stages_seen:
                    continue
                stage = st.getStageInfo(sid)
                if stage and stage.numCompletedTasks + stage.numFailedTasks:
                    self._stages_seen.add(sid)
                    out["stages"] += 1
                    out["tasks"] += stage.numCompletedTasks
                    out["failed_tasks"] += stage.numFailedTasks
        return out

    def seconds(self, name: str) -> float:
        """Median duration of the traced spans called ``name`` (0 if none ran)."""
        ds = [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["traced"]]
        return statistics.median(ds) if ds else 0.0

    def count(self, name: str, what: str) -> int:
        """Total ``what`` over the traced spans called ``name`` in the
        first cycle that has one: the counts of one fixed call sequence."""
        ss = [s for s in self.spans if s["name"] == name and s["traced"]]
        first = min((s["cycle"] for s in ss), default=None)
        return sum(s.get(what, 0) for s in ss if s["cycle"] == first)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)

    def table(self) -> str:
        """Per-span-name table: calls, median and self time, counts."""
        names = list(dict.fromkeys(s["name"] for s in self.spans if s["traced"]))
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        lines = [f"{'span':36} {'calls':>5} {'p50_s':>8} {'self_s':>8} " + " ".join(f"{c:>12}" for c in COUNTS)]
        for n in names:
            ss = [s for s in self.spans if s["name"] == n and s["traced"]]
            self_s = statistics.median(s["end"] - s["start"] - child_time.get(s["id"], 0.0) for s in ss)
            lines.append(
                f"{n:36} {len(ss):5d} {self.seconds(n):8.3f} {self_s:8.3f} "
                + " ".join(f"{sum(s.get(c, 0) for s in ss):12d}" for c in COUNTS)
            )
        return "\n".join(lines)
