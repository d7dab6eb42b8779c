"""Span recorder for the traced run.

Spans are kept in memory and written once, when the run ends. Each span
tags the Spark jobs started inside it with its own job group, so Spark's
job, stage and task counts can be read back per span from the status
tracker. A disabled recorder hands out one shared no-op context, so the
untraced run pays nothing but a method call.
"""

from __future__ import annotations

import contextlib
import json
import time

_NULL = contextlib.nullcontext()


class Spans:
    def __init__(self, sc=None):
        """sc: the SparkContext to tag jobs on; None disables tracing."""
        self.sc = sc
        self.enabled = sc is not None
        self.records: list[dict] = []
        self._stack: list[dict] = []

    def span(self, name: str, op: bool = False):
        """Context manager timing one call into a layer. op=True marks a
        workload operation, the unit the spark.* metrics are divided by."""
        if not self.enabled:
            return _NULL
        return self._span(name, op)

    @contextlib.contextmanager
    def _span(self, name: str, op: bool):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.records), "name": name, "op": op,
               "parent": parent["id"] if parent else None,
               "group": f"perfbench-{len(self.records)}"}
        self.records.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    # ------------------------------------------------------------ read-back

    def durations(self, name: str) -> list[float]:
        return [r["end"] - r["start"] for r in self.records
                if r["name"] == name and "end" in r]

    def self_times(self) -> dict[int, float]:
        """Span id -> its duration minus the time its child spans cover."""
        child: dict[int, float] = {}
        for r in self.records:
            if r["parent"] is not None:
                child[r["parent"]] = (child.get(r["parent"], 0.0)
                                      + r["end"] - r["start"])
        return {r["id"]: r["end"] - r["start"] - child.get(r["id"], 0.0)
                for r in self.records}

    def spark_counts(self) -> dict:
        """Jobs, stages and tasks launched under the op spans (and their
        descendants), from the status tracker."""
        tracker = self.sc.statusTracker()
        children: dict[int, list] = {}
        for r in self.records:
            if r["parent"] is not None:
                children.setdefault(r["parent"], []).append(r)
        ops = [r for r in self.records if r["op"]]
        jobs = stages = tasks = failed = 0
        for op in ops:
            todo = [op]
            while todo:
                r = todo.pop()
                todo.extend(children.get(r["id"], ()))
                for jid in tracker.getJobIdsForGroup(r["group"]):
                    jobs += 1
                    info = tracker.getJobInfo(jid)
                    for sid in (info.stageIds if info else ()):
                        stages += 1
                        st = tracker.getStageInfo(sid)
                        if st is not None:
                            tasks += st.numTasks
                            failed += st.numFailedTasks
        n = max(len(ops), 1)
        return {"ops": len(ops), "jobs_per_op": jobs / n,
                "stages_per_op": stages / n, "tasks_per_op": tasks / n,
                "failed_tasks": failed}

    def summary(self) -> list[tuple[str, int, float, float]]:
        """(name, calls, total s, self s) per span name, by self time."""
        selfs = self.self_times()
        agg: dict[str, list] = {}
        for r in self.records:
            a = agg.setdefault(r["name"], [0, 0.0, 0.0])
            a[0] += 1
            a[1] += r["end"] - r["start"]
            a[2] += selfs[r["id"]]
        return sorted(((k, v[0], v[1], v[2]) for k, v in agg.items()),
                      key=lambda t: -t[3])

    def write(self, path: str) -> None:
        selfs = self.self_times()
        t0 = min((r["start"] for r in self.records), default=0.0)
        out = [{"id": r["id"], "name": r["name"], "parent": r["parent"],
                "op": r["op"], "start_s": r["start"] - t0,
                "dur_s": r["end"] - r["start"], "self_s": selfs[r["id"]]}
               for r in self.records]
        with open(path, "w") as f:
            json.dump(out, f)
