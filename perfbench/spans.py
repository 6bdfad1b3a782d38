"""Spans around calls into the engine, with Spark stage totals per span.

A span records name, start, end, parent and run id. Spans stay in
memory until `Tracer.dump` writes them as one JSON file. Each span runs
its Spark jobs under its own job group, so the stages it caused can be
read back from the status store when it closes: task time, shuffle
bytes, disk spill, GC time and task-time skew.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

STAGE_KEYS = ("task_s", "shuffle_mb", "spill_mb", "gc_s", "task_skew")


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        rec = {
            "id": len(self.spans), "name": name, "run_id": self.run_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
        }
        group = "%s/%d" % (self.run_id, rec["id"])
        self.spans.append(rec)
        self._stack.append(rec)
        sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                outer = self._stack[-1]
                sc.setJobGroup("%s/%d" % (self.run_id, outer["id"]), outer["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            rec["stages"] = stage_totals(self.spark, group)

    def wall(self, name: str) -> float:
        """Summed duration of every span called `name`."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def stages(self, name: str) -> dict[str, float]:
        """Stage totals of the last span called `name` and its children."""
        last = [s for s in self.spans if s["name"] == name][-1]
        ids, total = {last["id"]}, dict.fromkeys(STAGE_KEYS, 0.0)
        for s in self.spans[last["id"]:]:
            if s["id"] in ids or s["parent"] in ids:
                ids.add(s["id"])
                for k in ("task_s", "shuffle_mb", "spill_mb", "gc_s"):
                    total[k] += s["stages"][k]
                total["task_skew"] = max(total["task_skew"], s["stages"]["task_skew"])
        return total

    def dump(self, path: str, extra: dict) -> None:
        """Write the spans, with self time (duration minus the part of
        it that child spans cover), and `extra` as JSON."""
        out = []
        for s in self.spans:
            kids = sorted(
                (c["start"], c["end"]) for c in self.spans if c["parent"] == s["id"]
            )
            covered, reach = 0.0, s["start"]
            for a, b in kids:
                a = max(a, reach)
                if b > a:
                    covered += b - a
                    reach = b
            out.append({**s, "dur_s": s["end"] - s["start"],
                        "self_s": s["end"] - s["start"] - covered})
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, **extra, "spans": out}, f, indent=1)


def stage_totals(spark, group: str) -> dict[str, float]:
    """Sum the metrics of every stage the group's jobs ran. task_skew is
    max task time over median task time in the group's busiest stage."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(10_000)
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    out = dict.fromkeys(STAGE_KEYS, 0.0)
    busiest = (-1.0, None)
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        for sid in info.stageIds if info else ():
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # skipped stage: its shuffle output was reused
                continue
            run_s = st.executorRunTime() / 1000.0
            out["task_s"] += run_s
            out["gc_s"] += st.jvmGcTime() / 1000.0
            out["shuffle_mb"] += (st.shuffleReadBytes() + st.shuffleWriteBytes()) / 2**20
            out["spill_mb"] += st.diskBytesSpilled() / 2**20
            if run_s > busiest[0]:
                busiest = (run_s, (sid, st.attemptId()))
    if busiest[1] is not None:
        out["task_skew"] = _skew(spark, *busiest[1])
    return out


def _skew(spark, stage_id: int, attempt: int) -> float:
    gw = spark.sparkContext._gateway
    qs = gw.new_array(gw.jvm.double, 2)
    qs[0], qs[1] = 0.5, 1.0
    summary = spark.sparkContext._jsc.sc().statusStore().taskSummary(stage_id, attempt, qs)
    if not summary.isDefined():
        return 0.0
    run = summary.get().executorRunTime()
    med, top = run.apply(0), run.apply(1)
    return top / med if med > 0 else 0.0
