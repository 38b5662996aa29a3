"""Spans around the engine's public calls, with exact Spark job attribution.

A span records name, start, end, parent and the op id it belongs to. Each
span runs under its own Spark job group, so the jobs, stages and tasks a
span launched are read back exactly from ``statusTracker`` and the status
store (both readable with the UI off). Spans live in memory; the caller
writes them out when the run ends.

With ``enabled=False`` every method is a no-op, so untraced runs pay
nothing but a context-manager call.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

STAGE_FIELDS = (
    "run_s", "cpu_s", "gc_s", "input_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes",
)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"id": len(self.spans), "name": name, "parent": parent, "op": op}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setJobGroup(f"perfbench-{rec['id']}", name)
        rec["start"] = time.perf_counter() - self._t0
        self.overhead_s += time.perf_counter() - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            t_out = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(f"perfbench-{self._stack[-1]}", self.spans[self._stack[-1]]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self._collect_jobs(rec["op"])
            self.overhead_s += time.perf_counter() - t_out

    def _collect_jobs(self, op: str | None) -> None:
        """Attach job/stage/task counts and stage metrics to every span of
        ``op``. Waits for the listener bus first: the status store is
        filled asynchronously after an action returns."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        for rec in self.spans:
            if rec["op"] != op or "jobs" in rec:
                continue
            stats = dict.fromkeys(STAGE_FIELDS, 0.0)
            stats.update(jobs=0, stages=0, tasks=0)
            for jid in tracker.getJobIdsForGroup(f"perfbench-{rec['id']}"):
                stats["jobs"] += 1
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    sd = store.lastStageAttempt(sid)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    stats["stages"] += 1
                    stats["tasks"] += sd.numTasks()
                    stats["run_s"] += sd.executorRunTime() / 1e3
                    stats["cpu_s"] += sd.executorCpuTime() / 1e9
                    stats["gc_s"] += sd.jvmGcTime() / 1e3
                    stats["input_bytes"] += sd.inputBytes()
                    stats["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    stats["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    stats["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            rec.update(stats)

    def cached_bytes(self) -> int:
        """Storage bytes (memory + disk) held by persisted RDDs right now."""
        if not self.enabled:
            return 0
        t = time.perf_counter()
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        n = sum(i.memSize() + i.diskSize() for i in infos)
        self.overhead_s += time.perf_counter() - t
        return n


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its child
    spans cover (children may overlap; the union is subtracted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, reach = 0.0, s["start"]
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, reach), min(b, s["end"])
            if b > a:
                covered += b - a
                reach = b
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def self_time_by_name(spans: list[dict]) -> dict[str, float]:
    """Self time summed per span name: where the traced run's time went."""
    own = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + own[s["id"]]
    return out
