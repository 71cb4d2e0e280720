"""Spans around the benchmark's calls into each engine layer, with the Spark
work each span caused read back from Spark's in-process status store.

Nothing here runs inside the engine: a span is opened by the benchmark
around a public call (``QuerySpec.build``, ``VersionedTable.merge``, ...).
While a span is open its Spark jobs carry a job group of their own, so after
the span closes the listener bus is drained and the group's jobs, their
stages and each stage's last attempt are read from
``sc._jsc.sc().statusStore()`` — this works with the UI off, takes no REST
call and no sleep. Spans stay in memory; ``write`` dumps them at the end.

With ``enabled=False`` a span only yields: the untraced run sets no job
groups and reads no status.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

#: Per-stage counters summed into each span (status-store StageData fields).
STAGE_FIELDS = (
    "tasks",
    "run_s",
    "cpu_s",
    "gc_s",
    "input_mb",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
)

_MB = 1024.0 * 1024.0


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0
        self._next_trace = 0
        #: traces numbered above this belong to the timed operations
        self.timed_after = 0

    def new_trace(self) -> int:
        """A trace id: one per query execution or ingest cycle."""
        self._next_trace += 1
        return self._next_trace

    @contextmanager
    def span(self, name: str, trace: int | None = None, groups: list[str] | None = None):
        """Time ``name``; when enabled, attribute the Spark jobs started
        inside it (plus the jobs of any extra ``groups``, e.g. a streaming
        query's run id, which Spark sets as the stream's own job group)."""
        if not self.enabled:
            yield None
            return
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": self._next_id,
            "parent": parent["id"] if parent else None,
            "trace": trace if trace is not None else (parent["trace"] if parent else 0),
            "name": name,
            "group": f"perfbench-{self._next_id}",
            "groups": groups if groups is not None else [],
        }
        sc = self.spark.sparkContext
        sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc._jsc.clearJobGroup()
            self._resolve(rec)
            self.spans.append(rec)

    def start_timing(self) -> None:
        self.timed_after = self._next_trace

    def timed_spans(self) -> list[dict]:
        return [s for s in self.spans if s["trace"] > self.timed_after]

    def add(self, name: str, start: float, end: float) -> None:
        """A span timed by the caller, for work before a session exists."""
        if self.enabled:
            self._next_id += 1
            self.spans.append(
                {"id": self._next_id, "parent": None, "trace": 0, "name": name,
                 "start": start, "end": end}
            )

    def _resolve(self, rec: dict) -> None:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        jobs: set[int] = set()
        for g in [rec["group"], *rec["groups"]]:
            jobs.update(tracker.getJobIdsForGroup(g))
        stages: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tot = dict.fromkeys(STAGE_FIELDS, 0.0)
        ran = 0
        for s in stages:
            try:
                st = store.lastStageAttempt(s)
            except Exception:  # noqa: BLE001 - py4j NoSuchElementException: never submitted
                continue
            if str(st.status()) == "SKIPPED":
                continue
            ran += 1
            tot["tasks"] += st.numTasks()
            tot["run_s"] += st.executorRunTime() / 1e3
            tot["cpu_s"] += st.executorCpuTime() / 1e9
            tot["gc_s"] += st.jvmGcTime() / 1e3
            tot["input_mb"] += st.inputBytes() / _MB
            tot["shuffle_read_mb"] += st.shuffleReadBytes() / _MB
            tot["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
            tot["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / _MB
        rec["jobs"] = len(jobs)
        rec["stages"] = ran
        rec.update(tot)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=None, separators=(",", ":"))


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part its children cover."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_end = 0.0, float("-inf")
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cur_end, s["start"]), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
            cur_end = max(cur_end, c["end"])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def layer_table(spans: list[dict]) -> dict[str, dict]:
    """Per span name: calls, wall, self time and the Spark counters of the
    jobs started directly inside spans of that name."""
    selfs = self_times(spans)
    table: dict[str, dict] = {}
    for s in spans:
        row = table.setdefault(
            s["name"],
            {"calls": 0, "wall_s": 0.0, "self_s": 0.0, "jobs": 0, "stages": 0,
             **dict.fromkeys(STAGE_FIELDS, 0.0)},
        )
        row["calls"] += 1
        row["wall_s"] += s["end"] - s["start"]
        row["self_s"] += selfs[s["id"]]
        for k in ("jobs", "stages", *STAGE_FIELDS):
            row[k] += s.get(k, 0)
    return table
