"""Spans around the benchmark's calls into the engine, with Spark counts
taken at the same boundaries.

A span records its name, start, end, parent span and request id. When
tracing is on, each span runs its Spark jobs under a job group of its own;
at the span's end the listener bus is drained and the group's jobs, stages,
tasks, shuffle bytes and spill are read from the JVM status store over
py4j. Spans are kept in memory and written out by :meth:`Tracer.dump`.

With tracing off, :meth:`Tracer.span` only yields a record that collects
nothing, so the untraced run pays no bookkeeping.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

from stats import self_times

_GROUP = "spark.jobGroup.id"

#: executed-plan node patterns counted per planned DataFrame
PLAN_NODES = {
    "exchange": re.compile(r"\bExchange\b|\bBroadcastExchange\b"),
    "smj": re.compile(r"\bSortMergeJoin\b"),
    "bhj": re.compile(r"\bBroadcastHashJoin\b"),
    "in_memory_scan": re.compile(r"\bInMemoryTableScan\b"),
    "arrow_python": re.compile(r"\b(MapInArrow|MapInPandas|ArrowEvalPython|FlatMapGroupsInPandas|FlatMapGroupsInArrow)\b"),
}

COUNT_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "job_s",
    "input_records",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


def plan_counts(plan_text: str) -> dict[str, int]:
    return {k: len(p.findall(plan_text)) for k, p in PLAN_NODES.items()}


def jvm_gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


class Span:
    __slots__ = ("id", "name", "parent", "request", "start", "end", "group", "extra_groups", "counts", "plan")

    def __init__(self, sid: int, name: str, parent: int | None, request: str | None):
        self.id, self.name, self.parent, self.request = sid, name, parent, request
        self.start = self.end = 0.0
        self.group: str | None = None
        self.extra_groups: list[str] = []
        self.counts: dict[str, float] = {}
        self.plan: dict[str, int] = {}

    def add_group(self, group: str) -> None:
        """Count jobs run under another job group too (a streaming query
        runs its batches under its own run id)."""
        self.extra_groups.append(group)

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0  # time spent collecting counts
        self._spark = spark
        self._stack: list[Span] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, request: str | None = None):
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, parent.id if parent else None, request)
        if not self.enabled:
            yield s
            return
        sc = self._spark.sparkContext
        s.group = f"perfbench-{sid}"
        sc.setLocalProperty(_GROUP, s.group)
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            sc.setLocalProperty(_GROUP, parent.group if parent else None)
            self._collect(s)
            self.spans.append(s)

    def note_plan(self, span: Span, df) -> None:
        """Count executed-plan nodes of ``df`` (planning is forced, which
        the timed path does anyway)."""
        if self.enabled:
            span.plan = plan_counts(df._jdf.queryExecution().executedPlan().toString())

    def _collect(self, s: Span) -> None:
        t0 = time.perf_counter()
        sc = self._spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        c = dict.fromkeys(COUNT_KEYS, 0)
        for group in [s.group, *s.extra_groups]:
            for jid in tracker.getJobIdsForGroup(group):
                job = store.job(jid)
                c["jobs"] += 1
                if job.submissionTime().isDefined() and job.completionTime().isDefined():
                    c["job_s"] += (
                        job.completionTime().get().getTime() - job.submissionTime().get().getTime()
                    ) / 1000.0
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else []:
                    try:
                        st = store.lastStageAttempt(sid)
                    except Exception:  # noqa: BLE001 - stage pruned from the store
                        continue
                    if str(st.status()) == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += st.numTasks()
                    c["input_records"] += st.inputRecords()
                    c["shuffle_read_bytes"] += st.shuffleReadBytes()
                    c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        s.counts = c
        self.overhead_s += time.perf_counter() - t0

    # --- summaries --------------------------------------------------------

    def inclusive(self, s: Span, key: str) -> float:
        """A count over the span and all its descendants."""
        kids = [k for k in self.spans if k.parent == s.id]
        return s.counts.get(key, 0) + sum(self.inclusive(k, key) for k in kids)

    def self_time_by_name(self) -> dict[str, float]:
        st = self_times([{"id": s.id, "parent": s.parent, "start": s.start, "end": s.end} for s in self.spans])
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + st[s.id]
        return out

    def dump(self, path: str, extra: dict) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        rows = []
        for s in self.spans:
            d = s.as_dict()
            d["start"], d["end"] = d["start"] - t0, d["end"] - t0
            rows.append(d)
        with open(path, "w") as f:
            json.dump({**extra, "spans": rows}, f, indent=1)
