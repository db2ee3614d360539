"""Spans around the benchmark's calls into the engine, plus the Spark
counters each span caused.

A span is opened by the benchmark around one public call (``build_graph``,
``pagerank``, ...). While it is open, every Spark job the call starts is
tagged with the span's job group, so after the run the jobs, stages and SQL
executions in Spark's status stores can be attributed to the span. Spans
stay in memory until the run ends. The engine itself is not instrumented.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field
from typing import Any, Iterator

# SQL metrics of the ArrowEvalPython node (pandas UDFs) -> counter name
_UDF_METRICS = {
    "number of output rows": "udf_rows",
    "time to run Python workers": "udf_python_s",
    "data sent to Python workers": "udf_bytes_in",
}
_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
          "TiB": 2.0 ** 40, "PiB": 2.0 ** 50, "EiB": 2.0 ** 60}
COUNTERS = ("jobs", "stages", "task_s", "shuffle_mb", "spill_mb", "gc_s",
            "udf_rows", "udf_python_s", "udf_bytes_in")


def parse_sql_metric(text: str) -> float:
    """Value of one SQL metric as the SQL status store formats it: a count
    (``'1,846'``), a timing in seconds (``'123 ms'``, ``'1.9 s'``) or a size
    in bytes (``'255.0 KiB'``). Multi-line values (``'total (min, med,
    max ...)\\n1.9 s (...)'``) report the total first on the last line."""
    head = text.strip().split("\n")[-1].split(" (")[0].split()
    value = float(head[0].replace(",", ""))
    return value * _UNITS[head[1]] if len(head) > 1 else value


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0.0))

    @property
    def dur_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` does nothing, so
    untraced runs pay neither the job-group calls nor the store reads."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self.tag_s = 0.0  # time spent tagging jobs, the tracing cost inside spans

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        parent = self._open[-1] if self._open else None
        s = Span(len(self.spans), name, parent.id if parent else None, time.monotonic())
        self.spans.append(s)
        self._open.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s.end = time.monotonic()
            self._open.pop()
            self._tag(self._open[-1] if self._open else None)

    def record(self, name: str, start: float, end: float) -> None:
        """A span timed before the tracer existed (the session start)."""
        if self.enabled:
            self.spans.append(Span(len(self.spans), name, None, start, end))

    def _tag(self, s: Span | None) -> None:
        t0 = time.monotonic()
        jsc = self.spark.sparkContext._jsc
        if s is None:
            jsc.clearJobGroup()
        else:
            jsc.setJobGroup(f"perfbench-{s.id}", s.name, False)
        self.tag_s += time.monotonic() - t0

    # -- attribution ------------------------------------------------------

    def collect(self) -> None:
        """Attribute every job, stage and SQL execution tagged by a span to
        that span. Call once, after the last span has closed."""
        if not self.spans:
            return
        sc = self.spark.sparkContext
        jvm = sc._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        ssc = sc._jsc.sc()
        ssc.listenerBus().waitUntilEmpty()  # the stores are fed asynchronously
        store = ssc.statusStore()
        by_group = {f"perfbench-{s.id}": s for s in self.spans}

        tagged = []
        for job in conv.asJava(store.jobsList(jvm.java.util.ArrayList())):
            group = job.jobGroup()
            if group.isDefined() and group.get() in by_group:
                tagged.append((job.jobId(), by_group[group.get()],
                               list(conv.asJava(job.stageIds()))))
        job_span: dict[int, Span] = {}
        stage_span: dict[int, Span] = {}
        # a stage reused by a later job is listed (skipped) there too: it
        # belongs to the first job that lists it
        for job_id, s, stage_ids in sorted(tagged, key=lambda t: t[0]):
            job_span[job_id] = s
            s.counters["jobs"] += 1
            for sid in stage_ids:
                stage_span.setdefault(sid, s)

        stages = store.stageList(jvm.java.util.ArrayList(), False, False,
                                 sc._gateway.new_array(jvm.double, 0),
                                 jvm.java.util.ArrayList())
        for st in conv.asJava(stages):
            s = stage_span.get(st.stageId())
            if s is None:
                continue
            c = s.counters
            c["stages"] += 1
            c["task_s"] += st.executorRunTime() / 1e3
            c["shuffle_mb"] += st.shuffleWriteBytes() / 1e6
            c["spill_mb"] += st.diskBytesSpilled() / 1e6
            c["gc_s"] += st.jvmGcTime() / 1e3

        sql = self.spark._jsparkSession.sharedState().statusStore()
        for ex in conv.asJava(sql.executionsList()):
            owners = [job_span[j] for j in conv.asJava(ex.jobs()).keySet() if j in job_span]
            if not owners:
                continue
            eid = ex.executionId()
            values = sql.executionMetrics(eid)
            seen = set()
            for node in conv.asJava(sql.planGraph(eid).allNodes()):
                if not node.name().startswith("ArrowEvalPython"):
                    continue
                for m in conv.asJava(node.metrics()):
                    key = _UDF_METRICS.get(m.name())
                    aid = m.accumulatorId()
                    if key is None or aid in seen:
                        continue
                    seen.add(aid)
                    v = values.get(aid)
                    if v.isDefined():
                        owners[0].counters[key] += parse_sql_metric(v.get())

    # -- views ------------------------------------------------------------

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.id]

    def total(self, s: Span, counter: str) -> float:
        """``counter`` summed over ``s`` and every span below it."""
        return s.counters[counter] + sum(self.total(c, counter) for c in self.children(s))

    def self_s(self, s: Span) -> float:
        """Span duration minus the part of it covered by child spans."""
        covered, cursor = 0.0, s.start
        for c in sorted(self.children(s), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        return s.dur_s - covered

    def dump(self) -> list[dict[str, Any]]:
        t0 = min((s.start for s in self.spans), default=0.0)
        return [{"id": s.id, "name": s.name, "parent": s.parent,
                 "start_s": round(s.start - t0, 6), "end_s": round(s.end - t0, 6),
                 "dur_s": round(s.dur_s, 6), "self_s": round(self.self_s(s), 6),
                 "counters": {k: round(v, 6) for k, v in s.counters.items()}}
                for s in self.spans]
