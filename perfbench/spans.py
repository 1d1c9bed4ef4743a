"""Spans and Spark counters for the traced run.

Spans are recorded by the benchmark around its calls into the package's
public functions (name, start, end, parent, op id), kept in memory and
written to a side file when the run ends. A span's self time is its
duration minus the time its child spans cover; the root span of an op
is the benchmark's own code, so an op's self times sum to its wall time.

Spark counters are read after each op from Spark's own status stores:
the SQL status store (MapInArrow's Python-worker metrics) and the app
status store (exact per-stage shuffle and spill bytes, task counts).
"""

from __future__ import annotations

import contextlib
import re
import statistics
import time

from py4j.protocol import Py4JJavaError


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: int | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span called ``name``."""
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        traced.__wrapped__ = fn
        return traced

    def self_ms_by_op(self) -> dict[str, dict[int, float]]:
        """{span name: {op id: summed self time in ms}}."""
        child_s = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict[int, float]] = {}
        for i, s in enumerate(self.spans):
            self_s = (s["end"] - s["start"]) - child_s[i]
            per_op = out.setdefault(s["name"], {})
            per_op[s["op"]] = per_op.get(s["op"], 0.0) + self_s * 1e3
        return out

    def median_self_ms(self, ops: set) -> dict[str, float]:
        """{span name: median over ``ops`` of its self time}; an op
        without the span counts as 0."""
        return {name: statistics.median(per_op.get(op, 0.0) for op in ops)
                for name, per_op in self.self_ms_by_op().items()
                if ops & per_op.keys()}


_UNITS = {"ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3,
          "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2,
          "GiB": 1024.0 ** 3, "TiB": 1024.0 ** 4}
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")

# SQL metric name -> per-layer key. Spark formats these for display
# ("total (min, med, max ...)\n6.9 s (...)"); sizes and times are
# rounded to about four digits, which is the precision they report
PYTHON_METRICS = {
    "time to start Python workers": "spark.python.start_ms",
    "time to initialize Python workers": "spark.python.init_ms",
    "time to run Python workers": "spark.python.run_ms",
    "data sent to Python workers": "spark.python.bytes_to",
    "data returned from Python workers": "spark.python.bytes_from",
}


def parse_metric(text: str) -> float:
    """Value of one formatted SQL metric, in ms or bytes."""
    line = text.split("\n")[-1]
    m = _VALUE.search(line)
    if m is None:
        raise ValueError(f"unparsable SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SparkCounters:
    """Per-op deltas of Spark's status stores and the JVM's GC time."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = self.sc._jsc.sc().statusStore()
        self._gc_beans = (self.sc._jvm.java.lang.management
                          .ManagementFactory.getGarbageCollectorMXBeans())
        self._seen_exec = -1
        self._group: str | None = None
        self._gc0 = 0

    def _max_exec_id(self) -> int:
        it = self._sql.executionsList().iterator()
        last = -1
        while it.hasNext():
            last = max(last, it.next().executionId())
        return last

    def gc_ms(self) -> int:
        return sum(b.getCollectionTime() for b in self._gc_beans)

    def begin(self, op_id: int) -> None:
        self._group = f"perfbench-op-{op_id}"
        self.sc.setJobGroup(self._group, self._group)
        self._seen_exec = self._max_exec_id()
        self._gc0 = self.gc_ms()

    def end(self) -> dict[str, float]:
        """Counters of everything Spark ran since :meth:`begin`."""
        gc_ms = self.gc_ms() - self._gc0
        out = {k: 0.0 for k in PYTHON_METRICS.values()}
        it = self._sql.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            eid = e.executionId()
            if eid <= self._seen_exec:
                continue
            values = self._sql.executionMetrics(eid)
            seen = set()  # a re-planned node lists its metrics again
            mi = e.metrics().iterator()
            while mi.hasNext():
                pm = mi.next()
                key = PYTHON_METRICS.get(pm.name())
                if key is None or pm.accumulatorId() in seen:
                    continue
                seen.add(pm.accumulatorId())
                v = values.get(pm.accumulatorId())
                if v.isDefined():
                    out[key] += parse_metric(v.get())
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(self._group)
        tasks = shuffle = spill = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                try:
                    sd = self._app.lastStageAttempt(sid)
                except Py4JJavaError:  # a skipped stage has no attempt
                    continue
                tasks += sd.numTasks()
                shuffle += sd.shuffleWriteBytes()
                spill += sd.diskBytesSpilled() + sd.memoryBytesSpilled()
        out.update({
            "spark.jobs_per_op": float(len(jobs)),
            "spark.tasks_per_op": float(tasks),
            "spark.exchange.shuffle_bytes": float(shuffle),
            "spark.sort.spill_bytes": float(spill),
            "jvm.gc_ms_per_op": float(gc_ms),
        })
        return out
