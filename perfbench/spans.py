"""Spans and Spark-side counters for the traced benchmark run.

A `Tracer` keeps spans in memory (name, start, end, parent) around the
benchmark's calls into each engine layer and sums per-layer counters read
from Spark's status stores.  With tracing off every method is a no-op, so
the timed runs execute the same code path without the bookkeeping.

Counter sources:
- jobs: a job group per span, `statusTracker().getJobIdsForGroup`;
- executor totals (task time, GC, input and shuffle bytes, tasks): the
  difference of the app status store's `executorList` around an op;
- operator metrics (scan/agg/broadcast/fetch-wait times, spill, peak
  memory, Python-worker times, AQE coalesced partitions): the SQL status
  store's `executionMetrics` of every SQL execution an op started;
- Catalyst phases: `queryExecution().tracker().phases()`.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

# SQL metric name (as Spark labels it) -> per-layer counter.
SQL_METRICS = {
    "scan time": "exec.scan_ms",
    "time in aggregation build": "exec.agg_build_ms",
    "time to build": "exec.broadcast_build_ms",
    "fetch wait time": "exec.fetch_wait_ms",
    "spill size": "exec.spill_bytes",
    "peak memory": "exec.peak_memory_bytes",
    "time to start Python workers": "pipeline.python_start_ms",
    "time to initialize Python workers": "pipeline.python_init_ms",
    "time to run Python workers": "pipeline.python_run_ms",
    "data sent to Python workers": "pipeline.bytes_to_python",
    "number of coalesced partitions": "compaction.aqe_coalesced_partitions",
}

# executorList field -> (counter, scale to the counter's unit)
EXECUTOR_TOTALS = {
    "totalDuration": ("exec.task_s", 1e-3),
    "totalGCTime": ("exec.gc_s", 1e-3),
    "totalInputBytes": ("exec.input_bytes", 1),
    "totalShuffleRead": ("exec.shuffle_read_bytes", 1),
    "totalShuffleWrite": ("exec.shuffle_write_bytes", 1),
    "totalTasks": ("exec.tasks", 1),
}

_TIME_UNITS = {"ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3}
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def parse_metric(text: str) -> float:
    """Numeric total of a SQL metric as the status store renders it:
    ``"2,000"``, ``"778.7 KiB"``, ``"0 ms"`` or, for per-task metrics,
    ``"total (min, med, max ...)\\n520 ms (136 ms, ...)"``.  Times come
    back in ms, sizes in bytes."""
    total = text.split("\n")[-1].split(" (")[0].strip()
    parts = total.split()
    value = float(parts[0].replace(",", ""))
    if len(parts) == 1:
        return value
    unit = parts[1]
    if unit in _TIME_UNITS:
        return value * _TIME_UNITS[unit]
    return value * _SIZE_UNITS[unit]


class Tracer:
    """In-memory spans plus per-layer counters; inert when disabled."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._group_seq = 0
        self._last_execution = -1
        self._window_start = 0.0
        self._window_base: dict[str, float] = {}

    # ------------------------------------------------------------ spans

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.monotonic(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters[name] += value

    def mark_window(self) -> None:
        """Start of the measured window: layer metrics cover what follows."""
        self._window_start = time.monotonic()
        self._window_base = dict(self.counters)

    def layer_metrics(self, passes: int, setup: dict) -> dict:
        """Per-layer metrics of the window, per pass: {name: (value, unit)}."""
        counters = defaultdict(float, {
            k: v - self._window_base.get(k, 0.0) for k, v in self.counters.items()
        })
        spans = [s for s in self.spans if s["start"] >= self._window_start]
        span_s: dict[str, float] = defaultdict(float)
        for s in spans:
            span_s[s["name"]] += s["end"] - s["start"]
        out = {
            "session.get_spark_s": (setup["get_spark_s"], "s"),
            "catalog.register_views_s": (setup["register_views_s"], "s"),
        }
        for name, (source, unit) in PER_PASS.items():
            value = span_s[source] if source in SPAN_SOURCES else counters[source]
            out[name] = (value / passes, unit)
        out["compaction.chunk_factor"] = (
            _ratio(counters["compaction.chunk_factor_sum"], counters["compaction.calls"]),
            "ratio",
        )
        out["storage.files_per_append"] = (
            _ratio(counters["storage.files_appended"], counters["storage.appends"]),
            "count",
        )
        out["storage.bytes_written_per_row"] = (
            _ratio(counters["storage.bytes_appended"], counters["storage.rows_appended"]),
            "B/row",
        )
        out["storage.live_files"] = (counters["storage.live_files"] / passes, "count")
        self_s = _self_seconds(spans)
        for layer in SELF_LAYERS:
            out[f"{layer}.self_s"] = (self_s[layer] / passes, "s/pass")
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)

    # ------------------------------------------------------------ jobs

    @contextlib.contextmanager
    def jobs(self, spark, counter: str):
        """Count the Spark jobs launched inside the block under
        ``counter`` (blocks do not nest)."""
        if not self.enabled:
            yield
            return
        sc = spark.sparkContext
        self._group_seq += 1
        group = f"perfbench-{self._group_seq}"
        sc.setJobGroup(group, counter)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            drain(spark)
            self.add(counter, len(sc.statusTracker().getJobIdsForGroup(group)))

    # ------------------------------------------------------- op counters

    def begin_op(self, spark) -> dict | None:
        if not self.enabled:
            return None
        drain(spark)
        self._last_execution = _latest_execution(spark, self._last_execution)
        totals = executor_totals(spark)
        totals["persisted"] = _persisted_ids(spark)
        return totals

    def end_op(self, spark, before: dict | None) -> None:
        """Add the executor-total deltas and the SQL metrics of every SQL
        execution started since `begin_op`."""
        if not self.enabled:
            return
        drain(spark)
        after = executor_totals(spark)
        for field, (counter, scale) in EXECUTOR_TOTALS.items():
            self.add(counter, (after[field] - before[field]) * scale)
        store = spark._jsparkSession.sharedState().statusStore()
        eid = self._last_execution + 1
        while True:
            found = store.execution(eid)
            if not found.isDefined():
                break
            self._add_sql_metrics(store, eid, found.get())
            eid += 1
        self._last_execution = eid - 1
        self.add("exec.leaked_persists", len(_persisted_ids(spark) - before["persisted"]))

    def _add_sql_metrics(self, store, eid: int, execution) -> None:
        values = store.executionMetrics(eid)
        metrics = execution.metrics()
        seen: set[int] = set()
        for i in range(metrics.size()):
            m = metrics.apply(i)
            counter = SQL_METRICS.get(m.name())
            acc = m.accumulatorId()
            if counter is None or acc in seen:
                continue
            seen.add(acc)
            value = values.get(acc)
            if value.isDefined():
                self.add(counter, parse_metric(value.get()))

    def catalyst_phases(self, df) -> None:
        """Force optimization and planning of ``df``'s own QueryExecution
        and add its tracker's phase times."""
        if not self.enabled:
            return
        qe = df._jdf.queryExecution()
        with self.span("catalyst.plan"):
            qe.executedPlan()
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            self.add(f"catalyst.{kv._1()}_ms", kv._2().durationMs())


# Per-pass metric -> (span name or counter, unit).
SPAN_SOURCES = {
    "queries.builder", "exec.action", "compaction.compact",
    "storage.insert", "storage.delete", "storage.vacuum",
}
PER_PASS = {
    "queries.builder_s": ("queries.builder", "s/pass"),
    "queries.builder_jobs": ("queries.builder_jobs", "count/pass"),
    "catalyst.analysis_ms": ("catalyst.analysis_ms", "ms/pass"),
    "catalyst.optimization_ms": ("catalyst.optimization_ms", "ms/pass"),
    "catalyst.planning_ms": ("catalyst.planning_ms", "ms/pass"),
    "exec.action_s": ("exec.action", "s/pass"),
    "exec.jobs": ("exec.jobs", "count/pass"),
    "exec.tasks": ("exec.tasks", "count/pass"),
    "exec.task_s": ("exec.task_s", "s/pass"),
    "exec.gc_s": ("exec.gc_s", "s/pass"),
    "exec.input_bytes": ("exec.input_bytes", "B/pass"),
    "exec.shuffle_read_bytes": ("exec.shuffle_read_bytes", "B/pass"),
    "exec.shuffle_write_bytes": ("exec.shuffle_write_bytes", "B/pass"),
    "exec.scan_ms": ("exec.scan_ms", "ms/pass"),
    "exec.agg_build_ms": ("exec.agg_build_ms", "ms/pass"),
    "exec.broadcast_build_ms": ("exec.broadcast_build_ms", "ms/pass"),
    "exec.fetch_wait_ms": ("exec.fetch_wait_ms", "ms/pass"),
    "exec.spill_bytes": ("exec.spill_bytes", "B/pass"),
    "exec.peak_memory_bytes": ("exec.peak_memory_bytes", "B/pass"),
    "exec.leaked_persists": ("exec.leaked_persists", "count/pass"),
    "pipeline.python_start_ms": ("pipeline.python_start_ms", "ms/pass"),
    "pipeline.python_init_ms": ("pipeline.python_init_ms", "ms/pass"),
    "pipeline.python_run_ms": ("pipeline.python_run_ms", "ms/pass"),
    "pipeline.bytes_to_python": ("pipeline.bytes_to_python", "B/pass"),
    "compaction.compact_s": ("compaction.compact", "s/pass"),
    "compaction.probe_jobs": ("compaction.probe_jobs", "count/pass"),
    "compaction.partitions_in": ("compaction.partitions_in", "count/pass"),
    "compaction.partitions_out": ("compaction.partitions_out", "count/pass"),
    "compaction.aqe_coalesced_partitions": (
        "compaction.aqe_coalesced_partitions", "count/pass"),
    "storage.insert_s": ("storage.insert", "s/pass"),
    "storage.delete_s": ("storage.delete", "s/pass"),
    "storage.vacuum_s": ("storage.vacuum", "s/pass"),
}


# Layers whose self time is reported ("bench": the benchmark's own share
# of an op, outside every engine call).
SELF_LAYERS = ("queries", "catalyst", "exec", "compaction", "storage", "bench")


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def _self_seconds(spans: list[dict]) -> dict[str, float]:
    """Self time per layer (a span name's first dotted part): each span's
    duration minus the time its direct children cover."""
    child: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["name"].split(".")[0]] += s["end"] - s["start"] - child[s["id"]]
    return out


def drain(spark) -> None:
    """Wait until the listener bus has delivered every queued event, so
    the status stores reflect all finished jobs and tasks."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def executor_totals(spark) -> dict[str, float]:
    store = spark.sparkContext._jsc.sc().statusStore()
    execs = store.executorList(True)
    out = dict.fromkeys(EXECUTOR_TOTALS, 0.0)
    for i in range(execs.size()):
        e = execs.apply(i)
        for field in EXECUTOR_TOTALS:
            out[field] += getattr(e, field)()
    return out


def _persisted_ids(spark) -> set[int]:
    """Ids of the RDDs currently persisted (cached DataFrames included)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _latest_execution(spark, last: int) -> int:
    """Highest SQL execution id present in the SQL status store (ids are
    sequential within the JVM)."""
    store = spark._jsparkSession.sharedState().statusStore()
    count = store.executionsCount()
    if count == 0:
        return last
    newest = store.executionsList(int(count) - 1, 1)
    return max(last, newest.apply(0).executionId())
