"""Per-layer tracing taken from outside the library.

The tracer records spans around the benchmark's own calls into each
module's public functions, and around the public methods ``run()``
calls internally (``Database.append`` and friends), which it wraps for
the length of a traced run.  It reads Spark's own bookkeeping for the
rest, after draining the listener bus so that every event of an
operation has landed:

* jobs and stages by id range: the DAG scheduler hands out job and
  stage ids from counters, so ``next id after - next id before`` is
  exact even after ``spark.ui.retainedJobs`` has evicted old jobs;
* task CPU, GC, spill and shuffle bytes from the AppStatusStore, per
  stage id in that range;
* per-node SQL metrics (scan, aggregate, codegen pipeline, Python
  workers, exchanges) from the SQL status store's final adaptive plan
  graph, which includes the plans inside the query stages;
* micro-batch count and duration from a StreamingQueryListener.

Every traced operation carries an op kind (the run kind or query name)
with a phase prefix: ``setup:`` for the session's first call, ``warm:``
for the warm-up, none for the timed cycles, ``after:`` for calls made
once after them.  Spans and counts stay in
memory and are rolled up when the run ends.
"""

from __future__ import annotations

import contextlib
import re
import statistics
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

# per_layer metric name -> unit, in BENCHMARK.json's order
LAYER_METRICS = {
    "session.get_spark_s": "s",
    "grid.build_s": "s",
    "runner.prepare_params_df_s": "s",
    "runner.jobs_per_run": "count",
    "runner.stages_per_run": "count",
    "runner.skip_ratio": "ratio",
    "database.append_s": "s",
    "database.reserve_seqs_s": "s",
    "database.lock_held_s": "s",
    "database.load_s": "s",
    "database.files": "count",
    "database.run_partitions": "count",
    "database.bytes_per_row": "B",
    "metastore.puts": "count",
    "metastore.put_conflicts": "count",
    "query.filter_s": "s",
    "query.latest_s": "s",
    "query.failed_s": "s",
    "query.extract_params_s": "s",
    "cli.db2json_s": "s",
    "catalog.build_s": "s",
    "catalog.exec_s": "s",
    "catalog.jobs": "count",
    "catalog.exchanges": "count",
    "catalog.shuffle_write_mb": "MB",
    "catalog.task_cpu_s": "s",
    "catalog.gc_s": "s",
    "catalog.spill_mb": "MB",
    "sql.python_s": "s",
    "sql.python_boot_s": "s",
    "sql.scan_s": "s",
    "sql.agg_s": "s",
    "sql.codegen_s": "s",
    "caching.clear_s": "s",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "trace.overhead_s": "s",
    "trace.bookkeeping_s": "s",
}

SETUP, WARM, AFTER = "setup:", "warm:", "after:"
# workload-level values that are an average per call, not a sum per cycle
_PER_CALL = ("runner.jobs_per_run", "runner.stages_per_run", "streaming.batch_s")
# the database's layout after a run: the last value counts
_STATE = ("database.files", "database.run_partitions", "database.bytes_per_row")

_UNITS_S = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0}
_UNITS_B = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_VALUE = re.compile(r"^\s*([0-9][0-9,.]*)\s*([A-Za-z]+)?")
# SQL metric display name -> per-layer metric
_NODE_METRICS = {
    "scan time": "sql.scan_s",
    "time in aggregation build": "sql.agg_s",
    "time to run Python workers": "sql.python_s",
    "time to start Python workers": "sql.python_boot_s",
}


def parse_metric(text: str) -> float:
    """Numeric total of one formatted SQL metric value, in seconds for
    timings and bytes for sizes ("2.1 s", "15.2 KiB", or the multi-line
    "total (min, med, max ...)\\n7.4 s (...)" form)."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2) or ""
    return num * _UNITS_S.get(unit, _UNITS_B.get(unit, 1))


class _StreamListener(StreamingQueryListener):
    def __init__(self, tracer: "Tracer"):
        self.tracer = tracer

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.tracer.count("streaming.batches", 1)
        self.tracer.count("streaming.batch_s",
                          (event.progress.batchDuration or 0) / 1000.0)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class NullTracer:
    """Stand-in for untraced runs and cycles: records nothing."""

    active = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    @contextlib.contextmanager
    def op(self, kind: str, layer: str | None = None):
        yield

    def count(self, name: str, value: float) -> None:
        pass


class Tracer(NullTracer):
    """Spans and Spark-side counters of the traced calls of one run.

    ``phase`` prefixes the op kind; ``active`` switches recording on
    and off, so that a traced run can interleave untraced cycles."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.active = False
        self.phase = ""
        # one (op kind, {metric: [values]}) per traced call, in call order
        self.calls: list[tuple[str, dict[str, list[float]]]] = []
        self._current: dict[str, list[float]] | None = None
        self._last_exec = -1
        self._patches: list[tuple[object, str, object]] = []
        self.bookkeeping_s = 0.0
        self._listener = _StreamListener(self)
        spark.streams.addListener(self._listener)

    # -- spans and counts ---------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.count(name, time.perf_counter() - t0)

    def count(self, name: str, value: float) -> None:
        """Record a value against the traced call in flight, if any (the
        stream listener calls this from py4j's callback thread)."""
        cur = self._current
        if self.active and cur is not None:
            cur.setdefault(name, []).append(float(value))

    @contextlib.contextmanager
    def op(self, kind: str, layer: str | None = None):
        """One benchmark call: tags its Spark jobs with a job group and
        attributes the jobs, stages and SQL executions it launched to
        ``layer`` ("runner" or "catalog"; None keeps only the per-node
        SQL metrics)."""
        if not self.active:
            yield
            return
        t0 = time.perf_counter()
        self._bus.waitUntilEmpty()
        self._skip_executions()
        kind = self.phase + kind
        self._current = {}
        self.calls.append((kind, self._current))
        self.sc.setJobGroup(f"perfbench:{kind}:{len(self.calls)}", kind)
        job0, stage0 = self._dag.nextJobId(), self._dag.nextStageId()
        self.bookkeeping_s += time.perf_counter() - t0
        try:
            yield
        finally:
            t0 = time.perf_counter()
            job1, stage1 = self._dag.nextJobId(), self._dag.nextStageId()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self._bus.waitUntilEmpty()
            self._attribute(layer, job1 - job0, stage0, stage1)
            self._current = None
            self.bookkeeping_s += time.perf_counter() - t0

    # -- wrapping public methods -------------------------------------------

    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def wrap(self, owner, attr: str, name: str) -> None:
        def make(orig):
            def wrapped(*a, **kw):
                with self.span(name):
                    return orig(*a, **kw)
            return wrapped

        self._patch(owner, attr, make)

    def wrap_lock(self, owner, attr: str, name: str) -> None:
        """Wrap a context-manager method; the span covers the time the
        lock is held, not the time spent waiting for it."""
        def make(orig):
            @contextlib.contextmanager
            def wrapped(*a, **kw):
                with orig(*a, **kw):
                    with self.span(name):
                        yield
            return wrapped

        self._patch(owner, attr, make)

    def wrap_put(self, owner, attr: str) -> None:
        """Count conditional puts, and the ones that lost (returned False)."""
        def make(orig):
            def wrapped(*a, **kw):
                ok = orig(*a, **kw)
                self.count("metastore.puts", 1)
                self.count("metastore.put_conflicts", 0 if ok else 1)
                return ok
            return wrapped

        self._patch(owner, attr, make)

    def close(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()
        self.spark.streams.removeListener(self._listener)

    # -- Spark status --------------------------------------------------------

    def _skip_executions(self) -> None:
        """Move the SQL cursor past executions no traced op launched."""
        while self._sql.execution(self._last_exec + 1).isDefined():
            self._last_exec += 1

    def _attribute(self, layer: str | None, jobs: int, stage0: int,
                   stage1: int) -> None:
        sql = self._sql_metrics()
        exchanges = sql.pop("exchanges")
        for k, v in sql.items():
            self.count(k, v)
        if layer == "runner":
            self.count("runner.jobs_per_run", jobs)
            self.count("runner.stages_per_run", stage1 - stage0)
        if layer != "catalog":
            return
        cpu = gc = spill = shuffle = 0.0
        for sid in range(stage0, stage1):
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage never ran
                continue
            cpu += st.executorCpuTime() / 1e9
            gc += st.jvmGcTime() / 1e3
            spill += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
            shuffle += st.shuffleWriteBytes() / 2**20
        self.count("catalog.jobs", jobs)
        self.count("catalog.exchanges", exchanges)
        self.count("catalog.task_cpu_s", cpu)
        self.count("catalog.gc_s", gc)
        self.count("catalog.spill_mb", spill)
        self.count("catalog.shuffle_write_mb", shuffle)

    def _sql_metrics(self) -> dict[str, float]:
        out = dict.fromkeys(list(_NODE_METRICS.values())
                            + ["sql.codegen_s", "exchanges"], 0.0)
        while self._sql.execution(self._last_exec + 1).isDefined():
            self._last_exec += 1
            self._add_plan_metrics(self._last_exec, out)
        return out

    def _add_plan_metrics(self, eid: int, out: dict[str, float]) -> None:
        values = self._sql.executionMetrics(eid)
        nodes = self._sql.planGraph(eid).allNodes().iterator()

        def value(metric) -> float:
            v = values.get(metric.accumulatorId())
            return parse_metric(v.get()) if v.isDefined() else 0.0

        while nodes.hasNext():
            node = nodes.next()
            name = node.name()
            if name.endswith("Exchange") and not name.startswith("Reused"):
                out["exchanges"] += 1
            metrics = node.metrics().iterator()
            while metrics.hasNext():
                m = metrics.next()
                key = _NODE_METRICS.get(m.name())
                if key is None and m.name() == "duration" and name.startswith(
                        "WholeStageCodegen"):
                    key = "sql.codegen_s"
                if key is not None:
                    out[key] += value(m)

    # -- roll-up -------------------------------------------------------------

    def by_kind(self) -> dict[str, dict[str, float]]:
        """Per op kind and metric: the median over the kind's calls of
        the metric's total in one call."""
        totals: dict[str, dict[str, list[float]]] = defaultdict(
            lambda: defaultdict(list))
        for kind, rec in self.calls:
            for name, vals in rec.items():
                totals[kind][name].append(sum(vals))
        return {kind: {n: round(statistics.median(v), 6)
                       for n, v in sorted(m.items())}
                for kind, m in sorted(totals.items())}

    def rollup(self, cycles: list[range]) -> dict[str, float]:
        """Workload-level values over the traced timed cycles, each given
        as the range of its call ordinals: the median over cycles of each
        metric's sum in a cycle; per ``run()`` call for the runner's job
        and stage counts; psets skipped over psets requested for
        ``runner.skip_ratio``; the median micro-batch for
        ``streaming.batch_s``; the layout after the last run for the
        database's files, partitions and bytes per row.  ``sql.python_boot_s`` is the set-up's and
        warm-up's total instead: the session's Python workers start
        there, and later calls reuse them.  A call made once after the
        timed cycles gives the value of a metric no cycle has
        (``cli.db2json_s``)."""
        sums: dict[str, list[float]] = defaultdict(list)
        per_call: dict[str, list[float]] = defaultdict(list)
        out: dict[str, float] = {}
        for cycle in cycles:
            total: dict[str, float] = defaultdict(float)
            for i in cycle:
                for name, vals in self.calls[i][1].items():
                    if name in _PER_CALL:
                        per_call[name].extend(vals)
                    elif name in _STATE:
                        out[name] = vals[-1]
                    else:
                        total[name] += sum(vals)
            for name in total:
                sums[name].append(total[name])
        out.update({n: statistics.median(v + [0.0] * (len(cycles) - len(v)))
                    for n, v in sums.items()})
        out.update({n: statistics.median(v) if n == "streaming.batch_s"
                    else statistics.fmean(v) for n, v in per_call.items()})
        if "runner.psets_requested" in out:
            out["runner.skip_ratio"] = (
                out["runner.psets_skipped"] / out["runner.psets_requested"])
        out["sql.python_boot_s"] = sum(
            sum(rec.get("sql.python_boot_s", ()))
            for kind, rec in self.calls if kind.startswith((SETUP, WARM)))
        for kind, rec in self.calls:
            if kind.startswith(AFTER):
                for name, vals in rec.items():
                    out.setdefault(name, sum(vals))
        return out
