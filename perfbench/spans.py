"""Spans and per-layer counters, recorded from outside the program.

Nothing under ``datafusion_test_spark/`` is changed.  The tracer wraps the
program's public entry points from the benchmark's side:

* ``datafusion_test_spark.io.table`` — installed before ``registry`` imports
  the operator modules, which bind it with ``from ..io import table``;
* the py4j gateway client's ``send_command`` — every driver→JVM round trip;
* ``SparkContext.cancelJobGroup`` — every cancel request of a race.

JVM-side figures come from Spark's own stores: job and stage data from the
core ``AppStatusStore``, Catalyst phase times from
``queryExecution().tracker().phases()`` and per-operator SQL metrics from
``sharedState().statusStore()``.

Spans live in memory (``Tracer.spans``) and are written out by the caller
when the run ends.  While ``Tracer.enabled`` is false every wrapper is a
plain pass-through, so one process can alternate traced and untraced passes.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0
        self.py4j_calls = 0
        self.cancel_requests = 0
        self._seen_tables: dict = {}

    @contextmanager
    def span(self, name: str, **attrs):
        """Record one span; yields its dict so the body can add counts."""
        if not self.enabled:
            yield {}
            return
        self._next_id += 1
        rec = {
            "id": self._next_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "t0": time.perf_counter(),
            "py4j0": self.py4j_calls,
            **attrs,
        }
        self._stack.append(rec)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["t1"] = time.perf_counter()
            rec["py4j_calls"] = self.py4j_calls - rec.pop("py4j0")
            self.spans.append(rec)

    # ---- wrappers -------------------------------------------------------

    def wrap_io_table(self, io_module) -> None:
        """Replace ``io.table`` with a spanning pass-through.  A memo hit is
        the same DataFrame object coming back for a (session, sf_dir, name)
        key already seen from a non-``fresh`` call; a key's first call is
        neither hit nor miss."""
        orig = io_module.table

        def table(spark, sf_dir, name, fresh=False):
            if not self.enabled:
                return orig(spark, sf_dir, name, fresh)
            with self.span("io.table", table=name) as rec:
                df = orig(spark, sf_dir, name, fresh)
                if not fresh:
                    key = (id(spark), sf_dir, name)
                    if key in self._seen_tables:
                        rec["memo_hit"] = self._seen_tables[key] is df
                    self._seen_tables[key] = df
            return df

        table.__doc__ = orig.__doc__
        io_module.table = table

    def wrap_gateway(self, spark_context) -> None:
        """Count every py4j command the driver sends to the JVM."""
        client = spark_context._gateway._gateway_client
        orig = client.send_command

        def send_command(command, *args, **kwargs):
            self.py4j_calls += 1
            return orig(command, *args, **kwargs)

        client.send_command = send_command

    def wrap_cancel(self, spark_context_cls) -> None:
        """Count ``cancelJobGroup`` requests (a race re-issues the request
        until the query thread ends)."""
        orig = spark_context_cls.cancelJobGroup

        def cancelJobGroup(sc, group_id, *args, **kwargs):
            self.cancel_requests += 1
            return orig(sc, group_id, *args, **kwargs)

        spark_context_cls.cancelJobGroup = cancelJobGroup


# ---- JVM-side readers ---------------------------------------------------

_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_TIME_MS = {"ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "min": 6e4, "h": 3.6e6}
_VALUE = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Total of one SQL metric as the status store renders it: a plain
    value (``1,084``, ``23.4 KiB``, ``1.4 s``) or, for per-task metrics,
    ``total (min, med, max ...)\\n<total> (...)``.  Sizes → bytes,
    timings → ms."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _VALUE.search(line)
    if m is None:
        raise ValueError(f"unparseable SQL metric value {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME_MS:
        return value * _TIME_MS[unit]
    return value


# (node-name prefix, metric name) → per-layer metric
SQL_METRICS = {
    ("Exchange", "shuffle bytes written"): "exec.exchange_bytes",
    ("Exchange", "fetch wait time"): "exec.fetch_wait_ms",
    ("BroadcastExchange", "time to build"): "exec.broadcast_build_ms",
    ("Sort", "spill size"): "exec.spill_bytes",
    ("HashAggregate", "spill size"): "exec.spill_bytes",
    ("ObjectHashAggregate", "spill size"): "exec.spill_bytes",
    ("SortMergeJoin", "spill size"): "exec.spill_bytes",
    ("Scan", "number of output rows"): "exec.scan_rows",
    ("Scan", "number of files read"): "exec.scan_files",
    ("Execute", "number of written files"): "sink.files",
    ("Execute", "written output"): "sink.bytes",
    ("Execute", "number of output rows"): "sink.rows",
    ("Execute", "task commit time"): "sink.write_ms",
    ("Execute", "job commit time"): "sink.write_ms",
}


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class JvmProbe:
    """Reads job, stage and SQL-execution figures for one SparkContext."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.core = self.sc._jsc.sc().statusStore()
        self.listener_bus = self.sc._jsc.sc().listenerBus()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = self.sc._gateway.new_array(self.jvm.double, 0)
        self.skip_seen()

    def settle(self) -> None:
        """Wait until the listener bus has delivered every posted event, so
        that both status stores hold every job and execution so far (they
        are filled asynchronously)."""
        self.listener_bus.waitUntilEmpty()

    def skip_seen(self) -> None:
        """Let the next ``sql_metrics`` call start after every execution
        seen so far."""
        self.settle()
        self.next_execution = self._first_unseen_execution()

    def _first_unseen_execution(self) -> int:
        n = self.sql.executionsCount()
        if n == 0:
            return 0
        last = self.sql.executionsList(n - 1, 1).head()
        return last.executionId() + 1

    def jobs(self, group: str) -> dict:
        """Jobs of one job group: ids, count, stage/task figures and the
        union of the jobs' running intervals (epoch ms)."""
        out = {"jobs": 0, "stages": 0, "tasks": 0, "task_run_ms": 0.0,
               "intervals": [], "job_ids": []}
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            data = self.core.job(jid)
            out["jobs"] += 1
            out["job_ids"].append(jid)
            sub, done = data.submissionTime(), data.completionTime()
            if sub.isDefined() and done.isDefined():
                out["intervals"].append(
                    (sub.get().getTime(), done.get().getTime())
                )
            for sid in _iter(data.stageIds()):
                for stage in _iter(self.core.stageData(
                    sid, False, self.jvm.java.util.ArrayList(), False,
                    self._no_quantiles,
                )):
                    if str(stage.status()) == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += stage.numCompleteTasks()
                    out["task_run_ms"] += stage.executorRunTime()
        return out

    def sql_metrics(self) -> tuple[dict, dict]:
        """Sum the SQL metrics of every execution started since the last
        call (or ``skip_seen``), keyed by per-layer metric name.  Also
        returns the job ids of each of those executions, by execution id.
        Call ``settle`` first."""
        out: dict[str, float] = {}
        executions: dict[str, list] = {}
        end = self._first_unseen_execution()
        for eid in range(self.next_execution, end):
            opt = self.sql.execution(eid)
            if not opt.isDefined():
                continue
            executions[str(eid)] = sorted(_iter(opt.get().jobs().keys()))
            values = self.sql.executionMetrics(eid)
            for node in _iter(self.sql.planGraph(eid).allNodes()):
                node_name = node.name()
                for metric in _iter(node.metrics()):
                    key = _layer_of(node_name, metric.name())
                    if key is None:
                        continue
                    text = values.get(metric.accumulatorId())
                    if text.isDefined():
                        out[key] = out.get(key, 0.0) + parse_metric(text.get())
        self.next_execution = end
        return out, executions

    def phases(self, df) -> dict:
        """Catalyst analysis/optimization/planning ms of ``df``'s own
        QueryExecution, after forcing its executed plan."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        out = {}
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            out[f"catalyst.{phase}_ms"] = (
                float(opt.get().durationMs()) if opt.isDefined() else 0.0
            )
        return out


def _layer_of(node_name: str, metric_name: str) -> str | None:
    for (prefix, name), key in SQL_METRICS.items():
        if metric_name == name and node_name.startswith(prefix):
            return key
    return None


def covered_ms(intervals, t0_ms: float, t1_ms: float) -> float:
    """Length of the union of ``intervals`` clipped to [t0_ms, t1_ms]."""
    total, end = 0.0, t0_ms
    for a, b in sorted(intervals):
        a, b = max(a, end, t0_ms), min(b, t1_ms)
        if b > a:
            total += b - a
            end = b
    return total
