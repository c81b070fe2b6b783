"""Layer-by-layer tracing for the benchmark, measured from outside the
package.

``Tracer``, a context manager, wraps the package's public boundaries for
the length of one measured pass: every catalog ``Query.builder`` (plan
construction), every module binding of ``sources.load_table``, the
DataFrame actions a workload ends an output with
(``DataFrameWriter.parquet``/``save``, ``DataFrame.toPandas``) and, for
streaming entries, a ``StreamingQueryListener`` on every session. After
each action it reads Spark's own status stores: the SQL store
(``executionsList``/``planGraph``/``executionMetrics``) for per-operator
metrics and the core store for job, stage and task counts. Jobs are
tagged with job groups, so jobs a builder runs while constructing its
plan are counted apart from the action's own jobs.
"""

from __future__ import annotations

import dataclasses
import re
import sys
import threading
import time
from collections import defaultdict

from pyspark.sql import SparkSession
from pyspark.sql.readwriter import DataFrameWriter
from pyspark.sql.streaming import StreamingQueryListener

from perfbench.clock import mark, since
from trace_data_pipeline_spark.plans import catalog as catalog_mod, get_catalog
from trace_data_pipeline_spark.sources import registry

GROUP = "perfbench"
# a shuffle Exchange of a plan's tree string (not Broadcast/Reused), by
# its plan id: a cached plan read twice prints its exchanges twice
EXCHANGE_ID = re.compile(r"(?m)^[\s:+\-*]*Exchange .*\[plan_id=(\d+)\]")
# SQLPlanMetric(name,accumulatorId,metricType) as Scala prints it
_METRIC = re.compile(r"SQLPlanMetric\((.+?),(\d+),[A-Za-z]+\)")
_WANTED = {
    "shuffle bytes written", "fetch wait time", "scan time", "size of files read",
    "time in aggregation build", "time to collect", "peak memory", "spill size",
    "written output", "task commit time", "job commit time",
    "time to run Python workers", "time to start Python workers",
    "time to initialize Python workers", "data sent to Python workers",
    "data returned from Python workers",
}
_UNITS = {
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
# kernel family of a Python-worker node, by an output column only that
# kernel adds (W1/W2/W7 grouped maps) or by node type
_KERNELS = (
    ("w1", "FlatMapGroupsInPandas", "anchor_price#"),
    ("w2", "FlatMapGroupsInPandas", "filtered_error#"),
    ("w7", "FlatMapGroupsInPandas", "flag_anomalous_price#"),
    ("w10", "ArrowEvalPython", "bond_"),
    ("map_in_pandas", "MapInPandas", ""),
)
KERNEL_FAMILIES = tuple(k for k, _, _ in _KERNELS) + ("other",)


def metric_value(text: str) -> float:
    """Parse one SQL-metric display string into seconds, bytes or a
    count. Per-task metrics read 'total (min, med, max ...)\\n<total>
    (...)', averages 'avg (min, med, max ...)\\n(<avg>, ...)' and
    plain ones '<value>'."""
    line = text.split("\n")[-1]
    head = line[1:].split(", ")[0] if line.startswith("(") else line.split(" (")[0]
    num, _, unit = head.strip().partition(" ")
    return float(num.replace(",", "")) * _UNITS.get(unit, 1.0)


def kernel_family(node_name: str, desc: str) -> str:
    for family, name, marker in _KERNELS:
        if node_name == name and marker in desc:
            return family
    return "other"


def _seq(jvm, scala_seq) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))


class _Listener(StreamingQueryListener):
    def __init__(self, sink: dict):
        self.sink = sink
        self.lock = threading.Lock()

    def onQueryStarted(self, event):
        with self.lock:
            self.sink["started"] += 1

    def onQueryProgress(self, event):
        d = event.progress.durationMs
        with self.lock:
            self.sink["triggers"] += 1
            for key, out in (
                ("addBatch", "add_batch_s"),
                ("walCommit", "wal_commit_s"),
                ("queryPlanning", "query_planning_s"),
                ("triggerExecution", "trigger_s"),
            ):
                self.sink[out] += d.get(key, 0) / 1000.0

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self.lock:
            self.sink["terminated"] += 1


@dataclasses.dataclass
class EntryTrace:
    name: str
    construct_s: float = 0.0
    plan_s: float = 0.0
    exec_s: float = 0.0
    harvest_s: float = 0.0
    plan_exchanges: int = 0
    graph_exchanges: int = 0
    construct_jobs: int = 0
    action_jobs: int = 0
    load_table_calls: int = 0
    load_table_s: float = 0.0


class Tracer:
    """Collects spans and status-store counts for one measured pass.
    Use as ``with Tracer(spark): ...``; totals are in ``self.totals``
    and per-entry spans in ``self.entries``."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.jvm = spark._jvm
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.core_store = spark.sparkContext._jsc.sc().statusStore()
        self.totals: dict[str, float] = defaultdict(float)
        self.stream = defaultdict(float)
        self.entries: list[EntryTrace] = []
        self._listener = _Listener(self.stream)
        self._current: EntryTrace | None = None
        self._in_construct = False
        self._exec_mark = 0
        self._construct_exec_mark = 0
        self._job_mark = -1
        self._seen: set[int] = set()  # accumulator ids already counted
        self._patches: list[tuple[object, str, object]] = []
        self.problems: list[str] = []

    # -- installation --------------------------------------------------
    def _patch(self, owner, attr: str, value) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def __enter__(self) -> "Tracer":
        self._exec_mark = self.sql_store.executionsCount()
        self._new_jobs()
        self._old_fields = self.spark.conf.get("spark.sql.debug.maxToStringFields", None)
        # node descriptions must keep every output column, so a kernel
        # can be told apart by the column it adds
        self.spark.conf.set("spark.sql.debug.maxToStringFields", "10000")
        get_catalog()  # registers every entry, so each can be wrapped
        for name, q in list(catalog_mod._REGISTRY.items()):
            self._patch_dict(catalog_mod._REGISTRY, name,
                             dataclasses.replace(q, builder=self._wrap_builder(name, q.builder)))
        load_table = registry.load_table
        timed_load = self._wrap_load_table(load_table)
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith("trace_data_pipeline_spark")
                    and getattr(mod, "load_table", None) is load_table):
                self._patch(mod, "load_table", timed_load)
        frame_class = type(self.spark.range(0))  # the concrete (classic) class
        for owner, attr in ((DataFrameWriter, "parquet"), (DataFrameWriter, "save"),
                            (frame_class, "toPandas")):
            self._patch(owner, attr, self._wrap_action(getattr(owner, attr)))
        self.spark.streams.addListener(self._listener)
        new_session = SparkSession.newSession
        listener = self._listener

        def traced_new_session(session):
            s = new_session(session)
            s.streams.addListener(listener)
            return s

        self._patch(SparkSession, "newSession", traced_new_session)
        return self

    def _patch_dict(self, d: dict, key, value) -> None:
        self._patches.append((d, key, d[key]))
        d[key] = value

    def __exit__(self, *exc) -> None:
        for owner, attr, old in reversed(self._patches):
            if isinstance(owner, dict):
                owner[attr] = old
            else:
                setattr(owner, attr, old)
        self._patches.clear()
        self.spark.streams.removeListener(self._listener)
        if self._old_fields is None:
            self.spark.conf.unset("spark.sql.debug.maxToStringFields")
        else:
            self.spark.conf.set("spark.sql.debug.maxToStringFields", self._old_fields)
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    # -- wrappers ------------------------------------------------------
    def _wrap_builder(self, name: str, builder):
        tracer = self

        def traced_builder(spark, sf_dir):
            if tracer._in_construct:  # a builder composing another
                return builder(spark, sf_dir)
            entry = EntryTrace(name)
            tracer._current = entry
            spark.sparkContext.setJobGroup(f"{GROUP}.construct.{name}", name)
            tracer._in_construct = True
            m0 = mark()
            try:
                df = builder(spark, sf_dir)
            finally:
                tracer._in_construct = False
            entry.construct_s = since(m0)
            m1 = mark()
            plan = df._jdf.queryExecution().executedPlan()
            entry.plan_s = since(m1)
            entry.plan_exchanges = len(set(EXCHANGE_ID.findall(plan.toString())))
            tracer._construct_exec_mark = tracer.sql_store.executionsCount()
            spark.sparkContext.setJobGroup(f"{GROUP}.action.{name}", name)
            return df

        return traced_builder

    def _wrap_load_table(self, load_table):
        tracer = self

        def traced_load_table(spark, sf_dir, name):
            m0 = mark()
            try:
                return load_table(spark, sf_dir, name)
            finally:
                if tracer._current is not None:
                    tracer._current.load_table_calls += 1
                    tracer._current.load_table_s += since(m0)

        return traced_load_table

    def _wrap_action(self, action):
        tracer = self

        def traced_action(obj, *args, **kwargs):
            entry = tracer._current
            if entry is None or tracer._in_construct:
                return action(obj, *args, **kwargs)
            m0 = mark()
            out = action(obj, *args, **kwargs)
            entry.exec_s = since(m0)
            tracer._current = None
            tracer.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            m1 = mark()
            try:
                tracer._harvest(entry)
            except Exception as exc:  # a harvest fault must not fail the output
                tracer.problems.append(f"{entry.name}: harvest failed: {type(exc).__name__}: {exc}")
            entry.harvest_s = since(m1)
            tracer.entries.append(entry)
            return out

        return traced_action

    # -- harvest -------------------------------------------------------
    def _new_jobs(self) -> list:
        """Jobs submitted since the last call (the store lists newest
        first, so only the new ones are touched over py4j)."""
        jobs = []
        conv = self.jvm.scala.jdk.javaapi.CollectionConverters
        for j in conv.asJava(self.core_store.jobsList(None)):  # lazily, over py4j
            if j.jobId() <= self._job_mark:
                break
            jobs.append(j)
        if jobs:
            self._job_mark = jobs[0].jobId()
        return jobs

    def _harvest(self, entry: EntryTrace) -> None:
        t = self.totals
        for key in ("construct_s", "plan_s", "exec_s", "load_table_s", "load_table_calls"):
            t[key] += getattr(entry, key)
        # SQL executions since the last harvest; those that began while
        # the builder ran (streaming batches, loop checkpoints) belong to
        # construction, the rest to the action
        count = self.sql_store.executionsCount()
        for e in _seq(self.jvm, self.sql_store.executionsList(self._exec_mark, count - self._exec_mark)):
            eid = e.executionId()
            self._harvest_execution(entry, eid, eid >= self._construct_exec_mark)
        self._exec_mark = count
        for j in self._new_jobs():
            group = j.jobGroup().get() if j.jobGroup().isDefined() else ""
            if group == f"{GROUP}.action.{entry.name}":
                entry.action_jobs += 1
                t["jobs"] += 1
                t["stages"] += j.numCompletedStages()
                t["tasks"] += j.numCompletedTasks()
                t["failed_tasks"] += j.numFailedTasks()
            else:
                # the construct group, or a streaming query's own group
                entry.construct_jobs += 1
        t["construct_jobs"] += entry.construct_jobs

    def _harvest_execution(self, entry: EntryTrace, eid: int, in_action: bool) -> None:
        t = self.totals
        conv = self.jvm.scala.jdk.javaapi.CollectionConverters
        values = conv.asJava(self.sql_store.executionMetrics(eid))
        for node in _seq(self.jvm, self.sql_store.planGraph(eid).allNodes()):
            # one py4j call for all of a node's (name, accumulator id)
            # pairs, and values only for the metrics used; an operator
            # reached twice in a graph (a cached plan under two scans) or
            # in two executions has the same accumulators, and counts once
            metrics = [(k, int(acc)) for k, acc in _METRIC.findall(node.metrics().toString())]
            ids = {acc for _, acc in metrics}
            if ids and ids <= self._seen:
                continue
            self._seen |= ids
            m = {}
            for k, acc in metrics:
                if k in _WANTED:
                    text = values.get(acc)
                    if text:
                        m[k] = metric_value(text)
            if "shuffle bytes written" in m and node.name() == "Exchange":
                t["exchanges"] += 1
                if in_action:
                    entry.graph_exchanges += 1
                t["shuffle_write_bytes"] += m["shuffle bytes written"]
                t["shuffle_fetch_wait_s"] += m.get("fetch wait time", 0.0)
            if "size of files read" in m:
                t["scan_s"] += m.get("scan time", 0.0)
                t["scan_bytes"] += m["size of files read"]
            t["agg_build_s"] += m.get("time in aggregation build", 0.0)
            t["broadcast_collect_s"] += m.get("time to collect", 0.0)
            t["peak_memory_bytes"] = max(t["peak_memory_bytes"], m.get("peak memory", 0.0))
            t["spill_bytes"] += m.get("spill size", 0.0)
            t["written_bytes"] += m.get("written output", 0.0)
            t["commit_s"] += m.get("task commit time", 0.0) + m.get("job commit time", 0.0)
            if "data sent to Python workers" in m:
                name = node.name()
                family = kernel_family(name, node.desc())
                run_s = m.get("time to run Python workers", 0.0)
                for prefix in ("kernels.", f"kernels.{family}."):
                    t[prefix + "execs"] += 1
                    t[prefix + "py_run_s"] += run_s
                t["kernels.py_start_s"] += (m.get("time to start Python workers", 0.0)
                                            + m.get("time to initialize Python workers", 0.0))
                t["kernels.bytes_to_py"] += m["data sent to Python workers"]
                t["kernels.bytes_from_py"] += m.get("data returned from Python workers", 0.0)
                if name == "FlatMapGroupsInPandas":
                    t["kernel_execs"] += 1

    def wait_streams(self, timeout_s: float = 10.0) -> None:
        """Listener events arrive asynchronously; wait until every query
        that started has reported its termination."""
        deadline = time.monotonic() + timeout_s
        while self.stream["terminated"] < self.stream["started"] and time.monotonic() < deadline:
            time.sleep(0.05)
