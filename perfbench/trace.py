"""Span tracer and Spark counters for the benchmark's traced runs.

The tracer wraps calls into the package's layers from here, so no
package code changes: :meth:`Tracer.wrap` replaces a module attribute
with a wrapper that opens a span around the original.  Callers that
look the function up through the module global (``migrate()`` calling
``execute_statement``) go through the wrapper too.

A span records name, start, end, parent, run id and the Spark job
counter at both ends; spans are kept in memory and written once, at
the end of the run (:meth:`Tracer.dump`).  Recording is switched on and
off per operation (:attr:`Tracer.enabled`), so a traced run can
interleave traced and untraced operations and report the difference as
the tracing overhead.

Spark counters:

- :func:`job_counter` reads the DAG scheduler's next job id, so the jobs
  of an interval are a difference of two reads.  It counts every job of
  the application, including the ones streaming queries launch from
  their own threads.
- :func:`stage_task_counts` and :func:`sql_metrics` read the status
  tracker and the SQL status store for an interval's jobs and SQL
  executions, after :func:`drain_listeners` has let the listener bus
  catch up.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from pyspark import SparkContext


def _jsc():
    return SparkContext._active_spark_context._jsc.sc()


def job_counter() -> int:
    """Id the next Spark job will get (0 without an active context)."""
    if SparkContext._active_spark_context is None:
        return 0
    return int(_jsc().dagScheduler().nextJobId())


def drain_listeners() -> None:
    """Block until the listener bus has delivered every queued event,
    so the status tracker and SQL status store are complete."""
    _jsc().listenerBus().waitUntilEmpty()


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._next_id = 0
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = self._next_id
        self._next_id += 1
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "jobs0": job_counter(),
        }
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["jobs1"] = job_counter()
            rec["end"] = time.perf_counter()
            self.spans.append(rec)

    def wrap(self, module, attr: str, name: str) -> None:
        orig = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        traced.__wrapped__ = orig
        setattr(module, attr, traced)
        self._patches.append((module, attr, orig))

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patches):
            setattr(module, attr, orig)
        self._patches.clear()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def stage_task_counts(spark, jobs: range) -> tuple[int, int]:
    """(stages that ran at least one task, tasks completed) over the
    Spark jobs with ids in ``jobs``."""
    tracker = spark.sparkContext.statusTracker()
    stages: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    ran = tasks = 0
    for sid in stages:
        st = tracker.getStageInfo(sid)
        if st is not None and st.numCompletedTasks > 0:
            ran += 1
            tasks += st.numCompletedTasks
    return ran, tasks


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}

#: plan nodes whose output rows cross the JVM/Python (Arrow) boundary
ARROW_NODES = ("ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas")


#: the SQL metrics read, all sums or sizes
_READ = ("size of files read", "shuffle bytes written", "spill size", "peak memory",
         "number of output rows")


def metric_value(text: str | None) -> float:
    """Numeric value of a formatted sum or size SQL metric: ``"100,000"``,
    ``"64.2 MiB"`` or the task-aggregated ``"total (...)\\n921.0 B (...)"``."""
    if not text:
        return 0.0
    line = text.split("\n")[1] if "\n" in text else text
    parts = line.split()
    num = float(parts[0].replace(",", ""))
    if len(parts) > 1 and parts[1] in _SIZE:
        num *= _SIZE[parts[1]]
    return num


def sql_metrics(spark, first_exec_id: int) -> dict[str, float]:
    """Plan-node counts and metric sums over every SQL execution with
    id >= ``first_exec_id``."""
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    store = spark._jsparkSession.sharedState().statusStore()
    count = int(store.executionsCount())
    recent = conv.asJava(store.executionsList(max(0, count - 400), 400))
    out = dict.fromkeys(
        ("scans", "scan_bytes", "exchanges", "shuffle_bytes", "spill_bytes",
         "peak_mem_bytes", "arrow_rows"),
        0.0,
    )
    for i in range(recent.size()):
        eid = int(recent.get(i).executionId())
        if eid < first_exec_id:
            continue
        values = conv.asJava(store.executionMetrics(eid))
        for node in conv.asJava(store.planGraph(eid).allNodes()):
            name = node.name()
            metrics = {
                m.name(): metric_value(values.get(m.accumulatorId()))
                for m in conv.asJava(node.metrics())
                if m.name() in _READ
            }
            if name.startswith("Scan "):
                out["scans"] += 1
                out["scan_bytes"] += metrics.get("size of files read", 0.0)
            elif name == "Exchange":
                out["exchanges"] += 1
                out["shuffle_bytes"] += metrics.get("shuffle bytes written", 0.0)
            elif name in ARROW_NODES:
                out["arrow_rows"] += metrics.get("number of output rows", 0.0)
            out["spill_bytes"] += metrics.get("spill size", 0.0)
            out["peak_mem_bytes"] = max(out["peak_mem_bytes"], metrics.get("peak memory", 0.0))
    return out


def next_execution_id(spark) -> int:
    """Id the next SQL execution will get, as far as the (drained) SQL
    status store knows."""
    store = spark._jsparkSession.sharedState().statusStore()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    count = int(store.executionsCount())
    last = conv.asJava(store.executionsList(max(0, count - 1), 1))
    return int(last.get(0).executionId()) + 1 if last.size() else 0
