"""Tracing from outside the package: spans, job counts, event log, streaming.

Every span is taken around a call into a layer's public function; nothing in
``gmt_dbt_spark`` is edited. A span records its name, the pass and op it ran
in, its start and end, and the scheduler's job-id counter at both ends, so
``j1 - j0`` is the number of Spark jobs submitted inside it. The counter is
read from the DAG scheduler, which assigns ids synchronously at submission
and so counts jobs from every thread, including the ``ModelProject.run``
pool threads where a thread-local job group would not apply.

Stage, task, shuffle and spill figures, and the executed plans, come from
the Spark event log, which the benchmark enables at submit time and reads
after the session stops. Streaming micro-batches come from a
``StreamingQueryListener`` registered by the benchmark.
"""

from __future__ import annotations

import functools
import glob
import json
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    pass_no: int
    op: str
    t0: float
    t1: float
    j0: int
    j1: int

    @property
    def s(self) -> float:
        return self.t1 - self.t0

    @property
    def jobs(self) -> int:
        return self.j1 - self.j0


class Tracer:
    """Span recorder. While ``enabled`` is false, ``span`` costs one branch.

    The closed loop runs one op at a time, so ``pass_no``/``op`` set by the
    main thread also tag spans opened on pool threads during that op.
    """

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self.counts: list[tuple[int, str, float]] = []
        self.pass_no = -1
        self.op = ""
        self._sched = None

    def bind(self, spark) -> None:
        self._sched = spark.sparkContext._jsc.sc().dagScheduler()

    def jobs(self) -> int:
        return self._sched.nextJobId()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        j0, t0 = self.jobs(), time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.spans.append(Span(name, self.pass_no, self.op, t0, t1, j0, self.jobs()))

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts.append((self.pass_no, name, value))

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def install(tracer: Tracer) -> None:
    """Wrap the layer entry points that package code calls internally.

    Must run before ``registry.all_queries()`` imports the operator modules:
    they bind ``table`` by name at import, so a later patch of
    ``catalog.table`` would not be seen by them.
    """
    import gmt_dbt_spark.catalog as catalog
    from gmt_dbt_spark.plans.models import ModelProject

    catalog.table = tracer.wrap(catalog.table, "catalog.table")
    # one span per model; ModelProject.run calls it from its pool threads
    ModelProject._materialize = tracer.wrap(ModelProject._materialize, "models.model")


class StreamListener:
    """Collects micro-batch progress for the streaming layer."""

    def __init__(self, tracer: Tracer) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                with outer._cv:
                    outer.started += 1

            def onQueryProgress(self, event):
                p = event.progress
                rows = sum(s.numRowsTotal for s in p.stateOperators)
                with outer._cv:
                    outer.batches.append((tracer.pass_no, tracer.op,
                                          p.batchDuration, rows))

            def onQueryTerminated(self, event):
                with outer._cv:
                    outer.terminated += 1
                    outer._cv.notify_all()

        self.listener = _L()
        self._cv = threading.Condition()
        self.started = self.terminated = 0
        self.batches: list[tuple[int, str, int, int]] = []

    def drain(self, timeout: float = 10.0) -> None:
        """Wait until every started query has reported its termination,
        so that its progress events are attributed to the op that ran it."""
        with self._cv:
            self._cv.wait_for(lambda: self.terminated >= self.started, timeout)


# ------------------------------------------------------------ event log

# Plan nodes that move or hold data rather than evaluate rows; they are never
# counted as running outside whole-stage codegen.
_STRUCTURAL = (
    "AdaptiveSparkPlan", "WholeStageCodegen", "InputAdapter", "Exchange",
    "BroadcastExchange", "ReusedExchange", "ShuffleQueryStage", "BroadcastQueryStage",
    "TableCacheQueryStage", "ResultQueryStage", "AQEShuffleRead", "Scan", "BatchScan",
    "LocalTableScan", "InMemoryTableScan", "ColumnarToRow", "RowToColumnar",
    "WriteToDataSourceV2", "AppendData", "OverwriteByExpression",
    "OverwritePartitionsDynamic", "WriteFiles", "Execute", "CommandResult", "Subquery",
    "SubqueryBroadcast", "ReusedSubquery", "Union", "Coalesce", "CollectLimit",
    "TakeOrderedAndProject", "GlobalLimit", "LocalLimit", "Range",
    "SerializeFromObject", "DeserializeToObject",
)
_PYTHON_NODES = ("Python", "InPandas", "InArrow", "ArrowEval")


def _plan_counts(info: dict) -> tuple[int, int]:
    """(operators run outside whole-stage codegen + interpreted lambda
    expressions, Python evaluation operators) in one sparkPlanInfo tree."""
    fallback = python = 0
    stack = [(info, False)]
    while stack:
        node, in_codegen = stack.pop()
        name = node.get("nodeName", "")
        simple = node.get("simpleString", "")
        if any(p in name for p in _PYTHON_NODES):
            python += 1
        elif not in_codegen and not name.startswith(_STRUCTURAL):
            fallback += 1
        fallback += simple.count("lambdafunction(")
        child_cg = True if name.startswith("WholeStageCodegen") else (
            False if name == "InputAdapter" else in_codegen)
        stack.extend((c, child_cg) for c in node.get("children", []))
    return fallback, python


@dataclass
class JobStats:
    stages: int = 0
    task_s: float = 0.0
    task_skew: float = 1.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    codegen_fallback_nodes: int = 0
    python_eval_nodes: int = 0


class EventLog:
    """Per-job execution figures parsed from one application's event log."""

    def __init__(self, log_dir: str) -> None:
        self.job_stages: dict[int, list[int]] = {}
        self.job_sql: dict[int, int] = {}
        self.stage_tasks: dict[int, list[dict]] = {}
        self.sql_plan: dict[int, dict] = {}
        for path in sorted(glob.glob(f"{log_dir}/*")):
            with open(path, encoding="utf-8") as f:
                for line in f:
                    self._event(json.loads(line))
        self.stage_job: dict[int, int] = {}
        for job in sorted(self.job_stages):
            for st in self.job_stages[job]:
                if st in self.stage_tasks:
                    self.stage_job.setdefault(st, job)

    def _event(self, e: dict) -> None:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            job = e["Job ID"]
            self.job_stages[job] = e.get("Stage IDs", [])
            sql = (e.get("Properties") or {}).get("spark.sql.execution.id")
            if sql is not None:
                self.job_sql[job] = int(sql)
        elif kind == "SparkListenerTaskEnd":
            info, m = e.get("Task Info", {}), e.get("Task Metrics") or {}
            sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
            self.stage_tasks.setdefault(e["Stage ID"], []).append({
                "ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                "read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "write": sw.get("Shuffle Bytes Written", 0),
                "spill": m.get("Disk Bytes Spilled", 0),
            })
        elif kind.endswith(("SparkListenerSQLExecutionStart",
                            "SparkListenerSQLAdaptiveExecutionUpdate")):
            # the last update of an execution carries its final adaptive plan
            self.sql_plan[e["executionId"]] = e.get("sparkPlanInfo", {})

    def stats(self, jobs: set[int]) -> JobStats:
        out = JobStats()
        stages = [s for s, j in self.stage_job.items() if j in jobs]
        mb = 1024.0 * 1024.0
        for s in stages:
            tasks = self.stage_tasks[s]
            ms = sorted(t["ms"] for t in tasks)
            out.task_s += sum(ms) / 1000.0
            out.shuffle_read_mb += sum(t["read"] for t in tasks) / mb
            out.shuffle_write_mb += sum(t["write"] for t in tasks) / mb
            out.spill_mb += sum(t["spill"] for t in tasks) / mb
            med = statistics.median(ms)
            if len(ms) >= 2 and med > 0:
                out.task_skew = max(out.task_skew, ms[-1] / med)
        out.stages = len(stages)
        for sql in {self.job_sql[j] for j in jobs if j in self.job_sql}:
            fb, py = _plan_counts(self.sql_plan.get(sql, {}))
            out.codegen_fallback_nodes += fb
            out.python_eval_nodes += py
        return out
