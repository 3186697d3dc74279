"""Spans around calls into the engine, and the Spark event-log fold.

A traced run wraps each layer's public function (a module attribute
or class method) so that every call records a span: name, parent,
start and end, kept in memory. While a span is open the Spark job
description names it, so the event log attributes every job, stage,
task and SQL metric to the innermost span, and through it to the op.

Spans time what the driver does inside a call: building plans and
the eager jobs the call runs (fits, ``persist`` + ``count``, collects).
The lazily built rest of a plan runs in the op's sink spans, and the
event log's SQL metrics split that time by physical operator.
"""

from __future__ import annotations

import contextlib
import glob
import importlib
import json
import re
import time
from collections import defaultdict

# (module, attribute, span name): the layers a traced run times
LAYERS = [
    ("ballet_spark.plans.materialize", "materialize", "materialize.materialize"),
    ("ballet_spark.plans.materialize", "read_matrix", "materialize.read_matrix"),
    ("ballet_spark.core", "FeatureEngineeringPipeline.fit", "core.fit"),
    ("ballet_spark.core", "FittedFeaturePipeline.transform", "core.transform"),
    ("ballet_spark.operators.asof", "asof_join", "asof.asof_join"),
    ("ballet_spark.plans.skew", "head_keys", "skew.head_keys"),
    ("ballet_spark.plans.skew", "salted_running_agg", "skew.salted_running_agg"),
    ("ballet_spark.operators.dedup", "minhash_lsh_pairs", "dedup.minhash_lsh_pairs"),
    ("ballet_spark.operators.dedup", "embedding_neardup_pairs", "dedup.embedding_neardup_pairs"),
    ("ballet_spark.operators.components", "connected_components", "components.connected_components"),
    ("ballet_spark.operators.components", "canonical_docs", "components.canonical_docs"),
    ("ballet_spark.cache", "spread_small_input", "cache.spread_small_input"),
]

# physical operators reported under a shorter name in sql.<Node>.<metric>
SQL_NODE_NAMES = {"Execute InsertIntoHadoopFsRelationCommand": "Write"}
# event-log metric types and the factor that turns a value into the
# reported unit: timings become seconds, sizes stay bytes
UNIT_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0, "sum": 1.0}
# the sql.* metrics reported per op (the trace file keeps all of them)
SQL_METRICS = [
    "sql.WholeStageCodegen.duration_s",
    "sql.Scan_parquet.scan_time_s",
    "sql.Exchange.shuffle_write_time_s",
    "sql.Exchange.data_size_bytes",
    "sql.Sort.sort_time_s",
    "sql.Sort.peak_memory_bytes",
    "sql.HashAggregate.time_in_aggregation_build_s",
    "sql.Window.spill_size_bytes",
    "sql.Write.task_commit_time_s",
    "sql.Write.job_commit_time_s",
    "sql.MapInArrow.time_to_run_Python_workers_s",
    "sql.MapInArrow.data_sent_to_Python_workers_bytes",
    "sql.ArrowEvalPython.time_to_run_Python_workers_s",
    "sql.ArrowEvalPython.data_sent_to_Python_workers_bytes",
    "sql.FlatMapGroupsInPandas.time_to_run_Python_workers_s",
    "sql.FlatMapGroupsInPandas.data_sent_to_Python_workers_bytes",
]


def unit_of(name: str) -> str:
    if name.endswith("rows_per_s"):
        return "rows/s"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("share", "passes", "per_candidate")):
        return "ratio"
    return "count"


class NullTracer:
    """The untraced run: spans cost nothing and record nothing."""

    op = None

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    in_op = span


class Tracer:
    """Spans kept in memory; each open span names the Spark jobs it runs."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.op: str | None = None  # "w<k>" warm-up, "t<k>" timed, "check"

    @contextlib.contextmanager
    def span(self, name: str):
        s = {
            "id": len(self.spans),
            "parent": self.stack[-1]["id"] if self.stack else None,
            "name": name,
            "op": self.op,
            "t0": time.perf_counter(),
        }
        self.spans.append(s)
        self.stack.append(s)
        self.sc.setJobDescription(f"pb/{self.op}/{s['id']}")
        try:
            yield
        finally:
            s["t1"] = time.perf_counter()
            self.stack.pop()
            parent = self.stack[-1]["id"] if self.stack else None
            self.sc.setJobDescription(
                f"pb/{self.op}/{parent}" if parent is not None else f"pb/{self.op}/-"
            )

    @contextlib.contextmanager
    def in_op(self, op: str):
        self.op = op
        with self.span("op"):
            yield
        self.op = None
        self.sc.setJobDescription(None)

    def install(self) -> None:
        """Wrap every layer in ``LAYERS`` with a span, for the rest of
        the process."""
        for mod_name, attr, name in LAYERS:
            owner = importlib.import_module(mod_name)
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            setattr(owner, leaf, self._wrap(owner.__dict__[leaf], name))

    def _wrap(self, fn, name):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def self_times(self, ops: set[str]) -> dict[str, float]:
        """Summed self time per span name over the spans of ``ops``: a
        span's duration minus the durations of its direct children."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["t1"] - s["t0"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["op"] in ops:
                out[s["name"]] += s["t1"] - s["t0"] - child[s["id"]]
        return out

    def within(self, span_id: int, name: str) -> bool:
        """Whether span ``span_id`` or one of its ancestors is ``name``."""
        s = self.spans[span_id]
        while s["name"] != name:
            if s["parent"] is None:
                return False
            s = self.spans[s["parent"]]
        return True


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


class EventLog:
    """The Spark event log of one application, folded per job."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        self.completed: set[int] = set()
        self.tasks: list[tuple[int, dict]] = []  # (stage id, task end event)
        self.metric_defs: dict[int, tuple[str, str, str, str]] = {}
        self.driver_updates: list[tuple[int, int, float]] = []  # (exec id, accum id, value)
        for path in glob.glob(f"{log_dir}/*"):  # one uncompressed file per app
            with open(path) as f:
                for line in f:
                    self._fold(json.loads(line))

    def _fold(self, e: dict) -> None:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = {
                "desc": props.get("spark.job.description") or "",
                "exec": int(props.get("spark.sql.execution.id", -1)),
                "stages": {s["Stage ID"] for s in e["Stage Infos"]},
            }
        elif ev == "SparkListenerStageCompleted":
            self.completed.add(e["Stage Info"]["Stage ID"])
        elif ev == "SparkListenerTaskEnd":
            self.tasks.append((e["Stage ID"], e))
        elif ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            self._plan(e["sparkPlanInfo"])
        elif ev.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
            for m in e.get("sqlPlanMetrics", []):
                self.metric_defs.setdefault(
                    m["accumulatorId"], ("", m["name"], m["metricType"], "")
                )
        elif ev.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in e["accumUpdates"]:
                self.driver_updates.append((e["executionId"], acc_id, _num(value)))

    def _plan(self, node: dict) -> None:
        location = str(node.get("metadata", {}).get("Location", ""))
        for m in node.get("metrics", []):
            self.metric_defs[m["accumulatorId"]] = (
                node["nodeName"], m["name"], m["metricType"], location
            )
        for child in node.get("children", []):
            self._plan(child)

    def job_span(self, job: dict) -> tuple[str, int | None] | None:
        """(op, span id) from a job description ``pb/<op>/<span>``."""
        parts = job["desc"].split("/")
        if len(parts) != 3 or parts[0] != "pb":
            return None
        return parts[1], (None if parts[2] == "-" else int(parts[2]))


def fold(log: EventLog, tracer: Tracer, ops: set[str], source_paths: list[str]) -> dict:
    """Per-layer totals over the jobs of ``ops`` (not yet divided by
    the op count); ``scan.source_rows_read`` counts the rows that
    parquet scans of ``source_paths`` produced."""
    out: dict[str, float] = defaultdict(float)
    stages: set[int] = set()
    execs: set[int] = set()
    for job in log.jobs.values():
        where = log.job_span(job)
        if where is None or where[0] not in ops:
            continue
        span_id = where[1]
        out["spark.jobs"] += 1
        if span_id is None or not tracer.within(span_id, "sink"):
            out["spark.jobs_before_sink"] += 1
        if span_id is not None and tracer.within(span_id, "core.fit"):
            out["core.fit_jobs"] += 1
        stages |= job["stages"]
        if job["exec"] >= 0:
            execs.add(job["exec"])
    # stages a job lists but skips (shuffle output reused) never complete
    out["spark.stages"] = float(len(stages & log.completed))
    accum = defaultdict(float)
    for stage_id, e in log.tasks:
        if stage_id not in stages:
            continue
        out["spark.tasks"] += 1
        m = e.get("Task Metrics") or {}
        out["executor.cpu_s"] += _num(m.get("Executor CPU Time")) * 1e-9
        out["executor.run_s"] += _num(m.get("Executor Run Time")) * 1e-3
        out["jvm.gc_s"] += _num(m.get("JVM GC Time")) * 1e-3
        out["scan.records_read"] += _num((m.get("Input Metrics") or {}).get("Records Read"))
        out["output.bytes_written"] += _num((m.get("Output Metrics") or {}).get("Bytes Written"))
        out["shuffle.bytes_written"] += _num(
            (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written")
        )
        out["spill.bytes"] += _num(m.get("Disk Bytes Spilled"))
        for a in (e.get("Task Info") or {}).get("Accumulables", []):
            if a.get("ID") in log.metric_defs:
                accum[a["ID"]] += _num(a.get("Update"))
    for exec_id, acc_id, value in log.driver_updates:
        if exec_id in execs and acc_id in log.metric_defs:
            accum[acc_id] += value
    for acc_id, value in accum.items():
        node, name, mtype, location = log.metric_defs[acc_id]
        scale = UNIT_SCALE.get(mtype)
        if node.startswith("Scan parquet") and name == "number of output rows":
            if any(p in location for p in source_paths):
                out["scan.source_rows_read"] += value
        elif name == "number of written files":
            out["output.files_written"] += value
        elif name == "time to run Python workers":
            # the unit comes from the metric's declared type, never
            # assumed: an unknown type is reported, not guessed
            if scale is None:
                raise ValueError(f"unknown unit {mtype!r} for {name!r}")
            out["python.run_s"] += value * scale
        elif name == "data sent to Python workers":
            out["python.bytes_sent"] += value
        elif name == "data returned from Python workers":
            out["python.bytes_returned"] += value
        if mtype in ("timing", "nsTiming", "size"):
            # "WholeStageCodegen (3)" and its siblings fold into one name
            base = re.sub(r"\s*\(\d+\)$", "", node)
            key = SQL_NODE_NAMES.get(base) or re.sub(r"\W+", "_", base).strip("_")
            metric = re.sub(r"\W+", "_", name).strip("_")
            suffix = "_bytes" if mtype == "size" else "_s"
            out[f"sql.{key}.{metric}{suffix}"] += value * scale
    # pin the unit of the Python-worker timing: per task it is part of
    # the task's run time, so a larger total means a misread unit
    if out["python.run_s"] > 1.05 * out["executor.run_s"] + 1e-3:
        raise ValueError(
            f"Python worker time {out['python.run_s']:.3f}s exceeds task run time "
            f"{out['executor.run_s']:.3f}s: the event log's unit is not the one declared"
        )
    return out


# per-op totals taken from the event log as they are
EVENT_COUNTS = [
    "spark.jobs", "spark.jobs_before_sink", "spark.stages", "spark.tasks",
    "core.fit_jobs", "scan.records_read", "output.bytes_written",
    "output.files_written", "shuffle.bytes_written", "spill.bytes",
    "jvm.gc_s", "executor.cpu_s", "executor.run_s", "python.run_s",
    "python.bytes_sent", "python.bytes_returned",
]


def per_op(log: EventLog, tracer: Tracer, ops: set[str], sources: list[str],
           source_rows: int) -> tuple[dict, dict]:
    """Per-layer metrics averaged over ``ops``, and every sql.* metric."""
    n = len(ops)
    totals = fold(log, tracer, ops, sources)
    m = {name: totals.get(name, 0.0) / n for name in EVENT_COUNTS}
    self_s = tracer.self_times(ops)
    for _, _, name in LAYERS:
        m[f"{name}_s"] = self_s.get(name, 0.0) / n
    # outermost sink spans only: a sink inside a sink is counted once
    sink_s = sum(
        s["t1"] - s["t0"] for s in tracer.spans
        if s["op"] in ops and s["name"] == "sink"
        and (s["parent"] is None or not tracer.within(s["parent"], "sink"))
    )
    op_s = sum(s["t1"] - s["t0"] for s in tracer.spans if s["op"] in ops and s["name"] == "op")
    m["spark.sink_s"] = sink_s / n
    m["spark.construct_s"] = (op_s - sink_s) / n
    m["scan.source_passes"] = totals.get("scan.source_rows_read", 0.0) / n / source_rows
    sql_all = {k: v / n for k, v in totals.items() if k.startswith("sql.")}
    for name in SQL_METRICS:
        m[name] = sql_all.get(name, 0.0)
    return m, sql_all
