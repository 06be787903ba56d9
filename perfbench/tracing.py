"""The traced run: spans around calls into the program's layers, with
counters from Spark's own status stores attached to each span.

Spans are recorded by wrappers that this module installs on the
layers' public functions for the length of one traced pass and removes
afterwards; the program itself is not changed. Every span sets a Spark
job group of its own, so each job Spark runs can be attributed to the
innermost span that caused it. Jobs started under a group the
benchmark did not set (a streaming query's micro-batches run under the
query's run id) go to the innermost span open at their submission.

Everything is kept in memory during the pass. ``collect`` reads the
status stores once, after the pass, and returns the per-layer metrics
and the trace document that ``run.py`` writes to a file.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import json
import re
import time
from dataclasses import dataclass, field

from stats import union_seconds

PKG = "smart_energy_consumption_analytics_using_big_data_spark"
TRACE_SCHEMA = "perfbench.trace/2"
# Job time in an operation that no child span owns, tolerated as rounding.
ACCOUNT_TOLERANCE_S = 1e-3

# (module, public function, layer) wrapped during a traced pass.
LAYER_FUNCTIONS = [
    (f"{PKG}.cli", "cmd_ingest", "cli"),
    (f"{PKG}.cli", "cmd_preprocess", "cli"),
    (f"{PKG}.cli", "cmd_features", "cli"),
    (f"{PKG}.cli", "cmd_forecast", "cli"),
    (f"{PKG}.cli", "cmd_anomaly", "cli"),
    (f"{PKG}.sources.readers", "read_csv", "sources"),
    (f"{PKG}.sources.writers", "write_parquet", "sources"),
    (f"{PKG}.pipeline.energy", "preprocess_to_parquet", "pipeline"),
    (f"{PKG}.pipeline.energy", "engineer_features", "pipeline"),
    (f"{PKG}.ml.forecast", "add_forecast_features", "ml"),
    (f"{PKG}.ml.forecast", "train_linear_forecast", "ml"),
    (f"{PKG}.ml.forecast", "train_rf_forecast", "ml"),
    (f"{PKG}.ml.anomaly", "detect_anomalies", "ml"),
]

# Per-layer metrics: name -> (the end-to-end metric and workload it
# should move, where it should barely move). Units and directions are in
# BENCHMARK.json; a traced run prints both.
PER_LAYER = {
    "cli.ingest_s": ("pass_s on pipeline", "queries"),
    "cli.preprocess_s": ("pass_s on pipeline", "queries"),
    "cli.features_s": ("pass_s on pipeline", "queries"),
    "cli.forecast_s": ("pass_s on pipeline", "queries"),
    "cli.anomaly_s": ("pass_s on pipeline", "queries"),
    "sources.write_parquet_s": ("pass_s on pipeline", "queries"),
    "sources.write_parquet_calls": ("pass_s on pipeline", "queries"),
    "sources.bytes_written": ("pass_s on pipeline", "queries"),
    "sources.bytes_read": ("pass_s on pipeline", "queries (17 MB of parquet)"),
    "sources.files_read": ("pass_s on pipeline", "queries"),
    "pipeline.preprocess_to_parquet_s": ("pass_s on pipeline", "queries"),
    "pipeline.engineer_features_build_s": ("pass_s on pipeline", "queries"),
    "ml.train_linear_forecast_s": ("pass_s on pipeline", "queries"),
    "ml.train_rf_forecast_s": ("pass_s on pipeline", "queries"),
    "ml.detect_anomalies_s": ("pass_s on pipeline", "queries"),
    "ml.fit_jobs": ("pass_s on pipeline", "queries"),
    "plans.build_s": ("pass_s, op_p50_s on queries", "pipeline"),
    "plans.build_jobs": ("pass_s, op_p50_s on queries", "pipeline"),
    "plans.execute_s": ("pass_s, op_p50_s on queries", "pipeline"),
    "operators.rows_out": ("op_p90_s on queries", "pipeline"),
    "operators.rows_scanned_per_result_row": ("op_p90_s on queries", "pipeline"),
    "operators.peak_memory_bytes": ("op_p90_s on queries", "pipeline"),
    "operators.spill_bytes": ("op_p90_s on queries", "pipeline"),
    "ext.python_eval_s": ("op_p90_s on queries", "pipeline"),
    "ext.python_rows": ("op_p90_s on queries", "pipeline"),
    "streaming.batches": ("pass_s on queries", "pipeline"),
    "streaming.input_rows": ("pass_s on queries", "pipeline"),
    "streaming.state_rows": ("pass_s on queries", "pipeline"),
    "streaming.batch_s": ("pass_s on queries", "pipeline"),
    "spark.jobs": ("op_p50_s on queries", "-"),
    "spark.stages": ("op_p50_s on queries", "-"),
    "spark.tasks": ("op_p50_s on queries", "-"),
    "spark.failed_tasks": ("every metric", "-"),
    "spark.executor_run_s": ("pass_s on both", "-"),
    "spark.executor_cpu_s": ("pass_s on both", "-"),
    "spark.gc_s": ("pass_s on both", "-"),
    "spark.shuffle_read_bytes": ("pass_s on both", "-"),
    "spark.shuffle_write_bytes": ("pass_s on both", "-"),
    "spark.shuffle_fetch_wait_s": ("pass_s on both", "-"),
    "spark.spill_bytes": ("pass_s on both", "-"),
    "spark.task_skew": ("pass_s on both", "-"),
    "spark.core_busy_ratio": ("pass_s on both", "-"),
    "spark.driver_s": ("op_p50_s on queries", "-"),
    "spark.peak_rss_mb": ("none: memory, not time", "-"),
    "trace.overhead_s": ("none: traced minus untraced pass_s", "-"),
}


@dataclass
class Span:
    trace_id: str
    span_id: int
    parent_id: int | None
    name: str
    layer: str
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class NullTracer:
    """Stand-in for untimed and untraced passes: records nothing."""

    def span(self, name: str, layer: str):
        return contextlib.nullcontext()


class Tracer:
    """Records spans for one traced pass; ``trace_id`` is shared by all."""

    def __init__(self, sc, trace_id: str):
        self.sc = sc
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._patches: list = []

    def group(self, span: Span) -> str:
        return f"perfbench:{self.trace_id}:{span.span_id}"

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(self.trace_id, next(self._ids), parent and parent.span_id, name, layer, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(self.group(s), name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(self.group(parent), parent.name)
            else:
                self.sc._jsc.clearJobGroup()

    def install(self) -> None:
        """Wrap every function in LAYER_FUNCTIONS with a span."""
        for module_name, attr, layer in LAYER_FUNCTIONS:
            module = importlib.import_module(module_name)
            original = getattr(module, attr)
            self._patches.append((module, attr, original))
            setattr(module, attr, self._wrapped(original, f"{layer}.{attr}", layer))

    def _wrapped(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def uninstall(self) -> None:
        while self._patches:
            module, attr, original = self._patches.pop()
            setattr(module, attr, original)


# --- status-store reading -------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0, "ns": 1e-9,
}


def parse_sql_metric(text: str | None) -> float:
    """Total of one formatted SQL metric: ``"1,813"``, ``"63 ms"`` or
    ``"total (min, med, max ...)\\n2.8 s (...)"``. Times come back in
    seconds and sizes in bytes."""
    if not text:
        return 0.0
    head = text.strip().split("\n")[-1].split(" (")[0].strip()
    m = re.fullmatch(r"(-?[\d,]*\.?\d+)\s*([A-Za-z]*)", head)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


class StatusStores:
    """Reads Spark's job, stage, SQL and streaming status stores as JSON."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        jvm = sc._jvm
        self.gateway = sc._gateway
        self.jvm = jvm
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self.mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self.app = sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def _json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    def jobs(self, lo_ms: float, hi_ms: float) -> list[dict]:
        return [
            j for j in self._json(self.app.jobsList(None))
            if j.get("submissionTime") is not None and lo_ms <= j["submissionTime"] <= hi_ms
        ]

    def stage(self, stage_id: int) -> dict | None:
        try:
            st = self._json(self.app.lastStageAttempt(stage_id))
        except Exception:  # noqa: BLE001 - stage no longer retained
            return None
        if st.get("status") == "SKIPPED":
            return None
        if st.get("numTasks", 0) >= 2:
            qs = self.gateway.new_array(self.jvm.double, 2)
            qs[0], qs[1] = 0.5, 1.0
            summary = self.app.taskSummary(stage_id, st["attemptId"], qs)
            if summary.isDefined():
                med, top = self._json(summary.get())["executorRunTime"]
                st["skew"] = top / med if med > 0 else 1.0
        return st

    def executions(self, lo_ms: float, hi_ms: float) -> list[dict]:
        out = []
        for e in self._json(self.sql.executionsList()):
            if not lo_ms <= e.get("submissionTime", 0) <= hi_ms:
                continue
            eid = e["executionId"]
            values = self._json(self.sql.executionMetrics(eid))
            nodes = []
            for node in self._json(self.sql.planGraph(eid).allNodes()):
                metrics = {
                    m["name"]: parse_sql_metric(values.get(str(m["accumulatorId"])))
                    for m in node.get("metrics", [])
                }
                nodes.append({"name": node["name"], "metrics": metrics})
            out.append({"id": eid, "start": e["submissionTime"], "jobs": list(e.get("jobs", {})), "nodes": nodes})
        return out

    def streams(self, lo_ms: float, hi_ms: float) -> list[dict]:
        store_cls = self.jvm.org.apache.spark.sql.execution.ui.StreamingQueryStatusStore
        data = store_cls(self.app.store()).allQueryUIData()
        out = []
        for i in range(data.size()):
            ui = data.apply(i)
            if not lo_ms <= ui.summary().startTimestamp() <= hi_ms:
                continue
            progress = list(ui.recentProgress())
            out.append(
                {
                    "batches": len(progress),
                    "input_rows": sum(p.numInputRows() for p in progress),
                    "batch_s": sum(p.batchDuration() for p in progress) / 1000.0,
                    "state_rows": sum(s.numRowsTotal() for s in progress[-1].stateOperators())
                    if progress else 0,
                }
            )
        return out


def _stage_counters(stages: list[dict]) -> dict:
    return {
        "stages": len(stages),
        "tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages),
        "failed_tasks": sum(s["numFailedTasks"] for s in stages),
        "executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
        "executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
        "shuffle_fetch_wait_s": sum(s["shuffleFetchWaitTime"] for s in stages) / 1e3,
        "spill_bytes": sum(s["diskBytesSpilled"] for s in stages),
        "output_bytes": sum(s["outputBytes"] for s in stages),
        "output_records": sum(s["outputRecords"] for s in stages),
    }


def _node_sum(executions: list[dict], metric: str, pred=lambda n: True) -> float:
    return sum(
        n["metrics"].get(metric, 0.0) for e in executions for n in e["nodes"] if pred(n)
    )


def _is_python(node: dict) -> bool:
    return "time to run Python workers" in node["metrics"]


def _is_scan(node: dict) -> bool:
    return node["name"].startswith("Scan ")


def collect(spark, tracer: Tracer, pass_span: Span, cores: int, result_rows: int) -> tuple[dict, dict]:
    """Read the status stores for ``pass_span`` and return
    (per-layer metrics, trace document)."""
    stores = StatusStores(spark)
    lo, hi = pass_span.start * 1e3, pass_span.end * 1e3
    spans = tracer.spans
    by_group = {tracer.group(s): s for s in spans}

    def innermost(t_ms: float) -> Span:
        open_ = [s for s in spans if s.start * 1e3 <= t_ms <= s.end * 1e3]
        return max(open_, key=lambda s: s.start) if open_ else pass_span

    jobs = stores.jobs(lo, hi)
    job_span: dict[int, Span] = {}
    for j in jobs:
        job_span[j["jobId"]] = by_group.get(j.get("jobGroup")) or innermost(j["submissionTime"])
    stages: dict[int, dict] = {}
    stage_span: dict[int, Span] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j["stageIds"]:
            if sid not in stages:
                st = stores.stage(sid)
                if st is not None:
                    stages[sid] = st
                    stage_span[sid] = job_span[j["jobId"]]
    executions = stores.executions(lo, hi)
    exec_span: dict[int, Span] = {}
    for e in executions:
        owners = [job_span[int(j)] for j in e["jobs"] if int(j) in job_span]
        exec_span[e["id"]] = owners[0] if owners else innermost(e["start"])
    streams = stores.streams(lo, hi)

    # self counters per span
    for s in spans:
        own_stages = [st for sid, st in stages.items() if stage_span[sid] is s]
        own_execs = [e for e in executions if exec_span[e["id"]] is s]
        s.counters = {
            "jobs": sum(1 for j in jobs if job_span[j["jobId"]] is s),
            **_stage_counters(own_stages),
            "rows_out": _node_sum(own_execs, "number of output rows"),
            "python_eval_s": _node_sum(own_execs, "time to run Python workers", _is_python),
        }

    children: dict[int | None, list[Span]] = {}
    for s in spans:
        children.setdefault(s.parent_id, []).append(s)

    def self_seconds(s: Span) -> float:
        return s.seconds - sum(c.seconds for c in children.get(s.span_id, []))

    def subtree(s: Span) -> list[Span]:
        out = [s]
        for c in children.get(s.span_id, []):
            out.extend(subtree(c))
        return out

    job_intervals = [
        (j["submissionTime"] / 1e3, (j.get("completionTime") or j["submissionTime"]) / 1e3)
        for j in jobs
    ]

    def layer_total(span_name: str) -> float:
        return sum(s.seconds for s in spans if s.name == span_name)

    def jobs_under(layer: str) -> int:
        seen = {id(x) for s in spans if s.layer == layer for x in subtree(s)}
        return sum(1 for j in jobs if id(job_span[j["jobId"]]) in seen)

    all_stages = list(stages.values())
    sc = _stage_counters(all_stages)
    wall = pass_span.seconds
    busy = union_seconds(job_intervals, pass_span.start, pass_span.end)
    scanned = _node_sum(executions, "number of output rows", _is_scan)
    results = result_rows or sc["output_records"]
    skews = [st["skew"] for st in all_stages if "skew" in st]
    metrics = {
        "cli.ingest_s": layer_total("cli.cmd_ingest"),
        "cli.preprocess_s": layer_total("cli.cmd_preprocess"),
        "cli.features_s": layer_total("cli.cmd_features"),
        "cli.forecast_s": layer_total("cli.cmd_forecast"),
        "cli.anomaly_s": layer_total("cli.cmd_anomaly"),
        "sources.write_parquet_s": layer_total("sources.write_parquet"),
        "sources.write_parquet_calls": sum(1 for s in spans if s.name == "sources.write_parquet"),
        "sources.bytes_written": sc["output_bytes"],
        "sources.bytes_read": _node_sum(executions, "size of files read", _is_scan),
        "sources.files_read": _node_sum(executions, "number of files read", _is_scan),
        "pipeline.preprocess_to_parquet_s": layer_total("pipeline.preprocess_to_parquet"),
        "pipeline.engineer_features_build_s": layer_total("pipeline.engineer_features"),
        "ml.train_linear_forecast_s": layer_total("ml.train_linear_forecast"),
        "ml.train_rf_forecast_s": layer_total("ml.train_rf_forecast"),
        "ml.detect_anomalies_s": layer_total("ml.detect_anomalies"),
        "ml.fit_jobs": jobs_under("ml"),
        "plans.build_s": layer_total("plans.build"),
        "plans.build_jobs": sum(
            1 for j in jobs if any(x is job_span[j["jobId"]] for s in spans if s.name == "plans.build" for x in subtree(s))
        ),
        "plans.execute_s": layer_total("plans.execute"),
        "operators.rows_out": _node_sum(executions, "number of output rows"),
        "operators.rows_scanned_per_result_row": scanned / results if results else 0.0,
        "operators.peak_memory_bytes": max(
            (n["metrics"].get("peak memory", 0.0) for e in executions for n in e["nodes"]), default=0.0
        ),
        "operators.spill_bytes": _node_sum(executions, "spill size"),
        "ext.python_eval_s": _node_sum(executions, "time to run Python workers", _is_python),
        "ext.python_rows": _node_sum(executions, "number of output rows", _is_python),
        "streaming.batches": sum(s["batches"] for s in streams),
        "streaming.input_rows": sum(s["input_rows"] for s in streams),
        "streaming.state_rows": sum(s["state_rows"] for s in streams),
        "streaming.batch_s": sum(s["batch_s"] for s in streams),
        "spark.jobs": len(jobs),
        "spark.stages": sc["stages"],
        "spark.tasks": sc["tasks"],
        "spark.failed_tasks": sc["failed_tasks"],
        "spark.executor_run_s": sc["executor_run_s"],
        "spark.executor_cpu_s": sc["executor_cpu_s"],
        "spark.gc_s": sc["gc_s"],
        "spark.shuffle_read_bytes": sc["shuffle_read_bytes"],
        "spark.shuffle_write_bytes": sc["shuffle_write_bytes"],
        "spark.shuffle_fetch_wait_s": sc["shuffle_fetch_wait_s"],
        "spark.spill_bytes": sc["spill_bytes"],
        "spark.task_skew": max(skews, default=1.0),
        "spark.core_busy_ratio": sc["executor_run_s"] / (wall * cores) if wall > 0 else 0.0,
        "spark.driver_s": wall - busy,
    }

    # Every job of an operation should run inside one of its child spans
    # (a layer call). Jobs in the operation's window that no child span
    # owns are unaccounted time: a layer the trace does not cover.
    operations = []
    for op in (s for s in spans if s.layer == "op"):
        layers: dict[str, float] = {}
        for x in subtree(op):
            layers[x.layer] = layers.get(x.layer, 0.0) + self_seconds(x)
        inner = {id(x) for x in subtree(op) if x is not op}
        op_busy = union_seconds(job_intervals, op.start, op.end)
        child_busy = union_seconds(
            [iv for j, iv in zip(jobs, job_intervals) if id(job_span[j["jobId"]]) in inner],
            op.start,
            op.end,
        )
        unaccounted = op_busy - child_busy
        operations.append(
            {
                "name": op.name,
                "wall_s": op.seconds,
                "self_s_by_layer": layers,
                "child_busy_s": child_busy,
                "driver_s": op.seconds - op_busy,
                "unaccounted_s": unaccounted,
                "accounted": unaccounted <= ACCOUNT_TOLERANCE_S,
            }
        )
    self_by_layer: dict[str, float] = {}
    for s in spans:
        self_by_layer[s.layer] = self_by_layer.get(s.layer, 0.0) + self_seconds(s)
    doc = {
        "schema": TRACE_SCHEMA,
        "trace_id": tracer.trace_id,
        "spans": [
            {
                "trace_id": s.trace_id,
                "span_id": s.span_id,
                "parent_id": s.parent_id,
                "name": s.name,
                "layer": s.layer,
                "start": s.start,
                "end": s.end,
                "self_s": self_seconds(s),
                "counters": s.counters,
            }
            for s in spans
        ],
        "operations": operations,
        "self_s_by_layer": self_by_layer,
    }
    return metrics, doc
