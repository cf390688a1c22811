"""Layer tracing from outside the package.

The traced run wraps the package's public layer functions at the names the
lifecycle calls them through (``runner.compile_ruleset``,
``validate_stream.duplicate_id_violations``, ``RunManifest.commit``, ...).
Each wrapper records a span -- name, start, end, parent span, operation id --
and keeps the DataFrame the call returned. After an operation, and outside
its timing, :meth:`Tracer.measure` plans and executes those DataFrames to
split a layer's cost into build, plan and execution time.

Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import re
import threading
import time
from collections import defaultdict

from perfbench import procfs

PKG = "seronet_data_validator_spark"

# (module, attribute, layer): the call sites the lifecycle goes through.
# Both the batch runner and the stream import these functions by name, so each
# import site is wrapped; audio and QC are also imported lazily from their
# own modules.
FRAME_SITES = [
    ("runner", "compile_ruleset", "plans.compile"),
    ("runner", "dedup_violations", "plans.dedup"),
    ("runner", "duplicate_id_violations", "operators.integrity"),
    ("runner", "referential_violations", "operators.integrity"),
    ("runner", "audio_violations", "operators.audio"),
    ("operators.audio", "audio_violations", "operators.audio"),
    ("operators.qc", "qc_violations", "operators.qc"),
    ("streaming.validate_stream", "compile_ruleset", "plans.compile"),
    ("streaming.validate_stream", "dedup_violations", "plans.dedup"),
    ("streaming.validate_stream", "duplicate_id_violations", "operators.integrity"),
    ("streaming.validate_stream", "referential_violations", "operators.integrity"),
]
CALL_SITES = [
    ("runner", "schema_contract_violations", "schema.contract"),
]
MANIFEST_METHODS = [
    ("completed_partitions", "checkpoint.resume"),
    ("prior_verdicts", "checkpoint.resume"),
    ("resume_filter", "checkpoint.resume"),
    ("commit", "checkpoint.commit"),
]
PYTHON_LAYERS = ("operators.audio", "operators.qc")

# Every per-layer metric the traced run prints, with its unit. A layer the
# workload never calls reads 0.
PER_LAYER = {
    "session.start_s": "s",
    "sources.generate_s": "s",
    "sources.input_mb": "MB",
    "schema.contract_s": "s",
    "checkpoint.resume_s": "s",
    "checkpoint.commit_s": "s",
    "checkpoint.manifest_files": "count",
    "plans.compile.calls_per_op": "count",
    "plans.compile.build_s": "s",
    "plans.compile.plan_s": "s",
    "plans.compile.exec_s": "s",
    "plans.compile.rows_out": "count",
    "plans.dedup.exec_s": "s",
    "plans.dedup.rows_in": "count",
    "plans.dedup.rows_out": "count",
    "operators.integrity.build_s": "s",
    "operators.integrity.exec_s": "s",
    "operators.integrity.rows_out": "count",
    "operators.audio.exec_s": "s",
    "operators.audio.python_cpu_s": "s",
    "operators.audio.rows_out": "count",
    "operators.qc.exec_s": "s",
    "operators.qc.python_cpu_s": "s",
    "operators.qc.rows_out": "count",
    "runner.validate_s": "s",
    "runner.self_s": "s",
    "runner.jobs": "count",
    "runner.stages": "count",
    "runner.tasks": "count",
    "plan.scans": "count",
    "plan.exchanges": "count",
    "plan.python_nodes": "count",
    "streaming.batch_s_p50": "s",
    "streaming.batches": "count",
    "streaming.backlog_files_max": "count",
    "streaming.keylog_files_max": "count",
    "streaming.compactions": "count",
    "loadgen.late_s_max": "s",
    "trace.overhead_s": "s",
    "trace.spans": "count",
}

_PLAN_NODE = re.compile(r"^\(\d+\) (\S+)", re.M)


def plan_shape(df) -> dict[str, int]:
    """Scan, Exchange and Python-evaluation node counts of the formatted
    physical plan (cached sub-plans included)."""
    text = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    nodes = _PLAN_NODE.findall(text)
    return {
        "plan.scans": sum("Scan" in n for n in nodes),
        "plan.exchanges": sum(n.endswith("Exchange") for n in nodes),
        "plan.python_nodes": sum(
            "Python" in n or "InPandas" in n or "InArrow" in n for n in nodes
        ),
    }


def _module(name: str):
    return importlib.import_module(f"{PKG}.{name}")


class Tracer:
    """Span recorder plus the DataFrames captured from layer calls.

    ``on`` gates recording, so one run can alternate traced and untraced
    operations and report the difference as the tracing overhead."""

    def __init__(self) -> None:
        self.on = False
        self.op: str | None = None
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._t0 = time.perf_counter()
        # frames of the most recent traced operation or micro-batch, by
        # layer; a compile call opens a new group, since every lifecycle and
        # every micro-batch compiles its rules exactly once, first
        self.frames: dict[str, list[tuple]] = {}
        self._undo: list = []
        self._per_batch = False
        self._batch = -1
        self._measure_batch = -1
        # readings of the micro-batch named by per_batch(measure_batch=...)
        self.batch_readings: dict[str, float] = {}

    def per_batch(self, enabled: bool, measure_batch: int = -1) -> None:
        """Stream mode: each micro-batch is an operation ``batch<k>``, and
        even-numbered batches are traced. A batch starts at its compile
        call, on the stream's own thread.

        A micro-batch's DataFrames can be executed only while the batch
        runs, so batch ``measure_batch`` (an even one) is measured in place,
        at its dedup call, which is the last layer call of a batch."""
        self._per_batch, self._batch, self.on = enabled, -1, False
        self._measure_batch = measure_batch

    # -- spans -------------------------------------------------------------
    @contextlib.contextmanager
    def recording(self, op: str, enabled: bool = True):
        """Record spans and capture frames under operation ``op``."""
        self.op, self.on = op, enabled
        try:
            yield
        finally:
            self.on = False

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.on:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "start": time.perf_counter() - self._t0,
            "end": None,
            "parent": stack[-1] if stack else None,
            "op": self.op,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def op_spans(self, op: str) -> list[dict]:
        return [s for s in self.spans if s["op"] == op and s["end"] is not None]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)

    # -- instrumentation ---------------------------------------------------
    def _wrap(self, fn, layer: str, capture: bool):
        tracer = self

        def wrapper(*args, **kwargs):
            if tracer._per_batch and layer == "plans.compile":
                tracer._batch += 1
                tracer.op = f"batch{tracer._batch}"
                tracer.on = tracer._batch % 2 == 0
            with tracer.span(layer):
                out = fn(*args, **kwargs)
            if capture and tracer.on:
                if layer == "plans.compile":
                    tracer.frames = {}
                tracer.frames.setdefault(layer, []).append((out, args[0]))
                if tracer._per_batch and layer == "plans.dedup" \
                        and tracer._batch == tracer._measure_batch:
                    tracer.batch_readings = tracer.measure(out.sparkSession)
            return out

        wrapper.__wrapped__ = fn
        return wrapper

    def install(self) -> None:
        """Wrap every layer call site; :meth:`uninstall` restores them."""
        for sites, capture in ((FRAME_SITES, True), (CALL_SITES, False)):
            for mod_name, attr, layer in sites:
                mod = _module(mod_name)
                orig = getattr(mod, attr)
                setattr(mod, attr, self._wrap(orig, layer, capture))
                self._undo.append((mod, attr, orig))
        manifest = _module("checkpoint").RunManifest
        for attr, layer in MANIFEST_METHODS:
            orig = getattr(manifest, attr)
            setattr(manifest, attr, self._wrap(orig, layer, False))
            self._undo.append((manifest, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- per-layer numbers ---------------------------------------------------
    def measure(self, spark) -> dict[str, float]:
        """Plan and execute (noop sink) the captured frames, outside any
        operation's timing. Returns readings summed per layer."""
        out: dict[str, float] = defaultdict(float)
        sc = spark.sparkContext
        sc.setJobGroup("perfbench-measure", "per-layer measurement")
        for layer, frames in self.frames.items():
            for df, first_arg in frames:
                t = time.perf_counter()
                # a fresh Dataset, so planning is not served from the lazy
                # executedPlan the original already holds
                df.alias("_plan")._jdf.queryExecution().executedPlan()
                out[f"{layer}.plan_s"] += time.perf_counter() - t
                cpu = procfs.python_worker_cpu_s() if layer in PYTHON_LAYERS else 0.0
                t = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                out[f"{layer}.exec_s"] += time.perf_counter() - t
                if layer in PYTHON_LAYERS:
                    out[f"{layer}.python_cpu_s"] += procfs.python_worker_cpu_s() - cpu
                out[f"{layer}.rows_out"] += df.count()
                if layer == "plans.dedup":
                    out[f"{layer}.rows_in"] += first_arg.count()
        sc.setJobGroup("perfbench-idle", "between operations")
        return out


def outermost(spans: list[dict]) -> list[dict]:
    """The spans not nested in a span of the same name (a resume call made
    inside another resume call is not counted twice)."""
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        p = s["parent"]
        nested = False
        while p is not None and p in by_id:
            if by_id[p]["name"] == s["name"]:
                nested = True
                break
            p = by_id[p]["parent"]
        if not nested:
            out.append(s)
    return out


def layer_spans(spans: list[dict]) -> dict[str, float]:
    """Wall seconds per span name over the outermost spans, plus
    ``plans.compile.calls``: how many times the rules were compiled."""
    top = outermost(spans)
    out: dict[str, float] = defaultdict(float)
    for s in top:
        out[s["name"]] += s["end"] - s["start"]
    out["plans.compile.calls"] = sum(s["name"] == "plans.compile" for s in top)
    return out


def job_counts(spark, group: str) -> dict[str, int]:
    """Spark jobs, and the stages and tasks that ran, under one job group
    (stages skipped because their shuffle output existed are not counted)."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = 0
    for s in stage_ids:
        info = tracker.getStageInfo(s)
        if info is not None and info.numCompletedTasks:
            stages += 1
            tasks += info.numCompletedTasks
    return {"runner.jobs": len(jobs), "runner.stages": stages, "runner.tasks": tasks}
