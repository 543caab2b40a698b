"""Per-layer tracing for the benchmark, recorded from the benchmark's side.

A :class:`Tracer` wraps the program's public layer functions *as the callers
import them* (``plans.pipeline``, ``api``) and the benchmark's own calls.
Every wrapped call is a span with its own Spark job group; when the span ends
the tracer waits for Spark's listener bus to drain and reads the group's job
and stage counters from Spark's status REST API. Spans and counters stay in
memory and are written out once, when the run ends.

A span whose job group ran at least one Spark job counts as ``exec`` (an
action: its wall time is execution); one that ran none counts as ``build``
(driver-side plan construction). Per-layer times are self times: a span's
duration minus the part covered by its child spans, so nothing is counted
twice.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
import urllib.request

# layer name -> the public functions the benchmark wraps, as (module, name)
# pairs naming the namespace the caller looks the function up in
WRAPPED = {
    "sources.parquet": [
        ("etdtransform_spark.plans.pipeline", "read_family"),
        ("etdtransform_spark.api", "read_family"),
        ("etdtransform_spark.api", "join_index"),
    ],
    "sources.knmi": [("etdtransform_spark.api", "join_weather_data")],
    "operators.impute": [
        ("etdtransform_spark.plans.pipeline", "household_diff_max_bounds"),
        ("etdtransform_spark.plans.pipeline", "calculate_average_diff"),
        ("etdtransform_spark.plans.pipeline", "impute_and_normalize"),
        ("etdtransform_spark.plans.pipeline", "imputation_summaries"),
    ],
    "operators.calculated": [
        ("etdtransform_spark.plans.pipeline", "add_calculated_columns")
    ],
    "operators.resample": [("etdtransform_spark.plans.pipeline", "resample")],
    "operators.aggregate": [
        ("etdtransform_spark.plans.pipeline", "aggregate_project_data")
    ],
    "api": [
        ("etdtransform_spark.api", "add_rolling_avg"),
        ("etdtransform_spark.api", "weekly_stats"),
        ("etdtransform_spark.api", "mark_coldest_weeks"),
    ],
}

# which layer's work a family write executes, for the writes run_pipeline
# makes (the write runs the plan that layer built)
FAMILY_LAYER = {
    "household_default": "sources.parquet",
    "household_diff_max_bounds": "operators.impute",
    "avg_diffs": "operators.impute",
    "household_imputed": "operators.impute",
    "impute_gap_stats": "operators.impute",
    "impute_summary_household": "operators.impute",
    "impute_summary_project": "operators.impute",
    # an inline groupBy in run_pipeline itself
    "household_aggregated_diff": "plans.pipeline",
    "household_calculated": "operators.calculated",
    "household": "operators.resample",
    "project": "operators.aggregate",
}

LAYERS = [
    "session",
    "sources.parquet",
    "sources.knmi",
    "operators.impute",
    "operators.calculated",
    "operators.resample",
    "operators.aggregate",
    "api",
    "plans.pipeline",
    "operators.text",
    "operators.dedup",
]
# read per job group from the REST API; build_ms and exec_ms come from spans
COUNTERS = ["task_ms", "cpu_ms", "gc_ms", "jobs", "tasks", "shuffle_write_mb",
            "spill_mb", "input_records"]
MB = 1e6


class Span:
    __slots__ = ("id", "parent", "layer", "name", "start", "end", "group",
                 "counters", "child_ms", "book_ms", "phase")

    def __init__(self, sid, parent, layer, name, phase):
        self.id, self.parent, self.layer, self.name = sid, parent, layer, name
        self.phase = phase
        self.start = self.end = 0.0
        self.group = f"perfbench-{sid}"
        self.counters: dict[str, float] = {}
        # time covered by child spans, their tracer bookkeeping included
        self.child_ms = 0.0
        # this span's own tracer bookkeeping (outside start..end)
        self.book_ms = 0.0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0

    @property
    def self_ms(self) -> float:
        return self.ms - self.child_ms

    @property
    def kind(self) -> str:
        return "exec" if self.counters.get("jobs", 0) else "build"


class Tracer:
    """Collects spans. With ``spark=None`` it is a no-op recorder that costs
    one attribute check per call (the untraced run)."""

    def __init__(self, spark=None):
        self.enabled = spark is not None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.phase = "setup"
        if self.enabled:
            self.sc = spark.sparkContext
            self.base = (
                f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
            )

    # -- spans -------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), parent.id if parent else None, layer, name,
                  self.phase)
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, f"{layer}:{name}")
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, f"{parent.layer}:{parent.name}")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            sp.counters = self._counters(sp.group)
            sp.book_ms = (sp.start - t0 + time.perf_counter() - sp.end) * 1000.0
            if parent is not None:
                parent.child_ms += sp.ms + sp.book_ms

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def _counters(self, group: str) -> dict[str, float]:
        # the REST API is fed by the listener bus: drain it first so the
        # group's jobs and stages are complete
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        status = self.sc.statusTracker()
        jobs = [status.getJobInfo(j) for j in status.getJobIdsForGroup(group)]
        c = dict.fromkeys(COUNTERS, 0.0)
        c["jobs"] = float(len(jobs))
        for sid in sorted({s for j in jobs if j for s in j.stageIds}):
            for st in self._get(f"/stages/{sid}?details=false"):
                if st["status"] == "SKIPPED":
                    continue
                c["tasks"] += st["numCompleteTasks"]
                c["task_ms"] += st["executorRunTime"]
                c["cpu_ms"] += st["executorCpuTime"] / 1e6
                c["gc_ms"] += st["jvmGcTime"]
                c["shuffle_write_mb"] += st["shuffleWriteBytes"] / MB
                c["spill_mb"] += st["diskBytesSpilled"] / MB
                c["input_records"] += st["inputRecords"]
        return c

    # -- wrapping ------------------------------------------------------------
    def wrap(self, layer: str, fn):
        """``fn`` with every call recorded as a ``layer`` span."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(layer, fn.__name__):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        """Wrap the layer functions in the namespaces that call them, and
        ``write_family`` in ``plans.pipeline`` with the layer whose plan the
        write executes."""
        if not self.enabled:
            return
        import importlib

        for layer, targets in WRAPPED.items():
            for mod_name, attr in targets:
                mod = importlib.import_module(mod_name)
                setattr(mod, attr, self.wrap(layer, getattr(mod, attr)))
        pipeline = importlib.import_module("etdtransform_spark.plans.pipeline")
        write_family = pipeline.write_family

        @functools.wraps(write_family)
        def traced_write(df, base_folder, name, interval=None, **kwargs):
            with self.span(FAMILY_LAYER.get(name, "plans.pipeline"),
                           f"write:{name}" + (f"_{interval}" if interval else "")):
                return write_family(df, base_folder, name, interval=interval, **kwargs)

        pipeline.write_family = traced_write

    # -- reporting -----------------------------------------------------------
    def layer_totals(self, phase: str) -> dict[str, dict[str, float]]:
        """Sum of self times and counters per layer over spans of ``phase``.
        Spans of the benchmark's own op container (layer ``op``) are not a
        layer and are left out."""
        out = {
            layer: dict.fromkeys(["build_ms", "exec_ms", *COUNTERS], 0.0)
            for layer in LAYERS
        }
        for sp in self.spans:
            if sp.phase != phase or sp.layer not in out:
                continue
            acc = out[sp.layer]
            acc[f"{sp.kind}_ms"] += sp.self_ms
            for k, v in sp.counters.items():
                acc[k] += v
        return out

    def dump(self, path: str, extra: dict) -> None:
        doc = {
            **extra,
            "spans": [
                {
                    "id": sp.id, "parent": sp.parent, "layer": sp.layer,
                    "name": sp.name, "phase": sp.phase, "kind": sp.kind,
                    "ms": round(sp.ms, 3), "self_ms": round(sp.self_ms, 3),
                    "book_ms": round(sp.book_ms, 3),
                    "counters": sp.counters,
                }
                for sp in self.spans
            ],
        }
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1)
