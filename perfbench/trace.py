"""Traced-run instrumentation, kept entirely in the benchmark.

``Tracer.install()`` wraps the public functions of each engine layer
(by replacing the module attributes that hold them, in every loaded
module of the package that imported them) and a few PySpark entry
points (``DataFrame.collect``, ``DataFrameWriter.parquet``). Each call
records a span — name, layer, start, end, parent span, jobs submitted
inside it — in memory; ``Tracer.summary()`` folds them into per-layer
numbers and ``Tracer.dump()`` writes the spans out when the run ends.

End-to-end metrics never come from a traced run: the wrappers add
py4j round trips (job counters, planner phase reads) to every call.
"""

from __future__ import annotations

import functools
import importlib
import json
import statistics
import sys
import threading
import time
import types

PKG = "database_activity_monitoring_dam_system_spark"

# layer name → (module suffix, public function names or None for all)
LAYERS: dict[str, tuple[str, tuple[str, ...] | None]] = {
    "sources": ("sources.testdata", ("load_table",)),
    "sources.agent": ("sources.agent", ("normalize_agent_events",)),
    "operators.analytics": ("operators.analytics", None),
    "operators.anomaly": ("operators.anomaly", None),
    "operators.rules": ("operators.rules", None),
    "operators.dedup": ("operators.dedup", None),
    "operators.textops": ("operators.textops", None),
    "operators.packing": ("operators.packing", None),
    "operators.sampling": ("operators.sampling", None),
    "operators.similarity": ("operators.similarity", None),
    "streaming": ("streaming.ingest", ("start_ingest",)),
    "pipeline": ("pipeline", ("run_corpus_pipeline",)),
}
PIPELINE_STAGES = ("dedup", "textops", "packing")
API_METHODS = (
    "dashboard_data", "chart_data", "compliance_report", "anomalies",
    "user_activities", "behavior_profile", "stats",
)


class Span:
    __slots__ = ("name", "layer", "start", "end", "parent", "jobs")

    def __init__(self, name: str, layer: str, parent: int | None) -> None:
        self.name, self.layer, self.parent = name, layer, parent
        self.start = time.perf_counter()
        self.end = self.start
        self.jobs = 0


class Tracer:
    def __init__(self, counters) -> None:
        self.counters = counters  # probes.Spark
        self.spans: list[Span] = []
        self.catalyst_ms = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []
        self.t0 = time.perf_counter()

    # ── spans ──────────────────────────────────────────────────────────
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, layer: str) -> int:
        stack = self._stack()
        with self._lock:
            span = Span(name, layer, stack[-1] if stack else None)
            self.spans.append(span)
            idx = len(self.spans) - 1
        span.jobs = -self.counters.job_count()
        stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        span = self.spans[idx]
        span.jobs += self.counters.job_count()
        span.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] == idx:
            stack.pop()

    # ── wrapping ───────────────────────────────────────────────────────
    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            idx = tracer.open(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(idx)

        return wrapper

    def _replace_everywhere(self, original, wrapper) -> None:
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(PKG):
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    self._restore.append((mod, attr, original))
                    setattr(mod, attr, wrapper)

    def install(self) -> None:
        for layer, (suffix, names) in LAYERS.items():
            mod = importlib.import_module(f"{PKG}.{suffix}")
            if names is None:
                names = tuple(
                    n for n, v in vars(mod).items()
                    if not n.startswith("_")
                    and isinstance(v, types.FunctionType)
                    and v.__module__ == mod.__name__
                )
            for n in names:
                fn = getattr(mod, n)
                self._replace_everywhere(fn, self._wrap(fn, f"{layer}.{n}", layer))
        api = importlib.import_module(f"{PKG}.api")
        for m in API_METHODS:
            fn = getattr(api.DamAnalytics, m)
            self._restore.append((api.DamAnalytics, m, fn))
            setattr(api.DamAnalytics, m, self._wrap(fn, f"api.{m}", "api"))
        self._wrap_pyspark()

    def _wrap_pyspark(self) -> None:
        from pyspark.sql import DataFrameWriter

        try:  # Spark 4: the classic (non-Connect) DataFrame overrides collect
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:
            from pyspark.sql import DataFrame

        tracer = self
        collect = DataFrame.collect

        def traced_collect(df, *a, **kw):
            idx = tracer.open("pyspark.collect", "collect")
            try:
                rows = collect(df, *a, **kw)
            finally:
                tracer.close(idx)
            tracer._read_phases(df)
            return rows

        parquet = DataFrameWriter.parquet

        def traced_parquet(writer, path, *a, **kw):
            idx = tracer.open(f"sinks.parquet:{path}", "sinks")
            try:
                return parquet(writer, path, *a, **kw)
            finally:
                tracer.close(idx)

        self._restore.append((DataFrame, "collect", collect))
        self._restore.append((DataFrameWriter, "parquet", parquet))
        DataFrame.collect = traced_collect
        DataFrameWriter.parquet = traced_parquet

    def _read_phases(self, df) -> None:
        try:
            phases = df._jdf.queryExecution().tracker().phases()
        except Exception:  # a frame without a Dataset behind it
            return
        for p in self.catalyst_ms:
            opt = phases.get(p)
            if opt.isDefined():
                self.catalyst_ms[p] += float(opt.get().durationMs())

    def uninstall(self) -> None:
        for owner, attr, val in reversed(self._restore):
            setattr(owner, attr, val)
        self._restore.clear()

    # ── summary ────────────────────────────────────────────────────────
    def _outermost(self, pred) -> list[Span]:
        """Spans matching ``pred`` with no matching ancestor."""
        out = []
        for s in self.spans:
            p, nested = s.parent, False
            while p is not None:
                if pred(self.spans[p]):
                    nested = True
                    break
                p = self.spans[p].parent
            if pred(s) and not nested:
                out.append(s)
        return out

    def _under(self, span: Span, layer: str) -> bool:
        p = span.parent
        while p is not None:
            if self.spans[p].layer == layer:
                return True
            p = self.spans[p].parent
        return False

    def summary(self) -> tuple[dict, dict]:
        """(generic per-layer numbers, workload-specific breakdown)."""
        def dur(spans):
            return sum(s.end - s.start for s in spans)

        src = self._outermost(lambda s: s.layer.startswith("sources"))
        ops = self._outermost(lambda s: s.layer.startswith("operators"))
        generic = {
            "sources.calls": len(src),
            "sources.s": dur(src),
            "construct.s": dur(ops),
            "construct.jobs": sum(s.jobs for s in ops),
            "catalyst.analysis_ms": self.catalyst_ms["analysis"],
            "catalyst.optimization_ms": self.catalyst_ms["optimization"],
            "catalyst.planning_ms": self.catalyst_ms["planning"],
        }
        # the corpus pipeline's stage operators: outermost operator spans
        # inside a pipeline run, by operator module
        for stage in PIPELINE_STAGES:
            inside = [s for s in ops if s.layer == f"operators.{stage}" and self._under(s, "pipeline")]
            generic[f"pipeline.{stage}.s"] = dur(inside)
            generic[f"pipeline.{stage}.jobs"] = sum(s.jobs for s in inside)
        detail: dict = {}
        by_name: dict[str, list[float]] = {}
        for s in self.spans:
            if s.layer in ("api", "pipeline", "streaming", "sinks"):
                key = s.name
                if s.layer == "sinks":
                    key = "sinks." + s.name.rsplit("/", 1)[-1]
                by_name.setdefault(key, []).append(s.end - s.start)
        for key, ds in sorted(by_name.items()):
            detail[f"{key}.calls"] = len(ds)
            detail[f"{key}.p50_s"] = statistics.median(ds)
            detail[f"{key}.total_s"] = sum(ds)
        per_op: dict[str, float] = {}
        for s in ops:
            per_op[s.name] = per_op.get(s.name, 0.0) + (s.end - s.start)
        for name, d in sorted(per_op.items(), key=lambda kv: -kv[1])[:15]:
            detail[f"{name}.s"] = d
        return generic, detail

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                [
                    {
                        "name": s.name, "layer": s.layer,
                        "start": s.start - self.t0, "end": s.end - self.t0,
                        "parent": s.parent, "jobs": s.jobs,
                    }
                    for s in self.spans
                ],
                fh,
            )
