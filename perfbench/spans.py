"""Per-layer tracing from outside the package.

The tracer replaces public functions of each module with wrappers that
open a span around the call. A span records wall time plus the Spark
jobs and stages submitted while it was open, read from the
DAGScheduler's job and stage id counters. Those counters also see jobs
that the store submits from its own thread pools, which a job group set
on the calling thread would miss. A layer's self time, jobs and stages
exclude what its wrapped child calls account for.

Nothing inside the package changes: ``install`` patches attributes and
``uninstall`` puts the originals back.
"""

from __future__ import annotations

import functools
import time
from dataclasses import dataclass

# layer -> (module path, attribute owner or None for the module, names)
LAYERS: dict[str, list[tuple[str, str | None, list[str]]]] = {
    "pipeline": [
        ("geo_explorer_etl_spark.plans.pipeline", "Pipeline", ["insert_product", "append_product"]),
    ],
    "star_schema": [
        (
            "geo_explorer_etl_spark.plans.star_schema",
            None,
            [
                "explode_metadata_members",
                "build_indicator_theme",
                "build_dimensions",
                "build_dimension_values",
                "build_reference_dates",
                "build_indicators",
                "prepare_values",
                "build_indicator_values",
                "build_geo_ref_bridge",
                "build_geo_level_bridge",
                "grow_date_dimension",
                "build_indicator_metadata",
                "build_dimension_unique_keys",
                "build_related_charts",
            ],
        ),
    ],
    # the pipeline imported the function by name, so patch its binding
    "cube_csv": [("geo_explorer_etl_spark.plans.pipeline", None, ["read_cube_csv"])],
    "wds": [("geo_explorer_etl_spark.sources.wds", "WdsClient", ["cube_metadata"])],
    "store.commit": [
        ("geo_explorer_etl_spark.sources.store", "TableStore", ["replace_product_all", "replace_product", "append"]),
    ],
    "store.read": [
        (
            "geo_explorer_etl_spark.sources.store",
            "TableStore",
            ["read", "read_product_slice", "read_other_products", "max_id", "product_exists"],
        ),
    ],
    "store.dml": [
        ("geo_explorer_etl_spark.sources.store", "TableStore", ["merge_rows", "merge_apply", "delete_where", "update_where"]),
    ],
    "matview": [("geo_explorer_etl_spark.operators.matview", None, ["refresh_matview"])],
    "sql_views": [
        (
            "geo_explorer_etl_spark.plans.sql_views",
            None,
            ["register_star_views", "sql_primary_query", "sql_related_charts_query"],
        ),
    ],
    # the benchmark's own collect(): the store scans and joins run here
    "spark.action": [],
}


@dataclass
class Totals:
    calls: int = 0
    self_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    failed: int = 0

    def add(self, other: "Totals") -> None:
        self.calls += other.calls
        self.self_s += other.self_s
        self.jobs += other.jobs
        self.stages += other.stages
        self.failed += other.failed


@dataclass
class _Frame:
    child_s: float = 0.0
    child_jobs: int = 0
    child_stages: int = 0


class Tracer:
    """Spans keyed by layer name; ``root`` spans (one per benchmark
    operation) collect totals rather than self figures."""

    def __init__(self, spark):
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()
        self._stack: list[_Frame] = []
        self._patches: list[tuple[object, str, object]] = []
        self.layers: dict[str, Totals] = {name: Totals() for name in LAYERS}
        self.ops: dict[str, Totals] = {}
        self.overhead_s = 0.0

    def _counters(self) -> tuple[int, int]:
        # py4j hands the AtomicIntegers back as their int values
        return int(self._dag.nextJobId()), int(self._dag.nextStageId())

    def call(self, layer: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span of ``layer``."""
        t = time.perf_counter()
        j0, s0 = self._counters()
        frame = _Frame()
        self._stack.append(frame)
        start = time.perf_counter()
        self.overhead_s += start - t
        failed = 0
        try:
            return fn(*args, **kwargs)
        except BaseException:
            failed = 1
            raise
        finally:
            end = time.perf_counter()
            j1, s1 = self._counters()
            self._stack.pop()
            total_s, jobs, stages = end - start, j1 - j0, s1 - s0
            stats = self.layers[layer]
            stats.calls += 1
            stats.failed += failed
            stats.self_s += total_s - frame.child_s
            stats.jobs += jobs - frame.child_jobs
            stats.stages += stages - frame.child_stages
            if self._stack:
                parent = self._stack[-1]
                parent.child_s += total_s
                parent.child_jobs += jobs
                parent.child_stages += stages
            self.overhead_s += time.perf_counter() - end

    def op(self, name: str, fn):
        """Run one benchmark operation ``fn()`` as a root span, with the layer
        wrappers installed only while it runs; its totals count every
        job and stage submitted meanwhile."""
        t = time.perf_counter()
        self.install()
        j0, s0 = self._counters()
        start = time.perf_counter()
        self.overhead_s += start - t
        try:
            return fn()
        finally:
            end = time.perf_counter()
            wall = end - start
            j1, s1 = self._counters()
            self.uninstall()
            self.overhead_s += time.perf_counter() - end
            stats = self.ops.setdefault(name, Totals())
            stats.add(Totals(calls=1, self_s=wall, jobs=j1 - j0, stages=s1 - s0))

    def install(self) -> None:
        import importlib

        for layer, targets in LAYERS.items():
            for module_name, owner_name, names in targets:
                module = importlib.import_module(module_name)
                owner = getattr(module, owner_name) if owner_name else module
                for name in names:
                    orig = getattr(owner, name)
                    setattr(owner, name, self._wrapper(layer, orig))
                    self._patches.append((owner, name, orig))

    def _wrapper(self, layer: str, orig):
        @functools.wraps(orig)
        def traced(*args, **kwargs):
            return self.call(layer, orig, *args, **kwargs)

        return traced

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._patches):
            setattr(owner, name, orig)
        self._patches.clear()


class NoTracer:
    """Same interface, no bookkeeping: the untraced runs."""

    def call(self, layer: str, fn, *args, **kwargs):
        return fn(*args, **kwargs)

    def op(self, name: str, fn):
        return fn()


OPS = {
    "ingest": ["insert"],
    "revise": ["upsert", "merge", "delete", "update", "refresh", "primary", "related"],
}
SPACE = {"files": "count", "bytes_per_row": "B", "dv_files": "count", "dv_positions": "count",
         "history_entries": "count"}


def layer_metrics(tracer: Tracer, cycles: int, space: dict) -> dict[str, tuple[float, str]]:
    """Per-layer figures per measured cycle (failures as a total), each
    operation's jobs and stages per call, the IndicatorValues space
    figures, and the tracer's own share of the operation time. Every
    name is present on every workload; layers a workload does not reach
    read 0."""
    n = max(1, cycles)
    out: dict[str, tuple[float, str]] = {}
    for layer, t in tracer.layers.items():
        out[f"{layer}.calls"] = (t.calls / n, "count")
        out[f"{layer}.self_s"] = (t.self_s / n, "s")
        out[f"{layer}.jobs"] = (t.jobs / n, "count")
        out[f"{layer}.stages"] = (t.stages / n, "count")
        out[f"{layer}.failed"] = (t.failed, "count")
    for workload, ops in OPS.items():
        for op in ops:
            t = tracer.ops.get(f"{workload}.{op}", Totals())
            calls = max(1, t.calls)
            out[f"{workload}.{op}.jobs"] = (t.jobs / calls, "count")
            out[f"{workload}.{op}.stages"] = (t.stages / calls, "count")
    rows = space.get("rows") or 0
    figures = dict(space, bytes_per_row=space.get("bytes", 0) / rows if rows else 0.0)
    for name, unit in SPACE.items():
        out[f"store.{name}"] = (float(figures.get(name, 0)), unit)
    op_s = sum(t.self_s for t in tracer.ops.values())
    out["trace.overhead_pct"] = (100.0 * tracer.overhead_s / op_s if op_s else 0.0, "%")
    return out
