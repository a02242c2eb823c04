"""The benchmark's workloads, driven through the package's public entry
points in a single-client closed loop.

``ingest``  E1 ``insert_product`` of a generated cube into a warehouse
            holding only the lookups (E1 runs the E2 append path for
            the product).
``revise``  on a copy of a pristine one-product warehouse: upsert,
            clause merge, delete of a series, suppression of a
            geography, matview refresh, then PrimaryQuery and
            RelatedCharts through the SQL views, each checked against a
            pure-Python model of the revisions.

Each warehouse holds one product: a second product's insert overflows
the keyed IndicatorValueId (an ``xxhash64`` plus a ``max_id`` offset
that is itself a hash near 2**63), see DESIGN.md.
"""

from __future__ import annotations

import hashlib
import logging
import math
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

import gen
from spans import NoTracer

TINY_SHAPE = gen.Shape(geos=4, orphans=1, members=(2, 3, 2), periods=2)
# the revise warehouse is built once per checkout from this seed; the
# run's --seed draws the revisions and the read requests
DATA_SEED = 0
# set-up passes per run; the first is cold, the median is reported
SETUP_REPEATS = {"ingest": 5, "revise": 3}
REVISED_CELLS = 200  # per upsert and per clause merge, at most a quarter of the cube
MATVIEW = "ivagg"
MATVIEW_AGGS = {"n": ("count", None), "total": ("sum", "Value"), "peak": ("max", "Value")}
LOOKUP_VIEWS = ("GeographyReference", "GeographicLevel", "IndicatorNullReason")
LATEST_SHARE = 0.8  # the map opens on the latest reference period


@dataclass
class Result:
    """What one run measured; ``times`` holds each operation kind's
    latencies in seconds."""

    workload: str
    setup_s: list[float] = field(default_factory=list)
    warmup_s: float = 0.0
    cycles: list[float] = field(default_factory=list)
    times: dict[str, list[float]] = field(default_factory=dict)
    rows: int = 0
    attempted: int = 0
    failed: int = 0
    checks_failed: list[str] = field(default_factory=list)
    space: dict = field(default_factory=dict)

    def record(self, kind: str, seconds: float) -> None:
        self.times.setdefault(kind, []).append(seconds)

    def fail(self, what: str) -> None:
        self.checks_failed.append(what)
        print(f"check failed: {what}", file=sys.stderr)


def more(res: Result, clock: float, seconds: float) -> bool:
    """Closed loop: always one cycle, then another only if it is
    expected to end within ``seconds`` of the first one's start."""
    if not res.cycles:
        return True
    return time.perf_counter() - clock + statistics.median(res.cycles) <= seconds


def _timed(fn, *args, **kwargs):
    t = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t


# ------------------------------------------------------------------ set-up
def open_warehouse(spark, cube: gen.Cube, path: Path, with_lookups: bool):
    """What ``cli.main`` does before E1/E2: lookups from the warehouse,
    WDS through a (here canned) transport."""
    from geo_explorer_etl_spark.plans.pipeline import Pipeline
    from geo_explorer_etl_spark.sources.merge_registry import MergeRegistry
    from geo_explorer_etl_spark.sources.store import TableStore
    from geo_explorer_etl_spark.sources.wds import WdsClient

    store = TableStore(spark, str(path))
    if with_lookups:
        for name, (rows, ddl) in cube.lookups().items():
            store.append(name, spark.createDataFrame(rows, ddl))
    return Pipeline(
        spark=spark,
        store=store,
        wds=WdsClient(spark, fetcher=cube.fetcher),
        registry=MergeRegistry(str(path / "products_to_merge.json")),
        geo_ref=store.read("GeographyReference"),
        null_reason=store.read("IndicatorNullReason"),
        uom_codes=store.read("UomCodes"),
        subject_codes=store.read("SubjectCodes"),
    )


def open_copy(spark, cube: gen.Cube, template: Path, path: Path):
    """A private copy of a cached warehouse, opened as ``cli.main``
    opens one."""
    shutil.copytree(template, path)
    return open_warehouse(spark, cube, path, with_lookups=False)


def source_hash(root: Path) -> str:
    """Digest of the package, the generator and this file, which builds
    the cached warehouses: they are rebuilt whenever one changes."""
    h = hashlib.sha256()
    files = sorted((root / "geo_explorer_etl_spark").rglob("*.py"))
    for f in files + [Path(gen.__file__), Path(__file__)]:
        h.update(str(f.relative_to(root) if f.is_relative_to(root) else f.name).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build_base(spark, cube: gen.Cube, path: Path) -> None:
    """``lookups/``: only the lookups, where ``ingest`` inserts.
    ``pristine/``: the E1 insert of ``cube`` as the CLI does it, plus the
    matview ``revise`` refreshes."""
    from geo_explorer_etl_spark.operators import matview as MV

    open_warehouse(spark, cube, path / "lookups", with_lookups=True)
    pipe = open_copy(spark, cube, path / "lookups", path / "pristine")
    csv_path = path / "cube.csv"
    cube.write_csv(str(csv_path))
    pipe.insert_product([gen.PID], lambda pid: str(csv_path))
    csv_path.unlink()
    MV.create_matview(pipe.store, MATVIEW, "IndicatorValues", ["IndicatorCode"], MATVIEW_AGGS)


def ensure_base(root: Path, cache: Path, shape: gen.Shape, env: dict) -> Path:
    """The cached warehouses of ``build_base``, built once per checkout
    (and per source digest) in a child process, so every measured run
    starts from a JVM in the same state."""
    key = f"{source_hash(root)}-{shape.geos}x{'x'.join(map(str, shape.members))}x{shape.periods}"
    final = cache / f"base-{key}"
    if final.is_dir():
        return final
    cache.mkdir(parents=True, exist_ok=True)
    tmp = cache / f"building-{key}-{time.time_ns()}"
    cmd = [sys.executable, str(Path(__file__).with_name("run.py")), "--build-base", str(tmp)]
    if shape == TINY_SHAPE:
        cmd.append("--tiny")
    try:
        subprocess.run(cmd, env=env, check=True, timeout=600, stdout=sys.stderr)
        tmp.rename(final)
    except OSError:  # another run finished first
        shutil.rmtree(tmp, ignore_errors=True)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    shape_key = key.split("-", 1)[1]
    for stale in cache.glob(f"base-*-{shape_key}"):
        if stale != final:
            shutil.rmtree(stale, ignore_errors=True)
    return final


# ------------------------------------------------------------------ checks
def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


class OrphanLog(logging.Handler):
    """Collects the orphan-DGUID counts the pipeline logs per product."""

    def __init__(self):
        super().__init__(logging.WARNING)
        self.counts: list[int] = []

    def emit(self, record: logging.LogRecord) -> None:
        if "orphan DGUIDs" in record.msg:
            self.counts.append(int(record.args[1]))


def check_ingest(res: Result, store, cube: gen.Cube, orphans: list[int]) -> None:
    from pyspark.sql import functions as F

    if orphans != [len(cube.orphans)]:
        res.fail(f"orphan counts logged {orphans}, expected [{len(cube.orphans)}]")
    for table, rows in cube.table_rows().items():
        df = store.read(table)
        got = 0 if df is None else df.count()
        if got != rows:
            res.fail(f"{table}: {got} rows, expected {rows}")
    facts = (
        store.read("IndicatorValues")
        .select("IndicatorValueCode", "IndicatorCode", "DGUID", "Value", "NullReasonId", "IndicatorValueId")
        .collect()
    )
    if {r[0]: tuple(r[1:5]) for r in facts} != cube.values:
        res.fail("IndicatorValues content differs from the generated cube")
    fact_ids = [r[5] for r in facts]
    bridge_ids = [
        r[0]
        for r in store.read("GeographyReferenceForIndicator")
        .select(F.col("IndicatorValueId"))
        .collect()
    ]
    if len(set(fact_ids)) != len(fact_ids) or len(set(bridge_ids)) != len(bridge_ids):
        res.fail("IndicatorValueId not unique in the fact table or the bridge")
    if set(fact_ids) != set(bridge_ids):
        res.fail("fact and bridge IndicatorValueId sets differ")


def _checksum(rows, value_col: str) -> tuple[int, float]:
    return len(rows), round(sum(r[value_col] for r in rows if r[value_col] is not None), 6)


# ------------------------------------------------------------------ ingest
def run_ingest(spark, tracer, work: Path, seed: int, seconds: float, base: Path,
               shape: gen.Shape) -> Result:
    log = logging.getLogger("geo_explorer_etl_spark.plans.pipeline")
    res = Result("ingest")
    cube = gen.generate(seed, shape)
    csv_path = work / "cube.csv"
    cube.write_csv(str(csv_path))
    pipes = []
    for i in range(SETUP_REPEATS["ingest"]):
        pipe, dt = _timed(open_copy, spark, cube, base / "lookups", work / f"wh{i}")
        pipes.append(pipe)
        res.setup_s.append(dt)
    clock = time.perf_counter()
    while more(res, clock, seconds):
        pipe = pipes.pop(0) if pipes else open_copy(
            spark, cube, base / "lookups", work / f"wh{len(res.cycles) + len(res.setup_s)}"
        )
        res.attempted += 1
        orphans = OrphanLog()
        log.addHandler(orphans)
        try:
            _, dt = _timed(tracer.op, "ingest.insert",
                           lambda: pipe.insert_product([gen.PID], lambda pid: str(csv_path)))
        except Exception:
            traceback.print_exc()
            res.failed += 1
            break
        finally:
            log.removeHandler(orphans)
        res.record("insert", dt)
        res.cycles.append(dt)
        res.rows += len(cube.values)
        check_ingest(res, pipe.store, cube, orphans.counts)
    res.space = pipe.store.describe("IndicatorValues") or {}
    return res


# ------------------------------------------------------------------ revise
@dataclass
class Model:
    """Pure-Python IndicatorValues: code -> [id, IndicatorCode, DGUID,
    Value, NullReasonId]; ``served`` holds the value ids the bridge
    links, which are the only rows the read-side queries can return."""

    rows: dict[str, list]
    served: set[int]

    def live_served(self):
        return (r for r in self.rows.values() if r[0] in self.served)

    def primary(self, code: str) -> tuple[int, float]:
        vals = [r[3] for r in self.live_served() if r[1] == code]
        return len(vals), round(sum(v for v in vals if v is not None), 6)

    def related(self, codes: list[str], dguid: str) -> tuple[int, float]:
        wanted = set(codes)
        vals = [r[3] for r in self.live_served() if r[2] == dguid and r[1] in wanted]
        return len(vals), round(sum(v for v in vals if v is not None), 6)


def setup_revise(spark, pristine: Path, path: Path):
    """Open a copy of the pristine warehouse and register the views the
    read side queries, as a server does at start."""
    from geo_explorer_etl_spark.plans import sql_views
    from geo_explorer_etl_spark.sources.store import TableStore

    shutil.copytree(pristine, path)
    store = TableStore(spark, str(path))
    sql_views.register_star_views(spark, store)
    for name in LOOKUP_VIEWS:
        store.read(name).createOrReplaceTempView(name)
    return store


class Reviser:
    """Draws each revision from the seed, applies it through the
    program, and mirrors it in the model. Each step returns
    ``(rows written or read, seconds, problem or None)``; only the
    program call is timed, not the drawing or the source frame."""

    def __init__(self, spark, tracer, store, cube: gen.Cube, model: Model, ids: dict[str, int], seed: int):
        self.spark, self.tracer, self.store, self.cube = spark, tracer, store, cube
        self.model, self.ids = model, ids
        self.rng = random.Random(seed)
        self.schema = store.read("IndicatorValues").schema
        self.cycle = 0
        self.code = None  # the indicator the reads of this cycle ask for
        latest = f"{cube.years[-1]}-01-01"
        self.latest_codes = sorted(c for c in cube.indicators if c.endswith(latest))
        self.other_codes = sorted(c for c in cube.indicators if not c.endswith(latest))
        self.suppressible = list(cube.geos)
        self.rng.shuffle(self.suppressible)
        self.cells = min(REVISED_CELLS, len(model.rows) // 4)
        self.steps = [self.upsert, self.merge, self.delete, self.update, self.refresh,
                      self.primary, self.related]

    def _op(self, name: str, fn):
        return _timed(self.tracer.op, f"revise.{name}", fn)

    def _frame(self, rows: list[list]):
        """Rows in IndicatorValues column order, partition column last."""
        return self.spark.createDataFrame([(*r, gen.PID) for r in rows], self.schema)

    def _revised(self, codes: list[str]) -> list[list]:
        return [[self.model.rows[c][0], c, *self.model.rows[c][1:3],
                 round(self.rng.uniform(0.0, 1000.0), 1), None] for c in codes]

    def _apply(self, rows: list[list]) -> None:
        for r in rows:
            self.model.rows[r[1]] = [r[0], r[2], r[3], r[4], r[5]]

    def upsert(self):
        rows = self._revised(self.rng.sample(sorted(self.model.rows), self.cells))
        frame = self._frame(rows)
        _, dt = self._op("upsert", lambda: self.store.merge_rows("IndicatorValues", frame, ["IndicatorValueId"]))
        self._apply(rows)
        return len(rows), dt, None

    def merge(self):
        """Matched cells update, cells of a geography new to this
        release insert."""
        half = self.cells // 2
        rows = self._revised(self.rng.sample(sorted(self.model.rows), half))
        dguid = f"2016A00038{self.cycle:03d}"
        for i, ind in enumerate(self.rng.sample(sorted(self.cube.indicators), self.cells - half)):
            rows.append([2**53 + self.cycle * 10_000 + i, f"{dguid}.{ind}", ind, dguid,
                         round(self.rng.uniform(0.0, 1000.0), 1), None])
        frame = self._frame(rows)
        out, dt = self._op("merge", lambda: self.store.merge_apply(
            "IndicatorValues", frame, ["IndicatorValueId"],
            when_matched=[{"action": "update"}], when_not_matched=[{"action": "insert"}],
        ))
        self._apply(rows)
        want = {"updated": half, "inserted": self.cells - half}
        got = {k: out.get(k) for k in want}
        return len(rows), dt, None if got == want else f"report {out}, expected {want}"

    def delete(self):
        """A terminated series: one geography and member combination,
        every reference period."""
        dguid = self.rng.choice(self.cube.geos)
        a, b, c, _ = self.cube.indicators[self.rng.choice(sorted(self.cube.indicators))]
        codes = [ic for ic, m in self.cube.indicators.items() if m[:3] == (a, b, c)]
        n, dt = self._op("delete", lambda: self.store.delete_where(
            "IndicatorValues", [("DGUID", "==", dguid), ("IndicatorCode", "in", codes)]
        ))
        want = sum(self.model.rows.pop(f"{dguid}.{ic}", None) is not None for ic in codes)
        return n, dt, None if n == want else f"{n} rows deleted, expected {want}"

    def update(self):
        """Suppress one geography in the latest release."""
        dguid = self.suppressible.pop()
        n, dt = self._op("update", lambda: self.store.update_where(
            "IndicatorValues",
            {"Value": "CAST(NULL AS DOUBLE)", "NullReasonId": str(gen.SUPPRESSED)},
            [("DGUID", "==", dguid), ("IndicatorCode", "in", self.latest_codes)],
        ))
        want = 0
        for ic in self.latest_codes:
            row = self.model.rows.get(f"{dguid}.{ic}")
            if row is not None:
                row[3], row[4] = None, gen.SUPPRESSED
                want += 1
        return n, dt, None if n == want else f"{n} rows updated, expected {want}"

    def refresh(self):
        from geo_explorer_etl_spark.operators import matview as MV

        _, dt = self._op("refresh", lambda: MV.refresh_matview(self.store, MATVIEW))
        return 0, dt, None

    def _read(self, name: str, query, want: tuple[int, float]):
        rows, dt = self._op(name, lambda: self.tracer.call("spark.action", query().collect))
        got = _checksum(rows, "Value")
        return len(rows), dt, None if got == want else f"(rows, checksum) {got}, expected {want}"

    def _primary(self, code: str):
        from geo_explorer_etl_spark.plans import sql_views

        return self._read("primary", lambda: sql_views.sql_primary_query(self.spark, self.ids[code]),
                          self.model.primary(code))

    def primary(self):
        pool = self.latest_codes if self.rng.random() < LATEST_SHARE else self.other_codes
        self.code = self.rng.choice(pool)
        return self._primary(self.code)

    def related(self):
        from geo_explorer_etl_spark.plans import sql_views

        dguid = self.rng.choice(self.cube.geos)
        want = self.model.related(self.cube.related_codes(self.code), dguid)
        return self._read(
            "related", lambda: sql_views.sql_related_charts_query(self.spark, self.ids[self.code], dguid), want
        )

    def warm_up(self) -> str | None:
        """One untraced PrimaryQuery on a fixed request before the
        measured loop: the first SQL read pays most of the read side's
        code generation and JIT. Returns the problem found, if any."""
        tracer, self.tracer = self.tracer, NoTracer()
        try:
            return self._primary(self.latest_codes[0])[2]
        finally:
            self.tracer = tracer


def run_revise(spark, tracer, work: Path, seed: int, seconds: float, base: Path,
               shape: gen.Shape) -> Result:
    res = Result("revise")
    cube = gen.generate(DATA_SEED, shape)
    for i in range(SETUP_REPEATS["revise"]):
        store, dt = _timed(setup_revise, spark, base / "pristine", work / f"wh{i}")
        res.setup_s.append(dt)
    # the views now point at the last copy; the model is read from it
    # untimed, and checked against the generator first
    ivs = store.read("IndicatorValues").collect()
    model = Model(
        rows={r["IndicatorValueCode"]: [r["IndicatorValueId"], r["IndicatorCode"], r["DGUID"], r["Value"],
                                        r["NullReasonId"]] for r in ivs},
        served={r["IndicatorValueId"] for r in ivs},
    )
    if {k: tuple(v[1:]) for k, v in model.rows.items()} != cube.values:
        res.fail("pristine IndicatorValues differ from the generated cube")
    ids = {r[0]: r[1] for r in store.read("Indicators").select("IndicatorCode", "IndicatorId").collect()}
    rev = Reviser(spark, tracer, store, cube, model, ids, seed)
    problem, res.warmup_s = _timed(rev.warm_up)
    if problem:
        res.fail(f"revise.warm_up: {problem}")
    clock = time.perf_counter()
    while more(res, clock, seconds):
        cycle_s = 0.0
        try:
            for step in rev.steps:
                res.attempted += 1
                n, dt, problem = step()
                res.record(step.__name__, dt)
                res.rows += n
                cycle_s += dt
                if problem:
                    res.fail(f"revise.{step.__name__}: {problem}")
        except Exception:
            traceback.print_exc()
            res.failed += 1
            break
        rev.cycle += 1
        res.cycles.append(cycle_s)
    check_revise(res, store, model)
    res.space = store.describe("IndicatorValues") or {}
    return res


def check_revise(res: Result, store, model: Model) -> None:
    from pyspark.sql import functions as F

    from geo_explorer_etl_spark.operators import matview as MV

    rows = (
        store.read("IndicatorValues")
        .select("IndicatorValueCode", "IndicatorValueId", "Value", "NullReasonId")
        .collect()
    )
    if len(rows) != len(model.rows) or {r[0]: tuple(r[1:]) for r in rows} != {
        k: (v[0], v[3], v[4]) for k, v in model.rows.items()
    }:
        res.fail("IndicatorValues differ from the revision model")
    fresh = {
        r[0]: (r[1], r[2], r[3])
        for r in store.read("IndicatorValues")
        .groupBy("IndicatorCode")
        .agg(F.count(F.lit(1)), F.sum("Value"), F.max("Value"))
        .collect()
    }
    view = {r["IndicatorCode"]: (r["n"], r["total"], r["peak"]) for r in MV.read_matview(store, MATVIEW).collect()}
    same = fresh.keys() == view.keys() and all(
        fresh[k][0] == view[k][0]
        and all((x is None and y is None) or (x is not None and y is not None and _close(x, y))
                for x, y in zip(fresh[k][1:], view[k][1:]))
        for k in fresh
    )
    if not same:
        res.fail("read_matview differs from a fresh group-by over store.read")
