"""SQL front-end: register the star schema + testdata as temp views so
users can drive the engine with ``spark.sql`` — the same Catalyst plans
as the DataFrame API (pyspark_guide: "Catalyst produces the same plan
either way").

Two registrars:
- ``register_testdata_views``  — the TPC-H-ish tables for ad-hoc SQL;
- ``register_star_views``      — a TableStore's target tables, plus the
  parameterized read-side queries (``sql_primary_query``,
  ``sql_related_charts_query``).

The serving path is NATIVE: each star view is a temp view over
``store.read(t)`` — a parquet ``FileSourceScan`` over the manifest's
file list with the deletion-vector mask applied — so a map click runs
on Spark's columnar reader, not through a Python data source. Views
stay fresh by RE-BINDING, not by re-planning per query: a commit hook
on the registering store handle re-binds a table's view right after
each commit through it, and the two read-side queries re-bind any of
their tables whose committed manifest versions moved since binding
(a commit from another handle or process). That check reads the
versions through the commit backend and runs no Spark job when nothing
changed. Ad-hoc SQL against tables other writers mutate should use
``store_table`` or ``catalog=True`` (store_source.py), which re-plan
the snapshot per statement.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession

from geo_explorer_etl_spark.session import load_tables
from geo_explorer_etl_spark.sources.store import PRODUCT_TABLES, TableStore

TESTDATA_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

#: the locales the star schema carries ``*_EN``/``*_FR`` columns for
LOCALES = ("EN", "FR")

PRIMARY_TABLES = (
    "GeographyReferenceForIndicator", "Indicators", "IndicatorValues",
    "GeographicLevelForIndicator",
)
RELATED_TABLES = (
    "RelatedCharts", "GeographyReferenceForIndicator", "IndicatorValues", "Indicators",
)


def register_testdata_views(spark: SparkSession, sf_dir: str) -> None:
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


class _StarBinding:
    """The native star views of one session over one store handle, and
    the committed state each view was bound at. Re-binds serialize on
    a lock: a commit hook and concurrent queries may race, and a slower
    re-bind must not put back an older snapshot over a newer one."""

    def __init__(self, spark: SparkSession, store: TableStore):
        self.spark, self.store = spark, store
        self.bound: dict[str, tuple] = {}
        self.lock = threading.Lock()
        self.hook = store.on_commit(self.on_commit)

    def _bind(self, tables) -> list[str]:
        served = []
        for t in tables:
            # the state is read BEFORE the scan is planned, so a commit
            # racing in between leaves the view marked stale, never fresh
            state = self.store.committed_state(t)
            df = self.store.read(t)
            if df is None:
                self.spark.catalog.dropTempView(t)
            else:
                df.createOrReplaceTempView(t)
                served.append(t)
            self.bound[t] = state
        return served

    def bind(self, tables) -> list[str]:
        """(Re-)bind ``tables``' views to their current snapshots;
        returns the ones that have data."""
        with self.lock:
            return self._bind(tables)

    def on_commit(self, table: str) -> None:
        if table in self.bound:
            self.bind([table])

    def refresh(self, tables) -> None:
        """Re-bind those of ``tables`` whose committed state moved."""
        with self.lock:
            self._bind([t for t in tables if self.store.committed_state(t) != self.bound.get(t)])


#: session → its native star binding (default-mode registration only).
#: Keyed by session because temp views are per-session state.
_BINDINGS: dict[SparkSession, _StarBinding] = {}


def _unbind(spark: SparkSession) -> None:
    old = _BINDINGS.pop(spark, None)
    if old is not None:
        old.store.remove_commit_hook(old.hook)


def register_star_views(
    spark: SparkSession,
    store: TableStore,
    snapshot: bool = False,
    snapshot_at: float | None = None,
    catalog: bool = False,
) -> list[str]:
    """Every existing store table becomes a temp view named like the
    reference's ``gis.*`` tables. Returns the registered names. Each
    call replaces the session's earlier registration, including its
    commit hook, whatever the modes.

    DEFAULT — native views, re-bound on commit: each view is a temp
    view over ``store.read(t)``, a native parquet scan of the
    manifest's file list with its deletion vectors applied. A commit
    hook on ``store`` re-binds a table's view right after every commit
    through this handle, so SQL reflects ``update_where``/
    ``merge_rows``/``delete_where`` with no re-registration.
    ``sql_primary_query``/``sql_related_charts_query`` also re-bind
    any of their tables whose committed manifest versions moved since
    binding (commits from another handle or process); plain
    ``spark.sql`` over the views sees those only after this handle's
    next commit or query. The store's file-level zone-map/bloom
    pruning does not apply to the views (Spark's parquet row-group
    pushdown does); ``catalog=True`` is the pruned path.

    CROSS-TABLE consistency: each view binds its table's snapshot
    independently, so a join racing a ``replace_product_all`` (which
    swaps tables sequentially inside its txn) can observe product X
    already-new in one table and still-old in another — the same
    exposure ``store.read`` per table always had. Consumers that need
    one consistent cross-table point pass ``snapshot_at`` (epoch
    seconds): every view pins to ``read_at(t)``, and the txn protocol
    guarantees a timestamp between two publishes resolves all-old or
    all-new per product. ``snapshot=True`` is the shorthand for "as of
    now". Pinned views are never re-bound.

    ``catalog=True`` registers CATALOG TABLES through
    ``create_catalog_table`` (the Python data source, store_source.py)
    instead of temp views: filtered queries open only the files whose
    zone maps may match, every statement re-plans its snapshot (fresh
    against any writer, no hook), and ``INSERT INTO`` works. It is
    slower per query than the native views. The schema is captured at
    registration (re-register after a rename/drop — queries raise the
    stale-schema error rather than misbehave), and the names land in
    the session catalog rather than the temp-view namespace. Mutually
    exclusive with ``snapshot_at``."""
    import time
    import warnings

    from geo_explorer_etl_spark.sources.commit import CASBackend
    from geo_explorer_etl_spark.sources.store_source import create_catalog_table

    if catalog and (snapshot or snapshot_at is not None):
        raise ValueError(
            "register_star_views: catalog=True registers query-time-"
            "fresh tables — use snapshot views for a pinned read"
        )
    _unbind(spark)
    if snapshot and snapshot_at is None:
        snapshot_at = time.time()
    if snapshot_at is None and not catalog:
        binding = _BINDINGS[spark] = _StarBinding(spark, store)
        return binding.bind(PRODUCT_TABLES)

    backend = "cas" if isinstance(store._backend, CASBackend) else "localfs"
    registered = []
    for t in PRODUCT_TABLES:
        if catalog:
            if store.read(t) is not None:  # existence probe (driver-side)
                create_catalog_table(spark, t, store.root, t, backend=backend, replace=True)
                registered.append(t)
            continue
        # read_at resolves MANIFEST history only; a table with
        # listing-mode partitions (plain appends never adopted) would
        # silently lose those rows — check describe() FIRST (cheap
        # metadata; also avoids building a read_at plan just to
        # discard it) and fall back to the pin-at-registration read
        # for that table, saying so. adopt_manifests(t) upgrades the
        # table so the true time-travel pin applies next time.
        desc = store.describe(t)
        if desc and desc.get("listing_partitions"):
            warnings.warn(
                f"register_star_views: table {t!r} has "
                f"{desc['listing_partitions']} listing-mode "
                "partition(s) that cannot time-travel — its view "
                "pins the CURRENT snapshot instead of "
                f"snapshot_at; run store.adopt_manifests({t!r}) "
                "to make the pin exact",
                stacklevel=2,
            )
            df = store.read(t)
        else:
            df = store.read_at(t, snapshot_at)
        if df is not None:
            df.createOrReplaceTempView(t)
            registered.append(t)
    return registered


def _locale(locale: str) -> str:
    """The column suffix for ``locale``; anything but EN/FR is refused
    before it can reach the SQL text (it names columns, so it cannot
    be a bound parameter)."""
    loc = str(locale).upper()
    if loc not in LOCALES:
        raise ValueError(f"locale {locale!r} is not one of {LOCALES}")
    return loc


def _refresh(spark: SparkSession, tables) -> None:
    binding = _BINDINGS.get(spark)
    if binding is not None:
        binding.refresh(tables)


def sql_primary_query(spark: SparkSession, indicator_id: int, locale: str = "EN") -> DataFrame:
    """The PrimaryQuery (SURVEY §2.14) in pure SQL over the registered
    star views — parameterized by indicator id, equivalent plan to
    ``star_schema.primary_query``. Requires the lookup views
    (GeographyReference, GeographicLevel, IndicatorNullReason) to be
    registered by the caller alongside ``register_star_views``."""
    loc = _locale(locale)
    _refresh(spark, PRIMARY_TABLES)
    return spark.sql(
        f"""
        SELECT grb.GeographyReferenceId,
               gr.DisplayNameShort_{loc}   AS GeographyName,
               gl.LevelName_{loc}          AS GeographicLevelName,
               i.IndicatorName_{loc}       AS IndicatorName,
               iv.Value,
               CASE WHEN iv.Value IS NULL THEN nr.Symbol
                    ELSE format_number(iv.Value, 1) END AS FormattedValue,
               gr.Shape
        FROM GeographyReferenceForIndicator grb
        JOIN Indicators i            ON i.IndicatorId = grb.IndicatorId
        JOIN IndicatorValues iv      ON iv.IndicatorValueId = grb.IndicatorValueId
        JOIN GeographyReference gr   ON gr.GeographyReferenceId = grb.GeographyReferenceId
        JOIN GeographicLevel gl      ON gl.GeographicLevelId = gr.GeographicLevelId
        LEFT JOIN IndicatorNullReason nr ON nr.NullReasonId = iv.NullReasonId
        WHERE grb.IndicatorId = :indicator_id
          AND gr.GeographicLevelId IN (
                SELECT GeographicLevelId FROM GeographicLevelForIndicator
                WHERE IndicatorId = :indicator_id)
        """,
        args={"indicator_id": int(indicator_id)},
    )


def sql_related_charts_query(
    spark: SparkSession, indicator_id: int, dguid: str, locale: str = "EN"
) -> DataFrame:
    """The generated ``RelatedCharts.Query`` (SURVEY §2.14, reference
    dfhandler.py:522–529) in pure SQL over the registered star views:
    values of this indicator's related indicators at one geography.
    Equivalent plan to ``star_schema.related_charts_query``."""
    loc = _locale(locale)
    _refresh(spark, RELATED_TABLES)
    return spark.sql(
        f"""
        SELECT i.IndicatorId,
               i.IndicatorName_{loc}      AS IndicatorName,
               grb.GeographyReferenceId,
               iv.Value,
               CASE WHEN iv.Value IS NULL THEN nr.Symbol
                    ELSE format_number(iv.Value, 1) END AS FormattedValue
        FROM (SELECT CAST(r.rid AS BIGINT) AS rid
              FROM RelatedCharts rc
              LATERAL VIEW explode(split(rc.RelatedIndicatorIds, ',')) r AS rid
              WHERE rc.IndicatorId = :indicator_id) rel
        JOIN GeographyReferenceForIndicator grb ON grb.IndicatorId = rel.rid
        JOIN IndicatorValues iv ON iv.IndicatorValueId = grb.IndicatorValueId
        JOIN Indicators i       ON i.IndicatorId = grb.IndicatorId
        LEFT JOIN IndicatorNullReason nr ON nr.NullReasonId = iv.NullReasonId
        WHERE grb.GeographyReferenceId = :dguid
        """,
        args={"indicator_id": int(indicator_id), "dguid": str(dguid)},
    )
