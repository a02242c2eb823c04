"""Batch data source over the TableStore (sources/store_source.py) —
VERDICT r10 directive #1: query-time-resolved SQL views that reflect
DML with NO re-registration, safe against the Spark 4.1 read-info
cache (a filtered query's pruned plan must never poison a later
filterless query), with opt-in plan-level file pruning."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore
from geo_explorer_etl_spark.sources.store_source import (
    FILE_COL,
    StoreBatchReader,
    register_store_source,
    store_table,
    translate_filters,
)


def _publish(spark, root, pids=(1, 2), n=100):
    store = TableStore(spark, root)
    for pid in pids:
        df = (
            spark.createDataFrame(
                [(i + pid * 1000, float(i)) for i in range(n)],
                "IndicatorValueId LONG, Value DOUBLE",
            )
            .withColumn(PARTITION_COL, F.lit(pid).cast("long"))
            .coalesce(1)
        )
        store.replace_product_all(pid, {"IndicatorValues": df})
    return store


@pytest.mark.slow
def test_sql_view_fresh_after_dml_without_reregistration(spark, tmp_path):
    """The r10 'done' pin: one registered view reflects delete_where,
    update_where and merge_rows the moment they commit."""
    root = str(tmp_path / "wh")
    store = _publish(spark, root)
    register_store_source(spark)
    store_table(spark, root, "IndicatorValues").createOrReplaceTempView("iv_fresh")

    assert spark.sql("SELECT count(*) c FROM iv_fresh").collect()[0].c == 200

    store.delete_where("IndicatorValues", [("IndicatorValueId", "<", 1050)])
    assert spark.sql("SELECT count(*) c FROM iv_fresh").collect()[0].c == 150

    store.update_where(
        "IndicatorValues",
        {"Value": "Value + 1000"},
        [("IndicatorValueId", "==", 2060)],
    )
    [(v,)] = spark.sql(
        "SELECT Value FROM iv_fresh WHERE IndicatorValueId = 2060"
    ).collect()
    assert v == 1060.0

    batch = spark.createDataFrame(
        [(1055, 777.0, 1), (9999, 1.0, 1)],
        f"IndicatorValueId LONG, Value DOUBLE, {PARTITION_COL} LONG",
    )
    store.merge_rows("IndicatorValues", batch, ["IndicatorValueId"])
    assert spark.sql("SELECT count(*) c FROM iv_fresh").collect()[0].c == 151
    [(v,)] = spark.sql(
        "SELECT Value FROM iv_fresh WHERE IndicatorValueId = 1055"
    ).collect()
    assert v == 777.0


def test_filtered_query_never_poisons_filterless_query(spark, tmp_path):
    """Upstream Spark 4.1 caches a python source's planned partitions
    on the provider and a pushFilters round overwrites them; if
    partitions() pruned by pushed filters, this sequence LOSES ROWS
    (reproduced 200→100 during development). Pin the defense: default
    partitions are filter-independent, so the filtered query's cached
    plan is still the complete snapshot."""
    root = str(tmp_path / "wh")
    _publish(spark, root)
    register_store_source(spark)
    store_table(spark, root, "IndicatorValues").createOrReplaceTempView("iv_np")

    assert spark.sql("SELECT count(*) c FROM iv_np").collect()[0].c == 200
    assert (
        spark.sql(
            f"SELECT count(*) c FROM iv_np WHERE {PARTITION_COL} = 1"
        ).collect()[0].c
        == 100
    )
    # the regression: filterless AFTER filtered must still see all rows
    assert spark.sql("SELECT count(*) c FROM iv_np").collect()[0].c == 200


def test_source_matches_store_read_through_dv_rename_evolution(spark, tmp_path):
    """Scattered delete (deletion vectors), rename_column (column
    mapping), and a subset-schema append (evolution null-fill) — the
    source's executor pyarrow path must reproduce TableStore.read
    exactly."""
    root = str(tmp_path / "wh")
    store = _publish(spark, root, pids=(1,), n=100)
    # scattered delete -> DV sidecars, not rewrites
    store.delete_where(
        "IndicatorValues", [("IndicatorValueId", "in", (1003, 1041, 1077))]
    )
    part = Path(root) / "IndicatorValues" / f"{PARTITION_COL}=1"
    assert store._manifest(part).get("dv"), "expected a DV sidecar delete"
    store.rename_column("IndicatorValues", "Value", "Metric")
    # evolution: append a frame WITHOUT the renamed column
    store.append(
        "IndicatorValues",
        spark.createDataFrame(
            [(5001, 1)], f"IndicatorValueId LONG, {PARTITION_COL} LONG"
        ).withColumn("Extra", F.lit("x")),
    )
    register_store_source(spark)
    via_source = store_table(spark, root, "IndicatorValues")
    via_read = store.read("IndicatorValues")
    assert sorted(via_source.columns) == sorted(via_read.columns)
    cols = sorted(via_read.columns)
    a = {tuple(r) for r in via_source.select(*cols).collect()}
    b = {tuple(r) for r in via_read.select(*cols).collect()}
    assert a == b
    assert len(a) == 98


def test_pushdown_prunes_file_plan_and_row_groups(spark, tmp_path):
    """pushdown=true: pushed predicates reach partitions() and prune
    the FILE list through manifest zone maps (plan-level assert on the
    reader itself — deterministic, no JVM cache in the loop), and the
    pruned read returns the same rows as the unpruned one."""
    from pyspark.sql.datasource import EqualTo

    root = str(tmp_path / "wh")
    _publish(spark, root)  # two partitions, one file each
    register_store_source(spark)
    schema = (
        spark.read.format("store")
        .option("path", root)
        .option("table", "IndicatorValues")
        .load()
        .schema
    )
    reader = StoreBatchReader(
        schema,
        {"path": root, "table": "IndicatorValues", "pushdown": "true"},
    )
    full = reader.partitions()
    assert sum(len(p.files) for p in full) == 2
    list(reader.pushFilters([EqualTo((PARTITION_COL,), 1)]))
    pruned = reader.partitions()
    assert sum(len(p.files) for p in pruned) == 1
    assert f"{PARTITION_COL}=1" in pruned[0].files[0][0]

    pt = store_table(spark, root, "IndicatorValues", pushdown=True)
    got = pt.filter(F.col(PARTITION_COL) == 1).count()
    assert got == 100


def test_translate_filters_keeps_only_safe_conjuncts():
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        In,
        IsNotNull,
        LessThanOrEqual,
        StringStartsWith,
    )

    got = translate_filters(
        [
            EqualTo(("a",), 5),
            GreaterThan(("b",), 1.5),
            LessThanOrEqual(("c",), "x"),
            In(("d",), (1, 2, 3)),
            IsNotNull(("a",)),  # null-intent op — translates since r14
            StringStartsWith(("c",), "ab"),  # dropped
            EqualTo(("nested", "f"), 1),  # nested -> dropped
            EqualTo((FILE_COL,), "p"),  # output-only column -> dropped
            IsNotNull((FILE_COL,)),  # the freshness sentinel -> dropped
        ]
    )
    assert got == [
        ("a", "==", 5),
        ("b", ">", 1.5),
        ("c", "<=", "x"),
        ("d", "in", [1, 2, 3]),
        ("a", "notnull", None),
    ]


def test_sentinel_survives_optimizer_and_file_col_is_dropped(spark, tmp_path):
    """The freshness contract rides on the sentinel IsNotNull filter
    reaching the scan on EVERY query: pin that the optimized plan
    keeps it (a non-null schema declaration would let Catalyst fold
    it away silently), and that the payload surface stays clean."""
    root = str(tmp_path / "wh")
    _publish(spark, root, pids=(1,))
    register_store_source(spark)
    df = store_table(spark, root, "IndicatorValues")
    assert FILE_COL not in df.columns
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert FILE_COL in plan, "sentinel filter folded away — views go stale"
    kept = store_table(spark, root, "IndicatorValues", keep_file_col=True)
    assert FILE_COL in kept.columns
    paths = {r[0] for r in kept.select(FILE_COL).distinct().collect()}
    assert all(p and p.endswith(".parquet") for p in paths)


def test_register_star_views_is_query_time_fresh(spark, tmp_path):
    """register_star_views (the SQL front-end): the registered native
    view reflects a delete_where through the registering handle with
    no re-registration — the exact stale-view trap VERDICT r10 named —
    and a later snapshot=True registration drops the re-binding hook,
    so its views stay pinned."""
    from geo_explorer_etl_spark.plans.sql_views import register_star_views

    root = str(tmp_path / "wh")
    store = _publish(spark, root, pids=(1,))
    registered = register_star_views(spark, store)
    assert "IndicatorValues" in registered
    before = spark.sql("SELECT count(*) c FROM IndicatorValues").collect()[0].c
    assert before == 100
    store.delete_where("IndicatorValues", [("IndicatorValueId", "<", 1010)])
    after = spark.sql("SELECT count(*) c FROM IndicatorValues").collect()[0].c
    assert after == 90
    # snapshot=True keeps the old pin-at-registration semantics
    registered = register_star_views(spark, store, snapshot=True)
    store.delete_where("IndicatorValues", [("IndicatorValueId", "==", 1050)])
    pinned = spark.sql("SELECT count(*) c FROM IndicatorValues").collect()[0].c
    assert pinned == 90


def _publish_star(spark, root):
    """A one-indicator star: 6 values at 6 geographies, 2 levels."""
    store = TableStore(spark, root)

    def frame(rows, ddl):
        return spark.createDataFrame(rows, ddl).withColumn(PARTITION_COL, F.lit(1).cast("long"))

    store.replace_product_all(1, {
        "Indicators": frame([(1, "Pop", "Pop")], "IndicatorId LONG, IndicatorName_EN STRING, IndicatorName_FR STRING"),
        "IndicatorValues": frame([(100 + g, float(g), None) for g in range(6)],
                                 "IndicatorValueId LONG, Value DOUBLE, NullReasonId INT"),
        "GeographyReferenceForIndicator": frame(
            [(f"G{g}", 1, 100 + g) for g in range(6)],
            "GeographyReferenceId STRING, IndicatorId LONG, IndicatorValueId LONG"),
        "GeographicLevelForIndicator": frame([(1, "L0"), (1, "L1")], "IndicatorId LONG, GeographicLevelId STRING"),
        "RelatedCharts": frame([(1, "1")], "IndicatorId LONG, RelatedIndicatorIds STRING"),
    })
    spark.createDataFrame(
        [(f"G{g}", f"Geo {g}", f"Geo {g}", f"L{g % 2}", "shape") for g in range(6)],
        "GeographyReferenceId STRING, DisplayNameShort_EN STRING, DisplayNameShort_FR STRING, "
        "GeographicLevelId STRING, Shape STRING",
    ).createOrReplaceTempView("GeographyReference")
    spark.createDataFrame(
        [("L0", "Country", "Pays"), ("L1", "Province", "Province")],
        "GeographicLevelId STRING, LevelName_EN STRING, LevelName_FR STRING",
    ).createOrReplaceTempView("GeographicLevel")
    spark.createDataFrame([(1, "..")], "NullReasonId INT, Symbol STRING").createOrReplaceTempView(
        "IndicatorNullReason")
    return store


def test_star_views_rebind_on_other_handle_commit_and_survive_vacuum(spark, tmp_path):
    """The native star views: a commit through a SECOND handle on the
    same root is seen by the next sql_primary_query with no
    re-registration (the query re-binds the tables whose committed
    versions moved, and only those); with nothing changed the query
    re-binds nothing and submits no Spark job; and a vacuum after DML
    through the registering handle leaves the views readable."""
    from geo_explorer_etl_spark.plans.sql_views import register_star_views, sql_primary_query

    root = str(tmp_path / "wh")
    store = _publish_star(spark, root)
    register_star_views(spark, store)

    def served():
        return sorted((r.GeographyReferenceId, r.Value) for r in sql_primary_query(spark, 1).collect())

    assert served() == [(f"G{g}", float(g)) for g in range(6)]
    reads = []
    real_read = store.read
    store.read = lambda t, *a, **kw: reads.append(t) or real_read(t, *a, **kw)
    sc = spark.sparkContext
    sc.setJobGroup("star-rebind-check", "re-bind check")
    try:
        sql_primary_query(spark, 1)
    finally:
        sc.setJobGroup("", "")
    assert reads == []
    assert list(sc.statusTracker().getJobIdsForGroup("star-rebind-check")) == []

    other = TableStore(spark, root)
    other.delete_where("IndicatorValues", [("IndicatorValueId", "==", 102)])
    assert served() == [(f"G{g}", float(g)) for g in range(6) if g != 2]
    assert reads == ["IndicatorValues"]

    # DML through the registering handle re-binds on commit; vacuum
    # then removes the superseded files the earlier bindings scanned
    store.update_where("IndicatorValues", {"Value": "Value + 10"}, [("IndicatorValueId", "==", 101)], mode="cow")
    store.delete_where("IndicatorValues", [("IndicatorValueId", "==", 103)], mode="cow")
    assert store.vacuum(older_than_seconds=0) > 0
    want = [("G0", 0.0), ("G1", 11.0), ("G4", 4.0), ("G5", 5.0)]
    assert served() == want
    assert spark.sql("SELECT count(*) c FROM IndicatorValues").first().c == 4
    store.read = real_read


def test_concurrent_rebinds_never_leave_an_older_snapshot_bound(spark, tmp_path):
    """Two query-time re-binds race across a commit from another handle:
    A plans the older snapshot, B the newer one, and A's view lands
    between B's view and B's bookkeeping. Unserialized, that leaves
    A's older scan bound under B's newer state, which no later check
    would notice; serialized, B waits for A and then re-binds."""
    import threading

    from geo_explorer_etl_spark.plans import sql_views

    root = str(tmp_path / "wh")
    store = _publish_star(spark, root)
    sql_views.register_star_views(spark, store)
    binding = sql_views._BINDINGS[spark]
    other = TableStore(spark, root)
    a_reading, a_go, b_replaced, b_go = (threading.Event() for _ in range(4))
    real_read = store.read

    class Paused:
        def __init__(self, df):
            self.df = df

        def createOrReplaceTempView(self, name):
            self.df.createOrReplaceTempView(name)
            if threading.current_thread().name == "B":
                b_replaced.set()
                b_go.wait(60)

    def read(t, *a, **kw):
        df = real_read(t, *a, **kw)
        if threading.current_thread().name == "A":
            a_reading.set()
            a_go.wait(60)
        return Paused(df)

    store.read = read
    other.delete_where("IndicatorValues", [("IndicatorValueId", "==", 100)])
    a = threading.Thread(target=binding.refresh, args=(["IndicatorValues"],), name="A")
    b = threading.Thread(target=binding.refresh, args=(["IndicatorValues"],), name="B")
    try:
        a.start()
        assert a_reading.wait(60)
        other.delete_where("IndicatorValues", [("IndicatorValueId", "==", 101)])
        b.start()
        b_replaced.wait(2)  # reached only when B does not wait for A
        a_go.set()
        a.join(60)
        b_go.set()
        b.join(60)
    finally:
        a_go.set()
        b_go.set()
        store.read = real_read
    assert not a.is_alive() and not b.is_alive()
    assert binding.bound["IndicatorValues"] == store.committed_state("IndicatorValues")
    assert spark.sql("SELECT count(*) c FROM IndicatorValues").first().c == 4


def test_generated_queries_bind_parameters_and_refuse_unknown_locales(spark, tmp_path):
    """indicator_id and dguid are bound parameters: a DGUID carrying a
    quote matches nothing and injects nothing. The locale names
    columns, so anything but EN/FR is refused before it reaches the
    SQL text."""
    from geo_explorer_etl_spark.plans.sql_views import (
        register_star_views,
        sql_primary_query,
        sql_related_charts_query,
    )

    register_star_views(spark, _publish_star(spark, str(tmp_path / "wh")))
    assert len(sql_related_charts_query(spark, 1, "G3").collect()) == 1
    assert sql_related_charts_query(spark, 1, "G3' OR '1'='1").collect() == []
    assert sql_related_charts_query(spark, 1, "x' --").collect() == []
    assert [r.IndicatorName for r in sql_related_charts_query(spark, 1, "G3", locale="fr").collect()] == ["Pop"]
    assert len(sql_primary_query(spark, 1, locale="FR").collect()) == 6
    for bad in ("XX", "EN, 1 AS x", ""):
        with pytest.raises(ValueError, match="locale"):
            sql_primary_query(spark, 1, locale=bad)
        with pytest.raises(ValueError, match="locale"):
            sql_related_charts_query(spark, 1, "G3", locale=bad)


def test_source_errors_on_missing_table_and_missing_dv_positions(spark, tmp_path):
    root = str(tmp_path / "wh")
    store = _publish(spark, root, pids=(1,))
    register_store_source(spark)
    with pytest.raises(Exception, match="no data"):
        (
            spark.read.format("store")
            .option("path", root)
            .option("table", "NoSuchTable")
            .load()
        )
    # corrupt a DV sidecar's position range -> executor read must fail
    # loudly, never resurrect deleted rows
    store.delete_where("IndicatorValues", [("IndicatorValueId", "==", 1001)])
    part = Path(root) / "IndicatorValues" / f"{PARTITION_COL}=1"
    m = store._manifest(part)
    (name, entry), = m["dv"].items()
    sidecar = part / entry["sidecar"]
    import struct

    from geo_explorer_etl_spark.sources.store import DV_MAGIC

    sidecar.write_bytes(DV_MAGIC + struct.pack("<q", 10**9))
    TableStore._DV_DECODE_CACHE.clear()
    TableStore._DV_DECODE_CACHE_POSITIONS[0] = 0
    with pytest.raises(Exception, match="out of range|mask/file"):
        store_table(spark, root, "IndicatorValues").count()


def test_stale_view_after_rename_raises_instead_of_nulls(spark, tmp_path):
    """Review r11: a view created before rename_column must FAIL
    loudly, not serve the renamed column as all-NULLs through the
    evolution null-fill path (the cdf_source schema-drift rule)."""
    root = str(tmp_path / "wh")
    store = _publish(spark, root, pids=(1,))
    register_store_source(spark)
    store_table(spark, root, "IndicatorValues").createOrReplaceTempView("iv_old")
    assert spark.sql("SELECT sum(Value) s FROM iv_old").collect()[0].s is not None
    store.rename_column("IndicatorValues", "Value", "Metric")
    with pytest.raises(Exception, match="renamed or dropped"):
        spark.sql("SELECT sum(Value) s FROM iv_old").collect()
    # a fresh registration adopts the new schema and serves real data
    store_table(spark, root, "IndicatorValues").createOrReplaceTempView("iv_new")
    assert spark.sql("SELECT sum(Metric) s FROM iv_new").collect()[0].s is not None


def test_register_star_views_snapshot_at_is_cross_table_consistent(spark, tmp_path):
    """snapshot_at pins EVERY view to one timestamp through read_at,
    so a cross-table join can never observe a product torn across a
    replace_product_all that committed after the pin."""
    import time

    root = str(tmp_path / "wh")
    store = TableStore(spark, root)
    v1 = spark.createDataFrame(
        [(1, 10.0)], "IndicatorValueId LONG, Value DOUBLE"
    ).withColumn(PARTITION_COL, F.lit(1).cast("long"))
    i1 = spark.createDataFrame(
        [(1, "old")], "IndicatorId LONG, Name STRING"
    ).withColumn(PARTITION_COL, F.lit(1).cast("long"))
    store.replace_product_all(1, {"IndicatorValues": v1, "Indicators": i1})
    time.sleep(0.05)
    t_pin = time.time()
    time.sleep(0.05)
    # a full product replace AFTER the pin
    store.replace_product_all(
        1,
        {
            "IndicatorValues": v1.withColumn("Value", F.lit(99.0)),
            "Indicators": i1.withColumn("Name", F.lit("new")),
        },
    )
    from geo_explorer_etl_spark.plans.sql_views import register_star_views

    registered = register_star_views(spark, store, snapshot_at=t_pin)
    assert {"IndicatorValues", "Indicators"} <= set(registered)
    row = spark.sql(
        "SELECT v.Value, i.Name FROM IndicatorValues v "
        "JOIN Indicators i ON v.IndicatorValueId = i.IndicatorId"
    ).collect()[0]
    assert (row.Value, row.Name) == (10.0, "old")  # all-old, never torn
    # and the default (query-time) registration sees the new state
    register_star_views(spark, store)
    row = spark.sql(
        "SELECT v.Value, i.Name FROM IndicatorValues v "
        "JOIN Indicators i ON v.IndicatorValueId = i.IndicatorId"
    ).collect()[0]
    assert (row.Value, row.Name) == (99.0, "new")


def test_snapshot_views_warn_and_include_listing_mode_tables(spark, tmp_path):
    """Review r11: read_at resolves manifest history only — a table
    with listing-mode partitions must not silently lose rows from a
    snapshot-pinned view; it falls back to the current read with a
    warning naming adopt_manifests."""
    import warnings

    from geo_explorer_etl_spark.plans.sql_views import register_star_views

    root = str(tmp_path / "wh")
    store = TableStore(spark, root)
    # plain append on a fresh table = listing mode (no manifest)
    store.append(
        "Indicators",
        spark.createDataFrame(
            [(1, "x")], "IndicatorId LONG, Name STRING"
        ).withColumn(PARTITION_COL, F.lit(1).cast("long")),
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        registered = register_star_views(spark, store, snapshot=True)
    assert "Indicators" in registered
    assert any("listing-mode" in str(x.message) for x in w)
    assert spark.sql("SELECT count(*) c FROM Indicators").collect()[0].c == 1
    # adopted -> the exact pin applies, no warning
    store.adopt_manifests("Indicators")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        register_star_views(spark, store, snapshot=True)
    assert not any("listing-mode" in str(x.message) for x in w)
    assert spark.sql("SELECT count(*) c FROM Indicators").collect()[0].c == 1


# ---------------------------------------------------------------------------
# Catalog tables — the concurrency-safe PRUNED SQL path (r12, VERDICT
# r11 next #1). Options ride the schema field metadata (Spark 4.1's
# getTable drops properties); a fresh provider per statement removes
# the shared read-info slot, so pushdown is safe here by construction.
# ---------------------------------------------------------------------------


def _cat(spark, root, name, **kw):
    from geo_explorer_etl_spark.sources.store_source import create_catalog_table

    spark.sql(f"DROP TABLE IF EXISTS {name}")
    return create_catalog_table(spark, name, root, **kw)


@pytest.mark.slow
def test_catalog_table_fresh_after_dml_per_statement(spark, tmp_path):
    """Every SQL statement over a catalog table re-resolves the
    snapshot (fresh provider per statement) — DML is visible with no
    re-registration and no sentinel."""
    root = str(tmp_path / "wh")
    store = _publish(spark, root)
    _cat(spark, root, "cat_fresh")
    try:
        assert spark.sql("SELECT count(*) c FROM cat_fresh").collect()[0].c == 200
        store.delete_where("IndicatorValues", [("IndicatorValueId", "<", 1050)])
        assert spark.sql("SELECT count(*) c FROM cat_fresh").collect()[0].c == 150
        store.update_where(
            "IndicatorValues", {"Value": "Value + 1000"},
            [("IndicatorValueId", "==", 2060)],
        )
        [(v,)] = spark.sql(
            "SELECT Value FROM cat_fresh WHERE IndicatorValueId = 2060"
        ).collect()
        assert v == 1060.0
    finally:
        spark.sql("DROP TABLE IF EXISTS cat_fresh")


def test_catalog_filtered_query_never_opens_pruned_files(spark, tmp_path):
    """The never-opened proof: with product 2's data file REMOVED from
    disk out-of-band, a catalog query filtered to product 1 succeeds —
    the pruned file was never opened — while the same filtered query
    through an UNPRUNED catalog table fails loudly (control leg: the
    file really is in that plan)."""
    import os

    root = str(tmp_path / "wh")
    _publish(spark, root)
    _cat(spark, root, "cat_pruned", pushdown=True)
    _cat(spark, root, "cat_unpruned", pushdown=False)
    part2 = Path(root) / "IndicatorValues" / f"{PARTITION_COL}=2"
    hidden = []
    try:
        for f in part2.glob("*.parquet"):
            os.rename(f, str(f) + ".hidden")
            hidden.append(f)
        n = spark.sql(
            f"SELECT count(*) c FROM cat_pruned WHERE {PARTITION_COL} = 1"
        ).collect()[0].c
        assert n == 100
        with pytest.raises(Exception):
            spark.sql(
                f"SELECT count(*) c FROM cat_unpruned WHERE {PARTITION_COL} = 1"
            ).collect()
    finally:
        for f in hidden:
            os.rename(str(f) + ".hidden", f)
        spark.sql("DROP TABLE IF EXISTS cat_pruned")
        spark.sql("DROP TABLE IF EXISTS cat_unpruned")


@pytest.mark.slow
def test_catalog_concurrent_filtered_and_filterless_stay_correct(spark, tmp_path):
    """The r11 poison regression INVERTED: pushdown on, a filtered and
    a filterless query hammering the same catalog table from two
    threads — the filterless side must never lose rows to the filtered
    side's pruned plan (fresh provider per statement = no shared
    read-info slot), and the filtered side must never see extra rows."""
    import threading

    root = str(tmp_path / "wh")
    _publish(spark, root)
    _cat(spark, root, "cat_conc", pushdown=True)
    errs: list = []

    def filtered():
        for _ in range(8):
            n = spark.sql(
                f"SELECT count(*) c FROM cat_conc WHERE {PARTITION_COL} = 1"
            ).collect()[0].c
            if n != 100:
                errs.append(("filtered", n))

    def filterless():
        for _ in range(8):
            n = spark.sql("SELECT count(*) c FROM cat_conc").collect()[0].c
            if n != 200:
                errs.append(("filterless", n))

    try:
        ts = [threading.Thread(target=filtered), threading.Thread(target=filterless)]
        [t.start() for t in ts]
        [t.join() for t in ts]
        assert not errs, errs
    finally:
        spark.sql("DROP TABLE IF EXISTS cat_conc")


def test_catalog_table_pruned_matches_store_read_through_dml(spark, tmp_path):
    """Value-level equality through the pruned catalog path after DV
    deletes and a rename — the same guarantees the temp-view path
    pins, now with pushdown on."""
    root = str(tmp_path / "wh")
    store = _publish(spark, root, pids=(1,), n=100)
    store.delete_where(
        "IndicatorValues", [("IndicatorValueId", "in", (1003, 1041, 1077))]
    )
    store.rename_column("IndicatorValues", "Value", "Metric")
    _cat(spark, root, "cat_dml", replace=True)
    try:
        via_cat = {
            tuple(r)
            for r in spark.sql(
                "SELECT IndicatorValueId, Metric FROM cat_dml "
                "WHERE IndicatorValueId >= 1000"
            ).collect()
        }
        via_read = {
            tuple(r)
            for r in store.read("IndicatorValues")
            .select("IndicatorValueId", "Metric")
            .filter(F.col("IndicatorValueId") >= 1000)
            .collect()
        }
        assert via_cat == via_read and len(via_cat) == 97
    finally:
        spark.sql("DROP TABLE IF EXISTS cat_dml")


def test_catalog_table_stale_after_rename_raises(spark, tmp_path):
    """A rename AFTER table creation must raise the stale-schema error
    (never serve nulls under the old name); replace=True re-adopts."""
    root = str(tmp_path / "wh")
    store = _publish(spark, root, pids=(1,))
    _cat(spark, root, "cat_stale")
    try:
        assert spark.sql("SELECT count(*) c FROM cat_stale").collect()[0].c == 100
        store.rename_column("IndicatorValues", "Value", "Metric")
        with pytest.raises(Exception, match="renamed or dropped"):
            spark.sql("SELECT sum(Value) FROM cat_stale").collect()
        _cat(spark, root, "cat_stale", replace=True)
        assert (
            spark.sql("SELECT count(Metric) c FROM cat_stale").collect()[0].c == 100
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS cat_stale")


# ---------------------------------------------------------------------------
# Batch WRITE path (r12, VERDICT r11 next #6 stretch): INSERT INTO a
# store catalog table / df.write.format("store") through the sink's
# staged-files → constraint-gate → manifest-extend commit protocol.
# ---------------------------------------------------------------------------


def test_sql_insert_lands_through_commit_path_and_is_query_visible(
    spark, tmp_path
):
    """INSERT INTO a catalog table: rows land under manifest control
    (store.read sees them, the partition manifest references them),
    are visible to the NEXT SQL statement with no re-registration, and
    the one-shot ledger key is pruned after publish."""
    import json

    root = str(tmp_path / "wh")
    store = _publish(spark, root, pids=(1,), n=3)
    _cat(spark, root, "cat_w")
    try:
        spark.sql(
            f"INSERT INTO cat_w (IndicatorValueId, Value, {PARTITION_COL}) "
            "VALUES (9001, 1.5, 1), (9002, 2.5, 2)"
        )
        got = {
            (r.IndicatorValueId, r.Value)
            for r in spark.sql(
                "SELECT IndicatorValueId, Value FROM cat_w "
                "WHERE IndicatorValueId >= 9000"
            ).collect()
        }
        assert got == {(9001, 1.5), (9002, 2.5)}
        # through the DataFrame API too (same snapshot machinery)
        assert store.read("IndicatorValues").count() == 5
        # pid=2 was CREATED by the insert, under manifest control
        m = store._manifest(
            Path(root) / "IndicatorValues" / f"{PARTITION_COL}=2"
        )
        assert m and len(m["files"]) == 1
        # one-shot ledger key pruned (no per-INSERT ledger growth)
        led = json.loads((Path(root) / "_epochs.json").read_text())
        assert not {
            k for k in led.get("streams", {}) if k.startswith("sqlwrite-")
        }
    finally:
        spark.sql("DROP TABLE IF EXISTS cat_w")


def test_sql_insert_constraint_violation_blocks_with_snapshot_intact(
    spark, tmp_path
):
    """A constraint-violating INSERT fails LOUDLY and publishes
    nothing: the table's row set and the partition manifest are
    byte-identical before and after the attempt."""
    root = str(tmp_path / "wh")
    store = _publish(spark, root, pids=(1,), n=3)
    store.add_constraint("IndicatorValues", "v_nn", not_null=["Value"])
    _cat(spark, root, "cat_cv")
    part = Path(root) / "IndicatorValues" / f"{PARTITION_COL}=1"
    before_manifest = store._backend.read(part, "MANIFEST.json")
    try:
        with pytest.raises(Exception, match="v_nn|constraint|null"):
            spark.sql(
                f"INSERT INTO cat_cv (IndicatorValueId, Value, {PARTITION_COL}) "
                "VALUES (9001, NULL, 1)"
            )
        assert store._backend.read(part, "MANIFEST.json") == before_manifest
        assert spark.sql("SELECT count(*) c FROM cat_cv").collect()[0].c == 3
        # no orphaned staged files left behind by the failed attempt
        assert not list((Path(root) / "_staging").glob("etxn_sqlwrite*"))
    finally:
        spark.sql("DROP TABLE IF EXISTS cat_cv")


def test_dataframe_write_append_and_overwrite_refused(spark, tmp_path):
    """df.write.format('store').mode('append') appends through the
    same path; mode('overwrite') is refused loudly (the store's
    replace semantics are per-product transactions)."""
    root = str(tmp_path / "wh")
    store = _publish(spark, root, pids=(1,), n=3)
    register_store_source(spark)
    batch = spark.createDataFrame(
        [(8001, 7.0, 1)], f"IndicatorValueId LONG, Value DOUBLE, {PARTITION_COL} LONG"
    )
    (
        batch.write.format("store")
        .option("path", root)
        .option("table", "IndicatorValues")
        .mode("append")
        .save()
    )
    assert store.read("IndicatorValues").count() == 4
    with pytest.raises(Exception, match="not supported"):
        (
            batch.write.format("store")
            .option("path", root)
            .mode("overwrite")
            .save()
        )


@pytest.mark.slow
def test_register_star_views_catalog_mode_pruned_and_fresh(spark, tmp_path):
    """register_star_views(catalog=True): the views land as catalog
    tables (the pruned SQL path), reflect DML per statement, accept
    INSERT INTO, and refuse the snapshot combination."""
    from geo_explorer_etl_spark.plans.sql_views import register_star_views

    root = str(tmp_path / "wh")
    store = _publish(spark, root, pids=(1, 2))
    # temp views resolve BEFORE catalog tables: clear any same-name
    # view earlier tests registered in this shared session
    spark.catalog.dropTempView("IndicatorValues")
    try:
        registered = register_star_views(spark, store, catalog=True)
        assert "IndicatorValues" in registered
        assert (
            spark.sql("SELECT count(*) c FROM IndicatorValues").collect()[0].c
            == 200
        )
        store.delete_where("IndicatorValues", [("IndicatorValueId", "<", 1010)])
        assert (
            spark.sql("SELECT count(*) c FROM IndicatorValues").collect()[0].c
            == 190
        )
        spark.sql(
            f"INSERT INTO IndicatorValues (IndicatorValueId, Value, {PARTITION_COL}) "
            "VALUES (7777, 1.0, 1)"
        )
        assert (
            spark.sql("SELECT count(*) c FROM IndicatorValues").collect()[0].c
            == 191
        )
        with pytest.raises(ValueError, match="snapshot"):
            register_star_views(spark, store, catalog=True, snapshot=True)
    finally:
        spark.sql("DROP TABLE IF EXISTS IndicatorValues")


def test_pack_splits_rule():
    """The split-packing rule (r16, guide §6): every file lands in
    exactly one split; tiny files pack together instead of one task
    each; a file above the split budget gets its own split; and the
    min-splits floor keeps small tables parallel."""
    from geo_explorer_etl_spark.sources.store_source import (
        _MAX_SPLIT_BYTES,
        _OPEN_COST_BYTES,
        _pack_splits,
    )

    # 200 tiny files: charged cost is ~200 * open-cost; the floor
    # (default 32) keeps >= 32 splits, far fewer than 200 tasks
    tiny = [(f"f{i}", None, 1, 1024) for i in range(200)]
    splits = _pack_splits(tiny)
    assert 32 <= len(splits) < 200
    flat = [e[0] for s in splits for e in s]
    assert sorted(flat) == sorted(e[0] for e in tiny)  # exactly once

    # two huge files never share a split
    huge = [("a", None, 1, _MAX_SPLIT_BYTES), ("b", None, 1, _MAX_SPLIT_BYTES)]
    assert len(_pack_splits(huge)) == 2

    # a handful of small files: min-splits floor drives one file per
    # split (small tables stay parallel)
    few = [(f"f{i}", None, 1, _OPEN_COST_BYTES) for i in range(4)]
    assert len(_pack_splits(few)) == 4

    assert _pack_splits([]) == []


def test_projected_view_serves_only_declared_columns(spark, tmp_path):
    """r17 registration-time projection: a view registered with
    columns=[...] serves exactly those columns with values identical
    to the full-width view, in the requested order, the executor read
    prunes the parquet I/O to them, unknown columns raise, the
    provenance column is servable, and DML freshness is unchanged."""
    import json

    root = str(tmp_path / "wh")
    store = _publish(spark, root)
    register_store_source(spark)

    proj = store_table(spark, root, "IndicatorValues", columns=["Value"])
    assert proj.columns == ["Value"]

    both = store_table(
        spark, root, "IndicatorValues",
        columns=["IndicatorValueId", "Value"],
    )
    assert both.columns == ["IndicatorValueId", "Value"]
    # served in the requested order, not the table's
    flipped = store_table(
        spark, root, "IndicatorValues", columns=["Value", "IndicatorValueId"]
    )
    assert flipped.columns == ["Value", "IndicatorValueId"]
    assert sorted(
        (r.IndicatorValueId, r.Value) for r in flipped.collect()
    ) == sorted((r.IndicatorValueId, r.Value) for r in both.collect())
    full = store_table(spark, root, "IndicatorValues")
    assert sorted(
        (r.IndicatorValueId, r.Value) for r in both.collect()
    ) == sorted((r.IndicatorValueId, r.Value) for r in full.collect())

    # the partition column is servable when asked for
    withpid = store_table(
        spark, root, "IndicatorValues",
        columns=["IndicatorValueId", PARTITION_COL],
    )
    assert withpid.columns == ["IndicatorValueId", PARTITION_COL]
    assert withpid.filter(F.col(PARTITION_COL) == 2).count() == 100

    # so is the provenance column, when the view keeps it
    withfile = store_table(
        spark, root, "IndicatorValues", keep_file_col=True,
        columns=["IndicatorValueId", FILE_COL],
    )
    assert withfile.columns == ["IndicatorValueId", FILE_COL]
    files = {r[FILE_COL] for r in withfile.collect()}
    assert files and all(f.endswith(".parquet") for f in files)

    # unknown column refused loudly at registration
    with pytest.raises(Exception, match="unknown column"):
        store_table(spark, root, "IndicatorValues", columns=["nope"]).count()

    # freshness through DML is unchanged by the projection
    both.createOrReplaceTempView("iv_proj")
    store.delete_where("IndicatorValues", [("IndicatorValueId", "<", 1050)])
    assert spark.sql("SELECT count(*) c FROM iv_proj").collect()[0].c == 150

    # the executor read prunes the parquet I/O: reader partitions
    # under the projected schema list only the needed physical columns
    reader = StoreBatchReader(
        proj.sparkSession.read.format("store")
        .option("path", root)
        .option("table", "IndicatorValues")
        .option("columns", json.dumps(["Value"]))
        .load()
        .schema,
        {"path": root, "table": "IndicatorValues"},
    )
    [part] = [p for p in reader.partitions()][:1]
    batches = list(reader.read(part))
    assert all(b.schema.names == ["Value"] for b in batches)
