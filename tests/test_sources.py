"""Source-layer tests: dynamic cube schema, zip staging, WDS client
with canned transport, merge registry ordering."""

from __future__ import annotations

import pytest

import zipfile

from pyspark.sql import functions as F

from geo_explorer_etl_spark.sources.cube_csv import (
    cube_schema,
    extract_zip,
    read_cube_csv,
)
from geo_explorer_etl_spark.sources.merge_registry import MergeRegistry
from geo_explorer_etl_spark.session import load_tables

SF_SMOKE = "/root/testdata/sf0.001"


def test_cube_schema_dynamic_tail():
    st = cube_schema(["Geography", "Sector", "Age group"])
    names = [f.name for f in st.fields]
    assert names[:9] == [
        "REF_DATE", "DGUID", "UOM", "UOM_ID", "VECTOR",
        "COORDINATE", "STATUS", "SYMBOL", "VALUE",
    ]
    assert names[9:] == ["Geography", "Sector", "Age group"]
    by_name = {f.name: f.dataType.simpleString() for f in st.fields}
    assert by_name["UOM_ID"] == "smallint"
    assert by_name["VALUE"] == "double"
    assert by_name["Age group"] == "string"


def test_zip_extract_and_read(spark, tmp_path):
    csv_text = (
        "REF_DATE,DGUID,UOM,UOM_ID,VECTOR,COORDINATE,STATUS,SYMBOL,VALUE,Sector\n"
        '2018,2016A000011124,Number,229,v1,1.1,,,10.5,Public\n'
    )
    zpath = tmp_path / "35100177-eng.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("35100177.csv", csv_text)
    csv_path = extract_zip(str(zpath), str(tmp_path / "staging"))
    df = read_cube_csv(spark, csv_path, ["Sector"])
    row = df.first()
    assert row["VALUE"] == 10.5
    assert row["UOM_ID"] == 229
    assert row["Sector"] == "Public"
    # malformed rows don't kill the scan (PERMISSIVE)
    assert df.count() == 1


def test_merge_registry_ordering(tmp_path):
    reg = MergeRegistry(str(tmp_path / "m.json"))
    reg.register(100, [200, 300])
    assert reg.is_master(100) and reg.is_sibling(200)
    assert reg.master_of(300) == 100
    # masters first (sibling reuses master's indicators)
    assert reg.ordered([300, 100, 200]) == [100, 200, 300]
    # persisted across instances
    reg2 = MergeRegistry(str(tmp_path / "m.json"))
    assert reg2.siblings_of(100) == [200, 300]


def test_product_defaults_fallback_chain(tmp_path):
    import json

    from geo_explorer_etl_spark.sources.product_defaults import ProductDefaults
    from geo_explorer_etl_spark.plans.star_schema import CHART_DEFAULTS

    p = tmp_path / "product_defaults.json"
    p.write_text(json.dumps({
        "default": {"DefaultBreaks": 7},
        "35100177": {"ColorTo": "#112233", "PrimaryChartTypeId": 3},
    }))
    pd_reg = ProductDefaults(str(p))
    d = pd_reg.for_product(35100177)
    assert d["ColorTo"] == "#112233"            # per-pid wins
    assert d["DefaultBreaks"] == 7              # file default wins over engine
    assert d["ColorFrom"] == CHART_DEFAULTS["ColorFrom"]   # engine fallback
    other = pd_reg.for_product(99999999)
    assert other["DefaultBreaks"] == 7 and other["ColorTo"] == CHART_DEFAULTS["ColorTo"]
    # no file at all -> engine defaults
    assert ProductDefaults(None).for_product(1) == CHART_DEFAULTS


def test_jdbc_lookup_source_roundtrip(spark):
    """S8 — real JDBC round-trip against in-memory Derby (ships in
    Spark's jars): the reference's scdb lookup reads (scdb.py:83-143)
    come back as DataFrames, per-product predicates push into the DB,
    and write_jdbc appends land where read_table sees them. Derby
    folds unquoted identifiers to UPPERCASE; Spark resolves columns
    case-insensitively, so lookups keep their reference names."""
    from geo_explorer_etl_spark.sources.jdbc import JdbcLookupSource
    from geo_explorer_etl_spark.sources.store import write_jdbc

    url = "jdbc:derby:memory:gisdb;create=true"
    conn = spark._jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    ddl = [
        "CREATE SCHEMA gis",
        "CREATE TABLE gis.GeographyReference (GeographyReferenceId VARCHAR(25) NOT NULL, DisplayNameShort_EN VARCHAR(255))",
        "INSERT INTO gis.GeographyReference VALUES ('2016A000011124', 'Canada'), ('2016A000235', 'Ontario')",
        "CREATE TABLE gis.IndicatorNullReason (NullReasonId INT, Symbol VARCHAR(10))",
        "INSERT INTO gis.IndicatorNullReason VALUES (1, '..'), (2, 'x'), (3, NULL)",
        "CREATE TABLE gis.\"INDICATOR\" (IndicatorId BIGINT, IndicatorThemeId BIGINT, IndicatorCode VARCHAR(100))",
        "INSERT INTO gis.\"INDICATOR\" VALUES (1, 35100177, '35100177.1.1.2018-01-01'),"
        " (2, 35100177, '35100177.1.2.2018-01-01'), (3, 46100027, '46100027.1.1.2018-01-01')",
        "CREATE TABLE gis.GeographicLevelForIndicator (GeographicLevelId VARCHAR(10), IndicatorId BIGINT)",
        "INSERT INTO gis.GeographicLevelForIndicator VALUES ('A0000', 1), ('SSSS', 1), ('A0000', 3)",
        "CREATE TABLE gis.IndicatorMetaData (IndicatorId BIGINT, DefaultBreaksAlgorithmId INT, DefaultBreaks INT,"
        " PrimaryChartTypeId INT, ColorTo VARCHAR(20), ColorFrom VARCHAR(20))",
        "INSERT INTO gis.IndicatorMetaData VALUES (1, 1, 5, 1, '#AA0000', '#00AA00')",
        "CREATE TABLE gis.RelatedCharts (RelatedChartId BIGINT, ChartTypeId INT, ChartTitle_EN VARCHAR(255),"
        " ChartTitle_FR VARCHAR(255), FieldAlias_EN VARCHAR(255), FieldAlias_FR VARCHAR(255))",
        "INSERT INTO gis.RelatedCharts VALUES (1, 2, 'Title', 'Titre', 'A', 'A')",
    ]
    for stmt in ddl:
        st.execute(stmt)
    st.close()
    conn.close()

    src = JdbcLookupSource(spark, url, quote_identifiers=True)
    geo = src.geo_reference_ids()
    assert {r[0] for r in geo.collect()} == {"2016A000011124", "2016A000235"}
    nr = {r[0]: r[1] for r in src.null_reasons().collect()}
    assert nr == {1: "..", 2: "x"}              # NULL symbol filtered DB-side

    ind = src.indicators(35100177)
    assert ind.count() == 2
    # the pid predicate reaches the JDBC source (scan-level pushdown)
    plan = ind._sc._jvm.PythonSQLUtils.explainString(
        ind._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters" in plan and "35100177" in plan

    gl = src.geo_levels(35100177)
    assert {(r[0], r[1]) for r in gl.collect()} == {("A0000", 1), ("SSSS", 1)}

    ci = src.indicator_chart_info(35100177).collect()
    assert len(ci) == 2                          # left joins keep both indicators
    by_code = {r["INDICATORCODE"]: r for r in ci}
    assert by_code["35100177.1.1.2018-01-01"]["CHARTTYPEID"] == 2
    assert by_code["35100177.1.2.2018-01-01"]["CHARTTYPEID"] is None

    # write_jdbc S10 parity: append rows, read them back
    extra = spark.createDataFrame(
        [("2021A000011124", "Canada 2021")],
        "GeographyReferenceId string, DisplayNameShort_EN string",
    )
    write_jdbc(extra, url, 'gis."GEOGRAPHYREFERENCE"')
    assert src.read_table("GeographyReference").count() == 3

    # full write->read round-trip into a FRESH table whose name is a
    # Derby reserved word ("ORDER"): the writer must create + quote it,
    # and the quoted read must return value-identical rows
    out = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", None), (3, None, -0.25)],
        "id bigint, label string, score double",
    )
    write_jdbc(out, url, 'gis."ORDER"')
    back = src.read_table("ORDER")
    # the writer quotes identifiers, so column case survives Derby
    assert sorted(
        (r["id"], r["label"], r["score"]) for r in back.collect()
    ) == sorted((r["id"], r["label"], r["score"]) for r in out.collect())


import pytest as _pytest


@_pytest.mark.parametrize("backend", ["localfs", "cas"])
def test_replace_product_all_crash_recovery(spark, tmp_path, backend):
    """Cross-table atomic replace (reference scdb.py:51-71's RDBMS
    transaction): a crash BEFORE the manifest commit point leaves every
    table old; a crash mid-publish AFTER it is rolled forward on the
    next store open — readers through a store handle never see a mix.
    Parameterized over BOTH commit backends: the POSIX flock+rename
    path and the object-store CAS path give the same guarantees."""
    import json
    from pathlib import Path

    import pytest

    from geo_explorer_etl_spark.sources.store import TableStore

    root = str(tmp_path / "store")
    pid = 101

    def frames(tag):
        return {
            "IndicatorValues": spark.createDataFrame([(1, tag)], "id long, v string"),
            "RelatedCharts": spark.createDataFrame([(1, tag)], "id long, v string"),
        }

    def versions(store):
        return {
            t: store.read(t).select("v").first()["v"]
            for t in ("IndicatorValues", "RelatedCharts")
        }

    store = TableStore(spark, root, backend=backend)
    store.replace_product_all(pid, frames("v1"))
    assert versions(store) == {"IndicatorValues": "v1", "RelatedCharts": "v1"}

    # --- crash AFTER the commit point, mid-publish (1 of 2 swapped) ---
    txn = Path(root) / "_staging" / f"txn_{pid}"
    for table, df in frames("v2").items():
        df.write.parquet(str(txn / table))
    manifest = {"product_id": pid, "tables": ["IndicatorValues", "RelatedCharts"]}
    (txn / "MANIFEST.json.tmp").write_text(json.dumps(manifest))
    (txn / "MANIFEST.json.tmp").rename(txn / "MANIFEST.json")
    with pytest.raises(RuntimeError, match="simulated crash"):
        store._publish(txn, manifest, fail_after=1)
    # fresh handle rolls FORWARD: all tables v2, never one of each
    store2 = TableStore(spark, root, backend=backend)
    assert versions(store2) == {"IndicatorValues": "v2", "RelatedCharts": "v2"}

    # --- crash BEFORE the commit point (staged, no manifest) ----------
    txn3 = Path(root) / "_staging" / f"txn_{pid}"
    for table, df in frames("v3").items():
        df.write.parquet(str(txn3 / table))
    store3 = TableStore(spark, root, backend=backend)  # rolls BACK the staging
    assert versions(store3) == {"IndicatorValues": "v2", "RelatedCharts": "v2"}
    assert not txn3.exists()


def test_snapshot_isolation_for_inflight_readers(spark, tmp_path):
    """Manifest-indirection reads: a reader whose plan was resolved
    BEFORE a replace_product_all keeps seeing the old version in full
    (the publish swaps _committed.json atomically and leaves the old
    files on disk), while a fresh read resolves the new manifest.
    vacuum() then garbage-collects the superseded files."""
    from pathlib import Path

    from geo_explorer_etl_spark.sources.store import COMMITTED, TableStore

    root = str(tmp_path / "store")
    pid = 7
    store = TableStore(spark, root)

    def frame(tag, n):
        return spark.range(n).select(
            F.col("id"), F.lit(tag).alias("v")
        )

    store.replace_product_all(pid, {"IndicatorValues": frame("old", 10)})
    snapshot = store.read("IndicatorValues")      # file list resolved NOW

    store.replace_product_all(pid, {"IndicatorValues": frame("new", 7)})

    # the in-flight reader still scans consistent all-OLD data
    old_rows = snapshot.collect()
    assert len(old_rows) == 10 and {r["v"] for r in old_rows} == {"old"}
    # a fresh read resolves the swapped manifest: all-NEW
    new_rows = store.read("IndicatorValues").collect()
    assert len(new_rows) == 7 and {r["v"] for r in new_rows} == {"new"}

    # superseded files linger until vacuum (that's the isolation), then
    # are GC'd; the live manifest's files all survive
    part = Path(root) / "IndicatorValues" / f"IndicatorThemeId={pid}"
    import json

    live = set(json.loads((part / COMMITTED).read_text())["files"])
    on_disk = {f.name for f in part.glob("*.parquet")}
    assert live < on_disk                          # old files still present
    removed = store.vacuum("IndicatorValues")
    assert removed == len(on_disk - live)
    assert {f.name for f in part.glob("*.parquet")} == live
    assert [r["v"] for r in store.read("IndicatorValues").limit(1).collect()] == ["new"]


def test_replace_product_all_failed_staging_write_commits_nothing(spark, tmp_path):
    """The tables of a replace_product_all stage concurrently; when one
    table's write fails, the call raises once every write has stopped,
    every table still reads its prior snapshot, no file goes live and
    the staging dir is discarded."""
    from pathlib import Path

    from geo_explorer_etl_spark.sources.store import TableStore

    root = Path(tmp_path / "store")
    store = TableStore(spark, str(root))
    pid = 11
    tables = ("IndicatorValues", "GeographyReferenceForIndicator", "RelatedCharts")

    def frame(tag, n=20):
        return spark.range(n).select(F.col("id"), F.lit(tag).alias("v"))

    store.replace_product_all(pid, {t: frame("old") for t in tables})

    def live_files():
        return {t: sorted(p.name for p in (root / t).rglob("*.parquet")) for t in tables}

    before = live_files()
    failing = frame("new").withColumn(
        "v", F.when(F.col("id") == 7, F.raise_error(F.lit("staging boom"))).otherwise(F.col("v"))
    )
    frames = {t: frame("new") for t in tables}
    frames["GeographyReferenceForIndicator"] = failing
    with pytest.raises(Exception, match="staging boom"):
        store.replace_product_all(pid, frames)

    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getActiveJobsIds()) == []
    assert live_files() == before
    for t in tables:
        rows = store.read(t).collect()
        assert len(rows) == 20 and {r["v"] for r in rows} == {"old"}
    staging = root / "_staging"
    assert not staging.exists() or not any(staging.iterdir())


def test_pooled_partition_jobs_inherit_callers_job_group(spark, tmp_path):
    """delete_where runs partitions from a driver thread pool; the
    caller's job group reaches every job the pool submits, so
    cancelJobGroup covers the whole call."""
    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    store = TableStore(spark, str(tmp_path / "store"))
    for pid in (1, 2):
        store.replace_product_all(
            pid,
            {
                # one file per partition that the predicate only partly
                # matches: each partition's pass scans it with a Spark job
                "IndicatorValues": spark.range(10).coalesce(1).select(
                    "id", F.lit("x").alias("v"), F.lit(pid).cast("long").alias(PARTITION_COL)
                )
            },
        )
    sc = spark.sparkContext
    dag = sc._jsc.sc().dagScheduler()
    group = f"pooled-delete-{tmp_path.name}"
    sc.setJobGroup(group, "two-partition delete")
    try:
        first = int(dag.nextJobId())
        assert store.delete_where("IndicatorValues", [("id", "<", 3)]) == 6
        submitted = set(range(first, int(dag.nextJobId())))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert submitted
    assert submitted <= set(sc.statusTracker().getJobIdsForGroup(group))


def test_concurrent_table_writes_fire_hooks_on_calling_thread(spark, tmp_path):
    """replace_product_each and replace_product_all write their tables
    concurrently; the commit hooks still fire on the calling thread, in
    table order, after the writes."""
    import threading

    from geo_explorer_etl_spark.sources.store import TableStore

    store = TableStore(spark, str(tmp_path / "store"))
    fired = []
    store.on_commit(lambda table: fired.append((table, threading.get_ident())))
    tables = ["IndicatorTheme", "Dimensions", "DimensionValues"]
    frames = {t: spark.range(3).select("id", F.lit(t).alias("v")) for t in tables}
    me = threading.get_ident()

    store.replace_product_each(5, frames)
    assert fired == [(t, me) for t in tables]
    assert {t: store.read(t).count() for t in tables} == {t: 3 for t in tables}

    fired.clear()
    store.replace_product_all(6, frames)
    assert fired == [(t, me) for t in sorted(tables)]


def test_vacuum_retention_protects_inflight_reader(spark, tmp_path):
    """The retention contract (store.vacuum): an in-flight reader's
    planned scan survives publish + vacuum as long as the vacuum's
    ``older_than_seconds`` exceeds the reader's runtime — superseded
    files younger than the window are retained. A zero-window vacuum
    (only safe when no reader holds a superseded snapshot) then
    removes them, after which only the fresh snapshot is readable."""
    from pathlib import Path

    from geo_explorer_etl_spark.sources.store import TableStore

    root = str(tmp_path / "store")
    pid = 3
    store = TableStore(spark, root)

    def frame(tag, n):
        return spark.range(n).select(F.col("id"), F.lit(tag).alias("v"))

    store.replace_product_all(pid, {"IndicatorValues": frame("v1", 8)})
    snapshot = store.read("IndicatorValues")       # plan resolves v1 files
    store.replace_product_all(pid, {"IndicatorValues": frame("v2", 5)})

    # vacuum with a retention window longer than any reader: the v1
    # files were written seconds ago, so nothing is eligible
    assert store.vacuum("IndicatorValues", older_than_seconds=3600) == 0
    rows = snapshot.collect()                      # reader completes on v1
    assert len(rows) == 8 and {r["v"] for r in rows} == {"v1"}

    # once no reader holds the superseded snapshot, a zero-window
    # vacuum GCs it; the stale plan now points at deleted files and a
    # re-collect fails — which is exactly why the retention window must
    # outlive the longest reader
    part = Path(root) / "IndicatorValues" / f"IndicatorThemeId={pid}"
    assert store.vacuum("IndicatorValues") > 0
    fresh = store.read("IndicatorValues").collect()
    assert len(fresh) == 5 and {r["v"] for r in fresh} == {"v2"}
    import pytest as _pytest

    with _pytest.raises(Exception):
        snapshot.collect()


def test_compact_defragments_under_snapshot_semantics(spark, tmp_path):
    """OPTIMIZE analog: repeated appends fragment a partition's
    manifest; compact() rewrites the live files at target size and
    swaps the manifest atomically — fresh reads see identical data in
    fewer files, an in-flight reader keeps its superseded snapshot
    until vacuum, and a second compact is a no-op."""
    import json as _json
    from pathlib import Path

    from geo_explorer_etl_spark.sources.store import COMMITTED, TableStore

    root = str(tmp_path / "store")
    pid = 5
    store = TableStore(spark, root)

    def frame(lo, n):
        return spark.range(lo, lo + n).select(
            F.col("id"), F.lit(pid).cast("long").alias("IndicatorThemeId")
        )

    store.replace_product_all(pid, {"IndicatorValues": frame(0, 10).drop("IndicatorThemeId")})
    for i in range(1, 5):
        store.append("IndicatorValues", frame(10 * i, 10))

    part = Path(root) / "IndicatorValues" / f"IndicatorThemeId={pid}"
    live_before = _json.loads((part / COMMITTED).read_text())["files"]
    assert len(live_before) >= 5                    # fragmented
    snapshot = store.read("IndicatorValues")        # plan over fragmented files

    assert store.compact("IndicatorValues") == 1
    live_after = _json.loads((part / COMMITTED).read_text())["files"]
    assert len(live_after) == 1 and all(n.startswith("compact-") for n in live_after)
    # identical data through the new manifest
    assert sorted(r["id"] for r in store.read("IndicatorValues").collect()) == list(range(50))
    # in-flight reader still completes on the superseded fragmented files
    assert sorted(r["id"] for r in snapshot.collect()) == list(range(50))
    # superseded files retained until vacuum, then GC'd; compact is now a no-op
    assert store.vacuum("IndicatorValues") == len(live_before)
    assert {f.name for f in part.glob("*.parquet")} == set(live_after)
    assert store.compact("IndicatorValues") == 0


def test_concurrent_publishes_serialize_under_lock(spark, tmp_path):
    """Two threads replacing DIFFERENT products through the same store
    root must both commit cleanly — the flock serializes staging and
    publish, so neither recover() nor _publish can stomp the other's
    txn dir (the round-2 TOCTOU)."""
    import threading

    from geo_explorer_etl_spark.sources.store import TableStore

    root = str(tmp_path / "store")
    store = TableStore(spark, root)
    errors: list[Exception] = []

    def publish(pid):
        try:
            df = spark.range(50).select(
                F.col("id"), F.lit(f"p{pid}").alias("v")
            )
            TableStore(spark, root).replace_product_all(
                pid, {"IndicatorValues": df}
            )
        except Exception as e:  # noqa: BLE001 — surfaced via the assert below
            errors.append(e)

    threads = [threading.Thread(target=publish, args=(pid,)) for pid in (1, 2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    out = store.read("IndicatorValues")
    assert out.count() == 100
    assert {r["v"] for r in out.select("v").distinct().collect()} == {"p1", "p2"}


def test_append_extends_committed_manifest(spark, tmp_path):
    """An append into a manifest-controlled partition must be visible
    (manifest extended with exactly the new files) without resurrecting
    unvacuumed previous-version files."""
    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    root = str(tmp_path / "store")
    pid = 7
    store = TableStore(spark, root)
    store.replace_product_all(pid, {"DimensionValues": spark.range(5).select("id")})
    store.replace_product_all(pid, {"DimensionValues": spark.range(3).select("id")})
    # old 5-row version is unvacuumed on disk; append 2 more rows
    store.append(
        "DimensionValues",
        spark.range(2).select("id").withColumn(PARTITION_COL, F.lit(pid).cast("long")),
    )
    assert store.read("DimensionValues").count() == 5  # 3 live + 2 appended


def test_time_travel_read_at(spark, tmp_path):
    """read_at resolves each partition's latest history manifest at or
    before the timestamp: superseded versions stay readable until
    vacuum retention, later-born partitions are absent, and the current
    read matches read_at(now)."""
    import time

    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    root = str(tmp_path / "store")
    store = TableStore(spark, root)

    store.replace_product_all(
        31, {"IndicatorValues": spark.createDataFrame([(1, "v1")], "id long, v string")}
    )
    t1 = time.time()
    time.sleep(0.05)
    store.replace_product_all(
        31, {"IndicatorValues": spark.createDataFrame([(2, "v2"), (3, "v2")], "id long, v string")}
    )
    store.replace_product_all(  # a partition born AFTER t1
        32, {"IndicatorValues": spark.createDataFrame([(9, "other")], "id long, v string")}
    )
    store.append(
        "IndicatorValues",
        spark.createDataFrame([(4, "v2b")], "id long, v string").withColumn(
            PARTITION_COL, F.lit(31).cast("long")
        ),
    )
    t2 = time.time()

    at1 = store.read_at("IndicatorValues", t1)
    assert {(r["id"], r["v"]) for r in at1.collect()} == {(1, "v1")}
    at2 = store.read_at("IndicatorValues", t2)
    assert {r["id"] for r in at2.collect()} == {2, 3, 4, 9}
    now_rows = {r["id"] for r in store.read("IndicatorValues").collect()}
    assert {r["id"] for r in store.read_at("IndicatorValues", time.time()).collect()} == now_rows
    assert store.read_at("IndicatorValues", t1 - 3600) is None

    # retention contract: a windowed vacuum keeps the superseded files,
    # so the t1 snapshot stays materializable
    assert store.vacuum("IndicatorValues", older_than_seconds=3600) == 0
    assert {(r["id"], r["v"]) for r in store.read_at("IndicatorValues", t1).collect()} == {
        (1, "v1")
    }
    # a zero-window vacuum reclaims them — history survives as metadata
    # but the old snapshot's data is gone (the documented trade)
    assert store.vacuum("IndicatorValues") > 0


def test_fsck_classifies_store_state(spark, tmp_path):
    """fsck: a healthy store reports nothing; superseded snapshot files
    classify as retained (not orphans); a hand-dropped unknown file and
    a deleted live file surface in their own buckets."""
    from geo_explorer_etl_spark.sources.store import COMMITTED, TableStore

    root = str(tmp_path / "store")
    pid = 51
    store = TableStore(spark, root)
    store.replace_product_all(
        pid, {"IndicatorValues": spark.createDataFrame([(1, "v1")], "id long, v string")}
    )
    assert store.fsck("IndicatorValues") == {}     # healthy

    # supersede v1: its files must classify as retained, not unknown
    store.replace_product_all(
        pid, {"IndicatorValues": spark.createDataFrame([(2, "v2")], "id long, v string")}
    )
    rep = store.fsck("IndicatorValues")["IndicatorValues"]
    assert rep["superseded"] and not rep["unknown"] and not rep["missing"]

    # drop an unknown file + delete a live one
    from pathlib import Path

    part = Path(root) / "IndicatorValues" / f"IndicatorThemeId={pid}"
    (part / "stray.parquet").write_bytes(b"not really parquet")
    import json as _json

    live_name = _json.loads((part / COMMITTED).read_text())["files"][0]
    (part / live_name).unlink()
    rep = store.fsck("IndicatorValues")["IndicatorValues"]
    assert any("stray.parquet" in f for f in rep["unknown"])
    assert any(live_name in f for f in rep["missing"])


def test_restore_rolls_back_to_snapshot(spark, tmp_path):
    """restore(table, as_of): metadata-only rollback — the old manifest
    republishes, later-born partitions empty, the rollback itself is
    restorable, and a snapshot outside vacuum retention fails with a
    clear error instead of serving a half-missing table."""
    import time

    import pytest

    from geo_explorer_etl_spark.sources.store import TableStore

    root = str(tmp_path / "store")
    store = TableStore(spark, root)
    store.replace_product_all(
        41, {"IndicatorValues": spark.createDataFrame([(1, "v1")], "id long, v string")}
    )
    t1 = time.time()
    time.sleep(0.05)
    store.replace_product_all(
        41, {"IndicatorValues": spark.createDataFrame([(2, "v2")], "id long, v string")}
    )
    store.replace_product_all(
        42, {"IndicatorValues": spark.createDataFrame([(9, "late")], "id long, v string")}
    )
    t2 = time.time()

    assert store.restore("IndicatorValues", t1) == 2  # 41 rolled back, 42 emptied
    assert {(r["id"], r["v"]) for r in store.read("IndicatorValues").collect()} == {(1, "v1")}
    # the rollback is itself restorable (history is append-only)
    assert store.restore("IndicatorValues", t2) == 2
    assert {r["id"] for r in store.read("IndicatorValues").collect()} == {2, 9}

    # outside retention: vacuum the superseded v1 files, then restoring
    # to t1 must refuse loudly
    assert store.vacuum("IndicatorValues") > 0
    with pytest.raises(FileNotFoundError, match="vacuum"):
        store.restore("IndicatorValues", t1)


def test_merge_rows_upsert_by_key(spark, tmp_path):
    """MERGE: equal-key rows replaced, new keys appended, other rows
    untouched — atomically per partition with snapshot isolation, and
    schema evolution applies to the incoming frame. One row per key:
    duplicate incoming rows for a live key raise the ambiguous-MERGE
    error and commit nothing; duplicates of an absent key all land."""
    from pathlib import Path

    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    root = str(tmp_path / "store")
    pid = 21
    store = TableStore(spark, root)
    store.replace_product_all(
        pid,
        {
            "IndicatorValues": spark.createDataFrame(
                [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)],
                "id long, code string, Value double",
            )
        },
    )

    snapshot = store.read("IndicatorValues")      # resolved pre-merge
    incoming = spark.createDataFrame(
        [(2, "b", 20.0, "new"), (9, "z", 9.0, "new")],
        "id long, code string, Value double, Source string",
    ).withColumn(PARTITION_COL, F.lit(pid).cast("long"))
    store.merge_rows("IndicatorValues", incoming, key_cols=["id"])

    got = {
        r["id"]: (r["Value"], r["Source"])
        for r in store.read("IndicatorValues").collect()
    }
    assert got == {
        1: (1.0, None),     # untouched, evolved column null-fills
        2: (20.0, "new"),   # replaced
        3: (3.0, None),     # untouched
        9: (9.0, "new"),    # appended
    }
    # the pre-merge reader kept its snapshot
    assert sorted(r["id"] for r in snapshot.collect()) == [1, 2, 3]
    # idempotent re-merge of the same frame changes nothing
    store.merge_rows("IndicatorValues", incoming, key_cols=["id"])
    again = {
        r["id"]: (r["Value"], r["Source"])
        for r in store.read("IndicatorValues").collect()
    }
    assert again == got

    # one row per key: two incoming rows for a LIVE key are an
    # ambiguous MERGE — refused before anything is written
    part = Path(root) / "IndicatorValues" / f"{PARTITION_COL}={pid}"
    files_before = sorted(p.name for p in part.iterdir())
    history_before = store.history("IndicatorValues")
    dup_live = spark.createDataFrame(
        [(2, "b", 21.0, "dup"), (2, "b", 22.0, "dup"), (10, "y", 1.0, "dup")],
        "id long, code string, Value double, Source string",
    ).withColumn(PARTITION_COL, F.lit(pid).cast("long"))
    with pytest.raises(ValueError, match="ambiguous"):
        store.merge_rows("IndicatorValues", dup_live, key_cols=["id"])
    assert sorted(p.name for p in part.iterdir()) == files_before
    assert store.history("IndicatorValues") == history_before
    assert {
        r["id"]: (r["Value"], r["Source"])
        for r in store.read("IndicatorValues").collect()
    } == got

    # ... while every incoming row for an ABSENT key lands
    dup_absent = spark.createDataFrame(
        [(11, "x", 1.0, "d1"), (11, "x", 2.0, "d2")],
        "id long, code string, Value double, Source string",
    ).withColumn(PARTITION_COL, F.lit(pid).cast("long"))
    store.merge_rows("IndicatorValues", dup_absent, key_cols=["id"])
    rows = [
        (r["id"], r["Value"], r["Source"])
        for r in store.read("IndicatorValues").collect()
    ]
    assert sorted(r for r in rows if r[0] == 11) == [
        (11, 1.0, "d1"), (11, 2.0, "d2"),
    ]
    assert len(rows) == len(got) + 2


def test_metadata_only_count_and_sorted_compaction(spark, tmp_path):
    """count_rows answers COUNT(*) from manifest row counts (no data
    pages); compact(sort_by=...) range-clusters the rewrite so each
    output file covers a disjoint key range and zone maps prune a
    keyed read down to the covering file(s)."""
    import json
    from pathlib import Path

    from geo_explorer_etl_spark.sources.store import COMMITTED, PARTITION_COL, TableStore

    root = str(tmp_path / "store")
    pid = 11
    store = TableStore(spark, root)

    # 3 files with INTERLEAVED key ranges: every file spans ~the whole
    # key domain, so pre-clustering zone maps cannot prune a key slice
    base = spark.range(3000).select(
        F.col("id"), (F.col("id") % 3).alias("shard"), (F.col("id") * 2).alias("k")
    )
    store.replace_product_all(
        pid, {"IndicatorValues": base.repartition(3, "shard").drop("shard")}
    )

    # metadata-only count == scan count, and survives append + compact
    assert store.count_rows("IndicatorValues") == 3000
    store.append(
        "IndicatorValues",
        spark.range(10)
        .select((F.col("id") + 90000).alias("id"), (F.col("id") + 180000).alias("k"))
        .coalesce(1)
        .withColumn(PARTITION_COL, F.lit(pid).cast("long")),
    )
    assert store.count_rows("IndicatorValues") == 3010
    assert store.read("IndicatorValues").count() == 3010

    part = Path(root) / "IndicatorValues" / f"IndicatorThemeId={pid}"
    n_all = len(store.live_files("IndicatorValues"))
    narrow = [("k", "between", (100, 200))]
    # interleaved layout: every ORIGINAL file spans the whole k domain,
    # so the narrow slice prunes only the high-k appended file
    assert len(store.live_files("IndicatorValues", narrow)) == n_all - 1

    # cluster on k: small target size forces multiple range-disjoint files
    assert store.compact("IndicatorValues", target_file_bytes=8 * 1024, sort_by="k") == 1
    manifest = json.loads((part / COMMITTED).read_text())
    assert len(manifest["files"]) > 1
    # per-file k-ranges are pairwise disjoint after range clustering
    ranges = sorted(tuple(manifest["stats"][n]["k"]) for n in manifest["files"])
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2
    # the same narrow read now opens a strict subset of the files
    assert len(store.live_files("IndicatorValues", narrow)) < len(manifest["files"])
    assert store.read("IndicatorValues", narrow).count() == 51  # k=100..200 even
    # counts still metadata-exact post-compaction
    assert store.count_rows("IndicatorValues") == 3010
    del n_all


@_pytest.mark.parametrize("backend", ["localfs", "cas"])
def test_exactly_once_epoch_appends(spark, tmp_path, backend):
    """Micro-batch appends through the manifest commit protocol are
    exactly-once: a replayed batch id is a no-op, a crash mid-publish
    is rolled forward by the next store open WITHOUT double-appending,
    and an in-flight reader keeps its snapshot across the epoch."""
    import json
    from pathlib import Path

    import pytest

    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    root = str(tmp_path / "store")
    pid = 3
    store = TableStore(spark, root, backend=backend)
    store.replace_product_all(
        pid,
        {"IndicatorValues": spark.createDataFrame([(1, "base")], "id long, v string")},
    )

    def batch(ids, pids=None):
        rows = [(i, f"b{i}") for i in ids]
        df = spark.createDataFrame(rows, "id long, v string")
        return df.withColumn(
            PARTITION_COL,
            (F.lit(pid) if pids is None else (F.col("id") % 2 + pid)).cast("long"),
        )

    # batch 0 lands once; its replay is a no-op
    assert store.append_epoch("s1", 0, "IndicatorValues", batch([10, 11])) is True
    assert store.read("IndicatorValues").count() == 3
    assert store.append_epoch("s1", 0, "IndicatorValues", batch([10, 11])) is False
    assert store.read("IndicatorValues").count() == 3

    # snapshot isolation: a reader planned pre-epoch keeps its rows
    snapshot = store.read("IndicatorValues")
    n_before = snapshot.count()
    assert store.append_epoch("s1", 1, "IndicatorValues", batch([12])) is True
    assert snapshot.count() == n_before
    assert store.read("IndicatorValues").count() == 4

    # crash mid-publish across TWO partitions: stage batch 2 manually,
    # commit its manifest, crash after 1 partition — the fresh store
    # handle rolls forward and rows land exactly once
    df2 = batch([20, 21], pids=True)  # two partition dirs
    txn = Path(root) / "_staging" / "etxn_s1_2"
    df2.write.partitionBy(PARTITION_COL).parquet(str(txn / "IndicatorValues"))
    tdir = txn / "IndicatorValues"
    files = {
        d.name: sorted(f.name for f in d.glob("*.parquet"))
        for d in tdir.glob(f"{PARTITION_COL}=*")
    }
    manifest = {
        "mode": "append",
        "stream_id": "s1",
        "batch_id": 2,
        "table": "IndicatorValues",
        "files": files,
        "schema": df2.drop(PARTITION_COL).schema.json(),
    }
    (txn / "MANIFEST.json.tmp").write_text(json.dumps(manifest))
    (txn / "MANIFEST.json.tmp").rename(txn / "MANIFEST.json")
    with pytest.raises(RuntimeError, match="simulated crash"):
        store._publish_epoch(txn, manifest, fail_after=1)
    store2 = TableStore(spark, root, backend=backend)  # recover() rolls forward
    assert store2.read("IndicatorValues").count() == 6
    # the rolled-forward batch is ledger-recorded: replay is a no-op
    assert store2.append_epoch("s1", 2, "IndicatorValues", df2) is False
    assert store2.read("IndicatorValues").count() == 6


def test_exactly_once_sink_streaming_integration(spark, tmp_path):
    """The foreachBatch wiring end-to-end: a file stream drained into
    the store lands every row exactly once, and a replay of the same
    epoch (the failure-recovery path) does not double-append."""
    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore
    from geo_explorer_etl_spark.streaming.incremental import (
        exactly_once_sink,
        stream_events,
    )

    src = tmp_path / "events_in"
    src.mkdir()
    ev = load_tables(spark, SF_SMOKE, "events")["events"].limit(40)
    ev.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
    import shutil

    part = next((tmp_path / "stage").glob("part-*.parquet"))
    shutil.copy(part, src / "g0.parquet")

    store = TableStore(spark, str(tmp_path / "store"))
    stream = stream_events(spark, str(src)).withColumn(
        PARTITION_COL, F.lit(1).cast("long")
    )
    q = exactly_once_sink(
        stream, str(tmp_path / "ckpt"), store, "IndicatorValues", "ev_stream"
    )
    q.awaitTermination(120)
    assert store.read("IndicatorValues").count() == 40
    # simulate the sink-side replay foreachBatch can deliver: batch 0
    # again -> no-op
    replay = load_tables(spark, SF_SMOKE, "events")["events"].limit(40).withColumn(
        PARTITION_COL, F.lit(1).cast("long")
    )
    assert store.append_epoch("ev_stream", 0, "IndicatorValues", replay) is False
    assert store.read("IndicatorValues").count() == 40


def test_schema_evolution_on_append(spark, tmp_path):
    """Appends may carry a superset or subset of the partition's schema
    (a cube adding a dimension column between refreshes): the manifest's
    declared schema becomes the union, old files read back with nulls in
    the new columns, subset-appended files with nulls in the missing
    ones. Type conflicts raise BEFORE writing; compact materializes and
    preserves the union; a product replace resets the schema."""
    import pytest

    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    root = str(tmp_path / "store")
    pid = 9
    store = TableStore(spark, root)

    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string").coalesce(1)
    store.replace_product_all(pid, {"IndicatorValues": v1})

    def tagged(df):
        return df.withColumn(PARTITION_COL, F.lit(pid).cast("long"))

    # superset append: a new dimension column lands
    store.append(
        "IndicatorValues",
        tagged(spark.createDataFrame([(3, "c", "x")], "id long, v string, NewDim string")).coalesce(1),
    )
    # subset append: a frame missing `v`
    store.append(
        "IndicatorValues", tagged(spark.createDataFrame([(4,)], "id long")).coalesce(1)
    )
    out = store.read("IndicatorValues")
    assert {"id", "v", "NewDim"} <= set(out.columns)
    rows = {r["id"]: (r["v"], r["NewDim"]) for r in out.collect()}
    assert rows == {1: ("a", None), 2: ("b", None), 3: ("c", "x"), 4: (None, None)}

    # same-name different-type conflict raises before anything lands
    with pytest.raises(ValueError, match="type conflict"):
        store.append(
            "IndicatorValues",
            tagged(spark.createDataFrame([(5, 7)], "id long, v long")),
        )
    assert store.read("IndicatorValues").count() == 4

    # compaction reads under the declared union (no column loss) and
    # preserves the evolved schema through the rewrite
    assert store.compact("IndicatorValues") == 1
    out2 = store.read("IndicatorValues")
    rows2 = {r["id"]: (r["v"], r["NewDim"]) for r in out2.collect()}
    assert rows2 == rows

    # a product replace RESETS the declared schema to the new frames'
    store.replace_product_all(
        pid,
        {"IndicatorValues": spark.createDataFrame([(9, 1.5)], "id long, score double")},
    )
    out3 = store.read("IndicatorValues")
    assert "score" in out3.columns and "NewDim" not in out3.columns
    assert [r["id"] for r in out3.collect()] == [9]


def test_file_level_zone_map_skipping(spark, tmp_path):
    """File-level data skipping below the partition grain: manifests
    carry per-file column min/max harvested at commit, and a
    predicate-bearing read opens ONLY the files whose stats admit a
    match — pinned by the listing probe (live_files). Results are
    always identical to read().filter(...), compaction re-harvests
    stats, and a fully-pruned read returns an empty frame, not None."""
    import json
    from pathlib import Path

    from geo_explorer_etl_spark.sources.store import COMMITTED, TableStore

    root = str(tmp_path / "store")
    pid = 5
    store = TableStore(spark, root)

    def frame(year, n=100):
        return spark.range(n).select(
            F.col("id"),
            F.to_date(F.lit(f"{year}-06-15")).alias("RefDate"),
            F.to_timestamp(F.lit(f"{year}-06-15 10:30:00")).alias("LoadTs"),
            (F.col("id") + year * 1000).cast("double").alias("Value"),
        )

    # one file per RefDate year: publish 2018, append 2020 and 2022
    store.replace_product_all(pid, {"IndicatorValues": frame(2018).coalesce(1)})
    for year in (2020, 2022):
        store.append(
            "IndicatorValues",
            frame(year)
            .coalesce(1)
            .withColumn("IndicatorThemeId", F.lit(pid).cast("long")),
        )
    all_files = store.live_files("IndicatorValues")
    assert len(all_files) == 3

    # the manifest carries zone maps for every live file
    part = Path(root) / "IndicatorValues" / f"IndicatorThemeId={pid}"
    manifest = json.loads((part / COMMITTED).read_text())
    assert set(manifest["stats"]) == set(manifest["files"])
    assert all("RefDate" in s and "Value" in s for s in manifest["stats"].values())

    # THE PIN: a RefDate-filtered read opens only the matching file
    where = [("RefDate", ">=", "2021-01-01")]
    assert len(store.live_files("IndicatorValues", where)) == 1
    got = sorted(
        (r["id"], str(r["RefDate"])) for r in store.read("IndicatorValues", where).collect()
    )
    want = sorted(
        (r["id"], str(r["RefDate"]))
        for r in store.read("IndicatorValues")
        .filter(F.col("RefDate") >= "2021-01-01")
        .collect()
    )
    assert got == want and len(got) == 100

    # numeric between-predicate prunes to the single covering file
    vwhere = [("Value", "between", (2020000.0, 2020099.0))]
    assert len(store.live_files("IndicatorValues", vwhere)) == 1
    assert store.read("IndicatorValues", vwhere).count() == 100

    # timestamp predicates prune too (requires TIMESTAMP_MICROS writes:
    # the INT96 legacy type has no parquet stats — session-pinned)
    import datetime

    twhere = [
        (
            "LoadTs",
            "between",
            (datetime.datetime(2020, 1, 1), datetime.datetime(2020, 12, 31)),
        )
    ]
    assert len(store.live_files("IndicatorValues", twhere)) == 1
    assert store.read("IndicatorValues", twhere).count() == 100

    # partition-dir skipping on the partition column predicate
    assert store.live_files("IndicatorValues", [("IndicatorThemeId", "==", 999)]) == []
    assert store.read("IndicatorValues", [("IndicatorThemeId", "==", 999)]).count() == 0
    # serving-path helper composes the product predicate with zone maps
    assert store.read_product_slice("IndicatorValues", pid).count() == 300
    assert store.read_product_slice("IndicatorValues", pid, where=where).count() == 100

    # compact() re-harvests stats for the rewritten files
    assert store.compact("IndicatorValues") == 1
    manifest2 = json.loads((part / COMMITTED).read_text())
    assert manifest2["stats"] and set(manifest2["stats"]) == set(manifest2["files"])
    # fully-pruned read: empty frame with the real schema, not None
    none_match = store.read("IndicatorValues", [("RefDate", ">=", "2030-01-01")])
    assert none_match.count() == 0
    assert "RefDate" in none_match.columns
    # predicate semantics survive compaction (pruning can no longer
    # split the merged file, the filter still cuts the rows)
    assert store.read("IndicatorValues", where).count() == 100  # the 2022 rows


def test_zone_map_mixed_granularity_is_conservative(spark, tmp_path):
    """ADVICE r6 (medium): a date-valued predicate against a TIMESTAMP
    column must not prune the file holding the matching midnight rows
    — mixed date/datetime granularity is treated as non-comparable
    (keep the file), and the re-applied row filter gives the exact
    Spark cast semantics. Mixed-type between bounds must keep the file
    instead of raising during driver-side listing (ADVICE r6 low)."""
    import datetime

    from geo_explorer_etl_spark.sources.store import (
        TableStore,
        _file_may_match,
    )

    # unit level: date-shaped vs datetime-shaped strings never prune
    stats = {"ts": ["2024-01-15T00:00:00", "2024-01-15T23:00:00"]}
    assert _file_may_match(stats, [("ts", "==", datetime.date(2024, 1, 15))])
    assert _file_may_match(stats, [("ts", "<", datetime.date(2024, 1, 16))])
    assert _file_may_match(
        stats, [("ts", "between", (datetime.date(2024, 1, 15), datetime.date(2024, 1, 15)))]
    )
    # converse: datetime predicate vs date-shaped stats
    dstats = {"d": ["2024-01-15", "2024-01-15"]}
    assert _file_may_match(dstats, [("d", "==", datetime.datetime(2024, 1, 15))])
    # same-shape comparisons still prune
    assert not _file_may_match(dstats, [("d", "==", datetime.date(2024, 1, 16))])
    # mixed-type between bounds: kept conservatively, no TypeError
    assert _file_may_match({"x": [1, 9]}, [("x", "between", (0, "zzz"))])

    # integration: timestamp column, date equality predicate — the file
    # whose only matching rows are AT midnight must be scanned
    root = str(tmp_path / "store")
    store = TableStore(spark, root)
    df = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 15, 0, 0, 0)),
         (2, datetime.datetime(2024, 1, 15, 12, 0, 0))],
        "id long, ts timestamp",
    ).coalesce(1)
    store.replace_product_all(31, {"IndicatorValues": df})
    got = store.read("IndicatorValues", [("ts", "==", datetime.date(2024, 1, 15))])
    want = store.read("IndicatorValues").filter(
        F.col("ts") == datetime.date(2024, 1, 15)
    )
    assert [r["id"] for r in got.collect()] == [r["id"] for r in want.collect()] == [1]


def test_epoch_first_manifest_unions_legacy_schema(spark, tmp_path):
    """ADVICE r6 (medium): when an epoch append creates the FIRST
    manifest over a listing-mode partition, the declared schema is the
    UNION of a legacy file's footer schema and the batch's — columns
    living only in legacy files survive (as null on batch files), and
    a same-name type conflict raises cleanly."""
    import pytest

    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    root = str(tmp_path / "store")
    pid = 41
    store = TableStore(spark, root)
    # legacy listing-mode partition: plain append, extra column `legacy_only`
    legacy = spark.createDataFrame(
        [(1, "a", 9.5)], "id long, v string, legacy_only double"
    ).withColumn(PARTITION_COL, F.lit(pid).cast("long"))
    store.append("IndicatorValues", legacy)
    # epoch batch WITHOUT legacy_only creates the first manifest
    batch = spark.createDataFrame([(2, "b")], "id long, v string").withColumn(
        PARTITION_COL, F.lit(pid).cast("long")
    )
    assert store.append_epoch("s9", 0, "IndicatorValues", batch) is True
    out = store.read("IndicatorValues")
    assert "legacy_only" in out.columns
    rows = {r["id"]: r["legacy_only"] for r in out.collect()}
    assert rows == {1: 9.5, 2: None}

    # type conflict between legacy and batch schema raises, not a scan error
    pid2 = 42
    legacy2 = spark.createDataFrame([(1, "a")], "id long, v string").withColumn(
        PARTITION_COL, F.lit(pid2).cast("long")
    )
    store.append("IndicatorValues", legacy2)
    bad = spark.createDataFrame([(2, 7.0)], "id long, v double").withColumn(
        PARTITION_COL, F.lit(pid2).cast("long")
    )
    with pytest.raises(ValueError, match="type conflict"):
        store.append_epoch("s9", 1, "IndicatorValues", bad)


def test_recover_spares_inflight_unlocked_stage(spark, tmp_path):
    """append_epoch stages its batch OUTSIDE the store lock (ADVICE r6
    low: availability); recover() must not roll back a manifest-less
    staging dir whose _INFLIGHT sentinel is fresh, but still rolls
    back stale (crashed-writer) dirs and plain manifest-less dirs."""
    import os
    import time
    from pathlib import Path

    from geo_explorer_etl_spark.sources.store import TableStore

    root = str(tmp_path / "store")
    store = TableStore(spark, root)
    staging = Path(root) / "_staging"
    live = staging / "etxn_live_0"
    live.mkdir(parents=True)
    (live / "_INFLIGHT").write_text("")
    stale = staging / "etxn_stale_0"
    stale.mkdir(parents=True)
    (stale / "_INFLIGHT").write_text("")
    old = time.time() - TableStore.INFLIGHT_GRACE_SECONDS - 10
    os.utime(stale / "_INFLIGHT", (old, old))
    bare = staging / "txn_99"
    bare.mkdir(parents=True)

    TableStore(spark, root)  # fresh open -> recover()
    assert live.exists()
    assert not stale.exists()
    assert not bare.exists()


def test_serve_primary_query_missing_table_raises(spark, tmp_path):
    """ADVICE r6 (low): a store without the bridge/fact tables yields a
    descriptive error naming the missing table, not AttributeError."""
    import pytest

    from geo_explorer_etl_spark.plans.star_schema import serve_primary_query
    from geo_explorer_etl_spark.sources.store import TableStore

    store = TableStore(spark, str(tmp_path / "store"))
    empty = spark.createDataFrame([], "x long")
    with pytest.raises(ValueError, match="GeographyReferenceForIndicator"):
        serve_primary_query(store, 1, 99, empty, empty, empty)


def test_zorder_compaction_prunes_on_both_columns(spark, tmp_path):
    """VERDICT r6 directive #4: compact(sort_by=[a, b]) clusters on the
    interleaved-bit Z-order key, so a TWO-predicate read (the web
    workload's RefDate AND GeographicLevelId shape) opens a strict
    subset of what the single-column-sorted layout opens — zone maps
    stay tight on BOTH columns. Row results are identical on every
    layout (pruning is only ever an optimization)."""
    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    pid = 61
    n = 8192

    def build(root, sort_by):
        store = TableStore(spark, root)
        # a true 64x64 grid: x and y are INDEPENDENT dimensions — the
        # worst case for a single-column sort (within any x-clustered
        # file, y spans the whole domain)
        df = (
            spark.range(n)
            .select(
                F.col("id"),
                (F.col("id") % 64).alias("x"),
                (F.floor(F.col("id") / 64) % 64).alias("y"),
            )
            .withColumn(PARTITION_COL, F.lit(pid).cast("long"))
        )
        store.replace_product_all(pid, {"IndicatorValues": df.repartition(16)})
        assert store.compact(
            "IndicatorValues", target_file_bytes=4096, sort_by=sort_by
        ) == 1
        return store

    where = [("x", "between", (0, 31)), ("y", "between", (0, 7))]
    single = build(str(tmp_path / "s1"), "x")
    zorder = build(str(tmp_path / "s2"), ["x", "y"])

    files_single = single.live_files("IndicatorValues", where)
    files_z = zorder.live_files("IndicatorValues", where)
    total_z = len(zorder.live_files("IndicatorValues"))
    # both layouts produced a comparable number of files
    assert total_z >= 8
    # THE PIN: z-order prunes strictly harder on the 2-predicate read
    assert len(files_z) < len(files_single)
    # and on a second-column-only read the single sort prunes NOTHING
    # while z-order still drops most files
    yonly = [("y", "between", (8, 15))]
    assert len(single.live_files("IndicatorValues", yonly)) == len(
        single.live_files("IndicatorValues")
    )
    assert len(zorder.live_files("IndicatorValues", yonly)) < total_z // 2

    # correctness: identical rows on both layouts
    rows = lambda st: sorted(
        (r["id"], r["x"], r["y"])
        for r in st.read("IndicatorValues", where).collect()
    )
    assert rows(single) == rows(zorder)
    assert len(rows(single)) > 0

    # string columns are rejected loudly (hashing kills locality)
    import pytest

    with pytest.raises(ValueError, match="unsupported type"):
        from geo_explorer_etl_spark.sources.store import _zorder_key

        _zorder_key(spark.createDataFrame([("a", 1)], "s string, i long"), ["s", "i"])


def test_bloom_filter_point_lookup_skipping(spark, tmp_path):
    """VERDICT r6 directive #2: on an UNsorted hash-keyed layout the
    zone maps span nearly the whole key range (every file's [min, max]
    admits every point probe), but the per-file blooms harvested at
    commit prune a point read down to the file(s) that actually hold
    the key. Results stay identical to the unpruned filter; blooms
    carry forward through append; non-bloomed columns are unaffected."""
    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    root = str(tmp_path / "store")
    pid = 71
    store = TableStore(
        spark, root, bloom_cols={"IndicatorValues": ["IndicatorValueCode"]}
    )

    def frame(lo, n=400):
        # hash-ish scattered codes: every file spans ~the full range
        return (
            spark.range(lo, lo + n)
            .select(
                F.col("id"),
                F.concat(
                    F.lit("IVC-"), F.md5(F.col("id").cast("string"))
                ).alias("IndicatorValueCode"),
            )
            .coalesce(1)
        )

    store.replace_product_all(pid, {"IndicatorValues": frame(0)})
    for lo in (1000, 2000):
        store.append(
            "IndicatorValues",
            frame(lo).withColumn(PARTITION_COL, F.lit(pid).cast("long")),
        )
    assert len(store.live_files("IndicatorValues")) == 3

    import hashlib

    probe = "IVC-" + hashlib.md5(b"1200").hexdigest()  # lives in file 2 only
    where = [("IndicatorValueCode", "==", probe)]
    # zone maps alone can't prune this (md5 strings span the space);
    # THE PIN: the bloom admits exactly the one holding file
    assert len(store.live_files("IndicatorValues", where)) == 1
    got = store.read("IndicatorValues", where).collect()
    assert len(got) == 1 and got[0]["id"] == 1200

    # a probe for an absent key prunes EVERY file, result is empty
    none = [("IndicatorValueCode", "==", "IVC-not-there")]
    assert store.live_files("IndicatorValues", none) == []
    assert store.read("IndicatorValues", none).count() == 0

    # a store handle WITHOUT bloom_cols still reads the blooms from the
    # manifest (they live in the snapshot, not the handle)
    plain = TableStore(spark, root)
    assert len(plain.live_files("IndicatorValues", where)) == 1

    # compact() re-harvests blooms for the rewritten files
    assert store.compact("IndicatorValues") == 1
    assert len(store.live_files("IndicatorValues")) == 1
    assert store.read("IndicatorValues", where).count() == 1
    assert store.live_files("IndicatorValues", none) == []


def test_change_data_feed_reconstructs_snapshots(spark, tmp_path):
    """VERDICT r6 directive #3: read_changes(table, since) yields
    row-level insert/delete deltas for append, merge_rows, AND
    replace_product_all, and applying them (multiset semantics) to the
    old snapshot reproduces the new one exactly — the Delta CDF
    contract, derived purely from the manifest history journal."""
    import time

    import pytest

    from geo_explorer_etl_spark.sources.store import (
        PARTITION_COL,
        TableStore,
        apply_changes,
    )

    root = str(tmp_path / "store")
    pid = 81
    store = TableStore(spark, root)

    def frame(rows):
        return spark.createDataFrame(rows, "k long, v string").withColumn(
            PARTITION_COL, F.lit(pid).cast("long")
        )

    def snap():
        df = store.read("IndicatorValues")
        return df.select("k", "v", PARTITION_COL) if df is not None else None

    def check_window(old, since):
        """Deltas since `since` applied to `old` == current snapshot."""
        changes = store.read_changes("IndicatorValues", since)
        assert changes is not None
        new = snap()
        rebuilt = apply_changes(
            old if old is not None else new.limit(0), changes
        ).select("k", "v", PARTITION_COL)
        assert rebuilt.exceptAll(new).count() == 0
        assert new.exceptAll(rebuilt).count() == 0
        return changes

    # -- append: inserts only -------------------------------------------
    store.replace_product_all(pid, {"IndicatorValues": frame([(1, "a"), (2, "b")])})
    t0 = time.time()
    old = snap().localCheckpoint()           # pin rows, not the manifest
    store.append("IndicatorValues", frame([(3, "c")]))
    ch = check_window(old, t0)
    kinds = {r["_change_type"] for r in ch.collect()}
    assert kinds == {"insert"}

    # -- merge_rows: delete of superseded rows + insert of new ----------
    t1 = time.time()
    old = snap().localCheckpoint()
    store.merge_rows("IndicatorValues", frame([(2, "B2"), (9, "i")]), ["k"])
    ch = check_window(old, t1)
    by_kind = {
        k: sorted((r["k"], r["v"]) for r in ch.filter(F.col("_change_type") == k).collect())
        for k in ("insert", "delete")
    }
    # the merge rewrites the partition: old rows deleted, merged state inserted
    assert (2, "b") in by_kind["delete"]
    assert (2, "B2") in by_kind["insert"] and (9, "i") in by_kind["insert"]

    # -- replace: full supersession -------------------------------------
    t2 = time.time()
    old = snap().localCheckpoint()
    store.replace_product_all(pid, {"IndicatorValues": frame([(7, "z")])})
    check_window(old, t2)

    # whole-history window from the epoch reconstructs from nothing
    check_window(None, 0.0)

    # deltas whose files were vacuumed raise loudly, naming the file
    store.vacuum("IndicatorValues", older_than_seconds=0.0)
    with pytest.raises(FileNotFoundError, match="vacuum"):
        store.read_changes("IndicatorValues", t2).count()

    # a quiet window returns None
    assert store.read_changes("IndicatorValues", time.time()) is None


def test_change_feed_drives_incremental_dimension_growth(spark, tmp_path):
    """CDF consumer wiring (I3 incrementally): new REF_DATE years are
    discovered from the INSERTED rows only — the work is proportional
    to the changed files, not the table — and the grown dimension
    matches what a full-table recompute produces."""
    import time

    from geo_explorer_etl_spark.operators import joins as J
    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    root = str(tmp_path / "store")
    pid = 82
    store = TableStore(spark, root)

    def frame(years):
        return spark.createDataFrame(
            [(y, f"r{y}") for y in years], "RefYear int, v string"
        ).withColumn(PARTITION_COL, F.lit(pid).cast("long"))

    store.replace_product_all(pid, {"IndicatorValues": frame([2018, 2019])})
    existing = spark.createDataFrame([("2018",), ("2019",)], "Display_EN string")
    t0 = time.time()
    store.append("IndicatorValues", frame([2019, 2021, 2022]))

    inserted = store.read_changes("IndicatorValues", t0).filter(
        F.col("_change_type") == "insert"
    )
    observed = inserted.select(
        F.col("RefYear").cast("string").alias("Display_EN")
    ).distinct()
    new_years = J.anti_new_rows(observed, existing, ["Display_EN"])
    assert sorted(r["Display_EN"] for r in new_years.collect()) == ["2021", "2022"]

    # identical to the full-table recompute
    full = (
        store.read("IndicatorValues")
        .select(F.col("RefYear").cast("string").alias("Display_EN"))
        .distinct()
    )
    full_new = J.anti_new_rows(full, existing, ["Display_EN"])
    assert sorted(r["Display_EN"] for r in full_new.collect()) == ["2021", "2022"]


def test_fsck_repair_heals_leftovers_and_stats(spark, tmp_path):
    """VERDICT r6 directive #6: fsck(repair=True) garbage-collects
    aged unknown leftovers, re-harvests missing zone-map stats into the
    manifest, leaves live data and healthy superseded files untouched,
    and the report reflects the repair."""
    import json
    import os
    import time
    from pathlib import Path

    from geo_explorer_etl_spark.sources.store import COMMITTED, TableStore

    root = str(tmp_path / "store")
    pid = 91
    store = TableStore(spark, root)
    store.replace_product_all(
        pid,
        {"IndicatorValues": spark.range(100).select(
            F.col("id"), (F.col("id") * 2).alias("Value")
        ).coalesce(1)},
    )
    part = Path(root) / "IndicatorValues" / f"IndicatorThemeId={pid}"

    # inject an AGED unknown leftover and a FRESH one
    aged = part / "leftover-aged.parquet"
    aged.write_bytes(b"not really parquet")
    old = time.time() - 7200
    os.utime(aged, (old, old))
    fresh = part / "leftover-fresh.parquet"
    fresh.write_bytes(b"also not parquet")

    # knock the stats entry out of the live manifest (simulates a
    # commit whose footer read failed)
    m = json.loads((part / COMMITTED).read_text())
    live_name = m["files"][0]
    broken = dict(m)
    broken["stats"] = {}
    broken["rows"] = {}
    (part / COMMITTED).write_text(json.dumps(broken))

    # audit names everything, heals nothing
    audit = store.fsck("IndicatorValues")["IndicatorValues"]
    assert f"IndicatorThemeId={pid}/{live_name}" in audit["stats_missing"]
    assert len(audit["unknown"]) == 2

    # repair: aged leftover GC'd, fresh one retained, stats re-harvested
    rep = store.fsck("IndicatorValues", repair=True)["IndicatorValues"]
    assert rep["repaired"]["gc"] == [f"IndicatorThemeId={pid}/leftover-aged.parquet"]
    assert rep["repaired"]["stats"] == [f"IndicatorThemeId={pid}/{live_name}"]
    assert rep["unknown"] == [f"IndicatorThemeId={pid}/leftover-fresh.parquet"]
    assert not aged.exists() and fresh.exists()

    # the healed manifest skips files again and rows are intact
    m2 = json.loads((part / COMMITTED).read_text())
    assert live_name in m2["stats"] and m2["rows"][live_name] == 100
    assert store.read("IndicatorValues").count() == 100
    assert store.live_files("IndicatorValues", [("Value", ">", 300)]) == []

    # a clean store (after GCing the fresh leftover too) reports nothing
    store.fsck("IndicatorValues", repair=True, older_than_seconds=0.0)
    assert store.fsck("IndicatorValues") == {}


def test_or_predicate_unions_file_sets_and_routes_dml(spark, tmp_path):
    """The OR disjunct grammar (VERDICT r13 missing #2):
    ``[[...], "or", [...]]`` — zone maps UNION file sets across the
    disjuncts (a read opens the files matching EITHER side, never the
    whole table), results equal read().filter(a | b), delete_where /
    update_where accept the same form, and malformed mixes refuse
    loudly."""
    import pytest as _pytest

    from geo_explorer_etl_spark.sources.store import TableStore

    store = TableStore(spark, str(tmp_path / "store"))

    def frame(year, n=100):
        return spark.range(n).select(
            (F.col("id") + year * 1000).alias("id"),
            F.to_date(F.lit(f"{year}-06-15")).alias("RefDate"),
            (F.col("id") + year * 1000).cast("double").alias("Value"),
        )

    store.replace_product_all(7, {"IndicatorValues": frame(2018).coalesce(1)})
    for year in (2020, 2022):
        store.append(
            "IndicatorValues",
            frame(year).coalesce(1).withColumn(
                "IndicatorThemeId", F.lit(7).cast("long")
            ),
        )
    assert len(store.live_files("IndicatorValues")) == 3
    # THE PIN: the OR of two point-year ranges opens exactly the two
    # covering files — the union of the disjuncts' file sets
    w = [
        [("RefDate", "<", "2019-01-01")],
        "or",
        [("Value", "between", (2022000.0, 2022099.0))],
    ]
    assert len(store.live_files("IndicatorValues", w)) == 2
    got = sorted(r["id"] for r in store.read("IndicatorValues", w).collect())
    want = sorted(
        r["id"]
        for r in store.read("IndicatorValues")
        .filter((F.col("RefDate") < "2019-01-01") | F.col("Value").between(2022000.0, 2022099.0))
        .collect()
    )
    assert got == want and len(got) == 200
    # DML through the same grammar: delete one disjunct-pair, then
    # update across another
    n = store.delete_where(
        "IndicatorValues",
        [[("id", "<", 2018010)], "or", [("id", ">=", 2022090)]],
    )
    assert n == 20
    n = store.update_where(
        "IndicatorValues",
        {"Value": "Value + 1000000"},
        [[("RefDate", "==", "2020-06-15")], "or", [("id", "==", 2018050)]],
    )
    assert n == 101
    assert (
        store.read(
            "IndicatorValues", [("Value", ">", 3000000.0)]
        ).count() == 101
    )
    # malformed forms refuse loudly
    with _pytest.raises(ValueError, match="separated by 'or'"):
        store.read("IndicatorValues", [[("id", "==", 1)], [("id", "==", 2)]])
    with _pytest.raises(ValueError, match="separated by 'or'"):
        store.read(
            "IndicatorValues", [[("id", "==", 1)], "or", [("id", "==", 2)], [("id", "==", 3)]]
        )
    with _pytest.raises(ValueError, match="trailing 'or'"):
        store.read("IndicatorValues", [[("id", "==", 1)], "or"])
    with _pytest.raises(ValueError, match="non-empty list"):
        store.read("IndicatorValues", [("id", "==", 1), "or", ("id", "==", 2)])


def test_in_predicate_prunes_by_zone_map_and_bloom(spark, tmp_path):
    """``in`` — the point-SET predicate serve_primary_query pushes for
    dynamic file pruning: zone maps prune when every member provably
    misses a file's [min, max]; blooms prune hash-scattered layouts by
    set membership. Results always equal read().filter(isin)."""
    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    root = str(tmp_path / "store")
    pid = 95
    store = TableStore(spark, root, bloom_cols={"IndicatorValues": ["vid"]})

    def frame(lo, n=200):
        return spark.range(lo, lo + n).select(
            F.col("id"),
            # scattered ids: every file's [min,max] spans ~the key space
            ((F.col("id") * 2654435761) % 1000000).alias("vid"),
        ).coalesce(1)

    store.replace_product_all(pid, {"IndicatorValues": frame(0)})
    for lo in (1000, 2000):
        store.append(
            "IndicatorValues",
            frame(lo).withColumn(PARTITION_COL, F.lit(pid).cast("long")),
        )
    assert len(store.live_files("IndicatorValues")) == 3

    # probe ids that all live in the SECOND file (source ids 1000-1002)
    ids = [(i * 2654435761) % 1000000 for i in (1000, 1001, 1002)]
    where = [("vid", "in", ids)]
    # blooms are probabilistic: a false positive may keep an extra
    # file, but the probe must open FEWER than all files and results
    # must be exact either way
    assert len(store.live_files("IndicatorValues", where)) < 3
    got = sorted(r["id"] for r in store.read("IndicatorValues", where).collect())
    want = sorted(
        r["id"]
        for r in store.read("IndicatorValues").filter(F.col("vid").isin(ids)).collect()
    )
    assert got == want == [1000, 1001, 1002]

    # an all-absent set prunes every file; empty set matches nothing
    assert store.live_files("IndicatorValues", [("vid", "in", [10**9])]) == []
    assert store.read("IndicatorValues", [("vid", "in", [10**9])]).count() == 0

    # zone-map-only path (no blooms on `id`): a set wholly outside
    # every range prunes; a straddling member keeps
    assert store.live_files("IndicatorValues", [("id", "in", [5000, 6000])]) == []
    assert len(store.live_files("IndicatorValues", [("id", "in", [5000, 1005])])) == 1


def test_change_feed_spans_restore(spark, tmp_path):
    """A restore (time-travel rollback) is itself a commit: its
    manifest swap re-lists the old files, so the change feed reports
    the rollback as deletes of the superseded rows plus re-inserts of
    the restored ones — and applying the deltas across the restore
    still reconstructs the final snapshot exactly."""
    import time

    from geo_explorer_etl_spark.sources.store import (
        PARTITION_COL,
        TableStore,
        apply_changes,
    )

    root = str(tmp_path / "store")
    pid = 83
    store = TableStore(spark, root)

    def frame(rows):
        return spark.createDataFrame(rows, "k long, v string").withColumn(
            PARTITION_COL, F.lit(pid).cast("long")
        )

    store.replace_product_all(pid, {"IndicatorValues": frame([(1, "a"), (2, "b")])})
    t_v1 = time.time()
    old = store.read("IndicatorValues").select("k", "v", PARTITION_COL).localCheckpoint()

    t0 = time.time()
    store.replace_product_all(pid, {"IndicatorValues": frame([(7, "z")])})
    assert store.restore("IndicatorValues", t_v1) == 1
    assert sorted(r["k"] for r in store.read("IndicatorValues").collect()) == [1, 2]

    changes = store.read_changes("IndicatorValues", t0)
    kinds = sorted(
        (r["_change_type"], r["k"]) for r in changes.collect()
    )
    # forward replace: +7/-1/-2; restore: -7/+1/+2 — all present
    assert ("insert", 7) in kinds and ("delete", 7) in kinds
    assert ("insert", 1) in kinds and ("delete", 1) in kinds

    rebuilt = apply_changes(old, changes).select("k", "v", PARTITION_COL)
    new = store.read("IndicatorValues").select("k", "v", PARTITION_COL)
    assert rebuilt.exceptAll(new).count() == 0
    assert new.exceptAll(rebuilt).count() == 0


def test_history_api_and_retention(spark, tmp_path):
    """DESCRIBE HISTORY analog + journal retention: history() lists
    every commit newest-first with counts; vacuum(prune_history=True)
    bounds the journal to the retention window while always keeping
    each partition's latest entry (read_at for in-window snapshots
    still works)."""
    import time

    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    root = str(tmp_path / "store")
    pid = 85
    store = TableStore(spark, root)

    def frame(rows):
        return spark.createDataFrame(rows, "k long, v string").withColumn(
            PARTITION_COL, F.lit(pid).cast("long")
        )

    store.replace_product_all(pid, {"IndicatorValues": frame([(1, "a")])})
    store.append("IndicatorValues", frame([(2, "b")]))
    t_mid = time.time()
    store.merge_rows("IndicatorValues", frame([(1, "A2")]), ["k"])

    hist = store.history("IndicatorValues")
    assert len(hist) >= 3
    assert hist[0]["committed_at"] >= hist[-1]["committed_at"]  # newest first
    assert hist[0]["n_files"] >= 1 and hist[0]["partition"] == f"IndicatorThemeId={pid}"
    assert all(h["n_rows"] is not None for h in hist)

    # SUCCESSOR criterion (review r7 #3): with a generous window,
    # nothing prunes — an old entry stays authoritative until its
    # successor ages out, so recent-window time travel keeps working
    store.vacuum("IndicatorValues", older_than_seconds=3600.0, prune_history=True)
    assert len(store.history("IndicatorValues")) == len(hist)
    assert store.read_at("IndicatorValues", t_mid).count() == 2

    # prune everything outside a zero-second window: only the latest
    # journal entry per partition survives, current reads are intact
    store.vacuum("IndicatorValues", older_than_seconds=0.0, prune_history=True)
    hist2 = store.history("IndicatorValues")
    assert len(hist2) == 1
    assert store.read("IndicatorValues").count() == 2
    # time travel / restore / CDF into the pruned region now REFUSE
    # loudly (a tombstone records the truncation) instead of silently
    # resolving to nothing — the review-pinned retention contract
    import pytest

    with pytest.raises(ValueError, match="outside vacuum retention"):
        store.read_at("IndicatorValues", t_mid)
    with pytest.raises(ValueError, match="outside vacuum retention"):
        store.restore("IndicatorValues", t_mid)
    with pytest.raises(ValueError, match="outside vacuum retention"):
        store.read_changes("IndicatorValues", 0.0)
    # current-window operations are unaffected
    assert store.read_at("IndicatorValues", time.time()).count() == 2


def test_merge_rows_rewrites_only_candidate_files(spark, tmp_path):
    """VERDICT r7 directive #1: file-granularity MERGE. An upsert
    whose keys live in 1 of N files must rewrite EXACTLY that file —
    the other N-1 are carried into the new manifest BY REFERENCE
    (manifest diff asserted) — and the merged rows must equal the
    whole-partition merge semantics. Pinned under mode="cow" since
    round 10 (the default "auto" takes the deletion-vector path for
    sparse matches — see test_merge_rows_scattered_dv_writes_sidecars)."""
    from pathlib import Path

    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore
    import re

    root = str(tmp_path / "store")
    pid = 61
    store = TableStore(spark, root)

    def frame(rows):
        return spark.createDataFrame(rows, "k long, v string").withColumn(
            PARTITION_COL, F.lit(pid).cast("long")
        )

    # four appends -> four files with DISJOINT key ranges (tight zone
    # maps: [0..9], [10..19], [20..29], [30..39])
    store.replace_product_all(
        pid, {"IndicatorValues": frame([(i, "a") for i in range(10)]).coalesce(1)}
    )
    for lo in (10, 20, 30):
        store.append(
            "IndicatorValues",
            frame([(i, "a") for i in range(lo, lo + 10)]).coalesce(1),
        )
    part = Path(root) / "IndicatorValues" / f"{PARTITION_COL}={pid}"
    before = store._manifest(part)
    assert len(before["files"]) == 4

    # upsert keys 12 & 15: both live in the [10..19] file only
    store.merge_rows("IndicatorValues", frame([(12, "UP"), (15, "UP")]), ["k"], mode="cow")
    after = store._manifest(part)
    kept = set(before["files"]) & set(after["files"])
    rewritten = set(before["files"]) - set(after["files"])
    added = set(after["files"]) - set(before["files"])
    assert len(rewritten) == 1, f"expected 1 rewritten file, got {rewritten}"
    assert len(kept) == 3                      # carried by reference
    assert all(re.match(r"merge-[0-9a-f]+\.parquet", n) for n in added)

    out = store.read("IndicatorValues")
    got = {(r["k"], r["v"]) for r in out.select("k", "v").collect()}
    want = {(i, "a") for i in range(40) if i not in (12, 15)} | {(12, "UP"), (15, "UP")}
    assert got == want
    assert store.count_rows("IndicatorValues") == 40

    # pure INSERT keys (outside every file's range): zero rewrites
    before2 = store._manifest(part)
    store.merge_rows("IndicatorValues", frame([(100, "new")]), ["k"])
    after2 = store._manifest(part)
    assert set(before2["files"]) <= set(after2["files"])
    assert len(set(after2["files"]) - set(before2["files"])) == 1
    assert store.count_rows("IndicatorValues") == 41


def test_merge_rows_file_level_matches_full_merge_semantics(spark, tmp_path):
    """Differential: the file-level merge must produce exactly the
    rows the whole-partition path produces — including schema
    evolution (incoming carries a NEW column; old rows null-fill) and
    null-key incoming rows (pure appends, never matched)."""
    from pathlib import Path

    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore
    root = str(tmp_path / "store")
    pid = 62
    store = TableStore(spark, root)

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    ).withColumn(PARTITION_COL, F.lit(pid).cast("long"))
    store.replace_product_all(pid, {"IndicatorValues": base.coalesce(1)})
    store.append(
        "IndicatorValues",
        spark.createDataFrame([(10, "x")], "k long, v string")
        .withColumn(PARTITION_COL, F.lit(pid).cast("long"))
        .coalesce(1),
    )

    incoming = spark.createDataFrame(
        [(2, "B2", 7.5), (None, "nullkey", 1.0), (20, "ins", 2.0)],
        "k long, v string, w double",
    ).withColumn(PARTITION_COL, F.lit(pid).cast("long"))
    store.merge_rows("IndicatorValues", incoming, ["k"])

    out = store.read("IndicatorValues").select("k", "v", "w").collect()
    got = {(r["k"], r["v"], r["w"]) for r in out}
    assert got == {
        (1, "a", None),
        (2, "B2", 7.5),
        (3, "c", None),
        (10, "x", None),
        (None, "nullkey", 1.0),
        (20, "ins", 2.0),
    }


def test_merge_rows_wide_keyset_falls_back_to_partition_rewrite(spark, tmp_path):
    """Over MERGE_KEYSET_CAP distinct keys the merge takes the
    whole-partition path (no unbounded driver collect) and still
    lands the right rows."""
    from pathlib import Path

    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore
    root = str(tmp_path / "store")
    pid = 63
    store = TableStore(spark, root)
    store.MERGE_KEYSET_CAP = 5  # force the fallback cheaply

    def frame(rows):
        return spark.createDataFrame(rows, "k long, v string").withColumn(
            PARTITION_COL, F.lit(pid).cast("long")
        )

    store.replace_product_all(
        pid, {"IndicatorValues": frame([(i, "a") for i in range(10)]).coalesce(1)}
    )
    store.merge_rows(
        "IndicatorValues", frame([(i, "up") for i in range(8)]), ["k"]
    )
    got = {(r["k"], r["v"]) for r in store.read("IndicatorValues").select("k", "v").collect()}
    assert got == {(i, "up") for i in range(8)} | {(8, "a"), (9, "a")}
    # the fallback keeps the one-row-per-key rule
    with pytest.raises(ValueError, match="ambiguous"):
        store.merge_rows(
            "IndicatorValues",
            frame([(i, "dup") for i in range(8)] + [(9, "d1"), (9, "d2")]),
            ["k"],
        )
    assert {
        (r["k"], r["v"]) for r in store.read("IndicatorValues").select("k", "v").collect()
    } == got


def test_merge_rows_bloom_candidates_on_hash_scattered_layout(spark, tmp_path):
    """On a hash-scattered layout (zone maps span everything) the
    candidate selection falls through to the per-file BLOOMS: a
    single-key upsert rewrites only the file(s) whose bloom may
    contain the key."""
    from pathlib import Path

    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore
    root = str(tmp_path / "store")
    pid = 64
    store = TableStore(spark, root, bloom_cols={"IndicatorValues": ["k"]})

    def frame(rows):
        return spark.createDataFrame(rows, "k long, v string").withColumn(
            PARTITION_COL, F.lit(pid).cast("long")
        )

    # interleaved ranges: every file's [min,max] spans ~the whole key
    # space, so zone maps alone can't discriminate
    store.replace_product_all(
        pid, {"IndicatorValues": frame([(i, "a") for i in range(0, 100, 4)]).coalesce(1)}
    )
    for off in (1, 2, 3):
        store.append(
            "IndicatorValues",
            frame([(i, "a") for i in range(off, 100, 4)]).coalesce(1),
        )
    part = Path(root) / "IndicatorValues" / f"{PARTITION_COL}={pid}"
    before = store._manifest(part)
    assert len(before["files"]) == 4

    store.merge_rows("IndicatorValues", frame([(42, "UP")]), ["k"])  # 42 % 4 == 2
    after = store._manifest(part)
    # r10: the sparse match takes the DELETION-VECTOR path — the bloom
    # still bounds the scan AND the mask to the single holding file
    assert set(before["files"]) <= set(after["files"])   # zero rewrites
    assert list((after.get("dv") or {}).values()) and len(after["dv"]) == 1
    assert sum(e["count"] for e in after["dv"].values()) == 1
    got = {(r["k"], r["v"]) for r in store.read("IndicatorValues").select("k", "v").collect()}
    assert (42, "UP") in got and len(got) == 100
    # the COW mode still isolates and rewrites exactly the holder
    store.merge_rows("IndicatorValues", frame([(43, "UP2")]), ["k"], mode="cow")
    after2 = store._manifest(part)
    rewritten = set(after["files"]) - set(after2["files"])
    assert len(rewritten) == 1            # bloom isolated the holder


def test_merge_rows_swap_aborts_and_retries_under_concurrent_replace(spark, tmp_path):
    """Rewrite-conflict rule: a replace landing between the merge's
    candidate read and its manifest swap supersedes the rewritten
    sources — the first swap must ABORT (resurrecting the old rows
    would be wrong) and the retry must merge against the NEW
    snapshot."""
    from pathlib import Path

    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore
    root = str(tmp_path / "store")
    pid = 65
    store = TableStore(spark, root, backend="cas")

    def frame(rows):
        return spark.createDataFrame(rows, "k long, v string").withColumn(
            PARTITION_COL, F.lit(pid).cast("long")
        )

    store.replace_product_all(pid, {"IndicatorValues": frame([(1, "old"), (2, "old")])})

    racer = TableStore(spark, root, backend="cas")
    fired = {"done": False}
    real_manifest = store._manifest

    def hijack(part_dir):
        m = real_manifest(part_dir)
        if not fired["done"] and part_dir.name == f"{PARTITION_COL}={pid}":
            # after the merge snapshots its candidates, land a replace
            fired["done"] = True
            racer.replace_product_all(
                pid, {"IndicatorValues": frame([(1, "replaced"), (3, "replaced")])}
            )
        return m

    store._manifest = hijack
    try:
        store.merge_rows("IndicatorValues", frame([(1, "merged")]), ["k"])
    finally:
        store._manifest = real_manifest

    got = {(r["k"], r["v"]) for r in store.read("IndicatorValues").select("k", "v").collect()}
    # the merge applied ON TOP of the replace: key 2 (pre-replace) gone
    assert got == {(1, "merged"), (3, "replaced")}


def test_delete_where_file_granular(spark, tmp_path):
    """VERDICT r7 directive #4 + r9 directive #1: predicate-scoped
    row-level delete. Classification per file: provably-untouched
    files carried BY REFERENCE (never read), provably-all-matched
    files DROPPED without a read, sparsely-overlapping files kept with
    a DELETION VECTOR (merge-on-read — zero data files rewritten in
    auto mode for this sparse overlap), and mode='cow' still pins the
    classic rewrite shape — both equal filter-and-replace."""
    from pathlib import Path

    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    root = str(tmp_path / "store")
    pid = 71
    store = TableStore(spark, root)

    def frame(rows):
        return spark.createDataFrame(rows, "k long, v string").withColumn(
            PARTITION_COL, F.lit(pid).cast("long")
        )

    # three files with disjoint ranges: [0..9], [10..19], [20..29]
    store.replace_product_all(
        pid, {"IndicatorValues": frame([(i, "a") for i in range(10)]).coalesce(1)}
    )
    for lo in (10, 20):
        store.append(
            "IndicatorValues",
            frame([(i, "a") for i in range(lo, lo + 10)]).coalesce(1),
        )
    part = Path(root) / "IndicatorValues" / f"{PARTITION_COL}={pid}"
    before = store._manifest(part)
    assert len(before["files"]) == 3

    # delete k in [10, 24]: file 2 ([10..19]) provably ALL-matched ->
    # dropped without a read; file 3 ([20..29]) overlaps at 5/10 rows
    # -> kept with a deletion vector (auto mode); file 1 ([0..9])
    # untouched -> carried by reference. ZERO data files written.
    n = store.delete_where("IndicatorValues", [("k", "between", (10, 24))])
    assert n == 15
    after = store._manifest(part)
    kept = set(before["files"]) & set(after["files"])
    added = set(after["files"]) - set(before["files"])
    assert len(kept) == 2                 # [0..9] AND the DV'd [20..29]
    assert added == set()                 # merge-on-read: no rewrite
    assert len(after.get("dv", {})) == 1
    (dv_entry,) = after["dv"].values()
    assert dv_entry["count"] == 5
    assert (part / dv_entry["sidecar"]).exists()
    got = sorted(r["k"] for r in store.read("IndicatorValues").collect())
    assert got == list(range(10)) + list(range(25, 30))
    assert store.count_rows("IndicatorValues") == 15

    # no-match predicate: zero work, manifest untouched
    before2 = store._manifest(part)
    assert store.delete_where("IndicatorValues", [("k", ">=", 1000)]) == 0
    assert store._manifest(part)["files"] == before2["files"]
    assert store._manifest(part)["version"] == before2["version"]

    # mode='cow' pins the classic rewrite: k in [25..26] rewrites the
    # DV'd file (existing mask applied — the DV'd rows stay deleted),
    # clearing its deletion vector
    n = store.delete_where("IndicatorValues", [("k", "between", (25, 26))], mode="cow")
    assert n == 2
    after2 = store._manifest(part)
    added2 = set(after2["files"]) - set(after["files"])
    assert len(added2) == 1 and all(x.startswith("delete-") for x in added2)
    assert not after2.get("dv")           # the rewrite materialized the mask
    got = sorted(r["k"] for r in store.read("IndicatorValues").collect())
    assert got == list(range(10)) + list(range(27, 30))
    assert store.count_rows("IndicatorValues") == 13


def test_delete_where_null_rows_survive(spark, tmp_path):
    """DELETE WHERE pred keeps rows whose predicate is NULL (SQL
    three-valued logic) — both in the rewrite filter and in the
    all-match fast path (a file with nulls in the predicate column
    must never be dropped wholesale)."""
    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    root = str(tmp_path / "store")
    pid = 72
    store = TableStore(spark, root)
    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, 5.0)], "id long, x double"
    ).withColumn(PARTITION_COL, F.lit(pid).cast("long"))
    store.replace_product_all(pid, {"IndicatorValues": df.coalesce(1)})

    # the single file's non-null x stats are [5,5] == the probe, but
    # the null row must survive: all-match may NOT fire
    n = store.delete_where("IndicatorValues", [("x", "==", 5.0)])
    assert n == 2
    got = [(r["id"], r["x"]) for r in store.read("IndicatorValues").collect()]
    assert got == [(2, None)]


def test_delete_where_partition_predicate_prunes_and_cdf_applies(spark, tmp_path):
    """Partition-column predicates prune whole partitions at the
    listing; the change feed sees the delete as file-level deltas that
    apply_changes replays into exactly the post-delete snapshot."""
    import time

    from geo_explorer_etl_spark.sources.store import (
        PARTITION_COL,
        TableStore,
        apply_changes,
    )

    root = str(tmp_path / "store")
    store = TableStore(spark, root)

    def frame(pid, rows):
        return spark.createDataFrame(rows, "k long, v string").withColumn(
            PARTITION_COL, F.lit(pid).cast("long")
        )

    store.replace_product_all(73, {"IndicatorValues": frame(73, [(1, "a"), (2, "b")])})
    store.replace_product_all(74, {"IndicatorValues": frame(74, [(3, "c"), (4, "d")])})
    t0 = time.time()
    base = store.read("IndicatorValues").select("k", "v", PARTITION_COL).localCheckpoint()

    # only product 74's partition is touched (73's is pruned at the dir)
    n = store.delete_where(
        "IndicatorValues",
        [(PARTITION_COL, "==", 74), ("k", "==", 3)],
    )
    assert n == 1
    got = sorted(r["k"] for r in store.read("IndicatorValues").collect())
    assert got == [1, 2, 4]

    changes = store.read_changes("IndicatorValues", since=t0)
    replayed = apply_changes(base, changes.select("k", "v", PARTITION_COL, "_change_type", "_committed_at"))
    want = {(r["k"], r["v"]) for r in store.read("IndicatorValues").select("k", "v").collect()}
    assert {(r["k"], r["v"]) for r in replayed.collect()} == want


def test_delete_where_listing_mode_refuses(spark, tmp_path):
    """A listing-mode partition (no manifest) has no snapshot
    indirection — delete_where must refuse loudly, not rewrite in
    place under readers."""
    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    root = str(tmp_path / "store")
    store = TableStore(spark, root)
    df = spark.createDataFrame([(1, "a")], "k long, v string").withColumn(
        PARTITION_COL, F.lit(75).cast("long")
    )
    store.replace_product("IndicatorValues", df, 75)  # legacy: drops manifest
    with _pytest.raises(ValueError, match="listing mode"):
        store.delete_where("IndicatorValues", [("k", "==", 1)])


def test_merge_rows_aborts_on_key_overlapping_concurrent_append(spark, tmp_path):
    """Review r8 #2 (Iceberg MERGE validation): an append landing a
    MERGED key between the merge's candidate read and its swap must
    abort the swap — carrying the appended file by reference would
    leave two rows for one key. The retry recomputes against the new
    snapshot and anti-joins the appended row too."""
    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    root = str(tmp_path / "store")
    pid = 66
    store = TableStore(spark, root, backend="cas")

    def frame(rows):
        return spark.createDataFrame(rows, "k long, v string").withColumn(
            PARTITION_COL, F.lit(pid).cast("long")
        )

    store.replace_product_all(pid, {"IndicatorValues": frame([(1, "old"), (2, "old")])})

    racer = TableStore(spark, root, backend="cas")
    fired = {"done": False}
    real_manifest = store._manifest

    def hijack(part_dir):
        m = real_manifest(part_dir)
        if not fired["done"] and part_dir.name == f"{PARTITION_COL}={pid}":
            fired["done"] = True
            racer.append("IndicatorValues", frame([(1, "raced-append")]))
        return m

    store._manifest = hijack
    try:
        store.merge_rows("IndicatorValues", frame([(1, "merged")]), ["k"])
    finally:
        store._manifest = real_manifest

    assert fired["done"]
    out = store.read("IndicatorValues").select("k", "v").collect()
    by_k = {}
    for r in out:
        by_k.setdefault(r["k"], []).append(r["v"])
    assert by_k[1] == ["merged"], by_k  # exactly ONE row for the merged key
    assert by_k[2] == ["old"]


def test_merge_rows_rejects_null_partition_id(spark, tmp_path):
    """Review r8 #4: a NULL product id routes to no partition —
    equality filters silently drop those rows — so merge_rows must
    refuse loudly instead of crashing on sorted() or losing rows."""
    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    store = TableStore(spark, str(tmp_path / "store"))
    df = spark.createDataFrame(
        [(1, "a", 9), (2, "b", None)],
        "k long, v string, IndicatorThemeId long",
    )
    with _pytest.raises(ValueError, match="NULL IndicatorThemeId"):
        store.merge_rows("IndicatorValues", df, ["k"])


def test_legacy_shapeless_blooms_reharvest_on_next_commit(spark, tmp_path):
    """Review r8 #3: blooms persisted before shapes were recorded are
    disabled by the keep-on-unknown probe rule; the next commit that
    carries the file forward must re-harvest them (once), restoring
    point-read skipping for pre-shape stores."""
    import json as _json
    from pathlib import Path

    from geo_explorer_etl_spark.sources.store import (
        COMMITTED,
        PARTITION_COL,
        TableStore,
    )

    root = str(tmp_path / "store")
    pid = 67
    store = TableStore(spark, root, bloom_cols={"IndicatorValues": ["k"]})

    def frame(rows):
        return spark.createDataFrame(rows, "k long, v string").withColumn(
            PARTITION_COL, F.lit(pid).cast("long")
        )

    store.replace_product_all(
        pid, {"IndicatorValues": frame([(i, "a") for i in range(0, 40, 4)]).coalesce(1)}
    )
    store.append(
        "IndicatorValues", frame([(i, "a") for i in range(1, 40, 4)]).coalesce(1)
    )
    part = Path(root) / "IndicatorValues" / f"{PARTITION_COL}={pid}"

    # simulate a pre-shape store: strip the shape keys in place
    mf = part / COMMITTED
    body = _json.loads(mf.read_text())
    for entry in body["stats"].values():
        for bloom in (entry.get("__bloom__") or {}).values():
            bloom.pop("shape", None)
    mf.write_text(_json.dumps(body))
    store2 = TableStore(spark, root, bloom_cols={"IndicatorValues": ["k"]})
    # shapeless blooms: disabled (conservative) -> no skipping
    assert len(store2.live_files("IndicatorValues", [("k", "==", 4)])) == 2

    # the next commit heals the carried-forward files' blooms
    store2.append(
        "IndicatorValues", frame([(i, "a") for i in range(2, 40, 4)]).coalesce(1)
    )
    healed = store2._manifest(part)
    assert all(
        "shape" in b
        for entry in healed["stats"].values()
        for b in (entry.get("__bloom__") or {}).values()
    )
    # skipping is back: k==4 lives only in the first file
    assert len(store2.live_files("IndicatorValues", [("k", "==", 4)])) == 1


def test_delete_where_nan_rows_survive_all_match_fast_path(spark, tmp_path):
    """ADVICE r9 (high): parquet min/max stats IGNORE NaN — a file
    holding [5.0, NaN, 5.0] reports min=max=5.0 with zero nulls, so
    the drop-without-read fast path would silently delete the NaN row
    (which matches no ordinary predicate under Spark semantics). The
    fast path must refuse float-statted columns and take the rewrite,
    which keeps the NaN row."""
    from geo_explorer_etl_spark.sources.store import (
        PARTITION_COL,
        TableStore,
        _file_all_match,
    )

    # unit pin: float bounds never prove all-match, int bounds still do
    assert not _file_all_match(
        {"x": [5.0, 5.0], "__nulls__": {"x": 0}}, [("x", "==", 5.0)]
    )
    assert _file_all_match({"k": [5, 5], "__nulls__": {"k": 0}}, [("k", "==", 5)])

    root = str(tmp_path / "store")
    pid = 76
    store = TableStore(spark, root)
    df = spark.createDataFrame(
        [(1, 5.0), (2, float("nan")), (3, 5.0)], "id long, x double"
    ).withColumn(PARTITION_COL, F.lit(pid).cast("long"))
    store.replace_product_all(pid, {"IndicatorValues": df.coalesce(1)})

    n = store.delete_where("IndicatorValues", [("x", "==", 5.0)])
    assert n == 2
    got = [(r["id"], str(r["x"])) for r in store.read("IndicatorValues").collect()]
    assert got == [(2, "nan")]


def test_merge_rows_with_partition_col_in_key_cols(spark, tmp_path):
    """ADVICE r9 (low): PARTITION_COL inside key_cols previously blew
    up the file-level path (the payload drops it before selecting the
    keys). It is constant per partition, so the file-level merge keys
    on the remainder; key = the product id ALONE means whole-product
    replace."""
    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    root = str(tmp_path / "store")
    pid = 77
    store = TableStore(spark, root)

    def frame(rows):
        return spark.createDataFrame(rows, "k long, v string").withColumn(
            PARTITION_COL, F.lit(pid).cast("long")
        )

    store.replace_product_all(pid, {"IndicatorValues": frame([(1, "a"), (2, "b")])})
    # composite key including the partition col: plain upsert semantics
    store.merge_rows(
        "IndicatorValues", frame([(2, "B"), (3, "c")]), [PARTITION_COL, "k"]
    )
    got = sorted(
        (r["k"], r["v"]) for r in store.read("IndicatorValues").collect()
    )
    assert got == [(1, "a"), (2, "B"), (3, "c")]

    # key = the partition col alone: the incoming slice replaces the
    # whole product's rows (every current row shares the key)
    store.merge_rows("IndicatorValues", frame([(9, "z")]), [PARTITION_COL])
    got = sorted(
        (r["k"], r["v"]) for r in store.read("IndicatorValues").collect()
    )
    assert got == [(9, "z")]


def test_repeated_merges_preserve_zone_map_clustering(spark, tmp_path):
    """VERDICT r9 directive #3: the file-granular merge rewrite used
    to round-robin the rewritten rows, so a merge touching 2+ files
    mixed their key ranges and every zone map widened to the union —
    repeated merges degraded point-read pruning monotonically. The
    rewrite now range-clusters on the merge keys, so after N repeated
    merges a point read still prunes to ONE file and the file count
    stays stable. Pinned under mode="cow" (the rewrite path this
    clustering guards; default "auto" masks instead of rewriting)."""
    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    root = str(tmp_path / "store")
    pid = 78
    store = TableStore(spark, root)

    def frame(rows):
        return spark.createDataFrame(rows, "k long, v string").withColumn(
            PARTITION_COL, F.lit(pid).cast("long")
        )

    # four range-clustered files: [0..24] [25..49] [50..74] [75..99]
    store.replace_product_all(
        pid,
        {"IndicatorValues": frame([(i, "base") for i in range(25)]).coalesce(1)},
    )
    for lo in (25, 50, 75):
        store.append(
            "IndicatorValues",
            frame([(i, "base") for i in range(lo, lo + 25)]).coalesce(1),
        )
    assert len(store.live_files("IndicatorValues")) == 4

    # five repeated merges, each touching TWO files (k=10 and k=60)
    for i in range(5):
        store.merge_rows(
            "IndicatorValues", frame([(10, f"m{i}"), (60, f"m{i}")]), ["k"],
            mode="cow",
        )
        # file count never grows: the rewrite replaces exactly the
        # candidate files
        assert len(store.live_files("IndicatorValues")) == 4, f"merge {i}"

    # zone maps stayed tight: a point read prunes to ONE file
    assert len(store.live_files("IndicatorValues", [("k", "==", 10)])) == 1
    assert len(store.live_files("IndicatorValues", [("k", "==", 90)])) == 1
    got = sorted((r["k"], r["v"]) for r in store.read("IndicatorValues").collect())
    want = sorted(
        [(k, "m4") if k in (10, 60) else (k, "base") for k in range(100)]
    )
    assert got == want


@pytest.mark.slow
def test_delete_where_scattered_writes_only_sidecars(spark, tmp_path):
    """VERDICT r9 directive #1 'done' pin: a scattered small delete
    whose keys touch EVERY file writes ONLY deletion-vector sidecars —
    the manifest diff shows zero data files rewritten or dropped — and
    the read equals the copy-on-write result."""
    from pathlib import Path

    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    pid = 80

    def frame(rows):
        return spark.createDataFrame(rows, "k long, v string").withColumn(
            PARTITION_COL, F.lit(pid).cast("long")
        )

    def build(root):
        store = TableStore(spark, root)
        # hash-scattered layout: 4 files, each holding one residue
        # class of k % 4 — every key range spans every file, so zone
        # maps cannot narrow a scattered point-set delete
        store.replace_product_all(
            pid,
            {"IndicatorValues": frame([(k, "a") for k in range(0, 100, 4)]).coalesce(1)},
        )
        for r in (1, 2, 3):
            store.append(
                "IndicatorValues",
                frame([(k, "a") for k in range(r, 100, 4)]).coalesce(1),
            )
        return store

    root_dv = str(tmp_path / "dv")
    store = build(root_dv)
    part = Path(root_dv) / "IndicatorValues" / f"{PARTITION_COL}={pid}"
    before = store._manifest(part)
    assert len(before["files"]) == 4

    # one key per file: touches all 4 files, 4 of 100 rows
    n = store.delete_where("IndicatorValues", [("k", "in", (8, 13, 26, 39))])
    assert n == 4
    after = store._manifest(part)
    assert after["files"] == before["files"]      # ZERO data files changed
    assert set(after["dv"]) == set(before["files"])  # every file masked
    assert sum(e["count"] for e in after["dv"].values()) == 4
    # sidecar bytes on disk are tiny (the 100 TB point: kilobytes, not
    # a table rewrite)
    assert all((part / e["sidecar"]).stat().st_size < 128 for e in after["dv"].values())

    # differential: COW on an identical store yields the same rows
    store_cow = build(str(tmp_path / "cow"))
    n2 = store_cow.delete_where(
        "IndicatorValues", [("k", "in", (8, 13, 26, 39))], mode="cow"
    )
    assert n2 == 4
    want = sorted(r["k"] for r in store_cow.read("IndicatorValues").collect())
    got = sorted(r["k"] for r in store.read("IndicatorValues").collect())
    assert got == want == sorted(set(range(100)) - {8, 13, 26, 39})
    assert store.count_rows("IndicatorValues") == 96

    # a second scattered delete UNIONS into the existing masks
    n3 = store.delete_where("IndicatorValues", [("k", "in", (8, 12, 17))])
    assert n3 == 2  # 8 already deleted
    after2 = store._manifest(part)
    assert after2["files"] == before["files"]
    assert sum(e["count"] for e in after2["dv"].values()) == 6
    got = sorted(r["k"] for r in store.read("IndicatorValues").collect())
    assert got == sorted(set(range(100)) - {8, 13, 26, 39, 12, 17})


def test_deletion_vector_time_travel_cdf_and_compact(spark, tmp_path):
    """The DV lifecycle end to end: read_at resolves each snapshot's
    mask (v0 unmasked, v1 masked), the change feed emits DV growth as
    position-sliced deletes that apply_changes replays exactly, and
    compact MATERIALIZES the masks away (manifest dv cleared, reads
    unchanged, CDF across the compact still replays)."""
    import time

    from pathlib import Path

    from geo_explorer_etl_spark.sources.store import (
        PARTITION_COL,
        TableStore,
        apply_changes,
    )

    root = str(tmp_path / "store")
    pid = 81
    store = TableStore(spark, root)

    def frame(rows):
        return spark.createDataFrame(rows, "k long, v string").withColumn(
            PARTITION_COL, F.lit(pid).cast("long")
        )

    store.replace_product_all(
        pid, {"IndicatorValues": frame([(i, "a") for i in range(20)]).coalesce(1)}
    )
    t0 = time.time()
    base = store.read("IndicatorValues").select("k", "v", PARTITION_COL).localCheckpoint()

    assert store.delete_where("IndicatorValues", [("k", "in", (3, 7))]) == 2
    t1 = time.time()
    assert store.delete_where("IndicatorValues", [("k", "in", (11,))]) == 1

    # time travel: each snapshot applies ITS mask
    assert sorted(r["k"] for r in store.read_at("IndicatorValues", t0).collect()) == list(range(20))
    assert sorted(r["k"] for r in store.read_at("IndicatorValues", t1).collect()) == sorted(set(range(20)) - {3, 7})
    got = sorted(r["k"] for r in store.read("IndicatorValues").collect())
    assert got == sorted(set(range(20)) - {3, 7, 11})

    # CDF: two DV-growth commits -> position-sliced deletes
    changes = store.read_changes("IndicatorValues", since=t0)
    dels = changes.filter(F.col("_change_type") == "delete")
    assert sorted(r["k"] for r in dels.collect()) == [3, 7, 11]
    assert changes.filter(F.col("_change_type") == "insert").count() == 0
    replayed = apply_changes(
        base, changes.select("k", "v", PARTITION_COL, "_change_type", "_committed_at")
    )
    assert sorted(r["k"] for r in replayed.collect()) == got

    # compact materializes the mask: dv gone, rows unchanged, CDF
    # across the compact window still replays to the same snapshot
    part = Path(root) / "IndicatorValues" / f"{PARTITION_COL}={pid}"
    assert store._manifest(part).get("dv")
    assert store.compact("IndicatorValues") == 1
    after = store._manifest(part)
    assert not after.get("dv")
    assert sorted(r["k"] for r in store.read("IndicatorValues").collect()) == got
    assert store.count_rows("IndicatorValues") == 17
    replayed2 = apply_changes(
        base,
        store.read_changes("IndicatorValues", since=t0).select(
            "k", "v", PARTITION_COL, "_change_type", "_committed_at"
        ),
    )
    assert sorted(r["k"] for r in replayed2.collect()) == got


def test_merge_rows_respects_deletion_vectors(spark, tmp_path):
    """A merge whose candidate file carries a deletion vector must NOT
    resurrect the masked rows — under the default DV path the existing
    mask EXTENDS to cover the superseded row version; under cow the
    rewrite reads only live rows and materializes the mask away."""
    from pathlib import Path

    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    root = str(tmp_path / "store")
    pid = 82
    store = TableStore(spark, root)

    def frame(rows):
        return spark.createDataFrame(rows, "k long, v string").withColumn(
            PARTITION_COL, F.lit(pid).cast("long")
        )

    store.replace_product_all(
        pid, {"IndicatorValues": frame([(i, "a") for i in range(10)]).coalesce(1)}
    )
    assert store.delete_where("IndicatorValues", [("k", "in", (2, 5))]) == 2
    store.merge_rows("IndicatorValues", frame([(7, "UP"), (42, "new")]), ["k"])
    got = sorted((r["k"], r["v"]) for r in store.read("IndicatorValues").collect())
    want = sorted(
        [(k, "a") for k in range(10) if k not in (2, 5, 7)] + [(7, "UP"), (42, "new")]
    )
    assert got == want
    part = Path(root) / "IndicatorValues" / f"{PARTITION_COL}={pid}"
    # DV path: the mask grew to {2, 5, 7} (old version of the upserted
    # key masked alongside the deletes), no rewrite
    assert sum(e["count"] for e in store._manifest(part)["dv"].values()) == 3
    # COW mode materializes every mask away
    store.merge_rows("IndicatorValues", frame([(8, "UP2")]), ["k"], mode="cow")
    assert not store._manifest(part).get("dv")
    got2 = sorted((r["k"], r["v"]) for r in store.read("IndicatorValues").collect())
    want2 = sorted(
        [(k, "a") for k in range(10) if k not in (2, 5, 7, 8)]
        + [(7, "UP"), (8, "UP2"), (42, "new")]
    )
    assert got2 == want2


def test_dv_sidecar_vacuum_fsck_and_missing_raises(spark, tmp_path):
    """Sidecar lifecycle: a superseded sidecar survives inside vacuum
    retention and GCs outside it; fsck classifies a live manifest's
    missing sidecar as MISSING (data loss); read() refuses loudly
    rather than resurrect deleted rows."""
    import time as _time

    from pathlib import Path

    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    root = str(tmp_path / "store")
    pid = 83
    store = TableStore(spark, root)

    def frame(rows):
        return spark.createDataFrame(rows, "k long, v string").withColumn(
            PARTITION_COL, F.lit(pid).cast("long")
        )

    store.replace_product_all(
        pid, {"IndicatorValues": frame([(i, "a") for i in range(10)]).coalesce(1)}
    )
    part = Path(root) / "IndicatorValues" / f"{PARTITION_COL}={pid}"
    store.delete_where("IndicatorValues", [("k", "==", 1)])
    first = store._manifest(part)["dv"]
    (first_sidecar,) = [e["sidecar"] for e in first.values()]
    store.delete_where("IndicatorValues", [("k", "==", 4)])
    (second_sidecar,) = [
        e["sidecar"] for e in store._manifest(part)["dv"].values()
    ]
    assert first_sidecar != second_sidecar
    assert (part / first_sidecar).exists()  # superseded, inside retention

    # inside the retention window the superseded sidecar survives ...
    store.vacuum("IndicatorValues", older_than_seconds=3600)
    assert (part / first_sidecar).exists()
    # ... outside it (and past the unknown-grace floor) it GCs
    old = _time.time() - 7200
    import os

    os.utime(part / first_sidecar, (old, old))
    store.VACUUM_UNKNOWN_GRACE_SECONDS = 0.0
    try:
        for hf in (part / "_history").glob("*.json"):
            os.utime(hf, (old, old))
        # age the journal so the supersede gate passes: rewrite each
        # entry's committed_at far into the past
        import json as _json

        for hf in sorted((part / "_history").glob("*.json"))[:-1]:
            body = _json.loads(hf.read_text())
            body["committed_at"] = old
            hf.write_text(_json.dumps(body))
        store.vacuum("IndicatorValues", older_than_seconds=0)
    finally:
        store.VACUUM_UNKNOWN_GRACE_SECONDS = 300.0
    assert not (part / first_sidecar).exists()
    assert (part / second_sidecar).exists()  # live mask protected

    # live sidecar vanishes -> fsck reports MISSING, read refuses
    (part / second_sidecar).unlink()
    report = store.fsck("IndicatorValues")
    assert any(
        second_sidecar in m for m in report["IndicatorValues"]["missing"]
    )
    with _pytest.raises(FileNotFoundError, match="deletion-vector sidecar"):
        store.read("IndicatorValues").collect()


def test_rename_column_metadata_only(spark, tmp_path):
    """VERDICT r9 directive #4 'done' pin: rename is metadata-only
    (zero files rewritten), the current read surfaces the NEW name
    with the old data, read_at BEFORE the rename surfaces the OLD
    name, a later append uses the new name, type conflicts still
    raise, predicate pruning works through the mapping, and fsck is
    green on the renamed store."""
    import time

    from pathlib import Path

    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    root = str(tmp_path / "store")
    pid = 90
    store = TableStore(spark, root)

    def frame(rows, schema="k long, v string"):
        return spark.createDataFrame(rows, schema).withColumn(
            PARTITION_COL, F.lit(pid).cast("long")
        )

    store.replace_product_all(
        pid, {"IndicatorValues": frame([(1, "a"), (2, "b")]).coalesce(1)}
    )
    store.append("IndicatorValues", frame([(30, "c"), (31, "d")]).coalesce(1))
    part = Path(root) / "IndicatorValues" / f"{PARTITION_COL}={pid}"
    files_before = set(store._manifest(part)["files"])
    t0 = time.time()

    assert store.rename_column("IndicatorValues", "v", "label") == 1
    assert set(store._manifest(part)["files"]) == files_before  # no rewrite
    cur = store.read("IndicatorValues")
    assert "label" in cur.columns and "v" not in cur.columns
    assert sorted((r["k"], r["label"]) for r in cur.collect()) == [
        (1, "a"), (2, "b"), (30, "c"), (31, "d")
    ]
    old = store.read_at("IndicatorValues", t0)
    assert "v" in old.columns and "label" not in old.columns
    assert sorted((r["k"], r["v"]) for r in old.collect()) == [
        (1, "a"), (2, "b"), (30, "c"), (31, "d")
    ]

    # append with the NEW name lands; old files surface it via mapping
    store.append(
        "IndicatorValues", frame([(40, "e")], "k long, label string").coalesce(1)
    )
    assert sorted(
        (r["k"], r["label"]) for r in store.read("IndicatorValues").collect()
    ) == [(1, "a"), (2, "b"), (30, "c"), (31, "d"), (40, "e")]

    # type conflict on the renamed column still raises
    with _pytest.raises(ValueError, match="type conflict"):
        store.append(
            "IndicatorValues", frame([(50, 5)], "k long, label long").coalesce(1)
        )

    # zone maps prune through the mapping: predicate on the NEW name
    assert len(store.live_files("IndicatorValues", [("k", "==", 1)])) == 1

    # fsck green
    assert store.fsck("IndicatorValues") == {}

    # merge after rename: upsert keyed on k, payload uses new name
    store.merge_rows(
        "IndicatorValues",
        frame([(2, "B!")], "k long, label string"),
        ["k"],
    )
    assert sorted(
        (r["k"], r["label"]) for r in store.read("IndicatorValues").collect()
    ) == [(1, "a"), (2, "B!"), (30, "c"), (31, "d"), (40, "e")]

    # compact after rename must PRESERVE the renamed column's data
    # (it scans under the physical schema)
    assert store.compact("IndicatorValues") >= 1
    assert sorted(
        (r["k"], r["label"]) for r in store.read("IndicatorValues").collect()
    ) == [(1, "a"), (2, "B!"), (30, "c"), (31, "d"), (40, "e")]
    # post-compact fsck: superseded-awaiting-vacuum is healthy; what
    # matters is zero missing/unknown on the renamed store
    report = store.fsck("IndicatorValues").get("IndicatorValues", {})
    assert report.get("missing", []) == []
    assert report.get("unknown", []) == []


def test_drop_column_and_readd_with_different_type(spark, tmp_path):
    """Drop retires the PHYSICAL name; a re-added same-name column
    (even with a DIFFERENT type — the case the additive-only merge
    rejected) gets a fresh physical name, so old files' bytes never
    resurrect: pre-drop rows read the new column as null, and
    read_at before the drop still shows the old column."""
    import time

    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    root = str(tmp_path / "store")
    pid = 91
    store = TableStore(spark, root)

    def frame(rows, schema):
        return spark.createDataFrame(rows, schema).withColumn(
            PARTITION_COL, F.lit(pid).cast("long")
        )

    store.replace_product_all(
        pid,
        {"IndicatorValues": frame([(1, "x"), (2, "y")], "k long, tag string").coalesce(1)},
    )
    t0 = time.time()
    assert store.drop_column("IndicatorValues", "tag") == 1
    cur = store.read("IndicatorValues")
    assert cur.columns == ["k", PARTITION_COL]
    old = store.read_at("IndicatorValues", t0)
    assert sorted((r["k"], r["tag"]) for r in old.collect()) == [(1, "x"), (2, "y")]

    # re-add 'tag' as a LONG: fresh physical name — old string bytes
    # must NOT resolve to it
    store.append(
        "IndicatorValues", frame([(3, 7)], "k long, tag long").coalesce(1)
    )
    got = sorted(
        (r["k"], r["tag"]) for r in store.read("IndicatorValues").collect()
    )
    assert got == [(1, None), (2, None), (3, 7)]
    assert dict(store.read("IndicatorValues").dtypes)["tag"] == "bigint"
    assert store.fsck("IndicatorValues") == {}

    # dropping the only remaining payload column is refused
    store2 = TableStore(spark, str(tmp_path / "s2"))
    store2.replace_product_all(
        1,
        {"IndicatorValues": spark.createDataFrame([(1,)], "k long").withColumn(
            PARTITION_COL, F.lit(1).cast("long")
        )},
    )
    with _pytest.raises(ValueError, match="only column"):
        store2.drop_column("IndicatorValues", "k")


def test_chained_renames_and_cdf_after_rename(spark, tmp_path):
    """Chained renames resolve through the mapping (v->w->v2 keeps
    one physical name), renaming onto a name that equals ANOTHER
    column's physical name stays unambiguous, and post-rename commits
    flow through the change feed under the NEW logical name."""
    import time

    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    root = str(tmp_path / "store")
    pid = 92
    store = TableStore(spark, root)

    def frame(rows, schema="k long, v string"):
        return spark.createDataFrame(rows, schema).withColumn(
            PARTITION_COL, F.lit(pid).cast("long")
        )

    store.replace_product_all(
        pid, {"IndicatorValues": frame([(1, "a")]).coalesce(1)}
    )
    store.rename_column("IndicatorValues", "v", "w")
    store.rename_column("IndicatorValues", "w", "v2")
    assert sorted(
        (r["k"], r["v2"]) for r in store.read("IndicatorValues").collect()
    ) == [(1, "a")]
    # rename k -> v: the new logical name equals v2's PHYSICAL name
    # ('v'); reads must keep the two apart
    store.rename_column("IndicatorValues", "k", "v")
    cur = store.read("IndicatorValues")
    assert sorted(cur.columns[:2]) == ["v", "v2"]
    assert [(r["v"], r["v2"]) for r in cur.collect()] == [(1, "a")]

    # post-rename append flows through the CDF under the new names
    t0 = time.time()
    store.append(
        "IndicatorValues", frame([(9, "z")], "v long, v2 string").coalesce(1)
    )
    ch = store.read_changes("IndicatorValues", since=t0)
    rows = [(r["v"], r["v2"], r["_change_type"]) for r in ch.collect()]
    assert rows == [(9, "z", "insert")]


def test_bloom_skipping_survives_column_rename(spark, tmp_path):
    """bloom_cols are configured in LOGICAL names; harvest and probe
    are keyed PHYSICAL — a rename must neither disable existing
    blooms nor stop new files' harvests."""
    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    root = str(tmp_path / "store")
    pid = 93
    store = TableStore(spark, root, bloom_cols={"IndicatorValues": ["k"]})

    def frame(rows, schema="k long, v string"):
        return spark.createDataFrame(rows, schema).withColumn(
            PARTITION_COL, F.lit(pid).cast("long")
        )

    # hash-scattered: k % 2 per file, so zone maps can't prune points
    store.replace_product_all(
        pid,
        {"IndicatorValues": frame([(i, "a") for i in range(0, 40, 2)]).coalesce(1)},
    )
    store.append(
        "IndicatorValues", frame([(i, "a") for i in range(1, 40, 2)]).coalesce(1)
    )
    assert len(store.live_files("IndicatorValues", [("k", "==", 4)])) == 1

    store.rename_column("IndicatorValues", "k", "key")
    # existing blooms keep pruning through the mapping
    assert len(store.live_files("IndicatorValues", [("key", "==", 4)])) == 1
    # files appended AFTER the rename harvest blooms under the
    # physical name and prune too
    store.append(
        "IndicatorValues",
        frame([(i, "b") for i in range(100, 140, 2)], "key long, v string").coalesce(1),
    )
    assert len(store.live_files("IndicatorValues", [("key", "==", 104)])) == 1
    assert len(store.live_files("IndicatorValues", [("key", "==", 4)])) == 1
    got = store.read("IndicatorValues", where=[("key", "==", 104)]).collect()
    assert [(r["key"], r["v"]) for r in got] == [(104, "b")]


def test_replace_after_rename_preserves_column_mapping(spark, tmp_path):
    """Review r9 #1: replace_product_all on a renamed table previously
    wrote the staged files under LOGICAL names with no colmap in the
    published manifest — on a multi-partition table the union mapping
    then resolved the replaced partition's column to the wrong
    physical name and every value read back NULL. The replace now
    rides the shared write-side translation and carries the mapping."""
    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    root = str(tmp_path / "store")
    store = TableStore(spark, root)

    def frame(pid, rows, schema="k long, v string"):
        return spark.createDataFrame(rows, schema).withColumn(
            PARTITION_COL, F.lit(pid).cast("long")
        )

    store.replace_product_all(1, {"IndicatorValues": frame(1, [(1, "a")])})
    store.replace_product_all(2, {"IndicatorValues": frame(2, [(2, "b")])})
    store.rename_column("IndicatorValues", "v", "label")

    # replace product 2 with the NEW logical name
    store.replace_product_all(
        2, {"IndicatorValues": frame(2, [(20, "B2")], "k long, label string")}
    )
    got = sorted(
        (r["k"], r["label"]) for r in store.read("IndicatorValues").collect()
    )
    assert got == [(1, "a"), (20, "B2")]  # no silent nulls anywhere

    # the whole-partition merge fallback routes through the same txn:
    # key = the partition col alone forces it
    store.merge_rows(
        "IndicatorValues",
        frame(1, [(10, "A2")], "k long, label string"),
        [PARTITION_COL],
    )
    got = sorted(
        (r["k"], r["label"]) for r in store.read("IndicatorValues").collect()
    )
    assert got == [(10, "A2"), (20, "B2")]

    # the legacy manifest-less replace cannot carry a mapping: refuses
    with _pytest.raises(ValueError, match="column mapping"):
        store.replace_product("IndicatorValues", frame(1, [(9, "z")], "k long, label string"), 1)


@pytest.mark.slow
def test_dv_partition_mask_budget_demotes_to_rewrite(spark, tmp_path):
    """Review r9 #4: per-file and per-call caps alone let repeated
    scattered deletes accrete an unbounded read-side mask. The
    partition-wide budget demotes the densest masks to REWRITE (which
    clears them), keeping the partition's total live mask bounded."""
    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    root = str(tmp_path / "store")
    pid = 95
    store = TableStore(spark, root)
    store.DV_PARTITION_MASK_CAP = 6  # tiny budget for the test

    def frame(rows):
        return spark.createDataFrame(rows, "k long, v string").withColumn(
            PARTITION_COL, F.lit(pid).cast("long")
        )

    store.replace_product_all(
        pid, {"IndicatorValues": frame([(i, "a") for i in range(0, 100, 4)]).coalesce(1)}
    )
    for r in (1, 2, 3):
        store.append(
            "IndicatorValues", frame([(i, "a") for i in range(r, 100, 4)]).coalesce(1)
        )
    part = __import__("pathlib").Path(root) / "IndicatorValues" / f"{PARTITION_COL}={pid}"
    deleted = set()
    for wave in range(4):  # 4 waves x 4 scattered keys = 16 > budget 6
        keys = [16 * wave + r for r in (0, 1, 2, 3)]
        n = store.delete_where("IndicatorValues", [("k", "in", keys)], mode="dv")
        assert n == 4
        deleted |= set(keys)
        m = store._manifest(part)
        live_mask = sum(e["count"] for e in (m.get("dv") or {}).values())
        assert live_mask <= 6, f"wave {wave}: mask {live_mask} over budget"
    got = sorted(r["k"] for r in store.read("IndicatorValues").collect())
    assert got == sorted(set(range(100)) - deleted)


def test_append_new_partition_on_mapped_table_gets_manifest(spark, tmp_path):
    """Review r9 wave-2 #1: an append that CREATES a partition on a
    column-mapped table must first-manifest it — the files carry
    physical names, and a manifest-less listing partition would feed
    the physical name back into the union schema as a second column
    (duplicate-physical failure on every table read)."""
    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    root = str(tmp_path / "store")
    store = TableStore(spark, root)

    def frame(pid, rows, schema="k long, v string"):
        return spark.createDataFrame(rows, schema).withColumn(
            PARTITION_COL, F.lit(pid).cast("long")
        )

    store.replace_product_all(1, {"IndicatorValues": frame(1, [(1, "a")])})
    store.rename_column("IndicatorValues", "v", "label")
    # append for a BRAND-NEW product id, using the current name
    store.append(
        "IndicatorValues", frame(2, [(2, "b")], "k long, label string")
    )
    part2 = (
        __import__("pathlib").Path(root)
        / "IndicatorValues"
        / f"{PARTITION_COL}=2"
    )
    m = store._manifest(part2)
    assert m is not None, "new partition must come under manifest control"
    assert m.get("colmap") == {"label": "v"}
    got = sorted(
        (r["k"], r["label"]) for r in store.read("IndicatorValues").collect()
    )
    assert got == [(1, "a"), (2, "b")]


def test_delete_dv_positions_beyond_inline_cap_use_second_pass(spark, tmp_path):
    """Review r9 wave-2 #3: the counting scan caps its inline position
    collect (bounded executor aggregation buffers); masks larger than
    the cap materialize through the targeted second pass — same
    result, pinned by lowering the cap below the matched count."""
    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    root = str(tmp_path / "store")
    pid = 96
    store = TableStore(spark, root)
    store.DV_INLINE_POSITIONS = 4  # force the second pass

    def frame(rows):
        return spark.createDataFrame(rows, "k long, v string").withColumn(
            PARTITION_COL, F.lit(pid).cast("long")
        )

    store.replace_product_all(
        pid, {"IndicatorValues": frame([(i, "a") for i in range(40)]).coalesce(1)}
    )
    # 12 matched rows in one file: > inline cap 4, fraction 0.3 <= 0.5
    keys = list(range(0, 36, 3))
    n = store.delete_where("IndicatorValues", [("k", "in", keys)], mode="dv")
    assert n == 12
    part = (
        __import__("pathlib").Path(root)
        / "IndicatorValues"
        / f"{PARTITION_COL}={pid}"
    )
    m = store._manifest(part)
    (entry,) = m["dv"].values()
    assert entry["count"] == 12
    got = sorted(r["k"] for r in store.read("IndicatorValues").collect())
    assert got == sorted(set(range(40)) - set(keys))


def test_zone_maps_keep_nan_rows_for_gt_ge_ne_predicates(spark, tmp_path):
    """Review r9 wave-3 #1: parquet stats ignore NaN, and under Spark
    semantics NaN sorts ABOVE every value and equals NaN — so the
    recorded max cannot disprove '>', '>=', '!=' on float columns. A
    [5.0, NaN] file reporting max=5.0 must stay in the scan for
    k > 100 (its NaN row matches), and delete_where(k > 100) must
    delete that row, not classify the file 'provably untouched'."""
    from geo_explorer_etl_spark.sources.store import (
        PARTITION_COL,
        TableStore,
        _file_may_match,
    )

    # unit pins: float stats never prune the NaN-inclusive ops ...
    fs = {"x": [1.0, 5.0], "__nulls__": {"x": 0}}
    assert _file_may_match(fs, [("x", ">", 100.0)])
    assert _file_may_match(fs, [("x", ">=", 100.0)])
    assert _file_may_match({"x": [5.0, 5.0], "__nulls__": {"x": 0}}, [("x", "!=", 5.0)])
    # ... but NaN-exclusive ops still do, and int stats are unaffected
    assert not _file_may_match(fs, [("x", "<", 0.5)])
    assert not _file_may_match(fs, [("x", "==", 100.0)])
    assert not _file_may_match(fs, [("x", "between", (100.0, 200.0))])
    assert not _file_may_match({"k": [1, 5], "__nulls__": {"k": 0}}, [("k", ">", 100)])
    # a NaN probe value never prunes (it equals NaN rows stats can't see)
    assert _file_may_match(fs, [("x", "==", float("nan"))])
    assert _file_may_match(fs, [("x", "in", (float("nan"),))])

    root = str(tmp_path / "store")
    pid = 97
    store = TableStore(spark, root)
    df = spark.createDataFrame(
        [(1, 5.0), (2, float("nan"))], "id long, x double"
    ).withColumn(PARTITION_COL, F.lit(pid).cast("long"))
    store.replace_product_all(pid, {"IndicatorValues": df.coalesce(1)})

    got = store.read("IndicatorValues", where=[("x", ">", 100.0)]).collect()
    assert [r["id"] for r in got] == [2]  # the NaN row matches k > 100
    n = store.delete_where("IndicatorValues", [("x", ">", 100.0)])
    assert n == 1
    left = [(r["id"], str(r["x"])) for r in store.read("IndicatorValues").collect()]
    assert left == [(1, "5.0")]


def test_store_meta_verifies_format_tag(spark, tmp_path):
    """Review r9 wave-3 #2: StoreMeta (the Spark-free front door the
    streaming source uses) must fail fast on a backend/layout
    mismatch like TableStore does — a CAS store opened with the
    default localfs backend reads no manifests and a stream would
    silently emit nothing forever."""
    from geo_explorer_etl_spark.sources.store import (
        PARTITION_COL,
        StoreMeta,
        TableStore,
    )

    root = str(tmp_path / "store")
    store = TableStore(spark, root, backend="cas")
    df = spark.createDataFrame([(1, "a")], "k long, v string").withColumn(
        PARTITION_COL, F.lit(1).cast("long")
    )
    store.replace_product_all(1, {"IndicatorValues": df})
    with _pytest.raises(ValueError, match="formatted for commit backend"):
        StoreMeta(root)  # default localfs vs the cas layout
    assert StoreMeta(root, backend="cas").table_logical_schema(
        "IndicatorValues"
    ) is not None


def test_dv_reserved_column_names_raise(spark, tmp_path):
    """ADVICE r9: a payload column named like one of the deletion-
    vector join keys (__dv_part/__dv_name/__dv_pos) would be silently
    overwritten by file-path metadata on every masked read and then
    "restored" corrupted — the store refuses it loudly instead."""
    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    store = TableStore(spark, str(tmp_path / "store"))
    df = spark.createDataFrame(
        [(k, k * 10) for k in range(20)], "k long, __dv_pos long"
    ).withColumn(PARTITION_COL, F.lit(1).cast("long"))
    store.replace_product_all(1, {"IndicatorValues": df})
    with _pytest.raises(ValueError, match="reserved column name"):
        store.delete_where("IndicatorValues", [("k", "==", 3)], mode="dv")


def test_scan_with_dv_legacy_heterogeneous_schemas(spark, tmp_path):
    """ADVICE r9: in a LEGACY partition (no declared schema) the
    masked and plain file subsets are independently inferred — the
    union must align by name with null-fill, not raise, when the
    files are heterogeneous."""
    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    store = TableStore(spark, str(tmp_path / "store"))
    f1 = spark.createDataFrame(
        [(k, "a") for k in range(10)], "k long, a string"
    ).withColumn(PARTITION_COL, F.lit(1).cast("long"))
    f2 = spark.createDataFrame(
        [(k, 1.5) for k in range(100, 110)], "k long, b double"
    ).withColumn(PARTITION_COL, F.lit(1).cast("long"))
    store.replace_product_all(1, {"IndicatorValues": f1.coalesce(1)})
    store.append("IndicatorValues", f2.coalesce(1))
    part = (
        __import__("pathlib").Path(store._path("IndicatorValues"))
        / f"{PARTITION_COL}=1"
    )
    # strip the declared schema: the legacy (pre-schema) manifest era
    with store._exclusive_lock():
        store._update_manifest(
            part, lambda prior: {k: v for k, v in prior.items() if k != "schema"}
        )
    # mask one row of the FIRST file only (sparse -> deletion vector)
    n = store.delete_where("IndicatorValues", [("k", "==", 3)], mode="dv")
    assert n == 1
    got = store.read("IndicatorValues")
    assert {"k", "a", "b"} <= set(got.columns)
    rows = {r["k"]: (r["a"], r["b"]) for r in got.collect()}
    assert 3 not in rows and len(rows) == 19
    assert rows[4] == ("a", None) and rows[105] == (None, 1.5)


def test_read_changes_same_ts_partitions_merge_declared_schemas(spark, tmp_path):
    """ADVICE r9: two partitions committing at an IDENTICAL
    committed_at (a multi-partition publish) with different declared
    schemas must not read one partition's file under the other's
    narrower schema — the change feed merges the group's declared
    schemas (and keys groups by column mapping)."""
    import json as _json
    from pathlib import Path

    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    store = TableStore(spark, str(tmp_path / "store"))
    fa = spark.createDataFrame([(1, "x")], "k long, a string").withColumn(
        PARTITION_COL, F.lit(1).cast("long")
    )
    fb = spark.createDataFrame([(2, 9.5)], "k long, b double").withColumn(
        PARTITION_COL, F.lit(2).cast("long")
    )
    store.replace_product_all(1, {"IndicatorValues": fa})
    store.replace_product_all(2, {"IndicatorValues": fb})
    # force the two commits onto ONE timestamp (what a cross-partition
    # atomic publish produces): rewrite each journal body's committed_at
    troot = Path(store._path("IndicatorValues"))
    for pid in (1, 2):
        hist = troot / f"{PARTITION_COL}={pid}" / "_history"
        for h in sorted(hist.glob("*.json")):
            if h.name.startswith("_"):
                continue
            body = _json.loads(h.read_text())
            body["committed_at"] = 1_000_000.0
            h.write_text(_json.dumps(body))
    ch = store.read_changes("IndicatorValues", since=0.0, until=2_000_000.0)
    assert {"k", "a", "b"} <= set(ch.columns)
    rows = {r["k"]: (r["a"], r["b"], r["_change_type"]) for r in ch.collect()}
    assert rows[1] == ("x", None, "insert")
    assert rows[2] == (None, 9.5, "insert")


@pytest.mark.slow
def test_update_where_scattered_writes_sidecars_and_one_insert(spark, tmp_path):
    """VERDICT r10 directive #1 'done' pin: a scattered UPDATE whose
    keys touch EVERY file writes ONLY deletion-vector sidecars plus
    ONE fresh insert file with the transformed rows — zero data files
    rewritten — and the result equals the copy-on-write run."""
    from pathlib import Path

    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    pid = 90

    def frame(rows):
        return spark.createDataFrame(
            rows, "k long, name string, parent long"
        ).withColumn(PARTITION_COL, F.lit(pid).cast("long"))

    def build(root):
        store = TableStore(spark, root)
        # hash-scattered: 4 files, one residue class each — zone maps
        # cannot narrow a scattered point-set update
        store.replace_product_all(
            pid,
            {"IndicatorValues": frame(
                [(k, f"n{k}", 46) for k in range(0, 100, 4)]
            ).coalesce(1)},
        )
        for r in (1, 2, 3):
            store.append(
                "IndicatorValues",
                frame([(k, f"n{k}", 46) for k in range(r, 100, 4)]).coalesce(1),
            )
        return store

    sets = {"parent": "4609"}
    keys = [("k", "in", (8, 13, 26, 39))]

    root_dv = str(tmp_path / "dv")
    store = build(root_dv)
    part = Path(root_dv) / "IndicatorValues" / f"{PARTITION_COL}={pid}"
    before = store._manifest(part)
    assert len(before["files"]) == 4
    n = store.update_where("IndicatorValues", sets, keys)
    assert n == 4
    after = store._manifest(part)
    added = [f for f in after["files"] if f not in before["files"]]
    assert set(before["files"]) <= set(after["files"])  # ZERO rewrites
    assert len(added) == 1 and added[0].startswith("update-")
    assert set(after["dv"]) == set(before["files"])  # every file masked
    assert sum(e["count"] for e in after["dv"].values()) == 4
    assert store.count_rows("IndicatorValues") == 100

    # differential vs copy-on-write on an identical store
    store_cow = build(str(tmp_path / "cow"))
    assert store_cow.update_where("IndicatorValues", sets, keys, mode="cow") == 4
    part_cow = Path(str(tmp_path / "cow")) / "IndicatorValues" / f"{PARTITION_COL}={pid}"
    after_cow = store_cow._manifest(part_cow)
    assert not after_cow.get("dv")  # cow: no masks, files rewritten
    want = sorted(
        (r["k"], r["name"], r["parent"])
        for r in store_cow.read("IndicatorValues").collect()
    )
    got = sorted(
        (r["k"], r["name"], r["parent"])
        for r in store.read("IndicatorValues").collect()
    )
    assert got == want
    assert all(p == (4609 if k in (8, 13, 26, 39) else 46) for k, _, p in got)


def test_update_where_expression_sets_see_old_row(spark, tmp_path):
    """SQL UPDATE semantics: every SET expression evaluates against
    the PRE-update row — {"a": "b", "b": "a"} swaps — and an
    expression-valued set (the reference's CONCAT shape) transforms
    from old values; time travel and CDF replay cover the update."""
    import time

    from geo_explorer_etl_spark.sources.store import (
        PARTITION_COL,
        TableStore,
        apply_changes,
    )

    store = TableStore(spark, str(tmp_path / "store"))
    df = spark.createDataFrame(
        [(k, k * 10, k * 100, f"nm{k}") for k in range(40)],
        "k long, a long, b long, name string",
    ).withColumn(PARTITION_COL, F.lit(1).cast("long"))
    store.replace_product_all(1, {"IndicatorValues": df.coalesce(2)})
    t0 = time.time()
    n = store.update_where(
        "IndicatorValues", {"a": "b", "b": "a"}, [("k", "<", 5)]
    )
    assert n == 5
    n2 = store.update_where(
        "IndicatorValues",
        {"name": "CONCAT('[', CAST(k AS STRING), '] ', name)"},
        [("k", "in", (2, 7))],
    )
    assert n2 == 2
    rows = {r["k"]: (r["a"], r["b"], r["name"]) for r in store.read("IndicatorValues").collect()}
    assert rows[3] == (300, 30, "nm3")          # swapped
    assert rows[2] == (200, 20, "[2] nm2")      # swapped THEN concat
    assert rows[7] == (70, 700, "[7] nm7")      # concat only
    assert rows[9] == (90, 900, "nm9")          # untouched
    # pre-update snapshot resolves through time travel
    v0 = {r["k"]: r["a"] for r in store.read_at("IndicatorValues", t0).collect()}
    assert v0[3] == 30
    # CDF replay reproduces the post-update snapshot exactly
    payload = ["k", "a", "b", "name"]
    v2 = apply_changes(
        store.read_at("IndicatorValues", t0).select(*payload),
        store.read_changes("IndicatorValues", since=t0).select(
            *payload, "_change_type", "_committed_at"
        ),
    )
    assert sorted(map(tuple, v2.collect())) == sorted(
        map(tuple, store.read("IndicatorValues").select(*payload).collect())
    )


def test_update_where_validation_and_dense_paths(spark, tmp_path):
    """Unknown SET targets and the partition column raise before any
    write; an UPDATE matching every row takes the whole-file rewrite
    (no pointless all-rows mask); casts preserve the declared type."""
    from pathlib import Path

    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    store = TableStore(spark, str(tmp_path / "store"))
    df = spark.createDataFrame(
        [(k, float(k)) for k in range(30)], "k long, v double"
    ).withColumn(PARTITION_COL, F.lit(1).cast("long"))
    store.replace_product_all(1, {"IndicatorValues": df.coalesce(1)})
    part = Path(store._path("IndicatorValues")) / f"{PARTITION_COL}=1"
    with _pytest.raises(ValueError, match="not in table columns"):
        store.update_where("IndicatorValues", {"zzz": "1"}, [("k", "==", 1)])
    with _pytest.raises(ValueError, match="targets must be payload"):
        store.update_where("IndicatorValues", {PARTITION_COL: "2"}, [("k", "==", 1)])
    with _pytest.raises(ValueError, match="at least one SET"):
        store.update_where("IndicatorValues", {}, [("k", "==", 1)])
    before = store._manifest(part)
    # where=None: every row matches -> full rewrite, no masks
    n = store.update_where("IndicatorValues", {"v": "v + 1"}, None)
    assert n == 30
    after = store._manifest(part)
    assert not after.get("dv")
    assert all(f not in before["files"] for f in after["files"])
    got = {r["k"]: r["v"] for r in store.read("IndicatorValues").collect()}
    assert got[0] == 1.0 and got[29] == 30.0
    # the SET result is cast back to the declared type (long "1" into
    # a double column stays double)
    assert store.read("IndicatorValues").schema["v"].dataType.simpleString() == "double"


def test_merge_rows_scattered_dv_writes_sidecars(spark, tmp_path):
    """VERDICT r10 directive #2 'done' pin: a scattered upsert whose
    keys touch EVERY file writes ONLY deletion-vector sidecars (the
    old row versions masked) plus ONE clustered insert file — zero
    candidate rewrites — and equals the copy-on-write result; files
    the zone maps flagged but that hold NO matched key are carried by
    reference."""
    from pathlib import Path

    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    pid = 95

    def frame(rows):
        return spark.createDataFrame(rows, "k long, v string").withColumn(
            PARTITION_COL, F.lit(pid).cast("long")
        )

    def build(root):
        store = TableStore(spark, root)
        # hash-scattered: 4 files, one residue class each
        store.replace_product_all(
            pid,
            {"IndicatorValues": frame(
                [(k, "a") for k in range(0, 100, 4)]
            ).coalesce(1)},
        )
        for r in (1, 2, 3):
            store.append(
                "IndicatorValues",
                frame([(k, "a") for k in range(r, 100, 4)]).coalesce(1),
            )
        return store

    up = frame([(8, "U"), (13, "U"), (26, "U"), (200, "new")])

    root = str(tmp_path / "dv")
    store = build(root)
    part = Path(root) / "IndicatorValues" / f"{PARTITION_COL}={pid}"
    before = store._manifest(part)
    assert len(before["files"]) == 4
    store.merge_rows("IndicatorValues", up, ["k"])
    after = store._manifest(part)
    added = [f for f in after["files"] if f not in before["files"]]
    assert set(before["files"]) <= set(after["files"])   # ZERO rewrites
    assert len(added) == 1 and added[0].startswith("merge-")
    # keys 8/13/26 live in residues 0/1/2 — residue-3's file matched
    # nothing once scanned and is carried WITHOUT a mask
    assert len(after["dv"]) == 3
    assert sum(e["count"] for e in after["dv"].values()) == 3

    store_cow = build(str(tmp_path / "cow"))
    store_cow.merge_rows("IndicatorValues", up, ["k"], mode="cow")
    want = sorted(
        (r["k"], r["v"]) for r in store_cow.read("IndicatorValues").collect()
    )
    got = sorted((r["k"], r["v"]) for r in store.read("IndicatorValues").collect())
    assert got == want
    assert (8, "U") in got and (200, "new") in got and len(got) == 101
    assert store.count_rows("IndicatorValues") == 101


def test_type_widening_through_schema_evolution(spark, tmp_path):
    """VERDICT r10 directive #5: safe promotions (int->long,
    float->double) evolve the DECLARED schema to the wider type — old
    files' narrow physical encodings upcast at scan time, old
    snapshots time-travel with the type THEY declared, a narrower
    late append still reads back under the widened type, unsafe
    conversions still raise, and fsck stays green."""
    import time

    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    store = TableStore(spark, str(tmp_path / "store"))
    f_narrow = spark.createDataFrame(
        [(1, 10, 1.5), (2, 20, 2.5)], "k long, v int, x float"
    ).withColumn(PARTITION_COL, F.lit(1).cast("long"))
    store.replace_product_all(1, {"IndicatorValues": f_narrow.coalesce(1)})
    t0 = time.time()

    f_wide = spark.createDataFrame(
        [(3, 3_000_000_000, 3.25)], "k long, v long, x double"
    ).withColumn(PARTITION_COL, F.lit(1).cast("long"))
    store.append("IndicatorValues", f_wide.coalesce(1))

    cur = store.read("IndicatorValues")
    types = {f.name: f.dataType.simpleString() for f in cur.schema.fields}
    assert types["v"] == "bigint" and types["x"] == "double"
    rows = {r["k"]: (r["v"], r["x"]) for r in cur.collect()}
    assert rows[1] == (10, 1.5) and rows[3] == (3_000_000_000, 3.25)

    # the pre-widening snapshot keeps ITS declared type
    old = store.read_at("IndicatorValues", t0)
    old_types = {f.name: f.dataType.simpleString() for f in old.schema.fields}
    assert old_types["v"] == "int" and old_types["x"] == "float"
    assert {r["k"] for r in old.collect()} == {1, 2}

    # a NARROWER late append is legal (declared stays wide) ...
    f_late = spark.createDataFrame(
        [(4, 40, 4.5)], "k long, v int, x float"
    ).withColumn(PARTITION_COL, F.lit(1).cast("long"))
    store.append("IndicatorValues", f_late.coalesce(1))
    cur2 = store.read("IndicatorValues")
    assert cur2.schema["v"].dataType.simpleString() == "bigint"
    assert {r["k"]: r["v"] for r in cur2.collect()}[4] == 40

    # ... an INCOMPARABLE conversion still raises
    f_bad = spark.createDataFrame([(5, "oops")], "k long, v string").withColumn(
        PARTITION_COL, F.lit(1).cast("long")
    )
    with _pytest.raises(ValueError, match="type conflict"):
        store.append("IndicatorValues", f_bad)
    # ... and so does the LOSSY long->double (exact only below 2^53)
    f_lossy = spark.createDataFrame([(6, 1.5)], "k long, v double").withColumn(
        PARTITION_COL, F.lit(1).cast("long")
    )
    with _pytest.raises(ValueError, match="type conflict"):
        store.append("IndicatorValues", f_lossy)
    # integer -> double IS exact and widens (second evolution of v)
    store2 = TableStore(spark, str(tmp_path / "store2"))
    store2.replace_product_all(
        1,
        {"IndicatorValues": spark.createDataFrame(
            [(1, 10)], "k long, n int"
        ).withColumn(PARTITION_COL, F.lit(1).cast("long"))},
    )
    store2.append(
        "IndicatorValues",
        spark.createDataFrame([(2, 2.5)], "k long, n double").withColumn(
            PARTITION_COL, F.lit(1).cast("long")
        ),
    )
    out2 = store2.read("IndicatorValues")
    assert out2.schema["n"].dataType.simpleString() == "double"
    assert {r["k"]: r["n"] for r in out2.collect()} == {1: 10.0, 2: 2.5}

    # zone maps still prune across mixed-width files, and fsck is green
    assert len(store.live_files("IndicatorValues", [("v", ">", 100)])) <= 2
    report = store.fsck()
    assert not report.get("missing") and not report.get("corrupt")
    # predicate read returns the right rows across eras
    got = {r["k"] for r in store.read("IndicatorValues", where=[("v", ">", 15)]).collect()}
    assert got == {2, 3, 4}


def test_delete_where_none_predicate_deletes_all(spark, tmp_path):
    """Review r10: ``delete_where(t, None)`` (a bare DELETE FROM) must
    delete every row — stats-bearing files drop metadata-only — not
    crash on the missing predicate list."""
    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    store = TableStore(spark, str(tmp_path / "store"))
    df = spark.createDataFrame(
        [(k, "a") for k in range(50)], "k long, v string"
    ).withColumn(PARTITION_COL, F.lit(1).cast("long"))
    store.replace_product_all(1, {"IndicatorValues": df.coalesce(2)})
    assert store.delete_where("IndicatorValues", None) == 50
    assert store.read("IndicatorValues") is None
    assert store.count_rows("IndicatorValues") == 0


def test_cas_read_cache_survives_delete_and_path_reuse(spark, tmp_path):
    """Review r10: the CAS backend's parsed-manifest cache keys on the
    commit-file path, which can be REUSED with different content after
    delete() restarts version numbering — the stat signature must
    invalidate the stale entry (a served stale body would resurrect a
    superseded file list)."""
    import time

    from pathlib import Path

    from geo_explorer_etl_spark.sources.commit import CASBackend

    b = CASBackend()
    d = Path(str(tmp_path / "blob"))
    b.write(d, "m", {"files": ["old.parquet"]}, 0)
    assert b.read(d, "m")[1]["files"] == ["old.parquet"]   # cached
    b.delete(d, "m")
    assert b.read(d, "m") is None
    time.sleep(0.01)  # distinct mtime_ns even on coarse clocks
    b.write(d, "m", {"files": ["new.parquet"]}, 0)          # SAME path: 1.json
    assert b.read(d, "m")[1]["files"] == ["new.parquet"]


def test_update_where_through_column_mapping(spark, tmp_path):
    """update_where after a rename: the predicate and the SET target
    both name the NEW logical column; stats classification translates
    to the physical key, the scan surfaces logical names, and the
    written files keep physical names (read back through the map)."""
    from pathlib import Path

    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    store = TableStore(spark, str(tmp_path / "store"))
    df = spark.createDataFrame(
        [(k, k * 1.0) for k in range(40)], "k long, amount double"
    ).withColumn(PARTITION_COL, F.lit(1).cast("long"))
    store.replace_product_all(1, {"IndicatorValues": df.coalesce(2)})
    assert store.rename_column("IndicatorValues", "amount", "price") == 1
    n = store.update_where(
        "IndicatorValues",
        {"price": "price * 10"},
        [("price", "<", 3.0)],
    )
    assert n == 3
    rows = {r["k"]: r["price"] for r in store.read("IndicatorValues").collect()}
    assert rows[0] == 0.0 and rows[1] == 10.0 and rows[2] == 20.0 and rows[5] == 5.0
    # physical file columns still carry the ORIGINAL physical name
    part = Path(store._path("IndicatorValues")) / f"{PARTITION_COL}=1"
    m = store._manifest(part)
    upd = [f for f in m["files"] if f.startswith("update-")]
    assert upd
    import pyarrow.parquet as pq

    assert "amount" in pq.ParquetFile(str(part / upd[0])).schema_arrow.names


# -- table constraints (NOT NULL / CHECK, Delta-invariant shape) -------------


def test_constraints_lifecycle_and_add_time_validation(spark, tmp_path):
    """add_constraint validates shape and EXISTING data; duplicates,
    unknown columns, and partition-column targets are refused;
    drop_constraint re-opens the gate."""
    from geo_explorer_etl_spark.sources.store import (
        PARTITION_COL,
        ConstraintViolation,
        TableStore,
    )

    store = TableStore(spark, str(tmp_path / "store"))
    df = spark.createDataFrame(
        [(i, float(i), "x" if i else None) for i in range(6)],
        "k long, price double, v string",
    ).withColumn(PARTITION_COL, F.lit(1).cast("long"))
    store.replace_product_all(1, {"IndicatorValues": df})

    # existing data has a null v -> NOT NULL refused at add time
    with _pytest.raises(ConstraintViolation, match="existing data"):
        store.add_constraint("IndicatorValues", "v_nn", not_null=["v"])
    # unknown column / partition column / bad shape all refused
    with _pytest.raises(ValueError, match="not in table columns"):
        store.add_constraint("IndicatorValues", "x", not_null=["nope"])
    with _pytest.raises(ValueError, match="never null by construction"):
        store.add_constraint("IndicatorValues", "x", not_null=[PARTITION_COL])
    with _pytest.raises(ValueError, match="exactly one"):
        store.add_constraint("IndicatorValues", "x")
    store.add_constraint("IndicatorValues", "nonneg", check=[("price", ">=", 0.0)])
    with _pytest.raises(ValueError, match="already exists"):
        store.add_constraint("IndicatorValues", "nonneg", check=[("price", ">=", 0.0)])
    assert set(store.constraints("IndicatorValues")) == {"nonneg"}
    store.drop_constraint("IndicatorValues", "nonneg")
    assert store.constraints("IndicatorValues") == {}
    with _pytest.raises(ValueError, match="no constraint"):
        store.drop_constraint("IndicatorValues", "nonneg")


@pytest.mark.slow
def test_constraints_block_every_value_bearing_write(spark, tmp_path):
    """Each write path that introduces new values refuses a violating
    batch BEFORE its snapshot point: the table reads back exactly as
    before, fsck stays clean, and no orphan attempt-files leak."""
    from pathlib import Path

    from geo_explorer_etl_spark.sources.store import (
        PARTITION_COL,
        ConstraintViolation,
        TableStore,
    )

    store = TableStore(spark, str(tmp_path / "store"))
    df = spark.createDataFrame(
        [(i, float(i), "x") for i in range(8)], "k long, price double, v string"
    ).withColumn(PARTITION_COL, F.lit(1).cast("long"))
    store.replace_product_all(1, {"IndicatorValues": df.coalesce(2)})
    store.add_constraint("IndicatorValues", "nonneg", check=[("price", ">=", 0.0)])
    store.add_constraint("IndicatorValues", "v_nn", not_null=["v"])

    def snapshot():
        return {
            (r["k"], r["price"], r["v"])
            for r in store.read("IndicatorValues").collect()
        }

    before = snapshot()

    def bad_frame(rows, schema="k long, price double, v string"):
        return spark.createDataFrame(rows, schema).withColumn(
            PARTITION_COL, F.lit(1).cast("long")
        )

    # append: CHECK violation (scan-confirmed) and NOT NULL (footer-exact)
    with _pytest.raises(ConstraintViolation, match="nonneg"):
        store.append("IndicatorValues", bad_frame([(100, -1.0, "y")]))
    with _pytest.raises(ConstraintViolation, match="v_nn"):
        store.append("IndicatorValues", bad_frame([(100, 1.0, None)]))
    # merge_rows (DV and COW paths share the hook)
    with _pytest.raises(ConstraintViolation, match="nonneg"):
        store.merge_rows("IndicatorValues", bad_frame([(3, -9.0, "y")]), ["k"])
    # update_where: transformed rows break the check
    with _pytest.raises(ConstraintViolation, match="nonneg"):
        store.update_where(
            "IndicatorValues", {"price": "price - 100"}, [("k", "<", 2)]
        )
    # replace txn: staged files discarded wholesale
    with _pytest.raises(ConstraintViolation, match="nonneg"):
        store.replace_product_all(
            1, {"IndicatorValues": bad_frame([(0, -1.0, "y")])}
        )
    # epoch append: violation pre-claim, clean retry of the SAME batch wins
    with _pytest.raises(ConstraintViolation, match="nonneg"):
        store.append_epoch(
            "s1", 0, "IndicatorValues", bad_frame([(200, -1.0, "y")])
        )
    assert snapshot() == before
    assert store.append_epoch(
        "s1", 0, "IndicatorValues", bad_frame([(200, 2.0, "y")])
    ) is True
    assert (200, 2.0, "y") in snapshot()

    # nothing leaked: no orphan staging, fsck green
    staging = Path(str(tmp_path / "store")) / "_staging"
    assert not list(staging.iterdir()) if staging.exists() else True
    rep = store.fsck("IndicatorValues").get("IndicatorValues", {})
    assert rep.get("missing", []) == [] and rep.get("unknown", []) == []

    # clean writes still pass every path
    store.append("IndicatorValues", bad_frame([(300, 3.0, "z")]))
    store.merge_rows("IndicatorValues", bad_frame([(3, 9.0, "y")]), ["k"])
    assert store.update_where(
        "IndicatorValues", {"price": "price + 1"}, [("k", "==", 300)]
    ) == 1


def test_constraints_follow_rename_and_block_drop(spark, tmp_path):
    """Specs hold LOGICAL names: rename_column rewrites them (probes
    keep resolving through the colmap), and drop_column refuses while
    a constraint references the column."""
    from geo_explorer_etl_spark.sources.store import (
        PARTITION_COL,
        ConstraintViolation,
        TableStore,
    )

    store = TableStore(spark, str(tmp_path / "store"))
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(5)], "k long, price double"
    ).withColumn(PARTITION_COL, F.lit(1).cast("long"))
    store.replace_product_all(1, {"IndicatorValues": df})
    store.add_constraint("IndicatorValues", "nonneg", check=[("price", ">=", 0.0)])

    assert store.rename_column("IndicatorValues", "price", "cost") == 1
    spec = store.constraints("IndicatorValues")["nonneg"]
    assert spec["preds"] == [["cost", ">=", 0.0]]
    # enforcement works under the NEW logical name (physical unchanged)
    bad = spark.createDataFrame([(9, -1.0)], "k long, cost double").withColumn(
        PARTITION_COL, F.lit(1).cast("long")
    )
    with _pytest.raises(ConstraintViolation, match="nonneg"):
        store.append("IndicatorValues", bad)
    with _pytest.raises(ValueError, match="referenced by constraint"):
        store.drop_column("IndicatorValues", "cost")
    store.drop_constraint("IndicatorValues", "nonneg")
    assert store.drop_column("IndicatorValues", "cost") == 1


def test_constraints_footer_first_skips_scans(spark, tmp_path, monkeypatch):
    """The 100 TB property: a clean append whose zone maps PROVE the
    check (and whose footers prove the null counts) publishes without
    any fallback scan — only footer-inconclusive files pay one."""
    from geo_explorer_etl_spark.sources import store as store_mod
    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    store = TableStore(spark, str(tmp_path / "store"))
    df = spark.createDataFrame(
        [(i, float(i), "x") for i in range(8)], "k long, price double, v string"
    ).withColumn(PARTITION_COL, F.lit(1).cast("long"))
    store.replace_product_all(1, {"IndicatorValues": df})
    store.add_constraint("IndicatorValues", "nonneg", check=[("price", ">=", 0.0)])
    store.add_constraint("IndicatorValues", "v_nn", not_null=["v"])

    calls = []
    orig = TableStore._scan_constraint_violations

    def counting(self, table, to_scan, cmap):
        calls.append(list(to_scan))
        return orig(self, table, to_scan, cmap)

    monkeypatch.setattr(TableStore, "_scan_constraint_violations", counting)
    ok = spark.createDataFrame(
        [(100, 5.0, "y")], "k long, price double, v string"
    ).withColumn(PARTITION_COL, F.lit(1).cast("long"))
    store.append("IndicatorValues", ok)
    assert calls == []  # zone maps + null counts proved it clean

    # NaN rows make the zone maps inconclusive for '>='-style checks
    # (_file_may_match's nan_possible guard) -> exactly one scan, and
    # under Spark semantics NaN >= 0 is TRUE so the append passes
    nan_ok = spark.createDataFrame(
        [(101, float("nan"), "y")], "k long, price double, v string"
    ).withColumn(PARTITION_COL, F.lit(1).cast("long"))
    store.append("IndicatorValues", nan_ok)
    assert len(calls) == 1
    assert store.count_rows("IndicatorValues") == 10


def test_append_violation_spares_preexisting_listing_files(spark, tmp_path):
    """Review r10 wave 5: the violation cleanup must remove ONLY the
    files this append staged — never pre-existing committed files in a
    manifest-less (listing-mode) partition (the old live-dir diff
    guessed, and the guess swept them up)."""
    from geo_explorer_etl_spark.sources.store import (
        PARTITION_COL,
        ConstraintViolation,
        TableStore,
    )

    store = TableStore(spark, str(tmp_path / "store"))
    df = spark.createDataFrame([(1, 1.0)], "k long, price double")
    # legacy path drops the partition to LISTING mode (no manifest)
    store.replace_product("IndicatorValues", df, 7)
    store.add_constraint("IndicatorValues", "nonneg", check=[("price", ">=", 0.0)])
    assert store.count_rows("IndicatorValues") == 1

    bad = spark.createDataFrame([(2, -1.0)], "k long, price double").withColumn(
        PARTITION_COL, F.lit(7).cast("long")
    )
    with _pytest.raises(ConstraintViolation):
        store.append("IndicatorValues", bad)
    # the pre-existing committed row SURVIVES
    assert {r["k"] for r in store.read("IndicatorValues").collect()} == {1}
    # and a clean append still lands in the listing partition
    ok = spark.createDataFrame([(3, 3.0)], "k long, price double").withColumn(
        PARTITION_COL, F.lit(7).cast("long")
    )
    store.append("IndicatorValues", ok)
    assert {r["k"] for r in store.read("IndicatorValues").collect()} == {1, 3}


def test_rename_failure_leaves_constraints_untouched(spark, tmp_path):
    """Review r10 wave 5: the constraint spec follows only a
    SUCCESSFUL rename — a refused rename (target exists) or a no-op
    (source absent) must not re-target the spec at another column."""
    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    store = TableStore(spark, str(tmp_path / "store"))
    df = spark.createDataFrame(
        [(1, 1.0, 2.0)], "k long, a double, b double"
    ).withColumn(PARTITION_COL, F.lit(1).cast("long"))
    store.replace_product_all(1, {"IndicatorValues": df})
    store.add_constraint("IndicatorValues", "a_nn", not_null=["a"])

    with _pytest.raises(ValueError, match="already exists"):
        store.rename_column("IndicatorValues", "a", "b")
    assert store.constraints("IndicatorValues")["a_nn"]["cols"] == ["a"]
    assert store.rename_column("IndicatorValues", "nope", "whatever") == 0
    assert store.constraints("IndicatorValues")["a_nn"]["cols"] == ["a"]


def test_delete_skips_constraint_reverification(spark, tmp_path, monkeypatch):
    """Review r10 wave 5: delete_where's survivor rewrites hold only
    committed values — with a zone-map-inconclusive CHECK declared
    (multi-member `in`), the delete must not pay a re-verification
    scan, while update_where still verifies its transformed rows."""
    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    store = TableStore(spark, str(tmp_path / "store"))
    df = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3]) for i in range(12)], "k long, status string"
    ).withColumn(PARTITION_COL, F.lit(1).cast("long"))
    store.replace_product_all(1, {"IndicatorValues": df.coalesce(2)})
    store.add_constraint(
        "IndicatorValues", "status_dom", check=[("status", "in", ["a", "b", "c"])]
    )

    scans = []
    orig = TableStore._scan_constraint_violations

    def counting(self, table, to_scan, cmap):
        scans.append(len(to_scan))
        return orig(self, table, to_scan, cmap)

    monkeypatch.setattr(TableStore, "_scan_constraint_violations", counting)
    # a COW delete rewrites survivors — no verification scan
    assert store.delete_where(
        "IndicatorValues", [("k", "in", [0, 1, 2, 3])], mode="cow"
    ) == 4
    assert scans == []
    # update still verifies (multi-member in => inconclusive => scan)
    assert store.update_where(
        "IndicatorValues", {"status": "'b'"}, [("k", "==", 5)]
    ) == 1
    assert len(scans) >= 1
    # audit API agrees the table is conformant
    assert store.verify_constraints("IndicatorValues") == {"status_dom": None}


def test_fsck_reports_dangling_constraints(spark, tmp_path):
    """Review r10 wave 6: a constraint referencing a column absent
    from every declared schema (the crash residue of an interrupted
    rename) is SILENT for CHECK specs — fsck is where it surfaces."""
    import json as _json

    from geo_explorer_etl_spark.sources.store import CONSTRAINTS, TableStore
    from geo_explorer_etl_spark.sources.store import PARTITION_COL

    store = TableStore(spark, str(tmp_path / "store"))
    df = spark.createDataFrame([(1, 1.0)], "k long, price double").withColumn(
        PARTITION_COL, F.lit(1).cast("long")
    )
    store.replace_product_all(1, {"IndicatorValues": df})
    store.add_constraint("IndicatorValues", "nonneg", check=[("price", ">=", 0.0)])
    assert "IndicatorValues" not in store.fsck("IndicatorValues") or (
        not store.fsck("IndicatorValues")["IndicatorValues"].get(
            "constraints_dangling"
        )
    )
    # simulate the interrupted-rename residue: spec points at a name
    # no declared schema carries
    from geo_explorer_etl_spark.sources.commit import cas_update
    from pathlib import Path

    def retarget(prior):
        body = dict(prior or {})
        body["tables"]["IndicatorValues"]["nonneg"] = {
            "kind": "check",
            "preds": [["price_old", ">=", 0.0]],
        }
        return body

    cas_update(store._backend, Path(str(tmp_path / "store")), CONSTRAINTS, retarget)
    rep = store.fsck("IndicatorValues")["IndicatorValues"]
    assert rep["constraints_dangling"] == ["nonneg: ['price_old']"]


def test_delete_theme_product_partial_cascade(spark, tmp_path):
    """Reference parity: delete_indicator_theme_product.sql removes a
    product from the THEME/DIMENSION tables only (prep for an insert
    rerun), sparing the value tables and every other product — here
    the subquery-scoped deletes collapse to partition drops."""
    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    store = TableStore(spark, str(tmp_path / "store"))

    def frame(pid):
        return spark.createDataFrame([(pid, "x")], "id long, v string").withColumn(
            PARTITION_COL, F.lit(pid).cast("long")
        )

    for pid in (1, 2):
        store.replace_product_all(
            pid,
            {
                "IndicatorTheme": frame(pid),
                "Dimensions": frame(pid),
                "DimensionValues": frame(pid),
                "IndicatorValues": frame(pid),
            },
        )
    store.delete_theme_product(1)
    for t in ("IndicatorTheme", "Dimensions", "DimensionValues"):
        assert {r[PARTITION_COL] for r in store.read(t).collect()} == {2}, t
    # value tables untouched for BOTH products (overwritten by the
    # rerun's append, per the script's comment)
    assert {r[PARTITION_COL] for r in store.read("IndicatorValues").collect()} == {1, 2}


def test_describe_detail_summary(spark, tmp_path):
    """describe() — the DESCRIBE DETAIL analog: metadata-only totals
    that stay honest through DML, rename, constraints, and DV masks;
    identical from the Spark-free StoreMeta."""
    from geo_explorer_etl_spark.sources.store import (
        PARTITION_COL,
        StoreMeta,
        TableStore,
    )

    root = str(tmp_path / "store")
    store = TableStore(spark, root)
    assert store.describe("IndicatorValues") is None
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(40)], "k long, price double"
    ).withColumn(PARTITION_COL, F.lit(1).cast("long"))
    store.replace_product_all(1, {"IndicatorValues": df.coalesce(2)})
    store.add_constraint("IndicatorValues", "nonneg", check=[("price", ">=", 0.0)])
    assert store.delete_where("IndicatorValues", [("k", "in", [3, 17])], mode="dv") == 2
    assert store.rename_column("IndicatorValues", "price", "cost") == 1

    d = store.describe("IndicatorValues")
    assert d["partitions"] == 1 and d["listing_partitions"] == 0
    assert d["files"] == 2 and d["bytes"] > 0
    assert d["rows"] == 38                 # metadata-only, DV-subtracted
    assert d["dv_positions"] == 2 and d["dv_files"] >= 1
    assert "cost double" in d["schema"] and d["colmap"] == {"cost": "price"}
    assert set(d["constraints"]) == {"nonneg"}
    assert d["history_entries"] >= 2
    # the Spark-free twin reads the same manifests
    assert StoreMeta(root).describe("IndicatorValues") == d


def test_describe_surfaces_torn_colmap(spark, tmp_path):
    """Review r10 wave 9: describe() is an AUDIT tool — a torn rename
    (divergent per-partition colmaps) must surface as colmap_error,
    not be silently last-partition-wins'd away."""
    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    store = TableStore(spark, str(tmp_path / "store"))
    for pid in (1, 2):
        df = spark.createDataFrame([(pid, 1.0)], "k long, price double").withColumn(
            PARTITION_COL, F.lit(pid).cast("long")
        )
        store.replace_product_all(pid, {"IndicatorValues": df})
    store.rename_column("IndicatorValues", "price", "cost")

    # simulate the torn residue: rewind ONE partition's colmap
    from pathlib import Path

    part = Path(store._path("IndicatorValues")) / f"{PARTITION_COL}=2"

    def diverge(prior):
        # a VALUE conflict for one logical name — the divergence
        # _union_colmap fails loudly on (the missing-mapping tear is
        # caught downstream by the duplicate-physical check instead)
        body = dict(prior)
        body["colmap"] = {"cost": "something_else"}
        return body

    store._update_manifest(part, diverge)
    d = store.describe("IndicatorValues")
    assert d["colmap"] is None and "colmap_error" in d
    assert "torn" in d["colmap_error"] or "inconsistent" in d["colmap_error"]


def test_append_reenforces_constraint_published_mid_flight(spark, tmp_path):
    """ADVICE r10 (medium): a constraint published between append()'s
    staging-time constraint read and its manifest extends used to land
    violating rows with no error on the LOCK backend too (the lock
    only serialized the swap, not the read). Pin the fix: the
    pre-extend re-read detects the changed set, re-enforces, rolls the
    moved files back, and raises."""
    from geo_explorer_etl_spark.sources.store import (
        PARTITION_COL,
        ConstraintViolation,
        TableStore,
    )

    store = TableStore(spark, str(tmp_path / "wh"))
    base = spark.createDataFrame(
        [(1, 5.0)], "k LONG, amount DOUBLE"
    ).withColumn(PARTITION_COL, F.lit(3).cast("long"))
    store.replace_product_all(3, {"IndicatorValues": base})
    store.add_constraint(
        "IndicatorValues", "amount_pos", check=[("amount", ">=", 0.0)]
    )
    # simulate the race: the staging-time reads (the high-water capture
    # AND the enforce's own read) see the pre-constraint (empty) set;
    # the pre-extend re-read sees the real one
    real = store._table_constraints
    calls = {"n": 0}

    def delayed(table):
        calls["n"] += 1
        return {} if calls["n"] <= 2 else real(table)

    store._table_constraints = delayed
    bad = spark.createDataFrame(
        [(2, -1.0)], "k LONG, amount DOUBLE"
    ).withColumn(PARTITION_COL, F.lit(3).cast("long"))
    with _pytest.raises(ConstraintViolation):
        store.append("IndicatorValues", bad)
    del store.__dict__["_table_constraints"]
    # rolled back: the violating row never became visible
    got = store.read("IndicatorValues").select("k").collect()
    assert sorted(r.k for r in got) == [1]
    assert store.count_rows("IndicatorValues") == 1


@pytest.mark.slow
def test_auto_compact_policy_triggers_and_scoping(spark, tmp_path):
    """auto_compact (VERDICT r10 stretch): a fragmented partition and a
    DV-burdened partition breach policy and get compacted; a healthy
    partition in the same table is left untouched (the partitions
    filter scopes the rewrite); a healthy store is a metadata no-op."""
    from pathlib import Path

    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    store = TableStore(spark, str(tmp_path / "wh"))

    def frame(pid, keys):
        return spark.createDataFrame(
            [(k, float(k)) for k in keys], "k LONG, v DOUBLE"
        ).withColumn(PARTITION_COL, F.lit(pid).cast("long"))

    # pid 1: FRAGMENTED — one publish + many appends => 10 small files
    store.replace_product_all(1, {"IndicatorValues": frame(1, range(10)).coalesce(1)})
    for i in range(1, 10):
        store.append("IndicatorValues", frame(1, range(10 * i, 10 * i + 10)).coalesce(1))
    # pid 2: DV-BURDENED — scattered deletes mask > 20% of known rows
    store.replace_product_all(2, {"IndicatorValues": frame(2, range(1000, 1100)).coalesce(2)})
    store.delete_where(
        "IndicatorValues",
        [(PARTITION_COL, "==", 2), ("k", "in", tuple(range(1000, 1030)))],
        mode="dv",
    )
    # pid 3: HEALTHY — one compact file, no masks
    store.replace_product_all(3, {"IndicatorValues": frame(3, range(5)).coalesce(1)})

    base = Path(store.root) / "IndicatorValues"
    m3_before = store._manifest(base / f"{PARTITION_COL}=3")
    rep = store.auto_compact("IndicatorValues")
    breached = rep["IndicatorValues"]["breached"]
    assert f"{PARTITION_COL}=1" in breached
    assert f"{PARTITION_COL}=2" in breached
    assert f"{PARTITION_COL}=3" not in breached
    assert rep["IndicatorValues"]["compacted"] == 2
    # healed: pid 1 back to ~1 file, pid 2's masks materialized away
    m1 = store._manifest(base / f"{PARTITION_COL}=1")
    m2 = store._manifest(base / f"{PARTITION_COL}=2")
    assert len(m1["files"]) == 1 and not m1.get("dv")
    assert not m2.get("dv")
    # pid 3 untouched (same manifest version — never rewritten)
    m3_after = store._manifest(base / f"{PARTITION_COL}=3")
    assert m3_after["files"] == m3_before["files"]
    # rows intact
    assert store.count_rows("IndicatorValues") == 100 + 70 + 5
    # second call: healthy store, metadata no-op
    assert store.auto_compact("IndicatorValues") == {}


def test_isnull_predicate_prunes_on_recorded_null_counts(spark, tmp_path):
    """isnull/notnull — the grammar's null-ACCEPTING ops: an ``isnull``
    read prunes every file whose manifest records a ZERO null count
    for the column, results equal read().filter(isNull/isNotNull), and
    the delete fast path proves notnull from the zero count."""
    from geo_explorer_etl_spark.sources.store import TableStore

    store = TableStore(spark, str(tmp_path / "store"))

    def frame(lo, nulls):
        return spark.range(lo, lo + 100).select(
            F.col("id"),
            (F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id"))
             if nulls else F.col("id")).cast("double").alias("Value"),
        ).coalesce(1)

    store.replace_product_all(3, {"IndicatorValues": frame(0, nulls=False)})
    store.append(
        "IndicatorValues",
        frame(100, nulls=True).withColumn("IndicatorThemeId", F.lit(3).cast("long")),
    )
    store.append(
        "IndicatorValues",
        frame(200, nulls=False).withColumn("IndicatorThemeId", F.lit(3).cast("long")),
    )
    assert len(store.live_files("IndicatorValues")) == 3
    w = [("Value", "isnull", None)]
    # THE PIN: only the null-bearing file is opened
    assert len(store.live_files("IndicatorValues", w)) == 1
    got = sorted(r["id"] for r in store.read("IndicatorValues", w).collect())
    assert got == [100, 110, 120, 130, 140, 150, 160, 170, 180, 190]
    nn = store.read("IndicatorValues", [("Value", "notnull", None)])
    assert nn.count() == 290
    # DML: delete the null rows; the two null-free files must survive
    # untouched (file-level may-match prune), and notnull's all-match
    # proof lets a whole-file delete drop without rewrite
    assert store.delete_where("IndicatorValues", w) == 10
    assert store.read("IndicatorValues").count() == 290
    assert (
        store.delete_where(
            "IndicatorValues",
            [("Value", "notnull", None), ("id", "<", 100)],
        )
        == 100
    )
    # pushdown filter translation covers the null-intent classes
    from pyspark.sql.datasource import IsNotNull, IsNull

    from geo_explorer_etl_spark.sources.store_source import translate_filters

    got_f = translate_filters([IsNull(("Value",)), IsNotNull(("other",))])
    assert got_f == [("Value", "isnull", None), ("other", "notnull", None)]


def test_like_prefix_zone_map_skipping(spark, tmp_path):
    """Prefix LIKE prunes on string zone maps (VERDICT r14 next #4):
    a 'be%' probe opens only the file whose [min, max] admits the
    prefix range; '%x' / '_x' patterns keep every file (honest scan);
    results always equal read().filter(col.like(...)); OR of LIKEs
    unions file sets across disjuncts."""
    from geo_explorer_etl_spark.sources.store import (
        TableStore,
        _like_prefix,
        _like_prefix_upper,
    )

    # prefix extraction + exclusive upper bound unit pins
    assert _like_prefix("ab%") == "ab" and _like_prefix("%ab") == ""
    assert _like_prefix("a_b%") == "a" and _like_prefix(r"a\%b") == "a"
    assert _like_prefix_upper("ab") == "ac"
    assert _like_prefix_upper("a" + chr(0x10FFFF)) == "b"
    assert _like_prefix_upper(chr(0x10FFFF)) is None

    root = str(tmp_path / "store")
    store = TableStore(spark, root)

    def frame(prefix):
        return spark.createDataFrame(
            [(f"{prefix}-{i:03d}", i) for i in range(50)],
            "code STRING, v LONG",
        )

    store.replace_product_all(7, {"IndicatorValues": frame("alpha").coalesce(1)})
    for p in ("beta", "gamma"):
        store.append(
            "IndicatorValues",
            frame(p).coalesce(1).withColumn(
                "IndicatorThemeId", F.lit(7).cast("long")
            ),
        )
    assert len(store.live_files("IndicatorValues")) == 3

    # THE PIN: the prefix probe opens exactly the covering file
    like = [("code", "like", "be%")]
    assert len(store.live_files("IndicatorValues", like)) == 1
    got = sorted(r["code"] for r in store.read("IndicatorValues", like).collect())
    want = sorted(
        r["code"]
        for r in store.read("IndicatorValues")
        .filter(F.col("code").like("be%"))
        .collect()
    )
    assert got == want and len(got) == 50

    # non-prefix patterns cannot prune — every file kept, result exact
    for pat in ("%-001", "_eta%"):
        w = [("code", "like", pat)]
        assert len(store.live_files("IndicatorValues", w)) == 3
        assert store.read("IndicatorValues", w).count() == (
            3 if pat == "%-001" else 1 * 50
        )

    # OR of two prefix LIKEs unions the two covering file sets
    orw = [[("code", "like", "al%")], "or", [("code", "like", "ga%")]]
    assert len(store.live_files("IndicatorValues", orw)) == 2
    assert store.read("IndicatorValues", orw).count() == 100


@pytest.mark.slow
def test_notlike_and_notin_zone_map_semantics(spark, tmp_path):
    """VERDICT r15 next #3 (store side): NOT LIKE keeps every file
    unless the zone map PROVES all rows match the positive prefix
    pattern (pure 'pre%' form, [min,max] inside the prefix range);
    NOT IN prunes single-valued files on listed members and goes
    never-true on a NULL member; rows always equal the Spark-filter
    ground truth (3VL: NULL column rows never match either)."""
    from geo_explorer_etl_spark.sources.store import TableStore

    root = str(tmp_path / "store")
    store = TableStore(spark, root)

    def frame(prefix):
        return spark.createDataFrame(
            [(f"{prefix}-{i:03d}", i) for i in range(50)],
            "code STRING, v LONG",
        )

    store.replace_product_all(7, {"IndicatorValues": frame("alpha").coalesce(1)})
    for p in ("beta", "gamma"):
        store.append(
            "IndicatorValues",
            frame(p).coalesce(1).withColumn(
                "IndicatorThemeId", F.lit(7).cast("long")
            ),
        )
    assert len(store.live_files("IndicatorValues")) == 3

    # pure prefix pattern: the beta file is PROVABLY all-matching ->
    # pruned for NOT LIKE; the other two open and scan
    w = [("code", "notlike", "be%")]
    assert len(store.live_files("IndicatorValues", w)) == 2
    got = sorted(r["code"] for r in store.read("IndicatorValues", w).collect())
    want = sorted(
        r["code"]
        for r in store.read("IndicatorValues")
        .filter(~F.col("code").like("be%"))
        .collect()
    )
    assert got == want and len(got) == 100

    # non-pure pattern ('be%a'): no proof possible -> every file kept,
    # row filter decides (honest scan, exact result)
    w2 = [("code", "notlike", "be%a")]
    assert len(store.live_files("IndicatorValues", w2)) == 3
    assert store.read("IndicatorValues", w2).count() == 150

    # NOT IN: single-valued files prune on listed members
    kinds = TableStore(spark, str(tmp_path / "store2"))
    mk = lambda k: spark.createDataFrame(  # noqa: E731
        [(k, i) for i in range(10)], "kind STRING, v LONG"
    ).coalesce(1)
    kinds.replace_product_all(1, {"T": mk("a")})
    for k in ("b", "c"):
        kinds.append(
            "T", mk(k).withColumn("IndicatorThemeId", F.lit(1).cast("long"))
        )
    w3 = [("kind", "notin", ["b", "c"])]
    assert len(kinds.live_files("T", w3)) == 1
    assert kinds.read("T", w3).count() == 10
    assert {r["kind"] for r in kinds.read("T", w3).collect()} == {"a"}
    # a NULL member flips NOT IN to never-true: zero files, zero rows
    w4 = [("kind", "notin", ["b", None])]
    assert kinds.live_files("T", w4) == []
    assert kinds.read("T", w4).count() == 0
    # NULL column rows match neither IN nor NOT IN
    kinds.append(
        "T",
        spark.createDataFrame([(None, 99)], "kind STRING, v LONG")
        .coalesce(1)
        .withColumn("IndicatorThemeId", F.lit(1).cast("long")),
    )
    assert kinds.read("T", [("kind", "notin", ["a"])]).count() == 20
    assert kinds.read("T", [("kind", "in", ["a", "b", "c"])]).count() == 30


def test_notin_zone_map_keeps_nan_rows(spark, tmp_path):
    """r16 review find: parquet min/max ignore NaN, so a [5.0, NaN]
    file reports mn=mx=5.0 — but NaN != 5.0 is TRUE under Spark
    semantics, so NOT IN (5.0) must KEEP the file and return the NaN
    row (the sibling '!=' branch has the same guard)."""
    from geo_explorer_etl_spark.sources.store import TableStore

    store = TableStore(spark, str(tmp_path / "store"))
    df = spark.createDataFrame(
        [(1, 5.0), (2, float("nan"))], "id LONG, x DOUBLE"
    ).coalesce(1)
    store.replace_product_all(1, {"T": df})
    w = [("x", "notin", [5.0])]
    assert len(store.live_files("T", w)) == 1  # NOT pruned
    got = store.read("T", w).collect()
    assert len(got) == 1 and got[0]["id"] == 2
    # int-statted single-valued files still prune exactly
    store2 = TableStore(spark, str(tmp_path / "store2"))
    store2.replace_product_all(
        1, {"T": spark.createDataFrame([(1, 5), (2, 5)], "id LONG, x LONG").coalesce(1)}
    )
    assert store2.live_files("T", [("x", "notin", [5])]) == []


def test_dv_mask_filter_gates_on_file_count(spark, tmp_path):
    """r16 perf gate: the literal DV mask filter is one OR branch per
    masked file evaluated by every scanned row, so it only runs for a
    FEW masked files; wide soaks take the broadcast-join probe. Both
    paths must return identical rows."""
    from pyspark.sql import functions as F

    from geo_explorer_etl_spark.sources.store import TableStore

    store = TableStore(spark, str(tmp_path / "store"))
    df = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    store.replace_product_all(1, {"T": df.repartitionByRange(8, "k")})
    # scattered delete masks every one of the 8 files
    store.delete_where(
        "T", [("k", "in", tuple(range(0, 200, 25)))], mode="dv"
    )
    # 8 masked files > DV_FILTER_MAX_FILES=4: the filter form refuses
    triples = [("p", f"f{i}", [1, 2]) for i in range(8)]
    assert store._dv_mask_filter(triples, "exclude") is None
    assert store._dv_mask_filter(triples[:2], "exclude") is not None
    # end-to-end equality between the two paths
    joined = {r["k"] for r in store.read("T").collect()}
    store2 = TableStore(spark, str(tmp_path / "store"))
    store2.DV_FILTER_MAX_FILES = 10_000  # force the literal-filter form
    filtered = {r["k"] for r in store2.read("T").collect()}
    assert joined == filtered == set(range(200)) - set(range(0, 200, 25))


def test_dv_mask_expression_filter_matches_probe_join(spark, tmp_path):
    """The literal DV mask is one SQL expression (one py4j call, quoted
    names escaped). read(), read_at() and read_changes() — whose
    slices carry both 'exclude' and 'only' masks — return the same rows
    through it as through the broadcast-probe join, over a 1-position
    mask and a 300-position mask on two files."""
    import time
    from collections import Counter

    from pyspark.sql import functions as F

    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore, _sql_str

    root = str(tmp_path / "store")
    store = TableStore(spark, root)
    def rng(lo, hi):
        return (
            spark.range(lo, hi, numPartitions=1)
            .select(F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
            .withColumn(PARTITION_COL, F.lit(1).cast("long"))
        )

    store.replace_product_all(1, {"T": rng(0, 400)})
    store.append("T", rng(400, 800))
    store.append("T", rng(800, 1200))  # three files of 400 rows
    t0 = time.time()
    time.sleep(0.02)
    store.delete_where("T", [("k", "==", 5)], mode="dv")
    store.delete_where("T", [("k", "between", (400, 699))], mode="dv")
    part = tmp_path / "store" / "T" / f"{PARTITION_COL}=1"
    sizes = sorted(len(store._dv_positions(part, e)) for e in store._manifest(part)["dv"].values())
    assert sizes == [1, 300]
    time.sleep(0.02)
    t_masked = time.time()
    time.sleep(0.02)
    # rewriting the 1-position file gives read_changes an 'exclude'
    # slice (the superseded file's rows under its mask)
    store.update_where("T", {"v": "v + 1"}, [("k", "==", 10)], mode="cow")

    def rows(s):
        def norm(frame):
            return sorted(tuple(r) for r in frame.collect())

        return (
            norm(s.read("T")),
            norm(s.read_at("T", t_masked)),
            norm(s.read_changes("T", since=t0)),
        )

    expr_store = TableStore(spark, root)

    def no_probe(triples):
        raise AssertionError("the expression filter should serve these masks")

    expr_store._dv_probe = no_probe
    probe_store = TableStore(spark, root)
    probe_store.DV_FILTER_MAX_POSITIONS = 0  # force the broadcast-probe path
    got, want = rows(expr_store), rows(probe_store)
    assert got == want
    live = {r[0] for r in got[0]}
    assert live == set(range(1200)) - {5} - set(range(400, 700))
    # the DV deltas ('only' slices), then the rewrite's 399 live rows
    # out ('exclude' slice) and back in
    kinds = Counter(r["_change_type"] for r in expr_store.read_changes("T", since=t0).collect())
    assert kinds == {"delete": 301 + 399, "insert": 399}
    # the quoting the expression applies to partition and file names
    odd = "IndicatorThemeId=1'x\\y"
    assert spark.sql(f"SELECT {_sql_str(odd)} AS s").first().s == odd


def test_cube_metadata_arrow_frame_matches_tuple_frame(spark):
    """getCubeMetadata's one-row nested frame is built through Arrow:
    it plans as a LocalTableScan (no Python-RDD scan whose broadcasts
    start Python workers) and collects exactly what the tuple-built
    frame does, nulls and empty arrays included."""
    from geo_explorer_etl_spark.sources.wds import METADATA_SCHEMA, WdsClient

    obj = {
        "productId": "98100001",
        "cubeTitleEn": "Population",
        "cubeTitleFr": None,
        "cubeEndDate": "2021-01-01",
        "releaseTime": None,
        "surveyCode": ["3901"],
        "dimension": [
            {
                "dimensionPositionId": 1,
                "dimensionNameEn": "Geography",
                "member": [
                    {"memberId": 1, "memberNameEn": "Canada", "memberUomCode": 223},
                    {"memberId": 2, "memberNameEn": None, "memberNameFr": "Québec"},
                ],
            },
            {"dimensionPositionId": 2, "dimensionNameFr": "Sexe", "hasUom": True},
        ],
    }
    df = WdsClient(spark, fetcher=lambda url, payload=None: {"status": "SUCCESS", "object": obj}).cube_metadata(98100001)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "LocalTableScan" in plan
    expected = spark.createDataFrame(
        [
            (
                98100001, "Population", None, None, "2021-01-01", 12, None, [], ["3901"],
                [
                    (1, "Geography", None, False,
                     [(1, "Canada", None, 223), (2, None, "Québec", None)]),
                    (2, None, "Sexe", True, []),
                ],
            )
        ],
        METADATA_SCHEMA,
    )
    assert df.schema == METADATA_SCHEMA
    assert df.collect() == expected.collect()
