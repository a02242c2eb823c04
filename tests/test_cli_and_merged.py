"""CLI argument-validation parity (reference arguments.py:48–74) and
the merged master/sibling flow end-to-end (reference main.py:128–142:
sibling reuses the master's indicators, skips presentation tables)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from geo_explorer_etl_spark.cli import parse_args
from tests.test_orchestration import CUBE_METADATA_RESPONSE, CSV_TEXT, PID


# ---------------------------------------------------------------------------
# arguments parity
# ---------------------------------------------------------------------------
def test_cli_valid_forms():
    a = parse_args(["--insert", "--prodid", "35100177"])
    assert a.insert and a.prodid == [35100177]
    a = parse_args(["--prodid", "35100177", "46100027"])
    assert not a.insert and len(a.prodid) == 2
    a = parse_args(["--start", "2024-01-01", "--end", "2024-01-05"])
    assert a.start and a.end
    a = parse_args(["--vacuum", "24"])
    assert a.vacuum == 24.0
    a = parse_args(["--compact"])
    assert a.compact
    a = parse_args(["--compact", "--vacuum", "24"])     # maintenance combo
    assert a.compact and a.vacuum == 24.0
    a = parse_args(["--prodid", "35100177", "--bucketed-mirror"])
    assert a.bucketed_mirror


@pytest.mark.parametrize(
    "argv",
    [
        ["--insert"],                                        # insert needs prodid
        ["--prodid", "35100177", "--start", "2024-01-01", "--end", "2024-01-02"],  # exclusive
        ["--start", "2024-01-01"],                           # range needs both
        ["--start", "2024-01-05", "--end", "2024-01-01"],    # ordered
        [],                                                  # nothing to do
        ["--prodid", "123"],                                 # not 8 digits
        ["--vacuum", "24", "--prodid", "35100177"],          # vacuum runs alone
        ["--compact", "--insert", "--prodid", "35100177"],   # compact runs alone
    ],
)
def test_cli_invalid_forms(argv):
    with pytest.raises(SystemExit):
        parse_args(argv)


# ---------------------------------------------------------------------------
# merged master/sibling end-to-end
# ---------------------------------------------------------------------------
SIBLING_PID = 35100299


def sibling_fetcher(url, payload=None):
    import copy

    if "getCubeMetadata" in url:
        body = copy.deepcopy(CUBE_METADATA_RESPONSE)
        # both products share shape; sibling has its own pid
        if payload and payload[0]["productId"] == SIBLING_PID:
            body[0]["object"]["productId"] = SIBLING_PID
        return body
    raise AssertionError(url)


@pytest.fixture()
def merged_env(spark, tmp_path):
    from geo_explorer_etl_spark.plans.pipeline import Pipeline
    from geo_explorer_etl_spark.sources.merge_registry import MergeRegistry
    from geo_explorer_etl_spark.sources.store import TableStore
    from geo_explorer_etl_spark.sources.wds import WdsClient

    csv = tmp_path / "cube.csv"
    csv.write_text(CSV_TEXT)
    geo_ref = spark.createDataFrame(
        [("2016A000011124", "Canada", "A0000", "P0"), ("2016A000235", "Ontario", "A0002", "P1")],
        "GeographyReferenceId string, DisplayNameShort_EN string, GeographicLevelId string, Shape string",
    )
    nr = spark.createDataFrame([(2, "x", "s")], "NullReasonId int, Symbol string, D string")
    uom = spark.createDataFrame([(229, "Number", "Nombre")], "memberUomCode int, memberUomEn string, memberUomFr string")
    subj = spark.createDataFrame([("35", "J", "J")], "subjectCode string, subjectEn string, subjectFr string")
    pipe = Pipeline(
        spark=spark,
        store=TableStore(spark, str(tmp_path / "wh")),
        wds=WdsClient(spark, fetcher=sibling_fetcher),
        registry=MergeRegistry(str(tmp_path / "m.json")),
        geo_ref=geo_ref,
        null_reason=nr,
        uom_codes=uom,
        subject_codes=subj,
    )
    return pipe, str(csv)


def test_merged_sibling_reuses_master_indicators(merged_env):
    pipe, csv = merged_env
    pipe.insert_product([PID, SIBLING_PID], csv_path_for=lambda p: csv)
    assert pipe.registry.is_master(PID)
    assert pipe.registry.is_sibling(SIBLING_PID)

    ind = pipe.store.read("Indicators")
    # only the master writes indicators
    pids = {r["IndicatorThemeId"] for r in ind.select("IndicatorThemeId").distinct().collect()}
    assert pids == {PID}

    # sibling's values link to the MASTER's indicator codes
    vals = pipe.store.read("IndicatorValues")
    from geo_explorer_etl_spark.sources.store import PARTITION_COL

    sib_vals = vals.filter(F.col(PARTITION_COL) == SIBLING_PID)
    assert sib_vals.count() > 0
    # the sibling's composite codes use the MASTER's pid, so every
    # sibling value joins a master indicator (reference helpers.py:39–45)
    master_codes = {r["IndicatorCode"] for r in ind.collect()}
    sib_codes = {r["IndicatorCode"] for r in sib_vals.collect()}
    assert sib_codes and sib_codes <= master_codes
    # and the sibling's geo-ref bridge rows carry master indicator ids
    grb = pipe.store.read("GeographyReferenceForIndicator").filter(
        F.col(PARTITION_COL) == SIBLING_PID
    )
    master_ids = {r["IndicatorId"] for r in ind.collect()}
    assert {r["IndicatorId"] for r in grb.collect()} <= master_ids
    assert grb.count() > 0
    assert pipe.registry.ordered([SIBLING_PID, PID]) == [PID, SIBLING_PID]

    # presentation tables exist only for the master
    meta = pipe.store.read("IndicatorMetaData")
    meta_pids = {r[PARTITION_COL] for r in meta.select(PARTITION_COL).distinct().collect()}
    assert meta_pids == {PID}


def test_sql_frontend_matches_dataframe_view(spark, tmp_path):
    """register_star_views + sql_primary_query produce the same rows
    as the DataFrame-API primary_query over the same warehouse."""
    from geo_explorer_etl_spark.plans import star_schema as SS
    from geo_explorer_etl_spark.plans.pipeline import Pipeline
    from geo_explorer_etl_spark.plans.sql_views import (
        register_star_views,
        sql_primary_query,
    )
    from geo_explorer_etl_spark.sources.merge_registry import MergeRegistry
    from geo_explorer_etl_spark.sources.store import TableStore
    from geo_explorer_etl_spark.sources.wds import WdsClient
    from tests.test_orchestration import CSV_TEXT, PID, canned_fetcher

    csv = tmp_path / "c.csv"
    csv.write_text(CSV_TEXT)
    geo_ref = spark.createDataFrame(
        [("2016A000011124", "Canada", "A0000", "P0"), ("2016A000235", "Ontario", "A0002", "P1")],
        "GeographyReferenceId string, DisplayNameShort_EN string, GeographicLevelId string, Shape string",
    )
    nr = spark.createDataFrame([(2, "x", "s")], "NullReasonId int, Symbol string, D string")
    uom = spark.createDataFrame([(229, "N", "N")], "memberUomCode int, memberUomEn string, memberUomFr string")
    subj = spark.createDataFrame([("35", "J", "J")], "subjectCode string, subjectEn string, subjectFr string")
    pipe = Pipeline(
        spark, TableStore(spark, str(tmp_path / "wh")), WdsClient(spark, fetcher=canned_fetcher),
        MergeRegistry(str(tmp_path / "m.json")), geo_ref, nr, uom, subj,
    )
    pipe.insert_product([PID], csv_path_for=lambda p: str(csv))

    registered = register_star_views(spark, pipe.store)
    assert "IndicatorValues" in registered
    geo_ref.createOrReplaceTempView("GeographyReference")
    nr.selectExpr("NullReasonId", "Symbol").createOrReplaceTempView("IndicatorNullReason")
    spark.createDataFrame(
        [("A0000", "Country"), ("A0002", "Prov"), ("SSSS", "Web")],
        "GeographicLevelId string, LevelName_EN string",
    ).createOrReplaceTempView("GeographicLevel")

    sql_rows = {
        (r["GeographyReferenceId"], r["FormattedValue"])
        for r in sql_primary_query(spark, 1).collect()
    }
    df_rows = {
        (r["GeographyReferenceId"], r["FormattedValue"])
        for r in SS.primary_query(
            1, geo_ref, pipe.store.read("GeographyReferenceForIndicator"),
            spark.table("GeographicLevel"),
            pipe.store.read("GeographicLevelForIndicator"),
            pipe.store.read("IndicatorValues"), pipe.store.read("Indicators"), nr,
        ).collect()
    }
    assert sql_rows == df_rows and len(sql_rows) > 0

    # RelatedCharts.Query SQL twin vs the DataFrame view
    from geo_explorer_etl_spark.plans.sql_views import sql_related_charts_query

    rc = pipe.store.read("RelatedCharts")
    sql_rc = {
        (r["IndicatorId"], r["FormattedValue"])
        for r in sql_related_charts_query(spark, 1, "2016A000011124").collect()
    }
    df_rc = {
        (r["IndicatorId"], r["FormattedValue"])
        for r in SS.related_charts_query(
            1, rc, pipe.store.read("IndicatorValues"),
            pipe.store.read("GeographyReferenceForIndicator"),
            pipe.store.read("Indicators"), nr, dguid="2016A000011124",
        ).collect()
    }
    assert sql_rc == df_rc and len(sql_rc) > 0


def test_cli_fsck_and_multi_sort_flags():
    """--fsck [--repair] parse as standalone ops; --compact-sort takes
    one column (range sort) or several (Z-order); --repair requires
    --fsck."""
    import pytest

    from geo_explorer_etl_spark.cli import parse_args

    a = parse_args(["--fsck"])
    assert a.fsck and not a.repair
    a = parse_args(["--fsck", "--repair"])
    assert a.fsck and a.repair
    a = parse_args(["--compact", "--compact-sort", "RefDate", "GeographicLevelId"])
    assert a.compact_sort == ["RefDate", "GeographicLevelId"]
    with pytest.raises(SystemExit):
        parse_args(["--repair"])
    with pytest.raises(SystemExit):
        parse_args(["--fsck", "--prodid", "35100177"])


def test_cli_prune_history_flag():
    import pytest

    from geo_explorer_etl_spark.cli import parse_args

    a = parse_args(["--vacuum", "24", "--prune-history"])
    assert a.vacuum == 24.0 and a.prune_history
    with pytest.raises(SystemExit):
        parse_args(["--prune-history"])


def test_cli_maintenance_ops_end_to_end(spark, tmp_path, capsys):
    """main() wiring for the standalone maintenance ops: --fsck audits
    (clean store prints 'fsck: clean'), --fsck --repair runs, and
    --vacuum --prune-history truncates the journal — all against a
    real store root, no WDS/network involved."""
    from geo_explorer_etl_spark import cli
    from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

    root = str(tmp_path / "wh")
    store = TableStore(spark, root)
    df = spark.createDataFrame([(1, "a")], "id long, v string").withColumn(
        PARTITION_COL, F.lit(11110001).cast("long")
    )
    store.replace_product_all(11110001, {"IndicatorValues": df})
    store.merge_rows("IndicatorValues", df, ["id"])

    assert cli.main(["--fsck", "--warehouse", root]) == 0
    out = capsys.readouterr().out
    assert "superseded" in out or "fsck: clean" in out

    assert cli.main(["--fsck", "--repair", "--warehouse", root]) == 0
    assert (
        cli.main(["--vacuum", "0", "--prune-history", "--warehouse", root]) == 0
    )
    assert "vacuum: removed" in capsys.readouterr().out
    assert len(store.history("IndicatorValues")) == 1
    assert cli.main(["--fsck", "--warehouse", root]) == 0
    assert "fsck: clean" in capsys.readouterr().out
