"""End-to-end orchestration tests (E1/E2/E3): canned WDS transport,
real CSV file, parquet TableStore in tmpdir. Asserts the reference's
lifecycle semantics: insert guards, replace idempotence (I2), date
growth (I3), merged-product ordering, changed-list refresh (I1)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from geo_explorer_etl_spark.plans.pipeline import Pipeline
from geo_explorer_etl_spark.sources.merge_registry import MergeRegistry
from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore
from geo_explorer_etl_spark.sources.wds import WdsClient

PID = 35100177  # mixed-geo justice pid → exercises the policy paths

CUBE_METADATA_RESPONSE = [
    {
        "status": "SUCCESS",
        "object": {
            "productId": PID,
            "cubeTitleEn": "Police personnel",
            "cubeTitleFr": "Personnel policier",
            "cubeStartDate": "2018-01-01",
            "cubeEndDate": "2019-01-01",
            "frequencyCode": 12,
            "releaseTime": "2020-01-01T08:30",
            "subjectCode": ["35"],
            "dimension": [
                {
                    "dimensionPositionId": 1,
                    "dimensionNameEn": "Geography",
                    "dimensionNameFr": "Géographie",
                    "hasUom": False,
                    "member": [{"memberId": 1, "memberNameEn": "Canada", "memberNameFr": "Canada"}],
                },
                {
                    "dimensionPositionId": 2,
                    "dimensionNameEn": "Sector",
                    "dimensionNameFr": "Secteur",
                    "hasUom": True,
                    "member": [
                        {"memberId": 1, "memberNameEn": "Public", "memberNameFr": "Public", "memberUomCode": 229},
                        {"memberId": 2, "memberNameEn": "Private", "memberNameFr": "Privé", "memberUomCode": 229},
                    ],
                },
            ],
        },
    }
]

CSV_TEXT = """REF_DATE,DGUID,UOM,UOM_ID,VECTOR,COORDINATE,STATUS,SYMBOL,VALUE,Geography,Sector
2018,2016A000011124,Number,229,v1,1.1,,,10.5,Canada,Public
2018,2016A000011124,Number,229,v2,1.2,,,20.0,Canada,Private
2019,2016A000011124,Number,229,v3,1.1,x,,,Canada,Public
2019,2016A000235,Number,229,v4,1.2,,,40.25,Ontario,Private
"""


def canned_fetcher(url, payload=None):
    if "getCubeMetadata" in url:
        return CUBE_METADATA_RESPONSE
    if "getChangedCubeList" in url:
        return {"status": "SUCCESS", "object": [{"productId": PID}, {"productId": 99999999}]}
    raise AssertionError(f"unexpected url {url}")


@pytest.fixture()
def env(spark, tmp_path):
    csv = tmp_path / "cube.csv"
    csv.write_text(CSV_TEXT)
    geo_ref = spark.createDataFrame(
        [("2016A000011124", "Canada", "A0000", "POLY0"), ("2016A000235", "Ontario", "A0002", "POLY1")],
        "GeographyReferenceId string, DisplayNameShort_EN string, GeographicLevelId string, Shape string",
    )
    null_reason = spark.createDataFrame(
        [(1, "..", "na"), (2, "x", "suppressed")],
        "NullReasonId int, Symbol string, Description_EN string",
    )
    uom = spark.createDataFrame([(229, "Number", "Nombre")], "memberUomCode int, memberUomEn string, memberUomFr string")
    subjects = spark.createDataFrame([("35", "Justice", "Justice")], "subjectCode string, subjectEn string, subjectFr string")
    pipe = Pipeline(
        spark=spark,
        store=TableStore(spark, str(tmp_path / "warehouse")),
        wds=WdsClient(spark, fetcher=canned_fetcher),
        registry=MergeRegistry(str(tmp_path / "merged.json")),
        geo_ref=geo_ref,
        null_reason=null_reason,
        uom_codes=uom,
        subject_codes=subjects,
    )
    return pipe, str(csv)


@pytest.mark.slow
def test_insert_then_counts(env):
    pipe, csv = env
    pipe.insert_product([PID], csv_path_for=lambda pid: csv)
    store = pipe.store
    # dimensional tables: Date + Sector dims; 2 sector members
    dims = store.read("Dimensions")
    assert {r["Dimension_EN"] for r in dims.collect()} == {"Date", "Sector"}
    dvals = store.read("DimensionValues")
    # 2 sector members + 2 grown date values (2018, 2019)
    assert dvals.count() == 4
    # indicators: 2 members × 2 annual dates
    ind = store.read("Indicators")
    assert ind.count() == 4
    vals = store.read("IndicatorValues")
    assert vals.count() == 4
    assert vals.filter(F.col("Value").isNull()).count() == 1
    # cross-table linkage: the bridge was written as a SEPARATE job
    # re-running the values lineage — with keyed (deterministic) fact
    # ids its IndicatorValueIds must still be exactly the fact table's
    # (the divergence monotonically_increasing_id allowed)
    fact_ids = {r["IndicatorValueId"] for r in vals.collect()}
    bridge_ids = {
        r["IndicatorValueId"]
        for r in store.read("GeographyReferenceForIndicator").collect()
    }
    assert bridge_ids == fact_ids
    assert len(fact_ids) == 4                   # keyed ids are unique
    # presentation
    assert store.read("IndicatorMetaData").count() == 4
    assert store.read("RelatedCharts").count() == 4


def test_insert_guard_and_replace_idempotence(env):
    pipe, csv = env
    pipe.insert_product([PID], csv_path_for=lambda pid: csv)
    with pytest.raises(ValueError, match="already exists"):
        pipe.insert_product([PID], csv_path_for=lambda pid: csv)
    before = {
        t: pipe.store.read(t).count()
        for t in ("Indicators", "IndicatorValues", "GeographyReferenceForIndicator",
                  "GeographicLevelForIndicator", "DimensionValues")
    }
    # chart config edited in place: the re-append reuses it (J10) by
    # reading the very partitions its transaction replaces
    code = min(r["IndicatorCode"] for r in pipe.store.read("IndicatorMetaData").collect())
    assert pipe.store.update_where(
        "IndicatorMetaData", {"ColorTo": "'#010203'"}, [("IndicatorCode", "==", code)]
    ) == 1
    assert pipe.store.update_where(
        "RelatedCharts", {"ChartTypeId": "7"}, [("IndicatorCode", "==", code)]
    ) == 1
    # re-append = full product replace → identical table sizes (I2)
    pipe.append_product(PID, csv)
    after = {t: pipe.store.read(t).count() for t in before}
    assert after == before
    # values content identical too
    v = pipe.store.read("IndicatorValues").select("IndicatorValueCode", "Value")
    assert v.distinct().count() == v.count() == 4
    # both edits survived the replace of the partitions they live in
    meta = {r["IndicatorCode"]: r["ColorTo"] for r in pipe.store.read("IndicatorMetaData").collect()}
    charts = {r["IndicatorCode"]: r["ChartTypeId"] for r in pipe.store.read("RelatedCharts").collect()}
    assert len(meta) == len(charts) == 4
    assert meta[code] == "#010203" and charts[code] == 7
    assert {c for c, color in meta.items() if color == "#010203"} == {code}
    assert {c for c, chart in charts.items() if chart == 7} == {code}


def _multi_product_env(spark, tmp_path, geos=10, sectors=10, years=(2018, 2019, 2020)):
    """A warehouse for several products of one shape: ``geos`` ×
    ``sectors`` × ``years`` value rows each, every product (master,
    sibling or independent) loading the same CSV."""
    import copy

    provinces = [10, 11, 12, 13, 24, 35, 46, 47, 48, 59, 60, 61, 62]
    dguids = [f"2016A0002{p}" for p in provinces[:geos]]
    meta = copy.deepcopy(CUBE_METADATA_RESPONSE)
    obj = meta[0]["object"]
    obj["cubeStartDate"], obj["cubeEndDate"] = f"{years[0]}-01-01", f"{years[-1]}-01-01"
    obj["subjectCode"] = ["14"]
    obj["dimension"][0]["member"] = [
        {"memberId": g, "memberNameEn": d, "memberNameFr": d} for g, d in enumerate(dguids, 1)
    ]
    obj["dimension"][1]["member"] = [
        {"memberId": s, "memberNameEn": f"S{s}", "memberNameFr": f"S{s}", "memberUomCode": 229}
        for s in range(1, sectors + 1)
    ]

    def fetcher(url, payload=None):
        if "getCubeMetadata" in url:
            body = copy.deepcopy(meta)
            body[0]["object"]["productId"] = payload[0]["productId"]
            return body
        raise AssertionError(url)

    lines = ["REF_DATE,DGUID,UOM,UOM_ID,VECTOR,COORDINATE,STATUS,SYMBOL,VALUE,Geography,Sector"]
    for y in years:
        for g, d in enumerate(dguids, 1):
            for s in range(1, sectors + 1):
                lines.append(f"{y},{d},Number,229,v{s},{g}.{s},,,{y + g * s}.5,{d},S{s}")
    csv = tmp_path / "cube.csv"
    csv.write_text("\n".join(lines) + "\n")
    pipe = Pipeline(
        spark=spark,
        store=TableStore(spark, str(tmp_path / "warehouse")),
        wds=WdsClient(spark, fetcher=fetcher),
        registry=MergeRegistry(str(tmp_path / "merged.json")),
        geo_ref=spark.createDataFrame(
            [(d, d, "A0002", "POLY") for d in dguids],
            "GeographyReferenceId string, DisplayNameShort_EN string, GeographicLevelId string, Shape string",
        ),
        null_reason=spark.createDataFrame([(2, "x", "s")], "NullReasonId int, Symbol string, D string"),
        uom_codes=spark.createDataFrame(
            [(229, "Number", "Nombre")], "memberUomCode int, memberUomEn string, memberUomFr string"
        ),
        subject_codes=spark.createDataFrame(
            [("14", "Labour", "Travail")], "subjectCode string, subjectEn string, subjectFr string"
        ),
    )
    return pipe, str(csv), geos * sectors * len(years)


def test_fact_ids_unique_across_products_and_merged_pair(spark, tmp_path):
    """Several products share IndicatorValues: an independent product,
    then a master/sibling pair whose value codes are identical (the
    sibling's codes carry the master's pid). Every insert succeeds, fact
    ids are unique across products, and the geo-ref bridge links
    exactly the fact ids."""
    pipe, csv, per_product = _multi_product_env(spark, tmp_path)
    single, master, sibling = 14100001, 14100002, 14100003
    pipe.insert_product([single], csv_path_for=lambda pid: csv)
    pipe.insert_product([master, sibling], csv_path_for=lambda pid: csv)

    vals = pipe.store.read("IndicatorValues").select(PARTITION_COL, "IndicatorValueCode", "IndicatorValueId")
    rows = vals.collect()
    by_pid: dict[int, int] = {}
    for r in rows:
        by_pid[r[PARTITION_COL]] = by_pid.get(r[PARTITION_COL], 0) + 1
    assert by_pid == {single: per_product, master: per_product, sibling: per_product}
    fact_ids = [r["IndicatorValueId"] for r in rows]
    assert len(set(fact_ids)) == len(fact_ids)
    # master and sibling rows share every value code, never an id
    codes = {pid: {r["IndicatorValueCode"] for r in rows if r[PARTITION_COL] == pid} for pid in by_pid}
    assert codes[master] == codes[sibling]
    bridge_ids = [
        r["IndicatorValueId"]
        for r in pipe.store.read("GeographyReferenceForIndicator").select("IndicatorValueId").collect()
    ]
    assert len(set(bridge_ids)) == len(bridge_ids)
    assert set(bridge_ids) == set(fact_ids)


@pytest.mark.slow
def test_delete_product(env):
    pipe, csv = env
    pipe.insert_product([PID], csv_path_for=lambda pid: csv)
    pipe.store.delete_product(PID)
    assert not pipe.store.product_exists(PID)
    iv = pipe.store.read("IndicatorValues")
    assert iv is None or iv.count() == 0


@pytest.mark.slow
def test_pipeline_bucketed_mirror_join_has_no_shuffle(env, spark):
    """E2 with the opt-in bucketed mirror: the values⋈bridge join over
    the mirror tables (PrimaryQuery's spine) runs end-to-end with ZERO
    Exchange — the 100 TB fact-to-fact pattern, now wired through the
    pipeline rather than only the standalone BucketedStore test."""
    from geo_explorer_etl_spark.sources.store import BucketedStore

    pipe, csv = env
    for t in ("IndicatorValuesBucketed", "GeographyReferenceForIndicatorBucketed"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    pipe.bucketed = BucketedStore(spark, n_buckets=4)
    pipe.insert_product([PID], csv_path_for=lambda pid: csv)

    iv = spark.table("IndicatorValuesBucketed")
    grb = spark.table("GeographyReferenceForIndicatorBucketed")
    # mirror contents match the source-of-truth store
    assert iv.count() == pipe.store.read("IndicatorValues").count()
    assert grb.count() == pipe.store.read("GeographyReferenceForIndicator").count()

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = iv.join(grb, "IndicatorValueId").select(
            "IndicatorValueCode", "GeographyReferenceId", "Value"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert joined.count() == 4
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # product re-append replaces the mirror partition, not append-dupes
    pipe.append_product(PID, csv)
    assert spark.table("IndicatorValuesBucketed").count() == 4


@pytest.mark.slow
def test_refresh_date_range_filters_unknown_and_merged(env):
    pipe, csv = env
    pipe.insert_product([PID], csv_path_for=lambda pid: csv)
    ran = pipe.refresh_date_range("2020-01-01", "2020-01-02", csv_path_for=lambda pid: csv)
    assert ran == [PID]  # 99999999 unknown → dropped
    # merged members are skipped with a warning
    pipe.registry.register(PID, [11111111])
    ran2 = pipe.refresh_date_range("2020-01-01", "2020-01-01", csv_path_for=lambda pid: csv)
    assert ran2 == []


@pytest.mark.slow
def test_store_backed_primary_query_serving(env, spark):
    """serve_primary_query (the §2.14 web read driven off the store
    with zone-map + dynamic file pruning) must return exactly what
    primary_query returns over full-table reads — before AND after a
    key-clustering compaction rewrites the layout."""
    from geo_explorer_etl_spark.plans import star_schema as SS

    pipe, csv = env
    pipe.insert_product([PID], csv_path_for=lambda pid: csv)
    store = pipe.store
    geo_level = spark.createDataFrame(
        [("A0000", "Country", "Pays"), ("A0002", "Province", "Province")],
        "GeographicLevelId string, LevelName_EN string, LevelName_FR string",
    )

    def full(ind_id):
        return SS.primary_query(
            ind_id,
            pipe.geo_ref,
            store.read("GeographyReferenceForIndicator"),
            geo_level,
            store.read("GeographicLevelForIndicator"),
            store.read("IndicatorValues"),
            store.read("Indicators"),
            pipe.null_reason,
        )

    def served(ind_id):
        return SS.serve_primary_query(
            store, ind_id, PID, pipe.geo_ref, geo_level, pipe.null_reason
        )

    ind_ids = [r["IndicatorId"] for r in store.read("Indicators").collect()]
    assert ind_ids
    for ind_id in ind_ids[:2]:
        assert sorted(map(tuple, served(ind_id).collect())) == sorted(
            map(tuple, full(ind_id).collect())
        )

    # key-clustering compaction (OPTIMIZE ZORDER-lite on the serving
    # keys) must leave the served results identical
    store.compact("GeographyReferenceForIndicator", sort_by="IndicatorId")
    store.compact("IndicatorValues", sort_by="IndicatorValueId")
    for ind_id in ind_ids[:2]:
        assert sorted(map(tuple, served(ind_id).collect())) == sorted(
            map(tuple, full(ind_id).collect())
        )
