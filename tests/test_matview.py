"""Incrementally-maintained materialized aggregates
(operators/matview.py): refresh-over-change-feed equals a full
re-aggregation through every DML shape, crash re-apply converges, the
registry claim serializes refreshers, and a refresh commits only the
store partitions holding touched groups."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from geo_explorer_etl_spark.operators import matview as MV
from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

BASE = "MvBase"
AGGS = {
    "n": ("count", None),
    "n_v": ("count", "v"),
    "sum_v": ("sum", "v"),
    "avg_v": ("avg", "v"),
    "min_v": ("min", "v"),
    "max_v": ("max", "v"),
}
ADDITIVE_AGGS = {k: v for k, v in AGGS.items() if v[0] not in ("min", "max")}


def _rows_df(spark, rows):
    """(id, grp, v) rows — v nullable; everything lands in product 1
    unless the row carries its own pid."""
    df = spark.createDataFrame(rows, "id LONG, grp STRING, v LONG")
    return df.withColumn(PARTITION_COL, F.lit(1).cast("long"))


def _store(spark, tmp_path):
    return TableStore(spark, str(tmp_path / "wh"))


def _seed(spark, tmp_path):
    store = _store(spark, tmp_path)
    store.append(
        BASE,
        _rows_df(
            spark,
            [
                (1, "a", 10),
                (2, "a", 3),
                (3, "a", None),
                (4, "b", 7),
                (5, "b", 7),
                (6, "c", None),  # all-null group: SUM/AVG/MIN/MAX NULL
                (7, "d", 100),
            ],
        ),
    )
    store.adopt_manifests(BASE)  # matviews need a manifest-covered base
    return store


def _expected(store, group_cols=("grp",)):
    """The ground truth: a fresh GROUP BY over the base's CURRENT
    snapshot, exactly what the view must equal after refresh."""
    base = store.read(BASE)
    if base is None:
        return []
    rows = (
        base.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("v").alias("n_v"),
            F.sum("v").alias("sum_v"),
            F.avg("v").alias("avg_v"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
        )
        .collect()
    )
    return sorted(tuple(r) for r in rows)


def _view(store, name="mv", aggs=AGGS):
    df = MV.read_matview(store, name)
    if df is None:
        return []
    return sorted(tuple(r) for r in df.select("grp", *aggs).collect())


def test_create_equals_groupby(spark, tmp_path):
    store = _seed(spark, tmp_path)
    rep = MV.create_matview(store, "mv", BASE, ["grp"], AGGS, n_partitions=4)
    assert rep["groups"] == 4
    assert _view(store) == _expected(store)
    # all-null group surfaces SQL NULL aggregates, count(*) still 1
    c = {r[0]: r for r in _view(store)}
    assert c["c"][1:] == (1, 0, None, None, None, None)


def test_refresh_after_append(spark, tmp_path):
    store = _seed(spark, tmp_path)
    MV.create_matview(store, "mv", BASE, ["grp"], AGGS, n_partitions=4)
    store.append(
        BASE,
        _rows_df(spark, [(8, "a", 1), (9, "e", 5), (10, "c", 4)]),
    )
    rep = MV.refresh_matview(store, "mv")
    assert not rep["noop"]
    assert rep["groups_touched"] == 3
    # appends never trigger the min/max base recompute
    assert rep["groups_recomputed"] == 0
    assert _view(store) == _expected(store)
    # second refresh with nothing new is a registry-only no-op
    assert MV.refresh_matview(store, "mv")["noop"] is True


def test_refresh_after_delete_and_update(spark, tmp_path):
    store = _seed(spark, tmp_path)
    MV.create_matview(store, "mv", BASE, ["grp"], AGGS, n_partitions=4)
    # delete the current max of 'a' and update the min of 'b': both
    # group extremes move DOWNWARD/UPWARD only via base recompute
    store.delete_where(BASE, [("id", "==", 1)])
    store.update_where(BASE, {"v": F.lit(99)}, [("id", "==", 4)])
    rep = MV.refresh_matview(store, "mv")
    assert rep["groups_recomputed"] == 2  # both saw deletes (update = del+ins)
    assert _view(store) == _expected(store)


@pytest.mark.slow
def test_group_death_and_rebirth(spark, tmp_path):
    store = _seed(spark, tmp_path)
    MV.create_matview(store, "mv", BASE, ["grp"], AGGS, n_partitions=4)
    store.delete_where(BASE, [("grp", "==", "d")])
    MV.refresh_matview(store, "mv")
    assert [r[0] for r in _view(store)] == ["a", "b", "c"]
    store.append(BASE, _rows_df(spark, [(20, "d", 55)]))
    MV.refresh_matview(store, "mv")
    got = {r[0]: r for r in _view(store)}
    assert got["d"][1:] == (1, 1, 55, 55.0, 55, 55)
    assert _view(store) == _expected(store)


@pytest.mark.slow
def test_sum_null_transitions_additive(spark, tmp_path):
    """A sum/avg-only view exercises the INVERTIBLE delete path (no
    min/max → never touches the base table): the hidden non-null count
    drives the NULL↔value transitions exactly."""
    store = _seed(spark, tmp_path)
    MV.create_matview(store, "mv", BASE, ["grp"], ADDITIVE_AGGS, n_partitions=4)
    store.append(BASE, _rows_df(spark, [(30, "c", 6)]))
    MV.refresh_matview(store, "mv")
    got = {r[0]: r for r in _view(store, aggs=ADDITIVE_AGGS)}
    assert got["c"][1:] == (2, 1, 6, 6.0)
    store.delete_where(BASE, [("id", "==", 30)])
    rep = MV.refresh_matview(store, "mv")
    assert rep["groups_recomputed"] == 0  # invertible even under delete
    got = {r[0]: r for r in _view(store, aggs=ADDITIVE_AGGS)}
    assert got["c"][1:] == (1, 0, None, None)


def test_crash_reapply_converges(spark, tmp_path):
    """Apply a claimed window WITHOUT advancing the high-water (the
    crash point), then refresh: recovery re-applies the SAME window
    and the view still equals the ground truth — per-group ``_mv_hw``
    skips make the re-apply idempotent."""
    store = _seed(spark, tmp_path)
    MV.create_matview(store, "mv", BASE, ["grp"], AGGS, n_partitions=4)
    store.delete_where(BASE, [("id", "==", 1)])
    store.append(BASE, _rows_df(spark, [(40, "e", 4), (41, "a", 2)]))
    ent = MV.list_matviews(store)["mv"]
    hw_new = MV._last_commit(store, BASE)
    ent = MV._claim_pending(store, "mv", float(ent["hw"]), float(hw_new))
    MV._apply_window(store, "mv", ent, float(ent["hw"]), float(hw_new))
    # crash here: hw not advanced, pending still recorded
    reg = MV.list_matviews(store)["mv"]
    assert reg["pending"] == pytest.approx(hw_new)
    rep = MV.refresh_matview(store, "mv")  # recovery completes the window
    assert rep["windows"] and rep["windows"][0]["window"][1] == pytest.approx(hw_new)
    assert MV.list_matviews(store)["mv"]["pending"] is None
    assert _view(store) == _expected(store)


@pytest.mark.slow
def test_stale_window_reapply_touches_nothing(spark, tmp_path):
    """The _mv_hw fence on BOTH branches: re-applying an OLD window
    after newer windows landed is a complete no-op — additive groups
    skip on the stored watermark, and min/max recompute groups skip
    the same way (a stale recovering refresher can't regress a group
    a newer window updated)."""
    store = _seed(spark, tmp_path)
    MV.create_matview(store, "mv", BASE, ["grp"], AGGS, n_partitions=4)
    hw0 = MV.list_matviews(store)["mv"]["hw"]
    # window 1: a delete (recompute branch) + an append (additive)
    store.delete_where(BASE, [("id", "==", 1)])
    store.append(BASE, _rows_df(spark, [(80, "e", 4)]))
    MV.refresh_matview(store, "mv")
    hw1 = MV.list_matviews(store)["mv"]["hw"]
    # window 2: move the SAME groups again
    store.append(BASE, _rows_df(spark, [(81, "a", 1), (82, "e", 9)]))
    store.delete_where(BASE, [("id", "==", 2)])
    MV.refresh_matview(store, "mv")
    want = _view(store)
    assert want == _expected(store)
    # stale re-apply of window 1 (hw0 -> hw1): every group already
    # carries _mv_hw >= hw1 — nothing may move
    ent = MV.list_matviews(store)["mv"]
    w = MV._apply_window(store, "mv", ent, float(hw0), float(hw1))
    assert w["groups_touched"] > 0  # the window itself is non-empty
    m = w.get("merge", {})
    assert sum(m.values()) == 0 if m else True
    assert _view(store) == want


def test_refresh_claim_is_exclusive(spark, tmp_path):
    store = _seed(spark, tmp_path)
    MV.create_matview(store, "mv", BASE, ["grp"], AGGS)
    store.append(BASE, _rows_df(spark, [(50, "a", 1)]))
    ent = MV.list_matviews(store)["mv"]
    hw_new = MV._last_commit(store, BASE)
    MV._claim_pending(store, "mv", float(ent["hw"]), float(hw_new))
    with pytest.raises(RuntimeError, match="lost the refresh claim"):
        MV._claim_pending(store, "mv", float(ent["hw"]), float(hw_new))


def test_null_group_key_refused(spark, tmp_path):
    store = _store(spark, tmp_path)
    store.append(BASE, _rows_df(spark, [(1, None, 5), (2, "a", 1)]))
    store.adopt_manifests(BASE)
    with pytest.raises(ValueError, match="NULL in group column"):
        MV.create_matview(store, "mv", BASE, ["grp"], AGGS)
    store2 = _seed(spark, tmp_path / "ok")
    MV.create_matview(store2, "mv", BASE, ["grp"], AGGS)
    store2.append(BASE, _rows_df(spark, [(60, None, 5)]))
    with pytest.raises(ValueError, match="NULL in group column"):
        MV.refresh_matview(store2, "mv")


def test_refresh_commits_only_touched_partitions(spark, tmp_path):
    """The 100 TB shape: a one-group delta merges into ONE of the
    view's store partitions — the untouched partitions' manifests
    don't move."""
    store = _seed(spark, tmp_path)
    MV.create_matview(store, "mv", BASE, ["grp"], AGGS, n_partitions=4)
    t = MV.mv_table("mv")

    def versions():
        out = {}
        for h in store.history(t):
            cur = out.setdefault(h["partition"], h["version"])
            out[h["partition"]] = max(cur, h["version"])
        return out

    before = versions()
    store.append(BASE, _rows_df(spark, [(70, "a", 8)]))
    MV.refresh_matview(store, "mv")
    after = versions()
    moved = [p for p in after if after[p] != before.get(p)]
    assert len(moved) == 1
    assert _view(store) == _expected(store)


@pytest.mark.slow
def test_approx_distinct_sketch_maintenance(spark, tmp_path):
    """approx_distinct stores the HLL sketch beside the estimate:
    insert windows UNION sketches (no base scan), deletes route
    through the absolute recompute — at test cardinalities the
    datasketches estimate is exact, so the view must equal
    COUNT(DISTINCT v) through every transition."""
    store = _seed(spark, tmp_path)
    aggs = {"nd_v": ("approx_distinct", "v"), "n": ("count", None)}
    MV.create_matview(store, "mv", BASE, ["grp"], aggs, n_partitions=4)

    def expected():
        return sorted(
            tuple(r)
            for r in store.read(BASE)
            .groupBy("grp")
            .agg(
                F.count_distinct("v").alias("nd_v"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )

    assert _view(store, aggs=aggs) == expected()  # incl. all-null 'c' -> 0
    # insert-only window: repeated values + one new distinct per group
    store.append(
        BASE,
        _rows_df(spark, [(90, "a", 10), (91, "a", 77), (92, "c", 5)]),
    )
    rep = MV.refresh_matview(store, "mv")
    assert rep["groups_recomputed"] == 0  # sketch union, no base scan
    assert _view(store, aggs=aggs) == expected()
    # delete: sketches don't retract -> absolute recompute
    store.delete_where(BASE, [("id", "==", 91)])
    rep = MV.refresh_matview(store, "mv")
    assert rep["groups_recomputed"] == 1
    assert _view(store, aggs=aggs) == expected()


@pytest.mark.slow
def test_cascaded_matview(spark, tmp_path):
    """A matview is itself a manifest-controlled store table with a
    change feed — a second-level rollup over it refreshes through the
    same machinery (the continuous-aggregate hierarchy: base →
    per-(region, grp) → per-region)."""
    store = _store(spark, tmp_path)
    rows = [
        (1, "east", "a", 10),
        (2, "east", "a", 3),
        (3, "east", "b", 7),
        (4, "west", "a", 5),
        (5, "west", "c", 2),
    ]
    df = spark.createDataFrame(
        rows, "id LONG, region STRING, grp STRING, v LONG"
    ).withColumn(PARTITION_COL, F.lit(1).cast("long"))
    store.append(BASE, df)
    store.adopt_manifests(BASE)
    MV.create_matview(
        store, "lvl1", BASE, ["region", "grp"],
        {"sum_v": ("sum", "v"), "n": ("count", None)}, n_partitions=4,
    )
    MV.create_matview(
        store, "a_top", MV.mv_table("lvl1"), ["region"],
        {"total": ("sum", "sum_v"), "groups": ("count", None)}, n_partitions=2,
    )
    delta = spark.createDataFrame(
        [(6, "west", "c", 20), (7, "north", "x", 1)],
        "id LONG, region STRING, grp STRING, v LONG",
    ).withColumn(PARTITION_COL, F.lit(1).cast("long"))
    store.append(BASE, delta)
    store.delete_where(BASE, [("id", "==", 3)])  # kills east/b -> lvl1 delete
    MV.refresh_matview(store, "lvl1")
    MV.refresh_matview(store, "a_top")
    got = sorted(tuple(r) for r in MV.read_matview(store, "a_top").collect())
    want = sorted(
        tuple(r)
        for r in store.read(BASE)
        .groupBy("region")
        .agg(
            F.sum("v").alias("total"),
            F.count_distinct("grp").alias("groups"),
        )
        .collect()
    )
    assert got == want
    # refresh_all advances the whole hierarchy in dependency order:
    # lvl1 (registered later alphabetically-irrelevant) before lvl2
    store.append(
        BASE,
        spark.createDataFrame(
            [(8, "east", "a", 2)], "id LONG, region STRING, grp STRING, v LONG"
        ).withColumn(PARTITION_COL, F.lit(1).cast("long")),
    )
    reports = MV.refresh_all_matviews(store)
    # "a_top" sorts before "lvl1": only the dependency visit
    # can put the parent first
    assert list(reports) == ["lvl1", "a_top"]
    got = sorted(tuple(r) for r in MV.read_matview(store, "a_top").collect())
    want = sorted(
        tuple(r)
        for r in store.read(BASE)
        .groupBy("region")
        .agg(
            F.sum("v").alias("total"),
            F.count_distinct("grp").alias("groups"),
        )
        .collect()
    )
    assert got == want


def test_registry_lifecycle(spark, tmp_path):
    store = _seed(spark, tmp_path)
    MV.create_matview(store, "mv", BASE, ["grp"], AGGS)
    with pytest.raises(ValueError, match="exists"):
        MV.create_matview(store, "mv", BASE, ["grp"], AGGS)
    MV.create_matview(store, "mv", BASE, ["grp"], ADDITIVE_AGGS, replace=True)
    assert set(MV.list_matviews(store)["mv"]["aggs"]) == set(ADDITIVE_AGGS)
    MV.drop_matview(store, "mv")
    assert MV.list_matviews(store) == {}
    assert not store.exists(MV.mv_table("mv"))
    with pytest.raises(KeyError):
        MV.read_matview(store, "mv")


@pytest.mark.slow
def test_interior_delete_stays_invertible(spark, tmp_path):
    """The recompute classifier is per-agg, not per-delete: a delete
    strictly INSIDE the stored (min, max) — the scattered-update
    common case — and a delete of a NULL value both stay on the
    invertible path (no base scan); only a delete at the stored
    extreme re-aggregates."""
    store = _store(spark, tmp_path)
    store.append(
        BASE,
        _rows_df(spark, [(1, "a", 1), (2, "a", 5), (3, "a", 9), (4, "a", None)]),
    )
    store.adopt_manifests(BASE)
    MV.create_matview(store, "mv", BASE, ["grp"], AGGS, n_partitions=2)
    store.delete_where(BASE, [("id", "==", 2)])  # v=5: interior
    rep = MV.refresh_matview(store, "mv")
    assert rep["groups_recomputed"] == 0
    assert _view(store) == _expected(store)
    store.delete_where(BASE, [("id", "==", 4)])  # v=NULL: never triggers
    rep = MV.refresh_matview(store, "mv")
    assert rep["groups_recomputed"] == 0
    assert _view(store) == _expected(store)
    store.delete_where(BASE, [("id", "==", 3)])  # v=9: the stored max
    rep = MV.refresh_matview(store, "mv")
    assert rep["groups_recomputed"] == 1
    assert _view(store) == _expected(store)


def test_randomized_refresh_differential(spark, tmp_path):
    """Seeded randomized differential (the merge_apply rule): random
    append/delete/update DML over the base, a refresh after every
    round, and the view must equal a fresh GROUP BY of the base's
    current snapshot every single time — across group births, deaths,
    extreme movements, and all-null windows. Fixed seed, deterministic
    gate."""
    import random

    rng = random.Random(23)
    store = _store(spark, tmp_path)
    groups = ["a", "b", "c", "d", "e"]
    rows = [
        (i, rng.choice(groups), rng.choice([None] + list(range(0, 50))))
        for i in range(40)
    ]
    store.append(BASE, _rows_df(spark, rows))
    store.adopt_manifests(BASE)
    MV.create_matview(store, "mv", BASE, ["grp"], AGGS, n_partitions=4)
    live = {r[0] for r in rows}
    next_id = 100
    for round_no in range(5):
        op = rng.choice(["append", "delete", "update", "mixed"])
        if op in ("append", "mixed"):
            batch = [
                (next_id + i, rng.choice(groups),
                 rng.choice([None] + list(range(0, 50))))
                for i in range(rng.randint(1, 6))
            ]
            live |= {r[0] for r in batch}
            next_id += 10
            store.append(BASE, _rows_df(spark, batch))
        if op in ("delete", "mixed") and live:
            victims = rng.sample(sorted(live), min(len(live), rng.randint(1, 5)))
            live -= set(victims)
            store.delete_where(BASE, [("id", "in", victims)])
        if op == "update" and live:
            targets = rng.sample(sorted(live), min(len(live), 3))
            store.update_where(
                BASE, {"v": F.lit(rng.randint(0, 99))}, [("id", "in", targets)]
            )
        MV.refresh_matview(store, "mv")
        assert _view(store) == _expected(store), f"round {round_no} ({op})"


def test_refresh_outside_vacuum_retention_raises_rebuild_hint(spark, tmp_path):
    """A vacuum that prunes a superseded file the pending window needs
    makes incremental advance impossible — the error says so and names
    the remedy instead of surfacing a bare missing-file path."""
    import pytest as _pytest

    store = _seed(spark, tmp_path)
    MV.create_matview(store, "mv", BASE, ["grp"], AGGS, n_partitions=4)
    # a delete SUPERSEDES files; vacuum(0) then drops them before the
    # view has consumed the window
    store.delete_where(BASE, [("grp", "==", "a")], mode="cow")
    store.vacuum(BASE, older_than_seconds=0)
    with _pytest.raises(RuntimeError, match="outside vacuum retention"):
        MV.refresh_matview(store, "mv")


@pytest.mark.slow
def test_sql_view_over_matview_is_query_time_fresh(spark, tmp_path):
    """register_matview_view serves the user-facing columns through
    the batch data source: SQL equals read_matview, hidden maintenance
    columns don't exist in the view, and a refresh is visible to the
    NEXT statement with no re-registration (the store_table freshness
    contract)."""
    store = _seed(spark, tmp_path)
    MV.create_matview(store, "mv", BASE, ["grp"], AGGS, n_partitions=4)
    v = MV.register_matview_view(store, "mv")
    assert v == "mv"
    got = sorted(tuple(r) for r in spark.sql("SELECT * FROM mv").collect())
    assert got == _view(store)
    assert set(spark.table("mv").columns) == {"grp", *AGGS}
    store.append(BASE, _rows_df(spark, [(99, "z", 42)]))
    MV.refresh_matview(store, "mv")
    fresh = {r[0] for r in spark.sql("SELECT grp FROM mv").collect()}
    assert "z" in fresh  # no re-registration needed
    assert sorted(
        tuple(r) for r in spark.sql("SELECT * FROM mv").collect()
    ) == _expected(store)


def test_concurrent_refreshers_converge(spark, tmp_path):
    """Two threads refresh the same view at once: the per-view flock
    (localfs) serializes them — the loser of the claim either waits
    and no-ops or raises the claim error, and the view equals the
    ground truth with the high-water advanced exactly once. No
    double-netting under any interleaving."""
    import threading

    store = _seed(spark, tmp_path)
    MV.create_matview(store, "mv", BASE, ["grp"], AGGS, n_partitions=4)
    store.append(BASE, _rows_df(spark, [(70, "a", 1), (71, "e", 5)]))
    results: list = [None, None]

    def go(i):
        try:
            results[i] = MV.refresh_matview(store, "mv")
        except RuntimeError as e:  # the claim-loss error is a legal outcome
            results[i] = e

    ts = [threading.Thread(target=go, args=(i,)) for i in range(2)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    applied = [
        r for r in results
        if isinstance(r, dict) and (r["windows"] or not r.get("noop", True))
    ]
    assert len(applied) == 1  # exactly one thread applied the window
    assert MV.list_matviews(store)["mv"]["pending"] is None
    assert _view(store) == _expected(store)


def test_long_group_key(spark, tmp_path):
    """Group keys aren't strings everywhere: a LONG group column must
    hash-route, merge-match, and survive the whole refresh cycle."""
    store = _store(spark, tmp_path)
    df = spark.createDataFrame(
        [(1, 10, 5), (2, 10, 7), (3, 20, None), (4, 30, 1)],
        "id LONG, bucket LONG, v LONG",
    ).withColumn(PARTITION_COL, F.lit(1).cast("long"))
    store.append(BASE, df)
    store.adopt_manifests(BASE)
    aggs = {"n": ("count", None), "sum_v": ("sum", "v"), "max_v": ("max", "v")}
    MV.create_matview(store, "mv", BASE, ["bucket"], aggs, n_partitions=4)
    store.delete_where(BASE, [("id", "==", 2)])  # max of bucket 10
    store.append(
        BASE,
        spark.createDataFrame([(5, 40, 9)], "id LONG, bucket LONG, v LONG")
        .withColumn(PARTITION_COL, F.lit(1).cast("long")),
    )
    MV.refresh_matview(store, "mv")
    got = sorted(
        tuple(r) for r in MV.read_matview(store, "mv").collect()
    )
    want = sorted(
        tuple(r)
        for r in store.read(BASE)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("sum_v"),
            F.max("v").alias("max_v"),
        )
        .collect()
    )
    assert got == want


@pytest.mark.slow
def test_streaming_auto_refresh_listener(spark, tmp_path):
    """The continuous-aggregate pipeline end to end: CDF source →
    native store sink → MatviewRefresher listener advances the view
    within the micro-batch's progress event — no manual refresh call
    anywhere after setup."""
    import time

    from geo_explorer_etl_spark.streaming.cdf_source import (
        StoreChangeFeedDataSource,
    )
    from geo_explorer_etl_spark.streaming.matview_refresh import (
        attach_matview_refresher,
        detach_matview_refresher,
    )
    from geo_explorer_etl_spark.streaming.store_sink import StoreSinkDataSource

    spark.dataSource.register(StoreChangeFeedDataSource)
    spark.dataSource.register(StoreSinkDataSource)
    src_root, dst_root = str(tmp_path / "src"), str(tmp_path / "dst")
    src, dst = TableStore(spark, src_root), TableStore(spark, dst_root)
    src.replace_product_all(
        1, {"IndicatorValues": _rows_df(spark, [(1, "a", 10), (2, "b", 7)])}
    )
    t0 = 0.0
    ck = str(tmp_path / "ck")

    def drain(qname):
        q = (
            spark.readStream.format("store_cdf")
            .option("path", src_root)
            .option("table", "IndicatorValues")
            .option("start_at", t0)
            .option("watermark_lag", 0.0)
            .load()
            .filter(F.col("_change_type") == "insert")
            .select("id", "grp", "v", PARTITION_COL)
            .writeStream.format("store")
            .queryName(qname)
            .option("path", dst_root)
            .option("table", "Sink")
            .option("stream_id", "mvpipe")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain("seed")  # sink table exists with manifests before the view
    MV.create_matview(dst, "mv", "Sink", ["grp"], ADDITIVE_AGGS, n_partitions=2)
    listener = attach_matview_refresher(
        spark, dst, table="Sink", query_name="mvpipe_q"
    )
    try:
        src.append("IndicatorValues", _rows_df(spark, [(3, "a", 5), (4, "z", 1)]))
        time.sleep(0.05)
        drain("mvpipe_q")
        want = sorted(
            tuple(r)
            for r in dst.read("Sink")
            .groupBy("grp")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count("v").alias("n_v"),
                F.sum("v").alias("sum_v"),
                F.avg("v").alias("avg_v"),
            )
            .collect()
        )
        deadline = time.time() + 60
        got = None
        while time.time() < deadline:
            got = sorted(
                tuple(r)
                for r in MV.read_matview(dst, "mv")
                .select("grp", *ADDITIVE_AGGS)
                .collect()
            )
            if got == want:
                break
            time.sleep(0.5)
        assert listener.errors == []
        assert got == want  # the listener advanced the view, unprompted
        assert listener.refreshes >= 1
    finally:
        detach_matview_refresher(spark, listener)


@pytest.mark.slow
def test_matview_on_cas_backend(spark, tmp_path):
    """The whole lifecycle on the CAS (object-store) commit backend,
    where the per-view flock is a NO-OP and the registry blob, the
    pending claim, and every manifest swap serialize through
    put-if-absent CAS alone: create + DML + refresh + crash re-apply
    must behave exactly as on localfs."""
    store = TableStore(spark, str(tmp_path / "wh"), backend="cas")
    store.append(
        BASE,
        _rows_df(spark, [(1, "a", 10), (2, "a", 3), (3, "b", 7), (4, "c", None)]),
    )
    store.adopt_manifests(BASE)
    MV.create_matview(store, "mv", BASE, ["grp"], AGGS, n_partitions=4)
    assert _view(store) == _expected(store)
    store.delete_where(BASE, [("id", "==", 1)])  # extreme -> recompute leg
    store.append(BASE, _rows_df(spark, [(5, "d", 2)]))
    rep = MV.refresh_matview(store, "mv")
    assert rep["groups_recomputed"] == 1
    assert _view(store) == _expected(store)
    # crash re-apply converges under CAS too (no flock to lean on)
    store.append(BASE, _rows_df(spark, [(6, "a", 99)]))
    ent = MV.list_matviews(store)["mv"]
    hw_new = MV._last_commit(store, BASE)
    ent = MV._claim_pending(store, "mv", float(ent["hw"]), float(hw_new))
    MV._apply_window(store, "mv", ent, float(ent["hw"]), float(hw_new))
    rep = MV.refresh_matview(store, "mv")  # recovery
    assert MV.list_matviews(store)["mv"]["pending"] is None
    assert _view(store) == _expected(store)


def test_bad_specs_refused(spark, tmp_path):
    store = _seed(spark, tmp_path)
    with pytest.raises(ValueError, match="not in"):
        MV.create_matview(store, "mv", BASE, ["grp"], {"x": ("median", "v")})
    with pytest.raises(ValueError, match="needs a column"):
        MV.create_matview(store, "mv", BASE, ["grp"], {"x": ("sum", None)})
    with pytest.raises(ValueError, match="reserved"):
        MV.create_matview(store, "mv", BASE, ["grp"], {"grp": ("count", None)})
    with pytest.raises(ValueError, match="no committed"):
        MV.create_matview(store, "mv", "NoSuch", ["grp"], AGGS)


@pytest.mark.slow
def test_merge_time_fence_blocks_stale_refresher(spark, tmp_path):
    """ADVICE r12 #1 (the CAS-backend TOCTOU): a refresher that READ
    its stored rows before a faster peer applied newer windows merges
    STALE absolute values — the when-matched ``target_condition``
    fence leaves every newer row untouched at merge time, and the
    TOMBSTONE for a group the newer window killed stops the
    not-matched INSERT leg from resurrecting it."""
    store = _seed(spark, tmp_path)
    MV.create_matview(store, "mv", BASE, ["grp"], AGGS, n_partitions=4)
    # window 1: grow 'd'; the stale refresher is built from this state
    store.append(BASE, _rows_df(spark, [(20, "d", 55)]))
    MV.refresh_matview(store, "mv")
    u1 = MV.list_matviews(store)["mv"]["hw"]
    t = MV.mv_table("mv")
    stale_rows = store.read(t).filter(F.col("grp") == "d").collect()
    assert stale_rows and stale_rows[0][MV.MV_HW] == pytest.approx(u1)
    # window 2: kill 'd' entirely -> tombstone with _mv_hw = u2 > u1
    store.delete_where(BASE, [("grp", "==", "d")])
    MV.refresh_matview(store, "mv")
    want = _view(store)
    assert "d" not in {r[0] for r in want}
    # the stale refresher's merge: exactly the source _apply_window
    # would emit for window 1, landing AFTER window 2
    stale_src = spark.createDataFrame(stale_rows, store.read(t).schema)
    rep = store.merge_apply(
        t,
        stale_src,
        key_cols=["grp"],
        when_matched=[
            {
                "action": "update",
                "target_condition": f"{MV.MV_HW} < {float(u1)!r}",
            }
        ],
        when_not_matched=[{}],
    )
    assert rep == {
        "updated": 0, "deleted": 0, "inserted": 0, "deleted_by_source": 0
    }
    assert _view(store) == want  # 'd' stays dead, nothing regressed


def test_replace_rebuild_crash_marker(spark, tmp_path, monkeypatch):
    """ADVICE r12 #2: create_matview(replace=True) CAS-marks the old
    entry ``rebuilding`` BEFORE dropping the table; a crash in between
    leaves refresh/read refusing loudly instead of double-applying
    windows the rebuild already contained."""
    store = _seed(spark, tmp_path)
    MV.create_matview(store, "mv", BASE, ["grp"], AGGS)

    def boom(store_, t):
        raise RuntimeError("simulated crash mid-rebuild")

    monkeypatch.setattr(MV, "_drop_mv_table", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        MV.create_matview(store, "mv", BASE, ["grp"], AGGS, replace=True)
    monkeypatch.undo()
    assert MV.list_matviews(store)["mv"].get("rebuilding") is True
    with pytest.raises(RuntimeError, match="INTERRUPTED"):
        MV.refresh_matview(store, "mv")
    with pytest.raises(RuntimeError, match="INTERRUPTED"):
        MV.read_matview(store, "mv")
    # the hierarchy walk (and the streaming listener riding it) skips
    # the broken entry visibly instead of raising
    assert MV.refresh_all_matviews(store)["mv"]["skipped"] == "rebuilding"
    # completing the rebuild clears the marker and the view works
    MV.create_matview(store, "mv", BASE, ["grp"], AGGS, replace=True)
    assert MV.list_matviews(store)["mv"].get("rebuilding") is None
    store.append(BASE, _rows_df(spark, [(70, "a", 1)]))
    MV.refresh_matview(store, "mv")
    assert _view(store) == _expected(store)


@pytest.mark.slow
def test_filtered_bucketed_matview_differential(spark, tmp_path):
    """VERDICT r12 directive #2 — the continuous-aggregate shape:
    ``WHERE v > 0 GROUP BY date_trunc('DAY', ts)`` maintained
    incrementally through appends, deletes (incl. a MAX-moving one),
    updates CROSSING the filter boundary, group death, and revival —
    equal to a fresh filtered GROUP BY after every window."""
    import datetime as dt

    D = dt.datetime
    store = _store(spark, tmp_path)
    B = "MvEvents"

    def ev(rows):
        return spark.createDataFrame(
            rows, "id LONG, ts TIMESTAMP, v LONG"
        ).withColumn(PARTITION_COL, F.lit(1).cast("long"))

    store.append(B, ev([
        (1, D(2024, 1, 1, 5), 10), (2, D(2024, 1, 1, 9), -3),
        (3, D(2024, 1, 2, 1), 7), (4, D(2024, 1, 2, 2), 5),
        (5, D(2024, 1, 3, 8), 1),
    ]))
    store.adopt_manifests(B)
    MV.create_matview(
        store, "daily", B, ["day"],
        {"revenue": ("sum", "v"), "orders": ("count", None),
         "top": ("max", "v"), "rev2": ("sum", "v * 2")},
        n_partitions=4,
        where=[("v", ">", 0)],
        group_exprs={"day": "date_trunc('DAY', ts)"},
    )

    def truth():
        rows = (
            store.read(B).filter("v > 0")
            .withColumn("day", F.expr("date_trunc('DAY', ts)"))
            .groupBy("day")
            .agg(
                F.sum("v").alias("revenue"),
                F.count(F.lit(1)).alias("orders"),
                F.max("v").alias("top"),
                F.sum(F.expr("v * 2")).alias("rev2"),
            )
            .collect()
        )
        return sorted(
            (r["day"], r["revenue"], r["orders"], r["top"], r["rev2"])
            for r in rows
        )

    def got():
        df = MV.read_matview(store, "daily")
        if df is None:
            return []
        return sorted(
            tuple(r)
            for r in df.select("day", "revenue", "orders", "top", "rev2").collect()
        )

    assert got() == truth()
    # window 1: appends incl. filtered-out rows + a MAX-moving delete
    store.append(B, ev([
        (6, D(2024, 1, 1, 23), 4), (7, D(2024, 1, 4, 0), 0),
        (8, D(2024, 1, 2, 9), 9),
    ]))
    store.delete_where(B, [("id", "==", 3)])
    MV.refresh_matview(store, "daily")
    assert got() == truth()
    # window 2: UPDATEs moving rows ACROSS the filter boundary
    store.update_where(B, {"v": "-5"}, [("id", "==", 4)])
    store.update_where(B, {"v": "6"}, [("id", "==", 2)])
    MV.refresh_matview(store, "daily")
    assert got() == truth()
    # window 3: kill a whole day (tombstone), then revive it
    store.delete_where(B, [("id", "==", 5)])
    MV.refresh_matview(store, "daily")
    assert got() == truth()
    store.append(B, ev([(9, D(2024, 1, 3, 4), 2)]))
    MV.refresh_matview(store, "daily")
    assert got() == truth()


def test_recompute_push_prunes_base_files(spark, tmp_path):
    """VERDICT r12 wrong #1 closed: on a group-clustered base, a MIN-
    moving delete's absolute re-aggregate arrives at ``read_at`` with
    a ``(grp, in, recomputed-groups)`` predicate, and that predicate
    skips files through the SNAPSHOT's zone maps (inputFiles pin) —
    the one previously-unpruned scan in the engine."""
    store = _store(spark, tmp_path)
    for g, vals in (("a", [5, 9]), ("b", [1, 8]), ("c", [3, 4])):
        store.append(
            BASE,
            _rows_df(
                spark,
                [(i + ord(g) * 100, g, v) for i, v in enumerate(vals)],
            ),
        )
    store.adopt_manifests(BASE)
    MV.create_matview(store, "mv", BASE, ["grp"], AGGS, n_partitions=4)
    # direct pin: the snapshot read with the IN probe opens fewer files
    ts = MV._last_commit(store, BASE)
    all_files = store.read_at(BASE, ts).inputFiles()
    pruned = store.read_at(
        BASE, ts, where=[("grp", "in", ["b"])], prune_only=True
    ).inputFiles()
    assert len(all_files) >= 3
    assert len(pruned) < len(all_files)
    # matview-level pin: delete grp b's MIN -> recompute for b ONLY,
    # and the base re-read carries the pushed key predicate
    calls = []
    orig = store.read_at

    def spy(table, as_of, where=None, prune_only=False):
        calls.append((table, where))
        return orig(table, as_of, where=where, prune_only=prune_only)

    store.read_at = spy
    try:
        store.delete_where(BASE, [("id", "==", ord("b") * 100)])  # b's min
        rep = MV.refresh_matview(store, "mv")
    finally:
        del store.read_at
    assert rep["groups_recomputed"] == 1
    pushes = [w for t, w in calls if t == BASE and w]
    assert pushes, "recompute read carried no predicate"
    assert any(["grp", "in", ["b"]] in [list(p) for p in w] for w in pushes)
    assert _view(store) == _expected(store)


@pytest.mark.slow
def test_batch_dml_auto_refresh_hook(spark, tmp_path):
    """VERDICT r12 next #5: enable_auto_refresh registers an
    on_commit hook — batch DML (append/delete/update) advances the
    dependent views unprompted, cascades ride the hook level by
    level, and a FAILING refresh warns without blocking the DML."""
    import warnings as W

    store = _seed(spark, tmp_path)
    MV.create_matview(store, "mv", BASE, ["grp"], AGGS, n_partitions=4)
    MV.create_matview(
        store, "top", MV.mv_table("mv"), ["grp"],
        {"s2": ("sum", "sum_v")}, n_partitions=2,
    )
    hook = MV.enable_auto_refresh(store)
    store.append(BASE, _rows_df(spark, [(90, "e", 5)]))
    assert _view(store) == _expected(store)  # no manual refresh
    # the cascade advanced too: mv's merge fired the hook for its table
    top = {
        (r["grp"], r["s2"])
        for r in MV.read_matview(store, "top").collect()
    }
    want = {
        (r["grp"], r["sum_v"])
        for r in store.read(BASE).groupBy("grp").agg(F.sum("v").alias("sum_v")).collect()
    }
    assert top == want
    store.delete_where(BASE, [("grp", "==", "b")])
    assert _view(store) == _expected(store)
    store.update_where(BASE, {"v": "v + 1"}, [("grp", "==", "a")])
    assert _view(store) == _expected(store)
    # a raising refresh: DML commits, hook warns
    orig = MV.refresh_matview
    MV.refresh_matview = lambda *a, **k: (_ for _ in ()).throw(
        RuntimeError("refresh exploded")
    )
    try:
        with W.catch_warnings(record=True) as wlist:
            W.simplefilter("always")
            store.append(BASE, _rows_df(spark, [(91, "e", 6)]))
        assert any("on_commit hook" in str(w.message) for w in wlist)
    finally:
        MV.refresh_matview = orig
    assert {r[0] for r in store.read(BASE).filter("id = 91").select("id").collect()} == {91}
    # deregistered: writes no longer refresh
    store.remove_commit_hook(hook)
    store.append(BASE, _rows_df(spark, [(92, "e", 7)]))
    MV.refresh_matview(store, "mv")  # manual catch-up still converges
    assert _view(store) == _expected(store)


def test_recompute_push_time_bucket_range(spark, tmp_path):
    """Derived date_trunc groups are monotone in their source column:
    a MAX-moving delete in a day-bucketed view pushes ONE
    (ts BETWEEN day, next-day) range into the snapshot read — the
    continuous-aggregate recompute prunes files too."""
    import datetime as dt

    D = dt.datetime
    store = _store(spark, tmp_path)
    B = "MvEvents2"

    def ev(rows):
        return spark.createDataFrame(
            rows, "id LONG, ts TIMESTAMP, v LONG"
        ).withColumn(PARTITION_COL, F.lit(1).cast("long"))

    store.append(B, ev([
        (1, D(2024, 1, 1, 5), 10), (2, D(2024, 1, 1, 9), 3),
        (3, D(2024, 1, 2, 1), 7), (4, D(2024, 1, 2, 2), 5),
    ]))
    store.adopt_manifests(B)
    MV.create_matview(
        store, "daily2", B, ["day"],
        {"top": ("max", "v"), "n": ("count", None)},
        group_exprs={"day": "date_trunc('DAY', ts)"},
    )
    calls = []
    orig = store.read_at

    def spy(table, as_of, where=None, prune_only=False):
        calls.append((table, where))
        return orig(table, as_of, where=where, prune_only=prune_only)

    store.read_at = spy
    try:
        store.delete_where(B, [("id", "==", 1)])  # day-1's MAX
        rep = MV.refresh_matview(store, "daily2")
    finally:
        del store.read_at
    assert rep["groups_recomputed"] == 1
    ranges = [
        t for _, w in calls if w for t in w
        if t[0] == "ts" and t[1] == "between"
    ]
    assert ranges, "no time-bucket range pushed"
    lo, hi = ranges[0][2]
    assert lo == D(2024, 1, 1) and hi == D(2024, 1, 2)
    got = {
        (r["day"], r["top"], r["n"])
        for r in MV.read_matview(store, "daily2").collect()
    }
    want = {
        (r["day"], r["top"], r["n"])
        for r in store.read(B)
        .withColumn("day", F.expr("date_trunc('DAY', ts)"))
        .groupBy("day")
        .agg(F.max("v").alias("top"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


# -- percentile aggregates (fully-invertible bucket histograms) -------------

PBINS = [5.0, 10.0, 20.0, 30.0, 40.0]


def _pctl_ref(vals, bounds, q):
    """The deterministic estimator, reimplemented independently: rank
    r = max(1, ceil(q*n)); cumulative walk; linear interpolation with
    end-bucket clamps."""
    import math

    vals = [v for v in vals if v is not None]
    if not vals:
        return None
    k = len(bounds)
    counts = [0] * (k + 1)
    for x in vals:
        counts[sum(1 for b in bounds if x > b)] += 1
    r = max(1, math.ceil(q * len(vals)))
    cum = 0
    for i, c in enumerate(counts):
        prev, cum = cum, cum + c
        if cum >= r:
            if i == 0:
                return bounds[0]
            if i == k:
                return bounds[-1]
            lo, hi = bounds[i - 1], bounds[i]
            return lo + (hi - lo) * ((r - prev) / c)


def _pctl_expected(store):
    base = store.read(BASE)
    if base is None:
        return {}
    rows = base.select("grp", "v").collect()
    by_g = {}
    for r in rows:
        by_g.setdefault(r["grp"], []).append(
            None if r["v"] is None else float(r["v"])
        )
    return {
        g: (_pctl_ref(vs, PBINS, 0.5), _pctl_ref(vs, PBINS, 0.95))
        for g, vs in by_g.items()
    }


def test_percentile_matview_differential(spark, tmp_path):
    """Randomized DML rounds over a PURE-percentile view: the view
    must equal the independent estimator over the base's current
    snapshot after every refresh, and — the invertibility claim —
    groups_recomputed stays 0 even when deletes remove stored
    extremes (bucket counts subtract; nothing re-aggregates)."""
    import random

    rng = random.Random(131)
    store = _store(spark, tmp_path)
    groups = ["a", "b", "c"]
    rows = [
        (i, rng.choice(groups), rng.choice([None] + list(range(0, 45))))
        for i in range(30)
    ]
    store.append(BASE, _rows_df(spark, rows))
    store.adopt_manifests(BASE)
    MV.create_matview(
        store, "pv", BASE, ["grp"],
        {"med": ("p50", "v"), "hi": ("p95", "v")},
        hist_bins={"med": PBINS, "hi": PBINS},
        n_partitions=4,
    )
    live = {r[0] for r in rows}
    next_id = 100
    for round_no in range(4):
        op = ["append", "delete", "update", "mixed"][round_no]
        if op in ("append", "mixed"):
            batch = [
                (next_id + i, rng.choice(groups),
                 rng.choice([None] + list(range(0, 45))))
                for i in range(rng.randint(1, 5))
            ]
            live |= {r[0] for r in batch}
            next_id += 10
            store.append(BASE, _rows_df(spark, batch))
        if op in ("delete", "mixed") and live:
            victims = rng.sample(sorted(live), min(len(live), 4))
            live -= set(victims)
            store.delete_where(BASE, [("id", "in", victims)])
        if op == "update" and live:
            targets = rng.sample(sorted(live), min(len(live), 3))
            store.update_where(
                BASE, {"v": F.lit(rng.randint(0, 44))},
                [("id", "in", targets)],
            )
        rep = MV.refresh_matview(store, "pv")
        assert rep["groups_recomputed"] == 0, f"round {round_no}: percentile must stay invertible"
        got = {
            r["grp"]: (r["med"], r["hi"])
            for r in MV.read_matview(store, "pv").collect()
        }
        exp = _pctl_expected(store)
        # groups with zero live rows tombstone out of the view
        exp = {g: t for g, t in exp.items() if t != (None, None) or g in got}
        for g, (m, h) in exp.items():
            if g not in got:
                assert m is None and h is None, (round_no, g)
                continue
            gm, gh = got[g]
            for a, b in ((gm, m), (gh, h)):
                if b is None:
                    assert a is None, (round_no, g)
                else:
                    assert a is not None and abs(a - b) < 1e-12, (round_no, g, a, b)


def test_percentile_extreme_delete_no_recompute_no_base_read(spark, tmp_path):
    """Deleting the stored MAX of a pure-percentile group nets bucket
    counts — groups_recomputed == 0 AND the refresh never reads the
    base table (read_at spy), the claim min/max cannot make."""
    store = _seed(spark, tmp_path)
    MV.create_matview(
        store, "pv", BASE, ["grp"], {"med": ("p50", "v")},
        hist_bins={"med": PBINS}, n_partitions=4,
    )
    store.delete_where(BASE, [("id", "==", 1)])  # grp a's max (10)
    calls = []
    orig = store.read_at

    def spy(table, ts, **kw):
        calls.append(table)
        return orig(table, ts, **kw)

    store.read_at = spy
    rep = MV.refresh_matview(store, "pv")
    store.read_at = orig
    assert rep["groups_recomputed"] == 0
    assert BASE not in calls, "invertible refresh must not read the base"
    got = {r["grp"]: r["med"] for r in MV.read_matview(store, "pv").collect()}
    assert got["a"] == _pctl_ref([3.0], PBINS, 0.5)


@pytest.mark.slow
def test_percentile_nulls_death_and_rebirth(spark, tmp_path):
    """All-NULL group -> NULL estimate; killing every row tombstones
    the group; re-inserting revives it with a fresh histogram."""
    store = _seed(spark, tmp_path)
    MV.create_matview(
        store, "pv", BASE, ["grp"], {"med": ("p50", "v")},
        hist_bins={"med": PBINS}, n_partitions=4,
    )
    got = {r["grp"]: r["med"] for r in MV.read_matview(store, "pv").collect()}
    assert got["c"] is None  # all-null group
    store.delete_where(BASE, [("grp", "==", "d")])
    MV.refresh_matview(store, "pv")
    got = {r["grp"]: r["med"] for r in MV.read_matview(store, "pv").collect()}
    assert "d" not in got  # tombstoned
    store.append(BASE, _rows_df(spark, [(50, "d", 25)]))
    store.adopt_manifests(BASE)
    MV.refresh_matview(store, "pv")
    got = {r["grp"]: r["med"] for r in MV.read_matview(store, "pv").collect()}
    assert got["d"] == _pctl_ref([25.0], PBINS, 0.5)


def test_percentile_bad_specs_refused(spark, tmp_path):
    import pytest as _pytest

    store = _seed(spark, tmp_path)

    def mk(aggs, **kw):
        return MV.create_matview(store, "bad", BASE, ["grp"], aggs, **kw)

    with _pytest.raises(ValueError, match="needs int K"):
        mk({"m": ("p50", "v")}, hist_bins={"m": ("auto", 1)})
    with _pytest.raises(ValueError, match="cannot auto-derive"):
        # all-NULL input: no observed range to derive from
        mk({"m": ("p50", "v + NULL")})
    with _pytest.raises(ValueError, match="strictly ascending"):
        mk({"m": ("p50", "v")}, hist_bins={"m": [5.0, 5.0, 9.0]})
    with _pytest.raises(ValueError, match=">= 2 finite"):
        mk({"m": ("p50", "v")}, hist_bins={"m": [5.0]})
    with _pytest.raises(ValueError, match=">= 2 finite"):
        mk({"m": ("p50", "v")}, hist_bins={"m": [5.0, float("inf")]})
    with _pytest.raises(ValueError, match="non-percentile"):
        mk({"m": ("sum", "v")}, hist_bins={"m": [1.0, 2.0]})
    with _pytest.raises(ValueError, match="not in"):
        mk({"m": ("p0", "v")}, hist_bins={"m": [1.0, 2.0]})
    with _pytest.raises(ValueError, match="not in"):
        mk({"m": ("p100", "v")}, hist_bins={"m": [1.0, 2.0]})


@pytest.mark.slow
def test_percentile_auto_bins_randomized_differential(spark, tmp_path):
    """hist_bins OMITTED (VERDICT r13 next #3): boundaries auto-derive
    at create time — log-spaced over the observed range (positive
    input), frozen in the registry with the outputs recorded in
    ``bins_auto`` — and the view then tracks the independent estimator
    computed over those SAME derived boundaries through randomized DML
    rounds (later arrivals outside the create-time range clamp, on
    both sides of the differential)."""
    import math
    import random

    rng = random.Random(17)
    store = _store(spark, tmp_path)
    rows = [
        (i, rng.choice(["a", "b"]),
         rng.choice([None] + [int(10 ** rng.uniform(0.5, 3.5)) for _ in range(3)]))
        for i in range(40)
    ]
    store.append(BASE, _rows_df(spark, rows))
    store.adopt_manifests(BASE)
    MV.create_matview(
        store, "pva", BASE, ["grp"], {"med": ("p50", "v")}, n_partitions=2,
    )
    ent = MV._registry(store)["pva"]
    assert ent["bins_auto"] == ["med"]
    bins = ent["bins"]["med"]
    vals = [float(v) for _, _, v in rows if v is not None]
    assert bins[0] == min(vals) and abs(bins[-1] - max(vals)) < 1e-6 * max(vals)
    assert len(bins) == MV.AUTO_BINS
    # log-spaced: constant ratio between consecutive boundaries
    ratios = [b2 / b1 for b1, b2 in zip(bins, bins[1:])]
    assert max(ratios) - min(ratios) < 1e-6

    def expected():
        base = store.read(BASE)
        by_g = {}
        for r in base.select("grp", "v").collect():
            by_g.setdefault(r["grp"], []).append(
                None if r["v"] is None else float(r["v"])
            )
        return {g: _pctl_ref(vs, bins, 0.5) for g, vs in by_g.items()}

    live = {r[0] for r in rows}
    next_id = 1000
    for round_no in range(3):
        batch = [
            (next_id + i, rng.choice(["a", "b"]),
             rng.choice([None, 1, 50000, int(10 ** rng.uniform(0, 4))]))
            for i in range(rng.randint(2, 5))
        ]  # includes values OUTSIDE the create-time range (clamps)
        next_id += 10
        store.append(BASE, _rows_df(spark, batch))
        live |= {r[0] for r in batch}
        victims = rng.sample(sorted(live), 3)
        live -= set(victims)
        store.delete_where(BASE, [("id", "in", victims)])
        rep = MV.refresh_matview(store, "pva")
        assert rep["groups_recomputed"] == 0
        got = {
            r["grp"]: r["med"]
            for r in MV.read_matview(store, "pva").collect()
        }
        exp = expected()
        assert set(got) == set(exp)
        for g in got:
            if exp[g] is None:
                assert got[g] is None
            else:
                assert math.isclose(got[g], exp[g], rel_tol=1e-9), (g, got[g], exp[g])


@pytest.mark.slow
def test_percentile_clamp_audit(spark, tmp_path):
    """Out-of-range arrivals are COUNTED, not silent: the create
    snapshot's clamps land in the registry entry, every refresh
    window's INSERT-side clamps land in the report and accumulate
    atomically with the hw advance, and deletes never count."""
    store = _store(spark, tmp_path)
    store.append(
        BASE,
        _rows_df(spark, [(1, "a", 12), (2, "a", 3), (3, "b", 15)]),
    )
    store.adopt_manifests(BASE)
    MV.create_matview(
        store, "pvc", BASE, ["grp"], {"med": ("p50", "v")},
        hist_bins={"med": [10.0, 20.0]}, n_partitions=2,
    )
    ent = MV._registry(store)["pvc"]
    assert ent["clamps"] == {"med": 1}  # the v=3 seed row
    assert ent["bins_auto"] == []
    # arrivals: two outside (5 < 10, 100 > 20), one inside, one NULL
    store.append(
        BASE,
        _rows_df(spark, [(10, "a", 5), (11, "b", 100), (12, "a", 11),
                         (13, "b", None)]),
    )
    rep = MV.refresh_matview(store, "pvc")
    assert rep["clamped"] == {"med": 2}
    assert MV._registry(store)["pvc"]["clamps"] == {"med": 3}
    # deleting an out-of-range row doesn't un-count it
    store.delete_where(BASE, [("id", "in", [10])])
    rep = MV.refresh_matview(store, "pvc")
    assert rep["clamped"] == {"med": 0}
    assert MV._registry(store)["pvc"]["clamps"] == {"med": 3}


def test_percentile_rollup_auto_bins_inherit_parent(spark, tmp_path):
    """A cascaded rollup with OMITTED hist_bins inherits the parent's
    boundaries (the only valid choice) instead of refusing."""
    store = _seed(spark, tmp_path)
    MV.create_matview(
        store, "lvl1p", BASE, ["grp"], {"med": ("p50", "v")},
        hist_bins={"med": PBINS}, n_partitions=2,
    )
    MV.create_matview(
        store, "lvl2p", MV.mv_table("lvl1p"), ["grp"],
        {"med_all": ("p50", "__hist_med")}, n_partitions=2,
    )
    ent = MV._registry(store)["lvl2p"]
    assert ent["bins"]["med_all"] == PBINS
    assert ent["hist_mode"]["med_all"] == "merge"
    # merge-mode inputs are pre-bucketed: no clamp counter for them
    assert ent["clamps"] == {}


@pytest.mark.slow
def test_matview_or_where_filters_and_refreshes(spark, tmp_path):
    """A matview WHERE in the OR disjunct form filters the create
    snapshot, every refresh window, and the recompute branch
    identically — checked through appends and deletes against a
    manual recompute of the same disjunction."""
    store = _store(spark, tmp_path)
    rows = [(i, "a" if i % 2 else "b", i * 10) for i in range(10)]
    store.append(BASE, _rows_df(spark, rows))
    store.adopt_manifests(BASE)
    w = [[("grp", "==", "a")], "or", [("v", ">", 70)]]
    MV.create_matview(
        store, "orv", BASE, ["grp"],
        {"n": ("count", None), "mx": ("max", "v")},
        where=w, n_partitions=2,
    )

    def expected():
        base = store.read(BASE)
        got = {}
        for r in base.collect():
            if r["grp"] == "a" or (r["v"] is not None and r["v"] > 70):
                g = got.setdefault(r["grp"], [0, None])
                g[0] += 1
                g[1] = r["v"] if g[1] is None else max(g[1], r["v"])
        return {k: tuple(v) for k, v in got.items()}

    def view():
        df = MV.read_matview(store, "orv")
        return {r["grp"]: (r["n"], r["mx"]) for r in (df.collect() if df is not None else [])}

    assert view() == expected()
    # appends on both sides of the disjunction + one matching neither
    store.append(BASE, _rows_df(spark, [(100, "a", 5), (101, "b", 95), (102, "b", 1)]))
    MV.refresh_matview(store, "orv")
    assert view() == expected()
    # delete a stored max (recompute branch) and a filtered-out row
    store.delete_where(BASE, [("id", "in", [9, 102])])
    rep = MV.refresh_matview(store, "orv")
    assert rep["groups_recomputed"] >= 1  # the max group re-aggregated
    assert view() == expected()


@pytest.mark.slow
def test_percentile_rollup_cascade(spark, tmp_path):
    """A child view over a parent matview's table merges the parent's
    hidden histograms element-wise — and because merging subgroup
    histograms equals the histogram of the union EXACTLY, the rollup's
    estimate must equal the direct estimate over ALL base rows of the
    child group, through multiple DML+refresh rounds, with the child
    never recomputing (merge mode is invertible too)."""
    store = _store(spark, tmp_path)
    rows = [
        (i, ["a", "b"][i % 2], f"s{i % 3}", float((7 * i) % 41))
        for i in range(1, 31)
    ]
    df = spark.createDataFrame(rows, "id LONG, grp STRING, sub STRING, v DOUBLE")
    store.append(BASE, df.withColumn(PARTITION_COL, F.lit(1).cast("long")))
    store.adopt_manifests(BASE)
    MV.create_matview(
        store, "leaf", BASE, ["grp", "sub"], {"med": ("p50", "v")},
        hist_bins={"med": PBINS}, n_partitions=4,
    )
    MV.create_matview(
        store, "roll", MV.mv_table("leaf"), ["grp"],
        {"med_all": ("p50", "__hist_med")},
        hist_bins={"med_all": PBINS}, n_partitions=2,
    )

    def check(tag):
        base = store.read(BASE)
        by_g = {}
        for r in base.select("grp", "v").collect():
            by_g.setdefault(r["grp"], []).append(r["v"])
        exp = {g: _pctl_ref(vs, PBINS, 0.5) for g, vs in by_g.items()}
        got = {
            r["grp"]: r["med_all"]
            for r in MV.read_matview(store, "roll").collect()
        }
        assert set(got) == set(exp), tag
        for g in exp:
            assert abs(got[g] - exp[g]) < 1e-12, (tag, g, got[g], exp[g])

    check("create")
    # DML rounds: extreme deletes, appends, updates — refresh the
    # whole hierarchy in dependency order each time
    store.delete_where(BASE, [("v", ">", 35.0)])
    reps = MV.refresh_all_matviews(store)
    assert reps["roll"]["groups_recomputed"] == 0
    check("delete")
    add = spark.createDataFrame(
        [(100 + i, "a", "s9", float(3 + i)) for i in range(6)],
        "id LONG, grp STRING, sub STRING, v DOUBLE",
    )
    store.append(BASE, add.withColumn(PARTITION_COL, F.lit(1).cast("long")))
    store.adopt_manifests(BASE)
    MV.refresh_all_matviews(store)
    check("append-new-subgroup")
    store.update_where(BASE, {"v": F.lit(11.0)}, [("grp", "==", "b")])
    reps = MV.refresh_all_matviews(store)
    assert reps["roll"]["groups_recomputed"] == 0
    check("update")


def test_percentile_rollup_bins_must_match_parent(spark, tmp_path):
    import pytest as _pytest

    store = _seed(spark, tmp_path)
    MV.create_matview(
        store, "leaf", BASE, ["grp"], {"med": ("p50", "v")},
        hist_bins={"med": PBINS}, n_partitions=2,
    )
    with _pytest.raises(ValueError, match="identical across cascade"):
        MV.create_matview(
            store, "roll", MV.mv_table("leaf"), ["grp"],
            {"m2": ("p50", "__hist_med")},
            hist_bins={"m2": [1.0, 2.0, 3.0]}, n_partitions=2,
        )


def test_percentile_array_input_on_raw_table_refused(spark, tmp_path):
    """An array-typed percentile input that is NOT a parent view's
    hidden histogram refuses loudly — silently summing raw array
    values into bucket-count slots would corrupt the estimate."""
    import pytest as _pytest

    store = _store(spark, tmp_path)
    df = spark.createDataFrame(
        [(1, "a", [1.0, 2.0]), (2, "b", [3.0])],
        "id LONG, grp STRING, vals ARRAY<DOUBLE>",
    )
    store.append(BASE, df.withColumn(PARTITION_COL, F.lit(1).cast("long")))
    store.adopt_manifests(BASE)
    with _pytest.raises(ValueError, match="only valid as a parent"):
        MV.create_matview(
            store, "bad", BASE, ["grp"], {"p": ("p50", "vals")},
            hist_bins={"p": [1.0, 2.0, 3.0]}, n_partitions=2,
        )


def test_hist_estimator_randomized_differential(spark):
    """_finish_hist_ests over 200 seeded random histograms × 4
    quantiles must equal the independent Python estimator EXACTLY
    (same rank rule, same walk, same interpolation arithmetic) —
    including empty histograms (NULL), single-bucket mass, and
    end-bucket clamps."""
    import random as _random

    rng = _random.Random(777)
    k = len(PBINS)
    rows = []
    for i in range(200):
        shape = rng.random()
        if shape < 0.05:
            counts = [0] * (k + 1)                      # empty -> NULL
        elif shape < 0.15:
            counts = [0] * (k + 1)
            counts[rng.randrange(k + 1)] = rng.randint(1, 50)  # one bucket
        else:
            counts = [rng.randint(0, 20) for _ in range(k + 1)]
        rows.append((i, counts))
    df = spark.createDataFrame(rows, "id LONG, h ARRAY<BIGINT>")

    def ref(counts, q):
        import math

        nn = sum(counts)
        if nn == 0:
            return None
        r = max(1, math.ceil(q * nn))
        cum = 0
        for i, c in enumerate(counts):
            prev, cum = cum, cum + c
            if cum >= r:
                if i == 0:
                    return PBINS[0]
                if i == k:
                    return PBINS[-1]
                lo, hi = PBINS[i - 1], PBINS[i]
                return lo + (hi - lo) * ((r - prev) / c)

    for op in ("p5", "p50", "p95", "p99"):
        q = int(op[1:]) / 100.0
        out = MV._finish_hist_ests(
            df.withColumn(MV._hist("x"), F.col("h")),
            {"x": (op, "h")},
            {"x": PBINS},
        )
        got = {r["id"]: r["x"] for r in out.select("id", "x").collect()}
        for i, counts in rows:
            e = ref(counts, q)
            if e is None:
                assert got[i] is None, (op, i)
            else:
                assert got[i] == e, (op, i, counts, got[i], e)


@pytest.mark.slow
def test_continuous_aggregate_percentile_integration(spark, tmp_path):
    """ALL the r13 matview features in one view — ``WHERE v > 0 GROUP
    BY date_trunc('DAY', ts)`` with a PERCENTILE aggregate beside a
    max — maintained through appends, filter-crossing updates, and an
    extreme-moving delete; after every window the view equals a fresh
    filtered day-bucketed aggregate with the independent estimator,
    and the percentile slot itself never forces a recompute (only the
    max does)."""
    import datetime as dt

    D = dt.datetime
    store = _store(spark, tmp_path)
    B = "MvEvents"
    BINS = [2.0, 5.0, 10.0, 20.0]

    def ev(rows):
        return spark.createDataFrame(
            rows, "id LONG, ts TIMESTAMP, v LONG"
        ).withColumn(PARTITION_COL, F.lit(1).cast("long"))

    store.append(B, ev([
        (1, D(2024, 1, 1, 5), 10), (2, D(2024, 1, 1, 9), -3),
        (3, D(2024, 1, 1, 11), 4), (4, D(2024, 1, 2, 2), 5),
        (5, D(2024, 1, 2, 8), 1), (6, D(2024, 1, 2, 9), 25),
    ]))
    store.adopt_manifests(B)
    MV.create_matview(
        store, "daily", B, ["day"],
        {"p90v": ("p90", "v"), "top": ("max", "v")},
        n_partitions=4,
        where=[("v", ">", 0)],
        group_exprs={"day": "date_trunc('DAY', ts)"},
        hist_bins={"p90v": BINS},
    )

    def truth():
        rows = (
            store.read(B).filter("v > 0")
            .withColumn("day", F.expr("date_trunc('DAY', ts)"))
            .select("day", "v").collect()
        )
        by_day = {}
        for r in rows:
            by_day.setdefault(r["day"], []).append(float(r["v"]))
        return {
            d: (_pctl_ref(vs, BINS, 0.9), max(vs))
            for d, vs in by_day.items()
        }

    def view():
        return {
            r["day"]: (r["p90v"], r["top"])
            for r in MV.read_matview(store, "daily").collect()
        }

    assert view() == truth()
    # append into one day + a brand-new day
    store.append(B, ev([(7, D(2024, 1, 1, 20), 8),
                        (8, D(2024, 1, 5, 3), 3)]))
    store.adopt_manifests(B)
    MV.refresh_matview(store, "daily")
    assert view() == truth()
    # update CROSSING the filter boundary (v -3 -> 6 enters the view)
    store.update_where(B, {"v": F.lit(6)}, [("id", "==", 2)])
    MV.refresh_matview(store, "daily")
    assert view() == truth()
    # delete the day-2 MAX (25): max recomputes, percentile nets —
    # the per-agg classifier decides per group
    store.delete_where(B, [("id", "==", 6)])
    rep = MV.refresh_matview(store, "daily")
    assert rep["groups_recomputed"] == 1  # only day 2, only for max
    assert view() == truth()


@pytest.mark.slow
def test_clamp_alert_recommends_rebuild_once_and_rebuild_heals(
    spark, tmp_path, monkeypatch
):
    """VERDICT r14 next #5: a drifted stream whose cumulative
    clamped/arrived ratio breaches the policy trips a rebuild
    recommendation EXACTLY once (the latch is registry-persisted);
    rebuild_matview re-derives the auto bins from the current
    snapshot, restoring in-range coverage and resetting the audit —
    and the view's estimates stay correct throughout."""
    monkeypatch.setattr(MV, "CLAMP_ALERT_MIN_ROWS", 5)
    store = _store(spark, tmp_path)
    # create snapshot observes a narrow [10, 100] positive range
    store.append(
        BASE, _rows_df(spark, [(i, "a", 10 + i) for i in range(10)])
    )
    store.adopt_manifests(BASE)
    MV.create_matview(
        store, "pal", BASE, ["grp"], {"med": ("p50", "v")}, n_partitions=2,
    )
    ent = MV._registry(store)["pal"]
    assert ent["bins_auto"] == ["med"] and ent["clamp_alert"] == []
    assert ent["hist_rows"] == {"med": 10}
    lo0, hi0 = ent["bins"]["med"][0], ent["bins"]["med"][-1]

    # the stream drifts: a batch far outside the derived range
    store.append(
        BASE, _rows_df(spark, [(100 + i, "a", 100000 + i) for i in range(4)])
    )
    rep = MV.refresh_matview(store, "pal")
    # 4/14 ≈ 0.29 > 0.05 and arrivals >= 5: the alert latches NOW
    assert rep["rebuild_recommended"] == {"med": round(4 / 14, 4)}
    assert MV._registry(store)["pal"]["clamp_alert"] == ["med"]

    # further drift does NOT re-recommend (once per output)
    store.append(
        BASE, _rows_df(spark, [(200 + i, "a", 200000 + i) for i in range(3)])
    )
    rep2 = MV.refresh_matview(store, "pal")
    assert "rebuild_recommended" not in rep2
    assert MV._registry(store)["pal"]["clamps"]["med"] == 7

    # the opt-in action: rebuild from the registry spec — auto bins
    # re-derive over the CURRENT range, audit and latch reset
    MV.rebuild_matview(store, "pal")
    ent2 = MV._registry(store)["pal"]
    assert ent2["clamp_alert"] == [] and ent2["clamps"] == {"med": 0}
    assert ent2["hist_rows"] == {"med": 17}
    assert ent2["bins"]["med"][0] == lo0  # still covers the old floor
    assert ent2["bins"]["med"][-1] > hi0  # and the drifted ceiling
    assert ent2["bins"]["med"][-1] >= 200002.0
    # estimates remain sane: the median of the union sits in-range
    got = {r["grp"]: r["med"] for r in MV.read_matview(store, "pal").collect()}
    assert lo0 <= got["a"] <= ent2["bins"]["med"][-1]
    # and the rebuilt view keeps refreshing without a recommendation
    store.append(BASE, _rows_df(spark, [(300, "a", 50)]))
    rep3 = MV.refresh_matview(store, "pal")
    assert "rebuild_recommended" not in rep3


@pytest.mark.slow
def test_clamp_recommendations_merge_across_recovery_and_main_window(
    spark, tmp_path, monkeypatch
):
    """ADVICE r15: one refresh can latch DIFFERENT outputs in its
    pending-recovery window and its main window — the report must
    carry BOTH (the old assign dropped the recovery window's
    recommendation when the main window latched)."""
    monkeypatch.setattr(MV, "CLAMP_ALERT_MIN_ROWS", 1)
    base = "MvBase2"
    sch = "id LONG, grp STRING, v LONG, w LONG"

    def rows(rs):
        return spark.createDataFrame(rs, sch).withColumn(
            PARTITION_COL, F.lit(1).cast("long")
        )

    store = _store(spark, tmp_path)
    store.append(base, rows([(i, "a", 10 + i, 10 + i) for i in range(10)]))
    store.adopt_manifests(base)
    MV.create_matview(
        store, "mv2", base, ["grp"],
        {"m1": ("p50", "v"), "m2": ("p50", "w")}, n_partitions=2,
    )
    # window 1 drifts ONLY v; claim the window then crash before apply
    store.append(base, rows([(100 + i, "a", 100000 + i, 12) for i in range(4)]))
    ent = MV.list_matviews(store)["mv2"]
    hw1 = MV._last_commit(store, base)
    MV._claim_pending(store, "mv2", float(ent["hw"]), float(hw1))
    # window 2 drifts ONLY w; ONE refresh now runs recovery (latches
    # m1) and the main window (latches m2)
    store.append(base, rows([(200 + i, "a", 12, 200000 + i) for i in range(4)]))
    rep = MV.refresh_matview(store, "mv2")
    assert set(rep["rebuild_recommended"]) == {"m1", "m2"}
    assert sorted(MV._registry(store)["mv2"]["clamp_alert"]) == ["m1", "m2"]
