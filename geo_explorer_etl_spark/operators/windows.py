"""Window-shaped operators and ID strategies (SURVEY.md §2.5–§2.6).

The reference assigns contiguous integer IDs by reading MAX(id) from
the DB and building a RangeIndex (reference helpers.py:64–66,
scdb.py:154–159) — inherently serial. Here ID assignment is a
pluggable strategy (SURVEY.md §7):

- ``sequential_ids``        — row_number over a global order + offset.
  Exact parity with the reference; the window has no partitionBy so it
  is a single-partition sort — fine for dimension-sized frames
  (the only place the reference needs contiguity), wrong for facts.
- ``distributed_unique_ids``— monotonically_increasing_id-based:
  unique + stable within a run, NOT contiguous; O(1) per row, no
  shuffle — the 100 TB path for fact tables where only uniqueness and
  cross-table linkage matter (SURVEY.md §7 notes only uniqueness +
  stability are semantically required).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def sequential_ids(
    df: DataFrame,
    order_cols: list[str],
    id_col: str = "id",
    offset: int = 0,
) -> DataFrame:
    """W1 (parity strategy) — contiguous ids offset+1..offset+n in the
    order of ``order_cols``. Single-partition window: use only on
    dimension-sized frames."""
    w = Window.orderBy(*[F.col(c) for c in order_cols])
    return df.withColumn(id_col, (F.row_number().over(w) + F.lit(offset)).cast("long"))


def distributed_unique_ids(df: DataFrame, id_col: str = "id", offset: int = 0) -> DataFrame:
    """W1 (scale strategy) — unique, non-contiguous 64-bit ids with no
    shuffle (partition-id in the high bits). Use for fact-sized frames
    where ids only need to be unique and joinable within the run.

    CAUTION: ``monotonically_increasing_id`` is nondeterministic across
    re-executions of the same plan (task retries, AQE re-plans, a second
    action re-running the lineage). If the id must agree between two
    frames derived from the same plan — e.g. a fact table and its bridge
    written as two jobs — use :func:`keyed_unique_ids` on the natural
    key instead, or materialize the frame once before fanning out."""
    return df.withColumn(id_col, (F.monotonically_increasing_id() + F.lit(offset)).cast("long"))


def keyed_unique_ids(
    df: DataFrame, key_cols: list[Column | str], id_col: str = "id"
) -> DataFrame:
    """W1 (deterministic scale strategy) — 64-bit id derived from a
    unique natural key via ``xxhash64`` over ``key_cols``: row-local (no
    shuffle, no Window), and — unlike ``monotonically_increasing_id`` —
    DETERMINISTIC across task retries, AQE re-plans, and independent
    re-executions of the same lineage, so two plans that both embed this
    id (fact table + bridge) agree without materializing the frame
    first. The id takes no offset: the hash already spans the whole
    64-bit range, so a high-water offset would only overflow it.

    Uniqueness is probabilistic: for n distinct keys the collision
    probability is ~n²/2⁶⁵ (≈0.03% at n=10⁸, ≈2.7% at n=10⁹ across
    every key hashed into one table). Rows with *equal* keys collide by
    construction — the key must be unique upstream, across every
    product that shares the table."""
    return df.withColumn(id_col, F.xxhash64(*key_cols))


def group_ordinal(
    df: DataFrame,
    partition_cols: list[str],
    order_cols: list[str],
    out_col: str = "display_order",
) -> DataFrame:
    """W2/A3 — 1-based ordinal within each group (member display order,
    reference dfhandler.py:100–101 cumcount+1)."""
    w = Window.partitionBy(*partition_cols).orderBy(*[F.col(c) for c in order_cols])
    return df.withColumn(out_col, F.row_number().over(w))


def topk_per_group(
    df: DataFrame,
    partition_cols: list[str],
    order_by: list[Column],
    k: int,
) -> DataFrame:
    """O3 — top-k rows per group via ranked window (related-indicator
    cap k=10, reference dfhandler.py:627–628)."""
    w = Window.partitionBy(*partition_cols).orderBy(*order_by)
    return (
        df.withColumn("_rnk", F.row_number().over(w))
        .filter(F.col("_rnk") <= k)
        .drop("_rnk")
    )


def max_high_water(df: DataFrame, col: str) -> int:
    """A1 — MAX(id) high-water mark (reference scdb.py:145–159). One
    tiny agg action; at scale prefer ``distributed_unique_ids`` and skip
    the round-trip entirely."""
    row = df.agg(F.max(F.col(col)).alias("m")).first()
    return row["m"] if row and row["m"] is not None else 0
