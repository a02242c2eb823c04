"""Orchestration: the reference's three entry points (SURVEY.md §3)
as driver-side coordination over lazy DataFrame plans.

E1 insert_product  (reference main.py:28–96)
E2 append_product  (reference main.py:123–281)
E3 refresh_date_range (reference main.py:98–121)

The chunk loop, per-chunk MAX-id reads, and manual gc of the reference
disappear: each target table is one end-to-end plan executed once per
product; IDs are assigned once over the whole input (SURVEY.md §7
"chunk-loop ID interleaving").
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geo_explorer_etl_spark.plans import star_schema as SS
from geo_explorer_etl_spark.plans.policy import ProductPolicy
from geo_explorer_etl_spark.plans.schemas import conform
from geo_explorer_etl_spark.operators import joins as J
from geo_explorer_etl_spark.sources.cube_csv import read_cube_csv
from geo_explorer_etl_spark.sources.merge_registry import MergeRegistry
from geo_explorer_etl_spark.sources.product_defaults import ProductDefaults
from geo_explorer_etl_spark.sources.store import BucketedStore, PARTITION_COL, TableStore
from geo_explorer_etl_spark.sources.wds import WdsClient

log = logging.getLogger(__name__)

# Mixed-geo justice product ids (reference main.py:20 lists four:
# 35100177, 35100002, 35100026, 35100068 — master pids only).
MIXED_GEO_PIDS = {35100177, 35100002, 35100026, 35100068}


@dataclass
class Pipeline:
    spark: SparkSession
    store: TableStore
    wds: WdsClient
    registry: MergeRegistry
    geo_ref: DataFrame
    null_reason: DataFrame
    uom_codes: DataFrame
    subject_codes: DataFrame
    chart_defaults: ProductDefaults = field(default_factory=ProductDefaults)
    # opt-in co-located mirror of the two fact tables, bucketed on
    # IndicatorValueId: the values⋈bridge join (PrimaryQuery's spine)
    # then runs with zero Exchange on both sides at any scale
    bucketed: BucketedStore | None = None

    def policy_for(self, pid: int) -> ProductPolicy:
        is_sibling = self.registry.is_sibling(pid)
        return ProductPolicy(
            product_id=pid,
            mixed_geo=pid in MIXED_GEO_PIDS,
            is_sibling=is_sibling,
            code_product_id=self.registry.master_of(pid) if is_sibling else None,
        )

    # ------------------------------------------------------------------ E1
    def insert_product(self, pids: list[int], csv_path_for) -> None:
        """New product(s): guard against existing ids, register merges,
        build dimensional tables, then run the append path."""
        for pid in pids:
            if self.store.product_exists(pid):
                raise ValueError(f"product {pid} already exists — use append")
        if len(pids) > 1:
            self.registry.register(pids[0], pids[1:])
        for pid in self.registry.ordered(pids):
            self._insert_dimensional(pid)
            self.append_product(pid, csv_path_for(pid))

    def _insert_dimensional(self, pid: int) -> None:
        metadata = self.wds.cube_metadata(pid)
        members = SS.explode_metadata_members(metadata)
        themes = SS.build_indicator_theme(metadata, self.subject_codes)
        dims = SS.build_dimensions(
            members, id_offset=self.store.max_id("Dimensions", "DimensionId")
        )
        dvals = SS.build_dimension_values(
            members, dims, id_offset=self.store.max_id("DimensionValues", "DimensionValueId")
        )
        # conform: declared schema + fixed-width truncation (F11) in one
        # place. IndicatorTheme partitions by the row's OWN theme id:
        # the product row lands in partition {pid}; synthesized parent
        # subject rows land in their subject-id partitions, so two
        # products sharing a subject overwrite the same one-row
        # partition with identical content (no duplicates), and
        # deleting a product leaves shared parents alone. The three
        # writes are independent, so they run concurrently.
        self.store.replace_product_each(
            pid,
            {
                "IndicatorTheme": conform(themes, "IndicatorTheme"),
                "Dimensions": conform(
                    dims.withColumnRenamed("productId", PARTITION_COL), "Dimensions"
                ),
                "DimensionValues": conform(dvals, "DimensionValues"),
            },
        )

    # ------------------------------------------------------------------ E2
    def append_product(self, pid: int, csv_path: str) -> dict[str, int]:
        """Full refresh of one product's fact-side tables: replace
        semantics (I2) + incremental dimension growth (I3)."""
        policy = self.policy_for(pid)
        metadata = self.wds.cube_metadata(pid)
        members = SS.explode_metadata_members(metadata)
        dim_names = [
            r["DimNameEn"]
            for r in members.select("DimPosId", "DimNameEn").distinct().orderBy("DimPosId").collect()
        ]

        # indicators: masters/singles build; siblings reuse the master's
        if policy.is_sibling:
            master = self.registry.master_of(pid)
            # partition-predicate read: other products' partitions are
            # skipped at the driver (manifest listing), not post-listing
            indicators = self.store.read_product_slice("Indicators", master)
        else:
            cube_meta = metadata.first().asDict()
            ref_dates = SS.build_reference_dates(self.spark, cube_meta)
            # materialized once: the Indicators write, both bridges, the
            # metadata, its unique keys and RelatedCharts all consume it,
            # and each would otherwise re-run the member cross product,
            # the date fan-out and the single-partition id window
            indicators = SS.build_indicators(
                members,
                ref_dates,
                self.uom_codes,
                pid,
                id_offset=self.store.max_id("Indicators", "IndicatorId", exclude_product=pid),
                policy=policy,
                release_date=cube_meta.get("releaseTime"),
            ).localCheckpoint(eager=True)

        cube = read_cube_csv(self.spark, csv_path, dim_names)
        prepared = SS.prepare_values(cube, policy)

        values, orphans = SS.build_indicator_values(
            prepared, self.geo_ref, self.null_reason, product_id=pid
        )
        # bounded collect: a bad feed can orphan millions of DGUIDs —
        # never materialize more than 1000 on the driver
        orphan_sample = [r["DGUID"] for r in orphans.limit(1000).collect()]
        orphan_count = (
            orphans.count() if len(orphan_sample) == 1000 else len(orphan_sample)
        )
        if orphan_count:
            log.warning(
                "product %s: %d orphan DGUIDs: %s", pid, orphan_count, orphan_sample[:10]
            )

        # `values` feeds two staging writes that run concurrently
        # (IndicatorValues + the bridge) and the bucketed mirror; a task
        # needing a block another task is still caching waits for it.
        # Ids are deterministic (keyed_unique_ids), so this persist is a
        # pure perf hint, not a correctness requirement: if a cached
        # block is evicted or an executor dies, the recomputed lineage
        # yields byte-identical rows.
        from pyspark import StorageLevel

        values = values.persist(StorageLevel.DISK_ONLY)
        geo_ref_bridge = SS.build_geo_ref_bridge(values, indicators)
        # anti-join state = other products only: the reference deletes
        # this product's rows before rebuilding, and reading the
        # partition we're about to overwrite would race the write
        existing_glb = self.store.read_other_products("GeographicLevelForIndicator", pid)
        geo_level_bridge = SS.build_geo_level_bridge(
            prepared,
            indicators,
            existing_glb.drop(PARTITION_COL) if existing_glb is not None else None,
            policy,
        )

        # replace-then-append in partition terms: every fact table is
        # written as this product's partition. Row accounting (A4,
        # reference main.py:225–233) rides the write itself via
        # observe() — no second execution of each plan for a count.
        from pyspark.sql import Observation

        obs = {n: Observation(n) for n in ("values", "grb", "glb", "indicators")}
        values_out = conform(values, "IndicatorValues").observe(
            obs["values"], F.count(F.lit(1)).alias("n")
        )
        grb_out = conform(geo_ref_bridge, "GeographyReferenceForIndicator").observe(
            obs["grb"], F.count(F.lit(1)).alias("n")
        )
        glb_out = conform(geo_level_bridge, "GeographicLevelForIndicator").observe(
            obs["glb"], F.count(F.lit(1)).alias("n")
        )
        frames = {
            "IndicatorValues": values_out,
            "GeographyReferenceForIndicator": grb_out,
            "GeographicLevelForIndicator": glb_out,
        }
        if not policy.is_sibling:
            # keep `coordinate` alongside the declared columns: the
            # store copy must let siblings/metadata rebuild unique keys
            frames["Indicators"] = conform(
                indicators, "Indicators", keep=["coordinate"]
            ).observe(obs["indicators"], F.count(F.lit(1)).alias("n"))
            # presentation tables join the same transaction — the
            # chart-config reuse (J10) legitimately reads the partition
            # being replaced. That needs no checkpoint: store.read()
            # binds its file list when called, replace_product_all
            # finishes every staging write (which runs these plans)
            # before its publish swap, and superseded files stay on
            # disk until vacuum().
            keys = SS.build_dimension_unique_keys(None, indicators)
            existing_meta = self.store.read("IndicatorMetaData")
            meta = SS.build_indicator_metadata(
                indicators,
                keys,
                existing_meta.drop(PARTITION_COL) if existing_meta is not None else None,
                defaults=self.chart_defaults.for_product(pid),
            )
            existing_rc = self.store.read("RelatedCharts")
            charts = SS.build_related_charts(
                indicators,
                existing_charts=(
                    existing_rc.drop(PARTITION_COL) if existing_rc is not None else None
                ),
                defaults=self.chart_defaults.for_product(pid),
            )
            frames["IndicatorMetaData"] = conform(meta, "IndicatorMetaData")
            frames["RelatedCharts"] = conform(charts, "RelatedCharts")
        # one transaction for every table of this product: all-or-
        # nothing across tables (reference scdb.py:51-71's DB txn)
        try:
            self.store.replace_product_all(pid, frames)
            if self.bucketed is not None:
                # bucketed mirror AFTER the txn commits (the mirror is a
                # derived layout, not the source of truth); both writes
                # reuse the persisted `values`
                self.bucketed.mirror_product(
                    conform(values, "IndicatorValues"),
                    "IndicatorValuesBucketed",
                    pid,
                    "IndicatorValueId",
                )
                self.bucketed.mirror_product(
                    conform(geo_ref_bridge, "GeographyReferenceForIndicator"),
                    "GeographyReferenceForIndicatorBucketed",
                    pid,
                    "IndicatorValueId",
                )
        finally:
            values.unpersist()

        # date-dimension growth (I3 anti-join append)
        dims = self.store.read("Dimensions")
        if dims is not None:
            date_dim = dims.filter(
                (F.col(PARTITION_COL) == pid) & (F.col("Dimension_EN") == "Date")
            )
            existing_dv = self.store.read("DimensionValues")
            existing_dates = (
                existing_dv.join(
                    date_dim.select("DimensionId"), "DimensionId", "left_semi"
                )
                if existing_dv is not None
                else self.spark.createDataFrame([], "Display_EN string")
            )
            new_dates = SS.grow_date_dimension(
                prepared,
                date_dim,
                existing_dates.select("Display_EN"),
                id_offset=self.store.max_id("DimensionValues", "DimensionValueId"),
                order_offset=self._max_display_order(existing_dates),
            )
            if new_dates.limit(1).count() > 0:
                self.store.append(
                    "DimensionValues",
                    new_dates.withColumn(PARTITION_COL, F.lit(pid).cast("long")),
                )

        return {
            # a sibling writes no Indicators: it reuses the master's slice
            "indicators": (
                indicators.count() if policy.is_sibling else obs["indicators"].get["n"]
            ),
            "values": obs["values"].get["n"],
            "geo_ref_bridge": obs["grb"].get["n"],
            "geo_level_bridge": obs["glb"].get["n"],
            "orphans": orphan_count,
        }

    @staticmethod
    def _max_display_order(existing_dates: DataFrame) -> int:
        if "ValueDisplayOrder" not in existing_dates.columns:
            return 0
        row = existing_dates.agg(F.max("ValueDisplayOrder").alias("m")).first()
        return int(row["m"]) if row and row["m"] is not None else 0

    # ------------------------------------------------------------------ E3
    def refresh_date_range(self, start: str, end: str, csv_path_for) -> list[int]:
        """Poll the changed-cube list per day (I1), keep products we
        store, drop merged members with a warning, re-append the rest
        (reference main.py:98–121)."""
        from geo_explorer_etl_spark.functions.dates import day_series_df

        days = [r["day"].isoformat() for r in day_series_df(self.spark, start, end).collect()]
        changed: set[int] = set()
        for d in days:
            changed.update(self.wds.changed_cubes(d))
        ours = [p for p in sorted(changed) if self.store.product_exists(p)]
        to_run = []
        for pid in ours:
            if self.registry.is_merged_member(pid):
                log.warning("product %s is merged; refresh it explicitly", pid)
                continue
            to_run.append(pid)
        for pid in to_run:
            self.append_product(pid, csv_path_for(pid))
        return to_run
