"""The write-side dataflow: cube (facts + nested metadata) → star
schema target tables. Each builder is one lazy DataFrame plan — the
Spark replacement for the reference's chunk-loop + per-chunk inserts
(SURVEY.md §3: "each target table is produced by one end-to-end lazy
plan").

Table lineage (reference file:line in each builder):

    metadata ─┬─ indicator_theme          (dfhandler.py:380–427)
              ├─ dimensions              (dfhandler.py:26–40)
              ├─ dimension_values        (dfhandler.py:93–111)
              └─ reference_dates ── indicators (dfhandler.py:217–300)
    cube ──── prepared ─┬─ indicator_values          (dfhandler.py:430–462)
                        ├─ geo_ref_bridge            (dfhandler.py:185–207)
                        ├─ geo_level_bridge          (dfhandler.py:155–182)
                        └─ new_date_dimension_values (dfhandler.py:114–134)
    indicators ─┬─ indicator_metadata    (dfhandler.py:311–377)
                └─ related_charts        (dfhandler.py:492–541)

ID strategy: dimension-sized tables use contiguous ``sequential_ids``
(exact reference parity); fact-sized tables take the distributed
strategy when ``scale_ids=True`` (SURVEY.md §7).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from geo_explorer_etl_spark.functions import (
    composite_code,
    dguid_geo_level,
    dguid_repair,
    dguid_scrub,
    date_series,
    dummy_subject_suffix,
    generic_wildcard_code,
    html_member_list,
    nth_delimited,
    ordinal_prefix,
    ref_year_normalize,
    strip_coordinate_geography,
    strip_sort_prefix,
    subject_code_of_product,
    substring_after_first,
    truncate_for_column,
    uom_from_combo,
    vector_id,
    year_to_jan1,
)
from geo_explorer_etl_spark.operators import joins as J
from geo_explorer_etl_spark.operators import windows as W
from geo_explorer_etl_spark.plans.policy import ProductPolicy

GEOGRAPHY_DIM = "geography"
DATE_DIM_NAME_EN = "Date"
DATE_DIM_NAME_FR = "Date"
WEB_DISPLAY_LEVEL = "SSSS"  # synthetic "web display" geo level, dfhandler.py:176–179


# ---------------------------------------------------------------------------
# Metadata explode: nested dimension/member JSON -> flat frames
# (reference build_dimension_frames, dfhandler.py:583–594)
# ---------------------------------------------------------------------------
def explode_metadata_members(metadata: DataFrame) -> DataFrame:
    """metadata.dimension[].member[] -> one row per member with the
    owning dimension's position/name/uom flags."""
    dims = metadata.select(
        "productId",
        F.posexplode("dimension").alias("dim_pos", "dim"),
    ).select(
        "productId",
        (F.col("dim.dimensionPositionId")).alias("DimPosId"),
        F.col("dim.dimensionNameEn").alias("DimNameEn"),
        F.col("dim.dimensionNameFr").alias("DimNameFr"),
        F.col("dim.hasUom").alias("HasUom"),
        F.explode("dim.member").alias("m"),
    )
    return dims.select(
        "productId",
        "DimPosId",
        "DimNameEn",
        "DimNameFr",
        "HasUom",
        F.col("m.memberId").alias("MemberId"),
        F.col("m.memberNameEn").alias("MemberNameEn"),
        F.col("m.memberNameFr").alias("MemberNameFr"),
        F.col("m.memberUomCode").alias("MemberUomCode"),
    )


def non_geography_members(members: DataFrame) -> DataFrame:
    """P7 — geography is dimension 1 and never becomes a stored
    dimension (reference dfhandler.py:97, scwds.py:42–45)."""
    return members.filter(F.lower(F.col("DimNameEn")) != GEOGRAPHY_DIM)


# ---------------------------------------------------------------------------
# IndicatorTheme (+ synthesized parent subject rows)
# ---------------------------------------------------------------------------
def build_indicator_theme(
    metadata: DataFrame, subject_codes: DataFrame, next_theme_id_unused: int = 0
) -> DataFrame:
    """Theme rows, full reference hierarchy (dfhandler.py:380–427):
    the product itself (parent = its full subject code, program id =
    its survey code), the 4-digit subject ancestor when the subject
    code is longer than 2 digits, the 2-digit subject root, and the
    web app's dummy "*...Select a ..." selector rows under each
    subject (L6 — suffix "99" past 4 digits else "9999",
    helpers.py:58–61). Subject descriptions come from the subject
    code set via broadcast join (L2). Re-synthesized parent rows are
    idempotent under the store's partition-by-own-id overwrite, which
    replaces the reference's row_count existence probes."""
    subj_full_raw = (
        F.try_element_at(F.col("subjectCode"), F.lit(1))
        if "subjectCode" in metadata.columns
        else F.lit(None).cast("string")
    )
    survey = (
        F.try_element_at(F.col("surveyCode"), F.lit(1)).cast("long")
        if "surveyCode" in metadata.columns
        else F.lit(None).cast("long")
    )
    base = metadata.select(
        F.col("productId").cast("long").alias("pid"),
        F.col("cubeTitleEn").alias("title_en"),
        F.col("cubeTitleFr").alias("title_fr"),
        F.coalesce(subj_full_raw, subject_code_of_product(F.col("productId"))).alias(
            "subj_full"
        ),
        survey.alias("survey"),
    ).withColumn("subj_short", F.substring(F.col("subj_full"), 1, 2))

    def descs(keys: DataFrame) -> DataFrame:
        # L2/F9 — the reference resolves subject descriptions through
        # get_subject_desc_from_code_set, which strips everything up to
        # the first "/" ("Crime and justice/Crimes and offences" ->
        # "Crimes and offences"; reference dfhandler.py:394–405,
        # helpers.py:116–121,129–142). Absent codes yield NULL, matching
        # the reference's `next(..., None)` default.
        return keys.join(
            F.broadcast(
                subject_codes.select(
                    F.col("subjectCode").alias("subject_key"),
                    substring_after_first(F.col("subjectEn"), "/").alias("subjectEn"),
                    substring_after_first(F.col("subjectFr"), "/").alias("subjectFr"),
                )
            ),
            "subject_key",
            "left",
        )

    product_rows = base.select(
        F.col("pid").alias("IndicatorThemeId"),
        F.col("title_en").alias("IndicatorTheme_EN"),
        F.col("title_fr").alias("IndicatorTheme_FR"),
        F.col("survey").alias("StatisticsProgramId"),
        F.col("subj_full").cast("long").alias("ParentThemeId"),
    )
    # 4-digit (or longer) subject ancestor + its dummy product selector
    full = base.filter(F.length("subj_full") > 2)
    full_subject_rows = descs(
        full.select(F.col("subj_full").alias("subject_key"), "subj_short").distinct()
    ).select(
        F.col("subject_key").cast("long").alias("IndicatorThemeId"),
        # Absent code -> NULL, matching the reference's next(..., None)
        # (helpers.py:129-142); no "Unknown subject" literal substitute.
        F.col("subjectEn").alias("IndicatorTheme_EN"),
        F.col("subjectFr").alias("IndicatorTheme_FR"),
        F.lit(None).cast("long").alias("StatisticsProgramId"),
        F.col("subj_short").cast("long").alias("ParentThemeId"),
    )
    dummy_full_rows = full.select(
        F.concat(F.col("subj_full"), dummy_subject_suffix(F.col("subj_full")))
        .cast("long")
        .alias("IndicatorThemeId"),
        F.lit("*...Select a Product").alias("IndicatorTheme_EN"),
        F.lit("*...Sélectionnez un produit").alias("IndicatorTheme_FR"),
        F.lit(None).cast("long").alias("StatisticsProgramId"),
        F.col("subj_full").cast("long").alias("ParentThemeId"),
    ).distinct()
    # 2-digit subject root + its dummy theme selector
    short_subject_rows = descs(
        base.select(F.col("subj_short").alias("subject_key")).distinct()
    ).select(
        F.col("subject_key").cast("long").alias("IndicatorThemeId"),
        # Absent code -> NULL, matching the reference's next(..., None)
        # (helpers.py:129-142); no "Unknown subject" literal substitute.
        F.col("subjectEn").alias("IndicatorTheme_EN"),
        F.col("subjectFr").alias("IndicatorTheme_FR"),
        F.lit(None).cast("long").alias("StatisticsProgramId"),
        F.lit(None).cast("long").alias("ParentThemeId"),
    )
    dummy_short_rows = base.select(
        F.concat(F.col("subj_short"), dummy_subject_suffix(F.col("subj_short")))
        .cast("long")
        .alias("IndicatorThemeId"),
        F.lit("*...Select a Theme ").alias("IndicatorTheme_EN"),
        F.lit("*...Sélectionnez un thème").alias("IndicatorTheme_FR"),
        F.lit(None).cast("long").alias("StatisticsProgramId"),
        F.col("subj_short").cast("long").alias("ParentThemeId"),
    ).distinct()
    out = (
        product_rows.unionByName(full_subject_rows)
        .unionByName(dummy_full_rows)
        .unionByName(short_subject_rows)
        .unionByName(dummy_short_rows)
    )
    return out.select(
        "IndicatorThemeId",
        truncate_for_column(F.col("IndicatorTheme_EN"), 400).alias("IndicatorTheme_EN"),
        truncate_for_column(F.col("IndicatorTheme_FR"), 400).alias("IndicatorTheme_FR"),
        "StatisticsProgramId",
        truncate_for_column(F.col("IndicatorTheme_EN"), 1000).alias(
            "IndicatorThemeDescription_EN"
        ),
        truncate_for_column(F.col("IndicatorTheme_FR"), 1000).alias(
            "IndicatorThemeDescription_FR"
        ),
        "ParentThemeId",
        F.lit("C").alias("IndicatorThemeStatus"),
    )


# ---------------------------------------------------------------------------
# Dimensions / DimensionValues
# ---------------------------------------------------------------------------
def build_dimensions(members: DataFrame, id_offset: int = 0) -> DataFrame:
    """One row per non-geography dimension, a synthetic "Date"
    dimension prepended (DimPosId 0), last real dimension typed
    "Value" (reference dfhandler.py:26–40)."""
    real = (
        non_geography_members(members)
        .select("productId", "DimPosId", "DimNameEn", "DimNameFr")
        .distinct()
    )
    date_dim = real.select("productId").distinct().select(
        "productId",
        F.lit(0).alias("DimPosId"),
        F.lit(DATE_DIM_NAME_EN).alias("DimNameEn"),
        F.lit(DATE_DIM_NAME_FR).alias("DimNameFr"),
    )
    all_dims = date_dim.unionByName(real)
    max_pos = all_dims.groupBy("productId").agg(F.max("DimPosId").alias("_max_pos"))
    typed = all_dims.join(F.broadcast(max_pos), "productId").select(
        "productId",
        "DimPosId",
        F.col("DimNameEn").alias("Dimension_EN"),
        F.col("DimNameFr").alias("Dimension_FR"),
        F.when(F.col("DimPosId") == F.col("_max_pos"), F.lit("Value"))
        .otherwise(F.lit("Filter"))
        .alias("DimensionType"),
    )
    # 1-based per-product display counter (reference dfhandler.py:30)
    typed = W.group_ordinal(
        typed, ["productId"], ["DimPosId"], out_col="DisplayOrder"
    )
    return W.sequential_ids(
        typed, ["productId", "DimPosId"], id_col="DimensionId", offset=id_offset
    )


def build_dimension_values(
    members: DataFrame, dimensions: DataFrame, id_offset: int = 0
) -> DataFrame:
    """Member rows with per-dimension display order and the zero-padded
    ``NN. `` prefix (reference dfhandler.py:93–111): W2 ordinal + F10 +
    F1 strip of any source sort prefix + F11 truncation."""
    m = non_geography_members(members).join(
        F.broadcast(
            dimensions.select("productId", "DimensionId", F.col("Dimension_EN").alias("DimNameEn"))
        ),
        ["productId", "DimNameEn"],
    )
    ordered = W.group_ordinal(
        m, ["DimensionId"], ["DimPosId", "MemberId"], out_col="ValueDisplayOrder"
    )
    disp = ordered.select(
        "productId",
        "DimensionId",
        "MemberId",
        "ValueDisplayOrder",
        truncate_for_column(
            F.concat(
                ordinal_prefix(F.col("ValueDisplayOrder")),
                strip_sort_prefix(F.col("MemberNameEn")),
            ),
            255,
        ).alias("Display_EN"),
        truncate_for_column(
            F.concat(
                ordinal_prefix(F.col("ValueDisplayOrder")),
                strip_sort_prefix(F.col("MemberNameFr")),
            ),
            255,
        ).alias("Display_FR"),
        "MemberUomCode",
    )
    return W.sequential_ids(
        disp,
        ["DimensionId", "ValueDisplayOrder"],
        id_col="DimensionValueId",
        offset=id_offset,
    )


# ---------------------------------------------------------------------------
# Reference dates + Indicators (member cross-product × date fan-out)
# ---------------------------------------------------------------------------
def build_reference_dates(spark: SparkSession, metadata_row: dict) -> DataFrame:
    """D1 — the cube's reference-date series from its start/end/
    frequency (reference dfhandler.py:481–489)."""
    return spark.range(1).select(
        F.explode(
            date_series(
                F.lit(metadata_row["cubeStartDate"]),
                F.lit(metadata_row["cubeEndDate"]),
                freq_code=int(metadata_row["frequencyCode"]),
            )
        ).alias("RefDate")
    )


def build_indicators(
    members: DataFrame,
    ref_dates: DataFrame,
    uom_codes: DataFrame,
    product_id: int,
    id_offset: int = 0,
    policy: "ProductPolicy | None" = None,
    release_date: str | None = None,
) -> DataFrame:
    """The heart of the write side (reference dfhandler.py:217–300):

    1. J13 — cross product of each non-geography dimension's members,
       coordinates and EN/FR name strings built in the same row (never
       zipped by row order — SURVEY.md §7 hard part #1);
    2. M1/L1 — the single real UOM of each combination (last numeric
       code), resolved to text via broadcast join on the code set;
    3. J14 — fan the combinations out over the reference dates,
       dropping pre-``min_ref_year`` dates for non-mixed-geo products
       (reference copy_data_frames_for_date_range,
       dfhandler.py:562–580 — mixed-geo justice products keep all);
    4. F6/F7/F8 — IndicatorCode, display HTML, short names;
    5. W1 — contiguous IndicatorId.
    """
    if policy is not None and policy.min_ref_year and not policy.mixed_geo:
        ref_dates = ref_dates.filter(
            F.year("RefDate") >= F.lit(policy.min_ref_year)
        )
    m = non_geography_members(members).filter(F.col("productId") == product_id)
    dim_pos = [
        r["DimPosId"]
        for r in m.select("DimPosId").distinct().orderBy("DimPosId").collect()
    ]
    dims = []
    for pos in dim_pos:
        dims.append(
            m.filter(F.col("DimPosId") == pos)
            .orderBy("MemberId")
            .select(
                F.col("MemberId").alias("member_id"),
                F.struct(
                    F.col("MemberNameEn").alias("en"),
                    F.col("MemberNameFr").alias("fr"),
                    F.col("MemberUomCode").cast("string").alias("uom"),
                ).alias("member_name"),
            )
        )
    combos = J.member_cross_product(dims)
    n = len(dims)
    name_en = F.concat_ws(" _ ", *[F.col(f"_nm_{i}.en") for i in range(n)])
    name_fr = F.concat_ws(" _ ", *[F.col(f"_nm_{i}.fr") for i in range(n)])
    uom_str = F.concat_ws(" ", *[F.coalesce(F.col(f"_nm_{i}.uom"), F.lit("nan")) for i in range(n)])
    combos = combos.select(
        "coordinate",
        name_en.alias("names_en"),
        name_fr.alias("names_fr"),
        uom_from_combo(uom_str).alias("UOM_ID"),
    )
    combos = combos.join(
        F.broadcast(
            uom_codes.select(
                F.col("memberUomCode").cast("smallint").alias("UOM_ID"),
                F.col("memberUomEn").alias("UOM_EN"),
                F.col("memberUomFr").alias("UOM_FR"),
            )
        ),
        "UOM_ID",
        "left",
    )
    fanned = J.date_fanout(combos, ref_dates)
    ref_year = F.year("RefDate")
    ind = fanned.select(
        F.lit(product_id).cast("long").alias("IndicatorThemeId"),
        "coordinate",
        F.col("RefDate").cast("date").alias("ReferencePeriod"),
        composite_code(
            F.lit(str(product_id)),
            F.col("coordinate"),
            F.date_format("RefDate", "yyyy-MM-dd"),
        ).alias("IndicatorCode"),
        truncate_for_column(
            F.concat(ref_year.cast("string"), F.lit(" - "), F.col("names_en")), 255
        ).alias("IndicatorFmt"),
        truncate_for_column(html_member_list(ref_year, F.col("names_en")), 500).alias(
            "IndicatorDisplay_EN"
        ),
        truncate_for_column(html_member_list(ref_year, F.col("names_fr")), 500).alias(
            "IndicatorDisplay_FR"
        ),
        # IndicatorName is the SECOND-to-last member — it titles
        # related-chart legends (reference dfhandler.py:275–279); the
        # last member is a separate LastIndicatorMember field
        truncate_for_column(nth_delimited(F.col("names_en"), -2), 255).alias(
            "IndicatorName_EN"
        ),
        truncate_for_column(nth_delimited(F.col("names_fr"), -2), 255).alias(
            "IndicatorName_FR"
        ),
        truncate_for_column(nth_delimited(F.col("names_en"), -1), 255).alias(
            "LastIndicatorMember_EN"
        ),
        truncate_for_column(nth_delimited(F.col("names_fr"), -1), 255).alias(
            "LastIndicatorMember_FR"
        ),
        # remaining reference insert columns (build_indicator_df_subset,
        # dfhandler.py:304-309): the full member-name string, the cube's
        # release timestamp, and the always-null Vector field
        truncate_for_column(F.col("names_en"), 500).alias("IndicatorNameLong_EN"),
        truncate_for_column(F.col("names_fr"), 500).alias("IndicatorNameLong_FR"),
        F.lit(release_date).cast("timestamp").alias("ReleaseIndicatorDate"),
        F.lit(None).cast("int").alias("Vector"),
        "UOM_EN",
        "UOM_FR",
        "UOM_ID",
    )
    return W.sequential_ids(
        ind, ["IndicatorCode"], id_col="IndicatorId", offset=id_offset
    )


# ---------------------------------------------------------------------------
# Fact preparation (setup_chunk_columns analog, dfhandler.py:669–691)
# ---------------------------------------------------------------------------
def prepare_values(cube: DataFrame, policy: ProductPolicy) -> DataFrame:
    """One SELECT applying the whole scalar-repair chain:
    F4 scrub → F5 repair (policy-gated) → D2 ref-year → D3 period →
    F12 geo level → F15 vector id → F2 coordinate tail → P3/P4 filter.
    """
    scrubbed = dguid_scrub(F.col("DGUID"))
    ref_year = ref_year_normalize(F.col("REF_DATE"))
    dguid = (
        dguid_repair(scrubbed, ref_year) if policy.repair_dguids else scrubbed
    )
    out = cube.select(
        "*",
        ref_year.alias("RefYear"),
        dguid.alias("DGUID_fixed"),
    ).select(
        F.col("DGUID_fixed").alias("DGUID"),
        "RefYear",
        year_to_jan1(F.col("RefYear")).alias("ReferencePeriod"),
        dguid_geo_level(F.col("DGUID_fixed")).alias("GeographicLevelId"),
        vector_id(F.col("VECTOR")).alias("VectorId"),
        strip_coordinate_geography(F.col("COORDINATE")).alias("Coordinate"),
        composite_code(
            F.lit(str(policy.effective_code_pid)),
            strip_coordinate_geography(F.col("COORDINATE")),
            F.date_format(year_to_jan1(F.col("RefYear")), "yyyy-MM-dd"),
        ).alias("IndicatorCode"),
        F.col("STATUS"),
        F.col("VALUE"),
    )
    return out.filter(
        policy.value_row_filter(F.col("RefYear"), F.col("GeographicLevelId"))
    )


# ---------------------------------------------------------------------------
# IndicatorValues (+ orphan DGUIDs)
# ---------------------------------------------------------------------------
def build_indicator_values(
    prepared: DataFrame,
    geo_ref: DataFrame,
    null_reason: DataFrame,
    id_offset: int = 0,
    scale_ids: bool = True,
    product_id: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """J1 inner vs GeographyReference (orphans captured via anti),
    J2 left vs NullReason, W1 ids, IndicatorValueCode F6
    (reference dfhandler.py:430–462). Returns (values, orphan_dguids).

    ``scale_ids=True`` (the default, and what the E2 pipeline uses)
    assigns IndicatorValueIds with ``keyed_unique_ids`` over the
    (``product_id``, IndicatorValueCode) natural key. The product id is
    part of the key because a merged sibling's codes carry its master's
    product id, so master and sibling rows can share a code. The ids are
    row-local (no shuffle, no Window)
    AND deterministic across re-executions — the bridge plan, which
    re-embeds this lineage as a second job, derives byte-identical ids
    without materializing the frame (``monotonically_increasing_id``
    was nondeterministic under task retries/AQE and could silently
    break the fact↔bridge linkage the reference's DB txn guarantees).
    Only uniqueness + cross-table linkage is semantically required of
    fact ids (SURVEY.md §7); a ``row_number`` over an unpartitioned
    window funnels the whole fact table through ONE task — fatal at
    100 TB. Pass ``scale_ids=False`` only when reference-exact
    contiguous ids are needed on a dimension-sized frame; ``id_offset``
    applies to those sequential ids only.
    """
    with_geo, orphans = J.inner_with_orphans(
        prepared.na.drop(subset=["DGUID"]),
        geo_ref.select(F.col("GeographyReferenceId")),
        "DGUID",
        "GeographyReferenceId",
    )
    vals = with_geo.join(
        F.broadcast(null_reason.select(F.col("Symbol"), F.col("NullReasonId"))),
        with_geo.STATUS == F.col("Symbol"),
        "left",
    ).select(
        composite_code(F.col("DGUID"), F.col("IndicatorCode")).alias("IndicatorValueCode"),
        "IndicatorCode",
        "DGUID",
        F.col("VALUE").alias("Value"),
        "NullReasonId",
    )
    if scale_ids:
        vals = W.keyed_unique_ids(
            vals,
            [F.lit(product_id).cast("long"), "IndicatorValueCode"],
            id_col="IndicatorValueId",
        )
    else:
        vals = W.sequential_ids(
            vals, ["IndicatorValueCode"], id_col="IndicatorValueId", offset=id_offset
        )
    return vals, orphans


# ---------------------------------------------------------------------------
# Bridge tables
# ---------------------------------------------------------------------------
def build_geo_ref_bridge(values: DataFrame, indicators: DataFrame) -> DataFrame:
    """GeographyReferenceForIndicator: geo × indicator × value × period
    (reference dfhandler.py:185–207): J3 broadcast to indicators, J4 to
    values by IndicatorValueCode."""
    return values.join(
        F.broadcast(
            indicators.select("IndicatorCode", "IndicatorId", "ReferencePeriod")
        ),
        "IndicatorCode",
        "inner",
    ).select(
        F.col("DGUID").alias("GeographyReferenceId"),
        "IndicatorId",
        "IndicatorValueId",
        "ReferencePeriod",
    )


def build_geo_level_bridge(
    prepared: DataFrame,
    indicators: DataFrame,
    existing_bridge: DataFrame | None,
    policy: ProductPolicy,
) -> DataFrame:
    """GeographicLevelForIndicator (reference dfhandler.py:155–182):
    F3 recode → distinct (level, indicator) → J6 to indicator ids →
    policy filter → J8 anti vs existing → U2 synthetic ``SSSS`` web
    row per indicator."""
    lv = prepared.select(
        F.regexp_replace(F.col("GeographicLevelId"), "S0504|S0505|S0506", "S0503").alias(
            "GeographicLevelId"
        ),
        "IndicatorCode",
    ).filter(F.col("GeographicLevelId") != "")
    lv = lv.na.drop(subset=["GeographicLevelId"]).distinct()
    with_ids = lv.join(
        F.broadcast(indicators.select("IndicatorCode", "IndicatorId")),
        "IndicatorCode",
        "inner",
    ).select("GeographicLevelId", "IndicatorId")
    with_ids = with_ids.filter(
        policy.geo_level_bridge_filter(F.col("GeographicLevelId"))
    )
    if not policy.is_sibling:
        # every indicator gets a synthetic web-display row — but only
        # for non-sibling products (reference dfhandler.py:176–180
        # gates the SSSS append on ``not is_sibling``)
        web_rows = with_ids.select("IndicatorId").distinct().select(
            F.lit(WEB_DISPLAY_LEVEL).alias("GeographicLevelId"), "IndicatorId"
        )
        out = with_ids.unionByName(web_rows).distinct()
    else:
        out = with_ids.distinct()
    if existing_bridge is not None:
        out = J.anti_new_rows(out, existing_bridge, ["GeographicLevelId", "IndicatorId"])
    return out


def grow_date_dimension(
    prepared: DataFrame,
    date_dimension: DataFrame,
    existing_values: DataFrame,
    id_offset: int = 0,
    order_offset: int = 0,
) -> DataFrame:
    """New "Date" DimensionValues from observed REF_DATEs (reference
    dfhandler.py:114–134): J7 anti vs current Display_EN, display order
    continuing from the per-dimension MAX (A5), W1 ids."""
    observed = prepared.select(
        F.col("RefYear").cast("string").alias("Display_EN")
    ).distinct()
    new_dates = J.anti_new_rows(
        observed,
        existing_values.select(F.trim(F.col("Display_EN")).alias("Display_EN")),
        ["Display_EN"],
    )
    dated = new_dates.crossJoin(
        F.broadcast(date_dimension.select("DimensionId").limit(1))
    ).select(
        "DimensionId",
        "Display_EN",
        F.col("Display_EN").alias("Display_FR"),
        F.lit(None).cast("int").alias("MemberId"),
        F.lit(None).cast("smallint").alias("MemberUomCode"),
    )
    ordered = W.group_ordinal(
        dated, ["DimensionId"], ["Display_EN"], out_col="_ord"
    ).select(
        "*", (F.col("_ord") + F.lit(order_offset)).alias("ValueDisplayOrder")
    ).drop("_ord")
    return W.sequential_ids(
        ordered, ["DimensionId", "ValueDisplayOrder"], id_col="DimensionValueId", offset=id_offset
    )


# ---------------------------------------------------------------------------
# Presentation: IndicatorMetaData + RelatedCharts (+ parameterized views)
# ---------------------------------------------------------------------------
CHART_DEFAULTS = {
    "ColorTo": "#CA0020",
    "ColorFrom": "#0571B0",
    "DefaultBreaksAlgorithmId": 1,
    "DefaultBreaks": 5,
    "PrimaryChartTypeId": 1,
    "PrimaryQuery": "",
    # reference product_defaults.json "default".related_chart_type_id
    "RelatedChartTypeId": 1,
}


def build_indicator_metadata(
    indicators: DataFrame,
    dimension_keys: DataFrame,
    existing_meta: DataFrame | None,
    defaults: dict | None = None,
) -> DataFrame:
    """IndicatorMetaData (reference dfhandler.py:311–377): J9 join to
    dimension unique keys on lower(IndicatorFmt), J10 keep-first reuse
    of existing chart config, M3 defaults. Instead of a generated SQL
    string, PrimaryQuery parameters live as typed columns and the
    query itself is the parameterized view ``primary_query`` below."""
    d = {**CHART_DEFAULTS, **(defaults or {})}
    meta = indicators.select(
        "IndicatorId",
        "IndicatorCode",
        F.lower(F.col("IndicatorFmt")).alias("IndicatorFmt_Lower"),
        "UOM_EN",
        "UOM_FR",
        "UOM_ID",
    )
    meta = meta.join(
        F.broadcast(
            dimension_keys.select(
                F.lower(F.col("IndicatorFmt")).alias("IndicatorFmt_Lower"),
                F.col("DimensionUniqueKey"),
            )
        ),
        "IndicatorFmt_Lower",
        "left",
    )
    # the reference dedups after the keys merge (drop_duplicates on
    # IndicatorId keep-first, dfhandler.py:328) — a shared
    # IndicatorFmt must not fan an indicator out to two metadata rows
    meta = J.keep_first_per_key(meta, "IndicatorId", ["DimensionUniqueKey"])
    if existing_meta is not None:
        # reference reuses ALL five chart-config fields from existing
        # metadata (dfhandler.py:324-340), defaults fill only the gaps
        reuse = J.keep_first_per_key(
            existing_meta.select(
                "IndicatorCode",
                F.col("ColorTo").alias("_ColorTo"),
                F.col("ColorFrom").alias("_ColorFrom"),
                F.col("DefaultBreaks").alias("_DefaultBreaks"),
                F.col("DefaultBreaksAlgorithmId").alias("_DefaultBreaksAlgorithmId"),
                F.col("PrimaryChartTypeId").alias("_PrimaryChartTypeId"),
            ),
            "IndicatorCode",
            ["_ColorTo"],
        )
        meta = meta.join(F.broadcast(reuse), "IndicatorCode", "left")
    else:
        meta = meta.select(
            "*",
            F.lit(None).cast("string").alias("_ColorTo"),
            F.lit(None).cast("string").alias("_ColorFrom"),
            F.lit(None).cast("int").alias("_DefaultBreaks"),
            F.lit(None).cast("int").alias("_DefaultBreaksAlgorithmId"),
            F.lit(None).cast("int").alias("_PrimaryChartTypeId"),
        )
    return meta.select(
        "IndicatorId",
        # id columns duplicated from IndicatorId (dfhandler.py:330-332)
        F.col("IndicatorId").alias("MetaDataId"),
        F.col("IndicatorId").alias("DefaultRelatedChartId"),
        "IndicatorCode",
        "DimensionUniqueKey",
        F.coalesce(F.col("_ColorTo"), F.lit(d["ColorTo"])).alias("ColorTo"),
        F.coalesce(F.col("_ColorFrom"), F.lit(d["ColorFrom"])).alias("ColorFrom"),
        F.coalesce(F.col("_DefaultBreaks"), F.lit(d["DefaultBreaks"])).alias("DefaultBreaks"),
        F.coalesce(
            F.col("_DefaultBreaksAlgorithmId"), F.lit(d["DefaultBreaksAlgorithmId"])
        ).alias("DefaultBreaksAlgorithmId"),
        F.coalesce(
            F.col("_PrimaryChartTypeId"), F.lit(d["PrimaryChartTypeId"])
        ).alias("PrimaryChartTypeId"),
        # FieldAlias/DataFormat renames of the UOM columns
        # (dfhandler.py:333)
        truncate_for_column(F.col("UOM_EN"), 600).alias("FieldAlias_EN"),
        truncate_for_column(F.col("UOM_FR"), 600).alias("FieldAlias_FR"),
        F.col("UOM_ID").cast("int").alias("DataFormatId"),
        "UOM_EN",
        "UOM_FR",
        "UOM_ID",
    )


def build_dimension_unique_keys(dimension_values: DataFrame, indicators: DataFrame) -> DataFrame:
    """The reference builds per-indicator composite member-key strings
    by re-running the member cross product over DimensionValue ids
    (reference dfhandler.py:43–72 + scdb.py:97–106). Spark-first: join
    indicators back to the dimension-value ids through the coordinate
    instead of recombining — same key, no second cross product."""
    return indicators.select(
        "IndicatorFmt",
        F.translate(F.col("coordinate"), ".", "-").alias("DimensionUniqueKey"),
    ).distinct()


def build_related_charts(
    indicators: DataFrame,
    existing_charts: DataFrame | None = None,
    k: int = 10,
    defaults: dict | None = None,
) -> DataFrame:
    """RelatedCharts (reference dfhandler.py:492–541): F16 generic
    wildcard code groups sibling indicators (J15), capped CSV id list;
    chart titles = the LAST indicator member, field aliases = the UOM
    text, DataFormatId = UOM id (dfhandler.py:502–510); ChartTypeId is
    reused from existing chart config when present, else the product's
    ``related_chart_type_id`` default (M3). The reference's generated
    T-SQL ``Query`` string is replaced by the parameterized view
    ``related_charts_query`` driven by ``RelatedIndicatorIds``."""
    d = {**CHART_DEFAULTS, **(defaults or {})}
    generic = indicators.select(
        "IndicatorId",
        "IndicatorCode",
        "LastIndicatorMember_EN",
        "LastIndicatorMember_FR",
        "UOM_EN",
        "UOM_FR",
        "UOM_ID",
        generic_wildcard_code(F.col("IndicatorCode")).alias("GenericCode"),
    )
    related = J.related_topk_csv(
        generic.filter(F.col("GenericCode").isNotNull()),
        "GenericCode",
        "IndicatorId",
        k=k,
    )
    # indicators whose code is too short for a generic form (null
    # GenericCode) fall back to their own id — reference
    # get_related_indicator_list's empty-match branch
    # (dfhandler.py:628–630)
    out = generic.join(related, "GenericCode", "left")
    if existing_charts is not None and "ChartTypeId" in existing_charts.columns \
            and "IndicatorCode" in existing_charts.columns:
        reuse = J.keep_first_per_key(
            existing_charts.select(
                "IndicatorCode", F.col("ChartTypeId").alias("_ChartTypeId")
            ),
            "IndicatorCode",
            ["_ChartTypeId"],
        )
        out = out.join(F.broadcast(reuse), "IndicatorCode", "left")
    else:
        out = out.withColumn("_ChartTypeId", F.lit(None).cast("int"))
    return out.select(
        "IndicatorId",
        F.col("IndicatorId").alias("RelatedChartId"),
        F.col("IndicatorId").alias("IndicatorMetaDataId"),
        "IndicatorCode",
        truncate_for_column(F.col("LastIndicatorMember_EN"), 150).alias("ChartTitle_EN"),
        truncate_for_column(F.col("LastIndicatorMember_FR"), 150).alias("ChartTitle_FR"),
        F.coalesce(
            F.col("related_ids"), F.col("IndicatorId").cast("string")
        ).alias("RelatedIndicatorIds"),
        F.coalesce(F.col("_ChartTypeId"), F.lit(d["RelatedChartTypeId"])).alias(
            "ChartTypeId"
        ),
        F.col("UOM_ID").cast("int").alias("DataFormatId"),
        truncate_for_column(F.col("UOM_EN"), 150).alias("FieldAlias_EN"),
        truncate_for_column(F.col("UOM_FR"), 150).alias("FieldAlias_FR"),
    )


# ---------------------------------------------------------------------------
# Read-side parameterized views (SURVEY.md §2.14) — the stored-SQL
# replacement: the web app's per-indicator queries become functions
# over the star tables.
# ---------------------------------------------------------------------------
def primary_query(
    indicator_id: int,
    geo_ref: DataFrame,
    geo_ref_bridge: DataFrame,
    geo_level: DataFrame,
    geo_level_bridge: DataFrame,
    values: DataFrame,
    indicators: DataFrame,
    null_reason: DataFrame,
    locale: str = "EN",
) -> DataFrame:
    """The generated ``PrimaryQuery`` (reference dfhandler.py:345–363)
    as a parameterized plan: 6 broadcast joins + left null-reason +
    locale CASE formatting, selecting one indicator."""
    loc = locale.upper()
    ind = indicators.filter(F.col("IndicatorId") == indicator_id).select(
        "IndicatorId", "IndicatorThemeId", f"IndicatorName_{loc}", f"IndicatorDisplay_{loc}"
    )
    bridge = geo_ref_bridge.join(F.broadcast(ind), "IndicatorId", "inner")
    joined = (
        bridge.join(
            values.select("IndicatorValueId", "Value", "NullReasonId"),
            "IndicatorValueId",
            "inner",
        )
        .join(
            F.broadcast(
                geo_ref.select(
                    "GeographyReferenceId",
                    f"DisplayNameShort_{loc}",
                    "GeographicLevelId",
                    "Shape",
                )
            ),
            "GeographyReferenceId",
            "inner",
        )
        .join(
            F.broadcast(geo_level.select("GeographicLevelId", f"LevelName_{loc}")),
            "GeographicLevelId",
            "inner",
        )
        .join(
            # levels enabled for THIS indicator (2-key bridge filtered
            # to the parameter, then semi on level)
            F.broadcast(
                geo_level_bridge.filter(F.col("IndicatorId") == indicator_id)
                .select("GeographicLevelId")
                .distinct()
            ),
            "GeographicLevelId",
            "left_semi",
        )
        .join(
            F.broadcast(null_reason.select("NullReasonId", "Symbol")),
            "NullReasonId",
            "left",
        )
    )
    from geo_explorer_etl_spark.functions.nulls import null_display_case_locale

    number_locale = "fr-CA" if loc == "FR" else "en-US"
    return joined.select(
        "GeographyReferenceId",
        F.col(f"DisplayNameShort_{loc}").alias("GeographyName"),
        F.col(f"LevelName_{loc}").alias("GeographicLevelName"),
        F.col(f"IndicatorName_{loc}").alias("IndicatorName"),
        "Value",
        null_display_case_locale(
            F.col("Value"), F.col("Symbol"), locale=number_locale
        ).alias("FormattedValue"),
        "Shape",
    )


def serve_primary_query(
    store,
    indicator_id: int,
    product_id: int,
    geo_ref: DataFrame,
    geo_level: DataFrame,
    null_reason: DataFrame,
    locale: str = "EN",
) -> DataFrame:
    """Store-backed PrimaryQuery serving read — §2.14's web-app shape
    driven straight off a ``TableStore`` with every file-skipping lever
    engaged (``store`` is duck-typed; any object with
    ``read_product_slice`` works):

    1. the two bridges and the indicator row read via
       ``read_product_slice`` with an ``IndicatorId`` equality — other
       products' partitions skip at the driver, and within the
       partition the manifest zone maps drop files that can't hold the
       indicator (maximally effective after
       ``compact(sort_by="IndicatorId")``);
    2. DYNAMIC file pruning for the fact table: ``IndicatorValues``
       carries no IndicatorId, so the indicator's value-id SET is
       computed over the ALREADY-PRUNED bridge (a tiny driver action)
       and pushed as an ``in`` predicate — per-member zone-map checks
       plus per-file BLOOM membership, which prunes even hash-keyed
       ids over an unsorted layout when the store declares
       ``bloom_cols`` on ``IndicatorValueId``. A bridge past the
       10k-id cap falls back to the [min, max] span as a ``between``
       (the same trick Delta's dynamic file pruning plays on join
       keys; wide for hash keys until the values table is compacted
       sorted on ``IndicatorValueId``). Either form is conservative —
       never wrong, since ``read`` re-applies it as a row filter.

    Results are identical to ``primary_query`` over full-table reads —
    pytest-pinned."""
    where_ind = [("IndicatorId", "==", indicator_id)]
    bridge = store.read_product_slice(
        "GeographyReferenceForIndicator", product_id, where=where_ind
    )
    glb = store.read_product_slice(
        "GeographicLevelForIndicator", product_id, where=where_ind
    )
    indicators = store.read_product_slice("Indicators", product_id, where=where_ind)
    missing = [
        name
        for name, df in (
            ("GeographyReferenceForIndicator", bridge),
            ("GeographicLevelForIndicator", glb),
            ("Indicators", indicators),
        )
        if df is None
    ]
    if missing:
        raise ValueError(
            f"serve_primary_query: store at product {product_id} has no data "
            f"for table(s) {', '.join(missing)}"
        )
    # Dynamic file pruning, set form first: the pruned bridge is one
    # indicator's rows (tiny), so its DISTINCT value ids usually fit a
    # driver list — pushed as an ``in`` predicate they engage the
    # manifest BLOOMS (point-set membership), which prune hash-keyed
    # layouts where a [min, max] span is uselessly wide. A bridge
    # bigger than the cap falls back to the span ``between`` (still
    # zone-map-prunable after sorted compaction). Both forms are
    # conservative: ``read`` re-applies the predicate as a row filter.
    id_cap = 10_000
    ids = [
        r[0]
        for r in bridge.select("IndicatorValueId")
        .where(F.col("IndicatorValueId").isNotNull())
        .distinct()
        .limit(id_cap + 1)
        .collect()
    ]
    if ids and len(ids) <= id_cap:
        where_vals = [("IndicatorValueId", "in", ids)]
    else:
        span = bridge.agg(
            F.min("IndicatorValueId").alias("lo"),
            F.max("IndicatorValueId").alias("hi"),
        ).first()
        where_vals = (
            [("IndicatorValueId", "between", (span["lo"], span["hi"]))]
            if span and span["lo"] is not None
            else None
        )
    values = store.read_product_slice("IndicatorValues", product_id, where=where_vals)
    if values is None:
        raise ValueError(
            f"serve_primary_query: store at product {product_id} has no data "
            f"for table(s) IndicatorValues"
        )
    return primary_query(
        indicator_id,
        geo_ref,
        bridge,
        geo_level,
        glb,
        values,
        indicators,
        null_reason,
        locale=locale,
    )


def related_charts_query(
    indicator_id: int,
    related_charts: DataFrame,
    values: DataFrame,
    geo_ref_bridge: DataFrame,
    indicators: DataFrame,
    null_reason: DataFrame,
    dguid: str,
) -> DataFrame:
    """The generated ``RelatedCharts.Query`` (reference
    dfhandler.py:522–529): values for this indicator's ≤10 related
    indicators at one geography."""
    rel = (
        related_charts.filter(F.col("IndicatorId") == indicator_id)
        .select(F.explode(F.split("RelatedIndicatorIds", ",")).alias("rid"))
        .select(F.col("rid").cast("long").alias("IndicatorId"))
    )
    bridge = geo_ref_bridge.join(F.broadcast(rel), "IndicatorId", "left_semi").filter(
        F.col("GeographyReferenceId") == dguid
    )
    return (
        bridge.join(values.select("IndicatorValueId", "Value", "NullReasonId"), "IndicatorValueId")
        .join(F.broadcast(indicators.select("IndicatorId", "IndicatorName_EN")), "IndicatorId")
        .join(F.broadcast(null_reason.select("NullReasonId", "Symbol")), "NullReasonId", "left")
        .select(
            "IndicatorId",
            "IndicatorName_EN",
            "GeographyReferenceId",
            "Value",
            F.when(F.col("Value").isNull(), F.col("Symbol"))
            .otherwise(F.format_number(F.col("Value"), 1))
            .alias("FormattedValue"),
        )
    )
