"""Gap-imputation engine: gap grouping, 7 imputation rules, threshold clamping,
cumulative re-normalization, and imputation summaries.

Re-expression of the reference's vectorized pandas engine
(vectorized_impute.py:112-273,343-748; impute.py:12-131,564-768;
aggregate.py:148-261) as pure Spark window + conditional expressions — no UDFs.

Scale design
------------
Every ordered operation partitions by ``HuisIdBSV``: gap groups are contiguous
runs within one household's time series, so they can never straddle a shuffle
boundary (the reference guards house transitions by hand,
vectorized_impute.py:390-391,489-495; ``Window.partitionBy`` makes it
structural). All subsequent per-gap-group windows partition by
``(HuisIdBSV, <group col>)`` — Spark's ClusteredDistribution is satisfied by
the existing hash(HuisIdBSV) partitioning, so the whole multi-column engine
costs ONE exchange of the fact table regardless of how many cumulative
columns are processed. Per-(project, timestamp) averages and per-project
bounds are separate small aggregates broadcast-joined back.
"""

from __future__ import annotations

from enum import IntFlag, auto

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from ..functions.scalars import qround

from ..config import (
    IMPUTE_CUMULATIVE_COLUMNS,
    THRESHOLDS,
    avg_col,
    check_col,
    diff_col,
    get_diff_columns,
    impute_type_col,
    is_imputed_col,
    old_diff_col,
    original_col,
)

EPS = 1e-8


class ImputeType(IntFlag):
    """Bitmask of imputation methods (reference vectorized_impute.py:785-829)."""

    NONE = 0
    NEGATIVE_GAP_JUMP = auto()  # 1: negative jump (meter reset) -> zeros
    NEAR_ZERO_GAP_JUMP = auto()  # 2: flat gap -> zeros
    LINEAR_FILL = auto()  # 4: positive jump, no project avgs -> linear
    SCALED_FILL = auto()  # 8: positive jump + avgs -> scaled avgs
    ZERO_END_VALUE = auto()  # 16: leading gap ending at 0 -> zeros
    POSITIVE_END_VALUE = auto()  # 32: leading gap ending >0 -> avgs
    NO_END_VALUE = auto()  # 64: trailing gap -> avgs * house factor
    THRESHOLD_ADJUSTED = auto()  # 128: clamped to avg after the fact


# ---------------------------------------------------------------------------
# Stage 1: average-diff preparation (reference impute.py:12-131)
# ---------------------------------------------------------------------------

def household_diff_max_bounds(
    df: DataFrame,
    diff_columns: list[str],
    project_id_column: str = "ProjectIdBSV",
) -> DataFrame:
    """Per-house max of each Diff column plus the per-project outlier upper
    bound (2 x exact p95 of house maxima over values > 1e-8; NULL if none).

    Reference impute.py:55-90. Output: one row per household with
    ``<col>_huis_max`` and ``<col>_upper_bound`` columns.
    """
    # NOTE: config.huis_max_col/upper_bound_col take the CUMULATIVE name and
    # append "Diff"; inputs here are already diff columns, so the suffixes
    # are spelled directly. Same gated-percentile shape as
    # aggregate.filtered_percentile_bounds (both implement reference
    # impute.py:55-90); kept inline for the <c>_huis_max naming contract.
    house_max = df.groupBy(project_id_column, "HuisIdBSV").agg(
        *[F.max(c).alias(f"{c}_huis_max") for c in diff_columns]
    )
    bound_exprs = []
    for c in diff_columns:
        hm = F.col(f"{c}_huis_max")
        gated = F.when(hm > EPS, hm)
        bound_exprs.append(
            (F.percentile(gated, F.lit(0.95)) * 2.0).alias(f"{c}_upper_bound")
        )
    # bounds is one row per PROJECT (dimension-sized at any SF) -> broadcast
    bounds = house_max.groupBy(project_id_column).agg(*bound_exprs)
    return house_max.join(F.broadcast(bounds), project_id_column, "left")


def calculate_average_diff(
    df: DataFrame,
    diff_columns: list[str],
    project_id_column: str = "ProjectIdBSV",
    max_bounds: DataFrame | None = None,
) -> DataFrame:
    """Per (project, ReadingDate) mean of each Diff column over *included*
    households only — a household is included for column c iff its max(c) is
    strictly below the project's upper bound (outlier exclusion,
    reference impute.py:91-118). NULL bound or NULL max -> excluded.

    One conditional aggregate computes every column at once (single shuffle),
    replacing the reference's per-column filter + groupby loop.
    """
    if max_bounds is None:
        max_bounds = household_diff_max_bounds(df, diff_columns, project_id_column)
    # NO broadcast hint: max_bounds is one row per HOUSEHOLD (wide, 2 cols
    # per diff column) — per-house tables scale with the data, not the
    # dims, and a forced broadcast bypasses autoBroadcastJoinThreshold at
    # exactly the scale it matters. The join keys match the fact table's
    # hash partitioning; AQE broadcasts on its own when the table is small.
    joined = df.join(
        max_bounds.select(
            project_id_column,
            "HuisIdBSV",
            *[f"{c}_huis_max" for c in diff_columns],
            *[f"{c}_upper_bound" for c in diff_columns],
        ),
        [project_id_column, "HuisIdBSV"],
        "left",
    )
    agg_exprs = []
    for c in diff_columns:
        include = F.col(f"{c}_huis_max") < F.col(f"{c}_upper_bound")
        agg_exprs.append(F.avg(F.when(include, F.col(c))).alias(f"{c}_avg"))
    return joined.groupBy(project_id_column, "ReadingDate").agg(*agg_exprs)


# ---------------------------------------------------------------------------
# Stage 2: per-column gap grouping + rules (reference vectorized_impute.py)
# ---------------------------------------------------------------------------

def _impute_one_column(
    df: DataFrame,
    cum_col: str,
    project_id_column: str,
    thresholds: dict[str, dict[str, float]],
) -> DataFrame:
    """Impute one cumulative column's Diff in-plan. Adds ``<Var>OldDiff``,
    ``<Var>Diff_is_imputed`` and ``<Var>Diff_impute_type``; the gap-group id
    ``_cvg_<Var>``, the gap length ``_gap_length_<Var>`` and the other
    temporaries are dropped before returning."""
    d, a = diff_col(cum_col), avg_col(cum_col)
    it_col, ii_col = impute_type_col(cum_col), is_imputed_col(cum_col)
    cvg = f"_cvg_{cum_col}"
    gap_len = f"_gap_length_{cum_col}"

    house_w = Window.partitionBy("HuisIdBSV").orderBy("ReadingDate")
    house_all = Window.partitionBy("HuisIdBSV")

    is_na = F.col(d).isNull()
    # gap_start: first NA row of a run (house boundaries handled by the
    # window partitioning; reference vectorized_impute.py:388-392).
    prev_is_na = F.lag(is_na).over(house_w)
    gap_start = is_na & ~F.coalesce(prev_is_na, F.lit(False))

    # cumulative_value_group: gap groups split where the cumulative column has
    # a non-NA value mid-gap (vectorized_impute.py:401-419). The group id is a
    # running count of starts; NULL on non-gap rows.
    cum_value_encountered = F.col(cum_col).isNotNull() & is_na
    df = df.withColumn("_gap_start", gap_start).withColumn(
        "_cve_prev", F.coalesce(F.lag(cum_value_encountered).over(house_w), F.lit(False))
    )
    group_seed = (F.col("_cve_prev") | F.col("_gap_start")).cast("long")
    running_group = F.sum(group_seed).over(
        house_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    df = df.withColumn(cvg, F.when(is_na, running_group))

    group_w = Window.partitionBy("HuisIdBSV", cvg)
    group_ordered = group_w.orderBy("ReadingDate")
    group_full = group_ordered.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )

    df = df.withColumn(
        gap_len, F.when(F.col(cvg).isNotNull(), F.count(F.lit(1)).over(group_w))
    )

    # prev_cum_value: the cumulative value on the row just before the gap
    # (negative -> NULL), broadcast to the whole group
    # (vectorized_impute.py:481-505).
    prev_raw = F.lag(F.col(cum_col)).over(house_w)
    first_in_group = F.col(cvg).isNotNull() & (
        F.coalesce(F.lag(F.col(cvg)).over(house_w), F.lit(-1)) != F.col(cvg)
    )
    prev_seed = F.when(first_in_group & (prev_raw >= 0), prev_raw)
    df = df.withColumn("_prev_seed", prev_seed)
    df = df.withColumn(
        "_prev_cum",
        F.when(
            F.col(cvg).isNotNull(),
            F.first(F.col("_prev_seed"), ignorenulls=True).over(group_full),
        ),
    )

    # end_cum_value: last non-NA cumulative value inside the group
    # (negative -> NULL) (vectorized_impute.py:611-614).
    end_raw = F.when(
        F.col(cvg).isNotNull(),
        F.last(F.col(cum_col), ignorenulls=True).over(group_full),
    )
    df = df.withColumn("_end_cum", F.when(end_raw >= 0, end_raw))

    gap_jump = F.col("_end_cum") - F.col("_prev_cum")
    df = df.withColumn("_gap_jump", gap_jump)

    # impute inputs: project-average diffs, zero-filled; group totals
    # (vectorized_impute.py:535-547).
    impute_values = F.coalesce(F.col(a), F.lit(0.0))
    df = df.withColumn("_impute_values", impute_values)
    df = df.withColumn(
        "_impute_jump",
        F.when(F.col(cvg).isNotNull(), F.sum("_impute_values").over(group_w)),
    )

    # house_impute_factor: sum(avg)/sum(diff) over rows where both are
    # comparable; 0-denominator/inf -> 1.0; forced to 1.0 when comparable rows
    # <= half the house's rows (vectorized_impute.py:554-587).
    comparable = F.col(a).isNotNull() & F.col(d).isNotNull() & (F.col(d) >= 0)
    diff_avg_sum = F.sum(F.when(comparable, F.col(a))).over(house_all)
    cum_diff_sum = F.sum(F.when(comparable, F.col(d))).over(house_all)
    comparable_count = F.sum(comparable.cast("long")).over(house_all)
    total_count = F.count(F.lit(1)).over(house_all)
    factor_raw = F.when(
        F.coalesce(cum_diff_sum, F.lit(0.0)) != 0.0,
        F.coalesce(diff_avg_sum, F.lit(0.0)) / cum_diff_sum,
    )
    factor = F.when(
        comparable_count <= total_count / 2, F.lit(1.0)
    ).otherwise(F.coalesce(factor_raw, F.lit(1.0)))
    df = df.withColumn("_house_factor", factor)

    # --- the rule chain (vectorized_impute.py:630-748). Masks are disjoint;
    # one F.when cascade per output column.
    in_gap = F.col(cvg).isNotNull()
    has_jump = in_gap & F.col("_gap_jump").isNotNull()
    no_jump = in_gap & F.col("_gap_jump").isNull()

    r_negative = has_jump & (F.col("_gap_jump") < 0)
    r_near_zero = has_jump & (F.col("_gap_jump") >= 0) & (F.col("_gap_jump") < EPS)
    r_linear = has_jump & (F.col("_gap_jump") >= EPS) & (F.col("_impute_jump") < EPS)
    r_scaled = has_jump & (F.col("_gap_jump") >= EPS) & (F.col("_impute_jump") >= EPS)
    r_zero_end = no_jump & F.col("_end_cum").isNotNull() & F.col("_prev_cum").isNull() & (
        F.col("_end_cum") < EPS
    )
    # >= EPS, not > EPS: the sibling zero-end rule is < EPS, and a strict >
    # would leave an end value of exactly EPS matching neither rule (the
    # gap would silently stay unimputed).
    r_pos_end = no_jump & F.col("_end_cum").isNotNull() & F.col("_prev_cum").isNull() & (
        F.col("_end_cum") >= EPS
    )
    r_no_end = no_jump & F.col("_end_cum").isNull() & F.col("_prev_cum").isNotNull()

    # pandas `round(x, 10)` is numpy half-even -> F.bround, not F.round.
    linear_value = qround(F.col("_gap_jump") / F.col(gap_len), 10)
    scaled_value = qround(
        F.col("_impute_values") * (F.col("_gap_jump") / F.col("_impute_jump")), 10
    )

    imputed_value = (
        F.when(r_negative | r_near_zero | r_zero_end, F.lit(0.0))
        .when(r_linear, linear_value)
        .when(r_scaled, scaled_value)
        .when(r_pos_end, F.col("_impute_values"))
        .when(r_no_end, F.col("_impute_values") * F.col("_house_factor"))
    )
    rule_type = (
        F.when(r_negative, F.lit(int(ImputeType.NEGATIVE_GAP_JUMP)))
        .when(r_near_zero, F.lit(int(ImputeType.NEAR_ZERO_GAP_JUMP)))
        .when(r_linear, F.lit(int(ImputeType.LINEAR_FILL)))
        .when(r_scaled, F.lit(int(ImputeType.SCALED_FILL)))
        .when(r_zero_end, F.lit(int(ImputeType.ZERO_END_VALUE)))
        .when(r_pos_end, F.lit(int(ImputeType.POSITIVE_END_VALUE)))
        .when(r_no_end, F.lit(int(ImputeType.NO_END_VALUE)))
        .cast("long")
    )
    imputed_flag = imputed_value.isNotNull()

    df = (
        df.withColumn(old_diff_col(cum_col), F.col(d))
        .withColumn("_new_diff", F.coalesce(imputed_value, F.col(d)))
        .withColumn(ii_col, imputed_flag)
        .withColumn(it_col, rule_type)
    )

    # threshold clamp (vectorized_impute.py:58-109): out-of-bounds values are
    # replaced with the project average and THRESHOLD_ADJUSTED is OR-ed in.
    th = thresholds.get(d)
    if th is not None:
        out_of_bounds = F.col("_new_diff").isNotNull() & (
            (F.col("_new_diff") < F.lit(th["Min"])) | (F.col("_new_diff") > F.lit(th["Max"]))
        )
        df = (
            df.withColumn(
                it_col,
                F.when(
                    out_of_bounds,
                    F.coalesce(F.col(it_col), F.lit(0)).bitwiseOR(
                        F.lit(int(ImputeType.THRESHOLD_ADJUSTED))
                    ),
                ).otherwise(F.col(it_col)),
            )
            .withColumn(ii_col, F.when(out_of_bounds, F.lit(True)).otherwise(F.col(ii_col)))
            .withColumn("_new_diff", F.when(out_of_bounds, F.col(a)).otherwise(F.col("_new_diff")))
        )

    df = df.withColumn(d, F.col("_new_diff"))
    return df.drop(
        cvg, gap_len, "_gap_start", "_cve_prev", "_prev_seed", "_prev_cum",
        "_end_cum", "_gap_jump", "_impute_values", "_impute_jump",
        "_house_factor", "_new_diff",
    )


def impute_and_normalize(
    df: DataFrame,
    cumulative_columns: list[str] | None = None,
    project_id_column: str = "ProjectIdBSV",
    thresholds: dict[str, dict[str, float]] | None = None,
    avg_diffs: DataFrame | None = None,
    normalize_columns: list[str] | None = None,
) -> DataFrame:
    """Full imputation: join project averages, impute every cumulative
    column's Diff and rebuild the cumulative columns from imputed diffs.

    ``normalize_columns`` is the set of cumulative columns rebuilt in the
    normalization stage; it defaults to ``cumulative_columns`` plus every
    OTHER registry cumulative column present with its Diff — the reference's
    normalization loop iterates the full etdmap list, not the imputed one
    (aggregate.py:163,200-211), so non-imputed extras like Gasgebruik are
    also rebuilt from their raw diffs (verified value-for-value by
    tests/test_reference_parity.py).

    Returns the imputed DataFrame; its per-(project, house, column) gap
    statistics are :func:`imputation_gap_stats` over it. The whole
    per-column pipeline is one lazy plan with a single exchange (see module
    docstring).
    Reference orchestration: vectorized_impute.py:112-273 + aggregate.py:199-211.
    """
    if cumulative_columns is None:
        cumulative_columns = [c for c in IMPUTE_CUMULATIVE_COLUMNS if c in df.columns]
    if thresholds is None:
        thresholds = THRESHOLDS
    if normalize_columns is None:
        from ..config import CUMULATIVE_COLUMNS

        normalize_columns = list(cumulative_columns) + [
            c
            for c in CUMULATIVE_COLUMNS
            if c not in cumulative_columns
            and c in df.columns
            and diff_col(c) in df.columns
        ]
    diff_columns = get_diff_columns(cumulative_columns)

    if avg_diffs is None:
        avg_diffs = calculate_average_diff(df, diff_columns, project_id_column)
    # avg_diffs is |projects| x |timestamps| — ~1/n_households of the fact
    # table. Broadcast at test scale; at 100 TB AQE picks sort-merge.
    df = df.join(avg_diffs, [project_id_column, "ReadingDate"], "left")

    for cum_col in cumulative_columns:
        df = _impute_one_column(df, cum_col, project_id_column, thresholds)

    # normalization (reference aggregate.py:199-211): Original := cumulative;
    # cumulative := cumsum(imputed Diff); Check := diff(new - original).
    house_w = Window.partitionBy("HuisIdBSV").orderBy("ReadingDate")
    cum_frame = house_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    norm_cols: dict[str, Column] = {}
    for cum_col in normalize_columns:
        d = diff_col(cum_col)
        norm_cols[original_col(cum_col)] = F.col(cum_col)
        # pandas cumsum leaves NaN at NA positions (but keeps accumulating
        # past them); a plain running sum would backfill those rows.
        norm_cols[cum_col] = F.when(
            F.col(d).isNotNull(), F.sum(F.col(d)).over(cum_frame)
        )
    df = df.withColumns(norm_cols)
    check_cols = {
        check_col(c): (F.col(c) - F.col(original_col(c)))
        - F.lag(F.col(c) - F.col(original_col(c))).over(house_w)
        for c in normalize_columns
    }
    return df.withColumns(check_cols)


# ---------------------------------------------------------------------------
# Stage 3: summaries (reference impute.py:671-759, vectorized_impute.py:168-188)
# ---------------------------------------------------------------------------

def imputation_gap_stats(
    df: DataFrame,
    cumulative_columns: list[str],
    project_id_column: str = "ProjectIdBSV",
) -> DataFrame:
    """Per (project, house, diff column): totals, deviation from the
    cumulative min-max difference, gap/imputed counts, and the distinct
    method list + bitmask. One wide aggregate, then an explode to long form
    (one shuffle; the reference does a groupby().apply per column).

    ``df`` is the output of :func:`impute_and_normalize` — in the pipeline,
    the written ``household_imputed`` family — and only its columns are
    read: a gap row is one whose ``<Var>OldDiff`` (the pre-imputation Diff)
    is NULL, the min-max runs over ``<Var>Original`` (the cumulative column
    before normalization), and ``<Var>Diff`` / ``<Var>Diff_impute_type``
    are the imputed values as written."""
    per_col_structs = []
    for cum_col in cumulative_columns:
        d, it = diff_col(cum_col), impute_type_col(cum_col)
        orig = F.col(original_col(cum_col))
        in_gap = F.col(old_diff_col(cum_col)).isNull()
        # pandas .sum() over an all-NA group is 0.0, not NA
        # (vectorized_impute.py:168 diff_column_total) — parity-pinned by
        # tests/test_reference_parity.py on an all-NA household column
        diff_total = F.coalesce(F.sum(F.col(d)), F.lit(0.0))
        minmax = F.max(orig) - F.min(orig)
        methods = F.array_sort(
            F.array_distinct(F.collect_list(F.col(it)))
        )
        per_col_structs.append(
            F.struct(
                F.lit(d).alias("column"),
                diff_total.alias("diff_col_total"),
                minmax.alias("cum_col_min_max_diff"),
                (diff_total - minmax).alias("deviation"),
                F.count(F.when(in_gap, F.lit(1))).alias("missing"),
                methods.alias("methods"),
                # reference semantics (vectorized_impute.py:176): every row
                # with an impute_type counts as imputed — threshold clamps
                # OUTSIDE gaps included (they did replace a value)
                F.count(F.col(it)).alias("imputed"),
                # ...but imputed_na ("gap rows left NA") stays gap-gated:
                # the reference subtracts ALL imputes from the gap-row count
                # (impute.py:177-178) and goes NEGATIVE when clamps fire
                # outside gaps — a documented §2.10 defect disposition; the
                # exact reconciliation is asserted by test_reference_parity
                F.count(
                    F.when(in_gap & F.col(it).isNull(), F.lit(1))
                ).alias("imputed_na"),
                F.coalesce(
                    F.bit_or(F.col(it)), F.lit(0)
                ).alias("bitwise_methods"),
            )
        )
    wide = df.groupBy(project_id_column, "HuisIdBSV").agg(
        F.array(*per_col_structs).alias("_stats")
    )
    return wide.select(
        project_id_column, "HuisIdBSV", F.inline("_stats")
    )


def imputation_summaries(
    gap_stats: DataFrame,
    df: DataFrame,
    project_id_column: str = "ProjectIdBSV",
) -> tuple[DataFrame, DataFrame]:
    """House and project rollups with ``percentage_imputed``
    (reference impute.py:671-759)."""
    # per-household total: scales with data -> no forced broadcast (AQE
    # decides); per-project total below IS dimension-sized and stays hinted
    total_house = df.groupBy("HuisIdBSV").agg(F.count(F.lit(1)).alias("total_records"))
    summary_house = (
        # the reference's house summary selects gap stats WITHOUT deviation
        # (impute.py:672-685) — parity-pinned column set
        gap_stats.drop("deviation")
        .join(total_house, "HuisIdBSV")
        .withColumn("percentage_imputed", F.col("imputed") / F.col("total_records") * 100)
    )
    total_project = df.groupBy(project_id_column).agg(
        F.count(F.lit(1)).alias("total_records")
    )
    summary_project = (
        gap_stats.groupBy(project_id_column, "column")
        .agg(
            F.bit_or("bitwise_methods").alias("bitwise_methods"),
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("methods")))
            ).alias("methods"),
            F.sum("missing").alias("missing"),
            F.sum("imputed").alias("imputed"),
            F.sum("imputed_na").alias("imputed_na"),
        )
        .join(F.broadcast(total_project), project_id_column)
        .withColumn("percentage_imputed", F.col("imputed") / F.col("total_records") * 100)
    )
    return summary_house, summary_project


def imputation_reading_date_stats(
    df: DataFrame,
    cumulative_columns: list[str] | None = None,
) -> DataFrame:
    """Per-ReadingDate imputation stats across all households: how many
    diffs were imputed at each timestamp, with the OR-ed method mask —
    the cross-sectional view that localizes systematic outages (a whole
    project dark at 03:00) which the per-house summaries average away.

    Implements the reference's UNUSED/disabled
    ``get_reading_date_imputation_stats`` (impute.py:330-412;
    ``imputation_reading_date_stats_df = None`` at
    vectorized_impute.py:271) as a single hash aggregate over the imputed
    frame — per-timestamp group counts, map-side combined.
    """
    if cumulative_columns is None:
        cumulative_columns = [
            c for c in IMPUTE_CUMULATIVE_COLUMNS
            if f"{c}Diff_is_imputed" in df.columns
        ]
    # countDistinct, not count(*): a re-delivered duplicate reading would
    # otherwise inflate the household denominator at its timestamp
    aggs = [F.countDistinct("HuisIdBSV").alias("n_households")]
    for c in cumulative_columns:
        flag = F.col(f"{c}Diff_is_imputed")
        aggs += [
            F.count(F.when(flag, F.lit(1))).alias(f"{c}Diff_imputed"),
            F.expr(
                f"bit_or(coalesce(`{c}Diff_impute_type`, CAST(0 AS BIGINT)))"
            ).alias(f"{c}Diff_impute_type_mask"),
        ]
    return df.groupBy("ReadingDate").agg(*aggs)
