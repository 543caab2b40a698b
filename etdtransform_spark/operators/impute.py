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
columns are processed. Per-(project, timestamp) averages are a small
aggregate broadcast-joined back; per-project bounds a window over house maxima.

The imputation is six ``withColumns`` projections that all imputed columns
share (:func:`impute_columns`): (1) gap starts, the previous
cumulative-encountered flag, impute values and the house factor; (2) the
gap-group id; (3) the group windows; (4) the previous cumulative value; (5)
the rule chain; (6) the clamp and the outputs. Spark analyses the plan six
times per pass, not ~20 times per column as for a ``withColumn`` chain.
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
    # config.huis_max_col/upper_bound_col take the CUMULATIVE name and append
    # "Diff"; inputs here are already diff columns, so the suffixes are
    # spelled directly.
    house_max = df.groupBy(project_id_column, "HuisIdBSV").agg(
        *[F.max(c).alias(f"{c}_huis_max") for c in diff_columns]
    )
    # the bound is a window over the project's house maxima: one exchange of
    # the maxima, not a second groupBy broadcast and joined back (5 jobs -> 3)
    project_w = Window.partitionBy(project_id_column)
    maxima = [F.col(f"{c}_huis_max") for c in diff_columns]
    return house_max.select("*", *[
        (F.percentile(F.when(hm > EPS, hm), F.lit(0.95)).over(project_w) * 2.0)
        .alias(f"{c}_upper_bound") for c, hm in zip(diff_columns, maxima)
    ])


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

def _impute_stages(
    cum_col: str, thresholds: dict[str, dict[str, float]]
) -> tuple[list[dict[str, Column]], list[str]]:
    """One cumulative column's share of the six stages of
    :func:`impute_columns`, and the names of its temporaries. A stage reads
    only the input and the columns that earlier stages added."""
    d, a = diff_col(cum_col), avg_col(cum_col)
    it_col, ii_col = impute_type_col(cum_col), is_imputed_col(cum_col)
    t = {k: f"_{k}_{cum_col}" for k in (
        "gap_start cve_prev impute_values house_factor cvg gap_length "
        "prev_seed end_cum impute_jump prev_cum new_diff"
    ).split()}
    c = {k: F.col(v) for k, v in t.items()}

    house_w = Window.partitionBy("HuisIdBSV").orderBy("ReadingDate")
    house_all = Window.partitionBy("HuisIdBSV")
    group_w = Window.partitionBy("HuisIdBSV", t["cvg"])
    group_full = group_w.orderBy("ReadingDate").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    is_na = F.col(d).isNull()
    in_gap = c["cvg"].isNotNull()

    # gap_start: first NA row of a run (house boundaries handled by the
    # window partitioning; reference vectorized_impute.py:388-392).
    gap_start = is_na & ~F.coalesce(F.lag(is_na).over(house_w), F.lit(False))
    # cumulative_value_group: gap groups split where the cumulative column has
    # a non-NA value mid-gap (vectorized_impute.py:401-419). The group id is a
    # running count of starts; NULL on non-gap rows.
    cum_value_encountered = F.col(cum_col).isNotNull() & is_na
    running_group = F.sum((c["cve_prev"] | c["gap_start"]).cast("long")).over(
        house_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
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

    # prev_cum_value: the cumulative value on the row just before the gap
    # (negative -> NULL), seeded on the group's first row and broadcast to
    # the whole group (vectorized_impute.py:481-505).
    prev_raw = F.lag(F.col(cum_col)).over(house_w)
    first_in_group = in_gap & (
        F.coalesce(F.lag(c["cvg"]).over(house_w), F.lit(-1)) != c["cvg"]
    )
    # end_cum_value: last non-NA cumulative value inside the group
    # (negative -> NULL) (vectorized_impute.py:611-614).
    end_raw = F.when(in_gap, F.last(F.col(cum_col), ignorenulls=True).over(group_full))

    # --- the rule chain (vectorized_impute.py:630-748). Masks are disjoint;
    # one F.when cascade per output column.
    prev_cum, end_cum, impute_jump = c["prev_cum"], c["end_cum"], c["impute_jump"]
    impute_values, gap_jump = c["impute_values"], end_cum - prev_cum
    has_jump = in_gap & gap_jump.isNotNull()
    no_jump = in_gap & gap_jump.isNull()

    r_negative = has_jump & (gap_jump < 0)
    r_near_zero = has_jump & (gap_jump >= 0) & (gap_jump < EPS)
    r_linear = has_jump & (gap_jump >= EPS) & (impute_jump < EPS)
    r_scaled = has_jump & (gap_jump >= EPS) & (impute_jump >= EPS)
    r_zero_end = no_jump & end_cum.isNotNull() & prev_cum.isNull() & (end_cum < EPS)
    # >= EPS, not > EPS: the sibling zero-end rule is < EPS, and a strict >
    # would leave an end value of exactly EPS matching neither rule (the
    # gap would silently stay unimputed).
    r_pos_end = no_jump & end_cum.isNotNull() & prev_cum.isNull() & (end_cum >= EPS)
    r_no_end = no_jump & end_cum.isNull() & prev_cum.isNotNull()

    # pandas `round(x, 10)` is numpy half-even -> F.bround, not F.round.
    linear_value = qround(gap_jump / c["gap_length"], 10)
    scaled_value = qround(impute_values * (gap_jump / impute_jump), 10)

    imputed_value = (
        F.when(r_negative | r_near_zero | r_zero_end, F.lit(0.0))
        .when(r_linear, linear_value)
        .when(r_scaled, scaled_value)
        .when(r_pos_end, impute_values)
        .when(r_no_end, impute_values * c["house_factor"])
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

    # threshold clamp (vectorized_impute.py:58-109): out-of-bounds values are
    # replaced with the project average and THRESHOLD_ADJUSTED is OR-ed in.
    new_diff = c["new_diff"]
    outputs = {d: new_diff}
    th = thresholds.get(d)
    if th is not None:
        out_of_bounds = new_diff.isNotNull() & (
            (new_diff < F.lit(th["Min"])) | (new_diff > F.lit(th["Max"]))
        )
        outputs = {
            it_col: F.when(
                out_of_bounds,
                F.coalesce(F.col(it_col), F.lit(0)).bitwiseOR(
                    F.lit(int(ImputeType.THRESHOLD_ADJUSTED))
                ),
            ).otherwise(F.col(it_col)),
            ii_col: F.when(out_of_bounds, F.lit(True)).otherwise(F.col(ii_col)),
            d: F.when(out_of_bounds, F.col(a)).otherwise(new_diff),
        }

    stages = [
        {  # 1: gap starts, flags, impute values, house factor
            t["gap_start"]: gap_start,
            t["cve_prev"]: F.coalesce(
                F.lag(cum_value_encountered).over(house_w), F.lit(False)
            ),
            # impute inputs: project-average diffs, zero-filled
            # (vectorized_impute.py:535-547).
            t["impute_values"]: F.coalesce(F.col(a), F.lit(0.0)),
            t["house_factor"]: factor,
        },
        {t["cvg"]: F.when(is_na, running_group)},  # 2: gap-group id
        {  # 3: group windows
            t["gap_length"]: F.when(in_gap, F.count(F.lit(1)).over(group_w)),
            t["prev_seed"]: F.when(first_in_group & (prev_raw >= 0), prev_raw),
            t["end_cum"]: F.when(end_raw >= 0, end_raw),
            t["impute_jump"]: F.when(in_gap, F.sum(impute_values).over(group_w)),
        },
        {  # 4: prev_seed broadcast to the whole group
            t["prev_cum"]: F.when(
                in_gap, F.first(c["prev_seed"], ignorenulls=True).over(group_full)
            )
        },
        {  # 5: rule chain
            old_diff_col(cum_col): F.col(d),
            t["new_diff"]: F.coalesce(imputed_value, F.col(d)),
            ii_col: imputed_value.isNotNull(),
            it_col: rule_type,
        },
        outputs,  # 6: clamp and outputs
    ]
    return stages, list(t.values())


def impute_columns(
    df: DataFrame,
    cumulative_columns: list[str],
    thresholds: dict[str, dict[str, float]] | None = None,
) -> DataFrame:
    """Impute each cumulative column's Diff in-plan, in six ``withColumns``
    projections that all columns share (see the module docstring). ``df``
    carries ``<Var>``, ``<Var>Diff`` and the project average
    ``<Var>Diff_avg``. Replaces every ``<Var>Diff`` in place and appends,
    per column in order, ``<Var>OldDiff``, ``<Var>Diff_is_imputed`` and
    ``<Var>Diff_impute_type``."""
    if thresholds is None:
        thresholds = THRESHOLDS
    per_col = [_impute_stages(c, thresholds) for c in cumulative_columns]
    for stage in zip(*(stages for stages, _ in per_col)):
        df = df.withColumns({k: v for exprs in stage for k, v in exprs.items()})
    return df.drop(*[name for _, temps in per_col for name in temps])


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

    df = impute_columns(df, cumulative_columns, thresholds)

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
