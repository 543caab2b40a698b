"""Period analytics: extreme rolling-average periods, coldest-weeks marking,
ISO-week statistics, and the simultaneity (gelijktijdigheid) ratio.

Reference: calculated_columns.py:148-556 and load_data.py:103-246.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalars import ts_micros

from .windows import rolling_avg_min_periods


def add_rolling_avg(
    df: DataFrame,
    column: str,
    window_rows: int,
    partition_cols: list[str],
    order_col: str = "ReadingDate",
    min_periods: int | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Trailing row-based rolling mean with a min_periods gate (reference
    rolling-mean usage at load_data.py:122-128, calculated_columns.py:148-205:
    window = n rows, min_periods = n/2)."""
    w = Window.partitionBy(*partition_cols).orderBy(order_col)
    return df.withColumn(
        out_col or f"{column}_rolling_avg",
        rolling_avg_min_periods(column, w, window_rows, min_periods),
    )


def get_extreme_avg_period(
    df: DataFrame,
    column: str,
    window_rows: int,
    partition_cols: list[str],
    order_col: str = "ReadingDate",
    step_seconds: int = 300,
    highest: bool = True,
) -> DataFrame:
    """Per group: the (StartTime, EndTime, value) of the highest/lowest
    trailing rolling average of ``column`` (reference
    get_highest_avg_period calculated_columns.py:209-294 /
    get_lowest_avg_period calculated_columns.py:340-425).

    EndTime is the row where the extreme trailing average ends; StartTime is
    (window_rows - 1) steps earlier. Ties resolve to the earliest EndTime —
    deterministic, matching pandas idxmax/idxmin first-occurrence semantics.
    """
    avg_c = "_rolling"
    w = Window.partitionBy(*partition_cols).orderBy(order_col)
    rolled = df.withColumn(
        avg_c, rolling_avg_min_periods(column, w, window_rows)
    # min_periods-gated leading rows carry a NULL rolling average; a NULL
    # struct field sorts BELOW real values in min_by's ordering, so without
    # this filter the lowest=... path would always return a gated row's
    # EndTime while reporting the true extreme value.
    ).filter(F.col(avg_c).isNotNull())
    value = F.max_by if highest else F.min_by
    extreme = F.max if highest else F.min
    # Ties on the rolling average resolve to the earliest EndTime (pandas
    # idxmax/idxmin first-occurrence): max_by needs the NEGATED time so the
    # larger struct is the earlier row; min_by needs the time as-is.
    # unix_micros, not unix_timestamp — second truncation would leave
    # sub-second ties nondeterministic.
    us = ts_micros(F.col(order_col))
    tiebreak = -us if highest else us
    out = rolled.groupBy(*partition_cols).agg(
        value(
            F.col(order_col), F.struct(F.col(avg_c), tiebreak)
        ).alias("EndTime"),
        extreme(F.col(avg_c)).alias(f"{column}_extreme_avg"),
    )
    return out.withColumn(
        "StartTime",
        F.col("EndTime") - F.expr(f"INTERVAL {(window_rows - 1) * step_seconds} SECONDS"),
    ).select(*partition_cols, "StartTime", "EndTime", f"{column}_extreme_avg")


def mark_extreme_period(
    df: DataFrame,
    column: str,
    window_rows: int,
    partition_cols: list[str],
    order_col: str = "ReadingDate",
    flag_col: str = "in_extreme_period",
    lowest: bool = True,
    centered: bool = False,
) -> DataFrame:
    """Flag the ``window_rows`` rows around each group's rolling-average
    argmin (coldest period) or argmax (peak). Ties: every tying period is
    marked. ``centered=False`` marks the rows *ending* at the extreme
    (reference mark_coldest_two_weeks, calculated_columns.py:429-482);
    ``centered=True`` marks the rows *centered* on the extreme of a centered
    rolling average (reference mark_highest_peak,
    calculated_columns.py:485-527).

    Implemented with a second window over the extreme flag — no self-join: a
    row is in the period iff an extreme anchor exists within the window
    reach of its position.
    """
    from .windows import rolling_avg_centered

    avg_c, ext_c = "_rolling", "_is_extreme"
    w = Window.partitionBy(*partition_cols).orderBy(order_col)
    if centered:
        rolled = df.withColumn(
            avg_c, rolling_avg_centered(column, w, window_rows)
        )
        # center c covers rows [c - before, c + after]; row r is covered iff
        # a center exists in [r - after, r + before]
        before = window_rows // 2
        reach = w.rowsBetween(-(window_rows - before - 1), before)
    else:
        rolled = df.withColumn(
            avg_c, rolling_avg_min_periods(column, w, window_rows)
        )
        reach = w.rowsBetween(Window.currentRow, window_rows - 1)
    group_ext = (F.min if lowest else F.max)(F.col(avg_c)).over(
        Window.partitionBy(*partition_cols)
    )
    rolled = rolled.withColumn(ext_c, (F.col(avg_c) == group_ext).cast("int"))
    flagged = rolled.withColumn(
        flag_col, F.coalesce(F.max(ext_c).over(reach) == 1, F.lit(False))
    )
    return flagged.drop(avg_c, ext_c)


def gelijktijdigheid(
    df: DataFrame,
    column: str,
    partition_cols: list[str] | None = None,
    order_col: str = "ReadingDate",
    coarse_rows: int = 288,
) -> DataFrame:
    """Simultaneity ratio: max rolling daily average / max instantaneous-level
    maximum, per group or globally (reference calculated_columns.py:297-337)."""
    parts = partition_cols or []
    w = Window.partitionBy(*parts).orderBy(order_col)
    rolled = df.withColumn(
        "_daily", rolling_avg_min_periods(column, w, coarse_rows)
    )
    agg = rolled.groupBy(*parts).agg(
        F.max("_daily").alias("max_daily_avg"),
        F.max(column).alias("max_fine"),
    )
    return agg.withColumn(
        "gelijktijdigheid", F.col("max_daily_avg") / F.col("max_fine")
    )


def weekly_stats(
    df: DataFrame,
    value_col: str,
    partition_cols: list[str],
    ts_col: str = "ReadingDate",
) -> DataFrame:
    """ISO-week aggregates per (group, iso year, iso week): mean value and
    days observed (count/24 for hourly input), reference load_data.py:176-199."""
    keyed = df.withColumns(
        {
            "iso_year": F.expr(f"extract(yearofweek FROM {ts_col})").cast("int"),
            "week_of_year": F.weekofyear(ts_col),
        }
    )
    return keyed.groupBy(*partition_cols, "iso_year", "week_of_year").agg(
        F.avg(value_col).alias(f"{value_col}_weekly_avg"),
        (F.count(value_col) / 24.0).alias("days_in_week"),
    )


def mark_coldest_weeks(
    weekly: DataFrame,
    avg_col: str,
    partition_cols: list[str],
    k: int = 2,
    full_weeks_only: bool = True,
) -> DataFrame:
    """Rank ISO weeks by weekly average within each group and flag the k
    lowest (the reference's coldest-2-ISO-weeks logic,
    load_data.py:204-229). ``full_weeks_only`` restricts candidates to weeks
    with 7 observed days, as the reference filters short edge weeks. The
    reference flags ``row_number < 2`` over a 0-based numbering, i.e. the
    first two rows; Spark's ``row_number`` is 1-based, so the flag is
    ``<= k``.

    NOTE on ties: the window carries the (iso_year, week_of_year) tiebreak —
    the repo-wide total-order discipline that makes every ranked result
    hash-reproducible across engines — so ``rank`` equals row_number and two
    equal-average weeks get distinct ranks in chronological order. Rank over
    the average ALONE (SQL-standard tied ranks) would be nondeterministic
    about WHICH tied week the ``<= k`` flag keeps under partitioned
    execution; the reference's pandas code has the same chronology-decides
    behavior via its stable sort."""
    candidate = (
        (F.col("days_in_week") >= 7) if full_weeks_only else F.lit(True)
    )
    order = F.when(candidate, F.col(avg_col))
    w = Window.partitionBy(*partition_cols).orderBy(
        F.col("_order_key").asc_nulls_last(), "iso_year", "week_of_year"
    )
    out = (
        weekly.withColumn("_order_key", order)
        .withColumn("rank", F.rank().over(w))
        .withColumn(
            "is_coldest_week",
            (F.row_number().over(w) <= k) & F.col("_order_key").isNotNull(),
        )
        .drop("_order_key")
    )
    return out
