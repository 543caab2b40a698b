"""Ordered / window operators: lag-diff, forward-fill, count-gated rolling
means, rank / top-k flags.

These are the reference engine's core primitives (SURVEY §2.5). Every ordered
op partitions by the household (or station) key — gap/cumsum semantics must
never straddle a shuffle boundary (reference guards manually at
vectorized_impute.py:390-391,489-495; Spark's Window.partitionBy makes the
guard structural, which is what lets the same code run on 1000 executors).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def ordered_window(partition_cols: list[str], order_cols: list[str]) -> WindowSpec:
    return Window.partitionBy(*partition_cols).orderBy(*order_cols)


def lag_diff(col: Column | str, w: WindowSpec) -> Column:
    """Consecutive difference of a cumulative column; NULL on the first row of
    each partition (reference aggregate.py:203-207 re-derivation, and etdmap's
    upstream Diff computation)."""
    c = F.col(col) if isinstance(col, str) else col
    return c - F.lag(c).over(w)


def forward_fill(col: Column | str, w: WindowSpec) -> Column:
    """Last non-null value at or before the current row (pandas ``ffill``
    within group; reference vectorized_impute.py:409,501-505)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.last(c, ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )


def rolling_avg_min_periods(
    col: Column | str,
    w: WindowSpec,
    window_rows: int,
    min_periods: int | None = None,
) -> Column:
    """Row-count-based trailing rolling mean with a pandas ``min_periods``
    gate: NULL unless >= min_periods non-null values in the window.

    Matches reference rolling(window=n, min_periods=n//2) usage
    (load_data.py:122-128, calculated_columns.py:148-205). Row-based — NOT
    ``rangeBetween`` — because the reference counts rows, not time.
    """
    c = F.col(col) if isinstance(col, str) else col
    if min_periods is None:
        min_periods = window_rows // 2
    frame = w.rowsBetween(-(window_rows - 1), Window.currentRow)
    cnt = F.count(c).over(frame)
    return F.when(cnt >= min_periods, F.avg(c).over(frame))


def rolling_avg_centered(
    col: Column | str,
    w: WindowSpec,
    window_rows: int,
    min_periods: int = 1,
) -> Column:
    """Centered rolling mean (pandas ``rolling(center=True)``), used by the
    reference's peak marking (calculated_columns.py:485-527). For even window
    sizes pandas places the extra row *before* the center."""
    c = F.col(col) if isinstance(col, str) else col
    before = window_rows // 2
    after = window_rows - before - 1
    frame = w.rowsBetween(-before, after)
    cnt = F.count(c).over(frame)
    return F.when(cnt >= min_periods, F.avg(c).over(frame))


def rank_in_group(order_col: Column, partition_cols: list[str]) -> Column:
    """Reference ISO-week rank (load_data.py:204-215)."""
    return F.rank().over(Window.partitionBy(*partition_cols).orderBy(order_col))


def top_k_flag(order_col: Column, partition_cols: list[str], k: int) -> Column:
    """row_number()-based top-k membership flag (reference load_data.py:217-229
    marks the 2 coldest ISO weeks with ``row_number < 2`` over a 0-based
    numbering — i.e. the first two rows; Spark row_number is 1-based so the
    equivalent is ``<= k``)."""
    return (
        F.row_number().over(Window.partitionBy(*partition_cols).orderBy(order_col))
        <= k
    )


def rolling_quantile(
    col: Column | str,
    partition_cols: list[str],
    order_cols: list[str],
    q: float,
    window_rows: int,
) -> Column:
    """Rolling exact quantile (linear interpolation) over the trailing
    ``window_rows`` rows per key — the robust sliding statistic (rolling
    median at q=0.5) a spiky meter series needs where a rolling mean
    chases every outlier.

    Spark's ``percentile`` is an aggregate, so it composes with a row
    frame like any other windowed agg; the frame buffers ``window_rows``
    values per row (O(frame) memory, bounded by construction). Linear-
    interpolation semantics match DuckDB's ``quantile_cont`` exactly,
    which is what makes the operator oracle-checkable.
    """
    c = F.col(col) if isinstance(col, str) else col
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(*order_cols)
        .rowsBetween(-(window_rows - 1), Window.currentRow)
    )
    return F.percentile(c, F.lit(q)).over(w)


def rolling_time_window(
    col: Column | str,
    partition_cols: list[str],
    ts_col: str,
    window_seconds: int,
    agg: str = "avg",
) -> Column:
    """Trailing TIME-based rolling aggregate: all rows within the last
    ``window_seconds`` of the current row's event time (inclusive), per
    key. The RANGE-frame complement to the row-count windows above
    (``rolling_avg_min_periods`` is row-based to match pandas; a row frame
    silently narrows or widens its time span when the cadence is irregular
    — this one keeps the span fixed and lets the row count vary, which is
    the correct semantics for gap-riddled meter data).

    Implemented as ``rangeBetween`` over integer epoch seconds (Spark's
    RangeFrame needs a numeric ordering key; casting in the window spec
    keeps it one sorted pass, same single exchange as every other per-key
    window)."""
    c = F.col(col) if isinstance(col, str) else col
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(F.unix_timestamp(F.col(ts_col)))
        .rangeBetween(-window_seconds, 0)
    )
    fn = {"avg": F.avg, "sum": F.sum, "count": F.count, "max": F.max, "min": F.min}[agg]
    return fn(c).over(w)
