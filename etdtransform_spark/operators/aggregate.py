"""Min-count gated aggregation and project-level aggregation.

The reference's distinctive aggregate semantic (aggregate.py:659-761): a
group's aggregate is NA unless enough non-null inputs exist. Two regimes:

- project aggregation: >= 60% of the group's row count must be non-null
  (``aggregate.py:685,715,754-758``);
- resampling: a fixed min_count of non-null source rows per target bucket
  (``aggregate.py:830-841``; see resample.py).

Reference design bug note (SURVEY §2.10): the pandas code passes a *Series*
as ``min_count``; we implement the documented intent (docstrings
aggregate.py:681,711). Everything is one ``groupBy().agg`` of generated
conditional expressions — the reference's per-variable loop of outer merges
(aggregate.py:535-539) collapses into a single shuffle.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import AGGREGATION_VARIABLES, PROJECT_MIN_FRACTION


def gated_agg_expr(
    col: str,
    method: str,
    min_count: Column,
    alias: str | None = None,
) -> Column:
    """``method`` aggregate of ``col``, NULL unless count(col) >= min_count.

    Null-count gating must be explicit: Spark's null-skipping aggregates would
    silently return a value for a group with a single non-null row, which is
    exactly the semantic the reference guards against.
    """
    cnt = F.count(F.col(col))
    if method == "sum":
        val = F.sum(F.col(col))
    elif method == "max":
        val = F.max(F.col(col))
    elif method == "min":
        val = F.min(F.col(col))
    elif method == "avg":
        # Reference computes sum & count then divides (aggregate.py:719-761).
        val = F.sum(F.col(col)) / cnt
    else:
        raise ValueError(f"unknown aggregation method: {method}")
    return F.when(cnt >= min_count, val).alias(alias or col)


def min_count_aggregate(
    df: DataFrame,
    group_cols: list[str],
    variables: dict[str, str],
    min_fraction: float = PROJECT_MIN_FRACTION,
    count_col: str = "n",
) -> DataFrame:
    """Group by ``group_cols`` and aggregate each ``variables[col] = method``
    with a fraction-of-group-size presence gate, plus a group-size column.

    One shuffle for all variables (reference: one groupby + merge per
    variable, aggregate.py:508-539).
    """
    gate = (F.count(F.lit(1)) * F.lit(min_fraction))
    exprs = [
        gated_agg_expr(col, method, gate) for col, method in variables.items()
    ]
    exprs.append(F.count(F.lit(1)).alias(count_col))
    return df.groupBy(*group_cols).agg(*exprs)


def aggregate_project_data(
    df: DataFrame,
    variables: Iterable[str] | None = None,
    group_cols: list[str] | None = None,
    reading_date: str = "ReadingDate",
) -> DataFrame:
    """Household -> project aggregation (reference aggregate.py:419-539):
    per (ProjectIdBSV, ReadingDate), the 60%-gated mean of each registry
    variable plus the household count ``n``.
    """
    if group_cols is None:
        group_cols = ["ProjectIdBSV", reading_date]
    if variables is None:
        variables = [
            v for v in AGGREGATION_VARIABLES if v in df.columns
        ]
    var_methods = {v: AGGREGATION_VARIABLES.get(v, {}).get("aggregate_method", "avg")
                   for v in variables}
    return min_count_aggregate(df, group_cols, var_methods)


def filtered_percentile_bounds(
    df: DataFrame,
    group_cols: list[str],
    value_cols: list[str],
    p: float = 0.95,
    lower_threshold: float = 1e-8,
    bound_multiplier: float = 2.0,
) -> DataFrame:
    """Per group: exact p-quantile of each value column over values strictly
    above ``lower_threshold`` (NULL if no such values), doubled into an outlier
    upper bound. Reference impute.py:55-90 (``calculate_average_diff``).

    Exact ``percentile`` (not ``percentile_approx``) — required to hash-match
    the oracle, and the per-group input (house maxima) is tiny.
    """
    exprs = []
    for c in value_cols:
        gated = F.when(F.col(c) > lower_threshold, F.col(c))
        q = F.percentile(gated, F.lit(p))
        exprs.append(q.alias(f"{c}_p{int(p * 100)}"))
        exprs.append((q * bound_multiplier).alias(f"{c}_upper_bound"))
    return df.groupBy(*group_cols).agg(*exprs)
