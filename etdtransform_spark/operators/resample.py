"""Time-bucket resampling with min-count gates.

Reference ``resample_hh_data`` / ``resample_by_columns`` / ``resample_variable``
(aggregate.py:356-416, 800-866, 869-1041): pandas ``groupby().resample(iv)``
with per-variable sum/max/avg and a fixed min_count per target bucket.

Spark mapping: one ``groupBy(keys, window(ReadingDate, iv))`` computing every
registry variable at once — a single shuffle instead of the reference's
per-variable loop of outer merges. Bucket labels are left-closed/left-labeled
in both pandas ``resample`` and Spark ``F.window`` (epoch-aligned), so bucket
domains agree wherever data exists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import (
    AGGREGATION_VARIABLES,
    INTERVAL_DURATION,
    INTERVAL_MIN_COUNT,
)
from .aggregate import gated_agg_expr


def resample(
    df: DataFrame,
    interval: str,
    group_cols: list[str] | None = None,
    variables: dict[str, str] | None = None,
    reading_date: str = "ReadingDate",
    min_count: int | None = None,
) -> DataFrame:
    """Resample ``df`` to ``interval``; each variable aggregated by its
    registry ``resample_method``, NULL unless the bucket holds >= min_count
    non-null source values. Output keeps ``reading_date`` = bucket start
    (pandas left-label semantics).
    """
    if interval not in INTERVAL_DURATION:
        raise ValueError(f'Unknown interval "{interval}"')
    if group_cols is None:
        group_cols = ["ProjectIdBSV", "HuisIdBSV"]
    if variables is None:
        variables = {
            v: cfg["resample_method"]
            for v, cfg in AGGREGATION_VARIABLES.items()
            if v in df.columns
        }
    explicit_min_count = min_count is not None
    if min_count is None:
        min_count = INTERVAL_MIN_COUNT[interval]

    if interval == "5min":
        # Source cadence == target cadence: pass-through, no aggregation —
        # duplicate timestamps survive as-is (reference aggregate.py:383-414
        # takes exactly this shortcut). A caller-supplied min_count > 1 is
        # unsatisfiable here (every "bucket" is one source row), so reject
        # it instead of silently ignoring it.
        if explicit_min_count and min_count != 1:
            raise ValueError(
                "5min resample is a pass-through (reference shortcut); "
                f"min_count={min_count} cannot be honored"
            )
        return df.select(*group_cols, reading_date, *variables.keys())

    bucket = F.window(F.col(reading_date), INTERVAL_DURATION[interval])
    exprs = [
        gated_agg_expr(col, method, F.lit(min_count))
        for col, method in variables.items()
    ]
    out = df.groupBy(*group_cols, bucket.alias("_w")).agg(*exprs)
    return out.withColumn(reading_date, F.col("_w.start")).drop("_w").select(
        *group_cols, reading_date, *variables.keys()
    )
