"""Structured Streaming variant of the resample operator.

The reference is batch-only (SURVEY §2.9); its resample is the batch analogue
of a tumbling-window aggregation, so the streaming form is a near-free
extension: readStream over the same partitioned Parquet layout, watermarked
tumbling windows with the same min-count gates, append-mode sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import (
    AGGREGATION_VARIABLES,
    INTERVAL_DURATION,
    INTERVAL_MIN_COUNT,
)
from ..operators.aggregate import gated_agg_expr


def streaming_resample(
    stream_df: DataFrame,
    interval: str,
    group_cols: list[str] | None = None,
    variables: dict[str, str] | None = None,
    reading_date: str = "ReadingDate",
    watermark: str = "1 hour",
) -> DataFrame:
    """Tumbling-window min-count resample over an unbounded stream.

    Late data within the watermark still lands in its bucket; buckets finalize
    (and become emittable in append mode) once the watermark passes. Note the
    engine's eviction lags one micro-batch: a late row arriving in the same
    batch where its bucket's watermark deadline passes is still aggregated
    (the bucket finalizes WITH it); only rows arriving after finalization are
    dropped — append emits each bucket exactly once either way (tested in
    test_cdc_sinks).
    """
    if interval not in INTERVAL_DURATION:
        raise ValueError(f'Unknown interval "{interval}"')
    if group_cols is None:
        group_cols = ["ProjectIdBSV", "HuisIdBSV"]
    if variables is None:
        variables = {
            v: cfg["resample_method"]
            for v, cfg in AGGREGATION_VARIABLES.items()
            if v in stream_df.columns
        }
    min_count = INTERVAL_MIN_COUNT[interval]

    marked = stream_df.withWatermark(reading_date, watermark)
    bucket = F.window(F.col(reading_date), INTERVAL_DURATION[interval])
    exprs = [
        gated_agg_expr(col, method, F.lit(min_count))
        for col, method in variables.items()
    ]
    out = marked.groupBy(*group_cols, bucket.alias("_w")).agg(*exprs)
    return (
        out.withColumn(reading_date, F.col("_w.start"))
        .drop("_w")
        .select(*group_cols, reading_date, *variables.keys())
    )
