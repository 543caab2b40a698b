"""End-to-end ETL pipeline orchestration.

Mirrors the reference's stage chain (README.md:157-297, SURVEY §3A) with the
same Parquet checkpoint-by-file contract, so each stage stays independently
runnable/testable:

    combine -> avg-diff prep -> impute+normalize -> calculated columns
            -> resample (5min..24h) -> project aggregation

Within a stage everything is one lazy DAG; between stages we write/read
partitioned Parquet. Stage sinks partition by ProjectIdBSV so downstream
project-level aggregations get partition pruning for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..config import (
    CUMULATIVE_COLUMNS,
    IMPUTE_CUMULATIVE_COLUMNS,
    INTERVALS,
    get_diff_columns,
)
from ..operators.aggregate import aggregate_project_data
from ..operators.calculated import add_calculated_columns
from ..operators.impute import (
    calculate_average_diff,
    household_diff_max_bounds,
    impute_and_normalize,
    imputation_gap_stats,
    imputation_summaries,
)
from ..operators.resample import resample
from ..sources.parquet import (
    family_committed,
    family_path,
    read_family,
    write_family,
)


def run_pipeline(
    spark: SparkSession,
    household_df: DataFrame,
    output_folder: str,
    cumulative_columns: list[str] | None = None,
    intervals: list[str] | None = None,
    skip_existing: bool = False,
) -> dict[str, str]:
    """Run the full chain from a combined household DataFrame; returns the
    map of family key -> written path, one entry per family of
    ``config.dataset_families(intervals)`` (key ``<name>_<interval>`` for
    the resampled ones).

    ``skip_existing`` is the distributed twin of the reference's
    ``sorted=``/``diffs_calculated=`` skip flags (impute.py:587-637) made
    structural: a family whose sink already holds a committed write
    (``family_committed``: Spark's ``_SUCCESS`` marker) is read back instead
    of recomputed, so an interrupted run resumes from its last completed
    stage. A half-written sink has no marker and is safely overwritten.
    Every family takes the same write-or-skip path; ``impute_gap_stats`` is
    derived from the written ``household_imputed`` family, so a missing
    gap-stats marker rebuilds only that family and does not re-impute. A
    family written in this pass is read back with the schema of the frame
    that built it, so no job infers it; a skipped family's schema is
    inferred from its files."""
    os.makedirs(output_folder, exist_ok=True)

    def materialize(name, build, interval=None, partition_by=None):
        """Write-or-skip one family and read it back; ``build`` is lazy so a
        skipped stage never constructs its plan. A written family is read
        with the built schema minus ``partition_by`` (Spark infers those)."""
        key = name if interval is None else f"{name}_{interval}"
        path = family_path(output_folder, name, interval)
        schema = None
        if skip_existing and family_committed(output_folder, name, interval):
            written[key] = path
        else:
            df = build()
            written[key] = write_family(
                df, output_folder, name,
                interval=interval, partition_by=partition_by,
            )
            schema = StructType([f for f in df.schema if f.name not in (partition_by or [])])
        return read_family(spark, output_folder, name, interval=interval, schema=schema)
    cum_cols = cumulative_columns or [
        c for c in IMPUTE_CUMULATIVE_COLUMNS if c in household_df.columns
    ]
    diff_cols = get_diff_columns(cum_cols)
    # the project-mean-of-diffs stage averages EVERY registry diff column
    # present, not just the imputed ones (reference aggregate.py:163 uses the
    # full etdmap cumulative list)
    all_diff_cols = diff_cols + [
        get_diff_columns([c])[0]
        for c in CUMULATIVE_COLUMNS
        if c not in cum_cols and get_diff_columns([c])[0] in household_df.columns
    ]
    ivs = intervals or INTERVALS
    written: dict[str, str] = {}

    household_df = materialize(
        "household_default", lambda: household_df,
        partition_by=["ProjectIdBSV"],
    )

    # stage: avg-diff preparation (impute.py:469-537)
    bounds = materialize(
        "household_diff_max_bounds",
        lambda: household_diff_max_bounds(household_df, diff_cols),
    )
    avg_diffs = materialize(
        "avg_diffs",
        lambda: calculate_average_diff(household_df, diff_cols, max_bounds=bounds),
    )

    # stage: imputation + normalization (impute.py:564-768); the gap stats
    # are an aggregate over the written imputed family
    # (vectorized_impute.py:168-188)
    imputed = materialize(
        "household_imputed",
        lambda: impute_and_normalize(household_df, cum_cols, avg_diffs=avg_diffs),
        partition_by=["ProjectIdBSV"],
    )
    gap_stats = materialize(
        "impute_gap_stats", lambda: imputation_gap_stats(imputed, cum_cols)
    )
    materialize(
        "impute_summary_household",
        lambda: imputation_summaries(gap_stats, imputed)[0],
    )
    materialize(
        "impute_summary_project",
        lambda: imputation_summaries(gap_stats, imputed)[1],
    )

    # stage: project-mean of diffs (aggregate.py:190-194)
    materialize(
        "household_aggregated_diff",
        lambda: imputed.groupBy("ProjectIdBSV", "ReadingDate").agg(
            *[F.avg(c).alias(c) for c in all_diff_cols]
        ),
    )

    # stage: calculated columns (calculated_columns.py:9-139)
    calculated = materialize(
        "household_calculated",
        lambda: add_calculated_columns(imputed),
        partition_by=["ProjectIdBSV"],
    )

    # stage: resample matrix + project aggregation (aggregate.py:356-539)
    for iv in ivs:
        hh_iv = materialize(
            "household", lambda iv=iv: resample(calculated, iv), interval=iv,
        )
        materialize(
            "project",
            lambda hh_iv=hh_iv: aggregate_project_data(hh_iv), interval=iv,
        )
    return written
