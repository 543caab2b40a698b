"""Analytical load API — the reference's "read path" (SURVEY §3B).

Reference ``get_household_tables`` / ``get_project_tables``
(load_data.py:23-67, 320-351) return a dict of lazy Ibis tables, index- and
weather-joined; here they return lazy Spark DataFrames with the same shape.
``get_weather_data_table`` reproduces the weather analytics chain
(load_data.py:103-246): timestamps from the (YYYYMMDD, HH) keys, 14-day
rolling means, ISO-week aggregates, coldest-2-weeks flags joined back.

Everything stays one declarative DAG per table — Catalyst prunes columns and
pushes filters into the Parquet scans, replacing the Ibis/DuckDB pushdown the
reference relies on.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import dataset_families
from .operators.periods import add_rolling_avg, mark_coldest_weeks, weekly_stats
from .sources.knmi import join_weather_data
from .sources.parquet import (
    data_files,
    family_committed,
    family_path,
    join_index,
    read_family,
)


def get_household_tables(
    spark: SparkSession,
    folder: str,
    intervals: list[str] | None = None,
    index_df: DataFrame | None = None,
    weather: DataFrame | None = None,
    station_mapping: DataFrame | None = None,
    metadata_columns: list[str] | None = None,
) -> dict[str, DataFrame]:
    """Lazy household tables per interval (plus ``default``/``calculated``),
    each left-joined with the (broadcast) index and optionally weather
    (reference get_household_tables, load_data.py:23-67). Only committed
    families are served (``family_committed``); a committed family that
    fails to read raises."""
    out: dict[str, DataFrame] = {}
    household = ("household_default", "household_calculated", "household")
    for name, iv in dataset_families(intervals):
        if name not in household or not family_committed(folder, name, iv):
            continue
        df = read_family(spark, folder, name, iv)
        if index_df is not None:
            df = join_index(df, index_df, metadata_columns)
        if weather is not None and station_mapping is not None:
            df = join_weather_data(df, weather, station_mapping)
        out[iv or name.removeprefix("household_")] = df
    return out


def get_project_tables(
    spark: SparkSession,
    folder: str,
    intervals: list[str] | None = None,
    weather: DataFrame | None = None,
    station_mapping: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Lazy project-level tables per interval, optionally weather-joined
    (reference get_project_tables, load_data.py:320-351). Only committed
    families are served; a committed family that fails to read raises."""
    out: dict[str, DataFrame] = {}
    for name, iv in dataset_families(intervals):
        if name != "project" or not family_committed(folder, name, iv):
            continue
        df = read_family(spark, folder, name, iv)
        if weather is not None and station_mapping is not None:
            df = join_weather_data(df, weather, station_mapping)
        out[iv] = df
    return out


def get_weather_data_table(
    weather: DataFrame,
    rolling_hours: int = 14 * 24,
) -> DataFrame:
    """Weather analytics chain (reference get_weather_data_table,
    load_data.py:103-246): build a timestamp from the integer (YYYYMMDD, HH)
    keys (HH is 1-24), add 14-day rolling means of Temperatuur and
    Gevoelstemperatuur (min half-window), ISO-week averages, and the
    coldest-2-ISO-weeks flags joined back onto the hourly rows."""
    ts = F.to_timestamp(F.col("YYYYMMDD").cast("string"), "yyyyMMdd") + (
        (F.col("HH") - 1) * F.expr("INTERVAL 1 HOUR")
    )
    df = weather.withColumn("ts", ts)
    # label follows the actual window (14d only when rolling_hours=336)
    days = max(1, round(rolling_hours / 24))
    for c in ["Temperatuur", "Gevoelstemperatuur"]:
        if c in df.columns:
            df = add_rolling_avg(
                df, c, rolling_hours, ["STN"], order_col="ts",
                out_col=f"Rolling{c}{days}d",
            )
    if "Temperatuur" not in df.columns:
        # weekly/coldest flags need Temperatuur; a frame without it (the
        # rolling loop above tolerates that) still gets the keyed rows back
        return df
    weekly = weekly_stats(df, "Temperatuur", ["STN"], ts_col="ts")
    flagged = mark_coldest_weeks(
        weekly, "Temperatuur_weekly_avg", ["STN"], k=2
    ).select(
        "STN",
        "iso_year",
        "week_of_year",
        F.col("Temperatuur_weekly_avg").alias("WeeklyAvgTemp"),
        F.col("rank").alias("ColdestWeekRank"),
        F.col("is_coldest_week").alias("Koudste2ISOWkn"),
    )
    keyed = df.withColumns(
        {
            "iso_year": F.expr("extract(yearofweek FROM ts)").cast("int"),
            "week_of_year": F.weekofyear("ts"),
        }
    )
    # select-before-join instead of the reference's "_right"-suffix cleanup
    # (load_data.py:241-243)
    return keyed.join(
        F.broadcast(flagged), ["STN", "iso_year", "week_of_year"], "left"
    )


def register_sql_views(
    spark: SparkSession,
    folder: str,
    intervals: list[str] | None = None,
    index_df: DataFrame | None = None,
) -> list[str]:
    """SQL façade over the dataset catalog: every committed family in
    ``folder`` (``config.DATASET_FAMILIES`` of ``intervals``, with a
    ``_SUCCESS`` marker) becomes a temp view (``household_60min``,
    ``project_24h``, ``avg_diffs``, ...), so users can run plain
    ``spark.sql`` over the pipeline outputs — the capability the reference
    delegates to Ibis' DuckDB backend (SURVEY §3B), here served by
    Catalyst directly. An absent or uncommitted family gets no view; a
    committed one that fails to read raises. Views are lazy: registering
    costs one schema read per family; predicate pushdown/pruning apply to
    queries against them as to any scan.

    Returns the list of registered view names.
    """
    registered: list[str] = []
    for name, iv in dataset_families(intervals):
        if not family_committed(folder, name, iv):
            continue
        df = read_family(spark, folder, name, iv)
        if (
            index_df is not None
            and name.startswith("household")
            # some household-prefixed families are project-level aggregates
            # (household_aggregated_diff has no HuisIdBSV) — joining the
            # index there would abort registration of every view
            and {"HuisIdBSV", "ProjectIdBSV"}.issubset(set(df.columns))
        ):
            df = join_index(df, index_df)
        view = name if iv is None else f"{name}_{iv}"
        df.createOrReplaceTempView(view)
        registered.append(view)
    return registered


def catalog(spark: SparkSession, folder: str) -> DataFrame:
    """Discovery surface for the dataset catalog: one row per family of
    ``config.DATASET_FAMILIES`` whose folder exists, with its on-disk size,
    file count, column count, and commit state — what a user (or an ops
    dashboard) lists before querying. An uncommitted family (an
    interrupted write) is listed with ``committed`` false and
    ``n_columns`` NULL, and is not read. Metadata-only: directory listings
    plus one schema read per committed family, no data scanned.

    Returns (family, interval, path, n_files, size_bytes, n_columns,
    committed).
    """
    rows = []
    for name, iv in dataset_families():
        committed = family_committed(folder, name, iv)
        if committed is None:
            continue
        path = family_path(folder, name, iv)
        files = data_files(path)
        n_cols = None
        if committed:
            n_cols = len(read_family(spark, folder, name, iv).columns)
        rows.append(
            (
                name,
                iv,
                path,
                len(files),
                sum(os.path.getsize(f) for f in files),
                n_cols,
                committed,
            )
        )
    return spark.createDataFrame(
        rows,
        "family string, interval string, path string, n_files long, "
        "size_bytes long, n_columns long, committed boolean",
    )
