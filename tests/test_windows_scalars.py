from __future__ import annotations

import datetime as dt
import hashlib

import duckdb
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from etdtransform_spark.functions.hashing import (
    portable_hash64,
    portable_hash64_sql,
    word_shingles,
)
from etdtransform_spark.functions.scalars import (
    hh_key,
    pandas_dayofweek,
    qround,
    qround_sql,
    yyyymmdd_key,
)
from etdtransform_spark.operators.windows import rolling_avg_min_periods

T0 = dt.datetime(2023, 1, 1, 0, 0, 0)


def _series(spark, vals):
    rows = [
        (1, T0 + dt.timedelta(minutes=5 * i), v) for i, v in enumerate(vals)
    ]
    return spark.createDataFrame(rows, "hid long, ts timestamp, v double")


def test_rolling_avg_min_periods_gate(spark):
    df = _series(spark, [1.0, None, 3.0, 5.0])
    w = Window.partitionBy("hid").orderBy("ts")
    out = df.select(
        rolling_avg_min_periods("v", w, window_rows=3, min_periods=2).alias("r")
    ).collect()
    # windows: [1]=1 non-null -> NULL; [1,NA]=1 -> NULL; [1,NA,3]=2 -> 2.0;
    # [NA,3,5]=2 -> 4.0
    assert [r["r"] for r in out] == [None, None, 2.0, 4.0]


def test_qround_matches_duckdb_on_boundary_values(spark):
    vals = [37704.575, 64332.285, 48319.605, 0.005, -1.005, 2.675, 1e9 + 0.125]
    sdf = spark.createDataFrame([(v,) for v in vals], "v double")
    got = [r[0] for r in sdf.select(qround(F.col("v"), 2)).collect()]
    duck = [
        # ::DOUBLE matters: a bare literal parses as DECIMAL and rounds exactly,
        # which is NOT what parquet-sourced doubles do in the real pipeline.
        duckdb.sql(
            f"SELECT {qround_sql('v', 2)} FROM (SELECT {v!r}::DOUBLE AS v)"
        ).fetchone()[0]
        for v in vals
    ]
    assert got == duck  # exact float equality — identical IEEE op sequence


def test_portable_hash64_matches_python_md5(spark):
    s = "hello world"
    sdf = spark.createDataFrame([(s,)], "s string")
    got = sdf.select(portable_hash64("s", seed="fp")).collect()[0][0]
    expected = int(hashlib.md5(f"fp|{s}".encode()).hexdigest()[:15], 16)
    assert got == expected
    duck = duckdb.sql(
        f"SELECT {portable_hash64_sql('s', seed='fp')} FROM (SELECT 'hello world' AS s)"
    ).fetchone()[0]
    assert got == duck


def test_word_shingles_short_doc_keeps_one_shingle(spark):
    sdf = spark.createDataFrame([("one two",), ("a b c d",)], "s string")
    out = [r[0] for r in sdf.select(word_shingles("s", 3)).collect()]
    assert out[0] == ["one two"]
    assert out[1] == ["a b c", "b c d"]


def test_date_keys(spark):
    ts = dt.datetime(2023, 7, 15, 23, 10, 0)
    sdf = spark.createDataFrame([(ts,)], "ts timestamp")
    row = sdf.select(
        yyyymmdd_key(F.col("ts")).alias("d"),
        hh_key(F.col("ts")).alias("h"),
        pandas_dayofweek(F.col("ts")).alias("dow"),
    ).collect()[0]
    assert row["d"] == 20230715
    assert row["h"] == 24  # hour 23 -> KNMI key 24
    assert row["dow"] == 5  # Saturday, pandas Monday=0 numbering


def test_equal_sig_fig(spark):
    from etdtransform_spark.functions.scalars import equal_sig_fig

    rows = [
        (1, 1.23456789012, 1.23456789013),   # agree at 10 sf
        (2, 1.2345, 1.2346),                 # differ at 5th sf
        (3, 0.0, 0.0),                       # exact zeros
        (4, 0.0, 1e-12),                     # zero vs tiny: not equal
        (5, None, None),                     # both null agree
        (6, None, 1.0),                      # null vs value: not equal
        (7, -123456.0, -123456.0),
    ]
    df = spark.createDataFrame(rows, "id bigint, a double, b double")
    out = {
        r.id: r.eq
        for r in df.select(
            "id", equal_sig_fig(F.col("a"), F.col("b"), 10).alias("eq")
        ).collect()
    }
    assert out == {1: True, 2: False, 3: True, 4: False,
                   5: True, 6: False, 7: True}
    # looser tolerance flips case 2
    loose = df.filter("id = 2").select(
        equal_sig_fig(F.col("a"), F.col("b"), 4).alias("eq")
    ).collect()[0].eq
    assert loose is True


def test_rolling_time_window_span_fixed(spark):
    """RANGE frame keeps the time span fixed while row count varies —
    irregular cadence must not widen the window (unlike a row frame)."""
    import datetime as dt

    from etdtransform_spark.operators.windows import rolling_time_window

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 10.0),
        (2, t0 + dt.timedelta(seconds=100), 20.0),
        (3, t0 + dt.timedelta(seconds=150), 30.0),
        (4, t0 + dt.timedelta(seconds=2000), 40.0),  # far past the window
    ]
    df = spark.createDataFrame(
        rows, "id bigint, ts timestamp, v double"
    ).withColumn("k", F.lit(1))
    out = df.select(
        "id",
        rolling_time_window("v", ["k"], "ts", 120, "count").alias("n"),
        rolling_time_window("v", ["k"], "ts", 120, "sum").alias("s"),
    ).collect()
    got = {r.id: (r.n, r.s) for r in out}
    assert got[1] == (1, 10.0)
    assert got[2] == (2, 30.0)     # rows 1+2 within 120s
    assert got[3] == (2, 50.0)     # rows 2+3; row 1 aged out (150-0 > 120)
    assert got[4] == (1, 40.0)     # alone


def test_equal_sig_fig_tiny_values_no_overflow(spark):
    """Sub-1e-290 magnitudes: the capped scale must still distinguish
    values differing 9x (the uncapped form overflowed to inf -> all-equal)."""
    from etdtransform_spark.functions.scalars import equal_sig_fig

    df = spark.createDataFrame(
        [(1, 1e-300, 9e-300), (2, 1e-300, 1e-300)],
        "id bigint, a double, b double",
    )
    got = {
        r.id: r.eq
        for r in df.select(
            "id", equal_sig_fig(F.col("a"), F.col("b"), 10).alias("eq")
        ).collect()
    }
    assert got == {1: False, 2: True}


def test_extreme_avg_period_lowest_ignores_gated_nulls_and_ties_earliest(spark):
    """lowest mode: min_periods-gated NULL rolling rows must not win the
    argmin, and tied minima resolve to the EARLIEST EndTime."""
    import datetime as dt

    from etdtransform_spark.operators.periods import get_extreme_avg_period

    t0 = dt.datetime(2024, 1, 1)
    vals = [10.0, 1.0, 5.0, 1.0, 9.0, 9.0]
    df = spark.createDataFrame(
        [(1, t0 + dt.timedelta(minutes=5 * i), v) for i, v in enumerate(vals)],
        "g bigint, ReadingDate timestamp, x double",
    )
    row = get_extreme_avg_period(
        df, "x", window_rows=4, partition_cols=["g"], highest=False
    ).collect()[0]
    # rolling(4, min_periods=2) minimum is 4.0 ending at minute 20
    assert row.x_extreme_avg == 4.0
    assert row.EndTime == t0 + dt.timedelta(minutes=20)

    # tie case: two equal minima -> earliest EndTime wins
    vals2 = [4.0, 2.0, 2.0, 4.0, 2.0, 2.0]
    df2 = spark.createDataFrame(
        [(1, t0 + dt.timedelta(minutes=5 * i), v) for i, v in enumerate(vals2)],
        "g bigint, ReadingDate timestamp, x double",
    )
    row2 = get_extreme_avg_period(
        df2, "x", window_rows=2, partition_cols=["g"], highest=False
    ).collect()[0]
    assert row2.x_extreme_avg == 2.0
    assert row2.EndTime == t0 + dt.timedelta(minutes=10)  # first of the ties
