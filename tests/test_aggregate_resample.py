from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from etdtransform_spark.operators.aggregate import (
    aggregate_project_data,
    min_count_aggregate,
)
from etdtransform_spark.operators.impute import household_diff_max_bounds
from etdtransform_spark.operators.resample import resample

T0 = dt.datetime(2023, 1, 1, 0, 0, 0)


def _ts(i):
    return T0 + dt.timedelta(minutes=5 * i)


def test_min_count_gate_boundary(spark):
    """>= 60% of group size non-null -> value; below -> NULL
    (reference aggregate.py:659-761)."""
    rows = [("a", float(i) if i < 6 else None) for i in range(10)]  # 6/10 pass
    rows += [("b", float(i) if i < 5 else None) for i in range(10)]  # 5/10 fail
    df = spark.createDataFrame(rows, "g string, v double")
    out = {
        r["g"]: r
        for r in min_count_aggregate(df, ["g"], {"v": "sum"}).collect()
    }
    assert out["a"]["v"] == pytest.approx(15.0)
    assert out["a"]["n"] == 10
    assert out["b"]["v"] is None
    assert out["b"]["n"] == 10


def test_min_count_avg_is_sum_over_count(spark):
    rows = [("a", 1.0), ("a", 2.0), ("a", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = min_count_aggregate(df, ["g"], {"v": "avg"}, min_fraction=0.6).collect()
    assert out[0]["v"] == pytest.approx(1.5)


def test_aggregate_project_data_uses_registry(spark):
    rows = [
        (1, _ts(0), 1.0, 10.0),
        (1, _ts(0), 3.0, None),
        (1, _ts(5), None, None),
        (1, _ts(5), None, None),
    ]
    df = spark.createDataFrame(
        rows, "ProjectIdBSV long, ReadingDate timestamp, "
        "ElektriciteitsgebruikTotaalNetto double, Zelfgebruik double"
    )
    out = {r["ReadingDate"]: r for r in aggregate_project_data(df).collect()}
    assert out[_ts(0)]["ElektriciteitsgebruikTotaalNetto"] == pytest.approx(2.0)
    # 1/2 non-null < 60% -> NULL
    assert out[_ts(0)]["Zelfgebruik"] is None
    assert out[_ts(5)]["ElektriciteitsgebruikTotaalNetto"] is None
    assert out[_ts(0)]["n"] == 2


def test_household_diff_max_bounds_null_when_no_values_pass(spark):
    """The project bound is 2 x the exact p95 of its house maxima above 1e-8,
    NULL when no maximum passes (reference impute.py:55-90)."""
    rows = [(1, 1, 0.0), (1, 2, 1e-9), (2, 3, 4.0), (2, 4, 8.0), (2, 4, 1.0)]
    df = spark.createDataFrame(rows, "ProjectIdBSV long, HuisIdBSV long, vDiff double")
    out = {r["HuisIdBSV"]: r for r in
           household_diff_max_bounds(df, ["vDiff"]).collect()}
    assert out[1]["vDiff_upper_bound"] is None
    assert out[2]["vDiff_upper_bound"] is None
    assert [out[h]["vDiff_huis_max"] for h in (3, 4)] == [4.0, 8.0]
    # exact interpolated p95 of (4.0, 8.0) is 7.8
    assert out[3]["vDiff_upper_bound"] == pytest.approx(15.6)
    assert out[4]["vDiff_upper_bound"] == pytest.approx(15.6)


def test_resample_min_count_gate(spark):
    """15min bucket holds sum only with >= 3 non-null 5-min values
    (reference aggregate.py:830-841)."""
    rows = [
        (1, 1, _ts(0), 1.0),
        (1, 1, _ts(1), 1.0),
        (1, 1, _ts(2), 1.0),  # bucket 00:00 complete
        (1, 1, _ts(3), 2.0),
        (1, 1, _ts(4), None),
        (1, 1, _ts(5), 2.0),  # bucket 00:15 only 2 non-null -> NULL
    ]
    df = spark.createDataFrame(
        rows,
        "ProjectIdBSV long, HuisIdBSV long, ReadingDate timestamp, Zelfgebruik double",
    )
    out = {r["ReadingDate"]: r for r in resample(df, "15min").collect()}
    assert out[T0]["Zelfgebruik"] == pytest.approx(3.0)
    assert out[T0 + dt.timedelta(minutes=15)]["Zelfgebruik"] is None


def test_resample_5min_passthrough(spark):
    rows = [(1, 1, _ts(0), 1.0)]
    df = spark.createDataFrame(
        rows,
        "ProjectIdBSV long, HuisIdBSV long, ReadingDate timestamp, Zelfgebruik double",
    )
    out = resample(df, "5min")
    assert out.columns == ["ProjectIdBSV", "HuisIdBSV", "ReadingDate", "Zelfgebruik"]
    assert out.count() == 1


def test_resample_bucket_label_is_left_edge(spark):
    rows = [(1, 1, _ts(13), 1.0), (1, 1, _ts(14), 1.0), (1, 1, _ts(25), 1.0)]
    df = spark.createDataFrame(
        rows,
        "ProjectIdBSV long, HuisIdBSV long, ReadingDate timestamp, Zelfgebruik double",
    )
    out = resample(df, "60min", min_count=1).collect()
    assert len(out) == 2
    labels = sorted(r["ReadingDate"] for r in out)
    # epoch-aligned left-closed buckets, labeled by their left edge
    assert labels == [T0 + dt.timedelta(hours=1), T0 + dt.timedelta(hours=2)]
