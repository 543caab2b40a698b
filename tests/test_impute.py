"""Per-rule unit fixtures for the imputation engine — each ImputeType gets a
handcrafted mini-series (the unit coverage the reference lacks; SURVEY §5).

Layout: one household per rule scenario, each in its own project so the
per-(project, ReadingDate) avg-diff lookup can differ per scenario.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from etdtransform_spark.operators.impute import (
    ImputeType,
    impute_and_normalize,
    imputation_gap_stats,
)

T0 = dt.datetime(2023, 1, 1, 0, 0, 0)
TS = [T0 + dt.timedelta(minutes=5 * i) for i in range(6)]

NA = None


def _f(x):
    return None if x is None else float(x)


def _house(house_id, cum, diff, avg):
    rows = []
    for i in range(6):
        rows.append((house_id, house_id, TS[i], _f(cum[i]), _f(diff[i]), _f(avg[i])))
    return rows


SCENARIOS = {
    # house_id: (cum, diff, avg, expected_fill_on_gap_rows, expected_type)
    # SCALED_FILL: gap jump 3 over rows 2-4, sum(avg)=1.5 -> avg * 3/1.5 = 1.0
    1: ([1, 2, NA, NA, 5, 6], [1, 1, NA, NA, NA, 1], [0.5] * 6,
        1.0, ImputeType.SCALED_FILL),
    # LINEAR_FILL: same jump, zero avgs -> 3/3 = 1.0 per row
    2: ([1, 2, NA, NA, 5, 6], [1, 1, NA, NA, NA, 1], [0.0] * 6,
        1.0, ImputeType.LINEAR_FILL),
    # NEGATIVE_GAP_JUMP (meter reset): 6 -> 2
    3: ([5, 6, NA, NA, 2, 3], [1, 1, NA, NA, NA, 1], [0.5] * 6,
        0.0, ImputeType.NEGATIVE_GAP_JUMP),
    # NEAR_ZERO_GAP_JUMP: flat meter
    4: ([5, 5, NA, NA, 5, 5], [0, 0, NA, NA, NA, 0], [0.5] * 6,
        0.0, ImputeType.NEAR_ZERO_GAP_JUMP),
    # ZERO_END_VALUE: leading gap ending at 0
    5: ([NA, NA, 0, 1, 2, 3], [NA, NA, NA, 1, 1, 1], [0.5] * 6,
        0.0, ImputeType.ZERO_END_VALUE),
    # POSITIVE_END_VALUE: leading gap ending >0 -> avg
    6: ([NA, NA, 4, 5, 6, 7], [NA, NA, NA, 1, 1, 1], [0.5] * 6,
        0.5, ImputeType.POSITIVE_END_VALUE),
    # NO_END_VALUE: trailing gap -> avg * house_factor (factor forced to 1.0:
    # comparable rows 3 <= 6/2)
    7: ([1, 2, 3, NA, NA, NA], [1, 1, 1, NA, NA, NA], [0.5] * 6,
        0.5, ImputeType.NO_END_VALUE),
}

GAP_ROWS = {
    1: [2, 3, 4], 2: [2, 3, 4], 3: [2, 3, 4], 4: [2, 3, 4],
    5: [0, 1, 2], 6: [0, 1, 2], 7: [3, 4, 5],
}


@pytest.fixture(scope="module")
def imputed(spark):
    rows = []
    for hid, (cum, diff, avg, _, _) in SCENARIOS.items():
        rows += _house(hid, cum, diff, avg)
    df = spark.createDataFrame(
        rows,
        "HuisIdBSV long, ProjectIdBSV long, ReadingDate timestamp, "
        "X double, XDiff double, _avg double",
    )
    avg_diffs = df.select(
        "ProjectIdBSV", "ReadingDate", F.col("_avg").alias("XDiff_avg")
    ).distinct()
    df = df.drop("_avg")
    out = impute_and_normalize(
        df, cumulative_columns=["X"], thresholds={}, avg_diffs=avg_diffs
    )
    gap_stats = imputation_gap_stats(out, ["X"])
    data = {
        (r["HuisIdBSV"], r["ReadingDate"]): r for r in out.collect()
    }
    return data, gap_stats.collect()


@pytest.mark.parametrize("hid", list(SCENARIOS))
def test_rule_fill_values_and_types(imputed, hid):
    data, _ = imputed
    _, _, _, expected_fill, expected_type = SCENARIOS[hid]
    for i in range(6):
        row = data[(hid, TS[i])]
        if i in GAP_ROWS[hid]:
            assert row["XDiff"] == pytest.approx(expected_fill), (hid, i)
            assert row["XDiff_impute_type"] == int(expected_type), (hid, i)
            assert row["XDiff_is_imputed"] is True
        else:
            assert row["XDiff_impute_type"] is None, (hid, i)
            assert row["XDiff_is_imputed"] is False
            # non-gap diffs unchanged
            assert row["XDiff"] == SCENARIOS[hid][1][i]


def test_old_diff_preserved(imputed):
    data, _ = imputed
    for hid, (cum, diff, avg, _, _) in SCENARIOS.items():
        for i in range(6):
            assert data[(hid, TS[i])]["XOldDiff"] == diff[i]


def test_normalization_cumsum_and_original(imputed):
    data, _ = imputed
    # house 1 (scaled fill): imputed diffs are [1,1,1,1,1,1] -> cumsum 1..6
    for i in range(6):
        row = data[(1, TS[i])]
        assert row["X"] == pytest.approx(float(i + 1))
        assert row["XOriginal"] == SCENARIOS[1][0][i]


def test_gap_stats(imputed):
    _, stats = imputed
    by_house = {r["HuisIdBSV"]: r for r in stats}
    assert len(by_house) == len(SCENARIOS)
    for hid, (_, _, _, _, expected_type) in SCENARIOS.items():
        r = by_house[hid]
        assert r["column"] == "XDiff"
        assert r["missing"] == 3
        assert r["imputed"] == 3
        assert r["imputed_na"] == 0
        assert r["bitwise_methods"] == int(expected_type)
        assert list(r["methods"]) == [int(expected_type)]


def test_threshold_clamp(spark):
    """Out-of-bounds diffs are replaced with the project average and
    THRESHOLD_ADJUSTED is OR-ed in (reference vectorized_impute.py:58-109)."""
    rows = _house(1, [1, 2, 3, 9, 10, 11], [1, 1, 1, 6, 1, 1], [0.4] * 6)
    df = spark.createDataFrame(
        rows,
        "HuisIdBSV long, ProjectIdBSV long, ReadingDate timestamp, "
        "X double, XDiff double, _avg double",
    )
    avg_diffs = df.select(
        "ProjectIdBSV", "ReadingDate", F.col("_avg").alias("XDiff_avg")
    ).distinct()
    out = impute_and_normalize(
        df.drop("_avg"),
        cumulative_columns=["X"],
        thresholds={"XDiff": {"Min": 0.0, "Max": 2.0}},
        avg_diffs=avg_diffs,
    )
    got = {r["ReadingDate"]: r for r in out.collect()}
    clamped = got[TS[3]]
    assert clamped["XDiff"] == pytest.approx(0.4)
    assert clamped["XDiff_impute_type"] == int(ImputeType.THRESHOLD_ADJUSTED)
    assert clamped["XDiff_is_imputed"] is True
    ok = got[TS[1]]
    assert ok["XDiff"] == 1.0 and ok["XDiff_impute_type"] is None


def test_mid_gap_cumulative_value_splits_group(spark):
    """A non-NA cumulative value mid-gap starts a new cumulative_value_group
    (reference vectorized_impute.py:401-419)."""
    cum = [1, 2, NA, 4, NA, 6]
    diff = [1, 1, NA, NA, NA, NA]
    rows = _house(1, cum, diff, [0.0] * 6)
    df = spark.createDataFrame(
        rows,
        "HuisIdBSV long, ProjectIdBSV long, ReadingDate timestamp, "
        "X double, XDiff double, _avg double",
    )
    avg_diffs = df.select(
        "ProjectIdBSV", "ReadingDate", F.col("_avg").alias("XDiff_avg")
    ).distinct()
    out = impute_and_normalize(
        df.drop("_avg"), cumulative_columns=["X"], thresholds={},
        avg_diffs=avg_diffs,
    )
    stats = imputation_gap_stats(out, ["X"]).collect()
    got = {r["ReadingDate"]: r for r in out.collect()}
    # group 1 = rows 2,3 (end_cum=4, prev=2, jump=2, linear 1.0);
    # group 2 = rows 4,5 (end_cum=6, prev=4 via lag of row 3, jump=2, linear 1.0)
    assert got[TS[2]]["XDiff"] == pytest.approx(1.0)
    assert got[TS[3]]["XDiff"] == pytest.approx(1.0)
    assert got[TS[4]]["XDiff"] == pytest.approx(1.0)
    assert got[TS[5]]["XDiff"] == pytest.approx(1.0)
    assert got[TS[2]]["XDiff_impute_type"] == int(ImputeType.LINEAR_FILL)
    # both groups count as one household's gap rows: 4 missing, 4 linear
    # fills; diffs 1+1 plus 4 x 1.0, cumulative min-max 6 - 1
    (s,) = stats
    assert s["missing"] == 4
    assert s["imputed"] == 4
    assert s["imputed_na"] == 0
    assert list(s["methods"]) == [int(ImputeType.LINEAR_FILL)]
    assert s["bitwise_methods"] == int(ImputeType.LINEAR_FILL)
    assert s["diff_col_total"] == pytest.approx(6.0)
    assert s["cum_col_min_max_diff"] == pytest.approx(5.0)


def test_validate_household_columns_flags(spark):
    """Each reference check fires on a crafted household: all-missing,
    zero-sum, no-change, high-NA warning, zero diff-sum warning
    (reference impute.py:262-326 semantics, set-based)."""
    from etdtransform_spark.operators.validate import validate_household_columns

    rows = [
        # house 1: healthy increasing cumulative
        (1, 0.0, 1.0), (1, 1.0, 1.0), (1, 3.0, 2.0),
        # house 2: all missing
        (2, None, None), (2, None, None),
        # house 3: constant nonzero (no_change fires, zero_sum does not)
        (3, 5.0, 0.0), (3, 5.0, 0.0),
        # house 4: values sum to zero (zero_sum fires via +1/-1)
        (4, 1.0, 0.0), (4, -1.0, 0.0),
        # house 5: 3 of 5 missing -> high_na warning, still valid (two
        # distinct non-null values so no_change stays false)
        (5, None, 1.0), (5, None, 1.0), (5, None, 1.0),
        (5, 7.0, 1.0), (5, 9.0, 1.0),
    ]
    df = spark.createDataFrame(rows, "HuisIdBSV long, cum double, diff double")
    out = {
        r.HuisIdBSV: r
        for r in validate_household_columns(df, [("cum", "diff")]).collect()
    }
    assert out[1].valid and not out[1].high_na and not out[1].zero_diff_sum
    assert out[2].all_missing and not out[2].valid
    assert out[3].no_change and not out[3].valid and not out[3].zero_sum
    assert out[4].zero_sum and not out[4].valid
    assert out[5].high_na and out[5].valid and not out[5].no_change
    assert out[3].zero_diff_sum  # diff sums to 0 -> warning flag, not invalid


def test_gap_stats_threshold_outside_gap_semantics(spark):
    """A non-gap row clamped by the threshold rule counts as imputed (it DID
    replace a value — reference vectorized_impute.py:176 counts every
    impute_type row), but imputed_na stays gap-gated so it never goes
    negative (the reference's negative imputed_na is a documented §2.10
    defect; the exact reconciliation is pinned by test_reference_parity)."""
    import datetime as dt

    t0 = dt.datetime(2023, 1, 1)
    ts = [t0 + dt.timedelta(minutes=5 * i) for i in range(6)]
    # 3-row gap (rows 2-4) + one non-gap diff of 6.0 (> threshold Max 2.0)
    cum = [1.0, 2.0, None, None, 5.0, 11.0]
    diff = [1.0, 1.0, None, None, None, 6.0]
    rows = [
        (1, 1, ts[i], cum[i], diff[i], 0.5) for i in range(6)
    ]
    df = spark.createDataFrame(
        rows,
        "HuisIdBSV bigint, ProjectIdBSV bigint, ReadingDate timestamp, "
        "`Zon-opwekTotaal` double, `Zon-opwekTotaalDiff` double, "
        "`Zon-opwekTotaalDiff_avg` double",
    )
    imputed = impute_and_normalize(
        df.drop("Zon-opwekTotaalDiff_avg"),
        cumulative_columns=["Zon-opwekTotaal"],
    )
    gap_stats = imputation_gap_stats(imputed, ["Zon-opwekTotaal"])
    s = gap_stats.collect()[0]
    assert s.missing == 3
    assert s.imputed == 4          # 3 gap rows + the clamped non-gap row
    assert s.imputed_na == 0       # never negative
