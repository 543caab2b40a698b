"""Schema registry and configuration constants.

Replaces the implicit, convention-driven schema system of the reference
(``etdtransform`` + the external ``etdmap`` package) with one explicit module.

Reference parity notes (citations are file:line in /root/reference):
- cumulative column list: tests/test_total_imputation_workflow.py:40-51 plus the
  three extra families present in the golden data
  (tests/data/metadata_household_aggregated_diff.json).
- naming rules (<Var>Diff, <Var>Diff_avg, ...): impute.py:444-467,
  vectorized_impute.py:198-212.
- aggregation_variables registry: aggregate.py:1046-1128.
- interval -> min_count map: aggregate.py:830-841.
- kW<->kWh multiplier: calculated_columns.py:530-556.
"""

from __future__ import annotations

# ---------------------------------------------------------------------------
# Cumulative (monotone meter-reading) columns.
# The canonical 10 used for imputation (reference
# tests/test_total_imputation_workflow.py:40-51):
IMPUTE_CUMULATIVE_COLUMNS: list[str] = [
    "ElektriciteitsgebruikBooster",
    "ElektriciteitsgebruikBoilervat",
    "ElektriciteitsgebruikWTW",
    "ElektriciteitsgebruikRadiator",
    "Zon-opwekTotaal",
    "ElektriciteitsgebruikWarmtepomp",
    "ElektriciteitTerugleveringLaag",
    "ElektriciteitTerugleveringHoog",
    "ElektriciteitNetgebruikLaag",
    "ElektriciteitNetgebruikHoog",
]

# The full 13 carried by the golden data (adds the etdmap extras):
CUMULATIVE_COLUMNS: list[str] = IMPUTE_CUMULATIVE_COLUMNS + [
    "Gasgebruik",
    "WarmteproductieWarmtepomp",
    "WatergebruikWarmTapwater",
]


# ---------------------------------------------------------------------------
# Column-family naming rules (reference impute.py:444-467,
# vectorized_impute.py:196-212, aggregate.py:203-207).
def diff_col(var: str) -> str:
    return f"{var}Diff"


def avg_col(var: str) -> str:
    return f"{var}Diff_avg"


def is_imputed_col(var: str) -> str:
    return f"{var}Diff_is_imputed"


def impute_type_col(var: str) -> str:
    return f"{var}Diff_impute_type"


def old_diff_col(var: str) -> str:
    return f"{var}OldDiff"


def original_col(var: str) -> str:
    return f"{var}Original"


def check_col(var: str) -> str:
    return f"{var}Check"


def huis_max_col(var: str) -> str:
    return f"{diff_col(var)}_huis_max"


def upper_bound_col(var: str) -> str:
    return f"{diff_col(var)}_upper_bound"


def get_diff_columns(cumulative_columns: list[str] | None = None) -> list[str]:
    """Reference impute.py:444-467."""
    cols = cumulative_columns if cumulative_columns is not None else CUMULATIVE_COLUMNS
    return [diff_col(c) for c in cols]


# ---------------------------------------------------------------------------
# Resampling intervals (reference aggregate.py:830-841): a target bucket is NA
# unless it contains at least this many non-null 5-minute source values.
INTERVALS: list[str] = ["5min", "15min", "60min", "6h", "24h"]

INTERVAL_MIN_COUNT: dict[str, int] = {
    "5min": 1,
    "15min": 3,
    "60min": 12,
    "6h": 72,
    "24h": 288,
}

# Spark window-duration strings per interval.
INTERVAL_DURATION: dict[str, str] = {
    "5min": "5 minutes",
    "15min": "15 minutes",
    "60min": "60 minutes",
    "6h": "6 hours",
    "24h": "24 hours",
}

# kW <-> kWh conversion multipliers (reference calculated_columns.py:530-556).
SWITCH_MULTIPLIER: dict[str, float] = {
    "5min": 12.0,
    "15min": 4.0,
    "60min": 1.0,
    "6h": 1.0 / 6.0,
    "24h": 1.0 / 24.0,
}

# Project-level aggregation presence gate (reference aggregate.py:685,715,754):
# a project aggregate is NA unless >= 60% of the group's rows are non-null.
PROJECT_MIN_FRACTION: float = 0.6


# ---------------------------------------------------------------------------
# Aggregation-variable registry (reference aggregate.py:1046-1128).
# Every active variable resamples with min-count `sum` and aggregates to
# project level with a 60%-gated `avg`. Kept as data so expression generators
# can emit one Spark agg for all variables at once.
_DIFF_VARS = [
    "ElektriciteitNetgebruikHoogDiff",
    "ElektriciteitNetgebruikLaagDiff",
    "ElektriciteitTerugleveringHoogDiff",
    "ElektriciteitTerugleveringLaagDiff",
    "ElektriciteitsgebruikWTWDiff",
    "ElektriciteitsgebruikWarmtepompDiff",
    "ElektriciteitsgebruikBoosterDiff",
    "ElektriciteitsgebruikBoilervatDiff",
    "ElektriciteitsgebruikRadiatorDiff",
    "ZonopwekBruto",
]

_CALCULATED_VARS = [
    "TerugleveringTotaalNetto",
    "ElektriciteitsgebruikTotaalNetto",
    "Netuitwisseling",
    "ElektriciteitsgebruikTotaalWarmtepomp",
    "ElektriciteitsgebruikTotaalGebouwgebonden",
    "ElektriciteitsgebruikTotaalHuishoudelijk",
    "Zelfgebruik",
    "ElektriciteitsgebruikTotaalBruto",
]

AGGREGATION_VARIABLES: dict[str, dict[str, str]] = {
    var: {"resample_method": "sum", "aggregate_method": "avg"}
    for var in (_DIFF_VARS + _CALCULATED_VARS)
}


# ---------------------------------------------------------------------------
# Per-interval-delta physical plausibility thresholds, replacing etdmap's
# ``thresholds_dict`` (used at reference vectorized_impute.py:58-109). The
# etdmap package is not vendored in the reference snapshot, so these bounds
# are reconstructed from the physical units (5-minute deltas) and the golden
# metadata maxima; they are configuration, not hard-coded semantics.
THRESHOLDS: dict[str, dict[str, float]] = {
    diff_col(var): {"Min": 0.0, "Max": mx}
    for var, mx in {
        "ElektriciteitsgebruikBooster": 2.0,
        "ElektriciteitsgebruikBoilervat": 2.0,
        "ElektriciteitsgebruikWTW": 2.0,
        "ElektriciteitsgebruikRadiator": 2.0,
        "Zon-opwekTotaal": 2.0,
        "ElektriciteitsgebruikWarmtepomp": 2.0,
        "ElektriciteitTerugleveringLaag": 2.0,
        "ElektriciteitTerugleveringHoog": 2.0,
        "ElektriciteitNetgebruikLaag": 2.0,
        "ElektriciteitNetgebruikHoog": 2.0,
        "Gasgebruik": 1.0,
        "WarmteproductieWarmtepomp": 2.0,
        "WatergebruikWarmTapwater": 50.0,
    }.items()
}

# The dataset families ``run_pipeline`` writes, in catalog order (reference
# tests/conftest.py:29-49), as (name, interval): interval is None for the
# per-pass families and one of INTERVALS for the resampled ones, whose key
# and view name is ``<name>_<interval>``. The read API serves exactly these.
DATASET_FAMILIES: list[tuple[str, str | None]] = [
    ("household_default", None),
    ("household_calculated", None),
    ("household_imputed", None),
    ("household_aggregated_diff", None),
    ("avg_diffs", None),
    ("household_diff_max_bounds", None),
    ("impute_gap_stats", None),
    ("impute_summary_household", None),
    ("impute_summary_project", None),
    *[(name, iv) for iv in INTERVALS for name in ("household", "project")],
]


def dataset_families(
    intervals: list[str] | None = None,
) -> list[tuple[str, str | None]]:
    """``DATASET_FAMILIES`` of a pass over ``intervals`` (default: all)."""
    ivs = intervals or INTERVALS
    return [(name, iv) for name, iv in DATASET_FAMILIES if iv is None or iv in ivs]


KEY_COLUMNS: list[str] = ["HuisIdBSV", "ProjectIdBSV"]
READING_DATE: str = "ReadingDate"
