"""Derived energy-balance columns.

Reference ``add_calculated_columns_imputed_data`` (calculated_columns.py:9-139),
fillna=True semantics only — the fillna=False branch in the reference is
broken (dangling ``+ expr`` statements, calculated_columns.py:92-93; SURVEY
§2.10) and is not reproduced.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import coalesce0


def add_calculated_columns(df: DataFrame) -> DataFrame:
    """Add the 8 derived columns and rename Zon-opwekTotaalDiff ->
    ZonopwekBruto. One ``withColumns`` projection: a later column is built
    from the earlier columns' expressions, exactly as the reference chains
    them.

    Input diff columns absent from ``df`` are treated as all-zero (the
    reference operates on the full wide frame where every diff column
    exists and is ``fillna(0)``-ed; on narrower frames missing sensors
    contribute 0 to the balance)."""
    zon = "Zon-opwekTotaalDiff"
    if zon in df.columns:
        if "ZonopwekBruto" in df.columns:
            # renaming would create a DUPLICATE ZonopwekBruto column (Spark
            # allows it) and every later reference would be ambiguous
            df = df.drop(zon)
        else:
            df = df.withColumnRenamed(zon, "ZonopwekBruto")

    present = set(df.columns)

    def diff(name):
        # missing sensors contribute 0; present columns are fillna(0)-ed.
        # The derived sums below are never NULL, so they need no coalesce.
        if name not in present:
            return F.lit(0.0)
        return coalesce0(F.col(f"`{name}`"))

    teruglevering = diff("ElektriciteitTerugleveringLaagDiff") + diff(
        "ElektriciteitTerugleveringHoogDiff"
    )
    netto = diff("ElektriciteitNetgebruikLaagDiff") + diff(
        "ElektriciteitNetgebruikHoogDiff"
    )
    netuitwisseling = netto - teruglevering
    warmtepomp = diff("ElektriciteitsgebruikWarmtepompDiff") + diff(
        "ElektriciteitsgebruikBoosterDiff"
    )
    gebouwgebonden = (
        warmtepomp
        + diff("ElektriciteitsgebruikBoilervatDiff")
        + diff("ElektriciteitsgebruikWTWDiff")
        + diff("ElektriciteitsgebruikRadiatorDiff")
    )
    zelfgebruik = diff("ZonopwekBruto") - teruglevering
    return df.withColumns(
        {
            "TerugleveringTotaalNetto": teruglevering,
            "ElektriciteitsgebruikTotaalNetto": netto,
            "Netuitwisseling": netuitwisseling,
            "ElektriciteitsgebruikTotaalWarmtepomp": warmtepomp,
            "ElektriciteitsgebruikTotaalGebouwgebonden": gebouwgebonden,
            "ElektriciteitsgebruikTotaalHuishoudelijk": netuitwisseling
            + diff("ZonopwekBruto")
            - gebouwgebonden,
            "Zelfgebruik": zelfgebruik,
            "ElektriciteitsgebruikTotaalBruto": netto + zelfgebruik,
        }
    )


CALCULATED_COLUMNS = [
    "TerugleveringTotaalNetto",
    "ElektriciteitsgebruikTotaalNetto",
    "Netuitwisseling",
    "ElektriciteitsgebruikTotaalWarmtepomp",
    "ElektriciteitsgebruikTotaalGebouwgebonden",
    "ElektriciteitsgebruikTotaalHuishoudelijk",
    "Zelfgebruik",
    "ElektriciteitsgebruikTotaalBruto",
]
