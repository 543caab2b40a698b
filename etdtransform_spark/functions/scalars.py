"""Scalar column expressions (reference knmi.py, load_data.py,
calculated_columns.py §2.7 of SURVEY.md). All pure Catalyst expressions."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


# KNMI perceived-temperature constants (reference knmi.py:80-98).
HUMIDITY_COEFFICIENT = 0.33
WIND_SPEED_ADJUSTMENT = 4.00
VAPOR_PRESSURE_CONSTANT = 17.27
WIND_SPEED_COEFFICIENT = 0.7


def dampdruk(temperatuur: Column, vochtigheid: Column) -> Column:
    """Vapor pressure from temperature (C) and relative humidity (%).
    Reference knmi.py:84-93."""
    return (
        vochtigheid
        * F.lit(6.105)
        * F.exp(F.lit(VAPOR_PRESSURE_CONSTANT) * temperatuur / (temperatuur + F.lit(237.7)))
        / F.lit(100.0)
    )


def gevoelstemperatuur(
    temperatuur: Column, windsnelheid: Column, vochtigheid: Column
) -> Column:
    """Perceived temperature (apparent temperature). Reference knmi.py:94-98."""
    return (
        temperatuur
        + F.lit(HUMIDITY_COEFFICIENT) * dampdruk(temperatuur, vochtigheid)
        - F.lit(WIND_SPEED_COEFFICIENT) * windsnelheid
        - F.lit(WIND_SPEED_ADJUSTMENT)
    )


def yyyymmdd_key(ts: Column) -> Column:
    """Integer yyyymmdd join key (reference load_data.py:301-302)."""
    return F.date_format(ts, "yyyyMMdd").cast("int")


def hh_key(ts: Column) -> Column:
    """KNMI hour key: 1-24, i.e. hour(ts)+1 (reference load_data.py:303-305)."""
    return (F.hour(ts) + F.lit(1)).cast("int")


def pandas_dayofweek(ts: Column) -> Column:
    """Monday=0..Sunday=6 day index, matching pandas ``dt.dayofweek``
    (reference calculated_columns.py:585). Spark's ``dayofweek`` is
    Sunday=1..Saturday=7, hence the shift."""
    return (F.dayofweek(ts) + F.lit(5)) % F.lit(7)


def normalized_datetime(ts: Column, reference_monday: str = "2023-01-02") -> Column:
    """Project a timestamp onto a reference week, preserving day-of-week and
    time-of-day (reference calculated_columns.py:561-615)."""
    day_offset = pandas_dayofweek(ts)
    base = F.to_timestamp(F.lit(reference_monday))
    seconds_into_day = (
        F.hour(ts) * 3600 + F.minute(ts) * 60 + F.second(ts)
    ).cast("long")
    return F.timestamp_seconds(
        F.unix_timestamp(base) + day_offset.cast("long") * 86400 + seconds_into_day
    )


def qround(col: Column, n: int | None) -> Column:
    """Cross-engine deterministic rounding: ``floor(x * 10^n + 0.5) / 10^n``.

    ``round()`` semantics on doubles differ between engines (Spark uses exact
    BigDecimal HALF_UP on the binary expansion; DuckDB scales in floating
    point), which flips the last digit on boundary values and breaks value-hash
    parity. This helper performs the *same IEEE-754 operation sequence* both
    sides, so results are bit-identical whenever the oracle SQL uses
    :func:`qround_sql` with the same ``n``.

    Floor is computed in pure double arithmetic rather than ``F.floor``:
    Spark's floor(double) returns BIGINT, which silently clamps at 2^63
    (e.g. qround(x, 10) for |x| > ~9.2e8), while DuckDB's floor stays
    double. ``y - fmod(y, 1)`` is the exact truncation for every finite
    double (fmod is exact and the integral part is representable); one
    conditional -1 turns truncation into floor for negative fractions."""
    if isinstance(col, str):
        col = F.col(col)
    if n is None:
        # raw passthrough: operators expose digits=None for full-precision
        # composition (e.g. a summary built on an unrounded per-class
        # table) — accepting it here keeps that contract uniform instead
        # of per-operator rounding shims
        return col
    m = float(10**n)
    y = col * F.lit(m) + F.lit(0.5)
    trunc = y - (y % F.lit(1.0))
    fl = F.when(y < trunc, trunc - F.lit(1.0)).otherwise(trunc)
    return fl / F.lit(m)


def qround_sql(expr: str, n: int) -> str:
    """DuckDB-side twin of :func:`qround` — identical op sequence."""
    m = float(10**n)
    return f"floor(({expr}) * {m!r} + 0.5) / {m!r}"


def fold_case(col: Column) -> Column:
    """Engine-portable lowercase for oracle-compared text normalization.

    Java (Spark) applies the FULL Unicode case mapping; DuckDB's utf8proc
    applies the SIMPLE one. They disagree on exactly two things that can
    reach a lowercased output: U+0130 'İ' (Java expands to ``i`` +
    combining dot U+0307, utf8proc maps to bare ``i``) and the contextual
    final-sigma rule (Java lowers word-final 'Σ' to 'ς', utf8proc always
    to 'σ'). Convention declared here and mirrored by
    :func:`fold_case_sql`: İ pre-maps to ``i`` and every ς post-folds to
    σ (the same direction Unicode case folding takes), making the fold
    identical on both engines for ALL input. Pure codegen (two
    ``translate`` passes around ``lower``)."""
    return F.translate(F.lower(F.translate(col, "İ", "i")), "ς", "σ")


def fold_case_sql(expr: str) -> str:
    """DuckDB-side twin of :func:`fold_case` — identical convention."""
    return f"replace(lower(replace({expr}, 'İ', 'i')), 'ς', 'σ')"


def ts_micros(col: Column | str) -> Column:
    """Microseconds since epoch for TIMESTAMP **or** TIMESTAMP_NTZ columns.

    Parquet files written without ``isAdjustedToUTC`` load as TIMESTAMP_NTZ
    in Spark 4, which ``unix_micros`` rejects. Casting NTZ→TIMESTAMP first
    is deterministic (session timezone pinned to UTC in session.py) and a
    no-op on already-TZ columns, so every time-arithmetic operator funnels
    through this helper instead of calling ``unix_micros`` directly.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


def coalesce0(col: Column | str) -> Column:
    """``fillna(0)`` equivalent used throughout calculated columns."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(c, F.lit(0.0))


def equal_sig_fig(a: Column, b: Column, sig_figs: int = 10) -> Column:
    """True when two doubles agree to ``sig_figs`` significant figures
    (reference impute.py:214-257 ``equal_sig_fig``, its golden-comparison
    tolerance helper): both values are scaled by 10^(sig_figs - 1 -
    floor(log10(|x|))) of the larger magnitude and compared after rounding.
    Null-safe: two nulls agree, null vs value doesn't; exact zeros compare
    equal only to exact zeros (log10 undefined)."""
    mag = F.greatest(F.abs(a), F.abs(b))
    # Cap the scaling exponent at 10^300: below ~1e-290 the raw scale
    # overflows to inf and all tiny values would spuriously compare equal;
    # with the cap, sub-1e-290 values compare at correspondingly reduced
    # precision instead (documented degradation, not silent truth).
    scale = F.pow(
        F.lit(10.0),
        F.least(
            F.lit(sig_figs - 1) - F.floor(F.log10(mag)), F.lit(300.0)
        ),
    )
    both_zero = (a == 0.0) & (b == 0.0)
    scaled_eq = F.round(a * scale) == F.round(b * scale)
    return F.when(a.isNull() & b.isNull(), F.lit(True)).otherwise(
        F.coalesce(both_zero | scaled_eq, F.lit(False))
    )
