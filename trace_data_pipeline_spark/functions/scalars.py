"""Scalar helpers (SURVEY.md §2.7).

The reference stores trade times as 'HH:MM:SS' strings and converts
them to seconds-after-midnight Int32
(`stage0/create_daily_enhanced_trace.py:128-163`); dates become tenors
via day-diff / 365.25 (`stage1/stage1_pipeline.py:374-375`). All are
pure column algebra — JVM-side, codegen'd, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hhmmss_to_seconds(col: Column | str) -> Column:
    """'HH:MM:SS' string → seconds after midnight (null on parse failure).

    Mirrors `create_daily_enhanced_trace.py:128-163` (time_to_seconds)
    exactly: split on ':', require THREE parts, plain int() arithmetic
    with NO range check — '12:61:00' → 46860 and '25:00:00' → 90000,
    not null. Only a non-3-part shape or a non-integer component nulls
    out (int() raising ↔ try_cast). try_cast matches int()'s tolerance
    for surrounding whitespace and a leading sign.
    """
    c = F.col(col) if isinstance(col, str) else col
    parts = F.split(c, ":")
    h = F.get(parts, 0).try_cast("int")
    m = F.get(parts, 1).try_cast("int")
    s = F.get(parts, 2).try_cast("int")
    valid = (
        (F.size(parts) == 3)
        & h.isNotNull() & m.isNotNull() & s.isNotNull()
    )
    return F.when(valid, h * 3600 + m * 60 + s).otherwise(
        F.lit(None).cast("int")
    )


def hms_to_seconds_checked(col: Column | str) -> Column:
    """'HH:MM:SS[.fff]' string → float seconds after midnight, null on
    parse failure OR out-of-range components.

    Mirrors `create_daily_enhanced_trace.py:1322-1341` (_hms_to_seconds,
    the trade-time-window parser) exactly — a DIFFERENT function from
    time_to_seconds: it strips whitespace, parses seconds as FLOAT
    ('22.5' is valid), and rejects out-of-range components
    (0≤h≤23, 0≤m≤59, 0.0≤s<60.0 — strict at 60). A NaN seconds part
    fails the range test, like the reference's comparison chain.
    """
    c = F.trim((F.col(col) if isinstance(col, str) else col).cast("string"))
    parts = F.split(c, ":")
    h = F.get(parts, 0).try_cast("int")
    m = F.get(parts, 1).try_cast("int")
    s = F.get(parts, 2).try_cast("double")
    valid = (
        (F.size(parts) == 3)
        & h.isNotNull() & m.isNotNull() & s.isNotNull()
        & (h >= 0) & (h <= 23) & (m >= 0) & (m <= 59)
        & (s >= 0.0) & (s < 60.0)
    )
    return F.when(valid, h * 3600 + m * 60 + s).otherwise(
        F.lit(None).cast("double")
    )


def seconds_after_midnight(ts: Column | str) -> Column:
    """Timestamp → seconds after midnight (int)."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return (F.hour(c) * 3600 + F.minute(c) * 60 + F.second(c)).cast("int")


def round_ratio_half_up(numer: Column, denom: Column, scale: int) -> Column:
    """ROUND(numer/denom, scale) with exact decimal HALF_UP semantics in
    integer arithmetic: floor((2·N·10^s + D) / (2·D)) / 10^s.

    Needed where the true quotient can tie exactly at `scale` decimals
    (fixed-point sums over integer denominators — e.g. a mean of
    2-decimal prices over 8 trades): a float quotient then rounds
    differently per engine/partitioning. Both inputs must be exact
    integer columns (fixed-point sums), denom > 0, and 2·N·10^s must
    stay below 2^53 (the float division below is then exact enough that
    floor() can never land on the wrong side: the quotient is ≥ 1/(2·D)
    away from any integer it doesn't hit exactly).
    """
    s = 10**scale
    q = F.floor((numer * F.lit(2 * s) + denom) / (denom * F.lit(2)))
    return q.cast("double") / F.lit(float(s))


def round_ratio_half_up_wide(
    numer: Column, denom: Column, scale: int
) -> Column:
    """`round_ratio_half_up` for sums far past the float path's 2^53
    ceiling — the arithmetic runs in bounded decimals instead of a
    float division.

    The narrow variant needs 2·N·10^s < 2^53 (N_max = 2^53/(2·10^4)
    ≈ 4.5e11 at scale 4). A MARKET-WIDE daily dollar-volume sum is
    ~1e10 cents at sf1 (~45× under the ceiling), so the narrow form
    breaches around sf45 — inside the 100×-scale headroom this engine
    is graded for, hence market/class index quotients use this wide
    form.
    Here: N is cast to decimal(20,0), so 2·N·10^s + D is an EXACT
    decimal(21+digits(2·10^s), 0) for N < 10^20; the division by
    decimal(22,0) lands on Spark's precision-loss path as decimal(38,
    dp) where **dp = 16 − digits(2·10^s) is SCALE-DEPENDENT**:
    dp = 11 at scale ≤ 4, dp = 10 at scale 5, dp = 9 at scale 6 —
    each correctly rounded HALF_UP at dp decimals. floor() of that is
    exact as long as the true quotient sits ≥ 1/(2·D) > 5·10^-(dp+1)
    from any integer it doesn't hit exactly — i.e. **D < 10^dp**:
    10^11 at scale ≤ 4 (≈ sf15000 for a market-wide daily quantity
    sum), but only 10^9 at scale 6 (the exact-tie case hits the
    integer exactly and is unaffected). A caller whose D exceeds the
    scale-dependent bound must instead guarantee a coarser quotient
    spacing — e.g. p8's ES mean (`plans/stage2.py`) runs at scale 6
    with D ≈ 2·10^10 but its numerator is a multiple of 10^6, so the
    quotient spacing is 1/(2·k·10^(10-scale)) ≈ 2.5e-5 ≫ 5e-10.
    Preconditions: exact integer inputs, denom > 0, N < 10^20,
    D < 10^(16−digits(2·10^s)) OR a documented quotient-spacing
    argument as above, and the QUOTIENT·10^s < 2^53 so the final
    double cast of the scaled integer is exact — trivially true here:
    the quotient is a value-weighted PRICE (~10^2–10^4), it is the
    SUMS that grow with scale, and they cancel in the ratio.
    """
    s = 10**scale
    # Tight literal types matter: a bare int literal promotes to
    # decimal(10,0) and inflates the division's result precision past
    # 38, shrinking the adjusted scale to 6 dp (error 5e-7 — worse
    # than the float path). With exact-width literals the division is
    # decimal(27,0)/decimal(22,0) -> decimal(38,11) at scale<=4.
    two_s = F.lit(2 * s).cast(f"decimal({len(str(2 * s))},0)")
    n = numer.cast("decimal(20,0)")
    d = denom.cast("decimal(20,0)")
    q = F.floor((n * two_s + d) / (d * F.lit(2).cast("decimal(1,0)")))
    return q.cast("double") / F.lit(float(s))
