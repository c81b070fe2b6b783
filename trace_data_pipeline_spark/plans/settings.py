"""Declarative pipeline settings — the reference's config switchboard
(`config.py`, `stage0/_trace_settings.py`, `stage1/_stage1_settings.py`)
as a typed dataclass driving plan assembly.

The reference reads ~30 module-level toggles/thresholds that
enable/disable filter blocks inside a script; here the same knobs are
data, and `build_stage0` assembles the lazy plan accordingly — toggled-
off stages contribute NOTHING to the DAG (not even a pass-through
projection), and every enabled filter logs to the audit ledger.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trace_data_pipeline_spark.operators.filters import AuditLedger, filter_with_log


@dataclass(frozen=True)
class Stage0Settings:
    """Knobs mirroring `stage0/_trace_settings.py` (names generalized to
    the synthetic schema: user_id ~ cusip_id, p ~ rptd_pr)."""

    # price screens (reference F1/F2)
    drop_nonpositive_price: bool = True
    price_max: float | None = 1000.0
    # error correction (W1/W2)
    apply_decimal_shift: bool = True
    decimal_shift_window: int = 5
    apply_bounce_back: bool = True
    bounce_threshold_abs: float = 35.0
    # final screens
    min_trades_per_day: int | None = None


# The switchboards of the catalog's stage-0 entries: p0 runs W1 alone,
# p1 runs W1 then W2. Neither applies the price screens, which their
# DuckDB oracles do not replay.
P0_SETTINGS = Stage0Settings(
    drop_nonpositive_price=False, price_max=None, apply_bounce_back=False
)
P1_SETTINGS = Stage0Settings(drop_nonpositive_price=False, price_max=None)


def build_stage0(
    spark: SparkSession,
    sf_dir: str,
    settings: Stage0Settings = Stage0Settings(),
    ledger: AuditLedger | None = None,
) -> DataFrame:
    """Assemble the stage-0 cleaning chain per the switchboard; returns
    the cleaned trade-level frame (user_id, d, ts, event_id, p)."""
    from trace_data_pipeline_spark.plans.errorcorrection import (
        _bounce_back,
        _corrupted_events,
        _decimal_shift,
    )

    df = _corrupted_events(spark, sf_dir)
    if settings.drop_nonpositive_price:
        df = filter_with_log(df, F.col("p") > 0, "price_positive", ledger)
    if settings.price_max is not None:
        df = filter_with_log(
            df, F.col("p") <= settings.price_max, "price_cap", ledger
        )
    if settings.apply_decimal_shift:
        df = _decimal_shift(
            df, "clean", window=settings.decimal_shift_window
        ).select("user_id", "d", "ts", "event_id", "p")
    if settings.apply_bounce_back:
        df = _bounce_back(
            df, "clean", threshold_abs=settings.bounce_threshold_abs
        )
    if settings.min_trades_per_day is not None:
        from pyspark.sql import Window

        n = F.count(F.lit(1)).over(Window.partitionBy("user_id", "d"))
        df = df.withColumn("__n", n).filter(
            F.col("__n") >= settings.min_trades_per_day
        ).drop("__n")
    return df
