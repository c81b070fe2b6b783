"""Config switchboard: toggles actually change the assembled plan, and
enabled screens log to the audit ledger. (The p0/p1 catalog entries
are built through `build_stage0`, so their oracle parity checks its
W1/W2 chain.)"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import TEST_SF_DIR
from trace_data_pipeline_spark.operators.filters import AuditLedger
from trace_data_pipeline_spark.plans.settings import Stage0Settings, build_stage0


def test_toggles_change_result(spark):
    full = build_stage0(spark, TEST_SF_DIR).count()
    no_bounce = build_stage0(
        spark, TEST_SF_DIR, Stage0Settings(apply_bounce_back=False)
    ).count()
    assert no_bounce > full  # bounce-back removes rows

    raw = build_stage0(
        spark,
        TEST_SF_DIR,
        Stage0Settings(
            drop_nonpositive_price=False,
            price_max=None,
            apply_decimal_shift=False,
            apply_bounce_back=False,
        ),
    )
    from trace_data_pipeline_spark.sources import load_table

    assert raw.count() == load_table(spark, TEST_SF_DIR, "events").count()


def test_audit_ledger_records_stages(spark):
    ledger = AuditLedger()
    df = build_stage0(
        spark,
        TEST_SF_DIR,
        Stage0Settings(apply_decimal_shift=False, apply_bounce_back=False),
        ledger=ledger,
    )
    df.write.format("noop").mode("overwrite").save()
    rows = ledger.collect()
    assert [r["stage"] for r in rows] == ["price_positive", "price_cap"]
    assert all(r["rows_after"] >= 0 for r in rows)


# ------------------------------------------------------------ Stage1Settings


def test_stage1_defaults_match_p2(spark):
    """build_stage1 with defaults reproduces the oracle-checked
    p2_stage1_full composite exactly."""
    from trace_data_pipeline_spark.plans import get_catalog
    from trace_data_pipeline_spark.plans.stage1 import Stage1Settings, build_stage1

    got = build_stage1(spark, TEST_SF_DIR, Stage1Settings())
    want = get_catalog()["p2_stage1_full"].builder(spark, TEST_SF_DIR)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def test_stage1_toggles_change_result(spark):
    from trace_data_pipeline_spark.plans.stage1 import Stage1Settings, build_stage1

    base = build_stage1(spark, TEST_SF_DIR)
    # tightening the maturity screen removes rows
    strict = build_stage1(
        spark, TEST_SF_DIR, Stage1Settings(min_maturity_years=5.0)
    )
    assert strict.count() < base.count()
    # disabling winsorization changes clipped values but not row count
    raw = build_stage1(spark, TEST_SF_DIR, Stage1Settings(apply_winsor=False))
    assert raw.count() == base.count()
    joined = base.select("user_id", "d", F.col("spread_w").alias("w")).join(
        raw.select("user_id", "d", F.col("spread_w").alias("r")), ["user_id", "d"]
    )
    assert joined.filter(F.col("w") != F.col("r")).count() > 0


def test_stage1_ledger_records_screens(spark):
    from trace_data_pipeline_spark.operators.filters import AuditLedger
    from trace_data_pipeline_spark.plans.stage1 import build_stage1

    ledger = AuditLedger()
    df = build_stage1(spark, TEST_SF_DIR, ledger=ledger)
    df.write.format("noop").mode("overwrite").save()
    rows = ledger.collect()
    assert [r["stage"] for r in rows] == [
        "valid_accrued_vars",
        "valid_rating",
        "valid_maturity",
        "distressed_errors",
        "dip_window_filter",
        "high_prc",
    ]
    # counts are monotone non-increasing along the chain
    afters = [r["rows_after"] for r in rows]
    assert afters == sorted(afters, reverse=True)
