"""S9–S12 external-source readers (offline: local fixture files), plus
the scan-layer pushdown proof (S1–S5: filters must reach the parquet
reader)."""

from __future__ import annotations

import os
import time
import zipfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import TEST_SF_DIR
from trace_data_pipeline_spark.operators.interval import range_join
from trace_data_pipeline_spark.sources import load_table
from trace_data_pipeline_spark.sources.external import (
    ff_industry_table,
    read_tenor_curve,
    read_zip_member,
    read_zip_text,
)

FF_SAMPLE = """\
1 Agric  Agriculture
  0100-0199 Agricultural production - crops
  0200-0299 Agricultural production - livestock

2 Mines  Mining
  1000-1299 Metal mining
"""


def test_tenor_curve_outer_merge(spark, tmp_path):
    """S9: 3 per-tenor CSVs with disjoint date coverage outer-merge into
    one wide frame; unparseable yields coerce to null."""
    dates = ["2024-01-01", "2024-01-02", "2024-01-03"]
    specs = {
        "DGS1": [("2024-01-01", "4.1"), ("2024-01-02", "4.2")],
        "DGS10": [("2024-01-02", "4.5"), ("2024-01-03", ".")],  # '.' = missing
        "DGS30": [("2024-01-01", "4.8")],
    }
    paths = {}
    for tenor, rows in specs.items():
        p = os.path.join(str(tmp_path), f"{tenor}.csv")
        pd.DataFrame(rows, columns=["observation_date", tenor]).to_csv(
            p, index=False
        )
        paths[tenor] = p
    curve = read_tenor_curve(spark, paths)
    got = {
        str(r["date"]): (r["DGS1"], r["DGS10"], r["DGS30"])
        for r in curve.collect()
    }
    assert set(got) == set(dates)
    assert got["2024-01-01"] == (4.1, None, 4.8)
    assert got["2024-01-02"] == (4.2, 4.5, None)
    assert got["2024-01-03"] == (None, None, None)  # '.' coerced to null


def test_zip_member_roundtrip(spark, tmp_path):
    """S11: zip-wrapped parquet member extract → spark.read."""
    df = load_table(spark, TEST_SF_DIR, "region").toPandas()
    inner = os.path.join(str(tmp_path), "linker.parquet")
    df.to_parquet(inner)
    zpath = os.path.join(str(tmp_path), "bundle.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.write(inner, "data/linker.parquet")
    extracted = read_zip_member(zpath, ".parquet", str(tmp_path) + "/out")
    assert spark.read.parquet(extracted).count() == len(df)


def test_ff_ranges_parse_and_range_join(spark, tmp_path):
    """S12 + J15: FF definition text → range table → interval join with
    the 'Other' fallback."""
    zpath = os.path.join(str(tmp_path), "ff.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr("Siccodes17.txt", FF_SAMPLE)
    table = ff_industry_table(spark, read_zip_text(zpath, ".txt"))
    assert {tuple(r) for r in table.collect()} == {
        (1, 100, 199),
        (1, 200, 299),
        (2, 1000, 1299),
    }
    sics = spark.createDataFrame(
        [(150,), (1100,), (9999,), (None,)], ["sic_code"]
    )
    joined = range_join(
        sics, "sic_code", table, "sic_low", "sic_high", ["ind_num"],
        defaults={"ind_num": 17},
    )
    got = {r["sic_code"]: r["ind_num"] for r in joined.collect()}
    assert got == {150: 1, 1100: 2, 9999: 17, None: 17}


def test_scan_pushdown_reaches_parquet(spark):
    """S1/S2: a declarative filter + projection must appear in the scan
    node as PushedFilters / a pruned ReadSchema — the 100 TB posture."""
    li = load_table(spark, TEST_SF_DIR, "lineitem")
    plan = (
        li.filter(F.col("l_suppkey") == 7)
        .select("l_orderkey", "l_extendedprice")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(l_suppkey), EqualTo(l_suppkey,7)]" in plan
    read = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "l_orderkey" in read and "l_extendedprice" in read
    assert "l_comment" not in read and "l_quantity" not in read


def test_load_table_sees_part_file_rewritten_in_place(spark, tmp_path):
    """Rewriting a part file in place inside a directory table changes
    neither the directory's mtime nor its size; load_table's
    per-session frame cache must still miss and read the new rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    part = tmp_path / "region.parquet" / "part-00000.parquet"
    part.parent.mkdir()
    pq.write_table(pa.table({"r_regionkey": list(range(100))}), part)
    assert load_table(spark, str(tmp_path), "region").count() == 100
    pq.write_table(pa.table({"r_regionkey": list(range(1000))}), part)
    assert load_table(spark, str(tmp_path), "region").count() == 1000


# ---- S1/S2 live JDBC branch --------------------------------------------


class TestJdbcScan:
    """The config-only warehouse branch, exercised against Spark's
    bundled embedded Derby (in-JVM, no network) — the same
    `spark.read.jdbc` plan a real PostgreSQL/WRDS URL would produce."""

    URL = "jdbc:derby:memory:trace_jdbc_test;create=true"
    PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    @pytest.fixture(scope="class")
    def seeded(self, spark):
        src = spark.range(0, 1000).select(
            F.col("id").alias("trade_id"),
            (F.col("id") % 50).alias("bond_id"),
            (F.col("id") % 997).cast("double").alias("rptd_pr"),
        )
        src.write.format("jdbc").option("url", self.URL).option(
            "dbtable", "enhanced"
        ).option("driver", self.PROPS["driver"]).mode("overwrite").save()
        return True

    def test_partitioned_scan_and_pushdown(self, spark, seeded):
        from trace_data_pipeline_spark.sources.registry import load_jdbc_table

        df = load_jdbc_table(
            spark,
            self.URL,
            "enhanced",
            partition_column="trade_id",
            lower_bound=0,
            upper_bound=1000,
            num_partitions=4,
            properties=self.PROPS,
        )
        # range-partitioned into one JDBC query per partition
        assert df.rdd.getNumPartitions() == 4
        filtered = df.filter(F.col("rptd_pr") > 500.0).select(
            "trade_id", "rptd_pr"
        )
        plan = filtered._jdf.queryExecution().executedPlan().toString()
        # the predicate reaches the remote scan, not a post-scan Filter
        assert "PushedFilters" in plan and "rptd_pr" in plan.split(
            "PushedFilters"
        )[1].split("]")[0]
        assert filtered.count() == sum(
            1 for i in range(1000) if i % 997 > 500
        )

    def test_load_table_routes_jdbc_urls(self, spark, seeded):
        from trace_data_pipeline_spark.sources.registry import load_table

        df = load_table(spark, self.URL.replace(";create=true", ""), "enhanced")
        assert df.count() == 1000

    def test_partition_options_validated(self, spark):
        from trace_data_pipeline_spark.sources.registry import load_jdbc_table

        with pytest.raises(ValueError, match="num_partitions"):
            load_jdbc_table(
                spark, self.URL, "enhanced", partition_column="trade_id"
            )

    def test_retry_exhaustion_raises(self, spark):
        from trace_data_pipeline_spark.sources.registry import load_jdbc_table

        t0 = time.monotonic()
        with pytest.raises(Exception):
            load_jdbc_table(
                spark,
                "jdbc:derby:memory:does_not_exist_db",
                "nope",
                properties=self.PROPS,
                max_retries=3,
                backoff_s=0.05,
            )
        # two sleeps (0.05 + 0.1) happened between the three attempts
        assert time.monotonic() - t0 >= 0.15

    def test_zero_retries_rejected_up_front(self, spark):
        """ADVICE round 3: max_retries <= 0 used to skip the attempt
        loop and implicitly return None — must be a loud ValueError."""
        from trace_data_pipeline_spark.sources.registry import load_jdbc_table

        with pytest.raises(ValueError, match="max_retries"):
            load_jdbc_table(spark, self.URL, "enhanced", max_retries=0)

    def test_permanent_error_skips_backoff(self, spark, seeded):
        """A missing table is not connection flakiness: it must raise on
        the FIRST attempt, not after walking the backoff schedule."""
        from trace_data_pipeline_spark.sources.registry import load_jdbc_table

        t0 = time.monotonic()
        with pytest.raises(Exception, match="(?i)does not exist"):
            load_jdbc_table(
                spark,
                self.URL,
                "no_such_table",
                properties=self.PROPS,
                max_retries=5,
                backoff_s=5.0,
            )
        # no 5s backoff sleep happened
        assert time.monotonic() - t0 < 4.0


def test_range_join_preserves_same_named_fact_columns(spark):
    """Dropping the range table's bound columns must not destroy a
    same-named column on the facts side (round-12 review: a name-based
    drop removed every column called lo/hi)."""
    facts = spark.createDataFrame(
        [(5, "keep-me")], "v int, lo string"
    )
    ranges = spark.createDataFrame(
        [(1, 9, "bucket")], "lo int, hi int, label string"
    )
    out = range_join(facts, "v", ranges, "lo", "hi", ["label"])
    assert out.columns == ["v", "lo", "label"]
    [row] = out.collect()
    assert row["lo"] == "keep-me" and row["label"] == "bucket"
