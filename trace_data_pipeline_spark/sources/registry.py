"""Table registry over the driver's parquet test tables.

Mirrors the reference's scan layer (SURVEY.md §2.1 S1–S5): explicit
declared schemas, filters expressed on the DataFrame so Catalyst pushes
them into the parquet scan (the reference embeds them in SQL text —
`stage0/create_daily_enhanced_trace.py:499-508`).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_jdbc_table(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | str | None = None,
    upper_bound: int | str | None = None,
    num_partitions: int | None = None,
    fetch_size: int = 10_000,
    properties: dict[str, str] | None = None,
    max_retries: int = 5,
    backoff_s: float = 2.0,
) -> DataFrame:
    """S1/S2 live-warehouse scan (reference: WRDS PostgreSQL pull,
    `stage0/create_daily_enhanced_trace.py:499-508`, with the
    retry/backoff wrapper at `:3097-3135`): a config-only
    `spark.read.jdbc` branch a user points at a real warehouse.

    Scale shape: with `partition_column` + bounds + `num_partitions`
    the scan issues one range-bounded query per partition, so a
    1000-executor cluster reads the warehouse in parallel instead of
    through one connection; Spark pushes filters and column pruning
    into the remote SQL (`pushDownPredicate` is on by default —
    `.explain` shows `PushedFilters` on the JDBC relation). `fetchsize`
    keeps the per-connection row buffer bounded.

    The retry wrapper guards the DRIVER-side schema/connection step
    (executor-side task failures are already retried by Spark); backoff
    doubles per attempt, mirroring the reference's wrapper. Permanent
    errors (bad SQL object / auth rejection, which surface as
    SQLException subtypes whose message names the object or the
    credential) are re-raised immediately — only connection-shaped
    failures walk the backoff schedule."""
    if max_retries < 1:
        raise ValueError(f"max_retries must be >= 1, got {max_retries}")
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("fetchsize", str(fetch_size))
    )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        if lower_bound is None or upper_bound is None or not num_partitions:
            raise ValueError(
                "partition_column requires lower_bound, upper_bound and "
                "num_partitions"
            )
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    delay = backoff_s
    for attempt in range(max_retries):
        try:
            return reader.load()
        except Exception as exc:
            # heuristic classification by message — covers the common
            # Postgres/MySQL/Derby/Oracle phrasings for missing objects
            # and rejected credentials; anything unrecognized is treated
            # as transient and retried (the safe default). Deliberately
            # NO bare "password"/"not found" substrings: those also
            # appear in transient connection-reset / DNS messages.
            msg = str(exc).lower()
            permanent = any(
                s in msg
                for s in (
                    "does not exist",
                    "doesn't exist",
                    "unknown table",
                    "unknown database",
                    "no such table",
                    "table or view not found",
                    "access denied",
                    "permission denied",
                    "authentication failed",
                    "invalid username",
                    "syntax error",
                )
            )
            if permanent or attempt == max_retries - 1:
                raise
            import time

            time.sleep(delay)
            delay *= 2.0
    raise AssertionError("unreachable")  # loop always returns or raises


def _table_stat(path: str) -> tuple:
    """Cheap freshness token for the cache below: (mtime_ns, size) of
    the parquet file, or of the directory entry for multi-file tables
    (adding/removing part files touches the directory's mtime)."""
    try:
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return ()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if sf_dir.startswith("jdbc:"):
        # live-warehouse branch: the "sf_dir" IS the connection URL and
        # the table name maps straight through (a WRDS-shaped deployment
        # would alias e.g. trace.enhanced here)
        return load_jdbc_table(spark, sf_dir, name)
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # r17 (guide §6 "file listing cached per session"): resolving a
    # parquet table re-reads footers for schema inference on EVERY call
    # — measured 110-450 ms per load_table even warm — and builders
    # call this 2-4x per entry (a composite like p6 pays ~0.6 s of pure
    # driver-side footer reading per construction). Cache the LAZY
    # DataFrame per (session, dir, table, file-stat): plan/schema only,
    # never data — execution always re-reads the files, so bench/oracle
    # runs still compute everything from the parquet inputs. Keyed ON
    # the session object (cloned sessions must not share frames; the
    # cache dies with the session) and invalidated by the file's
    # (mtime, size).
    path = os.path.join(sf_dir, f"{name}.parquet")
    cache = getattr(spark, "_tds_table_cache", None)
    if cache is None:
        cache = {}
        spark._tds_table_cache = cache
    key = (os.path.abspath(path), name, _table_stat(path))
    hit = cache.get(key)
    if hit is not None:
        return hit
    df = _read_table(spark, sf_dir, name)
    cache[key] = df
    return df


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS). Spark <=4.0 only reads it
        # with the legacy nanosAsLong conf (raw long nanos we truncate to
        # microseconds ourselves — `div` keeps the quotient integral; `/`
        # promotes to double whose 2^53 mantissa misrounds epoch-ns by
        # 1us). Spark >=4.1 reads NANOS natively as TIMESTAMP_NTZ with the
        # same truncation DuckDB's ns->us cast applies, and ignores the
        # conf — branch on the schema that actually comes back.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            return df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
