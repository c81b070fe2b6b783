"""The benchmark's workloads, each driven through the package's public
entry points (``run.run_stage``, catalog ``Query.builder``, DataFrame
actions) and each checked against an independent reference outside the
timed window.

- ``trace_chain``: the researcher's batch job. Stage 0 and stage 1
  through ``run.run_stage``, then stage-2 entries, each written as
  parquet, over a seeded key-shifted copy of the base tape. The W1/W2
  grouped-map kernels, their re-run inside p1, and the parquet sink run
  here.
- ``catalog_sweep``: an analyst running single queries on a small
  sample. A fixed cross-section of the catalog at sf0.01, each entry
  collected to the driver in a fixed order. Plan construction, Catalyst
  and per-job scheduling dominate and nothing is written. It is the
  workload with the streaming, connected-components and mapInPandas
  entries.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

from perfbench import fixtures
from perfbench.clock import mark, since
from tests import parity
from trace_data_pipeline_spark import run
from trace_data_pipeline_spark.operators.caching import release_caches
from trace_data_pipeline_spark.plans import get_catalog

# every fifth of the catalog entries that take under a second at sf0.01
# (from the third on, in name order), plus the streaming wire-ingest
# entry, the cheapest connected-components entry and a mapInPandas
# entry; fixed here so a new catalog entry does not change the sweep
SWEEP = (
    "a13_weekly_resample", "a7_group_median", "d14_subword_counts",
    "d20_vocab_topk", "d29_stratified_sample", "d5_simhash",
    "f10_universe_screens", "f15_price_flags", "f9_calendar_semi_join",
    "j17_source_preference", "o3_topk_per_group", "r13_trade_size_cumulative",
    "r1_audit_report", "s2_standard_normalize", "w11_settlement_t2",
    "w6_log_return_filter",
    "s5_wire_ingest_dedup", "d18_dedup_clusters", "d12_media_features",
)
# run in set-up after the generic warm-up, so the scan, join, aggregate
# and window paths are loaded before the first timed entry
PRIMERS = ("a1_daily_panel", "j1_cancel_anti_join", "w9_curve_interp")
# the two stage-2 entries that fit the run length next to stages 0 and 1
STAGE2 = ("p4_monthly_signals", "p8_tail_risk_panel")
CC_ENTRIES = ("d18_dedup_clusters", "d19_semantic_dedup_clusters", "d31_cluster_representatives")


def _identity(pdf):
    return pdf


def write_parquet(spark, name: str, sf_dir: str, path: str) -> str:
    """One catalog entry to parquet, exactly as ``run.run_stage`` writes
    its outputs."""
    df = get_catalog()[name].builder(spark, sf_dir)
    df.write.mode("overwrite").option("compression", "snappy").parquet(path)
    release_caches()
    return path


def oracle_check(spark, outputs: dict[str, str], sf_dir: str) -> dict[str, str]:
    """Each written output against its DuckDB oracle twin on the same
    fixture; returns {entry: error} for the ones that differ."""
    catalog = get_catalog()
    failures = {}
    for name, path in outputs.items():
        try:
            oracle = parity.duckdb_oracle(catalog[name].oracle, sf_dir)
            parity.assert_parity(spark.read.parquet(path), oracle, name)
        except Exception as exc:  # any failure is a failed output
            failures[name] = f"{type(exc).__name__}: {exc}"[:300]
    return failures


class Pass:
    """One measured pass: (output, seconds) in run order, each output (a
    path or a collected frame), per-stage seconds and the outputs that
    raised."""

    def __init__(self):
        self.latencies: list[tuple[str, float]] = []
        self.stages: dict[str, float] = {}
        self.outputs: dict[str, object] = {}
        self.errors: dict[str, str] = {}
        self.wall_s = 0.0
        self.raw_wall_s = 0.0
        self._start = mark()

    def stage(self, spark, stage: str, sf_dir: str, out: str) -> None:
        m0 = mark()
        try:
            results = run.run_stage(spark, stage, sf_dir, out, "parquet")
        except Exception as exc:  # the stage's outputs all count as failed
            for name in run.STAGES[stage]:
                self.errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            return
        finally:
            self.stages[stage] = since(m0)
        # run_stage times its outputs on the raw wall clock; correct them
        # by the stage's own busy / (busy + steal)
        scale = self.stages[stage] / (time.perf_counter() - m0[0])
        for r in results:
            self.latencies.append((r["query"], r["secs"] * scale))
            self.outputs[r["query"]] = r["path"]

    def entry(self, name: str, produce) -> None:
        m0 = mark()
        try:
            self.outputs[name] = produce()
        except Exception as exc:  # a failed output, not a failed run
            self.errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            return
        self.latencies.append((name, since(m0)))

    @property
    def names(self) -> set[str]:
        return {name for name, _ in self.latencies} | set(self.errors)

    def done(self) -> "Pass":
        self.wall_s = since(self._start)
        self.raw_wall_s = time.perf_counter() - self._start[0]
        return self


class Workload:
    name = ""
    base = ""  # base scale under perfbench/data
    fact_tables: tuple[str, ...] = ()

    def warm_up(self, spark, sf_dir: str) -> None:
        """Start the Python worker pool and load the scan, shuffle,
        aggregate and grouped-map paths; small, because a batch job pays
        each query's own code generation in its run."""
        (
            spark.range(20_000)
            .selectExpr("id % 64 AS g", "CAST(id AS DOUBLE) AS v")
            .groupBy("g")
            .applyInPandas(_identity, "g long, v double")
            .groupBy("g")
            .sum("v")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    def fixture(self, work: str, seed: int) -> tuple[str, dict]:
        """The fixture directory for ``seed`` and its manifest."""
        raise NotImplementedError

    def input_rows(self, manifest: dict) -> int:
        return sum(manifest["tables"][t]["rows"] for t in self.fact_tables)

    def run_pass(self, spark, sf_dir: str, out: str, seed: int) -> Pass:
        raise NotImplementedError

    def check(self, spark, sf_dir: str, outputs: dict) -> dict[str, str]:
        return oracle_check(spark, outputs, sf_dir)


class TraceChain(Workload):
    name = "trace_chain"
    base = "sf0.001"
    shifted = ("events", "orders", "lineitem")
    fact_tables = ("events",)

    def fixture(self, work, seed):
        dst = os.path.join(work, "fixture")
        return dst, fixtures.build(self.base, dst, seed, self.shifted)

    def run_pass(self, spark, sf_dir, out, seed):
        p = Pass()
        for stage in ("stage0", "stage1"):
            p.stage(spark, stage, sf_dir, out)
        m0 = mark()
        for name in STAGE2:
            path = os.path.join(out, "stage2", name)
            p.entry(name, lambda: write_parquet(spark, name, sf_dir, path))
        p.stages["stage2"] = since(m0)
        return p.done()


class CatalogSweep(Workload):
    name = "catalog_sweep"
    base = "sf0.01"
    fact_tables = ("events", "orders", "lineitem", "documents", "embeddings")

    def fixture(self, work, seed):
        # the committed sf0.01 tables as they are: PARITY.json holds the
        # proven output hash of every entry on exactly these bytes
        sf_dir = fixtures.base_dir(self.base)
        tables = {t: fixtures.describe(os.path.join(sf_dir, f"{t}.parquet")) for t in fixtures.TABLES}
        return sf_dir, {"tables": tables}

    def run_pass(self, spark, sf_dir, out, seed):
        # a fixed order: the first few entries after set-up still run
        # while the JIT warms, and a seed-permuted order moved that cost
        # between entries, so the median entry changed from seed to seed
        catalog = get_catalog()
        p = Pass()
        for name in SWEEP:
            p.entry(name, lambda: self._collect(catalog[name], spark, sf_dir))
        return p.done()

    def warm_up(self, spark, sf_dir):
        super().warm_up(spark, sf_dir)
        catalog = get_catalog()
        for name in PRIMERS:
            self._collect(catalog[name], spark, sf_dir)

    @staticmethod
    def _collect(query, spark, sf_dir):
        pdf = query.builder(spark, sf_dir).toPandas()
        release_caches()
        return pdf

    def check(self, spark, sf_dir, outputs):
        with open("PARITY.json") as f:
            scales = json.load(f)["scales"]
        proven = next(v for k, v in scales.items() if k.rstrip("/").endswith(self.base))
        failures = {}
        for name, pdf in outputs.items():
            try:
                rendered = parity._render(pdf.loc[parity._canon_order(pdf)].reset_index(drop=True))
                got = {
                    "rows": int(len(pdf)),
                    "value_hash": hashlib.md5(rendered.to_csv(index=False).encode()).hexdigest(),
                }
                want = {k: proven["entries"][name][k] for k in ("rows", "value_hash")}
                if got != want:
                    failures[name] = f"got {got}, PARITY.json has {want}"
            except Exception as exc:  # any failure is a failed output
                failures[name] = f"{type(exc).__name__}: {exc}"[:300]
        return failures


WORKLOADS = {w.name: w for w in (TraceChain(), CatalogSweep())}


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
