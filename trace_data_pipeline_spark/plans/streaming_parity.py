"""Streaming parity entry (r9 verdict item 6): the WATERMARKED daily
event panel, replayed through Structured Streaming over a chronological
event-log drop sequence, oracle-checked against the same panel computed
by plain batch SQL in DuckDB.

This upgrades the batch/stream builder-sharing claim from test-only
(`tests/test_streaming_sinks.py::test_streaming_daily_panel_matches_batch`,
which runs watermark=None in complete mode) to a driver-gradeable
catalog entry with a REAL watermark and bounded state:

- the event log replays in four chronological drops (the reference's
  chunk-complete-then-export cycle, `SURVEY.md` §2.8): each drop is a
  single-file time slice whose modification time is set explicitly
  ascending, and the file source takes files oldest-first with
  maxFilesPerTrigger=1 — four micro-batches in event-time order, so a
  2-hour watermark drops nothing while still EVICTING closed windows'
  state after every micro-batch (at 100 TB the state store holds only
  the watermark-open windows, never the history). If the replay order
  ever broke, the watermark would drop whole drops and the value hash
  below would diverge loudly;
- update-mode emissions append to a staging parquet; the final value
  per (day, user) is selected by max_by over n_events, which strictly
  increases across re-emissions of a key (a window only re-emits when
  new rows joined it), so the reduction is deterministic;
- the DuckDB oracle computes the panel directly from the events table:
  if the streaming replay dropped, duplicated, or mis-merged anything
  across micro-batch boundaries, the value hash diverges.

Unlike every other catalog builder, this one is EAGER by necessity: a
streaming replay has no lazy logical-plan form, so building the entry
runs the four micro-batches once (r10 ADVICE). Two containment rules
keep that honest: the replay is memoized per (application, sf_dir) —
`sql.register_views` and repeated `queries()` calls pay it once per
session, not per call, though `release_caches()` drops the memo at
query boundaries so bench measurements stay independent — and every
staging dir is registered for atexit removal, so nothing leaks past
the process.

Reference: the pipeline's incremental per-chunk daily aggregation
(`stage0/create_daily_enhanced_trace.py` chunk loop) — pure batch
there; the streaming form is this repo's §2.8 extension.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading

from pyspark.sql import functions as F

from trace_data_pipeline_spark.operators.caching import register_release_hook
from trace_data_pipeline_spark.plans.catalog import register
from trace_data_pipeline_spark.sources import load_table
from trace_data_pipeline_spark.sources.registry import table_fingerprint

_A1S_ORACLE = """
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
         AS sum_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events
GROUP BY 1, 2
"""

N_DROPS = 4
# The state store commits EVERY partition EVERY micro-batch, so the
# count is a per-trigger fixed cost, not a parallelism win at this
# keyspace (<=50k keys): warm sf0.1 replays measured ~13-18 s at 32
# partitions, ~8.5 s at 8 (r10), ~3.0 s at 2 with byte-identical
# emissions (r11 re-measure, same box). A 100 TB deployment sizes
# this to its cluster width instead — see _state_session.
STATE_PARTITIONS = 2

# (applicationId, abs sf_dir, events fingerprint) -> output parquet
# dir, one memo per replay (a1s emissions, s5 sink).
# The replay is deterministic for a given input dir (chronological
# drops, processAllAvailable barrier), so one run per Spark app is the
# whole truth — re-running it for every register_views/queries() call
# would only re-prove the same bytes at ~8 s a pop (r10 ADVICE). The
# memo is registered as a release_caches() hook: a query boundary
# drops it so bench.py's retry ladder re-measures the REPLAY, not a
# staged-parquet read — a memo surviving the boundary would quietly
# turn the a1s floor into a scan benchmark. Staging dirs stay on disk
# until atexit (a frame built before the boundary keeps reading its
# dir safely; a rebuild gets a fresh dir).
_REPLAY_CACHE: dict[tuple, str] = {}
_WIRE_CACHE: dict[tuple, str] = {}
_REPLAY_BASES: list[str] = []
# Serializes the miss path (r11 ADVICE): two threads building a1s
# concurrently — or one building while release_caches() clears the
# memo — must not both miss and pay the multi-second replay twice.
_REPLAY_LOCK = threading.Lock()


def _clear_memos() -> None:
    # under the lock: a replay in flight at the query boundary would
    # otherwise re-insert its memo entry AFTER the clear, quietly
    # surviving the boundary (round-12 review) — serialized with the
    # miss path, the clear lands strictly before or after a build
    with _REPLAY_LOCK:
        _REPLAY_CACHE.clear()
        _WIRE_CACHE.clear()


register_release_hook(_clear_memos)


def _memoized(cache: dict, run, spark, sf_dir: str):
    """Read the output dir of `run(spark, sf_dir)`, running it at most
    once per (application, sf_dir, events fingerprint). The fingerprint
    makes a REWRITTEN sf_dir within one session miss instead of serving
    the previous contents' output (r11 ADVICE). The miss path is
    double-checked under the module lock so concurrent builders pay
    the replay once."""
    sf_abs = os.path.abspath(sf_dir)
    key = (
        spark.sparkContext.applicationId,
        sf_abs,
        table_fingerprint(os.path.join(sf_abs, "events.parquet")),
    )
    out = cache.get(key)
    if out is None or not os.path.isdir(out):
        with _REPLAY_LOCK:
            out = cache.get(key)
            if out is None or not os.path.isdir(out):
                out = run(spark, sf_dir)
                cache[key] = out
    return spark.read.parquet(out)


@atexit.register
def _cleanup_replay_dirs() -> None:
    for base in _REPLAY_BASES:
        shutil.rmtree(base, ignore_errors=True)


def _assert_ascending_mtimes(paths: list[str]) -> None:
    """The replay's ordering contract: the file source takes files
    oldest-modified-first, so the drop files' mtimes MUST be strictly
    ascending in drop order or micro-batches arrive out of event-time
    order and the watermark silently drops whole drops. os.utime is
    advisory on some mounts (object stores, noatime/relatime quirks) —
    verify what the filesystem actually recorded and fail loudly."""
    mtimes = [os.stat(p).st_mtime for p in paths]
    for i in range(1, len(mtimes)):
        if not mtimes[i - 1] < mtimes[i]:
            raise RuntimeError(
                "a1s replay: drop mtimes not strictly ascending "
                f"({mtimes}) — the filesystem ignored os.utime, so the "
                "file source would replay drops out of event-time order "
                "and the watermark would drop data. Use a local tmpdir "
                "that honors utimes, or fall back to write-then-drain."
            )


def _stage_drops(staged, n_drops: int, src: str) -> list[str]:
    """ONE-pass drop staging (r16, guide §2.4 — remove jobs outright):
    `staged` carries a `__drop` routing column; a single coalesce(1)
    write partitioned by it replaces the previous one-filtered-scan-
    per-drop loop (N scans + N write jobs → 1 + 1). The partition dirs
    are then renamed to the `drop_i.parquet` layout the file source
    replays, with strictly ascending mtimes (the replay-order
    contract). An empty time slice still yields a drop file (schema-
    only parquet) so the micro-batch count stays exactly N."""
    tmp = os.path.join(src, "__stage")
    (
        staged.coalesce(1)
        .write.mode("overwrite")
        .partitionBy("__drop")
        .parquet(tmp)
    )
    spark = staged.sparkSession
    part_files: list[str] = []
    for i in range(n_drops):
        d = os.path.join(src, f"drop_{i}.parquet")
        pdir = os.path.join(tmp, f"__drop={i}")
        if os.path.isdir(pdir):
            os.rename(pdir, d)
        else:  # empty slice: stage a zero-row file with the same schema
            (
                spark.createDataFrame([], staged.drop("__drop").schema)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(d)
            )
        for fn in sorted(os.listdir(d)):
            if fn.startswith("part-"):
                p = os.path.join(d, fn)
                os.utime(p, (1_000_000_000 + i, 1_000_000_000 + i))
                part_files.append(p)
    shutil.rmtree(tmp, ignore_errors=True)
    _assert_ascending_mtimes(part_files)
    return part_files


def _time_slices(ev, n_drops: int):
    """(drop index column, observed span) for routing `ev` rows into
    `n_drops` equal time slices of its ts span (one tiny agg; the
    events table is the smallest fact). Chunking by TIME is what makes
    the watermark sound: each drop's earliest event is later than
    everything already processed."""
    span = ev.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).collect()[0]
    lo, hi = span["lo"], span["hi"]
    step = (hi - lo) / n_drops
    drop_ix = F.lit(n_drops - 1)
    for i in range(n_drops - 2, -1, -1):
        drop_ix = F.when(
            F.col("ts") < F.lit(lo + step * (i + 1)), F.lit(i)
        ).otherwise(drop_ix)
    return drop_ix, hi - lo


def _replay_dirs(prefix: str) -> tuple[str, str, str]:
    """Fresh (drops, out, ckpt) dirs under one base registered for
    atexit removal; the drops dir exists."""
    base = tempfile.mkdtemp(prefix=prefix)
    _REPLAY_BASES.append(base)
    src = os.path.join(base, "drops")
    os.makedirs(src)
    return src, os.path.join(base, "out"), os.path.join(base, "ckpt")


def _state_session(spark):
    """A CLONED session (same SparkContext, own SQLConf) to plan the
    stream in, so pinning STATE_PARTITIONS (see its comment for the
    measurements) can't bleed into queries planned concurrently in the
    caller's session (r10 ADVICE); the count is burned into the
    checkpoint at first batch."""
    ss = spark.newSession()
    conf_key = "spark.sql.shuffle.partitions"
    ss.conf.set(
        conf_key, str(min(int(ss.conf.get(conf_key)), STATE_PARTITIONS))
    )
    return ss


def _drain(q, src: str, ckpt: str) -> None:
    """Run the query over every staged drop, stop it, and delete the
    drops and the checkpoint: they are dead weight once the output dir
    holds everything. The output dir outlives the builder (the returned
    frame reads it lazily) and is reaped by the atexit hook above."""
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)


def _run_replay(spark, sf_dir: str) -> str:
    """Execute the chronological drop replay once; return the staging
    dir holding every (window, user) update emission, stamped with
    `__batch`."""
    from trace_data_pipeline_spark.streaming.daily import (
        daily_event_panel,
        stream_events_from_dir,
    )

    ev = load_table(spark, sf_dir, "events").select("ts", "user_id", "value")
    drop_ix, _ = _time_slices(ev, N_DROPS)
    src, upd, ckpt = _replay_dirs("a1s_replay_")

    # pre-write the four time-slice drops as single files with strictly
    # ascending mtimes: the file source (latestFirst=false) takes files
    # oldest-modified-first, so maxFilesPerTrigger=1 yields one
    # chronological micro-batch per drop under a single end barrier —
    # identical replay semantics to a write-then-drain loop at a
    # quarter of the per-barrier streaming overhead. r16: all drops
    # stage in ONE pass over the events scan (same slice boundaries as
    # the old per-drop filters) instead of one filtered write job each.
    _stage_drops(ev.withColumn("__drop", drop_ix), N_DROPS, src)

    stream = stream_events_from_dir(
        _state_session(spark), os.path.join(src, "*"), ev.schema,
        max_files_per_trigger=1,
    )
    panel = daily_event_panel(
        stream, id_col="user_id", value_col="value", watermark="2 hours"
    )
    # stamping the micro-batch id onto every emission makes the replay
    # auditable: tests assert the drop count really produced that many
    # micro-batches and that keys were re-emitted ACROSS batches (the
    # cross-batch state merge the entry exists to prove); the final
    # reduction below never reads the stamp
    # Each micro-batch's update set is KB-scale here (the whole replay
    # emits <100k rows), so the staging append coalesces to one file
    # per batch: N_DROPS files total instead of N_DROPS x
    # STATE_PARTITIONS near-empty ones — fewer write tasks per trigger
    # AND a fraction of the files for the final reduction to open. A
    # production sink with real volume would keep the state
    # partitioning instead of coalescing.
    q = (
        panel.writeStream.outputMode("update")
        .foreachBatch(
            lambda batch, bid: batch.withColumn(
                "__batch", F.lit(bid).cast("long")
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(upd)
        )
        .option("checkpointLocation", ckpt)
        .start()
    )
    _drain(q, src, ckpt)
    return upd


def replay_daily_panel(spark, sf_dir):
    """Return the raw EMISSIONS frame (one row per (window, user)
    update per micro-batch, stamped with `__batch`), running the replay
    at most once per (application, sf_dir, input fingerprint). The
    catalog builder reduces this to the final panel; tests read the
    stamps to prove the replay really produced N_DROPS cross-merging
    micro-batches."""
    return _memoized(_REPLAY_CACHE, _run_replay, spark, sf_dir)


@register("a1s_streaming_daily_panel", oracle=_A1S_ORACLE)
def a1s_streaming_daily_panel(spark, sf_dir):
    """A1-twin over §2.8: the watermarked streaming daily panel must
    hash-match the batch SQL panel after a chronological 4-drop replay
    of the event log. See module docstring for the replay protocol."""
    emitted = replay_daily_panel(spark, sf_dir)
    final = F.max_by(
        F.struct("sum_value", "min_value", "max_value"), "n_events"
    )
    out = emitted.groupBy("day", "user_id").agg(
        F.max("n_events").alias("n_events"), final.alias("__f")
    )
    return out.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "user_id",
        "n_events",
        F.col("__f.sum_value").alias("sum_value"),
        F.col("__f.min_value").alias("min_value"),
        F.col("__f.max_value").alias("max_value"),
    )


# ---------------------------------------------------------------------------
# s5: Kafka-shaped wire ingest + streaming exact dedup (r16, verdict
# item 7 — the streaming surface's transport decode was proven only in
# unit tests; this makes it an oracle-gradeable end-to-end entry).
# ---------------------------------------------------------------------------

_S5_ORACLE = """
SELECT event_id, ts, user_id, event_type, value, props FROM events
"""

N_WIRE_DROPS = 3


def _run_wire_replay(spark, sf_dir: str) -> str:
    """Stage the event log as N chronological Kafka-message drops
    (binary JSON `value` column — the exact frame a Kafka source
    yields), with every drop after the first RE-DELIVERING a
    deterministic subset of the previous drop (event_id % 7 == 0 —
    producer-retry/replay semantics crossing a micro-batch boundary);
    stream them back through the wire decode and the watermarked
    exact dedup into an append parquet sink. Returns the sink dir.

    The dedup delay is sized to the whole observed span: the
    redelivery horizon here is one drop, and a delay covering the
    span guarantees no first delivery is ever dropped as late — the
    state bound story (delay ≈ transport redelivery window) is d28's;
    this entry grades wire + dedup CORRECTNESS end to end. If the
    decode lost precision (the default-millis JSON timestampFormat
    trap) or the dedup passed a redelivery, the value hash against
    the plain events table diverges."""
    from trace_data_pipeline_spark.streaming.daily import (
        stream_events_from_dir,
    )
    from trace_data_pipeline_spark.streaming.dedup import (
        streaming_exact_dedup,
    )
    from trace_data_pipeline_spark.streaming.kafka import (
        decode_json_events,
        json_event_value,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    drop_ix, span = _time_slices(ev, N_WIRE_DROPS)
    horizon = f"{span.days + 2} days"
    src, out, ckpt = _replay_dirs("s5_wire_")

    # r16 one-pass staging: the old loop paid one filtered scan +
    # encode + write job PER drop (plus re-encoding the redelivered
    # subset). Encode once next to the routing columns, route each row
    # to its time-slice drop — redelivered rows (event_id % 7 == 0,
    # producer-retry semantics) explode into (drop, drop+1) with the
    # SAME wire bytes — and write all drops in one partitioned job.
    wire = ev.select(
        json_event_value(ev).alias("value"),
        drop_ix.alias("__d"),
        (F.col("event_id") % 7 == 0).alias("__redeliver"),
    )
    staged = wire.select(
        "value",
        F.explode(
            F.when(
                F.col("__redeliver") & (F.col("__d") < N_WIRE_DROPS - 1),
                F.array(F.col("__d"), F.col("__d") + 1),
            ).otherwise(F.array(F.col("__d")))
        ).alias("__drop"),
    )
    _stage_drops(staged, N_WIRE_DROPS, src)

    raw = stream_events_from_dir(
        _state_session(spark), os.path.join(src, "*"), "value binary",
        max_files_per_trigger=1,
    )
    deduped = streaming_exact_dedup(
        decode_json_events(raw), id_cols=("event_id",), ts_col="ts",
        delay=horizon,
    )
    q = (
        deduped.coalesce(1)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    _drain(q, src, ckpt)
    return out


def replay_wire_ingest(spark, sf_dir):
    """Memoized like replay_daily_panel; the release_caches() hook
    drops the memo at query boundaries so bench re-measures the
    replay."""
    return _memoized(_WIRE_CACHE, _run_wire_replay, spark, sf_dir)


@register("s5_wire_ingest_dedup", oracle=_S5_ORACLE)
def s5_wire_ingest_dedup(spark, sf_dir):
    """§2.8 transport end-to-end: Kafka-message-shaped JSON drops →
    wire decode (micro-precision timestampFormat — the default-millis
    trap this entry caught) → dropDuplicatesWithinWatermark over the
    redelivered stream → append sink. Output must hash-match the
    plain events table: every redelivery suppressed, every first
    delivery intact to the microsecond. A real Kafka source needs only
    the connector package: the decode and dedup proven here are
    byte-identical through a broker; only the transport differs."""
    emitted = replay_wire_ingest(spark, sf_dir)
    return emitted.select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
