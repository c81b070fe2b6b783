"""W1/W2 error-correction plans over the events table.

The events series (user_id ≈ cusip_id, ts order, value ≈ price) gets a
deterministic synthetic corruption — every event_id ≡ 0 (mod 97) price
is multiplied by 100 — so the decimal-shift corrector has real work to
do, applied identically in the Spark plan and the oracle.

w1's oracle expresses the whole anchor chain in DuckDB list SQL: with
non-null prices the reference's fallback chain reduces to
centered-median else forward-median (forward has min_periods=1 and is
always defined), and medians/gates are bit-exact double algebra in both
engines, so the comparison needs NO rounding at all.

w2 is a sequential state machine (lookahead scan, blame reassignment,
cooldown) — beyond DataFrame algebra, but still foldable: its oracle
runs the identical scan as a DuckDB RECURSIVE CTE (state = cursor,
cooldown bound, flag list; one recursion step per loop iteration), so
w2 and the full p1 composite are value-hash-checked like everything
else, plus golden unit tests in tests/test_error_correction.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from trace_data_pipeline_spark.operators.bounceback import bounce_back_filter
from trace_data_pipeline_spark.operators.decimal_shift import decimal_shift_corrector
from trace_data_pipeline_spark.plans.catalog import register
from trace_data_pipeline_spark.plans.settings import (
    P0_SETTINGS,
    P1_SETTINGS,
    Stage0Settings,
    build_stage0,
)
from trace_data_pipeline_spark.sources import load_table

# The kernels' column contract on the synthetic events: user_id stands
# in for cusip_id, d for the trade date, p for the price, and
# (ts, event_id) is the trade order.
_ID, _DATE, _PRICE, _ORDER = "user_id", "d", "p", ("ts", "event_id")

_W1_CTE = r"""
WITH base AS (
  SELECT user_id, event_id, ts, CAST(ts AS DATE) AS d,
         CASE WHEN event_id % 97 = 0 THEN value * 100 ELSE value END AS p
  FROM events
),
dd AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, d, p
                               ORDER BY ts, event_id) AS dup_rn
  FROM base
),
seq AS (
  SELECT user_id, d, p, ts, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM dd WHERE dup_rn = 1
),
lists AS (SELECT user_id, list(p ORDER BY i) AS ps FROM seq GROUP BY 1),
sliced AS (
  SELECT s.user_id, s.d, s.p,
         CASE WHEN least(s.n, s.i + 5) - greatest(1, s.i - 5) + 1 >= 6
              THEN list_sort(l.ps[greatest(1, s.i - 5):least(s.n, s.i + 5)])
              ELSE list_sort(l.ps[s.i:least(s.n, s.i + 5)]) END AS w
  FROM seq s JOIN lists l USING (user_id)
),
anch AS (
  SELECT user_id, d, p,
         CASE WHEN len(w) % 2 = 1 THEN w[(len(w) + 1) // 2]
              ELSE (w[len(w) // 2] + w[len(w) // 2 + 1]) / 2.0 END AS a
  FROM sliced
),
scored AS (
  SELECT b.user_id, b.d, b.ts, b.event_id, b.p, anch.a,
         abs(b.p - anch.a) / anch.a AS raw_rel,
         CASE WHEN b.p * 0.1   BETWEEN 5.0 AND 300.0 THEN abs(b.p * 0.1   - anch.a) / anch.a END AS r1,
         CASE WHEN b.p * 0.01  BETWEEN 5.0 AND 300.0 THEN abs(b.p * 0.01  - anch.a) / anch.a END AS r2,
         CASE WHEN b.p * 10.0  BETWEEN 5.0 AND 300.0 THEN abs(b.p * 10.0  - anch.a) / anch.a END AS r3,
         CASE WHEN b.p * 100.0 BETWEEN 5.0 AND 300.0 THEN abs(b.p * 100.0 - anch.a) / anch.a END AS r4
  FROM base b JOIN anch ON b.user_id = anch.user_id AND b.d = anch.d AND b.p = anch.p
),
best AS (
  SELECT user_id, d, ts, event_id, p, a, raw_rel,
         least(r1, r2, r3, r4) AS best_rel,
         CASE WHEN r1 = least(r1, r2, r3, r4) THEN 0.1
              WHEN r2 = least(r1, r2, r3, r4) THEN 0.01
              WHEN r3 = least(r1, r2, r3, r4) THEN 10.0
              WHEN r4 = least(r1, r2, r3, r4) THEN 100.0 END AS best_factor
  FROM scored
),
gated AS (
  SELECT user_id, d, ts, event_id, p, best_factor, p * best_factor AS best_price,
         CASE WHEN raw_rel > (0.05 - 1e-12)
                   AND (best_rel <= (0.02 + 1e-12)
                        OR abs(p * best_factor - a) <= (8.0 + 1e-12)
                        OR (abs(a - 100.0) <= 15.0
                            AND abs(p * best_factor - 100.0) <= 15.0))
                   AND best_rel <= 0.2 * raw_rel + 1e-12
              THEN 1 ELSE 0 END AS dec_shift_flag
  FROM best
)
"""

_W1_ORACLE = (
    _W1_CTE
    + r"""
SELECT event_id,
       dec_shift_flag,
       CASE WHEN dec_shift_flag = 1 THEN best_factor ELSE 1.0 END AS dec_shift_factor,
       CASE WHEN dec_shift_flag = 1 THEN best_price ELSE p END AS suggested_price
FROM gated
"""
)



# ---- W2 state machine as a DuckDB recursive CTE -----------------------
#
# The bounce-back filter is a per-id sequential scan with variable
# advance (lookahead bounce, blame reassignment, plateau extension, par
# runs, cooldown). It is still expressible as a *recursive* SQL
# fold: state = (cursor i, cooldown bound, flag list); one recursion
# step mirrors one iteration of the kernel loop, bit-for-bit (same
# constants, same EPS slop, numpy-median formula written out). The
# machine below expects a CTE named w2src(user_id, event_id, ts, p)
# and yields w2flags(event_id, filtered_error).
_W2_MACHINE = r"""
w2ord AS (
  SELECT user_id, event_id, p,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i
  FROM w2src
),
w2arr AS (
  SELECT user_id,
         list(p ORDER BY i) AS ps,
         list(event_id ORDER BY i) AS eids,
         COUNT(*)::BIGINT AS n
  FROM w2ord GROUP BY user_id
),
w2pre AS (
  SELECT user_id, ps, eids, n,
         list_transform(range(1, n + 1), i ->
           CASE WHEN i = 1 THEN NULL ELSE ps[i] - ps[i - 1] END) AS ds,
         list_transform(range(1, n + 1), i ->
           CASE WHEN i = 1 THEN NULL ELSE (
             CASE WHEN len(list_distinct(ps[greatest(1, i - 6):i - 1])) % 2 = 1
                  THEN list_sort(list_distinct(ps[greatest(1, i - 6):i - 1]))
                       [(len(list_distinct(ps[greatest(1, i - 6):i - 1])) + 1) // 2]
                  ELSE (list_sort(list_distinct(ps[greatest(1, i - 6):i - 1]))
                        [len(list_distinct(ps[greatest(1, i - 6):i - 1])) // 2]
                      + list_sort(list_distinct(ps[greatest(1, i - 6):i - 1]))
                        [len(list_distinct(ps[greatest(1, i - 6):i - 1])) // 2 + 1]) / 2.0
             END) END) AS bases
  FROM w2arr
),
w2st AS (
  SELECT user_id, 1::BIGINT AS i, (-1)::BIGINT AS cd,
         list_transform(range(1, n + 1), x -> 0::TINYINT) AS flags,
         0::BIGINT AS step
  FROM w2pre
  UNION ALL
  SELECT user_id,
         CASE WHEN skip OR NOT cand THEN i + 1
              WHEN stop_at IS NOT NULL THEN stop_at + 1
              WHEN par_hit AND run_len >= 3 THEN run_end + 1
              ELSE i + 1 END,
         CASE WHEN NOT skip AND cand AND stop_at IS NOT NULL AND par_hit
                THEN greatest(cd, stop_at + 2)
              WHEN NOT skip AND cand AND stop_at IS NULL AND par_hit AND run_len >= 3
                THEN greatest(cd, run_end + 2)
              ELSE cd END,
         CASE WHEN NOT skip AND cand AND stop_at IS NOT NULL THEN
                list_transform(range(1, n + 1), x ->
                  CASE WHEN x = start_idx AND flag_start THEN 1::TINYINT
                       WHEN x > start_idx AND x <= least(stop_at, start_idx + 5) THEN
                         CASE WHEN par_hit THEN
                                (CASE WHEN abs(ps[x] - 100.0) <= 1e-8
                                      THEN 1::TINYINT ELSE flags[x] END)
                              WHEN x < first_fail THEN 1::TINYINT
                              ELSE flags[x] END
                       ELSE flags[x] END)
              WHEN NOT skip AND cand AND stop_at IS NULL AND par_hit AND run_len >= 3 THEN
                list_transform(range(1, n + 1), x ->
                  CASE WHEN x >= i AND x <= run_end THEN 1::TINYINT ELSE flags[x] END)
              ELSE flags END,
         step + 1
  FROM (
    SELECT *,
           ((NOT par_hit) OR abs(ps[start_idx] - 100.0) <= 1e-8) AS flag_start,
           COALESCE(list_min(list_filter(range(start_idx + 1,
                                               least(stop_at, start_idx + 5) + 1),
             k -> NOT (bases[start_idx] IS NOT NULL
                       AND abs(ps[k] - bases[start_idx]) >= 8.75 - 1e-12))),
             9223372036854775807) AS first_fail
    FROM (
      SELECT *,
             CASE WHEN cand AND stop_at IS NOT NULL AND i > 1
                       AND bases[i - 1] IS NOT NULL AND bases[i] IS NOT NULL
                       AND (abs(ps[i - 1] - bases[i - 1]) - abs(ps[i] - bases[i]))
                           >= (5.0 - 1e-12)
                       AND abs(ps[i - 1] - bases[i - 1]) >= (8.75 - 1e-12)
                  THEN i - 1 ELSE i END AS start_idx
      FROM (
        SELECT *,
               CASE WHEN cand AND NOT par_only THEN
                 list_min(list_filter(range(i + 1, least(n, i + 5) + 1), j ->
                   (ds[i] IS NOT NULL AND ds[j] IS NOT NULL
                    AND sign(ds[j]) = -sign(ds[i])
                    AND abs(ds[j]) >= 34.0 - 1e-12)
                   OR (bases[i] IS NOT NULL
                       AND abs(ps[j] - bases[i]) <= 8.75 + 1e-12)))
               ELSE NULL END AS stop_at,
               COALESCE(list_min(list_filter(range(i + 1, n + 1),
                 k -> NOT (abs(ps[k] - 100.0) <= 1e-8))), n + 1) - 1 AS run_end,
               COALESCE(list_min(list_filter(range(i + 1, n + 1),
                 k -> NOT (abs(ps[k] - 100.0) <= 1e-8))), n + 1) - 1 - i + 1 AS run_len
        FROM (
          SELECT *,
                 (par_hit AND NOT jump) AS par_only,
                 (NOT skip AND (jump OR far OR par_hit)) AS cand
          FROM (
            SELECT w2st.user_id, w2st.i, w2st.cd, w2st.flags, w2st.step,
                   w2pre.ps, w2pre.ds, w2pre.bases, w2pre.n,
                   (w2st.i <= w2st.cd
                    AND NOT (abs(w2pre.ps[w2st.i] - 100.0) <= 1e-8)) AS skip,
                   (w2pre.ds[w2st.i] IS NOT NULL
                    AND abs(w2pre.ds[w2st.i]) >= 34.0 - 1e-12) AS jump,
                   (w2pre.bases[w2st.i] IS NOT NULL
                    AND abs(w2pre.ps[w2st.i] - 100.0) <= 1e-8
                    AND abs(w2pre.ps[w2st.i] - w2pre.bases[w2st.i])
                        >= 8.75 - 1e-12) AS par_hit,
                   (w2pre.bases[w2st.i] IS NOT NULL
                    AND abs(w2pre.ps[w2st.i] - w2pre.bases[w2st.i])
                        >= 34.0 - 1e-12) AS far
            FROM w2st JOIN w2pre USING (user_id)
            WHERE w2st.i <= w2pre.n
          ) l1x
        ) l1a
      ) l1
    ) l2
  ) l3
),
w2fin AS (
  SELECT user_id, flags,
         row_number() OVER (PARTITION BY user_id ORDER BY step DESC) AS rn
  FROM w2st
),
w2flags AS (
  SELECT UNNEST(w2pre.eids) AS event_id,
         UNNEST(w2fin.flags)::INT AS filtered_error
  FROM w2fin JOIN w2pre USING (user_id)
  WHERE w2fin.rn = 1
)"""

_W2_ORACLE = (
    r"""
WITH RECURSIVE w2src AS (
  SELECT user_id, event_id, ts,
         CASE WHEN event_id % 97 = 0 THEN value * 100 ELSE value END AS p
  FROM events
),
"""
    + _W2_MACHINE
    + "\nSELECT event_id, filtered_error FROM w2flags"
)



def _corrupted_events(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.to_date("ts").alias("d"),
        F.when(F.col("event_id") % 97 == 0, F.col("value") * 100)
        .otherwise(F.col("value"))
        .alias("p"),
    )


def _decimal_shift(df, mode, window=Stage0Settings.decimal_shift_window):
    """W1 over a frame in the column contract."""
    return decimal_shift_corrector(
        df, _ID, _DATE, _PRICE, _ORDER, window=window, mode=mode
    )


def _bounce_back(df, mode, threshold_abs=Stage0Settings.bounce_threshold_abs):
    """W2 over a frame in the column contract; the output keeps the
    input's column order."""
    return bounce_back_filter(
        df, _ID, _PRICE, _ORDER, threshold_abs=threshold_abs, mode=mode
    )


def _flag_chain(spark, sf_dir):
    """The flag-mode W1 → W2 → W3 chain (the reference's
    output_type='uncleaned' re-run, `create_daily_enhanced_trace.py:
    2402-2780`): each stage flags the previous stage's survivors.
    Returns the three flagged frames (f1, f2, f3).

    The two grouped-map kernel frames f1 and f2 are persisted because
    they form DIAMONDS: f1 feeds W2 and r2's removal count, f2 feeds W3
    and both r2's count and the report's affected-set filter. Without
    the cache Spark would run the Python kernels once per consumer
    (measured ~7 s → ~3 s at sf0.1 on r2). The report never reads f1,
    but in an audit report r2 runs first, and Spark's cache manager
    serves both f1 and f2 from r2's cached frames."""
    from trace_data_pipeline_spark.operators.caching import tracked_persist
    from trace_data_pipeline_spark.operators.windows import (
        initial_price_error_filter,
    )

    f1 = tracked_persist(_decimal_shift(_corrupted_events(spark, sf_dir), "flag"))
    s1 = f1.filter(F.col("dec_shift_flag") == 0)
    f2 = tracked_persist(
        _bounce_back(s1.select("user_id", "d", "ts", "event_id", "p"), "flag")
    )
    f3 = initial_price_error_filter(
        f2.filter(F.col("filtered_error") == 0), _PRICE, [_ID], _ORDER, mode="flag"
    )
    return f1, f2, f3


@register("w1_decimal_shift", oracle=_W1_ORACLE)
def w1_decimal_shift(spark, sf_dir):
    """W1 decimal-shift corrector end-to-end on synthetically corrupted
    prices: rolling unique-median anchor (applyInPandas over the deduped
    slice), factor testing + five acceptance gates as column algebra.
    Value-hash checked against a full list-SQL oracle — bit-exact, no
    rounding."""
    out = _decimal_shift(_corrupted_events(spark, sf_dir), "flag")
    return out.select(
        "event_id",
        F.col("dec_shift_flag").cast("int").alias("dec_shift_flag"),
        "dec_shift_factor",
        "suggested_price",
    )


@register("w2_bounce_back", oracle=_W2_ORACLE)
def w2_bounce_back(spark, sf_dir):
    """W2 bounce-back filter on the corrupted series: per-id sequential
    state machine (lookahead bounce scan, blame reassignment, par runs,
    cooldown) as an applyInPandas grouped map. Oracle = the same scan
    as a recursive CTE (_W2_MACHINE) — bit-exact, no rounding; plus
    golden tests."""
    out = _bounce_back(_corrupted_events(spark, sf_dir), "flag")
    return out.select(
        "event_id", F.col("filtered_error").cast("int").alias("filtered_error")
    )

_P0_ORACLE = (
    _W1_CTE
    + r""",
cleaned AS (
  SELECT user_id, d, ts, event_id,
         CASE WHEN dec_shift_flag = 1 THEN best_price ELSE p END AS cp
  FROM gated
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY user_id, d ORDER BY ts, event_id) AS ra,
         row_number() OVER (PARTITION BY user_id, d ORDER BY ts DESC, event_id DESC) AS rd
  FROM cleaned
)
SELECT user_id, strftime(d, '%Y-%m-%d') AS d,
       COUNT(*) AS n_trades,
       max(CASE WHEN ra = 1 THEN cp END) AS prc_first,
       max(CASE WHEN rd = 1 THEN cp END) AS prc_last,
       max(cp) AS prc_hi, min(cp) AS prc_lo,
       CAST((2 * SUM(CAST(round(cp * 1000, 0) AS BIGINT)) * 10000
             + 1000 * COUNT(*)) // (2000 * COUNT(*)) AS DOUBLE) / 10000 AS prc_ew
FROM ranked GROUP BY 1, 2
"""
)


_P1_ORACLE = (
    _W1_CTE.replace("WITH base AS", "WITH RECURSIVE base AS", 1)
    + r""",
cleaned AS (
  SELECT user_id, d, ts, event_id,
         CASE WHEN dec_shift_flag = 1 THEN best_price ELSE p END AS cp
  FROM gated
),
w2src AS (
  SELECT user_id, event_id, ts, cp AS p FROM cleaned
),
"""
    + _W2_MACHINE
    + r""",
surv AS (
  SELECT c.user_id, c.d, c.ts, c.event_id, c.cp
  FROM cleaned c JOIN w2flags f USING (event_id)
  WHERE f.filtered_error = 0
),
ranked2 AS (
  SELECT *,
         row_number() OVER (PARTITION BY user_id, d ORDER BY ts, event_id) AS ra,
         row_number() OVER (PARTITION BY user_id, d ORDER BY ts DESC, event_id DESC) AS rd
  FROM surv
)
SELECT user_id, strftime(d, '%Y-%m-%d') AS d,
       COUNT(*) AS n_trades,
       max(CASE WHEN ra = 1 THEN cp END) AS prc_first,
       max(CASE WHEN rd = 1 THEN cp END) AS prc_last,
       max(cp) AS prc_hi, min(cp) AS prc_lo,
       CAST((2 * SUM(CAST(round(cp * 1000, 0) AS BIGINT)) * 10000
             + 1000 * COUNT(*)) // (2000 * COUNT(*)) AS DOUBLE) / 10000 AS prc_ew
FROM ranked2 GROUP BY 1, 2
"""
)


def _daily_panel(cleaned):
    """A1-style daily aggregation over a cleaned trade frame in the
    column contract, with the exact fixed-point mean discipline
    (corrected prices have ≤3 decimals, so mills are integers)."""
    from trace_data_pipeline_spark.functions.ordered import first_by, last_by, ts_seq_key
    from trace_data_pipeline_spark.functions.scalars import round_ratio_half_up

    cp = F.col("cp")  # the corrected price, named as in the oracles
    mills = F.round(cp * 1000, 0).cast("long")
    return (
        cleaned.select(_ID, _DATE, *_ORDER, F.col(_PRICE).alias("cp"))
        .groupBy(_ID, _DATE)
        .agg(
            F.count(F.lit(1)).alias("n_trades"),
            first_by(cp, ts_seq_key(*_ORDER)).alias("prc_first"),
            last_by(cp, ts_seq_key(*_ORDER)).alias("prc_last"),
            F.max(cp).alias("prc_hi"),
            F.min(cp).alias("prc_lo"),
            round_ratio_half_up(F.sum(mills), F.count(F.lit(1)) * 1000, 4).alias(
                "prc_ew"
            ),
        )
        .select(
            _ID,
            F.date_format(_DATE, "yyyy-MM-dd").alias("d"),
            "n_trades",
            "prc_first",
            "prc_last",
            "prc_hi",
            "prc_lo",
            "prc_ew",
        )
    )


_R2_ORACLE = (
    _W1_CTE.replace("WITH base AS", "WITH RECURSIVE base AS", 1)
    + r""",
w2src AS (
  SELECT user_id, event_id, ts, p FROM gated WHERE dec_shift_flag = 0
),
"""
    + _W2_MACHINE
    + r""",
s2 AS (
  SELECT g.user_id, g.ts, g.event_id, g.p
  FROM gated g JOIN w2flags f USING (event_id)
  WHERE g.dec_shift_flag = 0 AND f.filtered_error = 0
),
w3seq AS (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         abs(p - lag(p) OVER (PARTITION BY user_id ORDER BY ts, event_id))
           > 50.0 AS jump
  FROM s2
),
w3f AS (
  SELECT event_id, rn,
         min(CASE WHEN rn <= 3 AND jump THEN rn END)
           OVER (PARTITION BY user_id) AS fj
  FROM w3seq
),
w3 AS (
  SELECT event_id,
         CASE WHEN fj IS NOT NULL AND rn < fj THEN 1 ELSE 0 END AS initial_error
  FROM w3f
),
counts AS (
  SELECT (SELECT count(*) FROM gated) AS c0,
         (SELECT count(*) FROM gated WHERE dec_shift_flag = 0) AS c1,
         (SELECT count(*) FROM s2) AS c2,
         (SELECT count(*) FROM w3 WHERE initial_error = 0) AS c3
)
SELECT * FROM (
  SELECT 1 AS stage_no, 'decimal_shift' AS stage, c0 AS rows_before,
         c1 AS rows_after, c0 - c1 AS removed,
         CAST((2 * (c0 - c1) * 1000000 + c0) // (2 * c0) AS DOUBLE)
           / 1000000 AS removed_frac
  FROM counts
  UNION ALL
  SELECT 2, 'bounce_back', c1, c2, c1 - c2,
         CAST((2 * (c1 - c2) * 1000000 + c1) // (2 * c1) AS DOUBLE) / 1000000
  FROM counts
  UNION ALL
  SELECT 3, 'initial_price', c2, c3, c2 - c3,
         CAST((2 * (c2 - c3) * 1000000 + c2) // (2 * c2) AS DOUBLE) / 1000000
  FROM counts
)
"""
)


@register("r2_error_checks", oracle=_R2_ORACLE)
def r2_error_checks(spark, sf_dir):
    """Flag-only `error_checks` composite (the reference's secondary
    entry point: re-run the pipeline keeping flagged rows to build the
    per-stage removal audit tables,
    `stage0/create_daily_enhanced_trace.py:2402-2780` +
    `stage0/_build_error_files.py:407+`, minus the LaTeX/plots): W1
    decimal-shift, W2 bounce-back, and W3 initial-price errors all run
    in mode='flag', chained so each stage screens the previous stage's
    survivors, then the three per-stage aggregates (each 1 row) combine
    with cross joins into the removal table with exact half-up
    fractions — no per-stage driver actions, no recounting scans.

    The chain's kernel frames are persisted (see _flag_chain). The
    per-stage counts come from each stage's own 1-row aggregate
    cross-joined together, never from an events-sized join on
    event_id."""
    from trace_data_pipeline_spark.functions.scalars import (
        round_ratio_half_up,
    )

    f1, f2, f3 = _flag_chain(spark, sf_dir)
    cnt = lambda p: F.sum(F.when(p, 1).otherwise(0))  # noqa: E731
    a1 = f1.agg(
        F.count(F.lit(1)).alias("c0"),
        cnt(F.col("dec_shift_flag") == 0).alias("c1"),
    )
    a2 = f2.agg(cnt(F.col("filtered_error") == 0).alias("c2"))
    a3 = f3.agg(cnt(F.col("initial_error") == 0).alias("c3"))
    agg = a1.crossJoin(a2).crossJoin(a3)
    stages = F.array(
        *[
            F.struct(
                F.lit(no).alias("stage_no"),
                F.lit(name).alias("stage"),
                F.col(b).alias("rows_before"),
                F.col(a).alias("rows_after"),
                (F.col(b) - F.col(a)).alias("removed"),
                round_ratio_half_up(F.col(b) - F.col(a), F.col(b), 6).alias(
                    "removed_frac"
                ),
            )
            for no, name, b, a in [
                (1, "decimal_shift", "c0", "c1"),
                (2, "bounce_back", "c1", "c2"),
                (3, "initial_price", "c2", "c3"),
            ]
        ]
    )
    return agg.select(F.inline(stages))


@register("p0_stage0_panel", oracle=_P0_ORACLE)
def p0_stage0_panel(spark, sf_dir):
    """Composite stage-0 slice (SURVEY §3.1): corrupt → decimal-shift
    CLEAN mode → order-sensitive daily panel, all in one lazy plan —
    the operators compose without materialization boundaries. The
    oracle replays the whole chain (anchor CTEs + gates + aggregation)
    and the comparison is exact."""
    return _daily_panel(build_stage0(spark, sf_dir, P0_SETTINGS))


@register("p1_stage0_full", oracle=_P1_ORACLE)
def p1_stage0_full(spark, sf_dir):
    """Full stage-0 chain including the sequential bounce-back filter
    (W2): corrupt → decimal-shift clean → bounce-back clean → daily
    panel — end-to-end value-hash-checked (W1 list-SQL + W2 recursive
    CTE + panel aggregation composed into one oracle)."""
    return _daily_panel(build_stage0(spark, sf_dir, P1_SETTINGS))


@register(
    "r4_flagged_series",
    oracle=_W1_CTE
    + r""",
    w1 AS (
      SELECT g.user_id, g.event_id, g.d, g.p, g.dec_shift_flag,
             CASE WHEN g.dec_shift_flag = 1 THEN g.best_price ELSE g.p END
               AS p_after
      FROM gated g
    ),
    affected AS (SELECT DISTINCT user_id FROM w1 WHERE dec_shift_flag = 1)
    SELECT w1.event_id, w1.user_id,
           strftime(w1.d, '%Y-%m-%d') AS d,
           w1.p AS p_before, w1.p_after,
           CAST(w1.dec_shift_flag AS INTEGER) AS dec_shift_flag
    FROM w1 JOIN affected USING (user_id)
    """,
)
def r4_flagged_series(spark, sf_dir):
    """The report entry point's before/after SERIES: for every entity
    with at least one decimal-shift flag, the full price series with
    original and corrected values side by side — the exact frame the
    reference's error plots consume (`_build_error_files.py:407+`,
    `_error_plot_helpers.py:456-903`; the engine emits the data, the
    LaTeX/plot rendering is intentionally out of scope). The affected
    set is flag-holders only, so the semi-join's build side is
    collision-sized and broadcasts; the flag pass runs ONCE (flag mode
    keeps every row, so no diamond)."""
    f1 = _decimal_shift(_corrupted_events(spark, sf_dir), "flag")
    affected = (
        f1.filter(F.col("dec_shift_flag") == 1).select("user_id").distinct()
    )
    return (
        f1.join(F.broadcast(affected), "user_id", "left_semi")
        .select(
            "event_id",
            "user_id",
            F.date_format("d", "yyyy-MM-dd").alias("d"),
            F.col("p").alias("p_before"),
            F.col("suggested_price").alias("p_after"),
            F.col("dec_shift_flag").cast("int").alias("dec_shift_flag"),
        )
    )


def flagged_series_frames(
    spark, sf_dir, error_types=("decimal_shift",)
):
    """Per-error-type flagged price series for the report sink's figure
    pages — the reference's `make_panel` renders panels for THREE error
    types with suffixed filenames ('_ds', '_bb', '_ie';
    `stage0/_error_plot_helpers.py:281-455`):

    - 'decimal_shift': the oracle-backed r4 frame (original +
      suggested price, dec_shift_flag);
    - 'bounce_back': W2 in flag mode over W1's survivors (the r2 chain
      order), flag = filtered_error; bounce-back REMOVES rather than
      corrects, so p_after == p_before, exactly as the reference plots
      `rptd_pr` with markers on `filtered_error`;
    - 'init_price': W3 in flag mode over W2's survivors, flag =
      initial_error.

    Each frame keeps affected entities only (flag-holders semi-join,
    broadcast build side — collision-sized by construction) with the
    uniform schema (event_id, user_id, d, p_before, p_after, flag).
    Report-layer frames, deliberately NOT catalog entries: r4 is the
    oracle-backed representative; these are r2's own chain
    (_flag_chain), whose persisted f1/f2 they share. f3 is persisted
    here for the same diamond: it feeds both its affected-set filter
    and the semi-join's probe side."""
    from trace_data_pipeline_spark.operators.caching import tracked_persist

    def _affected_only(frame, flag_col):
        affected = (
            frame.filter(F.col(flag_col) == 1).select("user_id").distinct()
        )
        return frame.join(F.broadcast(affected), "user_id", "left_semi").select(
            "event_id",
            "user_id",
            F.date_format("d", "yyyy-MM-dd").alias("d"),
            F.col("p").alias("p_before"),
            F.col("p_after"),
            F.col(flag_col).cast("int").alias("flag"),
        )

    out = {}
    need_chain = {"bounce_back", "init_price"} & set(error_types)
    if "decimal_shift" in error_types:
        out["decimal_shift"] = r4_flagged_series(spark, sf_dir).select(
            "event_id",
            "user_id",
            "d",
            "p_before",
            F.col("p_after"),
            F.col("dec_shift_flag").alias("flag"),
        )
    if need_chain:
        _, f2, f3 = _flag_chain(spark, sf_dir)
        if "bounce_back" in error_types:
            out["bounce_back"] = _affected_only(
                f2.withColumn("p_after", F.col("p")), "filtered_error"
            )
        if "init_price" in error_types:
            out["init_price"] = _affected_only(
                tracked_persist(f3).withColumn("p_after", F.col("p")),
                "initial_error",
            )
    return {t: out[t] for t in error_types}
