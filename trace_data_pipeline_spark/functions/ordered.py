"""Order-sensitive first/last aggregation.

The reference relies on pandas ``first``/``last`` after a stable 6-key
mergesort (`stage0/create_daily_enhanced_trace.py:488-489,538`). Spark's
``first()``/``last()`` aggregate is non-deterministic under shuffle, so
the engine never uses it on a data path; instead ``min_by``/``max_by``
over a total tiebreak key gives deterministic order-sensitive selection
with a single aggregate (no window, no extra shuffle).

Key representation matters for the PHYSICAL plan: a STRUCT ordering key
is totally ordered but unsupported by the hash-aggregate operator, so
every min_by over a struct silently degrades the whole aggregate to
SortAggregate — a full sort of the fact table on both the map and
reduce side, outside whole-stage codegen (measured 3× slower on the a1
panel). ``packed_order_key`` therefore packs the components into ONE
``decimal(38,0)`` — a fixed-width type the hash aggregate buffers
natively — and every hot aggregate uses it. The struct form remains for
keys whose components can't be digit-budgeted.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def packed_order_key(*specs: tuple[Column | str, int]) -> Column:
    """Pack integer tiebreak components into one ``decimal(38,0)`` whose
    numeric order equals the components' lexicographic order — a
    min_by/max_by key that keeps the aggregate a codegen'd
    HashAggregate (a struct key would demote it to SortAggregate).

    ``specs`` are ``(column, digits)`` pairs, most-significant first.
    Contract (asserted here where it's static, property-tested at the
    call-site domains in tests/test_properties.py):
    - every component is a NON-NEGATIVE integer (cast timestamps via
      unix_micros first);
    - every component AFTER the first is < 10**digits (its budget);
      the FIRST component's budget only sizes the overflow check and
      may span the full bigint domain — it is the component that grows
      with data scale (order ids, timestamps), while later components
      (line numbers, price cents) are value-domain-bounded;
    - first-component bigint max (9.22e18) × 10**(sum of later digits)
      must stay < 1e38, i.e. later digits sum to ≤ 19.
    """
    if len(specs) < 1:
        raise ValueError("packed_order_key needs at least one component")
    tail_digits = sum(d for _, d in specs[1:])
    if tail_digits > 19:
        # 9.22e18 * 10^20 would exceed decimal(38,0) → silent null key
        raise ValueError(
            f"later components' digit budgets sum to {tail_digits} > 19; "
            "the packed key could overflow decimal(38,0)"
        )
    key = _as_col(specs[0][0]).cast("decimal(38,0)")
    for col, digits in specs[1:]:
        # string→decimal literal: 10^19 no longer fits a Java long
        scale = F.lit(str(10**digits)).cast("decimal(20,0)")
        key = key * scale + _as_col(col).cast("decimal(38,0)")
    return key.cast("decimal(38,0)")


def ts_seq_key(ts: Column | str, seq: Column | str) -> Column:
    """The (event timestamp, sequence id) tiebreak used by every
    per-entity series panel, packed per ``packed_order_key``:
    unix_micros spans the full bigint domain (the scale dimension) and
    the sequence id gets the remaining 19 digits. Both components must
    be non-negative (post-1970 timestamps)."""
    return packed_order_key(
        (F.unix_micros(_as_col(ts).cast("timestamp")), 19),
        (_as_col(seq), 19),
    )


def _selection_key(order_cols: tuple[Column | str, ...]) -> Column:
    """The min_by/max_by key for first_by/last_by. A single order
    column passes through (scalar keys keep the aggregate hash-based);
    multiple columns fall back to a struct that is NULL-GATED — the
    whole key is null when ANY component is null — so both forms obey
    the same null-key contract. (A bare struct key would compare null
    fields as smallest and keep a null-ts row visible and sorted
    first, diverging from the scalar path: ADVICE r4, ordered.py:99.)"""
    if len(order_cols) == 1:
        return _as_col(order_cols[0])
    cols = [_as_col(c) for c in order_cols]
    gate = cols[0].isNotNull()
    for c in cols[1:]:
        gate = gate & c.isNotNull()
    return F.when(gate, F.struct(*cols))


def first_by(value: Column | str, *order_cols: Column | str) -> Column:
    """Value of `value` on the row that sorts first by `order_cols`.
    A single order column is used directly (scalar keys keep the
    aggregate hash-based); multiple columns fall back to a null-gated
    struct.

    NULL-KEY CONTRACT (pinned in tests/test_properties.py): rows whose
    ordering key — the scalar key, or ANY component of a multi-column
    key — is null are INVISIBLE to the selection: min_by/max_by skip
    null keys (a group of only-null keys yields null), and the struct
    path null-gates so the two forms agree. Callers must guarantee
    non-null keys on data paths; every engine key does (order ids,
    report sequences, and event timestamps are non-null by schema, and
    ts_seq_key would propagate a null ts into a null key rather than
    silently sorting it first)."""
    return F.min_by(_as_col(value), _selection_key(order_cols))


def last_by(value: Column | str, *order_cols: Column | str) -> Column:
    """Value of `value` on the row that sorts last by `order_cols`.
    Same NULL-KEY CONTRACT as `first_by`."""
    return F.max_by(_as_col(value), _selection_key(order_cols))
