"""Kafka wire format for the streaming surface.

A Kafka-fed trade tape is the production shape of the reference's
incremental chunk ingestion (SURVEY.md §2.8 extension). A Kafka source
yields a binary `value` column per message; the encode and decode of
that column are the only transport-specific parts of the plan, so they
live here and run on any source — the s5 entry streams them from file
drops. Reading a real topic needs the `spark-sql-kafka` connector
package, which this repo does not ship.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the events-table wire format (JSON per message value)
EVENTS_WIRE_SCHEMA = (
    "event_id long, ts timestamp, user_id long, "
    "event_type string, value double, props string"
)

# Spark's DEFAULT JSON timestampFormat writes milliseconds — a
# round-trip through the wire would silently truncate event times to
# the millisecond and event-time joins/watermarks downstream would see
# different instants than the producer. Pin a micro-precision format
# on BOTH encode and decode (r16: caught by the s5 ingest entry's
# value-hash oracle).
WIRE_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
_WIRE_OPTS = {"timestampFormat": WIRE_TS_FORMAT}


def json_event_value(df: DataFrame, cols: list[str] | None = None):
    """The wire-encode EXPRESSION (binary JSON of `cols`, micro-second
    timestamps) — lets a caller keep routing columns (timestamps, ids)
    next to the encoded value instead of losing them to a select, so
    e.g. the s5 replay can stage every drop in ONE pass over the
    events table (guide §2.4: one job instead of one filtered
    scan+encode per drop)."""
    cols = list(df.columns) if cols is None else list(cols)
    return F.to_json(F.struct(*[df[c] for c in cols]), _WIRE_OPTS).cast(
        "binary"
    )


def decode_json_events(raw: DataFrame, schema: str = EVENTS_WIRE_SCHEMA) -> DataFrame:
    """Kafka-shaped frame (binary `value` column) → typed event rows.
    Works identically on streaming and batch frames — malformed
    messages yield null columns (from_json's PERMISSIVE mode) rather
    than failing the stream."""
    return raw.select(
        F.from_json(F.col("value").cast("string"), schema, _WIRE_OPTS).alias(
            "j"
        )
    ).select("j.*")

