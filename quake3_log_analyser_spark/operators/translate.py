"""Domain translation: drop irrelevant event types, narrow columns.

Port of the *semantics* of ``translate_quake3_events``
(dal/src/events_translation.rs:13-39): ``ClientBegin``, ``Item``, ``Say``,
``CaptureTheFlagResults`` and ``Comment`` events are dropped; everything
else (including in-band parse errors) passes through 1:1.  ``turn_idx``
plays the role of the reference's 1-based ``event_id`` line number.

In Spark this is literally a ``filter`` + ``select`` — Catalyst pushes the
filter and the column pruning all the way into the parquet scan, the
built-in equivalent of the reference's hand-rolled "early discard" and
"model narrowing" optimizations (SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import DROPPED_EVENT_TYPES

# columns the domain model keeps (model/src/quake3_events.rs:16-26 —
# InitGame loses its limit fields, events_translation.rs:23)
DOMAIN_COLUMNS = [
    "conv_id",
    "turn_idx",
    "event_type",
    "client_id",
    "name",
    "killer_id",
    "victim_id",
    "reason_id",
    "killer_name",
    "victim_name",
    "reason_name",
    "frags",
    "parse_error_kind",
    "parse_error",
]


def domain_filter() -> "F.Column":
    """Predicate keeping domain events + in-band parse errors.

    PLACEMENT MATTERS: apply this ABOVE a window/shuffle boundary (e.g.
    after sessionize), never directly on the parse projection chain —
    Catalyst's PushDownPredicates would push it through every staged
    projection, re-inlining the whole parse tree into one filter expression
    that falls out of whole-stage codegen.  Above a Window (the predicate
    is not on a partition column) it stays put and the parse stays staged.
    """
    return F.col("event_type").isNull() | ~F.col("event_type").isin(
        DROPPED_EVENT_TYPES
    )


def translate(
    parsed: DataFrame,
    keep_columns: list[str] | None = None,
) -> DataFrame:
    """Narrow to the domain column set and drop irrelevant events."""
    keep = keep_columns or [c for c in DOMAIN_COLUMNS if c in parsed.columns]
    return parsed.filter(domain_filter()).select(*keep)
