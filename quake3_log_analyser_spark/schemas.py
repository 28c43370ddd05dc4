"""Schemas shared across the pipeline.

The wide "event struct" is the columnar re-expression of the reference's
13-variant sum type ``Quake3FullEvents``
(quake3-server-events/src/types.rs:9-67): one discriminator column plus
nullable typed fields, with in-band parse errors
(model/src/quake3_events.rs:25) carried as ``parse_error_kind``/
``parse_error`` columns instead of exceptions.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# input: transcripts table (BASELINE.json input_hint)
# ---------------------------------------------------------------------------
TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# ---------------------------------------------------------------------------
# parsed event struct (Quake3FullEvents analogue)
# ---------------------------------------------------------------------------
# parse_error_kind values — LogParsingError/EventParsingError
# (deserializer_logs.rs:34-49) flattened into one discriminator
ERROR_KINDS = [
    "EmptyLine",
    "UnrecognizedLineFormat",
    "UnknownEventName",
    "UnparseableNumber",
    "AbsentKey",
    "UnknownDataFormat",
]

# (name, type) pairs of the typed payload columns, in canonical order
# numeric fields are LongType: the reference's ids/limits are u32 (whose
# range exceeds int32) and frags is i32 — a single 64-bit type covers both
# exactly and keeps the parse expressions small (no int-range guards inline)
EVENT_FIELDS: list[tuple[str, T.DataType]] = [
    ("event_type", T.StringType()),
    ("frag_limit", T.LongType()),
    ("capture_limit", T.LongType()),
    ("time_limit_min", T.LongType()),
    ("client_id", T.LongType()),
    ("name", T.StringType()),
    ("killer_id", T.LongType()),
    ("victim_id", T.LongType()),
    ("reason_id", T.LongType()),
    ("killer_name", T.StringType()),
    ("victim_name", T.StringType()),
    ("reason_name", T.StringType()),
    ("frags", T.LongType()),
    ("red", T.LongType()),
    ("blue", T.LongType()),
    ("parse_error_kind", T.StringType()),
    ("parse_error", T.StringType()),
]

EVENT_STRUCT = T.StructType(
    [T.StructField(n, t, True) for n, t in EVENT_FIELDS]
)

EVENT_COLUMN_NAMES = [n for n, _ in EVENT_FIELDS]

# event types dropped by the domain translation
# (dal/src/events_translation.rs:26-35)
DROPPED_EVENT_TYPES = [
    "ClientBegin",
    "Item",
    "Say",
    "CaptureTheFlagResults",
    "Comment",
]

# ---------------------------------------------------------------------------
# match summary (model/src/report.rs:14-32 analogue)
# ---------------------------------------------------------------------------
DISCONNECTED_PLAYER = T.StructType(
    [
        T.StructField("id", T.LongType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("frags", T.LongType(), True),
    ]
)

MATCH_SUMMARY_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("match_id", T.IntegerType(), False),
        T.StructField("total_kills", T.LongType(), True),
        T.StructField("players", T.ArrayType(T.StringType()), True),
        T.StructField(
            "kills",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("player", T.StringType(), True),
                        T.StructField("frags", T.LongType(), True),
                    ]
                )
            ),
            True,
        ),
        T.StructField(
            "kills_by_means",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("mean", T.StringType(), True),
                        T.StructField("count", T.LongType(), True),
                    ]
                )
            ),
            True,
        ),
        T.StructField(
            "game_reported_scores",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("player", T.StringType(), True),
                        T.StructField("frags", T.LongType(), True),
                    ]
                )
            ),
            True,
        ),
        T.StructField(
            "disconnected_players", T.ArrayType(DISCONNECTED_PLAYER), True
        ),
        T.StructField("graceful", T.BooleanType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)

WORLD = "<world>"
