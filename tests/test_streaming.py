"""Streaming variant: per-conv keyed state across micro-batches must
reproduce the batch pipeline's summaries exactly (same fold core)."""

from __future__ import annotations

import time

import pytest

from quake3_log_analyser_spark.plans.pipeline import summarize_matches
from quake3_log_analyser_spark.schemas import TRANSCRIPT_SCHEMA
from quake3_log_analyser_spark.sources.transcripts import transcripts_from_file
from quake3_log_analyser_spark.streaming.session_stream import (
    summarize_matches_stream,
)
from tests.conftest import FIXTURES_BLL

FULL = frozenset({"kills", "means_of_death", "player_resolutions", "reported_scores"})


def test_streaming_matches_batch(spark, tmp_path):
    path = FIXTURES_BLL / "discrepant.log"
    if not path.exists():
        pytest.skip("reference fixture unavailable")
    t = transcripts_from_file(spark, str(path), "discrepant")

    # two files written in turn order -> two (or more) micro-batches with
    # state carried across; the match spans both chunks
    half = 300
    src = tmp_path / "stream_src"
    t.filter(f"turn_idx <= {half}").coalesce(1).write.mode("overwrite").parquet(
        str(src / "p1")
    )
    time.sleep(1.1)
    t.filter(f"turn_idx > {half}").coalesce(1).write.mode("append").parquet(
        str(src / "p1")
    )

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "p1"))
    )
    out = summarize_matches_stream(stream, ops=FULL)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("stream_summaries")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = spark.sql("SELECT * FROM stream_summaries").collect()
    want = summarize_matches(t, ops=FULL).collect()

    def norm(rows):
        return sorted(
            (
                r["conv_id"], r["match_id"], r["total_kills"],
                tuple(r["players"] or []),
                tuple((k["player"], k["frags"]) for k in (r["kills"] or [])),
                tuple((m["mean"], m["count"]) for m in (r["kills_by_means"] or [])),
                tuple((s["player"], s["frags"]) for s in (r["game_reported_scores"] or [])),
                r["graceful"], r["error"],
            )
            for r in rows
        )

    assert norm(got) == norm(want)
    assert len(got) == 1 and got[0]["total_kills"] == 105


def test_rate_source_stdin_analogue(spark, tmp_path):
    """S2 (stdin source): the reference's stdin reader is an unbounded
    in-flight source (dal/src/stdin_reader.rs:33-40); the Spark analogue is
    any unbounded streaming source.  A `rate` stream synthesized into
    transcript rows flows through the SAME parse + keyed-state pipeline and
    yields summaries while the stream is live — no file ever exists."""
    from pyspark.sql import functions as F

    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "400")
        .option("numPartitions", "1")
        .load()
    )
    m = F.col("turn_idx") % 4  # 1-based: 1 Init, 2 Kill, 3 Exit, 0 Shutdown
    text = (
        F.when(m == 1, r" 0:00 InitGame: \fraglimit\20")
        .when(m == 2, " 0:01 Kill: 2 3 7: PlayerA killed PlayerB by MOD_ROCKET_SPLASH")
        .when(m == 3, " 0:02 Exit: Timelimit hit.")
        .otherwise(" 0:03 ShutdownGame:")
    )
    t = rate.select(
        F.concat(F.lit("conv-"), (F.col("value") % 3).cast("string")).alias("conv_id"),
        (F.col("value") / 3 + 1).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.lit(None).cast("string").alias("tool"),
        F.col("timestamp").alias("ts"),
    ).withColumn("text", text)

    out = summarize_matches_stream(t, ops=frozenset({"kills"}))
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("rate_summaries")
        .option("checkpointLocation", str(tmp_path / "rate_ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 60
        rows = []
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM rate_summaries").collect()
            if len(rows) >= 3:
                break
            time.sleep(1)
    finally:
        q.stop()
    assert len(rows) >= 3, "no summaries emerged from the unbounded source"
    for r in rows:
        assert r["total_kills"] == 1 and r["graceful"] is True
        assert [k["player"] for k in r["kills"]] == ["PlayerA"]


def test_window_metrics_watermark_late_data(spark, tmp_path):
    """Watermarked event-time windows: a LATE row arriving in a later
    micro-batch but within the watermark folds into its own (earlier)
    window; windows emit in append mode once the watermark passes their
    end; the still-open tail window does NOT emit; closed-window contents
    equal the batch twin."""
    import datetime as dt

    from quake3_log_analyser_spark.streaming.metrics_stream import (
        window_metrics_batch,
        window_metrics_stream,
    )

    T0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def row(conv, turn, text, sec):
        return (conv, turn, "assistant", text, "none", T0 + dt.timedelta(seconds=sec))

    kill = " 0:01 Kill: 2 3 7: A killed B by MOD_ROCKET"
    chunk1 = [
        row("c1", 1, kill, 1),            # window W0 = [T0, T0+10)
        row("c1", 2, "garbage line", 4),  # W0, unparsed
        row("c2", 3, kill, 12),           # W1 = [T0+10, T0+20)
    ]
    # late row for W0 (event time 3 s) arriving in the SECOND micro-batch:
    # watermark after batch 1 is max(12s) - 30s < 0, so it must be merged;
    # the sentinel at +120 s then pushes the watermark to +90 s, closing
    # W0 and W1 but NOT its own window
    chunk2 = [
        row("c3", 1, kill, 3),            # LATE into W0
        row("c9", 1, "tail sentinel", 120),
    ]
    src = tmp_path / "metrics_src"
    spark.createDataFrame(chunk1, TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src))
    time.sleep(1.1)
    spark.createDataFrame(chunk2, TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))

    # third micro-batch, AFTER the watermark reached +90 s: a kill row for
    # W0 is now TOO LATE (event time 5 s < watermark) and must be dropped
    # without re-opening the already-emitted W0; the second sentinel pushes
    # the watermark past the first sentinel's window so it closes too
    chunk3 = [
        row("c4", 1, kill, 5),            # beyond-watermark: dropped
        row("c9", 2, "tail sentinel 2", 240),
    ]

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        window_metrics_stream(stream, window="10 seconds", watermark="30 seconds")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("window_metrics")
        .option("checkpointLocation", str(tmp_path / "metrics_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()

        got = {
            r["window_start"]: (r["n_turns"], r["n_kills"], r["n_unparsed"],
                                r["approx_convs"])
            for r in spark.sql("SELECT * FROM window_metrics").collect()
        }
        # only W0 and W1 closed; the sentinel's window stays open, unemitted
        assert set(got) == {T0, T0 + dt.timedelta(seconds=10)}, got
        assert got[T0] == (3, 2, 1, 2), got  # late kill row merged into W0
        assert got[T0 + dt.timedelta(seconds=10)] == (1, 1, 0, 1)

        # closed windows equal the batch twin over the same non-sentinel rows
        batch = spark.createDataFrame(chunk1 + chunk2[:1], TRANSCRIPT_SCHEMA)
        want = {
            r["window_start"]: (r["n_turns"], r["n_kills"], r["n_unparsed"],
                                r["approx_convs"])
            for r in window_metrics_batch(batch, window="10 seconds").collect()
        }
        assert got == want

        time.sleep(1.1)
        spark.createDataFrame(chunk3, TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.sql("SELECT * FROM window_metrics").collect()
    starts = [r["window_start"] for r in rows]
    # exactly-once emission: no window ever re-emits, even after a
    # beyond-watermark straggler targeted an already-closed window
    assert len(starts) == len(set(starts)), starts
    by_start = {
        r["window_start"]: (r["n_turns"], r["n_kills"], r["n_unparsed"])
        for r in rows
    }
    # W0 unchanged (the too-late kill was dropped, not merged)
    assert by_start[T0] == (3, 2, 1)
    # the first sentinel's window closed with only the sentinel in it —
    # the dropped row surfaced in NO window
    w12 = T0 + dt.timedelta(seconds=120)
    assert by_start[w12] == (1, 0, 1)
    assert set(by_start) == {T0, T0 + dt.timedelta(seconds=10), w12}
