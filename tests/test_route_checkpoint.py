"""Fan-out routing (per-sink schemas + routed-row text equality) and the
idempotent-resume checkpoint (lineage + metrics)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from quake3_log_analyser_spark.operators.parse import parse_transcripts
from quake3_log_analyser_spark.operators.route import route, write_sinks
from quake3_log_analyser_spark.operators.sessionize import sessionize
from quake3_log_analyser_spark.sources.transcripts import transcripts_from_file
from tests.conftest import FIXTURES_BLL


@pytest.fixture(scope="module")
def sessionized(spark):
    path = FIXTURES_BLL / "qgames_permissive.log"
    if not path.exists():
        pytest.skip("reference fixture unavailable")
    t = transcripts_from_file(spark, str(path), "permissive")
    return sessionize(parse_transcripts(t)).persist()


def test_routing_partitions_every_domain_row_exactly_once(spark, sessionized):
    sinks = route(sessionized)
    n_by_sink = {name: df.count() for name, df in sinks.items()}
    total_routed = sum(n_by_sink.values())
    # every parsed row lands in exactly one sink except the dropped types
    # (Item/Say/Begin/CTF/Comment) which land nowhere
    dropped = sessionized.filter(
        F.col("event_type").isin(
            "Item", "Say", "ClientBegin", "CaptureTheFlagResults", "Comment"
        )
    ).count()
    assert total_routed + dropped == sessionized.count()
    assert n_by_sink["errors"] > 0  # the permissive log has malformed lines


def test_routed_rows_preserve_text_verbatim(spark, sessionized, tmp_path):
    """Per-row invariant from the north_rule: routed rows preserve `text`
    equality against the source under (conv_id, turn_idx)."""
    paths = write_sinks(sessionized, str(tmp_path / "sinks"))
    source_text = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in sessionized.select("conv_id", "turn_idx", "text").collect()
    }
    for name, p in paths.items():
        for r in spark.read.parquet(p).select("conv_id", "turn_idx", "text").collect():
            assert r["text"] == source_text[(r["conv_id"], r["turn_idx"])], (
                f"sink {name} mutated text at {r['conv_id']}/{r['turn_idx']}"
            )


def test_error_sink_carries_the_permissive_bad_line(spark, sessionized):
    """qgames_permissive.log line 97 is the famous ' 26  0:00 ---' line
    (app/src/main.rs:41-48) -> UnknownEventName in the dead-letter sink."""
    errors = route(sessionized)["errors"].collect()
    by_turn = {r["turn_idx"]: r for r in errors}
    assert 97 in by_turn
    assert by_turn[97]["parse_error_kind"] == "UnknownEventName"


def test_checkpoint_idempotent_resume(spark, tmp_path):
    from quake3_log_analyser_spark.plans.checkpoint import (
        committed_units,
        run_resumable,
    )

    path = FIXTURES_BLL / "discrepant.log"
    if not path.exists():
        pytest.skip("reference fixture unavailable")
    t = transcripts_from_file(spark, str(path), "discrepant")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    done1 = run_resumable(spark, t, out, ckpt, run_id="r1", n_units=4)
    assert len(done1) == 4
    # lineage/metrics rows exist per unit (+1 ops-marker row)
    ck = spark.read.parquet(ckpt)
    assert ck.count() == 5
    assert ck.filter(F.col("unit") == "ops=kills").count() == 1
    ck = ck.filter(F.col("unit").startswith("convhash="))
    assert ck.count() == 4
    metrics = ck.agg(F.sum("n_input_rows"), F.sum("n_matches")).collect()[0]
    assert metrics[0] == t.count()
    assert metrics[1] == 1  # one completed match in discrepant.log

    # re-run: everything committed -> no-op
    done2 = run_resumable(spark, t, out, ckpt, run_id="r2", n_units=4)
    assert done2 == []
    assert spark.read.parquet(ckpt).count() == 5

    # partial resume: drop one unit's checkpoint rows -> only it re-runs
    kept = ck.filter(F.col("unit") != "convhash=1")
    kept.write.mode("overwrite").parquet(str(tmp_path / "ckpt2"))
    done3 = run_resumable(spark, t, out, str(tmp_path / "ckpt2"), "r3", n_units=4)
    assert done3 == ["convhash=1"]
    # summaries output readable and correct after resume
    total = spark.read.parquet(f"{out}/summaries").count()
    assert total == 1


def test_resumable_run_is_single_pass(spark, tmp_path):
    """The whole resumable run — pending-unit filter, partitioned summaries
    write, per-unit observe metrics — must execute as ONE job with ONE
    source scan (the round-1 design ran n_units full scans)."""
    from quake3_log_analyser_spark.operators.parse import parse_transcripts
    from quake3_log_analyser_spark.operators.sessionize import sessionize
    from quake3_log_analyser_spark.operators.summarize import summarize_kills_only

    path = FIXTURES_BLL / "discrepant.log"
    if not path.exists():
        pytest.skip("reference fixture unavailable")
    t = transcripts_from_file(spark, str(path), "discrepant").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "src"))
    src = spark.read.parquet(str(tmp_path / "src"))

    unit_col = F.pmod(F.xxhash64("conv_id"), F.lit(4)).cast("int")
    part = src.withColumn("convhash", unit_col).filter(F.col("convhash").isin([0, 2]))
    summaries = summarize_kills_only(sessionize(parse_transcripts(part)))
    plan = summaries._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan


def test_write_sinks_resolves_file_uri_paths(spark, sessionized, tmp_path):
    """Sink discovery goes through the Hadoop FS API, so a file: URI base
    path (and by extension hdfs://, s3a://) resolves — the round-2 ADVICE
    found os.path.isdir returned an empty map for any URI base."""
    base = f"file://{tmp_path}/sinks_uri"
    paths = write_sinks(sessionized, base)
    assert "kills" in paths and "errors" in paths
    assert paths["kills"].startswith("file://")
    assert spark.read.parquet(paths["kills"]).count() > 0


def test_observe_issues_counts_per_kind(spark):
    """--verbose log-and-continue tier: per-kind parse-error and violation
    counts ride the SAME action via df.observe (VERDICT r2 item 7)."""
    from quake3_log_analyser_spark.plans.checkpoint import issue_counts, observe_issues
    from quake3_log_analyser_spark.sources.transcripts import transcripts_from_lines

    lines = [
        " 0:02 Exit: Timelimit hit.",             # GameNotStarted (no match)
        r" 0:00 InitGame: \fraglimit\20",
        r" 0:00 InitGame: \fraglimit\20",          # DoubleInit
        " 0:01 Kill: 2 3 7: A killed B by MOD_ROCKET",
        " 0:02 ShutdownGame:",
        "garbage",                                 # UnrecognizedLineFormat
        " 0:00 foo: bar",                          # UnknownEventName
    ]
    t = transcripts_from_lines(spark, lines, "c0")
    sess = sessionize(parse_transcripts(t))
    observed, obs = observe_issues(sess)
    observed.count()  # any action materializes the metrics
    counts = issue_counts(obs)
    assert counts["parse_error/UnrecognizedLineFormat"] == 1
    assert counts["parse_error/UnknownEventName"] == 1
    assert counts["violation/DoubleInit"] == 1
    assert counts["violation/GameNotStarted"] == 1
    assert all(v > 0 for v in counts.values())  # zero kinds are dropped


def test_observe_issues_on_malformed_fixture(spark):
    """The dal fixture's single bad line is surfaced by kind while the job
    completes (log-and-continue, NOT the stop_on_feed_errors gate)."""
    from quake3_log_analyser_spark.plans.checkpoint import issue_counts, observe_issues
    from tests.conftest import FIXTURES_DAL

    path = FIXTURES_DAL / "malformed_line.log"
    if not path.exists():
        pytest.skip("reference fixture unavailable")
    t = transcripts_from_file(spark, str(path), "m")
    parsed = parse_transcripts(t)
    observed, obs = observe_issues(parsed)
    n_err_rows = observed.filter(F.col("parse_error_kind").isNotNull()).count()
    counts = issue_counts(obs)
    assert sum(v for k, v in counts.items() if k.startswith("parse_error/")) == n_err_rows
    assert n_err_rows > 0


def test_checkpoint_resume_honors_ops(spark, tmp_path):
    """The resumable path previously computed kills-only regardless of the
    CLI's --ops; it must now honor the menu — the one-pass vectorized
    aggregation for order-insensitive menus and the exact fold when
    player_resolutions is requested — matching summarize_matches."""
    from quake3_log_analyser_spark.plans.checkpoint import run_resumable
    from quake3_log_analyser_spark.plans.pipeline import summarize_matches

    path = FIXTURES_BLL / "discrepant.log"
    if not path.exists():
        pytest.skip("reference fixture unavailable")
    t = transcripts_from_file(spark, str(path), "discrepant")

    def norm(rows):
        return sorted(
            (
                r["conv_id"], r["match_id"], r["total_kills"],
                tuple(r["players"] or []),
                tuple((m["mean"], m["count"]) for m in (r["kills_by_means"] or [])),
                tuple((s["player"], s["frags"])
                      for s in (r["game_reported_scores"] or [])),
                r["graceful"], r["error"],
            )
            for r in rows
        )

    for tag, ops in (
        ("multi", {"kills", "means_of_death", "reported_scores"}),
        ("fold", {"kills", "means_of_death", "player_resolutions",
                  "reported_scores"}),
    ):
        out = str(tmp_path / f"out_{tag}")
        run_resumable(
            spark, t, out, str(tmp_path / f"ckpt_{tag}"),
            run_id="r1", n_units=2, ops=ops,
        )
        got = spark.read.parquet(f"{out}/summaries").drop("convhash").collect()
        want = summarize_matches(t, ops=ops).collect()
        assert norm(got) == norm(want), tag
        summary = [r for r in got if r["error"] is None]
        assert summary and all(r["kills_by_means"] for r in summary), tag


def test_checkpoint_resume_rejects_changed_ops_menu(spark, tmp_path):
    """A checkpoint committed under one op menu refuses to resume under
    another — silently mixing kills-only and multi-op rows partition-by-
    partition would be indistinguishable from 'match had no kills'."""
    from quake3_log_analyser_spark.plans.checkpoint import run_resumable

    path = FIXTURES_BLL / "discrepant.log"
    if not path.exists():
        pytest.skip("reference fixture unavailable")
    t = transcripts_from_file(spark, str(path), "discrepant")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    run_resumable(spark, t, out, ckpt, run_id="r1", n_units=2, ops={"kills"})
    with pytest.raises(ValueError, match="mix op menus"):
        run_resumable(
            spark, t, out, ckpt, run_id="r2", n_units=4,
            ops={"kills", "means_of_death"},
        )
    # the original menu still resumes fine (no-op here)
    assert run_resumable(
        spark, t, out, ckpt, run_id="r3", n_units=2, ops={"kills"}
    ) == []


def test_checkpoint_resume_honors_stop_on_violations(spark, tmp_path):
    """run_resumable's fold must see stop_on_violations like
    summarize_matches does: the job's --resume path otherwise dropped
    --stop-on-violations (and the violations half of --pedantic)."""
    from quake3_log_analyser_spark.plans.checkpoint import run_resumable
    from quake3_log_analyser_spark.plans.pipeline import (
        full_pipeline_ops,
        summarize_matches,
    )
    from quake3_log_analyser_spark.sources.transcripts import transcripts_from_lines

    lines = [
        r" 0:00 InitGame: \fraglimit\20\timelimit\15",
        " 0:01 ClientConnect: 2",
        r" 0:01 ClientUserinfoChanged: 2 n\A\t\0\model\sarge",
        " 0:02 Kill: 2 3 7: B killed C by MOD_ROCKET",
        " 0:03 ShutdownGame:",
    ]
    t = transcripts_from_lines(spark, lines, "c0")
    ops = full_pipeline_ops()

    def norm(rows):
        keyed = [
            (
                r["conv_id"], r["match_id"], r["total_kills"],
                tuple(r["players"] or []),
                tuple((k["player"], k["frags"]) for k in (r["kills"] or [])),
                r["graceful"], r["error"],
            )
            for r in rows
        ]
        return sorted(keyed, key=repr)  # violation rows carry NULL counts

    want = norm(summarize_matches(t, ops=ops, stop_on_violations=True).collect())
    lenient = norm(summarize_matches(t, ops=ops).collect())
    # non-vacuous: the gate changes the output on this input
    assert want != lenient
    assert any("DiscrepantPlayerName" in (r[-1] or "") for r in want)

    out = str(tmp_path / "out")
    done = run_resumable(
        spark, t, out, str(tmp_path / "ckpt"), run_id="r1", n_units=2,
        ops=ops, stop_on_violations=True,
    )
    assert done == ["convhash=0", "convhash=1"]
    got = spark.read.parquet(f"{out}/summaries").drop("convhash").collect()
    assert norm(got) == want


def test_committed_units_empty_only_without_data_files(spark, tmp_path):
    """A missing checkpoint, or one whose first append crashed and left
    only ``_temporary/``, has nothing committed.  An unreadable one raises
    instead of reading as empty, which would reprocess every unit and
    skip the ops-marker check."""
    from quake3_log_analyser_spark.plans.checkpoint import committed_units

    assert committed_units(spark, str(tmp_path / "absent")) == set()

    crashed = tmp_path / "crashed"
    (crashed / "_temporary" / "0").mkdir(parents=True)
    (crashed / "_temporary" / "0" / "part-0.parquet").write_bytes(b"partial")
    assert committed_units(spark, str(crashed)) == set()

    corrupt = tmp_path / "corrupt"
    corrupt.mkdir()
    (corrupt / "part-0.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="CANNOT_READ_FILE_FOOTER"):
        committed_units(spark, str(corrupt))


def test_checkpoint_resume_rejects_changed_n_units(spark, tmp_path):
    """A unit is ``pmod(xxhash64(conv_id), n_units)``, so resuming under a
    different unit count would summarize conversations a second time
    under new ``convhash`` partitions.  The count rides every row a run
    writes (no extra rows) and a mismatch raises; a checkpoint written
    without it resumes as before."""
    from quake3_log_analyser_spark.plans.checkpoint import run_resumable
    from quake3_log_analyser_spark.sources.transcripts import transcripts_from_lines

    lines = [
        r" 0:00 InitGame: \fraglimit\20\timelimit\15",
        " 0:01 Kill: 1022 2 22: <world> killed D by MOD_TRIGGER_HURT",
        " 0:02 ShutdownGame:",
    ]
    t = None
    for i in range(12):
        part = transcripts_from_lines(spark, lines, f"c{i}")
        t = part if t is None else t.unionByName(part)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    summaries = f"{out}/summaries"

    assert len(run_resumable(spark, t, out, ckpt, run_id="r1", n_units=4)) == 4
    assert spark.read.parquet(ckpt).count() == 5  # 4 units + ops marker
    with pytest.raises(ValueError, match="unit count"):
        run_resumable(spark, t, out, ckpt, run_id="r2", n_units=16)
    assert spark.read.parquet(summaries).count() == 12
    ck = spark.read.parquet(ckpt)
    assert ck.count() == 5
    assert {r["n_units"] for r in ck.collect()} == {4}
    assert run_resumable(spark, t, out, ckpt, run_id="r3", n_units=4) == []

    # rows without the column pin nothing; the resumed run's rows then do
    legacy = str(tmp_path / "legacy")
    ck.drop("n_units").filter(F.col("unit") != "convhash=1").write.parquet(legacy)
    assert run_resumable(spark, t, out, legacy, "r4", n_units=4) == ["convhash=1"]
    assert run_resumable(spark, t, out, legacy, "r5", n_units=4) == []
    with pytest.raises(ValueError, match="unit count"):
        run_resumable(spark, t, out, legacy, "r6", n_units=16)
    assert spark.read.parquet(summaries).count() == 12


@pytest.mark.parametrize(
    "kwargs, match",
    [
        ({"ops": {"kils"}}, "unknown logic ops"),
        ({"ops": {"means_of_death"}}, "'kills' op is mandatory"),
        ({"n_units": 0}, "n_units must be >= 1"),
        ({"n_units": -3}, "n_units must be >= 1"),
    ],
    ids=["unknown_op", "no_kills", "zero_units", "negative_units"],
)
def test_run_resumable_rejects_bad_menu_or_unit_count(spark, tmp_path, kwargs, match):
    """``run_resumable`` accepts an op menu exactly when
    ``summarize_matches`` does, and needs at least one unit; a bad
    argument raises before the checkpoint is read or written, instead of
    committing units under a menu the plain path rejects or processing
    nothing and returning as if done."""
    from quake3_log_analyser_spark.plans.checkpoint import run_resumable
    from quake3_log_analyser_spark.sources.transcripts import transcripts_from_lines

    t = transcripts_from_lines(
        spark,
        [
            r" 0:00 InitGame: \fraglimit\20\timelimit\15",
            " 0:01 Kill: 1022 2 22: <world> killed D by MOD_TRIGGER_HURT",
            " 0:02 ShutdownGame:",
        ],
        "c0",
    )
    out, ckpt = tmp_path / "out", tmp_path / "ckpt"
    with pytest.raises(ValueError, match=match):
        run_resumable(spark, t, str(out), str(ckpt), run_id="r1", **kwargs)
    assert not ckpt.exists()
    assert not out.exists()
