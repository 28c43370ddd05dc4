"""The extended fold as one Arrow stage: early discard, batch-spanning
conversations, the pedantic gate and the plan shape.

``summarize_matches(t, full_pipeline_ops())`` runs raw-text early discard,
a conv_id shuffle, a (conv_id, turn_idx) sort and ONE ``mapInArrow`` that
parses and folds each batch, carrying fold state across batch boundaries.
"""

from __future__ import annotations

import re

import pytest

from quake3_log_analyser_spark.plans.pipeline import (
    full_pipeline_ops,
    summarize_matches,
)
from quake3_log_analyser_spark.sources.transcripts import transcripts_from_lines

# node names of every operator that runs Python code in a worker
PYTHON_NODES = re.compile(
    r"\b(MapInArrow|MapInPandas|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas"
    r"|ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandasWithState)\b"
)

INIT = r" 0:00 InitGame: \fraglimit\20\timelimit\15\capturelimit\8"


def _ui(cid, name):
    return rf" 0:01 ClientUserinfoChanged: {cid} n\{name}\t\0\model\sarge"


def _kill(k, v, killer, victim, reason="MOD_ROCKET", rid=6):
    return f" 0:02 Kill: {k} {v} {rid}: {killer} killed {victim} by {reason}"


# two matches with renames, a disconnect/reconnect, say lines that carry
# the early-discard tokens, and malformed Kill / ClientUserinfoChanged
# lines (in-band parse errors the fold skips)
LINES = [
    " 0:00 say: warmup Kill: 1 2 3: not a kill",
    INIT,
    " 0:00 ClientConnect: 2",
    _ui(2, "Alice"),
    " 0:00 ClientConnect: 3",
    _ui(3, "Bob"),
    " 0:00 ClientBegin: 2",
    " 0:01 Item: 2 weapon_rocketlauncher",
    _kill(2, 3, "Alice", "Bob"),
    " 0:02 say: Alice: ClientUserinfoChanged: 9 n\\Eve",
    _kill(1022, 2, "<world>", "Alice", "MOD_FALLING", 19),
    _ui(2, "Alicia"),
    _kill(2, 3, "Alicia", "Bob"),
    _kill(3, 2, "Bob", "Alicia"),
    " 0:03 Kill: 2 x 6: Alicia killed Bob by MOD_ROCKET",
    " 0:03 Kill: 2 3 6 Alicia killed Bob",
    " 0:03 ClientUserinfoChanged: 3",
    " 0:03 ClientUserinfoChanged: q n\\Bob",
    " 0:03 ClientDisconnect: 3",
    " 0:04 ClientConnect: 3",
    _ui(3, "Bobby"),
    _kill(3, 2, "Bobby", "Alicia", "MOD_RAILGUN", 10),
    " 0:04 score: 5  ping: 3  client: 2 Alicia",
    " 0:04 score: 1  ping: 3  client: 3 Bobby",
    " 0:05 Exit: Fraglimit hit.",
    " 0:05 ShutdownGame:",
    " 0:05 ------------------------------------------------------------",
    INIT,
    " 0:00 ClientConnect: 4",
    _ui(4, "Carol"),
    " 0:00 ClientConnect: 4",
    _kill(4, 4, "Carol", "Carol", "MOD_ROCKET_SPLASH", 7),
    " 0:01 ClientDisconnect: 4",
    " 0:01 ClientDisconnect: 4",
    " 0:02 ShutdownGame:",
    INIT,
    _kill(1022, 5, "<world>", "Dan", "MOD_TRIGGER_HURT", 22),
]


def _table(spark):
    t = transcripts_from_lines(spark, LINES, "conv-a")
    for i, conv in enumerate(["conv-b", "conv-c"]):
        # other conversations: shifted copies, so batches mix conversations
        t = t.unionByName(transcripts_from_lines(spark, LINES[i + 1 :], conv))
    return t


def _norm(rows):
    return sorted((tuple(map(repr, r)) for r in rows), key=str)


def test_fold_equal_with_and_without_early_discard(spark):
    """Early discard is an over-approximation: the full-ops fold gives the
    same rows with it on and off, and with the expr parser feeding parsed
    rows to the same stage.  Three-row Arrow batches make every
    conversation span several batches, so the fold state must carry over
    batch boundaries."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        t = _table(spark)
        ops = full_pipeline_ops()
        on = summarize_matches(t, ops=ops).collect()
        off = summarize_matches(t, ops=ops, early_discard=False).collect()
        expr = summarize_matches(t, ops=ops, parser="expr").collect()
    finally:
        spark.conf.set(key, old)
    assert _norm(on) == _norm(off) == _norm(expr)

    by_conv = {}
    for r in on:
        by_conv.setdefault(r["conv_id"], []).append(r)
    assert set(by_conv) == {"conv-a", "conv-b", "conv-c"}
    a = sorted(
        (r for r in by_conv["conv-a"] if r["error"] is None),
        key=lambda r: r["match_id"],
    )
    assert [r["match_id"] for r in a] == [1, 2]
    first, second = a
    # the rename moved Alice's frags to Alicia; Bob left with his frags
    # and came back fresh as Bobby
    assert {k["player"]: k["frags"] for k in first["kills"]} == {
        "Alicia": 1, "Bobby": 1,
    }
    assert first["total_kills"] == 5
    assert first["players"] == ["Alicia", "Bobby"]
    assert [tuple(d) for d in first["disconnected_players"]] == [(3, "Bob", 1)]
    assert {m["mean"]: m["count"] for m in first["kills_by_means"]} == {
        "MOD_ROCKET": 3, "MOD_FALLING": 1, "MOD_RAILGUN": 1,
    }
    assert {s["player"]: s["frags"] for s in first["game_reported_scores"]} == {
        "Alicia": 5, "Bobby": 1,
    }
    assert first["graceful"] is True
    assert (second["total_kills"], second["players"]) == (1, ["Carol"])
    errs = sorted(r["error"] for r in by_conv["conv-a"] if r["error"])
    assert errs == [
        "Event #31: violated the event model: DoubleConnect",
        'Event #33: Player id: 4, name: "NONE" was not registered',
        "Event #34: violated the event model: ClientNotConnected "
        '{ id: 4, name: "<unknown>" }',
    ]


def test_pedantic_full_ops_raises_on_line_early_discard_would_drop(spark):
    """``garbage`` carries none of the fold's event names, so early
    discard would drop it; a pedantic run must still see it and fail."""
    lines = [INIT, "garbage", _kill(2, 3, "A", "B"), " 0:05 ShutdownGame:"]
    t = transcripts_from_lines(spark, lines, "p")
    assert summarize_matches(t, ops=full_pipeline_ops()).collect()
    for parser in ("auto", "expr"):
        with pytest.raises(Exception, match=r"event #2: `LogParsingError`"):
            summarize_matches(
                t, ops=full_pipeline_ops(), parser=parser, stop_on_feed_errors=True
            ).collect()


def test_full_ops_plan_has_one_python_stage(spark):
    from quake3_log_analyser_spark.datagen import dim_means_of_death

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    t = transcripts_from_lines(spark, LINES, "plan")
    plan = plan_of(summarize_matches(t, ops=full_pipeline_ops()))
    assert PYTHON_NODES.findall(plan) == ["MapInArrow"], plan
    assert "FlatMapGroupsInPandas" not in plan
    for local in (dim_means_of_death(spark), t):
        local_plan = plan_of(local)
        assert "LocalTableScan" in local_plan, local_plan
        assert "ExistingRDD" not in local_plan, local_plan
