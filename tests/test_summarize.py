"""Summary-logic tests — ports of the BLL unit/golden/E2E battery
(bll/src/summary_logic.rs:436-909).  Each reference event vector is
synthesized as raw log lines so every scenario exercises the FULL pipeline
(parse -> sessionize -> summarize), not just the aggregation stage.
"""

from __future__ import annotations

import pytest

from quake3_log_analyser_spark.plans.pipeline import summarize_matches
from quake3_log_analyser_spark.sources.transcripts import (
    transcripts_from_file,
    transcripts_from_lines,
)
from tests.conftest import FIXTURES_BLL, FIXTURES_DAL

BASIC = frozenset({"kills"})
FULL = frozenset({"kills", "means_of_death", "player_resolutions", "reported_scores"})
ALL_BUT_MEANS = frozenset({"kills", "player_resolutions", "reported_scores"})


# --- line builders: event tuples -> parseable log lines --------------------
def init_game():
    return r" 0:00 InitGame: \fraglimit\20\timelimit\15\capturelimit\8"


def kill(killer_id, victim_id, reason_id, killer, victim, reason):
    return f" 0:01 Kill: {killer_id} {victim_id} {reason_id}: {killer} killed {victim} by {reason}"


def connect(cid):
    return f" 0:01 ClientConnect: {cid}"


def userinfo(cid, name):
    return rf" 0:01 ClientUserinfoChanged: {cid} n\{name}\t\0\model\sarge"


def disconnect(cid):
    return f" 0:01 ClientDisconnect: {cid}"


def score(frags, cid, name):
    return f" 0:01 score: {frags}  ping: 3  client: {cid} {name}"


def shutdown():
    return " 0:02 ShutdownGame:"


def exit_():
    return " 0:02 Exit: Timelimit hit."


def run(spark, lines, ops, parser="expr", stop=False):
    t = transcripts_from_lines(spark, lines, "c0")
    rows = summarize_matches(t, ops=ops, parser=parser, stop_on_violations=stop).collect()
    return sorted(rows, key=lambda r: (r["conv_id"], r["match_id"]))


def summaries(rows):
    return [r for r in rows if r["error"] is None]


def errors(rows):
    return [r for r in rows if r["error"] is not None]


def kills_map(r):
    return {k["player"]: k["frags"] for k in (r["kills"] or [])}


def means_map(r):
    return {m["mean"]: m["count"] for m in (r["kills_by_means"] or [])}


def scores_map(r):
    return {s["player"]: s["frags"] for s in (r["game_reported_scores"] or [])}


# --- rs:461-486 simple_working_case ----------------------------------------
@pytest.mark.parametrize("ops", [BASIC, FULL])
def test_simple_working_case(spark, ops):
    lines = [
        init_game(),
        kill(1, 2, 1, "Player1", "Player2", "NONE"),
        kill(2, 1, 2, "Player2", "Player1", "NONE"),
        shutdown(),
    ]
    # FULL config: players come only from frag events here (no connects) —
    # but player_resolutions in pedantic-off mode passes frags through
    rows = run(spark, lines, ops)
    s = summaries(rows)
    assert len(s) == 1 and not errors(rows)
    assert s[0]["total_kills"] == 2
    assert s[0]["players"] == ["Player1", "Player2"]
    assert kills_map(s[0]) == {"Player1": 1, "Player2": 1}


# --- rs:490-517 means_of_death ----------------------------------------------
def test_means_of_death(spark):
    lines = [
        init_game(),
        kill(1, 2, 1, "Player1", "Player2", "Reason 1"),
        kill(2, 1, 2, "Player2", "Player1", "Reason 2"),
        shutdown(),
    ]
    rows = run(spark, lines, FULL)
    s = summaries(rows)
    assert len(s) == 1
    assert means_map(s[0]) == {"Reason 1": 1, "Reason 2": 1}
    assert kills_map(s[0]) == {"Player1": 1, "Player2": 1}


# --- rs:521-583 world_kills ---------------------------------------------------
@pytest.mark.parametrize("parser", ["expr", "pandas"])
def test_world_kills_negative(spark, parser):
    lines = [
        init_game(),
        kill(1022, 2, 1, "<world>", "Player2", "NONE"),
        kill(2022, 1, 2, "<world>", "Player1", "NONE"),
        kill(2022, 1, 2, "<world>", "Player1", "NONE"),
        shutdown(),
    ]
    rows = run(spark, lines, BASIC, parser=parser)
    s = summaries(rows)
    assert len(s) == 1
    assert s[0]["total_kills"] == 3
    assert kills_map(s[0]) == {"Player1": -2, "Player2": -1}
    assert s[0]["players"] == ["Player1", "Player2"]


def test_world_kills_zero_net(spark):
    lines = [
        init_game(),
        kill(1022, 2, 1, "<world>", "Player2", "NONE"),
        kill(2022, 1, 2, "<world>", "Player1", "NONE"),
        kill(2022, 1, 2, "<world>", "Player1", "NONE"),
        kill(1, 2, 1, "Player1", "Player2", "NONE"),
        kill(2, 1, 2, "Player2", "Player1", "NONE"),
        kill(1, 2, 1, "Player1", "Player2", "NONE"),
        shutdown(),
    ]
    rows = run(spark, lines, BASIC)
    s = summaries(rows)
    assert s[0]["total_kills"] == 6
    assert kills_map(s[0]) == {"Player1": 0, "Player2": 0}


# --- rs:586-621 disconnect drops score, keeps total ---------------------------
def test_disconnect_zeroes_score(spark):
    lines = [
        init_game(),
        connect(1),
        userinfo(1, "Bartolo"),
        connect(2),
        userinfo(2, "Mielina"),
        kill(1, 2, 1, "Bartolo", "Mielina", "ANY"),
        kill(2, 1, 2, "Mielina", "Bartolo", "ANY"),
        disconnect(1),
        shutdown(),
    ]
    rows = run(spark, lines, ALL_BUT_MEANS)
    s = summaries(rows)
    assert len(s) == 1 and not errors(rows)
    assert s[0]["total_kills"] == 2
    assert s[0]["players"] == ["Mielina"]
    assert kills_map(s[0]) == {"Mielina": 1}
    assert [(d["id"], d["name"], d["frags"]) for d in s[0]["disconnected_players"]] == [
        (1, "Bartolo", 1)
    ]


# --- rs:629-663 reconnect under same nick -------------------------------------
def test_reconnect_fresh_score(spark):
    lines = [
        init_game(),
        connect(1),
        userinfo(1, "Bartolo"),
        connect(2),
        userinfo(2, "Mielina"),
        kill(1, 2, 1, "Bartolo", "Mielina", "ANY"),
        kill(2, 1, 2, "Mielina", "Bartolo", "ANY"),
        disconnect(1),
        connect(3),
        userinfo(3, "Bartolo"),
        kill(1, 2, 1, "Bartolo", "Mielina", "ANY"),
        kill(1, 2, 1, "Bartolo", "Mielina", "ANY"),
        shutdown(),
    ]
    rows = run(spark, lines, ALL_BUT_MEANS)
    s = summaries(rows)
    assert len(s) == 1 and not errors(rows)
    assert s[0]["total_kills"] == 4
    assert s[0]["players"] == ["Bartolo", "Mielina"]
    assert kills_map(s[0]) == {"Bartolo": 2, "Mielina": 1}
    assert [(d["id"], d["name"], d["frags"]) for d in s[0]["disconnected_players"]] == [
        (1, "Bartolo", 1)
    ]


# --- rs:667-699 rename preserves kills ----------------------------------------
def test_nick_renaming_preserves_kills(spark):
    lines = [
        init_game(),
        connect(1),
        userinfo(1, "Bartolo"),
        connect(2),
        userinfo(2, "Mielina"),
        kill(1, 2, 1, "Bartolo", "Mielina", "ANY"),
        kill(2, 1, 2, "Mielina", "Bartolo", "ANY"),
        userinfo(1, "Bartholo"),
        kill(1, 2, 1, "Bartholo", "Mielina", "ANY"),
        kill(1, 2, 1, "Bartholo", "Mielina", "ANY"),
        shutdown(),
    ]
    rows = run(spark, lines, ALL_BUT_MEANS)
    s = summaries(rows)
    assert len(s) == 1 and not errors(rows)
    assert s[0]["total_kills"] == 4
    assert s[0]["players"] == ["Bartholo", "Mielina"]
    assert kills_map(s[0]) == {"Bartholo": 3, "Mielina": 1}
    assert s[0]["disconnected_players"] is None


# --- sessionization semantics (rs:88-139, :397-403) ----------------------------
def test_unterminated_match_emits_nothing(spark):
    lines = [
        init_game(),
        kill(1, 2, 1, "Player1", "Player2", "NONE"),
        # no ShutdownGame
    ]
    rows = run(spark, lines, BASIC)
    assert rows == []
    rows = run(spark, lines, FULL)
    assert summaries(rows) == []


def test_events_before_init_ignored(spark):
    lines = [
        kill(1, 2, 1, "Player1", "Player2", "NONE"),  # before any InitGame
        init_game(),
        kill(1, 2, 1, "Player1", "Player2", "NONE"),
        shutdown(),
    ]
    rows = run(spark, lines, BASIC)
    s = summaries(rows)
    assert len(s) == 1
    assert s[0]["total_kills"] == 1


def test_double_init_is_violation_and_continues_match(spark):
    """A second InitGame while in-game must NOT split the match
    (compose keeps state unchanged, summary_logic.rs:96-103)."""
    lines = [
        init_game(),
        kill(1, 2, 1, "Player1", "Player2", "NONE"),
        init_game(),  # DoubleInit: violation, same match continues
        kill(2, 1, 2, "Player2", "Player1", "NONE"),
        shutdown(),
    ]
    rows = run(spark, lines, FULL)
    s = summaries(rows)
    e = errors(rows)
    assert len(s) == 1
    assert s[0]["total_kills"] == 2  # both kills in ONE match
    assert len(e) == 1 and "DoubleInit" in e[0]["error"]


def test_shutdown_without_game_is_violation(spark):
    lines = [shutdown(), exit_(), init_game(), shutdown()]
    rows = run(spark, lines, FULL)
    e = errors(rows)
    assert len(e) == 2
    assert all("GameNotStarted" in r["error"] for r in e)
    assert len(summaries(rows)) == 1


def test_kills_only_path_emits_violation_rows_like_the_fold(spark):
    """The vectorized kills-only path and the exact fold must agree on the
    FULL output contract — including DoubleInit / GameNotStarted error rows
    (summary_logic.rs:96-124/:405-406), not just the summaries."""
    lines = [
        shutdown(),  # GameNotStarted (#1, match 0)
        exit_(),     # GameNotStarted (#2, match 0)
        init_game(),
        kill(1, 2, 1, "Player1", "Player2", "NONE"),
        init_game(),  # DoubleInit (#5, match 1)
        kill(2, 1, 2, "Player2", "Player1", "NONE"),
        shutdown(),
        exit_(),     # GameNotStarted (#8, match 1 — after the match ended)
        init_game(),
        kill(1022, 2, 1, "<world>", "Player2", "NONE"),
        # unterminated second match: emits nothing
    ]

    def common(rows):
        return sorted(
            (
                (
                    r["conv_id"], r["match_id"], r["total_kills"],
                    tuple(r["players"] or []),
                    tuple((k["player"], k["frags"]) for k in (r["kills"] or [])),
                    r["graceful"], r["error"],
                )
                for r in rows
            ),
            key=str,
        )

    basic = run(spark, lines, BASIC)
    fold = run(spark, lines, frozenset({"kills", "player_resolutions"}))
    assert common(basic) == common(fold)
    e = errors(basic)
    assert sorted(r["error"] for r in e) == [
        "Event #1: violated the event model: GameNotStarted",
        "Event #2: violated the event model: GameNotStarted",
        "Event #5: violated the event model: DoubleInit",
        "Event #8: violated the event model: GameNotStarted",
    ]
    assert sorted(r["match_id"] for r in e) == [0, 0, 1, 1]
    s = summaries(basic)
    assert len(s) == 1 and s[0]["total_kills"] == 2


def test_exit_marks_graceful(spark):
    lines = [init_game(), exit_(), shutdown()]
    rows = run(spark, lines, FULL)
    s = summaries(rows)
    assert len(s) == 1 and s[0]["graceful"] is True
    rows = run(spark, lines[:1] + lines[2:], FULL)  # no Exit
    s = summaries(rows)
    assert len(s) == 1 and s[0]["graceful"] is False


# --- rs:708-874 golden: discrepant kills vs reported scores --------------------
def test_discrepant_golden(spark):
    path = FIXTURES_BLL / "discrepant.log"
    if not path.exists():
        pytest.skip("reference fixture unavailable")
    t = transcripts_from_file(spark, str(path), "discrepant")
    rows = summarize_matches(t, ops=FULL).collect()
    s = summaries(rows)
    assert len(s) == 1 and not errors(rows)
    r = s[0]
    assert r["total_kills"] == 105
    assert r["players"] == ["Assasinu Credi", "Dono da Bola", "Isgalamido", "Zeh"]
    assert kills_map(r) == {
        "Assasinu Credi": 13,
        "Dono da Bola": 13,
        "Isgalamido": 19,
        "Zeh": 20,
    }
    assert means_map(r) == {
        "MOD_FALLING": 11,
        "MOD_MACHINEGUN": 4,
        "MOD_RAILGUN": 8,
        "MOD_ROCKET": 20,
        "MOD_ROCKET_SPLASH": 51,
        "MOD_SHOTGUN": 2,
        "MOD_TRIGGER_HURT": 9,
    }
    assert scores_map(r) == {
        "Assasinu Credi": 11,
        "Dono da Bola": 5,
        "Isgalamido": 19,
        "Zeh": 20,
    }


# --- rs:890-909 E2E: pedantic log -> exactly 20 clean summaries -----------------
def test_pedantic_log_20_matches(spark):
    path = FIXTURES_BLL / "qgames_pedantic.log"
    if not path.exists():
        pytest.skip("reference fixture unavailable")
    t = transcripts_from_file(spark, str(path), "pedantic")
    rows = summarize_matches(t, ops=FULL, stop_on_violations=True).collect()
    assert len(summaries(rows)) == 20
    assert not errors(rows)


# --- both execution paths agree where their semantics overlap -------------------
def test_kills_only_path_matches_fold_path(spark):
    """The vectorized kills-only path and the exact fold must agree on
    kills/total for a log with no client events inside matches."""
    path = FIXTURES_BLL / "qgames_pedantic.log"
    if not path.exists():
        pytest.skip("reference fixture unavailable")
    t = transcripts_from_file(spark, str(path), "pedantic")
    fast = {
        (r["conv_id"], r["match_id"]): (r["total_kills"], tuple(sorted(kills_map(r).items())))
        for r in summarize_matches(t, ops=BASIC).collect()
    }
    exact = {
        (r["conv_id"], r["match_id"]): (r["total_kills"], tuple(sorted(kills_map(r).items())))
        for r in summaries(summarize_matches(t, ops=frozenset({"kills", "player_resolutions"})).collect())
    }
    # kills-only ignores disconnect removal; compare only matches where the
    # exact path recorded no disconnections — on this log the kill totals
    # must agree everywhere
    assert set(fast) == set(exact)
    for k in fast:
        assert fast[k][0] == exact[k][0], f"total_kills mismatch at {k}"


# --- DAL fixture semantics (dal/src/sync_file_reader.rs:69-116) -----------------
def test_excerpt_32_domain_events(spark):
    path = FIXTURES_DAL / "qgames_excerpt.log"
    if not path.exists():
        pytest.skip("reference fixture unavailable")
    from quake3_log_analyser_spark.operators.parse import parse_transcripts
    from quake3_log_analyser_spark.operators.sessionize import sessionize
    from quake3_log_analyser_spark.operators.translate import domain_filter

    t = transcripts_from_file(spark, str(path), "excerpt")
    parsed = sessionize(parse_transcripts(t))
    assert parsed.filter(domain_filter()).count() == 32


def test_malformed_lines_in_band_errors(spark):
    path = FIXTURES_DAL / "malformed_line.log"
    if not path.exists():
        pytest.skip("reference fixture unavailable")
    from quake3_log_analyser_spark.operators.parse import parse_transcripts
    from quake3_log_analyser_spark.operators.sessionize import sessionize
    from quake3_log_analyser_spark.operators.translate import domain_filter

    t = transcripts_from_file(spark, str(path), "malformed")
    parsed = sessionize(parse_transcripts(t)).filter(domain_filter())
    rows = {r["turn_idx"]: r for r in parsed.collect()}
    assert sorted(rows) == [2, 3, 4, 5, 6], "5 domain events (Item/Begin dropped)"
    assert rows[2]["parse_error_kind"] == "UnknownEventName"
    assert rows[5]["parse_error_kind"] == "UnparseableNumber"
    assert rows[6]["parse_error_kind"] == "UnknownDataFormat"
    for i in (3, 4):
        assert rows[i]["parse_error_kind"] is None


def test_violation_rows_emit_in_stream_order(spark):
    """Violations within a match must come back in turn_idx (stream) order,
    not lexicographic message order — 'Event #10' after 'Event #9' (the
    round-2 ADVICE finding: unpadded sentinels sorted '#10' before '#9')."""
    say = " 0:01 say: hello"
    lines = [say] * 8 + [exit_(), exit_()]  # violations at turns 9 and 10
    rows = run(spark, lines, BASIC)
    errs = [r["error"] for r in rows if r["error"] is not None]
    assert errs == [
        "Event #9: violated the event model: GameNotStarted",
        "Event #10: violated the event model: GameNotStarted",
    ]


def test_early_discard_equals_unfiltered_on_fixtures(spark):
    """The raw-text early-discard filter is an over-approximation that must
    not change ANY summary output — checked against the reference fixtures
    (which contain say/chat lines with arbitrary content) by comparing the
    filtered pipeline to a parser-forced run without it (stop_on_feed_errors
    unused, so only the filter differs)."""
    checked = 0
    for fixture, root in [
        ("qgames_permissive.log", FIXTURES_BLL),
        ("discrepant.log", FIXTURES_BLL),
    ]:
        path = root / fixture
        if not path.exists():
            continue  # check every available fixture independently
        checked += 1
        t = transcripts_from_file(spark, str(path), fixture)
        for ops in (BASIC, frozenset({"kills", "means_of_death", "reported_scores"})):
            with_filter = summarize_matches(t, ops=ops).collect()
            baseline = summarize_matches(t, ops=ops, early_discard=False).collect()
            assert sorted(
                [(r["conv_id"], r["match_id"], r["total_kills"],
                  tuple(r["players"] or []), r["error"]) for r in with_filter], key=str
            ) == sorted(
                [(r["conv_id"], r["match_id"], r["total_kills"],
                  tuple(r["players"] or []), r["error"]) for r in baseline], key=str
            )
            if fixture == "qgames_permissive.log" and ops == BASIC:
                # 20 summaries + the DoubleInit at event #98 (the exact pair
                # of warnings the reference documents for this file,
                # app/src/main.rs:44-48)
                assert len([r for r in with_filter if r["error"] is None]) == 20
                errs = [r["error"] for r in with_filter if r["error"] is not None]
                assert errs == ["Event #98: violated the event model: DoubleInit"]
    if not checked:
        pytest.skip("no reference fixtures available")


def test_nul_prefixed_player_name_is_not_a_sentinel(spark):
    """Web-scale log text can contain NUL bytes: a player named '\\x00evil'
    must be aggregated as a player, not mistaken for a violation sentinel
    (the prefix-only check dropped the kill and emitted a garbage error)."""
    lines = [
        init_game(),
        " 0:01 Kill: 2 3 7: \x00evil killed Bob by MOD_ROCKET",
        shutdown(),
    ]
    rows = run(spark, lines, BASIC)
    s = summaries(rows)
    assert len(s) == 1 and not errors(rows)
    assert s[0]["total_kills"] == 1
    assert s[0]["players"] == ["\x00evil"]
    assert kills_map(s[0]) == {"\x00evil": 1}
