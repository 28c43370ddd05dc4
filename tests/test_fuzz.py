"""Property-based differential tests (hypothesis).

Two contracts that fixture goldens cannot exhaust:

* the three parser implementations (expr / arrow / pandas) are ONE
  semantics — any line, however adversarial, must produce identical typed
  rows from all three;
* the vectorized kills-only aggregation and the exact replay fold are ONE
  semantics for the operator set both support — any event sequence must
  produce the same per-match summaries from both.

Spark-aware knobs: few examples, no deadline (a Spark job per example),
and the module-scoped session fixture is exempted from the
function-scoped-fixture health check.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from quake3_log_analyser_spark.sources.transcripts import transcripts_from_lines

# payload text: a transcript turn is free text and can span lines, so
# '\n' and '\r' are in (each regex engine reads a final line terminator
# its own way); allow the grammar's own metacharacters (colons,
# backslashes, spaces) so the parsers' splitting logic gets hit hard — AND
# the control characters the round-3 alphabet excluded (tab / NUL /
# vertical tab): the parsers ltrim SPACES only and the early-discard
# regex anchors on ' *', so any tab-indentation divergence is visible only
# if tabs reach the fuzzer
_payload = st.text(
    alphabet=st.one_of(
        st.characters(
            codec="utf-8",
            categories=("L", "N", "P", "S", "Zs"),
        ),
        st.sampled_from("\t\x00\x0b\x0c\n\r"),
    ),
    max_size=24,
)
_num = st.one_of(
    st.integers(min_value=-(10**19), max_value=10**19).map(str),
    st.just(""), st.just("+7"), st.just("007"), st.just("4294967295"),
    st.just("4294967296"), st.just("0000000000000000007"), _payload,
    # a number then a line terminator: each regex engine reads a final
    # '\n' / '\r' its own way ('$' matches before a final '\n')
    st.builds(
        lambda n, end: str(n) + end,
        st.integers(min_value=0, max_value=2**32),
        st.sampled_from(["\n", "\r", "\r\n"]),
    ),
)


# optional line terminator after a number that ends the line
_eol = st.sampled_from(["", "\n", "\r", "\r\n"])


def _kill_line(a, b, c, x, y, z):
    return f" 0:01 Kill: {a} {b} {c}: {x} killed {y} by {z}"


_line = st.one_of(
    _payload,  # raw garbage (often -> error rows)
    st.just(""),
    st.just("   "),
    st.just("\t 0:00 InitGame: x"),      # tab-indented delimiter
    st.just(" 0:00\tShutdownGame:"),     # tab inside the time token
    st.builds(_kill_line, _num, _num, _num, _payload, _payload, _payload),
    st.builds(lambda v: f" 0:00 InitGame: {v}", _payload),
    st.builds(lambda i, kv: f" 0:00 ClientUserinfoChanged: {i} {kv}", _num, _payload),
    st.builds(lambda i, e: f" 0:00 ClientConnect: {i}{e}", _num, _eol),
    st.builds(lambda i, e: f" 0:00 ClientDisconnect: {i}{e}", _num, _eol),
    st.builds(
        lambda f, i, n: f" 0:01 score: {f}  ping: 3  client: {i} {n}", _num, _num, _payload
    ),
    st.builds(lambda r, b, e: f" 0:01 red: {r}  blue: {b}{e}", _num, _num, _eol),
    st.just(" 0:02 Exit: Timelimit hit."),
    st.just(" 0:02 ShutdownGame:"),
    st.just(" 0:00 ------------"),
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(lines=st.lists(_line, min_size=1, max_size=30))
def test_three_parsers_agree_on_arbitrary_lines(spark, lines):
    from quake3_log_analyser_spark.operators.parse import parse_transcripts
    from quake3_log_analyser_spark.schemas import EVENT_COLUMN_NAMES

    t = transcripts_from_lines(spark, lines, "fuzz")
    results = {}
    for parser in ("expr", "arrow", "pandas"):
        rows = (
            parse_transcripts(t, parser=parser)
            .select("turn_idx", *EVENT_COLUMN_NAMES)
            .collect()
        )
        results[parser] = sorted(tuple(r) for r in rows)
    assert results["expr"] == results["arrow"], "expr vs arrow diverged"
    assert results["expr"] == results["pandas"], "expr vs pandas diverged"


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(lines=st.lists(_line, min_size=1, max_size=25))
def test_vectorized_equals_fold_on_arbitrary_sequences(spark, lines):
    """kills-only vectorized aggregation == exact replay fold, on any
    event sequence.  Summary rows must be identical; error rows are
    compared only on the event-MODEL violations both op menus emit —
    the fold's player_resolutions op additionally reports registry logic
    errors (ClientNotConnected / DoubleConnect) that the reference's
    kills-only config, by design, does not run."""
    from quake3_log_analyser_spark.plans.pipeline import summarize_matches

    t = transcripts_from_lines(spark, lines, "fuzz")
    vec = summarize_matches(t, ops={"kills"}).collect()
    fold = summarize_matches(t, ops={"kills", "player_resolutions"}).collect()

    def common(rows):
        # players/kills maps legitimately DIVERGE across the op menus:
        # player_resolutions registers connect/userinfo names and moves
        # disconnected players' kills (reference semantics) — compare the
        # op-independent facts only; the full-row parity for registration-
        # free sequences is pinned by the deterministic scenario tests
        return sorted(
            (
                (
                    r["conv_id"], r["match_id"], r["total_kills"],
                    r["graceful"], r["error"],
                )
                for r in rows
            # compose-level violations only (DoubleInit / GameNotStarted):
            # the registry kinds (ClientNotConnected / DoubleConnect /
            # Discrepant...) exist only under player_resolutions
            if r["error"] is None
            or r["error"].endswith("DoubleInit")
            or r["error"].endswith("GameNotStarted")
            ),
            key=repr,  # error rows carry None total_kills; None < int raises
        )

    assert common(vec) == common(fold)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(lines=st.lists(_line, min_size=1, max_size=25))
def test_multi_op_vectorized_equals_fold_full_rows(spark, lines):
    """The single-pass multi-op aggregation (summarize_multi) and the exact
    replay fold run the SAME op menu {kills, means_of_death, reported_scores}
    — without player_resolutions both are registry-free, so EVERY output
    field must match exactly, including NULL-vs-empty on the means/scores
    maps and all-NULL error rows."""
    from quake3_log_analyser_spark.operators.parse import parse_transcripts
    from quake3_log_analyser_spark.operators.summarize import summarize_extended
    from quake3_log_analyser_spark.operators.translate import translate
    from quake3_log_analyser_spark.plans.pipeline import summarize_matches

    t = transcripts_from_lines(spark, lines, "fuzz")
    ops = frozenset({"kills", "means_of_death", "reported_scores"})
    vec = summarize_matches(t, ops=ops).collect()
    fold = summarize_extended(translate(parse_transcripts(t)), ops).collect()

    def norm(rows):
        return sorted(
            (
                tuple(
                    tuple(sorted(v, key=str)) if isinstance(v, list) else v
                    for v in (
                        r["conv_id"], r["match_id"], r["total_kills"],
                        r["players"], r["kills"], r["kills_by_means"],
                        r["game_reported_scores"], r["disconnected_players"],
                        r["graceful"], r["error"],
                    )
                )
                for r in rows
            ),
            key=repr,
        )

    assert norm(vec) == norm(fold)


def test_parsers_agree_on_seeded_random_corpus(spark):
    """Deterministic mega-fuzz: 3000 seeded random lines (grammar-shaped,
    mutated, and raw garbage) through all three parsers in ONE job each —
    orders of magnitude more coverage per second than per-example
    property runs, and fully reproducible."""
    import random

    from quake3_log_analyser_spark.operators.parse import parse_transcripts
    from quake3_log_analyser_spark.schemas import EVENT_COLUMN_NAMES

    rng = random.Random(0xC0FFEE)
    alphabet = "abz AZ09:\\-_+<>{}()'\"|.é世\t\x00\x0b\n\r"

    def rtext(n):
        return "".join(rng.choice(alphabet) for _ in range(rng.randrange(n)))

    def rnum():
        return rng.choice(
            ["", "0", "7", "+7", "-3", "007", "4294967295", "4294967296",
             "0000000000000000007", "+00000000000000000042", "-000",
             "99999999999999999999", rtext(6)]
        )

    lines = []
    for _ in range(3000):
        k = rng.randrange(12)
        if k == 0:
            lines.append(rtext(40))
        elif k == 1:
            lines.append(f" 0:01 Kill: {rnum()} {rnum()} {rnum()}: "
                         f"{rtext(10)} killed {rtext(10)} by {rtext(10)}")
        elif k == 2:
            lines.append(f" 0:00 InitGame: {rtext(30)}")
        elif k == 3:
            lines.append(f" 0:00 ClientUserinfoChanged: {rnum()} {rtext(20)}")
        elif k == 4:
            lines.append(f" 0:00 Client{rng.choice(['Connect','Begin','Disconnect'])}: {rnum()}")
        elif k == 5:
            lines.append(f" 0:01 score: {rnum()}  ping: 3  client: {rnum()} {rtext(8)}")
        elif k == 6:
            lines.append(f" 0:01 red: {rnum()}  blue: {rnum()}")
        elif k == 7:
            lines.append(rng.choice(["", "   ", " 0:02 Exit: x", " 0:02 ShutdownGame:",
                                     " 0:00 ---- comment ----", " 0:01 say: hi: there"]))
        elif k == 8:
            lines.append(f" 0:01 {rtext(12)}: {rtext(20)}")  # random event name
        else:
            # mutate a valid kill line: drop OR duplicate a random char, OR
            # put a line terminator after it (after an id, or at the end)
            base = " 0:01 Kill: 2 3 7: A killed B by MOD_ROCKET"
            i = rng.randrange(len(base))
            r = rng.random()
            if r < 1 / 3:
                lines.append(base[:i] + base[i + 1:])   # drop
            elif r < 2 / 3:
                lines.append(base[:i + 1] + base[i:])   # duplicate
            else:
                lines.append(base[:i + 1] + rng.choice("\n\r") + base[i + 1:])

    t = transcripts_from_lines(spark, lines, "megafuzz")
    results = {}
    for parser in ("expr", "arrow", "pandas"):
        rows = (
            parse_transcripts(t, parser=parser)
            .select("turn_idx", *EVENT_COLUMN_NAMES)
            .collect()
        )
        results[parser] = sorted(tuple(r) for r in rows)
    for a, b in (("expr", "arrow"), ("expr", "pandas")):
        diffs = [
            (x, y) for x, y in zip(results[a], results[b]) if x != y
        ]
        assert not diffs, f"{a} vs {b}: first diff {diffs[0]}"
