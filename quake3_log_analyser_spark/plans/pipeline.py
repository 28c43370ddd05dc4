"""End-to-end pipeline composition — the ``summarize_games`` analogue
(bll-api/src/lib.rs:12-22, bll/src/summary_logic.rs:44-60).

The reference wires a fixed menu of stream-combinator compositions from a
config enum; here the "menu" is just which DataFrame transforms get
composed, and Catalyst prunes everything an omitted op would have computed
(the reference's "only pay for what you use" claim, summary_logic.rs:30,
is column pruning for us).

Path selection:
* ops without ``player_resolutions``  -> fully vectorized DataFrame path
  (kills / means / scores are order-insensitive aggregates)
* ops with ``player_resolutions``     -> exact replay fold
  (rename/disconnect/reconnect are order-dependent, summary_logic.rs:210-287)
  as ONE Python stage: raw-text early discard, a conv_id shuffle, a
  ``(conv_id, turn_idx)`` sort within partitions, then one ``mapInArrow``
  that parses each batch and folds it (operators.summarize).

Each Python worker task has a fixed CPU cost whatever its rows
(session.py gives it), so the fold path has one Python stage rather than
a parse stage plus a grouped-map stage.  Measured on a 4-core host with
the benchmark's nightly job (42.8k turns, ``local[4]``) and pyspark's
stock worker daemon, this plan plus the
Arrow-built dictionaries (session.local_table) against the two-stage
plan: Python tasks per warm run 17 -> 5, warm-run CPU 9.8 -> 6.3 s
(median of 9 seeds), Python worker time 4.2-5.1 -> 2.2-2.3 s and Arrow
bytes sent to Python 21.9 -> 12.9 MB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.column_cache import named, per_jvm
from ..operators.parse import choose_parser, fail_on_feed_errors, parse_transcripts
from ..operators.sessionize import sessionize
from ..operators.summarize import (
    DEFAULT_EXTENDED_OPS,
    FOLD_FIELDS,
    summarize_extended,
    summarize_multi,
)

VALID_OPS = {"kills", "means_of_death", "player_resolutions", "reported_scores"}

# the reference's accepted combinations (summary_logic.rs:47-58)
KILLS_ONLY = frozenset({"kills"})


def check_ops(ops: frozenset[str] | set[str]) -> frozenset[str]:
    """The op menu as a frozenset, or ValueError if it names an unknown op
    or leaves out ``kills``.  Every entry point that summarizes calls it,
    so a menu is accepted or rejected the same way on every path."""
    ops = frozenset(ops)
    unknown = ops - VALID_OPS
    if unknown:
        raise ValueError(f"unknown logic ops: {sorted(unknown)}")
    if "kills" not in ops:
        raise ValueError("the 'kills' op is mandatory (as in the reference menu)")
    return ops


def summarize_matches(
    transcripts: DataFrame,
    ops: frozenset[str] | set[str] = KILLS_ONLY,
    parser: str = "auto",
    stop_on_violations: bool = False,
    stop_on_feed_errors: bool = False,
    early_discard: bool = True,
) -> DataFrame:
    """transcripts -> per-match summary DataFrame (MATCH_SUMMARY_SCHEMA).

    On a conv_id-bucketed, (conv_id, turn_idx)-sorted source table the
    kills-family plans need no shuffle and no sort: the bucket layout
    satisfies the sessionize window and both aggregation levels
    (tests/test_plans.py).

    ``stop_on_feed_errors=True`` is the reference's ``--pedantic`` feed
    gate (app/src/main.rs:84-85): the job FAILS on the first malformed
    line instead of routing it to the dead-letter column.
    """
    ops = check_ops(ops)

    # vectorized-path field set (narrow: 2-5 event columns)
    agg_base = ["killer_name", "victim_name"]
    if "means_of_death" in ops:
        agg_base.append("reason_name")
    if "reported_scores" in ops:
        agg_base += ["name", "frags"]

    if parser == "auto":
        # per-query-shape selection (operators.parse.choose_parser): the
        # fold path keeps 9 event fields -> arrow, parsed inside the fold
        # stage itself; the vectorized kills-family paths keep 2-5 -> the
        # faster, better-scaling expr parser (janino-safe at that width).
        parser = choose_parser(
            FOLD_FIELDS if "player_resolutions" in ops else agg_base
        )

    # pedantic enforcement is parser-dependent (both are pushdown-proof,
    # see operators.parse.fail_on_feed_errors for why turn_idx alone isn't):
    #  * arrow  — raise INSIDE the parse task (pedantic=True below; on the
    #    fold path that task is the fold stage); no error columns ever
    #    reach the plan
    #  * expr/pandas — raise_error gated into event_type + turn_idx, which
    #    every downstream filter/groupBy consumes
    pedantic_in_udf = stop_on_feed_errors and parser == "arrow"
    gate_cols = stop_on_feed_errors and not pedantic_in_udf
    error_fields = ["parse_error_kind", "parse_error"] if gate_cols else []

    def _gate(parsed: DataFrame) -> DataFrame:
        return fail_on_feed_errors(parsed) if gate_cols else parsed

    # summaries never read role/tool/ts — selecting the 3 needed columns
    # BEFORE the parse halves the Arrow IPC payload through the Python
    # boundary (mapInArrow is an optimizer barrier: Catalyst cannot prune
    # through it, so the narrowing must happen on the input side).
    # Measured at 16M turns x 32 cores: 15.1s -> 8.2s for the parse stage.
    narrowed_in = transcripts.select(*named("conv_id", "turn_idx", "text"))

    # EARLY DISCARD on RAW text (the reference's events_translation.rs
    # "only pay for what you use", moved BELOW the parse): each summary
    # path consumes only a few event names, so one anchored JVM regex
    # drops every other line BEFORE the parse runs.  It matches the event
    # name exactly where the parsers find it (after leading spaces and
    # the first space-free token), so it never drops a consumed row, and
    # a say line holding " Kill:" does not pass (tests/test_early_discard.py pins both).
    # match_id/in_game derive from the retained markers and turn_idx
    # values are preserved.  Referencing only `text`, the predicate
    # pushes to the scan with no re-inlining hazard.  Skipped when
    # pedantic: the feed gate must see ALL lines.  Not one
    # `like('% Tok:%')` per token: each becomes Contains(' Tok:'), which
    # tries a match at every space of every line once per token.  A warm
    # full-menu summarize_matches call on the benchmark's nightly input
    # (4-core host, one JVM, the two filters alternating, 6 calls each)
    # cost a median 1.34 CPU-s with that chain and 0.95 with the regex,
    # with identical rows; the kill-heavy kills call read 3.51 and 3.67.
    if early_discard and not stop_on_feed_errors:
        narrowed_in = narrowed_in.filter(_early_discard(*discard_tokens(ops)))

    if "player_resolutions" in ops:
        # the arrow parser runs inside the fold stage (after the shuffle,
        # on raw text); any other parser runs before it, and the fold
        # stage then skips its own parse
        if parser != "arrow":
            narrowed_in = _gate(
                parse_transcripts(
                    narrowed_in, parser=parser, fields=FOLD_FIELDS + error_fields
                )
            )
        return summarize_extended(
            narrowed_in, ops, stop_on_violations, pedantic=pedantic_in_udf
        )

    # dropped event types don't affect match state, and summarize filters
    # to Kill/Score rows above the window — no separate translate filter
    sessionized = sessionize(
        _gate(
            parse_transcripts(
                narrowed_in,
                parser=parser,
                fields=agg_base + error_fields,
                pedantic=pedantic_in_udf,
            )
        )
    )
    # ONE two-level aggregation for every requested op (kills + means +
    # scores): the old branch-and-join composition re-computed the parse +
    # window DAG once per branch — 3 scans, 0 ReusedExchange, confirmed by
    # the round-3 plan audit.  summarize_multi keeps the single scan and
    # the window's single shuffle (plan-pinned in tests/test_plans.py).
    out = summarize_multi(sessionized, ops)
    cols = [
        "conv_id", "match_id", "total_kills", "players", "kills",
        "kills_by_means", "game_reported_scores", "disconnected_players",
        "graceful", "error",
    ]
    return out.select(*named(*cols))


def discard_tokens(ops: frozenset[str]) -> tuple[str, ...]:
    """The event names whose lines the summary path of ``ops`` reads."""
    tokens = ("Kill", "InitGame", "Exit", "ShutdownGame")
    if "player_resolutions" in ops:
        tokens += ("ClientConnect", "ClientUserinfoChanged", "ClientDisconnect")
    if "reported_scores" in ops:
        tokens += ("score",)
    return tokens


@per_jvm
def _early_discard(*tokens: str) -> Column:
    """Keep a line if its event name is one of ``tokens``."""
    return F.col("text").rlike(rf"^ *[^ ]+ (?:{'|'.join(tokens)}):")


def full_pipeline_ops() -> frozenset[str]:
    return DEFAULT_EXTENDED_OPS
