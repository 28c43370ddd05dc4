"""Per-match summaries — the ``summarize()`` aggregation of the reference
(bll/src/summary_logic.rs:314-415) plus its composable logic operators
``kills()`` (:177-203), ``means_of_death()`` (:144-170),
``game_reported_scores()`` (:290-310) and
``player_ids_and_nicknames_resolutions()`` (:210-287).

Two execution paths, selected by the requested operator set (mirroring the
reference's config-driven pipeline menu, summary_logic.rs:44-60):

* ``summarize_kills_only`` — the reference's default CLI config (Kills op
  only, app/src/main.rs:86-97).  Pure DataFrame expressions: a two-level
  hash aggregate (partial map-side combine for free) grouped by
  ``(conv_id, match_id[, player])``.  This is the 100 TB fast path: no
  Python, no per-row state, one extra shuffle after sessionize.

* ``summarize_extended`` — the ``--extended`` 4-op pipeline.  The id->nick
  registry with rename/disconnect/reconnect replay (:210-287) is genuinely
  order-dependent, so it runs as ONE ``mapInArrow`` stage over rows
  hash-partitioned by ``conv_id`` and sorted by ``(conv_id, turn_idx)``
  within each partition; the same stage parses raw text with the Arrow
  kernels.  Per-conv state is O(players); conversations are independent,
  so this parallelizes perfectly across executors.  One stage rather than
  a parse stage plus a grouped-map fold, because each Python worker task
  has a fixed CPU cost whatever its rows (session.py).

Output ordering parity: the reference renders BTreeMap/BTreeSet, i.e.
lexicographic key order — reproduced with ``array_sort`` over
``(name, value)`` structs (SURVEY.md §1.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.column_cache import named, per_jvm
from ..schemas import MATCH_SUMMARY_SCHEMA, WORLD

# ---------------------------------------------------------------------------
# vectorized kills-only path
# ---------------------------------------------------------------------------


def _summary_null(field: str):
    return F.lit(None).cast(MATCH_SUMMARY_SCHEMA[field].dataType)


def _violation_expr():
    """Event-model violations re-derived from the sessionize columns
    (compose(), summary_logic.rs:96-124): an InitGame that did not start a
    match was a DoubleInit; Exit/Shutdown outside a game is GameNotStarted."""
    et = F.col("event_type")
    in_game = F.col("in_game")
    return (
        F.when((et == "InitGame") & ~F.col("is_match_start"), "DoubleInit")
        .when((et == "Exit") & ~in_game, "GameNotStarted")
        .when(
            (et == "ShutdownGame") & ~in_game & ~F.col("is_match_end"),
            "GameNotStarted",
        )
    )


def _violation_sentinel(violation):
    # The 12-digit pad is exact for any int32 turn_idx >= 0 (max 10 digits);
    # lpad TRUNCATES longer strings and the sentinel rlike wants exactly 12
    # digits, so a negative turn_idx ('-' is not [0-9]) would silently turn
    # the violation into a player kill.  turn_idx is 1-based by the source
    # contract (sources/transcripts.py) — greatest(.., 0) makes the pad
    # total anyway; the real turn_idx still rides in the message text.
    return F.concat(
        F.lit("\x00"),
        F.lpad(
            F.greatest(F.col("turn_idx"), F.lit(0)).cast("string"), 12, "0"
        ),
        F.format_string(
            "Event #%d: violated the event model: %s", F.col("turn_idx"), violation
        ),
    )


def _error_struct(err):
    """An all-null summary row carrying only the error text — the fold's
    emit_error contract (functions/replay.py)."""
    return F.struct(
        _summary_null("total_kills").alias("total_kills"),
        _summary_null("players").alias("players"),
        _summary_null("kills").alias("kills"),
        _summary_null("kills_by_means").alias("kills_by_means"),
        _summary_null("game_reported_scores").alias("game_reported_scores"),
        _summary_null("disconnected_players").alias("disconnected_players"),
        F.lit(None).cast("boolean").alias("graceful"),
        err.alias("error"),
    )


def _emit_columns(summary_entry) -> dict:
    """The Column trees of ``_emit_rows`` for one summary entry."""
    entries = F.concat(F.array(summary_entry), F.transform("violations", _error_struct))
    return {
        "exploded": [
            F.col("conv_id"), F.col("match_id"), F.col("completed"),
            F.explode(entries).alias("e"),
        ],
        "emitted": F.col("completed") | F.col("e.error").isNotNull(),
        "rows": [F.col("conv_id"), F.col("match_id"), F.col("e.*")],
    }


def _emit_rows(per_match: DataFrame, emit: dict) -> DataFrame:
    """Explode (summary + violation-error) entries per match; only matches
    that saw an effective ShutdownGame emit a summary (rs:397-403).
    ``emit`` is ``_emit_columns``' result."""
    return (
        per_match.select(*emit["exploded"])
        .filter(emit["emitted"])
        .select(*emit["rows"])
    )


def summarize_kills_only(sessionized: DataFrame) -> DataFrame:
    """Summaries under the Kills-only config (basic CLI default).

    Matches the reference exactly: ``total_kills`` counts every Kill (world
    kills included, summary_logic.rs:372/:382), ``players`` is the set of
    frag-event names, ``kills`` the signed per-name sum, only matches that
    saw an effective ShutdownGame emit a summary row (:397-403) — and
    DoubleInit / GameNotStarted event-model violations emit error rows
    (``Event #n: violated the event model: ...``, :96-124/:405-406), the
    same output contract as the ``summarize_extended`` fold path.
    """
    c = _kills_only_columns()
    per_name = (
        sessionized.filter(c["relevant"])
        .select(*c["keyed"])
        .groupBy(*named("conv_id", "match_id", "frag_name"))
        .agg(*c["name_aggs"])
    )
    per_match = per_name.groupBy(*named("conv_id", "match_id")).agg(*c["match_aggs"])
    return _emit_rows(per_match, c["emit"])


@per_jvm
def _kills_only_columns() -> dict:
    """The Column trees of ``summarize_kills_only``, by the step that
    applies them."""
    # ONE pass over the sessionized stream: kill rows, match-control rows
    # AND violation rows flow through the SAME two-level aggregation
    # (violations are collected per match and exploded alongside the
    # summary row), so the upstream parse+window DAG is scanned once — a
    # branch-and-union formulation would re-compute it per branch.
    et = F.col("event_type")
    in_game = F.col("in_game")
    violation = _violation_expr()
    is_kill = (et == "Kill") & in_game
    relevant = (
        et.isin("Kill", "Exit", "ShutdownGame")
        & (F.col("match_id") > 0)
        & (in_game | F.col("is_match_end"))
    ) | violation.isNotNull()
    is_world = F.col("killer_name") == WORLD
    # Violations ride the EXISTING group key as sentinel strings ("\x00" +
    # zero-padded turn_idx + the final error text, one singleton group each)
    # so the 16M-row first-level aggregation keeps only sum/count/max — pure
    # codegen HashAggregate.  Collecting (turn_idx, violation) structs here
    # instead demotes the whole level to ObjectHashAggregate: measured 5x
    # slower end-to-end at 16M turns.  The 12-digit zero-pad makes the
    # later lexicographic array_sort equal STREAM (turn_idx) order — without
    # it 'Event #10…' sorts before 'Event #9…', surprising consumers that
    # assume the reference's within-match emission order.
    #
    # Sentinel recognition matches the FULL shape ("\x00" + 12 digits +
    # "Event #"), not just the NUL prefix: web-scale log text can contain
    # NUL bytes, and a player named "\x00evil" must stay a player (found
    # by a NUL-injection probe — the prefix-only check silently dropped
    # the kill and emitted a garbage error row).  Residual collision needs
    # a name reproducing the entire sentinel shape byte-for-byte —
    # adversarial-input territory the reference's own renderer also
    # cannot distinguish.
    violation_sentinel = _violation_sentinel(violation)
    keyed = [
        F.col("conv_id"),
        F.col("match_id"),
        F.when(
            is_kill,
            F.when(is_world, F.col("victim_name")).otherwise(F.col("killer_name")),
        )
        .when(violation.isNotNull(), violation_sentinel)
        .alias("frag_name"),
        F.when(is_kill, F.when(is_world, F.lit(-1)).otherwise(F.lit(1))).alias(
            "frag_delta"
        ),
        F.col("is_match_end").alias("completed"),
        ((et == "Exit") & in_game).alias("graceful"),
    ]
    name_aggs = [
        F.sum("frag_delta").cast("long").alias("frags"),
        F.count("frag_delta").alias("n_kills"),
        F.max("completed").alias("completed"),
        F.max("graceful").alias("graceful"),
    ]
    is_sentinel = F.col("frag_name").startswith("\x00") & F.col(
        "frag_name"
    ).rlike("^\x00[0-9]{12}Event #")
    is_player = F.col("frag_name").isNotNull() & ~is_sentinel
    kill_entry = F.when(
        is_player,
        F.struct(F.col("frag_name").alias("player"), F.col("frags").alias("frags")),
    )
    match_aggs = [
        F.sum(F.when(~is_sentinel, F.col("n_kills"))).alias("total_kills"),
        F.array_sort(
            F.collect_list(F.when(is_player, F.col("frag_name")))
        ).alias("players"),
        F.array_sort(F.collect_list(kill_entry)).alias("kills"),
        F.max("completed").alias("completed"),
        F.max("graceful").alias("graceful"),
        # sort while the 12-digit pad (chars 2..13) is still attached, THEN
        # strip it: message text starts at char 14 (1-based substring)
        F.transform(
            F.array_sort(F.collect_list(F.when(is_sentinel, F.col("frag_name")))),
            lambda s: F.substring(s, 14, 1 << 20),
        ).alias("violations"),
    ]
    summary_entry = F.struct(
        F.coalesce("total_kills", F.lit(0)).alias("total_kills"),
        F.col("players").alias("players"),
        F.col("kills").cast(MATCH_SUMMARY_SCHEMA["kills"].dataType).alias("kills"),
        _summary_null("kills_by_means").alias("kills_by_means"),
        _summary_null("game_reported_scores").alias("game_reported_scores"),
        _summary_null("disconnected_players").alias("disconnected_players"),
        F.col("graceful").alias("graceful"),
        F.lit(None).cast("string").alias("error"),
    )
    return {
        "relevant": relevant,
        "keyed": keyed,
        "name_aggs": name_aggs,
        "match_aggs": match_aggs,
        "emit": _emit_columns(summary_entry),
    }


def summarize_multi(
    sessionized: DataFrame, ops: frozenset[str] | set[str]
) -> DataFrame:
    """ALL requested order-insensitive ops in ONE two-level aggregation.

    A plan audit found that the former composition — the kills-only
    summary joined to separate means-of-death and reported-score
    aggregates — executed the parse + sessionize-window DAG once PER
    BRANCH (3 scans, 0 ReusedExchange): at scale that triples the
    pipeline's dominant cost.  This is the
    single-pass form, the Spark shape of the reference computing all its
    ops in one fold pass (bll/src/summary_logic.rs:44-60, "only pay for
    what you use"):

    * every relevant row explodes into 1-2 typed entries —
      kind 0 = the kills/control/violation row (exactly the kills-only
      ``keyed`` row), kind 1 = a means-histogram observation keyed by
      ``reason_name``, kind 2 = a score observation keyed by ``name``;
    * level 1 groups by ``(conv_id, match_id, kind, key)`` with pure
      codegen aggregates (sum/count/max/max_by — no collect buffers);
    * level 2 groups by ``(conv_id, match_id)`` and assembles the sorted
      arrays per kind.

    The sessionize window already hash-partitions by ``conv_id``, which
    satisfies both aggregations' clustering — the whole summary runs with
    ONE scan, ONE shuffle (the window's), zero extra exchanges (pinned in
    tests/test_plans.py).  Output parity: identical to the exact fold for
    the same op menu — ``kills_by_means``/``game_reported_scores`` are NULL
    (not empty) when the match saw no Kill/Score, and violation error rows
    are all-NULL except ``error`` (the old join form wrongly attached the
    match's histogram to error rows).
    """
    ops = frozenset(ops)
    want_means = "means_of_death" in ops
    want_scores = "reported_scores" in ops
    if not (want_means or want_scores):
        return summarize_kills_only(sessionized)

    c = _multi_columns(want_means, want_scores)
    per_key = (
        sessionized.filter(c["relevant"])
        .select(*c["exploded"])
        .filter(c["entry_kept"])
        .groupBy(*c["by_entry"])
        .agg(*c["key_aggs"])
    )
    per_match = per_key.groupBy(*named("conv_id", "match_id")).agg(*c["match_aggs"])
    return _emit_rows(per_match, c["emit"])


@per_jvm
def _multi_columns(want_means: bool, want_scores: bool) -> dict:
    """The Column trees of ``summarize_multi``, by the step that applies
    them."""
    et = F.col("event_type")
    in_game = F.col("in_game")
    violation = _violation_expr()
    types = ["Kill", "Exit", "ShutdownGame"] + (["Score"] if want_scores else [])
    relevant = (
        et.isin(types)
        & (F.col("match_id") > 0)
        & (in_game | F.col("is_match_end"))
    ) | violation.isNotNull()
    is_kill = (et == "Kill") & in_game
    is_world = F.col("killer_name") == WORLD
    k_key = F.when(
        is_kill,
        F.when(is_world, F.col("victim_name")).otherwise(F.col("killer_name")),
    ).when(violation.isNotNull(), _violation_sentinel(violation))
    k_delta = F.when(is_kill, F.when(is_world, F.lit(-1)).otherwise(F.lit(1)))
    null_delta = F.lit(None).cast("int")
    null_sfrags = F.lit(None).cast("long")
    null_sturn = F.lit(None).cast("int")

    def entry(kind, key, delta, sfrags, sturn):
        return F.struct(
            F.lit(kind).cast("int").alias("kind"),
            key.alias("key"),
            delta.alias("delta"),
            sfrags.alias("sfrags"),
            sturn.alias("sturn"),
        )

    entries = [
        F.when(
            et.isin("Kill", "Exit", "ShutdownGame") | violation.isNotNull(),
            entry(0, k_key, k_delta, null_sfrags, null_sturn),
        )
    ]
    if want_means:
        entries.append(
            F.when(
                is_kill,
                entry(1, F.col("reason_name"), null_delta, null_sfrags, null_sturn),
            )
        )
    if want_scores:
        entries.append(
            F.when(
                (et == "Score") & in_game,
                entry(
                    2,
                    F.col("name"),
                    null_delta,
                    F.col("frags").cast("long"),
                    F.col("turn_idx"),
                ),
            )
        )
    # explode the raw entry array and drop the null slots AFTER the
    # explode (r7): the element-level F.filter is an interpreted
    # higher-order chain over per-row struct allocations, while the
    # post-explode null filter is plain codegen — identical rows
    # (explode emits null elements as rows; the filter removes exactly
    # the slots the array filter removed).  Measured: multiop 2.5 ->
    # 1.9 s at sf0.1.
    exploded = [
        F.col("conv_id"),
        F.col("match_id"),
        F.col("is_match_end").alias("completed"),
        ((et == "Exit") & in_game).alias("graceful"),
        F.explode(F.array(*entries)).alias("e"),
    ]
    # flags ride every exploded row of a match (max is idempotent), so no
    # separate control branch is needed; a Kill row's 2 entries are
    # condensed by the map-side partial aggregate before the (absent)
    # shuffle would see them
    by_entry = [
        F.col("conv_id"),
        F.col("match_id"),
        F.col("e.kind").alias("kind"),
        F.col("e.key").alias("key"),
    ]
    key_aggs = [
        F.sum("e.delta").cast("long").alias("frags"),
        F.count("e.delta").alias("n_kills"),
        F.count(F.lit(1)).alias("n_rows"),
        F.max_by("e.sfrags", "e.sturn").alias("score"),
        F.max("completed").alias("completed"),
        F.max("graceful").alias("graceful"),
    ]
    kind = F.col("kind")
    key = F.col("key")
    is_k = kind == 0
    is_sentinel = is_k & key.startswith("\x00") & key.rlike("^\x00[0-9]{12}Event #")
    is_player = is_k & key.isNotNull() & ~is_sentinel
    kill_entry = F.when(
        is_player, F.struct(key.alias("player"), F.col("frags").alias("frags"))
    )
    mean_entry = F.when(
        kind == 1, F.struct(key.alias("mean"), F.col("n_rows").alias("count"))
    )
    score_entry = F.when(
        kind == 2, F.struct(key.alias("player"), F.col("score").alias("frags"))
    )
    match_aggs = [
        F.sum(F.when(is_k & ~is_sentinel, F.col("n_kills"))).alias("total_kills"),
        F.array_sort(F.collect_list(F.when(is_player, key))).alias("players"),
        F.array_sort(F.collect_list(kill_entry)).alias("kills"),
        F.array_sort(F.collect_list(mean_entry)).alias("means_raw"),
        F.array_sort(F.collect_list(score_entry)).alias("scores_raw"),
        F.max("completed").alias("completed"),
        F.max("graceful").alias("graceful"),
        F.transform(
            F.array_sort(F.collect_list(F.when(is_sentinel, key))),
            lambda s: F.substring(s, 14, 1 << 20),
        ).alias("violations"),
    ]
    # fold parity: a match with no Kill/Score emits NULL, not [], for the
    # respective map (render_summary, functions/replay.py)
    means_col = (
        F.when(F.size("means_raw") > 0, F.col("means_raw")).cast(
            MATCH_SUMMARY_SCHEMA["kills_by_means"].dataType
        )
        if want_means
        else _summary_null("kills_by_means")
    )
    scores_col = (
        F.when(F.size("scores_raw") > 0, F.col("scores_raw")).cast(
            MATCH_SUMMARY_SCHEMA["game_reported_scores"].dataType
        )
        if want_scores
        else _summary_null("game_reported_scores")
    )
    summary_entry = F.struct(
        F.coalesce("total_kills", F.lit(0)).alias("total_kills"),
        F.col("players").alias("players"),
        F.col("kills").cast(MATCH_SUMMARY_SCHEMA["kills"].dataType).alias("kills"),
        means_col.alias("kills_by_means"),
        scores_col.alias("game_reported_scores"),
        _summary_null("disconnected_players").alias("disconnected_players"),
        F.col("graceful").alias("graceful"),
        F.lit(None).cast("string").alias("error"),
    )
    return {
        "relevant": relevant,
        "exploded": exploded,
        "entry_kept": F.col("e").isNotNull(),
        "by_entry": by_entry,
        "key_aggs": key_aggs,
        "match_aggs": match_aggs,
        "emit": _emit_columns(summary_entry),
    }


# ---------------------------------------------------------------------------
# exact extended fold: one Arrow stage over (conv_id, turn_idx)-sorted rows
# ---------------------------------------------------------------------------

FOLD_FIELDS = [
    "event_type",
    "client_id",
    "name",
    "killer_id",
    "victim_id",
    "killer_name",
    "victim_name",
    "reason_name",
    "frags",
]
FOLD_COLUMNS = ["conv_id", "turn_idx", *FOLD_FIELDS]

# the event types the fold acts on (functions/replay.py); every other row
# falls through its dispatch, so it is dropped before leaving Arrow
FOLD_EVENT_TYPES = [
    "InitGame", "Exit", "ShutdownGame", "Kill", "ClientConnect",
    "ClientUserinfoChanged", "ClientDisconnect", "Score",
]

DEFAULT_EXTENDED_OPS = frozenset(
    {"kills", "means_of_death", "player_resolutions", "reported_scores"}
)


def _fold_batches(batches, ops, stop_on_violations, pedantic):
    """``mapInArrow`` body: parse (raw input) and replay sorted batches.

    Rows arrive sorted by ``(conv_id, turn_idx)``; a conversation may span
    several batches, so the fold state of the current conversation carries
    across batch boundaries and is reset when ``conv_id`` changes.  A
    batch with a ``text`` column is parsed here (``pedantic`` raises on
    its first malformed line); otherwise it already carries the parsed
    fold columns.  Unterminated trailing matches emit nothing (the
    dangling accumulator is dropped, summary_logic.rs:397-403)."""
    from itertools import groupby

    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import to_arrow_schema

    from ..functions.parse_arrow import (
        parse_text_batch,
        pedantic_fields,
        raise_on_parse_error,
    )
    from ..functions.replay import new_state, replay_events

    out_schema = to_arrow_schema(MATCH_SUMMARY_SCHEMA)
    parse_fields = pedantic_fields(FOLD_FIELDS) if pedantic else FOLD_FIELDS
    consumed = pa.array(FOLD_EVENT_TYPES)
    conv, state = None, None
    for batch in batches:
        if "text" in batch.schema.names:
            cols = parse_text_batch(batch.column("text"), parse_fields)
            if pedantic:
                raise_on_parse_error(batch, cols)
        else:
            cols = {f: batch.column(f) for f in FOLD_FIELDS}
        keep = pc.fill_null(pc.is_in(cols["event_type"], value_set=consumed), False)
        convs = pc.filter(batch.column("conv_id"), keep).to_pylist()
        events = list(
            zip(
                pc.filter(batch.column("turn_idx"), keep).to_pylist(),
                *(pc.filter(cols[f], keep).to_pylist() for f in FOLD_FIELDS),
            )
        )
        rows, pos = [], 0
        for c, run in groupby(convs):
            n = sum(1 for _ in run)
            if c != conv:
                conv, state = c, new_state()
            rows += replay_events(
                state, c, events[pos : pos + n], ops, stop_on_violations
            )
            pos += n
        if rows:
            yield pa.RecordBatch.from_pylist(rows, schema=out_schema)


def summarize_extended(
    events: DataFrame,
    ops: frozenset[str] = DEFAULT_EXTENDED_OPS,
    stop_on_violations: bool = False,
    pedantic: bool = False,
) -> DataFrame:
    """Exact extended summaries: ONE ``mapInArrow`` stage per conv_id shard.

    ``events`` carries ``conv_id`` and ``turn_idx`` plus either the raw
    ``text`` (parsed inside the fold stage by the Arrow kernels) or every
    parsed ``FOLD_FIELDS`` column (from a parser run before the
    shuffle, e.g. the JVM expression parser).  The rows are hash-partitioned by conv_id and
    sorted by ``(conv_id, turn_idx)`` within each partition, so each task
    folds whole conversations in stream order.  The fold only ever holds
    one conversation's registry + one match accumulator in memory — the
    distributed analogue of the reference's constant-memory streaming
    claim (README.md:56).

    ``pedantic=True`` raises inside the task on the first malformed line;
    it needs raw ``text`` input (parsed input is gated upstream by
    ``operators.parse.fail_on_feed_errors``).
    """
    parsed = all(c in events.columns for c in FOLD_FIELDS)
    if pedantic and parsed:
        raise ValueError(
            "pedantic=True is enforced only where the fold parses raw text; "
            "gate parsed input with fail_on_feed_errors instead"
        )
    ops = frozenset(ops)

    def fold(batches):
        return _fold_batches(batches, ops, stop_on_violations, pedantic)

    return (
        events.select(*(FOLD_COLUMNS if parsed else ["conv_id", "turn_idx", "text"]))
        .repartition("conv_id")
        .sortWithinPartitions("conv_id", "turn_idx")
        .mapInArrow(fold, MATCH_SUMMARY_SCHEMA)
    )
