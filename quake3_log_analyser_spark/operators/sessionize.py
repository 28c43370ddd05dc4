"""Sessionization: assign every turn to a "match" within its conversation.

Port of the *semantics* of the ``compose()`` match-delimiter state machine
(bll/src/summary_logic.rs:74-139), re-derived as window expressions so the
whole stage is one shuffle by ``conv_id`` + one sorted window pass:

The reference folds two booleans over the stream:
  * ``InitGame`` while not in-game  -> match starts (``NewGame``)
  * ``InitGame`` while in-game      -> ``DoubleInit`` violation, match
                                        CONTINUES (state unchanged!)
  * ``Exit`` while in-game          -> sets the graceful flag, swallowed
  * ``ShutdownGame`` while in-game  -> match ends (graceful/manual)
  * ``Exit``/``ShutdownGame`` while not in-game -> ``GameNotStarted``

Because redundant delimiters never change state, ``in_game`` after any
prefix equals "the most recent InitGame/ShutdownGame event was an
InitGame" (inductive proof: from either state, InitGame always lands on
in_game=true and ShutdownGame on false).  That makes the whole state
machine expressible as ``last(marker) IGNORE NULLS`` over
``Window.partitionBy(conv_id).orderBy(turn_idx)`` — no running UDF, no
per-row Python, and a NAIVE running-sum-of-InitGame would be WRONG
(it would split a match at a DoubleInit, which the reference does not).

Scale notes: this is the pipeline's one unavoidable shuffle; bucketing
the source table by ``conv_id`` (see sources/) makes it shuffle-free, and
hot conversations are bounded by per-conv state of O(1).  No stage salts
its keys, for two reasons:

* **The sessionize window** (``partitionBy(conv_id)``): cannot be salted
  — match assembly is stateful over the FULL ordered turn sequence of a
  conversation, so splitting a conv across tasks breaks the semantics.
  The posture is (a) a conv_id-bucketed, (conv_id, turn_idx)-sorted
  source table, which the kills-family summaries read with no shuffle and
  no sort, and (b) measured tolerance: one conversation holding 10% of
  all turns runs at parity with uniform input (BENCH/BASELINE.md round
  3), because a window task of a few hundred thousand rows is far below
  the straggler threshold at any realistic turns-per-conversation.

* **The order-dependent replay fold** (one ``mapInArrow`` stage over rows
  hash-partitioned by conv and sorted by turn, operators/summarize.py):
  same constraint and same posture as the window.  A hot conversation
  streams through its task in Arrow batches with only its O(players) fold
  state held between them, so its size costs time, not memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.column_cache import per_jvm, with_columns

# violation labels (bll/src/dtos/logic_events.rs:90-108)
V_DOUBLE_INIT = "DoubleInit"
V_GAME_NOT_STARTED = "GameNotStarted"


def sessionize(df: DataFrame) -> DataFrame:
    """Add match columns to a parsed (or translated) event DataFrame.

    Added columns:
      * ``in_game``          — state *after* processing this row
      * ``match_id``         — 1-based per-conv match counter (0 = before
                               any match); a row belongs to match m iff
                               ``match_id = m AND (in_game OR is_shutdown)``
      * ``is_match_start``   — effective InitGame
      * ``is_match_end``     — effective ShutdownGame
      * ``violation``        — DoubleInit / GameNotStarted, else null
    """
    return with_columns(df, _sessionize_steps()).drop("_igb")


@per_jvm
def _sessionize_steps() -> list[dict]:
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    w_excl = w.rowsBetween(Window.unboundedPreceding, -1)
    w_incl = w.rowsBetween(Window.unboundedPreceding, 0)

    et = F.col("event_type")
    marker = F.when(et.isin("InitGame", "ShutdownGame"), et)
    # ONE windowed aggregate per frame (r7): the prior form inlined the
    # exclusive-frame last() expression into is_match_start AND
    # is_match_end, which Catalyst materialized as two identical window
    # expressions, and computed in_game as a SECOND windowed last over
    # the inclusive frame.  Materializing `_igb` once and deriving
    # in_game in a plain projection (last-incl == the row's own marker
    # when present, else last-excl — the definition of last ignorenulls)
    # leaves each Window operator evaluating a single function.
    igb = {
        "_igb": F.coalesce(
            F.last(marker, ignorenulls=True).over(w_excl) == "InitGame",
            F.lit(False),
        ),
    }
    flags = {
        "is_match_start": F.coalesce(
            (et == "InitGame") & ~F.col("_igb"), F.lit(False)
        ),
        "is_match_end": F.coalesce(
            (et == "ShutdownGame") & F.col("_igb"), F.lit(False)
        ),
        "in_game": F.when(
            marker.isNotNull(), marker == "InitGame"
        ).otherwise(F.col("_igb")),
        "violation": F.when(
            (et == "InitGame") & F.col("_igb"), F.lit(V_DOUBLE_INIT)
        ).when(
            et.isin("Exit", "ShutdownGame") & ~F.col("_igb"),
            F.lit(V_GAME_NOT_STARTED),
        ),
    }
    match_id = {
        "match_id": F.sum(F.col("is_match_start").cast("int"))
        .over(w_incl)
        .cast("int"),
    }
    return [igb, flags, match_id]

