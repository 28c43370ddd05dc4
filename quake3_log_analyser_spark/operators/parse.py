"""Parse stage: transcripts DataFrame -> flattened typed-event DataFrame.

Three interchangeable implementations (cross-checked in tests).  The
function default is ``parser="arrow"``; the pipeline entry points default
to ``parser="auto"``, which picks ``expr`` for narrow consumed field sets
and ``arrow`` otherwise (``choose_parser``):

- ``parser="arrow"`` — pyarrow.compute kernels via ``mapInArrow``, the
  literal "vectorized grok UDF" stage of the north star.  The MapInArrow
  node is also a deliberate OPTIMIZER BARRIER: downstream filters on parsed
  columns cannot be substituted below it.  With the pure-expression parser,
  Catalyst's PushDownPredicates re-inlines the entire ~60-expression parse
  tree into any pushed predicate, producing a single >64 KB expression that
  janino cannot compile — every affected stage then burns ~60 s of failed
  compilation and falls back to interpreted eval (measured: 191 s vs ~2 s
  on the same input).
- ``parser="expr"`` — pure JVM column expressions (whole-stage codegen).
  Fastest absolute and best-scaling when the consumed field set is narrow
  (janino-safe re-inlining, see EXPR_SAFE_FIELD_BUDGET); the ``auto``
  choice for the kills-family aggregate shapes.
- ``parser="pandas"`` — Arrow-batched pandas UDF; same barrier as arrow
  with ~3x slower string kernels, kept as a semantic cross-check.

All three keep parse failures in-band as ``parse_error_kind``/``parse_error``
columns (the reference's ``Quake3Events::Error`` variant,
model/src/quake3_events.rs:25): a bad row never aborts the pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.column_cache import named, per_jvm
from ..functions.parse_expr import parse_expr_df
from ..functions.parse_pandas import make_parse_pandas_udf
from ..schemas import EVENT_COLUMN_NAMES

# widest event-field set for which the expr parser is janino-safe: with a
# narrow consumed set, predicate pushdown re-inlines only the consumed
# expressions (event_type dispatch + <=7 field extractors) — far below the
# 64 KB method limit.  Full-width (fields=None) re-inlining is the measured
# 191 s codegen-fallback failure, so that stays on the arrow barrier.
EXPR_SAFE_FIELD_BUDGET = 7


def choose_parser(fields: list[str] | None) -> str:
    """Per-query-shape parser selection (the ``parser="auto"`` policy).

    The expr parser is both the fastest absolute (2.4 s vs 5.2 s at sf0.1
    on 32 cores, ``BENCH_r02.json``) and the best-scaling (0.59 vs
    0.27-0.37 per-stage efficiency, stage table in BENCH/BASELINE.md)
    because it never pays the Arrow IPC boundary — but it is only safe
    when the downstream keeps a NARROW field set (see
    EXPR_SAFE_FIELD_BUDGET).  Wide or unknown field sets go to the arrow
    parser, whose mapInArrow node is a deliberate pushdown barrier.
    """
    if fields is not None and len(fields) <= EXPR_SAFE_FIELD_BUDGET:
        return "expr"
    return "arrow"


def parse_transcripts(
    df: DataFrame,
    parser: str = "arrow",
    fields: list[str] | None = None,
    pedantic: bool = False,
) -> DataFrame:
    """Parse the ``text`` column of a transcripts table into typed columns.

    ``fields`` narrows the emitted event columns (event_type always
    included) — with the arrow parser this shrinks the Arrow payload
    crossing the Python boundary, which is the stage's scaling limit on a
    single box.

    ``parser`` is one of:
      * ``arrow``  (default) — pyarrow.compute kernels via mapInArrow; an
        optimizer barrier (see module docstring)
      * ``pandas`` — Arrow-batched pandas UDF (same barrier, ~3x slower
        string kernels; kept as a semantic cross-check)
      * ``expr``   — pure JVM column expressions (whole-stage codegen);
        safe only for a NARROW consumed field set (``fields`` within
        EXPR_SAFE_FIELD_BUDGET): downstream filters re-inline the parse
        expressions of every field they keep
      * ``auto``   — ``choose_parser(fields)``: expr for narrow field
        sets, arrow otherwise

    ``pedantic=True`` (arrow parser only) makes the parse task itself raise
    on the first malformed line — a ``--pedantic`` gate that NO downstream
    plan rewrite (predicate pushdown, column pruning) can elide, because it
    fires inside the Python worker before any result column exists.  The
    other parsers rely on the column gate in ``fail_on_feed_errors``.
    """
    if parser == "auto":
        parser = choose_parser(fields)
    if pedantic and parser != "arrow":
        # never degrade a safety flag to a no-op: the in-task raise only
        # exists on the arrow path; expr/pandas callers must gate via
        # fail_on_feed_errors on the parsed columns (plans/pipeline.py does)
        raise ValueError(
            f"pedantic=True is enforced in-task only by parser='arrow' "
            f"(got {parser!r}); wrap the result in fail_on_feed_errors "
            "for the expression/pandas parsers instead"
        )
    # pass through every non-event column (includes match columns when the
    # caller sessionized on raw text first — see sessionize_raw)
    cols = [c for c in df.columns if c not in EVENT_COLUMN_NAMES]
    out_fields = (
        EVENT_COLUMN_NAMES
        if fields is None
        else [c for c in EVENT_COLUMN_NAMES if c == "event_type" or c in fields]
    )
    if parser == "expr":
        return parse_expr_df(df.select(*named(*cols))).select(
            *named(*cols, *out_fields)
        )
    if parser == "pandas":
        ev = make_parse_pandas_udf()(df["text"])
        return df.select(*cols, ev.alias("_ev")).select(
            *cols, *[f"_ev.{f}" for f in out_fields]
        )
    if parser == "arrow":
        from pyspark.sql import types as T

        from ..functions.parse_arrow import make_map_in_arrow_fn
        from ..schemas import EVENT_FIELDS

        narrowed = df.select(*cols)
        out_schema = T.StructType(
            [narrowed.schema[c] for c in cols]
            + [T.StructField(n, t, True) for n, t in EVENT_FIELDS if n in out_fields]
        )
        return narrowed.mapInArrow(
            make_map_in_arrow_fn(
                cols, None if fields is None else out_fields, pedantic=pedantic
            ),
            schema=out_schema,
        )
    raise ValueError(f"unknown parser {parser!r} (want 'arrow', 'pandas' or 'expr')")

def fail_on_feed_errors(parsed: DataFrame) -> DataFrame:
    """Pedantic feed gate: abort the job on the FIRST in-band parse error.

    The reference's ``--pedantic`` flag sets ``stop_on_feed_errors``
    (app/src/main.rs:84-85), turning every ``LogParsingError`` fatal.  The
    distributed analogue: ``raise_error`` folded into BOTH ``turn_idx`` and
    ``event_type``.  Gating ``turn_idx`` alone is NOT pushdown-proof: when
    no window consumes ``turn_idx`` after the parse (the session-first
    path), Catalyst pushes summarize's ``event_type`` filter below this
    projection and the error rows are discarded before the gate evaluates
    (the round-2 ADVICE repro).  ``event_type`` is consumed by every
    downstream filter/groupBy, and predicate-pushdown SUBSTITUTES the gated
    expression into the pushed filter — so evaluating the filter on an
    error row fires the raise wherever the filter lands in the plan.
    """
    return parsed.withColumns(_feed_gate())


@per_jvm
def _feed_gate() -> dict:
    err = F.col("parse_error_kind").isNotNull()

    def _boom():
        return F.raise_error(
            F.format_string(
                "Failed to process event #%d: `LogParsingError`: %s",
                F.col("turn_idx"),
                F.col("parse_error"),
            )
        )

    return {
        "turn_idx": F.when(~err, F.col("turn_idx")).otherwise(
            _boom().cast("int")
        ),
        "event_type": F.when(~err, F.col("event_type")).otherwise(
            _boom().cast("string")
        ),
    }
