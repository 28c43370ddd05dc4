"""Pure-column-expression parser: log-line ``text`` -> typed event columns.

Semantics ported (not code) from the reference's
``deserialize_log_line``/``from_parts``
(quake3-server-events/src/deserializer_logs.rs:15-169):

1. strip leading spaces; empty line -> EmptyLine error
2. split at the FIRST space -> (time, rest); no space -> UnrecognizedLineFormat
   (the time value is parsed past and discarded, :21)
3. rest starting with '-' -> Comment (checked BEFORE the colon split, so the
   infamous ``" 26  0:00 ----"`` line yields event_name ``" 0"`` -> unknown)
4. split rest at the FIRST ':' -> (event_name, data); no ':' ->
   UnrecognizedLineFormat; data is lstripped of spaces
5. dispatch on event_name with per-event field extraction

Everything is JVM-side (regexp/split/substr) so the stage fuses into
WholeStageCodegen — the Spark analogue of the reference's "str::split beats
regex 3200x" decision (benches/parsing_strategies.rs:9-12): stay
vectorized/compiled, never row-at-a-time Python.  A semantically identical
Arrow/pandas implementation lives in ``parse_pandas.py``; both are
cross-checked in tests.

STRUCTURE NOTE: the parse is deliberately staged through intermediate
projections (``_stripped`` -> ``_rest`` -> ``_event_name``/``_data`` ->
fields).  A single monolithic struct expression exceeds Janino's 64 KB
method limit and silently drops the whole stage out of codegen; staged
small expressions compile, and Catalyst keeps the stages separate because
collapsing them would duplicate non-cheap expressions.  ``_parse_steps``
builds the projections' Column trees once per driver JVM
(functions/column_cache.py), and ``parse_expr_df`` applies them: a warm
build makes a py4j call per projected column, not per expression node.

Every row evaluates every token, whatever its event.  Guarding each
token with its event name and replacing the regex gates with string
functions was tried, in a SQL-text form of this parse: a warm kills
rep's action time (``span.action_s``) stayed within its run-to-run
spread at 250k turns (4-core host), and the stage's generated code grew
22%, which the first run compiles, so the regexes stayed.

Numeric fields mirror Rust's ``str::parse::<u32>/<i32>`` exactly:
full-string match of ``^\\+?[0-9]+\\z`` / ``^[+-]?[0-9]+\\z`` (no
whitespace tolerance, '+' sign allowed), anything else -> None/null
(deserializer_logs.rs:163-169).  The anchor is ``\\z``, not ``$``: Java's
``$`` also matches before a final line terminator, so ``"7\\r"`` would
read as 7 where the Arrow and pandas parsers give null.

Ids are int32 (the reference uses u32; values above 2^31-1 are treated
as unparseable — nothing in a real log comes close).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import EVENT_COLUMN_NAMES
from .column_cache import per_jvm, with_columns

_INT32_MAX = 2147483647


_U32_MAX = 4294967295


def _u32_raw(c: Column) -> Column:
    """Rust ``str::parse::<u32>()`` phase 1: full-match digits -> long.

    The u32 range guard (<= 4294967295) is applied in a LATER projection on
    the materialized column — keeping each expression small enough that the
    whole parse stays inside whole-stage codegen's method-size limit.
    """
    return F.when(c.rlike(r"^\+?[0-9]+\z"), c.try_cast("long"))


def _i32_raw(c: Column) -> Column:
    """Rust ``str::parse::<i32>()`` phase 1: full-match signed int -> long."""
    return F.when(c.rlike(r"^[+-]?[0-9]+\z"), c.try_cast("long"))


def _u32_guard(name: str) -> Column:
    c = F.col(name)
    return F.when(c.between(0, _U32_MAX), c)


def _i32_guard(name: str) -> Column:
    c = F.col(name)
    return F.when(c.between(-_INT32_MAX - 1, _INT32_MAX), c)


def _kv_get(data: Column, key: str) -> Column:
    """Last-wins lookup in the backslash k/v blob (deserializer_logs.rs:157-161).

    The reference zips the split items with themselves shifted by one and
    builds a BTreeMap (later duplicates overwrite), so the value is the item
    following the LAST item equal to ``key``; the greedy ``(?:.*\\)?`` prefix
    reproduces last-wins.
    """
    pat = r"^(?:.*\\)?" + key + r"\\([^\\]*)"
    return F.regexp_extract(data, pat, 1)


def _kv_has(data: Column, key: str) -> Column:
    return data.rlike(r"(^|\\)" + key + r"\\")


_TMP = [
    "_stripped", "_sp", "_rest", "_co", "_event_name", "_data",
    "_kind0", "_kparts", "_kdesc", "_kd0", "_kd_rest",
    "_rparts", "_blue_items", "_s_cv", "_scv",
    "_ui_sp", "_ui_numeric", "_ui_kv",
    "_plain_id", "_ui_id", "_kid", "_vid", "_rid", "_k2_ok",
    "_red_v", "_blue_v", "_s_frags", "_s_cid",
    "_plain_raw", "_ui_raw", "_kid_raw", "_vid_raw", "_rid_raw",
    "_red_raw", "_blue_raw", "_sfrags_raw", "_scid_raw",
    "_fl_raw", "_cl_raw", "_tl_raw",
    "_kill_ok", "_red_fmt_ok", "_score_fmt_ok", "_ui_has_name",
]


# Kill description split at the LAST " by " (the greedy first group), as
# the Arrow parser's RE2 pattern ``^(.*) by (.*)$`` does.  ``(?d)`` makes
# ``\n`` the only character ``.`` refuses, as in RE2 (Java's ``.`` also
# refuses ``\r``, U+0085, U+2028 and U+2029), and ``\z`` is the end of
# the string (Java's ``$`` also matches before a final ``\r``).
_BY_RE = r"(?d)^(.*) by (.*)\z"


def parse_expr_df(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the typed event columns (EVENT_COLUMN_NAMES) to ``df``."""
    return with_columns(df, _parse_steps(text_col)).drop(*_TMP)


@per_jvm
def _parse_steps(text_col: str) -> list[dict[str, Column]]:
    """The parse's projections, in order: the named columns of each."""
    steps = []
    # NULL text behaves like the empty string (EmptyLine), matching the
    # arrow/pandas parsers — TRANSCRIPT_SCHEMA allows nullable text
    text = F.coalesce(F.col(text_col), F.lit(""))

    # stage 1: line splitting -------------------------------------------------
    steps.append({"_stripped": F.regexp_replace(text, r"^ +", "")})
    steps.append({"_sp": F.instr("_stripped", " ")})
    steps.append({"_rest": F.substr(F.col("_stripped"), F.col("_sp") + 1)})
    steps.append({"_co": F.instr("_rest", ":")})
    steps.append(
        {
            # line-shape classification, evaluated in reference order
            "_kind0": F.when(F.length("_stripped") == 0, "EmptyLine")
            .when(F.col("_sp") == 0, "UnrecognizedLineFormat")
            .when(F.col("_rest").startswith("-"), "Comment")
            .when(F.col("_co") == 0, "UnrecognizedLineFormat"),
            "_event_name": F.substr(F.col("_rest"), F.lit(1), F.col("_co") - 1),
            "_data": F.regexp_replace(
                F.substr(F.col("_rest"), F.col("_co") + 1), r"^ +", ""
            ),
        }
    )

    # stage 2: per-event tokenization (each used by several fields) -----------
    data = F.col("_data")
    steps.append(
        {
            "_kparts": F.split(data, " ", 4),  # Kill: Rust splitn(4, " ")
            "_rparts": F.split(data, " ", 2),  # red / score first split
            "_ui_sp": F.instr(data, " "),      # ClientUserinfoChanged
        }
    )
    steps.append(
        {
            "_kdesc": F.get("_kparts", 3),
            "_ui_numeric": F.substr(data, F.lit(1), F.col("_ui_sp") - 1),
            "_ui_kv": F.substr(data, F.col("_ui_sp") + 1),
            "_blue_items": F.split(F.get("_rparts", 1), ":"),
            "_s_cv": F.get(F.split(F.get("_rparts", 1), ": "), 2),
        }
    )
    steps.append(
        {
            # Kill text description: split_once(" killed ") then
            # rsplit_once(" by ") — greedy first group = LAST " by " (rs:111-113)
            "_kd0": F.get(F.split(F.col("_kdesc"), " killed ", 2), 0),
            "_kd_rest": F.get(F.split(F.col("_kdesc"), " killed ", 2), 1),
            # score: client values = remainder.split(": ").skip(2).next() (rs:143)
            "_scv": F.split(F.col("_s_cv"), " ", 2),
        }
    )

    en = F.col("_event_name")
    kind0 = F.col("_kind0")

    # stage 3: parsed numeric tokens + validity flags, each materialized as
    # a column ONCE so later expressions are cheap column references (a
    # monolithic expression here multiplies every parse expansion and falls
    # out of codegen — see the structure note in the module docstring)
    k2 = F.get("_kparts", 2)
    steps.append(
        {
            "_k2_ok": F.coalesce(k2.endswith(":"), F.lit(False)),
            "_ui_has_name": F.coalesce(_kv_has(F.col("_ui_kv"), "n"), F.lit(False)),
            "_red_fmt_ok": F.coalesce(F.size("_rparts") == 2, F.lit(False))
            & F.coalesce(F.size("_blue_items") >= 2, F.lit(False)),
            "_score_fmt_ok": F.coalesce(F.size("_rparts") == 2, F.lit(False))
            & F.col("_s_cv").isNotNull()
            & F.coalesce(F.size("_scv") == 2, F.lit(False)),
        }
    )
    # phase 1: regex-gated long casts (one expression per token)
    steps.append(
        {
            "_plain_raw": _u32_raw(data),
            "_ui_raw": _u32_raw(F.col("_ui_numeric")),
            "_kid_raw": _u32_raw(F.get("_kparts", 0)),
            "_vid_raw": _u32_raw(F.get("_kparts", 1)),
            "_rid_raw": _u32_raw(
                F.when(F.col("_k2_ok"), F.substr(k2, F.lit(1), F.length(k2) - 1))
            ),
            "_red_raw": _u32_raw(F.get("_rparts", 0)),
            "_blue_raw": _u32_raw(F.get("_blue_items", 1)),
            "_sfrags_raw": _i32_raw(F.get("_rparts", 0)),
            "_scid_raw": _u32_raw(F.get("_scv", 0)),
        }
    )
    # phase 2: range guards over materialized columns (cheap refs only)
    steps.append(
        {
            "_plain_id": _u32_guard("_plain_raw"),
            "_ui_id": _u32_guard("_ui_raw"),
            "_kid": _u32_guard("_kid_raw"),
            "_vid": _u32_guard("_vid_raw"),
            "_rid": _u32_guard("_rid_raw"),
            "_red_v": _u32_guard("_red_raw"),
            "_blue_v": _u32_guard("_blue_raw"),
            "_s_frags": _i32_guard("_sfrags_raw"),
            "_s_cid": _u32_guard("_scid_raw"),
        }
    )
    steps.append(
        {
            "_kill_ok": F.coalesce(F.size("_kparts") == 4, F.lit(False))
            & F.col("_kid").isNotNull()
            & F.col("_vid").isNotNull()
            & F.col("_k2_ok")
            & F.col("_rid").isNotNull()
            & F.coalesce(F.col("_kdesc").contains(" killed "), F.lit(False))
            & F.coalesce(F.col("_kd_rest").rlike(_BY_RE), F.lit(False)),
        }
    )

    killer_id = F.col("_kid")
    victim_id = F.col("_vid")
    reason_id = F.col("_rid")
    victim_name = F.regexp_extract("_kd_rest", _BY_RE, 1)
    reason_name = F.regexp_extract("_kd_rest", _BY_RE, 2)
    kill_ok = F.col("_kill_ok")
    plain_id = F.col("_plain_id")
    ui_id = F.col("_ui_id")
    ui_has_name = F.col("_ui_has_name")
    red_val = F.col("_red_v")
    blue_val = F.col("_blue_v")
    red_fmt_ok = F.col("_red_fmt_ok")
    s_frags = F.col("_s_frags")
    s_client_id = F.col("_s_cid")
    s_name = F.get("_scv", 1)
    score_fmt_ok = F.col("_score_fmt_ok")

    is_plainid_event = en.isin("ClientConnect", "ClientBegin", "ClientDisconnect")

    event_type = (
        F.when(kind0 == "Comment", "Comment")
        .when(kind0.isNotNull(), F.lit(None).cast("string"))
        .when(en == "InitGame", "InitGame")
        .when(is_plainid_event & plain_id.isNotNull(), en)
        .when(
            (en == "ClientUserinfoChanged")
            & (F.col("_ui_sp") > 0)
            & ui_id.isNotNull()
            & ui_has_name,
            "ClientUserinfoChanged",
        )
        .when(en == "Item", "Item")
        .when(en == "say", "Say")
        .when((en == "Kill") & kill_ok, "Kill")
        .when(en == "Exit", "Exit")
        .when(
            (en == "red") & red_fmt_ok & red_val.isNotNull() & blue_val.isNotNull(),
            "CaptureTheFlagResults",
        )
        .when(
            (en == "score")
            & score_fmt_ok
            & s_frags.isNotNull()
            & s_client_id.isNotNull(),
            "Score",
        )
        .when(en == "ShutdownGame", "ShutdownGame")
    )

    steps.append({"event_type": event_type})
    et = F.col("event_type")
    ok = et.isNotNull()

    # error classification (only evaluated on failed rows)
    known = F.lit(None).cast("string")
    parse_error_kind = (
        F.when(ok | (kind0 == "Comment"), known)
        .when(kind0.isNotNull(), kind0)
        .when(is_plainid_event, "UnparseableNumber")
        .when(
            en == "ClientUserinfoChanged",
            F.when(F.col("_ui_sp") == 0, "UnknownDataFormat")
            .when(ui_id.isNull(), "UnparseableNumber")
            .otherwise("AbsentKey"),
        )
        .when(en == "Kill", "UnknownDataFormat")
        # red/score error precedence mirrors the reference's sequential `?`
        # operators (deserializer_logs.rs:128-150): first-space split ->
        # UnknownDataFormat, first number -> UnparseableNumber, second split
        # -> UnknownDataFormat, second number -> UnparseableNumber
        .when(
            en == "red",
            F.when(
                ~F.coalesce(F.size("_rparts") == 2, F.lit(False)),
                "UnknownDataFormat",
            )
            .when(red_val.isNull(), "UnparseableNumber")
            .when(
                ~F.coalesce(F.size("_blue_items") >= 2, F.lit(False)),
                "UnknownDataFormat",
            )
            .otherwise("UnparseableNumber"),
        )
        .when(
            en == "score",
            F.when(
                ~F.coalesce(F.size("_rparts") == 2, F.lit(False)),
                "UnknownDataFormat",
            )
            .when(s_frags.isNull(), "UnparseableNumber")
            .when(
                F.col("_s_cv").isNull()
                | ~F.coalesce(F.size("_scv") == 2, F.lit(False)),
                "UnknownDataFormat",
            )
            .otherwise("UnparseableNumber"),
        )
        .otherwise("UnknownEventName")
    )

    steps.append(
        {
            "_fl_raw": F.when(et == "InitGame", _u32_raw(_kv_get(data, "fraglimit"))),
            "_cl_raw": F.when(
                et == "InitGame", _u32_raw(_kv_get(data, "capturelimit"))
            ),
            "_tl_raw": F.when(et == "InitGame", _u32_raw(_kv_get(data, "timelimit"))),
        }
    )
    steps.append(
        {
            "parse_error_kind": parse_error_kind,
            "frag_limit": _u32_guard("_fl_raw"),
            "capture_limit": _u32_guard("_cl_raw"),
            "time_limit_min": _u32_guard("_tl_raw"),
            "client_id": F.when(is_plainid_event & ok, plain_id)
            .when(et == "ClientUserinfoChanged", ui_id)
            .when(et == "Score", s_client_id),
            "name": F.when(
                et == "ClientUserinfoChanged", _kv_get(F.col("_ui_kv"), "n")
            ).when(et == "Score", s_name),
            "killer_id": F.when(et == "Kill", killer_id),
            "victim_id": F.when(et == "Kill", victim_id),
            "reason_id": F.when(et == "Kill", reason_id),
            "killer_name": F.when(et == "Kill", F.col("_kd0")),
            "victim_name": F.when(et == "Kill", victim_name),
            "reason_name": F.when(et == "Kill", reason_name),
            "frags": F.when(et == "Score", s_frags),
            "red": F.when(et == "CaptureTheFlagResults", red_val),
            "blue": F.when(et == "CaptureTheFlagResults", blue_val),
        }
    )
    steps.append(
        {
            "parse_error": F.when(
                F.col("parse_error_kind").isNotNull(),
                F.concat(
                    F.col("parse_error_kind"),
                    F.lit(" at event '"),
                    # canonical (arrow) split semantics: no first space -> the
                    # line has NO event segment at all (render ''); a space but
                    # no colon -> the whole rest IS the (unterminated) event
                    # name.  expr's substr-based temps would otherwise leak the
                    # raw line into these renders (found by the fuzz suite).
                    F.when(F.col("_sp") == 0, F.lit(""))
                    .when(F.col("_co") == 0, F.col("_rest"))
                    .otherwise(F.coalesce(en, F.lit(""))),
                    F.lit("': '"),
                    F.when(
                        (F.col("_sp") > 0) & (F.col("_co") > 0),
                        F.coalesce(data, F.lit("")),
                    ).otherwise(F.lit("")),
                    F.lit("'"),
                ),
            ),
        }
    )
    return steps
