"""Arrow-native parser: pyarrow.compute kernels end-to-end, zero pandas.

Third, fastest implementation of the line grammar
(quake3-server-events/src/deserializer_logs.rs:15-169 — see parse_expr.py
for the semantics contract; all three parsers are cross-checked for
equality on the fixture corpora).  Runs via ``DataFrame.mapInArrow``: Arrow
RecordBatches cross the JVM<->Python boundary with NO pandas object-array
materialization, and every operation below is a C++ kernel
(split_pattern / extract_regex / utf8_ltrim / if_else) — measured ~10-20x
faster per core than the pandas str API on the same lines.

Like the pandas UDF, the PythonMapInArrow node is an optimizer barrier:
downstream predicates cannot be substituted into the parse expressions
(the >64 KB janino hazard documented in operators/parse.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
import pyarrow.compute as pc

_U32_RE = r"^\+?[0-9]+$"    # Rust u32/i32 parse: optional sign + digits of ANY
_I32_RE = r"^[+-]?[0-9]+$"  # length — "0000000000000000007" is 7, not overflow
_U32_MAX = 4294967295
_I32_MIN, _I32_MAX = -2147483648, 2147483647

_NULL_STR = pa.scalar(None, pa.string())
_NULL_I64 = pa.scalar(None, pa.int64())


def _split_get(arr, pattern: str, n: int, max_splits: int | None = None):
    """split + fixed-size padding -> list of n element arrays (null-padded)."""
    parts = pc.split_pattern(arr, pattern, max_splits=max_splits)
    fsl = pc.list_slice(parts, 0, n, return_fixed_size_list=True)
    return [pc.list_element(fsl, i) for i in range(n)], pc.list_value_length(parts)


def _num(arr, regex: str, lo: int, hi: int):
    """Rust str::parse semantics: full sign?digits match of ANY length,
    normalized (leading zeros stripped — "0000000000000000007" parses to 7
    in Rust/expr/pandas, so a fixed-width digit cap would diverge), then a
    post-normalization 18-digit magnitude guard keeps the i64 cast from
    overflowing, and the u32/i32 range guard applies last.  The '+' sign
    is stripped pre-cast: pyarrow's string->int cast rejects it with a
    batch-fatal ArrowInvalid (both found by the fuzz/review passes)."""
    ok = pc.coalesce(pc.match_substring_regex(arr, regex), pa.scalar(False))
    gated = pc.if_else(ok, arr, _NULL_STR)
    gated = pc.replace_substring_regex(gated, r"^([+-]?)0+([0-9])", r"\1\2")
    gated = pc.replace_substring_regex(gated, r"^\+", "")
    fits = pc.coalesce(
        pc.match_substring_regex(gated, r"^-?[0-9]{1,18}$"), pa.scalar(False)
    )
    gated = pc.if_else(fits, gated, _NULL_STR)
    v = pc.cast(gated, pa.int64())
    in_range = pc.and_kleene(pc.greater_equal(v, lo), pc.less_equal(v, hi))
    return pc.if_else(pc.coalesce(in_range, pa.scalar(False)), v, _NULL_I64)


def _u32(arr):
    return _num(arr, _U32_RE, 0, _U32_MAX)


def _i32(arr):
    return _num(arr, _I32_RE, _I32_MIN, _I32_MAX)


def _extract(arr, regex: str, field: str):
    ex = pc.extract_regex(arr, regex)
    return pc.if_else(pc.is_valid(ex), pc.struct_field(ex, field), _NULL_STR)


def _kv_get(data, key: str):
    """Last-wins k/v lookup (deserializer_logs.rs:157-161): greedy prefix."""
    return _extract(data, r"^(?:.*\\)?" + key + r"\\(?P<v>[^\\]*)", "v")


def _kv_has(data, key: str):
    return pc.coalesce(
        pc.match_substring_regex(data, r"(^|\\)" + key + r"\\"), pa.scalar(False)
    )


def _eq(arr, lit: str):
    return pc.coalesce(pc.equal(arr, lit), pa.scalar(False))


def _and(*conds):
    out = conds[0]
    for c in conds[1:]:
        out = pc.and_kleene(out, c)
    return pc.coalesce(out, pa.scalar(False))


def parse_text_batch(
    texts: pa.Array, fields: list[str] | None = None
) -> dict[str, pa.Array]:
    """Parse one batch of raw log lines -> dict of typed event arrays.

    ``fields`` restricts the OUTPUT columns (event_type always included):
    the dispatch/validity kernels still run (they define event_type), but
    output-only work — error-string rendering, field gating — is skipped,
    and the Arrow payload crossing back over the JVM boundary shrinks
    accordingly (the boundary transport, not the compute, is the scaling
    limit of this stage on one box).
    """
    texts = pc.coalesce(texts, pa.scalar(""))
    n = len(texts)
    stripped = pc.utf8_ltrim(texts, " ")
    empty = pc.equal(pc.utf8_length(stripped), 0)

    (_time, rest), _ = _split_get(stripped, " ", 2, max_splits=1)
    has_space = pc.is_valid(rest)
    is_comment = pc.coalesce(pc.starts_with(rest, "-"), pa.scalar(False))

    (event_name, data_raw), _ = _split_get(rest, ":", 2, max_splits=1)
    has_colon = pc.is_valid(data_raw)
    data = pc.utf8_ltrim(pc.coalesce(data_raw, pa.scalar("")), " ")

    line_ok = _and(pc.invert(empty), has_space, pc.invert(is_comment), has_colon)

    def en(name):
        return _and(line_ok, _eq(event_name, name))

    def masked(cond, arr=data):
        """Blank out rows the extractor doesn't apply to — every kernel
        below runs full-column, so irrelevant rows should cost an empty-
        string no-op instead of a real regex/split."""
        return pc.if_else(cond, arr, pa.scalar(""))

    en_init = en("InitGame")
    en_plain = _and(
        line_ok,
        pc.is_in(
            event_name,
            value_set=pa.array(["ClientConnect", "ClientBegin", "ClientDisconnect"]),
        ),
    )
    en_ui = en("ClientUserinfoChanged")
    en_kill = en("Kill")
    en_red = en("red")
    en_score = en("score")

    # --- per-event extraction ---------------------------------------------
    # InitGame (rs:53-60)
    data_init = masked(en_init)
    frag_limit = _u32(_kv_get(data_init, "fraglimit"))
    capture_limit = _u32(_kv_get(data_init, "capturelimit"))
    time_limit_min = _u32(_kv_get(data_init, "timelimit"))

    # ClientConnect / Begin / Disconnect (rs:61-85)
    plain_id = _u32(masked(en_plain))

    # ClientUserinfoChanged (rs:66-75)
    (ui_numeric, ui_kv), _ = _split_get(masked(en_ui), " ", 2, max_splits=1)
    ui_has_space = pc.is_valid(ui_kv)
    ui_id = _u32(ui_numeric)
    ui_kv_s = pc.coalesce(ui_kv, pa.scalar(""))
    ui_has_name = _kv_has(ui_kv_s, "n")
    ui_name = _kv_get(ui_kv_s, "n")

    # Kill (rs:88-125)
    (k0, k1, k2, kdesc), klen = _split_get(masked(en_kill), " ", 4, max_splits=3)
    kid = _u32(k0)
    vid = _u32(k1)
    k2_ok = pc.coalesce(pc.ends_with(k2, ":"), pa.scalar(False))
    rid = _u32(_extract(pc.coalesce(k2, pa.scalar("")), r"^(?P<v>.*):$", "v"))
    kdesc_s = pc.coalesce(kdesc, pa.scalar(""))
    (killer_name_r, kd_rest), _ = _split_get(kdesc_s, " killed ", 2, max_splits=1)
    kd_rest_s = pc.coalesce(kd_rest, pa.scalar(""))
    by = pc.extract_regex(kd_rest_s, r"^(?P<victim>.*) by (?P<reason>.*)$")
    by_ok = pc.is_valid(by)
    victim_name_r = pc.if_else(by_ok, pc.struct_field(by, "victim"), _NULL_STR)
    reason_name_r = pc.if_else(by_ok, pc.struct_field(by, "reason"), _NULL_STR)
    kill_ok = _and(
        pc.equal(klen, 4), pc.is_valid(kid), pc.is_valid(vid), k2_ok,
        pc.is_valid(rid), pc.is_valid(kd_rest), by_ok,
    )

    # red (CTF, rs:127-137) — shares the first-space split with score
    (red_tok, blue_kv), rlen = _split_get(
        masked(pc.or_(en_red, en_score)), " ", 2, max_splits=1
    )
    red_v = _u32(red_tok)
    (blue0, blue1), blen = _split_get(pc.coalesce(blue_kv, pa.scalar("")), ":", 2)
    blue_v = _u32(blue1)
    red_fmt_ok = _and(pc.equal(rlen, 2), pc.greater_equal(blen, 2))
    red_ok = _and(red_fmt_ok, pc.is_valid(red_v), pc.is_valid(blue_v))

    # score (rs:138-150)
    s_frags = _i32(red_tok)  # same first-space split as red
    (cv0, cv1, cv2), cvlen = _split_get(
        pc.coalesce(blue_kv, pa.scalar("")), ": ", 3
    )
    cv2_s = pc.coalesce(cv2, pa.scalar(""))
    (s_id_tok, s_name), scv_len = _split_get(cv2_s, " ", 2, max_splits=1)
    s_cid = _u32(s_id_tok)
    score_fmt_ok = _and(
        pc.equal(rlen, 2), pc.greater_equal(cvlen, 3), pc.equal(scv_len, 2)
    )
    score_ok = _and(score_fmt_ok, pc.is_valid(s_frags), pc.is_valid(s_cid))

    # --- event_type dispatch (reference order, rs:15-30 + :51-154) --------
    FALSE = pa.scalar(False)
    conds_types = [
        (pc.coalesce(empty, FALSE), None),
        (pc.invert(pc.coalesce(has_space, FALSE)), None),
        (is_comment, "Comment"),
        (pc.invert(pc.coalesce(has_colon, FALSE)), None),
        (en("InitGame"), "InitGame"),
        (_and(en("ClientConnect"), pc.is_valid(plain_id)), "ClientConnect"),
        (_and(en("ClientBegin"), pc.is_valid(plain_id)), "ClientBegin"),
        (_and(en("ClientDisconnect"), pc.is_valid(plain_id)), "ClientDisconnect"),
        (
            _and(en("ClientUserinfoChanged"), ui_has_space, pc.is_valid(ui_id), ui_has_name),
            "ClientUserinfoChanged",
        ),
        (en("Item"), "Item"),
        (en("say"), "Say"),
        (_and(en("Kill"), kill_ok), "Kill"),
        (en("Exit"), "Exit"),
        (_and(en("red"), red_ok), "CaptureTheFlagResults"),
        (_and(en("score"), score_ok), "Score"),
        (en("ShutdownGame"), "ShutdownGame"),
    ]
    # first matching condition wins (reference dispatch order)
    event_type = pa.nulls(n, pa.string())
    decided = pa.repeat(pa.scalar(False), n)
    for cond, label in conds_types:
        take = _and(cond, pc.invert(decided))
        if label is not None:
            event_type = pc.if_else(take, pa.scalar(label, pa.string()), event_type)
        decided = pc.or_(decided, pc.coalesce(cond, FALSE))

    ok = pc.is_valid(event_type)

    # --- error classification ---------------------------------------------
    kinds = [
        (pc.coalesce(empty, FALSE), "EmptyLine"),
        (pc.invert(pc.coalesce(has_space, FALSE)), "UnrecognizedLineFormat"),
        (is_comment, None),
        (pc.invert(pc.coalesce(has_colon, FALSE)), "UnrecognizedLineFormat"),
        (
            _and(
                pc.or_(
                    pc.or_(_eq(event_name, "ClientConnect"), _eq(event_name, "ClientBegin")),
                    _eq(event_name, "ClientDisconnect"),
                )
            ),
            "UnparseableNumber",
        ),
        (_and(_eq(event_name, "ClientUserinfoChanged"), pc.invert(ui_has_space)), "UnknownDataFormat"),
        (_and(_eq(event_name, "ClientUserinfoChanged"), pc.invert(pc.coalesce(pc.is_valid(ui_id), FALSE))), "UnparseableNumber"),
        (_eq(event_name, "ClientUserinfoChanged"), "AbsentKey"),
        (_eq(event_name, "Kill"), "UnknownDataFormat"),
        # red/score error precedence mirrors the reference's sequential `?`
        # operators (deserializer_logs.rs:128-150): first-space split ->
        # UnknownDataFormat, first number -> UnparseableNumber, second split
        # -> UnknownDataFormat, second number -> UnparseableNumber
        (
            _and(_eq(event_name, "red"),
                 pc.invert(pc.coalesce(pc.equal(rlen, 2), FALSE))),
            "UnknownDataFormat",
        ),
        (_and(_eq(event_name, "red"), pc.invert(pc.is_valid(red_v))),
         "UnparseableNumber"),
        (
            _and(_eq(event_name, "red"),
                 pc.invert(pc.coalesce(pc.greater_equal(blen, 2), FALSE))),
            "UnknownDataFormat",
        ),
        (_eq(event_name, "red"), "UnparseableNumber"),
        (
            _and(_eq(event_name, "score"),
                 pc.invert(pc.coalesce(pc.equal(rlen, 2), FALSE))),
            "UnknownDataFormat",
        ),
        (_and(_eq(event_name, "score"), pc.invert(pc.is_valid(s_frags))),
         "UnparseableNumber"),
        (
            _and(
                _eq(event_name, "score"),
                pc.or_(
                    pc.invert(pc.coalesce(pc.greater_equal(cvlen, 3), FALSE)),
                    pc.invert(pc.coalesce(pc.equal(scv_len, 2), FALSE)),
                ),
            ),
            "UnknownDataFormat",
        ),
        (_eq(event_name, "score"), "UnparseableNumber"),
        (pa.repeat(pa.scalar(True), n), "UnknownEventName"),
    ]
    kind = pa.nulls(n, pa.string())
    decided = ok  # parsed rows never get an error kind
    for cond, label in kinds:
        take = _and(cond, pc.invert(decided))
        if label is not None:
            kind = pc.if_else(take, pa.scalar(label, pa.string()), kind)
        decided = pc.or_(decided, pc.coalesce(cond, FALSE))

    want = None if fields is None else set(fields) | {"event_type"}

    def wanted(name):
        return want is None or name in want

    parse_error = _NULL_STR if not wanted("parse_error") else pc.if_else(
        pc.is_valid(kind),
        pc.binary_join_element_wise(
            kind, pa.scalar(" at event '"),
            pc.coalesce(event_name, pa.scalar("")),
            pa.scalar("': '"), data, pa.scalar("'"), pa.scalar(""),
        ),
        _NULL_STR,
    )

    def only(etype_label, arr, null=_NULL_I64):
        return pc.if_else(_eq(event_type, etype_label), arr, null)

    if wanted("client_id"):
        client_id = pc.if_else(
            pc.is_in(event_type, value_set=pa.array(["ClientConnect", "ClientBegin", "ClientDisconnect"])),
            plain_id,
            pc.if_else(_eq(event_type, "ClientUserinfoChanged"), ui_id,
                       pc.if_else(_eq(event_type, "Score"), s_cid, _NULL_I64)),
        )
    else:
        client_id = _NULL_I64
    if wanted("name"):
        name = pc.if_else(_eq(event_type, "ClientUserinfoChanged"), ui_name,
                          pc.if_else(_eq(event_type, "Score"), s_name, _NULL_STR))
    else:
        name = _NULL_STR

    def gate(col, etype_label, arr, null=_NULL_I64):
        return only(etype_label, arr, null) if wanted(col) else null

    full = {
        "event_type": event_type,
        "frag_limit": gate("frag_limit", "InitGame", frag_limit),
        "capture_limit": gate("capture_limit", "InitGame", capture_limit),
        "time_limit_min": gate("time_limit_min", "InitGame", time_limit_min),
        "client_id": client_id,
        "name": name,
        "killer_id": gate("killer_id", "Kill", kid),
        "victim_id": gate("victim_id", "Kill", vid),
        "reason_id": gate("reason_id", "Kill", rid),
        "killer_name": gate("killer_name", "Kill", killer_name_r, _NULL_STR),
        "victim_name": gate("victim_name", "Kill", victim_name_r, _NULL_STR),
        "reason_name": gate("reason_name", "Kill", reason_name_r, _NULL_STR),
        "frags": gate("frags", "Score", s_frags),
        "red": gate("red", "CaptureTheFlagResults", red_v),
        "blue": gate("blue", "CaptureTheFlagResults", blue_v),
        "parse_error_kind": kind if wanted("parse_error_kind") else _NULL_STR,
        "parse_error": parse_error,
    }
    if want is None:
        return full
    out = {}
    for k, v in full.items():
        if k in want:
            out[k] = v if not isinstance(v, pa.Scalar) else pa.nulls(
                n, pa.int64() if v is _NULL_I64 else pa.string()
            )
    return out


def pedantic_fields(fields: list[str] | None) -> list[str] | None:
    """``fields`` plus the error columns the pedantic check reads."""
    if fields is None:
        return None
    return list(dict.fromkeys([*fields, "parse_error_kind", "parse_error"]))


def raise_on_parse_error(batch: pa.RecordBatch, cols: dict[str, pa.Array]) -> None:
    """The pedantic gate: raise on the batch's first malformed line."""
    bad = pc.is_valid(cols["parse_error_kind"])
    if pc.any(bad).as_py():
        idx = pc.index(bad, pa.scalar(True)).as_py()
        turn = (
            batch.column("turn_idx")[idx].as_py()
            if "turn_idx" in batch.schema.names
            else -1
        )
        raise ValueError(
            f"Failed to process event #{turn}: "
            f"`LogParsingError`: {cols['parse_error'][idx].as_py()}"
        )


def make_map_in_arrow_fn(
    passthrough: list[str],
    fields: list[str] | None = None,
    pedantic: bool = False,
):
    """RecordBatch iterator transform for ``DataFrame.mapInArrow``.

    ``pedantic=True`` raises on the first malformed line IN THE PARSE TASK
    (the reference's ``--pedantic`` / ``stop_on_feed_errors`` contract,
    app/src/main.rs:84-85).  Raising here — rather than via a downstream
    ``raise_error`` column — is immune to predicate pushdown / column
    pruning eliding the gate (the round-2 ADVICE bypass): the error fires
    before any output column exists for the optimizer to drop.
    """
    parse_fields = pedantic_fields(fields) if pedantic else fields
    emit = None if fields is None else {*fields, "event_type"}

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            cols = parse_text_batch(batch.column("text"), parse_fields)
            if pedantic:
                raise_on_parse_error(batch, cols)
            arrays = [batch.column(c) for c in passthrough]
            names = list(passthrough)
            for k, v in cols.items():
                if emit is not None and k not in emit:
                    continue
                arrays.append(v)
                names.append(k)
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return fn
