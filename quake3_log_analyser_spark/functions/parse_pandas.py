"""Arrow-vectorized pandas-UDF parser — semantically identical to
``parse_expr`` (see that module for the line grammar and the reference
citations, quake3-server-events/src/deserializer_logs.rs:15-169).

The core is a plain ``pd.Series -> pd.DataFrame`` function
(``parse_lines_pd``) so the parser is unit-testable without a JVM, exactly
like the reference's pure ``deserialize_log_line`` entry point
(deserializer_logs.rs:15).  No per-row Python: every step is a vectorized
``pd.Series.str`` operation over the whole Arrow batch.

Tests cross-check this parser against ``parse_expr`` on every fixture line;
the earlier rounds' 32-core timings of both, ``parse_pandas`` and
``parse_expr`` in ``BENCH_r0*.json``, are the Spark analogue of the
reference's split-vs-regex study (benches/parsing_strategies.rs:9-12).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ..schemas import EVENT_COLUMN_NAMES, EVENT_STRUCT

_INT32_MAX = 2147483647
_U32_MAX = 4294967295

_U32_RE = r"^\+?[0-9]+\Z"
_I32_RE = r"^[+-]?[0-9]+\Z"


def _num(s: pd.Series, pattern: str, lo: int, hi: int) -> pd.Series:
    """Full-match numeric parse -> nullable Int64 (None on failure).

    Leading zeros are stripped and an 18-digit magnitude guard applied
    BEFORE ``to_numeric``: one unparseable-as-int value in a batch flips
    to_numeric into its float64 path, whose parser returns 0.0 for long
    leading-zero strings like '0000000000000000007' (found by the seeded
    mega-fuzz) — normalization keeps every accepted value on the exact
    integer path.  Matches Rust str::parse and the arrow/expr parsers."""
    ok = s.str.match(pattern, na=False)
    norm = s.where(ok).str.replace(r"^([+-]?)0+([0-9])", r"\1\2", regex=True)
    norm = norm.str.replace(r"^\+", "", regex=True)
    fits = norm.str.match(r"^-?[0-9]{1,18}\Z", na=False)
    out = pd.to_numeric(norm.where(fits), errors="coerce")
    out = out.where((out >= lo) & (out <= hi))
    return out.astype("Int64")


def _u32(s: pd.Series) -> pd.Series:
    return _num(s, _U32_RE, 0, _U32_MAX)


def _i32(s: pd.Series) -> pd.Series:
    return _num(s, _I32_RE, -_INT32_MAX - 1, _INT32_MAX)


def _kv_get(data: pd.Series, key: str) -> pd.Series:
    """Last-wins k/v lookup (deserializer_logs.rs:157-161); NaN if absent."""
    return data.str.extract(r"^(?:.*\\)?" + key + r"\\([^\\]*)", expand=False)


def _submask(m: pd.Series, local) -> pd.Series:
    """Expand a boolean vector defined on m's True-rows back to full length.

    Assigning a pandas Series into a bool-dtype mask silently upcasts the
    mask to object dtype (and ``~`` then bit-inverts Python ints) — always
    go through a numpy bool array.
    """
    out = m.copy()
    out[m] = np.asarray(local, dtype=bool)
    return out


def parse_lines_pd(texts: pd.Series) -> pd.DataFrame:
    """Parse a batch of raw log lines into the wide event frame."""
    n = len(texts)
    texts = texts.fillna("").astype(str)
    texts.index = pd.RangeIndex(n)

    out = pd.DataFrame(index=pd.RangeIndex(n))
    for name in EVENT_COLUMN_NAMES:
        out[name] = pd.array([None] * n, dtype="object")
    int_cols = [
        "frag_limit", "capture_limit", "time_limit_min", "client_id",
        "killer_id", "victim_id", "reason_id", "frags", "red", "blue",
    ]
    for c in int_cols:
        out[c] = pd.array([pd.NA] * n, dtype="Int64")

    def set_err(mask: pd.Series, kind: str) -> None:
        out.loc[mask, "parse_error_kind"] = kind

    stripped = texts.str.lstrip(" ")
    empty = stripped.str.len() == 0
    set_err(empty, "EmptyLine")

    part = stripped.str.partition(" ")
    has_space = part[1] == " "
    rest = part[2]
    bad_fmt = ~empty & ~has_space
    set_err(bad_fmt, "UnrecognizedLineFormat")

    live = ~empty & has_space
    comment = live & rest.str.startswith("-")
    out.loc[comment, "event_type"] = "Comment"

    cpart = rest.str.partition(":")
    has_colon = cpart[1] == ":"
    no_colon = live & ~comment & ~has_colon
    set_err(no_colon, "UnrecognizedLineFormat")

    live = live & ~comment & has_colon
    event_name = cpart[0]
    data = cpart[2].str.lstrip(" ")

    # ---- InitGame (rs:53-60) -------------------------------------------
    m = live & (event_name == "InitGame")
    if m.any():
        d = data[m]
        out.loc[m, "event_type"] = "InitGame"
        out.loc[m, "frag_limit"] = _u32(_kv_get(d, "fraglimit"))
        out.loc[m, "capture_limit"] = _u32(_kv_get(d, "capturelimit"))
        out.loc[m, "time_limit_min"] = _u32(_kv_get(d, "timelimit"))

    # ---- ClientConnect / ClientBegin / ClientDisconnect (rs:61-85) ------
    for ename in ("ClientConnect", "ClientBegin", "ClientDisconnect"):
        m = live & (event_name == ename)
        if not m.any():
            continue
        ids = _u32(data[m])
        ok = _submask(m, ids.notna())
        out.loc[ok, "event_type"] = ename
        out.loc[ok, "client_id"] = ids[ids.notna()]
        bad = m & ~ok
        set_err(bad, "UnparseableNumber")

    # ---- ClientUserinfoChanged (rs:66-75) --------------------------------
    m = live & (event_name == "ClientUserinfoChanged")
    if m.any():
        up = data.str.partition(" ")
        has_sp = m & (up[1] == " ")
        set_err(m & ~has_sp, "UnknownDataFormat")
        ids = _u32(up[0])
        id_ok = has_sp & ids.notna()
        set_err(has_sp & ids.isna(), "UnparseableNumber")
        names = _kv_get(up[2], "n")
        named = id_ok & names.notna()
        set_err(id_ok & names.isna(), "AbsentKey")
        out.loc[named, "event_type"] = "ClientUserinfoChanged"
        out.loc[named, "client_id"] = ids[named]
        out.loc[named, "name"] = names[named]

    # ---- Item / say / Exit / ShutdownGame --------------------------------
    for ename, etype in (("Item", "Item"), ("say", "Say"), ("Exit", "Exit"),
                         ("ShutdownGame", "ShutdownGame")):
        m = live & (event_name == ename)
        out.loc[m, "event_type"] = etype

    # ---- Kill (rs:88-125) -------------------------------------------------
    m = live & (event_name == "Kill")
    if m.any():
        kp = data[m].str.split(" ", n=3, expand=True)
        for i in range(4):
            if i not in kp.columns:
                kp[i] = None
        kid = _u32(kp[0])
        vid = _u32(kp[1])
        k2 = kp[2]
        k2_ok = k2.str.endswith(":", na=False)
        rid = _u32(k2.where(k2_ok).str.slice(0, -1))
        desc = kp[3]
        dp = desc.str.partition(" killed ")
        killed_ok = dp[1] == " killed "
        rp = dp[2].str.extract(r"^(.*) by (.*)\Z")  # rsplit: greedy = last " by "
        names_ok = killed_ok & rp[0].notna()
        ok_local = kid.notna() & vid.notna() & k2_ok & rid.notna() & names_ok & desc.notna()
        ok = _submask(m, ok_local)
        out.loc[ok, "event_type"] = "Kill"
        out.loc[ok, "killer_id"] = kid[ok_local]
        out.loc[ok, "victim_id"] = vid[ok_local]
        out.loc[ok, "reason_id"] = rid[ok_local]
        out.loc[ok, "killer_name"] = dp[0][ok_local]
        out.loc[ok, "victim_name"] = rp[0][ok_local]
        out.loc[ok, "reason_name"] = rp[1][ok_local]
        set_err(m & ~ok, "UnknownDataFormat")

    # ---- red (CTF results, rs:127-137) ------------------------------------
    m = live & (event_name == "red")
    if m.any():
        rpart = data[m].str.partition(" ")
        fmt_ok = rpart[1] == " "
        red_v = _u32(rpart[0])
        blue_items = rpart[2].str.split(":", expand=True)
        blue_raw = blue_items[1] if 1 in blue_items.columns else pd.Series(None, index=rpart.index, dtype="object")
        blue_fmt_ok = blue_raw.notna()
        blue_v = _u32(blue_raw.fillna(""))
        ok_local = fmt_ok & red_v.notna() & blue_fmt_ok & blue_v.notna()
        ok = _submask(m, ok_local)
        out.loc[ok, "event_type"] = "CaptureTheFlagResults"
        out.loc[ok, "red"] = red_v[ok_local]
        out.loc[ok, "blue"] = blue_v[ok_local]
        # precedence mirrors the reference's sequential `?` operators
        # (deserializer_logs.rs:128-137): split -> UDF, red number -> UPN,
        # blue split -> UDF, blue number -> UPN
        badf = _submask(m, (~fmt_ok | (fmt_ok & red_v.notna() & ~blue_fmt_ok)).to_numpy())
        set_err(badf, "UnknownDataFormat")
        badr = _submask(m, (fmt_ok & red_v.isna()).to_numpy())
        set_err(badr, "UnparseableNumber")
        badb = _submask(m, (fmt_ok & red_v.notna() & blue_fmt_ok & blue_v.isna()).to_numpy())
        set_err(badb, "UnparseableNumber")

    # ---- score (rs:138-150) -------------------------------------------------
    m = live & (event_name == "score")
    if m.any():
        spart = data[m].str.partition(" ")
        fmt_ok = spart[1] == " "
        frags_v = _i32(spart[0])
        cvals = spart[2].str.split(": ", expand=True)
        cv = cvals[2] if 2 in cvals.columns else pd.Series(None, index=spart.index, dtype="object")
        cvp = cv.fillna("").str.partition(" ")
        cv_ok = cv.notna() & (cvp[1] == " ")
        cid = _u32(cvp[0])
        ok_local = fmt_ok & frags_v.notna() & cv_ok & cid.notna()
        ok = _submask(m, ok_local)
        out.loc[ok, "event_type"] = "Score"
        out.loc[ok, "frags"] = frags_v[ok_local]
        out.loc[ok, "client_id"] = cid[ok_local]
        out.loc[ok, "name"] = cvp[2][ok_local]
        # precedence mirrors the reference (deserializer_logs.rs:138-150):
        # split -> UDF, frags -> UPN, client split(s) -> UDF, client id -> UPN
        badf = _submask(m, (~fmt_ok | (fmt_ok & frags_v.notna() & ~cv_ok)).to_numpy())
        set_err(badf, "UnknownDataFormat")
        badfr = _submask(m, (fmt_ok & frags_v.isna()).to_numpy())
        set_err(badfr, "UnparseableNumber")
        badc = _submask(m, (fmt_ok & frags_v.notna() & cv_ok & cid.isna()).to_numpy())
        set_err(badc, "UnparseableNumber")

    # ---- unknown event name (rs:152) ---------------------------------------
    known = {"InitGame", "ClientConnect", "ClientUserinfoChanged", "ClientBegin",
             "ClientDisconnect", "Item", "say", "Kill", "Exit", "red", "score",
             "ShutdownGame"}
    m = live & ~event_name.isin(known)
    set_err(m, "UnknownEventName")

    # canonical error rendering — identical formula to the arrow parser
    # (and expr): kind + " at event '<name>': '<data>'", empty strings
    # where the line never produced the segment
    err = out["parse_error_kind"].notna()
    if err.any():
        out.loc[err, "parse_error"] = (
            out.loc[err, "parse_error_kind"].astype(str)
            + " at event '" + event_name[err].fillna("")
            + "': '" + data[err].fillna("") + "'"
        )

    return out


def make_parse_pandas_udf():
    """Return a pandas UDF producing the wide event struct from ``text``."""

    @F.pandas_udf(EVENT_STRUCT)
    def parse_udf(texts: pd.Series) -> pd.DataFrame:
        return parse_lines_pd(texts)

    return parse_udf
