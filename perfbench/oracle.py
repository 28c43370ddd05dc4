"""Independent DuckDB derivation of every output the benchmark checks.

The expected values come from the generated parquet alone: the line
grammar is classified with DuckDB string functions (strip leading spaces,
split at the first space, event name before the first colon, per-event
shape regexes), matches are delimited with the same last-marker window
rule the reference event model defines, and the kill count of every
completed match is counted directly.  Nothing here imports the program.

``check_*`` functions compare what a workload rep produced with those
expectations and return a list of mismatch descriptions (empty = correct).
"""

from __future__ import annotations

import struct
from pathlib import Path

import duckdb

SINKS = ("kills", "client_events", "scores", "match_control", "errors")
KNOWN_REASON_IDS = (1, 3, 6, 7, 10, 19, 22)  # datagen.MEANS_OF_DEATH
N_UNITS = 16

_CLASSIFY = r"""
WITH src AS (
    SELECT conv_id, turn_idx, text, ltrim(coalesce(text, ''), ' ') AS s
    FROM read_parquet('{glob}')
), sp AS (
    SELECT *, strpos(s, ' ') AS p FROM src
), rs AS (
    SELECT *, CASE WHEN p > 0 THEN substr(s, p + 1) END AS rest FROM sp
), en AS (
    SELECT *,
        CASE
            WHEN s = '' OR p = 0 THEN NULL
            WHEN starts_with(rest, '-') THEN '-'
            WHEN strpos(rest, ':') = 0 THEN NULL
            ELSE substr(rest, 1, strpos(rest, ':') - 1)
        END AS name,
        ltrim(substr(rest, strpos(rest, ':') + 1), ' ') AS data
    FROM rs
)
SELECT conv_id, turn_idx, text,
    CASE
        WHEN name = '-' THEN 'Comment'
        WHEN name = 'InitGame' THEN 'InitGame'
        WHEN name IN ('ClientConnect', 'ClientBegin', 'ClientDisconnect')
             AND regexp_full_match(data, '\+?[0-9]{{1,9}}') THEN name
        WHEN name = 'ClientUserinfoChanged'
             AND regexp_matches(data, '^\+?[0-9]{{1,9}} (.*\\)?n\\') THEN name
        WHEN name = 'Item' THEN 'Item'
        WHEN name = 'say' THEN 'Say'
        WHEN name = 'Kill'
             AND regexp_full_match(
                 data, '\+?[0-9]{{1,9}} \+?[0-9]{{1,9}} \+?[0-9]{{1,9}}: .* killed .* by .*')
             THEN 'Kill'
        WHEN name = 'Exit' THEN 'Exit'
        WHEN name = 'score'
             AND regexp_full_match(data, '[+-]?[0-9]{{1,9}} [^:]*: [^:]*: \+?[0-9]{{1,9}} .*')
             THEN 'Score'
        WHEN name = 'ShutdownGame' THEN 'ShutdownGame'
    END AS event_type,
    CASE WHEN name = 'Kill'
         THEN TRY_CAST(regexp_extract(data, '^\S+ \S+ \+?([0-9]+):', 1) AS BIGINT)
    END AS reason_id
FROM en
"""

_SESSIONIZE = """
CREATE TEMP TABLE sess AS
WITH m AS (
    SELECT *,
        CASE WHEN event_type IN ('InitGame', 'ShutdownGame') THEN event_type END AS marker
    FROM ev
), b AS (
    SELECT *,
        coalesce(last_value(marker IGNORE NULLS) OVER (
            PARTITION BY conv_id ORDER BY turn_idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) = 'InitGame', false)
        AS in_game_before
    FROM m
)
SELECT *,
    sum(CASE WHEN event_type = 'InitGame' AND NOT in_game_before THEN 1 ELSE 0 END)
        OVER (PARTITION BY conv_id ORDER BY turn_idx
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS match_id
FROM b
"""


def _sink_of(col: str = "event_type") -> str:
    return f"""CASE
        WHEN {col} IS NULL THEN 'errors'
        WHEN {col} = 'Kill' THEN 'kills'
        WHEN {col} IN ('ClientConnect', 'ClientUserinfoChanged', 'ClientDisconnect')
             THEN 'client_events'
        WHEN {col} = 'Score' THEN 'scores'
        WHEN {col} IN ('InitGame', 'Exit', 'ShutdownGame') THEN 'match_control'
    END"""


# ---------------------------------------------------------------------------
# Spark's xxhash64 (seed 42) — the resumable plan's work-unit key
# ---------------------------------------------------------------------------

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as a signed 64-bit value, the function behind
    Spark SQL's ``xxhash64`` for a single string argument."""
    n, off = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed & _M, (seed - _P1) & _M]
        while off <= n - 32:
            lanes = struct.unpack_from("<4Q", data, off)
            v = [_round(a, lane) for a, lane in zip(v, lanes)]
            off += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for a in v:
            h = (((h ^ _round(0, a)) * _P1) + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while off <= n - 8:
        (k,) = struct.unpack_from("<Q", data, off)
        h = ((_rotl(h ^ _round(0, k), 27) * _P1) + _P4) & _M
        off += 8
    if off <= n - 4:
        (k,) = struct.unpack_from("<I", data, off)
        h = ((_rotl(h ^ ((k * _P1) & _M), 23) * _P2) + _P3) & _M
        off += 4
    while off < n:
        h = (_rotl(h ^ ((data[off] * _P5) & _M), 11) * _P1) & _M
        off += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def unit_of(conv_id: str) -> int:
    """``pmod(xxhash64(conv_id), 16)`` — the conversation's work unit."""
    return xxhash64(conv_id.encode()) % N_UNITS


# ---------------------------------------------------------------------------
# expectations
# ---------------------------------------------------------------------------


def expected(data_dir: Path) -> dict:
    """Every value the checks compare against, derived from the parquet."""
    con = duckdb.connect()
    try:
        con.execute("SET threads = 4")
        glob = str(data_dir / "*.parquet")
        con.execute(f"CREATE TEMP TABLE ev AS {_CLASSIFY.format(glob=glob)}")
        con.execute(_SESSIONIZE)
        matches = con.execute(
            """
            SELECT conv_id, match_id,
                   count(*) FILTER (WHERE event_type = 'Kill' AND in_game_before)
            FROM sess
            WHERE match_id > 0
            GROUP BY conv_id, match_id
            HAVING bool_or(event_type = 'ShutdownGame' AND in_game_before)
            ORDER BY conv_id, match_id
            """
        ).fetchall()
        sinks = {
            s: {"rows": int(n), "text_hash": str(h)}
            for s, n, h in con.execute(
                f"""
                SELECT {_sink_of()} AS sink, count(*), sum(hash(text))
                FROM ev WHERE event_type IS NULL OR event_type NOT IN
                    ('Comment', 'Item', 'Say', 'ClientBegin')
                GROUP BY sink
                """
            ).fetchall()
        }
        known = ", ".join(map(str, KNOWN_REASON_IDS))
        unknown = con.execute(
            f"""
            SELECT reason_id, count(*) FROM ev
            WHERE event_type = 'Kill' AND reason_id NOT IN ({known})
            GROUP BY reason_id ORDER BY reason_id
            """
        ).fetchall()
        per_conv = con.execute(
            """
            SELECT conv_id, count(*), count(*) FILTER (WHERE event_type IS NULL),
                   count(*) FILTER (WHERE event_type = 'ShutdownGame' AND in_game_before)
            FROM sess GROUP BY conv_id ORDER BY conv_id
            """
        ).fetchall()
    finally:
        con.close()
    units: dict[int, list[int]] = {}
    conv_unit = {}
    for conv, rows, errs, done in per_conv:
        u = unit_of(conv)
        conv_unit[conv] = u
        acc = units.setdefault(u, [0, 0, 0])
        acc[0] += rows
        acc[1] += errs
        acc[2] += done
    return {
        "turns": sum(r[1] for r in per_conv),
        "matches": [[c, int(m), int(k)] for c, m, k in matches],
        "sinks": sinks,
        "unknown_codes": {str(r): int(n) for r, n in unknown},
        "conv_unit": conv_unit,
        "units": {str(u): v for u, v in sorted(units.items())},
    }


# ---------------------------------------------------------------------------
# checks
# ---------------------------------------------------------------------------


def _diff_matches(got: list[tuple], want: list[list], label: str) -> list[str]:
    g = sorted((str(c), int(m), int(k)) for c, m, k in got)
    w = sorted((c, m, k) for c, m, k in want)
    if g == w:
        return []
    gs, ws = set(g), set(w)
    return [
        f"{label}: {len(g)} summaries vs {len(w)} expected; "
        f"{len(gs - ws)} unexpected e.g. {sorted(gs - ws)[:2]}, "
        f"{len(ws - gs)} missing e.g. {sorted(ws - gs)[:2]}"
    ]


def check_summary_rows(rows: list[tuple], exp: dict, label: str = "summaries") -> list[str]:
    """``rows`` are (conv_id, match_id, total_kills, error) of every
    emitted summary; the generated grammar has no violations, so an error
    row is itself a mismatch."""
    errors = [r for r in rows if r[3] is not None]
    out = [f"{label}: {len(errors)} error rows, e.g. {errors[0][3]!r}"] if errors else []
    return out + _diff_matches([r[:3] for r in rows if r[3] is None], exp["matches"], label)


def read_summaries(path: Path) -> list[tuple]:
    with duckdb.connect() as con:
        return con.execute(
            f"SELECT conv_id, match_id, total_kills, error "
            f"FROM read_parquet('{path}/*.parquet')"
        ).fetchall()


def check_sinks(sink_dir: Path, exp: dict) -> tuple[list[str], dict]:
    """Mismatches, and the per-sink rows and text hashes found."""
    with duckdb.connect() as con:
        got = {
            s: {"rows": int(n), "text_hash": str(h)}
            for s, n, h in con.execute(
                f"""
                SELECT sink, count(*), sum(hash(text))
                FROM read_parquet('{sink_dir}/*/*.parquet', hive_partitioning = true)
                GROUP BY sink
                """
            ).fetchall()
        }
    return [
        f"sink {s}: got {got.get(s)} want {exp['sinks'].get(s)}"
        for s in SINKS
        if got.get(s) != exp["sinks"].get(s)
    ], got


def check_unknown_codes(rows: list[tuple], exp: dict) -> list[str]:
    got = {str(r): int(n) for r, n in rows}
    if got != exp["unknown_codes"]:
        return [f"unknown reason codes: got {got} want {exp['unknown_codes']}"]
    return []


def check_resume(
    out_dir: Path, ckpt_dir: Path, run_id: str, pending: list[int], exp: dict
) -> tuple[list[str], dict]:
    """Mismatches in the pending units' summary partitions and checkpoint
    rows, and those rows as ``unit -> (rows, parse errors, matches)``."""
    want_convs = {c for c, u in exp["conv_unit"].items() if u in pending}
    want = [m for m in exp["matches"] if m[0] in want_convs]
    with duckdb.connect() as con:
        got = con.execute(
            f"""
            SELECT conv_id, match_id, total_kills, error, convhash
            FROM read_parquet('{out_dir}/*/*.parquet', hive_partitioning = true)
            """
        ).fetchall()
        ck = con.execute(
            f"""
            SELECT unit, n_input_rows, n_parse_errors, n_matches
            FROM read_parquet('{ckpt_dir}/*.parquet', union_by_name = true)
            WHERE run_id = '{run_id}'
            """
        ).fetchall()
    out = [
        f"summary of {r[0]} in partition convhash={r[4]}, want {exp['conv_unit'].get(r[0])}"
        for r in got
        if exp["conv_unit"].get(r[0]) != int(r[4])
    ][:3]
    out += check_summary_rows([r[:4] for r in got], {"matches": want}, "resume summaries")
    want_ck = {
        f"convhash={u}": tuple(exp["units"].get(str(u), [0, 0, 0])) for u in pending
    }
    got_ck = {u: (int(a), int(b), int(c)) for u, a, b, c in ck}
    if got_ck != want_ck:
        out.append(f"checkpoint rows: got {got_ck} want {want_ck}")
    return out, got_ck
