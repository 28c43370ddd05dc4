"""Parser unit tests — ports of every case in
quake3-server-events/src/deserializer_logs.rs:172-363 (18 tests), run
against BOTH parser implementations (pure pandas core + Spark expression
parser) and cross-checked for equality.
"""

from __future__ import annotations

import pandas as pd
import pytest

from quake3_log_analyser_spark.functions.parse_pandas import parse_lines_pd
from quake3_log_analyser_spark.functions.parse_expr import parse_expr_df
from quake3_log_analyser_spark.schemas import EVENT_COLUMN_NAMES

INIT_DM = r" 1:47 InitGame: \sv_floodProtect\1\sv_maxPing\0\sv_minPing\0\sv_maxRate\10000\sv_minRate\0\sv_hostname\Code Miner Server\g_gametype\0\sv_privateClients\2\sv_maxclients\16\sv_allowDownload\0\bot_minplayers\0\dmflags\0\fraglimit\20\timelimit\15\g_maxGameClients\0\capturelimit\8\version\ioq3 1.36 linux-x86_64 Apr 12 2009\protocol\68\mapname\q3dm17\gamename\baseq3\g_needpass\0"
INIT_CTF = r" 2:33 InitGame: \capturelimit\8\g_maxGameClients\0\timelimit\15\fraglimit\20\dmflags\0\bot_minplayers\0\sv_allowDownload\0\sv_maxclients\16\sv_privateClients\2\g_gametype\4\sv_hostname\Code Miner Server\sv_minRate\0\sv_maxRate\10000\sv_minPing\0\sv_maxPing\0\sv_floodProtect\1\version\ioq3 1.36 linux-x86_64 Apr 12 2009\protocol\68\mapname\Q3TOURNEY6_CTF\gamename\baseq3\g_needpass\0"

# (line, expected partial event dict) — valid cases (rs:183-280)
VALID_CASES = [
    ("  0:37 ------------------------------------------------------------", {"event_type": "Comment"}),
    (" 80:37 ------------------------------------------------------------", {"event_type": "Comment"}),
    ("980:37 ------------------------------------------------------------", {"event_type": "Comment"}),
    ("20:37 ------------------------------------------------------------", {"event_type": "Comment"}),
    (INIT_DM, {"event_type": "InitGame", "frag_limit": 20, "capture_limit": 8, "time_limit_min": 15}),
    (INIT_CTF, {"event_type": "InitGame", "frag_limit": 20, "capture_limit": 8, "time_limit_min": 15}),
    (" 2:33 ClientConnect: 2", {"event_type": "ClientConnect", "client_id": 2}),
    (r"2:33 ClientUserinfoChanged: 2 n\Isgalamido\t\1\model\uriel/zael\hmodel\uriel/zael\g_redteam\\g_blueteam\\c1\5\c2\5\hc\100\w\0\l\0\tt\0\tl\0",
     {"event_type": "ClientUserinfoChanged", "client_id": 2, "name": "Isgalamido"}),
    (" 2:33 ClientBegin: 2", {"event_type": "ClientBegin", "client_id": 2}),
    (" 2:33 ClientDisconnect: 2", {"event_type": "ClientDisconnect", "client_id": 2}),
    (" 2:36 Item: 2 ammo_rockets", {"event_type": "Item"}),
    ("981:26 say: Isgalamido: team blue", {"event_type": "Say"}),
    ("20:54 Kill: 1022 2 22: <world> killed Isgalamido by MOD_TRIGGER_HURT",
     {"event_type": "Kill", "killer_id": 1022, "victim_id": 2, "reason_id": 22,
      "killer_name": "<world>", "victim_name": "Isgalamido", "reason_name": "MOD_TRIGGER_HURT"}),
    ("10:12 Exit: Capturelimit hit.", {"event_type": "Exit"}),
    ("10:12 red:8  blue:6", {"event_type": "CaptureTheFlagResults", "red": 8, "blue": 6}),
    ("10:12 score: 77  ping: 3  client: 2 Isgalamido",
     {"event_type": "Score", "frags": 77, "client_id": 2, "name": "Isgalamido"}),
    ("10:12 score: -77  ping: 3  client: 5 Dono da Bola",
     {"event_type": "Score", "frags": -77, "client_id": 5, "name": "Dono da Bola"}),
    ("10:28 ShutdownGame:", {"event_type": "ShutdownGame"}),
    # extra: victim name containing " by " exercises the rsplit rule (rs:113)
    ("10:00 Kill: 3 4 6: A killed B by C by MOD_ROCKET",
     {"event_type": "Kill", "killer_name": "A", "victim_name": "B by C",
      "reason_name": "MOD_ROCKET"}),
]

# (line, expected error kind) — malformed cases (rs:296-353)
ERROR_CASES = [
    ("", "EmptyLine"),
    ("20:37------------------------------------------------------------", "UnrecognizedLineFormat"),
    ("------------------------------------------------------------", "UnrecognizedLineFormat"),
    ("any: info", "UnrecognizedLineFormat"),
    (INIT_DM.replace("InitGame", "Init_Game"), "UnknownEventName"),
    (" 2:33 ClientConnect: 2a", "UnparseableNumber"),
    (" 2:33 ClientConnect: _2", "UnparseableNumber"),
    (r"2:33 ClientUserinfoChanged: 2 not_n\Isgalamido\t\1\model\uriel/zael\hmodel\uriel/zael\g_redteam\\g_blueteam\\c1\5\c2\5\hc\100\w\0\l\0\tt\0\tl\0", "AbsentKey"),
    (r"2:33 ClientUserinfoChanged: n\Isgalamido\t\1\model\uriel/zael\hmodel\uriel/zael\g_redteam\\g_blueteam\\c1\5\c2\5\hc\100\w\0\l\0\tt\0\tl\0", "UnknownDataFormat"),
    (r"2:33 ClientUserinfoChanged: _2_ n\Isgalamido\t\1\model\uriel/zael\hmodel\uriel/zael\g_redteam\\g_blueteam\\c1\5\c2\5\hc\100\w\0\l\0\tt\0\tl\0", "UnparseableNumber"),
    # the famous permissive-log line 97 shape: "  26  0:00 ----..."
    (" 26  0:00 ------------------------------------------------------------", "UnknownEventName"),
    # red/score error PRECEDENCE (reference order, deserializer_logs.rs:128-150):
    # first-space split -> UnknownDataFormat, first number -> UnparseableNumber,
    # second split -> UnknownDataFormat, second number -> UnparseableNumber
    ("10:12 red:8", "UnknownDataFormat"),            # no space in data
    ("10:12 red:x blue:6", "UnparseableNumber"),     # red value bad
    ("10:12 red:x y", "UnparseableNumber"),          # red bad AND blue split bad -> red first
    ("10:12 red:8 blue6", "UnknownDataFormat"),      # blue split (no ':') fails
    ("10:12 red:8 blue:x", "UnparseableNumber"),     # blue value bad
    ("10:12 score: 77", "UnknownDataFormat"),        # no space in data
    ("10:12 score: xx  ping: 3  client: 2 Foo", "UnparseableNumber"),  # frags bad
    ("10:12 score: x y", "UnparseableNumber"),       # frags bad AND client split bad -> frags first
    ("10:12 score: 77 ping 3 client 2", "UnknownDataFormat"),   # no ': '-split client values
    ("10:12 score: 77  ping: 3  client: 2", "UnknownDataFormat"),  # client id/name split fails
    ("10:12 score: 77  ping: 3  client: 2x Foo", "UnparseableNumber"),  # client id bad
]

ALL_LINES = [c[0] for c in VALID_CASES] + [c[0] for c in ERROR_CASES]


def _check(row: dict, expected: dict, line: str):
    for k, v in expected.items():
        got = row[k]
        if pd.isna(got):
            got = None
        assert got == v, f"line {line!r}: {k} = {got!r}, want {v!r}"


class TestPandasParser:
    @pytest.mark.parametrize("line,expected", VALID_CASES)
    def test_valid(self, line, expected):
        out = parse_lines_pd(pd.Series([line]))
        row = out.iloc[0].to_dict()
        assert pd.isna(row["parse_error_kind"]), f"unexpected error: {row['parse_error']}"
        _check(row, expected, line)

    @pytest.mark.parametrize("line,kind", ERROR_CASES)
    def test_errors(self, line, kind):
        out = parse_lines_pd(pd.Series([line]))
        row = out.iloc[0].to_dict()
        assert row["parse_error_kind"] == kind, (
            f"line {line!r}: kind = {row['parse_error_kind']!r} "
            f"({row['parse_error']!r}), want {kind!r}"
        )
        assert pd.isna(row["event_type"])


class TestExprParser:
    @pytest.fixture(scope="class")
    def parsed(self, spark):
        df = spark.createDataFrame(
            [(i, line) for i, line in enumerate(ALL_LINES)], "idx int, text string"
        )
        rows = parse_expr_df(df).orderBy("idx").collect()
        return {ALL_LINES[r["idx"]]: r.asDict() for r in rows}

    @pytest.mark.parametrize("line,expected", VALID_CASES)
    def test_valid(self, parsed, line, expected):
        row = parsed[line]
        assert row["parse_error_kind"] is None, f"unexpected error: {row['parse_error']}"
        _check(row, expected, line)

    @pytest.mark.parametrize("line,kind", ERROR_CASES)
    def test_errors(self, parsed, line, kind):
        row = parsed[line]
        assert row["parse_error_kind"] == kind, (
            f"line {line!r}: kind = {row['parse_error_kind']!r} "
            f"({row['parse_error']!r}), want {kind!r}"
        )
        assert row["event_type"] is None


def test_parsers_agree_on_reference_fixtures(spark):
    """All THREE parsers (expr / pandas / arrow) must produce identical
    typed columns on every fixture line and every ported reference case
    (``ALL_LINES``) — including a NULL text row, which every parser must
    treat as the empty string (EmptyLine)."""
    from tests.conftest import FIXTURES_BLL, FIXTURES_DAL, fixture_lines

    lines: list[str] = []
    for p in [
        FIXTURES_BLL / "qgames_permissive.log",
        FIXTURES_BLL / "discrepant.log",
        FIXTURES_DAL / "malformed_line.log",
        FIXTURES_DAL / "qgames_excerpt.log",
    ]:
        if p.exists():
            lines.extend(fixture_lines(p))
    # the ported deserializer_logs.rs cases run whether or not the
    # reference fixture files are present
    lines.extend(ALL_LINES)
    if not lines:
        pytest.skip("no fixture lines and no ported reference cases")
    lines.append(None)  # schema-legal NULL text

    df = spark.createDataFrame(
        [(i, l) for i, l in enumerate(lines)], "idx int, text string"
    )
    cols = ["event_type", "parse_error_kind", "client_id", "name", "killer_id",
            "victim_id", "reason_id", "killer_name", "victim_name",
            "reason_name", "frags", "frag_limit", "capture_limit",
            "time_limit_min", "red", "blue"]

    def normalize(v):
        if v is None or (not isinstance(v, str) and pd.isna(v)):
            return None
        if hasattr(v, "item"):
            v = v.item()
        return v

    expr_out = parse_expr_df(df).select("idx", *cols).orderBy("idx").collect()
    pd_out = parse_lines_pd(pd.Series(lines))

    from quake3_log_analyser_spark.operators.parse import parse_transcripts

    arrow_rows = (
        parse_transcripts(df, parser="arrow")
        .select("idx", *cols)
        .orderBy("idx")
        .collect()
    )

    mismatches = []
    for i, row in enumerate(expr_out):
        r = row.asDict()
        a_row = arrow_rows[i].asDict()
        p = pd_out.iloc[i]
        for col in cols:
            e, b, a = r[col], normalize(p[col]), normalize(a_row[col])
            if not (e == b == a):
                mismatches.append((i, lines[i], col, {"expr": e, "pandas": b, "arrow": a}))
    assert not mismatches, f"{len(mismatches)} mismatches, first 5: {mismatches[:5]}"
    null_row = expr_out[len(lines) - 1]
    assert null_row["parse_error_kind"] == "EmptyLine"


# Lines where the expr parser's Java regexes and string functions could
# read a line differently from the Arrow parser's RE2 and the pandas
# parser's Python ones.  The fuzz suite is random and may never produce
# them; expr, arrow and pandas must agree on every event column, and on
# the values pinned here.
EDGE_CASES = [
    # only ASCII spaces are stripped: a leading tab or no-break space is
    # part of the time token, so the event name is "0"
    ("tab", "\t 0:01 Kill: 1 2 3: A killed B by MOD_X",
     {"parse_error_kind": "UnknownEventName"}),
    ("nbsp", "\u00a0 0:01 Kill: 1 2 3: A killed B by MOD_X",
     {"parse_error_kind": "UnknownEventName"}),
    ("nbsp_in_time", " \u00a00:01 Kill: 1 2 3: A killed B by MOD_X",
     {"event_type": "Kill", "killer_name": "A", "victim_name": "B"}),
    # split_once(" killed ") then rsplit_once(" by ")
    ("two_killed_two_by", " 0:01 Kill: 1 2 3: A killed B killed C by D by MOD_X",
     {"event_type": "Kill", "killer_name": "A", "victim_name": "B killed C by D",
      "reason_name": "MOD_X"}),
    ("killed_at_start", " 0:01 Kill: 1 2 3:  killed B by MOD_X",
     {"event_type": "Kill", "killer_name": "", "victim_name": "B"}),
    ("by_overlap", " 0:01 Kill: 1 2 3: A killed B by by MOD_X",
     {"event_type": "Kill", "victim_name": "B by", "reason_name": "MOD_X"}),
    # a trailing line terminator is part of the last field: the reason
    # keeps its '\r', an id with one is no number (Java's `$` matches
    # before a final '\r' or '\n', Python's before a final '\n', RE2's
    # at the very end only, so every parser anchors at the true end)
    ("kill_cr", " 0:01 Kill: 1 2 3: A killed B by MOD_X\r",
     {"event_type": "Kill", "victim_name": "B", "reason_name": "MOD_X\r"}),
    ("kill_id_cr", " 0:01 Kill: 1\r 2 3: A killed B by MOD_X",
     {"parse_error_kind": "UnknownDataFormat"}),
    ("connect_cr", " 0:01 ClientConnect: 7\r",
     {"parse_error_kind": "UnparseableNumber"}),
    ("init_cr", " 0:00 InitGame: \\fraglimit\\20\r",
     {"event_type": "InitGame", "frag_limit": None}),
    ("connect_nl", " 0:01 ClientConnect: 7\n",
     {"parse_error_kind": "UnparseableNumber"}),
    ("kill_nl", " 0:01 Kill: 1 2 3: A killed B by MOD_X\n",
     {"parse_error_kind": "UnknownDataFormat"}),
    # `.` matches no newline: a victim holding one has no " by " match
    ("victim_nl", " 0:01 Kill: 1 2 3: A killed B\nC by MOD_X",
     {"parse_error_kind": "UnknownDataFormat"}),
    ("killer_nl", " 0:01 Kill: 1 2 3: A\nZ killed B by MOD_X",
     {"event_type": "Kill", "killer_name": "A\nZ", "victim_name": "B"}),
    # `.` matches every other line terminator, as RE2's and Python's do
    # (Java's own `.` refuses U+2028 without the (?d) flag)
    ("victim_line_separator", " 0:01 Kill: 1 2 3: A killed B\u2028C by MOD_X",
     {"event_type": "Kill", "victim_name": "B\u2028C", "reason_name": "MOD_X"}),
    ("kill_id_arabic_digit", " 0:01 Kill: ١ 2 3: A killed B by MOD_X",
     {"parse_error_kind": "UnknownDataFormat"}),
    ("kill_id_minus", " 0:01 Kill: -0 2 3: A killed B by MOD_X",
     {"parse_error_kind": "UnknownDataFormat"}),
    ("kill_id_plus", " 0:01 Kill: +7 2 3: A killed B by MOD_X",
     {"event_type": "Kill", "killer_id": 7}),
    # score: the client values are the third ": "-separated item
    ("score_extra_colon", " 0:01 score: 7  ping: 1  client: 2 Na: me",
     {"event_type": "Score", "frags": 7, "client_id": 2, "name": "Na"}),
    ("score_minus_plus", " 0:01 score: -7  ping: 1  client: +2 X",
     {"event_type": "Score", "frags": -7, "client_id": 2}),
    ("red_no_blue_value", " 0:01 red:8  blue:",
     {"parse_error_kind": "UnparseableNumber"}),
    ("red_trailing_space", " 0:01 red:8 ", {"parse_error_kind": "UnknownDataFormat"}),
    ("userinfo_no_space", " 0:01 ClientUserinfoChanged: 2",
     {"parse_error_kind": "UnknownDataFormat"}),
    ("userinfo_name_later", " 0:01 ClientUserinfoChanged: 2 t\\0\\n\\Zoë",
     {"event_type": "ClientUserinfoChanged", "name": "Zoë"}),
    ("userinfo_n_in_value", " 0:01 ClientUserinfoChanged: 2 t\\an\\",
     {"parse_error_kind": "AbsentKey"}),
    ("non_ascii_kill", " 0:01 Kill: 1 2 3: Jöhn killed 世界 by MOD_Ü",
     {"event_type": "Kill", "killer_name": "Jöhn", "victim_name": "世界",
      "reason_name": "MOD_Ü"}),
    ("non_ascii_score", " 0:01 score: 3  ping: 1  client: 4 Ñandú",
     {"event_type": "Score", "name": "Ñandú"}),
]


class TestEdgeCases:
    @pytest.fixture(scope="class")
    def parsed(self, spark):
        from quake3_log_analyser_spark.operators.parse import parse_transcripts

        lines = [line for _, line, _ in EDGE_CASES]
        df = spark.createDataFrame(list(enumerate(lines)), "idx int, text string")
        out = {}
        for parser in ("expr", "arrow"):
            rows = parse_transcripts(df, parser=parser).orderBy("idx").collect()
            out[parser] = [r.asDict() for r in rows]
        pdf = parse_lines_pd(pd.Series(lines))
        out["pandas"] = [
            {c: (None if pd.isna(v) else getattr(v, "item", lambda: v)())
             for c, v in pdf.iloc[i].items()}
            for i in range(len(lines))
        ]
        return out

    @pytest.mark.parametrize(
        "i,line,expected", [(i, c[1], c[2]) for i, c in enumerate(EDGE_CASES)],
        ids=[c[0] for c in EDGE_CASES],
    )
    def test_parsers_agree(self, parsed, i, line, expected):
        e, a, p = (parsed[k][i] for k in ("expr", "arrow", "pandas"))
        diff = {
            c: {"expr": e[c], "arrow": a[c], "pandas": p[c]}
            for c in EVENT_COLUMN_NAMES
            if not (e[c] == a[c] == p[c])
        }
        assert not diff, f"line {line!r}: {diff}"
        for k, v in expected.items():
            assert e[k] == v, f"line {line!r}: {k} = {e[k]!r}, want {v!r}"


def test_parse_pedantic_rejects_non_arrow_parsers(spark):
    from quake3_log_analyser_spark.operators.parse import parse_transcripts
    from quake3_log_analyser_spark.sources.transcripts import transcripts_from_lines

    t = transcripts_from_lines(spark, [" 0:00 ShutdownGame:"], "c0")
    with pytest.raises(ValueError, match="arrow"):
        parse_transcripts(t, parser="expr", pedantic=True)
