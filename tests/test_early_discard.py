"""The summaries' early discard (``plans/pipeline.py::_early_discard``)
against the Arrow parser, for both token sets (the kills path and
``full_pipeline_ops()``):

* every line the parser types as a consumed event passes the filter, so
  the discard never changes a summary;
* a line passes only when its event name, found as the parsers find it
  (after leading spaces and the first space-free token), is consumed, so
  chat text that holds `` Kill:`` is dropped before the parse.

Runs on generated and hand-written lines; needs no reference fixtures."""

from __future__ import annotations

import pyarrow as pa
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from quake3_log_analyser_spark.functions.parse_arrow import parse_text_batch
from quake3_log_analyser_spark.plans.pipeline import (
    KILLS_ONLY,
    _early_discard,
    discard_tokens,
    full_pipeline_ops,
)
from quake3_log_analyser_spark.sources.transcripts import transcripts_from_lines
from tests.test_fuzz import _line

TOKEN_SETS = {
    "kills": discard_tokens(KILLS_ONLY),
    "full": discard_tokens(full_pipeline_ops()),
}
# the event type the parser gives a line with this event name
EVENT_TYPE = {"score": "Score"}

KILL = "Kill: 2 3 7: A killed B by MOD_ROCKET"
HAND_LINES = [
    f" 0:01 say: {KILL}",             # a token inside say text
    " 0:01 say: x score: 1  ping: 3  client: 2 A",
    f" 0:01  {KILL}",                 # two spaces after the time
    f"\t0:01 {KILL}",                 # a tab-led time
    f"{KILL}",                        # no space before the event name
    f"0:01 {KILL}",                   # no leading space
    f"     {KILL}",                   # leading spaces, no time
    " 0:01 Kill 2 3 7 A killed B by MOD_ROCKET",  # Kill without a colon
    f"      0:01 {KILL}",             # leading spaces
    f" 0:01 {KILL}\r",
    f" 0:01 {KILL}\n",
    f" 0:01 {KILL}\r\n",
    " 0:00 InitGame: \\fraglimit\\20\r",
    " 0:02 ShutdownGame:\n",
    " 0:02 Exit: Timelimit hit.\r",
    " 0:00 ClientConnect: 2\n",
    " 0:00 ClientUserinfoChanged: 2 n\\A\\t\\0\r",
    " 0:00 ClientDisconnect: 2",
    " 0:01 score: 5  ping: 3  client: 2 A\r\n",
    " 0:01\nKill: 2 3 7: A killed B by MOD_ROCKET",
    " 0:00 ---- Kill: comment",
    "",
    "   ",
]


def _event_name(line: str) -> str | None:
    """The event name the parsers read: the text between the first space
    after the leading spaces and the next colon."""
    _time, space, rest = line.lstrip(" ").partition(" ")
    name, colon, _data = rest.partition(":")
    return name if space and colon else None


def _check(spark, lines: list[str]) -> None:
    t = transcripts_from_lines(spark, lines, "discard")
    kept = {
        name: {
            r["turn_idx"] - 1
            for r in t.filter(_early_discard(*tokens)).select("turn_idx").collect()
        }
        for name, tokens in TOKEN_SETS.items()
    }
    types = parse_text_batch(pa.array(lines, pa.string()), ["event_type"])
    types = types["event_type"].to_pylist()
    for name, tokens in TOKEN_SETS.items():
        consumed = {EVENT_TYPE.get(tok, tok) for tok in tokens}
        dropped = [
            lines[i]
            for i, et in enumerate(types)
            if et in consumed and i not in kept[name]
        ]
        assert not dropped, f"{name}: consumed lines dropped: {dropped!r}"
        wrong = [
            line
            for i, line in enumerate(lines)
            if (i in kept[name]) != (_event_name(line) in tokens)
        ]
        assert not wrong, f"{name}: kept iff event name consumed fails on {wrong!r}"


def test_early_discard_on_hand_lines(spark):
    _check(spark, HAND_LINES)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(lines=st.lists(_line, min_size=1, max_size=40))
def test_early_discard_on_generated_lines(spark, lines):
    _check(spark, lines)
