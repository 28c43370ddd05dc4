"""Seeded input generator for the benchmark.

Builds the transcript tables the workloads read, in the shape of
``schemas.TRANSCRIPT_SCHEMA`` (conv_id, turn_idx, role, text, tool, ts),
plus the pre-seeded checkpoint of the resumable plan.  The same
(table, seed, turns) always yields byte-identical parquet; results are
cached on disk under that key, so the program only ever sees the
generated files and generation stays outside every timing.

Two grammars:

* ``kills`` — kill-heavy match blocks (InitGame, connects, many Kill
  lines, items, scores, Exit, ShutdownGame, a comment), a few malformed
  lines, and an unterminated match at the end of every conversation.
* ``chat`` — the same match skeleton with agent-transcript-length free
  text: at least half the turns are ``say`` lines or ``tool_result``
  lines (an unknown event name, so they land in the dead-letter sink).
  Players rename, disconnect and reconnect mid-match, and conversation 0
  holds about a tenth of all turns (the hot key).

Neither grammar produces event-model violations, so every completed
match yields exactly one summary row and no error rows.
"""

from __future__ import annotations

import datetime as dt
import random
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

# means-of-death codes the program's dictionary knows
# (datagen.MEANS_OF_DEATH) plus a few it does not, so the enrich
# stage's unknown-code diagnostic has work to do
KNOWN_MEANS = [
    (1, "MOD_SHOTGUN"), (3, "MOD_MACHINEGUN"), (6, "MOD_ROCKET"),
    (7, "MOD_ROCKET_SPLASH"), (10, "MOD_RAILGUN"), (19, "MOD_FALLING"),
    (22, "MOD_TRIGGER_HURT"),
]
UNKNOWN_MEANS = [(4, "MOD_GRENADE"), (8, "MOD_PLASMA"), (11, "MOD_LIGHTNING")]
WORLD_ID = 1022

NAMES = [
    "Isgalamido", "Zeh", "Dono da Bola", "Assasinu Credi", "Mal",
    "Oootsimo", "Chessus", "Maluquinho", "UnnamedPlayer", "Fasano Again",
]
WORDS = (
    "the a to of and in is it that for on with as this be are was file run "
    "test error build output line value config return import function class "
    "module path result check data table query index parse stage shuffle "
    "window aggregate session match kill player score route sink commit "
    "checkpoint resume partition executor driver worker memory spill sort "
    "hash join broadcast plan codegen stack trace warning info debug retry"
).split()
ROLES = ["system", "user", "assistant", "tool"]
TOOLS = ["bash", "editor", "search", "browser", "none"]

CHECKPOINT_UNITS = 16
CHECKPOINT_COMMITTED = 12
_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
_FILES = 8  # parquet files per table: enough splits for local[4]


class _Clock:
    """Game clock rendered like the reference logs (``'%3d:%02d'``)."""

    def __init__(self, rng: random.Random) -> None:
        self.rng = rng
        self.t = 0

    def __call__(self) -> str:
        self.t += self.rng.randrange(0, 4)
        m, s = divmod(self.t, 60)
        return f"{m % 1000:3d}:{s:02d}"


def _free_text(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choices(WORDS, k=rng.randrange(lo, hi)))


def _kill(rng: random.Random, clk: _Clock, live: dict[int, str]) -> str:
    ids = list(live)
    victim = rng.choice(ids)
    rid, rname = (
        rng.choice(UNKNOWN_MEANS) if rng.random() < 0.1 else rng.choice(KNOWN_MEANS)
    )
    if rng.random() < 0.25 or len(ids) == 1:
        killer, kname = WORLD_ID, "<world>"
    else:
        killer = rng.choice([i for i in ids if i != victim])
        kname = live[killer]
    return (
        f"{clk()} Kill: {killer} {victim} {rid}: {kname} killed "
        f"{live[victim]} by {rname}"
    )


def _match(rng: random.Random, chat: bool, budget: int, complete: bool) -> list[str]:
    """One match of about ``budget`` lines; ``complete=False`` leaves it
    unterminated (no ShutdownGame), which must emit no summary."""
    clk = _Clock(rng)
    out = [
        f"{clk()} InitGame: \\sv_floodProtect\\1\\sv_maxPing\\0\\fraglimit\\20"
        f"\\timelimit\\15\\capturelimit\\8\\mapname\\q3dm17"
    ]
    n_players = rng.randrange(2, 7)
    pool = rng.sample(NAMES, n_players)
    live: dict[int, str] = {}
    away: dict[int, str] = {}
    renames = 0

    def join(cid: int, name: str) -> None:
        out.append(f"{clk()} ClientConnect: {cid}")
        out.append(
            f"{clk()} ClientUserinfoChanged: {cid} n\\{name}\\t\\0\\model\\sarge"
            f"\\hmodel\\sarge\\c1\\4\\c2\\5\\hc\\100\\w\\0\\l\\0"
        )
        live[cid] = name

    for k, name in enumerate(pool):
        join(2 + k, name)
    while len(out) < budget:
        r = rng.random()
        if not chat:
            if r < 0.72:
                out.append(_kill(rng, clk, live))
            elif r < 0.84:
                out.append(f"{clk()} Item: {rng.choice(list(live))} weapon_rocketlauncher")
            elif r < 0.92:
                out.append(f"{clk()} ClientBegin: {rng.choice(list(live))}")
            elif r < 0.995:
                out.append(f"{clk()} say: {live[rng.choice(list(live))]}: gg")
            else:
                out.append("this line has no event shape at all")
            continue
        if r < 0.50:
            who = live[rng.choice(list(live))]
            out.append(f"{clk()} say: {who}: {_free_text(rng, 20, 90)}")
        elif r < 0.60:
            tool = rng.choice(TOOLS[:4])
            out.append(
                f'{clk()} tool_result: {{"tool": "{tool}", "exit": '
                f'{rng.randrange(0, 3)}, "output": "{_free_text(rng, 30, 120)}"}}'
            )
        elif r < 0.78:
            out.append(_kill(rng, clk, live))
        elif r < 0.84:
            out.append(f"{clk()} Item: {rng.choice(list(live))} item_armor_shard")
        elif r < 0.87:
            out.append(f"{clk()} {'-' * 60}")
        elif r < 0.90:
            cid = rng.choice(list(live))
            renames += 1
            new = f"{live[cid].split()[0]}_{renames}"
            out.append(
                f"{clk()} ClientUserinfoChanged: {cid} n\\{new}\\t\\0\\model\\visor"
            )
            live[cid] = new
        elif r < 0.93 and len(live) > 1:
            cid = rng.choice(list(live))
            out.append(f"{clk()} ClientDisconnect: {cid}")
            away[cid] = live.pop(cid)
        elif r < 0.96 and away:
            cid = rng.choice(list(away))
            join(cid, away.pop(cid))
        elif r < 0.995:
            out.append(f"{clk()} ClientBegin: {rng.choice(list(live))}")
        else:
            out.append("malformed turn without any event separator")
    if not complete:
        return out
    for cid, name in live.items():
        out.append(
            f"{clk()} score: {rng.randrange(-5, 40)}  ping: {rng.randrange(0, 99)}"
            f"  client: {cid} {name}"
        )
    if rng.random() < 0.8:
        out.append(f"{clk()} Exit: Fraglimit hit.")
    out.append(f"{clk()} ShutdownGame:")
    out.append(f"{clk()} {'-' * 60}")
    return out


def _conversation(rng: random.Random, chat: bool, turns: int) -> list[str]:
    lines: list[str] = []
    lo, hi = (40, 160) if chat else (20, 80)
    while len(lines) < turns:
        budget = rng.randrange(lo, hi)
        complete = len(lines) + budget + 12 < turns
        lines += _match(rng, chat, budget, complete)
        if not complete:
            break  # another InitGame here would be a DoubleInit
    return lines


def build_table(kind: str, seed: int, turns: int) -> pa.Table:
    """The ``kind`` (``kills`` or ``chat``) transcript table of about
    ``turns`` rows, a pure function of its arguments."""
    if kind not in ("kills", "chat"):
        raise ValueError(f"unknown table kind {kind!r}")
    chat = kind == "chat"
    rng = random.Random(f"{kind}:{seed}")
    per_conv = 600 if chat else 400
    hot = turns // 10 if chat else 0
    sizes = [hot] if hot else []
    rest = turns - hot
    sizes += [per_conv] * max(1, rest // per_conv)
    conv, turn, role, text, tool, ts = [], [], [], [], [], []
    for c, size in enumerate(sizes):
        cid = f"conv-{seed % 10000:04d}-{c:06d}"
        lines = _conversation(rng, chat, rng.randrange(size * 3 // 4, size * 5 // 4 + 1))
        base = _EPOCH + dt.timedelta(days=c)
        for i, line in enumerate(lines):
            conv.append(cid)
            turn.append(i + 1)
            role.append(ROLES[i % 4])
            text.append(line)
            tool.append(TOOLS[(i + c) % 5])
            ts.append(base + dt.timedelta(seconds=i))
    return pa.table(
        {
            "conv_id": pa.array(conv, pa.string()),
            "turn_idx": pa.array(turn, pa.int32()),
            "role": pa.array(role, pa.string()),
            "text": pa.array(text, pa.string()),
            "tool": pa.array(tool, pa.string()),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        },
        schema=pa.schema(
            [
                pa.field("conv_id", pa.string(), nullable=False),
                pa.field("turn_idx", pa.int32(), nullable=False),
                pa.field("role", pa.string()),
                pa.field("text", pa.string()),
                pa.field("tool", pa.string()),
                pa.field("ts", pa.timestamp("us", tz="UTC")),
            ]
        ),
    )


def write_table(table: pa.Table, out_dir: Path) -> None:
    out_dir.mkdir(parents=True, exist_ok=True)
    step = -(-table.num_rows // _FILES)
    for k in range(_FILES):
        pq.write_table(
            table.slice(k * step, step),
            out_dir / f"part-{k:03d}.parquet",
            compression="zstd",
        )


def checkpoint_table(seed: int) -> tuple[pa.Table, list[int]]:
    """Checkpoint rows with 12 of the 16 units committed (plus the
    ``ops=kills`` menu marker ``plans.checkpoint`` writes); returns the
    table and the sorted pending units."""
    rng = random.Random(f"checkpoint:{seed}")
    done = sorted(rng.sample(range(CHECKPOINT_UNITS), CHECKPOINT_COMMITTED))
    units = [f"convhash={u}" for u in done] + ["ops=kills"]
    n = len(units)
    table = pa.table(
        {
            "run_id": pa.array(["seeded"] * n, pa.string()),
            "unit": pa.array(units, pa.string()),
            "n_input_rows": pa.array([0] * n, pa.int64()),
            "n_parse_errors": pa.array([0] * n, pa.int64()),
            "n_matches": pa.array([0] * n, pa.int64()),
            "wall_sec": pa.array([0.0] * n, pa.float64()),
            "committed_at": pa.array([_EPOCH] * n, pa.timestamp("us", tz="UTC")),
        }
    )
    pending = [u for u in range(CHECKPOINT_UNITS) if u not in done]
    return table, pending
