"""Deterministic synthetic transcript generator + the enrich dictionary.

Everything is generated DISTRIBUTED from ``spark.range`` with pure column
arithmetic — no driver-side loops, no wall-clock, no RNG state — so the
same generator scales from unit-test sizes to the 10^12-turn design point
(the rows-per-second cost is one codegen'd projection).

Grammar: every conversation is a cycle of 12-turn "match blocks"
(InitGame, ClientConnect, ClientUserinfoChanged, 5x Kill, score, Exit,
ShutdownGame, Comment), the line shapes lifted from the reference's parser
fixtures (quake3-server-events/src/deserializer_logs.rs:186-279).  A
configurable tail of turns is left after the last complete block, which
exercises the "unterminated match emits nothing" rule
(bll/src/summary_logic.rs:397-403).  A deterministic subset of Kill lines
is from ``<world>`` and a deterministic subset of turns is malformed
(dead-letter path).  Hot-conversation skew is a knob: conversation 0 can
receive a multiple of the average turn count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import TRANSCRIPT_SCHEMA
from .session import local_table
from .sources.transcripts import ROLES, TOOLS

BLOCK = 12  # turns per complete match block

# means-of-death dictionary (ids/names as seen in the reference fixtures,
# bll/src/summary_logic.rs:718-825)
MEANS_OF_DEATH = [
    (1, "MOD_SHOTGUN"),
    (3, "MOD_MACHINEGUN"),
    (6, "MOD_ROCKET"),
    (7, "MOD_ROCKET_SPLASH"),
    (10, "MOD_RAILGUN"),
    (19, "MOD_FALLING"),
    (22, "MOD_TRIGGER_HURT"),
]

N_PLAYERS = 5  # ids 2..6, names Player2..Player6 (id 1022 = <world>)


def dim_means_of_death(spark: SparkSession) -> DataFrame:
    return local_table(spark, MEANS_OF_DEATH, "reason_id long, reason_name string")


def generate_transcripts(
    spark: SparkSession,
    n_convs: int = 100,
    turns_per_conv: int = 100,
    malformed_per_mille: int = 5,
    hot_conv_factor: int = 1,
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic transcripts table (TRANSCRIPT_SCHEMA).

    ``hot_conv_factor > 1`` makes conv 0 that many times longer than the
    rest — the skew knob for testing AQE and hot-conversation behavior.
    """
    base = n_convs * turns_per_conv
    hot_extra = (hot_conv_factor - 1) * turns_per_conv
    total = base + hot_extra
    rows = spark.range(0, total, 1, partitions or spark.sparkContext.defaultParallelism)

    i = F.col("id")
    # rows beyond `base` all belong to conv 0 (the hot conversation)
    conv_no = F.when(i < base, (i % n_convs)).otherwise(F.lit(0)).cast("long")
    turn_no = F.when(i < base, (i / n_convs).cast("long")).otherwise(
        F.lit(turns_per_conv) + (i - base)
    )
    turn_idx = (turn_no + 1).cast("int")  # 1-based, like the reference line no.

    m = (turn_no % BLOCK).cast("int")  # position within the match block
    # deterministic per-turn entropy (pure arithmetic — identical in any engine)
    h = (i * 2654435761 + 907) % 1048576

    pid = (2 + (h % N_PLAYERS)).cast("long")  # acting player id 2..6
    vid = (2 + ((h / 7).cast("long") % N_PLAYERS)).cast("long")
    reason_ix = (h % 7).cast("int")
    reason_id = F.element_at(
        F.array(*[F.lit(r) for r, _ in MEANS_OF_DEATH]), reason_ix + 1
    )
    reason_name = F.element_at(
        F.array(*[F.lit(n) for _, n in MEANS_OF_DEATH]), reason_ix + 1
    )
    pname = F.concat(F.lit("Player"), pid)
    vname = F.concat(F.lit("Player"), vid)
    is_world = (h % 4) == 0  # every ~4th kill is a world kill

    time_s = F.format_string(
        "%2d:%02d", (turn_no / 60 % 100).cast("int"), (turn_no % 60).cast("int")
    )

    init_line = F.concat(
        time_s,
        F.lit(r" InitGame: \sv_hostname\Code Miner Server\fraglimit\20\timelimit\15\capturelimit\8\mapname\q3dm17"),
    )
    connect_line = F.concat(time_s, F.lit(" ClientConnect: "), pid)
    userinfo_line = F.concat(
        time_s, F.lit(" ClientUserinfoChanged: "), pid,
        F.lit(" n\\"), pname, F.lit(r"\t\0\model\sarge"),
    )
    kill_line = F.concat(
        time_s, F.lit(" Kill: "),
        F.when(is_world, F.lit("1022")).otherwise(pid.cast("string")),
        F.lit(" "), vid, F.lit(" "), reason_id, F.lit(": "),
        F.when(is_world, F.lit("<world>")).otherwise(pname),
        F.lit(" killed "), vname, F.lit(" by "), reason_name,
    )
    score_line = F.concat(
        time_s, F.lit(" score: "), (h % 40 - 10).cast("int"),
        F.lit("  ping: 3  client: "), pid, F.lit(" "), pname,
    )
    exit_line = F.concat(time_s, F.lit(" Exit: Timelimit hit."))
    shutdown_line = F.concat(time_s, F.lit(" ShutdownGame:"))
    comment_line = F.concat(
        time_s, F.lit(" ------------------------------------------------------------")
    )
    item_line = F.concat(time_s, F.lit(" Item: "), pid, F.lit(" ammo_rockets"))
    malformed_line = F.lit("this line has no event shape at all")

    text = (
        F.when((h % 1000) < malformed_per_mille, malformed_line)
        .when(m == 0, init_line)
        .when(m == 1, connect_line)
        .when(m == 2, userinfo_line)
        .when(m <= 7, kill_line)
        .when(m == 8, score_line)
        .when(m == 9, exit_line)
        .when(m == 10, shutdown_line)
        .when((h % 2) == 0, comment_line)
        .otherwise(item_line)
    )

    role = F.element_at(
        F.array(*[F.lit(r) for r in ROLES]), (h % len(ROLES) + 1).cast("int")
    )
    tool = F.element_at(
        F.array(*[F.lit(t) for t in TOOLS]), (h % len(TOOLS) + 1).cast("int")
    )
    ts = F.timestamp_seconds(F.lit(1704067200) + conv_no * 86400 + turn_no)

    out = rows.select(
        F.concat(F.lit("conv-"), F.format_string("%06d", conv_no)).alias("conv_id"),
        turn_idx.alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
    )
    return out
