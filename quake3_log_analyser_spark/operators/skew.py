"""Explicit skew handling: salt-key joins for hot keys (north_rule).

Where skew bites in this pipeline, and the chosen remedy for each:

* **Shuffle joins on a hot key** (a viral document's fingerprint joined
  back to its survivor, a hot conversation joined to per-conv stats):
  THIS module — the classic salted join.  The big side gets a uniform
  salt in ``[0, salts)``; the small side is exploded across every salt
  value; the join key becomes ``(key, salt)``, splitting the hot key's
  rows across ``salts`` tasks.  AQE's ``skewJoin`` (enabled in
  session.py) handles sort-merge cases adaptively at runtime; the
  explicit salt is for when the skew is KNOWN ahead of time, the join is
  not a plain SMJ (e.g. followed by an aggregation that would re-skew),
  or the planner must not depend on runtime stats.

* **Simple decomposable aggregations** (sum/count/min/max per key): NOT
  salted on purpose — Spark's partial (map-side) aggregation already
  reduces every partition to one row per key before the shuffle, so a
  hot key costs one row per upstream partition, not its full row count.
  Salting there adds a shuffle for nothing.

* **The sessionize window** (``partitionBy(conv_id)``): cannot be salted
  — match assembly is stateful over the FULL ordered turn sequence of a
  conversation, so splitting a conv across tasks breaks the semantics.
  The posture is (a) the bucketed ``session_first`` layout that removes
  the shuffle entirely and (b) measured tolerance: one conversation
  holding 10% of all turns runs at parity with uniform input
  (BENCH/BASELINE.md round 3), because a window task of a few hundred
  thousand rows is far below the straggler threshold at any realistic
  turns-per-conversation.

* **The order-dependent replay fold** (one ``mapInArrow`` stage over rows
  hash-partitioned by conv and sorted by turn, operators/summarize.py):
  same constraint and same posture as the window.  A hot conversation
  streams through its task in Arrow batches with only its O(players) fold
  state held between them, so its size costs time, not memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str | list[str],
    salts: int = 16,
    how: str = "inner",
    seed: int = 42,
) -> DataFrame:
    """Skew-safe equi-join: salt the big side, explode the small side.

    ``big``'s rows get ``_salt = floor(rand(seed) * salts)`` (uniform,
    deterministic per seed — correctness does not depend on WHICH salt a
    row gets, only that the join key matches); ``small`` is replicated
    once per salt value.  The join runs on ``on + [_salt]``, so a hot key
    spreads over ``salts`` tasks instead of one.  Row multiplicity is
    unchanged: each big row matches exactly the same small rows as the
    unsalted join (every (key, salt) pair exists on the small side).

    Use when the small side is too big to broadcast but SMALL IN TOTAL —
    dimension-ish lookups with a few hot keys.  Cost: ``salts``x
    replication of the small side through the shuffle; keep ``salts`` at
    O(tasks-per-hot-key), not hundreds.  MEASURED caveat (round 4): the
    dedup survivor-mapping join is NOT such a case at low dup rates — its
    keepers side is one row per distinct fingerprint, i.e. corpus-sized,
    and salting it 8x turned a 9 s join into a timeout at 16M rows, while
    AQE's skew-join split handled the same hot key at runtime (9.2 s vs
    11.2 s with the split disabled; the retired round harness's
    `dedup_hot` group measured it each round).  Reach for salting only after checking the small
    side's TOTAL size, or broadcast the hot keys' rows instead.

    ``how`` is restricted to joins whose output multiplicity the salting
    provably preserves (inner/left/cross from the big side, semi/anti):
    right and full outer would emit one null-padded row per salt value the
    big side didn't draw for an unmatched small key — silently wrong, so
    they raise.
    """
    SAFE = {"inner", "left", "leftouter", "left_outer", "leftsemi",
            "left_semi", "semi", "leftanti", "left_anti", "anti", "cross"}
    if how.lower().replace("_", "") not in {h.replace("_", "") for h in SAFE}:
        raise ValueError(
            f"salted_join cannot preserve row multiplicity for how={how!r}: "
            "an unmatched small-side key would surface once per salt. "
            "Swap the sides (make the salted side the preserved one) or "
            "use AQE skew-join for right/full outer."
        )
    keys = [on] if isinstance(on, str) else list(on)
    if salts < 2:
        return big.join(small, keys, how)
    # withColumn REPLACES an existing column: a pre-existing _salt on either
    # side would silently join on the caller's data instead of our salt
    for side, df in (("big", big), ("small", small)):
        if "_salt" in df.columns:
            raise ValueError(
                f"salted_join: the {side} side already has a '_salt' column; "
                "rename it before salting (the salt key would silently "
                "overwrite it and corrupt the join)"
            )
    salted_big = big.withColumn(
        "_salt", F.floor(F.rand(seed) * salts).cast("int")
    )
    salted_small = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(s) for s in range(salts)]))
    )
    return salted_big.join(salted_small, keys + ["_salt"], how).drop("_salt")
