"""Enrich stage: broadcast hash joins against small dictionaries.

The reference has no joins (SURVEY.md §2.6) — each Kill line arrives with
``reason_id`` and ``reason_name`` pre-joined (types.rs:45,48).  The
north_rule requires a real enrich stage, so this module joins the parsed
Kill events against the means-of-death dictionary with an explicit
``F.broadcast`` hint: at 10^12-turn scale the dictionary is a few KB, so
the join must never shuffle the fact side.  ``left_anti``
diagnostics surface codes the dictionary does not know.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich_kills(kills: DataFrame, dim_means: DataFrame) -> DataFrame:
    """Left-broadcast-join Kill events to the means-of-death dictionary.

    Adds ``dict_reason_name`` (the dictionary's name for the reason code)
    and ``reason_name_matches`` (consistency of the in-line name vs the
    dictionary — the enrich-stage analogue of the reference's
    DiscrepantPlayerName cross-checking idea, summary_logic.rs:224-241).
    """
    dim = F.broadcast(
        dim_means.select(
            F.col("reason_id").cast("long").alias("reason_id"),
            F.col("reason_name").alias("dict_reason_name"),
        )
    )
    out = kills.join(dim, "reason_id", "left")
    return out.withColumn(
        "reason_name_matches",
        F.col("dict_reason_name").isNotNull()
        & (F.col("dict_reason_name") == F.col("reason_name")),
    )


def unknown_reason_codes(kills: DataFrame, dim_means: DataFrame) -> DataFrame:
    """reason_ids seen in Kill events but absent from the dictionary
    (left_anti diagnostic required by the north_rule)."""
    dim = F.broadcast(dim_means.select(F.col("reason_id").cast("long").alias("reason_id")))
    return (
        kills.select("reason_id")
        .join(dim, "reason_id", "left_anti")
        .groupBy("reason_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
