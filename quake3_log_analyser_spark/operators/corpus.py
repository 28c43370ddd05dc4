"""End-to-end training-corpus cleaning: the integrative pipeline a
large-scale LLM data build runs over raw documents, composed from the
operators this package already ships:

  1. **exact dedup** — drop every document whose normalized content
     fingerprint collapses onto a smaller-id survivor
     (``dedup.dedup_survivors``);
  2. **quality + language gate** — keep documents whose heuristic
     quality score clears a threshold and whose n-gram language guess is
     in the allowed set (``functions.text``);
  3. **near-dup removal** — MinHash+LSH pairs over the gated set
     (``dedup.minhash_lsh_pairs``), dropping the LARGER doc id of every
     verified pair (the greedy keep-min rule: deterministic, one
     anti-join, and reproducible in plain SQL — the whole pipeline has a
     DuckDB twin in the driver's oracle gate).

Every stage is hash-partitioned work (fingerprint groupBy, per-row
scoring, banded LSH join) — no all-pairs anywhere, the 100 TB posture of
the underlying operators carries through the composition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def clean_corpus(
    docs: DataFrame,
    min_quality: float = 0.45,
    langs: tuple[str, ...] = ("en",),
    n: int = 1,
    n_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
    salts: int = 1,
    survivorship: str = "greedy",
) -> DataFrame:
    """Raw documents -> the cleaned corpus ``(doc_id, quality, lang_guess)``.

    ``quality`` is rounded to 4 dp BEFORE the threshold comparison so the
    gate decision cannot flip on a cross-engine double ulp (the same
    discipline the standalone quality query uses).  The default near-dup
    drop rule is greedy keep-min: any document appearing as the larger
    side of a verified pair is removed — single-pass, join-only,
    reproducible in plain SQL, but it treats each pair independently
    (chains drop transitively without being declared one cluster, and a
    star keeps rim docs whose ids sort below the hub).
    ``survivorship="cc"`` instead clusters the verified-pair graph with
    an iterative connected-components pass (``dedup.
    neardup_survivors_cc``) and keeps each cluster's minimum id —
    cluster-exact, the usual large-corpus production semantics.

    ``salts > 1`` routes the exact-dedup survivor join-back through the
    explicit salted join (operators.skew) — the crawl-corpus reality of a
    viral boilerplate document whose fingerprint holds a large share of
    all rows; measured default-vs-salted in the retired round harness
    (``dedup_hot``).
    """
    from ..functions.text import lang_guess, quality_score
    from .dedup import dedup_survivors, minhash_lsh_pairs, neardup_survivors_cc

    if survivorship not in ("greedy", "cc"):
        raise ValueError(f"survivorship must be 'greedy' or 'cc', got {survivorship!r}")
    removed = dedup_survivors(docs, text_col, id_col, salts=salts).select(
        F.col("doc_id").alias(id_col)
    )
    survivors = docs.join(removed, id_col, "left_anti")
    gated = survivors.select(
        F.col(id_col),
        F.col(text_col),
        F.round(quality_score(F.col(text_col)), 4).alias("quality"),
        lang_guess(F.col(text_col)).alias("lang_guess"),
    ).filter(
        (F.col("quality") >= min_quality) & F.col("lang_guess").isin(list(langs))
    )
    near = minhash_lsh_pairs(
        gated, text_col, id_col, n=n, n_hashes=n_hashes, bands=bands,
        threshold=threshold,
    )
    if survivorship == "cc":
        dropped = neardup_survivors_cc(near).select(
            F.col("doc_id").alias(id_col)
        )
    else:
        dropped = near.select(F.col("doc_b").alias(id_col)).distinct()
    return gated.join(dropped, id_col, "left_anti").select(
        id_col, "quality", "lang_guess"
    )
