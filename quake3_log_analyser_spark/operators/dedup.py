"""Deduplication operators for training-data pipelines.

Four strategies, each a composition of built-in DataFrame ops (the SimHash
bit-fold is the one Arrow pandas-UDF):

* exact          — hash-groupBy on the normalized-content fingerprint
* unigram/ngram Jaccard — candidate pairs within cheap buckets, verified
                   with set intersection/union
* MinHash + LSH  — shingle -> per-seed min-hash -> banded bucket join ->
                   candidate pairs -> exact-Jaccard verify
* SimHash        — 64-bit near-dup signature; Hamming-close pairs

Scale notes: every strategy is shuffle-by-signature (never all-pairs);
LSH band join is the 100 TB path — candidate generation cost is
O(rows x bands), and AQE handles hot buckets (e.g. boilerplate documents)
via skew-split.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    fingerprint_md5,
    word_ngrams,
    ws_tokens,
)


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of documents with identical normalized content."""
    keyed = df.select(
        F.col(id_col).alias("doc_id"), fingerprint_md5(F.col(text_col)).alias("fp")
    )
    return (
        keyed.groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.array_sort(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def dedup_survivors(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    salts: int = 1,
) -> DataFrame:
    """The actual dedup OUTPUT: which doc each exact duplicate collapses to.

    Returns ``(doc_id, kept_doc_id)`` for every REMOVED document (the
    survivor per fingerprint group is the minimum id — deterministic).
    Anti-joining this against the corpus yields the deduplicated table;
    shuffle-by-fingerprint, never all-pairs.

    The keepers computation itself is skew-immune (min is decomposed into
    a map-side partial), but the join BACK to the corpus puts every row of
    a hot fingerprint — a doc duplicated millions of times in a crawl —
    into one task.  The PRODUCTION remedy is AQE's skew-join split, on by
    default in session.py and measured effective (16M rows, one fp holding
    25%: 9.2 s vs 11.2 s with the split disabled — the retired round
    harness's `dedup_hot` group).
    ``salts > 1`` routes the join through ``operators.skew.salted_join``
    instead — but note the keepers side is one row per DISTINCT
    fingerprint, i.e. corpus-sized at low dup rates, and salts x
    replication then dominates (measured: 8x salting timed out at 16M
    rows where the unsalted join took 9 s).  Use salts only when the
    dup rate is high enough that keepers is small in total.
    """
    keyed = df.select(
        F.col(id_col).alias("doc_id"), fingerprint_md5(F.col(text_col)).alias("fp")
    )
    keepers = keyed.groupBy("fp").agg(F.min("doc_id").alias("kept_doc_id"))
    if salts > 1:
        from .skew import salted_join

        joined = salted_join(keyed, keepers, "fp", salts=salts)
    else:
        joined = keyed.join(keepers, "fp")
    return (
        joined
        .filter(F.col("doc_id") != F.col("kept_doc_id"))
        .select("doc_id", "kept_doc_id")
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 1,
    threshold: float = 0.6,
) -> DataFrame:
    """Near-dup pairs by word n-gram Jaccard — the ORACLE-VERIFY BASELINE.

    Candidates are restricted to the same/adjacent log2 size bucket, which
    is complete only for ``threshold >= 0.5`` (J >= t forces |a|/|b| within
    [t, 1/t] ⊆ [0.5, 2]); lower thresholds raise ValueError.  Within one
    bucket the join is all-pairs, i.e. O(n²) for uniform-length corpora —
    correct but NOT the 100 TB path.  Production near-dup should use
    ``minhash_lsh_pairs`` (bucketed, never all-pairs); this operator exists
    as the exact baseline the LSH recall is measured against.
    """
    if threshold < 0.5:
        raise ValueError(
            f"jaccard_pairs requires threshold >= 0.5 (got {threshold}): the "
            "±1 log2-size-bucket probe is only complete above 0.5 — use "
            "minhash_lsh_pairs for lower thresholds"
        )
    shingled = df.select(
        F.col(id_col).alias("doc_id"),
        (
            F.array_distinct(F.transform(ws_tokens(F.col(text_col)), F.lower))
            if n == 1
            else word_ngrams(F.col(text_col), n)
        ).alias("grams"),
    ).filter(F.size("grams") > 0)
    # bucket by log2 of set size: J(a,b) >= t forces |a|/|b| in [t, 1/t],
    # so true pairs land in the same or adjacent bucket
    bucketed = shingled.withColumn(
        "bucket", F.floor(F.log2(F.size("grams"))).cast("int")
    )
    a = bucketed.alias("a")
    joined = None
    # J >= 0.5 forces |a|/|b| within 2x, i.e. same or ADJACENT log2 bucket;
    # doc_id ordering is independent of bucket order, so probe both sides
    for shift in (-1, 0, 1):
        b = bucketed.withColumn("bucket", F.col("bucket") + shift).alias("b")
        j = a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.grams").alias("grams_a"),
            F.col("b.grams").alias("grams_b"),
        )
        joined = j if joined is None else joined.unionByName(j)
    pairs = (
        joined.dropDuplicates(["doc_a", "doc_b"])
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect("grams_a", "grams_b"))
                / F.size(F.array_union("grams_a", "grams_b"))
            ).alias("jaccard"),
        )
    )
    return pairs.filter(F.col("jaccard") >= threshold)


def _shingled(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """``(doc_id, grams)`` — the distinct word-``n``-gram set per doc."""
    return df.select(
        F.col(id_col).alias("doc_id"), word_ngrams(F.col(text_col), n).alias("grams")
    ).filter(F.size("grams") > 0)


def _minhash_hex(col, seed: int):
    """The 15-hex-char (60-bit) prefix of ``md5('seed<i>:' ++ gram)`` —
    the STRING form of ``functions.text.minhash_hash`` before its
    base-16 -> base-10 ``conv``.  Kept as hex through the min-aggregation
    (see ``_doc_min_hex``); ``conv`` runs once per (doc, seed) after the
    agg instead of once per gram occurrence."""
    return F.substring(F.md5(F.concat(F.lit(f"seed{seed}:"), col)), 1, 15)


def _doc_min_hex(shingled: DataFrame, n_hashes: int) -> DataFrame:
    """Per-document MinHash signature as ``(doc_id, _s0.._s{n-1})`` — the
    per-seed MIN of the 15-hex-char hash prefix over the doc's grams.

    This is ``minhash_signature`` restructured for codegen (round-7):
    the per-doc higher-order form (16 x ``array_min(transform(grams,
    md5+conv))``) evaluates interpreted — CodegenFallback per element,
    one conv per gram occurrence per seed.  Exploding the grams and
    hashing them as 16 plain projections keeps the whole pass in
    whole-stage codegen, and the per-doc min is a partial-aggregable
    hash aggregate (map-side combine, near-nothing shuffled).  Measured
    on the 200k-doc neardup bench: the banding pass drops 11.5 s ->
    ~3.5 s with byte-identical (doc_id, band, bucket) output (pinned in
    tests).

    Correctness of the hex-string min: md5 hex is fixed-length lowercase
    ('0'-'9' < 'a'-'f' in UTF-8), so lexicographic order == numeric
    order and ``min(hex) == hex_of(min)``; ``conv(hex, 16, 10)`` after
    the agg therefore equals the old per-gram ``conv`` + ``array_min``.
    Docs with empty gram sets simply vanish at the explode — the same
    net effect as the NULL-signature rule (``_shingled`` already filters
    them out upstream)."""
    tok = shingled.select("doc_id", F.explode("grams").alias("_g"))
    scols = [_minhash_hex(F.col("_g"), i).alias(f"_s{i}") for i in range(n_hashes)]
    return tok.select("doc_id", *scols).groupBy("doc_id").agg(
        *[F.min(f"_s{i}").alias(f"_s{i}") for i in range(n_hashes)]
    )


def _band_structs(n_hashes: int, bands: int) -> list:
    """Band/bucket structs over a ``_doc_min_hex`` row: bucket is the
    band's signature values base-10-rendered and comma-joined — exactly
    the old ``concat_ws(",", slice(sig, ...))`` key (``conv`` emits the
    same digits ``cast(long as string)`` did)."""
    rows = n_hashes // bands
    return [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                ",",
                *[F.conv(F.col(f"_s{b * rows + r}"), 16, 10) for r in range(rows)],
            ).alias("bucket"),
        )
        for b in range(bands)
    ]


def _banded_minhash(
    shingled: DataFrame,
    n_hashes: int,
    bands: int,
) -> DataFrame:
    """``(doc_id, band, bucket)`` — one SLIM row per document per band (a
    few dozen bytes: no gram payload rides the candidate join).  Shared by
    the within-corpus (``minhash_lsh_pairs``) and cross-corpus
    (``neardup_against``) paths so both sides of a cross join are banded
    with the SAME seeds and the same slice-string bucket keys."""
    sig = _doc_min_hex(shingled, n_hashes)
    return sig.select(
        "doc_id",
        F.explode(F.array(*_band_structs(n_hashes, bands))).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")


def _verify_jaccard(
    cand_ids: DataFrame,
    docs: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    a_col: str,
    b_col: str,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verification of slim candidate pairs.

    Shingles are rebuilt ONLY for documents that appear in a candidate
    pair: the distinct pair endpoints semi-join the RAW docs table first,
    then the survivors are shingled and hash-joined to the pairs.  Both
    the verify's recompute (tokenize + gram-build, the expensive
    projection) and its shuffle are therefore O(docs-in-pairs x
    gram_bytes), not O(corpus x gram_bytes) — at production dup rates
    (1-30% of docs in any candidate pair) the verify touches a small
    fraction of the corpus, and AQE turns the semi-join into a broadcast
    when the endpoint set is small."""
    ids = (
        cand_ids.select(F.col(a_col).alias("__vid"))
        .unionByName(cand_ids.select(F.col(b_col).alias("__vid")))
        .dropDuplicates(["__vid"])
    )
    needed = docs.join(
        ids, docs[id_col] == ids["__vid"], "left_semi"
    )
    sh = _shingled(needed, text_col, id_col, n)
    ga = sh.select(F.col("doc_id").alias(a_col), F.col("grams").alias("grams_a"))
    gb = sh.select(F.col("doc_id").alias(b_col), F.col("grams").alias("grams_b"))
    return (
        cand_ids.join(ga, a_col)
        .join(gb, b_col)
        .select(
            a_col,
            b_col,
            (
                F.size(F.array_intersect("grams_a", "grams_b"))
                / F.size(F.array_union("grams_a", "grams_b"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash+LSH candidate generation with exact-Jaccard verification.

    signature -> ``bands`` bands of ``n_hashes/bands`` rows; docs sharing
    any band bucket become candidates (collision prob 1-(1-J^r)^b); the
    final Jaccard check removes false positives.  This is the strategy that
    scales: no pairwise work outside shared buckets.

    Join shape (round-6): the band join carries ONLY ``(doc_id, band,
    bucket)`` — shuffle volume O(corpus x bands) in id-sized rows — and
    the gram arrays join back onto the DEDUPLICATED candidate pairs for
    the exact verify, O(pairs x gram_bytes).  The round-5 form kept each
    doc's full gram array on every banded row through the candidate join,
    making the dominant shuffle O(corpus x bands x gram_bytes) — payload
    only the verify step needs.  The verify re-shingles ONLY the docs
    that appear in a candidate pair (semi-join on the raw table first),
    so the recompute is O(docs-in-pairs), not a second full-corpus
    tokenize.  Measured (round harness ``lsh_pairs_slim`` vs
    ``lsh_pairs_carry``, round-7 in-session medians on the 200k-doc
    corpus): slim 5.2 s vs carry 4.6 s — carry is ~12% faster on this
    single box, where shuffle is DRAM-speed and the slim form pays one
    extra join-back for the verify.  Slim stays the default because its
    advantage — bands x gram_bytes LESS candidate-join shuffle — prices
    in network/disk shuffle, which a single box cannot exhibit: at
    cluster scale the carry form ships every doc's gram payload ``bands``
    times through the exchange while slim ships ids only.

    The band bucket key is the band's signature values joined as a string
    (NOT a re-hash of the slice): buckets collide exactly when the slices
    are equal, which makes the whole pipeline reproducible in the DuckDB
    oracle (md5-based ``minhash_hash``) — and removes re-hash collisions as
    a (tiny) false-candidate source.  At 10^12-row scale the wider key
    costs a few bytes per shuffle row; swap in ``F.xxhash64(key)`` if that
    ever dominates (the only effect is extra candidates that the exact
    verify removes).
    """
    sh = _shingled(df, text_col, id_col, n)
    banded = _banded_minhash(sh, n_hashes, bands)
    a, b = banded.alias("a"), banded.alias("b")
    cand_ids = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return _verify_jaccard(
        cand_ids, df, text_col, id_col, n, "doc_a", "doc_b", threshold
    )


def minhash_lsh_pairs_carry(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """The round-5 gram-carrying LSH form, kept as the bench comparison
    twin of ``minhash_lsh_pairs``: every banded row carries the doc's full
    gram array through the candidate join, so the verify needs no
    join-back — but shuffle volume O(corpus x bands x gram_bytes).
    Identical output to ``minhash_lsh_pairs`` by construction (pinned in
    tests).  Prefer the slim form everywhere; this one can win only when
    gram arrays are tiny and pairs are dense.

    The signature rides the same codegen ``_doc_min_hex`` aggregation as
    the slim form (round-7) and the gram arrays are joined back on
    ``doc_id`` before banding — one cheap extra join, after which the
    grams ride every banded row through the candidate join exactly as
    before."""
    sh = _shingled(df, text_col, id_col, n)
    banded = (
        _doc_min_hex(sh, n_hashes)
        .join(sh, "doc_id")
        .select(
            "doc_id",
            "grams",
            F.explode(F.array(*_band_structs(n_hashes, bands))).alias("bb"),
        )
        .select("doc_id", "grams", "bb.band", "bb.bucket")
    )
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.grams").alias("grams_a"),
            F.col("b.grams").alias("grams_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    verified = cands.select(
        "doc_a",
        "doc_b",
        (
            F.size(F.array_intersect("grams_a", "grams_b"))
            / F.size(F.array_union("grams_a", "grams_b"))
        ).alias("jaccard"),
    )
    return verified.filter(F.col("jaccard") >= threshold)


def dedup_against(
    new_docs: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    ref_text_col: str | None = None,
) -> DataFrame:
    """Cross-corpus EXACT dedup: drop rows of ``new_docs`` whose
    normalized content already exists anywhere in ``reference`` — the
    "don't re-train on what the last crawl already contributed" primitive
    (incremental corpus builds dedup each new batch against the
    accumulated training set, not just within itself).

    Returns ``new_docs``'s rows (original columns) that are NOT in the
    reference.  Shuffle-by-fingerprint anti-join; the reference side is
    reduced to DISTINCT fingerprints first, so a reference with heavy
    internal duplication still joins one row per distinct content.  Both
    sides can be corpus-sized — nothing is broadcast or collected.
    """
    seen = reference.select(
        fingerprint_md5(F.col(ref_text_col or text_col)).alias("_fp")
    ).distinct()
    keyed = new_docs.withColumn("_fp", fingerprint_md5(F.col(text_col)))
    return keyed.join(seen, "_fp", "left_anti").drop("_fp")


def neardup_against(
    new_docs: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Cross-corpus NEAR-dup detection: ``(doc_id, ref_doc_id, jaccard)``
    for every ``new_docs`` row whose n-gram Jaccard against some
    ``reference`` row clears ``threshold``.  Anti-join the distinct
    ``doc_id``s against ``new_docs`` to drop them.

    Same banded-MinHash strategy as ``minhash_lsh_pairs`` — both corpora
    are signed with the SAME seeds, candidates are generated only inside
    shared band buckets (no all-pairs across corpora), and the exact
    Jaccard verify removes false candidates.  The join key is
    (band, bucket), hash-partitioned; neither side is broadcast.  Same
    slim shape as ``minhash_lsh_pairs``: the band join carries ids only,
    and each side re-shingles ONLY its docs that appear in a candidate
    (semi-join on the raw frame) before joining back for the verify.
    """
    sh_a = _shingled(new_docs, text_col, id_col, n)
    sh_b = _shingled(reference, text_col, id_col, n)
    a = _banded_minhash(sh_a, n_hashes, bands).alias("a")
    b = _banded_minhash(sh_b, n_hashes, bands).alias("b")
    cand_ids = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("b.doc_id").alias("ref_doc_id"),
        )
        .dropDuplicates(["doc_id", "ref_doc_id"])
    )

    def _needed(docs: DataFrame, key: str) -> DataFrame:
        ids = cand_ids.select(F.col(key).alias("__vid")).dropDuplicates(["__vid"])
        return _shingled(
            docs.join(ids, docs[id_col] == ids["__vid"], "left_semi"),
            text_col,
            id_col,
            n,
        )

    ga = _needed(new_docs, "doc_id").select(
        F.col("doc_id"), F.col("grams").alias("grams_a")
    )
    gb = _needed(reference, "ref_doc_id").select(
        F.col("doc_id").alias("ref_doc_id"), F.col("grams").alias("grams_b")
    )
    return (
        cand_ids.join(ga, "doc_id")
        .join(gb, "ref_doc_id")
        .select(
            "doc_id",
            "ref_doc_id",
            (
                F.size(F.array_intersect("grams_a", "grams_b"))
                / F.size(F.array_union("grams_a", "grams_b"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _unpersist_local_checkpoint(df: DataFrame) -> None:
    """Best-effort release of a ``localCheckpoint``'ed frame's storage
    blocks.  ``Dataset.unpersist`` only touches cache-manager entries,
    not the RDD a localCheckpoint materialized, so without an explicit
    release an iterative algorithm accumulates every round's blocks in
    executor storage until driver GC + ContextCleaner get around to them.
    Reaches into the checkpointed plan's ``LogicalRDD`` (classic-mode
    internals); where unavailable the reference is simply dropped and the
    ContextCleaner reclaims the blocks on GC — correctness is unaffected
    either way."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_rounds: int = 50,
) -> DataFrame:
    """``(node, component)`` for every node of the pair graph, where
    ``component`` is the minimum node id reachable from it.

    Distributed min-label propagation with pointer jumping: each round
    (1) pushes every node's current label across its edges and keeps the
    per-node minimum (one hash join + one hash aggregation, both
    partitioned by node — no driver-side graph), then (2) path-halves by
    replacing each label with ITS label.  The jump step is what makes a
    length-L chain converge in O(log L) rounds instead of O(L) — the
    bound that matters when a viral template chains millions of docs.
    Per-round ``localCheckpoint`` cuts the lineage so the plan does not
    grow with rounds (on a cluster use ``spark.sparkContext.
    setCheckpointDir`` + ``checkpoint`` for executor-loss tolerance).
    Convergence is detected with a changed-label count (one action per
    round on the already-materialized frames); exceeding ``max_rounds``
    raises rather than returning half-merged components.

    The alternating large-star/small-star formulation (Kiveris et al.,
    "Connected Components in MapReduce and Beyond") has the same
    round complexity with lower per-round skew on power-law graphs;
    this min-label + jump form is preferred here for its DuckDB twin
    (a recursive CTE computes the identical min-reachable label).
    """
    sym = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    sym = sym.unionByName(
        pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
    )
    # self-loops make each node's OWN label participate in the per-round
    # min, so the loop body is a single join + aggregation with no union
    # (a union of a checkpointed frame with a derived one trips Catalyst's
    # Union constraint rewriting on complex upstreams)
    edges = (
        sym.unionByName(
            sym.select(F.col("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        new_labels = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("component").alias("component"))
        )
        # pointer jumping (path halving): component <- component's
        # component; labels are node ids, so self-join on the label
        jumped = new_labels.alias("l1").join(
            new_labels.alias("l2").select(
                F.col("node").alias("_jn"), F.col("component").alias("_jc")
            ),
            F.col("l1.component") == F.col("_jn"),
            "left",
        ).select(
            F.col("l1.node").alias("node"),
            F.coalesce(F.col("_jc"), F.col("l1.component")).alias("component"),
        ).localCheckpoint(eager=True)
        changed = (
            jumped.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        # the prior round's checkpointed labels are dead once the changed
        # count (the last reader) is computed — release their storage
        # blocks so a max_rounds-deep run holds TWO label frames, not 50
        _unpersist_local_checkpoint(labels)
        labels = jumped
        if changed == 0:
            _unpersist_local_checkpoint(edges)
            return labels
    raise ValueError(
        f"connected_components did not converge in {max_rounds} rounds — "
        "pathological graph diameter; raise max_rounds"
    )


def neardup_survivors_cc(
    pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b"
) -> DataFrame:
    """Cluster-exact near-dup survivorship: ``(doc_id, kept_doc_id)`` for
    every REMOVED document, where clusters are the connected components
    of the verified-pair graph and the survivor is each cluster's minimum
    id — the standard production semantics (one representative per
    duplicate cluster), vs the greedy keep-min rule that drops every
    ``doc_b`` of a pair: greedy keeps both endpoints of a star's outer
    rim only when their ids happen to sort below the hub, and over-drops
    chains transitively without ever declaring them one cluster."""
    cc = connected_components(pairs, a_col, b_col)
    return cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id"), F.col("component").alias("kept_doc_id")
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document (Arrow pandas UDF, numpy bit-fold).

    Token hash = first 8 md5 bytes (``hash_token``) so an external SQL
    engine (the DuckDB oracle) can recompute the identical signature;
    documents with zero whitespace tokens get a NULL signature (and are
    therefore never near-dup candidates), matching the oracle's
    ``length(trim(text)) > 0`` domain.
    """

    @F.pandas_udf("long")
    def simhash_udf(texts: pd.Series) -> pd.Series:
        shifts = np.arange(64, dtype=np.uint64)
        out = []
        for t in texts.fillna(""):
            toks = t.lower().split()
            if not toks:
                out.append(None)
                continue
            hs = np.array([hash_token(tok) for tok in toks], dtype=np.uint64)
            bits = (hs[:, None] >> shifts[None, :]) & np.uint64(1)
            acc = (2 * bits.astype(np.int64) - 1).sum(axis=0)
            sig = np.uint64(0)
            for b in np.nonzero(acc > 0)[0]:
                sig |= np.uint64(1) << np.uint64(b)
            out.append(int(np.int64(sig)))
        return pd.Series(out, dtype="Int64")

    return df.select(
        F.col(id_col).alias("doc_id"), simhash_udf(F.col(text_col)).alias("simhash")
    )


def hash_token(tok: str) -> int:
    """Deterministic 64-bit token hash: first 8 bytes of md5, big-endian.

    md5 (not FNV/xxhash) so the DuckDB oracle can recompute it:
    ``('0x' || substr(md5(tok), 1, 16))::UBIGINT``.
    """
    import hashlib

    return int.from_bytes(hashlib.md5(tok.encode("utf-8")).digest()[:8], "big")


def _band_chunks(n_bands: int) -> list[tuple[int, int]]:
    """Split 64 bits into ``n_bands`` contiguous (shift, width) chunks,
    widths as even as possible."""
    base, extra = divmod(64, n_bands)
    chunks, shift = [], 0
    for b in range(n_bands):
        width = base + (1 if b < extra else 0)
        chunks.append((shift, width))
        shift += width
    return chunks


def simhash_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  max_hamming: int = 3) -> DataFrame:
    """Hamming-close SimHash pairs via banded exact-match blocking.

    The band count is DERIVED from ``max_hamming``: with ``max_hamming + 1``
    bands, a pair within the distance bound has fewer differing bits than
    bands, so at least one band matches exactly (pigeonhole) — recall is 1.0
    by construction for any ``max_hamming <= 63``.  Candidate verification
    is an exact xor+bit_count, so false positives never survive.
    """
    if not 0 <= max_hamming <= 63:
        raise ValueError(f"max_hamming must be in [0, 63], got {max_hamming}")
    n_bands = max_hamming + 1
    sig = simhash(df, text_col, id_col).filter(F.col("simhash").isNotNull())
    banded = sig.select(
        "doc_id", "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned("simhash", shift)
                        .bitwiseAND(F.lit((1 << width) - 1 if width < 64 else -1))
                        .alias("chunk"),
                    )
                    for b, (shift, width) in enumerate(_band_chunks(n_bands))
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.chunk")
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return cands.filter(F.col("hamming") <= max_hamming)


def duplicated_spans(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_hash: str = "fast",
) -> DataFrame:
    """Cross-document repeated-substring spans — the distributed analogue
    of suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"; no reference-repo
    counterpart, LLM-pipeline extension).

    A suffix array finds every substring of >= n tokens occurring twice
    in the corpus; that global sort does not distribute.  The
    shuffle-native equivalent:

    1. every position-preserving word ``n``-gram window, hashed to an
       int64 key.  ``gram_hash="fast"`` (default) is ``xxhash64`` applied
       DIRECTLY to the token slice — no per-window gram string is ever
       materialized (measured at 15M windows: the string build + md5 was
       the dominant cost); ``gram_hash="md5"`` builds the joined gram
       string and takes 60 md5 bits, bit-reproducible in external SQL
       engines (the driver's DuckDB oracle runs this mode).  Both modes
       produce identical spans up to int64 hash collisions.
    2. gram doc-frequency: windows whose gram occurs in >= ``min_docs``
       DISTINCT docs (hash-agg on the long key — never all-pairs)
    3. flagged windows joined back on the key (shuffle join; dup-gram
       side is corpus-scale for boilerplate, so no broadcast — AQE
       skew-split owns hot grams)
    4. per-doc interval merge: running-max window over ``pos`` fuses
       overlapping/contiguous windows into maximal spans

    Any duplicated token run of length L >= n is covered end-to-end by
    its flagged windows, so the merged span recovers the full run (the
    suffix-array answer) exactly; runs < n tokens are below the
    detection floor by construction.

    Returns ``(doc_id, start_tok, end_tok, n_windows)`` — 1-based,
    end-exclusive: ``slice(tokens, start_tok, end_tok - start_tok)`` is
    the duplicated span.  Per-doc window state is bounded by document
    length, not corpus size.
    """
    from pyspark.sql import Window

    from ..functions.text import bind_once, hash60, ws_tokens

    if gram_hash not in ("fast", "md5"):
        raise ValueError(f"gram_hash must be 'fast' or 'md5', got {gram_hash!r}")

    def _windows(toks):
        # toks is a BOUND lambda variable (bind_once): referencing the
        # raw tokenize expression here would re-split the text per
        # window, O(len^2) — measured 3.2x on the 12M-window bench.
        # The window key reads its n tokens through n element_at calls,
        # NOT F.slice: the slice allocates a GenericArrayData per window
        # in this interpreted higher-order chain, and xxhash64 /
        # concat_ws over n scalar args produce byte-identical values to
        # the array form (xxhash64 seed-chains its children exactly as
        # it chains array elements; concat_ws flattens) — measured r7:
        # 3.4 s -> 0.8 s for the 15.6M-window build, parity-pinned in
        # tests.  Positions are implicit (posexplode below), so the
        # window array is a flat array<bigint>, no per-window struct.
        k = F.size(toks)
        if gram_hash == "fast":
            key = lambda i: F.xxhash64(  # noqa: E731
                *[F.element_at(toks, i + j) for j in range(n)]
            )
        else:
            key = lambda i: hash60(  # noqa: E731
                F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)])
            )
        empty = F.array().cast("array<bigint>")
        return F.when(k < n, empty).otherwise(
            F.transform(F.sequence(F.lit(1), k - n + 1), lambda i: key(i))
        )

    windows = bind_once(
        F.transform(ws_tokens(F.col(text_col)), lambda w: F.lower(w)), _windows
    )
    win = docs.select(
        F.col(id_col).alias("doc_id"), F.posexplode(windows).alias("_p0", "gram_h")
    ).select(
        "doc_id", (F.col("_p0") + 1).cast("int").alias("pos"), "gram_h"
    )
    if min_docs == 2:
        # "appears in >= 2 distinct docs" == min(doc_id) != max(doc_id):
        # cheap partial-aggregable min/max instead of the two-phase
        # exact-distinct plan (measured 18M windows: ~25% faster stage)
        dup = (
            win.groupBy("gram_h")
            .agg(F.min("doc_id").alias("_a"), F.max("doc_id").alias("_b"))
            .filter(F.col("_a") != F.col("_b"))
            .select("gram_h")
        )
    else:
        dup = (
            win.groupBy("gram_h")
            .agg(F.count_distinct("doc_id").alias("df"))
            .filter(F.col("df") >= min_docs)
            .select("gram_h")
        )
    flagged = win.join(dup, "gram_h").select("doc_id", "pos")
    prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cur = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    spans = (
        flagged.withColumn(
            "new_span",
            (
                F.col("pos")
                > F.coalesce(F.max(F.col("pos") + n).over(prev), F.lit(-1))
            ).cast("int"),
        )
        .withColumn("span_id", F.sum("new_span").over(cur))
        .groupBy("doc_id", "span_id")
        .agg(
            F.min("pos").alias("start_tok"),
            (F.max("pos") + n).alias("end_tok"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .drop("span_id")
    )
    return spans


def strip_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Remove ``duplicated_spans`` output from the documents: tokens whose
    1-based position falls inside any of the doc's ``[start_tok,
    end_tok)`` spans are dropped and the remainder re-joined with single
    spaces (tokenization is the unit the spans are defined over, so
    original inter-token whitespace inside kept regions is not
    preserved).  Docs with no spans pass through with text unchanged.

    Span lists ride a per-doc ``collect_list`` — bounded by spans per
    document (intervals are merged maximal, so at most len/n of them),
    then the token filter is a pure JVM array expression.
    """
    from ..functions.text import ws_tokens

    span_arrays = spans.groupBy(F.col(id_col)).agg(
        F.collect_list(F.struct("start_tok", "end_tok")).alias("_spans")
    )
    toks = ws_tokens(F.col(text_col))
    kept = F.filter(
        F.transform(
            toks, lambda w, i: F.struct((i + 1).alias("pos"), w.alias("w"))
        ),
        lambda t: ~F.exists(
            F.coalesce(
                F.col("_spans"),
                F.array().cast("array<struct<start_tok:int,end_tok:int>>"),
            ),
            lambda s: (t["pos"] >= s["start_tok"]) & (t["pos"] < s["end_tok"]),
        ),
    )
    cleaned = F.when(
        F.col("_spans").isNull(), F.col(text_col)
    ).otherwise(F.concat_ws(" ", F.transform(kept, lambda t: t["w"])))
    return docs.join(span_arrays, id_col, "left").withColumn(
        text_col, cleaned
    ).drop("_spans")
