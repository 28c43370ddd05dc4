"""Repeated-substring spans across documents, and their removal.

``duplicated_spans`` finds maximal token runs that occur in at least
``min_docs`` documents; ``strip_spans`` drops them from the text.  Both
are compositions of built-in DataFrame ops, shuffle-by-gram-hash and
never all-pairs.  No pipeline module imports them; the
``duplicated_spans`` registry row in ``__spark_entry__.py`` and
tests/test_training_ops.py exercise them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
