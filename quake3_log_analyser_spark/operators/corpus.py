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

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _hash_hex(key_col: str, seed: int):
    """First 8 lowercase-hex chars of md5(seed || key) — a uniform
    [0, 16^8) draw that is a pure function of the ROW, not of the run."""
    return F.substring(
        F.md5(F.concat(F.lit(f"{seed}|"), F.col(key_col).cast("string"))), 1, 8
    )


def hash_sample(
    df: DataFrame, rate: float, key_col: str = "doc_id", seed: int = 0
) -> DataFrame:
    """Deterministic content-hash sampling: keep a row iff the first 8 hex
    chars of ``md5(seed|key)`` fall below ``rate`` of the hex space.

    The property a training-data split needs and ``df.sample``/``rand()``
    does NOT give: membership is a pure function of the key, so the same
    row lands in the same split on every run, every partitioning, every
    resume — and two DIFFERENT seeds give independent overlapping-free-ish
    draws for train/held-out carving.  Lowercase-hex string comparison is
    order-isomorphic to the numeric value and identical across engines,
    which is what makes the DuckDB oracle twin exact.
    """
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    if rate >= 1.0:
        return df
    # 8 fixed hex digits: equal-length lowercase-hex strings compare
    # exactly like their numeric values (a longer/padded threshold would
    # compare char-by-char and break the isomorphism)
    threshold = format(int(rate * 16**8), "08x")
    return df.filter(_hash_hex(key_col, seed) < F.lit(threshold))


def hash_split(
    df: DataFrame,
    weights: dict[str, float],
    key_col: str = "doc_id",
    seed: int = 0,
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: add ``out_col`` naming the
    split whose cumulative weight range the key's hash draw falls in.

    The leakage-safety property: assignment is a pure function of
    ``(seed, key)``, so (a) the same row lands in the same split on every
    run, partitioning, and resume, and (b) keying on a GROUP column
    (conv_id, domain, user) puts every row of the group in the same split
    — the standard guard against near-duplicate rows of one source
    straddling train and eval.  ``weights`` is an ordered mapping
    (insertion order defines the cumulative ranges) summing to 1; the
    last split absorbs the rounding remainder so every row is assigned.

    One projection, no shuffle, full codegen; exactly reproducible in SQL
    (the draw is the first 8 md5 hex chars as an integer, compared
    against precomputed integer thresholds).
    """
    if not weights:
        raise ValueError("weights must name at least one split")
    for name, w in weights.items():
        if w <= 0.0:
            raise ValueError(f"weight for {name!r} must be > 0, got {w}")
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")
    draw = F.conv(_hash_hex(key_col, seed), 16, 10).cast("long")
    names = list(weights)
    expr = None
    cum = 0.0
    for name in names[:-1]:
        cum += weights[name]
        cond = draw < F.lit(int(round(cum * 16**8)))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = (
        F.lit(names[-1]) if expr is None else expr.otherwise(F.lit(names[-1]))
    )
    return df.withColumn(out_col, expr)


def mixture_sample(
    df: DataFrame,
    weights: dict[str, float],
    source_col: str = "source",
    key_col: str = "doc_id",
    seed: int = 0,
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-source sampling rates — the training-mixture primitive
    ("CommonCrawl at 30%, books at 100%, forums at 10%").  Keep a row iff
    its deterministic hash draw falls below ITS SOURCE's rate.

    Same membership guarantees as ``hash_sample`` (pure function of
    (seed, key): stable across runs/partitionings/resumes), generalized
    to a per-stratum rate.  The rate table is a broadcast join — sources
    number in the dozens, never corpus-scale.  Sources absent from
    ``weights`` get ``default_rate`` (0.0 = drop unlisted sources, the
    explicit-manifest posture; 1.0 = pass-through).

    Unlike ``stratified_cap`` (absolute per-stratum row budgets via a
    window) this is RATE-based and window-free: one broadcast hash join,
    one filter, full codegen — the shape that holds at 10^12 rows where
    a per-source window would serialize each source through one task
    chain.
    """
    for src, rate in weights.items():
        if not 0.0 <= rate <= 1.0:
            raise ValueError(f"rate for {src!r} must be in [0, 1], got {rate}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate must be in [0, 1], got {default_rate}")
    spark = df.sparkSession
    # 9-char thresholds with the hash draw zero-padded to match: rate 1.0
    # yields "100000000", which an 8-char threshold could not express
    # (hash_sample sidesteps this with an early return; a per-source rate
    # table cannot) — equal-length lowercase hex keeps the string order
    # isomorphic to the numeric order in Spark and DuckDB alike
    rates = spark.createDataFrame(
        [(src, format(int(rate * 16**8), "09x")) for src, rate in weights.items()],
        f"{source_col} string, _rate_hex string",
    )
    default_hex = format(int(default_rate * 16**8), "09x")
    draw = F.concat(F.lit("0"), _hash_hex(key_col, seed))
    return (
        df.join(F.broadcast(rates), source_col, "left")
        .filter(draw < F.coalesce("_rate_hex", F.lit(default_hex)))
        .drop("_rate_hex")
    )


def epoch_mixture(
    df: DataFrame,
    epochs: dict[str, float],
    source_col: str = "source",
    key_col: str = "doc_id",
    seed: int = 0,
    default_epochs: float = 0.0,
    epoch_col: str = "epoch",
) -> DataFrame:
    """Mixture weights that may EXCEED 1.0 — the upsampling form real
    pretraining mixtures use ("Wikipedia ×2.5, CommonCrawl ×0.3", the
    Pile / Llama recipe).  Each row is replicated ``floor(e)`` times,
    plus one more iff its deterministic hash draw falls below
    ``frac(e)``; the copy index is exposed as ``epoch`` (0-based) so
    downstream shuffling/packing can interleave copies instead of
    emitting them back-to-back.

    Pure map-side: one broadcast join against the dozens-row epoch
    table, one filter, one ``explode(sequence(...))`` — no shuffle, no
    window, so the op costs exactly the bytes it emits at any corpus
    size.  Fractional membership is the same pure-(seed, key) draw as
    ``hash_sample``: stable across runs, partitionings, and resumes.
    ``epochs`` values with inexact binary fractions replicate at
    ``floor(value * 16^8) / 16^8`` — exact for the halves/quarters real
    mixture configs use.

    Rows whose source is absent from ``epochs`` get ``default_epochs``
    (0.0 = drop unlisted sources, the explicit-manifest posture).
    """
    for src, e in epochs.items():
        if e < 0.0:
            raise ValueError(f"epochs for {src!r} must be >= 0, got {e}")
    if default_epochs < 0.0:
        raise ValueError(f"default_epochs must be >= 0, got {default_epochs}")
    spark = df.sparkSession
    rates = spark.createDataFrame(
        [
            (src, int(e), format(int((e - int(e)) * 16**8), "08x"))
            for src, e in epochs.items()
        ],
        f"{source_col} string, _whole int, _frac_hex string",
    )
    d_whole = F.lit(int(default_epochs))
    d_frac = F.lit(format(int((default_epochs - int(default_epochs)) * 16**8), "08x"))
    draw = _hash_hex(key_col, seed)
    n = F.coalesce("_whole", d_whole) + F.when(
        draw < F.coalesce("_frac_hex", d_frac), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        df.join(F.broadcast(rates), source_col, "left")
        .withColumn("_n_copies", n)
        # filter BEFORE the explode: Spark's sequence(0, -1) would step
        # DOWNWARD ([0, -1]), fabricating two copies of a dropped row
        .filter(F.col("_n_copies") >= 1)
        .withColumn(
            epoch_col, F.explode(F.sequence(F.lit(0), F.col("_n_copies") - 1))
        )
        .drop("_whole", "_frac_hex", "_n_copies")
    )


#: hex-digit alphabet shared by ``block_shuffle``'s Spark expression and
#: its SQL oracle twin: ``instr(_HEX, c) - 1`` is the hex digit's value
#: in any engine that has ``instr``, which sidesteps the engines'
#: mutually-incompatible hex-parse builtins (Spark ``conv`` / DuckDB
#: ``from_hex``).
_HEX = "0123456789abcdef"


def block_shuffle(
    df: DataFrame,
    n_blocks: int = 64,
    key_col: str = "doc_id",
    seed: int = 0,
    block_col: str = "block",
    pos_col: str = "pos",
) -> DataFrame:
    """Deterministic training-order shuffle: a reproducible global
    permutation of the corpus as ``(block, pos)`` — read blocks in order,
    rows within a block in ``pos`` order, and every run/resume sees the
    SAME order (``orderBy(rand())`` does not survive either).

    A global ``row_number()`` would serialize the corpus through one
    task (the ``build_vocab`` lesson); instead the permutation is
    hierarchical: ``block`` = first two hex digits of the row's
    ``md5(seed|key)`` draw mod ``n_blocks`` (uniform, content-derived),
    ``pos`` = rank within the block by the full draw.  The window is
    PARTITIONED by block, so each block ranks in its own task chain and
    ``n_blocks`` scales with the corpus to keep blocks one-task-sized.
    At 10^12 rows this is one hash shuffle on ``block`` + a per-block
    sort — the terasort cost floor any true global shuffle pays.
    """
    if not 1 <= n_blocks <= 256:
        # two hex digits carry 256 distinct values; more blocks than
        # that would leave block ids empty (modulo of a 0..255 draw)
        raise ValueError(f"n_blocks must be in [1, 256], got {n_blocks}")
    draw = _hash_hex(key_col, seed)
    block = F.expr(
        f"CAST((((instr('{_HEX}', substring(_draw, 1, 1)) - 1) * 16"
        f" + (instr('{_HEX}', substring(_draw, 2, 1)) - 1))"
        f" % {int(n_blocks)}) AS INT)"
    )
    w = Window.partitionBy(block_col).orderBy(F.col("_draw"), F.col(key_col))
    return (
        df.withColumn("_draw", draw)
        .withColumn(block_col, block)
        .withColumn(pos_col, F.row_number().over(w).cast("bigint"))
        .drop("_draw")
    )


def stratified_cap(
    df: DataFrame,
    strata_col: str,
    n_per_stratum: int,
    key_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Deterministic per-stratum quota: keep at most ``n_per_stratum``
    rows per stratum, chosen by hash order (a reproducible uniform draw,
    not head-of-file bias).  The standard corpus-mixing primitive — cap
    each source/language/domain at a budget.  One window per stratum;
    hash order ties broken by the key itself for total determinism.
    """
    w = Window.partitionBy(strata_col).orderBy(
        _hash_hex(key_col, seed), F.col(key_col)
    )
    return (
        df.withColumn("_strat_rk", F.row_number().over(w))
        .filter(F.col("_strat_rk") <= n_per_stratum)
        .drop("_strat_rk")
    )


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


def contaminated_docs(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    min_hits: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing >= ``min_hits``
    distinct word ``n``-grams with ANY benchmark/eval document.

    The canonical test-set-leakage sweep of a training-data build.  Spark
    shape: both sides explode their (lowercased, whitespace-tokenized)
    distinct shingle sets and hash-join on the GRAM — never an all-pairs
    doc comparison.  Eval sets are small, so the exploded benchmark grams
    get a broadcast hint by default (a map-side join against a 10^12-row
    corpus); pass ``broadcast_benchmark=False`` for a giant blocklist,
    which then rides a plain shuffle join + AQE.  Returns
    ``(doc_id, n_hits)`` for flagged docs — ``left_anti`` it against the
    corpus to decontaminate.
    """
    from ..functions.text import word_ngrams

    bench_grams = benchmark.select(
        F.explode(word_ngrams(F.col(bench_text_col), n)).alias("gram")
    ).distinct()
    if broadcast_benchmark:
        bench_grams = F.broadcast(bench_grams)
    doc_grams = docs.select(
        F.col(id_col),
        F.explode(word_ngrams(F.col(text_col), n)).alias("gram"),
    )
    return (
        doc_grams.join(bench_grams, "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .filter(F.col("n_hits") >= min_hits)
    )


def repetition_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Intra-document repetition — the Gopher/RefinedWeb quality rule
    family: per doc, the fraction of (trimmed, non-blank) segments that
    are duplicates of an earlier segment, and the share held by the
    single most-repeated one.  ``sep`` is a REGEX choosing the segment
    unit — lines (default) or sentence-ish units (``r"\\. "``).
    Boilerplate, navigation chrome and degenerate generations all light
    up here.  Docs with no non-blank segment emit no row.  Two hash
    aggregations, no window, no Python; ratios rounded to 4 dp so the
    DuckDB twin hashes identically.
    """
    lines = (
        docs.select(
            F.col(id_col), F.explode(F.split(F.col(text_col), sep)).alias("raw")
        )
        .select(id_col, F.trim("raw").alias("line"))
        .filter(F.col("line") != "")
    )
    per = lines.groupBy(id_col, "line").agg(F.count(F.lit(1)).alias("cnt"))
    return per.groupBy(id_col).agg(
        F.sum("cnt").alias("n_lines"),
        F.round((F.sum("cnt") - F.count(F.lit(1))) / F.sum("cnt"), 4).alias(
            "dup_line_ratio"
        ),
        F.round(F.max("cnt") / F.sum("cnt"), 4).alias("top_line_share"),
    )


def classifier_score(
    docs: DataFrame,
    weights: DataFrame,
    n_buckets: int = 1 << 18,
    n: int = 1,
    bias: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_weights: bool = True,
) -> DataFrame:
    """Hashed bag-of-n-grams linear classifier score — the fastText-style
    quality/domain scorer every corpus build runs at full scale (e.g.
    the CCNet / GPT-3 "looks like reference text" filter).  No
    reference-repo counterpart; LLM-pipeline extension.

    ``weights`` is a ``(bucket:int, weight:double)`` table for a model
    trained offline.  Each word ``n``-gram (multiplicity kept — bag, not
    set) hashes to ``bucket = hash60(gram) % n_buckets``; the doc score
    is ``sigmoid(bias + mean(weight[bucket]))`` with absent buckets
    contributing 0 — exactly a linear model over the hashed-count
    feature vector, normalized by document length.

    Spark shape: explode (linear in tokens) -> broadcast hash-join
    against the weight table (map-side at any corpus size; pass
    ``broadcast_weights=False`` for multi-GB vocabularies, which then
    ride a shuffle join + AQE) -> one hash-agg per doc.  Pure JVM
    expressions; md5-based bucketing so a SQL oracle recomputes
    identical scores.

    Returns ``(doc_id, n_grams, score)``; docs with no grams are kept
    with ``score = sigmoid(bias)`` (zero feature vector).
    """
    from ..functions.text import hash60, positional_word_ngrams

    w = weights.select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("weight").cast("double").alias("weight"),
    )
    if broadcast_weights:
        w = F.broadcast(w)
    # explode_outer keeps gram-less docs as a single null row, so one
    # scan covers scored and empty docs alike (no distinct + join-back)
    grams = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(positional_word_ngrams(F.col(text_col), n)).alias("g"),
    ).select(
        "doc_id",
        F.when(
            F.col("g").isNotNull(),
            F.pmod(hash60(F.col("g.gram")), F.lit(n_buckets)),
        ).alias("bucket"),
    )
    summed = (
        grams.join(w, "bucket", "left")
        .groupBy("doc_id")
        .agg(
            F.count("bucket").alias("n_grams"),
            F.sum(F.coalesce(F.col("weight"), F.lit(0.0))).alias("_wsum"),
        )
    )
    return summed.select(
        "doc_id",
        "n_grams",
        F.round(
            F.lit(1.0)
            / (
                F.lit(1.0)
                + F.exp(
                    -(
                        F.lit(float(bias))
                        + F.when(
                            F.col("n_grams") > 0,
                            F.col("_wsum") / F.col("n_grams"),
                        ).otherwise(F.lit(0.0))
                    )
                )
            ),
            6,
        ).alias("score"),
    )


def train_classifier(
    docs: DataFrame,
    label_col: str = "label",
    n_buckets: int = 1 << 18,
    n: int = 1,
    epochs: int = 3,
    lr: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """In-Spark trainer for the ``classifier_score`` gate: deterministic
    full-batch logistic regression over the hashed bag-of-n-grams mean
    features — the missing half of the fastText-style quality classifier
    (CCNet §4.2 trains its gate against Wikipedia positives; a corpus
    build must be able to train ON the corpus, not only consume offline
    weights).  No reference-repo counterpart; LLM-pipeline extension.

    Model and features EXACTLY match the scorer: a doc's margin is
    ``mean(weight[bucket])`` over its gram multiset (``sum(w_b * cnt_b) /
    n_grams``), so the returned ``(bucket, weight)`` table plugs straight
    into ``classifier_score`` with the same ``n_buckets``/``n``.

    Determinism discipline (the micro-unit rule): weights live in
    integer MICRO-units; every per-doc margin, per-doc
    error, per-(doc,bucket) gradient contribution and per-epoch update is
    rounded to an integer BEFORE summation, so epoch state is exact under
    any partitioning/add order and a SQL twin replays the identical
    updates (the driver's ★classifier_train oracle unrolls the epochs as
    CTEs).  Update rule per epoch::

        margin_micro(d) = round(sum_b(w_micro[b] * cnt[d,b]) / n_grams(d))
        err_micro(d)    = round((label(d) - sigmoid(margin_micro/1e6)) * 1e6)
        grad_micro(b)   = sum_d round(err_micro(d) * cnt[d,b] / n_grams(d))
        w_micro[b]     += round(lr * grad_micro(b) / n_docs)

    Scale shape per epoch: ONE broadcast join of the (bounded, <=
    ``n_buckets``-row) weight table against the cached feature frame, one
    per-doc hash-agg, one per-bucket hash-agg — the same cost class as
    one ``classifier_score`` pass, and ``epochs`` is a small constant.
    The feature frame is persisted once (it is read ``epochs`` times); each
    epoch's weight table is localCheckpoint'ed so the plan does not grow
    exponentially with epochs.  Docs with zero grams carry no features
    and are excluded from training (they cannot move any weight).

    Returns ``(bucket, w_micro, weight)`` — ``weight = w_micro / 1e6``
    is what ``classifier_score`` consumes.
    """
    from ..functions.text import hash60, positional_word_ngrams

    if epochs < 1:
        raise ValueError(f"epochs must be >= 1, got {epochs}")
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(label_col).cast("double").alias("label"),
        F.col(text_col).alias("_text"),
    )
    cnts = (
        base.select(
            "doc_id",
            F.explode(positional_word_ngrams(F.col("_text"), n)).alias("g"),
        )
        .select(
            "doc_id", F.pmod(hash60(F.col("g.gram")), F.lit(n_buckets)).alias("bucket")
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ngrams = cnts.groupBy("doc_id").agg(F.sum("cnt").alias("n_grams"))
    feats = (
        cnts.join(ngrams, "doc_id")
        .join(base.select("doc_id", "label"), "doc_id")
        .persist()
    )
    n_docs = feats.select("doc_id").distinct().count()
    if n_docs == 0:
        feats.unpersist()
        raise ValueError("train_classifier needs at least one doc with grams")

    from .dedup import _unpersist_local_checkpoint

    w = None  # epoch-0 weights are all zero (implicit)
    try:
        for _ in range(epochs):
            if w is None:
                margins = (
                    feats.groupBy("doc_id")
                    .agg(
                        F.first("label").alias("label"),
                        F.first("n_grams").alias("n_grams"),
                    )
                    .withColumn("margin_micro", F.lit(0).cast("long"))
                )
            else:
                margins = (
                    feats.join(F.broadcast(w), "bucket", "left")
                    .groupBy("doc_id")
                    .agg(
                        F.first("label").alias("label"),
                        F.first("n_grams").alias("n_grams"),
                        F.round(
                            F.sum(F.coalesce("w_micro", F.lit(0)) * F.col("cnt"))
                            / F.first("n_grams")
                        )
                        .cast("long")
                        .alias("margin_micro"),
                    )
                )
            errs = margins.select(
                "doc_id",
                F.round(
                    (
                        F.col("label")
                        - F.lit(1.0)
                        / (F.lit(1.0) + F.exp(-(F.col("margin_micro") / F.lit(1e6))))
                    )
                    * F.lit(1e6)
                )
                .cast("long")
                .alias("err_micro"),
            )
            grads = (
                feats.join(errs, "doc_id")
                .groupBy("bucket")
                .agg(
                    F.sum(
                        F.round(
                            F.col("err_micro") * F.col("cnt") / F.col("n_grams")
                        ).cast("long")
                    ).alias("grad_micro")
                )
            )
            # every bucket with any feature appears in grads, so the new
            # weight table is grads-sided: prior weights fold in by join
            if w is None:
                stepped = grads.select(
                    "bucket",
                    F.round(F.lit(lr) * F.col("grad_micro") / F.lit(n_docs))
                    .cast("long")
                    .alias("w_micro"),
                )
            else:
                stepped = grads.join(w, "bucket", "left").select(
                    "bucket",
                    (
                        F.coalesce("w_micro", F.lit(0))
                        + F.round(F.lit(lr) * F.col("grad_micro") / F.lit(n_docs))
                        .cast("long")
                    ).alias("w_micro"),
                )
            new_w = stepped.localCheckpoint(eager=True)
            if w is not None:
                _unpersist_local_checkpoint(w)
            w = new_w
    finally:
        feats.unpersist()
    return w.select(
        "bucket", "w_micro", (F.col("w_micro") / F.lit(1e6)).alias("weight")
    )


def build_vocab(
    docs: DataFrame,
    size: int = 32768,
    min_count: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-frequency vocabulary: the top-``size`` whitespace tokens by
    occurrence count (ties broken by token string, so the table is fully
    deterministic across runs and partitionings).  The on-corpus
    counterpart of an offline tokenizer build: feed the ``token`` column
    to ``vocab_token_count`` / ``pack_sequences(token_counter=...)`` and
    packing budgets reflect the corpus's own vocabulary.

    Spark shape: one explode (linear in tokens) -> one hash-agg on the
    token -> distributed top-k.  ``orderBy().limit(size)`` compiles to
    ``TakeOrderedAndProject`` — each partition of the aggregated
    (distinct-token, ~10^7 rows at 10^12 tokens) table keeps its own
    top-``size`` and the driver merges, so no single task ever sorts the
    whole candidate table (the round-5 form ranked with a global
    ``row_number`` window, which funneled every candidate through ONE
    task's sort).  The rank window then runs over the ``size`` survivors
    only.  Returns ``(token, count, rank)`` with rank 1-based densely
    ascending (most frequent first).
    """
    from pyspark.sql import Window

    from ..functions.text import ws_tokens

    counts = (
        docs.select(
            F.explode(
                F.transform(ws_tokens(F.col(text_col)), lambda w: F.lower(w))
            ).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("count"))
        .filter(F.col("count") >= min_count)
    )
    top = counts.orderBy(F.col("count").desc(), F.col("token")).limit(size)
    w = Window.orderBy(F.col("count").desc(), F.col("token"))
    return top.withColumn("rank", F.row_number().over(w))
