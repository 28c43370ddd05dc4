"""Training-data operator tests: dedup (exact / jaccard / minhash-LSH /
simhash), text analysis, corpus composition."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # inject controlled duplicates: exact copy (id+10000) and a whitespace/
    # case variant (id+20000) of the first 20 docs
    subset = base.filter(F.col("doc_id") < 20)
    exact = subset.select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    fuzzy = subset.select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.upper(F.concat(F.lit("  "), F.col("text"), F.lit("   "))).alias("text"),
        "lang", "source", "n_chars",
    )
    return base.unionByName(exact).unionByName(fuzzy).cache()


def test_exact_dedup_finds_injected_dups(spark, docs):
    from quake3_log_analyser_spark.operators.dedup import exact_duplicates

    groups = exact_duplicates(docs).collect()
    # each of the 20 originals now has exact + case/whitespace variants
    # (normalization lowers + collapses whitespace -> all three collide)
    assert len(groups) == 20
    for g in groups:
        assert g["n_docs"] == 3


def test_dedup_survivors_maps_removed_to_min_id(spark, docs):
    from quake3_log_analyser_spark.operators.dedup import dedup_survivors

    mapping = {r["doc_id"]: r["kept_doc_id"] for r in dedup_survivors(docs).collect()}
    # both injected variants collapse onto the original (minimum id)
    for i in range(20):
        assert mapping[i + 10000] == i
        assert mapping[i + 20000] == i
    assert not any(k < 10000 for k in mapping), "originals must survive"


def test_jaccard_pairs_finds_fuzzy_dups(spark, docs):
    from quake3_log_analyser_spark.operators.dedup import jaccard_pairs

    pairs = jaccard_pairs(docs, n=1, threshold=0.999).collect()
    got = {(p["doc_a"], p["doc_b"]) for p in pairs}
    for i in range(20):
        assert (i, i + 10000) in got  # exact copy has J = 1.0
        assert (i, i + 20000) in got  # case variant has J = 1.0 after lower()


def test_minhash_lsh_recall_vs_exact(spark, docs):
    """LSH candidates must recover nearly all high-Jaccard pairs."""
    from quake3_log_analyser_spark.operators.dedup import (
        jaccard_pairs,
        minhash_lsh_pairs,
    )

    exact = {
        (p["doc_a"], p["doc_b"])
        for p in jaccard_pairs(docs, n=3, threshold=0.8).collect()
    }
    lsh = {
        (p["doc_a"], p["doc_b"])
        for p in minhash_lsh_pairs(
            docs, n=3, n_hashes=16, bands=8, threshold=0.8
        ).collect()
    }
    assert lsh <= exact or not exact, "LSH must not invent pairs (same verify)"
    if exact:
        recall = len(lsh & exact) / len(exact)
        assert recall >= 0.95, f"LSH recall too low: {recall}"


def test_simhash_near_dups(spark, docs):
    from quake3_log_analyser_spark.operators.dedup import simhash_pairs

    pairs = simhash_pairs(docs, max_hamming=0).collect()
    got = {(p["doc_a"], p["doc_b"]) for p in pairs}
    for i in range(3):
        assert (i, i + 10000) in got, "identical docs share the simhash"


def test_simhash_banding_recall_is_total(spark, docs):
    """Blocking must find EVERY pair within max_hamming (pigeonhole over
    max_hamming+1 derived bands) — compared against brute-force xor."""
    from quake3_log_analyser_spark.operators.dedup import simhash, simhash_pairs

    small = docs.filter((F.col("doc_id") % 7 == 0) | (F.col("doc_id") >= 10000))
    sig = simhash(small).filter(F.col("simhash").isNotNull())
    a, b = sig.alias("a"), sig.alias("b")
    brute = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias(
                "hamming"
            ),
        )
        .filter(F.col("hamming") <= 6)
        .collect()
    }
    blocked = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_pairs(small, max_hamming=6).collect()
    }
    assert blocked == brute

    with pytest.raises(ValueError):
        simhash_pairs(small, max_hamming=64)


def test_jaccard_threshold_guard(spark, docs):
    """Thresholds below 0.5 break the log2-bucket completeness -> rejected."""
    from quake3_log_analyser_spark.operators.dedup import jaccard_pairs

    with pytest.raises(ValueError, match="threshold >= 0.5"):
        jaccard_pairs(docs, threshold=0.4)


def test_connected_components_shapes_and_log_convergence(spark):
    """Min-label propagation + pointer jumping: chain, star and isolated
    pair resolve to cluster-min labels, and a 200-node path converges
    within 15 rounds — pure propagation would need ~199, so this pins the
    O(log diameter) jump step actually working."""
    from quake3_log_analyser_spark.operators.dedup import (
        connected_components,
        neardup_survivors_cc,
    )

    pairs = [(10, 11), (11, 12), (12, 13),  # chain
             (1, 3), (2, 3),                # star: 2 near 3, not near 1
             (20, 21)]                      # isolated pair
    pairs += [(200 + i, 201 + i) for i in range(199)]  # long path
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")

    comp = {
        r["node"]: r["component"]
        for r in connected_components(df, max_rounds=15).collect()
    }
    assert {comp[v] for v in (10, 11, 12, 13)} == {10}
    assert {comp[v] for v in (1, 2, 3)} == {1}
    assert {comp[v] for v in (20, 21)} == {20}
    assert {comp[200 + i] for i in range(200)} == {200}

    dropped = {
        r["doc_id"]: r["kept_doc_id"]
        for r in neardup_survivors_cc(df).collect()
    }
    # cluster-exact: 2 is dropped for 1 even though the only verified pair
    # is (2,3) — the star is ONE cluster (greedy keep-min would keep 2)
    assert dropped[2] == 1 and dropped[3] == 1
    assert 1 not in dropped and 10 not in dropped and 20 not in dropped
    assert dropped[13] == 10 and dropped[21] == 20


def test_clean_corpus_cc_survivorship(spark, docs):
    """survivorship='cc' keeps exactly one doc per near-dup cluster: its
    drop set contains the greedy rule's (every doc_b is a non-min member
    of its component) and the kept set has one survivor per component."""
    from quake3_log_analyser_spark.operators.corpus import clean_corpus
    from quake3_log_analyser_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )

    kw = dict(min_quality=0.0, langs=("en", "es", "de", "fr", "und"),
              n=1, n_hashes=16, bands=8, threshold=0.6)
    greedy = {r["doc_id"] for r in clean_corpus(docs, **kw).collect()}
    cc = {r["doc_id"] for r in clean_corpus(docs, survivorship="cc", **kw).collect()}
    assert cc <= greedy

    # reconstruct the pair graph over the gated set the same way
    # clean_corpus does and check one-survivor-per-component
    from quake3_log_analyser_spark.operators.dedup import dedup_survivors

    removed = dedup_survivors(docs).select("doc_id")
    gated = docs.join(removed, "doc_id", "left_anti")
    pairs = minhash_lsh_pairs(gated, n=1, n_hashes=16, bands=8, threshold=0.6)
    comp = {
        r["node"]: r["component"] for r in connected_components(pairs).collect()
    }
    by_comp = {}
    for v, c in comp.items():
        by_comp.setdefault(c, set()).add(v)
    for c, members in by_comp.items():
        assert min(members) == c
        assert members & cc == {c}, (c, sorted(members & cc))

    with pytest.raises(ValueError, match="survivorship"):
        clean_corpus(docs, survivorship="transitive", **kw)


def test_text_functions(spark):
    from quake3_log_analyser_spark.functions.text import (
        lang_guess,
        quality_score,
        token_count,
    )

    df = spark.createDataFrame(
        [
            (1, "the cat and the dog went to the house of cards"),
            (2, "el perro y el gato en la casa de los árboles"),
            (3, ""),
            (4, "der hund und die katze ist von den bergen mit für auf"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            token_count(F.col("text")).alias("n"),
            lang_guess(F.col("text")).alias("lang"),
            quality_score(F.col("text")).alias("q"),
        ).collect()
    }
    assert rows[1]["n"] == 11 and rows[1]["lang"] == "en"
    assert rows[2]["lang"] == "es"
    assert rows[3]["n"] == 0 and rows[3]["lang"] == "und"
    assert rows[4]["lang"] == "de"
    assert 0.0 <= rows[1]["q"] <= 1.0
    assert rows[1]["q"] > rows[3]["q"]


def test_lang_guess_on_documents_table(spark):
    """The synthetic documents corpus uses one English-ish vocabulary for
    every `lang` label (labels are random, texts are not translated), so
    the heuristic must overwhelmingly answer 'en' — never a spurious
    es/de/fr hit from that vocab."""
    from quake3_log_analyser_spark.functions.text import lang_guess

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    counts = {
        r["guess"]: r["n"]
        for r in docs.select(lang_guess(F.col("text")).alias("guess"))
        .groupBy("guess")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(counts) <= {"en", "und"}
    assert counts.get("en", 0) > counts.get("und", 0)


def test_salted_join_equals_plain_join(spark):
    """salted_join must produce exactly the plain join's multiset under a
    pathologically hot key (one key holds ~90% of the big side)."""
    from quake3_log_analyser_spark.operators.skew import salted_join

    big = spark.range(1000).select(
        F.when(F.col("id") < 900, F.lit("hot")).otherwise(
            F.concat(F.lit("k"), F.col("id"))
        ).alias("k"),
        F.col("id").alias("payload"),
    )
    small = big.groupBy("k").agg(F.min("payload").alias("m"))
    plain = {(r["k"], r["payload"], r["m"]) for r in big.join(small, "k").collect()}
    salted = [
        (r["k"], r["payload"], r["m"])
        for r in salted_join(big, small, "k", salts=8).collect()
    ]
    assert set(salted) == plain and len(salted) == 1000
    # left joins keep unmatched rows exactly once
    small2 = small.filter(F.col("k") != "hot")
    left = salted_join(big, small2, "k", salts=8, how="left").collect()
    assert len(left) == 1000
    assert sum(1 for r in left if r["m"] is None) == 900


def test_dedup_survivors_salted_parity(spark, docs):
    """The salted survivor join returns the identical mapping — including
    with an injected viral doc (300 copies of one text)."""
    from quake3_log_analyser_spark.operators.dedup import dedup_survivors

    viral = spark.range(300).select(
        (F.col("id") + 50000).alias("doc_id"),
        F.lit("the same viral text everywhere").alias("text"),
        F.lit("en").alias("lang"), F.lit("x").alias("source"),
        F.lit(30).alias("n_chars"),
    )
    corpus = docs.unionByName(viral)
    plain = {(r["doc_id"], r["kept_doc_id"]) for r in dedup_survivors(corpus).collect()}
    salted = {(r["doc_id"], r["kept_doc_id"])
              for r in dedup_survivors(corpus, salts=8).collect()}
    assert salted == plain
    assert sum(1 for d, k in salted if k == 50000) == 299  # viral collapses


def test_salted_join_rejects_multiplicity_breaking_how(spark):
    from quake3_log_analyser_spark.operators.skew import salted_join

    df = spark.range(4).select(F.lit("k").alias("k"), F.col("id").alias("v"))
    with pytest.raises(ValueError, match="multiplicity"):
        salted_join(df, df, "k", salts=4, how="right")
    with pytest.raises(ValueError, match="multiplicity"):
        salted_join(df, df, "k", salts=4, how="full_outer")


def test_parse_pedantic_rejects_non_arrow_parsers(spark):
    from quake3_log_analyser_spark.operators.parse import parse_transcripts
    from quake3_log_analyser_spark.sources.transcripts import transcripts_from_lines

    t = transcripts_from_lines(spark, [" 0:00 ShutdownGame:"], "c0")
    with pytest.raises(ValueError, match="arrow"):
        parse_transcripts(t, parser="expr", pedantic=True)


def test_clean_corpus_composition(spark, docs):
    """The integrative cleaning pipeline: injected exact copies collapse to
    their originals, every kept doc clears the gates, and no verified
    near-dup pair survives intact."""
    from quake3_log_analyser_spark.operators.corpus import clean_corpus
    from quake3_log_analyser_spark.operators.dedup import minhash_lsh_pairs

    kept = clean_corpus(
        docs, min_quality=0.0, langs=("en", "es", "de", "fr", "und"),
        n=1, n_hashes=16, bands=8, threshold=0.6,
    ).collect()
    ids = {r["doc_id"] for r in kept}
    # injected exact copies (+10000/+20000) never survive: exact dedup
    # keeps the minimum id
    assert not any(i >= 10000 for i in ids)
    # with permissive gates the originals that aren't near-dups survive
    assert ids, "cleaning must not empty the corpus under permissive gates"
    # no surviving near-dup pair: re-run LSH over the kept set
    survivors = docs.filter(F.col("doc_id").isin(list(ids)))
    pairs = minhash_lsh_pairs(
        survivors, n=1, n_hashes=16, bands=8, threshold=0.6
    ).collect()
    assert pairs == [], f"near-dup pair survived cleaning: {pairs[:3]}"


def test_clean_corpus_gates(spark, docs):
    from quake3_log_analyser_spark.operators.corpus import clean_corpus

    kept = clean_corpus(docs, min_quality=0.45, langs=("en",)).collect()
    assert all(r["quality"] >= 0.45 and r["lang_guess"] == "en" for r in kept)


def test_vocab_token_count_greedy_prefix_and_unk_runs(spark):
    """Greedy longest-prefix-match counting against a toy vocabulary:
    unknown text costs one token per character by default and one per
    unmatched run with ``unk_is_char=False``."""
    from quake3_log_analyser_spark.functions.text import vocab_token_count

    vocab = ["aa", "b", "bb", "hello"]
    d = spark.createDataFrame(
        [(1, "aaab bb"), (2, "hello helloaa"), (3, None), (4, "xyz")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["n"]
        for r in d.select(
            "doc_id", vocab_token_count(F.col("text"), vocab).alias("n")
        ).collect()
    }
    # 'aaab' -> aa|a(unk)|b = 3, 'bb' -> 1; 'hello' -> 1, 'helloaa' -> 2;
    # NULL -> 0; 'xyz' -> 3 unk chars
    assert got == {1: 4, 2: 3, 3: 0, 4: 3}

    # unk_is_char=False: one token per unmatched RUN
    run = d.filter(F.col("doc_id") == 4).select(
        vocab_token_count(F.col("text"), vocab, unk_is_char=False).alias("n")
    ).collect()[0]["n"]
    assert run == 1

    with pytest.raises(ValueError, match="non-empty vocab"):
        vocab_token_count(F.col("text"), [])


def test_pii_redaction_patterns(spark):
    from quake3_log_analyser_spark.functions.text import pii_counts, redact_pii

    d = spark.createDataFrame(
        [
            (1, "mail a.b+c@foo-bar.co and see https://x.io/p?q=1 from 192.168.0.1"),
            (2, "no pii here, just 1.2 version numbers and an @mention"),
        ],
        "doc_id int, text string",
    )
    t = F.col("text")
    e, u, i = pii_counts(t)
    rows = {
        r["doc_id"]: r
        for r in d.select(
            "doc_id", "text", e.alias("e"), u.alias("u"), i.alias("i"),
            redact_pii(t).alias("red"),
        ).collect()
    }
    assert (rows[1]["e"], rows[1]["u"], rows[1]["i"]) == (1, 1, 1)
    assert rows[1]["red"] == "mail [EMAIL] and see [URL] from [IP]"
    assert (rows[2]["e"], rows[2]["u"], rows[2]["i"]) == (0, 0, 0)
    assert rows[2]["red"] == rows[2]["text"], "pii-free text must be unchanged"


def test_dedup_against_drops_already_seen_content(spark):
    from quake3_log_analyser_spark.operators.dedup import dedup_against

    ref = spark.createDataFrame(
        [(0, "the shared document body"), (1, "reference only text")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "  THE  shared   Document body "),  # normalized dup of 0
            (11, "genuinely new content"),
            (12, "reference only text"),             # verbatim dup of 1
        ],
        "doc_id long, text string",
    )
    kept = {r["doc_id"] for r in dedup_against(new, ref).collect()}
    assert kept == {11}
    # columns pass through untouched, no fingerprint residue
    assert set(dedup_against(new, ref).columns) == {"doc_id", "text"}


def test_neardup_against_finds_cross_corpus_neighbors(spark):
    from quake3_log_analyser_spark.operators.dedup import neardup_against

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    ref = spark.createDataFrame(
        [(0, base), (1, "totally different words entirely here now")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, base + " lambda"), (11, "unrelated fresh material nothing shared")],
        "doc_id long, text string",
    )
    pairs = neardup_against(new, ref, n=1, n_hashes=16, bands=8, threshold=0.5)
    got = {(r["doc_id"], r["ref_doc_id"]): r["jaccard"] for r in pairs.collect()}
    assert (10, 0) in got and got[(10, 0)] > 0.9
    assert all(d != 11 for d, _ in got)
    # directionality: only (new, ref) pairs, never ref-internal ones
    assert all(d >= 10 and rd < 10 for d, rd in got)


# -- cross-document repeated-substring spans ---------------------------------


def test_duplicated_spans_finds_shared_run(spark):
    from quake3_log_analyser_spark.operators.dedup import duplicated_spans

    boiler = "all rights reserved subject to the terms of use"  # 9 tokens
    rows = [
        (1, f"alpha beta {boiler} gamma delta"),
        (2, f"one two three four {boiler}"),
        (3, "completely unrelated text with no shared windows here at all"),
    ]
    d = spark.createDataFrame(rows, "doc_id int, text string")
    spans = {
        r["doc_id"]: (r["start_tok"], r["end_tok"], r["n_windows"])
        for r in duplicated_spans(d, n=8, min_docs=2).collect()
    }
    # the 9-token boilerplate run yields two overlapping 8-gram windows
    # that merge into one maximal span covering exactly the run
    assert spans[1] == (3, 12, 2)   # tokens 3..11 (1-based, end-excl)
    assert spans[2] == (5, 14, 2)
    assert 3 not in spans


def test_duplicated_spans_merges_contiguous_and_respects_floor(spark):
    from quake3_log_analyser_spark.operators.dedup import duplicated_spans

    # two docs sharing two DISJOINT 4-token runs separated by unique
    # middles: with n=4 each run is its own span; a 3-token shared run
    # is below the detection floor
    a = "p q r s AAA BBB CCC DDD u1 u2 u3 EEE FFF GGG HHH tail1"
    b = "AAA BBB CCC DDD x1 x2 x3 x4 EEE FFF GGG HHH y1 y2 short run yes"
    c = "short run yes plus other words entirely different here now ok fine"
    d = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id int, text string"
    )
    out = duplicated_spans(d, n=4, min_docs=2).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append(
            (r["start_tok"], r["end_tok"])
        )
    assert sorted(per_doc[1]) == [(5, 9), (12, 16)]
    assert sorted(per_doc[2]) == [(1, 5), (9, 13)]
    # the 3-token "short run yes" shared by docs 2 and 3 is < n: absent
    assert 3 not in per_doc


def test_strip_spans_removes_exactly_the_spans(spark):
    from quake3_log_analyser_spark.operators.dedup import (
        duplicated_spans,
        strip_spans,
    )

    boiler = "w1 w2 w3 w4 w5 w6 w7 w8"
    d = spark.createDataFrame(
        [
            (1, f"keep1 keep2 {boiler} keep3"),
            (2, f"{boiler} solo1 solo2 solo3"),
            (3, "nothing shared in this document at all zero dup"),
        ],
        "doc_id int, text string",
    )
    spans = duplicated_spans(d, n=8, min_docs=2)
    out = {r["doc_id"]: r["text"] for r in strip_spans(d, spans).collect()}
    assert out[1] == "keep1 keep2 keep3"
    assert out[2] == "solo1 solo2 solo3"
    assert out[3] == "nothing shared in this document at all zero dup"


def test_duplicated_spans_hash_modes_agree(spark):
    from quake3_log_analyser_spark.operators.dedup import duplicated_spans

    boiler = "shared run of nine tokens exactly here for sure yes"
    d = spark.createDataFrame(
        [
            (1, f"alpha beta {boiler} gamma"),
            (2, f"{boiler} trailing words"),
            (3, "independent text with nothing repeated across documents"),
        ],
        "doc_id int, text string",
    )
    fast = sorted(
        (r["doc_id"], r["start_tok"], r["end_tok"], r["n_windows"])
        for r in duplicated_spans(d, n=8, gram_hash="fast").collect()
    )
    md5 = sorted(
        (r["doc_id"], r["start_tok"], r["end_tok"], r["n_windows"])
        for r in duplicated_spans(d, n=8, gram_hash="md5").collect()
    )
    assert fast == md5 and len(fast) == 2


def test_minhash_lsh_slim_matches_carry_form(spark, docs):
    """The round-6 slim band join (ids only; grams join back onto the
    deduplicated pairs) returns exactly the round-5 gram-carrying form's
    verified pairs."""
    from quake3_log_analyser_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_carry,
    )

    slim = sorted(
        map(tuple, minhash_lsh_pairs(docs, n=1, n_hashes=16, bands=8,
                                     threshold=0.6).collect())
    )
    carry = sorted(
        map(tuple, minhash_lsh_pairs_carry(docs, n=1, n_hashes=16, bands=8,
                                           threshold=0.6).collect())
    )
    assert slim == carry
    assert len(slim) > 0


def test_vocab_token_count_broadcast_handle(spark):
    """vocab_token_count accepts a pyspark Broadcast of the vocab: the
    scale-safe default for production vocabs — identical counts to the
    plain-iterable form."""
    from quake3_log_analyser_spark.functions.text import vocab_token_count

    vocab = ["hel", "lo", "wor", "ld", "a"]
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "a hello"), (3, None)],
        "doc_id long, text string",
    )
    plain = {
        r["doc_id"]: r["n"]
        for r in df.select(
            "doc_id", vocab_token_count(F.col("text"), vocab).alias("n")
        ).collect()
    }
    bcast = spark.sparkContext.broadcast(vocab)
    via_bcast = {
        r["doc_id"]: r["n"]
        for r in df.select(
            "doc_id", vocab_token_count(F.col("text"), bcast).alias("n")
        ).collect()
    }
    assert via_bcast == plain
    assert plain[1] == 4 and plain[3] == 0

    empty = spark.sparkContext.broadcast([])
    with pytest.raises(ValueError, match="non-empty"):
        vocab_token_count(F.col("text"), empty)
