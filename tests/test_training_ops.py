"""Training-data operator tests: text analysis, PII redaction, vocab
token counts and repeated-substring spans."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


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


def test_parse_pedantic_rejects_non_arrow_parsers(spark):
    from quake3_log_analyser_spark.operators.parse import parse_transcripts
    from quake3_log_analyser_spark.sources.transcripts import transcripts_from_lines

    t = transcripts_from_lines(spark, [" 0:00 ShutdownGame:"], "c0")
    with pytest.raises(ValueError, match="arrow"):
        parse_transcripts(t, parser="expr", pedantic=True)


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
