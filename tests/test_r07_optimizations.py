"""Round-7 optimization parity pins.

Every r7 change is a PHYSICAL rewrite that must leave results
byte-identical; this test pins the equivalence the span rewrite relies on:

* Span windows: ``xxhash64(t1..tn)`` / ``concat_ws(" ", t1..tn)`` over
  ``element_at`` reads equal the array-slice forms.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, "the quick brown fox jumps over the lazy cat again and again"),
        (2, "completely different text with no overlap whatsoever here"),
        (3, "the quick brown fox jumps over the lazy dog again and again"),
        (4, "  "),
        (5, "one"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_span_window_key_matches_slice_forms(spark, docs):
    n = 3
    toks = F.split(F.trim(F.col("text")), r"\s+")
    base = docs.filter(F.size(toks) >= n).select(
        F.col("doc_id"), toks.alias("t")
    )
    k = F.size("t")
    seq = F.sequence(F.lit(1), k - n + 1)
    fast_slice = F.transform(seq, lambda i: F.xxhash64(F.slice("t", i, n)))
    fast_elem = F.transform(
        seq, lambda i: F.xxhash64(*[F.element_at("t", i + j) for j in range(n)])
    )
    md5_slice = F.transform(seq, lambda i: F.concat_ws(" ", F.slice("t", i, n)))
    md5_elem = F.transform(
        seq,
        lambda i: F.concat_ws(" ", *[F.element_at("t", i + j) for j in range(n)]),
    )
    out = base.select(
        (fast_slice == fast_elem).alias("h_eq"), (md5_slice == md5_elem).alias("s_eq")
    ).collect()
    assert out and all(r["h_eq"] and r["s_eq"] for r in out)
