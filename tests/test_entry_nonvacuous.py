"""Non-vacuous gate sweep (round-6, verdict #7): every driver-gate row
must be fed input that actually exercises its operator's discriminating
branches at the gate's scale (sf0.01).

Round 3-5 lesson: ★dedup_exact / ★dedup_survivors were green for three
rounds while comparing 0 = 0 rows (the synthetic table carries no exact
duplicates), and round-6's sweep found three more degenerate inputs —
every document was single-segment (★repetition_stats never saw a dup
line), English-only (★lang_hits' es/de/fr columns were all-zero,
★lang_guess never left {en, und}), and the ★cc_survivors pair graph was
ONE giant component (the multi-cluster branch never fired).

Mechanism: run the ORACLE SQL of every gate row in DuckDB on the sf0.01
tables (cheap — no Spark session) and assert discriminating properties of
the results.  The driver's gate proves Spark == oracle; this test proves
the shared answer is non-degenerate — if an input regresses to a shape
where a branch can't fire, the property here fails even though the gate
would stay green.
"""

from __future__ import annotations

from pathlib import Path

import duckdb
import pytest

import __spark_entry__ as entrymod

GATE_SF = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents",
]

pytestmark = pytest.mark.skipif(
    not Path(GATE_SF).exists(), reason="gate-scale testdata absent"
)


@pytest.fixture(scope="module")
def oracle_results():
    """Every oracle's (columns, rows) at the gate scale, computed once."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{GATE_SF}/{t}.parquet')"
        )
    out = {}
    for name, sql in entrymod.oracle_sql().items():
        rel = con.execute(sql)
        rows = rel.fetchall()
        cols = [d[0] for d in rel.description]
        out[name] = (cols, rows)
    con.close()
    return out


def col(result, name):
    cols, rows = result
    i = cols.index(name)
    return [r[i] for r in rows]


def test_every_gate_row_is_nonempty(oracle_results):
    """Universal floor: a 0 = 0 comparison can never be a pass again."""
    empty = [k for k, (_, rows) in oracle_results.items() if not rows]
    assert not empty, f"gate rows with EMPTY results (vacuous pass): {empty}"


def test_dedup_rows_have_real_duplicate_groups(oracle_results):
    n_docs = col(oracle_results["dedup_exact"], "n_docs")
    assert min(n_docs) >= 2
    assert max(n_docs) >= 3, "need a >2-member group to exercise keep-min"
    assert len(oracle_results["dedup_survivors"][1]) > 0


def test_contamination_discriminates(oracle_results):
    hits = len(oracle_results["contaminated_docs"][1])
    total = len(oracle_results["fingerprints"][1])
    assert 0 < hits < total, (
        f"contamination must flag SOME but not ALL docs (got {hits}/{total})"
    )


def test_hash_split_yields_all_three_splits(oracle_results):
    splits = set(col(oracle_results["hash_split"], "split"))
    assert splits == {"train", "val", "test"}


def test_sampling_rows_discriminate(oracle_results):
    total = len(oracle_results["fingerprints"][1])
    n_sample = len(oracle_results["hash_sample"][1])
    assert 0 < n_sample < total
    mix_sources = set(col(oracle_results["mixture_sample"], "source"))
    assert len(mix_sources) >= 2
    assert 0 < len(oracle_results["mixture_sample"][1]) < total
    # stratified cap: >= 2 strata and the cap actually BINDS somewhere
    strata = col(oracle_results["stratified_cap"], "source")
    per = {s: strata.count(s) for s in set(strata)}
    assert len(per) >= 2
    assert max(per.values()) >= 10, "no stratum reached the cap"


def test_lang_rows_exercise_every_language(oracle_results):
    guesses = set(col(oracle_results["lang_guess"], "lang_guess"))
    assert {"en", "es", "de", "fr", "und"} <= guesses, (
        f"lang_guess must leave the en/und pair (got {guesses})"
    )
    for lang in ("en", "es", "de", "fr"):
        hits = col(oracle_results["lang_hits"], f"{lang}_hits")
        assert max(hits) > 0, f"{lang}_hits column never fires"
        assert min(hits) == 0 or lang == "en", (
            f"{lang}_hits fires on EVERY doc — no negative case"
        )


def test_classifier_rows_have_both_label_classes(oracle_results):
    """The train/score rows label on contains-'the': both classes must be
    present in the corpus or the trained gate is a constant."""
    con = duckdb.connect()
    pos, neg = con.execute(
        f"""SELECT
          SUM(CASE WHEN list_contains(
              regexp_split_to_array(trim(lower(text)), '\\s+'), 'the')
              THEN 1 ELSE 0 END),
          SUM(CASE WHEN NOT list_contains(
              regexp_split_to_array(trim(lower(text)), '\\s+'), 'the')
              THEN 1 ELSE 0 END)
        FROM read_parquet('{GATE_SF}/documents.parquet')"""
    ).fetchone()
    con.close()
    assert pos > 0 and neg > 0, f"one-class training corpus ({pos}/{neg})"
    assert len(oracle_results["classifier_train"][1]) > 0
    assert len(set(col(oracle_results["classifier_score"], "score"))) > 1


def test_quality_scores_are_not_constant(oracle_results):
    assert len(set(col(oracle_results["quality_scores"], "quality"))) > 1


def test_pii_row_exercises_all_three_kinds_on_every_doc(oracle_results):
    r = oracle_results["pii_redaction"]
    assert min(col(r, "n_emails")) >= 1
    assert min(col(r, "n_urls")) >= 1
    assert min(col(r, "n_ips")) >= 1


def test_repetition_row_has_both_dup_and_clean_docs(oracle_results):
    ratios = col(oracle_results["repetition_stats"], "dup_line_ratio")
    assert any(x > 0 for x in ratios), "dup-line branch never fires"
    assert any(x == 0 for x in ratios), "no clean doc — ratio can't discriminate"
    assert max(col(oracle_results["repetition_stats"], "n_lines")) > 1


def test_chunk_and_pack_rows_discriminate(oracle_results):
    assert max(col(oracle_results["chunk_documents"], "chunk_idx")) >= 1, (
        "no doc spans >1 chunk — the overlap/step logic never fires"
    )
    packs = oracle_results["pack_sequences"]
    bins = set(zip(col(packs, "shard"), col(packs, "bin_seq")))
    assert len(bins) > 1, "every doc packed into one bin"


def test_cc_survivors_has_multiple_components(oracle_results):
    kept = set(col(oracle_results["cc_survivors"], "kept_doc_id"))
    assert len(kept) >= 2, (
        "pair graph collapsed to one component — the distinct-cluster "
        "branch of the survivorship never fires"
    )
    # and components are non-trivial (some cluster has >= 2 dropped docs)
    dropped = col(oracle_results["cc_survivors"], "kept_doc_id")
    assert max(dropped.count(k) for k in kept) >= 2


def test_neardup_rows_verify_above_threshold(oracle_results):
    mh = col(oracle_results["minhash_lsh"], "jaccard")
    assert len(mh) > 0 and min(mh) >= 0.6
    ham = col(oracle_results["simhash_pairs"], "hamming")
    assert min(ham) == 0 and max(ham) > 0, (
        "simhash pairs must span exact (0) and near (>0) Hamming distances"
    )
    assert len(oracle_results["neardup_cross"][1]) > 0
    assert len(set(col(oracle_results["dedup_cross"], "source"))) >= 2


def test_route_counts_spread_across_sinks(oracle_results):
    r = oracle_results["route_counts"]
    assert len(r[1]) >= 2
    assert min(col(r, "n_rows")) > 0


def test_clean_corpus_actually_drops_docs(oracle_results):
    kept = len(oracle_results["clean_corpus"][1])
    total = len(oracle_results["fingerprints"][1])
    assert 0 < kept < total, f"pipeline kept {kept}/{total} — no gate fired"


def test_epoch_mixture_upsamples_and_gates(oracle_results):
    rows = oracle_results["epoch_mixture"][1]
    cols = oracle_results["epoch_mixture"][0]
    src_i, ep_i = cols.index("source"), cols.index("epoch")
    by_src = {}
    for r in rows:
        by_src.setdefault(r[src_i], []).append(r[ep_i])
    assert max(by_src["src0"]) == 2, "no src0 doc won the 0.5 fractional copy"
    assert min(by_src["src0"]) == 0 and 1 in by_src["src0"]
    assert set(by_src["src1"]) == {0}, "src1 rate 0.25 must emit epoch-0 only"
    assert "src3" not in by_src, "unlisted source must be dropped"


def test_block_shuffle_spreads_and_ranks(oracle_results):
    rows = oracle_results["block_shuffle"][1]
    cols = oracle_results["block_shuffle"][0]
    b_i, p_i = cols.index("block"), cols.index("pos")
    by_block = {}
    for r in rows:
        by_block.setdefault(r[b_i], []).append(r[p_i])
    assert len(by_block) >= 16, "hash blocks must actually spread"
    for ps in by_block.values():
        assert sorted(ps) == list(range(1, len(ps) + 1))
