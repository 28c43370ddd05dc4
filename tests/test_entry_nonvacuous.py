"""Non-vacuous gate sweep (round-6, verdict #7): every driver-gate row
must be fed input that actually exercises its operator's discriminating
branches at the gate's scale (sf0.01).

Round 3-5 lesson: ★dedup_exact / ★dedup_survivors were green for three
rounds while comparing 0 = 0 rows (the synthetic table carries no exact
duplicates), and round-6's sweep found more degenerate inputs, among
them English-only documents (★lang_hits' es/de/fr columns were
all-zero, ★lang_guess never left {en, und}) and a ★cc_survivors pair
graph that was ONE giant component (the multi-cluster branch never
fired).

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


def test_quality_scores_are_not_constant(oracle_results):
    assert len(set(col(oracle_results["quality_scores"], "quality"))) > 1


def test_pii_row_exercises_all_three_kinds_on_every_doc(oracle_results):
    r = oracle_results["pii_redaction"]
    assert min(col(r, "n_emails")) >= 1
    assert min(col(r, "n_urls")) >= 1
    assert min(col(r, "n_ips")) >= 1


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
