"""Non-vacuous gate sweep (round-6, verdict #7): every driver-gate row
must be fed input that actually exercises its operator's discriminating
branches at the gate's scale (sf0.01).

Round 3-5 lesson: gate rows stayed green for rounds while comparing
0 = 0 rows, and round-6's sweep found more degenerate inputs, among
them English-only documents (★lang_hits' es/de/fr columns were
all-zero, ★lang_guess never left {en, und}).

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


def test_route_counts_spread_across_sinks(oracle_results):
    r = oracle_results["route_counts"]
    assert len(r[1]) >= 2
    assert min(col(r, "n_rows")) > 0
