"""Non-vacuous gate sweep: every driver-gate row must be fed input that
actually exercises its operator's discriminating branches at the gate's
scale (sf0.01).

Gate rows once stayed green for rounds while comparing 0 = 0 rows.  Every
oracle derives its answer from the ``events`` table through
``_FEAT_SQL``, so a change to that generation arithmetic can starve a
row: no malformed Kill turn leaves ``errors_deadletter`` empty, and a
block shape without score turns leaves ``route_counts``' scores sink at 0.

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
TABLES = ["events"]

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


def test_route_counts_spread_across_sinks(oracle_results):
    r = oracle_results["route_counts"]
    assert len(r[1]) >= 2
    assert min(col(r, "n_rows")) > 0
