"""Registry parity of ``__spark_entry__.py``, checked without a Spark
session: every query has an oracle and the reverse, every ``_q_*``
function is registered, and every module-level name but ``entry``,
which only outside callers use, is used.  A carve-out that deletes a row
but leaves its query, oracle, helper or parameter constant behind fails
here in seconds."""

from __future__ import annotations

import ast
from pathlib import Path

import __spark_entry__ as entrymod

TREE = ast.parse(Path(entrymod.__file__).read_text())
# read only by callers outside the module
CONTRACT_ONLY = {"entry"}


def _bound(node: ast.stmt) -> set[str]:
    """Module-level names a top-level statement binds."""
    if isinstance(node, ast.FunctionDef):
        return {node.name}
    if isinstance(node, ast.Assign):
        return {t.id for t in node.targets if isinstance(t, ast.Name)}
    return set()


DEFINED = set().union(*map(_bound, TREE.body))


def test_queries_and_oracles_have_the_same_rows():
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert set(qs) == set(oracles), {
        "query without oracle": sorted(set(qs) - set(oracles)),
        "oracle without query": sorted(set(oracles) - set(qs)),
    }
    assert all(isinstance(s, str) and s.strip() for s in oracles.values())


def test_every_query_function_is_registered():
    registered = {fn.__name__ for fn in entrymod.queries().values()}
    defined = {n for n in DEFINED if n.startswith("_q_")}
    assert defined <= registered, sorted(defined - registered)


def test_every_oracle_constant_and_sql_helper_is_referenced():
    """Every module-level function or constant is read by another
    top-level statement: oracle constants and SQL helpers, and also the
    row parameters (weights, seeds) that only a deleted row read."""
    used: set[str] = set()
    for node in TREE.body:
        used |= {
            n.id
            for n in ast.walk(node)
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
        } - _bound(node)
    unused = sorted(DEFINED - used - CONTRACT_ONLY)
    assert not unused, unused
