"""Registry parity of ``__spark_entry__.py``, checked without a Spark
session: every query has an oracle and the reverse, every ``_q_*``
function is registered, every module-level name but the contract's
``entry``, ``queries`` and ``oracle_sql``, which only outside callers
use, is used, and no name is bound twice.  A carve-out that deletes a
row but leaves its query, oracle, helper or parameter constant behind
fails here in seconds."""

from __future__ import annotations

import ast
from pathlib import Path

import __spark_entry__ as entrymod

TREE = ast.parse(Path(entrymod.__file__).read_text())
# read only by callers outside the module
CONTRACT_ONLY = {"entry", "queries", "oracle_sql"}


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


def test_no_module_level_name_is_bound_twice():
    """One top-level statement binds each name, so ``queries()`` and
    ``oracle_sql()`` are each one literal dict: a second definition that
    shadows the first and extends its result hides rows from a reader of
    the first."""
    seen: dict[str, int] = {}
    for node in TREE.body:
        for name in _bound(node):
            seen[name] = seen.get(name, 0) + 1
    twice = sorted(n for n, k in seen.items() if k > 1)
    assert not twice, twice
