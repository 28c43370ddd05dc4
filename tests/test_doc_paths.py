"""Every backticked ``*.py`` path in README.md and COVERAGE.md names a file
that exists, checked without a Spark session.  A carve-out that deletes a
module but leaves its row in the docs fails here in seconds.

A path resolves from the repo root, from the package root, or as a
basename that exactly one package file has (COVERAGE writes
``parse_expr.py``).  ``{a,b}`` brace lists expand to one path each.

Every ``SPARK_GRAFT_*`` variable the package or the job reads is named
in README.md, and README names no other.

The documented ``spark-submit`` commands pass the driver JVM the same
options a plain-Python launch gets, ``session.DRIVER_JAVA_OPTS``, and the
class archive's, which the shell takes from ``session.submit_env()``.

Every ``--flag`` a documented command passes to ``jobs/run_pipeline.py``
is an argument the job defines."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "quake3_log_analyser_spark"
DOCS = ("README.md", "COVERAGE.md")

SPAN = re.compile(r"`([^`\n]+)`")
PY_PATH = re.compile(r"[\w./{},-]+\.py\b")
BRACES = re.compile(r"\{([^{}]*)\}")


def _expand(path: str) -> list[str]:
    m = BRACES.search(path)
    if m is None:
        return [path]
    return [
        p
        for alt in m.group(1).split(",")
        for p in _expand(path[: m.start()] + alt + path[m.end():])
    ]


def _doc_paths(doc: str) -> set[str]:
    text = (ROOT / doc).read_text()
    return {
        p
        for span in SPAN.findall(text)
        for token in PY_PATH.findall(span)
        for p in _expand(token)
    }


def _resolves(path: str) -> bool:
    if (ROOT / path).is_file() or (PKG / path).is_file():
        return True
    return "/" not in path and len(list(PKG.rglob(path))) == 1


@pytest.mark.parametrize("doc", DOCS)
def test_backticked_py_paths_exist(doc):
    paths = _doc_paths(doc)
    assert paths, f"{doc} names no .py path; the pattern is stale"
    missing = sorted(p for p in paths if not _resolves(p))
    assert not missing, f"{doc} names missing files: {missing}"


SUBMIT_OPTS = re.compile(r'--driver-java-options "([^"]*)"')
SUBMIT_ENV = (
    "eval \"$(python3 -c 'from quake3_log_analyser_spark.session import "
    "submit_env; print(submit_env())')\"\n"
)


@pytest.mark.parametrize("doc", ("README.md", "jobs/run_pipeline.py"))
def test_submit_commands_pass_the_session_jvm_options(doc):
    """Under spark-submit the driver JVM starts before ``get_spark``, so
    the documented submit commands carry its options themselves: the
    string a plain-Python launch gets, verbatim, then the class archive's
    options, and the conf directory the archive maps with."""
    from quake3_log_analyser_spark.session import DRIVER_JAVA_OPTS

    text = (ROOT / doc).read_text()
    found = SUBMIT_OPTS.findall(text)
    assert found, f"{doc} has no --driver-java-options in a submit command"
    assert set(found) == {f"{DRIVER_JAVA_OPTS} $ARCHIVE_OPTS"}
    assert SUBMIT_ENV in text, f"{doc} does not eval session.submit_env()"
    assert text.index(SUBMIT_ENV) < text.index("--driver-java-options")


KNOB = re.compile(r"SPARK_GRAFT_[A-Z_]+")


def test_every_env_knob_is_documented_in_readme():
    """A knob lands with its README row, and a deleted knob takes the row
    with it."""
    read = {
        name
        for top in (PKG, ROOT / "jobs")
        for f in top.rglob("*.py")
        for name in KNOB.findall(f.read_text())
    }
    documented = set(KNOB.findall((ROOT / "README.md").read_text()))
    assert sorted(read - documented) == [], "knobs README does not name"
    assert sorted(documented - read) == [], "README names knobs no code reads"


JOB = ROOT / "jobs" / "run_pipeline.py"
# the rest of a command after the job's path: its line and every line a
# trailing backslash continues onto
JOB_COMMAND = re.compile(r"jobs/run_pipeline\.py((?:[^\n]*\\\n)*[^\n]*)")
FLAG = re.compile(r"(?<![\w-])--[a-z][a-z0-9-]*")


def test_documented_job_flags_exist():
    """A flag the README or the job's usage text passes to the job is one
    of its ``ap.add_argument("--...")`` calls, so a deleted flag takes its
    documentation with it."""
    tree = ast.parse(JOB.read_text())
    defined = {
        arg.value
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "add_argument"
        for arg in node.args
        if isinstance(arg, ast.Constant) and str(arg.value).startswith("--")
    }
    documented = {
        flag
        for text in ((ROOT / "README.md").read_text(), ast.get_docstring(tree))
        for command in JOB_COMMAND.findall(text)
        for flag in FLAG.findall(command)
    }
    assert documented, "no documented job command found; the pattern is stale"
    assert sorted(documented - defined) == [], "flags the job does not define"
