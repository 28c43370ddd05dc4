from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

REFERENCE_ROOT = Path("/root/reference")
FIXTURES_BLL = REFERENCE_ROOT / "bll/tests/resources"
FIXTURES_DAL = REFERENCE_ROOT / "dal/tests/resources"

# the session-wide Spark session, once the `spark` fixture has built it
_SPARK = None


@pytest.fixture(scope="session")
def spark():
    global _SPARK
    from quake3_log_analyser_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "4"))
    _SPARK = get_spark("q3spark-tests", cpus=cpus, shuffle_partitions=4)
    yield _SPARK


def pytest_runtest_setup(item):
    """Stop the run, with one message, once the test JVM has died.

    Every Spark test shares one JVM.  When the kernel kills it (out of
    memory), each later test would otherwise fail on its own with a py4j
    connection error, so one crash read as dozens of failures."""
    if _SPARK is None or "spark" not in item.fixturenames:
        return
    try:
        _SPARK._jvm.java.lang.System.currentTimeMillis()
    except Exception as exc:  # py4j raises several types for a dead socket
        pytest.exit(
            f"the Spark JVM gateway is dead before {item.nodeid} ({exc!r}); "
            "the JVM was probably killed, e.g. out of memory (see dmesg). "
            "Stopping instead of failing every remaining Spark test.",
            returncode=3,
        )


def fixture_lines(path: Path) -> list[str]:
    return path.read_text(encoding="utf-8", errors="replace").splitlines()
