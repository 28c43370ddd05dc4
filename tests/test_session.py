"""The session factory's defaults: the core count it sizes ``local[N]``
from, and the JVM options it starts the driver with."""

from __future__ import annotations

import os

import pytest

from quake3_log_analyser_spark import session


def test_default_cpus_counts_the_affinity_mask(monkeypatch):
    """A process pinned to 2 of the host's cores sizes for 2, as
    ``nproc`` and perfbench count; ``SPARK_GRAFT_CPUS`` still wins."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 3})
    monkeypatch.setattr(os, "cpu_count", lambda: 64)
    assert session.default_cpus() == 2
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.default_cpus() == 3


def test_driver_jvm_runs_with_the_session_options(spark):
    """With no ``SPARK_GRAFT_JAVA_OPTS`` override, every option of
    ``DRIVER_JAVA_OPTS`` is on the running driver JVM's command line."""
    if "SPARK_GRAFT_JAVA_OPTS" in os.environ:
        pytest.skip("SPARK_GRAFT_JAVA_OPTS replaces the options under test")
    bean = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    args = set(bean.getInputArguments())
    missing = [o for o in session.DRIVER_JAVA_OPTS.split() if o not in args]
    assert not missing, f"driver JVM lacks {missing}; it runs with {sorted(args)}"
