"""``per_jvm`` keeps one build per argument tuple and JVM (Spark-free)."""

from __future__ import annotations

from pyspark.core.context import SparkContext

from quake3_log_analyser_spark.functions.column_cache import per_jvm


def test_per_jvm_builds_once_per_args_and_again_for_a_new_gateway(monkeypatch):
    builds = []

    @per_jvm
    def build(*args):
        builds.append(args)
        return [object()]

    monkeypatch.setattr(SparkContext, "_gateway", object())
    first = build("a", 1)
    assert build("a", 1) is first
    assert build("b", 1) is not first
    assert builds == [("a", 1), ("b", 1)]

    # Column objects live in the JVM that built them: a new gateway
    # builds afresh
    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert build("a", 1) is not first
    assert builds == [("a", 1), ("b", 1), ("a", 1)]
