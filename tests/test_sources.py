"""Source factory (S1/S4): path-vs-table dispatch, Iceberg behind a
skip-if-no-jars guard, and the file/line adapters."""

from __future__ import annotations

import pytest

from quake3_log_analyser_spark.sources.transcripts import (
    load_transcripts,
    transcripts_from_lines,
)


def _has_iceberg(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def test_load_transcripts_path_dispatch(spark, tmp_path):
    t = transcripts_from_lines(spark, [" 0:00 ShutdownGame:"], "c0")
    p = str(tmp_path / "t.parquet")
    t.write.mode("overwrite").parquet(p)
    out = load_transcripts(spark, p)
    assert out.count() == 1
    assert [f.name for f in out.schema.fields][:2] == ["conv_id", "turn_idx"]


def test_load_transcripts_reads_a_bare_relative_path(spark, tmp_path, monkeypatch):
    """``--input transcripts.parquet`` run from the data directory: a bare
    name the catalog lacks that exists locally is read as parquet, even
    though the JVM's working directory is elsewhere, and so is one that
    is not a table identifier at all."""
    t = transcripts_from_lines(spark, [" 0:00 ShutdownGame:"], "c0")
    for name in ("transcripts.parquet", "my-transcripts.parquet"):
        t.write.parquet(str(tmp_path / name))
    monkeypatch.chdir(tmp_path)
    for name in ("transcripts.parquet", "my-transcripts.parquet"):
        out = load_transcripts(spark, name)
        assert out.count() == 1
        assert out.first()["conv_id"] == "c0"


def test_load_transcripts_prefers_the_catalog_over_a_same_named_dir(
    spark, tmp_path, monkeypatch
):
    """A bare name the catalog knows is its table, even when the working
    directory holds a parquet directory of that name."""
    t = transcripts_from_lines(spark, [" 0:00 ShutdownGame:"], "local")
    t.write.parquet(str(tmp_path / "transcripts_view"))
    monkeypatch.chdir(tmp_path)
    transcripts_from_lines(spark, [" 0:00 ShutdownGame:"], "view").createOrReplaceTempView(
        "transcripts_view"
    )
    try:
        out = load_transcripts(spark, "transcripts_view")
        assert [r["conv_id"] for r in out.collect()] == ["view"]
    finally:
        spark.catalog.dropTempView("transcripts_view")


def test_load_transcripts_table_dispatch_uses_catalog(spark):
    """A bare name goes through spark.read.table — resolving registered
    views/tables (and Iceberg catalog tables in deployments with the jars);
    an unknown name surfaces the catalog error instead of guessing."""
    t = transcripts_from_lines(spark, [" 0:00 ShutdownGame:"], "c0")
    t.createOrReplaceTempView("transcripts_view_for_factory_test")
    out = load_transcripts(spark, "transcripts_view_for_factory_test")
    assert out.count() == 1

    from pyspark.errors.exceptions.captured import AnalysisException

    with pytest.raises(AnalysisException):
        load_transcripts(spark, "no_such_table_anywhere").count()


def test_load_transcripts_iceberg_roundtrip(spark, tmp_path):
    """Real Iceberg table round-trip — runs only when the runtime ships the
    Iceberg Spark jars (the 100 TB deployment posture); skipped otherwise."""
    if not _has_iceberg(spark):
        pytest.skip("Iceberg Spark runtime jars not on the classpath")
    spark.conf.set(
        "spark.sql.catalog.it", "org.apache.iceberg.spark.SparkCatalog"
    )
    spark.conf.set("spark.sql.catalog.it.type", "hadoop")
    spark.conf.set("spark.sql.catalog.it.warehouse", str(tmp_path / "wh"))
    t = transcripts_from_lines(spark, [" 0:00 ShutdownGame:"], "c0")
    t.writeTo("it.db.transcripts").using("iceberg").createOrReplace()
    out = load_transcripts(spark, "it.db.transcripts")
    assert out.count() == 1
