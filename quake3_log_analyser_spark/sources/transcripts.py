"""Transcript-table sources.

The engine's primary input is a table of shape
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp)`` (BASELINE.json input_hint) — the generalization of the
reference's one-file-one-server-log model (dal/src/sync_file_reader.rs):
one ``conv_id`` is one log/session, ``turn_idx`` is the 1-based line
number that the reference calls ``event_id``
(dal/src/events_translation.rs:14-17).

``load_transcripts`` reads a bare name from the session catalog
(``spark.read.table``), which resolves views and, in a deployment that
configures one, Iceberg tables (the 100 TB target: snapshot isolation,
partition pruning on ``bucket(conv_id)``); it reads a path, or a bare
name the catalog lacks that exists locally, as parquet.
``transcripts_from_lines`` adapts
raw log text — e.g. the reference's own fixture files — into the table
shape, replacing the reference's BufRead line iterator
(dal/src/sync_reader.rs:39-69).
"""

from __future__ import annotations

import datetime as _dt
import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from ..schemas import TRANSCRIPT_SCHEMA
from ..session import local_table

_EPOCH = _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc)

ROLES = ["system", "user", "assistant", "tool"]
TOOLS = ["bash", "editor", "search", "browser", "none"]


def load_transcripts(spark: SparkSession, path_or_table: str) -> DataFrame:
    """Load a transcripts table from a path or a catalog table name.

    A name with a ``/`` is a path.  A bare name is the catalog's table
    when the catalog has one of that name, even if a local file shares
    it.  Otherwise a bare name that exists locally (``--input
    transcripts.parquet`` run from the data directory) is read from local
    disk, as ``file:`` and its absolute path: the JVM would resolve a
    relative path against its own working directory and ``fs.defaultFS``.
    Any other bare name goes to the catalog, which raises its error rather
    than silently reading the wrong thing."""
    if "/" not in path_or_table:
        try:
            in_catalog = spark.catalog.tableExists(path_or_table)
        except AnalysisException:  # not an identifier, e.g. ``my-data.parquet``
            in_catalog = False
        if in_catalog or not os.path.exists(path_or_table):
            return spark.read.table(path_or_table)
        path_or_table = "file:" + os.path.abspath(path_or_table)
    return spark.read.schema(TRANSCRIPT_SCHEMA).parquet(path_or_table)


def transcripts_from_lines(
    spark: SparkSession,
    lines: list[str],
    conv_id: str = "conv-0",
) -> DataFrame:
    """Wrap raw log lines as one conversation (turn_idx = 1-based line no.)."""
    rows = [
        (
            conv_id,
            i + 1,
            ROLES[i % len(ROLES)],
            line,
            TOOLS[i % len(TOOLS)],
            _EPOCH + _dt.timedelta(seconds=i),
        )
        for i, line in enumerate(lines)
    ]
    return local_table(spark, rows, TRANSCRIPT_SCHEMA)


def transcripts_from_file(
    spark: SparkSession, path: str, conv_id: str | None = None
) -> DataFrame:
    """One log file -> one conversation (the reference's file source, S1)."""
    with open(path, encoding="utf-8", errors="replace") as fh:
        lines = fh.read().splitlines()
    return transcripts_from_lines(spark, lines, conv_id or path)
