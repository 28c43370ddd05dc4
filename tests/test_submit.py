"""The spark-submit --py-files launch path, driven end-to-end.

jobs/run_pipeline.py is the production entrypoint; these tests prove the
packaged launch works the way the docstring claims: the package rides a
--py-files zip, the submitted ``--master`` governs the cluster size (the
session factory must NOT override it with its local[N] default — it did
until session.py::_submitted_master), and the sinks + summaries land.
The submit command carries the class archive's options next to
``DRIVER_JAVA_OPTS``, set by the shell from ``session.submit_env()`` as
README.md does, and the submitted driver maps the archive a plain-Python
run of the job has just dumped.

The test pays a plain-Python run and a spark-submit, each a fresh JVM
(~40-60 s); kept to one happy path on a tiny input.
"""

from __future__ import annotations

import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from quake3_log_analyser_spark.session import (
    DRIVER_JAVA_OPTS,
    class_archive,
    submit_env,
)

REPO = Path(__file__).resolve().parents[1]
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


@pytest.mark.skipif(
    not Path(SPARK_SUBMIT).exists(), reason="spark-submit not on PATH"
)
def test_spark_submit_honors_master_and_writes_sinks(spark, tmp_path, monkeypatch):
    rows = [
        ("c1", 0, "system", r" 0:00 InitGame: \fraglimit\20\timelimit\15", None),
        ("c1", 1, "game", " 0:01 Kill: 2 3 7: A killed B by MOD_ROCKET", None),
        ("c1", 2, "system", " 0:02 ShutdownGame:", None),
    ]
    src = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    ).withColumn("ts", F.current_timestamp())
    inp = str(tmp_path / "transcripts")
    src.write.parquet(inp)

    zpath = tmp_path / "pipeline.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        for f in sorted((REPO / "quake3_log_analyser_spark").rglob("*.py")):
            z.write(f, f.relative_to(REPO))

    # a plain-Python run dumps the class archive into this local dir
    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path / "local"))
    enabled = class_archive() is not None  # no conf file Spark reads
    r = subprocess.run(
        [sys.executable, str(REPO / "jobs" / "run_pipeline.py"),
         "--input", inp, "--output", str(tmp_path / "plain")],
        cwd=REPO, capture_output=True, text=True, timeout=600,
        env={**os.environ, "PYTHONPATH": str(REPO), "PYSPARK_PYTHON": sys.executable},
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert ("class_archive=dumped" in r.stdout) == enabled, r.stdout[-500:]
    assert ("-XX:SharedArchiveFile=" in submit_env()) == enabled

    out = tmp_path / "out"
    # the shell sets ARCHIVE_OPTS and SPARK_CONF_DIR as README.md's does
    r = subprocess.run(
        [
            "bash", "-c",
            "eval \"$(\"$PY\" -c 'from quake3_log_analyser_spark.session import "
            "submit_env; print(submit_env())')\"; "
            'exec "$0" --driver-java-options "$OPTS $ARCHIVE_OPTS" "$@"',
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--py-files", str(zpath),
            str(REPO / "jobs" / "run_pipeline.py"),
            "--input", inp,
            "--output", str(out),
            "--checkpoint", str(tmp_path / "ck"),
            "--ops", "kills",
            "--run-id", "submit-test",
        ],
        cwd=REPO, capture_output=True, text=True, timeout=600,
        # a misspelt -XX option in OPTS stops the JVM from starting
        env={**os.environ, "PY": sys.executable, "OPTS": DRIVER_JAVA_OPTS},
    )
    assert r.returncode == 0, r.stderr[-3000:]
    # the submitted master must govern the run — not session.py's default
    m = re.search(r"master=(\S+) parallelism=(\d+)", r.stdout)
    assert m and m.group(1) == "local[4]" and m.group(2) == "4", r.stdout[-500:]
    # and the submitted driver really mapped the archive
    want = "mapped" if enabled else "none"
    assert f"class_archive={want}" in r.stdout, r.stdout[-500:]
    assert (out / "sinks").is_dir() and (out / "match_summaries").is_dir()
    got = spark.read.parquet(str(out / "match_summaries")).collect()
    assert len(got) == 1 and got[0]["total_kills"] == 1
