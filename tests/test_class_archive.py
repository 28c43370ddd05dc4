"""The driver JVM's class archive (``session.class_archive``).

Spark-free: the archive's key, the conf-directory rule, and which files a
launch maps, dumps or deletes.  With Spark: ``jobs/run_pipeline.py`` run
as a subprocess, so each run is a fresh JVM, from a missing, stale,
corrupt or half-written archive.  Every run must succeed and give the
kills summary the test session computes without an archive.
"""

from __future__ import annotations

import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from quake3_log_analyser_spark import session
from quake3_log_analyser_spark.plans.pipeline import summarize_matches
from quake3_log_analyser_spark.sources.transcripts import transcripts_from_lines

REPO = Path(__file__).resolve().parents[1]
JOB = REPO / "jobs" / "run_pipeline.py"


def _install(root: Path) -> tuple[Path, Path]:
    """A stand-in JDK and Spark install: ``bin/java`` and ``jars/``."""
    java = root / "jdk" / "bin" / "java"
    java.parent.mkdir(parents=True)
    java.write_bytes(b"java")
    jars = root / "spark" / "jars"
    jars.mkdir(parents=True)
    (jars / "spark-core.jar").write_bytes(b"core")
    (root / "spark" / "conf").mkdir()
    return java, root / "spark"


def test_archive_key_changes_with_jdk_jars_and_options(tmp_path):
    java, home = _install(tmp_path)
    conf = tmp_path / "local" / "class-archive" / "conf"
    conf.mkdir(parents=True)

    def key(opts=session.DRIVER_JAVA_OPTS, conf_dir=conf):
        return session.archive_key(str(java), str(home), opts, str(conf_dir))

    keys = [key(), key()]
    assert keys[0] == keys[1]
    java.write_bytes(b"java 17.0.21")  # a JDK update
    keys.append(key())
    os.utime(java, ns=(10**9, 10**9))  # rebuilt, same size
    keys.append(key())
    (home / "jars" / "iceberg.jar").write_bytes(b"iceberg")  # a jar added
    keys.append(key())
    (home / "jars" / "spark-core.jar").write_bytes(b"core 4.1.3")
    keys.append(key())
    os.utime(home / "jars" / "iceberg.jar", ns=(10**9, 10**9))  # re-copied
    keys.append(key())
    keys.append(key(session.DRIVER_JAVA_OPTS + " -Xss4m"))
    # the JVM refuses an archive whose classpath, led by the conf dir,
    # differs: a local dir copied elsewhere must not share the key
    moved = tmp_path / "copy" / "class-archive" / "conf"
    shutil.copytree(conf.parent, moved.parent)
    keys.append(key(conf_dir=moved))
    # the real path counts, not the spelling
    (tmp_path / "link").symlink_to(tmp_path / "local")
    assert key(conf_dir=tmp_path / "link" / "class-archive" / "conf") == key()
    assert len(set(keys)) == len(keys) - 1


@pytest.fixture
def install(tmp_path, monkeypatch):
    """Point the session at a stand-in install and a fresh local dir."""
    java, home = _install(tmp_path)
    monkeypatch.setenv("JAVA_HOME", str(java.parents[1]))
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path / "local"))
    for var in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_GRAFT_JAVA_OPTS"):
        monkeypatch.delenv(var, raising=False)
    return tmp_path


def test_conf_dir_rule(install, monkeypatch):
    """A conf directory of ``*.template`` files only is swapped for an
    empty one; a ``spark-defaults.conf`` there, or a Hadoop conf
    directory with files, turns the archive off."""
    conf = install / "spark" / "conf"
    (conf / "spark-defaults.conf.template").write_text("# spark.master\n")
    (conf / "log4j2.properties.template").write_text("")
    archive = session.class_archive()
    empty = install / "local" / session.ARCHIVE_DIR / "conf"
    assert archive is not None and archive.conf_dir == str(empty.resolve())
    assert not list(empty.iterdir())
    assert f"-XX:ArchiveClassesAtExit={archive.dump_to}" in archive.options
    # a submit never dumps, and with nothing to map keeps its conf dir
    assert session.submit_env() == "ARCHIVE_OPTS=''"

    hadoop = install / "hadoop-conf"
    hadoop.mkdir()
    monkeypatch.setenv("HADOOP_CONF_DIR", str(hadoop))
    assert session.class_archive() is not None
    (hadoop / "core-site.xml").write_text("<configuration/>")
    assert session.class_archive() is None
    monkeypatch.delenv("HADOOP_CONF_DIR")

    (conf / "spark-defaults.conf").write_text("spark.master local[2]\n")
    assert session.class_archive() is None
    assert session.submit_env() == "ARCHIVE_OPTS=''"


def test_only_a_complete_archive_is_mapped(install):
    """``<key>-<size>.jsa`` is mapped only at that size; a shorter one,
    which the JVM would crash on, is deleted and a fresh one dumped, and
    so is the ``.tmp`` of a dead process, but not of a live one.  Of two
    complete archives of one key only the newer is kept."""
    first = session.class_archive()
    base = Path(first.dump_to).parent
    key = Path(first.dump_to).name.split(".")[0]
    dead = subprocess.Popen(["true"])
    dead.wait()
    leftover = base / f"{key}.{dead.pid}.tmp"
    live = base / f"{key}.{os.getpid()}.tmp"
    cut = base / f"{key}-4096.jsa"
    other = base / f"{'0' * 16}-5.jsa"
    for f, size in ((leftover, 100), (live, 100), (cut, 1000), (other, 5)):
        f.write_bytes(b"\0" * size)
    again = session.class_archive()
    assert again.dump_to == first.dump_to
    assert not leftover.exists() and not cut.exists()
    assert live.exists() and other.exists()

    older = base / f"{key}-1024.jsa"
    older.write_bytes(b"\0" * 1024)
    os.utime(older, ns=(10**9, 10**9))
    whole = base / f"{key}-2048.jsa"
    whole.write_bytes(b"\0" * 2048)
    mapped = session.class_archive()
    assert mapped.dump_to is None
    assert mapped.options == f"{session.ARCHIVE_LOG_OPTS} -XX:SharedArchiveFile={whole}"
    assert not older.exists() and other.exists()
    env = session.submit_env()
    assert env == (
        f"export SPARK_CONF_DIR={mapped.conf_dir}; ARCHIVE_OPTS='{mapped.options}'"
    )


# ---------------------------------------------------------------------------
# fresh JVMs
# ---------------------------------------------------------------------------

LINES = {
    "c0": [
        r" 0:00 InitGame: \fraglimit\20\timelimit\15",
        " 0:01 Kill: 2 3 7: A killed B by MOD_ROCKET",
        " 0:02 Kill: 1022 3 22: <world> killed B by MOD_TRIGGER_HURT",
        " 0:03 ShutdownGame:",
    ],
    "c1": [
        r" 0:00 InitGame: \fraglimit\20\timelimit\15",
        " 0:01 Kill: 3 2 10: B killed A by MOD_RAILGUN",
        " 0:02 ShutdownGame:",
    ],
}
CLOSING = re.compile(r"setup_s=(\d+\.\d{3}) class_archive=(mapped|dumped|none)$", re.M)


def _rows(df) -> list[tuple]:
    return sorted(
        (r["conv_id"], r["match_id"], r["total_kills"],
         tuple((k["player"], k["frags"]) for k in (r["kills"] or [])), r["error"])
        for r in df.collect()
    )


@pytest.fixture(scope="module")
def job(spark, tmp_path_factory):
    """Runs the job in a fresh JVM on one input with one local dir, and
    the summary the test session's JVM gives without an archive."""
    root = tmp_path_factory.mktemp("class_archive")
    local = root / "local"
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("SPARK_LOCAL_DIRS", str(local))
        archive = session.class_archive()
    if archive is None:
        pytest.skip("the conf directory holds files Spark reads: no archive")
    t = None
    for conv, lines in LINES.items():
        part = transcripts_from_lines(spark, lines, conv)
        t = part if t is None else t.unionByName(part)
    inp = str(root / "transcripts")
    t.write.parquet(inp)
    want = _rows(summarize_matches(spark.read.parquet(inp), ops={"kills"}))
    runs = iter(range(100))

    def run(local_dir: Path = local) -> tuple[str, list[tuple], str]:
        out = root / f"out{next(runs)}"
        env = {
            **os.environ,
            "SPARK_LOCAL_DIRS": str(local_dir),
            "SPARK_GRAFT_CPUS": "2",
            "PYTHONPATH": str(REPO),
            "PYSPARK_PYTHON": sys.executable,
        }
        r = subprocess.run(
            [sys.executable, str(JOB), "--input", inp, "--output", str(out), "--ops", "kills"],
            cwd=root, env=env, capture_output=True, text=True, timeout=600,
        )
        assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-3000:]
        (m,) = CLOSING.findall(r.stdout)
        return m[1], _rows(spark.read.parquet(str(out / "match_summaries"))), r.stdout

    run.want, run.archives = want, local / session.ARCHIVE_DIR
    run.key = Path(archive.dump_to).name.split(".")[0]
    return run


def _archive(run) -> Path:
    (jsa,) = run.archives.glob(f"{run.key}-*.jsa")
    return jsa


def test_missing_archive_is_dumped_then_mapped(job):
    state, rows, out = job()
    assert (state, rows) == ("dumped", job.want)
    jsa = _archive(job)
    assert int(jsa.stem.split("-")[1]) == jsa.stat().st_size > 0
    assert not list(job.archives.glob("*.tmp"))
    assert "[warning][cds]" not in out  # the dump's warnings stay out of the log
    state, rows, _ = job()
    assert (state, rows) == ("mapped", job.want)


def _other_key(jsa: Path) -> Path:
    stale = jsa.with_name("0" * 16 + jsa.name[16:])
    jsa.rename(stale)
    return stale


def _truncated(jsa: Path) -> Path:
    jsa.chmod(0o644)  # the JVM writes it read-only
    with open(jsa, "r+b") as fh:
        fh.truncate(jsa.stat().st_size // 2)
    return jsa


def _half_written(jsa: Path) -> Path:
    dead = subprocess.Popen(["true"])
    dead.wait()
    tmp = jsa.with_name(f"{jsa.name.split('-')[0]}.{dead.pid}.tmp")
    tmp.write_bytes(jsa.read_bytes()[: jsa.stat().st_size // 2])
    jsa.unlink()
    return tmp


@pytest.mark.parametrize(
    "damage, kept",
    [(_other_key, True), (_truncated, False), (_half_written, False)],
    ids=["stale", "corrupt", "half_written_tmp"],
)
def test_damaged_archive_still_runs_and_dumps_afresh(job, damage, kept):
    """A stale archive of another key is left alone, a truncated one and
    a dead process's ``.tmp`` are deleted; each run dumps a fresh one."""
    jsa = _archive(job)
    left = damage(jsa)
    state, rows, _ = job()
    assert (state, rows) == ("dumped", job.want)
    fresh = _archive(job)
    assert int(fresh.stem.split("-")[1]) == fresh.stat().st_size
    # a dump is whole pages, and runs repeat sizes (175,562,752 to
    # 175,579,136 bytes, 4 KiB apart), so the fresh archive can take the
    # deleted one's name: then the complete fresh file is what is there
    assert left.exists() == kept or left == fresh
    if kept:
        left.unlink()


def test_archive_the_jvm_refuses_is_deleted_and_dumped_afresh(job, tmp_path):
    """An archive dumped with another conf directory on the classpath is
    passed to the JVM, which refuses it: ``none``, with the JVM's one
    warning in the log, and the same summary.  The refused archive is
    deleted, so the next run dumps one the JVM accepts.

    The key covers the conf directory's path, so a copied archive reaches
    the JVM only under the new directory's key; that is how an archive
    the key misses (a JDK or classpath change it does not cover) looks."""
    jsa = _archive(job)
    other = tmp_path / "local"
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("SPARK_LOCAL_DIRS", str(other))
        key = Path(session.class_archive().dump_to).name.split(".")[0]
    assert key != job.key
    copied = other / session.ARCHIVE_DIR / f"{key}-{jsa.stat().st_size}.jsa"
    shutil.copy(jsa, copied)
    state, rows, out = job(other)
    assert (state, rows) == ("none", job.want)
    assert "Unable to use shared archive" in out
    assert not copied.exists()
    state, rows, _ = job(other)
    assert (state, rows) == ("dumped", job.want)
