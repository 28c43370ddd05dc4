"""The Python workers' daemon (``worker_daemon``): its zip-directory
invalidation re-reads an archive only when the archive changed, and the
fixture session's Python tasks run under it."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport
from pathlib import Path

from quake3_log_analyser_spark import session, worker_daemon


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def _wrap_invalidation(monkeypatch) -> None:
    """Install worker_daemon's invalidation until the test ends."""
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        worker_daemon.invalidate_when_changed(zipimport.zipimporter.invalidate_caches),
    )


def test_invalidation_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"zd_first": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    for name in ("zd_first", "zd_second"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zd_first").X == 1

    reads = []
    read_directory = zipimport._read_directory

    def counted(path):
        if path == str(archive):
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    _wrap_invalidation(monkeypatch)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, {"zd_first": "X = 1\n", "zd_second": "Y = 2\n"})
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert importlib.import_module("zd_second").Y == 2
    importlib.invalidate_caches()
    assert len(reads) == 1


def test_invalidation_rereads_a_missing_archive(tmp_path, monkeypatch):
    archive = tmp_path / "gone.zip"
    _write_zip(archive, {"zd_gone": "Z = 3\n"})
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.delitem(sys.modules, "zd_gone", raising=False)
    assert importlib.import_module("zd_gone").Z == 3
    _wrap_invalidation(monkeypatch)
    archive.unlink()
    importlib.invalidate_caches()
    assert str(archive) not in zipimport._zip_directory_cache


def test_workers_find_package_from_cwd_or_pythonpath(tmp_path, monkeypatch):
    repo = Path(session.__file__).resolve().parents[1]
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("PYTHONPATH", "")
    assert not session._workers_find_package()
    monkeypatch.setenv("PYTHONPATH", str(repo))
    assert session._workers_find_package()
    monkeypatch.delenv("PYTHONPATH")
    monkeypatch.chdir(repo)
    assert session._workers_find_package()


def test_fixture_session_tasks_run_under_the_worker_daemon(spark):
    """The test session is launched by get_spark from the repository root,
    so its Python tasks fork from worker_daemon, and before Python 3.13
    they invalidate zip importers through its method."""

    def daemon_of_task(batches):
        import sys
        import zipimport

        import pyarrow as pa

        main = sys.modules["__main__"].__spec__
        method = zipimport.zipimporter.invalidate_caches.__qualname__
        for _ in batches:
            yield pa.RecordBatch.from_pydict(
                {
                    "daemon": [main.name if main else None],
                    "invalidate": [method],
                    "minor": [sys.version_info.minor],
                }
            )

    rows = (
        spark.range(2)
        .repartition(2)
        .mapInArrow(
            daemon_of_task, "daemon string, invalidate string, minor long"
        )
        .collect()
    )
    assert len(rows) == 2
    for r in rows:
        assert r["daemon"] == session.WORKER_DAEMON
        replaced = r["minor"] < 13
        assert r["invalidate"].startswith("invalidate_when_changed.") == replaced
