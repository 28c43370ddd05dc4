"""Import sweep: every package module imports, and every import of the
package that a job, script, benchmark file or package module makes
(function-local ones included) names a module and attribute that exist.
Starts no Spark session, so a carve-out that leaves a dangling import
fails here in seconds instead of at the first run of the code path."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import pkgutil
import zipimport
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "quake3_log_analyser_spark"


def _package_modules() -> list[str]:
    pkg = importlib.import_module(PKG)
    return [PKG] + sorted(
        m.name for m in pkgutil.walk_packages(pkg.__path__, PKG + ".")
    )


def test_every_package_module_imports():
    failed = {}
    for name in _package_modules():
        try:
            importlib.import_module(name)
        except Exception as exc:  # report every broken module, not the first
            failed[name] = repr(exc)
    assert not failed, failed
    # worker_daemon replaces it only when run as the workers' daemon
    method = zipimport.zipimporter.invalidate_caches
    assert (method.__module__, method.__qualname__) == (
        "zipimport", "zipimporter.invalidate_caches"
    )


def _sources() -> list[Path]:
    files = [ROOT / "__spark_entry__.py"]
    for d in ("jobs", "scripts", "perfbench"):
        files += sorted((ROOT / d).glob("*.py"))
    return files + sorted((ROOT / PKG).rglob("*.py"))


def _package_of(path: Path) -> str | None:
    """The package a relative import in ``path`` resolves against."""
    rel = path.relative_to(ROOT).with_suffix("")
    if rel.parts[0] != PKG:
        return None
    parts = rel.parts if rel.name == "__init__" else rel.parts[:-1]
    return ".".join(p for p in parts if p != "__init__")


def _package_imports(path: Path):
    """``(line, module, names)`` for each import of the package in ``path``."""
    package = _package_of(path)
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == PKG:
                    yield node.lineno, alias.name, []
        elif isinstance(node, ast.ImportFrom):
            module = node.module or ""
            if node.level:
                module = importlib.util.resolve_name(
                    "." * node.level + module, package
                )
            if module.split(".")[0] == PKG:
                yield node.lineno, module, [a.name for a in node.names]


def test_package_imports_resolve():
    unresolved = []
    for path in _sources():
        where = path.relative_to(ROOT)
        for line, module, names in _package_imports(path):
            try:
                mod = importlib.import_module(module)
            except ImportError as exc:
                unresolved.append(f"{where}:{line}: {module} ({exc})")
                continue
            for name in names:
                if name == "*" or hasattr(mod, name):
                    continue
                # a not-yet-imported submodule of a package also resolves
                if not (
                    hasattr(mod, "__path__")
                    and importlib.util.find_spec(f"{module}.{name}")
                ):
                    unresolved.append(f"{where}:{line}: {module}.{name}")
    assert not unresolved, "\n".join(unresolved)
