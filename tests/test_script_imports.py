"""Every ``rove_spark`` name that the scripts, the bench entry points and
the perfbench harness import must exist.

These files are not imported by any other test, so a deleted or renamed
operator would otherwise only surface when someone runs the script. The
scan is static (AST) and resolution is a plain module import — no Spark
session is started. The same holds for the worker daemon module that
``get_spark`` names in the session conf."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import os
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SOURCES = sorted(
    [*ROOT.glob("scripts/*.py"), ROOT / "bench.py", ROOT / "bench_extra.py",
     *ROOT.glob("perfbench/*.py")]
)


def _rove_imports(path: Path) -> list[tuple[int, str, str | None]]:
    """(line, module, name) for each absolute ``rove_spark`` import;
    ``name`` is None for ``import rove_spark.x`` statements."""
    out = []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            if node.module.split(".")[0] == "rove_spark":
                out += [(node.lineno, node.module, a.name) for a in node.names]
        elif isinstance(node, ast.Import):
            out += [
                (node.lineno, a.name, None)
                for a in node.names
                if a.name.split(".")[0] == "rove_spark"
            ]
    return out


def _resolves(module: str, name: str | None) -> bool:
    mod = importlib.import_module(module)
    if name is None or name == "*" or hasattr(mod, name):
        return True
    try:  # ``from rove_spark.plans import driver_queries`` names a submodule
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def test_sources_found():
    assert ROOT / "bench.py" in SOURCES
    assert any(p.parent.name == "scripts" for p in SOURCES)
    assert any(p.parent.name == "perfbench" for p in SOURCES)


@pytest.mark.parametrize("path", SOURCES, ids=lambda p: str(p.relative_to(ROOT)))
def test_rove_spark_imports_resolve(path):
    missing = [
        f"{path.name}:{line}: from {module} import {name}"
        for line, module, name in _rove_imports(path)
        if not _resolves(module, name)
    ]
    assert not missing, "unresolved imports:\n" + "\n".join(missing)


def test_daemon_module_resolves_to_package_file(monkeypatch):
    """``get_spark`` names the Python worker daemon by module path. A
    rename of that module would only surface when a Python task starts,
    so read the value ``get_spark`` sets (with a recording builder, no
    Spark) and check that it resolves to a file of this package."""
    from rove_spark import session

    conf: dict[str, str] = {}

    class Builder:
        def __getattr__(self, _name):
            return lambda *a, **k: self

        def config(self, key, value):
            conf[key] = value
            return self

        def getOrCreate(self):
            return None

    class FakeSession:
        builder = Builder()

    monkeypatch.setattr(session, "SparkSession", FakeSession)
    monkeypatch.setattr(session, "probe_iceberg", lambda: None)
    for var in ("PYTHONPATH", *session._BLAS_ENV):
        monkeypatch.setenv(var, os.environ.get(var, ""))
    session.get_spark("daemon_probe", master="local[1]")

    spec = importlib.util.find_spec(conf["spark.python.daemon.module"])
    assert spec is not None and spec.origin is not None
    origin = Path(spec.origin).resolve()
    assert origin.is_file()
    assert origin.parent == ROOT / "rove_spark", origin
