"""Every ``rove_spark`` name that the scripts, the bench entry points and
the perfbench harness import must exist.

These files are not imported by any other test, so a deleted or renamed
operator would otherwise only surface when someone runs the script. The
scan is static (AST) and resolution is a plain module import — no Spark
session is started."""

from __future__ import annotations

import ast
import importlib
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
