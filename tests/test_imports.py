"""Every import of the library, anywhere in the checkout, names a module
that exists.  ``bench.py``'s builders and many tests import inside
functions, so a deleted module would otherwise surface only halfway
through a bench run or in one test's body."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "buildkite_logs_parquet_spark"
sys.path.insert(0, str(ROOT))


def _sources() -> list[Path]:
    files = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    for d in ("tools", "perfbench"):
        files += sorted((ROOT / d).glob("*.py"))
    return files + sorted((ROOT / PKG).rglob("*.py")) + sorted(
        (ROOT / "tests").rglob("*.py")
    )


def _library_imports(path: Path):
    """(module, name or None) for each library import, nested ones too."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == PKG:
                    yield alias.name, None
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            if (node.module or "").split(".")[0] == PKG:
                for alias in node.names:
                    yield node.module, alias.name


def _resolves(module: str, name: str | None) -> bool:
    spec = importlib.util.find_spec(module)
    if spec is None:
        return False
    if name is None or name == "*":
        return True
    # ``from pkg import x``: x is a submodule or a name the module defines
    if spec.submodule_search_locations is not None and (
        importlib.util.find_spec(f"{module}.{name}") is not None
    ):
        return True
    return hasattr(importlib.import_module(module), name)


def test_every_library_import_resolves():
    sources = _sources()
    assert ROOT / PKG / "cli.py" in sources
    dangling = sorted(
        f"{path.relative_to(ROOT)}: {module}{'.' + name if name else ''}"
        for path in sources
        for module, name in set(_library_imports(path))
        if not _resolves(module, name)
    )
    assert dangling == []
