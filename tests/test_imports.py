"""Every import of the library, anywhere in the checkout, names a module
that exists.  ``bench.py``'s builders and many tests import inside
functions, so a deleted module would otherwise surface only halfway
through a bench run or in one test's body.

Every library module is reached from the registry, the CLI or the
benchmark, or is listed here as a test-only surface."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "buildkite_logs_parquet_spark"
sys.path.insert(0, str(ROOT))

#: Library modules that no registered key, CLI command, benchmark
#: workload or ``bench.py`` key imports: only their tests do.
TEST_ONLY = {
    "functions.audio_codec",
    "functions.flac_codec",
    "functions.mp3_codec",
    "plans",
    "plans.checks",
    "sources.bk_datasource",
    "sources.csv_source",
    "sources.notebook",
    "sources.tail_source",
    "sources.webdataset",
    "streaming",
    "streaming.follow",
}


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


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _module_path(module: str) -> Path | None:
    rel = ROOT.joinpath(*module.split("."))
    for path in (rel / "__init__.py", rel.with_suffix(".py")):
        if path.is_file():
            return path
    return None


def _with_packages(module: str):
    """``module`` and every package that importing it loads first."""
    parts = module.split(".")
    for i in range(1, len(parts) + 1):
        yield ".".join(parts[:i])


def _reach(roots: list[Path]) -> set[str]:
    """Library modules that importing or running ``roots`` can load."""
    seen: set[str] = set()
    todo: list[Path] = []

    def load(module: str) -> None:
        for m in _with_packages(module):
            path = _module_path(m)
            if m not in seen and path is not None:
                seen.add(m)
                todo.append(path)

    for root in roots:
        if root.is_relative_to(ROOT / PKG):
            load(_module_name(root))
        else:
            todo.append(root)
    while todo:
        for module, name in _library_imports(todo.pop()):
            load(module)
            if name is not None:
                load(f"{module}.{name}")
    return seen


def test_library_outside_the_reach_is_listed_as_test_only():
    roots = [ROOT / "__spark_entry__.py", ROOT / PKG / "cli.py"]
    roots += sorted((ROOT / "perfbench").glob("*.py"))
    reached = _reach(roots)
    library = {_module_name(p) for p in (ROOT / PKG).rglob("*.py")}
    unreached = {m.removeprefix(f"{PKG}.") for m in library - reached}
    assert unreached == TEST_ONLY
    assert sorted(_reach([ROOT / "bench.py"]) - reached) == []
