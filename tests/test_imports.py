"""The package's import graph, read from the source (no Spark)."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "trianglecount_spark"
REGIME = "trianglecount_spark.operators.regime"


def _imports(source: str, package: tuple[str, ...]) -> set[str]:
    """Every module ``source`` imports, at module level or inside a
    function: ``import a.b`` gives ``a.b``; ``from a import b`` gives
    ``a`` and ``a.b`` (``b`` may be a module); relative imports are
    resolved against ``package``, the importing module's package."""
    out: set[str] = set()
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = package[: len(package) - node.level + 1] if node.level else ()
            mod = ".".join([*base, *([node.module] if node.module else [])])
            out.add(mod)
            out.update(f"{mod}.{a.name}" for a in node.names)
    return out


def _module_imports(path: Path) -> set[str]:
    package = path.relative_to(PKG.parent).with_suffix("").parts[:-1]
    return _imports(path.read_text(), package)


def test_package_never_imports_perfbench():
    offenders = {
        str(p.relative_to(PKG.parent)): m
        for p in PKG.rglob("*.py")
        for m in _module_imports(p)
        if m.split(".")[0] == "perfbench"
    }
    assert offenders == {}


def test_iterative_imports_nothing_from_regime():
    mods = _module_imports(PKG / "operators" / "iterative.py")
    assert not {m for m in mods if m == REGIME or m.startswith(REGIME + ".")}


def test_import_walk_sees_every_form():
    """The walk resolves the forms the two checks above rely on:
    function-level, relative and aliased imports."""
    source = (
        "import perfbench.ledger\n"
        "from . import regime\n"
        "def f():\n"
        "    from .regime import fits_broadcast\n"
        "    from ..operators import regime as r\n"
    )
    mods = _imports(source, ("trianglecount_spark", "operators"))
    assert {"perfbench.ledger", REGIME, REGIME + ".fits_broadcast"} <= mods
