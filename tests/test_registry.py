"""Structure of the query registry and the package: one registration
decorator, one ``_t`` table helper, every family module that defines
QUERIES is collected, no module imports itself, and no operator module
keeps state behind a ``global`` statement."""

from __future__ import annotations

import ast
import pathlib

import pytest

from presto_db_spark import registry

PKG = pathlib.Path(registry.__file__).parent


def _modules() -> dict[str, ast.Module]:
    trees = {}
    for p in sorted(PKG.rglob("*.py")):
        name = ".".join(("presto_db_spark", *p.relative_to(PKG).with_suffix("").parts))
        trees[name] = ast.parse(p.read_text())
    return trees


def _defines(tree: ast.Module, name: str) -> bool:
    return any(
        isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)) and n.name == name
        for n in ast.walk(tree)
    )


def _assigns(tree: ast.Module, name: str) -> bool:
    """Whether the module body binds ``name`` at top level."""
    for n in tree.body:
        targets = n.targets if isinstance(n, ast.Assign) else [getattr(n, "target", None)]
        if any(isinstance(t, ast.Name) and t.id == name for t in targets):
            return True
    return False


def test_one_registration_decorator_and_one_table_helper():
    mods = _modules()
    assert [m for m, t in mods.items() if _defines(t, "_q")] == []
    assert [m for m, t in mods.items() if _defines(t, "_t")] == [
        "presto_db_spark.operators.tpch"
    ]


def test_registrar_rejects_duplicate_names():
    queries: dict = {}
    oracle: dict = {}
    q = registry.registrar(queries, oracle)

    @q("a", "SELECT 1")
    def a(spark, sf_dir):
        return None

    @q("b")
    def b(spark, sf_dir):
        return None

    assert list(queries) == ["a", "b"] and oracle == {"a": "SELECT 1"}
    with pytest.raises(ValueError, match="duplicate query name: a"):
        q("a")(b)
    assert queries["a"] is a


def test_modules_list_every_family_module():
    assert len(registry._MODULES) == len(set(registry._MODULES))
    defining = {m for m, t in _modules().items() if _assigns(t, "QUERIES")}
    assert set(registry._MODULES) == defining


def _self_imports(name: str, tree: ast.Module) -> list[int]:
    """Lines where module ``name`` imports from itself."""
    package = name.rsplit(".", 1)[0]
    lines = []
    for n in ast.walk(tree):
        if not isinstance(n, ast.ImportFrom):
            continue
        if n.level:
            base = package.rsplit(".", n.level - 1)[0] if n.level > 1 else package
            target = f"{base}.{n.module}" if n.module else base
        else:
            target = n.module
        if target == name:
            lines.append(n.lineno)
    return lines


def test_no_module_imports_itself():
    found = {m: ls for m, t in _modules().items() if (ls := _self_imports(m, t))}
    assert found == {}


def test_no_global_statement_in_operators():
    found = {
        m: [n.lineno for n in ast.walk(t) if isinstance(n, ast.Global)]
        for m, t in _modules().items()
        if m.startswith("presto_db_spark.operators.")
    }
    assert {m: ls for m, ls in found.items() if ls} == {}
