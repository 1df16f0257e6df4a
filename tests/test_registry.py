"""Registry hygiene: load_all() order, and no engine definition that only
tests reach."""

from __future__ import annotations

import ast
from pathlib import Path

from boxoffice_spark.registry import QUERIES, load_all

SPECS = load_all()
ROOT = Path(__file__).resolve().parents[1]


def test_load_order_oracles_first_in_registration_order():
    oracle = [n for n, s in QUERIES.items() if s.oracle is not None]
    rows_only = [n for n, s in QUERIES.items() if s.oracle is None]
    assert list(SPECS) == oracle + rows_only


def _program_files() -> list[Path]:
    """Every file that runs the engine outside tests: the package, the
    tools, the benchmark (not its own tests) and the two entry points."""
    files = [*(ROOT / "boxoffice_spark").rglob("*.py"), *(ROOT / "tools").rglob("*.py")]
    files += [
        p for p in (ROOT / "perfbench").rglob("*.py")
        if "tests" not in p.relative_to(ROOT / "perfbench").parts
    ]
    return files + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]


def _referenced_names(node: ast.AST):
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1]
            if n.asname:
                yield n.asname


def _is_registered(node: ast.AST) -> bool:
    """``@register(...)``-decorated query: load_all() reaches it."""
    for d in getattr(node, "decorator_list", []):
        f = d.func if isinstance(d, ast.Call) else d
        if getattr(f, "id", None) == "register" or getattr(f, "attr", None) == "register":
            return True
    return False


def test_every_engine_definition_has_a_program_caller():
    """Each top-level def/class in boxoffice_spark/ (registered queries
    aside) is named somewhere in the program outside its own body and
    outside any other unreached definition; repeated until nothing new is
    unreached, so a chain reached only from an unreached definition is
    caught whole. Parsed with ast, nothing imported. Reference code that
    only tests need belongs under tests/."""
    package = ROOT / "boxoffice_spark"
    definitions: set[tuple[str, str]] = set()
    owners_of: dict[str, set] = {}  # name -> definitions (None: top level) naming it
    for path in _program_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        for stmt in tree.body:
            owner = None
            if (
                package in path.parents
                and isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and not _is_registered(stmt)
            ):
                owner = (str(path.relative_to(ROOT)), stmt.name)
                definitions.add(owner)
            for name in _referenced_names(stmt):
                owners_of.setdefault(name, set()).add(owner)

    unreached: set[tuple[str, str]] = set()
    while new := {
        d for d in definitions - unreached
        if not owners_of.get(d[1], set()) - unreached - {d}
    }:
        unreached |= new
    assert not unreached, "engine definitions with no program caller: " + ", ".join(
        f"{path}:{name}" for path, name in sorted(unreached)
    )
