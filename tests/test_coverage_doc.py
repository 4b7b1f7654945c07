"""COVERAGE.md names code that exists.

Every backticked ``path.py::name`` reference must resolve to a ``def``,
``class`` or assignment in that file. ``::a/b`` names several members of
one file, a trailing ``*`` is a prefix (``test_foo_*``), a trailing
argument list is ignored (``enrich(dedup_dim=True)``), and a dotted name
is a qualified one (``LakeTable.upsert``). Package paths are relative to
``big_data_data_lake_spark/``; ``tests/``, ``tools/`` and top-level
scripts such as ``__spark_entry__.py`` are relative to the repo root.
"""

from __future__ import annotations

import ast
import functools
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "big_data_data_lake_spark"
REF = re.compile(r"`([\w/]+\.py)::([^`]+)`")


@functools.cache
def _defined_names(path: Path) -> set[str]:
    """Qualified and bare names of every def and class in ``path``, and
    of every assignment outside a function body."""
    out: set[str] = set()

    def visit(body: list[ast.stmt], prefix: str, in_function: bool) -> None:
        for node in body:
            names = []
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [node.name]
                visit(
                    node.body,
                    prefix + node.name + ".",
                    in_function or not isinstance(node, ast.ClassDef),
                )
            elif isinstance(node, (ast.Assign, ast.AnnAssign)) and not in_function:
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                names = [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
            for name in names:
                out.update((name, prefix + name))

    visit(ast.parse(path.read_text()).body, "", False)
    return out


def _resolve(rel: str) -> Path:
    if rel.startswith(("tests/", "tools/")) or (
        "/" not in rel and (ROOT / rel).is_file()
    ):
        return ROOT / rel
    return PACKAGE / rel


def unresolved_references(doc: str) -> list[str]:
    """The ``path.py::name`` references in ``doc`` that name no file or
    no definition in it."""
    bad = []
    for rel, names in REF.findall(doc):
        path = _resolve(rel)
        if not path.is_file():
            bad.append(f"{rel}::{names} (no such file)")
            continue
        defined = _defined_names(path)
        for name in names.split("/"):
            name = re.sub(r"\(.*\)$", "", name.strip())
            if name.endswith("*"):
                found = any(d.startswith(name[:-1]) for d in defined)
            else:
                found = name in defined
            if not found:
                bad.append(f"{rel}::{name}")
    return bad


def test_every_coverage_reference_names_existing_code():
    doc = (ROOT / "COVERAGE.md").read_text()
    assert REF.search(doc), "COVERAGE.md holds no path.py::name reference"
    assert unresolved_references(doc) == []


def test_guard_rejects_missing_names():
    """The resolver itself: a real member passes, and a missing member,
    a missing file or a package module named without its directory
    fails."""
    assert unresolved_references(
        "`sources/metadata.py::LakeTable.upsert/upsert_scd2` "
        "`tests/test_coverage_doc.py::test_every_*` "
        "`__spark_entry__.py::queries()`"
    ) == []
    assert unresolved_references(
        "`sources/metadata.py::LakeTable.no_such_method` "
        "`sources/no_such_module.py::x` "
        "`filters.py::membership`"
    ) == [
        "sources/metadata.py::LakeTable.no_such_method",
        "sources/no_such_module.py::x (no such file)",
        "filters.py::membership (no such file)",
    ]
