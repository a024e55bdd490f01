"""Package hygiene: every module-level def, class and constant of the extraction
modules is used by package code — referenced as a Name or Attribute somewhere
in ``pdf_extract_sys_spark`` (docstring mentions do not count) — so dead
helpers and test-only conveniences cannot accumulate in the production path."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

PKG = Path(__file__).resolve().parents[1] / "pdf_extract_sys_spark"
CHECKED = [
    "extract.py",
    "kernels/pdf_text.py",
    "kernels/ocr.py",
    "kernels/html.py",
    "kernels/util.py",
]


def _defined(tree: ast.Module) -> list[str]:
    names = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.append(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names += [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
    return names


def _referenced() -> set[str]:
    refs = set()
    for path in PKG.rglob("*.py"):
        for n in ast.walk(ast.parse(path.read_text())):
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
                refs.add(n.id)
            elif isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load):
                refs.add(n.attr)
    return refs


@pytest.mark.parametrize("module", CHECKED)
def test_every_module_level_name_is_used(module: str):
    tree = ast.parse((PKG / module).read_text())
    unused = sorted(set(_defined(tree)) - _referenced())
    assert not unused, f"{module}: defined but never referenced by package code: {unused}"
