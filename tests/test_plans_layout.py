"""Layering of the query plans: ``plans/`` is the top layer (only the
package ``__init__`` imports it, to register the queries), and its modules
are named by operator family."""

from __future__ import annotations

import ast
import pathlib

import my_favorite_etl_pipeline_spark as pkg

ROOT = pathlib.Path(pkg.__file__).parent


def _imports_plans(path: pathlib.Path) -> list[str]:
    rel = path.relative_to(ROOT).parts
    hits = []
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.ImportFrom):
            if node.level:
                # resolve the relative module against the file's package
                base = list(rel[: len(rel) - node.level])
                target = base + (node.module.split(".") if node.module else [])
                names = [a.name for a in node.names]
                if target[:1] == ["plans"] or (not target and "plans" in names):
                    hits.append(f"{path.name}:{node.lineno}")
            elif (node.module or "").startswith(f"{pkg.__name__}.plans"):
                hits.append(f"{path.name}:{node.lineno}")
        elif isinstance(node, ast.Import):
            if any(a.name.startswith(f"{pkg.__name__}.plans") for a in node.names):
                hits.append(f"{path.name}:{node.lineno}")
    return hits


def test_no_module_outside_plans_imports_plans():
    offenders = []
    for path in ROOT.rglob("*.py"):
        if path.parts[len(ROOT.parts)] == "plans" or path == ROOT / "__init__.py":
            continue
        offenders += _imports_plans(path)
    assert not offenders, offenders


def test_plan_modules_are_named_by_family():
    names = sorted(p.stem for p in (ROOT / "plans").glob("*.py"))
    assert not [n for n in names if n.startswith("llm_ext") or n == "forensics"], names
