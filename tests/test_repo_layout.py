"""Source-layout guards: the catalog is one registry plus independent
domain modules, and no program file pins the checkout location. No
Spark session is needed."""

from __future__ import annotations

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = "udacity_capstone_data_engineering_spark"
CATALOG = ROOT / PKG / "queries"
DOMAINS = {p.stem for p in CATALOG.glob("*.py")} - {"__init__"}


def test_order_is_a_permutation_of_the_registry():
    from udacity_capstone_data_engineering_spark.queries import (
        _ORDER,
        _REGISTRY,
        queries,
    )

    assert len(set(_ORDER)) == len(_ORDER), "a row is listed twice"
    assert sorted(_ORDER) == sorted(_REGISTRY), (
        set(_ORDER) ^ set(_REGISTRY)
    )
    assert list(queries()) == list(_ORDER)


def test_domain_modules_import_only_the_registry_and_engine():
    assert DOMAINS >= {"relational", "tpch", "corpus", "retrieval"}
    bad = []
    for dom in sorted(DOMAINS):
        tree = ast.parse((CATALOG / f"{dom}.py").read_text())
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                if node.level:
                    bad.append((dom, node.lineno, "relative import"))
                    continue
                mod = node.module or ""
                if mod.startswith(f"{PKG}.queries."):
                    bad.append((dom, node.lineno, mod))
                elif mod == f"{PKG}.queries":
                    bad += [
                        (dom, node.lineno, a.name)
                        for a in node.names
                        if a.name in DOMAINS
                    ]
            elif isinstance(node, ast.Import):
                bad += [
                    (dom, node.lineno, a.name)
                    for a in node.names
                    if a.name.startswith(f"{PKG}.queries.")
                ]
    assert not bad, bad


def test_no_round_named_catalog_modules():
    left = sorted(p.name for p in (ROOT / PKG).rglob("queries_phase*.py"))
    assert not left, left
    assert not (ROOT / PKG / "queries.py").exists()


def test_no_program_file_pins_the_checkout_path():
    """A hard-coded checkout path makes a script run from a copy import
    another checkout's package; derive it from ``__file__`` instead."""
    absolute_insert = re.compile(r"sys\.path\.insert\(\s*0\s*,\s*[rbuf]*[\"']/")
    bad = []
    for p in ROOT.rglob("*.py"):
        rel = p.relative_to(ROOT)
        if rel.parts[0] in {"perfbench", ".git"}:
            continue
        text = p.read_text(errors="replace")
        if str(ROOT) in text or absolute_insert.search(text):
            bad.append(str(rel))
    assert not bad, sorted(bad)
