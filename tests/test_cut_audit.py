"""Every lineage cut in the package goes through ``session.cut``.

A pure-AST check (no Spark session): it fails on any ``.localCheckpoint(``
or ``.checkpoint(`` attribute call in the package outside ``session.cut``
and lists each one, so the choice between the two cut media stays in one
function.
"""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "wiki_entity_linker_spark"


def _cut_sites() -> list[str]:
    sites = []
    for d, _, files in os.walk(os.path.join(ROOT, PKG)):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(d, f)
            rel = os.path.relpath(path, ROOT)
            tree = ast.parse(open(path).read(), path)
            allowed = set()
            if rel == f"{PKG}/session.py":
                for node in tree.body:
                    if isinstance(node, ast.FunctionDef) and node.name == "cut":
                        allowed = {id(n) for n in ast.walk(node)}
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("localCheckpoint", "checkpoint")
                    and id(node) not in allowed
                ):
                    sites.append(f"{rel}:{node.lineno} .{node.func.attr}(")
    return sorted(sites)


def test_no_lineage_cut_outside_session_cut():
    sites = _cut_sites()
    assert not sites, (
        f"{len(sites)} lineage cuts bypass session.cut:\n" + "\n".join(sites)
    )
