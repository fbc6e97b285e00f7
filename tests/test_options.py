"""Every defaulted parameter of a product function is set by some call.

A parameter that no call in the repository passes with a value other than
its default is a constant dressed as an option: it doubles the
configurations the tests should cover and guards branches nothing runs.
This is a pure-AST check (no Spark session). It reads every call in the
package, ``bench.py``, ``bench_extra.py``, ``__spark_entry__.py``,
``scripts/``, ``perfbench/`` and ``tests/``, and fails on a defaulted
parameter of a package function (``queries.py`` excepted: its functions
are the registered queries and their oracle SQL generators) that every call
leaves at its default. Names defined more than once in the package are
skipped, since a call cannot be told apart by name. ``from m import f as
g`` aliases resolve to ``f``. A call that splats ``*args``/``**kwargs`` counts
as setting every parameter.
"""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "wiki_entity_linker_spark"

# Pipeline entry points take their run settings from the caller.
ENTRY_PREFIXES = ("run_", "compact_")
# Deployment settings and the benchmark's own call contract.
ALLOWED = {
    ("*", "store"),
    ("*", "store_factory"),
    ("cluster_conf_profile", "*"),
    # perfbench/worker.py names these two, and perfbench/ is benchmark code
    ("evaluate_against_labeled_pairs", "id_col"),
    ("evaluate_against_labeled_pairs", "cluster_col"),
}


def _sources():
    for base in (PKG, "tests", "scripts", "perfbench"):
        for d, _, files in os.walk(os.path.join(ROOT, base)):
            for f in sorted(files):
                if f.endswith(".py"):
                    yield os.path.join(d, f)
    for f in ("bench.py", "bench_extra.py", "__spark_entry__.py"):
        if os.path.exists(os.path.join(ROOT, f)):
            yield os.path.join(ROOT, f)


def _exempt(rel: str, fn: str, param: str) -> bool:
    if rel.startswith(f"{PKG}/fixtures/") or fn.startswith(ENTRY_PREFIXES):
        return True
    if fn.startswith("streaming_") and fn.endswith("_append"):
        return True
    return bool({(fn, param), ("*", param), (fn, "*")} & ALLOWED)


def _unset_params() -> list[str]:
    trees = {}
    for path in _sources():
        with open(path) as fh:
            trees[os.path.relpath(path, ROOT)] = ast.parse(fh.read(), path)
    n_defs: dict[str, int] = {}
    defs = {}
    for rel, tree in trees.items():
        if not rel.startswith(f"{PKG}/"):
            continue
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                n_defs[node.name] = n_defs.get(node.name, 0) + 1
                if rel != f"{PKG}/queries.py":
                    defs[node.name] = (rel, node)
    calls: dict[str, list[ast.Call]] = {}
    for tree in trees.values():
        alias = {
            a.asname: a.name
            for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom)
            for a in node.names
            if a.asname
        }
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name is not None:
                calls.setdefault(alias.get(name, name), []).append(node)
    unset = []
    for name, (rel, fn) in sorted(defs.items()):
        if n_defs[name] > 1:
            continue
        a = fn.args
        pos = a.posonlyargs + a.args
        skip = 1 if pos and pos[0].arg in ("self", "cls") else 0
        defaulted = [
            (p.arg, i - skip, d)
            for i, (p, d) in enumerate(
                zip(pos, [None] * (len(pos) - len(a.defaults)) + a.defaults)
            )
            if d is not None
        ] + [
            (p.arg, None, d)
            for p, d in zip(a.kwonlyargs, a.kw_defaults)
            if d is not None
        ]
        for param, idx, default in defaulted:
            if _exempt(rel, name, param):
                continue
            want = ast.dump(default)

            def sets(c: ast.Call) -> bool:
                if any(isinstance(x, ast.Starred) for x in c.args):
                    return True
                for k in c.keywords:
                    if k.arg is None or (k.arg == param and ast.dump(k.value) != want):
                        return True
                return (
                    idx is not None
                    and 0 <= idx < len(c.args)
                    and ast.dump(c.args[idx]) != want
                )

            if not any(sets(c) for c in calls.get(name, [])):
                unset.append(f"{rel}: {name}({param}={ast.unparse(default)})")
    return unset


def test_every_defaulted_parameter_is_set_by_some_call():
    unset = _unset_params()
    assert not unset, (
        f"{len(unset)} parameter(s) that no call sets to a non-default "
        "value; make each a constant:\n" + "\n".join(unset)
    )
