"""Every defaulted option of a product function or dataclass takes two values.

An option that the product always passes the same value is a constant
dressed as an option: it doubles the configurations the tests should cover
and guards branches nothing runs. This is a pure-AST check (no Spark
session). It reads every call in the package, ``bench.py``,
``bench_extra.py``, ``__spark_entry__.py``, ``scripts/`` and ``perfbench/``.
Calls under ``tests/`` do not count: a value only a test passes is a test
configuration, which the test sets by monkeypatching a module constant.
The check fails on

* a defaulted parameter of a package function (``queries.py`` excepted: its
  functions are the registered queries and their oracle SQL generators)
  that every call passes one value, the default included when a call
  leaves it out;
* a field of a package dataclass with a literal default that every
  constructor call (keyword or positional) and every attribute assignment
  sets to one value.

Names defined more than once in the package are skipped, since a call
cannot be told apart by name. ``from m import f as g`` aliases resolve to
``f``. A call that splats ``*args``/``**kwargs`` counts as passing every
parameter a value of its own, and so does a forwarded name
(``n_planes=n_planes``): it carries whatever its own caller passed. Other
values compare as literals: module-level constants of the package fold to
their values, so passing ``DEFAULT_N_HASHES`` where the default is ``16``
is the default, and any other expression compares by its source text.
"""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "wiki_entity_linker_spark"

ALLOWED = {
    # deployment settings: where stage tables live and how often a stream
    # compacts its chain
    ("*", "store"),
    ("*", "store_factory"),
    ("*", "compact_every"),
    # data inputs: a pipeline runs with or without them
    ("*", "alias_dict"),
    ("*", "labeled_pairs"),
    ("*", "benchmark"),
    ("cluster_conf_profile", "*"),
    # perfbench/worker.py names these two, and perfbench/ is benchmark code
    ("evaluate_against_labeled_pairs", "id_col"),
    ("evaluate_against_labeled_pairs", "cluster_col"),
    # the reference benchmark file the linking demo reads
    ("run_benchmark_demo", "benchmark_path"),
    # the dictionary-circularity ablation that BASELINE.md publishes
    ("run_benchmark_demo", "alias_source"),
    ("hyperlink_alias_dict", "include_label_names"),
    # the brute-force reference the LSH near-dup parity test compares with
    ("embedding_neardup_pairs", "threshold"),
}


def _sources():
    for base in (PKG, "scripts", "perfbench"):
        for d, _, files in os.walk(os.path.join(ROOT, base)):
            for f in sorted(files):
                if f.endswith(".py"):
                    yield os.path.join(d, f)
    for f in ("bench.py", "bench_extra.py", "__spark_entry__.py"):
        if os.path.exists(os.path.join(ROOT, f)):
            yield os.path.join(ROOT, f)


def _exempt(rel: str, fn: str, param: str) -> bool:
    if rel.startswith(f"{PKG}/fixtures/"):
        return True
    return bool({(fn, param), ("*", param), (fn, "*")} & ALLOWED)


_NOT_LITERAL = object()


def _literal(node: ast.AST):
    """The value of a literal expression, else ``_NOT_LITERAL``."""
    try:
        return ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError, MemoryError, RecursionError):
        return _NOT_LITERAL


def _module_constants(pkg_trees) -> dict:
    """name -> value of every module-level ``NAME = <literal>`` in the
    package; a name bound to two different values is left out."""
    seen: dict = {}
    for tree in pkg_trees:
        for node in tree.body:
            if (
                isinstance(node, ast.Assign)
                and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)
            ):
                v = _literal(node.value)
                if v is not _NOT_LITERAL:
                    seen.setdefault(node.targets[0].id, []).append(v)
    return {k: vs[0] for k, vs in seen.items() if all(v == vs[0] for v in vs)}


def _is_dataclass(cls: ast.ClassDef) -> bool:
    for d in cls.decorator_list:
        d = d.func if isinstance(d, ast.Call) else d
        if getattr(d, "id", None) == "dataclass" or getattr(d, "attr", None) == "dataclass":
            return True
    return False


def _unset_options() -> list[str]:
    trees = {}
    for path in _sources():
        with open(path) as fh:
            trees[os.path.relpath(path, ROOT)] = ast.parse(fh.read(), path)
    consts = _module_constants(
        t for rel, t in trees.items() if rel.startswith(f"{PKG}/")
    )

    def value(node: ast.AST):
        """A comparable form of a passed expression: ``None`` for a
        forwarded name (it varies with its own caller), else its literal
        value (module constants folded), else its AST text."""
        if isinstance(node, ast.Name) and node.id not in consts:
            return None
        name = node.id if isinstance(node, ast.Name) else getattr(node, "attr", None)
        if isinstance(node, (ast.Name, ast.Attribute)) and name in consts:
            v = consts[name]
        else:
            v = _literal(node)
        return ("ast", ast.dump(node)) if v is _NOT_LITERAL else (type(v), v)

    n_defs: dict[str, int] = {}
    # name -> (rel, is_dataclass, [(option, positional index or None,
    # default node)])
    options: dict[str, tuple[str, bool, list]] = {}
    for rel, tree in trees.items():
        if not rel.startswith(f"{PKG}/"):
            continue
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                n_defs[node.name] = n_defs.get(node.name, 0) + 1
                if rel == f"{PKG}/queries.py":
                    continue
                a = node.args
                pos = a.posonlyargs + a.args
                skip = 1 if pos and pos[0].arg in ("self", "cls") else 0
                defaults = [None] * (len(pos) - len(a.defaults)) + a.defaults
                options[node.name] = (rel, False, [
                    (p.arg, i - skip, d)
                    for i, (p, d) in enumerate(zip(pos, defaults))
                    if d is not None
                ] + [
                    (p.arg, None, d)
                    for p, d in zip(a.kwonlyargs, a.kw_defaults)
                    if d is not None
                ])
            elif isinstance(node, ast.ClassDef):
                n_defs[node.name] = n_defs.get(node.name, 0) + 1
                if not _is_dataclass(node):
                    continue
                fields = [
                    s for s in node.body
                    if isinstance(s, ast.AnnAssign) and isinstance(s.target, ast.Name)
                ]
                options[node.name] = (rel, True, [
                    (s.target.id, i, s.value)
                    for i, s in enumerate(fields)
                    if s.value is not None and _literal(s.value) is not _NOT_LITERAL
                ])

    calls: dict[str, list[ast.Call]] = {}
    # attribute name -> values assigned to ``<expr>.<name>`` anywhere
    assigned: dict[str, list] = {}
    for tree in trees.values():
        alias = {
            a.asname: a.name
            for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom)
            for a in node.names
            if a.asname
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name is not None:
                    calls.setdefault(alias.get(name, name), []).append(node)
            elif isinstance(node, (ast.Assign, ast.AugAssign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                for t in targets:
                    if isinstance(t, ast.Attribute) and node.value is not None:
                        assigned.setdefault(t.attr, []).append(node.value)

    unset = []
    for name, (rel, is_dc, opts) in sorted(options.items()):
        if n_defs[name] > 1:
            continue
        for opt, idx, default in opts:
            if _exempt(rel, name, opt):
                continue
            # a default naming a non-constant is still one fixed value
            want = value(default) or ("ast", ast.dump(default))

            def passed(c: ast.Call):
                if any(isinstance(x, ast.Starred) for x in c.args):
                    return None
                for k in c.keywords:
                    if k.arg is None:
                        return None
                    if k.arg == opt:
                        return value(k.value)
                if idx is not None and 0 <= idx < len(c.args):
                    return value(c.args[idx])
                return want

            seen = {passed(c) for c in calls.get(name, [])}
            if is_dc:
                seen |= {value(v) for v in assigned.get(opt, [])}
            if None in seen or len(seen) > 1:
                continue
            unset.append(f"{rel}: {name}({opt}={ast.unparse(default)})")
    return unset


def test_every_defaulted_parameter_is_set_by_some_call():
    unset = _unset_options()
    assert not unset, (
        f"{len(unset)} option(s) that every non-test call passes one "
        "value; make each a constant:\n" + "\n".join(unset)
    )
