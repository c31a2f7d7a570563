"""Every top-level function, class and constant of the engine is used.

An AST scan over the repository's Python files: a name defined at the top
level of `hexscape_spark/*.py` or `__spark_entry__.py` must be referenced
(loaded, imported or read as an attribute) somewhere outside its own
definition.  Dunders and the driver contract names are exempt.  The match
is by bare name, so a same-named reference anywhere keeps a definition
alive — the scan can miss dead code, never flag live code.
"""

import ast
import os
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CONTRACT = {"entry", "queries", "oracle_sql"}


def _py_files():
    for d, subdirs, files in os.walk(ROOT):
        subdirs[:] = [s for s in subdirs if not s.startswith((".", "__"))]
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(d, f)


def _definitions(tree):
    """(name, node) for each top-level def, class or assigned name."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            yield node.name, node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) \
                else [node.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        yield n.id, node


def _references(node):
    """Counter of the names referenced inside `node`."""
    refs = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            refs[n.id] += 1
        elif isinstance(n, ast.Attribute):
            refs[n.attr] += 1
        elif isinstance(n, ast.alias):
            refs[n.name.rsplit(".", 1)[-1]] += 1
    return refs


def unreferenced_names():
    """`path:line name` of every engine top-level name used nowhere else."""
    trees = {}
    for p in _py_files():
        with open(p, encoding="utf-8") as fh:
            trees[p] = ast.parse(fh.read(), filename=p)
    total = sum((_references(t) for t in trees.values()), Counter())
    engine = [p for p in trees
              if os.path.dirname(p) == os.path.join(ROOT, "hexscape_spark")
              or p == os.path.join(ROOT, "__spark_entry__.py")]
    dead = []
    for p in engine:
        for name, node in _definitions(trees[p]):
            if name in CONTRACT or (name.startswith("__")
                                    and name.endswith("__")):
                continue
            if total[name] - _references(node)[name] == 0:
                dead.append(f"{os.path.relpath(p, ROOT)}:{node.lineno} {name}")
    return sorted(dead)


def test_no_unreferenced_top_level_names():
    assert unreferenced_names() == []
