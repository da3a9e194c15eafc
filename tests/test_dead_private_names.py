"""No library module keeps a private name nothing uses.

A module-level private name — a ``_x`` function, class or constant
defined at the top of a module under ``gdal2mbtiles_spark/`` — serves
only the package, so one that no module of the package reads is dead
code (a helper left behind when its caller went).  This parses every
module with ``ast`` and fails on such a name.  A name counts as read
when it is loaded (``_x``), taken as an attribute (``mod._x``) or
imported (``from .mod import _x``) anywhere in the package, outside
its own definition (a recursive call does not keep a function alive).
Dunder names are skipped.
"""

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "gdal2mbtiles_spark")


def _private(name):
    return name.startswith("_") and not name.startswith("__")


def _module_private_defs(tree):
    """(name, line) of every private def, class or assigned name at
    module level, including under a module-level if/try."""
    todo, out = list(tree.body), []
    while todo:
        node = todo.pop()
        if isinstance(node, (ast.If, ast.Try)):
            todo.extend(ast.iter_child_nodes(node))
        elif isinstance(node, ast.ExceptHandler):
            todo.extend(node.body)
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                               ast.ClassDef)):
            out.append((node.name, node.lineno))
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target])
            for t in targets:
                out += [(n.id, node.lineno) for n in ast.walk(t)
                        if isinstance(n, ast.Name)]
    return [(name, line) for name, line in out if _private(name)]


def _reads(tree):
    """Every name the module loads, takes as an attribute or imports,
    less each module-level def's or class's own name inside it."""
    if isinstance(tree, ast.Module):
        names = set()
        for stmt in tree.body:
            got = _reads(stmt)
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                got.discard(stmt.name)
            names |= got
        return names
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, ast.ImportFrom):
            names |= {a.name for a in node.names}
    return names


def dead_private_names(root=PKG):
    defs, reads = [], set()
    for dirpath, _, files in os.walk(root):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            reads |= _reads(tree)
            defs += [(os.path.relpath(path, root), line, bound)
                     for bound, line in _module_private_defs(tree)]
    return sorted(f"{mod}:{line} {bound}" for mod, line, bound in defs
                  if bound not in reads)


def test_no_dead_private_names():
    assert dead_private_names() == []


def test_scan_flags_a_dead_private_name(tmp_path):
    (tmp_path / "a.py").write_text(
        "_LIMIT = 3\n_UNUSED = 4\n__version__ = '1'\n"
        "def _helper():\n    return _LIMIT\n"
        "def _orphan():\n    return _orphan()\n"
        "class _Kept:\n    pass\n"
        "try:\n    _gated = 1\nexcept ImportError:\n    pass\n")
    (tmp_path / "b.py").write_text(
        "from .a import _helper\nimport a\n"
        "def f():\n    return _helper(), a._Kept\n")
    assert dead_private_names(str(tmp_path)) == [
        "a.py:11 _gated", "a.py:2 _UNUSED", "a.py:6 _orphan"]
