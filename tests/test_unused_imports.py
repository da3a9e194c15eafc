"""No library module imports a name it never uses.

No linter ships with the project, so this parses every module under
``gdal2mbtiles_spark/`` with ``ast`` and fails on a module-level import
whose bound name is never referenced in the module.  ``__future__``
imports, ``__init__.py`` files (their imports are re-exports) and names
listed in ``__all__`` are skipped.
"""

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "gdal2mbtiles_spark")


def _module_imports(tree):
    """(bound name, line) of every import at module level, including
    imports under a module-level if/try."""
    todo, out = list(tree.body), []
    while todo:
        node = todo.pop()
        if isinstance(node, (ast.If, ast.Try)):
            todo.extend(ast.iter_child_nodes(node))
        elif isinstance(node, ast.ExceptHandler):
            todo.extend(node.body)
        elif isinstance(node, ast.Import):
            out += [((a.asname or a.name.split(".")[0]), node.lineno)
                    for a in node.names]
        elif (isinstance(node, ast.ImportFrom)
              and node.module != "__future__"):
            out += [(a.asname or a.name, node.lineno) for a in node.names]
    return out


def _referenced(tree):
    """Every name read in the module, including names inside string
    annotations."""
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            base = node
            while isinstance(base, ast.Attribute):
                base = base.value
            if isinstance(base, ast.Name):
                names.add(base.id)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            try:
                sub = ast.parse(node.value, mode="eval")
            except SyntaxError:
                continue
            names |= {n.id for n in ast.walk(sub)
                      if isinstance(n, ast.Name)}
    return names


def _exported(tree):
    for node in tree.body:
        if (isinstance(node, ast.Assign)
                and any(isinstance(t, ast.Name) and t.id == "__all__"
                        for t in node.targets)):
            return set(ast.literal_eval(node.value))
    return set()


def unused_imports(root=PKG):
    found = []
    for dirpath, _, files in os.walk(root):
        for name in sorted(files):
            if not name.endswith(".py") or name == "__init__.py":
                continue
            path = os.path.join(dirpath, name)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            used = _referenced(tree) | _exported(tree)
            found += [f"{os.path.relpath(path, root)}:{line} {bound}"
                      for bound, line in _module_imports(tree)
                      if bound not in used]
    return sorted(found)


def test_no_unused_module_imports():
    assert unused_imports() == []


def test_scan_flags_an_unused_import(tmp_path):
    (tmp_path / "mod.py").write_text(
        "from __future__ import annotations\n"
        "import os\nfrom typing import Dict, List\n"
        "__all__ = ['List']\n"
        "def f(x: 'Dict[str, int]'):\n    return x\n")
    (tmp_path / "__init__.py").write_text("import sys\n")
    assert unused_imports(str(tmp_path)) == ["mod.py:2 os"]
