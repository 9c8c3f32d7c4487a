"""Every undecorated top-level function in ``operators/`` and
``pipeline/`` is referenced by name somewhere else in the repository's
Python, so code that nothing reaches does not accumulate. Static: reads
the sources with ``ast``, starts no Spark."""

import ast
import os
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CHECKED = [os.path.join(ROOT, "data_ingest_spark", d)
           for d in ("operators", "pipeline")]


def _python_files():
    for top, dirs, files in os.walk(ROOT):
        dirs[:] = [d for d in dirs if not d.startswith(".")]
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(top, f)


def _names(tree: ast.AST):
    """Every identifier a module uses: names, attributes, imports."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id
        elif isinstance(node, ast.Attribute):
            yield node.attr
        elif isinstance(node, ast.alias):
            yield node.name.rsplit(".", 1)[-1]


def test_every_operator_and_pipeline_function_is_referenced():
    uses: Counter = Counter()
    defined = []
    for path in _python_files():
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), path)
        uses.update(_names(tree))
        if any(path.startswith(d + os.sep) for d in CHECKED):
            defined += [(os.path.relpath(path, ROOT), node.name)
                        for node in tree.body
                        if isinstance(node, ast.FunctionDef)
                        and not node.decorator_list]
    unused = [f"{path}:{name}" for path, name in defined if not uses[name]]
    assert not unused, f"functions nothing references: {unused}"
