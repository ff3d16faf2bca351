"""Every tool finds the tree it runs from through ``__file__``: no
source file names the absolute path of a checkout.  A hard-coded root
makes a script or test in another checkout import, read or write the
wrong tree while looking green."""

from __future__ import annotations

import ast
import os

from conftest import ROOT, python_sources


def _is_str(node) -> bool:
    return isinstance(node, ast.Constant) and isinstance(node.value, str)


def _hard_coded_roots(tree):
    """Lines that fix a path no matter where the tree lives: a string
    that starts with this checkout's own root, a ``sys.path`` entry
    given as a literal, or ``open()`` of an absolute literal path."""
    for node in ast.walk(tree):
        if _is_str(node) and (node.value == ROOT
                              or node.value.startswith(ROOT + os.sep)):
            yield node.lineno
        if not isinstance(node, ast.Call):
            continue
        func = node.func
        if (isinstance(func, ast.Attribute)
                and func.attr in ("insert", "append")
                and isinstance(func.value, ast.Attribute)
                and func.value.attr == "path"
                and isinstance(func.value.value, ast.Name)
                and func.value.value.id == "sys"
                and any(_is_str(a) for a in node.args)):
            yield node.lineno
        if (isinstance(func, ast.Name) and func.id == "open" and node.args
                and _is_str(node.args[0])
                and os.path.isabs(node.args[0].value)):
            yield node.lineno


def test_no_hard_coded_checkout_path():
    found = []
    for path in python_sources(
            ["mental_health_bigdata_project_spark", "scripts", "tests",
             "perfbench"], ["bench.py", "__spark_entry__.py"]):
        with open(path) as f:
            tree = ast.parse(f.read())
        found += [f"{os.path.relpath(path, ROOT)}:{line}"
                  for line in sorted(set(_hard_coded_roots(tree)))]
    assert not found, found
