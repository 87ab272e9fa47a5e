"""One comparison rule: ``perfbench/canon.py`` is the only place that
says when two results are equal. The oracle tests, the driver replica
(``.claude/skills/verify/drive.py``) and the layout sweep import its
``frame_digest``; none may grow a private ``canon``/``norm``/
``_normalize`` copy that could drift (e.g. back to rounding floats)."""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCANNED = ("tests", "scripts", os.path.join(".claude", "skills", "verify"))
FORBIDDEN = {"canon", "norm", "_normalize"}


def _py_files():
    for top in SCANNED:
        for dirpath, _, files in os.walk(os.path.join(ROOT, top)):
            for f in files:
                if f.endswith(".py"):
                    yield os.path.join(dirpath, f)


def test_no_private_comparator_copies():
    offenders = []
    for path in _py_files():
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), path)
        offenders += [
            f"{os.path.relpath(path, ROOT)}:{node.lineno} {node.name}"
            for node in ast.walk(tree)
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            and node.name in FORBIDDEN
        ]
    assert not offenders, (
        f"compare with perfbench/canon.py's frame_digest instead: {offenders}"
    )
