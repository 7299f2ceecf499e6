"""Temp-dir discipline: every directory the package creates under the
system temp dir is removed when its process exits
(``queries._util.tracked_mkdtemp``), so suite and gate runs leave
nothing behind."""

from __future__ import annotations

import ast
import os
import shutil
import subprocess
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "pigeon_optics_spark")

#: untracked ``mkdtemp`` calls still allowed per file (path relative to the
#: package).  The count may only fall: route a call through
#: ``tracked_mkdtemp`` and lower (or drop) its entry here.
UNTRACKED_MKDTEMP_MAX = {"queries/events_queries.py": 27}


def test_lens_gate_store_removed_at_exit():
    """The lens gates' store (hundreds of MB at sf0.1) must not outlive
    the process that built it."""
    code = (f"import sys; sys.path.insert(0, {REPO!r})\n"
            "from pigeon_optics_spark.queries.lens_queries import _store_for\n"
            "print(_store_for(None, 'x').root)\n")
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, check=True)
    root = out.stdout.strip().splitlines()[-1]
    try:
        assert os.path.basename(root).startswith("po_lens_store_")
        assert not os.path.exists(root), f"{root} outlived its process"
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _untracked_mkdtemp_calls() -> Counter:
    """``mkdtemp`` calls per package file, except the one inside
    ``_util.tracked_mkdtemp`` itself."""
    counts: Counter = Counter()
    for dirpath, _dirs, files in os.walk(PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), path)
            exempt: set[int] = set()
            if rel == "queries/_util.py":
                for node in ast.walk(tree):
                    if (isinstance(node, ast.FunctionDef)
                            and node.name == "tracked_mkdtemp"):
                        exempt |= {id(n) for n in ast.walk(node)}
            for node in ast.walk(tree):
                if not isinstance(node, ast.Call) or id(node) in exempt:
                    continue
                f = node.func
                name = (f.attr if isinstance(f, ast.Attribute)
                        else f.id if isinstance(f, ast.Name) else None)
                if name == "mkdtemp":
                    counts[rel] += 1
    return counts


def test_untracked_mkdtemp_only_falls():
    counts = _untracked_mkdtemp_calls()
    over = {f: (n, UNTRACKED_MKDTEMP_MAX.get(f, 0)) for f, n in counts.items()
            if n > UNTRACKED_MKDTEMP_MAX.get(f, 0)}
    assert not over, ("untracked mkdtemp (found, allowed) — use "
                      f"queries._util.tracked_mkdtemp: {over}")
