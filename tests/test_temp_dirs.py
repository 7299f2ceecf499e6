"""Temp-dir discipline: every directory the package creates under the
system temp dir is removed when its process exits
(``queries._util.tracked_mkdtemp``), so suite and gate runs leave
nothing behind; and every memory-sink stream starts in the one streaming
harness, which owns the checkpoint dirs."""

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
#: package).  Empty: every package temp dir goes through
#: ``tracked_mkdtemp``.
UNTRACKED_MKDTEMP_MAX: dict[str, int] = {}

#: the one module allowed to start a memory-sink streaming query
STREAMING_HARNESS = "queries/_streaming_util.py"


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


def test_stream_gate_leaves_no_temp_dirs(tmp_path, sf_dir):
    """A streaming gate's source and checkpoint dirs are removed when its
    process exits."""
    code = (f"import sys; sys.path.insert(0, {REPO!r})\n"
            "from pigeon_optics_spark.session import get_spark\n"
            "from pigeon_optics_spark.queries import events_queries as eq\n"
            "spark = get_spark('temp_dirs', cpus=2)\n"
            f"eq.events_stream_ohlc(spark, {sf_dir!r}).count()\n"
            f"print(eq._quartile_src(spark, {sf_dir!r}))\n")
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, check=True,
                         env={**os.environ, "TMPDIR": str(tmp_path)})
    src = out.stdout.strip().splitlines()[-1]
    assert os.path.dirname(src) == str(tmp_path)
    left = sorted(p for p in os.listdir(tmp_path) if p.startswith("po_"))
    assert not left, f"outlived their process: {left}"


def _package_calls():
    """(package-relative path, Call node) for every call in the package,
    except those inside ``_util.tracked_mkdtemp`` itself."""
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
                if isinstance(node, ast.Call) and id(node) not in exempt:
                    yield rel, node


def _call_name(node: ast.Call) -> str | None:
    f = node.func
    return (f.attr if isinstance(f, ast.Attribute)
            else f.id if isinstance(f, ast.Name) else None)


def _untracked_mkdtemp_calls() -> Counter:
    """``mkdtemp`` calls per package file, except the one inside
    ``_util.tracked_mkdtemp`` itself."""
    return Counter(rel for rel, node in _package_calls()
                   if _call_name(node) == "mkdtemp")


def test_untracked_mkdtemp_only_falls():
    counts = _untracked_mkdtemp_calls()
    over = {f: (n, UNTRACKED_MKDTEMP_MAX.get(f, 0)) for f, n in counts.items()
            if n > UNTRACKED_MKDTEMP_MAX.get(f, 0)}
    assert not over, ("untracked mkdtemp (found, allowed) — use "
                      f"queries._util.tracked_mkdtemp: {over}")


def test_memory_sinks_only_in_streaming_harness():
    """Every memory-sink streaming gate runs through
    ``_streaming_util.run_to_memory``: no other package module names a
    query or a memory sink."""
    found = sorted(
        f"{rel}:{node.lineno}" for rel, node in _package_calls()
        if rel != STREAMING_HARNESS and (
            _call_name(node) == "queryName"
            or (_call_name(node) == "format" and node.args
                and isinstance(node.args[0], ast.Constant)
                and node.args[0].value == "memory")))
    assert not found, ("start memory-sink streams through "
                       f"_streaming_util.run_to_memory: {found}")
