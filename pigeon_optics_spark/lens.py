"""M2 — the lens engine: user-defined deterministic flatMap + fixed
merge-reduce + version-based incremental rebuild.

Reference semantics (ref ``library/models/lens.js``, ``library/workers/
javascript-lens-worker.js``; SURVEY §2.5, §3.2):

- a lens has ``inputs`` (list of data paths) and user ``code``; the code runs
  once per input record with ``path`` and ``data`` in scope and emits 0..N
  ``output(id, value)`` pairs (flatMap);
- emissions sharing an ``output`` id are combined by the type-directed
  merge-reduce (``reduce.py``) in a deterministic fold order;
- map results are kept per input record — the input version and the
  captured logs/errors in the compute cache, the emissions in the
  emissions store; a rebuild re-maps only records whose version changed
  (incremental view maintenance, the reference's one genuinely novel
  optimization, SURVEY §4);
- lens outputs form a readable dataset (source='lenses'), so lenses compose
  into a reactive DAG.

Spark-first design:

- the map phase is ``mapInPandas`` over the union of input collections —
  Arrow-batched, embarrassingly parallel, no shuffle;
- the reduce phase is ``repartition(out_id) → sortWithinPartitions →
  mapInPandas`` streaming fold — ONE shuffle keyed on out_id, no per-group
  pandas overhead (scales to 1e9 output keys where ``applyInPandas``'s
  group-at-a-time model would choke);
- the compute cache is a hidden store collection (source='meta'); freshness
  is an anti-join of current input rows against cached ``(path, version)`` —
  at 100 TB this is the Delta-CDF delta-scan pattern;
- the output collection is written with hash change-suppression, so unchanged
  output ids keep their versions (downstream lenses then skip them — the DAG
  cascade stays incremental end-to-end).

Divergence from the reference (deliberate): the fold order is the
deterministic total order ``(input_idx, natural(record_id), emit_idx)``
rather than the reference's history-dependent "fresh first, then retained"
order (lens.js:152-188) — same result for associative merges, strictly more
reproducible for last-wins cases.

User code is **Python** here (JS-compat is a non-goal; the capability —
sandboxed deterministic flatMap with log/error capture — is the requirement).

**TRUST MODEL — read this before exposing lenses to other authors.**  The
reference runs lens code inside ``isolated-vm`` (a true V8 isolate with a
hard 50 ms kill and no host references).  Python has no equivalent in-process
isolation: the ``_SAFE_BUILTINS`` environment removes the obvious IO/import
names, but CPython introspection (``().__class__.__base__.__subclasses__()``
etc.) can reach host objects, so **lens code must come from trusted
authors** — the sandbox here is an accident guard (keeps honest code
deterministic and IO-free), not a security boundary.  What IS enforced:
the per-record timeout is preemptive — a ``SIGVTALRM`` (CPU-time) interrupt
fires mid-``exec`` (ref worker timeout, javascript-lens-worker.js:116,132-135), so
an accidental ``while True`` yields a TimeoutError record instead of hanging
the executor.  (A lens that catches ``BaseException`` in a tight loop can
still defeat it — trusted-author territory again.)
"""

from __future__ import annotations

import json
import re
import time
import traceback
from dataclasses import dataclass
from typing import Any, Iterator

import pyarrow as pa

from .paths import DataPath, decode_path, encode_path
from .reduce import fold, merge_into
from .session import job_desc
from .store import DatasetStore, _segment_files
from .values import (
    PMap,
    PSet,
    canonical_json,
    loads_value,
    natural_pad,
    tagged_to_value,
    value_to_tagged,
)

MAX_CODE_SIZE = 5 * 1024 * 1024  # ref defaults.lensCodeSize, lens.js:49

# Builtins available to lens code.  No __import__/open/eval — the reference
# runs lens code in an isolate with no IO and bans nondeterminism sources
# (Math.random throws, ref environment.js/index.js:3-5); here the names are
# simply absent.  ``hash`` is deliberately excluded too: Python string
# hashing is salted per process (PYTHONHASHSEED), so it is exactly the
# nondeterminism class the reference bans — a lens calling it would produce
# different output across executors/restarts and poison the compute cache.
_SAFE_BUILTINS = {
    name: __builtins__[name] if isinstance(__builtins__, dict) else getattr(__builtins__, name)
    for name in (
        "abs", "all", "any", "bool", "bytes", "chr", "dict", "divmod",
        "enumerate", "filter", "float", "format", "frozenset", "int",
        "isinstance", "len", "list", "map", "max", "min", "ord", "pow",
        "range", "repr", "reversed", "round", "set", "sorted", "str", "sum",
        "tuple", "zip", "True", "False", "None", "Exception", "ValueError",
        "TypeError", "KeyError", "IndexError", "StopIteration",
    )
    if (isinstance(__builtins__, dict) and name in __builtins__)
    or hasattr(__builtins__, name)
}


class LensCodeError(ValueError):
    """Raised when lens code fails to compile (startup error — ref
    javascript-lens-worker.js startup compile check)."""


class _LensTimeout(BaseException):
    """Raised by the SIGALRM handler inside lens ``exec``.

    Subclasses BaseException so a lens's ``except Exception`` can't swallow
    the interrupt (mirrors the isolate kill being outside the guest's reach).
    """


@dataclass
class PathInfo:
    """The ``path`` object visible to lens code (ref worker `:126-130`)."""

    string: str
    source: str
    author: str
    name: str
    recordID: str

    @property
    def record_id(self) -> str:  # pythonic alias
        return self.recordID


class LensHarness:
    """Compile-once / run-per-record executor with output collection and
    log/error capture (ref javascript-lens-worker.js:67-145)."""

    def __init__(self, code: str, timeout_ms: float | None = None):
        if len(code.encode()) > MAX_CODE_SIZE:
            raise LensCodeError("lens code exceeds 5MB")
        try:
            self._compiled = compile(code, "<lens>", "exec")
        except SyntaxError as e:
            raise LensCodeError(f"lens code syntax error: {e}") from e
        self.timeout_ms = timeout_ms
        self._alarm_active = False

    def _can_alarm(self) -> bool:
        # SIGVTALRM only delivers to the main thread — PySpark workers run
        # tasks there, so this covers the distributed map phase; elsewhere
        # (exotic threaded embedding) we fall back to the post-hoc check.
        import signal
        import threading

        return (self.timeout_ms is not None
                and hasattr(signal, "setitimer")
                and threading.current_thread() is threading.main_thread())

    def alarm_scope(self):
        """Context manager installing the SIGVTALRM handler ONCE for a run of
        many records (handler (re)installation costs ~6µs/record — measured —
        so per-partition installation matters at millions of records).
        ``run`` then only arms/disarms the interval timer per record."""
        import signal
        from contextlib import contextmanager

        @contextmanager
        def _scope():
            if not self._can_alarm() or self._alarm_active:
                yield
                return

            def _on_alarm(signum, frame):
                raise _LensTimeout()

            prev_handler = signal.signal(signal.SIGVTALRM, _on_alarm)
            self._alarm_active = True
            try:
                yield
            finally:
                self._alarm_active = False
                signal.setitimer(signal.ITIMER_VIRTUAL, 0)
                signal.signal(signal.SIGVTALRM, prev_handler)

        return _scope()

    def run(self, path: PathInfo, data: Any):
        """→ (outputs [(emit_idx, out_id, value)], logs [str], errors [dict])"""
        # Preemptive timeout (ref javascript-lens-worker.js:116,132-135):
        # SIGVTALRM interrupts the running bytecode, so an accidental
        # infinite loop becomes a TimeoutError record instead of a hung
        # executor.  The budget is CPU time (ITIMER_VIRTUAL + thread_time
        # below), not wall clock: the reference runs one lens per worker
        # process where wall == execution time, but a Spark executor is
        # multi-tenant — under host load a wall-clock envelope killed
        # records whose code ran well inside the budget (observed: a 3x
        # oversubscribed box flaked exactly one lens record in an sf0.1
        # sweep; the sandbox has no blocking builtins, so every genuine
        # runaway BURNS CPU and still trips the virtual timer).
        # Direct callers get a handler installed around this single record;
        # batch callers (map_records) hold alarm_scope open across the
        # partition and only pay the timer syscalls here.
        if self.timeout_ms is not None and not self._alarm_active \
                and self._can_alarm():
            with self.alarm_scope():
                return self.run(path, data)

        outputs: list[tuple[int, str, Any]] = []
        logs: list[str] = []
        errors: list[dict] = []

        def output(out_id, value):
            if not isinstance(out_id, str):
                raise TypeError(f"output id must be str, got {type(out_id).__name__}")
            if value is None:
                raise TypeError("output value must not be None")
            outputs.append((len(outputs), out_id, value))

        def log(*args):
            logs.append(" ".join(str(a) for a in args))

        from .markup import Markup  # in-sandbox stdlib (ref markup.js:12-34)

        env = {
            "__builtins__": _SAFE_BUILTINS,
            "output": output,
            "log": log,
            "path": path,
            "data": data,
            "Set": PSet,
            "Map": PMap,
            "Markup": Markup,
        }
        import signal

        use_alarm = self._alarm_active
        t0 = time.thread_time()  # CPU, not wall — see the budget note above
        timed_out = False
        try:  # outer guard: a pending alarm can deliver during cleanup
            try:
                if use_alarm:
                    signal.setitimer(signal.ITIMER_VIRTUAL,
                                     self.timeout_ms / 1000.0)
                exec(self._compiled, env)  # noqa: S102 — sandboxed lens execution
            except _LensTimeout:
                timed_out = True
            except Exception as e:  # noqa: BLE001 — user-code error capture
                tb = traceback.extract_tb(e.__traceback__)
                user_frames = [f for f in tb if f.filename == "<lens>"]
                line = user_frames[-1].lineno if user_frames else None
                errors.append({"type": type(e).__name__, "message": str(e), "line": line})
            finally:
                if use_alarm:
                    signal.setitimer(signal.ITIMER_VIRTUAL, 0)
        except _LensTimeout:
            timed_out = True
        elapsed_ms = (time.thread_time() - t0) * 1000
        if timed_out or (self.timeout_ms is not None and elapsed_ms > self.timeout_ms):
            # discard partial emissions: how far a lens got before the alarm
            # is machine-speed-dependent — a timed-out record deterministically
            # contributes nothing but the error
            outputs.clear()
            # fixed message: embedding the measured elapsed time would make
            # a borderline lens's cached error bytes (and thus cache hashes)
            # machine-dependent — the same nondeterminism class the
            # outputs.clear() above removes
            errors.append({
                "type": "TimeoutError",
                "message": f"lens map exceeded {self.timeout_ms}ms",
                "line": None,
            })
        return outputs, logs, errors


# --------------------------------------------------------------------------
# distributed map phase
# --------------------------------------------------------------------------

MAP_RESULT_SCHEMA = (
    "path string, record_id string, input_idx int, nat_key string, "
    "version long, outputs string, logs string, errors string"
)


def _json_escape_nocc_col(c):
    """JSON-string-encode a column whose value PROVABLY contains no raw
    control character (< 0x20): byte-exact replay of
    ``json.dumps(s, ensure_ascii=False)``, which for such strings escapes
    exactly backslash then double-quote (single-pass over the char class
    ``[\\\\"\\x00-\\x1f]`` — the sequential two-replace chain produces
    identical bytes because step 1 never creates a quote and step 2 never
    creates a backslash that step 1 should have doubled; pinned by
    tests/test_lens.py::test_map_records_serialization).  The lens map
    columns this feeds (``outputs``/``logs``/``errors``) are themselves
    JSON TEXT produced by ``json.dumps`` fragments, whose own escaping
    already removed every raw control char — the reason this is safe."""
    from pyspark.sql import functions as F

    return F.concat(
        F.lit('"'),
        F.replace(F.replace(c, F.lit("\\"), F.lit("\\\\")),
                  F.lit('"'), F.lit('\\"')),
        F.lit('"'))


def _cache_entry_value_col():
    """The canonical cache-entry JSON envelope ``{errors, logs, version}``,
    derived in whole-stage codegen from the thin map-output columns —
    byte-identical to ``canonical_json`` (sorted keys, compact
    separators), so ``sha2(value) == object_hash`` holds at the cache
    write.  The cache keeps only what nothing else does: the input
    version (the re-map-if-newer rule) and the captured logs/errors
    (:func:`lens_logs`); the emissions live once, in the emissions
    store."""
    from pyspark.sql import functions as F

    return F.concat(
        F.lit('{"errors":'), _json_escape_nocc_col(F.col("errors")),
        F.lit(',"logs":'), _json_escape_nocc_col(F.col("logs")),
        F.lit(',"version":'), F.col("version").cast("string"),
        F.lit("}"))


def map_records(inputs_df, code: str, timeout_ms: float | None = None):
    """Run lens code over every row of ``inputs_df`` (columns: input_idx,
    path, source, author, name, record_id, version, value) via mapInPandas.

    One output row per input record; emissions are embedded as a JSON array of
    ``[emit_idx, out_id, tagged_value_json]`` so the row schema stays fixed
    regardless of the user value shapes.  The cache-entry envelope is NOT
    assembled here: it is derived in whole-stage codegen from these thin
    columns (``_cache_entry_value_col``), byte-identical to canonical form, so
    the cache write still hashes JVM-side (``sha2(value) == object_hash``)
    while the logs/errors bytes cross the Python boundary exactly once.
    """
    import pandas as pd

    def run_partition(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        harness = LensHarness(code, timeout_ms)
        # one prebuilt encoder for the whole task: ``json.dumps(x,
        # ensure_ascii=False)`` constructs a fresh JSONEncoder PER CALL
        # (only the zero-kwargs form hits the cached default encoder) —
        # at 5 dumps per record that was ~30% of the loop.  Same params ⇒
        # byte-identical output (pinned by test_map_records_serialization).
        dumps = json.JSONEncoder(ensure_ascii=False).encode
        with harness.alarm_scope():  # install the SIGALRM handler once
            for pdf in batches:
                out_rows = {k: [] for k in
                            ("path", "record_id", "input_idx", "nat_key",
                             "version", "outputs", "logs", "errors")}
                for path_s, source, author_s, name_s, rid, version, value, idx in zip(
                        pdf["path"].tolist(), pdf["source"].tolist(),
                        pdf["author"].tolist(), pdf["name"].tolist(),
                        pdf["record_id"].tolist(), pdf["version"].tolist(),
                        pdf["value"].tolist(), pdf["input_idx"].tolist()):
                    data = tagged_to_value(loads_value(value))
                    pinfo = PathInfo(string=path_s, source=source,
                                     author=author_s, name=name_s,
                                     recordID=rid)
                    outputs, logs, errors = harness.run(pinfo, data)
                    nat_key = natural_pad(rid)
                    # serialization runs OUTSIDE harness.run's per-record
                    # capture, so an unserializable emit (a function
                    # object, a nesting bomb blowing value_to_tagged's
                    # stack) must become a CAPTURED per-record error —
                    # not kill the whole mapInPandas task.  The happy
                    # path stays the plain comprehension (this loop runs
                    # once per mapped record — the build's hot path);
                    # only a failing record pays the per-item retry.
                    # each item is assembled as a literal fragment replaying
                    # json.dumps' default dict formatting for the FIXED key
                    # shape {"i": int, "k": ..., "v": str} — skips the dict
                    # construction + iterencode tree walk per emission
                    # (byte-parity pinned by test_map_records_serialization)
                    try:
                        out_items = [
                            f'{{"i": {i}, "k": {dumps(oid)}, '
                            f'"v": {dumps(dumps(value_to_tagged(v)))}}}'
                            for i, oid, v in outputs]
                    except (TypeError, ValueError, RecursionError):
                        out_items = []
                        for i, oid, v in outputs:
                            try:
                                out_items.append(
                                    f'{{"i": {i}, "k": {dumps(oid)}, '
                                    f'"v": {dumps(dumps(value_to_tagged(v)))}}}')
                            except (TypeError, ValueError,
                                    RecursionError) as e:
                                errors.append({
                                    "type": type(e).__name__,
                                    "message": ("unserializable lens "
                                                f"output {oid!r}: {e}"),
                                    "line": None,
                                })
                    outputs_json = ("[" + ", ".join(out_items) + "]"
                                    if out_items else "[]")
                    logs_json = dumps(logs) if logs else "[]"
                    errors_json = dumps(errors) if errors else "[]"
                    out_rows["path"].append(path_s)
                    out_rows["record_id"].append(rid)
                    out_rows["input_idx"].append(idx)
                    out_rows["nat_key"].append(nat_key)
                    out_rows["version"].append(version)
                    out_rows["outputs"].append(outputs_json)
                    out_rows["logs"].append(logs_json)
                    out_rows["errors"].append(errors_json)
                yield pd.DataFrame(out_rows)

    return inputs_df.mapInPandas(run_partition, schema=MAP_RESULT_SCHEMA)


# --------------------------------------------------------------------------
# distributed reduce phase
# --------------------------------------------------------------------------

REDUCED_SCHEMA = "record_id string, value string"


def fold_emissions(rows: Iterator[tuple[str, str]]) -> Iterator[tuple[str, str]]:
    """The merge-reduce fold: ``rows`` is ``(out_id, tagged_json)`` in fold
    order with every out_id group contiguous; yields ``(out_id,
    canonical_json(merged))`` per group.  Both the distributed reduce
    (:func:`reduce_outputs`) and the driver-side small-delta build fold
    through this one loop."""
    cur_id = None
    cur_acc = None
    for out_id, value in rows:
        v = tagged_to_value(loads_value(value))
        if out_id != cur_id:
            if cur_id is not None:
                yield cur_id, canonical_json(cur_acc)
            cur_id, cur_acc = out_id, v
        else:
            cur_acc = merge_into(cur_acc, v)
    if cur_id is not None:
        yield cur_id, canonical_json(cur_acc)


def reduce_outputs(outputs_df, num_partitions: int | None = None, *,
                   presorted: bool = False):
    """Fold all emissions per out_id in deterministic order.

    ``outputs_df`` columns: out_id, input_idx, nat_key, src_rid, emit_idx,
    value (tagged JSON string).  One shuffle (repartition on out_id), then a
    streaming fold inside sorted partitions — groups never cross partitions,
    and a group split across *Arrow batches* is handled by carrying the
    accumulator over.

    ``src_rid`` (the raw source record id) tie-breaks after ``nat_key``:
    distinct ids can share a nat_key ('a1' vs 'a01' pad identically, and
    Spark-side lpad truncates digit runs beyond the pad width), so without it
    the fold order between such records would be engine-nondeterministic —
    last-wins merges could differ across runs.

    ``presorted=True`` skips the shuffle+sort: the caller guarantees every
    out_id group is contiguous within one read partition and rows are already
    in fold order within each group (a first build's base segment, written
    range-partitioned by out_id and sorted by the full fold key in
    single-row-group files — see :func:`_distributed_build` — or
    :func:`_reduce_affected`'s own out_id shuffle and sort).

    Output values are serialized in **canonical** form, so the store write
    can hash them JVM-side (``precanonical=True``) with byte-identical
    semantics to ``object_hash``.
    """
    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F401

    if presorted:
        df = outputs_df
    else:
        df = outputs_df.repartition(
            *( [num_partitions] if num_partitions else [] ), "out_id"
        ).sortWithinPartitions(*_FOLD_KEY)

    def fold_partition(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        # a group split across Arrow batches folds as one: the fold sees a
        # single row stream and carries its accumulator over the boundary
        rows = (pair for pdf in batches
                for pair in zip(pdf["out_id"].tolist(), pdf["value"].tolist()))
        done_ids, done_vals = [], []
        for out_id, value in fold_emissions(rows):
            done_ids.append(out_id)
            done_vals.append(value)
            if len(done_ids) >= 10_000:
                yield pd.DataFrame({"record_id": done_ids, "value": done_vals})
                done_ids, done_vals = [], []
        if done_ids:
            yield pd.DataFrame({"record_id": done_ids, "value": done_vals})

    return df.mapInPandas(fold_partition, schema=REDUCED_SCHEMA)


# --------------------------------------------------------------------------
# build orchestration
# --------------------------------------------------------------------------

_CACHE_SOURCE = "meta"

_CACHE_VALUE_SCHEMA = "struct<errors:string, logs:string, version:bigint>"


def _cache_name(name: str) -> str:
    return f"lens-cache.{name}"


# --------------------------------------------------------------------------
# emissions store — the reduce-side index
#
# The map cache is keyed by input *path* (right for freshness / log capture)
# and holds no emissions; the reduce gathers by *out_id*.  The emissions
# store is the one copy of every emission: the map output exploded once at
# write time and persisted as parquet segments RANGE-SORTED BY out_id, so an
# incremental re-reduce reads only the row groups holding affected keys
# (min/max pruning on the pushed-down ``out_id IN (...)`` filter).
#
# Validity is the store segment log's rule (:func:`_live_emissions`): per
# key ``(out_id, path)`` the rows at the highest ``version`` win, and a row
# whose ``value`` is NULL is a tombstone that emits nothing (a real
# emission's value is always a tagged-JSON string).  Each build writes ONE
# segment at the log's next seq and stamps its rows' version with that seq
# (:func:`_next_emit_seq`), so a build's rows outrank every earlier build's.
# The segment holds the build's fresh emissions plus one tombstone per
# ``(out_id, path)`` the log already holds for a path the build re-mapped or
# pruned — the scan that finds those keys is the one that finds the
# affected out_ids, so validity stays O(churn) and never reads the cache.
# Compaction applies the same rule to the whole log and drops the
# tombstones.
# --------------------------------------------------------------------------

_EMIT_COLS = ["out_id", "input_idx", "nat_key", "src_rid", "emit_idx", "value"]

#: the deterministic fold order (module docstring); segments are sorted by it
_FOLD_KEY = ("out_id", "input_idx", "nat_key", "src_rid", "emit_idx")

#: stored emission-log columns (``nat_key`` is derived at read time).
#: Spark reads pass the DDL, driver reads the arrow schema: an explicit
#: schema spares every read the per-file footer inference.
_EMIT_LOG_DDL = ("path string, version long, out_id string, input_idx int, "
                 "src_rid string, emit_idx int, value string")
_EMIT_LOG_SCHEMA = pa.schema([
    ("path", pa.string()), ("version", pa.int64()), ("out_id", pa.string()),
    ("input_idx", pa.int32()), ("src_rid", pa.string()),
    ("emit_idx", pa.int32()), ("value", pa.string())])

#: the parsed ``outputs`` JSON of a map row: ``[{i: emit_idx, k: out_id,
#: v: tagged value JSON}, ...]``
_EMITS_DDL = "array<struct<i:int,k:string,v:string>>"

#: The driver-side bound of an incremental build.  A delta of at most this
#: many rows takes the one-job small-delta plan, whose tombstone scan,
#: affected keys and gathered emissions must also stay within it; the
#: Spark plan gathers
#: affected-out_id emissions via a driver-side ``IN`` list (≤ this many
#: keys: the literal list pushes into the sorted log's row-group pruning)
#: or via a left-semi join (unbounded).  Module-level so tests can lower it
#: to force the Spark plan and its semi-join path.
AFFECTED_COLLECT_MAX = 10_000


#: committed emission-log segment names (see _write_emit_segment)
_EMIT_SEG_RE = re.compile(r"^seg_(\d+)\.([A-Za-z0-9]+)\.parquet$")


def _emit_dir(store: DatasetStore, author: str, name: str) -> str:
    import os

    return os.path.join(store.root, "records", "meta", author, f"lens-emit.{name}")


def _emit_segments(store: DatasetStore, author: str, name: str) -> list[str]:
    """Emission segment paths in seq order; a base segment supersedes all
    earlier segments (same convention as the store's segment log).  An
    empty list on a built lens means the log is lost; the next build
    resets the lens and rebuilds it from its inputs (:func:`build_lens`)."""
    import os

    d = _emit_dir(store, author, name)
    if not os.path.isdir(d):
        return []
    items = []
    for fn in os.listdir(d):
        # committed emission segments only (seg_<seq>.<kind>.parquet) —
        # a stray file in the dir must not crash the build (the store's
        # _seg_seq stance, applied to the emission log)
        m = _EMIT_SEG_RE.match(fn)
        if m:
            items.append((int(m.group(1)), m.group(2) == "base",
                          os.path.join(d, fn)))
    base_seqs = [s for s, b, _p in items if b]
    floor = max(base_seqs) if base_seqs else None
    keep = [(s, p) for s, b, p in sorted(items)
            if (b and s == floor) or (not b and (floor is None or s > floor))]
    return [p for _s, p in keep]


def _next_emit_seq(segs: list[str]) -> int:
    """One past the latest of ``segs`` (:func:`_emit_segments`): the seq of
    the log's next segment and the ``version`` stamp of its rows."""
    import os

    if not segs:
        return 1
    return int(_EMIT_SEG_RE.match(os.path.basename(segs[-1])).group(1)) + 1


# --------------------------------------------------------------------------
# crash safety (crash-injected in tests/test_lens_crash.py)
#
# Every build installs a ``_build_inflight`` marker before its cache write
# and removes it after set_config.  A marker found at build start means the
# previous build died somewhere between those two points — the cache may
# hold row generations the emissions log lacks, the log may hold an
# orphaned segment, and the output collection may be stale.  Recovery does
# not repair that state; it discards it (:func:`_reset_lens_state`: a new
# empty cache, no emission log, no cursor) and the build runs as a first
# build, re-mapping every live input record and overwriting the output with
# hash suppression — so the lens has one recovery path, the first build
# every lens runs.  O(base) once, only after a detected crash.  A built
# lens whose log has no segment at all (lost, or deleted by hand) resets
# the same way.  The cursor is not enough to detect a crash on its own: a
# crashed FIRST build has none, yet its cache already holds rows that a
# full diff would take as current.
# --------------------------------------------------------------------------

#: build-in-flight marker (crash detection) — present while a build is
#: between its cache write and its set_config; found at build start ⇒ reset
_INFLIGHT_MARKER = "_build_inflight"


def _inflight_marker_present(d: str) -> bool:
    import os

    return os.path.exists(os.path.join(d, _INFLIGHT_MARKER))


def _install_inflight_marker(d: str) -> None:
    import os

    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, _INFLIGHT_MARKER), "w"):
        pass


def _remove_inflight_marker(d: str) -> None:
    import contextlib
    import os

    with contextlib.suppress(FileNotFoundError):
        os.remove(os.path.join(d, _INFLIGHT_MARKER))


def _write_emit_segment(df, d: str, seq: int, *, base: bool = False,
                        num_parts: int = 1):
    """Stage-then-rename write of one emissions segment, range-partitioned by
    out_id (tight min/max stats per file for pruning) and sorted by the FULL
    fold key — a fresh segment is then directly foldable without another
    shuffle (groups are contiguous and internally ordered).

    ``nat_key`` is SORTED BY but not STORED (r4): it is a pure function of
    ``src_rid`` (byte-parity of the Python and JVM derivations is pinned by
    tests/test_values.py), and for padded ids it is the widest column in the
    row — deriving it at read time (:func:`_with_nat_key`) cuts emission
    shuffle and parquet bytes ~30% with identical fold order.

    (An r10/r11 variant additionally persisted the post-shuffle sorted
    frame so the first-build fold could skip the parquet decode
    round-trip.  r11 stage attribution killed it: building the
    InMemoryRelation columnar cache of the sorted emissions cost ~20
    executor-cpu-s at 600k rows — ~3× the decode it saved — so the fold
    now re-reads the freshly written (page-cache-hot) segment instead.)"""
    import os
    import shutil
    import uuid

    os.makedirs(d, exist_ok=True)
    stage = os.path.join(d, f"_stage_{uuid.uuid4().hex}")
    # range partitioning SAMPLES the frame before shuffling it — two
    # full executions of the emissions plan (which sits on the fat map
    # output).  Persist across the pair; the THIN exploded frame
    # materializes once and the sample + shuffle passes read it instead
    # of re-running parse+explode over the map output (r11 stage
    # attribution: the sample pass alone was ~15 executor-cpu-s at 600k
    # rows when it re-derived from the fat frame).
    # NOTE: DataFrame.persist() returns the SAME object, so an
    # identity test (`cache is not df`) can never detect "we
    # persisted" — a previous guard written that way leaked this
    # cache on every build, and the leaked InMemoryRelation (which
    # pins the fat map output) degraded every LATER build in the
    # session by 3-25x measured CPU (r9 scale-probe finding).  Track
    # the decision in a boolean instead.
    persisted = num_parts > 1
    cache = df.persist() if persisted else df
    try:
        (cache.repartitionByRange(num_parts, "out_id")
         .sortWithinPartitions(*_FOLD_KEY)
         .drop("nat_key")
         .write.mode("overwrite").parquet(stage))
    finally:
        if persisted:
            cache.unpersist(blocking=True)
    for fn in os.listdir(stage):
        if not fn.endswith(".parquet"):
            os.remove(os.path.join(stage, fn))
    final = os.path.join(d, f"seg_{seq:08d}.{'base' if base else 'delta'}.parquet")
    shutil.rmtree(final, ignore_errors=True)
    os.replace(stage, final)
    return final


def _write_emit_segment_local(tbl, d: str, seq: int) -> str:
    """Driver-side twin of :func:`_write_emit_segment` for the small-delta
    build: ``tbl`` (the stored columns plus ``nat_key``) is sorted by the
    full fold key and written as ONE single-file delta segment
    (stage-then-rename).  Readers treat file and directory segments alike."""
    import os
    import uuid

    import pyarrow.parquet as pq

    os.makedirs(d, exist_ok=True)
    tbl = tbl.sort_by([(c, "ascending") for c in _FOLD_KEY])
    tbl = tbl.select(_EMIT_LOG_SCHEMA.names).cast(_EMIT_LOG_SCHEMA)
    stage = os.path.join(d, f"_stage_{uuid.uuid4().hex}.emit")
    pq.write_table(tbl, stage)
    final = os.path.join(d, f"seg_{seq:08d}.delta.parquet")
    os.replace(stage, final)
    return final


def _read_emit_log(spark, segs: list[str]):
    """Read emission segments → the stored columns (``_EMIT_LOG_DDL``)."""
    return spark.read.schema(_EMIT_LOG_DDL).parquet(*segs)


def _with_nat_key(df):
    """Add the fold key's ``nat_key``, DERIVED from ``src_rid`` via the JVM
    natural-sort expression (stored segments don't carry it).  The derived
    value is byte-identical to the map side's ``natural_pad`` (parity test
    in tests/test_values.py).  Derive it after filters and joins: Spark
    does not push a join below the regex projection."""
    from pyspark.sql import functions as F

    from .values import natural_sort_col_expr

    return df.withColumn("nat_key", F.expr(natural_sort_col_expr("src_rid")))


def _scan_emit_log(files: list[str], columns: list[str], flt,
                   max_rows: int | None = None):
    """Driver-side filtered read of emission-log files → arrow table of
    ``columns``, or None once more than ``max_rows`` rows match (the scan
    streams, so an over-bound gather never materializes)."""
    import pyarrow.dataset as ds

    schema = pa.schema([_EMIT_LOG_SCHEMA.field(c) for c in columns])
    batches, n = [], 0
    if files:
        for b in ds.dataset(files, format="parquet",
                            schema=_EMIT_LOG_SCHEMA).to_batches(
                                columns=columns, filter=flt):
            n += b.num_rows
            if max_rows is not None and n > max_rows:
                return None
            batches.append(b)
    return pa.Table.from_batches(batches, schema=schema)


def _live_emissions(log):
    """The emission log's validity rule — the store segment log's: per
    ``(out_id, path)`` the rows at the highest ``version`` win, and a
    tombstone (NULL ``value``) among them emits nothing.  The window needs
    only out_id clustering, so on a frame already partitioned by out_id it
    adds no shuffle."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    top = F.max("version").over(Window.partitionBy("out_id", "path"))
    return (log.withColumn("_top", top)
            .where((F.col("version") == F.col("_top"))
                   & F.col("value").isNotNull())
            .drop("_top"))


def _emissions_df(mapped, seq: int):
    """Map rows (path, input_idx, record_id, nat_key, outputs) → one row
    per emission (path, version=``seq``, out_id, input_idx, nat_key,
    src_rid, emit_idx, value)."""
    from pyspark.sql import functions as F

    return mapped.select(
        "path", F.lit(seq).cast("long").alias("version"), "input_idx",
        "nat_key", F.col("record_id").alias("src_rid"),
        F.explode(F.from_json("outputs", _EMITS_DDL)).alias("e"),
    ).select("path", "version", F.col("e.k").alias("out_id"), "input_idx",
             "nat_key", "src_rid", F.col("e.i").alias("emit_idx"),
             F.col("e.v").alias("value"))


def _compact_emissions(spark, store: DatasetStore, author: str,
                       name: str) -> None:
    """Fold the emissions log into one base segment of its live rows
    (:func:`_live_emissions`; physical only, like cache compaction): the
    latest generation of every live ``(out_id, path)`` keeps its version,
    and the tombstones, with every row they retire, are gone."""
    import os
    import shutil

    d = _emit_dir(store, author, name)
    segs = _emit_segments(store, author, name)
    if len(segs) <= 1:
        return
    valid = _with_nat_key(_live_emissions(_read_emit_log(spark, segs)))
    # sized from the footers' row counts (an upper bound on the live rows:
    # it includes tombstones and the rows they retire), not a count job
    n = sum(footer.metadata.num_rows
            for seg in segs for _f, footer in store._footers.segment(seg))
    num_parts = max(1, min(256, n // 200_000 + 1))
    final = _write_emit_segment(valid, d, _next_emit_seq(segs), base=True,
                                num_parts=num_parts)
    # dir-wide sweep (not just `segs`): segments _emit_segments hides
    # (below the newest base) would otherwise linger forever
    for fn in os.listdir(d):
        p = os.path.join(d, fn)
        if (_EMIT_SEG_RE.match(fn)
                and os.path.abspath(p) != os.path.abspath(final)):
            shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) \
                else os.remove(p)


def _reset_lens_state(store: DatasetStore, author: str, name: str) -> None:
    """Give a lens an empty compute cache and no emissions log, so its next
    build is a first build.  The cache goes first: the emit dir holds the
    inflight marker, which must outlive every other step of a reset that
    itself crashes (hence also the ``exists`` check)."""
    import shutil

    cache = _cache_name(name)
    if store.exists(author, cache, source=_CACHE_SOURCE):
        store.delete_collection(author, cache, source=_CACHE_SOURCE)
    store.create(author, cache, source=_CACHE_SOURCE)
    shutil.rmtree(_emit_dir(store, author, name), ignore_errors=True)
    store._footers.forget(_emit_dir(store, author, name))


def create_lens(store: DatasetStore, author: str, name: str, *, inputs: list[str],
                code: str, memo: str = "", timeout_ms: float | None = 50.0):
    """Register a lens: validates code compiles (startup-error surface) and
    input paths parse; creates the output collection + compute cache.

    ``timeout_ms`` defaults to the reference's 50 ms-per-record envelope
    (defaults.lensTimeout, applied javascript-lens-worker.js:116,132-135);
    pass ``None`` to disable."""
    LensHarness(code)  # compile check
    for p in inputs:
        decode_path(p)
    config = {"inputs": inputs, "code": code, "mapType": "python",
              "timeout_ms": timeout_ms, "input_versions": {}}
    meta = store.create(author, name, source="lenses", memo=memo, config=config)
    # a recreated lens must not inherit a prior incarnation's cache or log
    _reset_lens_state(store, author, name)
    return meta


def _load_inputs(spark, store: DatasetStore, input_paths: list[str]):
    """Union of input collections with path/provenance columns.

    Duplicate input *paths* are skipped first-seen-wins (ref lens.js:127-133);
    a ``/records/{id}`` suffix restricts to that record (ref lens.js:139).
    """
    from pyspark.sql import functions as F

    seen: set[str] = set()
    dfs = []
    for idx, p in enumerate(input_paths):
        dp = decode_path(p)
        if dp.collection_path in seen:
            continue
        seen.add(dp.collection_path)
        if dp.source == "meta":
            from .vfs import meta_vfs_df

            df = meta_vfs_df(spark, store).select(
                "record_id", "value",
                F.lit(None).cast("string").alias("hash"),
                F.array().cast("array<string>").alias("links"),
                F.lit(0).cast("long").alias("version"),
            )
        else:
            df = store.read_df(spark, dp.author, dp.name, source=dp.source)
        if dp.record_id is not None:
            df = df.where(F.col("record_id") == dp.record_id)
        dfs.append(
            df.select(
                F.lit(idx).alias("input_idx"),
                F.concat(F.lit(dp.collection_path + "/records/"),
                         F.col("record_id")).alias("path"),
                F.lit(dp.source).alias("source"),
                F.lit(dp.author).alias("author"),
                F.lit(dp.name).alias("name"),
                "record_id",
                "version",
                "value",
            )
        )
    if not dfs:
        raise ValueError("lens has no inputs")
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


def _small_delta_build(spark, store: DatasetStore, author: str, name: str, *,
                       mapped, gone_paths, old_emit_segs: list[str], trace):
    """The small-delta build: ONE Spark job, then driver-side pyarrow.

    The job maps the delta (user code runs in Spark Python workers, never
    in this process), derives the canonical cache envelope in codegen
    (:func:`_cache_entry_value_col`) and the parsed emissions, and collects
    them together with the pruned paths.  Everything after it runs on the
    driver over the same file formats, in the same durable-write order as
    :func:`_distributed_build` (so the crash protocol is unchanged): the
    hash-suppressed cache write (:meth:`DatasetStore.write_entries`,
    precanonical — ``sha256(value)``, byte-identical to the JVM ``sha2``);
    one single-file emission segment, holding the fresh emissions and a
    tombstone for every ``(out_id, path)`` a filtered read of the log finds
    for a delta path; the gather of the segment's out_ids from the
    out_id-sorted log, the validity rule of :func:`_live_emissions` and the
    fold (:func:`fold_emissions`); and the hash-suppressed output write.

    Driver memory: the collected delta is at most ``AFFECTED_COLLECT_MAX``
    records (the selection rule in :func:`build_lens`); a tombstone scan
    over the same bound hands the segment write and the fold to Spark
    (:func:`_write_and_reduce`), an affected-key set or emission gather
    over it the fold (:func:`_reduce_affected`).

    Returns ``(output collection meta, records mapped)``."""
    import pyarrow.compute as pc
    from pyspark.sql import functions as F

    with job_desc(spark, f"lens {author}:{name} map"):
        tbl = (mapped.select(
                   "path", "input_idx", "nat_key",
                   F.col("record_id").alias("src_rid"),
                   _cache_entry_value_col().alias("value"),
                   F.from_json("outputs", _EMITS_DDL).alias("emits"))
               .unionByName(gone_paths, allowMissingColumns=True)
               .toArrow())
    is_map = pc.is_valid(tbl["value"])
    m = tbl.filter(is_map).combine_chunks()
    gone = tbl.filter(pc.invert(is_map))["path"].to_pylist()
    paths = m["path"].to_pylist()
    delta_paths = paths + gone
    n_fresh = m.num_rows
    trace(f"map+collect(n={n_fresh})")

    emit_d = _emit_dir(store, author, name)
    _install_inflight_marker(emit_d)
    store.write_entries(
        author, _cache_name(name),
        [*zip(paths, m["value"].to_pylist()), *((p, None) for p in gone)],
        source=_CACHE_SOURCE, precanonical=True, no_links=True)
    trace("cache_write")

    # one row per emission, stamped with this build's segment seq
    seq = _next_emit_seq(old_emit_segs)
    emits = m["emits"].combine_chunks()
    src = m.select(["path", "input_idx", "nat_key", "src_rid"]).take(
        pc.list_parent_indices(emits))
    flat = pc.list_flatten(emits)
    new = pa.table({
        "path": src["path"],
        "version": pa.array([seq] * len(flat), pa.int64()),
        "out_id": flat.field("k"), "input_idx": src["input_idx"],
        "nat_key": src["nat_key"], "src_rid": src["src_rid"],
        "emit_idx": flat.field("i"), "value": flat.field("v")})
    # … and one tombstone per (out_id, path) the log holds for a delta path
    old_files = [f for seg in old_emit_segs for f in _segment_files(seg)]
    keys = ["path", "out_id", "input_idx", "src_rid"]
    old_keys = _scan_emit_log(old_files, keys,
                              pc.field("path").isin(delta_paths),
                              max_rows=AFFECTED_COLLECT_MAX)
    if old_keys is None:
        # over the driver bound: write the segment and fold on Spark
        return _write_and_reduce(
            spark, store, author, name,
            emit_delta=spark.createDataFrame(new),
            delta_paths=spark.createDataFrame(
                pa.table({"path": pa.array(delta_paths, pa.string())})),
            old_emit_segs=old_emit_segs, seq=seq, trace=trace), n_fresh
    tombs = old_keys.group_by(keys).aggregate([])
    n = tombs.num_rows
    seg = pa.concat_tables([new, pa.table({
        **{c: tombs[c] for c in keys},
        "version": pa.array([seq] * n, pa.int64()),
        "nat_key": pa.array([natural_pad(r) for r in
                             tombs["src_rid"].to_pylist()], pa.string()),
        "emit_idx": pa.nulls(n, pa.int32()),
        "value": pa.nulls(n, pa.string()),
    }).select(new.column_names).cast(new.schema)])
    affected = sorted(set(seg["out_id"].to_pylist()))
    if not affected:
        return store.get_meta(author, name, source="lenses"), n_fresh
    seg_path = _write_emit_segment_local(seg, emit_d, seq)
    trace("emit_write")

    old = None
    if len(affected) <= AFFECTED_COLLECT_MAX:
        old = _scan_emit_log(old_files, _EMIT_LOG_SCHEMA.names,
                             pc.field("out_id").isin(affected),
                             max_rows=AFFECTED_COLLECT_MAX)
    if old is None:
        # over the driver bound: fold on Spark, from the written log
        return _reduce_affected(spark, store, author, name,
                                segs=[*old_emit_segs, seg_path],
                                trace=trace), n_fresh

    # validity (:func:`_live_emissions`): the rows at the highest version
    # of their (out_id, path), tombstones dropped
    rows = [row for t in (old, seg) for row in
            zip(*(t[c].to_pylist() for c in _EMIT_LOG_SCHEMA.names))]
    top: dict = {}
    for p, ver, o, *_ in rows:
        top[o, p] = max(ver, top.get((o, p), ver))
    live = sorted(((o, i, natural_pad(r), r, e, v)
                   for p, ver, o, i, r, e, v in rows
                   if v is not None and ver == top[o, p]),
                  key=lambda r: r[:5])  # the full fold key
    reduced = dict(fold_emissions((r[0], r[5]) for r in live))
    trace(f"reduce(n={len(reduced)})")
    # affected ids with no remaining emissions are deleted outputs
    stats_meta = store.write_entries(
        author, name, [(oid, reduced.get(oid)) for oid in affected],
        source="lenses", precanonical=True)
    trace("output_write")
    return stats_meta, n_fresh


def _write_and_reduce(spark, store: DatasetStore, author: str, name: str, *,
                      emit_delta, delta_paths, old_emit_segs: list[str],
                      seq: int, num_parts: int = 1, trace):
    """The Spark tail of an incremental build, after its cache write: write
    this build's emission segment at ``seq`` — ``emit_delta`` (stamped
    ``seq``) plus one tombstone per ``(out_id, path)`` the log holds for a
    ``delta_paths`` path — then re-reduce its out_ids
    (:func:`_reduce_affected`).  Returns the output collection's meta."""
    from pyspark.sql import functions as F

    tombs = _with_nat_key(
        _read_emit_log(spark, old_emit_segs)
        .join(F.broadcast(delta_paths), "path", "left_semi")
        .select("path", "out_id", "input_idx", "src_rid").distinct()
        .withColumns({"version": F.lit(seq).cast("long"),
                      "emit_idx": F.lit(None).cast("int"),
                      "value": F.lit(None).cast("string")}))
    with job_desc(spark, f"lens {author}:{name} emit write"):
        seg = _write_emit_segment(emit_delta.unionByName(tombs),
                                  _emit_dir(store, author, name), seq,
                                  num_parts=num_parts)
    trace("emit_write")
    return _reduce_affected(spark, store, author, name,
                            segs=[*old_emit_segs, seg], trace=trace)


def _reduce_affected(spark, store: DatasetStore, author: str, name: str, *,
                     segs: list[str], trace):
    """Re-reduce the out_ids of this build's emission segment (``segs[-1]``)
    over the whole log ``segs`` on Spark and write them (the output write);
    returns the output collection's meta.

    Emissions come from the EMISSIONS STORE (exploded at write time,
    range-sorted by out_id), not from re-parsing the cache.  Only
    *affected* out_ids are re-reduced: the segment holds every key a fresh
    emission touches or a tombstone retires.  Gathering those keys'
    emissions is a PRUNED scan — the ``out_id IN (...)`` predicate pushes
    into the sorted parquet and skips non-matching row groups; validity
    (:func:`_live_emissions`) rides the fold's out_id shuffle.  Untouched
    keys keep their stored reduction — at 100 TB a point-write re-reduces a
    handful of keys reading a handful of row groups (the reference
    re-folds everything each build, lens.js:204-225; this is strictly
    stronger incrementality)."""
    from pyspark.sql import functions as F

    log = _read_emit_log(spark, segs)
    affected = (_read_emit_log(spark, segs[-1:]).select("out_id")
                .distinct().persist())
    # one probe job replaces the old count()+collect() pair: collect up
    # to cap+1 rows — emptiness, the cap branch, AND the id list all
    # come out of the same scan (the persist materializes fully later,
    # under the deletes anti-join that needs it anyway)
    with job_desc(spark, f"lens {author}:{name} affected probe"):
        probe_rows = affected.limit(AFFECTED_COLLECT_MAX + 1).collect()
    n_affected = len(probe_rows)
    trace(f"affected(n={n_affected}"
          f"{'+' if n_affected > AFFECTED_COLLECT_MAX else ''})")
    if n_affected == 0:
        stats_meta = store.get_meta(author, name, source="lenses")
    else:
        if n_affected <= AFFECTED_COLLECT_MAX:
            # driver-side key list ⇒ parquet pushdown prunes row groups
            # of the sorted log; the whole gather reads ~|affected| keys
            ids = [r["out_id"] for r in probe_rows]
            gathered = log.where(F.col("out_id").isin(ids))
        else:
            ids = None
            gathered = log.join(affected, "out_id", "left_semi")
        # the (out_id, path) validity window needs no shuffle of its own
        # on the out_id-partitioned frame the fold needs anyway
        live = _with_nat_key(_live_emissions(gathered.repartition("out_id")))
        reduced = reduce_outputs(
            live.sortWithinPartitions(*_FOLD_KEY).select(*_EMIT_COLS),
            presorted=True).persist()
        # materialize NOW: the write plan references `reduced` twice
        # (upserts + the deletes anti-join); an unmaterialized persist
        # would re-run the whole reduce per reference inside one job
        with job_desc(spark, f"lens {author}:{name} reduce"):
            n_reduced = reduced.count()
        trace(f"reduce(n={n_reduced})")
        # affected ids with no remaining emissions are deleted outputs
        deletes = affected.join(
            reduced.select(F.col("record_id").alias("out_id")),
            "out_id", "left_anti"
        ).select(F.col("out_id").alias("record_id"),
                 F.lit(None).cast("string").alias("value"))
        # reduced is keyed by the fold's out_id groupBy; deletes are
        # an anti-join against it — unique by construction
        # every record_id written here is an affected out_id, so the
        # collected id list (when present) scopes the suppression read
        stats_meta = store.write_entries_df(
            spark, author, name, reduced.unionByName(deletes),
            source="lenses", precanonical=True, assume_unique_ids=True,
            suppress_scope_ids=ids)
        trace("output_write")
        reduced.unpersist(blocking=True)
    affected.unpersist(blocking=True)
    return stats_meta


def _distributed_build(spark, store: DatasetStore, author: str, name: str, *,
                       mapped, gone_paths, first_build: bool,
                       old_emit_segs: list[str], trace):
    """The Spark build: every phase a distributed job (first builds —
    including the one after a reset — full diffs, and deltas too large
    for :func:`_small_delta_build`).
    Returns ``(output collection meta, records mapped)``."""
    from pyspark.sql import functions as F

    # persist: the expensive map phase must run exactly once even though the
    # cache write, the emissions write, and the reduce all derive from it
    mapped = mapped.persist()
    with job_desc(spark, f"lens {author}:{name} map"):
        n_fresh = mapped.count()
    trace(f"map+count(n={n_fresh})")

    # the cache-entry envelope is assembled canonically in codegen from the
    # thin map columns (the map output no longer carries the fat duplicate),
    # so the cache write hashes JVM-side (precanonical) as before
    cache_entries = mapped.select(F.col("path").alias("record_id"),
                                  _cache_entry_value_col().alias("value"))

    # prune cache entries whose input row disappeared (ref lens.js:192-199)
    gone = gone_paths.select(F.col("path").alias("record_id"),
                             F.lit(None).cast("string").alias("value"))
    delta = cache_entries.unionByName(gone)
    # inflight marker: from the cache write to set_config this build holds
    # partially-committed state; a crash in the window is detected and
    # recovered by the next build (crash-safety comment at _INFLIGHT_MARKER)
    emit_d = _emit_dir(store, author, name)
    _install_inflight_marker(emit_d)
    store.write_entries_df(spark, author, _cache_name(name), delta,
                           assume_unique_ids=True,
                           source=_CACHE_SOURCE, precanonical=True,
                           no_links=True)
    trace("cache_write")

    # emissions come straight off the persisted map result
    seq = _next_emit_seq(old_emit_segs)
    emit_delta = _emissions_df(mapped, seq)
    # ~20k rows/file: single-row-group files (foldable without a shuffle)
    # AND enough files that the direct fold uses every core
    num_parts = max(1, min(256, n_fresh // 20_000 + 1))
    if first_build:
        with job_desc(spark, f"lens {author}:{name} emit write"):
            seg_path = _write_emit_segment(
                emit_delta, emit_d, seq, base=True, num_parts=num_parts)
        trace("emit_write")
        # Fold off the just-written segment (page-cache-hot): ~20k-row
        # single-row-group files are never split, so every out_id group is
        # contiguous and in fold order within its read partition.  (An
        # r10/r11 variant persisted the post-shuffle sorted frame to skip
        # this decode; the InMemoryRelation build cost ~3× the decode —
        # see _write_emit_segment.)
        reduced = reduce_outputs(
            _with_nat_key(_read_emit_log(spark, [seg_path]))
            .select(*_EMIT_COLS),
            presorted=True)
        stats_meta = store.write_entries_df(spark, author, name, reduced,
                                            source="lenses",
                                            overwrite=True,
                                            precanonical=True,
                                            assume_unique_ids=True)
    else:
        stats_meta = _write_and_reduce(
            spark, store, author, name, emit_delta=emit_delta,
            delta_paths=mapped.select("path").unionByName(gone_paths),
            old_emit_segs=old_emit_segs, seq=seq, num_parts=num_parts,
            trace=trace)
    mapped.unpersist(blocking=True)
    return stats_meta, n_fresh


def build_lens(spark, store: DatasetStore, author: str, name: str, *,
               count_outputs: bool = False) -> dict:
    """Incremental lens build (the reference's query execution, SURVEY §3.2).

    Two plans write the same bytes (pinned by tests/test_lens.py's parity
    test); the choice is automatic:

    - **Small delta — one Spark job** (:func:`_small_delta_build`).  Taken
      when every input took the delta branch (segments since the last
      build — so never on a first build) and the delta's row count, read
      from the segments' parquet footers, is at most
      ``AFFECTED_COLLECT_MAX``.
      The job maps the delta and
      collects the cache envelopes and emissions; the writes, the
      affected-key gather and the fold run on the driver with pyarrow.
      A point update then costs one job instead of dozens of
      near-empty ones (the per-job constant dominated its latency).
    - **Spark** otherwise (:func:`_distributed_build`): every phase is a
      distributed job, cost ∝ the delta and the affected keys.

    Both follow one durable-write order (cache segment → emit segment →
    output write → cursor), bracketed by the inflight marker.  The emit
    segment also retires the old generations of every re-mapped or pruned
    path with tombstone rows (the emissions-store comment).  A build that
    finds the marker (a crash) or a built lens with no emission segment (a
    lost log) resets the lens's cache and log and runs as a first build
    (crash-safety comment at ``_INFLIGHT_MARKER``).

    Returns build stats {mapped, outputs, version, records_changed};
    ``outputs`` is None unless ``count_outputs`` (the count is a whole extra
    job over the output collection — diagnostics, not engine logic).
    """
    import os as _os

    from pyspark.sql import functions as F

    _t0 = time.time()
    _trace = (lambda tag: print(f"[build_lens] {tag}: {time.time() - _t0:.2f}s",
                                flush=True)) if _os.environ.get("PO_LENS_TIMING") \
        else (lambda tag: None)

    meta = store.get_meta(author, name, source="lenses")
    cfg = dict(meta.config)  # the catalog's copy changes at set_config only
    code, input_paths = cfg["code"], cfg["inputs"]
    timeout_ms = cfg.get("timeout_ms")
    emit_d = _emit_dir(store, author, name)

    # recovery: an inflight marker at build start means the previous build
    # died between its cache write and set_config; a built lens (one with
    # a cursor) with no emission segment has lost its log, and folding
    # against nothing would drop every untouched contribution.  Either
    # way, reset the lens and run a first build (see the crash-safety
    # comment above _INFLIGHT_MARKER).
    if _inflight_marker_present(emit_d) or (
            "input_seqs" in cfg and not _emit_segments(store, author, name)):
        _reset_lens_state(store, author, name)
        cfg.pop("input_seqs", None)
        cfg["input_versions"] = {}
        _trace("reset")
    first_build = "input_seqs" not in cfg
    input_seqs: dict = cfg.get("input_seqs", {})
    input_versions: dict = cfg.get("input_versions", {})
    cache_meta = store.get_meta(author, _cache_name(name), source=_CACHE_SOURCE)

    # ---- freshness: per-input DELTA SCAN over the segment log --------------
    # The log layout gives CDF semantics: segments with seq > the seq seen at
    # the last build hold exactly the changed rows (store-level hash
    # suppression guarantees unchanged rewrites produced no rows).  Cost of a
    # rebuild ∝ changed data, not collection size.  Fallbacks: an overwrite
    # since the last build (base segments drop keys silently) or a
    # recordID-selector input use a full diff against the cache; an input
    # whose version didn't advance contributes nothing at all (the
    # reference's inputVersions guard, lens.js:134-137).
    cached_keys = None  # the cache's (path, version), read only for a full diff
    seen: set[str] = set()
    fresh_parts = []   # map-phase inputs (input_idx..value)
    gone_parts = []    # cache paths to prune
    next_seqs: dict = {}
    next_versions: dict = {}
    all_delta = True   # every input took the delta branch (gone bounded)
    delta_bytes = 0    # driver-side delta size (file metadata only)
    delta_rows = 0     # … and its row count (parquet footers)
    delta_sized = True  # False when any input's fresh size is unknowable
    for idx, p in enumerate(input_paths):
        dp = decode_path(p)
        if dp.collection_path in seen:  # duplicate input paths: first wins
            continue
        seen.add(dp.collection_path)
        if dp.source == "meta":
            im_version, im_seq, im_base = 0, 0, 0  # virtual: always full scan
        else:
            im = store.get_meta(dp.author, dp.name, source=dp.source)
            im_version, im_seq, im_base = im.version, im.last_seq, im.base_seq
        next_seqs[p] = im_seq
        next_versions[p] = im_version
        since_seq = input_seqs.get(p)
        last_version = input_versions.get(p)

        def with_provenance(df, idx=idx, dp=dp):
            return df.select(
                F.lit(idx).alias("input_idx"),
                F.concat(F.lit(dp.collection_path + "/records/"),
                         F.col("record_id")).alias("path"),
                F.lit(dp.source).alias("source"),
                F.lit(dp.author).alias("author"),
                F.lit(dp.name).alias("name"),
                "record_id", "version", "value",
            )

        prefix = dp.collection_path + "/records/"
        if (since_seq is not None and last_version is not None
                and dp.record_id is None and dp.source != "meta"
                and im_base <= since_seq):
            if im_version <= last_version:
                continue  # version guard: untouched input, zero work
            changed = store.read_delta_df(spark, dp.author, dp.name,
                                          since_seq, source=dp.source)
            n_bytes, n_rows = store.delta_size(dp.author, dp.name, since_seq,
                                               source=dp.source)
            delta_bytes += n_bytes
            delta_rows += n_rows
            fresh_parts.append(with_provenance(
                changed.where(~F.col("deleted")
                              & (F.col("version") > F.lit(last_version)))))
            gone_parts.append(changed.where(F.col("deleted")).select(
                F.concat(F.lit(prefix), F.col("record_id")).alias("path")))
        else:
            # full diff: current rows vs cached (first build / post-overwrite
            # / record selector / meta source)
            all_delta = False
            delta_sized = False  # fresh set size unknowable pre-diff
            if cached_keys is None:
                cached_keys = store.read_df(
                    spark, author, _cache_name(name),
                    source=_CACHE_SOURCE).select(
                    F.col("record_id").alias("path"),
                    F.get_json_object("value", "$.version").cast("long")
                    .alias("cached_version"))
            cur = _load_inputs(spark, store, [p]).withColumn("input_idx", F.lit(idx))
            my_cached = cached_keys.where(F.col("path").startswith(prefix))
            joined = cur.join(my_cached, "path", "left")
            fresh_parts.append(joined.where(
                F.col("cached_version").isNull()
                | (F.col("version") > F.col("cached_version"))
            ).drop("cached_version"))
            gone_parts.append(my_cached.join(cur.select("path"), "path",
                                             "left_anti").select("path"))

    if not fresh_parts:
        # every input version-guarded: O(1) no-op rebuild — no Spark job, no
        # version churn, no change event (nothing advanced, so the cursors
        # are already current)
        out_meta = store.get_meta(author, name, source="lenses")
        return {"mapped": 0, "outputs": None, "version": out_meta.version,
                "records_changed": False}

    fresh = fresh_parts[0]
    for d in fresh_parts[1:]:
        fresh = fresh.unionByName(d)
    gone_paths = gone_parts[0]
    for d in gone_parts[1:]:
        gone_paths = gone_paths.unionByName(d)

    # ---- map phase over fresh records only --------------------------------
    # The per-record ``exec`` is the CPU-bound stage of the whole build, but
    # its natural partitioning is whatever the upstream scan/shuffle left
    # (AQE's 64MB advisory coalesces a 600k-row delta to 1-2 partitions —
    # sized for shuffle IO, ~30x under-parallel for Python execution).
    # Round-robin to the session's parallelism, CAPPED by a driver-side
    # estimate of the delta's on-disk bytes (~1 MB of parquet per Python
    # task): the shuffle moves a few dozen MB once and the exec stage uses
    # every core when there's work for every core — while a point update
    # maps in ONE task, with no shuffle at all (each exchange is a job of
    # its own under AQE), instead of fanning 32 near-empty Python workers
    # whose per-stage overhead dominated the small-delta rebuild constant
    # (r10 probe: 38 stages / 45 user-cpu-s for a 1-record delta).  The
    # persisted map output inherits this width, so every downstream stage
    # shrinks with it.  Same sizing a cluster job would pick for a
    # CPU-bound stage (2-3x total cores, less when the input is tiny).
    par = spark.sparkContext.defaultParallelism
    if delta_sized:
        par = max(1, min(par, delta_bytes // (1 << 20) + 1))
    if par > 1:
        fresh = fresh.repartition(par)
    mapped = map_records(fresh, code, timeout_ms)

    old_emit_segs = _emit_segments(store, author, name)
    pre_write_version = store.get_meta(author, name, source="lenses").version
    if all_delta and delta_rows <= AFFECTED_COLLECT_MAX:
        stats_meta, n_fresh = _small_delta_build(
            spark, store, author, name, mapped=mapped, gone_paths=gone_paths,
            old_emit_segs=old_emit_segs, trace=_trace)
    else:
        stats_meta, n_fresh = _distributed_build(
            spark, store, author, name, mapped=mapped, gone_paths=gone_paths,
            first_build=first_build, old_emit_segs=old_emit_segs,
            trace=_trace)
    records_changed = stats_meta.version != pre_write_version

    # bookkeeping: input versions + segment positions consumed by this build
    # (ref lens.js:134-137,227 records inputVersions; input_seqs is the CDF
    # cursor for the next delta scan)
    cfg["input_seqs"], cfg["input_versions"] = next_seqs, next_versions
    store.set_config(author, name, cfg, source="lenses", memo=meta.memo)
    # the build's state is fully committed — clear the crash marker (the
    # compactions below are physical-only and individually crash-safe)
    _remove_inflight_marker(emit_d)

    # keep the cache + emissions logs short: the NEXT build's freshness read
    # is a window over cache segments and the gather unions emission
    # segments (compaction is physical only — no events, no versions; safe
    # here because every plan pinning old segments has run)
    if len(store._segments(cache_meta)) > 8:  # noqa: SLF001 — engine-internal
        store.compact_df(spark, author, _cache_name(name), source=_CACHE_SOURCE)
    if len(_emit_segments(store, author, name)) > 8:
        _compact_emissions(spark, store, author, name)
    # the OUTPUT collection also gains a segment per build; unchecked, the
    # suppression join inside every write pays an ever-taller latest-wins
    # window over the log
    if len(store._segments(stats_meta)) > 8:  # noqa: SLF001
        store.compact_df(spark, author, name, source="lenses")

    n_out = (store.read_df(spark, author, name, source="lenses").count()
             if count_outputs else None)
    _trace(f"n_out(n={n_out})")
    return {"mapped": n_fresh, "outputs": n_out, "version": stats_meta.version,
            "records_changed": records_changed}


def lens_logs(spark, store: DatasetStore, author: str, name: str):
    """Captured logs/errors per input path (ref lens.js:87-92, browsable at
    /lenses/a:n/logs)."""
    from pyspark.sql import functions as F

    cache = store.read_df(spark, author, _cache_name(name), source=_CACHE_SOURCE)
    parsed = cache.select(
        F.col("record_id").alias("input_path"),
        F.from_json("value", _CACHE_VALUE_SCHEMA).alias("c"),
    )
    return parsed.select(
        "input_path",
        F.from_json("c.logs", "array<string>").alias("logs"),
        F.from_json("c.errors",
                    "array<struct<type:string,message:string,line:int>>").alias("errors"),
    )
