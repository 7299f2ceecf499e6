"""Crash-injection tests for the lens build protocol (VERDICT r10 item 3).

A build's durable writes happen in this order: cache segment -> emit
segment (fresh emissions plus the tombstones that retire old generations)
-> output write -> set_config (cursor advance) -> compactions.  The
``_build_inflight`` marker brackets the whole window; these tests kill a
build at each seam, then assert the next build HEALS:
it finds the marker, resets the lens (empty compute cache, no emission
log, no cursor) and runs a first build that re-maps every live input
record.  The final output collection must equal a fresh single build over
the final input state (the same equivalence the differential harness
pins), with the non-idempotent count/sum folds in CODE making any
double-gather or lost-generation visible as a wrong number, not just a
missing key.

Each window runs twice: an immediate re-run over the doomed build's input
state, and a re-run after extra input churn.
"""

from __future__ import annotations

import json

import pytest

import pigeon_optics_spark.lens as lens_mod
from pigeon_optics_spark.lens import build_lens, create_lens
from pigeon_optics_spark.store import DatasetStore

CODE = """
for tag in data.get('tags', []):
    output(tag, Set([path.recordID]))
    output('count:' + tag, 1)
output('total', len(data.get('tags', [])))
"""


class Boom(RuntimeError):
    """Injected crash."""


def _outputs(store: DatasetStore, name: str) -> dict:
    from pigeon_optics_spark.values import canonical_json

    return {r["id"]: canonical_json(r["value"]) for r in
            store.iterate("a", name, source="lenses", fast_read=True)}


def _fresh_reference(spark, tmp_path, tag: str, live: dict) -> dict:
    fresh = DatasetStore(str(tmp_path / f"fresh-{tag}"))
    fresh.create("a", "d")
    if live:
        fresh.write_entries("a", "d", sorted(live.items()))
    create_lens(fresh, "a", "l", inputs=["/datasets/a:d"], code=CODE)
    build_lens(spark, fresh, "a", "l")
    return _outputs(fresh, "l")


def _crash_patch(monkeypatch, window: str):
    """Install the injected crash for one protocol seam."""
    if window == "pre_emit":
        # dies after the cache write, before the emit-segment write (both
        # writers: small deltas write their segment driver-side)
        def boom(*a, **k):
            raise Boom("pre_emit")
        monkeypatch.setattr(lens_mod, "_write_emit_segment", boom)
        monkeypatch.setattr(lens_mod, "_write_emit_segment_local", boom)
    elif window == "pre_output":
        # dies after the emit write, before the output write (both
        # writers: the small-delta build writes its output driver-side)
        orig_df = DatasetStore.write_entries_df
        orig = DatasetStore.write_entries

        def wrapper_df(self, spark, author, name, df, **kw):
            if kw.get("source") == "lenses":
                raise Boom("pre_output")
            return orig_df(self, spark, author, name, df, **kw)

        def wrapper(self, author, name, entries, **kw):
            if kw.get("source") == "lenses":
                raise Boom("pre_output")
            return orig(self, author, name, entries, **kw)
        monkeypatch.setattr(DatasetStore, "write_entries_df", wrapper_df)
        monkeypatch.setattr(DatasetStore, "write_entries", wrapper)
    elif window == "pre_cursor":
        # dies after the output write, before set_config
        def boom(*a, **k):
            raise Boom("pre_cursor")
        monkeypatch.setattr(DatasetStore, "set_config", boom)
    else:  # pragma: no cover
        raise ValueError(window)


WINDOWS = ["pre_emit", "pre_output", "pre_cursor"]


@pytest.mark.parametrize("window", WINDOWS)
@pytest.mark.parametrize("churn_between,plan", [
    pytest.param(False, "small", id="suppressed-rerun"),
    pytest.param(True, "small", id="churned-rerun"),
    pytest.param(False, "spark", id="suppressed-rerun-spark"),
    pytest.param(True, "spark", id="churned-rerun-spark"),
])
def test_incremental_crash_heals(spark, tmp_path, monkeypatch, window,
                                 churn_between, plan):
    """The doomed build's two-record delta takes the one-job small-delta
    plan (driver-side writers) unless ``plan`` forces the Spark plan; the
    healing re-run is a first build, which always takes the Spark plan."""
    if plan == "spark":
        monkeypatch.setattr(lens_mod, "AFFECTED_COLLECT_MAX", 0)
    tag = f"{window}-{churn_between}-{plan}"
    inc = DatasetStore(str(tmp_path / f"inc-{tag}"))
    inc.create("a", "d")
    create_lens(inc, "a", "l", inputs=["/datasets/a:d"], code=CODE)

    live: dict[str, dict] = {}

    def put(rid, tags):
        v = {"tags": tags}
        inc.write("a", "d", rid, v)
        live[rid] = v

    # a healthy base build, then a second incremental one (so the log has
    # real history for tombstones/orphans to interact with)
    put("r1", ["cat", "dog"])
    put("r2", ["dog"])
    build_lens(spark, inc, "a", "l")
    put("r3", ["cat", "emu"])
    inc.delete_record("a", "d", "r2")
    del live["r2"]
    build_lens(spark, inc, "a", "l")

    # the doomed build: touches shared out_ids ('cat', 'count:cat') so a
    # double-gather after the heal would be a visibly wrong count
    put("r1", ["cat"])
    put("r4", ["cat", "fox"])
    with monkeypatch.context() as mp:
        _crash_patch(mp, window)
        with pytest.raises(Boom):
            build_lens(spark, inc, "a", "l")
    spark.catalog.clearCache()  # the dead build's persists

    # marker must have survived the crash — that IS the detection signal
    from pigeon_optics_spark.lens import (_cache_name, _emit_dir,
                                          _inflight_marker_present)
    assert _inflight_marker_present(_emit_dir(inc, "a", "l"))

    if churn_between:
        put("r5", ["fox"])  # extra churn the healing re-run must also see

    stats = build_lens(spark, inc, "a", "l")  # the healing re-run
    assert not _inflight_marker_present(_emit_dir(inc, "a", "l"))
    # the heal re-maps every live input record …
    assert stats["mapped"] == len(live)
    # … and the cache keeps only the input version and the captured
    # logs/errors (the emissions live once, in the emission log)
    cache = inc._state(inc.get_meta("a", _cache_name("l"), source="meta"))
    assert len(cache) == len(live)
    for row in cache.values():
        assert set(json.loads(row["value"])) == {"errors", "logs", "version"}
    want = _fresh_reference(spark, tmp_path, tag, live)
    got = _outputs(inc, "l")
    assert got == want, {
        "only_incremental": {k: got[k] for k in got.keys() - want.keys()},
        "only_fresh": {k: want[k] for k in want.keys() - got.keys()},
        "diff": {k: (got[k], want[k]) for k in got.keys() & want.keys()
                 if got[k] != want[k]},
    }

    # post-heal incrementality must still be exact (the log and
    # compaction state after a heal feed the next delta build)
    put("r6", ["dog", "cat"])
    inc.delete_record("a", "d", "r3")
    del live["r3"]
    build_lens(spark, inc, "a", "l")
    assert _outputs(inc, "l") == _fresh_reference(
        spark, tmp_path, tag + "-post", live)


@pytest.mark.parametrize("window", ["pre_emit", "pre_output"])
def test_first_build_crash_heals(spark, tmp_path, monkeypatch, window):
    """A FIRST build dying after its cache write is the nastiest case: it
    leaves cache rows but no cursor, and the full-diff freshness branch
    uses the cache itself as its cursor, so a plain re-run would see
    nothing fresh — only the inflight marker triggers the reset that
    rebuilds the output (a silent permanent-empty-output hole before
    r11)."""
    tag = f"first-{window}"
    inc = DatasetStore(str(tmp_path / f"inc-{tag}"))
    inc.create("a", "d")
    create_lens(inc, "a", "l", inputs=["/datasets/a:d"], code=CODE)
    live = {"r1": {"tags": ["cat", "dog"]}, "r2": {"tags": ["dog"]}}
    inc.write_entries("a", "d", sorted(live.items()))

    with monkeypatch.context() as mp:
        _crash_patch(mp, window)
        with pytest.raises(Boom):
            build_lens(spark, inc, "a", "l")
    spark.catalog.clearCache()

    build_lens(spark, inc, "a", "l")  # heal
    assert _outputs(inc, "l") == _fresh_reference(spark, tmp_path, tag, live)

    # and incremental life continues normally afterwards
    live["r3"] = {"tags": ["emu", "cat"]}
    inc.write("a", "d", "r3", live["r3"])
    build_lens(spark, inc, "a", "l")
    assert _outputs(inc, "l") == _fresh_reference(
        spark, tmp_path, tag + "-post", live)


def test_double_crash_then_heal(spark, tmp_path, monkeypatch):
    """The healing build itself dying (marker re-armed) must leave the
    store healable by the NEXT build — the reset is idempotent."""
    inc = DatasetStore(str(tmp_path / "inc-double"))
    inc.create("a", "d")
    create_lens(inc, "a", "l", inputs=["/datasets/a:d"], code=CODE)
    live = {"r1": {"tags": ["cat"]}, "r2": {"tags": ["dog", "cat"]}}
    inc.write_entries("a", "d", sorted(live.items()))
    build_lens(spark, inc, "a", "l")

    live["r1"] = {"tags": ["cat", "fox"]}
    inc.write("a", "d", "r1", live["r1"])
    with monkeypatch.context() as mp:
        _crash_patch(mp, "pre_emit")
        with pytest.raises(Boom):
            build_lens(spark, inc, "a", "l")
    spark.catalog.clearCache()
    # second crash, different seam, during the would-be healing build
    with monkeypatch.context() as mp:
        _crash_patch(mp, "pre_output")
        with pytest.raises(Boom):
            build_lens(spark, inc, "a", "l")
    spark.catalog.clearCache()

    build_lens(spark, inc, "a", "l")
    assert _outputs(inc, "l") == _fresh_reference(
        spark, tmp_path, "double", live)
