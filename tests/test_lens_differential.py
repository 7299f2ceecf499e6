"""Model-based differential test of the incremental lens engine.

THE load-bearing property of the lens build (SURVEY §3.2; ref
lens.js:134-137 delta semantics): after ANY sequence of writes, deletes,
overwrites, and interleaved incremental builds, the lens output
collection is a pure function of the CURRENT input state — identical to
building the same lens ONCE on a fresh store that holds only the final
dataset content.  The existing suite pins single scenarios (freshness,
deletion pruning, version keeping); this test drives RANDOM operation
sequences through both paths and compares the full output maps, so any
delta-scan bookkeeping bug (missed tombstone, stale cache row, wrong
version guard, overwrite fallback miss) surfaces as a map diff.

Seeded random, not hypothesis: each scenario costs several Spark jobs,
so shrinking is impractical — a failing seed is directly replayable.
"""

from __future__ import annotations

import random

import pytest

from pigeon_optics_spark.lens import build_lens, create_lens
from pigeon_optics_spark.store import DatasetStore

# exercises BOTH reduce idioms over shared out-ids: Set-union
# (distinct-collect) and number addition (count/sum), plus multi-output
# flatMap — the reference's two tested aggregate behaviours
CODE = """
for tag in data.get('tags', []):
    output(tag, Set([path.recordID]))
    output('count:' + tag, 1)
output('total', len(data.get('tags', [])))
"""

_TAGS = ["cat", "dog", "emu", "fox"]


def _rand_value(rng: random.Random) -> dict:
    return {"tags": sorted(rng.sample(_TAGS, rng.randint(0, len(_TAGS))))}


def _outputs(store: DatasetStore, name: str) -> dict:
    return {r["id"]: r["value"] for r in
            store.iterate("a", name, source="lenses", fast_read=True)}


def _canon(m: dict) -> dict:
    from pigeon_optics_spark.values import canonical_json
    return {k: canonical_json(v) for k, v in m.items()}


def _force_plan(monkeypatch, plan: str) -> None:
    """``small``: the default selection (the batches here are far under
    ``AFFECTED_COLLECT_MAX``, so every plain incremental build takes the
    one-job small-delta plan); ``spark``: a zero bound forces the Spark
    plan (and its semi-join gather) for every build."""
    if plan == "spark":
        import pigeon_optics_spark.lens as lens_mod

        monkeypatch.setattr(lens_mod, "AFFECTED_COLLECT_MAX", 0)


@pytest.mark.parametrize("seed,rounds,plan", [
    pytest.param(11, 4, "small", id="11-4"),
    pytest.param(23, 4, "small", id="23-4"),
    pytest.param(47, 10, "small", id="47-10"),
    pytest.param(11, 4, "spark", id="11-4-spark"),
    pytest.param(47, 10, "spark", id="47-10-spark"),
])
def test_incremental_equals_fresh_rebuild(spark, tmp_path, monkeypatch,
                                          seed, rounds, plan):
    """rounds=10 (seed 47) drives the sequence across the emit-log
    compaction bound (>8 segments), so tombstone bookkeeping and compaction
    are both exercised under random op interleaving."""
    _force_plan(monkeypatch, plan)
    rng = random.Random(seed)
    ids = [f"r{i}" for i in range(6)]

    inc = DatasetStore(str(tmp_path / f"inc{seed}"))
    inc.create("a", "d")
    create_lens(inc, "a", "l", inputs=["/datasets/a:d"], code=CODE)

    live: dict[str, dict] = {}  # the model's current dataset state
    for _round in range(rounds):
        # a batch of 3-5 random ops against the incremental store
        for _ in range(rng.randint(3, 5)):
            rid = rng.choice(ids)
            if rid in live and rng.random() < 0.3:
                inc.delete_record("a", "d", rid)
                del live[rid]
            else:
                v = _rand_value(rng)
                inc.write("a", "d", rid, v)
                live[rid] = v
        # occasionally overwrite the whole collection (base segment) —
        # the delta-scan FALLBACK path (base segments drop keys silently)
        if _round == 2:
            items = sorted(live.items())
            inc.write_entries("a", "d", items, overwrite=True)
        build_lens(spark, inc, "a", "l")

    _assert_equals_fresh(spark, tmp_path, inc, live)


def _assert_equals_fresh(spark, tmp_path, inc, live, code=CODE):
    """The lens output of ``inc`` equals one build over a fresh store
    holding ONLY the final dataset content ``live``."""
    fresh = DatasetStore(str(tmp_path / "fresh"))
    fresh.create("a", "d")
    if live:
        fresh.write_entries("a", "d", sorted(live.items()))
    create_lens(fresh, "a", "l", inputs=["/datasets/a:d"], code=code)
    build_lens(spark, fresh, "a", "l")

    got, want = _canon(_outputs(inc, "l")), _canon(_outputs(fresh, "l"))
    assert got == want, {
        "only_incremental": {k: got[k] for k in got.keys() - want.keys()},
        "only_fresh": {k: want[k] for k in want.keys() - got.keys()},
        "diff": {k: (got[k], want[k]) for k in got.keys() & want.keys()
                 if got[k] != want[k]},
    }


@pytest.mark.parametrize("plan", ["small", "spark"])
def test_lost_emission_log_is_regenerated(spark, tmp_path, monkeypatch,
                                          plan):
    """A built lens whose emission log is gone (its dir deleted between
    builds) is reset at the next build, which re-maps every live input
    record and so regenerates the log; the contributions of the records
    the update leaves untouched survive (folding against an empty log
    would drop them)."""
    import shutil

    from pigeon_optics_spark.lens import _emit_dir, _emit_segments

    _force_plan(monkeypatch, plan)
    inc = DatasetStore(str(tmp_path / "inc-lost"))
    inc.create("a", "d")
    create_lens(inc, "a", "l", inputs=["/datasets/a:d"], code=CODE)
    live = {"r1": {"tags": ["cat", "dog"]}, "r2": {"tags": ["cat"]},
            "r3": {"tags": ["emu"]}}
    inc.write_entries("a", "d", sorted(live.items()))
    build_lens(spark, inc, "a", "l")
    shutil.rmtree(_emit_dir(inc, "a", "l"))

    live["r1"] = {"tags": ["fox"]}
    inc.write("a", "d", "r1", live["r1"])
    build_lens(spark, inc, "a", "l")
    assert _emit_segments(inc, "a", "l")
    _assert_equals_fresh(spark, tmp_path, inc, live)

    # the regenerated log carries the next incremental build too
    live["r2"] = {"tags": ["dog"]}
    inc.write("a", "d", "r2", live["r2"])
    build_lens(spark, inc, "a", "l")
    _assert_equals_fresh(spark, tmp_path / "after", inc, live)


@pytest.mark.parametrize("plan", ["small", "spark"])
@pytest.mark.parametrize("first", ["empty-dataset", "emits-nothing"])
def test_empty_first_build_then_update(spark, tmp_path, monkeypatch, plan,
                                       first):
    """A first build that emits nothing — over an empty dataset, or over
    records whose map emits nothing — still leaves an emission segment
    (so no later build mistakes the log for lost) and a cursor, so the
    updates are incremental builds (under ``plan=small``, each takes the
    one-job small-delta plan) that then rebuild exactly."""
    import pigeon_optics_spark.lens as lens_mod
    from pigeon_optics_spark.lens import _emit_segments

    code = "for tag in data.get('tags', []):\n    output(tag, 1)\n"
    _force_plan(monkeypatch, plan)
    inc = DatasetStore(str(tmp_path / "inc-first"))
    inc.create("a", "d")
    create_lens(inc, "a", "l", inputs=["/datasets/a:d"], code=code)
    live: dict[str, dict] = {}
    if first == "emits-nothing":
        live = {"r1": {"tags": []}, "r2": {}}
        inc.write_entries("a", "d", sorted(live.items()))
    build_lens(spark, inc, "a", "l")
    assert _outputs(inc, "l") == {}
    assert _emit_segments(inc, "a", "l")

    calls = []
    orig = lens_mod._small_delta_build

    def spy(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    monkeypatch.setattr(lens_mod, "_small_delta_build", spy)
    for rid, v in (("r3", {"tags": ["x", "y"]}), ("r1", {"tags": ["x"]})):
        live[rid] = v
        inc.write("a", "d", rid, v)
        build_lens(spark, inc, "a", "l")
    assert len(calls) == (2 if plan == "small" else 0)
    _assert_equals_fresh(spark, tmp_path, inc, live, code=code)


def test_incremental_equals_fresh_after_empty_final_state(spark, tmp_path):
    """Degenerate tail: every record deleted ⇒ the lens output collection
    must drain to empty, exactly like a fresh build over nothing."""
    _drain_to_empty(spark, tmp_path)


def test_incremental_equals_fresh_after_empty_final_state_spark(
        spark, tmp_path, monkeypatch):
    """The same degenerate tail through the Spark plan."""
    _force_plan(monkeypatch, "spark")
    _drain_to_empty(spark, tmp_path)


def _drain_to_empty(spark, tmp_path):
    inc = DatasetStore(str(tmp_path / "inc-empty"))
    inc.create("a", "d")
    create_lens(inc, "a", "l", inputs=["/datasets/a:d"], code=CODE)
    inc.write("a", "d", "r1", {"tags": ["cat"]})
    inc.write("a", "d", "r2", {"tags": ["dog", "cat"]})
    build_lens(spark, inc, "a", "l")
    assert _outputs(inc, "l")  # sanity: non-empty mid-state
    inc.delete_record("a", "d", "r1")
    inc.delete_record("a", "d", "r2")
    build_lens(spark, inc, "a", "l")
    assert _outputs(inc, "l") == {}
