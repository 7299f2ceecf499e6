"""Differential test of the reactive lens DAG (streaming.rebuild_affected).

Extends the single-lens incremental≡fresh property through a TWO-LEVEL
DAG: dataset → L1 (set-invert) → L2 (reads L1's OUTPUT collection).
After random write/delete batches each followed by a cascade, both lens
output collections must equal a fresh store's bottom-up single builds
over the final dataset state.  This pins the cascade bookkeeping the
single-lens test can't see: change propagation through a lens's own
output path, convergence via hash suppression (no infinite requeue),
and the version guard across DAG levels.
"""

from __future__ import annotations

import random

import pytest

from pigeon_optics_spark.lens import build_lens, create_lens
from pigeon_optics_spark.store import DatasetStore
from pigeon_optics_spark.streaming import rebuild_affected

L1_CODE = """
for tag in data.get('tags', []):
    output(tag, Set([path.recordID]))
"""

# L2 reads L1's OUTPUT records (PSet values): bucket tags by how many
# docs carry them — exercises Set values as INPUT plus number-add reduce
L2_CODE = """
output('n' + str(len(data)), 1)
"""

_TAGS = ["cat", "dog", "emu"]


def _mk(store: DatasetStore) -> None:
    store.create("a", "d")
    create_lens(store, "a", "l1", inputs=["/datasets/a:d"], code=L1_CODE)
    create_lens(store, "a", "l2", inputs=["/lenses/a:l1"], code=L2_CODE)


def _outputs(store: DatasetStore, name: str) -> dict:
    from pigeon_optics_spark.values import canonical_json
    return {r["id"]: canonical_json(r["value"]) for r in
            store.iterate("a", name, source="lenses", fast_read=True)}


@pytest.mark.parametrize("seed,plan", [
    pytest.param(13, "small", id="13"),
    pytest.param(13, "spark", id="13-spark"),
])
def test_dag_cascade_equals_fresh_bottom_up(spark, tmp_path, monkeypatch,
                                            seed, plan):
    """``small``: every cascade build after the first takes the one-job
    small-delta plan; ``spark``: a zero ``AFFECTED_COLLECT_MAX`` forces the
    Spark plan throughout."""
    if plan == "spark":
        import pigeon_optics_spark.lens as lens_mod

        monkeypatch.setattr(lens_mod, "AFFECTED_COLLECT_MAX", 0)
    rng = random.Random(seed)
    ids = [f"r{i}" for i in range(5)]

    inc = DatasetStore(str(tmp_path / "inc"))
    _mk(inc)
    live: dict[str, dict] = {}

    for _round in range(3):
        for _ in range(rng.randint(2, 4)):
            rid = rng.choice(ids)
            if rid in live and rng.random() < 0.3:
                inc.delete_record("a", "d", rid)
                del live[rid]
            else:
                v = {"tags": sorted(rng.sample(_TAGS, rng.randint(0, 3)))}
                inc.write("a", "d", rid, v)
                live[rid] = v
        built = rebuild_affected(spark, inc, ["/datasets/a:d"])
        # convergence: the cascade terminated well under the round bound
        assert len(built) <= 6, built

    fresh = DatasetStore(str(tmp_path / "fresh"))
    _mk(fresh)
    if live:
        fresh.write_entries("a", "d", sorted(live.items()))
    build_lens(spark, fresh, "a", "l1")
    build_lens(spark, fresh, "a", "l2")

    assert _outputs(inc, "l1") == _outputs(fresh, "l1")
    assert _outputs(inc, "l2") == _outputs(fresh, "l2")

    # idempotence: a cascade with nothing fresh rebuilds nothing past
    # round 1 and changes no output (hash suppression ends the DAG walk)
    v1 = (inc.get_meta("a", "l1", source="lenses").version,
          inc.get_meta("a", "l2", source="lenses").version)
    built = rebuild_affected(spark, inc, ["/datasets/a:d"])
    assert all(not b["records_changed"] for b in built), built
    v2 = (inc.get_meta("a", "l1", source="lenses").version,
          inc.get_meta("a", "l2", source="lenses").version)
    assert v1 == v2
