"""M1 tests: dataset store CRUD & versioning invariants (FIXTURES F4,
ref test/test-models-dataset.js:43-180)."""

import pytest

from pigeon_optics_spark.store import DatasetStore, StoreError


@pytest.fixture
def store(tmp_path):
    return DatasetStore(str(tmp_path / "store"))


def test_create_and_exists(store):
    store.create("alice", "ds1", memo="hello")
    assert store.exists("alice", "ds1")
    assert not store.exists("alice", "nope")
    assert store.get_meta("alice", "ds1").memo == "hello"
    with pytest.raises(StoreError):
        store.create("alice", "ds1")


def test_version_bumps_once_per_batch(store):
    store.create("a", "d")
    m = store.write_entries("a", "d", [("r1", {"x": 1}), ("r2", {"x": 2})])
    assert m.version == 1
    m = store.write("a", "d", "r3", {"x": 3})
    assert m.version == 2
    # record versions = collection version at last content change
    recs = {r["id"]: r for r in store.iterate("a", "d")}
    assert recs["r1"]["version"] == 1
    assert recs["r2"]["version"] == 1
    assert recs["r3"]["version"] == 2


def test_identical_write_suppressed(store):
    store.create("a", "d")
    store.write("a", "d", "r1", {"x": 1, "y": [1, 2]})
    v1 = store.get_meta("a", "d").version
    # same content, different key order → identical hash → full no-op
    m = store.write("a", "d", "r1", {"y": [1, 2], "x": 1})
    assert m.version == v1
    rec = next(store.iterate("a", "d"))
    assert rec["version"] == v1


def test_changed_write_bumps_record_version(store):
    store.create("a", "d")
    store.write("a", "d", "r1", {"x": 1})
    store.write("a", "d", "r1", {"x": 2})
    rec = next(store.iterate("a", "d"))
    assert rec["version"] == 2
    assert store.read("a", "d", "r1") == {"x": 2}


def test_merge_null_deletes(store):
    store.create("a", "d")
    store.write_entries("a", "d", [("r1", {"x": 1}), ("r2", {"x": 2})])
    store.write_entries("a", "d", [("r1", None), ("r3", {"x": 3})])
    assert store.list_record_ids("a", "d") == ["r2", "r3"]
    with pytest.raises(KeyError):
        store.read("a", "d", "r1")


def test_overwrite_drops_unmentioned(store):
    store.create("a", "d")
    store.write_entries("a", "d", [("r1", {"x": 1}), ("r2", {"x": 2}), ("r3", {"x": 3})])
    store.write_entries("a", "d", [("r2", {"x": 2}), ("r4", {"x": 4})], overwrite=True)
    assert store.list_record_ids("a", "d") == ["r2", "r4"]
    recs = {r["id"]: r for r in store.iterate("a", "d")}
    # r2 unchanged → keeps version 1; r4 new → version 2
    assert recs["r2"]["version"] == 1
    assert recs["r4"]["version"] == 2


def test_overwrite_identical_is_noop(store):
    store.create("a", "d")
    store.write_entries("a", "d", [("r1", {"x": 1})])
    m = store.write_entries("a", "d", [("r1", {"x": 1})], overwrite=True)
    assert m.version == 1


def test_natural_sort_listing(store):
    store.create("a", "d")
    store.write_entries("a", "d", [(rid, {"v": rid}) for rid in
                                   ["item10", "item2", "item1", "a9b", "a10b"]])
    assert store.list_record_ids("a", "d") == ["a9b", "a10b", "item1", "item2", "item10"]


def test_delete_record_and_collection(store):
    store.create("a", "d")
    store.write("a", "d", "r1", {"x": 1})
    store.delete_record("a", "d", "r1")
    assert store.list_record_ids("a", "d") == []
    with pytest.raises(KeyError):
        store.delete_record("a", "d", "never-existed")
    store.delete_collection("a", "d")
    assert not store.exists("a", "d")


def test_duplicate_id_in_batch_rejected(store):
    store.create("a", "d")
    with pytest.raises(StoreError):
        store.write_entries("a", "d", [("r1", {"x": 1}), ("r1", {"x": 2})])


def test_record_validation(store):
    store.create("a", "d")
    with pytest.raises(StoreError):
        store.write("a", "d", "", {"x": 1})
    with pytest.raises(StoreError):
        store.write("a", "d", "r" * 10_001, {"x": 1})


def test_max_record_size_rejected(store):
    # ref package.json defaults.maxRecordSize (20MB), multipart-files.js:41
    store.create("a", "d")
    with pytest.raises(StoreError, match="maxRecordSize"):
        store.write("a", "d", "big", {"blob": "x" * (20 * 1024 * 1024 + 1)})
    # under the cap passes
    store.write("a", "d", "ok", {"blob": "x" * 1024})
    assert store.exists("a", "d", "ok")


def test_max_record_size_rejected_distributed(store, spark, monkeypatch):
    import pigeon_optics_spark.store as store_mod

    monkeypatch.setattr(store_mod, "MAX_RECORD_SIZE", 100)
    store.create("a", "ddist")
    df = spark.createDataFrame(
        [("small", '{"x": 1}'), ("big", '{"blob": "' + "y" * 200 + '"}')],
        "record_id string, value string")
    with pytest.raises(Exception, match="maxRecordSize"):
        store.write_entries_df(spark, "a", "ddist", df)
    # nothing committed — the job aborted before the segment landed
    assert store.get_meta("a", "ddist").version == 0


def test_attachment_checker_rejects_dangling(store, tmp_path):
    present = "hash://sha256/" + "a" * 64
    missing = "hash://sha256/" + "b" * 64
    store2 = DatasetStore(str(tmp_path / "s2"), attachment_checker=lambda u: u == present)
    store2.create("a", "d")
    store2.write("a", "d", "ok", {"img": present})
    with pytest.raises(StoreError, match="attachments missing"):
        store2.write("a", "d", "bad", {"img": missing})


def test_extended_types_roundtrip_through_store(store):
    from pigeon_optics_spark.values import PMap, PSet

    store.create("a", "d")
    v = {"s": PSet([1, 2]), "m": PMap([(1, "one")]), "b": b"\x00\x01"}
    store.write("a", "d", "r1", v)
    got = store.read("a", "d", "r1")
    assert got["s"] == PSet([2, 1])
    assert got["m"] == PMap([(1, "one")])
    assert got["b"] == b"\x00\x01"


def test_compaction_preserves_state(store):
    store.create("a", "d")
    for i in range(5):
        store.write("a", "d", f"r{i}", {"i": i})
    store.write_entries("a", "d", [("r0", None)])
    before = list(store.iterate("a", "d", fast_read=True))
    store.compact("a", "d")
    after = list(store.iterate("a", "d", fast_read=True))
    assert before == after
    # post-compaction writes still work
    store.write("a", "d", "r9", {"i": 9})
    assert "r9" in store.list_record_ids("a", "d")


def test_change_events_written(store, tmp_path):
    import json
    import os

    store.create("a", "d")
    store.write("a", "d", "r1", {"x": 1})
    changes_dir = os.path.join(store.root, "changes")
    files = sorted(os.listdir(changes_dir))
    assert len(files) >= 1
    evt = json.load(open(os.path.join(changes_dir, files[-1])))
    assert evt["path"] == "/datasets/a:d"
    assert evt["version"] == 1


def test_point_read_is_filtered_not_full_scan(store):
    """read() resolves via per-segment filtered reads (latest-wins across
    segments, tombstone-aware) without a collection load."""
    store.create("a", "pr")
    store.write_entries("a", "pr", [(f"r{i}", {"v": i}) for i in range(20)])
    store.write_entries("a", "pr", [("r3", {"v": 333}), ("r4", None)])
    assert store.read("a", "pr", "r3") == {"v": 333}
    assert store.read("a", "pr", "r5") == {"v": 5}
    import pytest as _pytest
    with _pytest.raises(KeyError):
        store.read("a", "pr", "r4")  # tombstoned in the newest segment
    with _pytest.raises(KeyError):
        store.read("a", "pr", "nope")


def test_iterate_chunked_fast_read(store):
    """fast_read fetches values in natural-order chunks; results must be
    identical across chunk sizes and reflect cross-segment updates."""
    store.create("a", "ch")
    store.write_entries("a", "ch", [(f"r{i}", {"v": i}) for i in range(25)])
    store.write_entries("a", "ch", [("r7", {"v": 700}), ("r12", None)])
    whole = list(store.iterate("a", "ch", fast_read=True,
                               value_chunk_size=1000))
    tiny = list(store.iterate("a", "ch", fast_read=True, value_chunk_size=4))
    assert whole == tiny
    ids = [r["id"] for r in whole]
    assert "r12" not in ids
    by_id = {r["id"]: r["value"] for r in whole}
    assert by_id["r7"] == {"v": 700}
    assert by_id["r24"] == {"v": 24}


def test_time_travel_read(spark, tmp_path):
    """as_of_seq reconstructs every historical state: post-ingest,
    post-update, post-delete; an overwrite keeps earlier history
    readable; compaction raises for points behind the horizon."""
    import pytest

    from pigeon_optics_spark.store import DatasetStore, StoreError

    store = DatasetStore(str(tmp_path / "tt"))
    store.create("a", "d")
    store.write_entries("a", "d", [("r1", {"v": 1}), ("r2", {"v": 2})])  # seq1
    store.write_entries("a", "d", [("r1", {"v": 10})])                  # seq2
    store.write_entries("a", "d", [("r2", None)])                       # seq3

    def state(s):
        import json
        return {r["record_id"]: json.loads(r["value"])
                for r in store.read_df(spark, "a", "d",
                                        as_of_seq=s).collect()}

    assert state(1) == {"r1": {"v": 1}, "r2": {"v": 2}}
    assert state(2) == {"r1": {"v": 10}, "r2": {"v": 2}}
    assert state(3) == {"r1": {"v": 10}}
    assert state(99) == {"r1": {"v": 10}}          # future seq = current
    assert state(0) == {}                          # before first write

    # overwrite truncates logically but keeps history readable
    store.write_entries("a", "d", [("r9", {"v": 9})], overwrite=True)  # seq4
    assert state(4) == {"r9": {"v": 9}}
    assert state(2) == {"r1": {"v": 10}, "r2": {"v": 2}}

    # compaction is the VACUUM horizon — but it only removes segments
    # back to the PREVIOUS base (the overwrite), so pre-overwrite
    # history stays readable while the vacuumed mid-range raises
    store.write_entries("a", "d", [("r8", {"v": 8})])                  # seq5
    store.compact("a", "d")                                           # seq6
    assert state(6) == {"r8": {"v": 8}, "r9": {"v": 9}}
    assert state(3) == {"r1": {"v": 10}}   # pre-overwrite files survive
    for gone in (4, 5):                    # overwrite..pre-compaction gone
        with pytest.raises(StoreError, match="compacted"):
            state(gone)


def test_stray_files_in_segment_dir_are_ignored(spark, tmp_path):
    """The listing-based segment resolution must tolerate foreign files —
    a stray 'data.parquet' (no seq in the name) previously crashed every
    read of the collection with an int-parse error."""
    import os

    from pigeon_optics_spark.store import DatasetStore

    st = DatasetStore(str(tmp_path))
    st.create("t", "s")
    st.write_entries("t", "s", [(f"r{i}", {"n": i}) for i in range(5)])
    d = os.path.join(st.root, "datasets", "t", "s")
    # find the actual collection dir (layout-independent): the one
    # holding seg_ files
    seg_dirs = [root for root, _dirs, files in os.walk(st.root)
                if any(f.startswith("seg_") for f in files)]
    assert seg_dirs
    for sd in seg_dirs:
        open(os.path.join(sd, "data.parquet"), "wb").write(b"junk")
        open(os.path.join(sd, "notes.txt"), "w").write("x")
    st2 = DatasetStore(st.root)  # fresh instance, fresh listing
    rows = st2.read_df(spark, "t", "s").collect()
    assert len(rows) == 5
    assert sorted(r["record_id"] for r in rows) == [f"r{i}" for i in range(5)]
    # delta + time-travel listings tolerate the strays too
    assert st2.read_delta_df(spark, "t", "s", 0).count() == 5
    assert st2.read_df(spark, "t", "s", as_of_seq=1).count() == 5
    del d


def test_compact_sweeps_stale_stage_dirs(tmp_path):
    """r8 hardening: _stage_* directories orphaned by a crashed
    distributed write are swept by compaction (age-bounded so a
    concurrent writer's fresh stage survives)."""
    import os

    from pigeon_optics_spark.store import DatasetStore

    store = DatasetStore(str(tmp_path / "ds"))
    store.create("a", "c")
    store.write_entries("a", "c", [("r1", {"v": 1}), ("r2", {"v": 2})])
    store.write_entries("a", "c", [("r1", {"v": 9})])
    coll = store._dir(store._meta("datasets", "a", "c"))
    stale = os.path.join(coll, "_stage_deadbeef")
    fresh = os.path.join(coll, "_stage_live")
    for d in (stale, fresh):
        os.makedirs(d)
        with open(os.path.join(d, "part-0.parquet"), "wb") as f:
            f.write(b"junk")
    os.utime(stale, (1.0, 1.0))
    store.compact("a", "c")
    left = {e for e in os.listdir(coll) if e.startswith("_stage_")}
    assert left == {"_stage_live"}
    got = {r["id"]: r["value"] for r in store.iterate("a", "c",
                                                      fast_read=True)}
    assert got == {"r1": {"v": 9}, "r2": {"v": 2}}
