"""Zone-map pruned point reads (``DatasetStore._read_latest``): every
answer equals an unpruned latest-wins scan of the whole log, whatever the
segments' shapes, statistics and ids; and a point read opens only the
segment files whose ``record_id`` range can hold the id."""

import functools
import json
import os
import random

import pyarrow.parquet as pq
import pytest

from pigeon_optics_spark import store as store_mod
from pigeon_optics_spark.store import DatasetStore
from pigeon_optics_spark.values import value_to_tagged

#: ids whose UTF-8 bytes, code points and lengths stress the min/max
#: comparison: non-ASCII ("é" > "z"), a 4-byte code point, and ids past
#: pyarrow's 4 KB statistics limit (a segment whose max is one of these
#: keeps only its min)
ODD_IDS = ["é", "日本", "zÿ", "\U0001d11ex", "m" * 5000, "z" * 4100, "Z"]


def _reference(store, meta, ids):
    """Unpruned latest-wins resolution: every row of every segment."""
    rows = {}
    for path in store._segments(meta):
        for row in pq.read_table(path).to_pylist():
            if row["record_id"] not in ids:
                continue
            if row["deleted"]:
                rows.pop(row["record_id"], None)
            else:
                rows[row["record_id"]] = {
                    k: row[k] for k in ("value", "hash", "version")}
    return rows


def _near(rid):
    """Absent ids just outside ``rid``: one code point below / above its
    last character, and ``rid`` extended (the next ids up in byte order)."""
    out = [rid + "\x00", rid + "0"]
    for c in (ord(rid[-1]) - 1, ord(rid[-1]) + 1):
        if 0 < c <= 0x10FFFF and not 0xD800 <= c <= 0xDFFF:
            out.append(rid[:-1] + chr(c))
    return out


def _assert_parity(store, author, name, ids):
    meta = store.get_meta(author, name)
    probe = set(ids)
    for rid in ids:
        probe.update(_near(rid))
    got = store._read_latest(meta, probe, ["value", "hash", "version"])
    want = _reference(store, meta, probe)
    assert {r: {k: row[k] for k in ("value", "hash", "version")}
            for r, row in got.items()} == want
    for rid in sorted(probe)[:12]:
        assert store.exists(author, name, rid) == (rid in want)
        if rid in want:
            assert (json.dumps(value_to_tagged(store.read(author, name, rid)))
                    == want[rid]["value"])


@pytest.mark.parametrize("row_group_size", [None, 3])
@pytest.mark.parametrize("seed", [0, 1, 2])
def test_pruned_read_matches_unpruned_scan(tmp_path, monkeypatch, seed,
                                           row_group_size):
    """Random point writes, tombstones, batch writes, overwrites and
    compactions, on segments of one row group or of many small ones."""
    if row_group_size is not None:
        monkeypatch.setattr(pq, "write_table", functools.partial(
            pq.write_table, row_group_size=row_group_size))
    rng = random.Random(seed)
    store = DatasetStore(str(tmp_path / "s"))
    store.create("a", "d")
    pool = [f"r{i}" for i in range(40)] + ODD_IDS
    store.write_entries("a", "d", [(r, {"v": r[:8]}) for r in pool[::2]])
    used = set(pool)
    for step in range(60):
        op = rng.random()
        if op < 0.45:
            store.write("a", "d", rng.choice(pool), {"v": step})
        elif op < 0.65:
            live = store.list_record_ids("a", "d")
            if live:
                store.delete_record("a", "d", rng.choice(live))
        elif op < 0.85:
            batch = rng.sample(pool, 6)
            store.write_entries("a", "d", [
                (r, None if rng.random() < 0.3 else {"v": step})
                for r in batch])
        elif op < 0.93:
            keep = rng.sample(pool, 10)
            store.write_entries("a", "d", [(r, {"v": -step}) for r in keep],
                                overwrite=True)
        else:
            store.compact("a", "d")
        if step % 6 == 5:
            _assert_parity(store, "a", "d", used)
    _assert_parity(store, "a", "d", used)


def test_part_directory_segments_match_unpruned_scan(spark, tmp_path):
    """Spark-written segments (a directory of part files) and the Spark
    compaction's base are pruned per part file."""
    store = DatasetStore(str(tmp_path / "s"))
    store.create("a", "d")
    ids = [f"k{i:03d}" for i in range(60)] + ODD_IDS
    store.write_entries("a", "d", [(r, {"v": 0}) for r in ids[:30]])
    batch = spark.createDataFrame(
        [(r, json.dumps(value_to_tagged({"v": 1}))) for r in ids[20:]]
        + [(r, None) for r in ids[:5]],
        "record_id string, value string").repartition(4)
    store.write_entries_df(spark, "a", "d", batch)
    segs = store._segments(store.get_meta("a", "d"))
    assert os.path.isdir(segs[-1]) and len(store_mod._segment_files(segs[-1])) > 1
    store.write("a", "d", "k007", {"v": 2})
    _assert_parity(store, "a", "d", ids)
    store.compact_df(spark, "a", "d")
    _assert_parity(store, "a", "d", ids)


def test_segments_without_statistics_are_read(tmp_path, monkeypatch):
    monkeypatch.setattr(pq, "write_table", functools.partial(
        pq.write_table, write_statistics=False))
    store = DatasetStore(str(tmp_path / "s"))
    store.create("a", "d")
    store.write_entries("a", "d", [(f"r{i}", {"v": i}) for i in range(10)])
    store.write("a", "d", "r3", {"v": 33})
    store.delete_record("a", "d", "r4")
    seg = store._segments(store.get_meta("a", "d"))[0]
    assert pq.ParquetFile(seg).metadata.row_group(0).column(0).statistics is None
    assert store.read("a", "d", "r3") == {"v": 33}
    assert store.read("a", "d", "r9") == {"v": 9}
    assert not store.exists("a", "d", "r4")
    _assert_parity(store, "a", "d", [f"r{i}" for i in range(10)])


def test_recreated_collection_reads_new_rows(tmp_path):
    """``delete_collection`` drops the collection's cached footers; a
    recreated collection reuses ``seg_00000001``'s path with new rows."""
    store = DatasetStore(str(tmp_path / "s"))
    store.create("a", "d")
    store.write_entries("a", "d", [("r1", "old"), ("r2", "old")])
    assert store.read("a", "d", "r1") == "old"
    d = store._dir(store.get_meta("a", "d"))
    store.delete_collection("a", "d")
    assert not [k for k in store._footers._entries
                if k[0].startswith(os.path.join(d, ""))]
    store.create("a", "d")
    store.write_entries("a", "d", [("r1", "new"), ("r3", "new")])
    assert store.read("a", "d", "r1") == "new"
    assert not store.exists("a", "d", "r2")
    assert store.read("a", "d", "r3") == "new"


def test_point_read_opens_only_segments_holding_the_id(tmp_path,
                                                       monkeypatch):
    """1 base + 100 one-row delta segments: a warm point read opens the
    base and at most the one delta that holds the id."""
    store = DatasetStore(str(tmp_path / "s"))
    store.create("a", "d")
    store.write_entries("a", "d", [(f"r{i:04d}", i) for i in range(2000)])
    for i in range(100):
        store.write("a", "d", f"r{i * 7:04d}", -i - 1)
    assert len(store._segments(store.get_meta("a", "d"))) == 101
    store.read("a", "d", "r0000")  # footers of the log are cached now
    opened = []
    real = store_mod._open_parquet

    def counting(f, metadata=None):
        opened.append(f)
        return real(f, metadata)

    monkeypatch.setattr(store_mod, "_open_parquet", counting)
    assert store.read("a", "d", "r0693") == -100
    assert len(opened) == 2
    opened.clear()
    assert store.read("a", "d", "r1500") == 1500
    assert len(opened) == 1
    opened.clear()
    store.write("a", "d", "r1501", 0)  # the hash lookup is pruned too
    assert len(opened) == 2  # the base, then the new segment's footer
    opened.clear()
    assert not store.exists("a", "d", "s0")  # above every range
    assert opened == []
