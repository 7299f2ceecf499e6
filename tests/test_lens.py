"""M2 lens engine tests: golden inverted-index build (FIXTURES F1,
ref test/test-models-lens.js:13-73), harness behavior
(ref test/test-workers-javascript-lens.js), incrementality."""

import pytest

from pigeon_optics_spark.lens import (
    LensCodeError,
    LensHarness,
    PathInfo,
    build_lens,
    create_lens,
    lens_logs,
)
from pigeon_optics_spark.store import DatasetStore
from pigeon_optics_spark.values import PSet

INVERT_CODE = """\
for tag in data['tags']:
    output(tag, Set([path.recordID]))
"""


@pytest.fixture
def store(tmp_path):
    return DatasetStore(str(tmp_path / "store"))


def _path(rid="abc"):
    return PathInfo(string=f"/datasets/system:test-dataset/records/{rid}",
                    source="datasets", author="system", name="test-dataset",
                    recordID=rid)


class TestHarness:
    def test_flatmap_multiple_outputs(self):
        h = LensHarness("for t in data['tags']:\n    output(t, 1)")
        outputs, logs, errors = h.run(_path(), {"tags": ["a", "b", "a"]})
        assert [(o[1], o[2]) for o in outputs] == [("a", 1), ("b", 1), ("a", 1)]
        assert errors == []

    def test_log_capture(self):
        h = LensHarness("log('saw', path.recordID)\noutput('k', 1)")
        outputs, logs, errors = h.run(_path("r9"), {})
        assert logs == ["saw r9"]
        assert len(outputs) == 1

    def test_error_capture_keeps_prior_outputs(self):
        h = LensHarness("output('k', 1)\nraise ValueError('boom')")
        outputs, logs, errors = h.run(_path(), {})
        assert len(outputs) == 1
        assert errors[0]["type"] == "ValueError"
        assert errors[0]["message"] == "boom"
        assert errors[0]["line"] == 2  # user-code line numbers (ref :27-49)

    def test_syntax_error_at_startup(self):
        with pytest.raises(LensCodeError):
            LensHarness("def broken(:")

    def test_sandbox_no_import_no_open(self):
        h = LensHarness("import os")
        _, _, errors = h.run(_path(), {})
        assert errors and errors[0]["type"] == "ImportError"
        h2 = LensHarness("open('/etc/passwd')")
        _, _, errors2 = h2.run(_path(), {})
        assert errors2 and errors2[0]["type"] == "NameError"

    def test_nondeterminism_sources_absent(self):
        # reference: Math.random throws in the isolate; here random/time are
        # simply not importable / not in scope
        for code in ["random.random()", "time.time()"]:
            _, _, errors = LensHarness(code).run(_path(), {})
            assert errors and errors[0]["type"] == "NameError"

    def test_output_validation(self):
        _, _, errors = LensHarness("output(5, 'x')").run(_path(), {})
        assert errors and errors[0]["type"] == "TypeError"

    def test_timeout_flagged(self):
        h = LensHarness("x = sum(range(2000000))", timeout_ms=0.0001)
        _, _, errors = h.run(_path(), {})
        assert errors and errors[0]["type"] == "TimeoutError"

    def test_timeout_interrupts_infinite_loop(self):
        # preemptive kill (ref javascript-lens-worker.js:132-135): an
        # accidental `while True` must terminate near the limit, not hang
        import time as _time

        h = LensHarness("while True: pass", timeout_ms=50.0)
        t0 = _time.perf_counter()
        outputs, _, errors = h.run(_path(), {})
        elapsed = _time.perf_counter() - t0
        assert elapsed < 5.0  # orders of magnitude under "forever"
        assert errors and errors[0]["type"] == "TimeoutError"
        assert outputs == []  # partial emissions discarded

    def test_timeout_not_swallowed_by_user_except(self):
        # a lens's `except Exception` must not eat the interrupt
        code = ("try:\n"
                "    while True: pass\n"
                "except Exception:\n"
                "    output('caught', 1)\n")
        h = LensHarness(code, timeout_ms=50.0)
        outputs, _, errors = h.run(_path(), {})
        assert errors and errors[0]["type"] == "TimeoutError"
        assert outputs == []

    def test_timeout_discards_partial_outputs(self):
        # how far a lens got before the alarm is machine-speed-dependent —
        # a timed-out record must contribute nothing but the error
        code = "output('early', 1)\nwhile True: pass"
        h = LensHarness(code, timeout_ms=50.0)
        outputs, _, errors = h.run(_path(), {})
        assert outputs == []
        assert errors and errors[0]["type"] == "TimeoutError"

    def test_hash_builtin_absent(self):
        # hash() is salted per process (PYTHONHASHSEED) — exactly the
        # nondeterminism class the reference bans (Math.random throws)
        _, _, errors = LensHarness("output('k', hash('x'))").run(_path(), {})
        assert errors and errors[0]["type"] == "NameError"


class TestGoldenBuild:
    def test_inverted_index(self, spark, store):
        # ref test/test-models-lens.js golden: 3-record tags dataset
        store.create("system", "test-dataset")
        store.write_entries("system", "test-dataset", [
            ("abc", {"tags": ["cat", "dog"]}),
            ("def", {"tags": ["dog", "mango"]}),
            ("ghi", {"tags": ["dog", "cat"]}),
        ])
        create_lens(store, "system", "tag-index",
                    inputs=["/datasets/system:test-dataset"], code=INVERT_CODE)
        stats = build_lens(spark, store, "system", "tag-index")
        assert stats["mapped"] == 3

        got = {r["id"]: r["value"] for r in
               store.iterate("system", "tag-index", source="lenses", fast_read=True)}
        assert got == {
            "cat": PSet(["abc", "ghi"]),
            "dog": PSet(["abc", "def", "ghi"]),
            "mango": PSet(["def"]),
        }

    def test_incremental_rebuild_maps_only_fresh(self, spark, store):
        store.create("system", "test-dataset")
        store.write_entries("system", "test-dataset", [
            ("abc", {"tags": ["cat", "dog"]}),
            ("def", {"tags": ["dog", "mango"]}),
            ("ghi", {"tags": ["dog", "cat"]}),
        ])
        create_lens(store, "system", "tag-index",
                    inputs=["/datasets/system:test-dataset"], code=INVERT_CODE)
        build_lens(spark, store, "system", "tag-index")

        # identical rewrite → hash-suppressed → nothing fresh
        store.write("system", "test-dataset", "abc", {"tags": ["cat", "dog"]})
        stats = build_lens(spark, store, "system", "tag-index")
        assert stats["mapped"] == 0

        # content change → exactly one fresh record remapped
        store.write("system", "test-dataset", "abc", {"tags": ["cat"]})
        stats = build_lens(spark, store, "system", "tag-index")
        assert stats["mapped"] == 1
        got = {r["id"]: r["value"] for r in
               store.iterate("system", "tag-index", source="lenses", fast_read=True)}
        assert got["dog"] == PSet(["def", "ghi"])
        assert got["cat"] == PSet(["abc", "ghi"])

    def test_deleted_input_prunes_outputs(self, spark, store):
        store.create("system", "test-dataset")
        store.write_entries("system", "test-dataset", [
            ("abc", {"tags": ["cat"]}),
            ("def", {"tags": ["mango"]}),
        ])
        create_lens(store, "system", "tag-index",
                    inputs=["/datasets/system:test-dataset"], code=INVERT_CODE)
        build_lens(spark, store, "system", "tag-index")
        store.delete_record("system", "test-dataset", "def")
        build_lens(spark, store, "system", "tag-index")
        got = store.list_record_ids("system", "tag-index", source="lenses")
        assert got == ["cat"]  # mango's only contributor is gone

    def test_unchanged_outputs_keep_version(self, spark, store):
        store.create("system", "test-dataset")
        store.write_entries("system", "test-dataset", [
            ("abc", {"tags": ["cat", "dog"]}),
            ("def", {"tags": ["dog"]}),
        ])
        create_lens(store, "system", "tag-index",
                    inputs=["/datasets/system:test-dataset"], code=INVERT_CODE)
        build_lens(spark, store, "system", "tag-index")
        v_dog_1 = {r["id"]: r["version"] for r in
                   store.iterate("system", "tag-index", source="lenses")}["dog"]
        # change only 'cat' membership; dog's fold result is unchanged
        store.write("system", "test-dataset", "abc", {"tags": ["cat", "dog", "x"]})
        build_lens(spark, store, "system", "tag-index")
        versions = {r["id"]: r["version"] for r in
                    store.iterate("system", "tag-index", source="lenses")}
        assert versions["dog"] == v_dog_1  # suppressed → stable version

    def test_numbers_add_sum_idiom(self, spark, store):
        store.create("a", "nums")
        store.write_entries("a", "nums", [
            ("r1", {"k": "x", "n": 5}),
            ("r2", {"k": "x", "n": 7}),
            ("r3", {"k": "y", "n": 1}),
        ])
        create_lens(store, "a", "sums", inputs=["/datasets/a:nums"],
                    code="output(data['k'], data['n'])")
        build_lens(spark, store, "a", "sums")
        got = {r["id"]: r["value"] for r in
               store.iterate("a", "sums", source="lenses", fast_read=True)}
        assert got == {"x": 12, "y": 1}

    def test_multi_input_union(self, spark, store):
        store.create("a", "d1")
        store.create("a", "d2")
        store.write("a", "d1", "r1", {"tags": ["cat"]})
        store.write("a", "d2", "r1", {"tags": ["cat", "dog"]})
        create_lens(store, "a", "idx",
                    inputs=["/datasets/a:d1", "/datasets/a:d2"], code=INVERT_CODE)
        build_lens(spark, store, "a", "idx")
        got = {r["id"]: r["value"] for r in
               store.iterate("a", "idx", source="lenses", fast_read=True)}
        # same recordID from two datasets → set-union merges to one entry
        assert got["cat"] == PSet(["r1"])
        assert got["dog"] == PSet(["r1"])

    def test_record_selector_input(self, spark, store):
        store.create("a", "d1")
        store.write_entries("a", "d1", [("r1", {"tags": ["a"]}), ("r2", {"tags": ["b"]})])
        create_lens(store, "a", "idx",
                    inputs=["/datasets/a:d1/records/r1"], code=INVERT_CODE)
        build_lens(spark, store, "a", "idx")
        assert store.list_record_ids("a", "idx", source="lenses") == ["a"]

    def test_logs_and_errors_browsable(self, spark, store):
        store.create("a", "d1")
        store.write_entries("a", "d1", [("good", {"tags": ["t"]}), ("bad", {})])
        code = "log('mapping', path.recordID)\nfor t in data['tags']:\n    output(t, 1)"
        create_lens(store, "a", "idx", inputs=["/datasets/a:d1"], code=code)
        build_lens(spark, store, "a", "idx")
        rows = {r["input_path"]: r for r in lens_logs(spark, store, "a", "idx").collect()}
        bad = rows["/datasets/a:d1/records/bad"]
        assert bad["errors"][0]["type"] == "KeyError"
        assert bad["logs"] == ["mapping bad"]
        good = rows["/datasets/a:d1/records/good"]
        assert good["errors"] == [] or good["errors"] is None

    def test_emissions_log_many_builds_and_compaction(self, spark, store):
        # 10 incremental builds push the emissions log past the compaction
        # threshold; every intermediate state must stay correct (validity is
        # latest-wins per (out_id, path) — retired generations never
        # resurface)
        import os

        from pigeon_optics_spark.lens import _emit_dir, _emit_segments

        store.create("system", "d")
        store.write_entries("system", "d", [("r0", {"tags": ["t0"]})])
        create_lens(store, "system", "idx",
                    inputs=["/datasets/system:d"], code=INVERT_CODE)
        build_lens(spark, store, "system", "idx")
        for i in range(1, 10):
            # alternate: new record / re-map an old one to a different tag
            if i % 2:
                store.write("system", "d", f"r{i}", {"tags": [f"t{i}"]})
            else:
                store.write("system", "d", f"r{i-1}", {"tags": [f"t{i}"]})
            build_lens(spark, store, "system", "idx")
        got = {r["id"]: r["value"] for r in
               store.iterate("system", "idx", source="lenses", fast_read=True)}
        # r0..r9 each carry exactly their latest tag; re-mapped generations gone
        expect = {}
        tags = {}
        tags["r0"] = "t0"
        for i in range(1, 10):
            if i % 2:
                tags[f"r{i}"] = f"t{i}"
            else:
                tags[f"r{i-1}"] = f"t{i}"
        for rid, t in tags.items():
            expect.setdefault(t, set()).add(rid)
        assert got == {t: PSet(rids) for t, rids in expect.items()}
        # compaction folded the log (threshold 8)
        assert len(_emit_segments(store, "system", "idx")) <= 9
        assert os.path.isdir(_emit_dir(store, "system", "idx"))

    def test_remap_shared_out_id_after_cache_compaction(self, spark, store):
        # ADVICE r2 (high): cache compaction re-stamps every cache row with
        # ONE new seq, so seq-keyed emission validity invalidated the whole
        # emissions log after 9+ builds — incremental rebuilds then silently
        # dropped retained contributions of untouched records, and
        # _compact_emissions wrote an empty base (log destroyed).  Validity
        # is the emission log's own latest-wins rule now; it never reads
        # the cache.
        from pigeon_optics_spark.lens import _cache_name, _emit_segments

        store.create("system", "d")
        store.write_entries("system", "d", [
            ("keep", {"tags": ["shared"]}),
            ("move", {"tags": ["shared"]}),
        ])
        create_lens(store, "system", "idx",
                    inputs=["/datasets/system:d"], code=INVERT_CODE)
        build_lens(spark, store, "system", "idx")
        # one cache segment per build: 9 more builds cross the >8 compaction
        # threshold for BOTH the cache log and the emissions log
        for i in range(9):
            store.write("system", "d", f"filler{i}", {"tags": [f"f{i}"]})
            build_lens(spark, store, "system", "idx")
        cache_meta = store.get_meta("system", _cache_name("idx"), source="meta")
        assert cache_meta.base_seq > 0, "cache compaction must have happened"
        # the compacted emissions log must NOT be empty (the old bug wrote an
        # empty base, destroying every retained emission)
        emit_segs = _emit_segments(store, "system", "idx")
        emit_rows = spark.read.parquet(*emit_segs).count()
        assert emit_rows >= 11  # keep+move+9 fillers, ≥1 emission each

        # post-compaction incremental: re-map 'move' away from the shared
        # out_id; the untouched 'keep' contribution must be retained
        store.write("system", "d", "move", {"tags": ["elsewhere"]})
        build_lens(spark, store, "system", "idx")
        got = {r["id"]: r["value"] for r in
               store.iterate("system", "idx", source="lenses", fast_read=True)}
        assert got["shared"] == PSet(["keep"])
        assert got["elsewhere"] == PSet(["move"])

        # stale out_ids of post-compaction re-maps must still be pruned
        store.write("system", "d", "keep", {"tags": ["other"]})
        build_lens(spark, store, "system", "idx")
        ids = store.list_record_ids("system", "idx", source="lenses")
        assert "shared" not in ids
        assert "other" in ids and "elsewhere" in ids

    def test_affected_gather_semi_join_fallback(self, spark, store,
                                                monkeypatch):
        # r2 item 8 / r3 item 8: the >AFFECTED_COLLECT_MAX incremental path
        # gathers emissions via left-semi join instead of a driver-side IN
        # list; force it by dropping the threshold to 1 and re-mapping
        # records that touch 3 out_ids — results must match the collect path
        import pigeon_optics_spark.lens as lens_mod

        store.create("system", "d")
        store.write_entries("system", "d", [
            ("r1", {"tags": ["a", "b"]}),
            ("r2", {"tags": ["b", "c"]}),
            ("r3", {"tags": ["c"]}),
        ])
        create_lens(store, "system", "idx",
                    inputs=["/datasets/system:d"], code=INVERT_CODE)
        build_lens(spark, store, "system", "idx")

        monkeypatch.setattr(lens_mod, "AFFECTED_COLLECT_MAX", 1)
        # re-map r1 a->d and add r4: affected out_ids {a, b, d, e} > 1
        store.write("system", "d", "r1", {"tags": ["d", "b"]})
        store.write("system", "d", "r4", {"tags": ["e", "a"]})
        build_lens(spark, store, "system", "idx")
        got = {r["id"]: r["value"] for r in
               store.iterate("system", "idx", source="lenses", fast_read=True)}
        assert got == {"a": PSet(["r4"]), "b": PSet(["r1", "r2"]),
                       "c": PSet(["r2", "r3"]), "d": PSet(["r1"]),
                       "e": PSet(["r4"])}

    def test_build_deterministic_across_stores(self, spark, tmp_path):
        # the same lens over the same data must produce a bit-identical
        # output archive in independent store instances (determinism is the
        # contract the compute cache and the DAG depend on; ref bans
        # Math.random for the same reason)
        results = []
        for i in range(2):
            st = DatasetStore(str(tmp_path / f"det{i}"))
            st.create("a", "src")
            st.write_entries("a", "src", [
                (f"r{j}", {"tags": [f"t{j % 3}", "common"]}) for j in range(20)
            ])
            create_lens(st, "a", "idx", inputs=["/datasets/a:src"],
                        code=INVERT_CODE)
            build_lens(spark, st, "a", "idx")
            results.append([
                (r["id"], r["version"], r["hash"], sorted(r["value"].members))
                for r in st.iterate("a", "idx", source="lenses", fast_read=True)
            ])
        assert results[0] == results[1]

    def test_recreated_lens_drops_stale_emissions(self, spark, store):
        store.create("system", "d2")
        store.write_entries("system", "d2", [("a", {"tags": ["old"]})])
        create_lens(store, "system", "idx2",
                    inputs=["/datasets/system:d2"], code=INVERT_CODE)
        build_lens(spark, store, "system", "idx2")
        store.delete_collection("system", "idx2", source="lenses")
        store.delete_collection("system", "lens-cache.idx2", source="meta")
        store.write("system", "d2", "a", {"tags": ["new"]})
        create_lens(store, "system", "idx2",
                    inputs=["/datasets/system:d2"], code=INVERT_CODE)
        build_lens(spark, store, "system", "idx2")
        got = {r["id"]: r["value"] for r in
               store.iterate("system", "idx2", source="lenses", fast_read=True)}
        assert got == {"new": PSet(["a"])}

    def test_distributed_timeout_terminates(self, spark, store):
        # the preemptive kill must hold inside mapInPandas workers too: an
        # infinite-loop lens over real records finishes the build with
        # TimeoutError records instead of hanging the executor (ref isolate
        # kill, javascript-lens-worker.js:132-135)
        store.create("a", "dloop")
        store.write_entries("a", "dloop", [(f"r{i}", {"n": i}) for i in range(3)])
        create_lens(store, "a", "looper", inputs=["/datasets/a:dloop"],
                    code="while True: pass", timeout_ms=50.0)
        build_lens(spark, store, "a", "looper")
        rows = lens_logs(spark, store, "a", "looper").collect()
        assert len(rows) == 3
        for r in rows:
            assert r["errors"][0]["type"] == "TimeoutError"
        # no outputs survive a timeout
        assert store.read_df(spark, "a", "looper", source="lenses").count() == 0

    def test_lens_chain_dag(self, spark, store):
        # lens reading a lens (composition, ref: lens outputs are datasets)
        store.create("a", "d1")
        store.write_entries("a", "d1", [
            ("r1", {"tags": ["cat", "dog"]}), ("r2", {"tags": ["cat"]})])
        create_lens(store, "a", "idx", inputs=["/datasets/a:d1"], code=INVERT_CODE)
        build_lens(spark, store, "a", "idx")
        # second lens: count members of each tag set
        create_lens(store, "a", "tag-counts", inputs=["/lenses/a:idx"],
                    code="output('total_tags', 1)\noutput(path.recordID, len(data))")
        build_lens(spark, store, "a", "tag-counts")
        got = {r["id"]: r["value"] for r in
               store.iterate("a", "tag-counts", source="lenses", fast_read=True)}
        assert got == {"total_tags": 2, "cat": 2, "dog": 1}


def test_map_records_serialization(spark):
    """The map loop assembles its JSON columns (outputs list, logs,
    errors) from literal fragments + a prebuilt encoder instead
    of per-call ``json.dumps(..., ensure_ascii=False)`` — r11 perf.  Pin
    byte-parity against the reference dumps formulation on awkward values
    (unicode, quotes, newlines, nested tagged forms, Sets, empty and
    multi-emission records, captured logs/errors)."""
    import json

    from pyspark.sql import functions as F

    from pigeon_optics_spark.lens import map_records
    from pigeon_optics_spark.values import natural_pad, value_to_tagged

    code = """
log('saw', path.recordID)
if data.get('boom'):
    raise ValueError('bo"om — ユ')
for j, w in enumerate(data['ws']):
    output(w, Set([path.recordID, j]))
"""
    rows = [
        ("r-1", '{"ws": ["a b", "we\\"ird — ユニコード", "c\\nd"]}'),
        ("r-2", '{"ws": []}'),
        ("r-03", '{"ws": ["x"], "boom": true}'),
        # hostile shapes for the JVM-side envelope escape: backslashes,
        # quote/backslash runs, control chars INSIDE values (escaped by the
        # inner dumps) and a control char + quote in the record id itself
        # (kept out of the envelope; the nat_key column still carries it)
        ("r\x01\"4\\", '{"ws": ["back\\\\slash \\u0007bell",'
                       ' "\\"\\\\\\"run", "tab\\there"]}'),
    ]
    df = spark.createDataFrame(rows, "record_id string, value string").select(
        F.lit(0).alias("input_idx"),
        F.concat(F.lit("/datasets/t:d/records/"), "record_id").alias("path"),
        F.lit("datasets").alias("source"), F.lit("t").alias("author"),
        F.lit("d").alias("name"), "record_id",
        F.lit(5).cast("long").alias("version"), "value")
    from pigeon_optics_spark.lens import _cache_entry_value_col
    mapped = map_records(df, code)
    got = {r["record_id"]: r for r in mapped.withColumn(
        "value", _cache_entry_value_col()).collect()}
    assert set(got) == {"r-1", "r-2", "r-03", "r\x01\"4\\"}

    for rid, row in got.items():
        outputs = json.loads(row["outputs"])
        # reference formulation: plain dumps with default separators
        ref_outputs = json.dumps(
            [{"i": o["i"], "k": o["k"], "v": o["v"]} for o in outputs],
            ensure_ascii=False)
        assert row["outputs"] == ref_outputs
        assert row["nat_key"] == natural_pad(rid)
        for col in ("logs", "errors"):
            assert row[col] == json.dumps(json.loads(row[col]),
                                          ensure_ascii=False)
        # the JVM-derived cache envelope must byte-match the dumps form
        # (sorted keys, compact separators — the canonical/hash contract)
        ref_cache = json.dumps({
            "version": 5, "logs": row["logs"], "errors": row["errors"],
        }, sort_keys=True, separators=(",", ":"), ensure_ascii=False)
        assert row["value"] == ref_cache
    # content spot-checks: Set emission round-trips, log/error capture
    o1 = json.loads(got["r-1"]["outputs"])
    assert [e["k"] for e in o1] == ["a b", 'we"ird — ユニコード', "c\nd"]
    assert json.loads(o1[1]["v"]) == value_to_tagged(
        __import__("pigeon_optics_spark.values", fromlist=["PSet"]).PSet(
            ["r-1", 1]))
    assert json.loads(got["r-2"]["outputs"]) == []
    assert json.loads(got["r-2"]["logs"]) == ["saw r-2"]
    errs = json.loads(got["r-03"]["errors"])
    assert errs and errs[0]["type"] == "ValueError"
    assert 'bo"om — ユ' in errs[0]["message"]


def test_cache_value_is_canonical():
    """The map phase serializes cache entries with a plain sorted
    ``json.dumps``; the store then hashes them JVM-side assuming the bytes
    are EXACTLY ``canonical_json`` (sha2(value) == object_hash).  Verify the
    fixpoint claim for the cache-entry shape — exactly ``errors``, ``logs``
    and ``version`` — with awkward strings (unicode, embedded JSON,
    quotes)."""
    import hashlib
    import json

    from pigeon_optics_spark.values import canonical_json, object_hash

    d = {
        "version": 17,
        "logs": '["x y", "we\\"ird — ユニコード"]',
        "errors": '[{"type": "ValueError", "message": "{\\"k\\": [1]}", '
                  '"line": 3}]',
    }
    plain = json.dumps(d, sort_keys=True, separators=(",", ":"),
                       ensure_ascii=False)
    assert plain == canonical_json(d)
    assert hashlib.sha256(plain.encode("utf-8")).hexdigest() == object_hash(d)


class TestTimeoutIsCpuBudget:
    """The 50 ms envelope is CPU time, not wall clock: a record descheduled
    by host load must NOT be killed (the sf0.1-sweep-under-load flake);
    a genuinely spinning record must still die."""

    def test_wall_clock_stall_does_not_time_out(self, monkeypatch):
        import time as _time

        from pigeon_optics_spark.lens import LensHarness, PathInfo

        real_pc = _time.perf_counter
        # simulate a 10 s scheduler stall: wall clock leaps, CPU doesn't
        monkeypatch.setattr(_time, "perf_counter", lambda: real_pc() + 10.0)
        h = LensHarness("output('k', 1)", timeout_ms=50.0)
        outputs, logs, errors = h.run(
            PathInfo("/datasets/t:d/records/r", "datasets", "t", "d",
                     "r"), {"x": 1})
        assert outputs and not errors

    def test_cpu_burn_still_times_out(self):
        from pigeon_optics_spark.lens import LensHarness, PathInfo

        h = LensHarness("while True: pass", timeout_ms=50.0)
        outputs, logs, errors = h.run(
            PathInfo("/datasets/t:d/records/r", "datasets", "t", "d",
                     "r"), {"x": 1})
        assert not outputs
        assert errors and errors[0]["type"] == "TimeoutError"


class TestUnserializableOutputs:
    def test_deep_or_unserializable_emit_is_captured_per_record(
            self, spark, store):
        """Output SERIALIZATION runs outside harness.run's per-record
        capture — an emit whose value blows value_to_tagged (a nesting
        bomb) or json (a type with no tagged form) must surface as a
        captured per-record error, not kill the whole mapInPandas task;
        healthy records in the same build keep their outputs."""
        store.create("system", "bomb-ds")
        store.write_entries("system", "bomb-ds", [
            ("good", {"tags": ["ok"]}),
            ("bomb", {"deep": True}),
        ])
        code = (
            "if data.get('deep'):\n"
            "    v = []\n"
            "    for _ in range(5000):\n"
            "        v = [v]\n"
            "    output('bad', v)\n"
            "else:\n"
            "    output('good-key', data['tags'][0])\n"
        )
        create_lens(store, "system", "bomb-lens",
                    inputs=["/datasets/system:bomb-ds"], code=code)
        stats = build_lens(spark, store, "system", "bomb-lens")
        assert stats["mapped"] == 2
        got = {r["id"]: r["value"] for r in
               store.iterate("system", "bomb-lens", source="lenses",
                             fast_read=True)}
        assert got == {"good-key": "ok"}  # healthy record survived
        # and the bomb record carries a captured error
        rows = {r["input_path"]: r for r in
                lens_logs(spark, store, "system", "bomb-lens").collect()}
        bad = rows["/datasets/system:bomb-ds/records/bomb"]
        assert bad["errors"] and any(
            "unserializable" in e["message"] for e in bad["errors"]), bad


def test_build_lens_leaves_no_persistent_rdds(spark, tmp_path):
    """Regression pin for the r9 persist-leak class: DataFrame.persist()
    returns SELF, so an identity-test unpersist guard (`cache is not df`)
    can never fire — every build then leaks its emissions cache, and the
    leaked + async-pending blocks degraded LATER builds in the session by
    a measured 3-25x CPU.  The invariant: a completed build (first build
    AND incremental rebuild, multi-partition emit segment included) must
    leave the session's persistent-RDD map exactly as it found it."""
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    for i, n_rows in enumerate((20_001, 50)):
        # 20,001 rows crosses the 20k num_parts threshold, so the FIRST
        # iteration runs the emit-segment branch that actually persists
        # (where the leaky guard lived); the second runs the no-persist
        # branch.
        store = DatasetStore(str(tmp_path / f"leak{i}"))
        store.create("t", "src")
        store.write_entries("t", "src", [
            (f"r{j}", {"k": f"g{j % 7}"}) for j in range(n_rows)])
        create_lens(store, "t", "by-k", inputs=["/datasets/t:src"],
                    code="output(data['k'], 1)")
        build_lens(spark, store, "t", "by-k")
        assert (spark.sparkContext._jsc.getPersistentRDDs().size()
                == before), f"build {i} leaked a persisted RDD"
        # incremental rebuild path too
        store.write_entries("t", "src", [("extra", {"k": "g0"})])
        build_lens(spark, store, "t", "by-k")
        assert (spark.sparkContext._jsc.getPersistentRDDs().size()
                == before), f"rebuild {i} leaked a persisted RDD"


class TestTombstones:
    """Emission-log validity is the store segment log's rule: per
    ``(out_id, path)`` the rows at the highest version win, and a NULL
    value is a tombstone that emits nothing.  A build retires the old
    generations of every path it re-maps or prunes with tombstone rows in
    its own segment.  These pin the rule against ground truth on both
    plans, across re-maps, moves and deletes, with non-idempotent counts
    so a generation folded twice shows as a wrong number."""

    CODE = """\
for tag in data['tags']:
    output(tag, Set([path.recordID]))
    output('n:' + tag, 1)
"""

    def _lens(self, spark, store, records, plan, monkeypatch):
        if plan == "spark":
            import pigeon_optics_spark.lens as lens_mod

            monkeypatch.setattr(lens_mod, "AFFECTED_COLLECT_MAX", 0)
        store.create("system", "test-dataset")
        store.write_entries("system", "test-dataset", records)
        create_lens(store, "system", "tag-index",
                    inputs=["/datasets/system:test-dataset"], code=self.CODE)
        build_lens(spark, store, "system", "tag-index")

    def _put(self, spark, store, rid, tags):
        store.write("system", "test-dataset", rid, {"tags": tags})
        build_lens(spark, store, "system", "tag-index")

    def _out(self, store, name="tag-index"):
        return {r["id"]: r["value"] for r in
                store.iterate("system", name, source="lenses",
                              fast_read=True)}

    def _fresh_rebuild(self, spark, store):
        """Ground truth: the same inputs through a brand-new lens."""
        create_lens(store, "system", "truth",
                    inputs=["/datasets/system:test-dataset"], code=self.CODE)
        build_lens(spark, store, "system", "truth")
        return self._out(store, "truth")

    def test_log_holds_only_segments(self, spark, store, monkeypatch):
        import os

        from pigeon_optics_spark.lens import _emit_dir

        self._lens(spark, store, [("a", {"tags": ["x"]}),
                                  ("b", {"tags": ["y", "x"]})],
                   "small", monkeypatch)
        for i in range(9):  # enough re-maps to cross the compaction bound
            self._put(spark, store, "a", [f"t{i}"])
        store.delete_record("system", "test-dataset", "b")
        build_lens(spark, store, "system", "tag-index")
        entries = os.listdir(_emit_dir(store, "system", "tag-index"))
        assert entries and all(f.startswith("seg_") for f in entries), entries
        assert self._out(store) == self._fresh_rebuild(spark, store)

    @pytest.mark.parametrize("plan", ["small", "spark"])
    def test_multi_generation_path_keeps_only_latest(self, spark, store,
                                                     monkeypatch, plan):
        self._lens(spark, store, [("a", {"tags": ["x", "keep"]}),
                                  ("b", {"tags": ["keep"]})],
                   plan, monkeypatch)
        # two successive re-maps of the same path WITHOUT compaction: the
        # log holds three generations of 'a'; only the newest may fold
        self._put(spark, store, "a", ["y", "keep"])
        self._put(spark, store, "a", ["z", "keep"])
        got = self._out(store)
        assert "x" not in got and "y" not in got
        assert got["z"] == PSet(["a"])
        assert got["keep"] == PSet(["a", "b"]) and got["n:keep"] == 2
        # and a delete: every generation of 'a' must die
        store.delete_record("system", "test-dataset", "a")
        build_lens(spark, store, "system", "tag-index")
        got = self._out(store)
        assert "z" not in got and got["keep"] == PSet(["b"])
        assert got == self._fresh_rebuild(spark, store)

    @pytest.mark.parametrize("plan", ["small", "spark"])
    def test_path_moves_back_to_a_retired_out_id(self, spark, store,
                                                 monkeypatch, plan):
        """A → B → A without compaction: the move back emits at A again
        while A's first generation is tombstoned; only the newest may
        fold, once."""
        self._lens(spark, store, [("a", {"tags": ["A"]}),
                                  ("b", {"tags": ["A"]})], plan, monkeypatch)
        self._put(spark, store, "a", ["B"])
        assert self._out(store) == {"A": PSet(["b"]), "n:A": 1,
                                    "B": PSet(["a"]), "n:B": 1}
        self._put(spark, store, "a", ["A"])
        got = self._out(store)
        assert got == {"A": PSet(["a", "b"]), "n:A": 2}
        assert got == self._fresh_rebuild(spark, store)

    @pytest.mark.parametrize("plan", ["small", "spark"])
    def test_prune_only_build_writes_only_tombstones(self, spark, store,
                                                     monkeypatch, plan):
        import pyarrow.parquet as pq

        from pigeon_optics_spark.lens import _emit_segments

        self._lens(spark, store, [("a", {"tags": ["A"]}),
                                  ("b", {"tags": ["A", "B"]})],
                   plan, monkeypatch)
        store.delete_record("system", "test-dataset", "b")
        stats = build_lens(spark, store, "system", "tag-index")
        assert stats["mapped"] == 0
        segs = _emit_segments(store, "system", "tag-index")
        assert len(segs) == 2
        seg = pq.read_table(segs[-1])
        assert seg["value"].null_count == seg.num_rows
        assert sorted(zip(seg["out_id"].to_pylist(),
                          seg["path"].to_pylist())) == [
            (o, "/datasets/system:test-dataset/records/b")
            for o in ("A", "B", "n:A", "n:B")]
        got = self._out(store)
        assert got == {"A": PSet(["a"]), "n:A": 1}
        assert got == self._fresh_rebuild(spark, store)

    @pytest.mark.parametrize("plan", ["small", "spark"])
    def test_redeleting_a_pruned_path_keeps_its_tombstones(
            self, spark, store, monkeypatch, plan):
        """A pruned path deleted again leaves the compute cache untouched
        (a fully suppressed write adds no cache segment), yet the build
        still writes the path's tombstones again: its segment must not
        replace the previous build's, which holds that build's re-map of
        'a' and the tombstones retiring 'a''s first generation."""
        self._lens(spark, store, [("a", {"tags": ["A"]}),
                                  ("b", {"tags": ["A", "B"]})],
                   plan, monkeypatch)
        store.delete_record("system", "test-dataset", "b")
        self._put(spark, store, "a", ["C"])
        store.write("system", "test-dataset", "b", {"tags": ["D"]})
        store.delete_record("system", "test-dataset", "b")
        build_lens(spark, store, "system", "tag-index")
        got = self._out(store)
        assert got == {"C": PSet(["a"]), "n:C": 1}
        assert got == self._fresh_rebuild(spark, store)


class TestSmallDeltaPlan:
    """The one-job small-delta build (``build_lens`` docstring): a small
    incremental delta is mapped in ONE Spark job and everything after it
    runs on the driver.  Pinned here: its job count, byte parity with the
    Spark plan, and the Spark fold it falls back to past the driver
    bound."""

    CODE = """
for tag in data.get('tags', []):
    output(tag, Set([path.recordID]))
    output('count:' + tag, 1)
    output('last:' + tag, path.recordID)  # strings: fold order decides
output('total', len(data.get('tags', [])))
log('tags', len(data.get('tags', [])))
if 'boom' in data.get('tags', []):
    raise ValueError('boom')
"""

    def _store(self, tmp_path, tag):
        st = DatasetStore(str(tmp_path / tag))
        st.create("a", "d")
        st.write_entries("a", "d", [
            (f"r{i}", {"tags": [f"t{i % 3}", "common"]}) for i in range(12)])
        create_lens(st, "a", "l", inputs=["/datasets/a:d"], code=self.CODE)
        return st

    def test_point_update_is_one_spark_job(self, spark, tmp_path):
        import uuid

        st = self._store(tmp_path, "one-job")
        build_lens(spark, st, "a", "l")
        st.write("a", "d", "r3", {"tags": ["t9"]})
        sc = spark.sparkContext
        group = f"lens-one-job-{uuid.uuid4().hex}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            stats = build_lens(spark, st, "a", "l")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert stats["mapped"] == 1 and stats["records_changed"]
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert len(jobs) == 1, jobs
        desc = sc._jsc.sc().statusStore().job(jobs[0]).description()
        assert desc.isDefined() and desc.get() == "lens a:l map"
        got = {r["id"]: r["value"] for r in
               st.iterate("a", "l", source="lenses", fast_read=True)}
        assert got["t9"] == PSet(["r3"]) and got["count:t0"] == 3

    def test_byte_parity_with_spark_plan(self, spark, tmp_path, monkeypatch):
        """The same update sequence through both plans leaves identical
        latest-wins rows — value bytes, hash, links, version — in the
        compute cache AND the output collection."""
        import pigeon_optics_spark.lens as lens_mod
        from pigeon_optics_spark.lens import _cache_name

        def run(plan):
            calls = []
            orig = lens_mod._small_delta_build

            def spy(*a, **k):
                calls.append(1)
                return orig(*a, **k)

            with monkeypatch.context() as mp:
                mp.setattr(lens_mod, "_small_delta_build", spy)
                if plan == "spark":
                    mp.setattr(lens_mod, "AFFECTED_COLLECT_MAX", 0)
                st = self._store(tmp_path, plan)
                build_lens(spark, st, "a", "l")
                for step in range(4):
                    st.write("a", "d", f"r{step}",
                             {"tags": [f"t{step}", "new", "common"]})
                    st.write("a", "d", f"x{step}", {"tags": ["boom", "x"]})
                    if step % 2:
                        st.delete_record("a", "d", f"r{step + 5}")
                    build_lens(spark, st, "a", "l")
                # a fully hash-suppressed re-map: identical input value
                st.write("a", "d", "r0", {"tags": ["t0", "common"]})
                st.write("a", "d", "r0", {"tags": ["t0", "new", "common"]})
                build_lens(spark, st, "a", "l")
            assert bool(calls) == (plan == "small")
            return {
                coll: (st.get_meta("a", n, source=src).version,
                       st._state(st.get_meta("a", n, source=src)))
                for coll, n, src in (("cache", _cache_name("l"), "meta"),
                                     ("output", "l", "lenses"))}

        small, spark_plan = run("small"), run("spark")
        assert small["output"][1]  # non-trivial outputs
        assert small == spark_plan

    def test_affected_over_bound_folds_on_spark(self, spark, tmp_path,
                                                monkeypatch):
        """A one-record delta is under a bound of 1, but the keys it touches
        are not: the small plan hands the fold to Spark and stays exact."""
        import pigeon_optics_spark.lens as lens_mod

        st = self._store(tmp_path, "over-bound")
        build_lens(spark, st, "a", "l")
        monkeypatch.setattr(lens_mod, "AFFECTED_COLLECT_MAX", 1)
        st.write("a", "d", "r1", {"tags": ["t0", "zz"]})
        stats = build_lens(spark, st, "a", "l")
        assert stats["mapped"] == 1
        got = {r["id"]: r["value"] for r in
               st.iterate("a", "l", source="lenses", fast_read=True)}
        assert got["zz"] == PSet(["r1"]) and got["count:t1"] == 3
        assert got["t0"] == PSet(["r0", "r1", "r3", "r6", "r9"])
        assert got["total"] == 24
