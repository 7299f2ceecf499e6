"""M0 tests: canonical value core (FIXTURES F3 semantics + record-structure).

Corpus mirrors the reference's codec test corpus
(`test/test-models-codec.js:8-56`): bools, ints, floats, NaN/±Inf, null
arrays, binary, nested structures, Maps, Sets, Dates, unicode strings.
"""

import datetime as dt
import json
import math

import pytest

from pigeon_optics_spark.values import (
    PMap,
    PSet,
    Undefined,
    URLValue,
    canonical_json,
    hash_json_str,
    list_hash_urls,
    natural_sort_key,
    object_hash,
    resolve_cid_links,
    tagged_to_value,
    value_to_tagged,
)
from pigeon_optics_spark.paths import DataPath, decode_path, encode_path

CORPUS = [
    True,
    False,
    None,
    5,
    9274,
    0.0001,
    -10,
    2 ** 70,  # bigint
    float("inf"),
    float("-inf"),
    [1, 2, 3],
    [None, None, None],
    b"\x00\x01\x02hello",
    {"a": 1, "b": [1, 2, 3], "c": {"d": "deep"}},
    PMap([(1, "one"), ("two", 2), ([3], "list-key")]),
    PSet(["a", "b", {"x": 1}]),
    dt.datetime(2020, 5, 4, 12, 30, 0, tzinfo=dt.timezone.utc),
    URLValue("https://example.com/x?y=z"),
    "hello",
    "مرحبا",
    "வணக்கம்",
    "你好",
    "γεια σας",
    "привет",
    "♔♕♖♗♘♙",
    "👋👋🏻👋🏼👋🏽👋🏾👋🏿",
    ["element", {"attr": "x"}, "text child"],  # JsonML-shaped
]


@pytest.mark.parametrize("value", CORPUS, ids=lambda v: repr(v)[:40])
def test_tagged_roundtrip(value):
    tagged = value_to_tagged(value)
    # tagged form must be plain-JSON serializable
    s = json.dumps(tagged, ensure_ascii=False)
    back = tagged_to_value(json.loads(s))
    assert canonical_json(back) == canonical_json(value)


def test_nan_roundtrip():
    back = tagged_to_value(value_to_tagged(float("nan")))
    assert math.isnan(back)


def test_undefined_roundtrip():
    assert tagged_to_value(value_to_tagged(Undefined)) is Undefined


def test_hash_key_order_insensitive():
    # ref test-models-codec.js:404-408
    a = {"a": 1, "b": 2, "c": {"x": [1], "y": 2}}
    b = {"c": {"y": 2, "x": [1]}, "b": 2, "a": 1}
    assert object_hash(a) == object_hash(b)


def test_hash_set_order_insensitive():
    assert object_hash(PSet([1, 2, 3])) == object_hash(PSet([3, 1, 2]))


def test_hash_array_order_sensitive():
    assert object_hash([1, 2, 3]) != object_hash([3, 2, 1])


def test_hash_map_order_sensitive():
    assert object_hash(PMap([(1, "a"), (2, "b")])) != object_hash(PMap([(2, "b"), (1, "a")]))


def test_distinct_values_hash_distinctly():
    hashes = {object_hash(v) for v in CORPUS}
    assert len(hashes) == len(CORPUS)


def test_type_distinction_in_hash():
    assert object_hash("5") != object_hash(5)
    assert object_hash([1]) != object_hash(PSet([1]))
    assert object_hash({"a": 1}) != object_hash(PMap([("a", 1)]))


def test_hash_json_str_matches_object_hash():
    v = {"x": [1, 2], "s": PSet(["q"])}
    s = json.dumps(value_to_tagged(v), ensure_ascii=False)
    assert hash_json_str(s) == object_hash(v)


def test_hash_json_str_overflow_literal_matches_slow_path():
    # "1e999" parses to inf with no 'Infinity' substring, dodging the
    # fast-path marker screen; must fall back to the tagged-constant hash
    # instead of raising (ADVICE r4).
    for s in ('{"a": 1e999}', '{"a": -1e999}', '[1e999, 2.5]',
              '{"nested": {"x": [3, 1e999]}}'):
        assert hash_json_str(s) == object_hash(tagged_to_value(json.loads(s)))


def test_tag_envelope_escaping():
    v = {"type": "not-a-tag", "data": 42}
    back = tagged_to_value(value_to_tagged(v))
    assert back == v


HASH_A = "a" * 64
HASH_B = "b" * 64


def test_list_hash_urls_everywhere():
    # ref test-utility-record-structure.js: URIs in arrays/objects/keys/Sets/Map keys+values
    url_a = f"hash://sha256/{HASH_A}?type=image%2Fjpeg"
    url_b = f"hash://sha256/{HASH_B}"
    value = {
        "arr": [url_a, "not-a-url"],
        url_b: "url-as-object-key",
        "set": PSet([url_a]),
        "map": PMap([(url_b, url_a)]),
        "nested": {"deep": [{"x": url_a}]},
    }
    assert list_hash_urls(value) == sorted({url_a, url_b})


def test_list_hash_urls_rejects_malformed():
    assert list_hash_urls(["hash://sha256/zzz", "hash://sha1/" + HASH_A, "x"]) == []


def test_resolve_cid_links():
    cid_map = {"photo.jpg": f"hash://sha256/{HASH_A}?type=image%2Fjpeg"}
    v = {"img": "cid:photo.jpg", "other": "cid:missing", "n": 5}
    out = resolve_cid_links(v, cid_map)
    assert out["img"] == cid_map["photo.jpg"]
    assert out["other"] == "cid:missing"
    assert v["img"] == "cid:photo.jpg"  # deep clone, input untouched


def test_natural_sort():
    ids = ["item10", "item2", "item1", "z", "a9b", "a10b", "a9c"]
    got = sorted(ids, key=natural_sort_key)
    assert got == ["a9b", "a9c", "a10b", "item1", "item2", "item10", "z"]


def test_natural_sort_digits_before_letters():
    # reference char-code compare: '1' < 'a' — digit-leading ids list first
    assert sorted(["a", "1"], key=natural_sort_key) == ["1", "a"]
    assert sorted(["b2", "10", "2", "a"], key=natural_sort_key) == ["2", "10", "a", "b2"]
    # equal numerics tie-break on the raw string: '01' < '1'
    assert sorted(["1", "01"], key=natural_sort_key) == ["01", "1"]


def test_natural_pad_truncates_like_spark_lpad(spark):
    from pyspark.sql import functions as F

    from pigeon_optics_spark.values import natural_pad, natural_sort_col_expr

    long_run = "x" + "9" * 30 + "y"  # digit run longer than the pad width
    df = spark.createDataFrame([(long_run,)], "rid string")
    spark_key = df.select(
        F.expr(natural_sort_col_expr("rid")).alias("k")).collect()[0]["k"]
    assert natural_pad(long_run) == spark_key


def test_natural_sort_matches_spark_path(spark):
    # the driver-side key and the Spark ORDER BY must produce the same order
    from pyspark.sql import functions as F

    from pigeon_optics_spark.values import natural_sort_col_expr

    ids = ["1", "01", "a", "a1", "a01", "10", "2", "z9", "z10", "B", "item1",
           "n" + "1" * 30, "n" + "2" * 25]
    df = spark.createDataFrame([(i,) for i in ids], "record_id string")
    expr = natural_sort_col_expr("record_id")
    spark_order = [r["record_id"] for r in df.orderBy(
        F.expr(expr), F.col("record_id")).collect()]
    assert sorted(ids, key=natural_sort_key) == spark_order


def test_natural_pad_byte_parity_adversarial_corpus(spark):
    """Byte-level parity of the Python map-side key (natural_pad, stamped
    into emission rows) and the JVM expression (natural_sort_col_expr, used
    for store ordering and for re-deriving emission nat_keys at read time
    in lens._read_emit_log).  One Spark job over an adversarial corpus:
    unicode, digit runs at every boundary, runs at/over the 24 pad width,
    digits-only, empty-ish, separators."""
    from pyspark.sql import functions as F

    from pigeon_optics_spark.values import natural_pad, natural_sort_col_expr

    ids = [
        "a", "A", "0", "00", "0a0", "a0a", "1-2-3", "doc-10", "doc-9",
        "9" * 24, "9" * 25, "1" + "0" * 23, "x" + "5" * 24 + "x",
        "héllo42", "日本語7語", "emoji🙂123", "tab\tsep", "dot.5.dot",
        "under_score_001", "MiXeD10CaSe", "trailing9", "7leading",
        "multi 33 space 44 runs", "a" * 50 + "123" + "b" * 50,
        "0" * 5 + "x" + "0" * 5, "−123", "+44", "1.5e10", "v1.2.10-rc3",
        # unicode digits: Python \d matches them, Java/RE2/JS \d do not —
        # the engine is ASCII-digit-only everywhere (r4 parity fix)
        "a５b", "x٣y", "fullwidth１２３run", "mixed5５5run",
    ]
    df = spark.createDataFrame([(i,) for i in ids], "rid string")
    got = {r["rid"]: r["k"] for r in df.select(
        "rid", F.expr(natural_sort_col_expr("rid")).alias("k")).collect()}
    for i in ids:
        assert got[i] == natural_pad(i), repr(i)


def test_path_roundtrip():
    p = encode_path("datasets", "author one", "data:set", "rec/1")
    d = decode_path(p)
    assert d == DataPath("datasets", "author one", "data:set", "rec/1")
    c = decode_path("/lenses/alice:index")
    assert c.record_id is None and c.author == "alice" and c.name == "index"


def test_path_rejects_bad():
    for bad in ["/nope/a:b", "datasets/a:b", "/datasets/ab"]:
        with pytest.raises(ValueError):
            decode_path(bad)
