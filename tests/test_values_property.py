"""Property-based tests (hypothesis) over the dynamic value domain:

- every codec round-trips arbitrary nested values (canonical-form equality);
- ``object_hash`` is insensitive to dict key order (the reference's tested
  property, test-models-codec.js:404-408) and to Set member order;
- the merge-reduce stays type-correct and the in-place fast path agrees
  with the pure fold.
"""

from __future__ import annotations

import datetime as dt
import json
import math

from hypothesis import given, settings
from hypothesis import strategies as st

from pigeon_optics_spark.codecs import CODECS
from pigeon_optics_spark.reduce import fold, merge2, merge_into
from pigeon_optics_spark.values import (
    PMap,
    PSet,
    URLValue,
    canonical_json,
    object_hash,
    tagged_to_value,
    value_to_tagged,
)

# text without surrogates (json/yaml/xml-safe); XML additionally cannot carry
# most C0 controls, so keep those out of the shared alphabet
_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs", "Cc")), max_size=40)

_scalar = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2 ** 80), max_value=2 ** 80),
    st.floats(allow_nan=True, allow_infinity=True, width=64),
    _text,
    st.binary(max_size=40),
    st.datetimes(
        min_value=dt.datetime(1971, 1, 1), max_value=dt.datetime(2200, 1, 1),
        timezones=st.just(dt.timezone.utc),
    ).map(lambda d: d.replace(microsecond=(d.microsecond // 1000) * 1000)),
    _text.map(lambda s: URLValue("https://x.test/" + s.replace("\n", ""))),
)


def _extend(children):
    return st.one_of(
        st.lists(children, max_size=4),
        st.dictionaries(_text, children, max_size=4),
        st.lists(children, max_size=4).map(PSet),
        st.lists(st.tuples(children, children), max_size=3).map(PMap),
    )


values = st.recursive(_scalar, _extend, max_leaves=12)


@settings(max_examples=60, deadline=None)
@given(values)
def test_tagged_roundtrip(v):
    assert canonical_json(tagged_to_value(value_to_tagged(v))) == canonical_json(v)


@settings(max_examples=40, deadline=None)
@given(values)
def test_codec_roundtrips(v):
    for name in ("json", "jsonl", "cbor", "msgpack", "yaml", "xml"):
        codec = CODECS[name]
        got = codec.decode(codec.encode(v))
        assert canonical_json(got) == canonical_json(v), name


@settings(max_examples=60, deadline=None)
@given(st.dictionaries(_text, values, max_size=5))
def test_hash_key_order_insensitive(d):
    items = list(d.items())
    assert object_hash(dict(items)) == object_hash(dict(reversed(items)))


@settings(max_examples=60, deadline=None)
@given(st.lists(values, max_size=5))
def test_hash_set_order_insensitive(members):
    assert object_hash(PSet(members)) == object_hash(PSet(reversed(members)))


@settings(max_examples=200, deadline=None)
@given(values)
def test_hash_json_str_fast_path_matches_object_hash(v):
    """hash_json_str (store-ingest hot path, with its marker-gated direct
    canonicalization) must agree byte-for-byte with the semantic
    object_hash for EVERY value — including values that force the slow
    path (Sets, Dates, buffers) and key-order permutations."""
    from pigeon_optics_spark.values import hash_json_str

    tagged_str = json.dumps(value_to_tagged(v), ensure_ascii=False)
    assert hash_json_str(tagged_str) == object_hash(v)


@settings(max_examples=100, deadline=None)
@given(st.dictionaries(_text, st.one_of(
    st.integers(min_value=-(2 ** 80), max_value=2 ** 80),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    _text, st.booleans(), st.none()), max_size=6))
def test_hash_json_str_fast_path_plain_objects(d):
    """The fast path proper (no tag markers): unsorted-key JSON of a flat
    object hashes identically to the semantic path."""
    from pigeon_optics_spark.values import hash_json_str

    raw = json.dumps(value_to_tagged(d), ensure_ascii=False)
    assert hash_json_str(raw) == object_hash(d)


@settings(max_examples=60, deadline=None)
@given(values, values)
def test_merge2_total(a, b):
    """merge2 never raises and always yields a value in the domain."""
    out = merge2(a, b)
    canonical_json(out)  # in-domain ⟺ canonicalizable


@settings(max_examples=60, deadline=None)
@given(st.lists(values, min_size=1, max_size=6))
def test_merge_into_agrees_with_pure_fold(vs):
    """The in-place fast path must be observationally identical to the pure
    pairwise fold (same deep-clone inputs on both sides)."""
    def clone(x):
        return tagged_to_value(json.loads(
            json.dumps(value_to_tagged(x), ensure_ascii=False)))

    pure = fold([clone(v) for v in vs])
    acc = clone(vs[0])
    for v in vs[1:]:
        acc = merge_into(acc, clone(v))
    assert canonical_json(acc) == canonical_json(pure)


@settings(max_examples=40, deadline=None)
@given(st.lists(st.floats(allow_nan=False, allow_infinity=False,
                          min_value=-1e12, max_value=1e12), min_size=1))
def test_number_fold_is_sum(xs):
    got = fold(list(xs))
    assert math.isclose(got, sum(xs), rel_tol=1e-9, abs_tol=1e-9)


def test_date_ms_exact_past_2031_seconds():
    """Regression (found by the fuzz): int(timestamp()*1000) lost a
    millisecond once epoch seconds crossed 2^31 — float64 runs out of
    significand for seconds*1000 with sub-ms fractions.  Conversions are
    now exact integer timedelta math in BOTH directions."""
    import datetime as dt
    import json

    from pigeon_optics_spark.values import (
        hash_json_str,
        object_hash,
        tagged_to_value,
        value_to_tagged,
    )

    v = dt.datetime(2038, 2, 1, 0, 0, 0, 444000, tzinfo=dt.timezone.utc)
    t = value_to_tagged(v)
    assert t == {"type": "Date", "data": 2148595200444}
    assert tagged_to_value(t) == v
    assert hash_json_str(json.dumps(t)) == object_hash(v)
    # exact at any year, including pre-epoch negatives
    for ms in (-2208988800000, -999, -1, 0, 1, 253402300799999):
        assert value_to_tagged(tagged_to_value(
            {"type": "Date", "data": ms}))["data"] == ms


def test_loads_value_matches_stdlib_on_hostile_inputs():
    """loads_value (r12: optional orjson fast path) must be
    OBSERVATIONALLY IDENTICAL to json.loads for every input the engine
    can see.  The two known divergences are screened: >64-bit ints would
    silently parse as float in orjson (routed to stdlib by the 16-digit
    screen), and lone-surrogate escapes / overflow literals raise there
    (caught, re-parsed by stdlib).  Cases cover both screens plus the
    verified-identical classes (duplicate keys last-wins, \\u escapes,
    u64-boundary ints, float rounding, -0.0)."""
    import json as _json

    from pigeon_optics_spark.values import hash_json_str, loads_value

    cases = [
        '{"a":1,"a":2}',
        '{"a":"\\ud83d\\ude00"}',
        '{"a":"\\ud800"}',                  # lone surrogate: orjson raises
        '{"a":18446744073709551615}',       # u64 max (16+ digits -> stdlib)
        '{"a":9223372036854775807}',
        '{"a":-9223372036854775808}',
        '{"a":99999999999999999999}',       # > u64: MUST stay exact int
        '{"a":1e999}',                      # overflow literal: orjson raises
        '{"a":"\\u0000x"}',
        '[1.5e-05, 1e16, 5e-324, -0.0, 0.1, 123456.789]',
        '{"\\u00e9":"caf\\u00e9"}',
        '"plain"', 'null', 'true', '-0', '  {"a": 1}  ',
        '{"b":{"a":[1,2,{"c":null}]}}',
        '{"a":"4611686018427387904"}',      # 16-digit run INSIDE a string
    ]
    for c in cases:
        ref = _json.loads(c)
        got = loads_value(c)
        assert got == ref, c
        assert type(got) is type(ref), c
        if isinstance(ref, dict):
            for k in ref:
                assert type(got[k]) is type(ref[k]), (c, k)
    # the exactness case that motivated the screen: a big int must stay int
    big = loads_value('{"a":99999999999999999999}')["a"]
    assert isinstance(big, int) and big == 99999999999999999999
    # and the hash fast path over loads_value stays byte-stable
    assert hash_json_str('{"a":99999999999999999999}') == hash_json_str(
        '{"a":99999999999999999999}')


def test_orjson_absent_falls_back_with_one_warning(monkeypatch, caplog):
    """Without orjson the module imports, warns exactly once (at import,
    not per parse) and ``loads_value`` still parses through stdlib."""
    import importlib.util
    import logging
    import sys

    # a None entry makes ``import orjson`` raise ImportError; the fresh
    # copy is never registered, so the live module and its classes stay
    monkeypatch.setitem(sys.modules, "orjson", None)
    spec = importlib.util.find_spec("pigeon_optics_spark.values")
    mod = importlib.util.module_from_spec(spec)
    with caplog.at_level(logging.WARNING, logger=spec.name):
        spec.loader.exec_module(mod)
        assert mod._orjson is None
        for s in ('{"a":1}', '[1.5, "x"]', '{"a":99999999999999999999}'):
            assert mod.loads_value(s) == json.loads(s)
    warned = [r for r in caplog.records
              if r.name == spec.name and "orjson" in r.getMessage()]
    assert len(warned) == 1
