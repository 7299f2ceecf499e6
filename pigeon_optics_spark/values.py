"""M0 — canonical dynamic-value core.

The reference's records are arbitrary structured values (superset of JSON:
Buffers, Sets, Maps, Dates, URLs, BigInts, NaN/±Infinity, undefined — see
SURVEY.md §1.3; ref `library/models/codec/json.js:26-86`).  A Spark-native
engine carries such a value through DataFrames as a **tagged-JSON string
column**; this module defines that form, the **canonical byte encoding** and
the content hash every versioning decision depends on, plus the deep-walk
utilities (attachment-link listing, cid: rewriting — ref
`library/utility/record-structure.js:9-72`).

Design rules:

- ``object_hash(value)`` = sha256 over the canonical encoding.  Object keys are
  sorted (insertion-order-insensitive, matching the reference's tested
  behaviour, ref `test/test-models-codec.js:404-408`); Set members are sorted
  by their canonical encoding (Sets are unordered); Map entries keep insertion
  order (JS Maps are ordered).
- The canonical form must be bit-stable across processes and Spark executors:
  plain ASCII-sorted keys, minimal separators, shortest-roundtrip float repr
  (identical in every CPython), base64 for bytes, ms-epoch ints for dates.
- At scale the hash is computed inside Arrow-batched pandas UDFs (pure
  function of one column — embarrassingly parallel, no shuffle).
"""

from __future__ import annotations

import base64
import datetime as _dt
import hashlib
import json
import logging
import math
import re
from typing import Any, Iterator

__all__ = [
    "Undefined",
    "PMap",
    "PSet",
    "URLValue",
    "tagged_to_value",
    "value_to_tagged",
    "canonical_json",
    "object_hash",
    "hash_json_str",
    "loads_value",
    "list_hash_urls",
    "resolve_cid_links",
    "natural_sort_key",
    "HASH_URL_RE",
]


class _UndefinedType:
    """JS ``undefined`` (forbidden as a record root, ref base-data-model.js:151)."""

    _instance = None

    def __new__(cls):
        if cls._instance is None:
            cls._instance = super().__new__(cls)
        return cls._instance

    def __repr__(self) -> str:
        return "Undefined"

    def __bool__(self) -> bool:
        return False


Undefined = _UndefinedType()


class PMap:
    """Ordered map with arbitrary (structured) keys — JS ``Map``.

    Stored as a list of ``[key, value]`` pairs; equality is order-sensitive
    (JS Maps iterate in insertion order).
    """

    __slots__ = ("entries",)

    def __init__(self, entries=()):
        # JS Map.set semantics: duplicate keys collapse — first insertion
        # keeps its position, the LAST value wins (hypothesis found codecs
        # disagreeing on duplicate-key Maps before this dedup existed)
        pos: dict[str, int] = {}
        out: list[tuple] = []
        for k, v in entries:
            ck = canonical_json(k)
            if ck in pos:
                out[pos[ck]] = (k, v)
            else:
                pos[ck] = len(out)
                out.append((k, v))
        self.entries = out

    def __eq__(self, other):
        return isinstance(other, PMap) and self.entries == other.entries

    def __repr__(self):
        return f"PMap({self.entries!r})"

    def __iter__(self):
        return iter(self.entries)

    def __len__(self):
        return len(self.entries)


class PSet:
    """Unordered set of arbitrary structured values — JS ``Set``.

    Python ``set`` can't hold unhashable members (lists/dicts), so members are
    kept as a list; equality and hashing are order-insensitive via canonical
    encoding.
    """

    __slots__ = ("members", "_seen")

    def __init__(self, members=()):
        # dedupe by canonical encoding, preserving first occurrence
        seen: set[str] = set()
        out = []
        for m in members:
            key = canonical_json(m)
            if key not in seen:
                seen.add(key)
                out.append(m)
        self.members = out
        self._seen = seen

    def update(self, other: "PSet") -> None:
        """In-place union (amortized O(|other|) — the dedup index is kept
        across updates so a fold of n singletons is O(n), not O(n^2))."""
        for m in other.members:
            key = canonical_json(m)
            if key not in self._seen:
                self._seen.add(key)
                self.members.append(m)

    def __eq__(self, other):
        if not isinstance(other, PSet):
            return False
        return sorted(canonical_json(m) for m in self.members) == sorted(
            canonical_json(m) for m in other.members
        )

    def __repr__(self):
        return f"PSet({self.members!r})"

    def __iter__(self):
        return iter(self.members)

    def __len__(self):
        return len(self.members)


class URLValue:
    """JS ``URL`` value (ref json.js:43-44) — kept as its href string."""

    __slots__ = ("href",)

    def __init__(self, href: str):
        self.href = str(href)

    def __eq__(self, other):
        return isinstance(other, URLValue) and self.href == other.href

    def __repr__(self):
        return f"URLValue({self.href!r})"


# Numbers outside the float64-safe-integer range are tagged BigInteger so the
# JSON form survives engines that parse numbers as doubles.
_SAFE_INT = 1 << 53

_EPOCH_UTC = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)


def _dt_to_ms(value: "_dt.datetime") -> int:
    """Exact epoch-milliseconds (JS ``Date.getTime`` semantics).  The old
    ``int(value.timestamp() * 1000)`` lost a millisecond once the epoch
    seconds crossed 2^31 (float64 has 53 significand bits; seconds×1000
    with sub-ms fractions lands between representable doubles and the
    truncating int() picks the wrong side — found by a property fuzz at
    2038-02-01T00:00:00.444Z).  Integer timedelta division is exact; the
    tagged→value direction mirrors it, so Date values round-trip
    hash-stably at ANY year."""
    if value.tzinfo is None:
        value = value.replace(tzinfo=_dt.timezone.utc)
    return (value - _EPOCH_UTC) // _dt.timedelta(milliseconds=1)

_TAG_KEYS = frozenset(("type", "data"))


def value_to_tagged(value: Any) -> Any:
    """Python value -> JSON-safe tagged form (the reference's ``{type, data}``
    wrapper convention, ref json.js:26-49)."""
    if value is None or isinstance(value, bool) or isinstance(value, str):
        return value
    if isinstance(value, int):
        if -_SAFE_INT < value < _SAFE_INT:
            return value
        return {"type": "BigInteger", "data": str(value)}
    if isinstance(value, float):
        if math.isnan(value):
            return {"type": "constant", "data": "NaN"}
        if math.isinf(value):
            return {"type": "constant", "data": "Infinity" if value > 0 else "-Infinity"}
        return value
    if value is Undefined:
        return {"type": "constant", "data": "undefined"}
    if isinstance(value, (bytes, bytearray, memoryview)):
        return {"type": "Buffer", "data": base64.b64encode(bytes(value)).decode("ascii")}
    if isinstance(value, _dt.datetime):
        return {"type": "Date", "data": _dt_to_ms(value)}
    if isinstance(value, _dt.date):
        dt = _dt.datetime(value.year, value.month, value.day, tzinfo=_dt.timezone.utc)
        return {"type": "Date", "data": _dt_to_ms(dt)}
    if isinstance(value, URLValue):
        return {"type": "URL", "data": value.href}
    if isinstance(value, PSet):
        return {"type": "Set", "data": [value_to_tagged(m) for m in value.members]}
    if isinstance(value, (set, frozenset)):
        return {"type": "Set", "data": [value_to_tagged(m) for m in value]}
    if isinstance(value, PMap):
        return {
            "type": "Map",
            "data": [[value_to_tagged(k), value_to_tagged(v)] for k, v in value.entries],
        }
    if isinstance(value, (list, tuple)):
        return [value_to_tagged(v) for v in value]
    if isinstance(value, dict):
        if not all(isinstance(k, str) for k in value):
            return {
                "type": "Map",
                "data": [[value_to_tagged(k), value_to_tagged(v)] for k, v in value.items()],
            }
        if frozenset(value.keys()) == _TAG_KEYS:
            # escape objects that would collide with the tag envelope
            return {"type": "object", "data": {k: value_to_tagged(v) for k, v in value.items()}}
        return {k: value_to_tagged(v) for k, v in value.items()}
    raise TypeError(f"unsupported value type: {type(value)!r}")


def tagged_to_value(tagged: Any) -> Any:
    """Tagged JSON form -> Python value (inverse of :func:`value_to_tagged`)."""
    if tagged is None or isinstance(tagged, (bool, int, float, str)):
        return tagged
    if isinstance(tagged, list):
        return [tagged_to_value(v) for v in tagged]
    if isinstance(tagged, dict):
        if frozenset(tagged.keys()) == _TAG_KEYS and isinstance(tagged["type"], str):
            # every known tag requires a specific payload shape; crafted
            # tagged JSON (this is the wire form external sources decode
            # through) must raise ValueError — the contract the codec layer
            # and every dirty-ingest caller handles — never KeyError/
            # TypeError/AttributeError/OverflowError from the conversion
            t, d = tagged["type"], tagged["data"]
            if t == "constant":
                consts = {"NaN": float("nan"), "Infinity": float("inf"),
                          "-Infinity": float("-inf"), "undefined": Undefined}
                if not isinstance(d, str) or d not in consts:
                    raise ValueError(f"unknown tagged constant: {d!r}")
                return consts[d]
            if t == "BigInteger":
                if not isinstance(d, str):
                    raise ValueError(
                        f"BigInteger data must be a string, got {type(d).__name__}")
                return int(d)  # int() raises ValueError on non-numeric
            if t == "Buffer":
                if not isinstance(d, str):
                    raise ValueError(
                        f"Buffer data must be base64 text, got {type(d).__name__}")
                return base64.b64decode(d)  # binascii.Error IS a ValueError
            if t == "Date":
                # exact: timedelta carries integer ms; fromtimestamp(d/1000.0)
                # loses a millisecond past 2^31 seconds (float53 runs out)
                if isinstance(d, bool) or not isinstance(d, (int, float)):
                    raise ValueError(
                        f"Date data must be epoch ms, got {type(d).__name__}")
                try:
                    return _EPOCH_UTC + _dt.timedelta(milliseconds=d)
                except (OverflowError, OSError):
                    raise ValueError(f"Date epoch ms out of range: {d!r}")
            if t == "URL":
                if not isinstance(d, str):
                    raise ValueError(
                        f"URL data must be a string, got {type(d).__name__}")
                return URLValue(d)
            if t == "Set":
                if not isinstance(d, list):
                    raise ValueError(
                        f"Set data must be an array, got {type(d).__name__}")
                return PSet(tagged_to_value(m) for m in d)
            if t == "Map":
                if not isinstance(d, list) or not all(
                        isinstance(p, (list, tuple)) and len(p) == 2 for p in d):
                    raise ValueError("Map data must be an array of [k, v] pairs")
                return PMap((tagged_to_value(k), tagged_to_value(v)) for k, v in d)
            if t == "object":
                if not isinstance(d, dict):
                    raise ValueError(
                        f"object data must be an object, got {type(d).__name__}")
                return {k: tagged_to_value(v) for k, v in d.items()}
            # unknown tag: treat as plain object
        return {k: tagged_to_value(v) for k, v in tagged.items()}
    raise TypeError(f"unsupported tagged node: {type(tagged)!r}")


def _canonical_node(value: Any) -> Any:
    """Tagged form with Set members sorted — hashing must be order-insensitive
    for Sets and Objects but order-sensitive for Arrays and Maps."""
    tagged = value_to_tagged(value)
    return _canonicalize_tagged(tagged)


def _canonicalize_tagged(node: Any) -> Any:
    if isinstance(node, list):
        return [_canonicalize_tagged(v) for v in node]
    if isinstance(node, dict):
        if frozenset(node.keys()) == _TAG_KEYS and node.get("type") == "Set":
            members = [_canonicalize_tagged(m) for m in node["data"]]
            members.sort(key=lambda m: json.dumps(m, sort_keys=True, separators=(",", ":"),
                                                  ensure_ascii=False, allow_nan=False))
            return {"type": "Set", "data": members}
        return {k: _canonicalize_tagged(v) for k, v in node.items()}
    return node


def canonical_json(value: Any) -> str:
    """Canonical serialization: tagged form, sorted object keys, minimal
    separators, shortest-roundtrip floats.  The engine-wide stable byte form —
    ``hash``/version change-suppression and Set identity all derive from it."""
    return json.dumps(_canonical_node(value), sort_keys=True, separators=(",", ":"),
                      ensure_ascii=False, allow_nan=False)


def object_hash(value: Any) -> str:
    """sha256 hex of the canonical encoding (ref object-hash.js:10-13; the
    reference's tested property — key-order insensitivity — holds here)."""
    return hashlib.sha256(canonical_json(value).encode("utf-8")).hexdigest()


#: Substrings whose absence PROVES a raw tagged-JSON string contains no tag
#: envelope ({"type": ...} needs the literal '"type"') and no non-finite
#: float literal — the preconditions for the direct canonicalization below.
_HASH_SLOW_MARKERS = ('"type"', "NaN", "Infinity")

#: 2^53 has 16 digits: a string with no 16-digit run cannot hold an int
#: outside the safe range, so BigInteger promotion is impossible.
_BIGNUM_RE = re.compile(r"\d{16}")

try:  # optional C-accelerated JSON parser (public PyPI; absent = stdlib)
    import orjson as _orjson
except ImportError:  # environment-dependent
    _orjson = None
    # once per import, not per parse: the fallback is exact but slower on
    # every hot parse site, which would otherwise show only as lost speed
    logging.getLogger(__name__).warning(
        "orjson is not installed: loads_value falls back to stdlib json "
        "(~4.6x slower parse; results are identical)")


def loads_value(s: str) -> Any:
    """``json.loads`` with a C fast path for the engine's hot parse sites
    (ingest hash, lens map input, reduce fold — each runs per row).

    orjson parses ~4.6× faster (r12: 1.86 → 0.40 µs on ingest-shaped
    values) and produces IDENTICAL Python objects for everything this
    engine stores, with exactly two divergences, both screened:

    - ints beyond 64 bits parse as FLOAT in orjson (silent exactness
      loss) — any ≥16-digit run routes to stdlib via ``_BIGNUM_RE``
      (same conservative screen the hash fast path uses for BigInteger
      promotion; 16-digit runs inside strings just take the slow path);
    - lone-surrogate escapes and overflow literals like ``1e999`` RAISE
      in orjson where stdlib parses them — the except-fallback re-parses
      with stdlib, preserving exact legacy behaviour.

    Duplicate keys (last wins), \\u escapes, u64-boundary ints, float
    rounding and -0.0 were differentially verified identical; pinned by
    tests/test_values_property.py."""
    if _orjson is not None and _BIGNUM_RE.search(s) is None:
        try:
            return _orjson.loads(s)
        except Exception:  # noqa: BLE001 - any parse divergence -> stdlib
            pass
    return json.loads(s)


def _canon_plain(node: Any) -> Any:
    """Canonicalize a PLAIN parsed-JSON tree (caller guarantees no tag
    envelopes / non-finite floats — see ``_HASH_SLOW_MARKERS``).  Mirrors
    ``_canonical_node(tagged_to_value(node))`` exactly: the only rewrite
    possible on such a tree is big-int promotion (value_to_tagged wraps ints
    beyond 2^53 as BigInteger)."""
    if isinstance(node, dict):
        return {k: _canon_plain(v) for k, v in node.items()}
    if isinstance(node, list):
        return [_canon_plain(v) for v in node]
    if isinstance(node, bool) or isinstance(node, float) \
            or node is None or isinstance(node, str):
        return node
    if isinstance(node, int):
        if -_SAFE_INT < node < _SAFE_INT:
            return node
        return {"type": "BigInteger", "data": str(node)}
    return node


def hash_json_str(value_json: str) -> str:
    """object_hash for a value already in tagged-JSON string form (the Spark
    column representation).  Used by the store's pandas UDFs — the per-row
    cost of bulk ingest, so it matters at 100 TB.

    Fast path: a value with no tag envelope and no non-finite literal (the
    overwhelming case for ingested records — flat JSON from ``to_json`` or
    external sources) canonicalizes in ONE tree walk (loads → key-sort dump
    → sha256; both ends C-speed).  Tagged values (Set ordering, Date ms
    normalization, object-envelope collapse...) take the exact three-walk
    semantic path.  Byte-identical by construction — property-tested in
    tests/test_values_property.py."""
    if '"type"' in value_json or "NaN" in value_json \
            or "Infinity" in value_json:
        return object_hash(tagged_to_value(loads_value(value_json)))
    node = loads_value(value_json)
    if _BIGNUM_RE.search(value_json) is not None:
        # a ≥16-digit run may be an int beyond 2^53 → BigInteger promotion
        node = _canon_plain(node)
    try:
        canonical = json.dumps(node, sort_keys=True, separators=(",", ":"),
                               ensure_ascii=False, allow_nan=False)
    except ValueError:
        # A finite-looking literal can still PARSE non-finite: "1e999"
        # overflows to inf without any 'Infinity' substring, so the marker
        # screen misses it and allow_nan=False balks.  Take the semantic
        # path, which hashes it as the tagged Infinity constant — identical
        # to what the slow path always did for such values.
        return object_hash(tagged_to_value(loads_value(value_json)))
    return hashlib.sha256(canonical.encode("utf-8")).hexdigest()


# --- attachment links (ref library/utility/record-structure.js) -------------

HASH_URL_RE = re.compile(r"^hash://sha256/([0-9a-f]{64})(\?[^?]*)?$")


def _walk_strings(value: Any) -> Iterator[str]:
    """Yield every string in the value, including object keys, Set members,
    and Map keys+values (ref record-structure.js:9-29: keys *and* values)."""
    if isinstance(value, str):
        yield value
    elif isinstance(value, (list, tuple)):
        for v in value:
            yield from _walk_strings(v)
    elif isinstance(value, dict):
        for k, v in value.items():
            yield from _walk_strings(k)
            yield from _walk_strings(v)
    elif isinstance(value, PMap):
        for k, v in value.entries:
            yield from _walk_strings(k)
            yield from _walk_strings(v)
    elif isinstance(value, PSet):
        for m in value.members:
            yield from _walk_strings(m)
    elif isinstance(value, (set, frozenset)):
        for m in value:
            yield from _walk_strings(m)
    elif isinstance(value, URLValue):
        yield value.href


def list_hash_urls(value: Any) -> list[str]:
    """All distinct ``hash://sha256/...`` URIs in the value, sorted.
    Becomes the record's ``links`` column (attachment refcounting / GC)."""
    found = {s for s in _walk_strings(value) if HASH_URL_RE.match(s)}
    return sorted(found)


def hash_urls_in_json(value_json: str) -> list[str]:
    """:func:`list_hash_urls` for a value in tagged-JSON string form.  A
    hash URL can only appear as a complete string token, so a value whose
    raw JSON lacks the literal prefix cannot reference any attachment — the
    common case skips the parse and walk entirely."""
    if "hash://sha256/" not in value_json:
        return []
    return list_hash_urls(tagged_to_value(loads_value(value_json)))


def resolve_cid_links(value: Any, cid_map: dict[str, str]) -> Any:
    """Deep-clone ``value`` replacing ``cid:<name>`` strings with the uploaded
    attachment's hash URL (ref record-structure.js:44-72)."""

    def rewrite(v: Any) -> Any:
        if isinstance(v, str) and v.startswith("cid:"):
            name = v[4:]
            if name in cid_map:
                return cid_map[name]
            return v
        if isinstance(v, (list, tuple)):
            return [rewrite(x) for x in v]
        if isinstance(v, dict):
            return {rewrite(k): rewrite(x) for k, x in v.items()}
        if isinstance(v, PMap):
            return PMap((rewrite(k), rewrite(x)) for k, x in v.entries)
        if isinstance(v, PSet):
            return PSet(rewrite(m) for m in v.members)
        return v

    return rewrite(value)


# --- natural sort (ref string-natural-compare via base-data-model.js:46) ----

# ASCII digit runs ONLY: Java/RE2/JS '\d' (the Spark expression, the DuckDB
# oracle, and the reference's string-natural-compare) are all ASCII-bound,
# while Python's '\d' also matches unicode digits (fullwidth '５',
# Arabic-Indic '٣') — padding those Python-side would diverge the map-side
# nat_key from every JVM/SQL ordering of the same ids (caught r4 by the
# byte-parity corpus test).
_NAT_SPLIT = re.compile(r"([0-9]+)")


def natural_sort_key(s: str) -> tuple:
    """Sort key replicating natural string compare: digit runs compare
    numerically, text runs lexicographically.  Listing/export order of records
    is natural sort of record_id (a real observable semantic, SURVEY §1.2).

    Derived from :func:`natural_pad` + the raw string so the driver-side
    ordering is *by construction* identical to the Spark/oracle path
    (``ORDER BY natural_sort_col_expr(c), c``): digit runs sort before letter
    runs ('1' < 'a', matching char-code compare where digits < letters), and
    ids padding identically ('01' vs '1') tie-break on the raw string.
    (An earlier hand-rolled tuple key tagged text runs BEFORE digit runs —
    the reference's opposite — and tie-broke '1' ahead of '01'.)"""
    return (natural_pad(s), s)


def natural_pad(s: str, width: int = 24) -> str:
    """Python twin of :func:`natural_sort_col_expr`: left-pad digit runs so
    plain string comparison gives natural order.  Must stay byte-identical to
    the SQL expression (both are used as sort keys for the same data) —
    including Spark ``lpad``'s truncate-to-width behavior for digit runs
    longer than ``width`` (pathological ids; the raw-string tiebreak keeps
    ordering deterministic for them on both paths)."""
    parts = _NAT_SPLIT.split(s)
    out = []
    for i, p in enumerate(parts):
        if i % 2:
            out.append(p[:width] if len(p) > width else p.rjust(width, "0"))
        elif p:
            out.append(p)
    return "".join(out)


def natural_sort_col_expr(colname: str, width: int = 24) -> str:
    """A Spark SQL expression producing a string that sorts in natural order:
    every digit run is left-padded with zeros to ``width``.  JVM-side (no UDF)
    so distributed ORDER BY / range partitioning can use it directly.

    Ties between e.g. ``a01`` and ``a1`` are broken by the raw string; callers
    should ORDER BY (this_expr, raw).  The tokenizer regex (``\\d+|\\D+``)
    avoids lookarounds so the same expression works in RE2 engines (DuckDB
    oracle: ``array_to_string(list_transform(regexp_extract_all(...)))``).
    """
    return (
        f"array_join(transform(regexp_extract_all({colname}, '\\\\d+|\\\\D+', 0), "
        f"t -> if(t rlike '^\\\\d+$', lpad(t, {width}, '0'), t)), '')"
    )
