"""M1 — versioned multi-author dataset store.

Reimplements the reference's storage semantics (ref
``library/models/base-data-model.js``, ``dataset.js``) on a **log-structured
Parquet layout** instead of the reference's whole-archive-rewrite files
(SURVEY §4 explicitly says do *not* replicate that write amplification):

- every mutating batch appends ONE new parquet *segment* per collection
  (changed rows only, deletes as tombstones) — O(batch), never O(collection);
- ``overwrite`` writes a *base* segment: readers ignore all earlier segments
  (constant-time logical truncate);
- the current state is resolved per record_id by "latest segment wins"
  (max ``seq``), i.e. exactly a Delta/Iceberg MERGE log without the JVM jars
  this image lacks.  On a real cluster this module's write path maps 1:1 onto
  ``MERGE INTO records ... WHEN MATCHED AND s.hash <> t.hash THEN UPDATE ...``
  against a Delta table partitioned by ``(source, author, name)``.

Reference semantics preserved (tested in tests/test_store.py, FIXTURES F4):

- collection ``version`` is a monotonically increasing integer bumped once per
  mutating batch (ref base-data-model.js:30-31);
- each record stamps the collection version current at its last *content
  change*; rewriting an identical value is suppressed by content hash and does
  NOT bump the record's version (ref base-data-model.js:193-197, test
  test-models-dataset.js:115-122);
- a null value in a merge deletes that key (ref base-data-model.js:166-225);
- listing order is natural sort of record_id (ref base-data-model.js:46);
- record ids are 1..10000 chars, collection names ≤ 250 (ref dataset.js:23,34);
- every mutation emits a change event ``{path, source, author, name, version}``
  (ref update-events.js:7-14) — appended under ``changes/`` as one small JSON
  file per batch so Structured Streaming's file source can tail it.

Small metadata (catalog, per-collection meta) lives in a JSON file maintained
with the reference's atomic temp+rename dance; record data is parquet,
readable either driver-side (pyarrow: point reads, iteration — no JVM) or as
a Spark DataFrame (``read_df``: analytics, lens builds).
"""

from __future__ import annotations

import bisect
import collections
import contextlib
import fcntl
import json
import os
import re
import shutil
import stat
import tempfile
import threading
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Callable, Iterable, Iterator

import pyarrow as pa
import pyarrow.parquet as pq

from .paths import encode_path
from .values import (
    Undefined,
    hash_urls_in_json,
    list_hash_urls,
    natural_sort_key,
    object_hash,
    tagged_to_value,
    value_to_tagged,
)

SEGMENT_SCHEMA = pa.schema(
    [
        ("record_id", pa.string()),
        ("value", pa.string()),  # tagged-JSON dynamic value; null for tombstones
        ("hash", pa.string()),
        ("links", pa.list_(pa.string())),
        ("version", pa.int64()),
        ("deleted", pa.bool_()),
        ("seq", pa.int64()),
    ]
)

#: Spark read schema of a segment (SEGMENT_SCHEMA as DDL).  Every engine
#: segment read passes it: an unschema'd ``spark.read.parquet`` submits a
#: schema-inference job per call, and a pinned ``long`` also reads the
#: int64 ``version``/``seq`` of every writer at one width.
SEGMENT_DDL = ("record_id string, value string, hash string, "
               "links array<string>, version long, deleted boolean, seq long")

MAX_RECORD_ID_LEN = 10_000  # ref dataset.js:23
MAX_NAME_LEN = 250  # ref dataset.js:34
MAX_RECORD_SIZE = 20 * 1024 * 1024  # ref package.json defaults.maxRecordSize,
#   enforced at ingest like multipart-files.js:41,73 (size of the record's
#   serialized tagged-JSON value)


class StoreError(ValueError):
    pass


@dataclass
class CollectionMeta:
    source: str
    author: str
    name: str
    memo: str = ""
    version: int = 0
    created: float = field(default_factory=time.time)
    updated: float = field(default_factory=time.time)
    last_seq: int = 0
    base_seq: int = 0  # readers ignore segments with seq < base_seq
    config: dict = field(default_factory=dict)  # lens config etc.

    @property
    def key(self) -> str:
        return f"{self.source}/{self.author}/{self.name}"


def empty_local_df(spark, schema: str):
    """Zero-row DataFrame backed by an empty ``LocalTableScan``, NOT
    ``createDataFrame([])``'s ExistingRDD scan: Catalyst's
    PropagateEmptyRelation then deletes joins AND unions against it at plan
    time, where an ExistingRDD's unknown stats force real shuffle stages
    (a first lens build was paying a 32-task sort-merge join against an
    empty cache).  Built via ``WHERE 1=0`` so the optimizer folds it to a
    true LocalRelation (an empty ``Range`` only gets join elimination,
    not union elimination)."""
    from pyspark.sql.types import StructType

    fields = StructType.fromDDL(schema)
    cols = ", ".join(
        f"CAST(NULL AS {f.dataType.simpleString()}) AS `{f.name}`"
        for f in fields)
    return spark.sql(f"SELECT {cols} WHERE 1=0")


#: committed segment filenames: seg_<seq>[.<suffix>].parquet (file or
#: distributed part-dir) — anything else in a collection dir is ignored
_SEG_NAME_RE = re.compile(r"^seg_(\d+)(?:\.[A-Za-z0-9]+)*\.parquet$")


def _segment_files(path: str) -> list[str]:
    """Parquet files of one segment: the file itself (driver-side writes)
    or the part files of a distributed write's directory."""
    if not os.path.isdir(path):
        return [path]
    return sorted(os.path.join(path, f) for f in os.listdir(path)
                  if f.endswith(".parquet"))


def _open_parquet(f: str, metadata: "pq.FileMetaData | None" = None):
    """Open one segment file; with ``metadata`` its footer is not re-read.
    Every footer load and row-group read of the store goes through here."""
    return pq.ParquetFile(f, metadata=metadata)


@dataclass(frozen=True)
class _Footer:
    """One segment file's parsed footer, and ``(row group, min, max)`` of
    ``record_id`` for each non-empty row group.  ``min``/``max`` are None
    where the writer kept no usable statistics: such a group is always
    read."""
    metadata: pq.FileMetaData
    id_ranges: tuple[tuple[int, str | None, str | None], ...]

    def groups_holding(self, wanted: list[str]) -> list[int]:
        """Row groups whose ``record_id`` range can hold an id of the
        sorted list ``wanted``.  Python ``str`` order is code-point order,
        which is the UTF-8 byte order parquet keeps string statistics in."""
        hits = []
        for rg, lo, hi in self.id_ranges:
            if lo is not None:
                i = bisect.bisect_left(wanted, lo)
                if i == len(wanted) or wanted[i] > hi:
                    continue
            hits.append(rg)
        return hits


def _load_footer(f: str) -> _Footer:
    with _open_parquet(f) as pf:
        md = pf.metadata
    ranges = []
    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        if group.num_rows == 0:
            continue
        lo = hi = None
        for c in range(group.num_columns):
            col = group.column(c)
            if col.path_in_schema != "record_id":
                continue
            st = col.statistics
            # pyarrow keeps min/max only up to 4 KB each, and when just one
            # side is over it writes that side as "" (seen on a 5,000-char
            # max): a range with lo > hi is unusable, not empty
            if (st is not None and st.has_min_max
                    and isinstance(st.min, str) and isinstance(st.max, str)
                    and st.min <= st.max):
                lo, hi = st.min, st.max
            break
        ranges.append((rg, lo, hi))
    return _Footer(md, tuple(ranges))


class _FooterCache:
    """Bounded LRU of segment file -> :class:`_Footer`, keyed by the
    file's identity ``(path, inode, size, mtime)``: committed segment files
    are never rewritten in place, so a parsed footer stays valid while its
    key holds.  An entry is a few KB."""

    CAPACITY = 4096  # files

    def __init__(self):
        self._entries: collections.OrderedDict[tuple, _Footer] = \
            collections.OrderedDict()
        self._lock = threading.Lock()

    def segment(self, path: str) -> list[tuple[str, _Footer]]:
        """``(file, footer)`` of each parquet file of committed segment
        ``path`` (:func:`_segment_files`), one ``stat`` per file."""
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return [(path, self._get(path, st))]
        return [(f, self._get(f, os.stat(f))) for f in _segment_files(path)]

    def _get(self, f: str, st: os.stat_result) -> _Footer:
        key = (f, st.st_ino, st.st_size, st.st_mtime_ns)
        with self._lock:
            hit = self._entries.get(key)
            if hit is not None:
                self._entries.move_to_end(key)
                return hit
        return self.load(f, st)

    def load(self, f: str, st: os.stat_result | None = None) -> _Footer:
        """Read ``f``'s footer and cache it, replacing any entry under the
        same key."""
        st = st or os.stat(f)
        footer = _load_footer(f)
        with self._lock:
            self._entries[f, st.st_ino, st.st_size, st.st_mtime_ns] = footer
            while len(self._entries) > self.CAPACITY:
                self._entries.popitem(last=False)
        return footer

    def forget(self, directory: str) -> None:
        """Drop the entries of every file under ``directory`` (a deleted
        collection or emission log, whose segment paths a recreated one
        reuses)."""
        prefix = os.path.join(os.path.abspath(directory), "")
        with self._lock:
            for key in [k for k in self._entries
                        if os.path.abspath(k[0]).startswith(prefix)]:
                del self._entries[key]


def _validate_name(name: str) -> None:
    if not isinstance(name, str) or not (1 <= len(name) <= MAX_NAME_LEN):
        raise StoreError(f"invalid collection name: {name!r}")
    if "/" in name or name.startswith("."):
        raise StoreError(f"invalid collection name: {name!r}")


def _validate_record_id(rid: str) -> None:
    if not isinstance(rid, str) or not (1 <= len(rid) <= MAX_RECORD_ID_LEN):
        raise StoreError(f"invalid record id: {rid!r}")


class DatasetStore:
    """Multi-author dataset/lens store rooted at a local or cluster path."""

    def __init__(self, root: str, attachment_checker: Callable[[str], bool] | None = None):
        self.root = root
        os.makedirs(os.path.join(root, "changes"), exist_ok=True)
        self._catalog_path = os.path.join(root, "catalog.json")
        self._catalog: dict[str, CollectionMeta] = {}
        # per-collection write serialization (the reference queues mutations
        # per file, tiny-function-queue via fs/raw.js:80, fs/objects.js:127);
        # concurrent writers to ONE collection must not race seq/version
        self._locks: dict[str, threading.Lock] = collections.defaultdict(
            threading.Lock)
        self._locks_guard = threading.Lock()
        # serializes catalog-dict mutation + snapshot-save: without it a
        # create() concurrent with another collection's write can hit "dict
        # changed size during iteration" in _save_catalog or persist a stale
        # snapshot.  RLock: mutators hold it across mutate+save, and
        # _save_catalog re-acquires.
        self._catalog_lock = threading.RLock()
        self._load_catalog()
        self._footers = _FooterCache()
        # when set, writes containing hash:// links whose blob is absent are
        # rejected (ref base-data-model.js:185-188)
        self.attachment_checker = attachment_checker

    # -- catalog ------------------------------------------------------------

    def _load_catalog(self) -> None:
        with self._catalog_lock:
            if os.path.exists(self._catalog_path):
                with open(self._catalog_path, encoding="utf-8") as f:
                    raw = json.load(f)
                self._catalog = {k: CollectionMeta(**v)
                                 for k, v in raw.items()}

    def refresh(self) -> None:
        """Re-read the catalog from disk.  A DatasetStore instance reads
        through its constructor-time catalog snapshot; when ANOTHER
        instance (or process) has written since — e.g. the connector's
        session-less commit worker next to a library handle — call this
        before reading to see its segments/base_seq.  Write paths refresh
        automatically inside their transaction (``_txn``)."""
        self._load_catalog()

    @contextlib.contextmanager
    def _txn(self, source: str, author: str, name: str):
        """Cross-instance write transaction.

        Three layers: the in-process per-collection lock (thread
        serialization, the reference's queued-mutation property), an
        EXCLUSIVE flock on ``<root>/.store.lock`` (serializes seq/version
        allocation across DatasetStore INSTANCES and same-host processes
        — the connector's commit worker constructs its own instance, so
        instance-cached ``last_seq`` alone would collide segment numbers
        and resurrect deleted records; found live by a staged-write
        test), and a disk-fresh catalog reload so the transaction starts
        from the true committed state.  The flock spans segment write +
        catalog save: store-wide, not per-collection — the documented
        trade for a single lock file; per-collection lock files are the
        refinement if concurrent multi-collection ingest ever matters.
        On a shared-nothing cluster the local-FS store is per-node
        scratch by contract; the production tier is a transactional
        table format's commit protocol, not flock."""
        with self._collection_lock(source, author, name):
            fd = os.open(os.path.join(self.root, ".store.lock"),
                         os.O_CREAT | os.O_RDWR, 0o644)
            try:
                fcntl.flock(fd, fcntl.LOCK_EX)
                self._load_catalog()
                yield
            finally:
                fcntl.flock(fd, fcntl.LOCK_UN)
                os.close(fd)

    def _save_catalog(self) -> None:
        # atomic temp+rename, the reference's crash-safe pattern (fs/raw.js:152-197)
        with self._catalog_lock:
            data = {k: vars(m) for k, m in self._catalog.items()}
            fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".tmp")
            try:
                with os.fdopen(fd, "w", encoding="utf-8") as f:
                    json.dump(data, f)
                os.replace(tmp, self._catalog_path)
            except Exception:
                # a failed dump/replace must not leave its spool behind
                # (the attachment/change-feed crash-debris class)
                if os.path.exists(tmp):
                    os.remove(tmp)
                raise

    def _meta(self, source: str, author: str, name: str) -> CollectionMeta:
        key = f"{source}/{author}/{name}"
        if key not in self._catalog:
            raise StoreError(f"no such collection: {key}")
        return self._catalog[key]

    def _dir(self, meta: CollectionMeta) -> str:
        return os.path.join(self.root, "records", meta.source, meta.author, meta.name)

    # -- collection lifecycle ----------------------------------------------

    def create(self, author: str, name: str, *, source: str = "datasets",
               memo: str = "", config: dict | None = None) -> CollectionMeta:
        _validate_name(name)
        _validate_name(author)
        key = f"{source}/{author}/{name}"
        with self._txn(source, author, name), self._catalog_lock:
            if key in self._catalog:
                raise StoreError(f"collection exists: {key}")
            meta = CollectionMeta(source=source, author=author, name=name, memo=memo,
                                  config=config or {})
            os.makedirs(self._dir(meta), exist_ok=True)
            self._catalog[key] = meta
            self._save_catalog()
        return meta

    def exists(self, author: str, name: str, record_id: str | None = None,
               *, source: str = "datasets") -> bool:
        key = f"{source}/{author}/{name}"
        if key not in self._catalog:
            return False
        if record_id is None:
            return True
        return record_id in self._read_latest(self._catalog[key],
                                              [record_id], [])

    def delete_collection(self, author: str, name: str, *, source: str = "datasets") -> None:
        with self._txn(source, author, name), self._catalog_lock:
            meta = self._meta(source, author, name)
            shutil.rmtree(self._dir(meta), ignore_errors=True)
            self._footers.forget(self._dir(meta))
            del self._catalog[meta.key]
            self._save_catalog()
        self._emit_change(meta)

    def list_authors(self, *, source: str = "datasets") -> list[str]:
        return sorted({m.author for m in self._catalog.values() if m.source == source},
                      key=natural_sort_key)

    def list_names(self, author: str, *, source: str = "datasets") -> list[str]:
        return sorted((m.name for m in self._catalog.values()
                       if m.source == source and m.author == author), key=natural_sort_key)

    def get_meta(self, author: str, name: str, *, source: str = "datasets") -> CollectionMeta:
        return self._meta(source, author, name)

    def set_config(self, author: str, name: str, config: dict, *,
                   source: str = "datasets", memo: str | None = None) -> CollectionMeta:
        # collection lock: the version bump races concurrent write_entries
        # version bumps on the same collection (e.g. lens cursor updates vs
        # user writes) without it
        with self._txn(source, author, name):
            meta = self._meta(source, author, name)
            meta.config = config
            if memo is not None:
                meta.memo = memo
            meta.version += 1
            meta.updated = time.time()
            self._save_catalog()
        self._emit_change(meta)
        return meta

    # -- current-state resolution (driver-side) -----------------------------

    @staticmethod
    def _seg_seq(fn: str) -> int | None:
        """Segment seq from a filename, or None for anything that is not
        a committed segment (``seg_<seq>[.suffix].parquet``).  The
        listing-based resolution must TOLERATE stray files — a user's
        copy-paste, an orphaned artifact — instead of crashing every read
        of the collection with an int-parse error (found by review: any
        'data.parquet' dropped into a segment dir killed read_df)."""
        m = _SEG_NAME_RE.match(fn)
        return int(m.group(1)) if m else None

    def _segments(self, meta: CollectionMeta) -> list[str]:
        """Segment paths in seq order.  A segment is either a single parquet
        file (driver-side writes) or a directory of parquet part-files
        (distributed writes keep Spark's output layout — no driver-side
        consolidation, which would serialize the whole batch through one
        core)."""
        d = self._dir(meta)
        if not os.path.isdir(d):
            return []
        segs = []
        for fn in os.listdir(d):
            seq = self._seg_seq(fn)
            if seq is not None and seq >= meta.base_seq:
                segs.append((seq, os.path.join(d, fn)))
        return [p for _s, p in sorted(segs)]

    def _state(self, meta: CollectionMeta) -> dict[str, dict]:
        """record_id -> {value, hash, links, version} latest-wins resolution.

        Loads VALUES into driver memory — only for whole-collection rewrites
        (compact, overwrite).  Everything else uses :meth:`_state_meta`
        (metadata only) or :meth:`_read_latest` (filtered by id)."""
        state: dict[str, dict] = {}
        for path in self._segments(meta):
            table = pq.read_table(path)
            for row in table.to_pylist():
                if row["deleted"]:
                    state.pop(row["record_id"], None)
                else:
                    state[row["record_id"]] = {
                        "value": row["value"],
                        "hash": row["hash"],
                        "links": row["links"],
                        "version": row["version"],
                    }
        return state

    def _state_meta(self, meta: CollectionMeta) -> dict[str, dict]:
        """record_id -> {hash, links, version} latest-wins resolution with
        the fat ``value`` column never leaving parquet: driver memory is
        O(ids + hashes), not O(data).  Backs listing and iteration
        order."""
        state: dict[str, dict] = {}
        for path in self._segments(meta):
            table = pq.read_table(
                path, columns=["record_id", "hash", "links", "version", "deleted"])
            for row in table.to_pylist():
                if row["deleted"]:
                    state.pop(row["record_id"], None)
                else:
                    state[row["record_id"]] = {
                        "hash": row["hash"],
                        "links": row["links"],
                        "version": row["version"],
                    }
        return state

    def _read_latest(self, meta: CollectionMeta, ids: Iterable[str],
                     columns: list[str]) -> dict[str, dict]:
        """Latest-wins live rows (``columns`` only) for the given ids.

        Zone-map pruned: each segment file's cached footer (:class:`_FooterCache`)
        gives every row group's ``record_id`` min/max, so only the row
        groups whose range can hold a wanted id are opened and decoded
        (those groups' ``record_id``, ``columns`` and ``deleted`` in full),
        then filtered to the ids.  A point read of a log of one-row
        delta segments opens the base and the deltas that hold the id;
        a base written as one row group (every driver-side write) is
        decoded whole whenever the id falls inside its range."""
        import pyarrow.compute as pc

        wanted = sorted(set(ids))
        if not wanted:
            return {}
        value_set = pa.array(wanted, pa.string())
        cols = ["record_id", *columns, "deleted"]
        rows: dict[str, dict] = {}
        for path in self._segments(meta):
            for f, footer in self._footers.segment(path):
                hits = footer.groups_holding(wanted)
                if not hits:
                    continue
                with _open_parquet(f, footer.metadata) as pf:
                    table = pf.read_row_groups(hits, columns=cols)
                table = table.filter(
                    pc.is_in(table["record_id"], value_set=value_set))
                for row in table.to_pylist():
                    if row["deleted"]:
                        rows.pop(row["record_id"], None)
                    else:
                        rows[row["record_id"]] = row
        return rows

    def _read_values(self, meta: CollectionMeta,
                     ids: Iterable[str]) -> dict[str, str]:
        """Latest-wins tagged-JSON values for the given ids only
        (:meth:`_read_latest`)."""
        return {rid: row["value"] for rid, row in
                self._read_latest(meta, ids, ["value"]).items()}

    # -- reads --------------------------------------------------------------

    def read(self, author: str, name: str, record_id: str, *,
             source: str = "datasets") -> Any:
        """Point lookup through :meth:`_read_latest`: only the segment
        files and row groups whose ``record_id`` range holds the id are
        read, never a collection load."""
        meta = self._meta(source, author, name)
        vals = self._read_values(meta, [record_id])
        if record_id not in vals:
            raise KeyError(record_id)
        return tagged_to_value(json.loads(vals[record_id]))

    def list_record_ids(self, author: str, name: str, *, source: str = "datasets") -> list[str]:
        meta = self._meta(source, author, name)
        return sorted(self._state_meta(meta), key=natural_sort_key)

    def iterate(self, author: str, name: str, *, source: str = "datasets",
                fast_read: bool = False,
                value_chunk_size: int = 10_000) -> Iterator[dict]:
        """Yield {id, version, hash, links[, value]} in natural-sort order
        (ref base-data-model.js:89-117).

        Memory-bounded: the id/metadata index is resolved without loading
        values; with ``fast_read`` values are fetched in natural-order
        chunks of ``value_chunk_size`` ids via :meth:`_read_latest`, so
        peak driver memory is one chunk of values, not the collection."""
        meta = self._meta(source, author, name)
        st = self._state_meta(meta)
        order = sorted(st, key=natural_sort_key)
        for start in range(0, len(order), value_chunk_size):
            chunk = order[start:start + value_chunk_size]
            vals = self._read_values(meta, chunk) if fast_read else {}
            for rid in chunk:
                rec = st[rid]
                out = {"id": rid, "version": rec["version"],
                       "hash": rec["hash"], "links": rec["links"]}
                if fast_read:
                    if rid not in vals:
                        # _read_values re-lists segments live, so a
                        # concurrent writer (the multi-process setup _txn
                        # supports) may have tombstoned this record after
                        # the _state_meta snapshot — skip it instead of a
                        # KeyError mid-iteration (review finding)
                        continue
                    out["value"] = tagged_to_value(json.loads(vals[rid]))
                yield out

    def _segments_as_of(self, meta: CollectionMeta, as_of_seq: int) -> list[str]:
        """Segment paths reconstructing the state AS OF ``as_of_seq``
        (time travel).  Unlike :meth:`_segments` this ignores the CURRENT
        ``base_seq``: an overwrite logically truncates the log but keeps
        the old files, so history before it stays readable; the effective
        base for the requested point is the newest base segment at or
        before it.  Compaction is the VACUUM horizon — it physically
        removes old segments, and a request behind the horizon raises
        instead of silently returning a wrong (partial) state: the log
        must either carry a base <= as_of_seq or reach back to seq 1."""
        d = self._dir(meta)
        kept: list[tuple[int, bool, str]] = []
        if os.path.isdir(d):
            for fn in sorted(os.listdir(d)):
                seq = self._seg_seq(fn)
                if seq is None:
                    continue
                if seq <= as_of_seq:
                    kept.append((seq, ".base." in fn, os.path.join(d, fn)))
        base = max((s for s, is_b, _p in kept if is_b), default=0)
        kept = [(s, b, p) for s, b, p in kept if s >= base]
        # every seq 1..last_seq wrote exactly one segment (suppressed
        # batches consume no seq), so the state is reconstructible iff
        # the surviving log covers the DENSE range [max(base, 1), S_eff]
        # — a missing head OR tail means compaction removed it
        s_eff = min(as_of_seq, meta.last_seq)
        if s_eff >= 1:
            have = {s for s, _b, _p in kept}
            need = range(max(base, 1), s_eff + 1)
            missing = [s for s in need if s not in have]
            if missing:
                raise StoreError(
                    f"history at seq {as_of_seq} compacted away "
                    f"(missing segment seqs {missing[:5]}...)")
        return [p for _s, _b, p in sorted(kept)]

    def read_df(self, spark, author: str, name: str, *,
                source: str = "datasets", as_of_seq: int | None = None):
        """Current state as a Spark DataFrame
        ``(record_id, value, hash, links, version)``.

        Latest-wins resolution is expressed relationally (window over the
        segment log) so Catalyst handles it; at scale the segment scan is
        partition-pruned to one collection directory and compaction keeps the
        log short.

        ``as_of_seq`` is TIME TRAVEL: reconstruct the state as of that
        segment seq (the same offset axis the change-feed stream and
        ``read_delta_df`` use) — the lakehouse read the log-structured
        layout buys over the reference's rewrite-in-place files, bounded
        by the compaction horizon (:meth:`_segments_as_of`).
        """
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        meta = self._meta(source, author, name)
        segs = (self._segments(meta) if as_of_seq is None
                else self._segments_as_of(meta, as_of_seq))
        if not segs:
            return empty_local_df(
                spark, "record_id string, value string, hash string, "
                       "links array<string>, version long")
        df = spark.read.schema(SEGMENT_DDL).parquet(*segs)
        if len(segs) > 1:
            # latest-wins only matters when a record_id can appear in more
            # than one segment; a single-segment log (fresh ingest, post-
            # compaction, post-overwrite) skips the shuffle entirely
            w = Window.partitionBy("record_id").orderBy(F.desc("seq"))
            df = df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1)
        return df.where(~F.col("deleted")).select(
            "record_id", "value", "hash", "links", "version")

    def read_delta_df(self, spark, author: str, name: str, since_seq: int, *,
                      source: str = "datasets"):
        """Rows changed AFTER segment ``since_seq`` as a DataFrame
        ``(record_id, value, hash, links, version, deleted)`` — deletions
        included as tombstone rows.

        The log-structured segment layout gives change-data-feed semantics
        for free: a record's current state lives in the newest segment that
        touched it, so scanning only segments with ``seq > since_seq``
        (latest-wins within them) yields exactly the delta.  Cost ∝ delta
        size, not collection size — the basis of incremental lens builds.

        NOT valid across an ``overwrite`` (base segments silently drop
        unmentioned keys); callers must check ``meta.base_seq <= since_seq``
        and fall back to a full diff otherwise.
        """
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        meta = self._meta(source, author, name)
        if meta.base_seq > since_seq:
            raise StoreError(
                f"delta read across an overwrite (base_seq={meta.base_seq} > "
                f"since_seq={since_seq}); use read_df")
        d = self._dir(meta)
        segs = []
        for fn in os.listdir(d) if os.path.isdir(d) else []:
            seq = self._seg_seq(fn)
            if seq is not None and seq > since_seq:
                segs.append(os.path.join(d, fn))
        cols = ["record_id", "value", "hash", "links", "version", "deleted"]
        if not segs:
            return empty_local_df(
                spark, "record_id string, value string, hash string, "
                       "links array<string>, version long, deleted boolean")
        df = spark.read.schema(SEGMENT_DDL).parquet(*segs)
        if len(segs) > 1:
            w = Window.partitionBy("record_id").orderBy(F.desc("seq"))
            df = df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1)
        return df.select(*cols)

    def delta_size(self, author: str, name: str, since_seq: int, *,
                   source: str = "datasets") -> tuple[int, int]:
        """``(bytes, rows)`` of the segments :meth:`read_delta_df` would
        scan for ``since_seq`` — free, driver-side (file sizes and parquet
        footers only).  Callers use the bytes to size CPU-bound stage
        parallelism to the DELTA instead of full fan-out, and the rows
        (an upper bound: latest-wins may fold some) to pick a driver-side
        plan for small deltas."""
        meta = self._meta(source, author, name)
        d = self._dir(meta)
        n_bytes = n_rows = 0
        for fn in os.listdir(d) if os.path.isdir(d) else []:
            seq = self._seg_seq(fn)
            if seq is None or seq <= since_seq:
                continue
            for f, footer in self._footers.segment(os.path.join(d, fn)):
                n_bytes += os.path.getsize(f)
                n_rows += footer.metadata.num_rows
        return n_bytes, n_rows

    # -- writes -------------------------------------------------------------

    def write(self, author: str, name: str, record_id: str, value: Any, *,
              source: str = "datasets") -> CollectionMeta:
        return self.write_entries(author, name, [(record_id, value)], source=source)

    def delete_record(self, author: str, name: str, record_id: str, *,
                      source: str = "datasets") -> CollectionMeta:
        return self.write_entries(author, name, [(record_id, None)], source=source,
                                  _allow_missing_delete=False)

    def _collection_lock(self, source: str, author: str, name: str):
        with self._locks_guard:
            return self._locks[f"{source}/{author}/{name}"]

    def write_entries(self, author: str, name: str,
                      entries: Iterable[tuple[str, Any]], *,
                      source: str = "datasets", overwrite: bool = False,
                      precanonical: bool = False, no_links: bool = False,
                      _allow_missing_delete: bool = True) -> CollectionMeta:
        with self._txn(source, author, name):
            return self._write_entries_impl(
                author, name, entries, source=source, overwrite=overwrite,
                precanonical=precanonical, no_links=no_links,
                _allow_missing_delete=_allow_missing_delete)

    def write_entries_df(self, spark, author: str, name: str, df, *,
                         source: str = "datasets", overwrite: bool = False,
                         precanonical: bool = False,
                         no_links: bool = False,
                         assume_unique_ids: bool = False,
                         suppress_scope_ids=None) -> CollectionMeta:
        with self._txn(source, author, name):
            return self._write_entries_df_impl(
                spark, author, name, df, source=source, overwrite=overwrite,
                precanonical=precanonical, no_links=no_links,
                assume_unique_ids=assume_unique_ids,
                suppress_scope_ids=suppress_scope_ids)

    def compact_df(self, spark, author: str, name: str, *,
                   source: str = "datasets") -> None:
        with self._txn(source, author, name):
            self._sweep_stale_stages(self._meta(source, author, name))
            return self._compact_df_impl(spark, author, name, source=source)

    def _write_entries_impl(self, author: str, name: str,
                            entries: Iterable[tuple[str, Any]], *,
                            source: str = "datasets", overwrite: bool = False,
                            precanonical: bool = False, no_links: bool = False,
                            _allow_missing_delete: bool = True) -> CollectionMeta:
        """Batch upsert/merge (ref base-data-model.js:166-225).

        ``(rid, None)`` ⇒ delete that key.  ``overwrite=True`` replaces the
        whole collection (unmentioned keys dropped) via a base segment.
        Identical-value writes are hash-suppressed: they neither rewrite the
        row nor bump versions.  Plain upserts resolve the current hash and
        version of the batch's ids only (:meth:`_read_latest`), so a
        point write reads only the segments that can hold its id.

        ``precanonical=True`` (engine-internal writers: the lens cache and
        output) takes each value as a tagged-JSON string already in
        ``canonical_json`` form, stored as given and hashed as
        ``sha256(value)`` — the same bytes and hashes
        :meth:`write_entries_df` writes with the same flag.  Such derived
        values skip the attachment check, as the distributed writer does;
        ``no_links`` additionally leaves ``links`` empty.
        """
        import hashlib

        meta = self._meta(source, author, name)
        entries = list(entries)
        for rid, _v in entries:
            _validate_record_id(rid)
        # overwrite re-emits suppressed rows' values into the base segment
        # and prunes unmentioned keys, so it needs the whole state; plain
        # upserts only compare the batch's own hashes
        current = (self._state(meta) if overwrite else self._read_latest(
            meta, (rid for rid, _v in entries), ["hash", "version"]))
        next_version = meta.version + 1

        rows: list[dict] = []
        seen: set[str] = set()
        changed = False
        for rid, value in entries:
            if rid in seen:
                raise StoreError(f"duplicate record id in batch: {rid!r}")
            seen.add(rid)
            if value is None or value is Undefined:
                if rid in current:
                    changed = True
                    if not overwrite:
                        rows.append(self._tombstone(rid, next_version))
                elif not _allow_missing_delete and not overwrite:
                    raise KeyError(rid)
                continue
            value_json = value if precanonical else json.dumps(
                value_to_tagged(value), ensure_ascii=False)
            value_bytes = value_json.encode("utf-8")
            if len(value_bytes) > MAX_RECORD_SIZE:
                raise StoreError(
                    f"record {rid!r} exceeds maxRecordSize "
                    f"({MAX_RECORD_SIZE} bytes)")
            h = (hashlib.sha256(value_bytes).hexdigest() if precanonical
                 else object_hash(value))
            if no_links:
                links = []
            elif precanonical:
                links = hash_urls_in_json(value_json)
            else:
                links = list_hash_urls(value)
                if self.attachment_checker is not None:
                    missing = [u for u in links
                               if not self.attachment_checker(u)]
                    if missing:
                        raise StoreError(
                            f"attachments missing for links: {missing}")
            prev = current.get(rid)
            if prev is not None and prev["hash"] == h:
                # change-suppression: identical content, keep old version
                if overwrite:
                    rows.append({"record_id": rid, "value": prev["value"],
                                 "hash": prev["hash"], "links": prev["links"],
                                 "version": prev["version"], "deleted": False})
                continue
            changed = True
            rows.append({"record_id": rid, "value": value_json, "hash": h,
                         "links": links, "version": next_version, "deleted": False})

        if overwrite and (set(current) - seen):
            changed = True  # overwrite drops unmentioned keys (prune, ref :216-218)

        if not changed:
            # fully hash-suppressed batch: no version bump, no segment, no
            # change event — identical writes must not trigger downstream
            # rebuilds (SURVEY §4 "change suppression by content hash")
            return meta

        meta.last_seq += 1
        seq = meta.last_seq
        for r in rows:
            r["seq"] = seq
        suffix = "base" if overwrite else "delta"
        path = os.path.join(self._dir(meta), f"seg_{seq:08d}.{suffix}.parquet")
        self._write_segment(rows, path)
        if overwrite:
            meta.base_seq = seq
        meta.version = next_version
        meta.updated = time.time()
        self._save_catalog()
        self._emit_change(meta)
        return meta

    def _write_entries_df_impl(self, spark, author: str, name: str, df, *,
                               source: str = "datasets",
                               overwrite: bool = False,
                               precanonical: bool = False,
                               no_links: bool = False,
                               assume_unique_ids: bool = False,
                               suppress_scope_ids=None) -> CollectionMeta:
        """Distributed batch write: ``df`` has columns (record_id, value)
        with ``value`` in tagged-JSON form.

        Hash/links are computed in an Arrow-batched pandas UDF (scales
        linearly, no shuffle); change-suppression joins the incoming batch
        against current state on record_id — at scale this is the Delta MERGE
        matched-condition.  The changed subset is written as one segment.

        ``suppress_scope_ids``: when the caller KNOWS every record_id in
        ``df`` (a small driver-side list — e.g. the lens engine's
        incremental cache write, whose delta ids it already collected),
        passing them prunes the suppression-state read to those ids: the
        ``record_id IN (...)`` predicate pushes below the latest-wins
        window, so a point write against a huge collection reads a
        filtered column-pruned scan instead of shuffling the whole state
        into the merge join (the 100 TB point-update shape).  The caller
        GUARANTEES the batch contains no other ids — rows outside the
        scope would dodge suppression and double-write.  Incompatible
        with ``overwrite`` (whose unmentioned-key prune needs full state).

        ``precanonical=True`` asserts every value string is EXACTLY its
        ``values.canonical_json`` form (engine-internal writers — the lens
        cache/output paths — serialize that way at the source).  Then
        ``object_hash(value) == sha256(value_string)`` by definition, so the
        hash moves into whole-stage codegen (``F.sha2``) and the write job
        needs no Python hash pass at all — byte-identical hashes, zero
        convention drift against driver-side ``write_entries``.
        """
        import glob as _glob
        from pyspark.sql import functions as F

        from .udfs import hash_value_udf, links_udf

        _t0 = time.time()
        _trace = (lambda tag: print(
            f"[write_entries_df {author}:{name}] {tag}: {time.time() - _t0:.2f}s",
            flush=True)) if os.environ.get("PO_STORE_TIMING") else (lambda tag: None)

        meta = self._meta(source, author, name)
        next_version = meta.version + 1
        empty = not self._segments(meta)

        # record ids are strings in the data model — coerce here so a caller
        # passing a numeric key column doesn't write a drifted segment schema
        # (driver-side iterate/export would then crash on natural-sort)
        df = df.withColumn("record_id", F.col("record_id").cast("string"))
        # batch-contract validation — the write_entries parity rules,
        # previously driver-path-only (review finding).  Null/empty/
        # oversize ids break natural-sort and the path surface: checked
        # PER ROW riding the existing jobs (raise_error, zero extra
        # stages).  Duplicate ids in ONE batch give two rows the same
        # seq, so latest-wins picks a NONDETERMINISTIC winner: that
        # class is checked AFTER the write job, on the STAGED segment
        # parquet (one column-pruned scan of materialized data) rather
        # than by re-evaluating the — possibly expensive, uncached —
        # upstream lineage a second time; the segment only commits
        # (rename + version bump + change event) once the check passes.
        # Checking post-suppression is also the precise contract: dup
        # ids whose extra rows were all hash-suppressed leave at most
        # one row at this seq, so the stored outcome is deterministic.
        # Callers whose batches are unique BY CONSTRUCTION (a groupBy /
        # distinct immediately upstream — the lens engine's writes,
        # fixture ingests keyed by a primary key) may pass
        # ``assume_unique_ids=True`` to skip the scan entirely — only
        # safe under that by-construction guarantee, like the
        # precanonical/no_links class of internal fast-path flags.
        df = df.withColumn("record_id", F.when(
            F.col("record_id").isNull()
            | (F.length("record_id") < 1)
            | (F.length("record_id") > MAX_RECORD_ID_LEN),
            F.raise_error(F.concat(
                F.lit("invalid record id (null/empty/oversize): "),
                F.coalesce(F.col("record_id"), F.lit("<null>")))),
        ).otherwise(F.col("record_id")))
        # canonical-hash + link extraction are CPU-bound Python (Arrow
        # batches); inherit-the-scan partitioning routinely under-parallelizes
        # them (AQE's IO-sized coalesce can leave a 600k-row batch on 1-2
        # partitions).  Round-robin to session parallelism first — the
        # shuffle is cheap relative to ~16us/record hashing, and the segment
        # directory tolerates any file count.  When the write is pure JVM
        # (precanonical hash via sha2, no link walk) there is no Python
        # stage to feed: the shuffle would move the whole batch once for
        # nothing (r11 stage attribution: ~11 executor-cpu-s per 600k-row
        # lens cache write) — keep the upstream partitioning.
        if not (precanonical and no_links):
            df = df.repartition(spark.sparkContext.defaultParallelism)
        upserts_in = (
            df.select("record_id", "value").where(F.col("value").isNotNull())
            # maxRecordSize guard, JVM-side (octet_length = UTF-8 bytes):
            # oversize rows abort the write job before any segment commits
            .withColumn("value", F.when(
                F.octet_length("value") > MAX_RECORD_SIZE,
                F.raise_error(F.concat(
                    F.lit(f"record exceeds maxRecordSize ({MAX_RECORD_SIZE} bytes): "),
                    F.col("record_id"))),
            ).otherwise(F.col("value")))
            .withColumn("hash", F.sha2("value", 256) if precanonical
                        else hash_value_udf("value"))
            # no_links: writers whose values structurally cannot reference
            # attachments (the lens compute cache embeds user outputs inside
            # JSON *strings*, where a bare hash:// URL can't occur) skip the
            # Arrow roundtrip entirely
            .withColumn("links", F.array().cast("array<string>") if no_links
                        else links_udf("value"))
        )
        n_dropped = 0
        if empty:
            # fast path: nothing to suppress against, deletes are no-ops —
            # every non-null row is an insert, no join, ONE job
            rows = upserts_in.select(
                "record_id", "value", "hash", "links",
                F.lit(next_version).alias("version"),
                F.lit(False).alias("deleted"),
            )
        else:
            deletes_in = df.select("record_id").where(F.col("value").isNull())
            cur = self.read_df(spark, author, name, source=source)
            if suppress_scope_ids is not None:
                if overwrite:
                    # Hard error (not assert: must survive python -O) —
                    # overwrite prunes unmentioned keys against the
                    # *visible* state, and a scoped view is incomplete,
                    # so combining them would silently drop records.
                    raise ValueError(
                        "suppress_scope_ids is incompatible with "
                        "overwrite")
                cur = cur.where(F.col("record_id").isin(
                    list(suppress_scope_ids)))
            cur = cur.select(
                "record_id", F.col("hash").alias("_old_hash"),
                F.col("version").alias("_old_version"),
            )
            joined = upserts_in.join(cur, "record_id", "left")
            if overwrite:
                rows = joined.select(
                    "record_id", "value", "hash", "links",
                    F.when(F.col("_old_hash") == F.col("hash"), F.col("_old_version"))
                    .otherwise(F.lit(next_version)).alias("version"),
                    F.lit(False).alias("deleted"),
                )
                # a dropped current key is a change even if no row changed
                n_dropped = cur.join(upserts_in.select("record_id"), "record_id",
                                     "left_anti").count()
            else:
                upserts = joined.where(
                    F.col("_old_hash").isNull() | (F.col("_old_hash") != F.col("hash"))
                ).select(
                    "record_id", "value", "hash", "links",
                    F.lit(next_version).alias("version"),
                    F.lit(False).alias("deleted"),
                )
                # deletes only for keys that currently exist (else no-op)
                deletes = deletes_in.join(cur, "record_id", "left_semi").select(
                    "record_id",
                    F.lit(None).cast("string").alias("value"),
                    F.lit(None).cast("string").alias("hash"),
                    F.array().cast("array<string>").alias("links"),
                    F.lit(next_version).alias("version"),
                    F.lit(True).alias("deleted"),
                )
                rows = upserts.unionByName(deletes)

        # single write job into a staged dir; "did anything change" is read
        # back from parquet footer metadata (row counts / version stats), not
        # by re-running the plan
        seq = meta.last_seq + 1
        suffix = "base" if overwrite else "delta"
        stage = os.path.join(self._dir(meta), f"_stage_{uuid.uuid4().hex}")
        _trace("plan")
        from .session import job_desc as _job_desc
        # version/seq MUST be written int64: the pyarrow write path
        # (write_entries / tombstones) uses SEGMENT_SCHEMA's int64, and a
        # Python-int F.lit() is int32 — mixed-width segments fail the
        # parquet read (found by store_compact_verify mixing the paths)
        with _job_desc(spark, f"store write {source}/{author}:{name}"):
            rows.withColumn("seq", F.lit(seq).cast("long")) \
                .withColumn("version", F.col("version").cast("long")) \
                .select(*[f.name for f in SEGMENT_SCHEMA]) \
                .write.mode("overwrite").parquet(stage)
        _trace("write_job")

        parts = _glob.glob(os.path.join(stage, "*.parquet"))
        ver_idx = SEGMENT_SCHEMA.get_field_index("version")
        n_rows = 0
        max_version = None
        for p in parts:
            md = pq.ParquetFile(p).metadata
            n_rows += md.num_rows
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ver_idx).statistics
                if st is not None and st.has_min_max:
                    max_version = max(max_version or 0, st.max)
                elif md.row_group(rg).num_rows:  # stats missing: read column
                    vals = pq.read_table(p, columns=["version"]).column("version")
                    max_version = max([max_version or 0] + vals.to_pylist())
                    break

        if not assume_unique_ids and n_rows > 1:
            # duplicate-id gate on the MATERIALIZED staged rows (see the
            # batch-contract note above): column-pruned scan, no upstream
            # re-evaluation, abort-before-commit so nothing is visible
            with _job_desc(spark,
                           f"store dup-check {source}/{author}:{name}"):
                chk = spark.read.schema(SEGMENT_DDL).parquet(stage).agg(
                    F.count("*").alias("n"),
                    F.count_distinct("record_id").alias("nd")).first()
            if chk["nd"] < chk["n"]:
                shutil.rmtree(stage, ignore_errors=True)
                raise StoreError(
                    f"duplicate record ids in batch "
                    f"({chk['n'] - chk['nd']} extra rows)")
            _trace("dup_check")

        new_rows = max_version is not None and max_version >= next_version
        changed = (new_rows or n_dropped > 0) if overwrite else n_rows > 0
        if not changed:
            shutil.rmtree(stage, ignore_errors=True)
            return meta  # fully suppressed batch: no version bump, no segment

        path = os.path.join(self._dir(meta), f"seg_{seq:08d}.{suffix}.parquet")
        if n_rows == 0:
            # overwrite-to-empty: a readable zero-row single-file segment
            shutil.rmtree(stage, ignore_errors=True)
            self._write_segment([], path)
        else:
            # the staged directory IS the segment — just strip marker files
            for fn in os.listdir(stage):
                if not fn.endswith(".parquet"):
                    os.remove(os.path.join(stage, fn))
            os.replace(stage, path)
        meta.last_seq = seq
        if overwrite:
            meta.base_seq = seq
        meta.version = next_version
        meta.updated = time.time()
        _trace("footer_scan+rename")
        self._save_catalog()
        self._emit_change(meta)
        _trace("catalog+events")
        return meta

    # -- internals ----------------------------------------------------------

    @staticmethod
    def _tombstone(rid: str, version: int) -> dict:
        return {"record_id": rid, "value": None, "hash": None, "links": [],
                "version": version, "deleted": True}

    def _write_segment(self, rows: list[dict], path: str) -> None:
        table = pa.Table.from_pylist(rows, schema=SEGMENT_SCHEMA)
        pq.write_table(table, path)
        # a write retried after a failed catalog save rewrites the same seq
        # path, maybe within one mtime tick at the same size: cache the new
        # footer under the key now, so no stale entry can answer for it
        self._footers.load(path)

    def _emit_change(self, meta: CollectionMeta) -> None:
        """Change event (ref update-events.js:7-14): one JSON file per batch
        under changes/ — a Structured-Streaming-tailable feed."""
        evt = {
            "path": encode_path(meta.source, meta.author, meta.name),
            "source": meta.source,
            "author": meta.author,
            "name": meta.name,
            "version": meta.version,
            "ts": time.time(),
        }
        changes_dir = os.path.join(self.root, "changes")
        fn = os.path.join(changes_dir, f"{time.time_ns()}_{uuid.uuid4().hex[:8]}.json")
        # write-then-rename: a subscriber polling the directory must never
        # observe a partially-written event file (review finding — the
        # attachment-store commit discipline applied to the feed)
        with open(fn + ".tmp", "w", encoding="utf-8") as f:
            json.dump(evt, f)
        os.replace(fn + ".tmp", fn)
        # sweep orphans: a crash between open and os.replace leaves a
        # .tmp behind forever (subscribers skip them but never delete).
        # Anything older than a minute cannot belong to an in-flight emit
        # — the write above is microseconds — so it is crash debris.
        now = time.time()
        for other in os.listdir(changes_dir):
            if other.endswith(".tmp"):
                p = os.path.join(changes_dir, other)
                try:
                    if now - os.path.getmtime(p) > 60:
                        os.remove(p)
                except OSError:
                    pass  # concurrent emitter already swept it

    # -- maintenance --------------------------------------------------------

    def _compact_df_impl(self, spark, author: str, name: str, *,
                         source: str = "datasets") -> None:
        """Distributed compaction: rewrite the resolved current state as one
        base segment (hash/version/links preserved — purely physical, no
        version bump, no change event).  Keeps the latest-wins resolution at
        O(1) segments; on a cluster this is OPTIMIZE."""
        from pyspark.sql import functions as F

        meta = self._meta(source, author, name)
        if len(self._segments(meta)) <= 1:
            return
        rows = self.read_df(spark, author, name, source=source)
        seq = meta.last_seq + 1
        stage = os.path.join(self._dir(meta), f"_stage_{uuid.uuid4().hex}")
        (rows.withColumn("deleted", F.lit(False))
             .withColumn("seq", F.lit(seq).cast("long"))
             .withColumn("version", F.col("version").cast("long"))
             .select(*[f.name for f in SEGMENT_SCHEMA])
             .write.mode("overwrite").parquet(stage))
        path = os.path.join(self._dir(meta), f"seg_{seq:08d}.base.parquet")
        for fn in os.listdir(stage):
            if not fn.endswith(".parquet"):
                os.remove(os.path.join(stage, fn))
        os.replace(stage, path)
        # counted on the committed files, so the footers the next reads
        # need are already cached
        if sum(footer.metadata.num_rows
               for _f, footer in self._footers.segment(path)) == 0:
            shutil.rmtree(path)
            self._write_segment([], path)
        old = self._segments(meta)
        meta.last_seq = seq
        meta.base_seq = seq
        self._save_catalog()
        for p in old:
            if not p.endswith(f"seg_{seq:08d}.base.parquet"):
                (shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p)
                 else os.remove(p))

    def _sweep_stale_stages(self, meta: "CollectionMeta", *,
                            max_age_seconds: float = 3600.0) -> int:
        """Remove ``_stage_*`` directories older than ``max_age_seconds``
        from the collection dir — crash debris from a distributed write
        that died between the stage write and the commit rename (the
        spool-orphan class, but directory-sized: each one holds a whole
        batch's parquet).  Segment listing ignores them, so without this
        sweep they accumulate forever.  The age bound keeps a concurrent
        writer's in-flight stage safe; compaction (the maintenance pass)
        calls this."""
        import time

        d = self._dir(meta)
        now = time.time()
        removed = 0
        for entry in os.listdir(d):
            if not entry.startswith("_stage_"):
                continue
            p = os.path.join(d, entry)
            try:
                if now - os.path.getmtime(p) > max_age_seconds:
                    shutil.rmtree(p, ignore_errors=True)
                    removed += 1
            except OSError:
                pass  # concurrent sweep/commit already handled it
        return removed

    def compact(self, author: str, name: str, *, source: str = "datasets") -> None:
        """Fold the segment log into one base segment (keeps resolution O(1)
        segments; on a cluster this is OPTIMIZE/auto-compaction)."""
        with self._txn(source, author, name):
            self._sweep_stale_stages(self._meta(source, author, name))
            self._compact_impl(author, name, source=source)

    def _compact_impl(self, author: str, name: str, *,
                      source: str = "datasets") -> None:
        meta = self._meta(source, author, name)
        st = self._state(meta)
        rows = [
            {"record_id": rid, "value": rec["value"], "hash": rec["hash"],
             "links": rec["links"], "version": rec["version"], "deleted": False}
            for rid, rec in sorted(st.items(), key=lambda kv: natural_sort_key(kv[0]))
        ]
        meta.last_seq += 1
        seq = meta.last_seq
        for r in rows:
            r["seq"] = seq
        path = os.path.join(self._dir(meta), f"seg_{seq:08d}.base.parquet")
        self._write_segment(rows, path)
        old = [p for p in self._segments(meta) if not p.endswith(f"seg_{seq:08d}.base.parquet")]
        meta.base_seq = seq
        self._save_catalog()
        for p in old:
            # distributed writes commit segments as DIRECTORIES
            # (write_entries_df, os.replace of the staged dir) — a bare
            # os.remove raised IsADirectoryError mid-cleanup and orphaned
            # the rest (review finding; _compact_df_impl already handles
            # both shapes)
            (shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p)
             else os.remove(p))

    # -- SQL catalog surface --------------------------------------------------

    def register_views(self, spark, *, source: str = "datasets",
                       prefix: str = "po") -> list[str]:
        """Expose every collection as a Spark temp view
        ``<prefix>_<author>_<name>`` (name chars outside [A-Za-z0-9_]
        fold to ``_``) so plain ``spark.sql`` can query the store — the
        reference's HTTP collection listing re-expressed as catalog
        surface.  Views are lazy plans over :meth:`read_df`, so they
        resolve latest-wins state AT QUERY TIME relative to this
        instance's catalog snapshot (call :meth:`refresh` first to see
        other writers).  Returns the view names registered."""
        import hashlib as _hashlib
        import re as _re

        pairs = [(author, name)
                 for author in self.list_authors(source=source)
                 for name in self.list_names(author, source=source)]
        base = {pn: _re.sub(r"[^A-Za-z0-9_]", "_",
                            f"{prefix}_{pn[0]}_{pn[1]}") for pn in pairs}
        counts: dict[str, int] = {}
        for v in base.values():
            counts[v] = counts.get(v, 0) + 1
        names = []
        for (author, name), view in base.items():
            if counts[view] > 1:
                # sanitized collisions ('my-set' vs 'my_set', author/name
                # splits) ALL get a deterministic hash suffix — never a
                # silent wrong-table binding (the vfs.register_sql_views
                # rule, previously missing here — review finding)
                raw = f"{source}/{author}/{name}"
                view = f"{view}_{_hashlib.md5(raw.encode()).hexdigest()[:6]}"
            self.read_df(spark, author, name,
                         source=source).createOrReplaceTempView(view)
            names.append(view)
        return names
