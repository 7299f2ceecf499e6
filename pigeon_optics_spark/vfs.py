"""Meta VFS + readPath — catalog introspection and path-addressed scans.

- **Meta VFS** (ref `library/models/meta-vfs.js:8-55,63-72`): a read-only
  virtual collection ``/meta/system:system`` whose records are ``authors``,
  ``datasets``, ``lenses``, ``stats``, ``settings``, ``formats``.  Here the
  records are computed from the store catalog (Spark: `SHOW TABLES`-style
  catalog queries surfaced as a collection).
- **readPath** (ref `library/models/read-path.js:6-29,43-49,65-67`, source
  registry `:86-91`): resolve a data path — or a list of paths — to records
  across sources ``datasets|lenses|meta``; a ``/records/{id}`` suffix
  selects one record.  Spark form: catalog resolution → DataFrame union
  (`unionByName`) with provenance columns + partition-pruned ``record_id``
  predicate.
"""

from __future__ import annotations

import json
from typing import Any, Iterator

from .codecs import CODECS
from .paths import DataPath, decode_path
from .store import DatasetStore
from .values import natural_sort_key, value_to_tagged

META_AUTHOR = "system"
META_NAME = "system"

SETTINGS = {
    # the reference's operating envelope (BASELINE.md §A; package.json defaults)
    "lensTimeout": 50,            # ms per record
    "lensCodeSize": 5 * 1024 * 1024,
    "maxRecordSize": 20 * 1024 * 1024,
    "maxAttachmentSize": 1 << 30,
    "engine": "pyspark",
}


def meta_records(store: DatasetStore) -> dict[str, Any]:
    """The VFS records (ref meta-vfs.js: authors, datasets, lenses, stats,
    settings, formats)."""
    authors = sorted({m.author for m in store._catalog.values()},  # noqa: SLF001
                     key=natural_sort_key)
    datasets = [f"{m.author}:{m.name}" for m in store._catalog.values()  # noqa: SLF001
                if m.source == "datasets"]
    lenses = [f"{m.author}:{m.name}" for m in store._catalog.values()  # noqa: SLF001
              if m.source == "lenses"]
    stats = {
        # user-visible collections only: lens compute caches are an engine
        # internal (the reference keeps them inside the lens archive, not
        # in the catalog — meta-vfs.js lists datasets and lenses)
        "collections": len(datasets) + len(lenses),
        "datasets": len(datasets),
        "lenses": len(lenses),
        "authors": len(authors),
    }
    return {
        "authors": authors,
        "datasets": sorted(datasets, key=natural_sort_key),
        "lenses": sorted(lenses, key=natural_sort_key),
        "stats": stats,
        "settings": dict(SETTINGS),
        "formats": sorted(CODECS.keys()),
    }


def read_meta_record(store: DatasetStore, record_id: str) -> Any:
    recs = meta_records(store)
    if record_id not in recs:
        raise KeyError(record_id)
    return recs[record_id]


def meta_vfs_df(spark, store: DatasetStore):
    """The VFS as a DataFrame in the store's (record_id, value) shape."""
    import pyarrow as pa

    recs = sorted(meta_records(store).items())
    # an Arrow table goes to the JVM as Arrow batches; a list of rows
    # would be pickled through a Python-worker job
    return spark.createDataFrame(
        pa.table({"record_id": pa.array([k for k, _v in recs], pa.string()),
                  "value": pa.array(
                      [json.dumps(value_to_tagged(v), ensure_ascii=False)
                       for _k, v in recs], pa.string())}),
        "record_id string, value string")


# --------------------------------------------------------------------------
# readPath
# --------------------------------------------------------------------------


def _one_path_df(spark, store: DatasetStore, dp: DataPath):
    from pyspark.sql import functions as F

    if dp.source == "meta":
        if (dp.author, dp.name) != (META_AUTHOR, META_NAME):
            # the VFS is mounted ONLY at /meta/system:system — any other
            # meta path must fail like a missing collection, not silently
            # serve the system records under a fabricated collection path
            # (path_exists already enforced this; the read paths didn't)
            from .store import StoreError
            raise StoreError(
                f"no such collection: meta/{dp.author}/{dp.name}")
        df = meta_vfs_df(spark, store).select(
            "record_id", "value",
            F.lit(None).cast("string").alias("hash"),
            F.array().cast("array<string>").alias("links"),
            F.lit(0).cast("long").alias("version"),
        )
    else:
        df = store.read_df(spark, dp.author, dp.name, source=dp.source)
    if dp.record_id is not None:
        df = df.where(F.col("record_id") == dp.record_id)
    return df.select(
        F.lit(dp.collection_path).alias("collection"),
        F.lit(dp.source).alias("source"),
        F.lit(dp.author).alias("author"),
        F.lit(dp.name).alias("name"),
        "record_id", "value", "hash", "links", "version",
    )


def read_path_df(spark, store: DatasetStore, path: str | list[str]):
    """Resolve a data path (or list) to one DataFrame with provenance
    columns; duplicate paths are skipped first-seen-wins
    (ref read-path.js:22-25 flattens path lists; lens.js:127-133 dedups
    EQUAL paths).  The dedup key includes the record selector — keying on
    the collection alone silently dropped a second record-level path into
    the same collection (review finding).  Overlapping selections (a
    record path plus its whole collection) deliver overlapping rows,
    matching the reference's per-path reads."""
    paths = [path] if isinstance(path, str) else list(path)
    seen: set[tuple[str, str | None]] = set()
    dfs = []
    for p in paths:
        dp = decode_path(p)
        key = (dp.collection_path, dp.record_id)
        if key in seen:
            continue
        seen.add(key)
        dfs.append(_one_path_df(spark, store, dp))
    if not dfs:
        raise ValueError("no paths given")
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def path_exists(store: DatasetStore, path: str) -> bool:
    """ref read-path.js:74-79."""
    dp = decode_path(path)
    if dp.source == "meta":
        if (dp.author, dp.name) != (META_AUTHOR, META_NAME):
            return False
        return dp.record_id is None or dp.record_id in meta_records(store)
    return store.exists(dp.author, dp.name, dp.record_id, source=dp.source)


def iterate_path(store: DatasetStore, path: str, *,
                 fast_read: bool = False) -> Iterator[dict]:
    """Driver-side readPath.meta iteration (ref read-path.js:43-49)."""
    dp = decode_path(path)
    if dp.source == "meta":
        if (dp.author, dp.name) != (META_AUTHOR, META_NAME):
            from .store import StoreError
            raise StoreError(
                f"no such collection: meta/{dp.author}/{dp.name}")
        recs = meta_records(store)
        for rid in sorted(recs, key=natural_sort_key):
            if dp.record_id is not None and rid != dp.record_id:
                continue
            out = {"id": rid, "version": 0, "hash": None, "links": []}
            if fast_read:
                out["value"] = recs[rid]
            yield out
        return
    for rec in store.iterate(dp.author, dp.name, source=dp.source,
                             fast_read=fast_read):
        if dp.record_id is not None and rec["id"] != dp.record_id:
            continue
        yield rec


def register_sql_views(spark, store, *, replace: bool = True) -> list[str]:
    """Expose every collection as a SQL temp view named
    ``{source}_{author}_{name}`` (sanitized to identifier characters), so
    the full ``spark.sql`` surface — joins, windows, CTEs — works over
    store data exactly like over any table (the capability class the
    reference lacks entirely; its only query language is path scans +
    lenses, SURVEY §2).

    Returns the view names registered.  Each view is a SNAPSHOT of the
    collection as of registration: :meth:`DatasetStore.read_df` resolves
    the segment list eagerly, so later writes (new segments) are not
    visible until :func:`register_sql_views` runs again.  Compaction or
    collection deletion REMOVES segment files, so stale views then fail
    at query time (FileNotFound) rather than serving the old snapshot —
    re-register after any compact/delete.

    Distinct collections whose sanitized names collide ('my-set' vs
    'my_set', or author/name splits like a_b/c vs a/b_c) ALL get a
    6-hex-digit suffix of their raw path hash — deterministic regardless
    of iteration order, and never a silent wrong-table binding.
    """
    import hashlib as _hashlib
    import re as _re

    triples = [(source, author, name)
               for source in ("datasets", "lenses")
               for author in store.list_authors(source=source)
               for name in store.list_names(author, source=source)]
    base = {t: _re.sub(r"[^A-Za-z0-9_]", "_", "_".join(t)) for t in triples}
    counts: dict[str, int] = {}
    for v in base.values():
        counts[v] = counts.get(v, 0) + 1
    names: list[str] = []
    for t, view in base.items():
        if counts[view] > 1:
            raw = "/".join(t)
            view = f"{view}_{_hashlib.md5(raw.encode()).hexdigest()[:6]}"
        df = store.read_df(spark, t[1], t[2], source=t[0])
        if replace:
            df.createOrReplaceTempView(view)
        else:
            df.createTempView(view)
        names.append(view)
    return names
