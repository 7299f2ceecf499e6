"""The one harness every Structured Streaming gate runs through.

Each ``events_stream_*`` gate builds its streaming DataFrame and hands it
to ``run_to_memory``, the single start → await → guard path; no other
package module names a memory sink (``tests/test_temp_dirs.py`` pins
that).  What the harness packages:

1. **Forced multi-batch sources** — a source directory written as N
   sequential single-file appends (strictly increasing mtimes), streamed
   with ``maxFilesPerTrigger=1`` so ``availableNow`` replays N ordered
   micro-batches.  Time-quartile slicing makes every keyed fold cross a
   batch boundary mid-stream; a doubled source makes at-least-once
   delivery real for dedup gates.
2. **Collapse guard** — every run states how many non-empty micro-batches
   its source promises; a run that coalesces into fewer (maxFilesPerTrigger
   ignored, files merged) FAILS loudly instead of greening a degenerate
   single-batch run.
3. **Scoped conf** — ``scoped_conf`` sets keys around a block and
   restores them afterwards, unsetting keys that were unset before.
   Stateful operators initialize one state store per shuffle partition
   per operator; 32 partitions cost ~100 s of local store init for a
   10k-row fixture (events_stream_stream_join lesson), so every run is
   scoped to 4 shuffle partitions.
4. **Memory-sink naming** — unique query names per run (re-registration
   under one Spark session would silently read a stale table).
5. **Temp dirs** — every source and checkpoint directory comes from
   ``tracked_mkdtemp`` and is removed when the process exits.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._util import tracked_mkdtemp as _tracked_mkdtemp

#: process-wide query-name sequence (memory sink tables are per-session
#: global; a reused name would read a previous run's rows)
_SEQ = [0]

#: cache key -> source directory, built once per process.  The key is
#: whatever the caller passes as ``cache_key`` (plus builder parameters):
#: it MUST include every input that changes the DataFrame's contents —
#: in gate code that means the sf_dir, e.g. ``("my_gate", sf_dir)``.  A
#: key without the sf_dir would silently replay the first SF's source
#: against a later SF's oracle in any multi-SF process.
_SRC_CACHE: dict[tuple, str] = {}


def unique_name(prefix: str) -> str:
    _SEQ[0] += 1
    return f"{prefix}_{_SEQ[0]}"


def sliced_source(df: DataFrame, order_col, n_slices: int = 4,
                  cache_key: tuple | None = None) -> str:
    """Write ``df`` as ``n_slices`` sequential single-file appends sliced
    by quantiles of ``order_col`` (a numeric Column expression), so a
    ``maxFilesPerTrigger=1`` stream replays them as ordered micro-batches.
    Returns the source directory.  ``cache_key`` reuses a directory for
    repeated gate runs in one process — it must include the sf_dir (see
    ``_SRC_CACHE``).

    Refuses loudly instead of degrading silently: NULLs in ``order_col``
    would fall out of every slice predicate (the NULL-testdata class),
    and tied quantile cuts would produce an empty slice that later trips
    the collapse guard on a healthy run.
    """
    if cache_key is not None and (cache_key, n_slices) in _SRC_CACHE:
        return _SRC_CACHE[(cache_key, n_slices)]
    probs = [i / n_slices for i in range(1, n_slices)]
    agg = df.agg(
        F.percentile(order_col, F.lit(probs)).alias("p"),
        F.sum(F.when(order_col.isNull(), 1).otherwise(0)).alias("nn"),
    ).first()
    cuts, n_null = agg["p"], agg["nn"]
    if n_null:
        raise ValueError(
            f"sliced_source: order_col has {n_null} NULLs — they would "
            "vanish from every slice; filter or coalesce them first")
    if len(set(cuts)) != len(cuts):
        raise ValueError(
            f"sliced_source: tied quantile cuts {cuts} — order_col is too "
            f"discrete for n_slices={n_slices}; an empty slice would "
            "falsely trip the collapse guard")
    d = _tracked_mkdtemp("po_stream_src_")
    lo = None
    for i in range(n_slices):
        cond = None
        if lo is not None:
            cond = order_col > F.lit(lo)
        if i < n_slices - 1:
            hi_cond = order_col <= F.lit(cuts[i])
            cond = hi_cond if cond is None else (cond & hi_cond)
            lo = cuts[i]
        sl = df.where(cond) if cond is not None else df
        sl.coalesce(1).write.mode("append").parquet(d)
    if cache_key is not None:
        _SRC_CACHE[(cache_key, n_slices)] = d
    return d


def doubled_source(df: DataFrame, cache_key: tuple | None = None) -> str:
    """Write ``df`` twice (two appends) — the at-least-once delivery
    fixture for dedup/idempotence gates.  ``cache_key`` must include the
    sf_dir (see ``_SRC_CACHE``)."""
    if cache_key is not None and ("dbl", cache_key) in _SRC_CACHE:
        return _SRC_CACHE[("dbl", cache_key)]
    d = _tracked_mkdtemp("po_stream_dbl_")
    for _ in range(2):
        df.coalesce(1).write.mode("append").parquet(d)
    if cache_key is not None:
        _SRC_CACHE[("dbl", cache_key)] = d
    return d


def read_file_stream(spark: SparkSession, src_dir: str,
                     files_per_trigger: int | None = 1) -> DataFrame:
    """readStream over a parquet source directory, with the schema
    inferred from a batch read (file sources need an explicit schema).
    ``files_per_trigger=None`` reads every file in one trigger."""
    reader = spark.readStream.schema(spark.read.parquet(src_dir).schema)
    if files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    return reader.parquet(src_dir)


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]):
    """Set the session conf ``conf`` for the block, then restore every key
    to its previous value — unsetting keys that were unset before, so the
    session default applies again — even when the block raises."""
    prev = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def run_to_memory(stream_df: DataFrame, *, prefix: str, output_mode: str,
                  min_data_batches: int) -> DataFrame:
    """Run ``stream_df`` → memory sink with ``availableNow``, await
    termination, enforce the collapse guard, and return the sink table.

    ``min_data_batches`` is the number of non-empty micro-batches the
    source construction PROMISES — fewer means the forced batching
    degenerated and the gate must fail, not green.

    The query runs under 4 shuffle partitions.  That is safe only because
    every run starts from a FRESH checkpoint made here: a checkpoint
    records its shuffle partition count and a restarted query keeps it,
    so a reused one would bind its state stores to a stale count."""
    if min_data_batches > 90:
        # recentProgress retains only the last
        # spark.sql.streaming.numRecentProgressUpdates entries (default
        # 100) — a guard above that would falsely flag healthy runs
        raise ValueError(
            "min_data_batches > 90 cannot be verified via recentProgress; "
            "use fewer/larger source files or a StreamingQueryListener")
    spark = stream_df.sparkSession
    name = unique_name(prefix)
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "4"}):
        q = (stream_df.writeStream.format("memory").queryName(name)
             .outputMode(output_mode)
             .option("checkpointLocation", _tracked_mkdtemp("po_stream_ck_"))
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
    data_batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
    if data_batches < min_data_batches:
        raise AssertionError(
            f"stream collapsed to {data_batches} data batches; expected "
            f">= {min_data_batches} (one per forced source file)")
    return spark.table(name)
