"""Structured Streaming over the events table (SURVEY §2.9 'new surface':
watermarks, event-time windows, custom stateful operators).

The reference has no event-time processing at all; these tests pin the
Spark-native capabilities the rebuilt engine exposes: a watermarked tumbling
window whose APPEND-mode emissions match the batch computation over closed
windows, and an ``applyInPandasWithState`` stateful aggregator.
"""

from __future__ import annotations

import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from pigeon_optics_spark.queries._util import load_events

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def events_dir(spark, tmp_path):
    """The sf0.001 events as a file-source directory (normalized ts)."""
    d = str(tmp_path / "events_in")
    load_events(spark, SF_DIR).write.parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_watermarked_tumbling_window_matches_batch(spark, events_dir, tmp_path):
    schema = spark.read.parquet(events_dir).schema
    stream = (spark.readStream.schema(schema).parquet(events_dir)
              .withWatermark("ts", "10 minutes")
              .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
              .agg(F.count("*").alias("n")))
    q = (stream.writeStream.format("memory").queryName("win_counts")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {(r["window"]["start"], r["event_type"]): r["n"]
           for r in spark.sql("SELECT * FROM win_counts").collect()}

    ev = spark.read.parquet(events_dir)
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    batch = (ev.groupBy(F.window("ts", "1 hour"), F.col("event_type"))
             .agg(F.count("*").alias("n"))
             .where(F.col("window.end") <= F.lit(max_ts) - F.expr("INTERVAL 10 MINUTES")))
    want = {(r["window"]["start"], r["event_type"]): r["n"] for r in batch.collect()}

    assert len(got) > 0
    # append mode emits exactly the windows the watermark closed
    assert got == want


def test_apply_in_pandas_with_state(spark, events_dir, tmp_path):
    """Custom stateful operator: running per-type event count + max amount
    carried in GroupState across micro-batches."""
    schema = spark.read.parquet(events_dir).schema

    def track(key, pdfs, state: GroupState):
        total, max_amt = state.get if state.exists else (0, float("-inf"))
        for pdf in pdfs:
            total += len(pdf)
            if len(pdf):
                max_amt = max(max_amt, float(pdf["value"].max()))
        state.update((total, max_amt))
        yield pd.DataFrame({"event_type": [key[0]], "n": [total], "max_amount": [max_amt]})

    stream = (spark.readStream.schema(schema).parquet(events_dir)
              .groupBy("event_type")
              .applyInPandasWithState(
                  track,
                  outputStructType="event_type string, n long, max_amount double",
                  stateStructType="n long, max_amount double",
                  outputMode="update",
                  timeoutConf=GroupStateTimeout.NoTimeout))
    q = (stream.writeStream.format("memory").queryName("state_counts")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt2"))
         .start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["event_type"]: (r["n"], r["max_amount"])
           for r in spark.sql(
               "SELECT event_type, n, max_amount FROM state_counts").collect()}

    ev = spark.read.parquet(events_dir)
    want = {r["event_type"]: (r["n"], r["max_amount"])
            for r in ev.groupBy("event_type")
            .agg(F.count("*").alias("n"), F.max("value").alias("max_amount"))
            .collect()}
    # update mode may emit several rows per key across batches; the LAST
    # (memory sink keeps all) — compare against the final running totals,
    # which for a single input batch equals the batch aggregate
    assert got == want


def test_watermarked_stream_dedup_bounds_state(spark, events_dir, tmp_path):
    """The PRODUCTION variant of streaming exact dedup
    (``events_stream_dedup``'s docstring names the trade):
    ``dropDuplicatesWithinWatermark`` keeps keyed state only for the
    lateness bound instead of forever.  With duplicates arriving inside
    the watermark (byte-identical double-feed), the sink must still reduce
    to exactly the original corpus; the state-bound claim is checked via
    the query's stateOperators progress metrics — rows must be EVICTED
    (droppedByWatermark/removed > 0 or final state < total keys) rather
    than accumulating one entry per key forever."""
    import shutil as _shutil

    dup_dir = str(tmp_path / "dup_in")
    ev = spark.read.parquet(events_dir)
    ev.write.parquet(dup_dir)
    ev.write.mode("append").parquet(dup_dir)  # duplicate copy

    schema = spark.read.parquet(dup_dir).schema
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        stream = (spark.readStream.schema(schema).parquet(dup_dir)
                  .withWatermark("ts", "10 minutes")
                  .dropDuplicatesWithinWatermark(["event_id"]))
        q = (stream.writeStream.format("memory")
             .queryName("wm_dedup_sink")
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ckpt_wm"))
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
        progresses = [p for p in q.recentProgress if p is not None]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        _shutil.rmtree(dup_dir, ignore_errors=True)

    got = (spark.table("wm_dedup_sink")
           .groupBy("event_type").agg(F.count("*").alias("n")))
    want = ev.groupBy("event_type").agg(F.count("*").alias("n"))
    assert {(r["event_type"], r["n"]) for r in got.collect()} == \
        {(r["event_type"], r["n"]) for r in want.collect()}

    # state boundedness: total keys = |events|; the watermark must have
    # evicted state rather than retaining every key
    n_events = ev.count()
    state_rows = 0
    evicted = 0
    for p in progresses:
        for op in p.get("stateOperators", []):
            state_rows = max(state_rows, op.get("numRowsTotal", 0))
            evicted += op.get("numRowsRemoved", 0)
    assert evicted > 0 or state_rows < n_events, \
        f"no state eviction observed (state={state_rows}, n={n_events})"


def test_stream_ewma_multi_batch_matches_batch_fold(spark):
    """The streaming EWMA gate must (a) run >= 4 data micro-batches (its
    own internal assertion — a collapsed single-batch run raises), and
    (b) bit-exactly reproduce the batch ordered fold."""
    from pigeon_optics_spark.queries.events_queries import (
        events_ewma_users,
        events_stream_ewma,
    )

    got = {r["user_id"]: r for r in
           events_stream_ewma(spark, SF_DIR).collect()}
    want = {r["user_id"]: r for r in
            events_ewma_users(spark, SF_DIR).collect()}
    assert set(got) == set(want)
    for uid, w in want.items():
        g = got[uid]
        assert g["n_events"] == w["n_events"]
        assert g["ewma"] == w["ewma"], uid  # bit-exact, no tolerance


# ---------------------------------------------------------------------------
# Randomized forced-batch-split differential (r9, VERDICT r8 item 5):
# the fixed time-quartile slicing above pins the stateful continuations
# only at ONE set of batch boundaries; here the SAME gate code runs
# against a source split at RANDOM row boundaries (seeded, replayable)
# and must stay bit-exact with the batch fold.  The source is injected by
# swapping the gates' quartile-source function (``_quartile_src``), so the
# code under test is the real registered gate, not a test-local
# re-implementation.
# ---------------------------------------------------------------------------


def _random_split_source(spark, tmp_path, rng, k):
    """sf0.001 events written as k sequential single-file appends split
    at random row boundaries of the global (ts, event_id) order — the
    same total order the quartile builder induces, so per-key batch-i
    rows still precede batch-i+1 rows (the Kafka-partition-order model),
    but every key's fold now crosses ARBITRARY boundaries."""
    from pyspark.sql.window import Window

    ev = load_events(spark, SF_DIR).select(
        "ts", "event_id", "user_id", "value", "event_type")
    n = ev.count()
    cuts = sorted(rng.sample(range(1, n), k - 1))
    bounds = [0, *cuts, n]
    ranked = ev.withColumn(
        "rn", F.row_number().over(Window.orderBy("ts", "event_id")))
    d = str(tmp_path / "rand_split_src")
    for lo, hi in zip(bounds, bounds[1:]):
        (ranked.where((F.col("rn") > lo) & (F.col("rn") <= hi)).drop("rn")
         .coalesce(1).write.mode("append").parquet(d))
    return d


def _rows_sorted(df):
    return sorted((r.asDict() for r in df.collect()),
                  key=lambda r: sorted(r.items(), key=str))


#: quartile-split reference outputs for the SELF-differential gates,
#: computed once per session (they are seed-independent)
_SELF_REFS: dict = {}


@pytest.mark.parametrize("seed", [0xC0FFEE, 20260816])
def test_stateful_stream_random_batch_splits(spark, tmp_path, seed,
                                             monkeypatch):
    """The stateful streaming gates are batching-invariant: random split
    points (4-7 files, seeded) produce bit-exact equality — floats
    compared with ==, integers exactly.  Gates with a Spark batch twin
    (EWMA, token-bucket, OHLC, Holt, CEP pattern) compare against the
    twin; TWAP and event-time-timeout sessions (whose oracles are
    DuckDB-side) compare against the SAME gate on its natural quartile
    source, which the driver gate verifies — equality across split sets
    is exactly the batching-invariance claim."""
    import random

    from pigeon_optics_spark.queries import events_queries as eq

    self_gates = [eq.events_stream_twap, eq.events_stream_timeout_sessions]
    for fn in self_gates:
        if fn.__name__ not in _SELF_REFS:
            # natural quartile source
            _SELF_REFS[fn.__name__] = _rows_sorted(fn(spark, SF_DIR))

    rng = random.Random(seed)
    k = rng.randint(4, 7)
    d = _random_split_source(spark, tmp_path, rng, k)
    n_files = len([p for p in __import__("os").listdir(d)
                   if p.endswith(".parquet")])
    assert n_files == k, f"source wrote {n_files} files, wanted {k}"

    pairs = [(eq.events_stream_ewma, eq.events_ewma_users),
             (eq.events_stream_rate_limit, eq.events_rate_limit),
             (eq.events_stream_ohlc, eq.events_ohlc_bars),
             (eq.events_stream_holt, eq.events_holt_trend),
             (eq.events_stream_pattern, eq.events_pattern_matches)]
    monkeypatch.setattr(eq, "_quartile_src", lambda spark, sf_dir: d)
    for stream_fn, batch_fn in pairs:
        got = _rows_sorted(stream_fn(spark, SF_DIR))
        want = _rows_sorted(batch_fn(spark, SF_DIR))
        assert got == want, (stream_fn.__name__, seed, k)
    for fn in self_gates:
        got = _rows_sorted(fn(spark, SF_DIR))
        assert got == _SELF_REFS[fn.__name__], (fn.__name__, seed, k)
