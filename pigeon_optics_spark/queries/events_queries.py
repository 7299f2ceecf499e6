"""Event-time windowing + temporal joins (SURVEY §2.9 — ABSENT in the
reference, added as first-class engine surface; FIXTURES F6 events table).

Batch equivalents of the streaming operators (streaming/ has the
readStream/watermark versions of the same logic — the window semantics are
identical, which is the point of Spark's unified model):

- tumbling / sliding windows  → ``F.window(ts, ...)``
- sessionization              → gap-based lag/cumsum (``session_window`` in
                                streaming)
- as-of join                  → union + last(ignorenulls) over an ordered
                                window (DuckDB oracle uses native ASOF JOIN)
- range join                  → equi-join on user + time-range predicate
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import register
from ._streaming_util import (
    doubled_source,
    read_file_stream,
    run_to_memory,
    scoped_conf,
    sliced_source,
)
from ._util import davg, dsum, load_events, tracked_mkdtemp


def events_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.expr(dsum("value", "total_value", 8)).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events", "total_value")
    )


_TUMBLING_ORACLE = f"""
SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS window_start, event_type,
       COUNT(*) AS n_events,
       {dsum('value', 'total_value', 8)}
FROM events
GROUP BY 1, 2
"""

register("events_tumbling_counts", events_tumbling_counts, _TUMBLING_ORACLE)


def events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 10-minute windows sliding every 5 → each event lands in exactly 2 windows
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


_SLIDING_ORACLE = """
SELECT window_start, COUNT(*) AS n_events
FROM (
  SELECT unnest([time_bucket(INTERVAL 5 MINUTE, ts),
                 time_bucket(INTERVAL 5 MINUTE, ts) - INTERVAL 5 MINUTE]) AS window_start
  FROM events
) t
GROUP BY 1
"""

register("events_sliding_windows", events_sliding_windows, _SLIDING_ORACLE)


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) — the classic
    lag + cumsum-on-gap pattern; one shuffle on user_id."""
    ev = load_events(spark, sf_dir)
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sessions = (
        ev.withColumn("prev_ts", F.lag("ts").over(w_user))
        .withColumn(
            "is_new",
            (F.col("prev_ts").isNull()
             | (F.unix_micros("ts") - F.unix_micros("prev_ts") > 1800 * 1_000_000)
             ).cast("int"),
        )
        .withColumn("session_no", F.sum("is_new").over(
            w_user.rowsBetween(Window.unboundedPreceding, 0)))
    )
    return sessions.groupBy("user_id", "session_no").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        F.expr(dsum("value", "session_value", 8)).alias("session_value"),
    )


#: Cross-engine typing note (r4 driver red row): DuckDB's windowed
#: ``SUM(int)`` yields HUGEINT (int128), which pandas materializes as
#: float64 (``5.0``) while Spark emits LONG (``5``) — the value-hash then
#: mismatches on identical answers.  ``CAST(... AS BIGINT)`` normalizes it
#: (same pattern as store_queries._NAT_ORACLE).  Plain COUNT(*) is BIGINT
#: and safe.  The cumsum window also orders by event_id like the Spark
#: side so same-(user, ts) ties fold deterministically in both engines.
_SESSION_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessioned AS (
  SELECT user_id, ts, value,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
  FROM flagged
)
SELECT user_id, session_no,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events,
       {dsum('value', 'session_value', 8)}
FROM sessioned GROUP BY user_id, session_no
"""

register("events_sessionize", events_sessionize, _SESSION_ORACLE)


def events_topk_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select("event_type", "rk", "event_id", "user_id", "value")
    )


_TOPK_ORACLE = """
SELECT event_type, rk, event_id, user_id, value
FROM (SELECT event_type, event_id, user_id, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value DESC, event_id ASC) AS rk
      FROM events) t
WHERE rk <= 5
"""

register("events_topk_per_type", events_topk_per_type, _TOPK_ORACLE)


def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark has no native one — SURVEY §2.3 gap): for every
    'click' event, the most recent 'purchase' by the same user at or before
    its timestamp.

    Implementation: union both sides, sort per user by (ts, side), carry the
    purchase id forward with ``last(ignorenulls)`` — a single shuffle on
    user_id, no nested-loop blow-up; exactly the merge-asof plan a
    1000-executor job wants (DuckDB oracle uses its native ASOF JOIN).
    Ties (purchase at the same ts as the click) match, like ASOF's ``>=``.
    """
    ev = load_events(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id"),
        F.lit(None).cast("long").alias("purchase_id"))
    # dedupe purchases at identical (user, ts) to the max event_id so the
    # as-of pick is deterministic in both engines
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts").agg(F.max("event_id").alias("purchase_id"))
        .select("user_id", "ts", F.lit(None).cast("long").alias("click_id"),
                "purchase_id")
    )
    # side=0 rows (purchases) sort before clicks at the same ts → inclusive match
    unioned = purchases.withColumn("side", F.lit(0)).unionByName(
        clicks.withColumn("side", F.lit(1)))
    w = (Window.partitionBy("user_id").orderBy("ts", "side")
         .rowsBetween(Window.unboundedPreceding, 0))
    return (
        unioned.withColumn("matched_purchase", F.last("purchase_id", ignorenulls=True).over(w))
        .where(F.col("click_id").isNotNull())
        .select("user_id", F.col("click_id"), F.col("ts").alias("click_ts"),
                "matched_purchase")
    )


_ASOF_ORACLE = """
WITH clicks AS (
  SELECT user_id, event_id AS click_id, ts FROM events WHERE event_type = 'click'
),
purchases AS (
  SELECT user_id, ts, MAX(event_id) AS purchase_id
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
)
SELECT c.user_id, c.click_id, c.ts AS click_ts, p.purchase_id AS matched_purchase
FROM clicks c ASOF LEFT JOIN purchases p
  ON c.user_id = p.user_id AND c.ts >= p.ts
"""

register("asof_join_events_orders", asof_join_events, _ASOF_ORACLE)


def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: view→click conversions within 30 min per user.  Equi-join on
    user_id keeps it a hash join; the range predicate is a post-filter —
    never a cartesian product."""
    ev = load_events(spark, sf_dir)
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts"))
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"), F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"))
    pairs = views.join(
        clicks,
        (views.user_id == clicks.c_user_id)
        & (F.unix_micros("click_ts") - F.unix_micros("view_ts") >= 0)
        & (F.unix_micros("click_ts") - F.unix_micros("view_ts") <= 1800 * 1_000_000),
    )
    return pairs.groupBy("user_id").agg(
        F.count("*").alias("n_conversions"),
        F.min(F.unix_micros("click_ts") - F.unix_micros("view_ts")).alias("fastest_us"),
    )


_RANGE_ORACLE = """
SELECT v.user_id, COUNT(*) AS n_conversions,
       MIN(epoch_us(c.ts) - epoch_us(v.ts)) AS fastest_us
FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view') v
JOIN (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') c
  ON v.user_id = c.user_id
 AND epoch_us(c.ts) - epoch_us(v.ts) BETWEEN 0 AND 1800 * 1000000
GROUP BY v.user_id
"""

register("events_range_join", events_range_join, _RANGE_ORACLE)


def events_trailing_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-hour per-user feature (new r5): for every event, the count
    and decimal-exact value sum of the SAME user's events in the preceding
    60 minutes — a RANGE frame over epoch micros (value-based, so same-ts
    ties are frame-symmetric and deterministic; a ROWS frame would be
    neither).  The per-user feature-engineering pass of an events pipeline;
    one shuffle on user_id."""
    ev = load_events(spark, sf_dir)
    w = (Window.partitionBy("user_id").orderBy(F.unix_micros("ts"))
         .rangeBetween(-3600 * 1_000_000, 0))
    return ev.select(
        "event_id", "user_id", "ts",
        F.count("*").over(w).alias("n_1h"),
        F.sum(F.col("value").cast("decimal(28,8)")).over(w)
        .cast("double").alias("sum_1h"))


#: windowed COUNT is BIGINT in both engines; the value sum goes through the
#: dsum decimal discipline INSIDE the frame (order-free, engine-exact).
_TRAILING_ORACLE = """
SELECT event_id, user_id, ts,
       COUNT(*) OVER w AS n_1h,
       CAST(SUM(CAST(value AS DECIMAL(28,8))) OVER w AS DOUBLE) AS sum_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""

register("events_trailing_window", events_trailing_window, _TRAILING_ORACLE)


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (new r5): per user, the first view, the first click
    AT-OR-AFTER that view, and the first purchase at-or-after that click —
    stage = how deep the user got.  Three filtered min-aggregations chained
    by user_id equi-joins (each a broadcast/AQE-sized hash join on the
    shrinking user set); no windows, no cartesian anything."""
    ev = load_events(spark, sf_dir)

    def first_after(etype: str, prev, prev_col: str, alias: str):
        return (ev.where(F.col("event_type") == etype)
                .join(prev.select("user_id", prev_col), "user_id")
                .where(F.col("ts") >= F.col(prev_col))
                .groupBy("user_id").agg(F.min("ts").alias(alias)))

    views = (ev.where(F.col("event_type") == "view")
             .groupBy("user_id").agg(F.min("ts").alias("first_view")))
    clicks = first_after("click", views, "first_view", "first_click")
    buys = first_after("purchase", clicks, "first_click", "first_purchase")
    return (views.join(clicks, "user_id", "left")
            .join(buys, "user_id", "left")
            .select("user_id", "first_view", "first_click", "first_purchase",
                    (F.lit(1)
                     + F.col("first_click").isNotNull().cast("int")
                     + F.col("first_purchase").isNotNull().cast("int"))
                    .alias("stage")))


_FUNNEL_ORACLE = """
WITH v AS (SELECT user_id, MIN(ts) AS first_view
           FROM events WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, MIN(e.ts) AS first_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts >= v.first_view
      GROUP BY e.user_id),
p AS (SELECT e.user_id, MIN(e.ts) AS first_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= c.first_click
      GROUP BY e.user_id)
SELECT v.user_id, v.first_view, c.first_click, p.first_purchase,
       CAST(1 + CASE WHEN c.first_click IS NULL THEN 0 ELSE 1 END
              + CASE WHEN p.first_purchase IS NULL THEN 0 ELSE 1 END
            AS INT) AS stage
FROM v LEFT JOIN c ON v.user_id = c.user_id
       LEFT JOIN p ON v.user_id = p.user_id
"""

register("events_funnel", events_funnel, _FUNNEL_ORACLE)


def events_pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT surface (new r5): per-user event-type counts widened to
    columns via the DataFrame ``pivot`` operator with EXPLICIT values —
    an explicit value list keeps the plan a single pass (no
    distinct-values pre-query) and fixes the output schema, which is also
    what a 100 TB pivot needs (discovered pivot values = an extra
    corpus-wide distinct).  Oracle uses the equivalent conditional
    aggregation."""
    ev = load_events(spark, sf_dir)
    return (ev.groupBy("user_id")
            .pivot("event_type", ["view", "click", "purchase", "signup"])
            .count().na.fill(0)
            .select("user_id",
                    F.col("view").alias("n_view"),
                    F.col("click").alias("n_click"),
                    F.col("purchase").alias("n_purchase"),
                    F.col("signup").alias("n_signup")))


_PIVOT_ORACLE = """
SELECT user_id,
       COALESCE(COUNT(CASE WHEN event_type = 'view' THEN 1 END), 0) AS n_view,
       COALESCE(COUNT(CASE WHEN event_type = 'click' THEN 1 END), 0) AS n_click,
       COALESCE(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END), 0)
         AS n_purchase,
       COALESCE(COUNT(CASE WHEN event_type = 'signup' THEN 1 END), 0)
         AS n_signup
FROM events GROUP BY user_id
"""

register("events_pivot_counts", events_pivot_counts, _PIVOT_ORACLE)


def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix (new r5): users grouped by first-seen week,
    counted distinct per week-offset of later activity — the standard
    product-analytics rollup.  Two aggregations (first-seen per user;
    distinct user-week activity) joined on user_id, then one groupBy on
    (cohort_week, offset); no windows, no self-join of raw events."""
    ev = load_events(spark, sf_dir)
    weeks = ev.select(
        "user_id",
        F.date_trunc("week", F.col("ts")).alias("week")).distinct()
    first = weeks.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (weeks.join(first, "user_id")
            .select("cohort_week",
                    F.floor(
                        (F.unix_micros("week")
                         - F.unix_micros("cohort_week"))
                        / (7 * 24 * 3600 * 1_000_000)).alias("week_offset"),
                    "user_id")
            .groupBy("cohort_week", "week_offset")
            .agg(F.countDistinct("user_id").alias("n_users")))


#: date_trunc('week', ts) is ISO-Monday-start in both engines; the offset
#: divides an exact micros difference of truncated weeks, so it is integral
#: by construction.
_RETENTION_ORACLE = """
WITH weeks AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
),
first AS (
  SELECT user_id, MIN(week) AS cohort_week FROM weeks GROUP BY user_id
)
SELECT f.cohort_week,
       CAST(FLOOR((epoch_us(w.week) - epoch_us(f.cohort_week))
                  / (7 * 24 * 3600 * 1000000.0)) AS BIGINT) AS week_offset,
       COUNT(DISTINCT w.user_id) AS n_users
FROM weeks w JOIN first f USING (user_id)
GROUP BY 1, 2
"""

register("events_retention_cohorts", events_retention_cohorts,
         _RETENTION_ORACLE)


# --------------------------------------------------------------------------
# Structured Streaming under the oracle gate.  Every events_stream_* gate
# builds its stream over one of the sources below and runs it through
# _streaming_util.run_to_memory, stating the data micro-batches its
# source promises (the collapse guard).
# --------------------------------------------------------------------------


@functools.cache
def _stream_source_dir(spark: SparkSession, sf_dir: str) -> str:
    """Normalized (nanos→timestamp) events as an UNSLICED file-source
    directory, written once per process per sf_dir — for the watermarked
    join gates, whose emissions depend on how the input is batched."""
    d = tracked_mkdtemp("po_stream_ev_")
    load_events(spark, sf_dir).write.mode("overwrite").parquet(d)
    return d


def _quartile_src(spark: SparkSession, sf_dir: str) -> str:
    """The four time-quartile parquet files the streaming gates replay as
    FORCED ordered micro-batches (sequential single-file appends =>
    strictly increasing mtimes => the file source replays oldest-first),
    built once per sf_dir."""
    ev = load_events(spark, sf_dir).select(
        "ts", "event_id", "user_id", "value", "event_type")
    return sliced_source(ev, F.unix_micros("ts"), 4,
                         cache_key=("quartile", sf_dir))


def _quartile_slices(ev: DataFrame) -> tuple[list, list[DataFrame]]:
    """``ev``'s time-quartile cuts (unix micros) and its four slices — the
    split ``_quartile_src`` writes — for the sources that plant extra rows
    into chosen slices."""
    qs = ev.agg(F.expr(
        "percentile(unix_micros(ts), array(0.25, 0.5, 0.75))")).first()[0]
    us, cut = F.unix_micros("ts"), [F.lit(int(q)) for q in qs]
    return qs, [ev.where(us <= cut[0]),
                ev.where((us > cut[0]) & (us <= cut[1])),
                ev.where((us > cut[1]) & (us <= cut[2])),
                ev.where(us > cut[2])]


def _keyed_fold_stream(stream: DataFrame, prefix: str, step, init: tuple,
                       state_cols: str, out_cols: str | None = None,
                       emit=None, key: str = "user_id long") -> DataFrame:
    """Run an ordered per-key fold as ``applyInPandasWithState`` (update
    mode) over a forced 4-batch stream.

    ``step(state, rows)`` folds one micro-batch's rows of a key, sorted by
    (ts, event_id) — the batch twins' total order — into the state tuple
    (``init`` first, declared by ``state_cols``); each touched key then
    emits ``emit(state)`` as ``out_cols`` (default: the state itself).
    Returns each key's LAST emission as struct column ``s``: the struct-max
    over ``out_cols``, whose first field must strictly increase per
    emission — so the reduction is batching-independent."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    key_name = key.split()[0]
    emit = emit or (lambda st: st)
    out_cols = out_cols or state_cols
    names = [c.split()[0] for c in out_cols.split(",")]

    def fold(k, pdfs, state):
        st = state.get if state.exists else init
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            st = step(st, pd.concat(chunks, ignore_index=True)
                      .sort_values(["ts", "event_id"]))
        state.update(st)
        yield pd.DataFrame([(k[0], *emit(st))], columns=[key_name, *names])

    folded = stream.groupBy(key_name).applyInPandasWithState(
        fold, outputStructType=f"{key}, {out_cols}",
        stateStructType=state_cols, outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout)
    out = run_to_memory(folded, prefix=prefix, output_mode="update",
                        min_data_batches=4)
    return out.groupBy(key_name).agg(F.max(F.struct(*names)).alias("s"))


def events_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """15-minute tumbling counts computed by an ACTUAL Structured Streaming
    query (readStream file source → window agg → memory sink, availableNow),
    not the batch engine: processing every record through the streaming path
    must converge to exactly the batch/oracle answer (Spark's unified-model
    guarantee, which this entry turns into a gate check).

    The source is the four time-quartile files, so windows straddling a
    quartile boundary merge state across micro-batches; complete output
    mode keeps every window in the sink so the final table equals the
    batch aggregation regardless of how the input is sliced.  Decimal sums
    (dsum) keep the value-hash engine-independent, same as the batch twin.
    """
    stream = (
        read_file_stream(spark, _quartile_src(spark, sf_dir))
        .groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.expr(dsum("value", "total_value", 8)).alias("total_value"))
    )
    out = run_to_memory(stream, prefix="po_stream_tumbling",
                        output_mode="complete", min_data_batches=4)
    return out.select(F.col("w.start").alias("window_start"), "event_type",
                      "n_events", "total_value")


_STREAM_TUMBLING_ORACLE = f"""
SELECT time_bucket(INTERVAL 15 MINUTE, ts) AS window_start, event_type,
       COUNT(*) AS n_events,
       {dsum('value', 'total_value', 8)}
FROM events
GROUP BY 1, 2
"""

register("events_stream_tumbling", events_stream_tumbling,
         _STREAM_TUMBLING_ORACLE)


def events_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator under the oracle gate: a running
    per-event-type (count, max value) carried in ``GroupState`` across the
    four time-quartile micro-batches via ``applyInPandasWithState`` — the
    engine's arbitrary-stateful surface (SURVEY §2.9), previously
    pytest-only.

    Update mode emits one row per key per touched batch; the final
    projection takes the struct-max per key, and since the running count is
    strictly increasing that selects each key's LAST emission — equal to
    the batch aggregate no matter how the input is sliced.
    """
    def step(st, rows):
        n, max_val = st
        m = float(rows["value"].max())
        return n + len(rows), m if max_val is None else max(max_val, m)

    return (_keyed_fold_stream(
        read_file_stream(spark, _quartile_src(spark, sf_dir)),
        "po_stream_stateful", step, (0, None),
        "n_events long, max_value double", key="event_type string")
        .select("event_type", "s.n_events", "s.max_value"))


_STREAM_STATEFUL_ORACLE = """
SELECT event_type, COUNT(*) AS n_events, MAX(value) AS max_value
FROM events GROUP BY event_type
"""

register("events_stream_stateful", events_stream_stateful,
         _STREAM_STATEFUL_ORACLE)


def _doubled_events_src(spark: SparkSession, sf_dir: str) -> str:
    """Every event written TWICE (two single-file appends, two forced
    micro-batches) — the at-least-once fixture of the dedup gates."""
    return doubled_source(load_events(spark, sf_dir),
                          cache_key=("events", sf_dir))


def events_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EXACT DEDUP under the oracle gate — the ingest-time shape
    of a training-data pipeline (drop repeats as the firehose arrives, not
    in a later batch pass): the file source carries every event TWICE (two
    parquet copies, replayed as two micro-batches), an actual Structured
    Streaming query deduplicates on ``event_id`` with keyed state
    (``dropDuplicates``), and the sink must reduce back to exactly the
    original corpus — the second copy meets the first one's state (first-seen
    wins; copies are byte-identical so the choice is immaterial).  The gate
    aggregates the deduped sink batch-side; the oracle aggregates the
    ORIGINAL events — equality proves the stream removed precisely the
    injected duplicates.

    At scale the unbounded keyed state is the documented cost of exact
    streaming dedup; the watermark-bounded variant
    (``dropDuplicatesWithinWatermark``) trades state for a lateness bound
    but its emissions depend on batch slicing, so the exact form is the
    gate-able one — the production variant runs for real (with observed
    state eviction) in
    ``tests/test_streaming_events.py::test_watermarked_stream_dedup_bounds_state``."""
    stream = (read_file_stream(spark, _doubled_events_src(spark, sf_dir))
              .dropDuplicates(["event_id"]))
    out = run_to_memory(stream, prefix="po_stream_dedup",
                        output_mode="append", min_data_batches=2)
    return (out.groupBy("event_type")
            .agg(F.count("*").alias("n_events"),
                 F.expr(dsum("value", "total_value", 8)).alias("total_value")))


_STREAM_DEDUP_ORACLE = f"""
SELECT event_type, COUNT(*) AS n_events,
       {dsum('value', 'total_value', 8)}
FROM events GROUP BY event_type
"""

register("events_stream_dedup", events_stream_dedup, _STREAM_DEDUP_ORACLE)


def events_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample with gap fill: per-user hourly event counts
    zero-filled across every hour of that user's [first, last] activity
    span — the densification step before any rolling-window model over
    irregular event streams.

    Scale shape: the grid is generated DISTRIBUTED — one row per user
    carries its hour span, ``sequence()`` + ``explode`` expand it
    executor-side (never a driver loop or a cross join against a global
    calendar), and the actual counts left-join on (user, hour).  Grid size
    is Σ per-user span — bounded here by the user_id < 40 slice, bounded
    at 100 TB by partition-pruning the resample to the window you model.
    """
    ev = load_events(spark, sf_dir).where(F.col("user_id") < 40)
    hourly = (ev.groupBy("user_id",
                         F.date_trunc("hour", "ts").alias("hr"))
              .agg(F.count("*").alias("n")))
    span = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("hr_min"),
        F.date_trunc("hour", F.max("ts")).alias("hr_max"))
    grid = span.select(
        "user_id",
        F.explode(F.expr(
            "sequence(hr_min, hr_max, interval 1 hour)")).alias("hr"))
    return (grid.join(hourly, ["user_id", "hr"], "left")
            .select("user_id", "hr",
                    F.coalesce("n", F.lit(0)).alias("n_events"),
                    F.col("n").isNull().alias("is_gap")))


_GAPFILL_ORACLE = """
WITH ev AS (SELECT * FROM events WHERE user_id < 40),
hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS hr, COUNT(*) AS n
  FROM ev GROUP BY 1, 2
),
span AS (
  SELECT user_id, date_trunc('hour', MIN(ts)) AS hr_min,
         date_trunc('hour', MAX(ts)) AS hr_max
  FROM ev GROUP BY 1
),
grid AS (
  SELECT user_id, unnest(generate_series(hr_min, hr_max,
                                         INTERVAL 1 HOUR)) AS hr
  FROM span
)
SELECT g.user_id, g.hr,
       COALESCE(h.n, 0) AS n_events,
       h.n IS NULL AS is_gap
FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hr = h.hr
"""

register("events_resample_gapfill", events_resample_gapfill, _GAPFILL_ORACLE)


def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the same
    user's most recent PRIOR click/view, but only when that touch happened
    within the 24-hour lookback window (older touches → unattributed,
    NULL columns).

    One pass, no self-join: ``last(..., ignorenulls)`` over the per-user
    event sequence with a ROWS UNBOUNDED PRECEDING..1 PRECEDING frame —
    the running "latest touch" is computed while scanning, so at 100 TB
    this shuffles once on user_id and never materializes a purchases ×
    touches join.  Ordering is (ts, event_id) so concurrent-timestamp
    rows attribute deterministically on both engines.
    """
    ev = load_events(spark, sf_dir)
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    is_touch = F.col("event_type").isin("click", "view")
    touch_ts = F.last(F.when(is_touch, F.col("ts")), ignorenulls=True).over(w)
    touch_type = F.last(F.when(is_touch, F.col("event_type")),
                        ignorenulls=True).over(w)
    touch_id = F.last(F.when(is_touch, F.col("event_id")),
                      ignorenulls=True).over(w)
    # the lookback test must read the PROJECTED t_ts column: reusing the
    # window expression after the purchase filter would re-evaluate it over
    # purchases only (touches filtered away → everything unattributed)
    within = F.col("t_ts") >= F.col("ts") - F.expr("INTERVAL 24 HOURS")
    return (ev.select("event_id", "user_id", "ts", "event_type",
                      touch_ts.alias("t_ts"), touch_type.alias("t_type"),
                      touch_id.alias("t_id"))
            .where(F.col("event_type") == "purchase")
            .select(F.col("event_id").alias("purchase_id"), "user_id",
                    F.col("ts").alias("purchase_ts"),
                    F.when(within, F.col("t_type")).alias("attributed_type"),
                    F.when(within, F.col("t_id")).alias("touch_id"),
                    F.when(within, F.col("t_ts")).alias("touch_ts")))


_ATTRIBUTION_ORACLE = """
WITH seq AS (
  SELECT event_id, user_id, ts, event_type,
         LAST_VALUE(CASE WHEN event_type IN ('click', 'view') THEN ts END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS t_ts,
         LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
                         THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS t_type,
         LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
                         THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS t_id
  FROM events
)
SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
       CASE WHEN t_ts >= ts - INTERVAL 24 HOURS THEN t_type END
         AS attributed_type,
       CASE WHEN t_ts >= ts - INTERVAL 24 HOURS THEN t_id END AS touch_id,
       CASE WHEN t_ts >= ts - INTERVAL 24 HOURS THEN t_ts END AS touch_ts
FROM seq WHERE event_type = 'purchase'
"""

register("events_attribution", events_attribution, _ATTRIBUTION_ORACLE)


def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix (user-flow analysis): counts and
    probabilities of consecutive event-type pairs within each user's
    timeline.  The probability is one exact-int division per row
    (n / row_total, both BIGINT → double), engine-exact.

    Scale shape: ``lag`` over the per-user sequence — one shuffle on
    user_id — then a groupBy on the 5×5 pair space with map-side combine;
    the matrix itself is alphabet²-bounded however large the corpus.
    """
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (ev.withColumn("prev", F.lag("event_type").over(w))
           .where(F.col("prev").isNotNull()))
    counts = (seq.groupBy(F.col("prev").alias("from_type"),
                          F.col("event_type").alias("to_type"))
              .agg(F.count("*").alias("n")))
    totals = Window.partitionBy("from_type")
    return counts.select(
        "from_type", "to_type", "n",
        (F.col("n").cast("double")
         / F.sum("n").over(totals).cast("double")).alias("p"))


_TRANSITION_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
),
counts AS (
  SELECT prev AS from_type, event_type AS to_type, COUNT(*) AS n
  FROM seq WHERE prev IS NOT NULL
  GROUP BY prev, event_type
)
SELECT from_type, to_type, n,
       CAST(n AS DOUBLE)
       / CAST(CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS DOUBLE)
         AS p
FROM counts
"""

register("events_transition_matrix", events_transition_matrix,
         _TRANSITION_ORACLE)


def events_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` sessionization computed by an ACTUAL
    Structured Streaming run (readStream → session_window agg → memory
    sink, availableNow) — the 4th real streaming gate, covering the one
    window type (dynamic-gap sessions) the other streaming entries don't.

    The source is the four time-quartile files, so sessions that straddle
    a quartile boundary merge across micro-batches in the state store.
    Complete output mode keeps every session in the sink so the result is
    batching-independent and equals the batch lag/cumsum sessionization
    (events_sessionize's idiom): a session's end is its last event
    + the 30-minute gap.  The oracle reproduces exactly that from the
    batch side — Spark's unified-model guarantee as a value-hash check.
    """
    stream = (
        read_file_stream(spark, _quartile_src(spark, sf_dir))
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    out = run_to_memory(stream, prefix="po_stream_sessions",
                        output_mode="complete", min_data_batches=4)
    return out.select(
        "user_id", F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"), "n_events")


_STREAM_SESSIONS_ORACLE = """
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessioned AS (
  SELECT user_id, ts,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_no
  FROM flagged
)
SELECT user_id, MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events
FROM sessioned GROUP BY user_id, session_no
"""

register("events_stream_sessions", events_stream_sessions,
         _STREAM_SESSIONS_ORACLE)


def events_throttle_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry throttling / near-duplicate event suppression: an event is
    kept only if the SAME user's previous event of the SAME type is more
    than 5 minutes older (or absent) — the standard client-retry /
    double-fire cleaner in front of event analytics.

    One ``lag`` over the (user, type) sequence — single shuffle, no
    self-join; at 100 TB this is the cheapest possible keyed pass.
    Semantics note: the gap test is against the previous RAW event, so a
    burst suppresses every follow-up within 5 minutes of its predecessor
    (gap-based suppression).  A strict rate-limiter ("5 minutes since the
    last KEPT event") carries state through the scan — that variant is the
    streaming ``applyInPandasWithState`` pattern (events_stream_stateful),
    not a window expression.  Deterministic via (ts, event_id) ordering.
    """
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    return (ev.withColumn(
        "keep",
        prev_ts.isNull()
        | (F.unix_micros("ts") - F.unix_micros(prev_ts) > 300 * 1_000_000))
        .select("event_id", "user_id", "event_type", "ts", "keep"))


_THROTTLE_ORACLE = """
SELECT event_id, user_id, event_type, ts,
       prev_ts IS NULL
       OR epoch_us(ts) - epoch_us(prev_ts) > 300 * 1000000 AS keep
FROM (
  SELECT event_id, user_id, event_type, ts,
         LAG(ts) OVER (PARTITION BY user_id, event_type
                       ORDER BY ts, event_id) AS prev_ts
  FROM events
)
"""

register("events_throttle_dedup", events_throttle_dedup, _THROTTLE_ORACLE)


# --------------------------------------------------------------------------
# Strict token-bucket rate limiter — the STATEFUL variant the
# events_throttle_dedup docstring names as "carries state through the
# scan": each decision depends on PRIOR decisions (tokens spent by
# earlier admitted events), so no window expression can compute it; it is
# the events_cusum_alarms ordered-fold class.
#
# Semantics: per user, bucket capacity 2 tokens, refill 1 token per
# 8192 s, admission costs 1 token, bucket starts full.  ALL-INTEGER state
# in micro-tokens: refill = elapsed_us >> 13 (1e6 micro-tokens per
# 8192e6 us), capacity 2_000_000, cost 1_000_000 — the bit shift is the
# same exact operation in Spark, DuckDB, and the Python replica, so no
# division-rounding class can open between engines.  Parameters keep both
# branches populated at every SF (admitted/denied measured before
# commit).  Sentinel last_ts = -1 marks the first event (no refill).
#
# Scale shape: one groupBy shuffle to assemble per-user ordered
# sequences, then a map-only in-row fold — state is O(1) per user and
# the fold is O(events-per-user); never a window over the raw stream.
# The streaming twin (events_stream_rate_limit) carries the identical
# 4-long state through applyInPandasWithState.
# --------------------------------------------------------------------------

_RL_CAP = 2_000_000     # micro-tokens (2 tokens)
_RL_COST = 1_000_000    # micro-tokens per admitted event
_RL_SHIFT = 13          # refill: elapsed_us >> 13 == 1 token / 8192 s


def rate_limit_state_col(ts_micros):
    """Folded token-bucket state over an ordered array of epoch-micro
    longs: struct (tok = final micro-tokens, last = last ts, a =
    admitted, d = denied).  Module-level so the pytest replica exercises
    THIS expression."""
    init = F.struct(
        F.lit(_RL_CAP).cast("long").alias("tok"),
        F.lit(-1).cast("long").alias("last"),
        F.lit(0).cast("long").alias("a"),
        F.lit(0).cast("long").alias("d"))

    def step(acc, t):
        refill = F.when(acc.getField("last") == -1,
                        F.lit(0).cast("long")).otherwise(
            F.shiftright(t - acc.getField("last"), _RL_SHIFT))
        tok2 = F.least(F.lit(_RL_CAP).cast("long"),
                       acc.getField("tok") + refill)
        return F.when(
            tok2 >= _RL_COST,
            F.struct((tok2 - _RL_COST).alias("tok"), t.alias("last"),
                     (acc.getField("a") + 1).alias("a"),
                     acc.getField("d").alias("d"))
        ).otherwise(
            F.struct(tok2.alias("tok"), t.alias("last"),
                     acc.getField("a").alias("a"),
                     (acc.getField("d") + 1).alias("d")))

    return F.aggregate(ts_micros, init, step)


def events_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    seq = (ev.groupBy("user_id")
           .agg(F.array_sort(
               F.collect_list(F.struct("ts", "event_id"))).alias("s")))
    st = rate_limit_state_col(
        F.transform(F.col("s"), lambda x: F.unix_micros(x.getField("ts"))))
    return seq.select(
        "user_id",
        F.size("s").cast("long").alias("n_events"),
        st.getField("a").alias("n_admitted"),
        st.getField("d").alias("n_denied"),
        st.getField("tok").alias("final_tokens"))


_RATE_LIMIT_ORACLE = f"""
WITH seq AS (
  SELECT user_id, list(epoch_us(ts) ORDER BY ts, event_id) AS ts_us
  FROM events GROUP BY user_id
),
folded AS (
  -- LIST accumulator [tok, last, a, d], not a struct (DuckDB 1.0.0
  -- list_reduce struct-accumulator lane defect — see events_cusum_alarms)
  SELECT user_id, len(ts_us) AS n_events, list_reduce(
    list_prepend([CAST({_RL_CAP} AS BIGINT), CAST(-1 AS BIGINT),
                  CAST(0 AS BIGINT), CAST(0 AS BIGINT)],
      list_transform(ts_us, t -> [t, CAST(0 AS BIGINT),
                                  CAST(0 AS BIGINT), CAST(0 AS BIGINT)])),
    (acc, e) -> CASE
      WHEN least(CAST({_RL_CAP} AS BIGINT),
                 acc[1] + CASE WHEN acc[2] = -1 THEN 0
                          ELSE (e[1] - acc[2]) >> {_RL_SHIFT} END)
           >= {_RL_COST}
      THEN [least(CAST({_RL_CAP} AS BIGINT),
                  acc[1] + CASE WHEN acc[2] = -1 THEN 0
                           ELSE (e[1] - acc[2]) >> {_RL_SHIFT} END)
            - {_RL_COST},
            e[1], acc[3] + 1, acc[4]]
      ELSE [least(CAST({_RL_CAP} AS BIGINT),
                  acc[1] + CASE WHEN acc[2] = -1 THEN 0
                           ELSE (e[1] - acc[2]) >> {_RL_SHIFT} END),
            e[1], acc[3], acc[4] + 1] END) AS st
  FROM seq
)
SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
       st[3] AS n_admitted, st[4] AS n_denied, st[1] AS final_tokens
FROM folded
"""

register("events_rate_limit", events_rate_limit, _RATE_LIMIT_ORACLE)


def events_stream_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming token-bucket rate limiter — the 18th real Structured
    Streaming run and the incremental twin of ``events_rate_limit``
    (itself the stateful variant events_throttle_dedup's docstring
    promises): per-user (tok, last, admitted, denied) carried across the
    four forced time-quartile micro-batches, same all-integer fold as
    ``rate_limit_state_col`` (refill = elapsed_us >> 13), so the final
    state is EXACTLY the batch oracle's — integers, not tolerance.

    At 100 TB this is admission control at ingest: O(1) keyed state per
    user, micro-batch order within a key supplied by Kafka partition
    ordering (modeled by the quartile files + maxFilesPerTrigger=1); the
    collapse guard raises if the run degenerates to fewer batches.
    """
    def step(st, rows):
        tok, last, a, dn = st
        for t in rows["ts"]:
            t_us = t.value // 1000          # pandas ns -> micros
            refill = 0 if last == -1 else (t_us - last) >> _RL_SHIFT
            tok = min(_RL_CAP, tok + refill)
            if tok >= _RL_COST:
                tok -= _RL_COST
                a += 1
            else:
                dn += 1
            last = t_us
        return tok, last, a, dn

    return (_keyed_fold_stream(
        read_file_stream(spark, _quartile_src(spark, sf_dir)),
        "po_stream_rl", step, (_RL_CAP, -1, 0, 0),
        "tok long, last long, a long, d long",
        out_cols=("n_events long, n_admitted long, n_denied long, "
                  "final_tokens long"),
        emit=lambda st: (st[2] + st[3], st[2], st[3], st[0]))
        .select("user_id", "s.n_events", "s.n_admitted", "s.n_denied",
                "s.final_tokens"))


register("events_stream_rate_limit", events_stream_rate_limit,
         _RATE_LIMIT_ORACLE)


# --------------------------------------------------------------------------
# OHLC bars (r5 wave 13) — the candlestick / telemetry downsampler: per
# (event_type, hour), open = first value, high/low = extrema, close =
# last value, n + decimal-exact volume.  ONE grouped aggregation: open
# and close are min_by/max_by over the (ts, event_id) struct key — order
# statistics, not window functions, so there is no per-row window pass
# and partial aggregation stays map-side combinable (the q_minby_maxby
# class).  The oracle computes first/last structurally independently via
# ROW_NUMBER joins.  Determinism: event_id breaks (ts) ties in the key;
# high/low are exact (no accumulation); volume uses the dsum decimal
# cast.  Scale: the canonical downsample-before-analytics step — output
# is O(types x hours), thousands of rows per 100 TB day.
# --------------------------------------------------------------------------


def events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    key = F.struct("ts", "event_id")
    return (ev.groupBy("event_type",
                       F.date_trunc("hour", "ts").alias("bar_hour"))
            .agg(F.min_by("value", key).alias("open"),
                 F.max("value").alias("high"),
                 F.min("value").alias("low"),
                 F.max_by("value", key).alias("close"),
                 F.count("*").alias("n_events"),
                 F.expr(dsum("value", "volume", 8)).alias("volume")))


_OHLC_ORACLE = f"""
WITH r AS (
  SELECT event_type, date_trunc('hour', ts) AS bar_hour, value,
         ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts ASC, event_id ASC) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn_z
  FROM events
),
agg AS (
  SELECT event_type, bar_hour, MAX(value) AS high, MIN(value) AS low,
         COUNT(*) AS n_events, {dsum('value', 'volume', 8)}
  FROM r GROUP BY 1, 2
)
SELECT a.event_type, a.bar_hour, o.value AS open, a.high, a.low,
       c.value AS close, a.n_events, a.volume
FROM agg a
JOIN r o ON o.event_type = a.event_type AND o.bar_hour = a.bar_hour
        AND o.rn_a = 1
JOIN r c ON c.event_type = a.event_type AND c.bar_hour = a.bar_hour
        AND c.rn_z = 1
"""

register("events_ohlc_bars", events_ohlc_bars, _OHLC_ORACLE)


def events_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC — the 19th real Structured Streaming run and the
    incremental twin of ``events_ohlc_bars``: the same one-pass
    min_by/max_by/extrema/decimal-volume aggregation as a STREAMING
    window aggregate over the four forced time-quartile micro-batches.

    The falsifiable core is STATE MERGE of the order statistics: the
    quartile split cuts many (type, hour) bars across batch boundaries,
    so Spark must merge partial min_by/max_by states such that open/close
    still come from the bar's globally first/last event — a
    last-batch-wins or first-batch-wins merge flips opens and closes on
    every boundary-straddling bar.  Complete mode keeps every bar in the
    sink; the result must equal the batch oracle row-for-row.
    """
    key = F.struct("ts", "event_id")
    stream = (
        read_file_stream(spark, _quartile_src(spark, sf_dir))
        .groupBy("event_type", F.window("ts", "1 hour").alias("w"))
        .agg(F.min_by("value", key).alias("open"),
             F.max("value").alias("high"),
             F.min("value").alias("low"),
             F.max_by("value", key).alias("close"),
             F.count("*").alias("n_events"),
             F.expr(dsum("value", "volume", 8)).alias("volume")))
    out = run_to_memory(stream, prefix="po_stream_ohlc",
                        output_mode="complete", min_data_batches=4)
    return out.select(
        "event_type", F.col("w.start").alias("bar_hour"),
        "open", "high", "low", "close", "n_events", "volume")


register("events_stream_ohlc", events_stream_ohlc, _OHLC_ORACLE)


# --------------------------------------------------------------------------
# Log2-bucketed histogram (r5 wave 13) — the HdrHistogram/DDSketch-
# family latency-histogram primitive in its exact-integer form: value ->
# milli units -> bucket = bit length of the integer (power-of-two
# buckets, ~2x relative error), counts grouped per (type, bucket).
# Bit length via length(bin(v)) — the same string-of-binary function in
# Spark and DuckDB, no float log2 (which would open a boundary-rounding
# class at exact powers of two).  Mergeability is the point at 100 TB:
# per-partition bucket counts add; the shuffle carries O(types x 64)
# rows regardless of event volume.  Bucket bounds emitted as exact
# milli-unit integers (shifts <= 63 never reached: values < 2^20 milli).
# --------------------------------------------------------------------------


def events_log_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    v = F.floor(F.col("value") * 1000).cast("long")
    # v <= 0 gets its own bucket 0 with bounds [0, 0]: value 0.0 occurs
    # in the corpus, and bin(0) = '0' would otherwise land it in bucket
    # 1 whose bounds exclude it (review-found); negatives would overflow
    # the shift — clamped into the same floor bucket
    bucket = F.when(v <= 0, F.lit(0).cast("long")) \
        .otherwise(F.length(F.bin(v)).cast("long"))
    return (ev.select("event_type", bucket.alias("bucket"), v.alias("v"))
            .groupBy("event_type", "bucket")
            .agg(F.count("*").alias("n"),
                 F.min("v").alias("min_milli"),
                 F.max("v").alias("max_milli"))
            .withColumn("lo_milli",
                        F.expr("CASE WHEN bucket = 0 THEN 0L ELSE "
                               "shiftleft(1L, cast(bucket - 1 as int)) END"))
            .withColumn("hi_milli",
                        F.expr("CASE WHEN bucket = 0 THEN 0L ELSE "
                               "shiftleft(1L, cast(bucket as int)) - 1 END")))


_LOG_HIST_ORACLE = """
WITH b AS (
  SELECT event_type,
         CASE WHEN CAST(floor(value * 1000) AS BIGINT) <= 0
              THEN CAST(0 AS BIGINT)
              ELSE CAST(length(bin(CAST(floor(value * 1000) AS BIGINT)))
                        AS BIGINT) END AS bucket,
         CAST(floor(value * 1000) AS BIGINT) AS v
  FROM events
)
SELECT event_type, bucket, COUNT(*) AS n,
       MIN(v) AS min_milli, MAX(v) AS max_milli,
       CASE WHEN bucket = 0 THEN 0
            ELSE (CAST(1 AS BIGINT) << CAST(bucket - 1 AS INT)) END
         AS lo_milli,
       CASE WHEN bucket = 0 THEN 0
            ELSE (CAST(1 AS BIGINT) << CAST(bucket AS INT)) - 1 END
         AS hi_milli
FROM b GROUP BY event_type, bucket
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# A/B experiment readout (r5 wave 13) — the product-analytics primitive
# over the funnel: users split into arms by stable id parity, exposure =
# has a view, conversion = a purchase inside the 48-hour attribution
# window after the FIRST view (the unwindowed variant converts EVERY
# exposed user on this corpus — measured — leaving the no-conversion
# branch dead; 48 h populates both branches at every SF: 11/4, 95/55,
# 895/605 converted/not);
# the 2x2 contingency table plus the chi-square statistic as EXACT
# integer rationals chi2 = num/den with num = n*(ad-bc)^2 and den =
# (a+b)(c+d)(a+c)(b+d) — the "emit counts and rationals, never the
# float score" discipline (q8/readability class), so the gate is
# hash-exact and the caller divides.  Overflow: counts <= 1e5 at sf0.1,
# so num <= n^5 ~ 1e25?  No — (ad-bc) <= ~2.5e9, squared 6.25e18 ~ 2^62:
# within BIGINT only because counts stay <= 5e4 per cell at sf0.1; the
# VARCHAR-bounce alternative is named if testdata ever grows 10x.
# Scale: two bounded aggregations (per-user, then per-arm) — no joins.
# --------------------------------------------------------------------------


def events_ab_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    fv = (ev.where(F.col("event_type") == "view")
          .groupBy("user_id").agg(F.min("ts").alias("fv")))
    # the otherwise(0) keeps exposed-but-never-purchased users as conv=0
    # (a NULL conv would silently drop them from every cell)
    per_user = (ev.join(fv, "user_id")
                .groupBy("user_id", "fv")
                .agg(F.max(F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("fv"))
                    & (F.col("ts") <= F.col("fv")
                       + F.expr("INTERVAL 48 HOURS")), 1)
                    .otherwise(0)).alias("conv")))
    exposed = per_user.select(
        (F.col("user_id") % 2).alias("arm"), "conv")
    cell = (exposed.groupBy().agg(
        F.sum(F.when((F.col("arm") == 0) & (F.col("conv") == 1), 1)
              .otherwise(0)).alias("a"),
        F.sum(F.when((F.col("arm") == 0) & (F.col("conv") == 0), 1)
              .otherwise(0)).alias("b"),
        F.sum(F.when((F.col("arm") == 1) & (F.col("conv") == 1), 1)
              .otherwise(0)).alias("c"),
        F.sum(F.when((F.col("arm") == 1) & (F.col("conv") == 0), 1)
              .otherwise(0)).alias("d")))
    n = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    delta = F.col("a") * F.col("d") - F.col("b") * F.col("c")
    den = ((F.col("a") + F.col("b")) * (F.col("c") + F.col("d"))
           * (F.col("a") + F.col("c")) * (F.col("b") + F.col("d")))
    return cell.select(
        "a", "b", "c", "d",
        (n * delta * delta).alias("chi2_num"),
        den.alias("chi2_den"))


_AB_ORACLE = """
WITH fv AS (
  SELECT user_id, MIN(ts) AS fv
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
exposed AS (
  SELECT e.user_id % 2 AS arm,
         MAX(CASE WHEN e.event_type = 'purchase' AND e.ts > f.fv
                   AND e.ts <= f.fv + INTERVAL 48 HOUR
              THEN 1 ELSE 0 END) AS conv
  FROM events e JOIN fv f USING (user_id)
  GROUP BY e.user_id
),
cell AS (
  SELECT
    CAST(SUM(CASE WHEN arm = 0 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
    CAST(SUM(CASE WHEN arm = 0 AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
    CAST(SUM(CASE WHEN arm = 1 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
    CAST(SUM(CASE WHEN arm = 1 AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM exposed
)
SELECT a, b, c, d,
       (a + b + c + d) * (a * d - b * c) * (a * d - b * c) AS chi2_num,
       (a + b) * (c + d) * (a + c) * (b + d) AS chi2_den
FROM cell
"""

# registered via the r6 consolidation pack — see end of file


def events_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup — THE distributed-first distinct-counting
    pattern: per-(type, day) HyperLogLog sketches of distinct users are
    built once, then re-aggregated to per-type totals with
    ``hll_union_agg`` — the union costs sketch-bytes, not data, which is
    why a 100 TB pipeline stores daily sketches and never recounts raw
    events for a new rollup grain.

    Gate shape follows q_approx_aggregates: sketch bytes are
    engine-specific, so the row carries the EXACT values (hash-compared)
    plus a ``within_tol`` boolean asserting the unioned estimate landed
    inside the envelope (lgConfigK=12 → rsd ≈ 1.6 %; 0.1 ≈ 6σ).  The
    union path being WRONG (e.g. double-counting a day) would blow the
    envelope and flip the boolean.
    """
    ev = load_events(spark, sf_dir)
    daily = (ev.groupBy("event_type", F.date_trunc("day", "ts").alias("d"))
             .agg(F.hll_sketch_agg("user_id").alias("sk"),
                  F.count("*").alias("n")))
    rolled = (daily.groupBy("event_type")
              .agg(F.hll_sketch_estimate(F.hll_union_agg("sk"))
                   .alias("est_users"),
                   F.count("*").alias("n_days"),
                   F.sum("n").alias("n_events")))
    exact = (ev.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("exact_users")))
    return (rolled.join(exact, "event_type")
            .select("event_type", "n_days", "n_events", "exact_users",
                    (F.abs(F.col("est_users").cast("double")
                           - F.col("exact_users").cast("double"))
                     <= F.lit(0.1) * F.col("exact_users").cast("double"))
                    .alias("within_tol")))


_SKETCH_ROLLUP_ORACLE = """
SELECT event_type,
       COUNT(DISTINCT date_trunc('day', ts)) AS n_days,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS within_tol
FROM events GROUP BY event_type
"""

register("events_sketch_rollup", events_sketch_rollup,
         _SKETCH_ROLLUP_ORACLE)


def events_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM inner join as an ACTUAL Structured Streaming run — the
    5th real streaming gate and the one marquee streaming surface the
    others don't cover: two readStreams (views, clicks) joined on user
    with an event-time interval condition and watermarks on BOTH sides,
    exactly the production shape that lets the engine expire join state.

    An inner stream-stream join emits each matched pair exactly once
    whenever the micro-batching lands, so the raw pair set is
    batching-independent and equals the batch range join — the oracle is
    the same predicate run batch-side.

    Both sides read the unsliced source in ONE micro-batch: with slicing,
    watermark-driven state eviction would make the pair set depend on the
    batch boundaries.  Stream-stream joins keep FOUR state stores per
    shuffle partition, each paying a multi-second local init — the reason
    the harness scopes every run to 4 partitions (state parallelism is a
    cluster-sizing knob, not a semantics one).
    """
    views, clicks = _view_click_streams(spark, sf_dir)
    joined = views.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr("INTERVAL 30 MINUTES")))
    out = run_to_memory(joined, prefix="po_stream_ssj", output_mode="append",
                        min_data_batches=1)
    return out.select(
        "user_id", "view_id", "click_id",
        (F.unix_micros("click_ts") - F.unix_micros("view_ts"))
        .alias("delta_us"))


def _view_click_streams(spark: SparkSession, sf_dir: str):
    """The (views, clicks) watermarked stream pair of the join gates, both
    over the unsliced source."""
    d = _stream_source_dir(spark, sf_dir)
    views = (read_file_stream(spark, d, None)
             .where(F.col("event_type") == "view")
             .select("user_id", F.col("event_id").alias("view_id"),
                     F.col("ts").alias("view_ts"))
             .withWatermark("view_ts", "1 hour"))
    clicks = (read_file_stream(spark, d, None)
              .where(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user_id"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts"))
              .withWatermark("click_ts", "1 hour"))
    return views, clicks


_STREAM_SSJ_ORACLE = """
SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
       epoch_us(c.ts) - epoch_us(v.ts) AS delta_us
FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view') v
JOIN (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') c
  ON v.user_id = c.user_id
 AND epoch_us(c.ts) - epoch_us(v.ts) BETWEEN 0 AND 1800 * 1000000
"""

register("events_stream_stream_join", events_stream_stream_join,
         _STREAM_SSJ_ORACLE)


def events_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT surface — the inverse of events_pivot_counts: the widened
    per-user count columns melt back to (user_id, metric, n) rows via the
    native ``unpivot`` operator (STACK in SQL form).  Round-tripping
    through pivot→unpivot is the schema-reshaping pair a reporting layer
    needs; unpivot is a zero-shuffle per-row expansion.
    """
    ev = load_events(spark, sf_dir)
    wide = (ev.groupBy("user_id")
            .pivot("event_type", ["view", "click", "purchase", "signup"])
            .count().na.fill(0))
    return (wide.unpivot(
        "user_id",
        ["view", "click", "purchase", "signup"],
        "metric", "n")
        .where(F.col("n") > 0))


_UNPIVOT_ORACLE = """
WITH wide AS (
  SELECT user_id,
         COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
         COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
         COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
         COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup
  FROM events GROUP BY user_id
)
SELECT user_id, metric, n FROM (
  SELECT user_id, 'view' AS metric, n_view AS n FROM wide
  UNION ALL SELECT user_id, 'click', n_click FROM wide
  UNION ALL SELECT user_id, 'purchase', n_purchase FROM wide
  UNION ALL SELECT user_id, 'signup', n_signup FROM wide
) WHERE n > 0
"""

register("events_unpivot_metrics", events_unpivot_metrics, _UNPIVOT_ORACLE)


def events_session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionized conversion rate — the composition a product-analytics
    layer runs on top of sessionization: per user, how many 30-minute-gap
    sessions exist and what fraction contain a purchase.  All counts are
    exact ints; the rate is one int/int double division (engine-exact).
    Plan: the same single user_id shuffle as events_sessionize, then two
    count aggregations.
    """
    ev = load_events(spark, sf_dir)
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sess = (ev.withColumn("prev_ts", F.lag("ts").over(w_user))
            .withColumn("is_new", (F.col("prev_ts").isNull()
                                   | (F.unix_micros("ts")
                                      - F.unix_micros("prev_ts")
                                      > 1800 * 1_000_000)).cast("int"))
            .withColumn("session_no", F.sum("is_new").over(
                w_user.rowsBetween(Window.unboundedPreceding, 0))))
    per_session = (sess.groupBy("user_id", "session_no")
                   .agg(F.max((F.col("event_type") == "purchase").cast("int"))
                        .alias("has_purchase")))
    return (per_session.groupBy("user_id")
            .agg(F.count("*").alias("n_sessions"),
                 F.sum("has_purchase").alias("n_converted"))
            .select("user_id", "n_sessions", "n_converted",
                    (F.col("n_converted").cast("double")
                     / F.col("n_sessions").cast("double"))
                    .alias("conversion_rate")))


_SESSION_CONV_ORACLE = """
WITH flagged AS (
  SELECT user_id, event_id, event_type, ts,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessioned AS (
  SELECT user_id, event_type,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_no
  FROM flagged
),
per_session AS (
  SELECT user_id, session_no,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS has_purchase
  FROM sessioned GROUP BY user_id, session_no
)
SELECT user_id, COUNT(*) AS n_sessions,
       CAST(SUM(has_purchase) AS BIGINT) AS n_converted,
       CAST(CAST(SUM(has_purchase) AS BIGINT) AS DOUBLE)
       / CAST(COUNT(*) AS DOUBLE) AS conversion_rate
FROM per_session GROUP BY user_id
"""

register("events_session_conversion", events_session_conversion,
         _SESSION_CONV_ORACLE)


def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier profile per event type: median, median-absolute-
    deviation, and the count of values beyond 3·MAD — the
    heavy-tail-tolerant sibling of ``q_event_zscores`` (mean/std break
    down under the very outliers being hunted).

    Determinism: median interpolation is (a+b)/2 of concrete doubles —
    bit-stable across engines (the q_exact_quantiles class); deviations
    and the 3·MAD threshold are then pure double arithmetic.

    Scale note: ``percentile`` here is the exact verification-grade form
    (per-group sorted buffer — fine while each event_type group fits an
    executor); the 100 TB path swaps in ``approx_percentile`` /
    mergeable t-digests exactly as ``q_approx_aggregates`` and
    ``events_sketch_rollup`` demonstrate for counts."""
    ev = load_events(spark, sf_dir)
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med"))
    dev = (ev.join(med, "event_type")
           .select("event_type", "med",
                   F.abs(F.col("value") - F.col("med")).alias("adev")))
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad"),
        F.min("med").alias("med"))
    return (dev.drop("med").join(mad, "event_type")
            .groupBy("event_type", "med", "mad")
            .agg(F.count("*").alias("n"),
                 F.sum(F.when(F.col("adev") > 3 * F.col("mad"), 1)
                       .otherwise(0)).alias("n_outliers")))


_MAD_ORACLE = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY 1
),
dev AS (
  SELECT e.event_type, ABS(e.value - m.med) AS adev
  FROM events e JOIN med m USING (event_type)
),
mad AS (
  SELECT d.event_type, quantile_cont(d.adev, 0.5) AS mad, MIN(m.med) AS med
  FROM dev d JOIN med m USING (event_type) GROUP BY 1
)
SELECT d.event_type, m.med, m.mad, COUNT(*) AS n,
       CAST(SUM(CASE WHEN d.adev > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY 1, 2, 3
"""

register("events_mad_outliers", events_mad_outliers, _MAD_ORACLE)


# --------------------------------------------------------------------------
# Seasonal (hour-of-day) baseline + deviation profile — the "is this hour
# unusually hot?" primitive behind dashboard anomaly bands.  Two passes:
# (1) one groupBy builds the tiny (type × 24h) baseline table with an
# exact-decimal mean (order-free), (2) the baseline broadcasts back onto
# the raw stream and a second map-side-combined agg counts exceedances.
# At 100 TB the baseline stays O(types·24) — the broadcast join never
# shuffles the event table a second time.
# --------------------------------------------------------------------------


def events_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (load_events(spark, sf_dir)
          .select("event_type", F.hour("ts").cast("int").alias("hour_of_day"),
                  "value"))
    base = (ev.groupBy("event_type", "hour_of_day")
            .agg(F.count("*").alias("n_events"),
                 F.expr(davg("value", "mean_value", 8)).alias("mean_value")))
    return (ev.join(F.broadcast(base), ["event_type", "hour_of_day"])
            .groupBy("event_type", "hour_of_day", "n_events", "mean_value")
            .agg(F.sum(F.when(F.col("value") > 1.5 * F.col("mean_value"), 1)
                       .otherwise(0)).alias("n_above")))


#: mean_value = one double division of an exact decimal sum by an exact
#: count (bit-identical cross-engine); 1.5*mean and the > compare are then
#: single IEEE ops on identical doubles.  SUM(CASE..1..0) is HUGEINT in
#: DuckDB -> CAST AS BIGINT (the events_sessionize class).
_SEASONAL_ORACLE = f"""
WITH base AS (
  SELECT event_type, CAST(hour(ts) AS INT) AS hour_of_day,
         COUNT(*) AS n_events,
         {davg('value', 'mean_value', 8)}
  FROM events GROUP BY 1, 2
)
SELECT e.event_type, e.hour_of_day, b.n_events, b.mean_value,
       CAST(SUM(CASE WHEN e.value > 1.5 * b.mean_value THEN 1 ELSE 0 END)
            AS BIGINT) AS n_above
FROM (SELECT event_type, CAST(hour(ts) AS INT) AS hour_of_day, value
      FROM events) e
JOIN base b
  ON e.event_type = b.event_type AND e.hour_of_day = b.hour_of_day
GROUP BY 1, 2, 3, 4
"""

register("events_seasonal_baseline", events_seasonal_baseline,
         _SEASONAL_ORACLE)


# --------------------------------------------------------------------------
# Per-user EWMA smoothing — the sequential-fold determinism class
# (lens_object_merge_stats / text_bigram_lm precedent): each user's value
# sequence folds IN ORDER (ts, event_id tiebreak) through
# s_i = 0.25*x_i + 0.75*s_{i-1}, so both engines execute the IDENTICAL
# IEEE op sequence and the result is bit-exact — dyadic alpha (1/4) makes
# the coefficients themselves exact.  This is the streaming-telemetry
# smoothing primitive (anomaly bands, load trending).
#
# Scale shape: one groupBy(user_id) + in-row array fold — the per-user
# sequence is session-sized (bounded by a user's activity), never
# corpus-sized; no window function, no global sort.  At 100 TB the same
# fold runs incrementally via applyInPandasWithState (state = last EWMA).
# --------------------------------------------------------------------------


def events_ewma_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    seq = (ev.groupBy("user_id")
           .agg(F.array_sort(
               F.collect_list(F.struct("ts", "event_id", "value")))
               .alias("s")))
    vals = F.col("s").getField("value")
    tail = F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0)))
    ewma = F.aggregate(
        tail, F.element_at(vals, 1),
        lambda acc, x: F.lit(0.25) * x + F.lit(0.75) * acc)
    return seq.select("user_id",
                      F.size("s").cast("long").alias("n_events"),
                      ewma.alias("ewma"))


_EWMA_ORACLE = """
WITH seq AS (
  SELECT user_id, list(value ORDER BY ts, event_id) AS vals
  FROM events GROUP BY user_id
)
SELECT user_id, CAST(len(vals) AS BIGINT) AS n_events,
       list_reduce(vals, (acc, x) -> 0.25 * x + 0.75 * acc) AS ewma
FROM seq
"""

# registered via the r6 consolidation pack — see end of file


def events_stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EWMA with state CONTINUATION across micro-batches — the
    incremental form of ``events_ewma_users``, run as a REAL Structured
    Streaming query.  The source directory is written as four
    time-quartile files (each user's events in batch i all precede their
    events in batch i+1) and streamed with ``maxFilesPerTrigger=1``, so
    availableNow is FORCED through four ordered micro-batches: the
    per-user (n, ewma) state genuinely carries the fold across batch
    boundaries instead of collapsing into one batch.

    Within a batch the key's rows sort by (ts, event_id) before folding —
    the same total order as the batch gate — so Python, Spark, and DuckDB
    execute the identical IEEE sequence and the final state is BIT-EXACT
    equal to the batch ``list_reduce`` oracle.  Update-mode emissions are
    reduced batching-independently via struct-max on the strictly
    increasing n (the events_stream_stateful pattern).

    At 100 TB this is the production smoothing shape: keyed state is one
    (long, double) per user, and file-source ordering generalizes to
    Kafka per-partition order (keyed by user so a user's events stay in
    one ordered partition).
    """
    def step(st, rows):
        n, ewma = st
        for v in rows["value"]:
            v = float(v)
            ewma = v if ewma is None else 0.25 * v + 0.75 * ewma
            n += 1
        return n, ewma

    return (_keyed_fold_stream(
        read_file_stream(spark, _quartile_src(spark, sf_dir)),
        "po_stream_ewma", step, (0, None), "n_events long, ewma double")
        .select("user_id", "s.n_events", "s.ewma"))


register("events_stream_ewma", events_stream_ewma, _EWMA_ORACLE)


# --------------------------------------------------------------------------
# Semi-structured JSON column analytics — schema-on-read over the events
# ``props`` JSON string: from_json projects the typed field INSIDE the
# scan pipeline (no UDF, codegen'd Jackson parse), then an ordinary
# grouped profile over the derived field.  This is the dynamic-document
# surface of the reference's schema-less records (SURVEY §1.2) expressed
# the Spark way: store dynamic JSON, project typed views on demand.
#
# Scale shape: parse + bucket are map-side expressions; one groupBy with
# map-side combine; output is O(event_types x buckets).
# --------------------------------------------------------------------------


def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    k = F.from_json("props", "k long").getField("k")
    return (ev.select("event_type", k.alias("k"), "value")
            .groupBy("event_type", F.expr("k div 10").alias("k_bucket"))
            .agg(F.count("*").alias("n_events"),
                 F.expr(dsum("value", "total_value", 8))
                 .alias("total_value"),
                 F.min("k").alias("k_min"),
                 F.max("k").alias("k_max"),
                 F.sum("k").cast("long").alias("k_sum")))


#: DuckDB SUM(BIGINT) is HUGEINT -> CAST AS BIGINT (the sessionize class);
#: MIN/MAX keep their input type and are safe.
_JSON_EXTRACT_ORACLE = f"""
SELECT event_type,
       CAST(json_extract(props, '$.k') AS BIGINT) // 10 AS k_bucket,
       COUNT(*) AS n_events,
       {dsum('value', 'total_value', 8)},
       MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS k_min,
       MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS k_max,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
         AS k_sum
FROM events
GROUP BY 1, 2
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Interval concurrency via sweep-line: each event opens a deterministic
# interval (duration 60 + event_id % 240 seconds) and the query answers
# "how many intervals are active at once?" per hour — the room-occupancy /
# connection-count shape, an interval-algebra operator none of the window
# gates cover (overlap counting needs +1/-1 boundary events + a prefix
# sum, not a frame).
#
# Scale shape: the prefix sum is SHARDED, never a global window (the
# text_pack_sequences discipline).  Boundaries carry their hour as shard
# key; the cumulative sum runs per hour (local window over an
# hour-partitioned shuffle), and cross-hour carry-over is reconstructed by
# a second, BOUNDED window over the per-hour net sums (720 rows for this
# corpus's 30 days — O(hours), not O(events); the sweep test's
# HashAggregate marker applies).  offset(h) + local_cumsum ==
# global_cumsum because boundary order (t_us, delta, event_id) sorts hours
# monotonically.  Ties are deterministic: an interval ending exactly when
# another starts closes first (delta -1 < +1), and event_id breaks exact
# (t, delta) ties.
#
# The oracle states the SPEC instead of mirroring the shards: one global
# cumulative sum (fine at oracle scale) — equality with the sharded plan
# is the content of the gate.  Windowed SUM(int) is HUGEINT in DuckDB →
# CAST BIGINT (the sessionize class).
# --------------------------------------------------------------------------


def events_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    base = ev.select(
        F.unix_micros("ts").alias("start_us"),
        (F.unix_micros("ts")
         + (F.lit(60) + F.col("event_id") % 240) * 1_000_000)
        .alias("end_us"),
        "event_id")
    starts = base.select(F.col("start_us").alias("t_us"),
                         F.lit(1).alias("delta"), "event_id")
    ends = base.select(F.col("end_us").alias("t_us"),
                       F.lit(-1).alias("delta"), "event_id")
    b = starts.unionByName(ends).withColumn(
        "hour", F.date_trunc("hour", F.timestamp_micros(F.col("t_us"))))
    w_local = (Window.partitionBy("hour")
               .orderBy("t_us", "delta", "event_id")
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    c = b.withColumn("local_cum", F.sum("delta").over(w_local))
    per_hour = c.groupBy("hour").agg(
        F.max("local_cum").alias("max_local"),
        F.sum("delta").alias("net"),
        F.count(F.when(F.col("delta") == 1, True)).alias("n_starts"))
    # bounded: one row per hour — the offset window input is O(hours)
    w_off = (Window.orderBy("hour")
             .rowsBetween(Window.unboundedPreceding, -1))
    # true in-hour peak = max(carry, carry + best local prefix): an hour
    # whose only boundaries are ENDS still ran at the carried-in level
    # from the hour start (review find: offset + max_local alone
    # understated exactly those hours; the oracle shared the defect —
    # the shared-spec class a differential gate cannot catch)
    return per_hour.select(
        "hour",
        (F.coalesce(F.sum("net").over(w_off), F.lit(0))
         + F.greatest(F.col("max_local"), F.lit(0)))
        .alias("max_concurrency"),
        "n_starts")


_CONCURRENCY_ORACLE = """
WITH b AS (
  SELECT epoch_us(ts) AS t_us, 1 AS delta, event_id FROM events
  UNION ALL
  SELECT epoch_us(ts) + (60 + event_id % 240) * 1000000, -1, event_id
  FROM events
),
c AS (
  SELECT date_trunc('hour', make_timestamp(t_us)) AS hour, delta,
         CAST(SUM(delta) OVER (ORDER BY t_us, delta, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS conc
  FROM b
)
-- GREATEST over post- AND pre-boundary levels: the level BEFORE the
-- hour's first boundary is the carried-in concurrency, which IS the
-- hour's peak when every in-hour boundary is an end
SELECT hour,
       CAST(GREATEST(MAX(conc), MAX(conc - delta)) AS BIGINT)
         AS max_concurrency,
       COUNT(CASE WHEN delta = 1 THEN 1 END) AS n_starts
FROM c GROUP BY hour
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Interval MERGE (episodes): per user, overlapping/touching deterministic
# intervals coalesce into maximal episodes — the other half of interval
# algebra next to events_concurrency (that one counts overlap, this one
# dissolves it).  Classic running-max sweep: an interval opens a new
# episode iff its start exceeds the max end of everything before it; the
# cumulative flag sum numbers episodes.  Both windows are PARTITIONED BY
# user (scales with the user count; no global sort), and the second
# grouping collapses episodes before the per-user profile — the output is
# O(users).
#
# Oracle: same running-max/cumsum spec; windowed + plain SUM(int/BIGINT)
# are HUGEINT in DuckDB → CAST BIGINT (the sessionize class).
# --------------------------------------------------------------------------


def events_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    base = ev.select(
        "user_id", "event_id",
        F.unix_micros("ts").alias("s_us"),
        (F.unix_micros("ts")
         + (F.lit(60) + F.col("event_id") % 240) * 1_000_000)
        .alias("e_us"))
    w = Window.partitionBy("user_id").orderBy("s_us", "event_id")
    prev_max_end = (F.max("e_us")
                    .over(w.rowsBetween(Window.unboundedPreceding, -1)))
    flagged = base.withColumn(
        "is_new",
        F.when(prev_max_end.isNull() | (F.col("s_us") > prev_max_end), 1)
        .otherwise(0))
    epi = flagged.withColumn(
        "episode",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    per_epi = epi.groupBy("user_id", "episode").agg(
        F.min("s_us").alias("ep_start"),
        F.max("e_us").alias("ep_end"),
        F.count("*").alias("n_events"))
    return per_epi.groupBy("user_id").agg(
        F.count("*").alias("n_episodes"),
        F.sum(F.col("ep_end") - F.col("ep_start")).alias("busy_us"),
        F.max("n_events").alias("max_episode_events"),
        F.max(F.col("ep_end") - F.col("ep_start")).alias("longest_us"))


_INTERVAL_MERGE_ORACLE = """
WITH base AS (
  SELECT user_id, event_id, epoch_us(ts) AS s_us,
         epoch_us(ts) + (60 + event_id % 240) * 1000000 AS e_us
  FROM events
),
f AS (
  SELECT user_id, event_id, s_us, e_us,
         CASE WHEN MAX(e_us) OVER pw IS NULL OR s_us > MAX(e_us) OVER pw
              THEN 1 ELSE 0 END AS is_new
  FROM base
  WINDOW pw AS (PARTITION BY user_id ORDER BY s_us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
e AS (
  SELECT user_id, s_us, e_us,
         CAST(SUM(is_new) OVER (PARTITION BY user_id
                                ORDER BY s_us, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS episode
  FROM f
),
pe AS (
  SELECT user_id, episode, MIN(s_us) AS ep_start, MAX(e_us) AS ep_end,
         COUNT(*) AS n_events
  FROM e GROUP BY user_id, episode
)
SELECT user_id, COUNT(*) AS n_episodes,
       CAST(SUM(ep_end - ep_start) AS BIGINT) AS busy_us,
       MAX(n_events) AS max_episode_events,
       MAX(ep_end - ep_start) AS longest_us
FROM pe GROUP BY user_id
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# CUSUM change-point alarms: per user, the one-sided cumulative-sum
# control chart — S_i = max(0, S_{i-1} + (x_i - k)), alarm + reset when
# S_i crosses h — the classic sequential drift detector (data-quality
# monitoring over an ingest stream; EWMA smooths, CUSUM *decides*).
# k = 55.25 slack / h = 250.5 threshold keep BOTH branches populated at
# every SF (alarm users / zero-alarm users: 9/6 at sf0.001, 96/54 at
# sf0.01, 1037/463 at sf0.1 — measured).
#
# Determinism: the fold is the events_ewma_users sequential-IEEE class —
# an ordered in-row array fold over (ts, event_id)-sorted values; every
# operand is explicitly DOUBLE (DuckDB infers bare numeric literals as
# DECIMAL inside lambdas — the CAST keeps both engines in IEEE the whole
# way).  max() and + on doubles are order-fixed by the fold, so Spark ≡
# DuckDB ≡ the pytest Python replica bit-for-bit.
#
# ORACLE HAZARD (new cross-engine class, found building this gate):
# DuckDB 1.0.0's list_reduce with a STRUCT accumulator mis-lanes struct
# FIELDS across rows in a vector batch — on this very corpus the final
# `s` field was right for every user while `n` came back permuted
# between users (68/150 rows wrong at sf0.01; correct when the same rows
# run solo, correct on random fixtures — strictly batch-composition-
# dependent).  A LIST-typed accumulator ([s, n] DOUBLE[2]) does not
# trigger the defect: 0/1665 mismatches vs the Python replica across all
# three SFs.  The oracle therefore folds with a list accumulator; the
# Spark side keeps the natural struct (Spark's aggregate() is exact).
#
# Scale shape: one groupBy shuffle to assemble per-user sequences (state
# is O(events-per-user) in-row, not a window over the stream), then
# map-only folds.  The streaming twin would be applyInPandasWithState
# carrying (S, n) — the events_stream_ewma pattern.
# --------------------------------------------------------------------------


def cusum_state_col(vals, k: float = 55.25, h: float = 250.5):
    """Folded CUSUM state over an ordered array of doubles: a struct
    column (s = final statistic, n = alarm count) — S_i = max(0,
    S_{i-1} + (x_i - k)), alarm + reset when S_i > h.  Exposed
    module-level so the pytest replica exercises THIS expression, not a
    copy of it."""
    kl, hl = F.lit(float(k)), F.lit(float(h))
    init = F.struct(F.lit(0.0).alias("s"), F.lit(0).alias("n"))

    def step(acc, x):
        nxt = F.greatest(F.lit(0.0), acc.getField("s") + (x - kl))
        return F.when(
            nxt > hl,
            F.struct(F.lit(0.0).alias("s"),
                     (acc.getField("n") + 1).alias("n"))
        ).otherwise(
            F.struct(nxt.alias("s"), acc.getField("n").alias("n")))

    return F.aggregate(vals, init, step)


def events_cusum_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    seq = (ev.groupBy("user_id")
           .agg(F.array_sort(
               F.collect_list(F.struct("ts", "event_id", "value")))
               .alias("s")))
    st = cusum_state_col(F.col("s").getField("value"))
    return seq.select(
        "user_id",
        F.size("s").cast("long").alias("n_events"),
        st.getField("n").cast("long").alias("n_alarms"),
        st.getField("s").alias("final_s"))


_CUSUM_ORACLE = """
WITH seq AS (
  SELECT user_id, list(value ORDER BY ts, event_id) AS vals
  FROM events GROUP BY user_id
),
folded AS (
  -- LIST accumulator [s, n], NOT a struct: DuckDB 1.0.0 list_reduce
  -- mis-lanes struct fields across batch rows (see gate comment)
  SELECT user_id, len(vals) AS n_events, list_reduce(
    list_prepend([CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)],
      list_transform(vals, x -> [x, CAST(0 AS DOUBLE)])),
    (acc, e) -> CASE
      WHEN greatest(CAST(0 AS DOUBLE),
                    acc[1] + (e[1] - CAST(55.25 AS DOUBLE)))
           > CAST(250.5 AS DOUBLE)
      THEN [CAST(0 AS DOUBLE), acc[2] + 1]
      ELSE [greatest(CAST(0 AS DOUBLE),
                     acc[1] + (e[1] - CAST(55.25 AS DOUBLE))),
            acc[2]] END) AS st
  FROM seq
)
SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
       CAST(st[2] AS BIGINT) AS n_alarms, st[1] AS final_s
FROM folded
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Conversion-window funnel: events_funnel with the industry semantics a
# marketing/product pipeline actually ships — each stage must land INSIDE
# an attribution window (click within 48 h of the first view, purchase
# within 96 h of that click), so late conversions fall out of the funnel
# instead of counting forever.  Windows of (48 h, 96 h) keep every stage
# AND every drop-off branch populated at all three SFs (15/8/7 at
# sf0.001, 150/96/79, 1500/864/723 — measured).  All comparisons are
# exact integer epoch arithmetic (timestamp + literal interval); stage
# attribution is deterministic (MIN is an order stat).
# Scale shape: identical to events_funnel — three filtered
# min-aggregations chained by user_id equi-joins on a SHRINKING user
# set; no windows, no self-join over raw events.
# --------------------------------------------------------------------------


def events_windowed_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)

    def first_within(etype: str, prev, prev_col: str, hours: int,
                     alias: str):
        return (ev.where(F.col("event_type") == etype)
                .join(prev.select("user_id", prev_col), "user_id")
                .where((F.col("ts") >= F.col(prev_col))
                       & (F.col("ts") <= F.col(prev_col)
                          + F.expr(f"INTERVAL {hours} HOURS")))
                .groupBy("user_id").agg(F.min("ts").alias(alias)))

    views = (ev.where(F.col("event_type") == "view")
             .groupBy("user_id").agg(F.min("ts").alias("first_view")))
    clicks = first_within("click", views, "first_view", 48, "first_click")
    buys = first_within("purchase", clicks, "first_click", 96,
                        "first_purchase")
    return (views.join(clicks, "user_id", "left")
            .join(buys, "user_id", "left")
            .select("user_id", "first_view", "first_click",
                    "first_purchase",
                    (F.lit(1)
                     + F.col("first_click").isNotNull().cast("int")
                     + F.col("first_purchase").isNotNull().cast("int"))
                    .alias("stage")))


_WFUNNEL_ORACLE = """
WITH v AS (SELECT user_id, MIN(ts) AS first_view
           FROM events WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, MIN(e.ts) AS first_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts >= v.first_view
        AND e.ts <= v.first_view + INTERVAL 48 HOUR
      GROUP BY e.user_id),
p AS (SELECT e.user_id, MIN(e.ts) AS first_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= c.first_click
        AND e.ts <= c.first_click + INTERVAL 96 HOUR
      GROUP BY e.user_id)
SELECT v.user_id, v.first_view, c.first_click, p.first_purchase,
       CAST(1 + CASE WHEN c.first_click IS NULL THEN 0 ELSE 1 END
              + CASE WHEN p.first_purchase IS NULL THEN 0 ELSE 1 END
            AS INT) AS stage
FROM v
LEFT JOIN c ON v.user_id = c.user_id
LEFT JOIN p ON v.user_id = p.user_id
"""

register("events_windowed_funnel", events_windowed_funnel, _WFUNNEL_ORACLE)


def events_stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CUSUM — the 8th real Structured Streaming run and the
    incremental twin of ``events_cusum_alarms``: per-user (n, S, alarms)
    state carried across four FORCED micro-batches (the
    events_stream_ewma time-quartile source + maxFilesPerTrigger=1
    recipe, and the same collapse guard — a degenerate single-batch run
    raises instead of silently greening).

    Within a batch the key's rows sort by (ts, event_id); the fold is the
    same IEEE sequence as the batch gate's ``cusum_state_col`` and the
    Python replica, so the final state is BIT-EXACT equal to the batch
    oracle.  Update-mode emissions reduce batching-independently via
    struct-max on the strictly increasing n_events.

    At 100 TB this is the production drift-monitor shape: keyed state is
    (long, double, long) per user; Kafka per-partition order (user-keyed)
    supplies the within-key ordering the quartile files model here.
    """
    def step(st, rows):
        n, s, alarms = st
        for v in rows["value"]:
            t = max(0.0, s + (float(v) - 55.25))
            if t > 250.5:
                s, alarms = 0.0, alarms + 1
            else:
                s = t
            n += 1
        return n, s, alarms

    return (_keyed_fold_stream(
        read_file_stream(spark, _quartile_src(spark, sf_dir)),
        "po_stream_cusum", step, (0, 0.0, 0),
        "n_events long, final_s double, n_alarms long")
        .select("user_id", "s.n_events", "s.n_alarms", "s.final_s"))


register("events_stream_cusum", events_stream_cusum, _CUSUM_ORACLE)


# --------------------------------------------------------------------------
# Cumulative growth curve (r5 wave 11): daily active users + new users +
# running cumulative distinct users — the "total users over time" dashboard
# primitive.  Running COUNT(DISTINCT) is the textbook hard case (naive
# formulations re-scan the prefix per day); the scalable identity is
# first-touch decomposition: cum_distinct(day) = SUM of first-seen counts
# over days <= day.  Two bounded aggregations (user-day distinct, first day
# per user) and ONE unpartitioned cumulative window over the O(days)
# aggregate — never over raw events (sweep-tested: HashAggregate upstream).
# Days with activity but no first-timers keep new_users = 0 via the left
# join; day gaps (no events at all) are absent rows by definition.
# Windowed SUM CAST AS BIGINT both sides (DuckDB HUGEINT class).
# --------------------------------------------------------------------------


def events_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    days = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")).distinct()
    dau = days.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    first = days.groupBy("user_id").agg(F.min("day").alias("day"))
    new = first.groupBy("day").agg(F.count("*").alias("new_users"))
    base = (dau.join(new, "day", "left")
            .select("day", "dau",
                    F.coalesce("new_users", F.lit(0)).alias("new_users")))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return base.select(
        "day", "dau", "new_users",
        F.sum("new_users").over(w).alias("cum_users"))


_CUM_USERS_ORACLE = """
WITH days AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
),
dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM days GROUP BY day),
firsts AS (SELECT user_id, MIN(day) AS day FROM days GROUP BY user_id),
news AS (SELECT day, COUNT(*) AS new_users FROM firsts GROUP BY day)
SELECT d.day, d.dau,
       COALESCE(n.new_users, 0) AS new_users,
       CAST(SUM(COALESCE(n.new_users, 0)) OVER (
            ORDER BY d.day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_users
FROM dau d LEFT JOIN news n USING (day)
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Watermark late-data accounting (r5 wave 11, 9th real streaming run).
# The one streaming semantic no batch-equivalence gate had pinned yet:
# event-time watermarking actually DROPPING too-late input while admitting
# in-watermark stragglers.  Source = the 4 time-quartile files, except
# file 4 additionally carries two planted row sets:
#   * late20  — copies of the corpus's 20 EARLIEST events (re-ided):
#     their windows closed days before batch 4's watermark, so the engine
#     must discard them — their windows' counts stay at the original
#     values (falsifiable: an engine that admits them doubles those
#     counts and the hash goes red);
#   * adm20   — copies of the 20 events at the 80%-by-count position:
#     inside batch 4's watermark but with window_end safely below the
#     FINAL watermark, so they must be counted twice.
# Append mode: only windows with window_end <= final watermark
# (max ts - 30 min) are ever emitted — the oracle applies the same
# cutoff, which additionally pins append-mode finalization semantics.
# Fixture-drift guards raise if the plants stop being provably
# late/admitted (quartile geometry is driver-owned and can change).
# --------------------------------------------------------------------------

@functools.cache
def _ensure_late_src(spark: SparkSession, sf_dir: str) -> str:
    d = tracked_mkdtemp("po_stream_late_")
    ev = load_events(spark, sf_dir).select(
        "ts", "event_id", "user_id", "value")
    qs, parts = _quartile_slices(ev)
    ranked = ev.withColumn(
        "_rn", F.row_number().over(Window.orderBy("ts", "event_id"))) \
        .withColumn("_n", F.count("*").over(Window.partitionBy()))
    late20 = (ranked.where(F.col("_rn") <= 20)
              .select("ts", (F.col("event_id") + 2_000_000_000)
                      .alias("event_id"), "user_id", "value"))
    adm20 = (ranked.where((F.col("_rn") > F.expr("(_n * 4) div 5"))
                          & (F.col("_rn") <= F.expr("(_n * 4) div 5 + 20")))
             .select("ts", (F.col("event_id") + 3_000_000_000)
                     .alias("event_id"), "user_id", "value"))
    # fixture-drift guards: plants must be provably late / admitted
    bounds = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
    import datetime as _dt

    q3 = _dt.datetime.utcfromtimestamp(qs[2] / 1e6)
    late_hi = late20.agg(F.max("ts")).first()[0]
    adm = adm20.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
    if not late_hi + _dt.timedelta(minutes=45) < q3 - _dt.timedelta(minutes=30):
        raise AssertionError("late plants are not safely late vs batch-4 wm")
    if not adm[0] > q3 - _dt.timedelta(minutes=30):
        raise AssertionError("admitted plants fall behind batch-4 watermark")
    if not adm[1] + _dt.timedelta(minutes=45) < bounds[1] - _dt.timedelta(minutes=30):
        raise AssertionError("admitted plants' windows not closed by final wm")
    parts[3] = parts[3].unionByName(late20).unionByName(adm20)
    for p in parts:
        p.coalesce(1).write.mode("append").parquet(d)
    return d


def events_stream_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = (
        read_file_stream(spark, _ensure_late_src(spark, sf_dir))
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "15 minutes").alias("w"))
        .agg(F.count("*").alias("n_events")))
    out = run_to_memory(stream, prefix="po_stream_late",
                        output_mode="append", min_data_batches=4)
    return out.select(F.col("w.start").alias("window_start"), "n_events")


_STREAM_LATE_ORACLE = """
WITH ranked AS (
  SELECT ts,
         ROW_NUMBER() OVER (ORDER BY ts, event_id) AS rn,
         COUNT(*) OVER () AS n
  FROM events
),
adm AS (
  SELECT ts FROM ranked
  WHERE rn > (n * 4) // 5 AND rn <= (n * 4) // 5 + 20
),
wm AS (SELECT MAX(ts) - INTERVAL 30 MINUTE AS wm_final FROM events),
uni AS (SELECT ts FROM events UNION ALL SELECT ts FROM adm)
SELECT time_bucket(INTERVAL 15 MINUTE, ts) AS window_start,
       COUNT(*) AS n_events
FROM uni
WHERE time_bucket(INTERVAL 15 MINUTE, ts) + INTERVAL 15 MINUTE
        <= (SELECT wm_final FROM wm)
GROUP BY 1
"""

register("events_stream_late_drop", events_stream_late_drop,
         _STREAM_LATE_ORACLE)


# --------------------------------------------------------------------------
# Inter-arrival latency distribution (r5 wave 11): per event_type quartiles
# of the per-user gap between consecutive events — the latency-histogram
# primitive behind "p50/p75 time-between-actions" dashboards.  Gaps are
# computed per (user, ts, event_id) lag — user-partitioned windows, never
# a 5-partition event_type sort (at 100 TB event_type has a handful of
# values; partitioning the raw window by it is a built-in skew bomb, so
# the bounded-cardinality user axis carries the sort and event_type only
# groups the AGGREGATE).  Quartiles are exact percentiles over integer
# micro gaps with dyadic fractions — the q_exact_quantiles interpolation-
# safety class (0.25·(b−a) is exact for any integer gap < 2^50 µs).
# --------------------------------------------------------------------------


def events_interarrival_quartiles(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (ev.select("user_id", "event_type", "ts", "event_id")
            .withColumn("prev", F.lag("ts").over(w))
            .where(F.col("prev").isNotNull())
            .select("event_type",
                    (F.unix_micros("ts")
                     - F.unix_micros("prev")).alias("gap_us")))
    return (gaps.groupBy("event_type")
            .agg(F.expr("percentile(gap_us, 0.25)").alias("q25"),
                 F.expr("percentile(gap_us, 0.5)").alias("q50"),
                 F.expr("percentile(gap_us, 0.75)").alias("q75"),
                 F.count("*").alias("n_gaps")))


_INTERARRIVAL_ORACLE = """
WITH gaps AS (
  SELECT event_type,
         epoch_us(ts) - epoch_us(LAG(ts) OVER (
             PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
  FROM events
)
SELECT event_type,
       quantile_cont(gap_us, 0.25) AS q25,
       quantile_cont(gap_us, 0.5) AS q50,
       quantile_cont(gap_us, 0.75) AS q75,
       COUNT(*) AS n_gaps
FROM gaps WHERE gap_us IS NOT NULL
GROUP BY event_type
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Watermark-BOUNDED streaming dedup (r5 wave 11, 10th real streaming run):
# ``dropDuplicatesWithinWatermark`` — the production trade the unbounded
# ``events_stream_dedup`` docstring names: keyed state lives only for the
# lateness bound, so a key replayed AFTER its state evicts is re-admitted.
# Probed semantics (pinned by this gate): input older than the watermark
# is dropped before dedup; a replay with a FRESH in-watermark timestamp
# of an evicted key is emitted again.  Fixture (quartile files, forced
# batching):
#   * near20 — copies of 20 quartile-1 events re-emitted in the SAME file
#     with ts+1min (inside the 10-min bound, state live) ⇒ deduped: an
#     engine that failed to dedup inflates the counts and goes red;
#   * far20  — the 20 earliest events replayed in file 4 with ts+27d
#     (their own ts inside batch-4's watermark, the original state
#     evicted ~27 days of event time earlier) ⇒ REPLAYED: an engine
#     holding state forever (plain dropDuplicates) undercounts and goes
#     red.  Counts and value-sums are invariant to WHICH copy of a
#     deduped pair survives (copies differ only in ts).
# --------------------------------------------------------------------------

@functools.cache
def _ensure_wmdup_src(spark: SparkSession, sf_dir: str) -> str:
    import datetime as _dt

    d = tracked_mkdtemp("po_stream_wmdup_")
    ev = load_events(spark, sf_dir).select(
        "ts", "event_id", "user_id", "event_type", "value")
    qs, parts = _quartile_slices(ev)
    ranked = ev.withColumn(
        "_rn", F.row_number().over(Window.orderBy("ts", "event_id")))
    near20 = (ranked.where((F.col("_rn") > 100) & (F.col("_rn") <= 120))
              .select((F.col("ts") + F.expr("INTERVAL 1 MINUTE")).alias("ts"),
                      "event_id", "user_id", "event_type", "value"))
    far20 = (ranked.where(F.col("_rn") <= 20)
             .select((F.col("ts") + F.expr("INTERVAL 27 DAYS")).alias("ts"),
                     "event_id", "user_id", "event_type", "value"))
    # drift guards: far replays must be inside batch-4's watermark with
    # their original state provably evicted; near copies must be inside
    # the 10-minute bound of a live key (same batch by construction)
    q3 = _dt.datetime.utcfromtimestamp(qs[2] / 1e6)
    far_b = far20.agg(F.min("ts").alias("lo")).first()
    orig_hi = (ranked.where(F.col("_rn") <= 20)
               .agg(F.max("ts")).first()[0])
    if not far_b[0] > q3 - _dt.timedelta(minutes=10):
        raise AssertionError("far replays would be dropped as late input")
    if not orig_hi + _dt.timedelta(minutes=10) < q3 - _dt.timedelta(minutes=10):
        raise AssertionError("far replays' original state not provably evicted")
    parts[0] = parts[0].unionByName(near20)
    parts[3] = parts[3].unionByName(far20)
    for p in parts:
        p.coalesce(1).write.mode("append").parquet(d)
    return d


def events_stream_dedup_watermark(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    stream = (read_file_stream(spark, _ensure_wmdup_src(spark, sf_dir))
              .withWatermark("ts", "10 minutes")
              .dropDuplicatesWithinWatermark(["event_id"]))
    out = run_to_memory(stream, prefix="po_stream_wmdup",
                        output_mode="append", min_data_batches=4)
    return (out.groupBy("event_type")
            .agg(F.count("*").alias("n_events"),
                 F.expr(dsum("value", "total_value", 8)).alias("total_value")))


_STREAM_WMDUP_ORACLE = f"""
WITH ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (ORDER BY ts, event_id) AS rn
  FROM events
),
uni AS (
  SELECT event_type, value FROM events
  UNION ALL
  SELECT event_type, value FROM ranked WHERE rn <= 20
)
SELECT event_type, COUNT(*) AS n_events,
       {dsum('value', 'total_value', 8)}
FROM uni GROUP BY event_type
"""

register("events_stream_dedup_watermark", events_stream_dedup_watermark,
         _STREAM_WMDUP_ORACLE)


# --------------------------------------------------------------------------
# DAU / WAU / MAU stickiness (r5 wave 11): per day, distinct users active
# that day, in the trailing 7 days, and in the trailing 30 — the
# engagement-ratio inputs (emitted as counts, never the DAU/MAU ratio —
# the num/den discipline).  Trailing distinct-over-window is computed by
# OFFSET EXPLODE: each (user, day) pair contributes to target days
# day..day+29, one equi-groupBy with conditional distincts — 30× row
# amplification of the ALREADY-DEDUPED user-day pairs, no range join, no
# per-day prefix rescans; target days joined (broadcast) to the observed
# day grid.  At 100 TB user-days ≪ raw events, so the amplification is
# bounded and shuffle-friendly.
# --------------------------------------------------------------------------


def events_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    ud = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")).distinct()
    days = ud.select("day").distinct()
    ex = (ud.select(
        "user_id", "day",
        F.explode(F.sequence(F.lit(0), F.lit(29))).alias("o"))
        .select("user_id", "o",
                F.expr("timestampadd(DAY, o, day)").alias("tday")))
    return (ex.join(F.broadcast(days), ex["tday"] == days["day"])
            .groupBy("day")
            .agg(F.countDistinct(
                     F.when(F.col("o") == 0, F.col("user_id"))).alias("dau"),
                 F.countDistinct(
                     F.when(F.col("o") <= 6, F.col("user_id"))).alias("wau"),
                 F.countDistinct("user_id").alias("mau")))


_DAU_WAU_MAU_ORACLE = """
WITH ud AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
),
days AS (SELECT DISTINCT day FROM ud),
ex AS (
  SELECT user_id, o, day + o * INTERVAL 1 DAY AS tday
  FROM ud, (SELECT unnest(range(0, 30)) AS o)
)
SELECT d.day,
       COUNT(DISTINCT CASE WHEN e.o = 0 THEN e.user_id END) AS dau,
       COUNT(DISTINCT CASE WHEN e.o <= 6 THEN e.user_id END) AS wau,
       COUNT(DISTINCT e.user_id) AS mau
FROM ex e JOIN days d ON d.day = e.tday
GROUP BY d.day
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Point-in-time feature snapshot (r5 wave 11): the feature-store
# primitive — for every LABEL row (purchase), trailing-window behavioral
# features computed leakage-free: counts over the user's events in
# (t − 7d, t) STRICTLY BEFORE the label's timestamp.  Strictness comes
# from the value-based RANGE frame ending at 1 µs PRECEDING — same-
# microsecond rows (including the label itself) are excluded, which is
# the train-serve-safe convention (a feature computed from a tie would
# leak the label event into its own features).  The window expression is
# projected BEFORE the purchase filter (the events_attribution lesson:
# a window Column re-evaluated after a filter sees the filtered frame).
# Windowed SUM(int) CAST BIGINT both sides (HUGEINT class).
# --------------------------------------------------------------------------


def events_feature_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    us = F.unix_micros(F.col("ts"))
    base = ev.select("event_id", "user_id", "event_type", "ts",
                     us.alias("us"),
                     (F.col("event_type") == "view").cast("int").alias("iv"))
    week_us = 7 * 24 * 3600 * 1_000_000
    w = (Window.partitionBy("user_id").orderBy("us")
         .rangeBetween(-week_us, -1))
    feat = base.select(
        "event_id", "user_id", "ts", "event_type",
        F.coalesce(F.sum("iv").over(w), F.lit(0)).alias("n_views_7d"),
        F.coalesce(F.count("us").over(w), F.lit(0)).alias("n_events_7d"))
    return (feat.where(F.col("event_type") == "purchase")
            .select("event_id", "user_id", "ts",
                    F.col("n_views_7d").cast("long").alias("n_views_7d"),
                    "n_events_7d"))


_FEATURE_SNAP_ORACLE = """
WITH base AS (
  SELECT event_id, user_id, event_type, ts, epoch_us(ts) AS us,
         CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS iv
  FROM events
),
feat AS (
  SELECT event_id, user_id, ts, event_type,
         CAST(COALESCE(SUM(iv) OVER w, 0) AS BIGINT) AS n_views_7d,
         CAST(COALESCE(COUNT(us) OVER w, 0) AS BIGINT) AS n_events_7d
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY us
               RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id, ts, n_views_7d, n_events_7d
FROM feat WHERE event_type = 'purchase'
"""

register("events_feature_snapshot", events_feature_snapshot,
         _FEATURE_SNAP_ORACLE)


def events_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join as the 11th real Structured Streaming run — the
    canonical enrichment topology (Kafka stream ⋈ broadcast dimension) that
    none of the prior ten runs exercised: the events file stream is joined
    to the static ``customer`` table (user_id = c_custkey) INSIDE the
    streaming query, then aggregated per (market segment, 1-day window).

    Stream-static inner joins are stateless in Spark's model (each
    micro-batch probes the static side; no watermark, no join state), so
    complete-mode windowed aggregation converges to exactly the batch
    answer — the unified-model guarantee this gate turns into a check.
    The dimension is broadcast per micro-batch: at 100 TB of events the
    static side is the small one (bounded customers), which is precisely
    the broadcast-enrichment shape a production pipeline runs.

    Decimal value sums (dsum) keep the hash engine-exact, as in every
    batch twin.  Events whose user has no customer row would drop (inner
    join semantics); the fixture's user ids are a subset of customer keys
    at every SF, so the gate's row count also pins that no row leaks.
    The source is the four time-quartile files: each micro-batch probes
    the dimension on its own.
    """
    from ._util import load

    dim = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment")
    stream = (
        read_file_stream(spark, _quartile_src(spark, sf_dir))
        .join(F.broadcast(dim), "user_id")
        .groupBy(F.window("ts", "1 day").alias("w"), "c_mktsegment")
        .agg(F.count("*").alias("n_events"),
             F.expr(dsum("value", "total_value", 8)).alias("total_value"))
    )
    out = run_to_memory(stream, prefix="po_stream_static",
                        output_mode="complete", min_data_batches=4)
    return out.select(
        F.col("w.start").alias("window_start"), "c_mktsegment",
        "n_events", "total_value")


_STREAM_STATIC_ORACLE = f"""
SELECT time_bucket(INTERVAL 1 DAY, e.ts) AS window_start, c.c_mktsegment,
       COUNT(*) AS n_events,
       {dsum('e.value', 'total_value', 8)}
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""

register("events_stream_static_join", events_stream_static_join,
         _STREAM_STATIC_ORACLE)


def events_cms_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch rollup — the FREQUENCY twin of the HLL distinct
    rollup (events_sketch_rollup): per-(type, day) CMS counter rows are
    built once, merged to per-type sketches by plain re-aggregation
    (counter addition IS the sketch union — mergeable by construction),
    then point-queried for the probe users.  Unlike the HLL gate, every
    number here is deterministic: bucket positions come from the shared
    md5 grammar (bloom's 15-hex idiom) and counters are exact BIGINTs, so
    the driver hashes the actual estimates — no tolerance boolean needed.

    The CMS overestimate guarantee (est ≥ true, equality iff no bucket
    collision under BOTH salts) is emitted per row as ``collided``; depth
    2 × width 64 keeps both the exact and the collided branch live at the
    gate tiers (5/35 at sf0.001, 30/10 at sf0.01); at sf0.1 the ~1500
    users saturate the 64 buckets and every probe collides — the honest
    small-sketch regime, still hash-exact.  Scale shape: the sketch table is O(types·days·depth·width)
    rows regardless of event volume, merges cost sketch rows not data,
    and the probe side is two broadcast equi-joins — the reason a 100 TB
    pipeline stores daily sketches instead of re-scanning raw events for
    each new rollup grain.
    """
    width = 64
    ev = load_events(spark, sf_dir)

    def pos(salt: str):
        # the one audited md5->LONG bucket (pipeline.hash_bucket), not a
        # fresh inline copy of the 15-hex idiom
        from ..pipeline import hash_bucket
        return hash_bucket(
            F.concat(F.lit(salt), F.col("user_id").cast("string")),
            digits=15) % width

    expl = ev.select(
        "event_type", F.date_trunc("day", "ts").alias("d"),
        F.explode(F.array(
            F.struct(F.lit(0).alias("j"), pos("c1").alias("b")),
            F.struct(F.lit(1).alias("j"), pos("c2").alias("b")))).alias("h"))
    daily = (expl.groupBy("event_type", "d",
                          F.col("h.j").alias("j"), F.col("h.b").alias("b"))
             .agg(F.count("*").alias("cnt")))
    merged = (daily.groupBy("event_type", "j", "b")
              .agg(F.sum("cnt").alias("cnt")))

    probes = (ev.where(F.col("user_id") < 8)
              .select("event_type", "user_id").distinct()
              .withColumn("b1", pos("c1")).withColumn("b2", pos("c2")))
    m1 = merged.where(F.col("j") == 0).select(
        F.col("event_type").alias("t1"), F.col("b").alias("mb1"),
        F.col("cnt").alias("c1"))
    m2 = merged.where(F.col("j") == 1).select(
        F.col("event_type").alias("t2"), F.col("b").alias("mb2"),
        F.col("cnt").alias("c2"))
    est = (probes
           .join(F.broadcast(m1), (F.col("event_type") == F.col("t1"))
                 & (F.col("b1") == F.col("mb1")))
           .join(F.broadcast(m2), (F.col("event_type") == F.col("t2"))
                 & (F.col("b2") == F.col("mb2")))
           .select("event_type", "user_id",
                   F.least("c1", "c2").alias("est_n")))
    true_n = (ev.where(F.col("user_id") < 8)
              .groupBy("event_type", "user_id")
              .agg(F.count("*").alias("true_n")))
    return (est.join(true_n, ["event_type", "user_id"])
            .select("event_type", "user_id", "est_n", "true_n",
                    (F.col("est_n") > F.col("true_n")).alias("collided")))


_CMS_ORACLE = """
WITH ev AS (
  SELECT event_type, date_trunc('day', ts) AS d, user_id,
         ('0x' || substr(md5('c1' || CAST(user_id AS VARCHAR)), 1, 15))
           ::BIGINT % 64 AS b1,
         ('0x' || substr(md5('c2' || CAST(user_id AS VARCHAR)), 1, 15))
           ::BIGINT % 64 AS b2
  FROM events
),
daily AS (
  SELECT event_type, d, j, b, COUNT(*) AS cnt FROM (
    SELECT event_type, d, 0 AS j, b1 AS b FROM ev
    UNION ALL
    SELECT event_type, d, 1 AS j, b2 AS b FROM ev
  ) GROUP BY 1, 2, 3, 4
),
merged AS (
  SELECT event_type, j, b, CAST(SUM(cnt) AS BIGINT) AS cnt
  FROM daily GROUP BY 1, 2, 3
),
probes AS (
  SELECT DISTINCT event_type, user_id, b1, b2 FROM ev WHERE user_id < 8
),
est AS (
  SELECT p.event_type, p.user_id, LEAST(m1.cnt, m2.cnt) AS est_n
  FROM probes p
  JOIN merged m1 ON m1.event_type = p.event_type AND m1.j = 0
                AND m1.b = p.b1
  JOIN merged m2 ON m2.event_type = p.event_type AND m2.j = 1
                AND m2.b = p.b2
),
truth AS (
  SELECT event_type, user_id, COUNT(*) AS true_n
  FROM events WHERE user_id < 8 GROUP BY 1, 2
)
SELECT e.event_type, e.user_id, e.est_n, t.true_n,
       e.est_n > t.true_n AS collided
FROM est e JOIN truth t
  ON e.event_type = t.event_type AND e.user_id = t.user_id
"""

# registered via the r6 consolidation pack — see end of file


def events_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend smoothing (double exponential) per user — the
    forecasting extension of events_ewma_users: state (level, trend) folds
    in (ts, event_id) order through

        l_i = 0.25·x_i + 0.75·(l_{i−1} + b_{i−1})
        b_i = 0.5·(l_i − l_{i−1}) + 0.5·b_{i−1}

    with l_1 = x_1, b_1 = 0.  Dyadic α=1/4, β=1/2 keep the coefficients
    exact and the identical literal expression tree on both engines makes
    the IEEE sequence bit-reproducible (the sequential-fold class).
    DuckDB's list_reduce requires acc ≡ element type, so the oracle folds
    over [x, l, b] DOUBLE[] elements whose first element IS the init
    state — same op sequence, l_new spelled out twice identically in the
    trend term on BOTH sides.  LIST state, not STRUCT state, on purpose:
    DuckDB 1.0.0's list_reduce with a struct accumulator mis-binds acc
    field references to freshly-written output fields (probed:
    {'a': acc.c+1, 'c': acc.a*2} sees the NEW a in c — a new
    cross-engine hazard class; list indexing evaluates correctly).
    Emits the final state and the one-step forecast l + b — the
    capacity-planning number.

    Scale shape: identical to EWMA — one groupBy(user_id), in-row fold,
    session-sized sequences; the streaming twin carries (l, b) in keyed
    state.
    """
    ev = load_events(spark, sf_dir)
    seq = (ev.groupBy("user_id")
           .agg(F.array_sort(
               F.collect_list(F.struct("ts", "event_id", "value")))
               .alias("s")))
    vals = F.col("s").getField("value")
    tail = F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0)))
    init = F.struct(F.element_at(vals, 1).alias("l"), F.lit(0.0).alias("b"))

    def step(acc, x):
        l_new = F.lit(0.25) * x + F.lit(0.75) * (acc["l"] + acc["b"])
        return F.struct(
            l_new.alias("l"),
            (F.lit(0.5) * ((F.lit(0.25) * x
                            + F.lit(0.75) * (acc["l"] + acc["b"]))
                           - acc["l"])
             + F.lit(0.5) * acc["b"]).alias("b"))

    st = F.aggregate(tail, init, step)
    return seq.select(
        "user_id", F.size("s").cast("long").alias("n_events"),
        st.getField("l").alias("level"), st.getField("b").alias("trend"),
        (st.getField("l") + st.getField("b")).alias("forecast_1"))


_HOLT_ORACLE = """
WITH seq AS (
  SELECT user_id, list(value ORDER BY ts, event_id) AS vals
  FROM events GROUP BY user_id
),
st AS (
  SELECT user_id, CAST(len(vals) AS BIGINT) AS n_events,
         list_reduce(
           list_transform(vals, x -> [x, x, CAST(0 AS DOUBLE)]),
           (acc, e) -> [
             e[1],
             0.25 * e[1] + 0.75 * (acc[2] + acc[3]),
             0.5 * (0.25 * e[1] + 0.75 * (acc[2] + acc[3]) - acc[2])
                  + 0.5 * acc[3]]) AS f
  FROM seq
)
SELECT user_id, n_events, f[2] AS level, f[3] AS trend,
       f[2] + f[3] AS forecast_1
FROM st
"""

# registered via the r6 consolidation pack — see end of file


def events_stream_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Holt trend smoothing — the incremental twin of
    ``events_holt_trend`` and the 12th real Structured Streaming run:
    per-user (n, level, trend) state carried across the four FORCED
    time-quartile micro-batches via ``applyInPandasWithState`` (the
    stream_ewma/stream_cusum recipe).  Python executes the identical IEEE
    sequence as the batch gate's fold (l' = 0.25·x + 0.75·(l+b);
    b' = 0.5·(l'−l) + 0.5·b), so the final state is BIT-EXACT equal to
    the batch list-fold oracle; the collapsed-stream guard raises on a
    degenerate single-batch run.  The batch/stream operator pairs now:
    EWMA, sessionization, dedup, CUSUM, Holt.
    """
    def step(st, rows):
        n, lvl, trend = st
        for v in rows["value"]:
            v = float(v)
            if lvl is None:
                lvl, trend = v, 0.0
            else:
                l_new = 0.25 * v + 0.75 * (lvl + trend)
                trend = 0.5 * (l_new - lvl) + 0.5 * trend
                lvl = l_new
            n += 1
        return n, lvl, trend

    return (_keyed_fold_stream(
        read_file_stream(spark, _quartile_src(spark, sf_dir)),
        "po_stream_holt", step, (0, None, 0.0),
        "n_events long, level double, trend double")
        .select("user_id", "s.n_events", "s.level", "s.trend",
                (F.col("s.level") + F.col("s.trend")).alias("forecast_1")))


register("events_stream_holt", events_stream_holt, _HOLT_ORACLE)


def events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT-native semi-structured analytics — the open-schema
    complement of events_json_extract (which projects to a FIXED struct
    via from_json): props parses to the binary VARIANT encoding once and
    ``variant_get`` path-extracts under a typed cast, the
    schema-on-read shape for heterogeneous payloads where no single
    struct fits.  Banded aggregate over the extracted value makes every
    row's extraction load-bearing in the hash.  Map-only until the final
    bounded groupBy; at 100 TB VARIANT's value is exactly that the parse
    happens once per row however many paths are later extracted.
    """
    ev = load_events(spark, sf_dir)
    k = F.variant_get(F.parse_json("props"), "$.k", "long")
    return (ev.select("event_type", k.alias("k"))
            .groupBy("event_type", F.expr("k div 20").alias("k_band"))
            .agg(F.count("*").alias("n"),
                 F.sum("k").alias("sum_k"),
                 F.min("k").alias("min_k"),
                 F.max("k").alias("max_k")))


_VARIANT_ORACLE = """
SELECT event_type, CAST(props::JSON ->> 'k' AS BIGINT) // 20 AS k_band,
       COUNT(*) AS n,
       CAST(SUM(CAST(props::JSON ->> 'k' AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MIN(CAST(props::JSON ->> 'k' AS BIGINT)) AS BIGINT) AS min_k,
       CAST(MAX(CAST(props::JSON ->> 'k' AS BIGINT)) AS BIGINT) AS max_k
FROM events GROUP BY 1, 2
"""

# registered via the r6 consolidation pack — see end of file


def events_pattern_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP sequence-pattern detection (the MATCH_RECOGNIZE surface Spark
    lacks natively): count non-overlapping CONTIGUOUS view→click→purchase
    triples in each user's (ts, event_id)-ordered event-type sequence,
    implemented as a deterministic finite automaton folded over the
    sequence with a SINGLE BIGINT state = matches·4 + phase (phase 0/1/2;
    any non-advancing symbol resets — the strict-contiguity pattern).
    Pure integer CASE arithmetic, so the same fold is bit-exact in DuckDB
    (scalar list_reduce with a 0-state sentinel prepended, since
    list_reduce's init IS the first element).  Emits the match count AND
    the automaton's end phase — partial-progress states are hashed too.

    Scale shape: the EWMA class — one groupBy(user), in-row fold over the
    session-sized sequence; the streaming twin carries the state long in
    keyed state.  A production engine generalizes the state encoding to
    any regex-like pattern compiled to integer transitions.
    """
    ev = load_events(spark, sf_dir)
    code = (F.when(F.col("event_type") == "view", 1)
            .when(F.col("event_type") == "click", 2)
            .when(F.col("event_type") == "purchase", 3)
            .otherwise(0).cast("long"))
    seq = (ev.select("user_id", "ts", "event_id", code.alias("c"))
           .groupBy("user_id")
           .agg(F.array_sort(
               F.collect_list(F.struct("ts", "event_id", "c"))).alias("s")))
    codes = F.col("s").getField("c")

    def step(acc, e):
        m4 = acc - acc % 4                      # matches*4, stays integral
        return (F.when(e == 1, m4 + 1)
                .when((e == 2) & (acc % 4 == 1), m4 + 2)
                .when((e == 3) & (acc % 4 == 2), m4 + 4)
                .otherwise(m4))

    st = F.aggregate(codes, F.lit(0).cast("long"), step)
    return (seq.select(
        "user_id", F.size("s").cast("long").alias("n_events"),
        st.alias("st"))
        .select("user_id", "n_events",
                F.expr("st div 4").alias("n_matches"),
                (F.col("st") % 4).alias("end_phase")))


_PATTERN_ORACLE = """
WITH seq AS (
  SELECT user_id,
         list(CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
              WHEN 'purchase' THEN 3 ELSE 0 END::BIGINT
              ORDER BY ts, event_id) AS codes
  FROM events GROUP BY user_id
),
st AS (
  SELECT user_id, CAST(len(codes) AS BIGINT) AS n_events,
         list_reduce(list_prepend(CAST(0 AS BIGINT), codes),
           (acc, e) -> CASE WHEN e = 1 THEN acc - acc % 4 + 1
                            WHEN e = 2 AND acc % 4 = 1 THEN acc - acc % 4 + 2
                            WHEN e = 3 AND acc % 4 = 2 THEN acc - acc % 4 + 4
                            ELSE acc - acc % 4 END) AS state
  FROM seq
)
SELECT user_id, n_events, state // 4 AS n_matches, state % 4 AS end_phase
FROM st
"""

register("events_pattern_matches", events_pattern_matches, _PATTERN_ORACLE)


def events_stream_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CEP — the incremental twin of ``events_pattern_matches``
    and the 13th real Structured Streaming run: the single-BIGINT automaton
    state (matches·4 + phase) carries across the four forced time-quartile
    micro-batches via ``applyInPandasWithState``.  A contiguous
    view→click→purchase triple SPLIT by a batch boundary only matches
    because the phase survives in keyed state — audited live at the
    driver tier (7 boundary-spanning matches at sf0.01, 73 at sf0.1;
    sf0.001's 15 users land none, where the run still pins count/state
    continuation); all-integer transitions make the final state exactly
    equal to the batch fold (no IEEE subtleties at all).  Batch/stream
    pairs now: EWMA, sessionization, dedup, CUSUM, Holt, CEP.
    """
    def step(state, rows):
        n, st = state
        for c in rows["c"]:
            c = int(c)
            m4 = st - st % 4
            if c == 1:
                st = m4 + 1
            elif c == 2 and st % 4 == 1:
                st = m4 + 2
            elif c == 3 and st % 4 == 2:
                st = m4 + 4
            else:
                st = m4
            n += 1
        return n, st

    code = (F.when(F.col("event_type") == "view", 1)
            .when(F.col("event_type") == "click", 2)
            .when(F.col("event_type") == "purchase", 3)
            .otherwise(0).cast("long"))
    src = (read_file_stream(spark, _quartile_src(spark, sf_dir))
           .select("user_id", "ts", "event_id", code.alias("c")))
    return (_keyed_fold_stream(src, "po_stream_pattern", step, (0, 0),
                               "n_events long, st long")
            .select("user_id", "s.n_events",
                    F.expr("s.st div 4").alias("n_matches"),
                    (F.col("s.st") % 4).alias("end_phase")))


register("events_stream_pattern", events_stream_pattern, _PATTERN_ORACLE)


def events_linreg_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinary-least-squares slope of event value over time per type —
    supervised model FITTING under the exact gate (the inference-side
    twin is text_quality_classifier): the normal-equation slope
    (n·Sxy − Sx·Sy) / (n·Sxx − Sx²) is emitted as an EXACT BIGINT
    rational (num, den) plus one IEEE division for display — the q8
    num/den discipline applied to regression.  x = per-type-centered
    epoch hour (exact int; centering keeps products ≤ ~1e16, 500×
    BIGINT headroom at sf0.1); y = value on the cents grid (2-decimal
    money double → DECIMAL(8,2)·100, the DISC_PRICE stance).

    Plan: one scan → per-type min (bounded agg, broadcast back) → one
    five-group aggregate of the four moment sums; map-side combinable,
    no windows (a 5-partition event_type window would be the skew bomb
    the interarrival gate avoided)."""
    ev = load_events(spark, sf_dir)
    xh = F.expr("unix_micros(ts) div 3600000000")
    v = F.expr("CAST(floor(CAST(value AS DOUBLE) * 1000) AS BIGINT)")
    base = ev.select("event_type", xh.alias("xh"), v.alias("v"))
    mins = base.groupBy("event_type").agg(F.min("xh").alias("x0"))
    j = (base.join(F.broadcast(mins), "event_type")
         .select("event_type", (F.col("xh") - F.col("x0")).alias("x"), "v"))
    agg = j.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"), F.sum("v").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("v")).alias("sxy"))
    return agg.select(
        "event_type", "n", "sx", "sy", "sxx", "sxy",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .alias("slope_num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .alias("slope_den")) \
        .withColumn("slope_grid_per_hour",
                    F.col("slope_num").cast("double")
                    / F.col("slope_den").cast("double"))


_LINREG_ORACLE = """
WITH base AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS xh,
         CAST(floor(CAST(value AS DOUBLE) * 1000) AS BIGINT) AS v
  FROM events
),
c AS (
  SELECT event_type, xh - MIN(xh) OVER (PARTITION BY event_type) AS x, v
  FROM base
),
agg AS (
  SELECT event_type, COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(v) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(x * v) AS BIGINT) AS sxy
  FROM c GROUP BY event_type
)
SELECT event_type, n, sx, sy, sxx, sxy,
       n * sxy - sx * sy AS slope_num,
       n * sxx - sx * sx AS slope_den,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_grid_per_hour
FROM agg
"""

# registered via the r6 consolidation pack — see end of file


def events_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the 14th real streaming
    run and the OUTER half the inner-join gate (5th run) cannot pin: an
    unmatched view emits its NULL-click row only after the global
    watermark passes its join window, i.e. outer results depend on STATE
    EVICTION, not just matching.

    Spark documents outer-NULL emission timing as delayed-but-unspecified
    near the watermark frontier, so the gate compares only rows whose
    eviction is unambiguous: both sides filter to views older than
    (final watermark − join interval − 1 day).  Inside that cutoff every
    view must appear exactly once — matched with its click(s) or as a
    NULL-click outer row; an engine that drops unmatched views (inner
    semantics) or leaks join state (never emits) reddens the hash.  The
    final watermark is min(max view_ts, max click_ts) − 1 h, mirrored in
    SQL on the oracle side.  Like the inner join, it reads the unsliced
    source in one micro-batch.
    """
    views, clicks = _view_click_streams(spark, sf_dir)
    joined = views.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts")
           + F.expr("INTERVAL 30 MINUTES")),
        "left_outer")
    out = run_to_memory(joined, prefix="po_stream_soj", output_mode="append",
                        min_data_batches=1)
    # eviction-unambiguous cutoff, computed batch-side (bounded scalars)
    batch = load_events(spark, sf_dir)
    mx = batch.agg(
        F.max(F.when(F.col("event_type") == "view",
                     F.unix_micros("ts"))).alias("mv"),
        F.max(F.when(F.col("event_type") == "click",
                     F.unix_micros("ts"))).alias("mc")).first()
    wm = min(mx["mv"], mx["mc"]) - 3600 * 1_000_000
    cutoff = wm - 1800 * 1_000_000 - 86400 * 1_000_000
    return (out.where(F.unix_micros("view_ts") <= F.lit(cutoff))
            .select("user_id", "view_id", "click_id",
                    (F.unix_micros("click_ts") - F.unix_micros("view_ts"))
                    .alias("delta_us")))


_STREAM_SOJ_ORACLE = """
WITH wm AS (
  SELECT LEAST(
           MAX(CASE WHEN event_type = 'view' THEN epoch_us(ts) END),
           MAX(CASE WHEN event_type = 'click' THEN epoch_us(ts) END))
         - CAST(3600 AS BIGINT) * 1000000 AS w
  FROM events
),
v AS (
  SELECT user_id, event_id, ts FROM events, wm
  WHERE event_type = 'view'
    AND epoch_us(ts) <= w - CAST(1800 AS BIGINT) * 1000000
                     - CAST(86400 AS BIGINT) * 1000000
),
c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click')
SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
       epoch_us(c.ts) - epoch_us(v.ts) AS delta_us
FROM v LEFT JOIN c
  ON v.user_id = c.user_id
 AND epoch_us(c.ts) - epoch_us(v.ts) BETWEEN 0 AND 1800 * 1000000
"""

register("events_stream_outer_join", events_stream_outer_join,
         _STREAM_SOJ_ORACLE)


def events_stream_timeout_sessions(spark: SparkSession, sf_dir: str) \
        -> DataFrame:
    """Custom sessionizer on the EVENT-TIME TIMEOUT path — the 15th real
    streaming run and the one stateful-API surface none of the prior runs
    touch: ``GroupStateTimeout.EventTimeTimeout`` with
    ``state.setTimeoutTimestamp(last_ts + gap)``, so an idle session is
    closed by the WATERMARK CLOCK (the fold is invoked with
    ``state.hasTimedOut`` and no data), not by a successor event.  Data
    batches close earlier sessions on the gap rule; the timeout path
    closes trailing ones — both emissions flow to the same sink.

    Timeout firing near the end of an availableNow run is inherently
    unfinalized (the last watermark advance has no later batch to fire
    in), so the comparison uses the eviction-unambiguous-cutoff
    discipline (events_stream_outer_join): both sides keep sessions
    ending ≥ 1 day before the third-quartile watermark, where the
    timeout MUST have fired.  Session semantics = events_sessionize's
    30-minute gap rule, so the oracle is the batch sessionizer grouped
    to (user, session) rows.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = 1800 * 1_000_000

    def fold(key, pdfs, state: GroupState):
        out = []
        if state.hasTimedOut:
            start, last, n = state.get
            out.append((key[0], start, last, n))
            state.remove()
        else:
            chunks = [pdf for pdf in pdfs if len(pdf)]
            if chunks:
                rows = (pd.concat(chunks, ignore_index=True)
                        .sort_values(["ts", "event_id"]))
                if state.exists:
                    start, last, n = state.get
                else:
                    start = last = n = None
                for ts in rows["ts"]:
                    us = int(ts.value) // 1000
                    if start is None:
                        start, last, n = us, us, 1
                    elif us - last > gap_us:
                        out.append((key[0], start, last, n))
                        start, last, n = us, us, 1
                    else:
                        last, n = us, n + 1
                state.update((start, last, n))
                state.setTimeoutTimestamp((last + gap_us) // 1000)
        yield pd.DataFrame(
            out, columns=["user_id", "start_us", "end_us", "n_events"])

    stream = (
        read_file_stream(spark, _quartile_src(spark, sf_dir))
        .withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            fold,
            outputStructType=("user_id long, start_us long, end_us long, "
                              "n_events long"),
            stateStructType="start_us long, end_us long, n_events long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout)
    )
    sink = run_to_memory(stream, prefix="po_stream_tmo",
                         output_mode="append", min_data_batches=4)
    ev = load_events(spark, sf_dir)
    q3 = ev.agg(F.expr(
        "percentile(unix_micros(ts), 0.75)")).first()[0]
    cutoff = int(q3) - 600 * 1_000_000 - 86400 * 1_000_000
    return (sink.where(F.col("end_us") <= F.lit(cutoff))
            .select("user_id", "start_us", "end_us", "n_events"))


_TIMEOUT_SESS_ORACLE = """
WITH cutoff AS (
  SELECT quantile_cont(epoch_us(ts), 0.75)
         - CAST(600 AS BIGINT) * 1000000
         - CAST(86400 AS BIGINT) * 1000000 AS c
  FROM events
),
marked AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                      > 1800 * CAST(1000000 AS BIGINT)
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  -- (us, event_id) ordering: same-timestamp ties must keep the is_new
  -- row first or the cumulative splits sessions nondeterministically
  SELECT user_id, us,
         CAST(SUM(is_new) OVER (PARTITION BY user_id
                                ORDER BY us, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
  FROM marked
),
agg AS (
  SELECT user_id, sid, MIN(us) AS start_us, MAX(us) AS end_us,
         COUNT(*) AS n_events
  FROM sess GROUP BY user_id, sid
)
SELECT user_id, start_us, end_us, n_events
FROM agg, cutoff WHERE end_us <= c
"""

register("events_stream_timeout_sessions", events_stream_timeout_sessions,
         _TIMEOUT_SESS_ORACLE)


# --------------------------------------------------------------------------
# Geohash density rollup (r5 wave 14): TRUE geohash encoding — bit-
# interleaved lat/lon reduced to the 32768-step grid, base32-encoded with
# the standard alphabet — then a per-cell density census, the geospatial
# aggregation primitive (heatmaps, region joins, spatial partitioning
# keys).  Reuses pipeline.layout.morton_key for the interleave: geohash
# IS the Morton curve with lat owning the LSB lane, so morton_key([iy,
# ix], 15) reproduces the spec's bit order exactly; the 6-char base32
# string is element_at over a literal alphabet — all JVM expressions,
# zero UDF, one shuffle (the groupBy).
#
# Coordinates derive from user_id: 12 hotspot classes (user_id % 4 lat x
# % 3 lon) anchored on CELL-ALIGNED bases (180M/128 = 360M/256 = 1406250
# micro-degrees exactly) plus sub-cell md5-free jitter < 1406250, so the
# 3-char cell is a pure function of the class — multi-user cells exist by
# PIGEONHOLE at every SF (measured 3/12/12 multi-user cells, with
# single-user cells live at sf0.001), while the fine bits vary per user
# and exercise the full 30-bit encoder (distinct gh6 per user).  Oracle
# rebuilds the interleave term-by-term.
# --------------------------------------------------------------------------

_GH_ALPHA = "0123456789bcdefghjkmnpqrstuvwxyz"


def events_geohash_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.layout import morton_key

    ev = load_events(spark, sf_dir).select("user_id", "event_id")
    pos = ev.select(
        "user_id",
        F.expr("((user_id % 4) * 32 + 5) * 1406250"
               " + (user_id * 2654435761) % 1406250").alias("y"),
        F.expr("((user_id % 3) * 64 + 10) * 1406250"
               " + (user_id * 2246822519) % 1406250").alias("x"))
    grid = pos.select(
        "user_id",
        F.expr("(y * 32768) div 180000000").alias("iy"),
        F.expr("(x * 32768) div 360000000").alias("ix"))
    g = morton_key(["iy", "ix"], bits=15)
    alpha = F.array(*[F.lit(c) for c in _GH_ALPHA])
    gh6 = F.concat(*[
        F.element_at(alpha,
                     (F.shiftright(g, 25 - 5 * j).bitwiseAND(F.lit(31))
                      + 1).cast("int"))
        for j in range(6)])
    return (grid.select("user_id", gh6.alias("gh6"))
            .groupBy(F.substring("gh6", 1, 3).alias("cell3"))
            .agg(F.count("*").alias("n_events"),
                 F.countDistinct("user_id").alias("n_users"),
                 F.min("gh6").alias("gh6_min")))


def _geohash_oracle() -> str:
    terms = " | ".join(
        f"(((iy >> {i}) & 1) << {2 * i})"
        f" | (((ix >> {i}) & 1) << {2 * i + 1})" for i in range(15))
    chars = " || ".join(
        f"substring('{_GH_ALPHA}',"
        f" CAST((g >> {25 - 5 * j}) & 31 AS INT) + 1, 1)" for j in range(6))
    return f"""
WITH pos AS (
  SELECT user_id,
         ((user_id % 4) * 32 + 5) * 1406250
           + (user_id * CAST(2654435761 AS BIGINT)) % 1406250 AS y,
         ((user_id % 3) * 64 + 10) * 1406250
           + (user_id * CAST(2246822519 AS BIGINT)) % 1406250 AS x
  FROM events
),
grid AS (SELECT user_id, (y * 32768) // 180000000 AS iy,
                (x * 32768) // 360000000 AS ix FROM pos),
keyed AS (SELECT user_id, {terms} AS g FROM grid),
gh AS (SELECT user_id, {chars} AS gh6 FROM keyed)
SELECT substring(gh6, 1, 3) AS cell3, COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users, MIN(gh6) AS gh6_min
FROM gh GROUP BY 1
"""


register("events_geohash_density", events_geohash_density,
         _geohash_oracle())


# --------------------------------------------------------------------------
# Multi-source streaming union (r5 wave 14, 20th real streaming run): ONE
# streaming query over TWO independent file sources unioned — the
# backfill-plus-live / multi-region ingest topology.  What's pinned is
# offset coordination: each source tracks its own offsets in the shared
# checkpoint and every record must be processed exactly once ACROSS
# sources — a double-pull or a starved source changes counts and reds the
# hash.  The split is event_id parity (both sources non-empty at every
# SF by construction); each side is written as 2 part-files with
# maxFilesPerTrigger=1 on one source, so availableNow interleaves
# micro-batches that mix pulls from both sources.  Complete-mode window
# agg converges to the batch oracle over the WHOLE corpus regardless of
# slicing (the unified-model guarantee, per-source edition).
# --------------------------------------------------------------------------

@functools.cache
def _ensure_split_src(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    ev = load_events(spark, sf_dir)
    d1 = tracked_mkdtemp("po_stream_even_")
    d2 = tracked_mkdtemp("po_stream_odd_")
    # null-safe split: a NULL event_id must land in exactly one source,
    # not vanish from both
    par = F.coalesce(F.col("event_id") % 2, F.lit(0))
    ev.where(par == 0).repartition(2).write.mode("overwrite").parquet(d1)
    ev.where(par == 1).repartition(2).write.mode("overwrite").parquet(d2)
    return d1, d2


def events_stream_multi_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d1, d2 = _ensure_split_src(spark, sf_dir)
    agg = (read_file_stream(spark, d1)
           .unionByName(read_file_stream(spark, d2, None))
           .groupBy(F.window("ts", "30 minutes").alias("w"), "event_type")
           .agg(F.count("*").alias("n_events"),
                F.expr(dsum("value", "total_value", 8)).alias("total_value")))
    out = run_to_memory(agg, prefix="po_stream_multisrc",
                        output_mode="complete", min_data_batches=2)
    return out.select(
        F.col("w.start").alias("window_start"), "event_type",
        "n_events", "total_value")


_MULTISRC_ORACLE = f"""
SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS window_start, event_type,
       COUNT(*) AS n_events,
       {dsum('value', 'total_value', 8)}
FROM events
GROUP BY 1, 2
"""

register("events_stream_multi_source", events_stream_multi_source,
         _MULTISRC_ORACLE)


# --------------------------------------------------------------------------
# RocksDB state store (r5 wave 14, 21st real streaming run): every other
# streaming gate runs on the default HDFS-backed state store, which keeps
# ALL keyed state as JVM heap objects — at production scale (billions of
# dedup keys) that's an OOM, and the documented production knob is the
# RocksDB provider (off-heap, spill-to-disk, incremental checkpoint).
# This run re-executes the doubled-source exact dedup COMPOSED with a
# windowed aggregation — two stateful operators, two state store
# families per partition — under RocksDBStateStoreProvider, and must
# still converge to the batch oracle over the original corpus: state
# round-tripping through RocksDB serialization must be semantics-
# invariant.  The provider conf is read per-query at start; scoped_conf
# sets it around the run and unsets it after, so the other runs keep
# their default-provider evidence.
# --------------------------------------------------------------------------


def events_stream_rocksdb_state(spark: SparkSession, sf_dir: str) \
        -> DataFrame:
    stream = (read_file_stream(spark, _doubled_events_src(spark, sf_dir))
              .dropDuplicates(["event_id"])
              .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
              .agg(F.count("*").alias("n_events"),
                   F.expr(dsum("value", "total_value", 8))
                   .alias("total_value")))
    with scoped_conf(spark, {
            "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"}):
        out = run_to_memory(stream, prefix="po_stream_rocksdb",
                            output_mode="complete", min_data_batches=2)
    return out.select(
        F.col("w.start").alias("window_start"), "event_type",
        "n_events", "total_value")


_ROCKSDB_ORACLE = f"""
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type,
       COUNT(*) AS n_events,
       {dsum('value', 'total_value', 8)}
FROM events GROUP BY 1, 2
"""

register("events_stream_rocksdb_state", events_stream_rocksdb_state,
         _ROCKSDB_ORACLE)


# --------------------------------------------------------------------------
# Time-weighted average (r5 wave 14b): TWAP — the duration-weighted mean
# the plain AVG silently misstates on irregular event streams (a price
# held for 6 hours must weigh 360x one held for a minute).  Step-function
# semantics: the PREVIOUS event's value is held over the gap to the next
# (lag over the per-user (ts, event_id) total order — the sessionize tie
# lesson).  Everything integer-exact: value on the floor(v·1000) grid,
# gaps in whole SECONDS (micros div 1e6 — bounds the num term to ~1.5e12
# per gap, BIGINT-safe at 99 events/user x 30-day span, measured), and
# the result emitted as the (num, den) pair, never the quotient (the q8
# discipline).  Per-USER windows: the bounded axis carries the sort, the
# group count is O(users).
# --------------------------------------------------------------------------


def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir).select(
        "user_id", "event_id",
        F.unix_micros("ts").alias("us"),
        F.floor(F.col("value") * 1000).cast("long").alias("vg"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    gaps = ev.select(
        "user_id",
        F.lag("us").over(w).alias("pus"),
        F.lag("vg").over(w).alias("pvg"),
        F.col("us"))
    return (gaps.where(F.col("pus").isNotNull())
            .select("user_id",
                    F.expr("(us - pus) div 1000000").alias("dt_s"),
                    F.col("pvg"))
            .groupBy("user_id")
            .agg(F.sum(F.col("pvg") * F.col("dt_s")).alias("twap_num"),
                 F.sum("dt_s").alias("twap_den"),
                 F.count("*").alias("n_gaps")))


_TWAP_ORACLE = """
WITH o AS (
  SELECT user_id,
         epoch_us(ts) AS us,
         CAST(floor(value * 1000) AS BIGINT) AS vg,
         LAG(epoch_us(ts)) OVER w AS pus,
         LAG(CAST(floor(value * 1000) AS BIGINT)) OVER w AS pvg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id,
       CAST(SUM(pvg * ((us - pus) // 1000000)) AS BIGINT) AS twap_num,
       CAST(SUM((us - pus) // 1000000) AS BIGINT) AS twap_den,
       COUNT(*) AS n_gaps
FROM o WHERE pus IS NOT NULL
GROUP BY 1
"""

register("events_time_weighted_avg", events_time_weighted_avg, _TWAP_ORACLE)


# --------------------------------------------------------------------------
# Streaming TWAP (r5 wave 14b, 22nd real streaming run): the incremental
# twin of events_time_weighted_avg — per-user (last_us, last_vg, num,
# den, n_gaps) state carried across the four FORCED time-quartile
# micro-batches; the gap that STRADDLES a batch boundary is the
# falsifiable part (its duration×value term needs the previous batch's
# last event, so a state-losing engine undercounts num/den).  All-integer
# state (grid values, whole-second gaps) ⇒ the final state is EXACTLY
# the batch gate's answer, same oracle.  Single-event users emit
# n_gaps=0 and are filtered like the batch side's WHERE pus IS NOT NULL.
# --------------------------------------------------------------------------


def events_stream_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    def step(st, rows):
        last_us, last_vg, num, den, gaps = st
        for ts, v in zip(rows["ts"], rows["value"]):
            us = int(ts.value // 1000)
            vg = math.floor(float(v) * 1000)
            if last_us is not None:
                dt_s = (us - last_us) // 1_000_000
                num += last_vg * dt_s
                den += dt_s
                gaps += 1
            last_us, last_vg = us, vg
        return last_us, last_vg, num, den, gaps

    return (_keyed_fold_stream(
        read_file_stream(spark, _quartile_src(spark, sf_dir)),
        "po_stream_twap", step, (None, None, 0, 0, 0),
        "last_us long, last_vg long, num long, den long, n_gaps long",
        out_cols="n_gaps long, twap_num long, twap_den long",
        emit=lambda st: (st[4], st[2], st[3]))
        .where(F.col("s.n_gaps") > 0)
        .select("user_id", "s.twap_num", "s.twap_den", "s.n_gaps"))


register("events_stream_twap", events_stream_twap, _TWAP_ORACLE)


# --------------------------------------------------------------------------
# Benford first-digit audit (r5 wave 14b): the forensic data-quality
# family — fabricated or unit-mangled numeric feeds skew the leading-
# digit distribution, and the audit is a per-(type, digit) census.
# The digit comes from the STRING of the exact grid INTEGER
# (floor(v·1000) → BIGINT → first char), never from the double's own
# decimal repr — double→varchar shortest-repr is a cross-engine
# divergence class, BIGINT→varchar is exact everywhere.  Zero grid
# values carry no leading digit and are excluded (counted in the oracle
# identically via vg > 0).  One scan, one grouped count.
# --------------------------------------------------------------------------


def events_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir).select(
        "event_type",
        F.floor(F.col("value") * 1000).cast("long").alias("vg"))
    return (ev.where(F.col("vg") > 0)
            .groupBy("event_type",
                     F.substring(F.col("vg").cast("string"), 1, 1)
                     .alias("digit"))
            .agg(F.count("*").alias("n")))


_BENFORD_ORACLE = """
WITH g AS (
  SELECT event_type, CAST(floor(value * 1000) AS BIGINT) AS vg
  FROM events
)
SELECT event_type, substring(CAST(vg AS VARCHAR), 1, 1) AS digit,
       COUNT(*) AS n
FROM g WHERE vg > 0
GROUP BY 1, 2
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# approx_top_k (r5 wave 14b): Spark 4's sketch-backed top-k aggregate —
# the SpaceSaving-family surface next to the HLL (tolerance) and CMS
# (hash-exact) sketch gates.  With 5 distinct event types the sketch
# capacity is never exceeded, so its counts are EXACT and hashable (no
# tolerance boolean needed); the top-3/rank-4 separation is strict at
# every SF (measured 201>199 / 2006>1982 / 19941>19863), so the
# SELECTION is unambiguous and only the sketch machinery is under test.
# Exploded rows re-sorted deterministically; oracle is the exact census.
# --------------------------------------------------------------------------


def events_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_events(spark, sf_dir).createOrReplaceTempView("po_atk_events")
    return spark.sql("""
        SELECT t.item, t.count AS n
        FROM (SELECT explode(approx_top_k(event_type, 3)) AS t
              FROM po_atk_events)
    """)


_APPROX_TOPK_ORACLE = """
SELECT event_type AS item, COUNT(*) AS n
FROM events GROUP BY 1
ORDER BY n DESC, event_type
LIMIT 3
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Forecast backtest (r5 wave 14b): the model-EVALUATION op the Holt gate
# lacks — every point's ONE-STEP-AHEAD error |x_i − (l_{i−1}+b_{i−1})|
# accumulated INSIDE the same fold (walk-forward backtesting: each
# forecast uses only prior data by construction).  The error accumulates
# through the identical IEEE sequence on both engines (the Holt fold's
# state list grows a 4th lane; l_new spelled out inline everywhere, the
# established discipline), so the summed error is hash-exact — no
# tolerance needed.  Emits the error SUM and the count (n−1) as the
# num/den pair (q8 discipline); downstream MAE is one division.
# --------------------------------------------------------------------------


def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    seq = (ev.groupBy("user_id")
           .agg(F.array_sort(
               F.collect_list(F.struct("ts", "event_id", "value")))
               .alias("s")))
    vals = F.col("s").getField("value")
    tail = F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0)))
    init = F.struct(F.element_at(vals, 1).alias("l"),
                    F.lit(0.0).alias("b"), F.lit(0.0).alias("e"))

    def step(acc, x):
        l_new = F.lit(0.25) * x + F.lit(0.75) * (acc["l"] + acc["b"])
        return F.struct(
            l_new.alias("l"),
            (F.lit(0.5) * ((F.lit(0.25) * x
                            + F.lit(0.75) * (acc["l"] + acc["b"]))
                           - acc["l"])
             + F.lit(0.5) * acc["b"]).alias("b"),
            (acc["e"] + F.abs(x - (acc["l"] + acc["b"]))).alias("e"))

    st = F.aggregate(tail, init, step)
    return seq.select(
        "user_id", F.size("s").cast("long").alias("n_events"),
        st.getField("e").alias("abs_err_sum"),
        (F.size("s") - 1).cast("long").alias("n_forecasts"))


_BACKTEST_ORACLE = """
WITH seq AS (
  SELECT user_id, list(value ORDER BY ts, event_id) AS vals
  FROM events GROUP BY user_id
),
st AS (
  SELECT user_id, CAST(len(vals) AS BIGINT) AS n_events,
         list_reduce(
           list_transform(vals,
             x -> [x, x, CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)]),
           (acc, e) -> [
             e[1],
             0.25 * e[1] + 0.75 * (acc[2] + acc[3]),
             0.5 * (0.25 * e[1] + 0.75 * (acc[2] + acc[3]) - acc[2])
                  + 0.5 * acc[3],
             acc[4] + abs(e[1] - (acc[2] + acc[3]))]) AS f
  FROM seq
)
SELECT user_id, n_events, f[4] AS abs_err_sum,
       n_events - 1 AS n_forecasts
FROM st
"""

register("events_forecast_backtest", events_forecast_backtest,
         _BACKTEST_ORACLE)


# --------------------------------------------------------------------------
# r6 consolidation packs (VERDICT r5 item 2) — see _util.pack_union for
# the coercion discipline.  Former gates' functions/oracles stay verbatim
# above; only registration moves.  DATE columns (user-activity pack) ride
# the VARCHAR bridge (ISO rendering is engine-identical — the
# q_date_functions precedent).
# --------------------------------------------------------------------------

from ._util import pack_oracle, pack_union  # noqa: E402
from .pipeline_queries import _XPATH_ORACLE  # noqa: E402
from .pipeline_queries import events_xpath_extract  # noqa: E402


def events_trend_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged gate (r6): the former events_ewma_users / cusum_alarms /
    holt_trend / linreg_trend — the deterministic trend/smoothing fold
    family (dyadic EWMA, CUSUM alarms, Holt level+trend, OLS slope
    rationals), each bit-exact against its sequential-fold oracle."""
    return pack_union([
        ("ewma", events_ewma_users(spark, sf_dir)),
        ("cusum", events_cusum_alarms(spark, sf_dir)),
        ("holt", events_holt_trend(spark, sf_dir)),
        ("linreg", events_linreg_trend(spark, sf_dir)),
    ])


_EVENTS_TREND_PACK_ORACLE = pack_oracle([
    ("ewma", _EWMA_ORACLE, {"user_id": 'DOUBLE', "n_events": 'DOUBLE', "ewma": 'DOUBLE'}),
    ("cusum", _CUSUM_ORACLE, {"user_id": 'DOUBLE', "n_events": 'DOUBLE', "n_alarms": 'DOUBLE', "final_s": 'DOUBLE'}),
    ("holt", _HOLT_ORACLE, {"user_id": 'DOUBLE', "n_events": 'DOUBLE', "level": 'DOUBLE', "trend": 'DOUBLE', "forecast_1": 'DOUBLE'}),
    ("linreg", _LINREG_ORACLE, {"event_type": None, "n": 'DOUBLE', "sx": 'DOUBLE', "sy": 'DOUBLE', "sxx": 'DOUBLE', "sxy": 'DOUBLE', "slope_num": 'DOUBLE', "slope_den": 'DOUBLE', "slope_grid_per_hour": 'DOUBLE'}),
])

register("events_trend_folds", events_trend_folds,
         _EVENTS_TREND_PACK_ORACLE)


def events_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged gate (r6): the former events_cumulative_users /
    events_dau_wau_mau — user-activity rollups (new/cumulative users,
    rolling DAU/WAU/MAU distinct counts) keyed by day."""
    # Spark-side 'day' is a midnight-truncated TIMESTAMP; the oracle's is
    # DATE.  Cast to DATE here so both ride the ISO VARCHAR bridge
    # ('2024-01-05') instead of the refused timestamp rendering.
    return pack_union([
        ("cumulative", events_cumulative_users(spark, sf_dir)
         .withColumn("day", F.col("day").cast("date"))),
        ("dwm", events_dau_wau_mau(spark, sf_dir)
         .withColumn("day", F.col("day").cast("date"))),
    ])


_EVENTS_ACTIVITY_PACK_ORACLE = pack_oracle([
    ("cumulative", _CUM_USERS_ORACLE, {"day": 'VARCHAR', "dau": 'DOUBLE', "new_users": 'DOUBLE', "cum_users": 'DOUBLE'}),
    ("dwm", _DAU_WAU_MAU_ORACLE, {"day": 'VARCHAR', "dau": 'DOUBLE', "wau": 'DOUBLE', "mau": 'DOUBLE'}),
])

register("events_user_activity", events_user_activity,
         _EVENTS_ACTIVITY_PACK_ORACLE)


def events_value_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged gate (r6): the former events_log_histogram /
    events_interarrival_quartiles — value-distribution profiling
    (power-of-two histogram buckets, exact interarrival quartiles)."""
    return pack_union([
        ("loghist", events_log_histogram(spark, sf_dir)),
        ("interarrival", events_interarrival_quartiles(spark, sf_dir)),
    ])


_EVENTS_DISTRIBUTION_PACK_ORACLE = pack_oracle([
    ("loghist", _LOG_HIST_ORACLE, {"event_type": None, "bucket": 'DOUBLE', "n": 'DOUBLE', "min_milli": 'DOUBLE', "max_milli": 'DOUBLE', "lo_milli": 'DOUBLE', "hi_milli": 'DOUBLE'}),
    ("interarrival", _INTERARRIVAL_ORACLE, {"event_type": None, "q25": 'DOUBLE', "q50": 'DOUBLE', "q75": 'DOUBLE', "n_gaps": 'DOUBLE'}),
])

register("events_value_distribution", events_value_distribution,
         _EVENTS_DISTRIBUTION_PACK_ORACLE)


def events_extract_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged gate (r6): the former events_json_extract /
    events_variant_extract / events_xpath_extract — in-cell semi-
    structured extraction across all three encodings (from_json schema
    path, Spark 4 VARIANT open-schema path, xpath_* XML axes)."""
    return pack_union([
        ("json", events_json_extract(spark, sf_dir)),
        ("variant", events_variant_extract(spark, sf_dir)),
        ("xpath", events_xpath_extract(spark, sf_dir)),
    ])


_EVENTS_EXTRACT_PACK_ORACLE = pack_oracle([
    ("json", _JSON_EXTRACT_ORACLE, {"event_type": None, "k_bucket": 'DOUBLE', "n_events": 'DOUBLE', "total_value": 'DOUBLE', "k_min": 'DOUBLE', "k_max": 'DOUBLE', "k_sum": 'DOUBLE'}),
    ("variant", _VARIANT_ORACLE, {"event_type": None, "k_band": 'DOUBLE', "n": 'DOUBLE', "sum_k": 'DOUBLE', "min_k": 'DOUBLE', "max_k": 'DOUBLE'}),
    ("xpath", _XPATH_ORACLE, {"doc_id": 'DOUBLE', "title": None, "lang_attr": None, "n": 'DOUBLE', "n_v": 'DOUBLE'}),
])

register("events_extract_semantics", events_extract_semantics,
         _EVENTS_EXTRACT_PACK_ORACLE)


def events_audit_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged gate (r6 tranche 2): the former events_ab_conversion /
    benford_audit / approx_top_k / cms_rollup — the analytics-audit
    family (chi-square contingency rationals, first-digit Benford
    counts, exact top-k heavy items, count-min-sketch estimates)."""
    return pack_union([
        ("ab", events_ab_conversion(spark, sf_dir)),
        ("benford", events_benford_audit(spark, sf_dir)),
        ("topk", events_approx_top_k(spark, sf_dir)),
        ("cms", events_cms_rollup(spark, sf_dir)),
    ])


_EVENTS_AUDIT_PACK_ORACLE = pack_oracle([
    ("ab", _AB_ORACLE, {"a": 'DOUBLE', "b": 'DOUBLE', "c": 'DOUBLE', "d": 'DOUBLE', "chi2_num": 'DOUBLE', "chi2_den": 'DOUBLE'}),
    ("benford", _BENFORD_ORACLE, {"event_type": None, "digit": None, "n": 'DOUBLE'}),
    ("topk", _APPROX_TOPK_ORACLE, {"item": None, "n": 'DOUBLE'}),
    ("cms", _CMS_ORACLE, {"event_type": None, "user_id": 'DOUBLE', "est_n": 'DOUBLE', "true_n": 'DOUBLE', "collided": 'VARCHAR'}),
])

register("events_audit_metrics", events_audit_metrics,
         _EVENTS_AUDIT_PACK_ORACLE)


def events_interval_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged gate (r6 tranche 2): the former events_interval_merge /
    events_concurrency — the interval-algebra pair (per-user episode
    dissolve, sweep-line overlap counting).  The concurrency part's hour
    timestamp rides an explicit STRING bridge: it is hour-truncated
    (zero fractional seconds), where Spark's and DuckDB's timestamp
    rendering agree ('yyyy-MM-dd HH:mm:ss') — verified at 3 SFs."""
    return pack_union([
        ("merge", events_interval_merge(spark, sf_dir)),
        ("sweep", events_concurrency(spark, sf_dir)
         .withColumn("hour", F.col("hour").cast("string"))),
    ])


_EVENTS_INTERVAL_PACK_ORACLE = pack_oracle([
    ("merge", _INTERVAL_MERGE_ORACLE, {"user_id": 'DOUBLE', "n_episodes": 'DOUBLE', "busy_us": 'DOUBLE', "max_episode_events": 'DOUBLE', "longest_us": 'DOUBLE'}),
    ("sweep", _CONCURRENCY_ORACLE, {"hour": 'VARCHAR', "max_concurrency": 'DOUBLE', "n_starts": 'DOUBLE'}),
])

register("events_interval_ops", events_interval_ops,
         _EVENTS_INTERVAL_PACK_ORACLE)
