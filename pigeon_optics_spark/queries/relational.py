"""Relational surface queries (SURVEY §2.3/2.4/2.6/2.7/2.8 — the categories
the reference lacks and the engine exposes natively from Spark).

Spark side uses the DataFrame API (Catalyst plans joins/agg placement);
oracle side is the equivalent ANSI SQL for DuckDB.  Broadcast hints are
explicit ONLY where a dimension is bounded regardless of scale factor
(nation=25, region=5 rows): at 100 TB the fact side never shuffles for those
joins.  Tables that scale with sf (customer, supplier, filtered orders) are
left un-hinted — AQE + autoBroadcastJoinThreshold promotes them to broadcast
when they're actually small and falls back to shuffle joins at cluster scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import register
from ._util import (CHARGE, DISC_PRICE, dsum_exact, davg, dsum, load,
                    load_events, ordered_pairs_col, pack_oracle, pack_union,
                    register_views)

# --------------------------------------------------------------------------
# q1_pricing_summary — TPC-H Q1 shape: scan + filter + 2-key hash agg.
# Plan goals: filter pushed to parquet, map-side partial agg, no join.
# --------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr(dsum("l_quantity", "sum_qty")).alias("sum_qty"),
            F.expr(dsum("l_extendedprice", "sum_base_price")).alias("sum_base_price"),
            F.expr(
                dsum_exact(DISC_PRICE, "sum_disc_price")
            ).alias("sum_disc_price"),
            F.expr(
                dsum_exact(CHARGE, "sum_charge")
            ).alias("sum_charge"),
            F.expr(davg("l_quantity", "avg_qty")).alias("avg_qty"),
            F.expr(davg("l_extendedprice", "avg_price")).alias("avg_price"),
            F.expr(davg("l_discount", "avg_disc", 8)).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


_Q1_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       {dsum('l_quantity', 'sum_qty')},
       {dsum('l_extendedprice', 'sum_base_price')},
       {dsum_exact(DISC_PRICE, 'sum_disc_price')},
       {dsum_exact(CHARGE, 'sum_charge')},
       {davg('l_quantity', 'avg_qty')},
       {davg('l_extendedprice', 'avg_price')},
       {davg('l_discount', 'avg_disc', 8)},
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""

register("q1_pricing_summary", q1_pricing_summary, _Q1_ORACLE)


# --------------------------------------------------------------------------
# q3_shipping_priority — selective dim filter + 2 joins + agg + top-k.
# Deterministic LIMIT: total order (revenue desc, o_orderdate, o_orderkey).
# Scale stance: NO hard broadcast hints on tables that scale with sf —
# customer and the filtered orders both grow linearly, so at the 100 TB
# north star a forced broadcast OOMs.  AQE + autoBroadcastJoinThreshold
# promotes either join to broadcast at runtime when the built side is
# actually small (it does at sf≤0.1); at 1000 executors the same code
# degrades gracefully to shuffle joins.
# --------------------------------------------------------------------------


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("date")
    )
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("date")
    )
    return (
        li.join(
            orders.join(cust, orders.o_custkey == cust.c_custkey),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.expr(dsum_exact(DISC_PRICE, "revenue")).alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderdate", "o_orderkey")
        .limit(10)
    )


_Q3_ORACLE = f"""
SELECT o_orderkey, o_orderdate, o_orderpriority,
       {dsum_exact(DISC_PRICE, 'revenue')}
FROM customer
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < DATE '1995-03-15'
  AND l_shipdate  > DATE '1995-03-15'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, o_orderkey
LIMIT 10
"""

register("q3_shipping_priority", q3_shipping_priority, _Q3_ORACLE)


# --------------------------------------------------------------------------
# q5_region_revenue — 6-way join.  Broadcast hints ONLY on the bounded
# dimensions (nation=25 rows, region=5 rows — fixed regardless of sf).
# supplier/customer scale linearly (TPC-H 10k×sf / 150k×sf), so they get no
# hint: AQE broadcasts them at small sf and falls back to shuffle joins at
# cluster scale instead of OOMing the driver.
# --------------------------------------------------------------------------


def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load(spark, sf_dir, "region")
    nation = load(spark, sf_dir, "nation")
    cust = load(spark, sf_dir, "customer")
    sup = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    dims = (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(dims), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("r_name", "n_name")
        .agg(F.expr(dsum_exact(DISC_PRICE, "revenue")).alias("revenue"),
             F.count("*").alias("n_items"))
    )


_Q5_ORACLE = f"""
SELECT r_name, n_name,
       {dsum_exact(DISC_PRICE, 'revenue')},
       COUNT(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
GROUP BY r_name, n_name
"""

register("q5_region_revenue", q5_region_revenue, _Q5_ORACLE)


# --------------------------------------------------------------------------
# q_top3_customers_per_nation — top-k per group via ranking window.
# --------------------------------------------------------------------------


def q_top3_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        cust.withColumn("rank_in_nation", F.row_number().over(w))
        .where(F.col("rank_in_nation") <= 3)
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .select("n_name", "c_custkey", "c_name", "c_acctbal", "rank_in_nation")
    )


_TOP3_ORACLE = """
SELECT n_name, c_custkey, c_name, c_acctbal, rank_in_nation
FROM (
  SELECT c_nationkey, c_custkey, c_name, c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey ASC) AS rank_in_nation
  FROM customer
) r
JOIN nation ON c_nationkey = n_nationkey
WHERE rank_in_nation <= 3
"""

register("q_top3_customers_per_nation", q_top3_customers_per_nation, _TOP3_ORACLE)


# --------------------------------------------------------------------------
# q_customers_without_orders — anti join (NOT EXISTS), counted per nation.
# --------------------------------------------------------------------------


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").where(F.year("o_orderdate") == 2001)
    nation = load(spark, sf_dir, "nation")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_customers_no_orders"))
    )


_ANTI_ORACLE = """
SELECT n_name, COUNT(*) AS n_customers_no_orders
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND year(o_orderdate) = 2001)
GROUP BY n_name
"""


# --------------------------------------------------------------------------
# q_urgent_order_customers — semi join (EXISTS).
# --------------------------------------------------------------------------


def q_urgent_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    urgent = load(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"),
             F.expr(dsum("c_acctbal", "total_acctbal")).alias("total_acctbal"))
    )


_SEMI_ORACLE = f"""
SELECT c_mktsegment, COUNT(*) AS n_customers,
       {dsum('c_acctbal', 'total_acctbal')}
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
"""


def q_semi_anti_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged gate (r4): the former ``q_customers_without_orders`` (anti
    join / NOT EXISTS) and ``q_urgent_order_customers`` (semi join / EXISTS)
    rows, tag-unioned — one driver slot, both join strategies value-hashed.
    Union of two independent aggregates; each side keeps its own plan
    (broadcast dim for the anti side, semi against the filtered fact)."""
    anti = q_customers_without_orders(spark, sf_dir).select(
        F.lit("anti").alias("join_kind"),
        F.col("n_name").alias("group_key"),
        F.col("n_customers_no_orders").alias("n_customers"),
        F.lit(None).cast("double").alias("total_acctbal"),
    )
    semi = q_urgent_order_customers(spark, sf_dir).select(
        F.lit("semi").alias("join_kind"),
        F.col("c_mktsegment").alias("group_key"),
        F.col("n_customers"),
        "total_acctbal",
    )
    return anti.unionByName(semi)


_SEMI_ANTI_ORACLE = f"""
SELECT 'anti' AS join_kind, n_name AS group_key,
       COUNT(*) AS n_customers,
       CAST(NULL AS DOUBLE) AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND year(o_orderdate) = 2001)
GROUP BY n_name
UNION ALL
SELECT 'semi' AS join_kind, c_mktsegment AS group_key,
       COUNT(*) AS n_customers, {dsum('c_acctbal', 'total_acctbal')}
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
"""

register("q_semi_anti_joins", q_semi_anti_joins, _SEMI_ANTI_ORACLE)


# --------------------------------------------------------------------------
# q_segment_setops — INTERSECT / EXCEPT (SURVEY §2.7, ABSENT in reference).
# Customers that bought in 1995 but not 1996 (EXCEPT) and in both (INTERSECT),
# tagged and unioned.
#
# r11 restructure (guide §2.4 — remove duplicate subtrees): the literal
# INTERSECT/EXCEPT formulation references y95 and y96 twice each, and
# Catalyst plans each reference as its own scan+distinct subtree (measured:
# 8 parquet scans, 5 exchanges, 6.5 user cpu-s).  Both set ops key on the
# SAME distinct o_custkey domain, so one pass computes them together:
# per-customer membership flags (any 1995 order / any 1996 order) from a
# single scan+groupBy, then cohort = both|only_1995 from the flags.
# Equivalence (oracle-proved at sf0.01 + sf0.1): inputs to the set ops are
# DISTINCT key sets, so INTERSECT ≡ in95∧in96 and EXCEPT ALL ≡ EXCEPT ≡
# in95∧¬in96, row-for-row per distinct o_custkey; null dates fail both the
# year() equality and the range predicate.  The range predicate additionally
# reaches the parquet scan as PushedFilters (year(col) is a derived
# expression and never pushes down, guide §6).  INTERSECT/EXCEPT operator
# semantics stay driver-gated by the dedicated q_setops_join_semantics pack.
# --------------------------------------------------------------------------


def q_segment_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    flags = (
        orders.where(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date")))
        .groupBy("o_custkey")
        .agg(F.max(F.year("o_orderdate") == 1995).alias("in95"),
             F.max(F.year("o_orderdate") == 1996).alias("in96"))
    )
    return (
        flags.where(F.col("in95"))
        .select(F.when(F.col("in96"), F.lit("both"))
                .otherwise(F.lit("only_1995")).alias("cohort"))
        .groupBy("cohort")
        .agg(F.count("*").alias("n_customers"))
    )


_SETOPS_ORACLE = """
WITH y95 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
     y96 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
     tagged AS (
       SELECT 'both' AS cohort, o_custkey FROM (SELECT o_custkey FROM y95 INTERSECT SELECT o_custkey FROM y96)
       UNION ALL
       SELECT 'only_1995' AS cohort, o_custkey FROM (SELECT o_custkey FROM y95 EXCEPT SELECT o_custkey FROM y96)
     )
SELECT cohort, COUNT(*) AS n_customers FROM tagged GROUP BY cohort
"""

register("q_segment_setops", q_segment_setops, _SETOPS_ORACLE)


# --------------------------------------------------------------------------
# q_rollup_returns — ROLLUP grouping sets (SURVEY §2.4, ABSENT in reference).
# NULL grouping keys are replaced by sentinels so the hash compare is
# unambiguous across engines.
# --------------------------------------------------------------------------


def q_rollup_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.expr(dsum("l_quantity", "sum_qty")).alias("sum_qty"),
             F.count("*").alias("n_rows"))
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("linestatus"),
            "sum_qty",
            "n_rows",
        )
    )


_ROLLUP_ORACLE = f"""
SELECT COALESCE(l_returnflag, '<all>') AS returnflag,
       COALESCE(l_linestatus, '<all>') AS linestatus,
       {dsum('l_quantity', 'sum_qty')},
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""

register("q_rollup_returns", q_rollup_returns, _ROLLUP_ORACLE)


# --------------------------------------------------------------------------
# q_distinct_suppliers_per_flag — distinct aggregate.
# --------------------------------------------------------------------------


def q_distinct_suppliers_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count("*").alias("n_rows"),
    )


_DISTINCT_ORACLE = """
SELECT l_returnflag,
       COUNT(DISTINCT l_suppkey) AS n_suppliers,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
"""

register("q_distinct_suppliers_per_flag", q_distinct_suppliers_per_flag, _DISTINCT_ORACLE)


# --------------------------------------------------------------------------
# q_point_lookup_documents — key point read (SURVEY §2.1: dataset record read).
# On a partitioned/bucketed store this partition-prunes to one file.
# --------------------------------------------------------------------------


def q_point_lookup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.where(F.col("doc_id") == 42).select("doc_id", "lang", "source", "n_chars")


register(
    "q_point_lookup_documents",
    q_point_lookup_documents,
    "SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id = 42",
)


# --------------------------------------------------------------------------
# q_scalar_functions — string/date/math scalar surface (SURVEY §2.8, ABSENT
# in reference — lives in user JS there; native Spark functions here).
# Only functions with identical cross-engine semantics (no double rounding).
# --------------------------------------------------------------------------


def q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    return part.where(F.col("p_partkey") <= 500).select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.length("p_name").alias("name_len"),
        F.substring("p_type", 1, 6).alias("type_prefix"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.abs(F.col("p_size") - 25).alias("size_dist"),
        F.floor(F.col("p_retailprice")).alias("price_floor"),
        (F.col("p_partkey") % 7).alias("key_mod7"),
    )


_SCALAR_ORACLE = """
SELECT p_partkey,
       UPPER(p_brand) AS brand_upper,
       LENGTH(p_name) AS name_len,
       SUBSTRING(p_type, 1, 6) AS type_prefix,
       CONCAT_WS('|', p_brand, p_type) AS brand_type,
       ABS(p_size - 25) AS size_dist,
       CAST(FLOOR(p_retailprice) AS BIGINT) AS price_floor,
       p_partkey % 7 AS key_mod7
FROM part
WHERE p_partkey <= 500
"""

register("q_scalar_functions", q_scalar_functions, _SCALAR_ORACLE)


# --------------------------------------------------------------------------
# q_export_at_filter — the reference's `?at=` incremental-pull export
# (SURVEY §2.2: records below the version cutoff ship as stubs without data;
# ref export-controller.js:25-41).  Modeled on events: `value` plays the
# version, `props` the payload.
# --------------------------------------------------------------------------


def q_export_at_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    cutoff = 50.0
    return ev.where(F.col("event_id") <= 2000).select(
        "event_id",
        "event_type",
        F.when(F.col("value") >= cutoff, F.col("props")).alias("payload"),
        (F.col("value") >= cutoff).alias("is_fresh"),
    )


_AT_ORACLE = """
SELECT event_id, event_type,
       CASE WHEN value >= 50.0 THEN props END AS payload,
       value >= 50.0 AS is_fresh
FROM events
WHERE event_id <= 2000
"""

register("q_export_at_filter", q_export_at_filter, _AT_ORACLE)


# --------------------------------------------------------------------------
# q_orderpriority_checker — TPC-H Q4 shape: EXISTS semi join + count.
# --------------------------------------------------------------------------


def q_orderpriority_checker(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("date"))
    )
    li = load(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


_Q4_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= DATE '1996-07-01' AND o_orderdate < DATE '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
"""

register("q_orderpriority_checker", q_orderpriority_checker, _Q4_ORACLE)


def q_approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates (SURVEY §2.4 'free' new surface): HLL distinct
    + quantile sketches per returnflag, ORACLE-GATED via tolerance booleans
    (r3 verdict item 4): the sketch values themselves are engine-specific,
    so the gate emits the EXACT values (hash-compared) plus ``within_tol``
    booleans asserting the sketches landed inside their published error
    envelopes; the oracle returns the exact side with trivially-true
    booleans.  A sketch drifting out of envelope flips a boolean and fails
    the value-hash.

    Tolerances: HLL++ rsd defaults to 0.05 → 0.2 is 4σ; percentile_approx
    with accuracy 10000 bounds RANK error at 1e-4, and the synthetic price
    distribution is dense enough that 5 % value error is generous."""
    li = load(spark, sf_dir, "lineitem")
    aq = F.percentile_approx("l_extendedprice", [0.5, 0.95, 0.99], 10000)
    eq = F.expr("percentile(l_extendedprice, array(0.5D, 0.95D, 0.99D))")
    out = (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey").alias("approx_parts"),
            F.countDistinct("l_partkey").alias("exact_parts"),
            aq.alias("aq"),
            eq.alias("eq"),
            F.count("*").alias("n"),
        )
    )

    def _tol(a, e, rel):
        return F.abs(a - e) <= F.lit(rel) * e

    return (
        out.select(
            "l_returnflag", "exact_parts", "n",
            _tol(F.col("approx_parts").cast("double"),
                 F.col("exact_parts").cast("double"), 0.2)
            .alias("parts_within_tol"),
            _tol(F.col("aq")[0], F.col("eq")[0], 0.05).alias("q50_within_tol"),
            _tol(F.col("aq")[1], F.col("eq")[1], 0.05).alias("q95_within_tol"),
            _tol(F.col("aq")[2], F.col("eq")[2], 0.05).alias("q99_within_tol"),
        )
        .orderBy("l_returnflag")
    )


_APPROX_ORACLE = """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS exact_parts,
       COUNT(*) AS n,
       TRUE AS parts_within_tol,
       TRUE AS q50_within_tol,
       TRUE AS q95_within_tol,
       TRUE AS q99_within_tol
FROM lineitem
GROUP BY l_returnflag
"""

register("q_approx_aggregates", q_approx_aggregates, _APPROX_ORACLE)


# --------------------------------------------------------------------------
# q_full_outer_join — FULL OUTER (SURVEY §2.3 completeness): regions with
# or without matching customers-by-nation rollups on both sides.  Plan: the
# nation dim broadcasts; the outer preserves unmatched rows of BOTH inputs.
# --------------------------------------------------------------------------


def q_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    # per-nation customer counts for ONE market segment (some nations will
    # have zero rows on the left → exercised outer semantics), full-outer
    # against the full nation dim
    seg = (cust.where(F.col("c_mktsegment") == "AUTOMOBILE")
           .where(F.col("c_acctbal") > 9000)
           .groupBy("c_nationkey").agg(F.count("*").alias("n_rich")))
    return (seg.join(nation, seg["c_nationkey"] == nation["n_nationkey"],
                     "full_outer")
            .select(
                F.coalesce(F.col("n_name"), F.lit("<none>")).alias("nation"),
                F.coalesce(F.col("n_rich"), F.lit(0)).alias("n_rich"),
                F.col("n_regionkey").isNotNull().alias("has_nation"),
            ))


_FULL_OUTER_ORACLE = """
WITH seg AS (
  SELECT c_nationkey, COUNT(*) AS n_rich
  FROM customer
  WHERE c_mktsegment = 'AUTOMOBILE' AND c_acctbal > 9000
  GROUP BY c_nationkey
)
SELECT COALESCE(n.n_name, '<none>') AS nation,
       COALESCE(seg.n_rich, 0) AS n_rich,
       n.n_regionkey IS NOT NULL AS has_nation
FROM seg FULL OUTER JOIN nation n ON seg.c_nationkey = n.n_nationkey
"""

register("q_full_outer_join", q_full_outer_join, _FULL_OUTER_ORACLE)


# --------------------------------------------------------------------------
# q_moving_average — sliding ROWS window frame (SURVEY §2.6 depth): 7-row
# centered moving average of daily order totals.  Exact decimal partials
# inside the frame keep the doubles engine-identical.
# --------------------------------------------------------------------------


def q_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    # the daily total stays in EXACT decimal through the window: re-casting
    # the COMPUTED double day_total back to decimal would round at the 8th
    # decimal, where Spark (HALF_UP on the shortest string repr) and DuckDB
    # (binary-exact) can disagree near midpoints — found by the r4 sf0.5
    # float sweep (1.5e-8 drift on 4 of 2405 rows).  Source money columns
    # are midpoint-safe (_util.py), computed doubles are not.
    daily = (orders.groupBy("o_orderdate")
             .agg(F.sum(F.col("o_totalprice").cast("decimal(28,8)"))
                  .alias("_dec"),
                  F.count("*").alias("n_orders")))
    # BOUNDEDNESS INVARIANT (r3 verdict item 5): this unpartitioned window
    # is single-partition by definition, which is safe ONLY because its
    # input is the per-day aggregate — bounded by the date-domain
    # cardinality (~2.4k rows at ANY scale factor), not by data volume.
    # Never move this window below the groupBy.  Pinned by
    # tests/test_plans.py::test_moving_average_window_input_is_aggregated.
    w = (Window.orderBy("o_orderdate").rowsBetween(-3, 3))
    # exact decimal frame sum; cast to double BEFORE dividing — decimal÷int
    # scale rules differ between engines, double÷double is one exactly-
    # rounded op
    mov = F.sum("_dec").over(w).cast("double") / F.count("*").over(w)
    return daily.select(
        "o_orderdate",
        F.col("_dec").cast("double").alias("day_total"),
        "n_orders",
        mov.alias("ma7"))


# oracle casts of the (wide) decimal sums bounce through VARCHAR: DuckDB's
# direct decimal->double computes int128 * 10^-scale in FLOAT arithmetic
# (documented in _util.py), varchar->double is correctly rounded
_MOVAVG_ORACLE = """
WITH daily AS (
  SELECT o_orderdate,
         SUM(CAST(o_totalprice AS DECIMAL(28,8))) AS _dec,
         COUNT(*) AS n_orders
  FROM orders GROUP BY o_orderdate
)
SELECT o_orderdate,
       CAST(CAST(_dec AS VARCHAR) AS DOUBLE) AS day_total,
       n_orders,
       CAST(CAST(SUM(_dec)
              OVER (ORDER BY o_orderdate ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
            AS VARCHAR) AS DOUBLE)
       / COUNT(*) OVER (ORDER BY o_orderdate
                        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS ma7
FROM daily
"""

register("q_moving_average", q_moving_average, _MOVAVG_ORACLE)


# --------------------------------------------------------------------------
# q_cube_volumes — CUBE grouping sets (all 4 combinations; rollup covers
# the hierarchy case, cube the full lattice — SURVEY §2.4).
# --------------------------------------------------------------------------


def q_cube_volumes(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return (orders.cube("o_orderstatus", "o_orderpriority")
            .agg(F.count("*").alias("n_orders"),
                 F.expr(dsum("o_totalprice", "total", 8)).alias("total"))
            .select(
                F.coalesce("o_orderstatus", F.lit("<all>")).alias("status"),
                F.coalesce("o_orderpriority", F.lit("<all>")).alias("priority"),
                "n_orders", "total"))


_CUBE_ORACLE = """
SELECT COALESCE(o_orderstatus, '<all>') AS status,
       COALESCE(o_orderpriority, '<all>') AS priority,
       COUNT(*) AS n_orders,
       -- VARCHAR bounce: DuckDB's decimal->double cast computes
       -- int128 * 10^-s in FLOAT arithmetic (1 ulp off at ~2e10 subtotal
       -- magnitudes), while Spark rounds correctly via BigDecimal; the
       -- decimal->varchar->double path is correctly rounded in both
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,8))) AS VARCHAR)
            AS DOUBLE) AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""

register("q_cube_volumes", q_cube_volumes, _CUBE_ORACLE)


# --------------------------------------------------------------------------
# q_event_zscores — statistical profiling / anomaly flagging: per-type mean
# and stddev from EXACT decimal partials, then per-event z-scores.  All
# double ops downstream of the exact sums are single exactly-rounded
# expressions, so both engines agree bit-for-bit.
# --------------------------------------------------------------------------


def q_event_zscores(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    stats = (ev.groupBy("event_type")
             .agg(F.count("*").alias("n"),
                  F.sum(F.col("value").cast("decimal(28,8)")).alias("_s"),
                  # (12,6) operands: events.value is a small 2-decimal
                  # quantity, and DuckDB computes the product at operand
                  # width (no auto-widening — (18,8)² overflows int64)
                  F.sum((F.col("value").cast("decimal(12,6)")
                         * F.col("value").cast("decimal(12,6)"))
                        .cast("decimal(38,12)"))
                  .alias("_ss"))
             .select("event_type", "n",
                     (F.col("_s").cast("double") / F.col("n")).alias("mean"),
                     F.sqrt(F.col("_ss").cast("double") / F.col("n")
                            - (F.col("_s").cast("double") / F.col("n"))
                            * (F.col("_s").cast("double") / F.col("n")))
                     .alias("sd")))
    return (ev.join(stats, "event_type")
            .where(F.abs((F.col("value") - F.col("mean")) / F.col("sd")) > 2.5)
            .select("event_id", "event_type", "value", "mean", "sd",
                    ((F.col("value") - F.col("mean")) / F.col("sd"))
                    .alias("zscore")))


_ZSCORE_ORACLE = """
WITH stats AS (
  SELECT event_type, COUNT(*) AS n,
         -- VARCHAR bounce (see _util note): DuckDB's decimal->double cast
         -- is 1 ulp off at large magnitudes
         CAST(CAST(SUM(CAST(value AS DECIMAL(28,8))) AS VARCHAR)
              AS DOUBLE) AS s,
         CAST(CAST(SUM(CAST(CAST(value AS DECIMAL(12,6))
                            * CAST(value AS DECIMAL(12,6))
                            AS DECIMAL(38,12))) AS VARCHAR)
              AS DOUBLE) AS ss
  FROM events GROUP BY event_type
),
m AS (
  SELECT event_type, n, s / n AS mean,
         sqrt(ss / n - (s / n) * (s / n)) AS sd
  FROM stats
)
SELECT e.event_id, e.event_type, e.value, m.mean, m.sd,
       (e.value - m.mean) / m.sd AS zscore
FROM events e JOIN m USING (event_type)
WHERE ABS((e.value - m.mean) / m.sd) > 2.5
"""

register("q_event_zscores", q_event_zscores, _ZSCORE_ORACLE)


# --------------------------------------------------------------------------
# q_exact_quantiles — EXACT interpolated quantiles per group (the exact twin
# of the rows-only approx-sketch query).  Safe for the hash gate because
# l_quantity is integer-valued, so every interpolation lands on x.0/x.25/
# x.5/x.75 — exactly representable, no engine drift.
# --------------------------------------------------------------------------


def q_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.expr("percentile(l_quantity, 0.25)").alias("q25"),
                 F.expr("percentile(l_quantity, 0.5)").alias("q50"),
                 F.expr("percentile(l_quantity, 0.75)").alias("q75"),
                 F.count("*").alias("n")))


_EXACT_Q_ORACLE = """
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.25) AS q25,
       quantile_cont(l_quantity, 0.5) AS q50,
       quantile_cont(l_quantity, 0.75) AS q75,
       COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag
"""

register("q_exact_quantiles", q_exact_quantiles, _EXACT_Q_ORACLE)


# --------------------------------------------------------------------------
# q17-style small-quantity revenue: per-group correlated AVG threshold.
# The classic decorrelated shape — Spark expresses the correlated scalar
# subquery as groupBy + join (what Catalyst rewrites it to anyway), so the
# plan is two shuffles (per-part avg, final agg), no nested-loop subquery.
# Determinism: l_quantity is integer-valued, so the per-part mean is
# exact-integer-sum / count — one IEEE division, identical across engines;
# the 0.2× threshold and the comparison are then bit-stable.
# --------------------------------------------------------------------------


def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    brands = ["Brand#12", "Brand#23", "Brand#34"]
    avg_q = li.groupBy("l_partkey").agg(
        F.expr(davg("l_quantity", "avg_qty")).alias("avg_qty"))
    return (li.join(part.where(F.col("p_brand").isin(brands)),
                    F.col("l_partkey") == F.col("p_partkey"))
            .join(avg_q, "l_partkey")
            .where(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
            .groupBy("p_brand")
            .agg(F.expr(dsum("l_extendedprice", "rev")).alias("rev"),
                 F.count("*").alias("n_small"))
            .select("p_brand",
                    (F.col("rev") / F.lit(7.0)).alias("avg_yearly"),
                    "n_small"))


_Q17_ORACLE = f"""
WITH avg_q AS (
  SELECT l_partkey, {davg('l_quantity', 'avg_qty')}
  FROM lineitem GROUP BY l_partkey
)
SELECT p_brand, rev / 7.0 AS avg_yearly, n_small
FROM (
  SELECT p_brand, {dsum('l_extendedprice', 'rev')},
         COUNT(*) AS n_small
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  JOIN avg_q a ON l.l_partkey = a.l_partkey
  WHERE p.p_brand IN ('Brand#12', 'Brand#23', 'Brand#34')
    AND l.l_quantity < 0.2 * a.avg_qty
  GROUP BY p_brand
)
"""

register("q_small_quantity_revenue", q_small_quantity_revenue, _Q17_ORACLE)


# --------------------------------------------------------------------------
# q18-style large-volume orders: HAVING-filtered aggregate re-joined to its
# detail tables.  The big-order set is found with ONE groupBy (integer-
# valued doubles sum exactly → the >250 threshold cannot flip between
# engines); orders and customer then attach via equi-joins.  Top-100 by
# (sum_qty desc, o_orderkey) is TakeOrdered — no global sort.
# --------------------------------------------------------------------------


def q_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    big = (li.groupBy("l_orderkey")
           .agg(F.expr(dsum("l_quantity", "sum_qty")).alias("sum_qty"))
           .where(F.col("sum_qty") > 250))
    return (big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(cust, F.col("o_custkey") == F.col("c_custkey"))
            .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                    "o_totalprice", "sum_qty")
            .orderBy(F.desc("sum_qty"), F.asc("o_orderkey"))
            .limit(100))


_Q18_ORACLE = f"""
WITH big AS (
  SELECT l_orderkey, {dsum('l_quantity', 'sum_qty')}
  FROM lineitem GROUP BY l_orderkey HAVING sum_qty > 250
)
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY sum_qty DESC, o_orderkey ASC
LIMIT 100
"""

register("q_large_volume_orders", q_large_volume_orders, _Q18_ORACLE)


# --------------------------------------------------------------------------
# Market-basket pair mining (association-rule count step): co-occurring
# part pairs within an order, min-support filtered, top-50.  The pairs
# expand IN-ROW from each order's sorted distinct item set (≤ C(items,2)
# per order — items-per-order is a data constant, so the explode is
# bounded), then ONE groupBy(pair) with map-side combine.  This is the
# count core of distributed FP-growth/Apriori; at 100 TB the shuffle
# carries (pair → partial count), never baskets.
# --------------------------------------------------------------------------


def q_market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    baskets = (li.groupBy("l_orderkey")
               .agg(F.array_sort(F.collect_set("l_partkey")).alias("items")))
    pairs = baskets.select(F.explode(
        ordered_pairs_col(F.col("items"), "part_a", "part_b")).alias("p"))
    return (pairs.groupBy(F.col("p.part_a").alias("part_a"),
                          F.col("p.part_b").alias("part_b"))
            .agg(F.count("*").alias("n_orders"))
            .where(F.col("n_orders") >= 3)
            .orderBy(F.desc("n_orders"), F.asc("part_a"), F.asc("part_b"))
            .limit(50))


_BASKET_ORACLE = """
WITH baskets AS (
  SELECT l_orderkey, list_sort(list_distinct(list(l_partkey))) AS items
  FROM lineitem GROUP BY l_orderkey
),
pairs AS (
  SELECT a.part_a, b.part_b
  FROM (SELECT l_orderkey, unnest(items) AS part_a FROM baskets) a
  JOIN (SELECT l_orderkey, unnest(items) AS part_b FROM baskets) b
    ON a.l_orderkey = b.l_orderkey AND a.part_a < b.part_b
)
SELECT part_a, part_b, COUNT(*) AS n_orders
FROM pairs GROUP BY 1, 2 HAVING COUNT(*) >= 3
ORDER BY n_orders DESC, part_a ASC, part_b ASC
LIMIT 50
"""

register("q_market_basket_pairs", q_market_basket_pairs, _BASKET_ORACLE)


# --------------------------------------------------------------------------
# Customer order-count distribution (the TPC-H Q13 shape): LEFT OUTER join
# so zero-order customers land in the c_count=0 bucket, then a
# group-on-a-group histogram.  Scale shape: one custkey-hash shuffle for
# the outer join + first agg (AQE handles customer-key skew), then the
# second agg runs over at most |distinct order counts| rows — effectively
# free.  The priority filter stands in for Q13's comment NOT LIKE.
# --------------------------------------------------------------------------


def q_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = (load(spark, sf_dir, "orders")
              .where(F.col("o_orderpriority") != "1-URGENT"))
    per_cust = (cust.join(orders,
                          cust["c_custkey"] == orders["o_custkey"], "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count("*").alias("custdist"))
            .orderBy(F.desc("custdist"), F.desc("c_count")))


_Q13_ORACLE = """
WITH per_cust AS (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY 1
)
SELECT c_count, COUNT(*) AS custdist
FROM per_cust GROUP BY 1
ORDER BY custdist DESC, c_count DESC
"""

register("q_order_count_distribution", q_order_count_distribution,
         _Q13_ORACLE)


# --------------------------------------------------------------------------
# Data-quality constraint report (pipeline.validate): the Deequ-style
# pre-training gatekeeper — row-level range/domain/order checks batched
# into ONE aggregation over ONE lineitem scan, plus a uniqueness pass and
# a referential (orphan) pass.  Two checks are deliberately-failing
# profiling expectations so both report branches (passed true AND false,
# violations zero AND nonzero) are value-hashed.  All metrics are exact
# integer counts — no float arithmetic anywhere.
# --------------------------------------------------------------------------


def q_data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.validate import (check_constraints, referential_check,
                                     uniqueness_check)

    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    row_level = check_constraints(li, {
        "qty_in_1_50": F.col("l_quantity").between(1.0, 50.0),
        "discount_in_0_10pct": F.col("l_discount").between(0.0, 0.10),
        "tax_in_0_8pct": F.col("l_tax").between(0.0, 0.08),
        "price_positive": F.col("l_extendedprice") > 0.0,
        "shipdate_not_null": F.col("l_shipdate").isNotNull(),
        "returnflag_domain": F.col("l_returnflag").isin("A", "N", "R"),
        # deliberately-failing profiling expectations (exercise the
        # violations>0 / passed=false branch):
        "expect_qty_le_30": F.col("l_quantity") <= 30.0,
        "expect_no_discount": F.col("l_discount") == 0.0,
    })
    uniq_pk = uniqueness_check(li, ["l_orderkey", "l_linenumber"])
    uniq_fail = uniqueness_check(li, ["l_orderkey"])  # NOT unique: fails
    refs = referential_check(li, orders, "l_orderkey", "o_orderkey")
    return row_level.unionByName(uniq_pk).unionByName(uniq_fail) \
                    .unionByName(refs)


_DQ_ORACLE = """
WITH rl AS (
  SELECT COUNT(*) AS n_rows,
    SUM(CASE WHEN l_quantity BETWEEN 1.0 AND 50.0 THEN 0 ELSE 1 END) AS qty_in_1_50,
    SUM(CASE WHEN l_discount BETWEEN 0.0 AND 0.10 THEN 0 ELSE 1 END) AS discount_in_0_10pct,
    SUM(CASE WHEN l_tax BETWEEN 0.0 AND 0.08 THEN 0 ELSE 1 END) AS tax_in_0_8pct,
    SUM(CASE WHEN l_extendedprice > 0.0 THEN 0 ELSE 1 END) AS price_positive,
    SUM(CASE WHEN l_shipdate IS NOT NULL THEN 0 ELSE 1 END) AS shipdate_not_null,
    SUM(CASE WHEN l_returnflag IN ('A','N','R') THEN 0 ELSE 1 END) AS returnflag_domain,
    SUM(CASE WHEN l_quantity <= 30.0 THEN 0 ELSE 1 END) AS expect_qty_le_30,
    SUM(CASE WHEN l_discount = 0.0 THEN 0 ELSE 1 END) AS expect_no_discount
  FROM lineitem
),
long_rl AS (
  SELECT u.check_name,
         CAST(u.violations AS BIGINT) AS violations,
         CAST(n_rows AS BIGINT) AS n_rows
  FROM rl, UNNEST([
    struct_pack(check_name := 'qty_in_1_50', violations := qty_in_1_50),
    struct_pack(check_name := 'discount_in_0_10pct', violations := discount_in_0_10pct),
    struct_pack(check_name := 'tax_in_0_8pct', violations := tax_in_0_8pct),
    struct_pack(check_name := 'price_positive', violations := price_positive),
    struct_pack(check_name := 'shipdate_not_null', violations := shipdate_not_null),
    struct_pack(check_name := 'returnflag_domain', violations := returnflag_domain),
    struct_pack(check_name := 'expect_qty_le_30', violations := expect_qty_le_30),
    struct_pack(check_name := 'expect_no_discount', violations := expect_no_discount)
  ]) AS t(u)
),
uq AS (
  SELECT 'unique_l_orderkey_l_linenumber' AS check_name,
         CAST(COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT)
           AS violations,
         CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM lineitem
  UNION ALL
  SELECT 'unique_l_orderkey',
         CAST(COUNT(*) - COUNT(DISTINCT l_orderkey) AS BIGINT),
         CAST(COUNT(*) AS BIGINT)
  FROM lineitem
),
rf AS (
  SELECT 'ref_l_orderkey_in_o_orderkey' AS check_name,
         CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS violations,
         CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM lineitem l
  LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
    ON l.l_orderkey = o.o_orderkey
)
SELECT check_name, violations, n_rows, violations = 0 AS passed FROM long_rl
UNION ALL SELECT check_name, violations, n_rows, violations = 0 FROM uq
UNION ALL SELECT check_name, violations, n_rows, violations = 0 FROM rf
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# k-anonymity audit (pipeline.validate.kanonymity_audit): group sizes over
# the (c_nationkey, c_mktsegment) quasi-identifier pair, k=10 — at the
# gate SF both branches occur (90 anonymous / 35 small groups at sf0.01).
# One groupBy with map-side combine; output is O(QI combinations).
# --------------------------------------------------------------------------


def q_kanonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.validate import kanonymity_audit

    cust = load(spark, sf_dir, "customer")
    return kanonymity_audit(cust, ["c_nationkey", "c_mktsegment"], k=10)


_KANON_ORACLE = """
SELECT c_nationkey, c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS group_size,
       COUNT(*) >= 10 AS anonymous
FROM customer
GROUP BY c_nationkey, c_mktsegment
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# q7-style two-nation volume shipping: 5-way join where BOTH endpoints of a
# flow are dimension-filtered (supplier nation x customer nation), grouped
# by flow direction and ship year.  Catalyst pushes the nation-name IN
# filters into the two broadcast nation copies, so the fact-side join fans
# out only matching rows.  YEAR() is cast INT on both engines (DuckDB
# EXTRACT returns BIGINT).  The NATION_13/NATION_19 pair carries flow in
# BOTH directions at every SF including sf0.001 (18/10 rows), so the
# direction disjunction is genuinely exercised at the smoke tier.
# Reference has no joins at all (SURVEY §2.3 ABSENT rows); this is
# new-surface evidence.
# --------------------------------------------------------------------------


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    sup = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    n1 = nation.select(F.col("n_nationkey").alias("s_nkey"),
                       F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("c_nkey"),
                       F.col("n_name").alias("cust_nation"))
    pair_ok = (
        ((F.col("supp_nation") == "NATION_13") & (F.col("cust_nation") == "NATION_19"))
        | ((F.col("supp_nation") == "NATION_19") & (F.col("cust_nation") == "NATION_13"))
    )
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("date"))
            & (F.col("l_shipdate") <= F.lit("1996-12-31").cast("date")))
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .where(pair_ok)
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").cast("int").alias("l_year"))
        .agg(F.expr(dsum_exact(DISC_PRICE, "revenue")).alias("revenue"),
             F.count("*").alias("n_items"))
    )


_Q7_ORACLE = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
       {dsum_exact(DISC_PRICE, 'revenue')},
       COUNT(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_13' AND n2.n_name = 'NATION_19')
    OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_13'))
  AND l_shipdate BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
GROUP BY 1, 2, 3
"""

register("q7_nation_volume", q7_nation_volume, _Q7_ORACLE)


# --------------------------------------------------------------------------
# q8-style market share: per-year conditional share of one supplier nation
# inside a region's PROMO-part order volume.  The share is emitted as
# (nation_volume, total_volume) — two exact decimal sums — NOT as their
# ratio: decimal/decimal division scale rules differ between engines
# (documented in _util), while the numerator/denominator pair is bit-exact
# and lets the caller divide at presentation time.  A year with no
# nation rows keeps 0.0 via COALESCE (SUM over empty CASE is NULL).
# --------------------------------------------------------------------------


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    sup = load(spark, sf_dir, "supplier")
    part = load(spark, sf_dir, "part")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    # customer-side nations restricted to one region
    cdims = (nation.join(F.broadcast(region),
                         F.col("n_regionkey") == F.col("r_regionkey"))
             .where(F.col("r_name") == "EUROPE")
             .select(F.col("n_nationkey").alias("c_nkey")))
    sdim = nation.select(F.col("n_nationkey").alias("s_nkey"),
                         F.col("n_name").alias("supp_nation"))
    return (
        li.join(part.where(F.col("p_type") == "PROMO"),
                F.col("l_partkey") == F.col("p_partkey"))
        .join(orders.where(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
            & (F.col("o_orderdate") <= F.lit("1996-12-31").cast("date"))),
            F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cdims), F.col("c_nationkey") == F.col("c_nkey"))
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sdim), F.col("s_nationkey") == F.col("s_nkey"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("supp_nation") == "NATION_3",
                             F.expr(DISC_PRICE))).cast("double"),
                F.lit(0.0)).alias("nation_volume"),
            F.expr(dsum_exact(DISC_PRICE, "total_volume"))
            .alias("total_volume"),
            F.count("*").alias("n_items"))
    )


_Q8_ORACLE = f"""
SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
       COALESCE(CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
                              THEN {DISC_PRICE} END) AS DOUBLE),
                0.0) AS nation_volume,
       {dsum_exact(DISC_PRICE, 'total_volume')},
       COUNT(*) AS n_items
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region   ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE p_type = 'PROMO'
  AND r_name = 'EUROPE'
  AND o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
GROUP BY 1
"""

register("q8_market_share", q8_market_share, _Q8_ORACLE)


# --------------------------------------------------------------------------
# q10-style returned-item revenue ranking: which customers returned the
# most value in a quarter.  Top-20 is ordered on the EXACT DECIMAL revenue
# (cast to double only in the final projection) with c_custkey tiebreak,
# so the limit boundary cannot flip on a float ulp.  TakeOrdered — no
# global sort.
# --------------------------------------------------------------------------


def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    return (
        li.where(F.col("l_returnflag") == "R")
        .join(orders.where(
            (F.col("o_orderdate") >= F.lit("1995-10-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1996-01-01").cast("date"))),
            F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(F.expr(DISC_PRICE)).alias("rev_dec"),
             F.count("*").alias("n_returned"))
        .orderBy(F.desc("rev_dec"), F.asc("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "c_acctbal", "n_name",
                F.col("rev_dec").cast("double").alias("revenue"),
                "n_returned")
    )


_Q10_ORACLE = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       CAST(rev_dec AS DOUBLE) AS revenue, n_returned
FROM (
  SELECT c_custkey, c_name, c_acctbal, n_name,
         SUM({DISC_PRICE}) AS rev_dec,
         COUNT(*) AS n_returned
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= DATE '1995-10-01'
    AND o_orderdate <  DATE '1996-01-01'
  GROUP BY 1, 2, 3, 4
  ORDER BY rev_dec DESC, c_custkey ASC
  LIMIT 20
) t
"""

register("q10_returned_revenue", q10_returned_revenue, _Q10_ORACLE)


# --------------------------------------------------------------------------
# q14-style promo revenue: conditional-sum numerator/denominator per ship
# year (emitted as the exact pair, never the ratio — same determinism
# stance as q8).  One join + one agg; the p_type predicate cannot be
# pushed (it feeds the CASE, not a filter).
# --------------------------------------------------------------------------


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.year("l_shipdate").cast("int").alias("l_year"))
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("p_type") == "PROMO",
                             F.expr(DISC_PRICE))).cast("double"),
                F.lit(0.0)).alias("promo_revenue"),
            F.expr(dsum_exact(DISC_PRICE, "total_revenue"))
            .alias("total_revenue"),
            F.count("*").alias("n_items"))
    )


_Q14_ORACLE = f"""
SELECT CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
       COALESCE(CAST(SUM(CASE WHEN p_type = 'PROMO'
                              THEN {DISC_PRICE} END) AS DOUBLE),
                0.0) AS promo_revenue,
       {dsum_exact(DISC_PRICE, 'total_revenue')},
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1
"""

register("q14_promo_revenue", q14_promo_revenue, _Q14_ORACLE)


# --------------------------------------------------------------------------
# q15-style top supplier: suppliers whose quarterly revenue equals the
# global max.  The max comparison stays in EXACT DECIMAL (the double cast
# happens only in the final projection), so "equals the max" is engine-
# stable even under revenue ties.  Plan: one agg + 1-row broadcast max +
# supplier equi-join — no window, no global sort.
# --------------------------------------------------------------------------


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    sup = load(spark, sf_dir, "supplier")
    rev = (li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("date")))
        .groupBy("l_suppkey")
        .agg(F.sum(F.expr(DISC_PRICE)).alias("rev_dec")))
    mx = rev.agg(F.max("rev_dec").alias("mx"))
    return (rev.join(F.broadcast(mx), F.col("rev_dec") == F.col("mx"))
            .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
            .select("s_suppkey", "s_name",
                    F.col("rev_dec").cast("double").alias("total_rev")))


_Q15_ORACLE = f"""
WITH rev AS (
  SELECT l_suppkey, SUM({DISC_PRICE}) AS rev_dec
  FROM lineitem
  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_rev
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE rev_dec = (SELECT MAX(rev_dec) FROM rev)
"""

register("q15_top_supplier", q15_top_supplier, _Q15_ORACLE)


# --------------------------------------------------------------------------
# q19-style disjunctive predicate revenue: OR-of-ANDs across both join
# sides.  Catalyst extracts the common conjuncts it can push (p_brand IN
# (...) to the part scan, l_quantity range union to the lineitem scan) and
# evaluates the residual OR post-join — the predicate-decomposition
# showcase.  Single-row result (revenue, n_matched).  Ranges are sized so
# the smoke SF matches too (33 rows at sf0.001; the original TPC-H bands
# match nothing there, making the gate vacuous at that tier).
# --------------------------------------------------------------------------


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    joined = li.join(part, F.col("l_partkey") == F.col("p_partkey"))
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 20)
         & F.col("l_quantity").between(1, 15))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25)
           & F.col("l_quantity").between(10, 25))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 30)
           & F.col("l_quantity").between(20, 35))
    )
    return (joined.where(cond)
            .agg(F.expr(dsum_exact(DISC_PRICE, "revenue")).alias("revenue"),
                 F.count("*").alias("n_matched")))


_Q19_ORACLE = f"""
SELECT {dsum_exact(DISC_PRICE, 'revenue')}, COUNT(*) AS n_matched
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 20
       AND l_quantity BETWEEN 1 AND 15)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 25)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 30
       AND l_quantity BETWEEN 20 AND 35)
"""

register("q19_disjunctive_revenue", q19_disjunctive_revenue, _Q19_ORACLE)


# --------------------------------------------------------------------------
# q22-style idle high-balance customers: above-average balance AND no
# orders in the most recent data year (2001) — the churn-risk audit shape
# (every customer has SOME order at gate SFs, so lifetime NOT EXISTS would
# be vacuously empty; the year-scoped variant keeps both branches
# populated).  The "above average" threshold is decided WITHOUT division:
# x > avg  <=>  x * n > sum, with both sides in exact decimal/integer
# arithmetic (decimal division scale rules diverge between engines;
# multiplication doesn't).  Anti join supplies NOT EXISTS.  Plan: 1-row
# positive-balance aggregate broadcast, anti join on o_custkey, final
# groupBy.
# --------------------------------------------------------------------------


def q22_idle_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    bal = F.col("c_acctbal").cast("decimal(8,2)")
    pos = (cust.where(F.col("c_acctbal") > 0)
           .agg(F.sum(bal).alias("tot_pos"),
                F.count("*").alias("n_pos")))
    return (
        cust.crossJoin(F.broadcast(pos))
        .where(bal * F.col("n_pos") > F.col("tot_pos"))
        .join(orders.where(F.year("o_orderdate") == 2001)
              .select("o_custkey"),
              F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("numcust"),
             F.expr(dsum("c_acctbal", "totacctbal")).alias("totacctbal"))
    )


_Q22_ORACLE = f"""
WITH pos AS (
  SELECT SUM(CAST(c_acctbal AS DECIMAL(8,2))) AS tot_pos,
         COUNT(*) AS n_pos
  FROM customer WHERE c_acctbal > 0
)
SELECT c_nationkey, COUNT(*) AS numcust,
       {dsum('c_acctbal', 'totacctbal')}
FROM customer, pos
WHERE CAST(c_acctbal AS DECIMAL(8,2)) * n_pos > tot_pos
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND EXTRACT(year FROM o_orderdate) = 2001)
GROUP BY c_nationkey
"""

register("q22_idle_balance", q22_idle_balance, _Q22_ORACLE)


# --------------------------------------------------------------------------
# Explicit GROUPING SETS with grouping_id — the general form rollup/cube
# specialize (SURVEY §2.4 ABSENT-in-reference family): three hand-picked
# grouping sets that neither ROLLUP nor CUBE generates ((flag, status),
# (flag), (status)) — no grand total.  grouping_id disambiguates a real
# NULL key from a superaggregate NULL (sentinel-free, unlike the rollup
# gate); emitted as INT on both engines.  One Expand + one aggregation —
# the expansion is map-side, the shuffle carries (keys, gid) partials.
# --------------------------------------------------------------------------


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("po_gs_lineitem")
    return li.sparkSession.sql(f"""
        SELECT l_returnflag, l_linestatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS INT) AS gid,
               {dsum('l_quantity', 'sum_qty')},
               COUNT(*) AS n_rows
        FROM po_gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), (l_linestatus))
    """)


_GROUPING_SETS_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       CAST(grouping(l_returnflag, l_linestatus) AS INT) AS gid,
       {dsum('l_quantity', 'sum_qty')},
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                        (l_returnflag), (l_linestatus))
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# q6-style forecast revenue: the pure scan-predicate-aggregate shape — no
# join, no group key, one global sum.  The whole value of this gate is the
# PLAN: all three predicates (date range, discount band, quantity cap) must
# reach the parquet scan as PushedFilters and the aggregate is a map-side
# partial + 1-row final (pinned by tests/test_plans.py).  Revenue
# l_extendedprice*l_discount stays in exact decimal operand arithmetic
# (DISC family); COUNT keeps the row non-degenerate for the hash compare.
# The discount band compares the stored doubles against the same double
# literals in both engines (0.05/0.07 are exact parquet values, no decimal
# re-rounding on the predicate path).  113 rows qualify at sf0.001 —
# non-empty at every SF.
# --------------------------------------------------------------------------


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    rev = ("CAST(l_extendedprice AS DECIMAL(8,2))"
           " * CAST(l_discount AS DECIMAL(3,2))")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("date"))
            & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24))
        .agg(F.expr(dsum_exact(rev, "revenue")).alias("revenue"),
             F.count("*").alias("n_items"))
    )


_Q6_ORACLE = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(8,2))
               * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1996-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""

register("q6_forecast_revenue", q6_forecast_revenue, _Q6_ORACLE)


# --------------------------------------------------------------------------
# q9-style product-type profit: profit per (supplier nation, order year) for
# parts whose name matches a substring — the classic "profit by nation and
# year" multi-join shape.  ADAPTED to this testdata: there is no partsupp
# table (no ps_supplycost), so profit is the discounted price rather than
# price minus supply cost — the JOIN TOPOLOGY (lineitem→part LIKE filter →
# supplier → nation + orders for the year axis) and the decimal-exact
# grouped sum are what the gate pins.  The p_name LIKE '%widget%' filter
# prunes part before the join (plan: pushed StringContains); nation is a
# bounded broadcast dim.
# --------------------------------------------------------------------------


def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    sup = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders")
    nation = load(spark, sf_dir, "nation")
    return (
        li.join(part.where(F.col("p_name").contains("widget"))
                .select("p_partkey"),
                F.col("l_partkey") == F.col("p_partkey"))
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders.select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(nation),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(F.expr(dsum_exact(DISC_PRICE, "sum_profit")).alias("sum_profit"),
             F.count("*").alias("n_items"))
    )


_Q9_ORACLE = f"""
SELECT n_name AS nation,
       CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
       {dsum_exact(DISC_PRICE, 'sum_profit')},
       COUNT(*) AS n_items
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
"""

register("q9_product_type_profit", q9_product_type_profit, _Q9_ORACLE)


# --------------------------------------------------------------------------
# q11-style important parts: parts whose revenue exceeds 1.2x the average
# per-part revenue — the "group aggregate vs global scalar threshold"
# shape (TPC-H Q11's fraction-of-total HAVING).  ADAPTED: no partsupp in
# this testdata, so "value" is lineitem revenue per part instead of
# supplycost*availqty.  Scale-free threshold: Q11 hardwires fraction =
# 0.0001/SF because a fixed fraction empties (or floods) as the part count
# scales; comparing against 1.2x the MEAN part value is the same audit with
# no SF knob (2x clamps to ZERO rows on this near-uniform corpus — the
# trivially-green class; 1.2x keeps 38/200 at sf0.001, 3339/20000 at
# sf0.1).  Division-free exactness (the q22 discipline): value >
# 1.2*total/n  <=>  value * n * 5 > total * 6 — and both products run
# on the BIGINT value grid (scale-4 decimals are integral at x10^4), never
# in decimal multiplication, because decimal x integer widening differs
# between engines near the precision-38 cap (Spark rounds, DuckDB widens).
# Grid headroom: total ~6e12 units x 2e4 parts x 5 ~ 6e17 < 2^63 at sf0.1.
# Plan: per-part decimal agg persisted+materialized (a shared agg subtree
# is otherwise recomputed per consumer — the emb_covariance lesson), 1-row
# global aggregate over it broadcast back.  Both branches populated at
# every SF (~1/3 of parts qualify at sf0.001).
# --------------------------------------------------------------------------


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    per_part = (
        li.groupBy("l_partkey")
        .agg(F.sum(F.expr(DISC_PRICE)).alias("part_value_dec"),
             F.count("*").alias("n_items"))
        .withColumn("part_grid",
                    (F.col("part_value_dec") * 10000).cast("bigint"))
    )
    # materialized persist: totals AND the filter below both consume the
    # subtree.  Deliberately NOT unpersisted (the returned plan reads it
    # lazily — the minhash_lsh_pairs stance); one cached per-part
    # aggregate per process is the accepted cost.
    # per-part aggregate; without .count() the one-shuffle agg runs twice
    per_part = per_part.persist()
    per_part.count()
    totals = per_part.agg(
        F.sum("part_grid").alias("total_grid"),
        F.count("*").alias("n_parts"))
    return (
        per_part.crossJoin(F.broadcast(totals))
        .where(F.col("part_grid") * F.col("n_parts") * 5
               > F.col("total_grid") * 6)
        .select(F.col("l_partkey"),
                F.col("part_value_dec").cast("double").alias("part_value"),
                "n_items")
    )


_Q11_ORACLE = f"""
WITH per_part AS (
  SELECT l_partkey, SUM({DISC_PRICE}) AS part_value_dec,
         COUNT(*) AS n_items
  FROM lineitem GROUP BY l_partkey
),
grid AS (
  SELECT l_partkey, part_value_dec, n_items,
         CAST(part_value_dec * 10000 AS BIGINT) AS part_grid
  FROM per_part
),
tot AS (
  SELECT CAST(SUM(part_grid) AS BIGINT) AS total_grid, COUNT(*) AS n_parts
  FROM grid
)
SELECT l_partkey, CAST(part_value_dec AS DOUBLE) AS part_value, n_items
FROM grid, tot
WHERE part_grid * n_parts * 5 > total_grid * 6
"""

register("q11_important_parts", q11_important_parts, _Q11_ORACLE)


# --------------------------------------------------------------------------
# Gaps-and-islands by VALUE CHANGE (SCD-style episode build): consecutive
# same-status runs of each customer's order history become islands with
# (status, start, end, n_orders) — the temporal-dimension build shape.
# Distinct from events_sessionize (time-GAP islands) and
# events_interval_merge (overlap dissolution): here the island boundary is
# a change in an attribute, the lag/cumsum idiom every SCD2 pipeline uses.
# Windows are customer-partitioned (scale with keys, no global sort); ties
# on o_orderdate are broken by o_orderkey.  The island number is a
# windowed SUM(int) → CAST BIGINT in the oracle (HUGEINT class).
# --------------------------------------------------------------------------


def q_status_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderstatus").over(w)
    df = orders.withColumn(
        "chg",
        F.when(prev.isNull() | (prev != F.col("o_orderstatus")), 1)
        .otherwise(0))
    df = df.withColumn(
        "island",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return (df.groupBy("o_custkey", "island")
            .agg(F.min("o_orderstatus").alias("status"),
                 F.min("o_orderdate").alias("start_date"),
                 F.max("o_orderdate").alias("end_date"),
                 F.count("*").alias("n_orders")))


_STATUS_ISLANDS_ORACLE = """
WITH x AS (
  SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
         CASE WHEN LAG(o_orderstatus) OVER w IS NULL
                   OR LAG(o_orderstatus) OVER w <> o_orderstatus
              THEN 1 ELSE 0 END AS chg
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
),
y AS (
  SELECT o_custkey, o_orderdate, o_orderstatus,
         CAST(SUM(chg) OVER (PARTITION BY o_custkey
                             ORDER BY o_orderdate, o_orderkey
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
  FROM x
)
SELECT o_custkey, island, MIN(o_orderstatus) AS status,
       MIN(o_orderdate) AS start_date, MAX(o_orderdate) AS end_date,
       COUNT(*) AS n_orders
FROM y GROUP BY o_custkey, island
"""

register("q_status_islands", q_status_islands, _STATUS_ISLANDS_ORACLE)


# --------------------------------------------------------------------------
# Bitwise-aggregate year bitmaps: per (nation, segment), which order years
# each customer covers, rolled up two levels — customer OR-mask of
# single-year bits, then group OR (any customer active) / AND (years EVERY
# customer covers) / bit_count popcounts.  The bitmap-index idiom
# (presence sets as machine words) exercises BIT_OR / BIT_AND / BIT_COUNT,
# an aggregate family no other gate touches; bitwise ops are exact
# integers, order-free, engine-identical.  Two-level hash agg, bounded
# output (nation x segment).  Years span 1995-2001 → 7 low bits.
# Branch audit: mask values vary at every SF; the AND-collapse regimes
# both occur at sf0.01 (the driver tier: 49 groups share a common year,
# 76 collapse to 0) — at sf0.001 groups are small enough that none
# collapses, at sf0.1 large enough that all do (checked, not assumed).
# --------------------------------------------------------------------------


def q_year_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    per_cust = (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_nationkey", "c_mktsegment",
                F.expr("shiftleft(1, CAST(year(o_orderdate) - 1995 AS INT))")
                .alias("ybit"))
        .groupBy("c_custkey", "c_nationkey", "c_mktsegment")
        .agg(F.bit_or("ybit").alias("ymask"))
    )
    return (per_cust.groupBy("c_nationkey", "c_mktsegment")
            .agg(F.count("*").alias("n_customers"),
                 F.bit_or("ymask").alias("any_years_mask"),
                 F.bit_and("ymask").alias("all_years_mask"),
                 F.sum(F.bit_count("ymask")).cast("long")
                 .alias("coverage_sum")))


#: DuckDB SUM(int) is HUGEINT → CAST BIGINT; bit_or/bit_and keep the input
#: width (INT both engines — the driver compares integer values across
#: widths).
_YEAR_BITMAP_ORACLE = """
WITH per_cust AS (
  SELECT c_custkey, c_nationkey, c_mktsegment,
         bit_or(1 << CAST(EXTRACT(year FROM o_orderdate) - 1995 AS INT))
           AS ymask
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2, 3
)
SELECT c_nationkey, c_mktsegment, COUNT(*) AS n_customers,
       bit_or(ymask) AS any_years_mask,
       bit_and(ymask) AS all_years_mask,
       CAST(SUM(bit_count(ymask)) AS BIGINT) AS coverage_sum
FROM per_cust GROUP BY 1, 2
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Ratio-to-report: each customer's revenue next to their NATION's total —
# the share-of-group windowed-aggregate shape (no ORDER BY, whole-partition
# frame).  Numerator and denominator are emitted as exact-decimal-derived
# doubles, never divided (the q8 discipline).  The window partitions by
# nation over the per-customer AGGREGATE (O(customers) rows), so the big
# lineitem relation is reduced before any window sees it.  Magnitudes stay
# ~1e7 at sf0.1 — far below the ~1e12 threshold where DuckDB's scale-4
# decimal→double FLOAT cast class bites (see _util notes).
# --------------------------------------------------------------------------


def q_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    per_cust = (
        li.join(orders.select("o_orderkey", "o_custkey"),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey", "c_custkey")
        .agg(F.sum(F.expr(DISC_PRICE)).alias("rev_dec"))
    )
    w = Window.partitionBy("c_nationkey")
    return per_cust.select(
        "c_nationkey", "c_custkey",
        F.col("rev_dec").cast("double").alias("cust_revenue"),
        F.sum("rev_dec").over(w).cast("double").alias("nation_revenue"))


_RATIO_ORACLE = f"""
WITH per_cust AS (
  SELECT c_nationkey, c_custkey, SUM({DISC_PRICE}) AS rev_dec
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
)
SELECT c_nationkey, c_custkey,
       CAST(rev_dec AS DOUBLE) AS cust_revenue,
       CAST(SUM(rev_dec) OVER (PARTITION BY c_nationkey) AS DOUBLE)
         AS nation_revenue
FROM per_cust
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# q12-style priority line counts: lineitem->orders join + CASE-conditional
# counts per group — TPC-H Q12's two-flag pivot, ADAPTED to this testdata
# (no l_shipmode / l_receiptdate columns, so the group key is l_linestatus
# and the date band is the ship year; the shape under test — join then
# conditional SUM pivot on the joined dimension's attribute — is Q12's).
# Branch audit: both priority branches populated in both groups at every
# SF (sf0.001: F 173/293, O 181/282).  Plain SUM(CASE..1..0) is HUGEINT
# in DuckDB -> CAST BIGINT (the sessionize class); Spark side uses
# count-if-shaped sums of int, emitted as LONG.
# Scale shape: orders projected to (key, priority) before the join — at
# 100 TB the join carries two thin columns, and the aggregate is a
# 2-group map-side partial.  Date filter pushed to the lineitem scan.
# --------------------------------------------------------------------------


def q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.where((F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
                 & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date")))
        .join(orders.select("o_orderkey", "o_orderpriority"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
             F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"))
    )


_Q12_ORACLE = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
GROUP BY l_linestatus
"""

register("q12_priority_lines", q12_priority_lines, _Q12_ORACLE)


# --------------------------------------------------------------------------
# q16-style supplier counts: distinct suppliers able to provide each
# (p_brand, size band), EXCLUDING a blocklisted supplier set — TPC-H Q16's
# NOT IN + COUNT(DISTINCT) shape.  ADAPTED: no partsupp table, so the
# part<->supplier bridge is observed lineitem pairs; the blocklist is
# suppliers whose name ends in '3' (Supplier#...NNN3 — deterministic 10%
# at every SF: 1/10/100 suppliers excluded).
# Spark expresses NOT IN as a left_anti join (null-safe here: s_suppkey is
# never NULL) feeding a distinct-pair projection, then a two-level agg —
# the decorrelated plan Catalyst would pick for the subquery form.
# Scale shape: the blocklist is a tiny broadcast anti side; the
# distinct-pair dedup is the only corpus shuffle; COUNT(DISTINCT) over the
# deduped pairs plans as a two-phase hash agg keyed on the pair (no
# driver-side set).
# --------------------------------------------------------------------------


def q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    sup = load(spark, sf_dir, "supplier")
    blocked = sup.where(F.col("s_name").endswith("3")).select("s_suppkey")
    size_band = F.floor((F.col("p_size") - 1) / 10).cast("int").alias("size_band")
    return (
        li.select("l_partkey", "l_suppkey")
        .join(F.broadcast(blocked),
              F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(part.select("p_partkey", "p_brand", "p_size"),
              F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", size_band)
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"),
             F.countDistinct("l_partkey").alias("part_cnt"))
    )


_Q16_ORACLE = """
SELECT p_brand,
       CAST(FLOOR((p_size - 1) / 10) AS INT) AS size_band,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt,
       COUNT(DISTINCT l_partkey) AS part_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%3')
GROUP BY 1, 2
"""

register("q16_supplier_counts", q16_supplier_counts, _Q16_ORACLE)


# --------------------------------------------------------------------------
# q21-style sole-late supplier: suppliers who were the ONLY late supplier
# on a multi-supplier order — TPC-H Q21's EXISTS / NOT-EXISTS double
# correlated-subquery shape, expressed the way Catalyst would decorrelate
# it: ONE grouped pass over the joined fact computes per-order
# (distinct suppliers, distinct late suppliers), and the qualifying rows
# are recovered by an equi-join back on the order key.  ADAPTED: no
# l_receiptdate/l_commitdate, so "late" is l_shipdate > o_orderdate + 730
# days (the synthetic ship dates are uncorrelated with order dates, so the
# band is well-populated — branch audit sf0.001: 283 sole-late orders,
# 423 multi-late, 641 none-late; all three regimes at every SF).
# No LIMIT: the full (s_name, numwait) result is emitted so ties cannot
# make the hash order-dependent.
# Scale shape: one wide-fact shuffle for the per-order agg (map-side
# partial), one thin re-join keyed on l_orderkey, supplier dim joined
# AFTER the per-supplier reduction (O(suppliers) rows).  Plain SUM/COUNT
# of ints -> HUGEINT in DuckDB: CAST BIGINT.
# --------------------------------------------------------------------------


def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    sup = load(spark, sf_dir, "supplier")
    late = F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 730)
    joined = (
        li.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(orders.select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .select("l_orderkey", "l_suppkey", late.alias("is_late"))
    )
    per_order = (
        joined.groupBy("l_orderkey")
        .agg(F.countDistinct("l_suppkey").alias("n_supp"),
             F.countDistinct(F.when(F.col("is_late"),
                                    F.col("l_suppkey"))).alias("n_late"),
             F.max(F.when(F.col("is_late"),
                          F.col("l_suppkey"))).alias("late_supp"))
        .where((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    )
    return (
        per_order.groupBy("late_supp")
        .agg(F.count("*").alias("numwait"))
        .join(sup.select("s_suppkey", "s_name"),
              F.col("late_supp") == F.col("s_suppkey"))
        .select("s_name", "numwait")
    )


_Q21_ORACLE = """
WITH joined AS (
  SELECT l_orderkey, l_suppkey,
         l_shipdate > o_orderdate + INTERVAL 730 DAY AS is_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
per_order AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supp,
         COUNT(DISTINCT CASE WHEN is_late THEN l_suppkey END) AS n_late,
         MAX(CASE WHEN is_late THEN l_suppkey END) AS late_supp
  FROM joined GROUP BY 1
)
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM per_order JOIN supplier ON late_supp = s_suppkey
WHERE n_supp > 1 AND n_late = 1
GROUP BY s_name
"""

register("q21_sole_late_supplier", q21_sole_late_supplier, _Q21_ORACLE)


# --------------------------------------------------------------------------
# RFM segmentation: the classic customer-analytics cube — per customer
# Recency (days from last order to the corpus max date), Frequency (order
# count), Monetary (exact-decimal total spend), each scored 0-2 on FIXED
# thresholds (never ntile — a global-order window is the documented
# anti-pattern, and fixed cutoffs are what a production scorecard pins),
# then the 27-cell segment census with exact per-cell aggregates.
# The corpus max date is an aggregate SCALAR joined in (crossJoin of a
# 1-row frame — broadcast by construction), not a driver round-trip.
# Thresholds (30/180 days, 5/15 orders, 50k/200k spend) keep every score
# dimension multi-valued at every SF (branch-audited).
# Monetary sums stay in decimal (o_totalprice is the 2-decimal money
# class); per-cell spend re-aggregates the decimal then casts once.
# Scale shape: one orders scan -> per-customer agg (map-side partial,
# O(customers) out) -> 27-cell final agg; no window anywhere.
# --------------------------------------------------------------------------


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    maxd = orders.agg(F.max("o_orderdate").alias("corpus_max"))
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(F.max("o_orderdate").alias("last_order"),
             F.count("*").alias("frequency"),
             F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
             .alias("monetary_dec"))
        .crossJoin(F.broadcast(maxd))
        .withColumn("recency_days",
                    F.datediff("corpus_max", "last_order").cast("int"))
    )
    r_score = (F.when(F.col("recency_days") <= 30, 2)
               .when(F.col("recency_days") <= 180, 1).otherwise(0))
    f_score = (F.when(F.col("frequency") >= 15, 2)
               .when(F.col("frequency") >= 5, 1).otherwise(0))
    m_score = (F.when(F.col("monetary_dec") >= 200000, 2)
               .when(F.col("monetary_dec") >= 50000, 1).otherwise(0))
    return (
        per_cust.select(r_score.alias("r_score"), f_score.alias("f_score"),
                        m_score.alias("m_score"), "monetary_dec")
        .groupBy("r_score", "f_score", "m_score")
        .agg(F.count("*").alias("n_customers"),
             F.sum("monetary_dec").cast("double").alias("segment_spend"))
    )


_RFM_ORACLE = """
WITH per_cust AS (
  SELECT o_custkey,
         MAX(o_orderdate) AS last_order,
         COUNT(*) AS frequency,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary_dec
  FROM orders GROUP BY 1
),
scored AS (
  SELECT CASE WHEN DATE_DIFF('day', last_order,
                             (SELECT MAX(o_orderdate) FROM orders)) <= 30
              THEN 2
              WHEN DATE_DIFF('day', last_order,
                             (SELECT MAX(o_orderdate) FROM orders)) <= 180
              THEN 1 ELSE 0 END AS r_score,
         CASE WHEN frequency >= 15 THEN 2
              WHEN frequency >= 5 THEN 1 ELSE 0 END AS f_score,
         CASE WHEN monetary_dec >= 200000 THEN 2
              WHEN monetary_dec >= 50000 THEN 1 ELSE 0 END AS m_score,
         monetary_dec
  FROM per_cust
)
SELECT r_score, f_score, m_score,
       COUNT(*) AS n_customers,
       -- VARCHAR bounce: per-cell spend reaches ~1e10 at sf0.1, inside the
       -- DuckDB decimal->double FLOAT-cast drift band (_util q_cube note)
       CAST(CAST(SUM(monetary_dec) AS VARCHAR) AS DOUBLE) AS segment_spend
FROM scored GROUP BY 1, 2, 3
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# q2-style best-value supplier: for every ECONOMY part, the supplier
# offering the minimum observed unit price — TPC-H Q2's correlated-MIN
# subquery shape, decorrelated the way Catalyst rewrites it: per-key MIN
# aggregate, equi-join back on (key, value-equality), deterministic
# tie-break (min suppkey among exact-min offers).  ADAPTED: no partsupp,
# so the offer book is observed lineitem unit prices.
# Determinism: unit price = l_extendedprice / l_quantity is ONE IEEE
# division of identical doubles on both engines (no accumulation), MIN is
# an order stat, and the join-back compares doubles both sides computed
# identically — the q_small_quantity_revenue class.
# Scale shape: two shuffles (pair agg keyed (part, supp); per-part min),
# thin join back, supplier/nation dims joined AFTER the per-part
# reduction (O(parts) rows); nation broadcast (bounded dim).
# --------------------------------------------------------------------------


def q2_best_value_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    sup = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    unit = (
        li.join(part.where(F.col("p_type") == "ECONOMY")
                .select("p_partkey"),
                F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity"))
             .alias("u"))
    )
    best = unit.groupBy(F.col("l_partkey").alias("bk")) \
        .agg(F.min("u").alias("min_u"))
    winner = (
        unit.join(best, (F.col("l_partkey") == F.col("bk"))
                  & (F.col("u") == F.col("min_u")))
        .groupBy("l_partkey", "min_u")
        .agg(F.min("l_suppkey").alias("win_suppkey"))
    )
    return (
        winner.join(sup, F.col("win_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select(F.col("l_partkey").alias("p_partkey"),
                "s_name", "s_acctbal",
                F.col("n_name").alias("nation"),
                F.col("min_u").alias("best_unit_price"))
    )


_Q2_ORACLE = """
WITH unit AS (
  SELECT l_partkey, l_suppkey,
         MIN(l_extendedprice / l_quantity) AS u
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_type = 'ECONOMY'
  GROUP BY 1, 2
),
best AS (
  SELECT l_partkey, MIN(u) AS min_u FROM unit GROUP BY 1
),
winner AS (
  SELECT u.l_partkey, b.min_u, MIN(u.l_suppkey) AS win_suppkey
  FROM unit u JOIN best b
    ON u.l_partkey = b.l_partkey AND u.u = b.min_u
  GROUP BY 1, 2
)
SELECT w.l_partkey AS p_partkey, s_name, s_acctbal,
       n_name AS nation, w.min_u AS best_unit_price
FROM winner w
JOIN supplier ON win_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
"""

register("q2_best_value_supplier", q2_best_value_supplier, _Q2_ORACLE)


# --------------------------------------------------------------------------
# Month-over-month revenue change: the reporting lag shape — monthly
# exact-decimal revenue per return flag, each row carrying its PRIOR
# month's value via LAG over the (year, month) series.  Current and
# previous are emitted as exact values, never the delta ratio (q8
# discipline); the oracle bounces both decimal→double casts through
# VARCHAR (monthly sums ~2.5e8 at sf0.1 — below the drift band, but the
# bounce costs nothing and testdata scales between rounds).
# Scale shape: the window runs over the per-(flag, month) AGGREGATE
# (O(flags × months) rows ≈ 240, partitioned by flag) — lineitem is
# reduced by the groupBy before any window exists; LAG needs no frame.
# --------------------------------------------------------------------------


def q_mom_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    monthly = (
        li.groupBy("l_returnflag",
                   F.year("l_shipdate").cast("int").alias("yr"),
                   F.month("l_shipdate").cast("int").alias("mo"))
        .agg(F.sum(F.expr(DISC_PRICE)).alias("rev_dec"),
             F.count("*").alias("n_items"))
    )
    w = Window.partitionBy("l_returnflag").orderBy("yr", "mo")
    return monthly.select(
        "l_returnflag", "yr", "mo",
        F.col("rev_dec").cast("double").alias("revenue"),
        F.lag("rev_dec").over(w).cast("double").alias("prev_revenue"),
        "n_items")


_MOM_ORACLE = f"""
WITH monthly AS (
  SELECT l_returnflag,
         CAST(EXTRACT(year FROM l_shipdate) AS INT) AS yr,
         CAST(EXTRACT(month FROM l_shipdate) AS INT) AS mo,
         SUM({DISC_PRICE}) AS rev_dec,
         COUNT(*) AS n_items
  FROM lineitem GROUP BY 1, 2, 3
)
SELECT l_returnflag, yr, mo,
       CAST(CAST(rev_dec AS VARCHAR) AS DOUBLE) AS revenue,
       CAST(CAST(LAG(rev_dec) OVER (PARTITION BY l_returnflag
                                    ORDER BY yr, mo) AS VARCHAR) AS DOUBLE)
         AS prev_revenue,
       n_items
FROM monthly
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Salted-join correctness under the driver gate (r5 wave 11): the skew
# toolkit (joins.salted_join — per-row salt on the big side, right side
# replicated salt ways) had library tests but no driver row.  This gate
# runs the ACTUAL salted execution strategy over lineitem ⨝ orders and
# reduces to a per-priority rollup; the oracle is the PLAIN join — the
# whole point is that salting changes only the shuffle layout, never the
# result.  At 100 TB this is the hot-orderkey remedy when the dimension
# is too big to broadcast; the gate pins result-identity through the
# exact-decimal revenue sum (order-free, so the salt's nondeterministic
# row routing cannot perturb the hash).
# --------------------------------------------------------------------------


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..joins import salted_join

    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_extendedprice",
        "l_discount")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority")
    j = salted_join(li, orders, ["o_orderkey"], salt=8)
    return (j.groupBy("o_orderpriority")
            .agg(F.count("*").alias("n_items"),
                 F.expr(dsum_exact(DISC_PRICE, "revenue")).alias("revenue")))


_SALTED_ORACLE = f"""
SELECT o_orderpriority, COUNT(*) AS n_items,
       {dsum_exact(DISC_PRICE, 'revenue')}
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""

register("q_salted_join", q_salted_join, _SALTED_ORACLE)


# --------------------------------------------------------------------------
# Multiset set-ops (r5 wave 11): INTERSECT ALL / EXCEPT ALL — the bag
# semantics q_segment_setops' DISTINCT forms don't cover (multiplicity
# min(a,b) and a-b respectively; a plain INTERSECT would collapse every
# survivor to one row and go red).  Operands are the naturally
# duplicate-bearing l_partkey bags of two return-flag slices; results
# aggregated to (partkey, n) so the gate hashes multiplicities, which is
# the entire point of ALL.  Spark plans these as hash aggregates over a
# count-compare — no sort, shuffle only on the partkey, scale-clean.
# --------------------------------------------------------------------------


def q_setops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    a = li.where(F.col("l_returnflag") == "R").select("l_partkey")
    b = li.where(F.col("l_returnflag") == "A").select("l_partkey")
    ia = (a.intersectAll(b).groupBy("l_partkey")
          .agg(F.count("*").alias("n"))
          .withColumn("op", F.lit("intersect_all")))
    ea = (a.exceptAll(b).groupBy("l_partkey")
          .agg(F.count("*").alias("n"))
          .withColumn("op", F.lit("except_all")))
    return ia.unionByName(ea).select("op", "l_partkey", "n")


_SETOPS_ALL_ORACLE = """
WITH a AS (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'),
     b AS (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A')
SELECT 'intersect_all' AS op, l_partkey, COUNT(*) AS n
FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) GROUP BY l_partkey
UNION ALL
SELECT 'except_all' AS op, l_partkey, COUNT(*) AS n
FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) GROUP BY l_partkey
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# NULL-aware anti-join semantics (r5 wave 11): the NOT IN vs NOT EXISTS
# trap as an explicit gate — one NULL in the subquery makes NOT IN
# three-valued-logic empty (x != NULL is UNKNOWN for every x), while
# NOT EXISTS keeps matching on equality.  The subquery plants NULLs
# deterministically (every 97th high-value order), and the third variant
# shows the standard remedy (filter the NULLs) restoring NOT EXISTS
# counts.  Exercises Spark's NullAwareAntiJoin physical path via the SQL
# surface (spark.sql over the registered views, same text as the
# oracle).  Branch audit at 400k: null keys 6/22/321, not_in 0 (by
# semantics), not_exists 20/205/2037 across the three SFs.
# --------------------------------------------------------------------------

_NULL_ANTI_SQL = """
WITH keys AS (
  SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_custkey END AS k
  FROM orders WHERE o_totalprice > 400000
)
SELECT 'not_in' AS op, COUNT(*) AS n
FROM customer WHERE c_custkey NOT IN (SELECT k FROM keys)
UNION ALL
SELECT 'not_exists' AS op, COUNT(*) AS n
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM keys WHERE k = c.c_custkey)
UNION ALL
SELECT 'not_in_null_filtered' AS op, COUNT(*) AS n
FROM customer
WHERE c_custkey NOT IN (SELECT k FROM keys WHERE k IS NOT NULL)
"""


def q_null_aware_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("customer", "orders"))
    return spark.sql(_NULL_ANTI_SQL)


# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Discrete percentiles (r5 wave 11): percentile_disc picks an EXISTING
# member (first value with cumulative distribution >= fraction), so it is
# engine-exact on ANY numeric column — no interpolation-safety constraint
# (q_exact_quantiles needs integer-valued data; this works on raw money
# doubles).  Conventions verified identical Spark vs DuckDB on the
# 4-element probe (0.25/0.5/0.75 -> 1/2/3).  The robust-statistics
# complement: medians/quartiles for monitoring where a fabricated
# interpolated value is unacceptable.
# --------------------------------------------------------------------------

_PDISC_SQL = """
SELECT l_returnflag,
       percentile_disc(0.25) WITHIN GROUP (ORDER BY l_extendedprice) AS p25,
       percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice) AS p50,
       percentile_disc(0.75) WITHIN GROUP (ORDER BY l_extendedprice) AS p75,
       COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag
"""


def q_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(_PDISC_SQL)


# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# q20-style potential part promotion (r5 wave 12) — the LAST TPC-H shape
# (with this, all 22 query numbers have an adapted gate): nested
# correlated-aggregate threshold → semi-join chain up to the supplier
# dimension.  ADAPTED like q11/q16: no partsupp table in this testdata, so
# "availability" per (supplier, part) is lifetime shipped quantity and the
# Q20 predicate availqty > 0.5 · qty-shipped-in-period becomes
# remaining = qall − q96 > q96/2, decided division-free on the BIGINT
# quantity grid (2·qall > 3·q96 — l_quantity is integral 1..50).  Pairs
# with q96 = 0 are excluded (a zero period-demand threshold accepts any
# stock — the trivially-green flood; original Q20's partsupp row implies
# the part was stocked, ours must imply it was SHIPPED in-period).
# Shape preserved: p_name prefix filter pushed to the part scan → pair
# aggregate over the part-filtered lineitem → semi-join into supplier →
# nation-name filter.  Both qualifying and failing pairs live at every SF
# (77/11 at sf0.001, 203/907 at sf0.01, 200/10662 at sf0.1).
# --------------------------------------------------------------------------


def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    sup = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    qty = F.col("l_quantity").cast("long")
    pairs = (
        li.join(F.broadcast(part.where(F.col("p_name").like("large%"))
                            .select("p_partkey")),
                F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(qty).alias("qall"),
             F.sum(F.when(F.year("l_shipdate") == 1996, qty)
                   .otherwise(F.lit(0))).alias("q96"))
        .where((F.col("q96") > 0)
               & (F.lit(2) * F.col("qall") > F.lit(3) * F.col("q96")))
    )
    return (
        sup.join(pairs.select("l_suppkey").distinct(),
                 F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(nat.where(F.col("n_name").like("NATION_1%"))),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
    )


_Q20_ORACLE = """
WITH pairs AS (
  SELECT l_suppkey,
         SUM(CAST(l_quantity AS BIGINT)) AS qall,
         SUM(CASE WHEN EXTRACT(year FROM l_shipdate) = 1996
                  THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS q96
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'large%'
  GROUP BY l_suppkey, l_partkey
)
SELECT s_suppkey, s_name, n_name
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name LIKE 'NATION_1%'
  AND s_suppkey IN (SELECT l_suppkey FROM pairs
                    WHERE q96 > 0 AND 2 * qall > 3 * q96)
"""

register("q20_potential_promotion", q20_potential_promotion, _Q20_ORACLE)


# --------------------------------------------------------------------------
# Functional-dependency audit (r5 wave 12): the data-profiling op under
# schema discovery / Deequ-style constraint suggestion — for each candidate
# FD lhs → rhs, how many lhs groups exist, how many are violated (> 1
# distinct rhs), and the worst group's variant count.  Three live
# candidates (part→supplier fan-out, customer→priority, nation→segment)
# plus a key-determined control (c_custkey → c_mktsegment) so the
# holds=true branch is live by construction.  Plan: one groupBy per
# candidate over its single table (map-side partial count-distinct), then
# a 1-row rollup each — no joins; at 100 TB each candidate is one shuffle
# on its lhs.  All counts exact integers.
# --------------------------------------------------------------------------


def q_fd_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    def audit(df: DataFrame, fd: str, lhs: str, rhs: str) -> DataFrame:
        return (df.groupBy(lhs)
                .agg(F.countDistinct(rhs).alias("nv"))
                .agg(F.lit(fd).alias("fd"),
                     F.count("*").alias("n_groups"),
                     F.sum(F.when(F.col("nv") > 1, 1).otherwise(0))
                     .alias("n_violating"),
                     F.max("nv").alias("max_rhs_variants"))
                .withColumn("holds", F.col("n_violating") == 0))

    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    return (
        audit(li, "l_partkey->l_suppkey", "l_partkey", "l_suppkey")
        .unionByName(audit(orders, "o_custkey->o_orderpriority",
                           "o_custkey", "o_orderpriority"))
        .unionByName(audit(cust, "c_nationkey->c_mktsegment",
                           "c_nationkey", "c_mktsegment"))
        .unionByName(audit(cust, "c_custkey->c_mktsegment",
                           "c_custkey", "c_mktsegment"))
    )


_FD_ORACLE = """
WITH a AS (
  SELECT 'l_partkey->l_suppkey' AS fd, l_partkey AS lhs,
         COUNT(DISTINCT l_suppkey) AS nv FROM lineitem GROUP BY 2
  UNION ALL
  SELECT 'o_custkey->o_orderpriority', o_custkey,
         COUNT(DISTINCT o_orderpriority) FROM orders GROUP BY 2
  UNION ALL
  SELECT 'c_nationkey->c_mktsegment', c_nationkey,
         COUNT(DISTINCT c_mktsegment) FROM customer GROUP BY 2
  UNION ALL
  SELECT 'c_custkey->c_mktsegment', c_custkey,
         COUNT(DISTINCT c_mktsegment) FROM customer GROUP BY 2
)
SELECT fd, COUNT(*) AS n_groups,
       CAST(SUM(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating,
       CAST(MAX(nv) AS BIGINT) AS max_rhs_variants,
       SUM(CASE WHEN nv > 1 THEN 1 ELSE 0 END) = 0 AS holds
FROM a GROUP BY fd
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Ranking-function semantics (r5 wave 12): row_number / rank / dense_rank /
# percent_rank / cume_dist over a TIE-BEARING order in ONE gate — the
# functions differ exactly on ties, so the ranking column is the count
# BUCKET (n_lines div 8), which collides groups by construction at every
# SF (a raw-count order turned out tie-free, i.e. trivially green — the
# ranks would never diverge).  rank gaps, dense_rank's gap-free steps,
# percent_rank = (rank−1)/(n−1) and cume_dist = peers/n (each ONE IEEE
# division of exact integers — engine-identical) are all hashed; a wrong
# tie semantic in any one reddens the row.  row_number needs a total
# order to be deterministic, so it ranks by (bucket, qty) — unique —
# while the tie-sensitive four rank by bucket alone.  Windows run over
# the per-(flag, quantity) aggregate (≤ 150 rows), never raw lineitem:
# rank audits at 100 TB reduce first, then rank the bounded aggregate.
# --------------------------------------------------------------------------


def q_rank_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    agg = (li.groupBy("l_returnflag",
                      F.col("l_quantity").cast("long").alias("qty"))
           .agg(F.count("*").alias("n_lines"))
           .withColumn("bucket", F.expr("n_lines div 8")))
    wt = Window.partitionBy("l_returnflag").orderBy(F.desc("bucket"))
    wu = Window.partitionBy("l_returnflag").orderBy(
        F.desc("bucket"), F.asc("qty"))
    return agg.select(
        "l_returnflag", "qty", "n_lines", "bucket",
        F.row_number().over(wu).alias("rn"),
        F.rank().over(wt).alias("rnk"),
        F.dense_rank().over(wt).alias("drnk"),
        F.percent_rank().over(wt).alias("prnk"),
        F.cume_dist().over(wt).alias("cdist"))


_RANK_SEMANTICS_ORACLE = """
WITH agg AS (
  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
         COUNT(*) AS n_lines, COUNT(*) // 8 AS bucket
  FROM lineitem GROUP BY 1, 2
)
SELECT l_returnflag, qty, n_lines, bucket,
       ROW_NUMBER() OVER wu AS rn,
       RANK() OVER wt AS rnk,
       DENSE_RANK() OVER wt AS drnk,
       PERCENT_RANK() OVER wt AS prnk,
       CUME_DIST() OVER wt AS cdist
FROM agg
WINDOW wt AS (PARTITION BY l_returnflag ORDER BY bucket DESC),
       wu AS (PARTITION BY l_returnflag ORDER BY bucket DESC, qty ASC)
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Recursive CTE transitive closure (r5 wave 12): Spark 4's WITH RECURSIVE
# (a long-absent engine surface — probed working in this build) against
# DuckDB's, over the implicit binary-tree hierarchy parent(p) = p div 2 on
# part keys: every seed (p_partkey % 97 = 0, ≥ 2) walks its ancestor chain
# to the root with depth tracking — the org-chart / BOM-explosion shape
# that previously required the Pregel loops (graph.py) or unrolled-round
# oracles.  Depth is structurally bounded at log2(max key) ≈ 15, so the
# recursion terminates by construction at any SF.  The only spelling
# difference between the two texts is integer division (Spark `div`,
# DuckDB `//`).
# --------------------------------------------------------------------------


def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("part",))
    return spark.sql("""
        WITH RECURSIVE anc AS (
          SELECT p_partkey AS start, p_partkey AS node,
                 CAST(0 AS BIGINT) AS depth
          FROM part WHERE p_partkey % 97 = 0 AND p_partkey >= 2
          UNION ALL
          SELECT start, node div 2, depth + 1 FROM anc WHERE node >= 2
        )
        SELECT start, node AS ancestor, depth FROM anc
    """)


_RECURSIVE_CTE_ORACLE = """
WITH RECURSIVE anc AS (
  SELECT p_partkey AS start, p_partkey AS node,
         CAST(0 AS BIGINT) AS depth
  FROM part WHERE p_partkey % 97 = 0 AND p_partkey >= 2
  UNION ALL
  SELECT start, node // 2, depth + 1 FROM anc WHERE node >= 2
)
SELECT start, node AS ancestor, depth FROM anc
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Calendar-function conventions (r5 wave 12): the date toolkit under the
# gate with every cross-engine convention bridged EXPLICITLY — dayofweek
# is 1=Sunday in Spark but 0=Sunday in DuckDB (oracle adds 1); month
# arithmetic end-of-month clamping agrees (probed: Feb 29 + 3 months =
# May 29 both); weekofyear is ISO on both.  Computed DATE values are
# emitted as strings (date_format/strftime) because the two engines'
# pandas materializations of date scalars differ in class, not value —
# the dtype-split lesson applied to temporals.  Map-only projection over
# a keyed sample; every row's full calendar decomposition is hashed.
# --------------------------------------------------------------------------


def q_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return (orders.where(F.col("o_orderkey") % 37 == 0)
            .select(
                "o_orderkey",
                F.year(d).alias("yr"),
                F.quarter(d).alias("qtr"),
                F.month(d).alias("mo"),
                F.dayofmonth(d).alias("dom"),
                F.dayofweek(d).alias("dow"),
                F.weekofyear(d).alias("woy"),
                F.date_format(F.last_day(d), "yyyy-MM-dd").alias("eom"),
                F.date_format(F.date_add(d, 45), "yyyy-MM-dd").alias("d45"),
                F.date_format(F.add_months(d, 3), "yyyy-MM-dd").alias("m3"),
                F.datediff(F.lit("2001-01-01").cast("date"), d)
                .alias("days_to_2001")))


_DATE_FUNCS_ORACLE = """
SELECT o_orderkey,
       CAST(year(d) AS INT) AS yr, CAST(quarter(d) AS INT) AS qtr,
       CAST(month(d) AS INT) AS mo, CAST(day(d) AS INT) AS dom,
       CAST(dayofweek(d) + 1 AS INT) AS dow,
       CAST(weekofyear(d) AS INT) AS woy,
       strftime(last_day(d), '%Y-%m-%d') AS eom,
       strftime(d + 45, '%Y-%m-%d') AS d45,
       strftime(CAST(d + INTERVAL 3 MONTH AS DATE), '%Y-%m-%d') AS m3,
       CAST(date_diff('day', d, DATE '2001-01-01') AS INT) AS days_to_2001
FROM (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d FROM orders
      WHERE o_orderkey % 37 = 0)
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Array higher-order functions (r5 wave 12): the §2.8 function-library
# breadth gate for the ARRAY domain — transform/filter/exists/aggregate-
# fold/zip_with/slice/position/contains over a deterministic per-part
# quantity bag (array_sort(collect_list) — collect order is engine-free,
# the sort pins it).  The full array content is hashed via array_join, so
# the collection itself is load-bearing, not just the derived scalars.
# DuckDB bridges probed: list_position returns 0 for absent (matches
# Spark), list slicing is 1-based inclusive, list_sum is HUGEINT (cast).
# One shuffle (the groupBy); every HOF is a map-only expression after it.
# --------------------------------------------------------------------------


def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    base = (li.where(F.col("l_partkey") % 53 == 0)
            .groupBy("l_partkey")
            .agg(F.array_sort(
                F.collect_list(F.col("l_quantity").cast("long")))
                .alias("arr")))
    arr = F.col("arr")
    return base.select(
        "l_partkey",
        F.size(arr).cast("long").alias("n"),
        F.array_join(F.slice(arr, 1, 3), ",").alias("first3"),
        F.array_position(arr, 50).alias("pos50"),
        F.size(F.filter(arr, lambda x: x >= 25)).cast("long").alias("n_big"),
        F.array_contains(arr, 40).alias("has40"),
        F.aggregate(arr, F.lit(0).cast("long"),
                    lambda a, x: a + x).alias("total"),
        F.element_at(F.zip_with(arr, F.reverse(arr),
                                lambda a, b: a + b), 1)
        .alias("first_plus_last"),
        F.array_join(F.transform(arr, lambda x: x.cast("string")), ",")
        .alias("arr_str"))


_ARRAY_FUNCS_ORACLE = """
WITH base AS (
  SELECT l_partkey,
         list_sort(list(CAST(l_quantity AS BIGINT))) AS arr
  FROM lineitem WHERE l_partkey % 53 = 0
  GROUP BY l_partkey
)
SELECT l_partkey,
       CAST(len(arr) AS BIGINT) AS n,
       array_to_string(arr[1:3], ',') AS first3,
       CAST(list_position(arr, 50) AS BIGINT) AS pos50,
       CAST(len(list_filter(arr, x -> x >= 25)) AS BIGINT) AS n_big,
       list_contains(arr, 40) AS has40,
       CAST(list_sum(arr) AS BIGINT) AS total,
       arr[1] + arr[-1] AS first_plus_last,
       array_to_string(arr, ',') AS arr_str
FROM base
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# min_by / max_by selector aggregates (r5 wave 12): "the key of the
# extreme row" without a self-join — the aggregate-selector surface the
# struct-max idiom approximates.  Ties are real on this data (integral-
# cent prices repeat), so the ordering value is struct(price, orderkey):
# Spark's struct comparison makes the pick total-ordered and
# deterministic.  DuckDB 1.0's arg_min/arg_max take only scalar ordering
# keys (probed — no composite overload), so the oracle derives the same
# rows via ROW_NUMBER windows: same semantics, different machinery, which
# is the point of a differential gate.  One shuffle (groupBy flag).
# --------------------------------------------------------------------------


def q_minby_maxby(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    okey = F.struct(F.col("l_extendedprice"), F.col("l_orderkey"))
    return (li.groupBy("l_returnflag")
            .agg(F.min_by("l_orderkey", okey).alias("cheapest_order"),
                 F.max_by("l_orderkey", okey).alias("priciest_order"),
                 F.min("l_extendedprice").alias("min_price"),
                 F.max("l_extendedprice").alias("max_price"),
                 F.count("*").alias("n")))


_MINBY_ORACLE = """
WITH r AS (
  SELECT l_returnflag, l_orderkey, l_extendedprice,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice ASC, l_orderkey ASC)
           AS rn_min,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice DESC, l_orderkey DESC)
           AS rn_max
  FROM lineitem
),
agg AS (
  SELECT l_returnflag, MIN(l_extendedprice) AS min_price,
         MAX(l_extendedprice) AS max_price, COUNT(*) AS n
  FROM lineitem GROUP BY 1
)
SELECT a.l_returnflag,
       mn.l_orderkey AS cheapest_order,
       mx.l_orderkey AS priciest_order,
       a.min_price, a.max_price, a.n
FROM agg a
JOIN r mn ON mn.l_returnflag = a.l_returnflag AND mn.rn_min = 1
JOIN r mx ON mx.l_returnflag = a.l_returnflag AND mx.rn_max = 1
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# posexplode_outer semantics (r5 wave 12): OUTER explosion keeps the
# parent row with NULL (pos, val) when the array is empty — the
# lateral-view branch every "flatten but keep empty parents" pipeline
# needs and plain explode silently drops (the row-loss bug class).  The
# per-order array of near-max quantities (≥ 48) is empty for most orders
# and populated for some, so both branches are live by data shape.
# DuckDB has no outer unnest — the oracle substitutes a one-element
# [{NULL, NULL}] list before unnesting: same rows, different machinery.
# --------------------------------------------------------------------------


def q_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    base = (li.where(F.col("l_orderkey") % 41 == 0)
            .groupBy("l_orderkey")
            .agg(F.array_sort(F.collect_list(
                F.when(F.col("l_quantity") >= 48,
                       F.col("l_quantity").cast("long"))))
                .alias("arr")))
    # collect_list drops the when()'s NULLs, leaving only qty >= 48
    return base.select(
        "l_orderkey",
        F.size("arr").cast("long").alias("n_big"),
        F.posexplode_outer("arr").alias("pos", "qty"))


_EXPLODE_OUTER_ORACLE = """
WITH base AS (
  SELECT l_orderkey,
         list_sort(list(CAST(l_quantity AS BIGINT))
                   FILTER (l_quantity >= 48)) AS arr
  FROM lineitem WHERE l_orderkey % 41 = 0
  GROUP BY l_orderkey
),
shaped AS (
  SELECT l_orderkey,
         CAST(COALESCE(len(arr), 0) AS BIGINT) AS n_big,
         CASE WHEN arr IS NULL OR len(arr) = 0
              THEN [{'pos': CAST(NULL AS INT), 'qty': CAST(NULL AS BIGINT)}]
              ELSE list_transform(arr, (x, i) ->
                     {'pos': CAST(i - 1 AS INT), 'qty': x}) END AS ex
  FROM base
)
SELECT l_orderkey, n_big, u.pos, u.qty
FROM (SELECT l_orderkey, n_big, unnest(ex) AS u FROM shaped)
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# NTILE bucket-boundary semantics (r5 wave 13) — the rank-family member
# q_rank_semantics doesn't cover.  NTILE(k) over n rows gives the first
# n % k buckets ceil(n/k) rows and the rest floor(n/k) — a boundary rule
# engines could plausibly implement differently, so the gate pins it on
# a TOTAL order (qty, then n_lines, over the distinct-qty aggregate —
# no peer rows, so the distribution rule is the only degree of freedom).
# Output is the per-bucket contingency (count + qty span), O(flags x 4).
# --------------------------------------------------------------------------


def q_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    agg = (li.groupBy("l_returnflag",
                      F.col("l_quantity").cast("long").alias("qty"))
           .agg(F.count("*").alias("n_lines")))
    w = Window.partitionBy("l_returnflag").orderBy("qty", "n_lines")
    return (agg.withColumn("q4", F.ntile(4).over(w))
            .groupBy("l_returnflag", "q4")
            .agg(F.count("*").alias("n"),
                 F.min("qty").alias("qty_lo"),
                 F.max("qty").alias("qty_hi"),
                 F.sum("n_lines").alias("lines")))


_NTILE_ORACLE = """
WITH agg AS (
  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
         COUNT(*) AS n_lines
  FROM lineitem GROUP BY 1, 2
),
t AS (
  SELECT l_returnflag, qty, n_lines,
         NTILE(4) OVER (PARTITION BY l_returnflag
                        ORDER BY qty, n_lines) AS q4
  FROM agg
)
SELECT l_returnflag, CAST(q4 AS INT) AS q4, COUNT(*) AS n,
       MIN(qty) AS qty_lo, MAX(qty) AS qty_hi,
       CAST(SUM(n_lines) AS BIGINT) AS lines
FROM t GROUP BY 1, 2
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# MAP higher-order functions (r5 wave 14) — the MapType complement of
# q_array_functions: map_from_entries construction, transform_values,
# map_zip_with, map_filter, and an aggregate() fold over map_values, all
# in one pass over the per-flag status->count map.  Spark pipelines lean
# on MapType for sparse per-key features; each function here has a silent
# failure mode (zip_with NULL on asymmetric keys, filter dropping the
# wrong side) that plain relational tests never touch.  Both F and O
# statuses exist for every flag at every SF (measured), so the k = 'F'
# filter keeps exactly one of two keys — both branches live by data
# shape.  DuckDB's MAP functions differ too much to mirror; the oracle
# computes the same ROWS relationally (the q_explode_outer stance: same
# rows, different machinery).  size() is INT in Spark — cast to long
# (the dtype-split lesson); the oracle's plain SUM(count) is HUGEINT —
# CAST AS BIGINT.
# --------------------------------------------------------------------------


def q_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    base = (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.count("*").alias("n")))
    m = (base.groupBy("l_returnflag")
         .agg(F.map_from_entries(
             F.sort_array(F.collect_list(
                 F.struct("l_linestatus", "n")))).alias("m")))
    zipped = F.map_zip_with(
        F.col("m"),
        F.transform_values(F.col("m"), lambda k, v: v * 2 + 1),
        lambda k, v1, v2: F.struct(v1.alias("n"),
                                   (v2 - v1).alias("n_plus1")))
    return (m.select(
        "l_returnflag",
        F.explode(zipped).alias("k", "s"),
        F.aggregate(F.map_values("m"), F.lit(0).cast("long"),
                    lambda acc, v: acc + v).alias("total"),
        F.size(F.map_filter("m", lambda k, v: k == F.lit("F")))
        .cast("long").alias("n_f_keys"))
        .select("l_returnflag", "k", F.col("s.n").alias("n"),
                F.col("s.n_plus1").alias("n_plus1"), "total", "n_f_keys"))


_MAP_FUNCS_ORACLE = """
WITH base AS (
  SELECT l_returnflag, l_linestatus AS k, COUNT(*) AS n
  FROM lineitem GROUP BY 1, 2
),
tot AS (
  SELECT l_returnflag, CAST(SUM(n) AS BIGINT) AS total,
         COUNT(*) FILTER (k = 'F') AS n_f_keys
  FROM base GROUP BY 1
)
SELECT b.l_returnflag, b.k, b.n, b.n + 1 AS n_plus1, t.total, t.n_f_keys
FROM base b JOIN tot t USING (l_returnflag)
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Correlated LATERAL subquery (r5 wave 14): top-N-per-group expressed as
# the SQL-standard LATERAL join — the OTHER physical route to the
# q_top3_customers_per_nation result shape (there: rank window; here:
# Spark's LateralJoin with a correlated ORDER BY/LIMIT inner).  Pipelines
# ported from Postgres/DuckDB lean on LATERAL heavily; Spark only grew
# full support recently, so the gate pins that the correlated limit is
# per-OUTER-ROW (a wrong decorrelation applies one global LIMIT and
# collapses the result to 2 rows — loudly red).  Same SQL text runs on
# both engines (the q_null_aware_anti stance).  Raw money values are
# hashed directly (no sums — no decimal discipline needed); the
# (c_acctbal DESC, c_custkey) order is total, so top-2 is deterministic.
# 25 nations x 2 customers at every SF.
# --------------------------------------------------------------------------

_LATERAL_SQL = """
SELECT n.n_name, t.c_name, t.c_acctbal
FROM nation n, LATERAL (
  SELECT c_name, c_acctbal FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
"""


def q_lateral_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("nation", "customer"))
    return spark.sql(_LATERAL_SQL)


# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Window value-function frame semantics (r5 wave 14): last_value over the
# DEFAULT frame (RANGE UNBOUNDED PRECEDING..CURRENT ROW) is the current
# row — the classic silent bug where a report's "final value" column
# quietly equals the running value; the gate pins BOTH behaviors side by
# side (lv_default vs lv_full over an explicit unbounded frame), plus
# nth_value over the full frame, lag with an explicit default, and
# last_value IGNORE NULLS — the null-skipping machinery events_attribution
# uses, here under its own row.  Windows run over the per-(flag, month)
# AGGREGATE (36 rows), never the raw scan (the q_ratio_to_report stance).
# Engines disagree on IGNORE NULLS placement — Spark parses
# `last_value(x) IGNORE NULLS`, DuckDB `last_value(x IGNORE NULLS)` — so
# the oracle carries its own text (probed; everything else is shared
# grammar).  month() is INT in Spark vs BIGINT in DuckDB: CAST both.
# --------------------------------------------------------------------------

_WINDOW_FRAMES_BODY = """
WITH m AS (
  SELECT l_returnflag AS flag, CAST(month(l_shipdate) AS BIGINT) AS mo,
         COUNT(*) AS n,
         CASE WHEN CAST(month(l_shipdate) AS BIGINT) %% 3 = 0 THEN NULL
              ELSE COUNT(*) END AS n_nullable
  FROM lineitem GROUP BY 1, 2
)
SELECT flag, mo, n,
  last_value(n) OVER w1 AS lv_default,
  last_value(n) OVER w2 AS lv_full,
  first_value(n) OVER w1 AS fv,
  nth_value(n, 3) OVER w2 AS nth3,
  lag(n, 2, -1) OVER w1 AS lag2,
  %s AS lv_ign
FROM m
WINDOW w1 AS (PARTITION BY flag ORDER BY mo),
       w2 AS (PARTITION BY flag ORDER BY mo
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""

_WINDOW_FRAMES_SPARK = _WINDOW_FRAMES_BODY % \
    "last_value(n_nullable) IGNORE NULLS OVER w2"
_WINDOW_FRAMES_ORACLE = _WINDOW_FRAMES_BODY % \
    "last_value(n_nullable IGNORE NULLS) OVER w2"


def q_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(_WINDOW_FRAMES_SPARK)


# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# GROUP BY ALL / ORDER BY ALL (r5 wave 14): the analyst-SQL dialect
# surface (DuckDB invented it, Spark adopted it) — grouping keys inferred
# as every non-aggregate select item INCLUDING computed expressions (the
# year() cast here), ordering inferred over the full select list.  Wrong
# inference either errors or groups on the wrong set — both red.  Same
# SQL text runs on both engines (the q_null_aware_anti stance); the
# decimal-cast sum keeps the double exact, year() is cast to BIGINT on
# both sides (INT vs BIGINT dtype-split lesson).
# --------------------------------------------------------------------------

_GROUP_BY_ALL_SQL = """
SELECT l_returnflag, CAST(year(l_shipdate) AS BIGINT) AS yr,
       COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
FROM lineitem
GROUP BY ALL
ORDER BY ALL
"""


def q_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(_GROUP_BY_ALL_SQL)


# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# try_* error-safe functions (r5 wave 14): ANSI-mode arithmetic at 100 TB
# means ONE bad row kills a 1000-executor job; the try_ family returns
# NULL instead — the row-level fault-isolation complement of PERMISSIVE
# ingest (json_dirty_ingest).  Pinned: try_divide by a planted zero,
# try_cast of non-numeric strings, try_add at BIGINT_MAX overflow, and
# try_to_timestamp on garbage — each emitted as per-flag null/ok counts
# with both branches live by construction (parity/flag plants).  DuckDB
# has no try_ family (its non-ANSI division already NULLs on x/0 only
# for integers... it errors) — the oracle computes the same counts from
# explicit CASE guards, structurally independent of the machinery.
# --------------------------------------------------------------------------


def q_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql("""
SELECT l_returnflag,
       COUNT(*) AS n,
       COUNT(*) - COUNT(try_divide(l_quantity, l_orderkey % 2))
         AS n_div_null,
       COUNT(*) - COUNT(try_cast(
         CASE WHEN l_linenumber % 2 = 0 THEN '12' ELSE 'oops' END AS INT))
         AS n_cast_null,
       COUNT(*) - COUNT(try_add(9223372036854775807,
                                CAST(l_orderkey % 2 AS BIGINT)))
         AS n_add_overflow,
       COUNT(*) - COUNT(try_to_timestamp(
         CASE WHEN l_linenumber % 3 = 0 THEN 'not a time'
              ELSE '2024-01-02 03:04:05' END))
         AS n_ts_null
FROM lineitem
GROUP BY l_returnflag
""")


_TRY_FUNCS_ORACLE = """
SELECT l_returnflag,
       COUNT(*) AS n,
       COUNT(*) FILTER (l_orderkey % 2 = 0) AS n_div_null,
       COUNT(*) FILTER (l_linenumber % 2 = 1) AS n_cast_null,
       COUNT(*) FILTER (l_orderkey % 2 = 1) AS n_add_overflow,
       COUNT(*) FILTER (l_linenumber % 3 = 0) AS n_ts_null
FROM lineitem
GROUP BY l_returnflag
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Case-insensitive collation (r5 wave 14): Spark 4 collated strings —
# grouping and equality under UTF8_LCASE must merge casings that byte-
# compare different.  The fixture mixes casing by custkey parity, so a
# binary-collation engine yields twice the groups (rows red).  The group
# KEY under collation carries a first-seen casing (observed), so the
# projection lowercases it for a deterministic output — the collation is
# still load-bearing in the GROUP BY and in the collated-literal filter
# count.  Oracle groups by lower() — same rows, no collation machinery.
# --------------------------------------------------------------------------


def q_collation_lcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("customer",))
    return spark.sql("""
WITH mixed AS (
  SELECT CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment)
              ELSE c_mktsegment END AS seg,
         c_acctbal
  FROM customer
)
SELECT lower(k) AS segment, COUNT(*) AS n,
       CAST(COUNT(*) FILTER (WHERE k = 'Building') AS BIGINT) AS n_building
FROM (SELECT COLLATE(seg, 'UTF8_LCASE') AS k FROM mixed)
GROUP BY k
""")


_COLLATION_ORACLE = """
WITH mixed AS (
  SELECT CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment)
              ELSE c_mktsegment END AS seg
  FROM customer
)
SELECT lower(seg) AS segment, COUNT(*) AS n,
       COUNT(*) FILTER (lower(seg) = 'building') AS n_building
FROM mixed GROUP BY 1
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# LIMIT/OFFSET pagination (r5 wave 14): the API-surface read every
# catalog/browse endpoint needs (the reference pages its HTTP record
# listings) — deterministic because the ORDER BY is a total order
# (acctbal ties broken by custkey).  Spark supports OFFSET since 3.4;
# the trap pinned is OFFSET-before-LIMIT application: a wrong engine
# returns the first 15 rows instead of rows 31..45.  Same SQL text on
# both engines.
# --------------------------------------------------------------------------

_LIMIT_OFFSET_SQL = """
SELECT c_custkey, c_name, c_acctbal
FROM customer
ORDER BY c_acctbal DESC, c_custkey
LIMIT 15 OFFSET 30
"""


def q_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("customer",))
    return spark.sql(_LIMIT_OFFSET_SQL)


# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Regexp function breadth (r5 wave 14b): regexp_extract_all /
# regexp_count / regexp_replace / regexp_instr — the pattern-function
# family beyond the single regexp_replace the normalize gates use.
# Patterns stay in the engine-portable class (explicit ranges, no \\d,
# per the Java-vs-RE2 notes in _util.py); DuckDB lacks regexp_count and
# regexp_instr, so the oracle bridges with len(regexp_extract_all) and
# strpos(regexp_extract) — same values, different machinery.
# --------------------------------------------------------------------------


def q_regexp_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("customer",))
    return spark.sql("""
SELECT c_custkey,
       array_join(regexp_extract_all(c_name, '[0-9]+', 0), ',') AS nums,
       CAST(regexp_count(c_name, '0') AS BIGINT) AS zeros,
       regexp_replace(c_name, '0+', '_') AS squashed,
       CAST(regexp_instr(c_name, '[1-9]') AS BIGINT) AS first_nz
FROM customer
""")


_REGEXP_FUNCS_ORACLE = """
SELECT c_custkey,
       array_to_string(regexp_extract_all(c_name, '[0-9]+'), ',') AS nums,
       CAST(len(regexp_extract_all(c_name, '0')) AS BIGINT) AS zeros,
       regexp_replace(c_name, '0+', '_', 'g') AS squashed,
       CAST(CASE WHEN regexp_extract(c_name, '[1-9]') = '' THEN 0
            ELSE strpos(c_name, regexp_extract(c_name, '[1-9]'))
            END AS BIGINT) AS first_nz
FROM customer
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Null-safe join equality (r5 wave 14b): the other three-valued-logic
# join trap (q_null_aware_anti covers NOT IN) — an equi-join on `=`
# silently DROPS null-keyed rows from both sides, while the null-safe
# operator (Spark `<=>`, DuckDB IS NOT DISTINCT FROM) matches null to
# null.  The customer side plants a BOUNDED null set (every 11th key
# below 150 — ~13 rows at ANY SF) against an SF-scaled null set on the
# orders side, so the null-match volume grows LINEARLY: all null
# matches land on one join key by definition, and an unbounded
# null×null cross product is the single-key skew bomb (review finding —
# first cut nulled both sides unboundedly, quadratic in SF).  A
# production null-safe join at scale either bounds one side like this
# or routes nulls around the join entirely.  Oracle mirrors with
# IS NOT DISTINCT FROM.
# --------------------------------------------------------------------------

_NULL_SAFE_BODY = """
WITH c AS (
  SELECT CASE WHEN c_custkey %% 11 = 0 AND c_custkey < 150 THEN NULL
              ELSE c_custkey END AS ck
  FROM customer
),
o AS (
  SELECT CASE WHEN o_orderkey %% 13 = 0 THEN NULL ELSE o_custkey END AS ok
  FROM orders
)
SELECT
  (SELECT COUNT(*) FROM c JOIN o ON c.ck = o.ok) AS n_plain,
  (SELECT COUNT(*) FROM c JOIN o ON %s) AS n_null_safe,
  (SELECT COUNT(*) FROM c JOIN o ON %s
   WHERE c.ck IS NULL) AS n_null_matches
"""

_NULL_SAFE_SPARK = _NULL_SAFE_BODY % ("c.ck <=> o.ok", "c.ck <=> o.ok")
_NULL_SAFE_ORACLE = _NULL_SAFE_BODY % (
    "c.ck IS NOT DISTINCT FROM o.ok", "c.ck IS NOT DISTINCT FROM o.ok")


def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("customer", "orders"))
    return spark.sql(_NULL_SAFE_SPARK)


# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# r6 consolidation packs (VERDICT r5 item 2): sibling never-driver-checked
# SQL-semantics microgates merged into tag-union slots so the 50-row/round
# driver evidence channel covers them all this round.  Every former gate's
# function and oracle stays verbatim above (tests import them directly);
# only the registration moves into the pack.  Coercion discipline and the
# NULL-padding dtype rationale live in _util.pack_union / pack_oracle.
# --------------------------------------------------------------------------


def q_scalar_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged gate (r6): the former q_date_functions / q_array_functions /
    q_map_functions / q_regexp_functions / q_try_functions — the scalar
    function-library breadth surface (SURVEY §2.8), five independent
    map-only sub-plans tag-unioned into one driver slot."""
    return pack_union([
        ("date", q_date_functions(spark, sf_dir)),
        ("array", q_array_functions(spark, sf_dir)),
        ("map", q_map_functions(spark, sf_dir)),
        ("regexp", q_regexp_functions(spark, sf_dir)),
        ("try", q_try_functions(spark, sf_dir)),
    ])


_Q_SCALAR_SEMANTICS_ORACLE = pack_oracle([
    ("date", _DATE_FUNCS_ORACLE, {"o_orderkey": 'DOUBLE', "yr": 'DOUBLE', "qtr": 'DOUBLE', "mo": 'DOUBLE', "dom": 'DOUBLE', "dow": 'DOUBLE', "woy": 'DOUBLE', "eom": None, "d45": None, "m3": None, "days_to_2001": 'DOUBLE'}),
    ("array", _ARRAY_FUNCS_ORACLE, {"l_partkey": 'DOUBLE', "n": 'DOUBLE', "first3": None, "pos50": 'DOUBLE', "n_big": 'DOUBLE', "has40": 'VARCHAR', "total": 'DOUBLE', "first_plus_last": 'DOUBLE', "arr_str": None}),
    ("map", _MAP_FUNCS_ORACLE, {"l_returnflag": None, "k": None, "n": 'DOUBLE', "n_plus1": 'DOUBLE', "total": 'DOUBLE', "n_f_keys": 'DOUBLE'}),
    ("regexp", _REGEXP_FUNCS_ORACLE, {"c_custkey": 'DOUBLE', "nums": None, "zeros": 'DOUBLE', "squashed": None, "first_nz": 'DOUBLE'}),
    ("try", _TRY_FUNCS_ORACLE, {"l_returnflag": None, "n": 'DOUBLE', "n_div_null": 'DOUBLE', "n_cast_null": 'DOUBLE', "n_add_overflow": 'DOUBLE', "n_ts_null": 'DOUBLE'}),
])

register("q_scalar_semantics", q_scalar_semantics, _Q_SCALAR_SEMANTICS_ORACLE)


def q_window_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged gate (r6): the former q_rank_semantics / q_window_frames /
    q_ntile_quartiles / q_percentile_disc — window-function semantics
    (tie-bearing ranks, frame defaults, IGNORE NULLS, ntile buckets,
    discrete percentiles) in one slot."""
    return pack_union([
        ("rank", q_rank_semantics(spark, sf_dir)),
        ("frames", q_window_frames(spark, sf_dir)),
        ("ntile", q_ntile_quartiles(spark, sf_dir)),
        ("pdisc", q_percentile_disc(spark, sf_dir)),
    ])


_Q_WINDOW_SEMANTICS_ORACLE = pack_oracle([
    ("rank", _RANK_SEMANTICS_ORACLE, {"l_returnflag": None, "qty": 'DOUBLE', "n_lines": 'DOUBLE', "bucket": 'DOUBLE', "rn": 'DOUBLE', "rnk": 'DOUBLE', "drnk": 'DOUBLE', "prnk": 'DOUBLE', "cdist": 'DOUBLE'}),
    ("frames", _WINDOW_FRAMES_ORACLE, {"flag": None, "mo": 'DOUBLE', "n": 'DOUBLE', "lv_default": 'DOUBLE', "lv_full": 'DOUBLE', "fv": 'DOUBLE', "nth3": 'DOUBLE', "lag2": 'DOUBLE', "lv_ign": 'DOUBLE'}),
    ("ntile", _NTILE_ORACLE, {"l_returnflag": None, "q4": 'DOUBLE', "n": 'DOUBLE', "qty_lo": 'DOUBLE', "qty_hi": 'DOUBLE', "lines": 'DOUBLE'}),
    ("pdisc", _PDISC_SQL, {"l_returnflag": None, "p25": 'DOUBLE', "p50": 'DOUBLE', "p75": 'DOUBLE', "n": 'DOUBLE'}),
])

register("q_window_semantics", q_window_semantics, _Q_WINDOW_SEMANTICS_ORACLE)


def q_query_shape_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged gate (r6): the former q_limit_offset / q_group_by_all /
    q_collation_lcase / q_minby_maxby / q_explode_outer / q_grouping_sets
    — query-shape semantics (pagination over a total order, inferred
    grouping keys, collation-merged groups, selector aggregates, outer
    explosion row retention, grouping-set ids) in one slot."""
    return pack_union([
        ("limit_offset", q_limit_offset(spark, sf_dir)),
        ("group_by_all", q_group_by_all(spark, sf_dir)),
        ("collation", q_collation_lcase(spark, sf_dir)),
        ("minby", q_minby_maxby(spark, sf_dir)),
        ("explode_outer", q_explode_outer(spark, sf_dir)),
        ("grouping_sets", q_grouping_sets(spark, sf_dir)),
    ])


_Q_QUERY_SHAPE_SEMANTICS_ORACLE = pack_oracle([
    ("limit_offset", _LIMIT_OFFSET_SQL, {"c_custkey": 'DOUBLE', "c_name": None, "c_acctbal": 'DOUBLE'}),
    ("group_by_all", _GROUP_BY_ALL_SQL, {"l_returnflag": None, "yr": 'DOUBLE', "n": 'DOUBLE', "qty": 'DOUBLE'}),
    ("collation", _COLLATION_ORACLE, {"segment": None, "n": 'DOUBLE', "n_building": 'DOUBLE'}),
    ("minby", _MINBY_ORACLE, {"l_returnflag": None, "cheapest_order": 'DOUBLE', "priciest_order": 'DOUBLE', "min_price": 'DOUBLE', "max_price": 'DOUBLE', "n": 'DOUBLE'}),
    ("explode_outer", _EXPLODE_OUTER_ORACLE, {"l_orderkey": 'DOUBLE', "n_big": 'DOUBLE', "pos": 'DOUBLE', "qty": 'DOUBLE'}),
    ("grouping_sets", _GROUPING_SETS_ORACLE, {"l_returnflag": None, "l_linestatus": None, "gid": 'DOUBLE', "sum_qty": 'DOUBLE', "n_rows": 'DOUBLE'}),
])

register("q_query_shape_semantics", q_query_shape_semantics,
         _Q_QUERY_SHAPE_SEMANTICS_ORACLE)


def q_setops_join_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged gate (r6): the former q_setops_all / q_null_aware_anti /
    q_null_safe_join — INTERSECT/EXCEPT (ALL bag semantics), null-aware
    anti join, and null-safe equality join in one slot."""
    return pack_union([
        ("setops", q_setops_all(spark, sf_dir)),
        ("null_anti", q_null_aware_anti(spark, sf_dir)),
        ("null_safe", q_null_safe_join(spark, sf_dir)),
    ])


_Q_SETOPS_JOIN_SEMANTICS_ORACLE = pack_oracle([
    ("setops", _SETOPS_ALL_ORACLE, {"op": None, "l_partkey": 'DOUBLE', "n": 'DOUBLE'}),
    ("null_anti", _NULL_ANTI_SQL, {"op": None, "n": 'DOUBLE'}),
    ("null_safe", _NULL_SAFE_ORACLE, {"n_plain": 'DOUBLE', "n_null_safe": 'DOUBLE', "n_null_matches": 'DOUBLE'}),
])

register("q_setops_join_semantics", q_setops_join_semantics,
         _Q_SETOPS_JOIN_SEMANTICS_ORACLE)


def q_quality_audits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged gate (r6): the former q_fd_violations /
    q_data_quality_report / q_kanonymity_audit — the data-quality audit
    family (functional-dependency checks, rule-based quality report,
    k-anonymity group audit) in one slot."""
    return pack_union([
        ("fd", q_fd_violations(spark, sf_dir)),
        ("dq", q_data_quality_report(spark, sf_dir)),
        ("kanon", q_kanonymity_audit(spark, sf_dir)),
    ])


_Q_QUALITY_AUDITS_ORACLE = pack_oracle([
    ("fd", _FD_ORACLE, {"fd": None, "n_groups": 'DOUBLE', "n_violating": 'DOUBLE', "max_rhs_variants": 'DOUBLE', "holds": 'VARCHAR'}),
    ("dq", _DQ_ORACLE, {"check_name": None, "violations": 'DOUBLE', "n_rows": 'DOUBLE', "passed": 'VARCHAR'}),
    ("kanon", _KANON_ORACLE, {"c_nationkey": 'DOUBLE', "c_mktsegment": None, "group_size": 'DOUBLE', "anonymous": 'VARCHAR'}),
])

register("q_quality_audits", q_quality_audits, _Q_QUALITY_AUDITS_ORACLE)


def q_customer_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged gate (r6 tranche 2): the former q_mom_revenue_change /
    q_ratio_to_report / q_year_bitmap / q_rfm_segments — the customer-
    analytics window/bitmap family (month-over-month lag, share-of-group
    windows, BIT_OR/AND year bitmaps, RFM scoring)."""
    return pack_union([
        ("mom", q_mom_revenue_change(spark, sf_dir)),
        ("ratio", q_ratio_to_report(spark, sf_dir)),
        ("bitmap", q_year_bitmap(spark, sf_dir)),
        ("rfm", q_rfm_segments(spark, sf_dir)),
    ])


_Q_CUSTOMER_ANALYTICS_ORACLE = pack_oracle([
    ("mom", _MOM_ORACLE, {"l_returnflag": None, "yr": 'DOUBLE', "mo": 'DOUBLE', "revenue": 'DOUBLE', "prev_revenue": 'DOUBLE', "n_items": 'DOUBLE'}),
    ("ratio", _RATIO_ORACLE, {"c_nationkey": 'DOUBLE', "c_custkey": 'DOUBLE', "cust_revenue": 'DOUBLE', "nation_revenue": 'DOUBLE'}),
    ("bitmap", _YEAR_BITMAP_ORACLE, {"c_nationkey": 'DOUBLE', "c_mktsegment": None, "n_customers": 'DOUBLE', "any_years_mask": 'DOUBLE', "all_years_mask": 'DOUBLE', "coverage_sum": 'DOUBLE'}),
    ("rfm", _RFM_ORACLE, {"r_score": 'DOUBLE', "f_score": 'DOUBLE', "m_score": 'DOUBLE', "n_customers": 'DOUBLE', "segment_spend": 'DOUBLE'}),
])

register("q_customer_analytics", q_customer_analytics,
         _Q_CUSTOMER_ANALYTICS_ORACLE)


def q_correlated_shapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged gate (r6 tranche 2): the former q_lateral_join /
    q_recursive_cte — correlated/iterative query shapes (per-outer-row
    LATERAL top-k, WITH RECURSIVE transitive closure)."""
    return pack_union([
        ("lateral", q_lateral_join(spark, sf_dir)),
        ("recursive", q_recursive_cte(spark, sf_dir)),
    ])


_Q_CORRELATED_SHAPES_ORACLE = pack_oracle([
    ("lateral", _LATERAL_SQL, {"n_name": None, "c_name": None, "c_acctbal": 'DOUBLE'}),
    ("recursive", _RECURSIVE_CTE_ORACLE, {"start": 'DOUBLE', "ancestor": 'DOUBLE', "depth": 'DOUBLE'}),
])

register("q_correlated_shapes", q_correlated_shapes,
         _Q_CORRELATED_SHAPES_ORACLE)
