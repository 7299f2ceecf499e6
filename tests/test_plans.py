"""Physical-plan regression tests: the scale properties we rely on —
pushdown, join elimination, shuffle avoidance, no cartesian products —
asserted on ``explain`` output so a plan regression fails CI instead of
silently costing 10x at the next scale factor.

These intentionally test the PLAN, not the result (correctness is the oracle
gate's job): e.g. a single-segment ``read_df`` must not shuffle, a first
lens build must not join against its empty cache, and the LSH candidate
joins must never degrade to ``CartesianProduct``.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pigeon_optics_spark.store import DatasetStore, empty_local_df


def plan_of(df, mode: str = "simple") -> str:
    """The plan as a string — "simple" = physical plan only (what the
    no-Exchange / no-Join assertions must run against: parsed/analyzed
    plans legitimately still contain pre-optimization joins), "formatted"
    for scan detail (PushedFilters / ReadSchema)."""
    jdf = df._jdf
    try:
        return jdf.queryExecution().explainString(
            df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString(mode))
    except Exception:  # noqa: BLE001 — fallback for API drift
        return jdf.queryExecution().toString()


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    st = DatasetStore(str(tmp_path_factory.mktemp("plans")))
    st.create("t", "docs")
    st.write_entries("t", "docs", [(f"r{i}", {"n": i}) for i in range(50)])
    return st


def test_single_segment_read_has_no_exchange(spark, store):
    """One-segment logs (fresh ingest / post-compaction) must skip the
    latest-wins window: no Exchange, no Window in the plan."""
    df = store.read_df(spark, "t", "docs")
    p = plan_of(df)
    assert "Exchange" not in p
    assert "Window" not in p


def test_point_lookup_filter_reaches_scan(spark, store):
    """record_id equality must push into the parquet scan."""
    df = store.read_df(spark, "t", "docs").where(F.col("record_id") == "r7")
    p = plan_of(df, "formatted")
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert pushed and "EqualTo(record_id,r7)" in pushed[0], p


def test_column_pruning_reaches_scan(spark, store):
    """A 2-column projection must not read the fat value column."""
    df = store.read_df(spark, "t", "docs").select("record_id", "version")
    p = plan_of(df, "formatted")
    assert "ReadSchema" in p
    # the value/hash/links columns must be pruned from the scan
    scan_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "value" not in scan_schema
    assert "links" not in scan_schema


def test_join_against_empty_collection_is_eliminated(spark, store, tmp_path):
    """empty_local_df is a local relation: PropagateEmptyRelation must
    delete joins against an empty collection at plan time (a first lens
    build skips its cache-diff join this way)."""
    empty = spark.createDataFrame([], "record_id string, version long")
    # the helper, not createDataFrame: ExistingRDD scans don't fold
    st2 = DatasetStore(str(tmp_path))
    st2.create("t", "nothing")
    cur = store.read_df(spark, "t", "docs")
    cached = st2.read_df(spark, "t", "nothing").select("record_id", "version")
    joined = cur.join(cached.withColumnRenamed("version", "cv"),
                      "record_id", "left")
    p = plan_of(joined)
    assert "Join" not in p, p
    assert "Exchange" not in p, p
    del empty


def test_empty_local_df_unions_fold(spark):
    """Unions with the empty relation disappear from the plan."""
    base = spark.range(10).select(F.col("id").cast("string").alias("record_id"))
    e = empty_local_df(spark, "record_id string")
    p = plan_of(base.unionByName(e))
    assert "Union" not in p


def test_minhash_candidates_no_cartesian(spark, sf_dir):
    from pigeon_optics_spark.pipeline.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id"), F.col("text"))
    pairs = minhash_lsh_pairs(docs)
    p = plan_of(pairs)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_ann_lsh_no_cartesian(spark, sf_dir):
    from pigeon_optics_spark.pipeline.similarity import lsh_bucketed_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.limit(5)
    res = lsh_bucketed_topk(q, emb, k=3)
    p = plan_of(res)
    assert "CartesianProduct" not in p


def test_lens_map_phase_runs_at_session_parallelism(spark, store):
    """The CPU-bound exec stage must be repartitioned away from whatever the
    scan left (AQE's IO-sized coalesce under-parallelizes Python stages ~30x
    on large deltas) — to the session's parallelism for full-diff inputs,
    CAPPED by a driver-side delta-byte estimate on the incremental path so a
    point update maps in one task instead of 32 near-empty Python workers
    (the r10 small-delta rebuild constant)."""
    from pigeon_optics_spark.lens import build_lens, create_lens

    create_lens(store, "t", "plens", inputs=["/datasets/t:docs"],
                code="output('k', 1)")
    # the repartition is part of the build plan; assert on the build result
    # plus the documented invariant markers in the source
    import inspect

    import pigeon_optics_spark.lens as lens_mod
    src = inspect.getsource(lens_mod.build_lens)
    assert "par = spark.sparkContext.defaultParallelism" in src
    assert "min(par, delta_bytes // (1 << 20) + 1)" in src
    assert "fresh = fresh.repartition(par)" in src
    stats = build_lens(spark, store, "t", "plens")
    assert stats["mapped"] == 50


def test_contamination_bench_side_broadcasts(spark, sf_dir):
    """The benchmark n-gram set must broadcast (eval sets are bounded) —
    a shuffle join here would shuffle corpus-scale gram volume."""
    from pigeon_optics_spark.pipeline.text import ngram_contamination

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan_of(ngram_contamination(docs))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_pack_sequences_window_is_sharded(spark, sf_dir):
    """Packing must partition its window by shard — an unpartitioned window
    serializes the corpus through a single task."""
    from pigeon_optics_spark.pipeline.text import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan_of(pack_sequences(docs), "formatted")
    # the window's required distribution is hashpartitioning on shard, not
    # a SinglePartition sort
    assert "hashpartitioning(shard" in p


def test_pq_topk_query_side_broadcasts(spark, sf_dir):
    from pigeon_optics_spark.pipeline.similarity import pq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    p = plan_of(pq_topk(emb.where(F.col("vec_id") < 5), emb))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_ivfpq_is_two_scans_broadcast_no_cartesian(spark, sf_dir):
    """IVF-PQ composition must stay: ONE map-only corpus pass (cell argmax
    + PQ codes in the same select — no corpus self-join), queries broadcast
    into the cell equi-join, never a cartesian."""
    from pigeon_optics_spark.pipeline.similarity import ivfpq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    p = plan_of(ivfpq_topk(emb.where(F.col("vec_id") < 5), emb))
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    assert p.count("FileScan") == 2, p  # corpus pass + query pass


def test_stratified_sample_is_scan_plus_filter(spark, sf_dir):
    """The sampler must stay a pure filter over the scan — no shuffle, no
    join; rebalancing a 100 TB mix is a map-only pass."""
    from pigeon_optics_spark.pipeline.text import stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan_of(stratified_sample(docs, {"en": 0.25}, default_rate=0.75))
    assert "Exchange" not in p
    assert "Join" not in p


# --------------------------------------------------------------------------
# Unpartitioned-window discipline (r3 verdict items 2 & 5): a window with no
# PARTITION BY forces an Exchange SinglePartition — acceptable ONLY over an
# input bounded by construction (a per-key aggregate, a top-k limit), never
# over a data-scaled relation.
# --------------------------------------------------------------------------


def _unpartitioned_window_lines(plan: str) -> list[str]:
    """Physical-plan lines holding a window WITHOUT a partition spec.

    A partitioned+ordered window prints three bracket groups
    (``Window [fns], [partition], [order]``); two groups is ambiguous:
    an unpartitioned ordered window prints ``[fns], [order]`` but a
    partitioned ORDER-LESS window (count/min over a partition, the
    dedup_url_canonical shape) also prints ``[fns], [partition]`` — and
    only the former is the global-shuffle hazard.  The second group is
    an ORDER spec iff it carries sort directions, so two groups + a
    sort token (or an explicitly empty second group) means global."""
    return [ln for ln in plan.splitlines()
            if "Window [" in ln and " WindowGroupLimit" not in ln
            and (("], []" in ln)
                 or (ln.count("], [") == 1
                     and (" ASC" in ln or " DESC" in ln)))]


def test_text_profile_is_one_scan_no_shuffle(spark, sf_dir):
    """The merged text_profile gate (r4) composes 4 operators as column
    expressions — the plan must stay ONE parquet scan with zero exchange
    (the whole point of merging over 4 separate gates)."""
    from pigeon_optics_spark.queries.pipeline_queries import (
        text_profile,
        text_samples,
    )

    p = plan_of(text_profile(spark, sf_dir))
    assert p.count("FileScan") == 1, p
    assert "Exchange" not in p
    # samples: one scan per union side, still no shuffle and no join
    p2 = plan_of(text_samples(spark, sf_dir))
    assert "Exchange" not in p2
    assert "Join" not in p2


def test_natural_order_topk_plan(spark, sf_dir):
    """store_natural_order's top-100 must be TakeOrderedAndProject
    (per-partition top-k, k-row driver merge) — NOT a global row_number
    window over the full listing, which single-partition-sorts a relation
    that scales with the collection (the r3 'weak plan' finding)."""
    from pigeon_optics_spark.queries.store_queries import store_natural_order

    p = plan_of(store_natural_order(spark, sf_dir))
    assert "TakeOrderedAndProject(limit=100" in p, p
    # the only remaining global window ranks the ≤100 surviving rows
    for ln in _unpartitioned_window_lines(p):
        assert "nat_rank" in ln or "row_number" in ln
    assert "Exchange SinglePartition" not in p, p


def test_moving_average_window_input_is_aggregated(spark, sf_dir):
    """q_moving_average's global window is bounded by construction: its
    SinglePartition exchange must sit ABOVE the per-day HashAggregate (the
    window input is the date-domain aggregate, ~2.4k rows at any sf).  If
    the aggregate ever moves above the window this fails."""
    from pigeon_optics_spark.queries.relational import q_moving_average

    p = plan_of(q_moving_average(spark, sf_dir))
    assert _unpartitioned_window_lines(p), "expected the global ma7 window"
    i_exch = p.index("Exchange SinglePartition")
    i_agg = p.index("HashAggregate")
    # plans print top-down: the aggregate is the exchange's child
    assert i_exch < i_agg, p


def test_no_unbounded_global_windows_in_scan_gates(spark, sf_dir):
    """Sweep: across every registry gate that is a pure parquet-scan query
    (relational/pipeline/events — no store fixture, no streaming run), an
    unpartitioned window may appear only when the plan also carries a
    bounded-input marker upstream (aggregate or top-k limit).  Catches the
    store_natural_order class of regression suite-wide."""
    from pigeon_optics_spark.queries import all_queries

    skip_prefixes = ("store_", "codec_", "lens_", "reactive_",
                     "attachments_", "pipeline_end_to_end",
                     "events_stream_")  # fixtures / streaming runs
    offenders = []
    for name, (fn, _oracle) in all_queries().items():
        if name.startswith(skip_prefixes):
            continue
        p = plan_of(fn(spark, sf_dir))
        if _unpartitioned_window_lines(p) and not (
                "HashAggregate" in p or "TakeOrderedAndProject" in p
                or "GlobalLimit" in p):
            offenders.append(name)
    assert not offenders, offenders


def test_bucketed_tables_join_without_shuffle(spark, tmp_path_factory):
    """The 100 TB co-located-join recipe SCALING.md claims: two tables
    bucketed by the join key (same bucket count) hash-join with ZERO
    Exchange — each task reads matching buckets from both sides.  This
    pins that the recipe actually works in this engine's session config
    (bucketing survives spark.sql.sources.bucketing.enabled, AQE, etc.)."""
    wh = str(tmp_path_factory.mktemp("bucket_wh"))
    a = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("va"))
    b = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") % 31).alias("vb"))
    for name, df in (("po_bucket_a", a), ("po_bucket_b", b)):
        df.write.mode("overwrite").bucketBy(8, "k").sortBy("k") \
            .option("path", f"{wh}/{name}").saveAsTable(name)
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the non-broadcast path: the point is the co-located
        # shuffle-free SortMergeJoin that carries the 100 TB case, where
        # neither side is broadcastable
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = (spark.table("po_bucket_a")
                  .join(spark.table("po_bucket_b"), "k")
                  .select("k", "va", "vb"))
        p = plan_of(joined)
        assert "SortMergeJoin" in p or "ShuffledHashJoin" in p, p
        assert "Exchange" not in p, p
        assert joined.count() == 10_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS po_bucket_a")
        spark.sql("DROP TABLE IF EXISTS po_bucket_b")


def test_semantic_dedup_is_cell_equijoin_no_cartesian(spark, sf_dir):
    """SemDeDup's pairwise stage must be an equi-join on the k-means cell
    (cost Σ|cell|², executor-local blocks) — an all-pairs cartesian over
    the corpus would be the N² plan the clustering exists to avoid."""
    from pigeon_optics_spark.pipeline.dedup import semantic_dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    p = plan_of(semantic_dedup(emb, k=8, threshold=0.95))
    assert "CartesianProduct" not in p
    assert "centroid" in p  # the cell id is a join key, not a filter


def test_corpus_line_dedup_no_cartesian(spark, sf_dir):
    """The line-frequency join-back must stay keyed on the line — a
    cartesian or a driver-side frequency map would break at corpus scale."""
    from pigeon_optics_spark.pipeline.text import corpus_line_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan_of(corpus_line_dedup(docs))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_bm25_prefilters_terms_and_takeordered(spark, sf_dir):
    """BM25's explode must be filtered to the query terms BEFORE the
    (doc, term) aggregation (the shuffle carries query-term postings, not
    the vocabulary) and ranking must be TakeOrdered, not a global sort."""
    from pigeon_optics_spark.pipeline.text import bm25_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan_of(bm25_topk(docs, ["spark", "window"], top_k=10))
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_dup_window_stats_groups_on_hash_only(spark, sf_dir):
    """Only 16-byte window digests may cross the shuffle — the window TEXT
    leaving the row would multiply shuffle volume by the window width."""
    from pigeon_optics_spark.pipeline.text import dup_window_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan_of(dup_window_stats(docs), "formatted")
    assert "CartesianProduct" not in p
    # the frequency aggregation's key is the md5 digest column
    assert "hashpartitioning(wh" in plan_of(dup_window_stats(docs))


def test_source_overlap_has_no_join(spark, sf_dir):
    """The overlap matrix must come from ONE grouping of the (shingle,
    source) projection with in-row pair expansion — the self-join
    formulation shuffled the projection twice and probed it against
    itself."""
    from pigeon_optics_spark.queries import all_queries

    fn, _ = all_queries()["corpus_source_overlap"]
    p = plan_of(fn(spark, sf_dir))
    assert "Join" not in p


def test_covariance_single_scan_no_corpus_join(spark, sf_dir):
    """embedding_covariance must expand pairs IN-ROW and aggregate
    everything (s_ij, s_i, s_j, n) in ONE pass: exactly one embeddings
    FileScan, no join anywhere (an earlier branched formulation planned
    THREE corpus scans — Spark does not dedupe a shared agg subtree
    referenced under different filters)."""
    from pigeon_optics_spark.pipeline.similarity import embedding_covariance

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    p = plan_of(embedding_covariance(emb))
    assert p.count("embeddings.parquet") == 1
    assert "Join" not in p


def test_context_chunks_zero_shuffle(spark, sf_dir):
    from pigeon_optics_spark.pipeline.text import context_chunks

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan_of(context_chunks(docs))
    assert "Exchange" not in p
    assert "Generate" in p  # the explode — in-row flatMap, not a join


def test_seasonal_baseline_broadcasts(spark, sf_dir):
    from pigeon_optics_spark.queries.events_queries import (
        events_seasonal_baseline,
    )

    p = plan_of(events_seasonal_baseline(spark, sf_dir))
    assert "BroadcastHashJoin" in p  # (type × 24h) baseline side
    assert "CartesianProduct" not in p


def test_order_count_distribution_plan(spark, sf_dir):
    """Q13 shape: the customer-orders outer join must be a real hash join
    (no cartesian / nested-loop) and the histogram agg must partial-
    aggregate before its tiny shuffle."""
    from pigeon_optics_spark.queries.relational import (
        q_order_count_distribution,
    )

    p = plan_of(q_order_count_distribution(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "partial_count" in p  # map-side combine on both agg levels


def test_runtime_bloom_filter_fires_on_shuffle_joins(spark, sf_dir):
    """The incremental-dedup scale path: when the hash-index join is too
    big to broadcast (the 100 TB regime), Spark must inject a runtime
    bloom filter on the probe side (bloom_filter_agg + BloomFilterMight-
    Contain) so the historical index prunes the new snapshot BEFORE the
    shuffle.  Locally every such join broadcasts, so this test forces the
    shuffle shape and pins that the mechanism engages — the conf default
    (spark.sql.optimizer.runtime.bloomFilter.enabled=true) is what the
    dedup_incremental_batch docstring leans on."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            "100MB",
    }
    saved = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:  # noqa: BLE001
            saved[k] = None
        spark.conf.set(k, v)
    try:
        big = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        small = (spark.read.parquet(f"{sf_dir}/orders.parquet")
                 .where(F.col("o_totalprice") > 400000)
                 .select("o_orderkey"))
        j = big.join(small, big["l_orderkey"] == small["o_orderkey"])
        p = plan_of(j)
        assert "bloom_filter_agg" in p
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q19_disjunction_pushes_brand_filter(spark, sf_dir):
    """OR-of-ANDs: Catalyst must extract the common p_brand IN (...)
    conjunct and push it into the part scan (predicate decomposition),
    and the join must stay a hash join."""
    from pigeon_optics_spark.queries.relational import q19_disjunctive_revenue

    p = plan_of(q19_disjunctive_revenue(spark, sf_dir), "formatted")
    pushed = [ln for ln in p.splitlines()
              if "PushedFilters" in ln and "p_brand" in ln]
    assert pushed, p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_domain_blocklist_single_scan_broadcast(spark, sf_dir):
    """URL canonicalization + blocklist check must stay one documents scan
    with a broadcast join — no shuffle of the corpus."""
    from pigeon_optics_spark.queries.pipeline_queries import (
        text_domain_blocklist,
    )

    p = plan_of(text_domain_blocklist(spark, sf_dir))
    assert p.count("FileScan parquet") == 1, p
    assert "BroadcastHashJoin" in p
    assert "Exchange hashpartitioning" not in p


def test_winsorize_is_one_agg_plus_broadcast(spark, sf_dir):
    """Tukey fences: one percentile aggregation broadcast back onto the
    scan — no window, no per-row shuffle of the corpus."""
    from pigeon_optics_spark.queries.pipeline_queries import text_winsorize

    p = plan_of(text_winsorize(spark, sf_dir))
    assert "Window" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p


def test_quality_classifier_one_scan_no_shuffle(spark, sf_dir):
    """Literal-weight inference must stay map-only: one scan, no Exchange,
    no Join (weights are plan literals, not a joined table)."""
    from pigeon_optics_spark.queries.pipeline_queries import (
        text_quality_classifier,
    )

    p = plan_of(text_quality_classifier(spark, sf_dir))
    assert p.count("FileScan parquet") == 1, p
    assert "Exchange" not in p
    assert "Join" not in p


def test_ewma_no_window_one_shuffle(spark, sf_dir):
    """The EWMA fold is an in-row array aggregate after ONE groupBy
    shuffle — no window function, no sort of the whole corpus."""
    from pigeon_optics_spark.queries.events_queries import events_ewma_users

    p = plan_of(events_ewma_users(spark, sf_dir))
    assert "Window" not in p
    assert p.count("Exchange hashpartitioning") <= 1, p


def test_q6_predicates_reach_scan(spark, sf_dir):
    """q6 is the pure predicate-pushdown shape: all three filters
    (shipdate range, discount band, quantity cap) must reach the parquet
    scan as PushedFilters, and the plan is scan → partial agg → 1-row
    final — no join, no window."""
    from pigeon_optics_spark.queries.relational import q6_forecast_revenue

    p = plan_of(q6_forecast_revenue(spark, sf_dir), "formatted")
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert pushed, p
    line = pushed[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in line, (col, line)
    assert "Join" not in p
    assert "Window" not in p


def test_q9_name_filter_prunes_part_before_join(spark, sf_dir):
    """q9's p_name LIKE filter must be pushed into the part scan
    (StringContains) so the join fans out only matching parts, and no
    join degrades to a nested loop."""
    from pigeon_optics_spark.queries.relational import q9_product_type_profit

    p = plan_of(q9_product_type_profit(spark, sf_dir), "formatted")
    pushed = [ln for ln in p.splitlines()
              if "PushedFilters" in ln and "p_name" in ln]
    assert pushed, p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_pq_recon_error_map_only(spark, sf_dir):
    """PQ reconstruction error: literal codebook → ONE corpus scan, no
    join; the only shuffle is the final per-label aggregate."""
    from pigeon_optics_spark.queries.pipeline_queries import (
        emb_pq_recon_error,
    )

    p = plan_of(emb_pq_recon_error(spark, sf_dir))
    assert p.count("FileScan parquet") == 1, p
    assert "Join" not in p


def test_ngram_diversity_one_scan_no_join(spark, sf_dir):
    """distinct-n profile: all three gram families are built in-row from
    ONE documents scan — no join, no window, no per-n rescans."""
    from pigeon_optics_spark.queries.pipeline_queries import (
        text_ngram_diversity,
    )

    p = plan_of(text_ngram_diversity(spark, sf_dir))
    assert p.count("FileScan parquet") == 1, p
    assert "Join" not in p
    assert "Window" not in p


def test_triangle_census_no_cartesian(spark, sf_dir):
    """Degree-oriented triangle enumeration: every join is an equi-join
    (wedge join on the shared source, closing-edge join on (b, c)) — a
    CartesianProduct or broadcast nested loop here would be quadratic in
    the edge count at scale."""
    from pigeon_optics_spark.queries.pipeline_queries import (
        graph_triangle_count,
    )

    p = plan_of(graph_triangle_count(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_rfm_no_window_two_level_agg(spark, sf_dir):
    """RFM census: per-customer agg then cell agg — no window function
    anywhere (fixed thresholds, not ntile), and the corpus-max scalar is
    a broadcast join, not a driver round-trip."""
    from pigeon_optics_spark.queries.relational import q_rfm_segments

    p = plan_of(q_rfm_segments(spark, sf_dir))
    assert "Window" not in p
    assert "CartesianProduct" not in p


def test_q6_style_pushdown_q12_thin_join(spark, sf_dir):
    """Q12 shape: the ship-year band must reach the lineitem scan as
    PushedFilters, and the orders side carries only the two join/pivot
    columns (ReadSchema pruned)."""
    from pigeon_optics_spark.queries.relational import q12_priority_lines

    p = plan_of(q12_priority_lines(spark, sf_dir), "formatted")
    pushed = [ln for ln in p.splitlines()
              if "PushedFilters" in ln and "l_shipdate" in ln]
    assert pushed, p
    orders_schema = [ln for ln in p.splitlines()
                     if "ReadSchema" in ln and "o_orderpriority" in ln]
    assert orders_schema and all("o_totalprice" not in ln
                                 for ln in orders_schema), p


def test_segment_setops_single_scan_pushdown(spark, sf_dir):
    """The r11 single-pass rewrite of q_segment_setops: the literal
    INTERSECT/EXCEPT form planned its two distinct-key inputs twice each
    (8 orders scans, 5 exchanges); the membership-flag form must stay ONE
    orders scan, exactly two exchanges (custkey agg + tiny cohort agg),
    no join, with the 1995-1996 date range pushed into the scan
    (year(col) never pushes down — the range predicate must)."""
    from pigeon_optics_spark.queries.relational import q_segment_setops

    df = q_segment_setops(spark, sf_dir)
    p = plan_of(df, "formatted")
    assert "Join" not in p, p
    simple = plan_of(df)
    # simple mode prints each operator once: exactly one scan, two exchanges
    assert simple.count("Scan parquet") == 1, simple
    assert simple.count("Exchange") <= 2, simple
    pushed = [ln for ln in p.splitlines()
              if "PushedFilters" in ln and "o_orderdate" in ln]
    assert pushed and "GreaterThanOrEqual(o_orderdate" in pushed[0], p


def test_srt_cue_extraction_map_only(spark, sf_dir):
    """SRT cue extraction: synth + parse are chained mapInPandas over ONE
    documents scan — no shuffle, no join; the text column never moves."""
    from pigeon_optics_spark.queries.pipeline_queries import (
        multimodal_srt_cues,
    )

    p = plan_of(multimodal_srt_cues(spark, sf_dir))
    assert p.count("FileScan parquet") == 1, p
    assert "Exchange" not in p, p
    assert "Join" not in p


def test_normalize_clean_jvm_only_no_shuffle(spark, sf_dir):
    """Unicode cleanup: three JVM regexp passes over ONE scan — no
    Exchange, no Python evaluation (the UDF-is-the-slow-path rule holds
    in the plan, not just the docstring)."""
    from pigeon_optics_spark.queries.pipeline_queries import (
        text_normalize_clean,
    )

    p = plan_of(text_normalize_clean(spark, sf_dir))
    assert p.count("FileScan parquet") == 1, p
    assert "Exchange" not in p
    assert "Python" not in p and "ArrowEval" not in p, p


def test_maxsim_broadcast_query_single_corpus_scan(spark, sf_dir):
    """MaxSim late interaction: the 8-row query bag must broadcast (the
    8x fan-out is a join, not a rescan) and the corpus token table is
    scanned once per side of the plan — never per query token."""
    from pigeon_optics_spark.queries.pipeline_queries import (
        emb_maxsim_colbert,
    )

    p = plan_of(emb_maxsim_colbert(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p
    assert p.count("FileScan parquet") <= 2, p
    assert "CartesianProduct" not in p


def test_containment_bucketed_never_all_pairs(spark, sf_dir):
    """Containment join: candidates come from the capped shingle-bucket
    equi-join; nothing may degrade to a cartesian pair expansion."""
    from pigeon_optics_spark.queries.pipeline_queries import (
        dedup_containment,
    )

    p = plan_of(dedup_containment(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_dau_wau_mau_no_range_join(spark, sf_dir):
    """Trailing-distinct via offset explode must stay an equi-join on the
    day grid (broadcast), never a nested-loop range join."""
    from pigeon_optics_spark.queries.events_queries import events_dau_wau_mau

    p = plan_of(events_dau_wau_mau(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_feature_snapshot_single_scan_no_join(spark, sf_dir):
    """Point-in-time features are ONE user-partitioned window over one
    events scan — no self-join of events, no label-side rescan."""
    from pigeon_optics_spark.queries.events_queries import (
        events_feature_snapshot,
    )

    p = plan_of(events_feature_snapshot(spark, sf_dir))
    assert p.count("FileScan") == 1
    assert "Join" not in p


# Gates where BroadcastNestedLoopJoin is the CORRECT plan: a 1-row scalar
# aggregate (grand total / global threshold / quartile fences) or a
# bounded-by-construction query side broadcast against the corpus with no
# equi key.  Audited individually (r5 wave 11); additions need the same
# justification or an equi-join rewrite.
_BNLJ_WHITELIST = {
    "text_mix_weights",      # design-table cross join (|langs| x |temps|)
    "ann_recall_eval",       # bounded query set vs corpus, brute-force tier
    "ann_topk_methods",      # same (brute-force branch)
    "emb_pq_topk",           # ADC scan: broadcast query literals
    "emb_sq8_topk",          # SQ8 code scan: 20-query broadcast, ADC class
    "emb_maxsim_colbert",    # 8-row query bag broadcast
    "q22_idle_balance",      # 1-row global average threshold
    "q11_important_parts",   # 1-row grand-total threshold
    "q_rfm_segments",        # 1-row global stats broadcast
    "q_customer_analytics",  # r6 pack: contains the rfm global-stats scan
    "text_winsorize",        # 1-row quartile-fence broadcast
    "emb_binary_hamming_topk",  # 1-row query sign-words broadcast (r5w14)
    "emb_quantized_reps",    # r6 pack: contains the sq8 + binq ADC scans
}


def test_no_unjustified_cartesian_or_bnlj_suite_wide(spark, sf_dir):
    """Sweep every scan-path gate's physical plan: CartesianProduct is
    never acceptable; BroadcastNestedLoopJoin only in the audited
    whitelist above (scalar/bounded broadcasts).  Catches the classic
    silent-cross-join regression (a dropped join key planning as a
    nested loop over the corpus) suite-wide."""
    from pigeon_optics_spark.queries import all_queries

    skip_prefixes = ("store_", "codec_", "lens_", "reactive_",
                     "attachments_", "pipeline_end_to_end",
                     "events_stream_")
    offenders = []
    for name, (fn, _oracle) in all_queries().items():
        if name.startswith(skip_prefixes):
            continue
        p = plan_of(fn(spark, sf_dir))
        if "CartesianProduct" in p:
            offenders.append((name, "CartesianProduct"))
        elif "BroadcastNestedLoopJoin" in p and name not in _BNLJ_WHITELIST:
            offenders.append((name, "BroadcastNestedLoopJoin"))
    assert not offenders, offenders


def test_wave14_scale_claims(spark, sf_dir):
    """Plan pins for the wave-14 docstring claims — each gate's scale
    story reduced to an assertable physical-plan property."""
    from pigeon_optics_spark.queries.events_queries import (
        events_geohash_density,
        events_time_weighted_avg,
    )
    from pigeon_optics_spark.queries.pipeline_queries import (
        emb_binary_hamming_topk,
        emb_rp_sketch,
        text_robots_filter,
    )

    # geohash: pure JVM bit expressions (zero Python), ONE shuffle (the
    # groupBy) — a UDF or a second Exchange is the regression
    p = plan_of(events_geohash_density(spark, sf_dir))
    assert "Python" not in p and "ArrowEval" not in p
    assert p.count("Exchange") <= 2  # partial/final agg pair max

    # JL sketch: map-only — no Exchange, no join, sign matrix is a literal
    p = plan_of(emb_rp_sketch(spark, sf_dir))
    assert "Exchange" not in p and "Join" not in p

    # binary quantization: broadcast 1-row query + global top-k must plan
    # TakeOrdered, never a global Sort
    p = plan_of(emb_binary_hamming_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in p
    assert "BroadcastNestedLoopJoin" in p  # the audited 1-row broadcast

    # robots: the rules side must BROADCAST (a shuffle join would move
    # the corpus against a 60-row policy table).  The final doc-keyed
    # join-back of per-doc match maxima is corpus-sized on BOTH sides —
    # sort-merge is the correct plan there, so only the rules join is
    # pinned broadcast.
    p = plan_of(text_robots_filter(spark, sf_dir))
    assert "BroadcastHashJoin" in p

    # TWAP: one window pass over the per-user order, then one grouped agg
    p = plan_of(events_time_weighted_avg(spark, sf_dir))
    assert p.count("Window") == 1


def test_morton_key_and_zorder_param_validation(spark):
    """bits=0 silently produced a constant-zero key (one unsorted
    partition instead of a Z-curve layout); num_partitions=0 was treated
    as 'unspecified'.  Both now refuse loudly (review finding)."""
    import pytest

    from pigeon_optics_spark.pipeline.layout import (
        morton_key,
        zorder_repartition,
    )

    with pytest.raises(ValueError, match="bits"):
        morton_key(["a", "b"], bits=0)
    df = spark.range(4).selectExpr("id AS a", "id AS b")
    with pytest.raises(ValueError, match="num_partitions"):
        zorder_repartition(df, ["a", "b"], num_partitions=0)


def test_graph_guards_and_frontier_equivalence(spark):
    """pagerank refuses an empty edge list and treats zero-out-weight
    sources as dangling instead of DIVIDE_BY_ZERO under ANSI; the
    BFS/SSSP frontier optimization must not change results."""
    import pytest

    from pigeon_optics_spark.pipeline.graph import (
        bfs_distances,
        pagerank,
        sssp_distances,
    )

    empty = spark.createDataFrame([], "src long, dst long, weight long")
    with pytest.raises(ValueError, match="empty"):
        pagerank(empty)
    # src 1 has ONLY zero-weight edges: dangling, not a crash
    e = spark.createDataFrame(
        [(1, 2, 0), (2, 3, 5), (3, 2, 5)], "src long, dst long, weight long")
    ranks = {r["node"]: r["rank"] for r in pagerank(e, iters=2).collect()}
    assert set(ranks) == {1, 2, 3}

    # line graph 0-1-2-3-4 with weights: frontier-optimized results equal
    # the brute expectation
    edges = spark.createDataFrame(
        [(i, i + 1, i + 1) for i in range(4)], "u long, v long, w long")
    seeds = spark.createDataFrame([(0,)], "node long")
    bfs = {r["node"]: r["dist"]
           for r in bfs_distances(edges, seeds, max_hops=3).collect()}
    assert bfs == {0: 0, 1: 1, 2: 2, 3: 3}
    sp = {r["node"]: r["dist"]
          for r in sssp_distances(edges, seeds, max_rounds=4).collect()}
    assert sp == {0: 0, 1: 1, 2: 3, 3: 6, 4: 10}


def test_ngram_pairs_probe_spread_and_pair_local_agg(spark, sf_dir):
    """The exact-pair self-join's r12 shape (528 s -> 19 s at sf0.1):

    1. the PROBE side is round-robined to session parallelism BEFORE its
       shingle explode (the quadratic join output otherwise runs inside
       the raw scan's single IO-sized partition);
    2. the pair aggregation stays PAIR-LOCAL — the partial
       HashAggregate sits directly on the join output with no Exchange
       between them, so the ~770M-row explosion collapses in-task (an
       A/B that salted the join key scattered pairs across buckets and
       cost 6x the executor cpu in spilled partial-agg maps);
    3. no cartesian anywhere.
    """
    from pigeon_optics_spark.pipeline.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan_of(ngram_jaccard_pairs(docs))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # (1) the spread: a round-robin exchange exists under a Generate
    assert "RoundRobinPartitioning" in p, p
    # (2) pair locality: between the FIRST (partial) HashAggregate above
    # the pair join and the join itself there must be no Exchange
    lines = p.splitlines()
    join_i = min(i for i, ln in enumerate(lines)
                 if "Join" in ln and "sh#" in ln)
    aggs = [i for i, ln in enumerate(lines) if "HashAggregate" in ln and i < join_i]
    assert aggs, p
    partial_i = max(aggs)  # innermost aggregate above the join
    between = lines[partial_i + 1:join_i]
    assert not any("Exchange" in ln for ln in between), p
