"""MinHash-LSH bucket-cap behavior on a degenerate (boilerplate) corpus.

At web scale one band hash shared by a huge cluster of near-identical
boilerplate docs produces a single quadratic bucket — the cap must bound the
candidate join without losing pairs that share any healthy bucket.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pigeon_optics_spark.pipeline.dedup import (
    exact_dedup,
    lsh_bucket_stats,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    prefix_jaccard_pairs,
)


@pytest.fixture(scope="module")
def boilerplate(spark):
    # 200 identical docs (the degenerate cluster) + one genuine near-dup pair
    # with unique text.  All buckets of the identical cluster have size 200.
    base = "the quick brown fox jumps over the lazy dog " * 5
    rows = [(i, base) for i in range(200)]
    a = "completely unrelated document about spark partitioning strategies and shuffle hash joins in distributed engines"
    b = "completely unrelated document about spark partitioning strategies and shuffle sort joins in distributed engines"
    rows += [(1000, a), (1001, b)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_cap_drops_degenerate_bucket_keeps_real_pair(boilerplate):
    pairs = minhash_lsh_pairs(boilerplate, max_bucket_size=64).collect()
    ids = {(r["id_a"], r["id_b"]) for r in pairs}
    # the quadratic 200-doc cluster is excluded (exact_dedup's job, not LSH's)
    assert all(a >= 1000 for a, _ in ids)
    # the genuine near-dup pair survives via its own small buckets
    assert (1000, 1001) in ids


def test_uncapped_would_be_quadratic(boilerplate):
    # sanity: without the cap the degenerate cluster floods the candidate set
    pairs = minhash_lsh_pairs(boilerplate, max_bucket_size=None).collect()
    assert len(pairs) >= 200 * 199 // 2  # all identical-doc pairs emitted


def test_bucket_stats_reports_drop(boilerplate):
    stats = lsh_bucket_stats(boilerplate, max_bucket_size=64).collect()
    assert len(stats) == 8  # one row per band
    for r in stats:
        assert r["max_bucket"] == 200
        assert r["n_buckets_dropped"] >= 1
        assert r["n_rows_dropped"] >= 200


def test_exact_dedup_catches_what_cap_drops(boilerplate):
    groups = exact_dedup(boilerplate).collect()
    by_count = {r["dup_count"]: r for r in groups}
    assert 200 in by_count  # the boilerplate cluster collapses to one rep


def test_connected_components_chain_and_islands(spark):
    from pigeon_optics_spark.pipeline.dedup import connected_components

    # chain a-b-c-d (one component, min=a), island x-y, pair m-n
    pairs = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("c", "d"), ("x", "y"), ("n", "m")],
        "id_a string, id_b string")
    out = {r["id"]: r["component_id"]
           for r in connected_components(pairs).collect()}
    assert out == {"a": "a", "b": "a", "c": "a", "d": "a",
                   "x": "x", "y": "x", "m": "m", "n": "m"}


def test_connected_components_long_chain_converges(spark, monkeypatch):
    from pigeon_optics_spark.pipeline import dedup

    # 40-node chain: pointer jumping must converge well under max_iter
    # (a cap of -1 sends the graph through the label-propagation loop)
    monkeypatch.setattr(dedup, "CC_COLLECT_MAX", -1)
    pairs = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i+1:02d}") for i in range(39)],
        "id_a string, id_b string")
    rows = dedup.connected_components(pairs, max_iter=10).collect()
    assert len(rows) == 40
    assert {r["component_id"] for r in rows} == {"n00"}


def test_connected_components_loop_raises_when_unconverged(spark,
                                                          monkeypatch):
    """A 40-node chain needs more than 2 pointer-jumping rounds: the loop
    raises at ``max_iter`` instead of returning unconverged components."""
    from pigeon_optics_spark.pipeline import dedup

    monkeypatch.setattr(dedup, "CC_COLLECT_MAX", -1)
    pairs = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i+1:02d}") for i in range(39)],
        "id_a string, id_b string")
    with pytest.raises(RuntimeError, match="max_iter=2"):
        dedup.connected_components(pairs, max_iter=2)


def _components(monkeypatch, pairs, cap=None):
    """``connected_components``, with ``CC_COLLECT_MAX`` set to ``cap``
    unless None → (id → component_id, output schema)."""
    from pigeon_optics_spark.pipeline import dedup

    if cap is not None:
        monkeypatch.setattr(dedup, "CC_COLLECT_MAX", cap)
    out = dedup.connected_components(pairs)
    return {r["id"]: r["component_id"] for r in out.collect()}, out.schema


def _random_graph(seed, n_nodes=60, n_edges=45):
    import random

    rng = random.Random(seed)
    ids = rng.sample(range(1 << 40, (1 << 40) + 10_000), n_nodes)
    return [tuple(rng.sample(ids, 2)) for _ in range(n_edges)]


@pytest.mark.parametrize("rows, ddl, want", [
    pytest.param([(f"n{i:02d}", f"n{i+1:02d}") for i in range(39)],
                 "id_a string, id_b string",
                 {f"n{i:02d}": "n00" for i in range(40)}, id="chain40"),
    pytest.param(_random_graph(5), "id_a long, id_b long", None,
                 id="random-long"),
    # the same graph under string ids: the smallest member is the
    # lexicographically smallest, not the numerically smallest
    pytest.param([(f"d{a}", f"d{b}") for a, b in _random_graph(5)],
                 "id_a string, id_b string", None, id="random-string"),
    pytest.param([], "id_a long, id_b long", {}, id="empty"),
    # a NULL endpoint is not an edge: (NULL, 3) and (4, NULL) add nothing
    pytest.param([(None, 3), (4, None), (2, 1)], "id_a long, id_b long",
                 {1: 1, 2: 1}, id="null-endpoints"),
])
def test_connected_components_driver_matches_loop(spark, monkeypatch, rows,
                                                  ddl, want):
    """The driver-side union-find and the label-propagation loop (forced
    by a cap of -1, which sends even an empty graph through it) return the
    same components with the same id type."""
    pairs = spark.createDataFrame(rows, ddl)
    driver, driver_schema = _components(monkeypatch, pairs)
    loop, loop_schema = _components(monkeypatch, pairs, -1)
    assert driver == loop
    assert ([f.dataType for f in driver_schema]
            == [f.dataType for f in loop_schema]
            == [pairs.schema["id_a"].dataType] * 2)
    if want is None:  # the random graphs: a Python union-find replica
        parent = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                x = parent[x]
            return x

        for a, b in rows:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
        want = {x: find(x) for x in parent}
        assert len(set(want.values())) > 5  # a graph of several components
    assert driver == want


def test_deterministic_sample_partition_invariant(spark):
    from pigeon_optics_spark.pipeline.text import deterministic_sample

    df = spark.range(2000).select(F.col("id").alias("doc_id"))
    a = {r["doc_id"] for r in deterministic_sample(df, 0.3).collect()}
    b = {r["doc_id"] for r in
         deterministic_sample(df.repartition(13), 0.3).collect()}
    assert a == b            # unlike df.sample, repartitioning changes nothing
    assert 0.2 < len(a) / 2000 < 0.4
    # salt gives an independent sample
    c = {r["doc_id"] for r in deterministic_sample(df, 0.3, salt="other").collect()}
    assert c != a


def test_tfidf_top_terms_tiny(spark):
    from pigeon_optics_spark.pipeline.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "banana cherry"), (3, "cherry date")],
        "doc_id int, text string")
    out = tfidf_top_terms(docs, top_k=1).collect()
    top = {r["doc_id"]: (r["term"], r["tf"], r["doc_freq"]) for r in out}
    # doc 1: apple tf=2 df=1 → score 2*(4/2)=4 beats banana 1*(4/3)
    assert top[1] == ("apple", 2, 1)
    # doc 3: date tf=1 df=1 (2.0) beats cherry 1*(4/3)
    assert top[3] == ("date", 1, 1)


def test_semantic_dedup_small_corpus_and_exact_copy(spark):
    """Corpus smaller than k, one exact duplicate pair: the copy (larger
    id) drops, everything else survives; identical vectors share a cell."""
    from pigeon_optics_spark.pipeline.dedup import semantic_dedup

    rows = [(0, [1.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 0.0]),
            (2, [1.0, 0.0, 0.0]),   # exact copy of 0
            (3, [0.0, 0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in
           semantic_dedup(df, k=8, threshold=0.95).collect()}
    assert len(out) == 4
    assert not out[0]["is_dup"] and out[2]["is_dup"]
    assert out[0]["centroid"] == out[2]["centroid"]
    assert not out[1]["is_dup"] and not out[3]["is_dup"]


def test_semantic_dedup_orthogonal_corpus_drops_nothing(spark):
    from pigeon_optics_spark.pipeline.dedup import semantic_dedup

    rows = [(i, [1.0 if j == i else 0.0 for j in range(4)])
            for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semantic_dedup(df, k=2, threshold=0.5).collect()
    assert len(out) == 4 and not any(r["is_dup"] for r in out)


# ---------------------------------------------------------------------------
# fuzzy_pairs: prefix-blocked edit-distance matching
# ---------------------------------------------------------------------------

def _fuzzy_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_fuzzy_pairs_finds_small_edits(spark):
    from pigeon_optics_spark.pipeline.dedup import fuzzy_pairs

    base = "the quick brown fox jumps over the lazy dog again"
    rows = [(0, base),
            (1, base),                         # exact dup → dist 0
            (2, base[:20] + base[23:]),        # 3-char deletion after prefix
            (3, base[:20] + "XY" + base[20:]), # 2-char insertion
            (4, "completely different text here that shares nothing")]
    out = {(r["id_a"], r["id_b"]): r["dist"]
           for r in fuzzy_pairs(_fuzzy_df(spark, rows)).collect()}
    assert out[(0, 1)] == 0
    assert out[(0, 2)] == 3 and out[(1, 2)] == 3
    assert out[(0, 3)] == 2
    assert not any(4 in p for p in out)


def test_fuzzy_pairs_documented_recall_caveat(spark):
    # an edit INSIDE the 16-char block prefix moves the pair to different
    # blocks — documented miss, pinned here so the contract stays honest
    from pigeon_optics_spark.pipeline.dedup import fuzzy_pairs

    base = "the quick brown fox jumps over the lazy dog"
    rows = [(0, base), (1, "thX" + base[3:])]
    assert fuzzy_pairs(_fuzzy_df(spark, rows)).collect() == []


def test_fuzzy_pairs_length_band_prunes(spark):
    from pigeon_optics_spark.pipeline.dedup import fuzzy_pairs

    base = "the quick brown fox jumps over the lazy dog"
    rows = [(0, base), (1, base + " plus a long extra tail of words")]
    # same block, but length differs by > max_dist → pruned before any
    # levenshtein evaluation
    assert fuzzy_pairs(_fuzzy_df(spark, rows)).collect() == []


def test_fuzzy_pairs_plan_is_equi_join(spark):
    from pigeon_optics_spark.pipeline.dedup import fuzzy_pairs

    df = _fuzzy_df(spark, [(i, f"prefix shared {i} words etc") for i in range(10)])
    plan = (fuzzy_pairs(df)._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_strict_rate_limit_vs_python_replica(spark):
    """Strict (last-KEPT) semantics differ from gap-based lag: a burst at
    1-minute spacing keeps one event per 5-minute window, not just the
    first.  Verified against a sequential Python replica."""
    import datetime as dt

    from pigeon_optics_spark.pipeline.dedup import strict_rate_limit

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # user 1: burst every 60s for 20 minutes -> keeps minutes 0,5,10,15,20
    for m in range(21):
        rows.append((eid, 1, "view", base + dt.timedelta(minutes=m))); eid += 1
    # user 2: exactly-at-gap boundary events (>= keeps)
    for m in (0, 5, 10):
        rows.append((eid, 2, "view", base + dt.timedelta(minutes=m))); eid += 1
    # same user, different type: independent state
    rows.append((eid, 1, "click", base)); eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp")
    got = {r["event_id"]: r["keep"]
           for r in strict_rate_limit(df, gap_us=300_000_000).collect()}

    # python replica
    from collections import defaultdict
    last = {}
    expect = {}
    for eid_, uid, et, ts in sorted(rows, key=lambda r: (r[3], r[0])):
        k = (uid, et)
        t = ts.timestamp() * 1e6
        ok = k not in last or t - last[k] >= 300e6
        if ok:
            last[k] = t
        expect[eid_] = ok
    assert got == expect
    # strict vs gap-based: burst keeps 5 events (0,5,10,15,20 min), the
    # gap rule would keep only minute 0
    kept_u1 = [e for e, k in got.items() if k and e <= 20]
    assert len(kept_u1) == 5


def test_strict_rate_limit_rejects_non_timestamp(spark):
    import pytest as _pytest

    from pigeon_optics_spark.pipeline.dedup import strict_rate_limit

    df = spark.createDataFrame(
        [(1, 1, "v", 100.5)],
        "event_id long, user_id long, event_type string, ts double")
    with _pytest.raises(Exception, match="timestamp"):
        strict_rate_limit(df).collect()


def _word_trigrams(text):
    toks = [w.lower() for w in (text or "").split()]
    if len(toks) < 3:
        return {" ".join(toks)} if toks else set()
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


def _char5(text):
    # NULL text never joins; shorter texts are their own single shingle
    if text is None:
        return set()
    return {text[i:i + 5] for i in range(max(len(text) - 4, 1))}


def _prefix_rows(df):
    return {(r["doc_a"], r["doc_b"], r["inter"], r["uni"])
            for r in prefix_jaccard_pairs(df).collect()}


def _ngram_rows(df):
    rows = set()
    for r in ngram_jaccard_pairs(df).collect():
        uni = round(r["n_common"] / r["jaccard"])
        assert r["jaccard"] == r["n_common"] / uni
        rows.add((r["id_a"], r["id_b"], r["n_common"], uni))
    return rows


@pytest.mark.parametrize("shingles, pairs, num, den, on_threshold", [
    pytest.param(_word_trigrams, _prefix_rows, 3, 5, (30, 31, 3, 5),
                 id="trigram"),
    pytest.param(_char5, _ngram_rows, 1, 2, (32, 33, 2, 4), id="char5"),
])
def test_prefix_jaccard_complete_vs_bruteforce(spark, shingles, pairs, num,
                                               den, on_threshold):
    """The exact join must lose NOTHING, on either shingler: every pair
    with shingle-set Jaccard >= num/den found by brute force must appear,
    with its exact counts (exactness is the operator's whole claim vs
    MinHash-LSH), including a pair sitting exactly ON the threshold."""
    import itertools
    import random

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(30)]
    base = [rng.choice(vocab) for _ in range(40)]
    docs = []
    for i in range(24):
        toks = list(base)
        for _ in range(rng.randrange(0, 18)):  # graded perturbation
            toks[rng.randrange(len(toks))] = rng.choice(vocab)
        docs.append((i, " ".join(toks)))
    docs.append((24, "tiny doc"))          # < 3 tokens branch
    docs.append((25, "tiny doc"))          # its exact duplicate
    docs += [(26, ""), (27, "   "), (28, None)]  # no word trigrams
    # Jaccard exactly 3/5 on word trigrams and exactly 1/2 on char-5
    docs.append((30, "e1 e2 e3 e4 e5 e6"))
    docs.append((31, "e1 e2 e3 e4 e5 ex"))
    docs.append((32, "abcdefg"))
    docs.append((33, "abcdefx"))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    want = set()
    sets = {i: shingles(t) for i, t in docs}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        uni = len(sets[a] | sets[b])
        if inter and den * inter >= num * uni:
            want.add((a, b, inter, uni))
    got = pairs(df)
    assert got == want
    assert on_threshold in got
    # the short-doc duplicate pair surfaced
    assert any(a == 24 and b == 25 and i == u for a, b, i, u in got)
    # empty/whitespace/NULL docs never pair, not even with each other
    # (oracle-parity: a '' trigram would pair them in Spark while
    # DuckDB's NULL aggregate silently dropped them)
    assert not any({a, b} & {26, 27, 28} for a, b, _, _ in got)


def test_word_trigram_set_matches_python_reference(spark, sf_dir):
    """``word_trigram_set`` against ``_word_trigrams`` on the edge cases
    of its short-doc and tokenizer branches and on the sf corpus."""
    from pigeon_optics_spark.pipeline.dedup import word_trigram_set

    edge = [None, "", "   ", "one", "Two words", "three Word doc",
            "  padded\t text \n with   runs  of\twhitespace ",
            "MiXeD cAsE mixed CASE Mixed case"]
    df = spark.createDataFrame(list(enumerate(edge)),
                               "doc_id long, text string")
    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text")
    rows = (df.unionByName(corpus)
            .select("doc_id", "text", word_trigram_set("text").alias("ws"))
            .collect())
    assert len(rows) > len(edge)
    for r in rows:
        assert len(r["ws"]) == len(set(r["ws"])), r["doc_id"]
        assert set(r["ws"]) == _word_trigrams(r["text"]), r["doc_id"]


def test_prefix_jaccard_bucket_cap_bounds_join(spark):
    """A fully-duplicated corpus puts every doc in every shingle's
    bucket: the exact join still verifies all C(10,2) identical pairs."""
    df = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon") for i in range(10)],
        "doc_id long, text string")
    assert prefix_jaccard_pairs(df).count() == 45


def test_prefix_jaccard_no_cartesian(spark):
    """Candidate generation must stay an equi-join on the shingle."""
    from pigeon_optics_spark.pipeline.dedup import prefix_jaccard_pairs
    from tests.test_plans import plan_of

    df = spark.createDataFrame([(i, f"a b c d{i}") for i in range(5)],
                               "doc_id long, text string")
    p = plan_of(prefix_jaccard_pairs(df))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_bloom_no_false_negatives_and_fp_labeled(spark):
    """The Bloom contract: every inserted key probes maybe=True (no false
    negatives, structurally guaranteed — bit_or only ever sets bits); a
    disjoint probe set at dense sizing shows SOME false positives but
    never all-positive (the filter carries signal)."""
    from pigeon_optics_spark.pipeline.dedup import bloom_build, bloom_probe

    members = spark.createDataFrame(
        [(f"key-{i}",) for i in range(200)], "key string")
    strangers = spark.createDataFrame(
        [(f"other-{i}",) for i in range(200)], "key string")
    m_bits = 4 * 200
    words = bloom_build(members, "key", m_bits)
    got = bloom_probe(members, "key", words, m_bits).collect()
    assert all(r["maybe_seen"] for r in got)  # no false negatives
    sgot = [r["maybe_seen"] for r in bloom_probe(
        strangers, "key", words, m_bits).collect()]
    assert any(sgot) and not all(sgot)  # FPs exist at 4 bits/key; TNs too


def test_bloom_probe_broadcasts_words(spark):
    """Probe plan: word lookups are broadcast joins (the filter is always
    small relative to the probe corpus) — no shuffle of the probe side,
    no cartesian."""
    from pigeon_optics_spark.pipeline.dedup import bloom_build, bloom_probe
    from tests.test_plans import plan_of

    df = spark.createDataFrame([(f"k{i}",) for i in range(50)], "key string")
    words = bloom_build(df, "key", 256)
    p = plan_of(bloom_probe(df, "key", words, 256))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


class TestCdcChunks:
    def test_rolling_equals_windowed_sum_and_roundtrip(self):
        """The O(n) rolling hash equals the state-free 16-step windowed
        sum the SQL oracle uses, and chunks concatenate back to the
        text."""
        from pigeon_optics_spark.pipeline.dedup import cdc_chunks

        t = "".join(chr(33 + (i * 7919) % 90) for i in range(500))
        cs = cdc_chunks(t)
        assert "".join(cs) == t
        # windowed-sum replica of the boundary predicate
        g = [(ord(c) * 2654435761) % (1 << 16) for c in t]
        bounds = []
        for i in range(len(t)):
            h = sum(g[j] * (1 << (i - j))
                    for j in range(max(0, i - 15), i + 1)) % (1 << 16)
            if h % 32 == 0:
                bounds.append(i)
        want, start = [], 0
        for b in bounds:
            want.append(t[start:b + 1])
            start = b + 1
        if start < len(t):
            want.append(t[start:])
        assert cs == want

    def test_shift_realignment(self):
        """An inserted prefix shifts every offset, yet downstream chunks
        re-align — the content-defined property fixed chunking lacks."""
        from pigeon_optics_spark.pipeline.dedup import cdc_chunks

        import hashlib

        # aperiodic text (a periodic generator collapses the distinct
        # chunk set and voids the shared-count assertion)
        stream = b"".join(hashlib.sha256(bytes([i])).digest()
                          for i in range(16))
        t = "".join(chr(97 + byte % 26) for byte in stream)[:400]
        a, b = cdc_chunks(t), cdc_chunks("zq" + t)
        shared = set(a) & set(b)
        assert len(shared) >= len(a) // 2, (len(shared), len(a))
        # fixed 32-char chunking shares nothing after a 2-char shift
        fixed_a = {t[i:i + 32] for i in range(0, len(t), 32)}
        fixed_b = {("zq" + t)[i:i + 32]
                   for i in range(0, len("zq" + t), 32)}
        assert not (fixed_a & fixed_b)

    def test_unicode_codepoints(self):
        from pigeon_optics_spark.pipeline.dedup import cdc_chunks

        t = "中文字符串测试" * 20
        cs = cdc_chunks(t)
        assert "".join(cs) == t and len(cs) >= 1


def test_canonical_url_adversarial(spark):
    """canonical_url_col edge semantics: root path, tracking-only query,
    duplicate param keys kept (sorted), empty params dropped, case
    preserved in path and query values, no percent-decoding."""
    from pyspark.sql import functions as F

    from pigeon_optics_spark.pipeline.dedup import canonical_url_col

    cases = [
        ("https://example.com", "https://example.com"),
        ("https://example.com/", "https://example.com"),
        ("HTTP://WWW.Example.COM:80/#top", "http://example.com"),
        ("https://example.com/a//b///c/", "https://example.com/a/b/c"),
        ("https://example.com/x?utm_source=a&utm_medium=b",
         "https://example.com/x"),
        ("https://example.com/x?b=2&a=1&a=10",
         "https://example.com/x?a=1&a=10&b=2"),
        ("https://example.com/x?a=1&&b=2",
         "https://example.com/x?a=1&b=2"),
        ("https://example.com/CaseSensitive/Path?q=MixedCase",
         "https://example.com/CaseSensitive/Path?q=MixedCase"),
        ("https://example.com/p%2Fq?x=%20y",
         "https://example.com/p%2Fq?x=%20y"),
        ("https://example.com/x?gclid=abc&fbclid=def&real=1",
         "https://example.com/x?real=1"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r["c"] for r in
           df.select(canonical_url_col("url").alias("c")).collect()]
    for (u, want), g in zip(cases, got):
        assert g == want, (u, g, want)


def test_warm_repeats_reuse_generated_code(spark):
    """A warm dedup pass must find its generated classes in Spark's
    compiled-class cache.  One minhash → prefix → components pass needs
    ~170-190 distinct classes; at Spark's default capacity of 100 the LRU
    evicts each before its next use and every repeat recompiles nearly
    all of them.

    AQE is off for the three runs: it numbers whole-stage classes in the
    order concurrent query stages finish, so identical code can come back
    under a new class name and miss the cache for reasons unrelated to
    its capacity."""
    import random

    from pigeon_optics_spark.pipeline.dedup import (
        connected_components,
        prefix_jaccard_pairs,
    )
    from pigeon_optics_spark.session import codegen_counters

    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 1000

    # six clusters of five lightly perturbed 30-word docs
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    docs = []
    for c in range(6):
        base = [rng.choice(vocab) for _ in range(30)]
        for j in range(5):
            toks = list(base)
            for _ in range(rng.randrange(0, 4)):
                toks[rng.randrange(len(toks))] = rng.choice(vocab)
            docs.append((c * 10 + j, " ".join(toks)))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    compiles, results = [], []
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for _ in range(3):
            before = codegen_counters(spark)[0]
            mh = minhash_lsh_pairs(df).select("id_a", "id_b")
            pj = prefix_jaccard_pairs(df).select("doc_a", "doc_b")
            comps = connected_components(mh.union(pj)).collect()
            results.append(sorted(map(tuple, comps)))
            compiles.append(codegen_counters(spark)[0] - before)
            spark.catalog.clearCache()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert results[0] == results[1] == results[2]
    assert len({c for _, c in results[0]}) >= 6
    assert compiles[2] <= 0.1 * compiles[0], compiles
