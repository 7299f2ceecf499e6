"""Pipeline-operator queries for the correctness gate: text analysis, dedup,
similarity search, multimodal plumbing (BASELINE.json north_star operators).

Every hash construction is md5-based so the DuckDB oracle reproduces results
exactly; floating-point reductions are sequential array folds (verified
bit-identical across engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..pipeline.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash64,
)
from ..pipeline.similarity import cosine_topk, lsh_bucketed_topk
from ..pipeline.text import (
    deterministic_sample,
    tfidf_top_terms,
    STOPWORDS,
    TOKEN_RE,
    fingerprint,
    lang_id,
    quality_score,
    token_count,
    words_col,
)
from . import register
from ._util import dsum, load, ordered_pairs_col, pack_oracle, pack_union

_STOPLIST_SQL = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


# --------------------------------------------------------------------------
# text analysis
# --------------------------------------------------------------------------


def text_quality_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return quality_score(docs).select(
        "doc_id", "char_len", "word_count", "distinct_words",
        "stopword_ratio", "punct_ratio", "avg_word_len", "quality_score",
    )


_QUALITY_ORACLE = f"""
WITH w AS (
  SELECT doc_id, text,
         LENGTH(text) AS char_len,
         list_filter(string_split_regex(TRIM(text), '\\s+'), x -> x <> '') AS words
  FROM documents
),
s AS (
  SELECT doc_id, char_len,
         len(words) AS word_count,
         len(list_distinct(words)) AS distinct_words,
         CAST(len(list_filter(words, x -> list_contains({_STOPLIST_SQL}, lower(x)))) AS DOUBLE)
           / GREATEST(len(words), 1) AS stopword_ratio,
         CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
           / GREATEST(char_len, 1) AS punct_ratio,
         CAST(char_len AS DOUBLE) / GREATEST(len(words), 1) AS avg_word_len
  FROM w
)
SELECT doc_id, char_len, word_count, distinct_words, stopword_ratio,
       punct_ratio, avg_word_len,
       CASE WHEN word_count BETWEEN 10 AND 100000 THEN 0.4 ELSE 0.0 END
       + LEAST(stopword_ratio * 4.0, 1.0) * 0.3
       + LEAST((CAST(distinct_words AS DOUBLE) / GREATEST(word_count, 1)) * 2.0, 1.0) * 0.3
         AS quality_score
FROM s
"""

# registered via the merged text_profile gate (r4) — see below


def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return token_count(docs).select("doc_id", "n_chars", "n_tokens")


_TOKENS_ORACLE = f"""
SELECT doc_id, n_chars, len(regexp_extract_all(text, '{TOKEN_RE}')) AS n_tokens
FROM documents
"""

# registered via the merged text_profile gate (r4) — see below


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return lang_id(docs).select(
        "doc_id", "lang", "score_en", "score_es", "score_de", "score_fr",
        "score_zh", "predicted_lang",
    )


_LANGID_ORACLE = """
WITH w AS (
  SELECT doc_id, lang, text,
         list_transform(list_filter(string_split_regex(TRIM(text), '\\s+'), x -> x <> ''),
                        x -> lower(x)) AS words
  FROM documents
),
s AS (
  SELECT doc_id, lang,
    len(list_filter(words, x -> list_contains(['the','and','of','is'], x))) AS score_en,
    len(list_filter(words, x -> list_contains(['el','la','de','que'], x))) AS score_es,
    len(list_filter(words, x -> list_contains(['der','die','und','nicht'], x))) AS score_de,
    len(list_filter(words, x -> list_contains(['le','la','et','les'], x))) AS score_fr,
    LENGTH(text) - LENGTH(regexp_replace(text, '[\\x{4e00}-\\x{9fff}]', '', 'g')) AS score_zh
  FROM w
)
SELECT doc_id, lang, score_en, score_es, score_de, score_fr, score_zh,
       CASE WHEN GREATEST(score_en, score_es, score_de, score_fr, score_zh) <= 0 THEN 'unknown'
            WHEN score_en = GREATEST(score_en, score_es, score_de, score_fr, score_zh) THEN 'en'
            WHEN score_es = GREATEST(score_en, score_es, score_de, score_fr, score_zh) THEN 'es'
            WHEN score_de = GREATEST(score_en, score_es, score_de, score_fr, score_zh) THEN 'de'
            WHEN score_fr = GREATEST(score_en, score_es, score_de, score_fr, score_zh) THEN 'fr'
            ELSE 'zh' END AS predicted_lang
FROM s
"""

# registered via the merged text_profile gate (r4) — see below


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return fingerprint(docs).select("doc_id", "fingerprint")


_FP_ORACLE = """
SELECT doc_id,
       list_min(list_transform(range(1, GREATEST(LENGTH(text) - 7, 1) + 1),
                               i -> md5(substr(text, CAST(i AS INT), 8)))) AS fingerprint
FROM documents
"""

# registered via the merged text_profile gate (r4) — see below


def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged gate (r4): the former ``text_quality_documents`` +
    ``text_token_count`` + ``text_langid`` + ``text_fingerprint`` columns in
    ONE driver slot — all four operators remain individually value-hashed
    (each contributes its own columns).  The merged plan is strictly better
    than four gates: one scan of ``documents``, one map pass (the four
    operators compose as column expressions — zero shuffle, zero join)."""
    docs = load(spark, sf_dir, "documents")
    df = fingerprint(lang_id(token_count(quality_score(docs))))
    return df.select(
        "doc_id", "char_len", "word_count", "distinct_words",
        "stopword_ratio", "punct_ratio", "avg_word_len", "quality_score",
        "n_chars", "n_tokens",
        "lang", "score_en", "score_es", "score_de", "score_fr", "score_zh",
        "predicted_lang", "fingerprint",
    )


_PROFILE_ORACLE = f"""
SELECT q.doc_id, q.char_len, q.word_count, q.distinct_words,
       q.stopword_ratio, q.punct_ratio, q.avg_word_len, q.quality_score,
       t.n_chars, t.n_tokens,
       l.lang, l.score_en, l.score_es, l.score_de, l.score_fr, l.score_zh,
       l.predicted_lang, f.fingerprint
FROM ({_QUALITY_ORACLE}) q
JOIN ({_TOKENS_ORACLE}) t USING (doc_id)
JOIN ({_LANGID_ORACLE}) l USING (doc_id)
JOIN ({_FP_ORACLE}) f USING (doc_id)
"""

register("text_profile", text_profile, _PROFILE_ORACLE)


def text_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 25% corpus sample — same rows on every engine/run
    (md5-threshold keep rule; pipeline.text.deterministic_sample)."""
    docs = load(spark, sf_dir, "documents")
    return (deterministic_sample(docs, 0.25, "doc_id")
            .select("doc_id", F.length("text").alias("text_len")))


#: int(0.25 * 2**60) — the sampler's exact integer threshold for rate=0.25
_SAMPLE_ORACLE = f"""
SELECT doc_id, LENGTH(text) AS text_len
FROM documents
WHERE ('0x' || substr(md5('po' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      < {int(0.25 * (1 << 60))}
"""

# registered via the merged text_samples gate (r4) — see text_stratified_sample


def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per doc, rational-idf tf·idf (see
    pipeline.text.tfidf_top_terms for why idf is (N+1)/(df+1), not ln)."""
    docs = load(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, top_k=3)


_TFIDF_ORACLE = """
WITH words AS (
  SELECT doc_id, w AS term
  FROM (SELECT doc_id,
               unnest(string_split_regex(trim(text), '\\s+')) AS w
        FROM documents)
  WHERE w <> ''
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM words GROUP BY doc_id, term),
dfreq AS (SELECT term, COUNT(*) AS doc_freq FROM tf GROUP BY term),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.doc_freq,
         CAST(tf.tf AS DOUBLE)
         * (CAST((SELECT n_docs FROM n) + 1 AS DOUBLE)
            / CAST(dfreq.doc_freq + 1 AS DOUBLE)) AS score
  FROM tf JOIN dfreq USING (term)
)
SELECT doc_id, term, tf, doc_freq, score, rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term ASC) AS rank
      FROM scored)
WHERE rank <= 3
"""

register("text_tfidf_top_terms", text_tfidf_top_terms, _TFIDF_ORACLE)


# --------------------------------------------------------------------------
# dedup
# --------------------------------------------------------------------------


def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(load(spark, sf_dir, "documents"))


_EXACT_ORACLE = """
SELECT md5(text) AS content_hash, MIN(doc_id) AS rep_id, COUNT(*) AS dup_count
FROM documents GROUP BY md5(text)
"""

register("dedup_exact_documents", dedup_exact_documents, _EXACT_ORACLE)


def dedup_ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(load(spark, sf_dir, "documents"), num=1, den=2)


_NGRAM_ORACLE = """
WITH sh AS (
  SELECT doc_id AS id,
         list_distinct(list_transform(range(1, GREATEST(LENGTH(text) - 4, 1) + 1),
                                      i -> substr(text, CAST(i AS INT), 5))) AS shingles
  FROM documents
),
ex AS (SELECT id, unnest(shingles) AS sh FROM sh),
sizes AS (SELECT id, len(shingles) AS n_shingles FROM sh),
common AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
  FROM ex a JOIN ex b ON a.sh = b.sh AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b, n_common,
       CAST(n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_common) AS jaccard
FROM common
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE CAST(n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_common) >= 0.5
"""

register("dedup_ngram_pairs", dedup_ngram_pairs, _NGRAM_ORACLE)


def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(load(spark, sf_dir, "documents"))


_MINHASH_ORACLE = """
WITH sh AS (
  SELECT doc_id AS id, text,
         list_distinct(list_transform(range(1, GREATEST(LENGTH(text) - 4, 1) + 1),
                                      i -> substr(text, CAST(i AS INT), 5))) AS shingles
  FROM documents
),
ab AS (
  SELECT id, shingles,
         list_transform(shingles, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS ha,
         list_transform(shingles, s -> ('0x' || substr(md5(s), 17, 14))::BIGINT) AS hb
  FROM sh
),
sig AS (
  SELECT id, shingles,
         list_transform(range(0, 64),
           i -> list_min(list_transform(range(1, len(ha) + 1),
             j -> (ha[CAST(j AS INT)] + i * hb[CAST(j AS INT)]) % 2305843009213693951))) AS sig
  FROM ab
),
banded_raw AS (
  SELECT id, CAST(b AS INT) AS band_id,
         md5(array_to_string(list_transform(sig[CAST(b AS INT)*4+1 : CAST(b AS INT)*4+4],
                                            x -> CAST(x AS VARCHAR)), '|')) AS band_hash
  FROM sig, (SELECT unnest(range(0, 8)) AS b)
),
-- bucket cap (mirrors max_bucket_size=64): degenerate band buckets are
-- dropped before the candidate join
small_buckets AS (
  SELECT band_id, band_hash FROM banded_raw
  GROUP BY band_id, band_hash HAVING COUNT(*) <= 64
),
banded AS (
  SELECT banded_raw.* FROM banded_raw
  JOIN small_buckets USING (band_id, band_hash)
),
cands AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.id < b.id
),
survivors AS (
  SELECT id_a, id_b
  FROM cands
  JOIN sig ga ON ga.id = id_a
  JOIN sig gb ON gb.id = id_b
  WHERE len(list_filter(range(1, 65),
            j -> ga.sig[CAST(j AS INT)] = gb.sig[CAST(j AS INT)])) >= 32
)
SELECT id_a, id_b,
       CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
       / (len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles)))
         AS jaccard
FROM survivors
JOIN sh sa ON sa.id = id_a
JOIN sh sb ON sb.id = id_b
WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
      / (len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles))) >= 0.5
"""

register("dedup_minhash_pairs", dedup_minhash_pairs, _MINHASH_ORACLE)


def dedup_minhash_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: minhash pairs → connected components → one
    (doc_id, component_id) row per doc that has at least one near-dup.
    component_id = smallest member under the id column's ordering (the canonical doc a
    dedup pass would keep).  The iterative min-label/pointer-jump algorithm
    is in pipeline.dedup.connected_components; the oracle replays it as a
    DuckDB recursive CTE (transitive closure + MIN — fine at oracle scale,
    the Spark side is the log-round scale path)."""
    from ..pipeline.dedup import connected_components

    pairs = minhash_lsh_pairs(load(spark, sf_dir, "documents"))
    return (connected_components(pairs)
            .select(F.col("id").alias("doc_id"), "component_id"))


_COMPONENTS_ORACLE = _MINHASH_ORACLE.replace(
    "SELECT id_a, id_b,", "SELECT id_a, id_b FROM (SELECT id_a, id_b,",
    1).replace("WITH sh AS (", "WITH RECURSIVE sh AS (", 1) + """
) pairs_q
"""
# splice the recursive closure on top of the pair query
_COMPONENTS_ORACLE = """
WITH RECURSIVE final_pairs AS (
""" + _COMPONENTS_ORACLE.replace("WITH RECURSIVE sh AS (", "WITH sh AS (", 1) + """
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM final_pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM final_pairs
),
nodes AS (SELECT DISTINCT a AS node FROM edges),
reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT reach.node, e.b FROM reach JOIN edges e ON e.a = reach.r
)
SELECT node AS doc_id, MIN(r) AS component_id FROM reach GROUP BY node
"""

register("dedup_minhash_components", dedup_minhash_components,
         _COMPONENTS_ORACLE)


def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup REMOVAL (the operation a training-data pipeline
    actually runs): minhash pairs → connected components → keep the
    canonical (smallest-id) member of each cluster, pass every unique doc
    through.  → (doc_id, component_id|null, kept).  The component frame
    holds only docs with ≥1 near-dup (≪ corpus), left-joined back onto the
    corpus on doc_id — at 100 TB that join broadcasts or AQE-plans; nothing
    here is all-pairs."""
    from ..pipeline.dedup import connected_components

    docs = load(spark, sf_dir, "documents")
    comp = (connected_components(minhash_lsh_pairs(docs))
            .select(F.col("id").alias("doc_id"), "component_id"))
    return (docs.select("doc_id").join(comp, "doc_id", "left")
            .select(
                "doc_id", "component_id",
                (F.col("component_id").isNull()
                 | (F.col("component_id") == F.col("doc_id"))).alias("kept")))


_SURVIVORS_ORACLE = _COMPONENTS_ORACLE.replace(
    "SELECT node AS doc_id, MIN(r) AS component_id FROM reach GROUP BY node",
    """,
comp AS (SELECT node AS doc_id, MIN(r) AS component_id
         FROM reach GROUP BY node)
SELECT d.doc_id, c.component_id,
       (c.component_id IS NULL OR c.component_id = d.doc_id) AS kept
FROM documents d LEFT JOIN comp c USING (doc_id)""")

register("dedup_survivors", dedup_survivors, _SURVIVORS_ORACLE)


def dedup_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash64(load(spark, sf_dir, "documents"))


_SIMHASH_ORACLE = """
WITH tokens AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[A-Za-z0-9]+')) AS tok
  FROM documents
),
bits AS (
  SELECT doc_id, b,
         SUM(CASE WHEN (CAST(FLOOR(CAST(strpos('0123456789abcdef',
                     substr(md5(tok), CAST(1 + b // 4 AS INT), 1)) - 1 AS DOUBLE)
                   / pow(2, 3 - b % 4)) AS INT)) % 2 = 1
                  THEN 1 ELSE -1 END) AS s
  FROM tokens, (SELECT unnest(range(0, 64)) AS b)
  GROUP BY doc_id, b
),
nibbles AS (
  SELECT doc_id, CAST(b // 4 AS INT) AS ni,
         SUM(CASE WHEN s >= 0 THEN CAST(pow(2, 3 - b % 4) AS INT) ELSE 0 END) AS nib
  FROM bits GROUP BY doc_id, CAST(b // 4 AS INT)
)
SELECT doc_id,
       string_agg(substr('0123456789abcdef', CAST(nib AS INT) + 1, 1), '' ORDER BY ni) AS simhash
FROM nibbles GROUP BY doc_id
"""

register("dedup_simhash_signatures", dedup_simhash_signatures, _SIMHASH_ORACLE)


# --------------------------------------------------------------------------
# similarity search
# --------------------------------------------------------------------------

_COS_SQL = """
  list_reduce(list_transform(list_zip({a}, {b}),
                             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
              (acc, v) -> acc + v)
  / (sqrt(list_reduce(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                      (acc, v) -> acc + v))
   * sqrt(list_reduce(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                      (acc, v) -> acc + v)))
"""


def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return cosine_topk(queries, emb, k=5)


_ANN_ORACLE = f"""
WITH pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_COS_SQL.format(a='q.embedding', b='c.embedding')} AS cosine
  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < 10
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM pairs
)
SELECT query_id, rank, neighbor_id, cosine FROM ranked WHERE rank <= 5
"""

# registered via the merged ann_topk_methods gate (r4) — see below


_BUCKET_SQL = """
  array_to_string(list_transform(range(0, 8), p ->
    CASE WHEN list_reduce(
           list_transform(range(0, 64), d ->
             CAST({v}[CAST(d AS INT) + 1] AS DOUBLE)
             * CASE WHEN strpos('89abcdef',
                       substr(md5(CAST(p AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 1, 1)) > 0
                    THEN 1.0 ELSE -1.0 END),
           (acc, v) -> acc + v) >= 0
         THEN '1' ELSE '0' END), '')
"""


def ann_lsh_topk(spark: SparkSession, sf_dir: str,
                 dim: int | None = None) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return lsh_bucketed_topk(queries, emb, k=5, dim=dim)


_ANN_LSH_ORACLE = f"""
WITH sigs AS (
  SELECT vec_id, embedding, {_BUCKET_SQL.format(v='embedding')} AS bucket
  FROM embeddings
),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_COS_SQL.format(a='q.embedding', b='c.embedding')} AS cosine
  FROM sigs q JOIN sigs c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
  WHERE q.vec_id < 10
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM pairs
)
SELECT query_id, rank, neighbor_id, cosine FROM ranked WHERE rank <= 5
"""

# registered via the merged ann_topk_methods gate (r4) — see below


def ann_ivf_topk(spark: SparkSession, sf_dir: str,
                 cents=None) -> DataFrame:
    from ..pipeline.similarity import ivf_topk

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return ivf_topk(queries, emb, k=5, n_centroids=16, n_probe=4,
                    cents=cents)


_ANN_IVF_ORACLE = f"""
WITH cents AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         embedding AS cv
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)
),
assign AS (
  SELECT vec_id, embedding, cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, cid DESC) AS rn
  FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           {_COS_SQL.format(a='e.embedding', b='c.cv')} AS cos
    FROM embeddings e CROSS JOIN cents c
  )
),
cells AS (SELECT vec_id, embedding, cid AS cell FROM assign WHERE rn = 1),
probes AS (SELECT vec_id AS query_id, embedding AS qv, cid AS cell
           FROM assign WHERE vec_id < 10 AND rn <= 4),
pairs AS (
  SELECT p.query_id, c.vec_id AS neighbor_id,
         {_COS_SQL.format(a='p.qv', b='c.embedding')} AS cosine
  FROM probes p JOIN cells c ON c.cell = p.cell AND c.vec_id <> p.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM pairs
)
SELECT query_id, rank, neighbor_id, cosine FROM ranked WHERE rank <= 5
"""

# registered via the merged ann_topk_methods gate (r4) — see below


def ann_topk_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged gate (r4): the former ``ann_topk_bruteforce`` +
    ``ann_lsh_topk`` + ``ann_ivf_topk`` results, method-tagged and unioned
    into one driver slot — all three ANN strategies stay individually
    value-hashed (same (query_id, rank, neighbor_id, cosine) schema).  The
    union is three independent sub-plans; no cross-method shuffle.

    One shared seed collect (r12, VERDICT r11 item 6): the IVF centroid
    seed rows and the LSH dimension probe previously ran as two separate
    driver-serialized jobs at query construction; the smallest-16 rows
    answer both (dim = len of any collected vector — results-identical
    for LSH, whose literal-plane fast path is size-guarded per row)."""
    emb = load(spark, sf_dir, "embeddings")
    cents = (emb.orderBy("vec_id").limit(16)
             .select("vec_id", "embedding").collect())
    dim = len(cents[0]["embedding"]) if cents else None
    bf = ann_topk_bruteforce(spark, sf_dir).select(
        F.lit("bruteforce").alias("method"), "query_id", "rank",
        "neighbor_id", "cosine")
    lsh = ann_lsh_topk(spark, sf_dir, dim=dim).select(
        F.lit("lsh").alias("method"), "query_id", "rank",
        "neighbor_id", "cosine")
    ivf = ann_ivf_topk(spark, sf_dir, cents=cents).select(
        F.lit("ivf").alias("method"), "query_id", "rank",
        "neighbor_id", "cosine")
    return bf.unionByName(lsh).unionByName(ivf)


_ANN_METHODS_ORACLE = f"""
SELECT 'bruteforce' AS method, * FROM ({_ANN_ORACLE})
UNION ALL
SELECT 'lsh' AS method, * FROM ({_ANN_LSH_ORACLE})
UNION ALL
SELECT 'ivf' AS method, * FROM ({_ANN_IVF_ORACLE})
"""

register("ann_topk_methods", ann_topk_methods, _ANN_METHODS_ORACLE)


def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation (new r5): recall@5 of each approximate tier
    (LSH buckets, IVF cell-probe) against the exact brute-force baseline,
    per query — the measurement loop that justifies an ANN tier before a
    100 TB index build.  n_hits/recall are exact-rational (int count over
    fixed k), so the gate value-hashes cleanly.

    Plan shape: each method's top-k joins the baseline with a left-semi on
    (query_id, neighbor_id) — the baseline is a tiny broadcast (n_queries·k
    rows); missing queries (empty LSH bucket) surface as recall 0 via the
    left join from the query list, not as absent rows."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10) \
        .select(F.col("vec_id").alias("query_id"))
    bf = ann_topk_bruteforce(spark, sf_dir) \
        .select("query_id", "neighbor_id").persist()
    parts = []
    for method, df in (("lsh", ann_lsh_topk(spark, sf_dir)),
                       ("ivf", ann_ivf_topk(spark, sf_dir))):
        got = df.select("query_id", "neighbor_id")
        ret = got.groupBy("query_id").agg(F.count("*").alias("n_retrieved"))
        hits = (got.join(F.broadcast(bf), ["query_id", "neighbor_id"],
                         "left_semi")
                .groupBy("query_id").agg(F.count("*").alias("n_hits")))
        parts.append(
            queries.join(ret, "query_id", "left")
            .join(hits, "query_id", "left")
            .select(F.lit(method).alias("method"), "query_id",
                    F.coalesce("n_retrieved", F.lit(0)).cast("long")
                    .alias("n_retrieved"),
                    F.coalesce("n_hits", F.lit(0)).cast("long")
                    .alias("n_hits"),
                    (F.coalesce("n_hits", F.lit(0)).cast("double") / 5)
                    .alias("recall_at_k")))
    return parts[0].unionByName(parts[1])


def _recall_branch(method: str, method_sql: str) -> str:
    return f"""
SELECT '{method}' AS method, q.query_id,
       CAST(COALESCE(ret.n_retrieved, 0) AS BIGINT) AS n_retrieved,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / 5 AS recall_at_k
FROM (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 10) q
LEFT JOIN (SELECT query_id, COUNT(*) AS n_retrieved
           FROM ({method_sql}) GROUP BY query_id) ret USING (query_id)
LEFT JOIN (SELECT m.query_id, COUNT(*) AS n_hits
           FROM ({method_sql}) m
           JOIN ({_ANN_ORACLE}) bf
             ON m.query_id = bf.query_id
            AND m.neighbor_id = bf.neighbor_id
           GROUP BY m.query_id) h USING (query_id)
"""


_RECALL_ORACLE = (_recall_branch("lsh", _ANN_LSH_ORACLE)
                  + "\nUNION ALL\n"
                  + _recall_branch("ivf", _ANN_IVF_ORACLE))

register("ann_recall_eval", ann_recall_eval, _RECALL_ORACLE)


def dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.dedup import embedding_neardup_pairs

    # the synthetic embeddings are near-orthogonal (max pair cosine ≈ 0.4);
    # 0.3 exercises the candidate-then-verify path with a non-empty result
    return embedding_neardup_pairs(load(spark, sf_dir, "embeddings"),
                                   threshold=0.3)


_EMB_DEDUP_ORACLE = f"""
WITH sigs AS (
  SELECT vec_id, embedding, {_BUCKET_SQL.format(v='embedding')} AS bucket
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {_COS_SQL.format(a='a.embedding', b='b.embedding')} AS cosine
FROM sigs a JOIN sigs b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {_COS_SQL.format(a='a.embedding', b='b.embedding')} >= 0.3
"""

register("dedup_embedding_pairs", dedup_embedding_pairs, _EMB_DEDUP_ORACLE)


# --------------------------------------------------------------------------
# multimodal plumbing (no SQL oracle — binary/mapInPandas; rows-only check)
# --------------------------------------------------------------------------


# r4: the two fake-kernel gates (multimodal_image_meta — arbitrary bytes
# through the fake decoder — and multimodal_frame_sample — byte-window
# stub) are retired: every registered multimodal gate now parses REAL
# container bytes (multimodal_real_image_meta, multimodal_audio_meta,
# multimodal_gif_frames below).  The fake kernels remain available as
# functions (decode_image_meta(fake=True), sample_frames(fake=True)) for
# driving the plumbing with arbitrary bytes, covered by pytest.


def multimodal_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL frame enumeration: synthesized multi-frame animated GIFs (real
    GIF89a block grammar: graphic-control extensions with per-frame delays,
    local/global color tables, LZW sub-block chains) walked by
    pipeline.multimodal.gif_frame_index — no pixel decode, no external lib.
    Frame geometry and timestamps derive from doc_id arithmetically so the
    oracle reproduces them in SQL."""
    import struct as _struct

    import pandas as pd

    from ..pipeline.multimodal import enumerate_gif_frames

    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") <= 200) \
        .select(F.col("doc_id").alias("media_id"))

    def make_gif(d: int) -> bytes:
        n_frames = d % 5 + 2
        out = [b"GIF89a", _struct.pack("<HH", 128, 128)]
        if d % 2:  # global color table: 2 entries -> 6 bytes
            out.append(bytes([0x80, 0, 0]))
            out.append(b"\x01\x02\x03\x04\x05\x06")
        else:
            out.append(bytes([0x00, 0, 0]))
        for i in range(n_frames):
            delay_cs = (d + i) % 10 + 1
            # graphic control extension (delay in centiseconds)
            out.append(b"\x21\xf9\x04\x00"
                       + _struct.pack("<H", delay_cs) + b"\x00\x00")
            x, y = i % 5, i % 7
            w, h = (d + 7 * i) % 64 + 8, (d + 11 * i) % 48 + 8
            packed = 0x80 if i % 2 else 0x00  # alternate local color tables
            out.append(b"\x2c" + _struct.pack("<HHHH", x, y, w, h)
                       + bytes([packed]))
            if packed:
                out.append(b"\x07\x08\x09\x0a\x0b\x0c")  # 2-entry LCT
            out.append(b"\x02\x03\x84\x51\x10\x00")  # LZW min + 1 sub-block
        out.append(b"\x3b")
        return b"".join(out)

    def run(batches):
        for pdf in batches:
            ids = [int(m) for m in pdf["media_id"]]
            yield pd.DataFrame({"media_id": ids,
                                "data": [make_gif(d) for d in ids]})

    media = docs.mapInPandas(run, schema="media_id long, data binary")
    return enumerate_gif_frames(media)


_GIF_FRAMES_ORACLE = """
SELECT doc_id AS media_id,
       CAST(r.range AS INT) AS frame_no,
       CAST(r.range % 5 AS INT) AS x,
       CAST(r.range % 7 AS INT) AS y,
       CAST((doc_id + 7 * r.range) % 64 + 8 AS INT) AS width,
       CAST((doc_id + 11 * r.range) % 48 + 8 AS INT) AS height,
       10.0 * CAST(COALESCE(list_sum(list_transform(range(0, r.range),
                                     j -> (doc_id + j) % 10 + 1)), 0)
                   AS DOUBLE) AS ts_ms
FROM documents CROSS JOIN range(0, 6) r
WHERE doc_id <= 200 AND r.range < doc_id % 5 + 2
"""

register("multimodal_gif_frames", multimodal_gif_frames, _GIF_FRAMES_ORACLE)


def _synth_media(spark: SparkSession, sf_dir: str, kind: str) -> DataFrame:
    """Synthesize REAL container bytes (valid PNG/GIF/BMP headers or RIFF
    WAVE files) per document, dimensions derived from doc_id so DuckDB can
    reproduce the expected metadata arithmetically.  The bytes are built in
    an executor-side mapInPandas kernel — the decode below then parses
    genuine format headers, not a fake."""
    import struct as _struct
    import zlib as _zlib

    import pandas as pd

    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") <= 300) \
        .select(F.col("doc_id").alias("media_id"))

    def make_png(w: int, h: int) -> bytes:
        ihdr = _struct.pack(">II5B", w, h, 8, 6, 0, 0, 0)
        chunk = b"IHDR" + ihdr
        return (b"\x89PNG\r\n\x1a\n" + _struct.pack(">I", 13) + chunk
                + _struct.pack(">I", _zlib.crc32(chunk) & 0xFFFFFFFF))

    def make_gif(w: int, h: int) -> bytes:
        return b"GIF89a" + _struct.pack("<HH", w, h) + b"\x00\x00\x00;"

    def make_bmp(w: int, h: int) -> bytes:
        info = _struct.pack("<IiiHH", 40, w, h, 1, 24) + b"\x00" * 20
        return (b"BM" + _struct.pack("<I", 54) + b"\x00" * 4
                + _struct.pack("<I", 54) + info)

    def make_wav(rate: int, ch: int, data_len: int) -> bytes:
        fmt = _struct.pack("<HHIIHH", 1, ch, rate, rate * ch * 2, ch * 2, 16)
        body = (b"fmt " + _struct.pack("<I", 16) + fmt
                + b"data" + _struct.pack("<I", data_len) + b"\x00" * data_len)
        return b"RIFF" + _struct.pack("<I", 4 + len(body)) + b"WAVE" + body

    def run(batches):
        for pdf in batches:
            out = {"media_id": [], "data": []}
            for mid in pdf["media_id"]:
                mid = int(mid)
                if kind == "image":
                    w, h = mid % 640 + 16, mid % 480 + 16
                    b = [make_png, make_gif, make_bmp][mid % 3](w, h)
                else:
                    rate = 8000 + (mid % 8) * 1000
                    ch = 1 + mid % 2
                    b = make_wav(rate, ch, (mid % 50 + 1) * 320)
                out["media_id"].append(mid)
                out["data"].append(b)
            yield pd.DataFrame(out)

    return docs.mapInPandas(run, schema="media_id long, data binary")


def multimodal_real_image_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL header decode (no fake): synthesized PNG/GIF/BMP bytes parsed by
    the pure-Python container sniffers — oracle-checked dimensions."""
    from ..pipeline.multimodal import decode_image_meta

    media = _synth_media(spark, sf_dir, "image")
    return decode_image_meta(media).select(
        "media_id", "width", "height", "channels", "format")


_REAL_IMAGE_ORACLE = """
SELECT doc_id AS media_id,
       CAST(doc_id % 640 + 16 AS INT) AS width,
       CAST(doc_id % 480 + 16 AS INT) AS height,
       CAST(CASE doc_id % 3 WHEN 0 THEN 4 ELSE 3 END AS INT) AS channels,
       CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' ELSE 'bmp' END
         AS format
FROM documents WHERE doc_id <= 300
"""

register("multimodal_real_image_meta", multimodal_real_image_meta,
         _REAL_IMAGE_ORACLE)


def multimodal_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL RIFF/WAVE header decode of synthesized audio bytes."""
    from ..pipeline.multimodal import decode_audio_meta

    media = _synth_media(spark, sf_dir, "audio")
    return decode_audio_meta(media).select(
        "media_id", "channels", "sample_rate", "bits_per_sample",
        "duration_ms", "format")


_AUDIO_ORACLE = """
SELECT doc_id AS media_id,
       CAST(1 + doc_id % 2 AS INT) AS channels,
       CAST(8000 + (doc_id % 8) * 1000 AS INT) AS sample_rate,
       CAST(16 AS INT) AS bits_per_sample,
       CAST((doc_id % 50 + 1) * 320 AS DOUBLE)
         / ((8000 + (doc_id % 8) * 1000) * (1 + doc_id % 2) * 2) * 1000
         AS duration_ms,
       'wav' AS format
FROM documents WHERE doc_id <= 300
"""

register("multimodal_audio_meta", multimodal_audio_meta, _AUDIO_ORACLE)


def multimodal_mp4_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ISO-BMFF box-walk (r4 verdict item 7): synthesized mp4
    containers — ftyp + moov(mvhd + traks(tkhd) + free) + largesize mdat,
    alternating v0/v1 box layouts per doc — parsed by
    pipeline.multimodal.sniff_mp4_meta.  Timescale/duration/track
    geometry derive from doc_id arithmetically so the oracle is pure SQL."""
    import struct as _struct

    import pandas as pd

    from ..pipeline.multimodal import decode_mp4_meta

    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") <= 300) \
        .select(F.col("doc_id").alias("media_id"))

    def box(btype: bytes, payload: bytes) -> bytes:
        return _struct.pack(">I", 8 + len(payload)) + btype + payload

    def make_mp4(d: int) -> bytes:
        ts = 1000 * (d % 4 + 1)
        dur = (d % 1000 + 1) * (d % 7 + 1)
        if d % 2:  # mvhd v1: 64-bit times
            mvhd = box(b"mvhd", bytes([1, 0, 0, 0])
                       + _struct.pack(">QQIQ", 0, 0, ts, dur))
        else:      # mvhd v0: 32-bit times
            mvhd = box(b"mvhd", bytes([0, 0, 0, 0])
                       + _struct.pack(">IIII", 0, 0, ts, dur))
        traks = []
        for i in range(d % 3 + 1):
            v = (d + i) % 2
            head = (bytes([1, 0, 0, 0]) + _struct.pack(">QQIIQ", 0, 0, i + 1, 0, dur)
                    if v else
                    bytes([0, 0, 0, 0]) + _struct.pack(">IIIII", 0, 0, i + 1, 0, dur))
            w, h = (d + 16 * i) % 1280 + 16, (d + 9 * i) % 720 + 16
            tkhd = box(b"tkhd", head + b"\x00" * 8
                       + _struct.pack(">HHHH", 0, 0, 0, 0) + b"\x00" * 36
                       + _struct.pack(">II", w << 16, h << 16))
            traks.append(box(b"trak", tkhd))
        moov = box(b"moov", mvhd + b"".join(traks) + box(b"free", b""))
        ftyp = box(b"ftyp", b"isom" + _struct.pack(">I", 512) + b"iso2mp41")
        payload = b"\x00" * (d % 32)
        mdat = (_struct.pack(">I", 1) + b"mdat"
                + _struct.pack(">Q", 16 + len(payload)) + payload)
        return ftyp + moov + mdat

    def run(batches):
        for pdf in batches:
            ids = [int(m) for m in pdf["media_id"]]
            yield pd.DataFrame({"media_id": ids,
                                "data": [make_mp4(d) for d in ids]})

    media = docs.mapInPandas(run, schema="media_id long, data binary")
    return decode_mp4_meta(media).select(
        "media_id", "timescale", "duration_ms", "n_tracks",
        "width", "height", "format")


#: duration_ms = dur/ts*1000 computed double-first on both engines (int/int
#: division is a correctly-rounded double in Python and DuckDB alike, then
#: one double multiply) — bit-identical, no decimal bounce needed.  Width
#: reports the FIRST track (i=0), so the +16i/+9i offsets drop out.
_MP4_ORACLE = """
SELECT doc_id AS media_id,
       CAST(1000 * (doc_id % 4 + 1) AS INT) AS timescale,
       CAST((doc_id % 1000 + 1) * (doc_id % 7 + 1) AS DOUBLE)
         / (1000 * (doc_id % 4 + 1)) * 1000 AS duration_ms,
       CAST(doc_id % 3 + 1 AS INT) AS n_tracks,
       CAST(doc_id % 1280 + 16 AS INT) AS width,
       CAST(doc_id % 720 + 16 AS INT) AS height,
       'mp4' AS format
FROM documents WHERE doc_id <= 300
"""

register("multimodal_mp4_meta", multimodal_mp4_meta, _MP4_ORACLE)


# --------------------------------------------------------------------------
# training-data pipeline: chunk dedup / contamination / packing / PII
# --------------------------------------------------------------------------


def text_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document boilerplate removal (CCNet line-dedup family over 10-word
    chunks): corpus-wide chunks seen in >2 docs are dropped, docs reassembled
    (pipeline.text.chunk_dedup; md5 witnesses exact reassembly)."""
    from ..pipeline.text import chunk_dedup

    return chunk_dedup(load(spark, sf_dir, "documents"),
                       chunk_words=10, max_docs=2)


_CHUNK_DEDUP_ORACLE = """
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(TRIM(text), '\\s+'), x -> x <> '') AS words
  FROM documents
),
c AS (
  SELECT doc_id,
         CASE WHEN len(words) > 0 THEN
           list_transform(range(0, CAST(CEIL(len(words) / 10.0) AS INT)),
                          i -> array_to_string(list_slice(words,
                                 CAST(i * 10 + 1 AS INT),
                                 CAST(i * 10 + 10 AS INT)), ' '))
         ELSE [] END AS chunks
  FROM w
),
e0 AS (
  SELECT doc_id,
         unnest(list_transform(range(0, len(chunks)),
                i -> {'idx': CAST(i AS INT),
                      'chunk': chunks[CAST(i AS INT) + 1]})) AS u
  FROM c
),
e AS (SELECT doc_id, u.idx AS idx, u.chunk AS chunk FROM e0),
freq AS (SELECT chunk, COUNT(DISTINCT doc_id) AS n_docs FROM e GROUP BY chunk),
kept AS (
  SELECT e.doc_id, COUNT(*) AS n_kept,
         string_agg(e.chunk, ' ' ORDER BY e.idx) AS clean_text
  FROM e JOIN freq USING (chunk)
  WHERE freq.n_docs <= 2
  GROUP BY e.doc_id
)
SELECT c.doc_id,
       CAST(len(c.chunks) AS INT) AS n_chunks,
       CAST(COALESCE(kept.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(LENGTH(COALESCE(kept.clean_text, '')) AS INT) AS clean_len,
       md5(COALESCE(kept.clean_text, '')) AS clean_hash
FROM c LEFT JOIN kept USING (doc_id)
"""

register("text_chunk_dedup", text_chunk_dedup, _CHUNK_DEDUP_ORACLE)


def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination sweep: distinct word-5-gram overlap of each
    corpus doc against the held-out benchmark slice (doc_id % 97 == 0),
    benchmark n-gram set broadcast (pipeline.text.ngram_contamination)."""
    from ..pipeline.text import ngram_contamination

    return ngram_contamination(load(spark, sf_dir, "documents"),
                               n=5, bench_mod=97)


_CONTAMINATION_ORACLE = """
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(TRIM(text), '\\s+'), x -> x <> '') AS words
  FROM documents
),
g AS (
  SELECT doc_id, doc_id % 97 = 0 AS is_bench,
         CASE WHEN len(words) >= 5 THEN
           list_distinct(list_transform(range(1, len(words) - 3),
                          i -> array_to_string(list_slice(words,
                                 CAST(i AS INT), CAST(i + 4 AS INT)), ' ')))
         ELSE [] END AS grams
  FROM w
),
bench AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE is_bench),
dg AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE NOT is_bench),
ov AS (
  SELECT dg.doc_id, COUNT(*) AS n_overlap
  FROM dg JOIN bench USING (gram)
  GROUP BY dg.doc_id
)
SELECT g.doc_id,
       CAST(len(g.grams) AS INT) AS n_ngrams,
       CAST(COALESCE(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
       CAST(COALESCE(ov.n_overlap, 0) AS DOUBLE)
         / GREATEST(len(g.grams), 1) AS overlap_frac
FROM g LEFT JOIN ov USING (doc_id)
WHERE NOT g.is_bench
"""

register("text_contamination", text_contamination, _CONTAMINATION_ORACLE)


def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (concat-then-chunk into 512-token windows), sharded
    by id range so no global ordering exists anywhere
    (pipeline.text.pack_sequences)."""
    from ..pipeline.text import pack_sequences

    return pack_sequences(load(spark, sf_dir, "documents"),
                          budget=512, shard_size=1000)


_PACK_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         CAST(FLOOR(doc_id / 1000) AS BIGINT) AS shard,
         CAST(len(regexp_extract_all(text, '{TOKEN_RE}')) AS INT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, shard, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM t
)
SELECT doc_id, shard, n_tokens,
       cum - n_tokens AS start_offset,
       CAST(FLOOR((cum - n_tokens) / 512.0) AS BIGINT) AS first_pack,
       CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(FLOOR((cum - 1) / 512.0)
                      - FLOOR((cum - n_tokens) / 512.0) + 1 AS BIGINT)
       END AS n_packs
FROM c
"""

register("text_pack_sequences", text_pack_sequences, _PACK_ORACLE)


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over a deterministic fixture (an email + numeric code
    derived from doc_id appended to each doc — the raw corpus contains no
    PII, so the fixture is what makes the scrubber falsifiable).  Emails
    first, then 7+-digit runs (pipeline.text.pii_scrub)."""
    from ..pipeline.text import pii_scrub

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" contact user"),
            F.col("doc_id").cast("string"), F.lit("@example.com code "),
            (F.col("doc_id") * 7919).cast("string"),
        ).alias("text"),
    )
    return pii_scrub(docs)


_PII_ORACLE = """
WITH t AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com code ' || CAST(doc_id * 7919 AS VARCHAR) AS text
  FROM documents
),
s1 AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+')) AS INT)
           AS n_emails,
         regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+',
           '<EMAIL>', 'g') AS scrub1
  FROM t
)
SELECT doc_id, n_emails,
       CAST(len(regexp_extract_all(scrub1,
         '[0-9][0-9][0-9][0-9][0-9][0-9][0-9]+')) AS INT) AS n_numbers,
       CAST(LENGTH(regexp_replace(scrub1,
         '[0-9][0-9][0-9][0-9][0-9][0-9][0-9]+', '<NUM>', 'g')) AS INT)
         AS scrubbed_len,
       md5(regexp_replace(scrub1,
         '[0-9][0-9][0-9][0-9][0-9][0-9][0-9]+', '<NUM>', 'g')) AS scrubbed_hash
FROM s1
"""

register("text_pii_scrub", text_pii_scrub, _PII_ORACLE)


# --------------------------------------------------------------------------
# embeddings: k-means assignment
# --------------------------------------------------------------------------


def emb_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd assignment step against the deterministic trainless
    quantizer (k=8 smallest-id vectors as centroids) — the clustering
    primitive under IVF cells and corpus bucketing
    (pipeline.similarity.kmeans_assign)."""
    from ..pipeline.similarity import kmeans_assign

    return kmeans_assign(load(spark, sf_dir, "embeddings"), k=8)


_D2_SQL = """
  list_reduce(list_transform(list_zip({a}, {b}),
              p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                   * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))),
              (acc, v) -> acc + v)
"""

_KMEANS_ORACLE = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8
),
pairs AS (
  SELECT e.vec_id, CAST(c.cid AS INT) AS centroid,
         {_D2_SQL.format(a='e.embedding', b='c.cv')} AS dist2
  FROM embeddings e CROSS JOIN cents c
),
ranked AS (
  SELECT vec_id, centroid, dist2,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY dist2 ASC, centroid ASC) AS rn
  FROM pairs
)
SELECT vec_id, centroid, dist2 FROM ranked WHERE rn = 1
"""

register("emb_kmeans_assign", emb_kmeans_assign, _KMEANS_ORACLE)


def corpus_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal pipeline composition: k-means cells over the EMBEDDING
    table joined to text-quality features of the DOCUMENT table (ids
    correspond 1:1 in the corpus), profiled per cluster — the "what is in
    each semantic bucket" report a curation pipeline runs before choosing
    per-cluster sampling rates.

    Aggregates are chosen engine-exact (the q_moving_average lesson:
    never SUM a computed double): integer sums, threshold counts, and
    min/max order statistics only.

    Scale shape: cell assignment is map-only (literal centroids), the
    doc↔embedding join is a 1:1 id equi-join (co-partitionable / AQE),
    one aggregation shuffle on the 8 cells with map-side combine."""
    from ..pipeline.similarity import kmeans_assign
    from ..pipeline.text import quality_score, token_count

    emb = load(spark, sf_dir, "embeddings")
    docs = load(spark, sf_dir, "documents")
    cells = kmeans_assign(emb, k=8).select(
        F.col("vec_id").alias("doc_id"), "centroid")
    feats = token_count(quality_score(docs)).select(
        "doc_id", "lang", "quality_score", "n_tokens")
    return (feats.join(cells, "doc_id")
            .groupBy("centroid")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens"),
                 F.count(F.when(F.col("lang") == "en", 1)).alias("n_en"),
                 F.count(F.when(F.col("quality_score") >= 0.7, 1))
                 .alias("n_good"),
                 F.min("quality_score").alias("min_quality"),
                 F.max("quality_score").alias("max_quality")))


_CLUSTER_PROFILE_ORACLE = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8
),
pairs AS (
  SELECT e.vec_id, CAST(c.cid AS INT) AS centroid,
         {_D2_SQL.format(a='e.embedding', b='c.cv')} AS dist2
  FROM embeddings e CROSS JOIN cents c
),
cells AS (
  SELECT vec_id AS doc_id, centroid FROM (
    SELECT vec_id, centroid,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY dist2 ASC, centroid ASC) AS rn
    FROM pairs) WHERE rn = 1
),
feats AS (
  SELECT q.doc_id, d.lang, q.quality_score,
         len(regexp_extract_all(d.text, '{TOKEN_RE}')) AS n_tokens
  FROM ({_QUALITY_ORACLE}) q JOIN documents d USING (doc_id)
)
SELECT centroid, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       COUNT(CASE WHEN lang = 'en' THEN 1 END) AS n_en,
       COUNT(CASE WHEN quality_score >= 0.7 THEN 1 END) AS n_good,
       MIN(quality_score) AS min_quality,
       MAX(quality_score) AS max_quality
FROM feats JOIN cells USING (doc_id)
GROUP BY centroid
"""

register("corpus_cluster_profile", corpus_cluster_profile,
         _CLUSTER_PROFILE_ORACLE)


def text_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rebalancing: downsample English to 25%, keep other languages
    at 75% — per-stratum salted md5 thresholds, same rows on every engine
    and partitioning (pipeline.text.stratified_sample)."""
    from ..pipeline.text import stratified_sample

    docs = load(spark, sf_dir, "documents")
    # default_rate matches the oracle's CASE ELSE branch, so a language the
    # testdata grows later (testdata changes between rounds) keeps 75 % on
    # both sides instead of being silently dropped Spark-side (ADVICE r4).
    rates = {"en": 0.25}
    return (stratified_sample(docs, rates, default_rate=0.75)
            .select("doc_id", "lang", F.length("text").alias("text_len")))


_STRAT_ORACLE = f"""
SELECT doc_id, lang, LENGTH(text) AS text_len
FROM documents
WHERE ('0x' || substr(md5('strat:' || lang || ':' || CAST(doc_id AS VARCHAR)),
                      1, 15))::BIGINT
      < CASE WHEN lang = 'en' THEN {int(0.25 * (1 << 60))}
             ELSE {int(0.75 * (1 << 60))} END
"""

# registered via the merged text_samples gate (r4) — see below


def text_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged gate (r4): the former ``text_sample_documents`` (uniform
    deterministic 25 % sample) and ``text_stratified_sample`` (per-language
    salted thresholds) rows, tag-unioned into one driver slot — both
    samplers stay individually value-hashed.  Each side remains a pure
    scan+filter (the union is two scans, no shuffle; plan pinned in
    tests/test_plans.py)."""
    docs = load(spark, sf_dir, "documents")
    from ..pipeline.text import stratified_sample

    uniform = (deterministic_sample(docs, 0.25, "doc_id")
               .select(F.lit("uniform").alias("method"), "doc_id", "lang",
                       F.length("text").alias("text_len")))
    # default_rate mirrors the oracle's CASE ELSE so future testdata
    # languages sample identically on both sides (ADVICE r4)
    strat = (stratified_sample(docs, {"en": 0.25}, default_rate=0.75)
             .select(F.lit("stratified").alias("method"), "doc_id", "lang",
                     F.length("text").alias("text_len")))
    return uniform.unionByName(strat)


_SAMPLES_ORACLE = f"""
SELECT 'uniform' AS method, doc_id, lang, LENGTH(text) AS text_len
FROM documents
WHERE ('0x' || substr(md5('po' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      < {int(0.25 * (1 << 60))}
UNION ALL
SELECT 'stratified' AS method, doc_id, lang, LENGTH(text) AS text_len
FROM documents
WHERE ('0x' || substr(md5('strat:' || lang || ':' || CAST(doc_id AS VARCHAR)),
                      1, 15))::BIGINT
      < CASE WHEN lang = 'en' THEN {int(0.25 * (1 << 60))}
             ELSE {int(0.75 * (1 << 60))} END
"""

register("text_samples", text_samples, _SAMPLES_ORACLE)


def text_exact_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted curation (new r5): EXACTLY k docs per language by salted
    md5 rank (pipeline.text.exact_k_sample) — the fixed-budget counterpart
    of the rate samplers.  One shuffle on lang; rank-truncated window."""
    from ..pipeline.text import exact_k_sample

    docs = load(spark, sf_dir, "documents")
    return exact_k_sample(docs, 25).select("doc_id", "lang", "rk")


_EXACT_K_ORACLE = """
SELECT doc_id, lang, rk FROM (
  SELECT doc_id, lang,
         CAST(ROW_NUMBER() OVER (
              PARTITION BY lang
              ORDER BY md5('topk:' || lang || ':' || CAST(doc_id AS VARCHAR)),
                       doc_id) AS INT) AS rk
  FROM documents) t
WHERE rk <= 25
"""

register("text_exact_k_sample", text_exact_k_sample, _EXACT_K_ORACLE)


def text_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable train/val/test assignment (new r5): salted md5-threshold
    buckets (90/5/5), membership a pure function of doc_id so appends and
    repartitions never leak a doc across splits
    (pipeline.text.split_assign).  Map-only, no shuffle."""
    from ..pipeline.text import split_assign

    docs = load(spark, sf_dir, "documents")
    return split_assign(docs).select("doc_id", "lang", "split")


_SPLIT_ORACLE = f"""
SELECT doc_id, lang,
       CASE WHEN b < {int(0.90 * (1 << 60))} THEN 'train'
            WHEN b < {int(0.95 * (1 << 60))} THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id, lang,
             ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)),
                             1, 15))::BIGINT AS b
      FROM documents) t
"""

register("text_split_assign", text_split_assign, _SPLIT_ORACLE)


def text_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix design (new r5): per-language doc/token counts,
    proportional share, and the α=0.5 temperature weight numerator
    (pipeline.text.mix_weights).  Every emitted number is engine-exact:
    integer counts, one int/int double division, IEEE sqrt."""
    from ..pipeline.text import mix_weights

    return mix_weights(load(spark, sf_dir, "documents"))


#: SUM(len(...)) is HUGEINT in DuckDB — CAST to BIGINT (see _util.py note).
_MIX_ORACLE = f"""
WITH per AS (
  SELECT lang, COUNT(*) AS n_docs,
         CAST(SUM(len(regexp_extract_all(text, '{TOKEN_RE}'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY lang
),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM per)
SELECT lang, n_docs, n_tokens,
       CAST(n_tokens AS DOUBLE) / total_tokens AS share,
       SQRT(CAST(n_tokens AS DOUBLE)) AS sqrt_tokens
FROM per CROSS JOIN tot
"""

register("text_mix_weights", text_mix_weights, _MIX_ORACLE)


def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter terms (new r5): tokens in ≥20 % of documents, exact and
    distributed (pipeline.text.heavy_hitters), PLUS a count-min-sketch pass
    over the same (doc, word)-distinct stream whose estimates are checked
    against the CMS guarantee — ``exact ≤ est ≤ exact + eps·N`` (the sketch
    never undercounts; overcount is bounded by eps times total insertions
    with prob ≥ confidence).  Sketch bytes are engine-specific, so the gate
    hash-compares the EXACT values and the tolerance BOOLEAN, oracle side
    trivially true (the q_approx_aggregates pattern).

    The sketch is ONE small aggregated object; querying it for the bounded
    heavy-hitter list is inherently driver-side (documented, like the
    bigram LM's scalar vocab collects) — the candidate discovery and exact
    counts stay fully distributed."""
    from ..pipeline.text import TOKEN_RE, heavy_hitters

    eps, conf = 0.001, 0.99
    docs = load(spark, sf_dir, "documents")
    hh = heavy_hitters(docs, 0.2).persist()
    rows = hh.collect()  # bounded: words in >=20 % of docs

    toks = F.array_distinct(
        F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), F.lit(0)))
    sketch_bytes = bytes(
        docs.select(F.explode(toks).alias("word"))
        .agg(F.expr(f"count_min_sketch(word, {eps}d, {conf}d, 1)")
             .alias("s")).collect()[0]["s"])
    jcms = spark._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        sketch_bytes)
    out = []
    for r in rows:
        est = jcms.estimateCount(r["word"])
        ok = r["doc_freq"] <= est <= r["doc_freq"] + eps * r["n_adds"]
        out.append((r["word"], r["doc_freq"], r["n_docs"], r["doc_frac"],
                    bool(ok)))
    hh.unpersist()
    return spark.createDataFrame(
        out, "word string, doc_freq long, n_docs long, doc_frac double, "
             "cms_within_tol boolean")


_HEAVY_ORACLE = f"""
WITH words AS (
  SELECT DISTINCT doc_id, w AS word
  FROM documents, UNNEST(regexp_extract_all(text, '{TOKEN_RE}')) AS t(w)
),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT word,
       COUNT(*) AS doc_freq,
       n.n_docs,
       CAST(COUNT(*) AS DOUBLE) / n.n_docs AS doc_frac,
       TRUE AS cms_within_tol
FROM words CROSS JOIN n
GROUP BY word, n.n_docs
HAVING COUNT(*) >= 0.2 * n.n_docs
"""

register("text_heavy_hitters", text_heavy_hitters, _HEAVY_ORACLE)


def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-doc line dedup (new r5) over a deterministic fixture: each doc
    gets doc_id%6+4 lines 'ln<(doc_id+i²)%5>' — modulus collisions produce
    real repeated lines — then pipeline.text.line_dedup collapses them to
    first occurrences (map-only; the raw corpus has no newlines, so the
    fixture is what makes the operator falsifiable, like the PII gate)."""
    from ..pipeline.text import line_dedup

    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") <= 400)
    lines = F.transform(
        F.sequence(F.lit(0), (F.col("doc_id") % 6 + 3).cast("int")),
        lambda i: F.concat(F.lit("ln"),
                           ((F.col("doc_id") + i * i) % 5).cast("string")))
    fixture = docs.select("doc_id", F.array_join(lines, "\n").alias("text"))
    return line_dedup(fixture)


_LINE_DEDUP_ORACLE = """
WITH ex AS (
  SELECT doc_id, CAST(r.range AS INT) AS ord,
         'ln' || CAST((doc_id + r.range * r.range) % 5 AS VARCHAR) AS l
  FROM documents CROSS JOIN range(0, 10) r
  WHERE doc_id <= 400 AND r.range < doc_id % 6 + 4
),
firsts AS (SELECT doc_id, l, MIN(ord) AS ord FROM ex GROUP BY doc_id, l),
tot AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS n_lines FROM ex GROUP BY doc_id),
kept AS (
  SELECT doc_id, CAST(COUNT(*) AS INT) AS n_kept,
         CAST(LENGTH(string_agg(l, chr(10) ORDER BY ord)) AS INT) AS clean_len,
         md5(string_agg(l, chr(10) ORDER BY ord)) AS clean_hash
  FROM firsts GROUP BY doc_id
)
SELECT t.doc_id, t.n_lines, k.n_kept, k.clean_len, k.clean_hash
FROM tot t JOIN kept k USING (doc_id)
"""

register("text_line_dedup", text_line_dedup, _LINE_DEDUP_ORACLE)


def text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition/composition rules (pipeline.text.gopher_quality)
    over the documents corpus — the n-gram-repetition family of filters a
    pre-training pipeline applies corpus-wide.  Map-only, zero shuffle."""
    from ..pipeline.text import gopher_quality

    docs = load(spark, sf_dir, "documents")
    return gopher_quality(docs).select(
        "doc_id", "n_words", "dup_2gram_frac", "dup_3gram_frac",
        "symbol_word_ratio", "alpha_word_frac", "gopher_pass")


_GOPHER_ORACLE = r"""
WITH w AS (
  SELECT doc_id,
         LENGTH(text) - LENGTH(replace(text, '#', '')) AS n_hash,
         (LENGTH(text) - LENGTH(replace(text, '...', ''))) // 3 AS n_ell,
         list_filter(string_split_regex(TRIM(text), '\s+'), x -> x <> '')
           AS words
  FROM documents
),
g AS (
  SELECT doc_id, n_hash + n_ell AS n_symbols,
         len(words) AS n_words,
         list_transform(words, x -> lower(x)) AS lw,
         len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
           AS n_alpha
  FROM w
),
h AS (
  SELECT doc_id, n_words, n_symbols, n_alpha,
         CASE WHEN len(lw) < 2 THEN []::VARCHAR[]
              ELSE list_transform(range(1, len(lw)),
                                  i -> lw[CAST(i AS INT)] || ' '
                                       || lw[CAST(i + 1 AS INT)]) END AS g2,
         CASE WHEN len(lw) < 3 THEN []::VARCHAR[]
              ELSE list_transform(range(1, len(lw) - 1),
                                  i -> lw[CAST(i AS INT)] || ' '
                                       || lw[CAST(i + 1 AS INT)] || ' '
                                       || lw[CAST(i + 2 AS INT)]) END AS g3
  FROM g
),
s AS (
  SELECT doc_id, n_words,
         CASE WHEN len(g2) <= 0 THEN 0.0
              ELSE CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE)
                   / len(g2) END AS dup_2gram_frac,
         CASE WHEN len(g3) <= 0 THEN 0.0
              ELSE CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE)
                   / len(g3) END AS dup_3gram_frac,
         CAST(n_symbols AS DOUBLE) / GREATEST(n_words, 1)
           AS symbol_word_ratio,
         CAST(n_alpha AS DOUBLE) / GREATEST(n_words, 1) AS alpha_word_frac
  FROM h
)
SELECT doc_id, n_words, dup_2gram_frac, dup_3gram_frac, symbol_word_ratio,
       alpha_word_frac,
       (n_words >= 10 AND dup_2gram_frac <= 0.2 AND dup_3gram_frac <= 0.18
        AND symbol_word_ratio <= 0.1 AND alpha_word_frac >= 0.8)
         AS gopher_pass
FROM s
"""

register("text_gopher_quality", text_gopher_quality, _GOPHER_ORACLE)


# --------------------------------------------------------------------------
# embeddings: product quantization
# --------------------------------------------------------------------------

_PQ_CTES = f"""
cb AS (
  SELECT CAST(r.range AS INT) AS s, e.vec_id AS j,
         list_slice(e.embedding, CAST(r.range * 8 + 1 AS INT),
                    CAST(r.range * 8 + 8 AS INT)) AS cw
  FROM embeddings e CROSS JOIN range(0, 8) r
  WHERE e.vec_id < 16
),
enc0 AS (
  SELECT e.vec_id, cb.s, cb.j,
         {_D2_SQL.format(
             a='list_slice(e.embedding, CAST(cb.s * 8 + 1 AS INT), '
               'CAST(cb.s * 8 + 8 AS INT))',
             b='cb.cw')} AS d
  FROM embeddings e CROSS JOIN cb
),
best AS (
  SELECT vec_id, s, j,
         ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d ASC, j ASC) AS rn
  FROM enc0
),
codes AS (
  SELECT vec_id, list(j ORDER BY s) AS codes FROM best WHERE rn = 1
  GROUP BY vec_id
)
"""


def emb_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding: 64-dim float vectors → 8 codes against
    the deterministic trainless codebook (16 codewords per subspace = dims
    of the 16 smallest-id vectors; pipeline.similarity.pq_encode)."""
    from ..pipeline.similarity import pq_encode

    coded = pq_encode(load(spark, sf_dir, "embeddings"), m=8, k=16)
    return coded.select(
        "vec_id",
        F.array_join(F.transform("codes", lambda c: c.cast("string")), ",")
        .alias("code_str"))


_PQ_CODES_ORACLE = f"""
WITH {_PQ_CTES}
SELECT vec_id, array_to_string(codes, ',') AS code_str FROM codes
"""

register("emb_pq_codes", emb_pq_codes, _PQ_CODES_ORACLE)


def emb_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance top-5 neighbors over PQ codes: the corpus side is
    reconstructed from its 8 codes (all a PQ index stores), queries stay
    full-precision (pipeline.similarity.pq_topk)."""
    from ..pipeline.similarity import pq_topk

    emb = load(spark, sf_dir, "embeddings")
    return pq_topk(emb.where(F.col("vec_id") < 10), emb, m=8, k=16, topk=5)


_PQ_TOPK_ORACLE = f"""
WITH {_PQ_CTES},
dec AS (
  SELECT b.vec_id AS neighbor_id, flatten(list(cb.cw ORDER BY b.s)) AS decoded
  FROM best b JOIN cb ON cb.s = b.s AND cb.j = b.j
  WHERE b.rn = 1
  GROUP BY b.vec_id
),
pairs AS (
  SELECT q.vec_id AS query_id, d.neighbor_id,
         {_D2_SQL.format(a='q.embedding', b='d.decoded')} AS adc_dist2
  FROM embeddings q CROSS JOIN dec d
  WHERE q.vec_id < 10 AND d.neighbor_id <> q.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, adc_dist2,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc_dist2 ASC, neighbor_id ASC) AS rank
  FROM pairs
)
SELECT query_id, rank, neighbor_id, adc_dist2 FROM ranked WHERE rank <= 5
"""

register("emb_pq_topk", emb_pq_topk, _PQ_TOPK_ORACLE)


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed ANN (pipeline.similarity.ivfpq_topk): coarse cells
    prune the scan, PQ codes + ADC replace full-precision distances — the
    production two-tier index (FAISS IVFPQ) as one map-only corpus pass +
    broadcast cell join."""
    from ..pipeline.similarity import ivfpq_topk

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return ivfpq_topk(queries, emb, topk=5, n_centroids=16, n_probe=4,
                      m=8, k=16)


_IVFPQ_ORACLE = f"""
WITH cents AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         embedding AS cv
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)
),
assign AS (
  SELECT vec_id, embedding, cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, cid DESC) AS rn
  FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           {_COS_SQL.format(a='e.embedding', b='c.cv')} AS cos
    FROM embeddings e CROSS JOIN cents c
  )
),
cells AS (SELECT vec_id, cid AS cell FROM assign WHERE rn = 1),
probes AS (SELECT vec_id AS query_id, embedding AS qv, cid AS cell
           FROM assign WHERE vec_id < 10 AND rn <= 4),
{_PQ_CTES},
dec AS (
  SELECT b.vec_id AS neighbor_id, flatten(list(cb.cw ORDER BY b.s)) AS decoded
  FROM best b JOIN cb ON cb.s = b.s AND cb.j = b.j
  WHERE b.rn = 1
  GROUP BY b.vec_id
),
pairs AS (
  SELECT p.query_id, d.neighbor_id,
         {_D2_SQL.format(a='p.qv', b='d.decoded')} AS adc_dist2
  FROM probes p
  JOIN cells c ON c.cell = p.cell
  JOIN dec d ON d.neighbor_id = c.vec_id
  WHERE d.neighbor_id <> p.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, adc_dist2,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc_dist2 ASC, neighbor_id ASC) AS rank
  FROM pairs
)
SELECT query_id, rank, neighbor_id, adc_dist2 FROM ranked WHERE rank <= 5
"""

register("ann_ivfpq_topk", ann_ivfpq_topk, _IVFPQ_ORACLE)


def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring: corpus-trained add-one bigram LM, mean
    bigram probability per doc (rational probabilities, per-doc sequential
    fold — pipeline.text.bigram_lm_score)."""
    from ..pipeline.text import bigram_lm_score

    return bigram_lm_score(load(spark, sf_dir, "documents"))


_BIGRAM_ORACLE = """
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(TRIM(text), '\\s+'), x -> x <> '') AS ws
  FROM documents
),
bi0 AS (
  SELECT doc_id,
         unnest(CASE WHEN len(ws) >= 2 THEN
           list_transform(range(1, len(ws)),
                          i -> {'pos': CAST(i - 1 AS INT),
                                'w1': ws[CAST(i AS INT)],
                                'w2': ws[CAST(i AS INT) + 1]})
         ELSE [] END) AS u
  FROM w
),
bi AS (SELECT doc_id, u.pos AS pos, u.w1 AS w1, u.w2 AS w2 FROM bi0),
c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY w1, w2),
c1 AS (SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY w1),
v AS (SELECT COUNT(DISTINCT w) AS v
      FROM (SELECT unnest(ws) AS w FROM w)),
sc AS (
  SELECT bi.doc_id, bi.pos,
         CAST(c2.c2 + 1 AS DOUBLE)
         / CAST(c1.c1 + (SELECT v FROM v) AS DOUBLE) AS prob
  FROM bi JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
),
pd AS (
  SELECT doc_id, COUNT(*) AS n_bigrams,
         list_reduce(list(prob ORDER BY pos), (acc, p) -> acc + p) AS sum_prob
  FROM sc GROUP BY doc_id
)
SELECT w.doc_id,
       CAST(COALESCE(pd.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       COALESCE(pd.sum_prob, 0.0)
         / GREATEST(COALESCE(pd.n_bigrams, 1), 1) AS avg_prob
FROM w LEFT JOIN pd USING (doc_id)
"""

register("text_bigram_lm", text_bigram_lm, _BIGRAM_ORACLE)


def pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed preprocessing pass a training-data pipeline actually
    runs: quality filter (score ≥ 0.5) → exact dedup (min-id representative)
    → deterministic 50% sample → token count.  Each stage is an operator
    gated on its own elsewhere; this entry gates their COMPOSITION."""
    from pyspark.sql import Window

    from ..pipeline.text import deterministic_sample, quality_score, token_count

    docs = load(spark, sf_dir, "documents")
    q = quality_score(docs).where(F.col("quality_score") >= 0.5)
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    reps = (q.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1).drop("_rn"))
    kept = deterministic_sample(reps, 0.5, "doc_id", salt="e2e")
    return token_count(kept).select("doc_id", "lang", "quality_score",
                                    "n_tokens")


_E2E_ORACLE = f"""
WITH w AS (
  SELECT doc_id, lang, text, LENGTH(text) AS char_len,
         list_filter(string_split_regex(TRIM(text), '\\s+'), x -> x <> '') AS words
  FROM documents
),
s AS (
  SELECT doc_id, lang, text,
         len(words) AS word_count,
         len(list_distinct(words)) AS distinct_words,
         CAST(len(list_filter(words, x -> list_contains({_STOPLIST_SQL}, lower(x)))) AS DOUBLE)
           / GREATEST(len(words), 1) AS stopword_ratio
  FROM w
),
q AS (
  SELECT doc_id, lang, text,
         CASE WHEN word_count BETWEEN 10 AND 100000 THEN 0.4 ELSE 0.0 END
         + LEAST(stopword_ratio * 4.0, 1.0) * 0.3
         + LEAST((CAST(distinct_words AS DOUBLE) / GREATEST(word_count, 1)) * 2.0,
                 1.0) * 0.3 AS quality_score
  FROM s
),
f AS (SELECT * FROM q WHERE quality_score >= 0.5),
d AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text)
                                   ORDER BY doc_id) AS rn FROM f)
SELECT doc_id, lang, quality_score,
       CAST(len(regexp_extract_all(text, '{TOKEN_RE}')) AS INT) AS n_tokens
FROM d
WHERE rn = 1
  AND ('0x' || substr(md5('e2e' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      < {int(0.5 * (1 << 60))}
"""

register("pipeline_end_to_end", pipeline_end_to_end, _E2E_ORACLE)


def _semantic_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus ∪ exact copies ∪ ×2-scaled copies — the raw synthetic
    embeddings are near-orthogonal (max pair cosine ≈ 0.4), so like the
    PII/line gates a deterministic fixture makes the operator falsifiable:
    copies of vec_id < 60 at +10M (cosine ≈ 1 to their source), ×2-scaled
    copies of 60 ≤ vec_id < 120 at +20M (scaling preserves cosine; ×2 is
    exact in IEEE float so DuckDB rebuilds the identical bytes).  The
    offsets sit far above any real vec_id at any SF — a +1000 offset
    collided with genuine ids at sf0.1 and double-counted the sig join."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copies = (emb.where(F.col("vec_id") < 60)
              .select((F.col("vec_id") + 10000000).alias("vec_id"), "embedding"))
    scaled = (emb.where((F.col("vec_id") >= 60) & (F.col("vec_id") < 120))
              .select((F.col("vec_id") + 20000000).alias("vec_id"),
                      F.transform("embedding",
                                  lambda x: (x.cast("double") * 2)
                                  .cast("float")).alias("embedding")))
    return emb.unionByName(copies).unionByName(scaled)


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: cluster-scoped embedding dedup (pipeline.dedup.
    semantic_dedup) over the duplicated fixture corpus.  Cell-bounded
    pairwise — the candidate join is an equi-join on the k-means cell, so
    cost is Σ|cell|², never N²; at 100 TB k grows with N to hold cells
    bounded.  Exact copies land in their source's cell and are dropped;
    scaled copies that argmin into a DIFFERENT cell survive — the
    documented cross-cell recall trade of the algorithm, verified
    bit-for-bit by the oracle."""
    from ..pipeline.dedup import semantic_dedup

    return semantic_dedup(_semantic_fixture(spark, sf_dir),
                          k=8, threshold=0.95)


_SEMANTIC_ORACLE = f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 10000000, embedding FROM embeddings WHERE vec_id < 60
  UNION ALL
  SELECT vec_id + 20000000,
         list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) * 2 AS FLOAT))
  FROM embeddings WHERE vec_id >= 60 AND vec_id < 120
),
cents AS (
  SELECT CAST(vec_id AS INT) AS cid, embedding AS cv
  FROM corpus WHERE vec_id < 8
),
assign AS (
  SELECT vec_id, centroid FROM (
    SELECT e.vec_id, c.cid AS centroid,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_D2_SQL.format(a='e.embedding', b='c.cv')} ASC,
                      c.cid ASC) AS rn
    FROM corpus e CROSS JOIN cents c)
  WHERE rn = 1
),
sig AS (
  SELECT a.vec_id, a.centroid, e.embedding,
         sqrt(list_reduce(list_transform(e.embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
              (acc, v) -> acc + v)) AS nrm
  FROM assign a JOIN corpus e USING (vec_id)
),
dups AS (
  SELECT DISTINCT b.vec_id
  FROM sig a JOIN sig b
    ON a.centroid = b.centroid AND a.vec_id < b.vec_id
  WHERE list_reduce(list_transform(list_zip(a.embedding, b.embedding),
          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
          (acc, v) -> acc + v) / (a.nrm * b.nrm) >= 0.95
)
SELECT s.vec_id, s.centroid,
       (d.vec_id IS NOT NULL) AS is_dup
FROM sig s LEFT JOIN dups d ON s.vec_id = d.vec_id
"""

register("dedup_semantic", dedup_semantic, _SEMANTIC_ORACLE)


def text_corpus_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus line-frequency dedup (pipeline.text.corpus_line_dedup)
    over a deterministic fixture — each doc gets one boilerplate header
    line 'hdr<doc_id%7>' (corpus doc-freq ≈ 71, removed) plus doc_id%6+3
    body lines 'b<(doc_id·13+31i)%1500>' (doc-freq 1-5, kept) — the raw
    corpus has no newlines, so like the intra-doc line gate the fixture
    makes the operator falsifiable.  No intra-doc repeats by construction
    (31·Δi ≢ 0 mod 1500 for Δi ≤ 9), so the within-doc and across-corpus
    halves of the CCNet recipe stay independently testable."""
    from ..pipeline.text import corpus_line_dedup

    docs = load(spark, sf_dir, "documents")
    lines = F.transform(
        F.sequence(F.lit(0), (F.col("doc_id") % 6 + 3).cast("int")),
        lambda i: F.when(
            i == 0, F.concat(F.lit("hdr"), (F.col("doc_id") % 7).cast("string"))
        ).otherwise(
            F.concat(F.lit("b"),
                     ((F.col("doc_id") * 13 + i * 31) % 1500).cast("string"))))
    fixture = docs.select("doc_id", F.array_join(lines, "\n").alias("text"))
    return corpus_line_dedup(fixture, max_doc_freq=10)


_CORPUS_LINE_ORACLE = """
WITH ex AS (
  SELECT doc_id, CAST(r.range AS INT) AS ord,
         CASE WHEN r.range = 0 THEN 'hdr' || CAST(doc_id % 7 AS VARCHAR)
              ELSE 'b' || CAST((doc_id * 13 + r.range * 31) % 1500 AS VARCHAR)
         END AS l
  FROM documents CROSS JOIN range(0, 10) r
  WHERE r.range < doc_id % 6 + 4
),
freq AS (SELECT l, COUNT(DISTINCT doc_id) AS line_df FROM ex GROUP BY l),
tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines FROM ex GROUP BY doc_id),
kept AS (
  SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         string_agg(e.l, chr(10) ORDER BY e.ord) AS clean
  FROM ex e JOIN freq f USING (l)
  WHERE f.line_df <= 10
  GROUP BY e.doc_id
)
SELECT t.doc_id, t.n_lines,
       COALESCE(k.n_kept, 0) AS n_kept,
       CAST(COALESCE(LENGTH(k.clean), 0) AS INT) AS clean_len,
       md5(COALESCE(k.clean, '')) AS clean_hash
FROM tot t LEFT JOIN kept k USING (doc_id)
"""

register("text_corpus_line_dedup", text_corpus_line_dedup, _CORPUS_LINE_ORACLE)


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (pipeline.text.bm25_topk) for a fixed bag-of-terms
    query over the documents corpus — top-20 with the rational-idf variant
    (the tfidf no-ln rule) and written-order per-term summation so double
    addition never depends on row order."""
    from ..pipeline.text import bm25_topk

    docs = load(spark, sf_dir, "documents")
    return bm25_topk(docs, ["spark", "window", "merge"], top_k=20)


_BM25_ORACLE = r"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(TRIM(text), '\s+'), x -> x <> '')
           AS words
  FROM documents
),
d AS (SELECT doc_id, len(words) AS dl, words FROM w),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(len(words)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
  FROM w
),
tf AS (
  SELECT doc_id, dl, term, COUNT(*) AS tf
  FROM (SELECT doc_id, dl, unnest(words) AS term FROM d)
  WHERE term IN ('merge', 'spark', 'window')
  GROUP BY doc_id, dl, term
),
df_t AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.dl, tf.term,
         (s.n - CAST(f.df AS DOUBLE) + 0.5) / (CAST(f.df AS DOUBLE) + 0.5)
         * (CAST(tf.tf AS DOUBLE) * 2.5)
         / (CAST(tf.tf AS DOUBLE)
            + 1.5 * (0.25 + 0.75 * (CAST(tf.dl AS DOUBLE) / s.avgdl))) AS sc
  FROM tf JOIN df_t f USING (term) CROSS JOIN stats s
),
per_doc AS (
  SELECT doc_id, dl,
         MAX(CASE WHEN term = 'merge' THEN sc END) AS s0,
         MAX(CASE WHEN term = 'spark' THEN sc END) AS s1,
         MAX(CASE WHEN term = 'window' THEN sc END) AS s2,
         COUNT(*) AS n_matched
  FROM scored GROUP BY doc_id, dl
),
tot AS (
  SELECT doc_id, dl, n_matched,
         0.0 + COALESCE(s0, 0.0) + COALESCE(s1, 0.0) + COALESCE(s2, 0.0)
           AS score
  FROM per_doc
),
ranked AS (
  SELECT doc_id, dl, n_matched, score,
         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM tot
)
SELECT doc_id, rank, score, dl, n_matched FROM ranked WHERE rank <= 20
"""

register("text_bm25_topk", text_bm25_topk, _BM25_ORACLE)


def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build (pipeline.text.inverted_index) over the
    documents corpus: term → doc_freq / total_tf / posting span / posting
    digest.  The md5 witnesses the exact ordered doc:tf posting list."""
    from ..pipeline.text import inverted_index

    return inverted_index(load(spark, sf_dir, "documents"))


_INV_INDEX_ORACLE = r"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(TRIM(text), '\s+'), x -> x <> '')
           AS words
  FROM documents
),
tf AS (
  SELECT term, doc_id, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(words) AS term FROM w)
  GROUP BY term, doc_id
)
SELECT term,
       COUNT(*) AS doc_freq,
       CAST(SUM(tf) AS BIGINT) AS total_tf,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc,
       md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR),
                      ',' ORDER BY doc_id)) AS postings_md5
FROM tf GROUP BY term
"""

register("text_inverted_index", text_inverted_index, _INV_INDEX_ORACLE)


def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-pair counting (pipeline.text.bpe_pair_counts) — the
    distributed count step of tokenizer training, top-30 adjacent
    character pairs across the corpus."""
    from ..pipeline.text import bpe_pair_counts

    return bpe_pair_counts(load(spark, sf_dir, "documents"), top_k=30)


_BPE_ORACLE = r"""
WITH w AS (
  SELECT unnest(list_filter(string_split_regex(TRIM(text), '\s+'),
                            x -> x <> '')) AS w
  FROM documents
),
p AS (
  -- per-word range bound (1..len-1): no fixed cap that a longer token at
  -- a future SF could silently overflow
  SELECT unnest(CASE WHEN LENGTH(w) >= 2 THEN
           list_transform(range(1, LENGTH(w)),
                          i -> substr(w, CAST(i AS INT), 2))
         ELSE [] END) AS pair
  FROM w
)
SELECT pair, COUNT(*) AS n FROM p
WHERE LENGTH(pair) = 2
GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 30
"""

register("text_bpe_pair_counts", text_bpe_pair_counts, _BPE_ORACLE)


def text_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance resampling (Xie et al. 2023, data selection
    via importance resampling): each document is weighted by the ratio of
    its likelihood under a TARGET-distribution n-gram LM (here: the
    English slice of the corpus) to its likelihood under the BACKGROUND LM
    (the whole corpus), then kept with probability ∝ the weight via the
    deterministic md5-threshold rule — the model-based cousin of the
    heuristic quality filters.

    Both likelihoods are the rational add-one bigram LM
    (pipeline.text.bigram_lm_score with ``train_df``), so the ratio is
    engine-exact; the keep test compares the doc's 60-bit hash bucket
    against rate·2⁶⁰ in double (same conversion both engines).

    Scale shape: two LM scorings = four count aggregations + bounded
    scalar vocab collects; the count tables broadcast (AQE); everything
    else is the map-only filter of deterministic_sample.
    """
    from ..pipeline.text import bigram_lm_score

    docs = load(spark, sf_dir, "documents")
    target = docs.where(F.col("lang") == "en")
    pt = bigram_lm_score(docs, train_df=target).select(
        "doc_id", F.col("avg_prob").alias("p_target"))
    pb = bigram_lm_score(docs).select(
        "doc_id", F.col("avg_prob").alias("p_background"))
    j = pt.join(pb, "doc_id")
    weight = F.when(F.col("p_background") > 0,
                    F.col("p_target") / F.col("p_background")) \
        .otherwise(F.lit(0.0))
    rate = F.least(F.lit(1.0), F.lit(0.5) * F.col("weight"))
    bucket = F.conv(F.substring(F.md5(F.concat(
        F.lit("dsir"), F.col("doc_id").cast("string"))), 1, 15),
        16, 10).cast("long")
    return (j.withColumn("weight", weight)
            .select("doc_id", "p_target", "p_background", "weight",
                    (bucket.cast("double")
                     < rate * F.lit(float(1 << 60))).alias("keep")))


_DSIR_ORACLE = r"""
WITH w AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(TRIM(text), '\s+'), x -> x <> '') AS ws
  FROM documents
),
bi0 AS (
  SELECT doc_id,
         unnest(CASE WHEN len(ws) >= 2 THEN
           list_transform(range(1, len(ws)),
                          i -> {'pos': CAST(i - 1 AS INT),
                                'w1': ws[CAST(i AS INT)],
                                'w2': ws[CAST(i AS INT) + 1]})
         ELSE [] END) AS u
  FROM w
),
bi AS (SELECT doc_id, u.pos AS pos, u.w1 AS w1, u.w2 AS w2 FROM bi0),
tbi AS (SELECT bi.* FROM bi JOIN w USING (doc_id) WHERE w.lang = 'en'),
tc2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM tbi GROUP BY w1, w2),
tc1 AS (SELECT w1, COUNT(*) AS c1 FROM tbi GROUP BY w1),
tv AS (SELECT COUNT(DISTINCT wrd) AS v
       FROM (SELECT unnest(ws) AS wrd FROM w WHERE lang = 'en')),
bc2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY w1, w2),
bc1 AS (SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY w1),
bv AS (SELECT COUNT(DISTINCT wrd) AS v
       FROM (SELECT unnest(ws) AS wrd FROM w)),
tsc AS (
  SELECT bi.doc_id, bi.pos,
         CAST(COALESCE(tc2.c2, 0) + 1 AS DOUBLE)
         / CAST(COALESCE(tc1.c1, 0) + (SELECT v FROM tv) AS DOUBLE) AS prob
  FROM bi LEFT JOIN tc2 USING (w1, w2) LEFT JOIN tc1 USING (w1)
),
bsc AS (
  SELECT bi.doc_id, bi.pos,
         CAST(COALESCE(bc2.c2, 0) + 1 AS DOUBLE)
         / CAST(COALESCE(bc1.c1, 0) + (SELECT v FROM bv) AS DOUBLE) AS prob
  FROM bi LEFT JOIN bc2 USING (w1, w2) LEFT JOIN bc1 USING (w1)
),
tpd AS (
  SELECT doc_id, COUNT(*) AS n,
         list_reduce(list(prob ORDER BY pos), (acc, p) -> acc + p) AS s
  FROM tsc GROUP BY doc_id
),
bpd AS (
  SELECT doc_id, COUNT(*) AS n,
         list_reduce(list(prob ORDER BY pos), (acc, p) -> acc + p) AS s
  FROM bsc GROUP BY doc_id
),
probs AS (
  SELECT w.doc_id,
         COALESCE(tpd.s, 0.0) / GREATEST(COALESCE(tpd.n, 1), 1) AS p_target,
         COALESCE(bpd.s, 0.0) / GREATEST(COALESCE(bpd.n, 1), 1)
           AS p_background
  FROM w LEFT JOIN tpd ON w.doc_id = tpd.doc_id
         LEFT JOIN bpd ON w.doc_id = bpd.doc_id
),
weighted AS (
  SELECT doc_id, p_target, p_background,
         CASE WHEN p_background > 0 THEN p_target / p_background
              ELSE 0.0 END AS weight
  FROM probs
)
SELECT doc_id, p_target, p_background, weight,
       CAST(('0x' || substr(md5('dsir' || CAST(doc_id AS VARCHAR)), 1, 15))
              ::BIGINT AS DOUBLE)
         < LEAST(1.0, 0.5 * weight)
           * CAST(1152921504606846976 AS DOUBLE) AS keep
FROM weighted
"""

register("text_dsir_weights", text_dsir_weights, _DSIR_ORACLE)


def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time incremental dedup: a NEW crawl batch (doc_id ≥ 400) is
    checked against the content-hash index of the EXISTING corpus
    (doc_id < 400) and against itself — the daily-snapshot pattern where
    the historical index is a hash table you anti-join, never a corpus you
    re-scan.

    A new doc is dropped if its md5 already exists in the index
    (cross-batch dup) or if an earlier same-batch doc has it (intra-batch
    dup, min-id keeps).  → (doc_id, content_hash, reason) for every new
    doc, reason ∈ {'kept', 'dup_index', 'dup_batch'} — cross-batch
    suppression wins the label when both apply, mirroring which check a
    real ingest runs first.

    Scale shape: the index side carries ONLY (hash) — at 100 TB that is
    the compact artifact a pipeline maintains incrementally; the check is
    a broadcast/shuffle hash anti-join (AQE picks) plus one min-id window
    inside the (tiny) new batch.  When the index outgrows broadcast,
    Spark's runtime bloom-filter join reduction (enabled by default)
    injects a bloom over the index onto the probe side so the new batch
    prunes BEFORE the shuffle — the mechanism is pinned live by
    ``tests/test_plans.py::test_runtime_bloom_filter_fires_on_shuffle_joins``.
    """
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents") \
        .select("doc_id", F.md5("text").alias("content_hash"))
    index = docs.where(F.col("doc_id") < 400).select("content_hash").distinct()
    # deterministic dup fixture (the raw sf0.01 slice has no cross-window
    # dups, which would leave the dup branches untested at the gate SF):
    # docs 480-489 reuse the CONTENT of index docs 30-39 (→ dup_index),
    # docs 495-499 reuse the content of batch docs 490-494 (→ dup_batch)
    src_id = (F.when((F.col("doc_id") >= 480) & (F.col("doc_id") < 490),
                     F.col("doc_id") - 450)
              .when((F.col("doc_id") >= 495) & (F.col("doc_id") < 500),
                    F.col("doc_id") - 5)
              .otherwise(F.col("doc_id")))
    batch = (docs.where(F.col("doc_id") >= 400)
             .select("doc_id", src_id.alias("src_id"))
             .join(docs.select(F.col("doc_id").alias("src_id"),
                               "content_hash"), "src_id")
             .select("doc_id", "content_hash"))
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    flagged = (batch
               .join(index.withColumn("_in_index", F.lit(True)),
                     "content_hash", "left")
               .withColumn("_rn", F.row_number().over(w)))
    return flagged.select(
        "doc_id", "content_hash",
        F.when(F.col("_in_index").isNotNull(), F.lit("dup_index"))
        .when(F.col("_rn") > 1, F.lit("dup_batch"))
        .otherwise(F.lit("kept")).alias("reason"))


_INCR_DEDUP_ORACLE = """
WITH hashed AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
idx AS (SELECT DISTINCT content_hash FROM hashed WHERE doc_id < 400),
batch AS (
  SELECT m.doc_id, s.content_hash,
         ROW_NUMBER() OVER (PARTITION BY s.content_hash
                            ORDER BY m.doc_id) AS rn
  FROM (
    SELECT doc_id,
           CASE WHEN doc_id >= 480 AND doc_id < 490 THEN doc_id - 450
                WHEN doc_id >= 495 AND doc_id < 500 THEN doc_id - 5
                ELSE doc_id END AS src_id
    FROM hashed WHERE doc_id >= 400
  ) m JOIN hashed s ON m.src_id = s.doc_id
)
SELECT b.doc_id, b.content_hash,
       CASE WHEN i.content_hash IS NOT NULL THEN 'dup_index'
            WHEN b.rn > 1 THEN 'dup_batch'
            ELSE 'kept' END AS reason
FROM batch b LEFT JOIN idx i ON b.content_hash = i.content_hash
"""

register("dedup_incremental_batch", dedup_incremental_batch,
         _INCR_DEDUP_ORACLE)


def corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source content-overlap matrix: for every ordered pair of
    sources, how many distinct character shingles they share — the
    redundancy report that tells a curation pipeline which source pairs
    need cross-source dedup before mixing.

    Scale shape: distinct (shingle, source) projection first (map-side
    dedup shrinks the explode), then ONE groupBy(shingle) collecting the
    source SET — bounded at the source-universe size (20 here), never
    corpus-sized — and the ordered pairs expand IN-ROW from that set
    (≤ C(20,2) per shingle) into the final 20×20 aggregation.  No
    self-join at all: the original self-join formulation shuffled the
    (shingle, source) projection twice and probed it against itself;
    collect_set does the same grouping once.  At a larger source universe
    the set stays bounded because sources are a catalog dimension, not a
    data dimension.
    """
    from ..pipeline.dedup import char_shingles

    docs = load(spark, sf_dir, "documents")
    sh = (docs.select("source",
                      F.explode(char_shingles("text", 8)).alias("sh"))
          .distinct())
    per_shingle = sh.groupBy("sh").agg(
        F.array_sort(F.collect_set("source")).alias("srcs"))
    pairs = per_shingle.select(F.explode(
        ordered_pairs_col(F.col("srcs"), "source_a", "source_b"))
        .alias("p"))
    return (pairs.groupBy(F.col("p.source_a").alias("source_a"),
                          F.col("p.source_b").alias("source_b"))
            .agg(F.count("*").alias("shared_shingles")))


_SOURCE_OVERLAP_ORACLE = """
WITH sh AS (
  SELECT DISTINCT source,
         unnest(list_distinct(list_transform(
           range(1, GREATEST(LENGTH(text) - 7, 1) + 1),
           i -> substr(text, CAST(i AS INT), 8)))) AS sh
  FROM documents
)
SELECT a.source AS source_a, b.source AS source_b,
       COUNT(*) AS shared_shingles
FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
GROUP BY a.source, b.source
"""

register("corpus_source_overlap", corpus_source_overlap,
         _SOURCE_OVERLAP_ORACLE)


def text_dup_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication profile (pipeline.text.dup_window_stats)
    over the raw corpus — 47 of 500 sf0.01 docs naturally carry verbatim
    10-token windows shared with other docs, so no fixture is needed."""
    from ..pipeline.text import dup_window_stats

    return dup_window_stats(load(spark, sf_dir, "documents"))


_DUP_WINDOW_ORACLE = r"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(TRIM(text), '\s+'), x -> x <> '') AS ws
  FROM documents
),
win AS (
  -- per-doc range bound (1..len-9): no fixed cap that a longer doc at a
  -- future SF could silently truncate
  SELECT doc_id,
         unnest(CASE WHEN len(ws) >= 10 THEN
           list_transform(range(1, len(ws) - 8),
             i -> md5(list_aggregate(ws[CAST(i AS INT):CAST(i + 9 AS INT)],
                                     'string_agg', ' ')))
         ELSE [] END) AS wh
  FROM w
),
freq AS (SELECT wh, COUNT(DISTINCT doc_id) AS df FROM win GROUP BY wh),
pd AS (
  SELECT win.doc_id, COUNT(*) AS n_windows,
         CAST(SUM(CASE WHEN f.df > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_windows
  FROM win JOIN freq f USING (wh) GROUP BY win.doc_id
)
SELECT w.doc_id,
       COALESCE(pd.n_windows, 0) AS n_windows,
       COALESCE(pd.n_dup_windows, 0) AS n_dup_windows,
       CAST(COALESCE(pd.n_dup_windows, 0) AS DOUBLE)
       / CAST(GREATEST(COALESCE(pd.n_windows, 0), 1) AS DOUBLE) AS dup_frac
FROM w LEFT JOIN pd USING (doc_id)
"""

register("text_dup_window_stats", text_dup_window_stats, _DUP_WINDOW_ORACLE)


def emb_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-iteration Lloyd k-means TRAINING (2 centroid updates after the
    smallest-k-ids seeding) over integer-quantized embeddings — the trained
    sibling of ``emb_kmeans_assign``; engine-deterministic because per-cell
    sums are exact BIGINT aggregates and each mean is one IEEE division
    (pipeline.similarity.kmeans_train)."""
    from ..pipeline.similarity import kmeans_train

    return kmeans_train(load(spark, sf_dir, "embeddings"), k=8, iters=2)


def _kmeans_train_oracle(k: int = 8, iters: int = 2, dim: int = 64,
                         quant: int = 10000) -> str:
    """Generate the iteration-unrolled CTE chain mirroring kmeans_train.

    The fold order matters: ``list_reduce`` starts from the first element,
    Spark's ``aggregate`` starts from 0.0 — identical because (0.0 + v) is
    exact (same proof as _D2_SQL)."""
    d2 = ("list_reduce(list_transform(list_zip(q.qv, c.mv), "
          "p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2])), "
          "(acc, v) -> acc + v)")
    sql = [f"""WITH q AS (
  SELECT vec_id, list_transform(embedding,
         x -> CAST(FLOOR(CAST(x AS DOUBLE) * {quant}.0) AS BIGINT)) AS qv
  FROM embeddings
),
c0 AS (
  SELECT CAST(vec_id AS INT) AS cid,
         list_transform(qv, v -> CAST(v AS DOUBLE)) AS mv
  FROM q WHERE vec_id < {k}
)"""]
    prev = "c0"
    for it in range(1, iters + 1):
        sql.append(f""",
p{it} AS (
  SELECT q.vec_id, c.cid AS centroid, q.qv, {d2} AS d2
  FROM q CROSS JOIN {prev} c
),
a{it} AS (
  SELECT vec_id, centroid, qv FROM (
    SELECT vec_id, centroid, qv,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY d2 ASC, centroid ASC) AS rn
    FROM p{it}) WHERE rn = 1
),
s{it} AS (
  SELECT centroid AS cid, t.i AS dim, SUM(qv[CAST(t.i AS INT)]) AS s,
         COUNT(*) AS cnt
  FROM a{it}, range(1, {dim + 1}) t(i) GROUP BY 1, 2
),
c{it} AS (
  SELECT p.cid, COALESCE(n.mv, p.mv) AS mv
  FROM {prev} p LEFT JOIN (
    SELECT cid,
           list(CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE) ORDER BY dim) AS mv
    FROM s{it} GROUP BY cid) n USING (cid)
)""")
        prev = f"c{it}"
    sql.append(f""",
pf AS (
  SELECT q.vec_id, c.cid AS centroid, {d2} AS d2
  FROM q CROSS JOIN {prev} c
)
SELECT vec_id, centroid, d2 AS dist2 FROM (
  SELECT vec_id, centroid, d2,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY d2 ASC, centroid ASC) AS rn
  FROM pf) WHERE rn = 1""")
    return "".join(sql)


register("emb_kmeans_train", emb_kmeans_train, _kmeans_train_oracle())


def corpus_source_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-authority ranking: weighted PageRank over the source-overlap
    graph (edges = shared distinct 8-char shingles between sources, both
    directions) — the host-graph-centrality signal a curation pipeline uses
    to weight sources before mixing (pipeline.graph.pagerank).

    Integer-grid ranks make the three iterations bit-reproducible in the
    DuckDB oracle's unrolled CTE chain; SUMs there are CAST AS BIGINT (the
    documented DuckDB HUGEINT class)."""
    from ..pipeline.graph import pagerank

    ov = corpus_source_overlap(spark, sf_dir)
    edges = ov.select(F.col("source_a").alias("src"),
                      F.col("source_b").alias("dst"),
                      F.col("shared_shingles").alias("weight")).union(
        ov.select(F.col("source_b").alias("src"),
                  F.col("source_a").alias("dst"),
                  F.col("shared_shingles").alias("weight")))
    return (pagerank(edges, iters=3)
            .select(F.col("node").alias("source"),
                    F.col("rank").alias("rank_int")))


def _pagerank_oracle(iters: int = 3) -> str:
    """Unrolled integer-PageRank CTE chain over the symmetric overlap graph.

    Every SUM is CAST AS BIGINT immediately (DuckDB SUM(BIGINT) is HUGEINT
    — pandas float64 — which would both hash-mismatch and poison the
    integer-division types downstream)."""
    sql = ["""WITH sh AS (
  SELECT DISTINCT source,
         unnest(list_distinct(list_transform(
           range(1, GREATEST(LENGTH(text) - 7, 1) + 1),
           i -> substr(text, CAST(i AS INT), 8)))) AS sh
  FROM documents
),
ov AS (
  SELECT a.source AS src, b.source AS dst, COUNT(*) AS w
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.source <> b.source
  GROUP BY 1, 2
),
nodes AS (SELECT DISTINCT src AS node FROM ov),
nn AS (SELECT COUNT(*) AS n FROM nodes),
outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS tw FROM ov GROUP BY src),
pe AS (
  SELECT e.src, e.dst, (e.w * CAST(1000000 AS BIGINT)) // o.tw AS p
  FROM ov e JOIN outw o USING (src)
),
r0 AS (SELECT node, (1000000000 // nn.n) AS rank FROM nodes CROSS JOIN nn)"""]
    prev = "r0"
    for it in range(1, iters + 1):
        sql.append(f""",
i{it} AS (
  SELECT nd.node,
         ((CAST(1000000000 AS BIGINT) * 15) // (nn.n * 100))
         + (85 * COALESCE(c.c, 0)) // 100 AS rank
  FROM nodes nd CROSS JOIN nn LEFT JOIN (
    SELECT pe.dst AS node,
           CAST(SUM((r.rank * pe.p) // 1000000) AS BIGINT) AS c
    FROM pe JOIN {prev} r ON pe.src = r.node GROUP BY pe.dst) c
  ON nd.node = c.node
)""")
        prev = f"i{it}"
    sql.append(f"""
SELECT node AS source, CAST(rank AS BIGINT) AS rank_int FROM {prev}""")
    return "".join(sql)


register("corpus_source_pagerank", corpus_source_pagerank, _pagerank_oracle())


def text_quality_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score histogram at fixed 0.1-wide bins — the map-only
    curation report behind threshold picking (how much corpus survives each
    cut).  Deliberately NOT ntile/percent_rank: rank-based deciles need a
    global-order window (the unpartitioned-window anti-pattern the plan
    sweep rejects); fixed thresholds bin per-row and aggregate with
    map-side combine, which is the 100 TB shape.  Token totals are integer
    sums (engine-exact)."""
    from ..pipeline.text import quality_score, token_count

    docs = load(spark, sf_dir, "documents")
    feats = token_count(quality_score(docs))
    binned = feats.select(
        F.least(F.floor(F.col("quality_score") * 10).cast("int"),
                F.lit(9)).alias("bin"),
        "n_tokens", "quality_score")
    return (binned.groupBy("bin")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens"),
                 F.min("quality_score").alias("min_score"),
                 F.max("quality_score").alias("max_score")))


_QUALITY_HISTOGRAM_ORACLE = f"""
WITH q AS ({_QUALITY_ORACLE}),
t AS (
  SELECT q.doc_id, q.quality_score,
         len(regexp_extract_all(d.text, '{{TOKEN_RE}}')) AS n_tokens
  FROM q JOIN documents d USING (doc_id)
)
SELECT LEAST(CAST(FLOOR(quality_score * 10) AS INT), 9) AS bin,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       MIN(quality_score) AS min_score,
       MAX(quality_score) AS max_score
FROM t GROUP BY 1
"""
_QUALITY_HISTOGRAM_ORACLE = _QUALITY_HISTOGRAM_ORACLE.replace(
    "{TOKEN_RE}", TOKEN_RE)

register("text_quality_histogram", text_quality_histogram,
         _QUALITY_HISTOGRAM_ORACLE)


def dedup_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-blocked edit-distance matching (pipeline.dedup.fuzzy_pairs)
    over a typo-variant fixture: every doc_id < 40 gains a copy at
    +30000000 with characters 21-23 deleted — 3 edit operations, outside
    the 16-char block prefix, so each (orig, variant) pair must surface at
    dist 3 alongside any natural ≤4-edit pairs in the corpus.  Fixture ids
    clear every SF's id range (the dedup_semantic lesson)."""
    from ..pipeline.dedup import fuzzy_pairs

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    variants = (docs.where(F.col("doc_id") < 40)
                .select((F.col("doc_id") + 30000000).alias("doc_id"),
                        F.expr("concat(substring(text, 1, 20), "
                               "substring(text, 24))").alias("text")))
    return fuzzy_pairs(docs.unionByName(variants))


_FUZZY_ORACLE = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 30000000, concat(substr(text, 1, 20), substr(text, 24))
  FROM documents WHERE doc_id < 40
),
probe AS (
  SELECT doc_id AS id, text AS t, substr(text, 1, 16) AS blk,
         LENGTH(text) AS n
  FROM corpus
)
SELECT a.id AS id_a, b.id AS id_b, levenshtein(a.t, b.t) AS dist
FROM probe a JOIN probe b
  ON a.blk = b.blk AND a.id < b.id AND ABS(a.n - b.n) <= 4
WHERE levenshtein(a.t, b.t) <= 4
"""

register("dedup_fuzzy_pairs", dedup_fuzzy_pairs, _FUZZY_ORACLE)


# --------------------------------------------------------------------------
# Exact integer-grid covariance over the embedding corpus — the PCA /
# whitening / drift-audit building block (see
# pipeline.similarity.embedding_covariance for the scale argument: in-row
# pair expansion, one scan, map-side-combined (i,j) partials).  The oracle
# mirrors the quantization and the EXACT double-op sequence; all sums are
# integer-exact so the only floats are the final fixed-order covariance
# arithmetic.
# --------------------------------------------------------------------------


def emb_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.similarity import embedding_covariance

    emb = load(spark, sf_dir, "embeddings")
    return embedding_covariance(emb, "embedding", grid=10_000)


#: DuckDB list_transform lambda indexes are 1-BASED (Spark's are 0-based);
#: qv[i:] slices from 1-based position i, so the inner element k (1-based)
#: is 0-based component i+k-2.  SUM(BIGINT) is HUGEINT -> CAST AS BIGINT,
#: and i/j must cast to INT to match the Spark side's int32 (the driver
#: value-hash is dtype-sensitive, not just value-sensitive).
_EMB_COV_ORACLE = """
WITH q AS (
  SELECT list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
  FROM embeddings
),
ex AS (
  SELECT unnest(flatten(list_transform(qv, (x, i) ->
           list_transform(qv[i:],
             (y, k) -> {'i': i - 1, 'j': i + k - 2, 'p': x * y,
                        'a': x, 'b': y})))) AS s
  FROM q
),
agg AS (
  SELECT CAST(s.i AS INT) AS i, CAST(s.j AS INT) AS j,
         CAST(SUM(s.p) AS BIGINT) AS s_ij,
         CAST(SUM(s.a) AS BIGINT) AS s_i,
         CAST(SUM(s.b) AS BIGINT) AS s_j,
         COUNT(*) AS n
  FROM ex GROUP BY 1, 2
)
SELECT i, j, n, s_i, s_j, s_ij,
       (CAST(s_ij AS DOUBLE)
        - CAST(s_i AS DOUBLE) * CAST(s_j AS DOUBLE) / CAST(n AS DOUBLE))
       / CAST(n AS DOUBLE) AS cov
FROM agg
"""

register("emb_covariance", emb_covariance, _EMB_COV_ORACLE)


# --------------------------------------------------------------------------
# WebDataset-style tar shard manifest — REAL tar parsing (octal sizes,
# checksum verify, 512-byte block walk; pipeline.multimodal.tar_member_index)
# over shards synthesized with the library's own ustar writer.  Member
# names/sizes derive from doc_id arithmetically so the oracle is pure SQL.
# Scale shape: mapInPandas flatMap, one row per member, no payload copy —
# manifesting a 100 TB shard corpus is embarrassingly parallel.
# --------------------------------------------------------------------------


def multimodal_tar_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ..pipeline.multimodal import enumerate_tar_members, write_tar

    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") <= 300) \
        .select(F.col("doc_id").alias("media_id"))

    def make_shard(d: int) -> bytes:
        members = []
        for s in range(d % 3 + 1):
            stem = f"{d:08d}.{s:02d}"
            members.append((f"{stem}.txt", b"t" * ((d * 7 + s * 13) % 900 + 1)))
            members.append((f"{stem}.jpg", b"j" * ((d * 31 + s * 5) % 2048 + 1)))
        return write_tar(members)

    def run(batches):
        for pdf in batches:
            ids = [int(m) for m in pdf["media_id"]]
            yield pd.DataFrame({"media_id": ids,
                                "data": [make_shard(d) for d in ids]})

    media = docs.mapInPandas(run, schema="media_id long, data binary")
    return enumerate_tar_members(media)


_TAR_ORACLE = """
WITH samples AS (
  SELECT doc_id, CAST(s.s AS INT) AS s
  FROM documents, UNNEST(range(0, doc_id % 3 + 1)) AS s(s)
  WHERE doc_id <= 300
),
members AS (
  SELECT doc_id, s, 0 AS ext_i, 'txt' AS ext,
         (doc_id * 7 + s * 13) % 900 + 1 AS msize
  FROM samples
  UNION ALL
  SELECT doc_id, s, 1, 'jpg', (doc_id * 31 + s * 5) % 2048 + 1
  FROM samples
)
SELECT doc_id AS media_id, CAST(s * 2 + ext_i AS INT) AS member_idx,
       lpad(CAST(doc_id AS VARCHAR), 8, '0') || '.'
         || lpad(CAST(s AS VARCHAR), 2, '0') || '.' || ext AS member_name,
       CAST(msize AS BIGINT) AS member_size,
       '0' AS typeflag
FROM members
"""

register("multimodal_tar_shards", multimodal_tar_shards, _TAR_ORACLE)


# --------------------------------------------------------------------------
# Overlapping context-window chunking (pipeline.text.context_chunks):
# window 64 / stride 48 over whitespace tokens; md5 witnesses each exact
# token slice.  Zero-shuffle in-row op — the oracle mirrors the ceil
# arithmetic and 1-based slice bounds.
# --------------------------------------------------------------------------


def text_context_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.text import context_chunks

    docs = load(spark, sf_dir, "documents")
    return context_chunks(docs, "text", "doc_id", window=64, stride=48)


_CHUNK_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(TRIM(COALESCE(text, '')), '\\s+'),
                     x -> x <> '') AS w
  FROM documents
),
counted AS (
  SELECT doc_id, w, len(w) AS n,
         CASE WHEN len(w) <= 64 THEN 0
              ELSE CAST((len(w) - 64 + 47) // 48 AS INT) END AS extra
  FROM toks
)
SELECT doc_id, CAST(c.c AS INT) AS chunk_idx,
       CAST(c.c * 48 AS INT) AS start_tok,
       CAST(len(w[c.c * 48 + 1 : c.c * 48 + 64]) AS INT) AS n_tok,
       md5(COALESCE(array_to_string(w[c.c * 48 + 1 : c.c * 48 + 64], ' '),
                    '')) AS chunk_hash
FROM counted, UNNEST(range(0, extra + 1)) AS c(c)
"""

register("text_context_chunks", text_context_chunks, _CHUNK_ORACLE)

# --------------------------------------------------------------------------
# Exact-substring duplicate REMOVAL (pipeline.text.span_dedup_removal):
# the removal half of the Lee et al. 2022 family whose measuring half is
# text_dup_window_stats — cross-doc 10-token windows survive only in their
# canonical (min doc_id) owner; everyone else masks the covered positions.
# The md5 witnesses the exact post-removal token stream.
# --------------------------------------------------------------------------


def text_span_dedup_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """47 of 500 sf0.01 docs naturally carry cross-doc verbatim windows, so
    the removal branch is exercised with no fixture; every doc emits a row
    (left join back), removed-or-not."""
    from ..pipeline.text import span_dedup_removal

    return span_dedup_removal(load(spark, sf_dir, "documents"))


_SPAN_REMOVAL_ORACLE = r"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(TRIM(COALESCE(text, '')), '\s+'),
                     x -> x <> '') AS ws
  FROM documents
),
win0 AS (
  SELECT doc_id,
         unnest(CASE WHEN len(ws) >= 10 THEN
           list_transform(range(1, len(ws) - 8),
             i -> struct_pack(s := CAST(i AS INT),
                              wh := md5(list_aggregate(
                                ws[CAST(i AS INT):CAST(i + 9 AS INT)],
                                'string_agg', ' '))))
         ELSE [] END) AS u
  FROM w
),
win AS (SELECT doc_id, u.s AS s, u.wh AS wh FROM win0),
freq AS (
  SELECT wh, COUNT(DISTINCT doc_id) AS ndocs, MIN(doc_id) AS keeper
  FROM win GROUP BY wh
),
rem AS (
  SELECT win.doc_id, list_sort(list_distinct(list(win.s))) AS rs
  FROM win JOIN freq USING (wh)
  WHERE freq.ndocs > 1 AND win.doc_id <> freq.keeper
  GROUP BY win.doc_id
),
fin AS (
  SELECT w.doc_id, w.ws,
         flatten(list_transform(COALESCE(rem.rs, []),
                                s -> range(CAST(s AS BIGINT),
                                           CAST(s + 10 AS BIGINT)))) AS cov
  FROM w LEFT JOIN rem USING (doc_id)
),
masked AS (
  SELECT doc_id, ws,
         list_filter(ws, (x, i) -> NOT list_contains(cov, i)) AS kept
  FROM fin
)
SELECT doc_id,
       CAST(len(ws) AS BIGINT) AS n_tokens,
       CAST(len(ws) - len(kept) AS BIGINT) AS n_removed,
       md5(COALESCE(list_aggregate(kept, 'string_agg', ' '), '')) AS kept_hash
FROM masked
"""

register("text_span_dedup_removal", text_span_dedup_removal,
         _SPAN_REMOVAL_ORACLE)


# --------------------------------------------------------------------------
# Deterministic corpus shuffle (pipeline.text.global_shuffle): reproducible
# (shard, pos) training-order addresses from salted md5 — per-shard
# row_number windows, never a global window.
# --------------------------------------------------------------------------


def text_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.text import global_shuffle

    docs = load(spark, sf_dir, "documents").select("doc_id")
    return global_shuffle(docs, shards=8, salt="r5shuf")


_SHUFFLE_ORACLE = """
SELECT doc_id,
       CAST(b % 8 AS INT) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY b % 8 ORDER BY k, doc_id)
            AS BIGINT) AS pos
FROM (SELECT doc_id, md5('r5shuf:' || CAST(doc_id AS VARCHAR)) AS k,
             ('0x' || substr(md5('r5shuf:' || CAST(doc_id AS VARCHAR)),
                             1, 8))::BIGINT AS b
      FROM documents) t
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Domain-blocklist filtering (pipeline.text.normalize_url composed into a
# filter decision): the C4/RefinedWeb "kill bad domains before anything
# else" step.  Each doc synthesizes a deterministically-messy URL (scheme
# case, default port, trailing slash, fragment, tracking params, unsorted
# query — all keyed off doc_id so every normalization branch is exercised
# at every SF), canonicalizes it, extracts the host, and anti-checks a
# broadcast blocklist.  The oracle does NOT mirror the normalizer's
# regexes — it constructs the EXPECTED canonical form directly from
# (source, doc_id), so the gate is an independent end-to-end proof of the
# canonicalization contract.  Scale shape: pure column expressions + a
# 3-row broadcast join; one scan, no shuffle.
# --------------------------------------------------------------------------


def text_domain_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.text import normalize_url

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    messy = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("https"))
        .otherwise(F.lit("HTTPS")),
        F.lit("://WWW."), F.upper("source"), F.lit(".Example.COM"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/p/"), F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=x&b=2&a=1#frag"))
    blocklist = spark.createDataFrame(
        [("www.src1.example.com",), ("www.src7.example.com",),
         ("www.src13.example.com",)], "b_host string")
    return (docs.select("doc_id", normalize_url(messy).alias("canon_url"))
            .withColumn("host",
                        F.regexp_extract("canon_url", r"^https://([^/?#]*)", 1))
            .join(F.broadcast(blocklist), F.col("host") == F.col("b_host"),
                  "left")
            .select("doc_id", "canon_url", "host",
                    F.col("b_host").isNotNull().alias("blocked")))


_BLOCKLIST_ORACLE = """
SELECT doc_id,
       'https://www.' || source || '.example.com/p/'
         || CAST(doc_id AS VARCHAR) || '?a=1&b=2' AS canon_url,
       'www.' || source || '.example.com' AS host,
       source IN ('src1', 'src7', 'src13') AS blocked
FROM documents
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Tukey-fence winsorization (pipeline.validate.tukey_winsorize) over the
# documents length column — robust feature clamping before scaling.
# Quarter-probability exact percentiles over an integer column keep every
# fence exactly representable (the q_exact_quantiles determinism class).
# The gate clamps at k=0.25 (dyadic, still exact): Tukey's classic 1.5
# leaves ZERO rows outside the fences on this corpus at every SF — a
# trivially-green gate that never cross-checks the clamp — while 0.25
# clamps ~10-25% on each side at every SF (53/53 at sf0.01), so the
# fence arithmetic and both flag branches are genuinely value-hashed.
# --------------------------------------------------------------------------


def text_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.validate import tukey_winsorize

    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return tukey_winsorize(docs, "n_chars", k_iqr=0.25)


_WINSORIZE_ORACLE = """
WITH q AS (
  SELECT quantile_cont(n_chars, 0.25) AS q25,
         quantile_cont(n_chars, 0.75) AS q75
  FROM documents
), f AS (
  SELECT q25 - 0.25 * (q75 - q25) AS lo,
         q75 + 0.25 * (q75 - q25) AS hi
  FROM q
)
SELECT doc_id, n_chars,
       GREATEST(LEAST(CAST(n_chars AS DOUBLE), hi), lo) AS clamped,
       CAST(n_chars AS DOUBLE) < lo AS below,
       CAST(n_chars AS DOUBLE) > hi AS above
FROM documents, f
"""

register("text_winsorize", text_winsorize, _WINSORIZE_ORACLE)


# --------------------------------------------------------------------------
# Literal-weight linear quality classifier (fasttext-style keep/drop
# filtering, the inference step of a trained quality model): integer
# features (word/stopword/long-word counts, floor-scaled chars) dotted
# with integer-grid weights — the logit is EXACT BIGINT arithmetic, so
# the keep decision is engine-stable with no sigmoid/float anywhere
# (the monotone sigmoid never changes the argmax/threshold decision).
#
# Scale shape: pure column expressions over one scan — the same map-only
# plan as text_profile; weights live in the plan as literals (the
# centroid/codebook pattern), so model updates are a re-plan, not a join.
# --------------------------------------------------------------------------


def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.text import words_col

    docs = load(spark, sf_dir, "documents").select("doc_id", "text",
                                                   "n_chars")
    words = words_col(F.coalesce(F.col("text"), F.lit("")))
    n_words = F.size(words)
    n_stop = F.size(F.filter(
        words, lambda w: F.lower(w).isin(STOPWORDS)))
    n_long = F.size(F.filter(words, lambda w: F.length(w) > 6))
    logit = (F.lit(-60) + 2 * n_words + 7 * n_stop - 3 * n_long
             + F.expr("n_chars div 100"))
    return docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_stop.cast("long").alias("n_stop"),
        n_long.cast("long").alias("n_long"),
        logit.cast("long").alias("logit"),
        (logit >= 0).alias("keep"))


_CLASSIFIER_ORACLE = rf"""
WITH w AS (
  SELECT doc_id, n_chars,
         list_filter(string_split_regex(TRIM(COALESCE(text, '')), '\s+'),
                     x -> x <> '') AS ws
  FROM documents
), feat AS (
  SELECT doc_id, n_chars,
         len(ws) AS n_words,
         len(list_filter(ws, x -> list_contains({_STOPLIST_SQL}, lower(x))))
           AS n_stop,
         len(list_filter(ws, x -> length(x) > 6)) AS n_long
  FROM w
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_stop AS BIGINT) AS n_stop,
       CAST(n_long AS BIGINT) AS n_long,
       CAST(-60 + 2 * n_words + 7 * n_stop - 3 * n_long + n_chars // 100
            AS BIGINT) AS logit,
       (-60 + 2 * n_words + 7 * n_stop - 3 * n_long + n_chars // 100) >= 0
         AS keep
FROM feat
"""

register("text_quality_classifier", text_quality_classifier,
         _CLASSIFIER_ORACLE)


# --------------------------------------------------------------------------
# Exact-threshold similarity join on word trigrams (pipeline.dedup.
# prefix_jaccard_pairs, a name kept from its former prefix-filter plan):
# every word-trigram-set pair with Jaccard >= 3/5, counted on the shared
# shingle join and decided by integer cross-multiplication — the exact
# complement of the probabilistic MinHash-LSH gate.  The oracle finds
# the same pair set independently, by PPJoin prefix filtering (two sets
# with Jaccard >= 3/5 share a prefix shingle under any common global
# order) and list_intersect verification, with no bucket cap.
# --------------------------------------------------------------------------


def dedup_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.dedup import prefix_jaccard_pairs

    return prefix_jaccard_pairs(load(spark, sf_dir, "documents"))


_PREFIX_JACCARD_ORACLE = r"""
WITH wd AS (
  SELECT doc_id,
         list_transform(
           list_filter(string_split_regex(TRIM(COALESCE(text, '')), '\s+'),
                       x -> x <> ''),
           x -> lower(x)) AS toks
  FROM documents
),
w AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(toks) >= 3 THEN
           list_transform(range(1, len(toks) - 1),
             i -> list_aggregate(toks[CAST(i AS INT):CAST(i + 2 AS INT)],
                                 'string_agg', ' '))
         WHEN len(toks) >= 1 THEN
           [list_aggregate(toks, 'string_agg', ' ')]
         ELSE [] END) AS ws
  FROM wd
),
tok AS (SELECT doc_id, unnest(ws) AS t FROM w),
df AS (SELECT t, COUNT(*) AS freq FROM tok GROUP BY t),
ordered AS (
  SELECT tok.doc_id, list(tok.t ORDER BY df.freq, tok.t) AS ws_sorted
  FROM tok JOIN df ON tok.t = df.t GROUP BY tok.doc_id
),
pre AS (
  SELECT doc_id,
         list_slice(ws_sorted, 1,
                    len(ws_sorted) - (3 * len(ws_sorted) + 4) // 5 + 1)
           AS prefix
  FROM ordered
),
ptok AS (SELECT doc_id, unnest(prefix) AS t FROM pre),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM ptok a JOIN ptok b ON a.t = b.t AND a.doc_id < b.doc_id
),
ver AS (
  SELECT doc_a, doc_b,
         CAST(len(list_intersect(wa.ws, wb.ws)) AS BIGINT) AS inter,
         CAST(len(wa.ws) + len(wb.ws) - len(list_intersect(wa.ws, wb.ws))
              AS BIGINT) AS uni
  FROM cand
  JOIN w wa ON doc_a = wa.doc_id
  JOIN w wb ON doc_b = wb.doc_id
)
SELECT doc_a, doc_b, inter, uni FROM ver WHERE 5 * inter >= 3 * uni
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# PQ reconstruction-error profile: the quantization-quality eval run before
# committing to an (m, k) PQ configuration — per-label count, grid-exact
# error mass, and min/max per-vector error.  Complements ann_recall_eval
# (which scores retrieval); this scores the CODES themselves.
#
# Determinism: per-vector err2 is a fixed-order subspace fold of order-free
# double mins (bit-identical cross-engine); the cross-vector SUM runs on
# the BIGINT grid (floor(err2 * 1e4)) because summing computed doubles is
# accumulation-order-dependent — the established integer-grid discipline.
# MIN/MAX of doubles are order stats, safe.  Scale shape: literal codebook,
# one map-only corpus pass, one small groupBy.
# --------------------------------------------------------------------------


def emb_pq_recon_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.similarity import pq_reconstruction_error

    emb = load(spark, sf_dir, "embeddings")
    d = pq_reconstruction_error(emb, m=8, k=16)
    return d.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.sum(F.floor(F.col("err2") * 10000).cast("bigint"))
        .alias("err_grid_sum"),
        F.min("err2").alias("min_err2"),
        F.max("err2").alias("max_err2"))


_PQ_RECON_ORACLE = f"""
WITH {_PQ_CTES},
md AS (
  SELECT vec_id, s, MIN(d) AS dmin FROM enc0 GROUP BY vec_id, s
),
errs AS (
  SELECT vec_id,
         list_reduce(list(dmin ORDER BY s), (a, x) -> a + x) AS err2
  FROM md GROUP BY vec_id
)
SELECT e.label, COUNT(*) AS n_vecs,
       CAST(SUM(CAST(FLOOR(errs.err2 * 10000) AS BIGINT)) AS BIGINT)
         AS err_grid_sum,
       MIN(errs.err2) AS min_err2,
       MAX(errs.err2) AS max_err2
FROM errs JOIN embeddings e USING (vec_id)
GROUP BY e.label
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Corpus n-gram diversity (distinct-n): per (source, n) the total and
# distinct n-gram counts for n = 1..3 — the repetitiveness/diversity
# profile used to compare corpus slices (distinct-1/2/3 in the text-gen
# literature; Gopher's dup-fraction is the per-DOC relative, this is the
# cross-doc absolute).  Emitted as exact BIGINT count pairs, never the
# ratio (the q8 num/den discipline).
#
# Scale shape: ONE corpus scan builds all three gram families in-row
# (concat of per-n transform arrays), one explode, one two-level agg
# (partial counts map-side; COUNT DISTINCT plans as a two-phase
# aggregate keyed on the gram — no driver-side set).  Empty/NULL text
# COALESCEs to '' → zero grams on BOTH sides (the context-chunks
# empty-doc lesson).
# --------------------------------------------------------------------------


def text_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.similarity import _spread

    # The 1/2/3-gram explode + exact-distinct partial agg is ~1000x the
    # 3 MB scan's work, and the scan arrives as ONE IO-sized partition —
    # the guide-§2.5 input-skew class _spread exists for (r12 measured:
    # 26.9 s wall / 36.5 cpu-s single-task -> parallel after the spread).
    # count/countDistinct are placement-independent, so results are
    # identical; a no-op on any well-partitioned input at scale.
    docs = _spread(load(spark, sf_dir, "documents"))
    lw = F.transform(
        words_col(F.coalesce(F.col("text"), F.lit(""))),
        lambda w: F.lower(w))

    def grams(n: int):
        if n == 1:
            return lw
        return F.when(
            F.size(lw) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(lw) - (n - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(lw, i + off) for off in range(n)]),
            ),
        ).otherwise(F.array().cast("array<string>"))

    def tag(n: int):
        # NB: a two-arg lambda would receive transform's ELEMENT INDEX as
        # its second argument — capture n via closure, not a default arg
        return lambda g: F.struct(F.lit(n).alias("n"), g.alias("gram"))

    pairs = F.concat(*[F.transform(grams(n), tag(n)) for n in (1, 2, 3)])
    ex = (docs.select("source", F.explode(pairs).alias("p"))
          .select("source", F.col("p.n").alias("n"),
                  F.col("p.gram").alias("gram")))
    return ex.groupBy("source", "n").agg(
        F.count("*").alias("total_ngrams"),
        F.countDistinct("gram").alias("distinct_ngrams"))


_NGRAM_DIVERSITY_ORACLE = r"""
WITH w AS (
  SELECT source,
         list_transform(
           list_filter(string_split_regex(TRIM(COALESCE(text, '')), '\s+'),
                       x -> x <> ''),
           x -> lower(x)) AS lw
  FROM documents
),
g AS (
  SELECT source, lw,
         CASE WHEN len(lw) < 2 THEN []::VARCHAR[]
              ELSE list_transform(range(1, len(lw)),
                                  i -> lw[CAST(i AS INT)] || ' '
                                       || lw[CAST(i + 1 AS INT)]) END AS g2,
         CASE WHEN len(lw) < 3 THEN []::VARCHAR[]
              ELSE list_transform(range(1, len(lw) - 1),
                                  i -> lw[CAST(i AS INT)] || ' '
                                       || lw[CAST(i + 1 AS INT)] || ' '
                                       || lw[CAST(i + 2 AS INT)]) END AS g3
  FROM w
),
ex AS (
  SELECT source, 1 AS n, unnest(lw) AS gram FROM g
  UNION ALL SELECT source, 2 AS n, unnest(g2) AS gram FROM g
  UNION ALL SELECT source, 3 AS n, unnest(g3) AS gram FROM g
)
SELECT source, n, COUNT(*) AS total_ngrams,
       COUNT(DISTINCT gram) AS distinct_ngrams
FROM ex GROUP BY 1, 2
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Near-dup-aware SPLIT LEAKAGE audit — the composition a training pipeline
# must run before trusting an eval split: hash-stable train/val/test
# assignment (text_split_assign) x near-dup clusters (minhash connected
# components).  A cluster whose members straddle splits leaks train data
# into eval; this emits the per-cluster membership/split profile with the
# leaky flag.  The gate runs a 50/25/25 split (not the production 90/5/5)
# so BOTH leaky branches are populated even at sf0.001's 21 clusters —
# a 90/5/5 split leaks nowhere at the smoke tier (trivially-green rule);
# split_assign's fractions are a parameter either way.  Per-doc split
# membership is a pure hash function (map-only)
# and the cluster frame holds only docs with >=1 near-dup (<< corpus), so
# the join is broadcast-sized at any SF; nothing is all-pairs beyond the
# banded minhash path itself.
#
# Oracle: the components recursive-CTE stack extended with the split CASE
# (the dedup_survivors splice pattern).
# --------------------------------------------------------------------------


def dedup_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.dedup import connected_components
    from ..pipeline.text import split_assign

    docs = load(spark, sf_dir, "documents")
    comp = (connected_components(minhash_lsh_pairs(docs))
            .select(F.col("id").alias("doc_id"), "component_id"))
    splits = (split_assign(docs, val_frac=0.25, test_frac=0.25)
              .select("doc_id", "split"))
    return (comp.join(splits, "doc_id")
            .groupBy("component_id")
            .agg(F.count("*").alias("n_members"),
                 F.countDistinct("split").alias("n_splits"),
                 F.min("split").alias("first_split"))
            .withColumn("leaky", F.col("n_splits") > 1))


_SPLIT_LEAKAGE_ORACLE = _COMPONENTS_ORACLE.replace(
    "SELECT node AS doc_id, MIN(r) AS component_id FROM reach GROUP BY node",
    f""",
comp AS (SELECT node AS doc_id, MIN(r) AS component_id
         FROM reach GROUP BY node),
sp AS (SELECT doc_id,
              CASE WHEN b < {int(0.50 * (1 << 60))} THEN 'train'
                   WHEN b < {int(0.75 * (1 << 60))} THEN 'val'
                   ELSE 'test' END AS split
       FROM (SELECT doc_id,
                    ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)),
                                    1, 15))::BIGINT AS b
             FROM documents) t)
SELECT c.component_id, COUNT(*) AS n_members,
       COUNT(DISTINCT s.split) AS n_splits,
       MIN(s.split) AS first_split,
       COUNT(DISTINCT s.split) > 1 AS leaky
FROM comp c JOIN sp s USING (doc_id)
GROUP BY c.component_id""")

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Triangle census of the co-purchase graph: parts bought together in the
# same order form an undirected edge when the pair recurs in >= 2 orders;
# the gate enumerates every triangle (3-clique) — the graph-analytics
# primitive behind clustering-coefficient / community-density audits of a
# link graph, the third graph operator family next to connected components
# (dedup) and PageRank (source authority).
#
# Spark side: in-row pair expansion per basket (the q_market_basket_pairs
# idiom — one shuffle, no self-join), support >= 2 filter, then
# pipeline.graph.triangle_enumerate's degree-ORIENTED wedge join: out-
# degree bounded O(sqrt(E)) per node, so wedge candidates are O(E^1.5)
# worst-case instead of unbounded under hub skew; closing edges by
# equi-join (no CartesianProduct — plan-tested).  Everything is exact
# integers.  Support >= 2 keeps the census non-empty at every SF
# (3258 / 61 / 1 triangles at sf0.001/0.01/0.1 — measured, not assumed)
# while bounding the edge set (the minhash bucket-cap stance: the
# support-1 graph at sf0.1 is 1.2M edges of noise pairs).
#
# Oracle: partkey-ordered triple join (orientation-free identity: the
# canonical sorted triple set is the same under any orientation scheme).
# --------------------------------------------------------------------------


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.graph import triangle_enumerate

    li = load(spark, sf_dir, "lineitem")
    baskets = (li.groupBy("l_orderkey")
               .agg(F.array_sort(F.collect_set("l_partkey")).alias("items")))
    pairs = baskets.select(F.explode(
        ordered_pairs_col(F.col("items"), "u", "v")).alias("p"))
    edges = (pairs.groupBy(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
             .agg(F.count("*").alias("sup"))
             .where(F.col("sup") >= 2)
             .select("u", "v"))
    return triangle_enumerate(edges)


_TRIANGLE_ORACLE = """
WITH pl AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM pl a JOIN pl b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
)
SELECT e1.u AS p1, e1.v AS p2, e2.v AS p3
FROM edges e1
JOIN edges e2 ON e1.v = e2.u
JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# SRT subtitle cue extraction: video corpora ship speech as SubRip files;
# alignment, chunking and contamination all key on cue boundaries.  The
# gate synthesizes per-doc SRT text (cue count/timing/payload geometry all
# doc_id arithmetic; odd docs CRLF, every 3rd doc BOM-prefixed, every 11th
# doc carries a malformed garbage block the parser must SKIP — the real
# dirt tolerance, not a happy path) and runs the REAL parser
# (pipeline.multimodal.parse_srt_cues) via Arrow-batched mapInPandas,
# emitting the full cue TABLE (one row per cue — stronger than per-doc
# aggregates).  All emitted values are exact integers.
#
# Oracle: pure SQL — unnest(range(n_cues)) reproduces the cue geometry
# directly from doc_id; the payload length is a nested list_transform sum.
# list_sum over BIGINTs is HUGEINT in DuckDB -> CAST (the sessionize
# class).
#
# Scale shape: parse is map-only (no shuffle at all — plan-tested); the
# output is a thin integer table so any downstream aggregation stays
# JVM-side.  At 100 TB the text column never moves: one scan, one Arrow
# pass, done.
# --------------------------------------------------------------------------


def multimodal_srt_cues(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ..pipeline.multimodal import parse_srt_cues_df

    docs = (load(spark, sf_dir, "documents")
            .where(F.col("doc_id") <= 400)
            .select(F.col("doc_id").alias("media_id")))

    def make_srt(d: int) -> str:
        nl = "\r\n" if d % 2 else "\n"
        blocks = []
        n_cues = d % 5 + 1
        for i in range(n_cues):
            start = d % 997 + i * 3000
            end = start + 500 + (d + i) % 1500
            def stamp(ms: int) -> str:
                s, ms = divmod(ms, 1000)
                m, s = divmod(s, 60)
                h, m = divmod(m, 60)
                return f"{h:02d}:{m:02d}:{s:02d},{ms:03d}"
            lines = ["L" * ((d + i + j) % 7 + 1)
                     for j in range((d + i) % 2 + 1)]
            blocks.append(nl.join([str(i + 1),
                                   f"{stamp(start)} --> {stamp(end)}",
                                   *lines]))
            if i == 0 and d % 11 == 0:
                blocks.append("this block has no timing line")
        text = (nl + nl).join(blocks) + nl
        return ("﻿" + text) if d % 3 == 0 else text

    def run(batches):
        for pdf in batches:
            ids = [int(m) for m in pdf["media_id"]]
            yield pd.DataFrame({"media_id": ids,
                                "srt": [make_srt(d) for d in ids]})

    media = docs.mapInPandas(run, schema="media_id long, srt string")
    return parse_srt_cues_df(media)


_SRT_ORACLE = """
WITH cues AS (
  SELECT doc_id, UNNEST(range(0, doc_id % 5 + 1)) AS i
  FROM documents WHERE doc_id <= 400
)
SELECT doc_id AS media_id,
       CAST(i + 1 AS INT) AS cue_index,
       doc_id % 997 + i * 3000 AS start_ms,
       doc_id % 997 + i * 3000 + 500 + (doc_id + i) % 1500 AS end_ms,
       CAST((doc_id + i) % 2 + 1 AS INT) AS n_lines,
       CAST(list_sum(list_transform(range(0, (doc_id + i) % 2 + 1),
                                    j -> (doc_id + i + j) % 7 + 1))
            AS BIGINT) AS n_chars
FROM cues
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Unicode normalization cleanup: the web-corpus scrub every ingest runs —
# control / zero-width chars stripped, NBSP-family spaces ASCII-fied,
# whitespace runs collapsed, ends trimmed (pipeline.text.clean_text_col —
# three JVM regex passes, zero Python, whole-stage codegen).
#
# The gate DIRTIES the corpus deterministically (every single space
# becomes a doc_id-keyed junk separator — NBSP / CRLF run / zero-width
# sandwich / space+tab run — plus control-char prefix/suffix by residue)
# then cleans it, and the oracle verifies END-TO-END by constructing the
# EXPECTED clean form directly from the ORIGINAL text (whitespace-collapse
# in SQL), never mirroring the dirt or the cleaner's regexes — the
# text_domain_blocklist independent-construction pattern: if either the
# dirt injection or any of the three cleanup passes is wrong, the md5
# witness diverges.  n_spaces pins the injection-site count.
# Scale shape: one scan, map-only, no shuffle (plan-tested).
# --------------------------------------------------------------------------


def text_normalize_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.text import clean_text_col

    docs = load(spark, sf_dir, "documents")
    t = F.coalesce(F.col("text"), F.lit(""))
    junk = (F.when(F.col("doc_id") % 4 == 0, F.lit("\u00a0"))
            .when(F.col("doc_id") % 4 == 1, F.lit(" \r\n "))
            .when(F.col("doc_id") % 4 == 2, F.lit("\u200b \u200b"))
            .otherwise(F.lit("  \t ")))
    messy = F.replace(t, F.lit(" "), junk)
    messy = (F.when(F.col("doc_id") % 5 == 0,
                    F.concat(F.lit("\u0001\u0002"), messy))
             .when(F.col("doc_id") % 5 == 1,
                   F.concat(messy, F.lit("\u0007")))
             .otherwise(messy))
    cleaned = clean_text_col(messy)
    return docs.select(
        "doc_id",
        F.md5(F.encode(cleaned, "UTF-8")).alias("clean_md5"),
        F.length(cleaned).alias("clean_len"),
        (F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit(""))))
        .alias("n_spaces"))


#: The oracle's expected-clean also strips the ctrl/zero-width/unicode-space
#: classes from the ORIGINAL text (RE2 \x{...} spellings of the Spark
#: classes).  Today's corpus contains none (the collapse alone matched when
#: this gate landed), but testdata is driver-owned and CHANGES — without
#: the defensive strip, pre-dirtied source text would break the invariant
#: clean(dirty(t)) == expected(t) through no fault of the engine.  The
#: INJECTED dirt remains independently verified: the oracle never sees it.
_NORMALIZE_ORACLE = r"""
WITH prepped AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(COALESCE(text, ''),
             '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f\x{200b}-\x{200d}\x{feff}]',
             '', 'g'),
             '[\x{00a0}\x{1680}\x{2000}-\x{200a}\x{202f}\x{205f}\x{3000}]',
             ' ', 'g') AS t0,
         COALESCE(text, '') AS t_raw
  FROM documents
)
SELECT doc_id,
       md5(trim(regexp_replace(t0, '[ \t\r\n]+', ' ', 'g')))
         AS clean_md5,
       length(trim(regexp_replace(t0, '[ \t\r\n]+', ' ', 'g')))
         AS clean_len,
       length(t_raw) - length(replace(t_raw, ' ', '')) AS n_spaces
FROM prepped
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Z-order (Morton) layout key: the data-layout half of 100 TB scan
# economics — interleaving the bits of two bucketed dimensions into one
# range-partitionable key so parquet min/max stats prune BOTH dimensions
# (pipeline.layout: morton_key pure JVM bit expressions,
# zorder_repartition = repartitionByRange + sortWithinPartitions; the
# disjoint-curve-segment property is pinned by pytest, and this gate pins
# the KEY ARITHMETIC cross-engine).  Emits the per-bucket-pair key plus a
# curve-locality witness: each (x-bucket) row band's min/max z span —
# exact integers all the way.
# Oracle: the same interleave as a list_sum over bit positions (DuckDB
# bit ops; HUGEINT list_sum -> CAST).
# --------------------------------------------------------------------------


def q_zorder_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.layout import morton_key

    li = load(spark, sf_dir, "lineitem")
    pts = li.select((F.col("l_orderkey") % 64).alias("xb"),
                    (F.col("l_partkey") % 64).alias("yb"))
    z = morton_key([F.col("xb"), F.col("yb")], bits=6)
    return (pts.select("xb", "yb", z.alias("zkey"))
            .groupBy("xb", "yb", "zkey")
            .agg(F.count("*").alias("n_rows")))


_ZORDER_ORACLE = """
SELECT l_orderkey % 64 AS xb,
       l_partkey % 64 AS yb,
       CAST(list_sum(list_transform(range(0, 6),
            i -> (((l_orderkey % 64) >> i) & 1) * (1 << (2 * i))
               + (((l_partkey % 64) >> i) & 1) * (1 << (2 * i + 1))))
            AS BIGINT) AS zkey,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY 1, 2, 3
"""

register("q_zorder_curve", q_zorder_curve, _ZORDER_ORACLE)


# --------------------------------------------------------------------------
# Readability counts (Flesch-family inputs): per doc the exact integer
# triple the readability formulas consume — word count, sentence count
# (terminator runs [.!?]+, floored at 1 for terminator-less text), and a
# syllable proxy (vowel-group runs per word, the standard heuristic).
# The gate emits the COUNTS, not the Flesch score: the score is two
# divisions of these integers (engine-trivial for a consumer), while
# emitting computed doubles would buy nothing but drift surface — the
# q8 numerator/denominator discipline.
# All three counts are regexp_count-style JVM expressions over ONE scan
# (zero shuffle); empty/NULL text COALESCEs to zero-word, zero-syllable,
# one-sentence rows on BOTH sides (the context-chunks empty-doc lesson).
# --------------------------------------------------------------------------


def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    t = F.coalesce(F.col("text"), F.lit(""))
    # explicit whitespace class, NOT \s: Java \s matches vertical tab
    # \x0B, RE2 (DuckDB) \s does not — dormant on today's VT-free
    # corpus, but testdata changes (the normalize-oracle lesson)
    n_words = F.size(F.filter(F.split(t, "[ \\t\\n\\x0B\\f\\r]+"),
                              lambda w: w != F.lit("")))
    n_sentences = F.greatest(
        F.lit(1),
        F.size(F.filter(F.split(t, "[.!?]+"),
                        lambda s: F.trim(s) != F.lit(""))))
    # vowel-group count: splitting on runs yields (runs + 1) pieces
    n_syllables = F.size(F.split(t, "[aeiouyAEIOUY]+")) - 1
    return docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_sentences.cast("long").alias("n_sentences"),
        n_syllables.cast("long").alias("n_syllable_groups"))


_READABILITY_ORACLE = """
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(COALESCE(text, ''),
                            '[ \\t\\n\\x0B\\f\\r]+'),
                            w -> w <> '')) AS BIGINT) AS n_words,
       CAST(greatest(1, len(list_filter(
            string_split_regex(COALESCE(text, ''), '[.!?]+'),
            s -> trim(s) <> ''))) AS BIGINT) AS n_sentences,
       CAST(len(string_split_regex(COALESCE(text, ''),
                                   '[aeiouyAEIOUY]+')) - 1 AS BIGINT)
         AS n_syllable_groups
FROM documents
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# ColBERT-style MaxSim late-interaction scoring: documents are BAGS of
# token vectors (8 per doc, carved from the embeddings table: doc =
# vec_id div 8; the trailing partial doc is kept — max over fewer tokens
# is well-defined on both sides); the query is doc 0's token bag; score =
# sum over query tokens of the max dot product against any doc token —
# the late-interaction retrieval family (multi-vector, not single-vector
# ANN), a different operator class from every cosine/PQ/LSH gate.
#
# Determinism: each dot is the sequential zip_with fold (dot_col — the
# proven cross-engine class; DuckDB's init-less list_reduce starts at
# element 1 but 0.0 + x is IEEE-exact), MAX is an order stat, and the
# 8 per-query maxes are summed in FIXED WRITTEN ORDER (the bm25
# discipline), never by an order-free SUM over doubles.
#
# Scale shape: the query bag is 8 broadcast rows (late interaction keeps
# the query side bounded by construction); ONE corpus-token scan, the
# 8x fan-out happens in the join not a rescan, then a two-level agg
# (per-(doc, q) max with map-side combine, per-doc pivot row).  The
# brute-force half of a ColBERT stack; candidate pruning would come from
# the existing LSH/IVF gates feeding this as a re-scorer.
# --------------------------------------------------------------------------


def emb_maxsim_colbert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.similarity import dot_col

    emb = load(spark, sf_dir, "embeddings")
    q = (emb.where(F.col("vec_id") < 8)
         .select((F.col("vec_id") % 8).alias("q_idx"),
                 F.col("embedding").alias("qv")))
    tok = (emb.where(F.col("vec_id") >= 8)
           .select(F.expr("CAST(vec_id DIV 8 AS BIGINT)").alias("doc_id"),
                   "embedding"))
    per_q = (tok.crossJoin(F.broadcast(q))
             .select("doc_id", "q_idx",
                     dot_col("qv", "embedding").alias("d"))
             .groupBy("doc_id", "q_idx")
             .agg(F.max("d").alias("m")))
    ms = [F.max(F.when(F.col("q_idx") == i, F.col("m"))).alias(f"m{i}")
          for i in range(8)]
    pivoted = per_q.groupBy("doc_id").agg(*ms, F.count("*").alias("nq"))
    score = F.col("m0")
    for i in range(1, 8):
        score = score + F.col(f"m{i}")
    return pivoted.select("doc_id", score.alias("maxsim"),
                          F.col("nq").cast("long").alias("n_query_tokens"))


_MAXSIM_ORACLE = """
WITH q AS (
  SELECT vec_id % 8 AS q_idx, embedding AS qv
  FROM embeddings WHERE vec_id < 8
),
tok AS (
  SELECT vec_id // 8 AS doc_id, embedding
  FROM embeddings WHERE vec_id >= 8
),
per_q AS (
  SELECT doc_id, q_idx,
         MAX(list_reduce(list_transform(list_zip(qv, embedding),
               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
             (acc, v) -> acc + v)) AS m
  FROM tok CROSS JOIN q
  GROUP BY 1, 2
)
SELECT doc_id,
       -- left-associative + chain == Spark's written-order accumulation
       MAX(CASE WHEN q_idx = 0 THEN m END)
         + MAX(CASE WHEN q_idx = 1 THEN m END)
         + MAX(CASE WHEN q_idx = 2 THEN m END)
         + MAX(CASE WHEN q_idx = 3 THEN m END)
         + MAX(CASE WHEN q_idx = 4 THEN m END)
         + MAX(CASE WHEN q_idx = 5 THEN m END)
         + MAX(CASE WHEN q_idx = 6 THEN m END)
         + MAX(CASE WHEN q_idx = 7 THEN m END) AS maxsim,
       CAST(COUNT(*) AS BIGINT) AS n_query_tokens
FROM per_q
GROUP BY doc_id
"""

register("emb_maxsim_colbert", emb_maxsim_colbert, _MAXSIM_ORACLE)


# --------------------------------------------------------------------------
# Asymmetric containment dedup (quote / subset detection): pairs where one
# doc's trigram set is >= 80% contained in the other — the DIRECTIONAL
# complement of resemblance Jaccard (a 10x-longer doc quoting a short one
# has low Jaccard but near-total containment of the short side; Broder's
# original resemblance-vs-containment split).  Candidates come from
# shared RARE shingles (corpus frequency 2..64 — the minhash bucket-cap
# stance), verified by exact intersection against the FULL sets;
# decisions are division-free integer cross-multiplication
# (5*inter >= 4*|side|).
#
# Fixture: docs 0-19 get a planted TRUNCATED COPY (first half of the
# token stream, id +40M — clear of every SF's id range) so one-way-only
# containment is GUARANTEED populated at every SF; natural near-dups
# supply the symmetric both-ways rows; sub-threshold candidates populate
# the excluded branch (measured 12k/11.5k/1.1M candidates vs 28/25/256
# contained at the three SFs, before the fixture).
# Scale shape: one corpus scan for shingles (persist+materialize — the
# r1 lesson), bucketed candidate equi-join (never all-pairs), thin
# verify joins on doc ids.  Emits (pair, inter, sizes, both flags) —
# exact integers only.
# --------------------------------------------------------------------------


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.dedup import word_trigram_set
    from ..pipeline.text import words_col

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = words_col(F.coalesce(F.col("text"), F.lit("")))
    half = (docs.where(F.col("doc_id") < 20)
            .select((F.col("doc_id") + 40_000_000).alias("doc_id"),
                    F.array_join(
                        F.slice(toks, 1,
                                F.greatest(F.floor(F.size(toks) / 2)
                                           .cast("int"),
                                           F.lit(1))), " ").alias("text")))
    corpus = docs.unionByName(half)
    w = corpus.select("doc_id", word_trigram_set("text").alias("ws"))
    w = w.persist()
    w.count()  # materialize: feeds the explode AND both verify joins
    ex = w.select("doc_id", F.explode("ws").alias("sh"))
    bucket = (ex.groupBy("sh").agg(F.count("*").alias("n"))
              .where((F.col("n") >= 2) & (F.col("n") <= 64))
              .select("sh"))
    cand = (ex.join(bucket, "sh")
            .alias("a")
            .join(ex.join(bucket, "sh").alias("b"),
                  (F.col("a.sh") == F.col("b.sh"))
                  & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())
    wa = w.select(F.col("doc_id").alias("doc_a"), F.col("ws").alias("wsa"))
    wb = w.select(F.col("doc_id").alias("doc_b"), F.col("ws").alias("wsb"))
    ver = (cand.join(wa, "doc_a").join(wb, "doc_b")
           .select("doc_a", "doc_b",
                   F.size(F.array_intersect("wsa", "wsb")).cast("long")
                   .alias("inter"),
                   F.size("wsa").cast("long").alias("sz_a"),
                   F.size("wsb").cast("long").alias("sz_b")))
    a_in_b = (5 * F.col("inter") >= 4 * F.col("sz_a"))
    b_in_a = (5 * F.col("inter") >= 4 * F.col("sz_b"))
    return (ver.where(a_in_b | b_in_a)
            .select("doc_a", "doc_b", "inter", "sz_a", "sz_b",
                    a_in_b.alias("a_in_b"), b_in_a.alias("b_in_a")))


_CONTAINMENT_ORACLE = r"""
WITH base AS (
  SELECT doc_id, COALESCE(text, '') AS text FROM documents
  UNION ALL
  SELECT doc_id + 40000000 AS doc_id,
         array_to_string(
           tl[1:greatest(CAST(len(tl) // 2 AS INT), 1)], ' ') AS text
  FROM (
    SELECT doc_id,
           list_filter(string_split_regex(TRIM(COALESCE(text, '')),
                                          '\s+'), x -> x <> '') AS tl
    FROM documents WHERE doc_id < 20)
),
wd AS (
  SELECT doc_id,
         list_transform(
           list_filter(string_split_regex(TRIM(text), '\s+'),
                       x -> x <> ''),
           x -> lower(x)) AS toks
  FROM base
),
w AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(toks) >= 3 THEN
           list_transform(range(1, len(toks) - 1),
             i -> list_aggregate(toks[CAST(i AS INT):CAST(i + 2 AS INT)],
                                 'string_agg', ' '))
         WHEN len(toks) >= 1 THEN
           [list_aggregate(toks, 'string_agg', ' ')]
         ELSE [] END) AS ws
  FROM wd
),
ex AS (SELECT doc_id, unnest(ws) AS sh FROM w),
bucket AS (SELECT sh FROM ex GROUP BY sh
           HAVING COUNT(*) BETWEEN 2 AND 64),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM (SELECT * FROM ex WHERE sh IN (SELECT sh FROM bucket)) a
  JOIN (SELECT * FROM ex WHERE sh IN (SELECT sh FROM bucket)) b
    ON a.sh = b.sh AND a.doc_id < b.doc_id
),
ver AS (
  SELECT doc_a, doc_b,
         CAST(len(list_intersect(wa.ws, wb.ws)) AS BIGINT) AS inter,
         CAST(len(wa.ws) AS BIGINT) AS sz_a,
         CAST(len(wb.ws) AS BIGINT) AS sz_b
  FROM cand
  JOIN w wa ON doc_a = wa.doc_id
  JOIN w wb ON doc_b = wb.doc_id
)
SELECT doc_a, doc_b, inter, sz_a, sz_b,
       5 * inter >= 4 * sz_a AS a_in_b,
       5 * inter >= 4 * sz_b AS b_in_a
FROM ver
WHERE 5 * inter >= 4 * sz_a OR 5 * inter >= 4 * sz_b
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Per-source curation report: the rollup a corpus-curation dashboard
# keys on — per source: doc count, exact token mass, short-doc count,
# char mass, language spread, and the DOMINANT language with its share
# emitted as an exact num/den pair (count, n_docs — never the ratio).
# Dominant = max doc count, ties broken toward the lexicographically
# LARGEST lang (struct-max semantics, deterministic; DuckDB mirrors with
# max(struct_pack)).
# Complements corpus_cluster_profile (per-embedding-cluster) with the
# catalog dimension a data-mixing decision actually uses (source mixing
# weights consume exactly these numbers — see text_mix_weights).
# Scale shape: ONE documents scan -> per-(source, lang) agg (map-side
# combine) -> per-source rollup over O(sources × langs) rows; no window,
# no second scan.
# --------------------------------------------------------------------------


def corpus_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    t = F.coalesce(F.col("text"), F.lit(""))
    words = F.size(F.filter(F.split(t, "[ \\t\\n\\x0B\\f\\r]+"),
                            lambda w: w != F.lit("")))
    per_sl = (docs.select("source", "lang", words.alias("nw"),
                          F.length(t).alias("nc"))
              .groupBy("source", "lang")
              .agg(F.count("*").alias("n_docs"),
                   F.sum("nw").alias("n_words"),
                   F.sum(F.when(F.col("nw") < 50, 1).otherwise(0))
                   .alias("n_short"),
                   F.sum("nc").alias("n_chars")))
    # max on (n_docs, lang) prefers the LARGEST lang string on count
    # ties — deterministic either way; spelled out so the oracle mirrors
    dom = F.max(F.struct(F.col("n_docs").alias("c"),
                         F.col("lang").alias("l")))
    return (per_sl.groupBy("source")
            .agg(F.sum("n_docs").cast("long").alias("n_docs"),
                 F.sum("n_words").cast("long").alias("n_words"),
                 F.sum("n_short").cast("long").alias("n_short"),
                 F.sum("n_chars").cast("long").alias("n_chars"),
                 F.countDistinct("lang").cast("long").alias("n_langs"),
                 dom.getField("l").alias("dominant_lang"),
                 dom.getField("c").cast("long").alias("dominant_docs")))


_CURATION_ORACLE = r"""
WITH per_sl AS (
  SELECT source, lang,
         COUNT(*) AS n_docs,
         SUM(len(list_filter(string_split_regex(COALESCE(text, ''),
             '[ \t\n\x0B\f\r]+'), w -> w <> ''))) AS n_words,
         SUM(CASE WHEN len(list_filter(string_split_regex(
             COALESCE(text, ''), '[ \t\n\x0B\f\r]+'), w -> w <> '')) < 50
             THEN 1 ELSE 0 END) AS n_short,
         SUM(length(COALESCE(text, ''))) AS n_chars
  FROM documents GROUP BY 1, 2
)
SELECT source,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS n_words,
       CAST(SUM(n_short) AS BIGINT) AS n_short,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       MAX(struct_pack(c := n_docs, l := lang)).l AS dominant_lang,
       CAST(MAX(struct_pack(c := n_docs, l := lang)).c AS BIGINT)
         AS dominant_docs
FROM per_sl GROUP BY source
"""

register("corpus_curation_report", corpus_curation_report, _CURATION_ORACLE)


# --------------------------------------------------------------------------
# LSH recall eval: the dedup analogue of ann_recall_eval — the EXACT
# char-5-shingle Jaccard >= 0.5 pair set (the shared-shingle join of
# dedup_ngram_pairs; same shingle domain as MinHash, so truth and probe
# are commensurable) annotated with whether the production MinHash-LSH
# pipeline (64-sig, 8x4 banding, bucket cap, signature prefilter)
# surfaced the pair.  LSH output verifies exact Jaccard last, so its
# pairs are a SUBSET of truth: in_lsh = false rows are genuine banding /
# prefilter / bucket-cap misses — exactly what an eval harness must
# surface before anyone trusts the S-curve parameters.  The miss branch
# is populated at every SF (measured at commit time), so the flag is
# falsifiable.  Scale shape: both sides are the existing gates' plans;
# the annotation join is on (id_a, id_b) pair keys — O(pairs), tiny.
# --------------------------------------------------------------------------


def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    # planted borderline pairs: prefix truncations at 52-63% of docs 0-7
    # (ids +50M) sit at char-shingle Jaccard ~0.52-0.63 — the S-curve's
    # probabilistic band (P(candidate) ~0.5) and the 32/64 signature
    # prefilter's knife edge — so the miss branch is populated BY
    # CONSTRUCTION at every SF (the corpus's natural near-dups are all
    # high-J and hit 100%; without the fixture the flag is unfalsifiable)
    trunc = (docs.where(F.col("doc_id") < 8)
             .select((F.col("doc_id") + 50_000_000).alias("doc_id"),
                     F.expr("substr(text, 1, "
                            "CAST(length(text) * (52 + (doc_id * 3) % 12) "
                            "DIV 100 AS INT))").alias("text")))
    base = docs.unionByName(trunc)
    truth = (ngram_jaccard_pairs(base, num=1, den=2)
             .select("id_a", "id_b", "jaccard"))
    lsh = (minhash_lsh_pairs(base)
           .select("id_a", "id_b", F.lit(True).alias("hit")))
    return (truth.join(lsh, ["id_a", "id_b"], "left")
            .select("id_a", "id_b", "jaccard",
                    F.coalesce(F.col("hit"), F.lit(False)).alias("in_lsh")))


_LSH_RECALL_ORACLE = """
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 50000000 AS doc_id,
         substr(text, 1,
                CAST(length(text) * (52 + (doc_id * 3) % 12) // 100 AS INT))
           AS text
  FROM documents WHERE doc_id < 8
),
sh AS (
  SELECT doc_id AS id, text,
         list_distinct(list_transform(range(1, GREATEST(LENGTH(text) - 4, 1) + 1),
                                      i -> substr(text, CAST(i AS INT), 5))) AS shingles
  FROM base
),
ab AS (
  SELECT id, shingles,
         list_transform(shingles, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS ha,
         list_transform(shingles, s -> ('0x' || substr(md5(s), 17, 14))::BIGINT) AS hb
  FROM sh
),
sig AS (
  SELECT id, shingles,
         list_transform(range(0, 64),
           i -> list_min(list_transform(range(1, len(ha) + 1),
             j -> (ha[CAST(j AS INT)] + i * hb[CAST(j AS INT)]) % 2305843009213693951))) AS sig
  FROM ab
),
banded_raw AS (
  SELECT id, CAST(b AS INT) AS band_id,
         md5(array_to_string(list_transform(sig[CAST(b AS INT)*4+1 : CAST(b AS INT)*4+4],
                                            x -> CAST(x AS VARCHAR)), '|')) AS band_hash
  FROM sig, (SELECT unnest(range(0, 8)) AS b)
),
-- bucket cap (mirrors max_bucket_size=64): degenerate band buckets are
-- dropped before the candidate join
small_buckets AS (
  SELECT band_id, band_hash FROM banded_raw
  GROUP BY band_id, band_hash HAVING COUNT(*) <= 64
),
banded AS (
  SELECT banded_raw.* FROM banded_raw
  JOIN small_buckets USING (band_id, band_hash)
),
cands AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.id < b.id
),
survivors AS (
  SELECT id_a, id_b
  FROM cands
  JOIN sig ga ON ga.id = id_a
  JOIN sig gb ON gb.id = id_b
  WHERE len(list_filter(range(1, 65),
            j -> ga.sig[CAST(j AS INT)] = gb.sig[CAST(j AS INT)])) >= 32
),
ex AS (SELECT id, unnest(shingles) AS sh2 FROM sh),
sizes AS (SELECT id, len(shingles) AS n_shingles FROM sh),
common AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
  FROM ex a JOIN ex b ON a.sh2 = b.sh2 AND a.id < b.id
  GROUP BY a.id, b.id
),
truth AS (
  SELECT id_a, id_b,
         CAST(n_common AS DOUBLE)
           / (sa.n_shingles + sb.n_shingles - n_common) AS jaccard
  FROM common
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE CAST(n_common AS DOUBLE)
        / (sa.n_shingles + sb.n_shingles - n_common) >= 0.5
)
SELECT t.id_a, t.id_b, t.jaccard,
       (s.id_a IS NOT NULL) AS in_lsh
FROM truth t
LEFT JOIN survivors s ON t.id_a = s.id_a AND t.id_b = s.id_b
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Bloom-filter membership (r5 wave 11): the ingest-time bloom-join — build
# a filter over the even-doc_id half of the corpus ("yesterday"), probe
# EVERY doc ("today's batch"), label each probe with the filter's verdict
# AND the exact truth so the result exhibits the structure's contract:
# truly_seen=true => maybe_seen=true (no false negatives, ever) while
# maybe & !truly rows are the documented false positives.  Membership is
# by CONTENT (md5(text) key), so an odd doc duplicating an even doc's
# text is a TRUE positive — the dedup semantics, not an id lookup.
# m = 4 bits/key with k=2 → fill ≈ 0.39, FP ≈ 15% — deliberately dense so
# the false-positive branch is populated at every SF (measured
# FP/TN/FN: sf0.001 47/203/0, sf0.01 34/216/0, sf0.1 408/2088/0 over
# 500/500/5000 probes; at sf0.1 four odd docs duplicate even text, so
# truly_seen = 2504 > n_even — the content-membership branch is live
# too).  Production sizing would use ~10 bits/key for ~1% FP.
# Plan: one tiny shuffle builds the words (O(n) rows), the probe side is
# scan + 3 broadcast joins (2 word lookups + exact-truth marker) — no
# shuffle of the probe corpus at all.
# --------------------------------------------------------------------------


def dedup_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.dedup import bloom_build, bloom_probe

    docs = load(spark, sf_dir, "documents")
    seen = (docs.where(F.col("doc_id") % 2 == 0)
            .select(F.md5("text").alias("key")).distinct().persist())
    # one scalar collect: the filter is sized to its corpus (a fixed m
    # cannot serve 10^3 and 10^8 keys alike) — the kmeans-collect class.
    # count() also materializes the persist (seen feeds the word build,
    # the truth marker, and the sizing — the r1 unmaterialized lesson)
    n = seen.count()
    m_bits = 4 * n
    words = bloom_build(seen, "key", m_bits)
    probe = docs.select("doc_id", F.md5("text").alias("key"))
    probed = bloom_probe(probe, "key", words, m_bits)
    marker = seen.withColumn("_hit", F.lit(True))
    return (probed.join(F.broadcast(marker), "key", "left")
            .select("doc_id",
                    F.coalesce("_hit", F.lit(False)).alias("truly_seen"),
                    "maybe_seen"))


_BLOOM_ORACLE = """
WITH seen AS (
  SELECT DISTINCT md5(text) AS key FROM documents WHERE doc_id % 2 = 0
),
params AS (SELECT 4 * COUNT(*) AS m FROM seen),
bits AS (
  SELECT ('0x' || substr(md5('b1' || key), 1, 15))::BIGINT
           % (SELECT m FROM params) AS p FROM seen
  UNION ALL
  SELECT ('0x' || substr(md5('b2' || key), 1, 15))::BIGINT
           % (SELECT m FROM params) AS p FROM seen
),
words AS (
  SELECT p // 32 AS w,
         bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS mask
  FROM bits GROUP BY 1
),
probe AS (
  SELECT doc_id, md5(text) AS key,
         ('0x' || substr(md5('b1' || md5(text)), 1, 15))::BIGINT
           % (SELECT m FROM params) AS p1,
         ('0x' || substr(md5('b2' || md5(text)), 1, 15))::BIGINT
           % (SELECT m FROM params) AS p2
  FROM documents
)
SELECT p.doc_id,
       EXISTS (SELECT 1 FROM seen s WHERE s.key = p.key) AS truly_seen,
       ((COALESCE(w1.mask, 0) & (1::BIGINT << CAST(p.p1 % 32 AS INT))) != 0
        AND (COALESCE(w2.mask, 0)
             & (1::BIGINT << CAST(p.p2 % 32 AS INT))) != 0) AS maybe_seen
FROM probe p
LEFT JOIN words w1 ON w1.w = p.p1 // 32
LEFT JOIN words w2 ON w2.w = p.p2 // 32
"""

register("dedup_bloom_membership", dedup_bloom_membership, _BLOOM_ORACLE)


# --------------------------------------------------------------------------
# Systematic PPS sampling (r5 wave 11): sample one document hit per 64
# tokens of corpus mass laid end-to-end in id order — selection probability
# exactly proportional to length, multi-hits for long docs, zero random
# state (pipeline.text.pps_systematic_sample).  Complements the md5-
# threshold samplers (uniform-per-doc) with the sample-by-token-mass
# design a training mix actually wants.  Sharded prefix sum, never a
# global window over raw docs.  Step 64 < max doc length (~100 tokens on
# this corpus) so all three branches are live at every SF — measured
# multi-hit/unselected: 66/130 (sf0.001), 50/126 (sf0.01), 521/1293
# (sf0.1); a production mix would size step to the target token budget.
# --------------------------------------------------------------------------


def text_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.text import pps_systematic_sample

    return pps_systematic_sample(load(spark, sf_dir, "documents"), step=64)


_PPS_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         CAST(FLOOR(doc_id / 1000) AS BIGINT) AS shard,
         CAST(len(regexp_extract_all(text, '{TOKEN_RE}')) AS INT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, shard, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum
  FROM t
)
SELECT doc_id, shard, n_tokens,
       cum // 64 - (cum - n_tokens) // 64 AS n_hits,
       (cum // 64 - (cum - n_tokens) // 64) > 0 AS selected
FROM c
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# SimHash near-dup JOIN (r5 wave 11): the pairing half the simhash family
# was missing — dedup_simhash_signatures computes the 64-bit sketch, this
# gate turns it into a bounded candidate join: split each signature into
# 4 x 16-bit bands; Hamming distance <= 3 guarantees at least one band
# matches exactly (pigeonhole), so candidates = band-bucket equi-join
# (bucket-capped at 64, the LSH discipline), then exact Hamming verify
# via bit_count(xor) per band — the Google-crawl simhash dedup design.
# Fixture: docs 0-7 planted twice (+60M exact copies -> hamming 0; +61M
# single-token 'zq' tweaks -> measured hamming spread [0..8]), so matched
# pairs at distance 0 AND 1-3 AND rejected candidates (>3) all exist at
# every SF (sf0.001 tweaks: 0,1,2,2,3,3,5,8; sf0.01: 0,1,1,2,3,4,4,4;
# sf0.1: 0,1,2,2,2,4,5,8).
# Plan: signatures persist+materialize (3 consumers), band explode is
# O(4n) tiny rows, the candidate join is an equi-join on (band_idx,
# band_value) — never all-pairs.
# --------------------------------------------------------------------------


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text")
    plant = docs.where(F.col("doc_id") < 8)
    corpus = (base
              .unionByName(plant.select(
                  (F.col("doc_id") + 60_000_000).alias("doc_id"), "text"))
              .unionByName(plant.select(
                  (F.col("doc_id") + 61_000_000).alias("doc_id"),
                  F.concat(F.col("text"), F.lit(" zq")).alias("text"))))
    sigs = simhash64(corpus).persist()
    sigs.count()  # materialize: band explode + two verify sides read it
    band_vals = F.array(*[
        F.conv(F.substring("simhash", 4 * i + 1, 4), 16, 10).cast("long")
        for i in range(4)])
    bands = sigs.select("doc_id", F.posexplode(band_vals).alias("bi", "bv"))
    ok = (bands.groupBy("bi", "bv").agg(F.count("*").alias("n"))
          .where(F.col("n") <= 64).select("bi", "bv"))
    bands = bands.join(ok, ["bi", "bv"])
    cand = (bands.alias("a")
            .join(bands.alias("b"),
                  (F.col("a.bi") == F.col("b.bi"))
                  & (F.col("a.bv") == F.col("b.bv"))
                  & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("da"),
                    F.col("b.doc_id").alias("db"))
            .distinct())
    sa = sigs.select(F.col("doc_id").alias("da"), F.col("simhash").alias("ha"))
    sb = sigs.select(F.col("doc_id").alias("db"), F.col("simhash").alias("hb"))
    ham = sum(
        F.bit_count(
            F.conv(F.substring("ha", 4 * i + 1, 4), 16, 10).cast("long")
            .bitwiseXOR(
                F.conv(F.substring("hb", 4 * i + 1, 4), 16, 10).cast("long")))
        for i in range(4))
    return (cand.join(sa, "da").join(sb, "db")
            .withColumn("hamming", ham.cast("long"))
            .where(F.col("hamming") <= 3)
            .select(F.col("da").alias("doc_a"), F.col("db").alias("doc_b"),
                    "hamming"))


_SIMHASH_PAIRS_ORACLE = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 60000000, text FROM documents WHERE doc_id < 8
  UNION ALL
  SELECT doc_id + 61000000, text || ' zq' FROM documents WHERE doc_id < 8
),
tokens AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[A-Za-z0-9]+')) AS tok
  FROM corpus
),
bits AS (
  SELECT doc_id, b,
         SUM(CASE WHEN (CAST(FLOOR(CAST(strpos('0123456789abcdef',
                     substr(md5(tok), CAST(1 + b // 4 AS INT), 1)) - 1 AS DOUBLE)
                   / pow(2, 3 - b % 4)) AS INT)) % 2 = 1
                  THEN 1 ELSE -1 END) AS s
  FROM tokens, (SELECT unnest(range(0, 64)) AS b)
  GROUP BY doc_id, b
),
nibbles AS (
  SELECT doc_id, CAST(b // 4 AS INT) AS ni,
         SUM(CASE WHEN s >= 0 THEN CAST(pow(2, 3 - b % 4) AS INT) ELSE 0 END) AS nib
  FROM bits GROUP BY doc_id, CAST(b // 4 AS INT)
),
sigs AS (
  SELECT doc_id,
         string_agg(substr('0123456789abcdef', CAST(nib AS INT) + 1, 1), ''
                    ORDER BY ni) AS simhash
  FROM nibbles GROUP BY doc_id
),
bands AS (
  SELECT doc_id, i AS bi,
         ('0x' || substr(simhash, CAST(4 * i + 1 AS INT), 4))::BIGINT AS bv
  FROM sigs, (SELECT unnest(range(0, 4)) AS i)
),
ok AS (SELECT bi, bv FROM bands GROUP BY bi, bv HAVING COUNT(*) <= 64),
cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM bands a
  JOIN ok USING (bi, bv)
  JOIN bands b ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT c.da AS doc_a, c.db AS doc_b,
       CAST(bit_count(xor(('0x' || substr(sa.simhash, 1, 4))::BIGINT,
                          ('0x' || substr(sb.simhash, 1, 4))::BIGINT))
          + bit_count(xor(('0x' || substr(sa.simhash, 5, 4))::BIGINT,
                          ('0x' || substr(sb.simhash, 5, 4))::BIGINT))
          + bit_count(xor(('0x' || substr(sa.simhash, 9, 4))::BIGINT,
                          ('0x' || substr(sb.simhash, 9, 4))::BIGINT))
          + bit_count(xor(('0x' || substr(sa.simhash, 13, 4))::BIGINT,
                          ('0x' || substr(sb.simhash, 13, 4))::BIGINT))
         AS BIGINT) AS hamming
FROM cand c
JOIN sigs sa ON sa.doc_id = c.da
JOIN sigs sb ON sb.doc_id = c.db
WHERE bit_count(xor(('0x' || substr(sa.simhash, 1, 4))::BIGINT,
                    ('0x' || substr(sb.simhash, 1, 4))::BIGINT))
    + bit_count(xor(('0x' || substr(sa.simhash, 5, 4))::BIGINT,
                    ('0x' || substr(sb.simhash, 5, 4))::BIGINT))
    + bit_count(xor(('0x' || substr(sa.simhash, 9, 4))::BIGINT,
                    ('0x' || substr(sb.simhash, 9, 4))::BIGINT))
    + bit_count(xor(('0x' || substr(sa.simhash, 13, 4))::BIGINT,
                    ('0x' || substr(sb.simhash, 13, 4))::BIGINT)) <= 3
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Mean-pooling doc embeddings (r5 wave 11): collapse per-token vectors
# into one document vector by elementwise mean — the doc-embedding
# builder that feeds the ANN / semantic-dedup stack (docs = vec_id div 8
# token bags, the maxsim convention).  Exactness is the kmeans-train
# discipline: integer-grid quantization (floor(x·1e4) BIGINT) makes the
# per-dim sums order-free exact aggregates; each mean is ONE IEEE
# division of exact integers.  One explode + one two-key agg — map-side
# combinable, no joins, no windows.  DuckDB lambda index is 1-based
# (i - 1 maps to Spark's 0-based posexplode).
# --------------------------------------------------------------------------


def emb_mean_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    qv = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * 10_000).cast("long"))
    ex = emb.select(
        F.expr("vec_id div 8").alias("doc_id"),
        F.posexplode(qv).alias("dim", "q"))
    return (ex.groupBy("doc_id", "dim")
            .agg(F.sum("q").alias("s"), F.count("*").alias("n_tokens"))
            .select("doc_id", "dim", "s", "n_tokens",
                    (F.col("s").cast("double")
                     / F.col("n_tokens").cast("double")).alias("mean_q")))


_MEAN_POOL_ORACLE = """
WITH ex AS (
  SELECT vec_id // 8 AS doc_id,
         unnest(list_transform(embedding, (x, i) ->
           {'dim': i - 1,
            'q': CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)})) AS s
  FROM embeddings
)
SELECT doc_id, CAST(s.dim AS INT) AS dim,
       CAST(SUM(s.q) AS BIGINT) AS s,
       COUNT(*) AS n_tokens,
       CAST(CAST(SUM(s.q) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS mean_q
FROM ex GROUP BY doc_id, s.dim
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Multi-source BFS (r5 wave 11): hop distance from seed products over the
# co-purchase graph (sup >= 2 edges, the triangle gate's graph) bounded
# at 3 hops — the fourth graph algorithm family (after components,
# pagerank, triangles): min-plus propagation.  Seeds = part ids % 100
# == 0 appearing in the graph.  All-integer, order-free folds; oracle is
# the iteration-unrolled CTE chain.  Nodes beyond 3 hops are absent by
# contract (the bounded-frontier scale stance).  Branch audit: dist
# 0/1/2/3 all populated at every SF (2/52/145/1, 20/71/228/572,
# 57/73/35/12); unreached nodes exist at sf0.01 (891 of 1880 reached)
# and sf0.1 (177 of 5922) — sf0.001's dense graph is fully covered
# within 3 hops, so the absence branch is pinned by the larger tiers.
# --------------------------------------------------------------------------


def graph_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.graph import bfs_distances

    li = load(spark, sf_dir, "lineitem")
    baskets = (li.groupBy("l_orderkey")
               .agg(F.array_sort(F.collect_set("l_partkey")).alias("items")))
    pairs = baskets.select(F.explode(
        ordered_pairs_col(F.col("items"), "u", "v")).alias("p"))
    edges = (pairs.groupBy(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
             .agg(F.count("*").alias("sup"))
             .where(F.col("sup") >= 2)
             .select("u", "v"))
    nodes = (edges.select(F.col("u").alias("node"))
             .unionAll(edges.select(F.col("v").alias("node"))).distinct())
    seeds = nodes.where(F.col("node") % 100 == 0)
    return bfs_distances(edges, seeds, max_hops=3)


_BFS_ORACLE = """
WITH pl AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM pl a JOIN pl b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
und AS (SELECT u AS a, v AS b FROM edges
        UNION ALL SELECT v AS a, u AS b FROM edges),
d0 AS (
  SELECT DISTINCT a AS node, CAST(0 AS BIGINT) AS dist FROM und
  WHERE a % 100 = 0
),
r1 AS (SELECT e.b AS node, CAST(1 AS BIGINT) AS dist
       FROM d0 JOIN und e ON e.a = d0.node),
d1 AS (SELECT node, MIN(dist) AS dist FROM
       (SELECT * FROM d0 UNION ALL SELECT * FROM r1) GROUP BY node),
r2 AS (SELECT e.b AS node, CAST(2 AS BIGINT) AS dist
       FROM d1 JOIN und e ON e.a = d1.node),
d2 AS (SELECT node, MIN(dist) AS dist FROM
       (SELECT * FROM d1 UNION ALL SELECT * FROM r2) GROUP BY node),
r3 AS (SELECT e.b AS node, CAST(3 AS BIGINT) AS dist
       FROM d2 JOIN und e ON e.a = d2.node),
d3 AS (SELECT node, MIN(dist) AS dist FROM
       (SELECT * FROM d2 UNION ALL SELECT * FROM r3) GROUP BY node)
SELECT node, dist FROM d3
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# k-core decomposition (r5 wave 12): iterative peeling over the
# co-purchase graph (pipeline.graph.kcore, k=3) — the density-community
# primitive, fifth graph family.  The natural graph's k=3 behavior flips
# with SF (sf0.001 fully survives, sf0.1 fully peels), so BOTH branches
# are planted live by construction: a K6 clique (+90M ids, internal
# degree 5 ≥ 3 — must survive even though nothing else at sf0.1 does)
# and a 4-node chain (+91M, degree ≤ 2 — must peel even at dense
# sf0.001).  The engine iterates to fixpoint with a drift-guard raise;
# the oracle unrolls 14 peel rounds (max observed 10 at sf0.01), safe
# because peeling is idempotent at fixpoint.  Survivors report their
# IN-CORE degree, so the falsifiable content is the remaining topology,
# not just membership.
# --------------------------------------------------------------------------


#: engine iteration cap == oracle unroll depth: if the peel ever needs
#: more rounds the ENGINE raises loudly (kcore's drift guard) instead of
#: the oracle silently under-peeling in rounds 15..N
_KCORE_ROUNDS = 14


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.graph import kcore

    li = load(spark, sf_dir, "lineitem")
    baskets = (li.groupBy("l_orderkey")
               .agg(F.array_sort(F.collect_set("l_partkey")).alias("items")))
    pairs = baskets.select(F.explode(
        ordered_pairs_col(F.col("items"), "u", "v")).alias("p"))
    edges = (pairs.groupBy(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
             .agg(F.count("*").alias("sup"))
             .where(F.col("sup") >= 2)
             .select("u", "v"))
    planted = spark.createDataFrame(
        _KCORE_PLANTED, "u long, v long")
    return kcore(edges.unionByName(planted), k=3,
                 max_rounds=_KCORE_ROUNDS)


_KCORE_PLANTED = (
    [(90000000 + i, 90000000 + j) for i in range(6) for j in range(i + 1, 6)]
    + [(91000000 + i, 91000000 + i + 1) for i in range(3)])


def _kcore_oracle() -> str:
    # every alive{r} is referenced twice per round and feeds the next round:
    # DuckDB inlines plain CTEs, so without MATERIALIZED the expansion tree
    # doubles per unrolled round (2^14 lineitem scans — found as a "too many
    # open files" blowup at sf0.001)
    values = ", ".join(f"({u}, {v})" for u, v in _KCORE_PLANTED)
    parts = [f"""WITH pl AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM pl a JOIN pl b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
planted(u, v) AS (VALUES {values}),
alledges AS (SELECT u, v FROM edges UNION ALL SELECT u, v FROM planted),
und AS MATERIALIZED (SELECT u AS a, v AS b FROM alledges
        UNION ALL SELECT v AS a, u AS b FROM alledges),
alive0 AS MATERIALIZED (SELECT DISTINCT a AS node FROM und)"""]
    rounds = _KCORE_ROUNDS
    for r in range(rounds):
        parts.append(f"""deg{r} AS MATERIALIZED (
  SELECT u.a AS node, COUNT(*) AS core_deg FROM und u
  JOIN alive{r} x ON u.a = x.node
  JOIN alive{r} y ON u.b = y.node
  GROUP BY u.a
),
alive{r + 1} AS MATERIALIZED (SELECT node FROM deg{r} WHERE core_deg >= 3)""")
    return (",\n".join(parts)
            + f"\nSELECT node, core_deg FROM deg{rounds - 1} "
              "WHERE core_deg >= 3")


# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# PMI collocation mining (r5 wave 12): pointwise mutual information over
# within-document token co-occurrence — the phrase/collocation detector of
# a tokenizer-prep pipeline.  Division-free discipline (q11/q22): the gate
# emits the exact counts (n_ab, n_a, n_b, n_docs) that define PMI plus
# lift_millis = (n_ab · N · 1000) div (n_a · n_b) — integer floor division
# agreed by Spark div / DuckDB // — so ranking-by-lift is hashed without a
# single IEEE op; the consumer applies log to taste.  Shape: doc-distinct
# tokens → doc_id equi-self-join (a < b) → pair counts → two bounded
# vocabulary joins.  N is a scalar collect (round-control class).  The
# support floor (n_ab ≥ 3) bounds output; the fixture vocabulary is ~31
# tokens so the pair space is ≤ C(31,2) at any SF — at 100 TB the
# production prefilter is a top-V vocabulary semi-join before the
# self-join, same plan otherwise.
# --------------------------------------------------------------------------


def text_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    n_docs = docs.count()
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.regexp_extract_all(
            F.lower(F.col("text")), F.lit("[a-z0-9]+"), F.lit(0))))
        .alias("token"))
    a = toks.select("doc_id", F.col("token").alias("tok_a"))
    b = toks.select(F.col("doc_id").alias("doc_b"),
                    F.col("token").alias("tok_b"))
    pairs = (a.join(b, (F.col("doc_id") == F.col("doc_b"))
                    & (F.col("tok_a") < F.col("tok_b")))
             .groupBy("tok_a", "tok_b").agg(F.count("*").alias("n_ab"))
             .where(F.col("n_ab") >= 3))
    dfreq = toks.groupBy("token").agg(F.count("*").alias("n_tok"))
    return (pairs
            .join(dfreq.select(F.col("token").alias("tok_a"),
                               F.col("n_tok").alias("n_a")), "tok_a")
            .join(dfreq.select(F.col("token").alias("tok_b"),
                               F.col("n_tok").alias("n_b")), "tok_b")
            .select("tok_a", "tok_b", "n_ab", "n_a", "n_b",
                    F.lit(n_docs).cast("long").alias("n_docs"),
                    F.expr(f"(n_ab * {n_docs} * 1000) div (n_a * n_b)")
                    .alias("lift_millis")))


_PMI_ORACLE = """
WITH toks AS (
  SELECT DISTINCT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
  FROM documents
),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
pairs AS (
  SELECT a.token AS tok_a, b.token AS tok_b, COUNT(*) AS n_ab
  FROM toks a JOIN toks b
    ON a.doc_id = b.doc_id AND a.token < b.token
  GROUP BY 1, 2 HAVING COUNT(*) >= 3
),
dfreq AS (SELECT token, COUNT(*) AS n_tok FROM toks GROUP BY token)
SELECT p.tok_a, p.tok_b, p.n_ab, da.n_tok AS n_a, db.n_tok AS n_b,
       n.n_docs,
       (p.n_ab * n.n_docs * 1000) // (da.n_tok * db.n_tok) AS lift_millis
FROM pairs p
JOIN dfreq da ON p.tok_a = da.token
JOIN dfreq db ON p.tok_b = db.token
CROSS JOIN n
"""

register("text_pmi_pairs", text_pmi_pairs, _PMI_ORACLE)


# --------------------------------------------------------------------------
# Content-defined chunking dedup (r5 wave 12): the FastCDC-family rolling-
# gear boundary — the STORAGE-dedup mechanism missing from the line/
# fixed-chunk family: boundaries depend on local content, so the planted
# 2-char-prefix variants (+80M, doc_id < 40) re-align after the edit and
# share most chunk hashes, which fixed-offset chunking provably cannot
# (the chunk_dedup gate's chunks all shift).  Engine: O(n) sequential
# rolling pass (pipeline.dedup.cdc_chunks); oracle: the hash's 16-step
# aging window makes h_i a windowed sum Σ g(c_j)·2^(i−j) mod 2^16 —
# state-free, O(n·16) via a bounded-range self-join.  Per-doc output
# (n_chunks, max_chunk_len, n_shared_with_twin) hashes the whole
# chunking, not just the plants.
# --------------------------------------------------------------------------


def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.dedup import cdc_chunk_df

    docs = (load(spark, sf_dir, "documents").where(F.col("doc_id") <= 300)
            .select("doc_id", "text"))
    variants = (load(spark, sf_dir, "documents").where(F.col("doc_id") < 40)
                .select((F.col("doc_id") + 80000000).alias("doc_id"),
                        F.concat(F.lit("xx"), F.col("text")).alias("text")))
    chunks = cdc_chunk_df(docs.unionByName(variants))
    per_doc = chunks.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.max("chunk_len").alias("max_chunk_len"))
    hashes = chunks.select("doc_id", "chunk_md5").distinct()
    a = hashes.where(F.col("doc_id") < 40)
    b = hashes.where(F.col("doc_id") >= 80000000).select(
        (F.col("doc_id") - 80000000).alias("doc_id"), "chunk_md5")
    shared = (a.join(b, ["doc_id", "chunk_md5"])
              .groupBy("doc_id").agg(F.count("*").alias("n_shared")))
    both = shared.unionByName(
        shared.select((F.col("doc_id") + 80000000).alias("doc_id"),
                      "n_shared"))
    return (per_doc.join(both, "doc_id", "left")
            .select("doc_id", "n_chunks", "max_chunk_len",
                    F.coalesce("n_shared", F.lit(0)).alias("n_shared")))


_CDC_ORACLE = """
WITH m AS (
  SELECT doc_id, text AS txt FROM documents WHERE doc_id <= 300
  UNION ALL
  SELECT doc_id + 80000000, 'xx' || text FROM documents WHERE doc_id < 40
),
ch AS (
  SELECT doc_id, i,
         unicode(substr(txt, CAST(i AS INT), 1)) AS c
  FROM m, LATERAL (SELECT unnest(range(1, len(txt) + 1)) AS i)
),
g AS (
  SELECT doc_id, i, (c * 2654435761) % 65536 AS gv FROM ch
),
h AS (
  SELECT a.doc_id, a.i,
         CAST(SUM(b.gv * (1 << CAST(a.i - b.i AS INT))) % 65536 AS BIGINT)
           AS hv
  FROM g a JOIN g b
    ON a.doc_id = b.doc_id AND b.i BETWEEN a.i - 15 AND a.i
  GROUP BY a.doc_id, a.i
),
marked AS (
  SELECT doc_id, i,
         CASE WHEN hv % 32 = 0 THEN 1 ELSE 0 END AS bnd
  FROM h
),
cidx AS (
  SELECT doc_id, i,
         CAST(COALESCE(SUM(bnd) OVER (PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) AS chunk_idx
  FROM marked
),
chunks AS (
  SELECT x.doc_id, x.chunk_idx,
         md5(string_agg(chr(ch.c), '' ORDER BY x.i)) AS chunk_md5,
         COUNT(*) AS chunk_len
  FROM cidx x JOIN ch ON ch.doc_id = x.doc_id AND ch.i = x.i
  GROUP BY x.doc_id, x.chunk_idx
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_chunks, MAX(chunk_len) AS max_chunk_len
  FROM chunks GROUP BY doc_id
),
hs AS (SELECT DISTINCT doc_id, chunk_md5 FROM chunks),
shared AS (
  SELECT a.doc_id, COUNT(*) AS n_shared
  FROM hs a JOIN hs b
    ON b.doc_id = a.doc_id + 80000000 AND a.chunk_md5 = b.chunk_md5
  WHERE a.doc_id < 40
  GROUP BY a.doc_id
),
twin_shared AS (
  SELECT doc_id, n_shared FROM shared
  UNION ALL
  SELECT doc_id + 80000000, n_shared FROM shared
)
SELECT p.doc_id, p.n_chunks, p.max_chunk_len,
       CAST(COALESCE(b.n_shared, 0) AS BIGINT) AS n_shared
FROM per_doc p LEFT JOIN twin_shared b ON p.doc_id = b.doc_id
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# WAV PCM sample decode (r5 wave 11): the first SAMPLE-level (not header)
# media decode in the suite — possible without codec libraries because
# 16-bit PCM is raw interleaved int16.  Fixture WAVs carry doc_id-derived
# samples v_i = ((id·7919 + i·31) mod 65536) − 32768 over
# (id%50+1)·160·channels frames, so DuckDB reproduces every aggregate
# arithmetically: n_samples, exact sum/sum-of-squares (loudness inputs),
# peak amplitude, clipped-sample count.  Clipping branch live by the
# modular sweep (31 ⊥ 65536 ⇒ residues 65535/0 hit regularly).  The
# kernel walks the REAL RIFF chunk grammar; stats are O(files) output.
# --------------------------------------------------------------------------



def _make_pcm_wav_fixture(mid: int) -> bytes:
    """Shared 16-bit PCM WAV fixture: samples v_i = ((mid*7919 + i*31)
    mod 65536) - 32768 over (mid%50+1)*160*ch frames, ch = 1 + mid%2.
    ONE definition on purpose: multimodal_wav_pcm_stats and
    multimodal_audio_energy's oracles both reproduce these samples
    arithmetically, so fixture identity is a correctness invariant, not
    a style choice."""
    import struct as _struct

    import numpy as np

    ch = 1 + mid % 2
    n = (mid % 50 + 1) * 160 * ch
    i = np.arange(n, dtype=np.int64)
    v = ((mid * 7919 + i * 31) % 65536 - 32768).astype("<i2")
    payload = v.tobytes()
    rate = 8000
    fmt = _struct.pack("<HHIIHH", 1, ch, rate, rate * ch * 2, ch * 2, 16)
    body = (b"fmt " + _struct.pack("<I", 16) + fmt
            + b"data" + _struct.pack("<I", len(payload)) + payload)
    return b"RIFF" + _struct.pack("<I", 4 + len(body)) + b"WAVE" + body



def multimodal_wav_pcm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ..pipeline.multimodal import decode_wav_pcm

    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") <= 300) \
        .select(F.col("doc_id").alias("media_id"))

    def synth(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "media_id": [int(m) for m in pdf["media_id"]],
                "data": [_make_pcm_wav_fixture(int(m))
                         for m in pdf["media_id"]]})

    media = docs.mapInPandas(synth, schema="media_id long, data binary")
    return decode_wav_pcm(media)


_WAV_PCM_ORACLE = """
WITH m AS (
  SELECT doc_id AS media_id,
         (doc_id % 50 + 1) * 160 * (1 + doc_id % 2) AS n
  FROM documents WHERE doc_id <= 300
),
s AS (
  SELECT media_id,
         unnest(range(0, n)) AS i
  FROM m
),
v AS (
  SELECT media_id,
         (media_id * 7919 + i * 31) % 65536 - 32768 AS v
  FROM s
)
SELECT media_id, COUNT(*) AS n_samples,
       CAST(SUM(v) AS BIGINT) AS sum_amp,
       CAST(SUM(v * v) AS BIGINT) AS sum_sq,
       CAST(MAX(ABS(v)) AS BIGINT) AS peak_abs,
       CAST(COUNT(*) FILTER (v = 32767 OR v = -32768) AS BIGINT)
         AS n_clipped
FROM v GROUP BY media_id
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Vocabulary construction (r5 wave 11): the token→id table every
# tokenizer/embedding pipeline starts from — distinct tokens ranked by
# (document frequency DESC, token ASC) with dense ids, truncated to the
# top 20 (the corpus's synthetic vocabulary is 31 tokens, so a realistic
# 30k cap would never truncate — trivially-green rule; production sets
# the cap to the model's vocab budget).  The global rank is over the DISTINCT-TOKEN aggregate (a
# bounded vocabulary, HashAggregate upstream — the sweep-test contract),
# never over raw token occurrences; ties are total-ordered by the token
# string so ids are engine-stable.  Emits (token, vocab_id, df) — df
# kept so the falsifiable content is the whole frequency table, not
# just an ordering.
# --------------------------------------------------------------------------


def text_vocab_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.regexp_extract_all(
            F.lower(F.col("text")), F.lit("[a-z0-9]+"), F.lit(0))))
        .alias("token"))
    dfreq = toks.groupBy("token").agg(
        F.countDistinct("doc_id").alias("df"))
    w = Window.orderBy(F.desc("df"), F.asc("token"))
    return (dfreq.select("token", "df",
                         F.row_number().over(w).alias("vocab_id"))
            .where(F.col("vocab_id") <= 20))


_VOCAB_ORACLE = """
WITH toks AS (
  SELECT DISTINCT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
  FROM documents
),
dfreq AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks
          GROUP BY token)
SELECT token, df, vocab_id FROM (
  SELECT token, df,
         ROW_NUMBER() OVER (ORDER BY df DESC, token ASC) AS vocab_id
  FROM dfreq
) WHERE vocab_id <= 20
"""

register("text_vocab_ids", text_vocab_ids, _VOCAB_ORACLE)


# --------------------------------------------------------------------------
# Normalization-aware exact dedup (r5 wave 11): the CCNet-family compose -
# clean_text_col THEN hash-group - catching duplicates that differ only
# in whitespace/control dirt, which a raw byte hash misses.  Fixture
# plants two copy families of docs 0-7: +70M "dirty" copies
# (ctrl-prefix + doubled spaces; normalizes back to the original) and
# +71M byte-exact copies, so BOTH dup branches are live at every SF:
# normalized_only=true (caught only by normalization) and
# normalized_only=false (raw-equal).  canon = min doc_id per normalized
# key; grouping is hash-equi (groupBy/window on the md5 key), no
# similarity join.  The oracle mirrors the cleanup regex chain (Java vs
# RE2 class parity pinned by the text_normalize_clean pytest) and
# constructs the planted dirt itself - every byte of the corpus is
# known to both engines.
# --------------------------------------------------------------------------


def dedup_normalized_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..pipeline.text import clean_text_col

    docs = load(spark, sf_dir, "documents")
    t = F.coalesce(F.col("text"), F.lit(""))
    plant = docs.where(F.col("doc_id") < 8)
    corpus = (docs.select("doc_id", t.alias("raw"))
              .unionByName(plant.select(
                  (F.col("doc_id") + 70_000_000).alias("doc_id"),
                  F.concat(F.lit("\u0001\u0002"),
                           F.replace(t, F.lit(" "), F.lit("  ")))
                  .alias("raw")))
              .unionByName(plant.select(
                  (F.col("doc_id") + 71_000_000).alias("doc_id"),
                  t.alias("raw"))))
    keyed = corpus.select(
        "doc_id",
        F.md5(F.encode(clean_text_col(F.col("raw")), "UTF-8")).alias("nk"),
        F.md5(F.encode(F.col("raw"), "UTF-8")).alias("rk"))
    w = Window.partitionBy("nk").orderBy("doc_id")
    return (keyed
            .withColumn("canon_id", F.first("doc_id").over(w))
            .withColumn("canon_rk", F.first("rk").over(w))
            .select("doc_id", "canon_id",
                    (F.col("doc_id") != F.col("canon_id")).alias("is_dup"),
                    ((F.col("doc_id") != F.col("canon_id"))
                     & (F.col("rk") != F.col("canon_rk")))
                    .alias("normalized_only")))


_NORM_DEDUP_ORACLE = r"""
WITH corpus AS (
  SELECT doc_id, COALESCE(text, '') AS raw FROM documents
  UNION ALL
  SELECT doc_id + 70000000,
         chr(1) || chr(2) || replace(COALESCE(text, ''), ' ', '  ')
  FROM documents WHERE doc_id < 8
  UNION ALL
  SELECT doc_id + 71000000, COALESCE(text, '')
  FROM documents WHERE doc_id < 8
),
keyed AS (
  SELECT doc_id,
         md5(trim(regexp_replace(
             regexp_replace(regexp_replace(raw,
                 '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f\x{200b}-\x{200d}\x{feff}]',
                 '', 'g'),
                 '[\x{00a0}\x{1680}\x{2000}-\x{200a}\x{202f}\x{205f}\x{3000}]',
                 ' ', 'g'),
             '[ \t\r\n]+', ' ', 'g'))) AS nk,
         md5(raw) AS rk
  FROM corpus
)
SELECT doc_id,
       FIRST_VALUE(doc_id) OVER w AS canon_id,
       doc_id != FIRST_VALUE(doc_id) OVER w AS is_dup,
       (doc_id != FIRST_VALUE(doc_id) OVER w
        AND rk != FIRST_VALUE(rk) OVER w) AS normalized_only
FROM keyed
WINDOW w AS (PARTITION BY nk ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# PNG chunk-CRC integrity scan (r5 wave 11): binary-column data quality -
# verify every chunk's stored CRC32 against its bytes and surface
# corruption WITHOUT decoding pixels (bit-rot / truncation detection for
# a media lake).  Fixture PNGs carry 2 + doc_id%3 data chunks of
# doc_id-derived bytes with CORRECT CRCs, except doc_id % 7 == 0 files
# where one chunk's payload byte is flipped after the CRC was computed -
# so the corrupted and clean branches are both live at every SF and the
# oracle is pure doc_id arithmetic (the engine must find exactly one bad
# chunk in exactly the planted files).
# --------------------------------------------------------------------------


def multimodal_png_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    import struct as _struct
    import zlib as _zlib

    import pandas as pd

    from ..pipeline.multimodal import png_chunk_integrity

    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") <= 300) \
        .select(F.col("doc_id").alias("media_id"))

    def chunk(ctype: bytes, payload: bytes) -> bytes:
        crc = _zlib.crc32(ctype + payload) & 0xFFFFFFFF
        return (_struct.pack(">I", len(payload)) + ctype + payload
                + _struct.pack(">I", crc))

    def make_png(mid: int) -> bytes:
        ihdr = _struct.pack(">II5B", mid % 64 + 1, mid % 48 + 1, 8, 6, 0, 0, 0)
        out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        for k in range(1 + mid % 3):
            payload = bytes((mid * 13 + k * 7 + j) % 256
                            for j in range(16 + (mid + k) % 32))
            c = chunk(b"idAT", payload)
            if mid % 7 == 0 and k == 0:
                # flip one payload byte AFTER the CRC was computed
                b = bytearray(c)
                b[8] ^= 0xFF
                c = bytes(b)
            out += c
        return out

    def synth(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "media_id": [int(m) for m in pdf["media_id"]],
                "data": [make_png(int(m)) for m in pdf["media_id"]]})

    media = docs.mapInPandas(synth, schema="media_id long, data binary")

    def scan(batches):
        for pdf in batches:
            out = {"media_id": [], "n_chunks": [], "n_bad_crc": [],
                   "ok": []}
            for mid, b in zip(pdf["media_id"], pdf["data"]):
                st = png_chunk_integrity(bytes(b))
                if st is None:
                    continue
                out["media_id"].append(int(mid))
                out["n_chunks"].append(st[0])
                out["n_bad_crc"].append(st[1])
                out["ok"].append(st[2])
            yield pd.DataFrame(out)

    return media.mapInPandas(
        scan, schema="media_id long, n_chunks long, n_bad_crc long, ok boolean")


_PNG_INTEGRITY_ORACLE = """
SELECT doc_id AS media_id,
       CAST(2 + doc_id % 3 AS BIGINT) AS n_chunks,
       CAST(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS BIGINT)
         AS n_bad_crc,
       doc_id % 7 != 0 AS ok
FROM documents WHERE doc_id <= 300
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# PNG PIXEL decode (r5 wave 11): the flagship gap-closer - real pixel
# values out of a real compressed image format with NO image library
# (PNG's codec is stdlib zlib; the scanline filters are inverted per
# spec in pipeline.multimodal.decode_png_pixels, validated against
# third-party-encoded files and a hand-filtered spec example).  Fixture
# PNGs carry doc_id-derived pixels v(i) = (id*31 + i*7) % 256 at
# w=16+id%16, h=12+id%8, RGB, with row filter (id+row) % 5 - every
# decoder branch (None/Sub/Up/Average/Paeth) exercised INSIDE the gate.
# The oracle recomputes per-channel sums and a position-weighted
# checksum purely arithmetically: the engine must invert zlib + all
# five filters exactly to match.  After this, only inter-frame VIDEO
# decode (sample_frames) remains env-bound.
# --------------------------------------------------------------------------


def multimodal_png_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ..pipeline.multimodal import decode_png_pixels, write_png

    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") <= 300) \
        .select(F.col("doc_id").alias("media_id"))

    def make_png(mid: int) -> bytes:
        w, h = 16 + mid % 16, 12 + mid % 8
        n = w * h * 3
        px = bytes((mid * 31 + i * 7) % 256 for i in range(n))
        return write_png(px, w, h, 3, [(mid + r) % 5 for r in range(h)])

    def synth(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "media_id": [int(m) for m in pdf["media_id"]],
                "data": [make_png(int(m)) for m in pdf["media_id"]]})

    media = docs.mapInPandas(synth, schema="media_id long, data binary")

    def scan(batches):
        for pdf in batches:
            out = {"media_id": [], "width": [], "height": [],
                   "sum_r": [], "sum_g": [], "sum_b": [], "wsum": []}
            for mid, b in zip(pdf["media_id"], pdf["data"]):
                got = decode_png_pixels(bytes(b))
                if got is None:
                    continue
                w, h, ch, px = got
                out["media_id"].append(int(mid))
                out["width"].append(w)
                out["height"].append(h)
                out["sum_r"].append(sum(px[0::3]))
                out["sum_g"].append(sum(px[1::3]))
                out["sum_b"].append(sum(px[2::3]))
                out["wsum"].append(sum(i * v for i, v in enumerate(px)))
            yield pd.DataFrame(out)

    return media.mapInPandas(
        scan, schema=("media_id long, width long, height long, sum_r long, "
                      "sum_g long, sum_b long, wsum long"))


_PNG_PIXEL_ORACLE = """
WITH m AS (
  SELECT doc_id AS media_id,
         16 + doc_id % 16 AS w, 12 + doc_id % 8 AS h
  FROM documents WHERE doc_id <= 300
),
px AS (
  SELECT media_id, w, h, i,
         (media_id * 31 + i * 7) % 256 AS v
  FROM m, LATERAL (SELECT unnest(range(0, w * h * 3)) AS i)
)
SELECT media_id, CAST(MIN(w) AS BIGINT) AS width,
       CAST(MIN(h) AS BIGINT) AS height,
       CAST(SUM(CASE WHEN i % 3 = 0 THEN v END) AS BIGINT) AS sum_r,
       CAST(SUM(CASE WHEN i % 3 = 1 THEN v END) AS BIGINT) AS sum_g,
       CAST(SUM(CASE WHEN i % 3 = 2 THEN v END) AS BIGINT) AS sum_b,
       CAST(SUM(i * v) AS BIGINT) AS wsum
FROM px GROUP BY media_id
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Perceptual-hash image dedup (r5 wave 12): the multimodal twin of the
# text near-dup family — REAL PNG pixel decode (zlib + filter inversion)
# → integer 8x8 average-hash (pipeline.multimodal.ahash64_words) →
# signature equi-join.  The planted near-dups (doc_id < 40, media_id
# +50000000) are brightness-shifted copies (+16 on every channel, fixture
# pixels capped at 223 so nothing clamps): byte-level dedup CANNOT pair
# them, but aHash is exactly invariant under unclamped constant shifts
# (cross-multiplied cell-vs-mean bits — see the kernel docstring), so the
# engine must decode pixels and hash perceptually to go green.  Pixels
# carry a quadratic term ((i*i)%97) so cell sums differ across images —
# a purely linear ramp would collapse many originals into one bucket.
# Scale shape: hashing is map-only; the pair join shuffles 16-byte
# signatures on (hash_hi, hash_lo) — never pixels, never all-pairs.
# --------------------------------------------------------------------------


def multimodal_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ..pipeline.multimodal import png_ahash, write_png

    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") <= 300) \
        .select(F.col("doc_id").alias("media_id"))
    dups = load(spark, sf_dir, "documents").where(F.col("doc_id") < 40) \
        .select((F.col("doc_id") + 50000000).alias("media_id"))

    def make_png(media_id: int) -> bytes:
        base, delta = (media_id - 50000000, 16) \
            if media_id >= 50000000 else (media_id, 0)
        w, h = 16 + 8 * (base % 2), 16
        n = w * h * 3
        px = bytes((base * 31 + i * 7 + (i * i) % 97) % 224 + delta
                   for i in range(n))
        return write_png(px, w, h, 3, [(base + r) % 5 for r in range(h)])

    def synth(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "media_id": [int(m) for m in pdf["media_id"]],
                "data": [make_png(int(m)) for m in pdf["media_id"]]})

    media = docs.unionByName(dups).mapInPandas(
        synth, schema="media_id long, data binary")
    sig = png_ahash(media).select("media_id", "hash_hi", "hash_lo")
    a = sig.select(F.col("media_id").alias("id_a"), "hash_hi", "hash_lo")
    b = sig.select(F.col("media_id").alias("id_b"),
                   F.col("hash_hi").alias("bh"), F.col("hash_lo").alias("bl"))
    return (a.join(b, (F.col("hash_hi") == F.col("bh"))
                   & (F.col("hash_lo") == F.col("bl"))
                   & (F.col("id_a") < F.col("id_b")))
            .select("id_a", "id_b", "hash_hi", "hash_lo"))


#: The oracle recomputes luma → cell sums → threshold bits → packed words
#: arithmetically from the fixture formula: the engine must invert zlib +
#: all five PNG filters AND reproduce the exact integer hash to match.
_PHASH_ORACLE = """
WITH m AS (
  SELECT doc_id AS media_id, doc_id AS base, 0 AS delta,
         16 + 8 * (doc_id % 2) AS w, 16 AS h
  FROM documents WHERE doc_id <= 300
  UNION ALL
  SELECT doc_id + 50000000, doc_id, 16, 16 + 8 * (doc_id % 2), 16
  FROM documents WHERE doc_id < 40
),
px AS (
  SELECT media_id, w, h, i,
         (base * 31 + i * 7 + (i * i) % 97) % 224 + delta AS v
  FROM m, LATERAL (SELECT unnest(range(0, w * h * 3)) AS i)
),
lum AS (
  SELECT media_id, w, h, i // 3 AS p,
         SUM(v * CASE i % 3 WHEN 0 THEN 299 WHEN 1 THEN 587 ELSE 114 END)
           AS luma
  FROM px GROUP BY 1, 2, 3, 4
),
cells AS (
  SELECT media_id,
         ((p // w) // (h // 8)) * 8 + (p % w) // (w // 8) AS cell,
         SUM(luma) AS cs
  FROM lum GROUP BY 1, 2
),
bits AS (
  SELECT media_id, cell,
         CASE WHEN cs * 64 > SUM(cs) OVER (PARTITION BY media_id)
              THEN 1 ELSE 0 END AS bit
  FROM cells
),
hw AS (
  SELECT media_id,
         CAST(SUM(CASE WHEN cell >= 32
                       THEN bit * (CAST(1 AS BIGINT) << (cell - 32))
                       ELSE 0 END) AS BIGINT) AS hash_hi,
         CAST(SUM(CASE WHEN cell < 32
                       THEN bit * (CAST(1 AS BIGINT) << cell)
                       ELSE 0 END) AS BIGINT) AS hash_lo
  FROM bits GROUP BY 1
)
SELECT a.media_id AS id_a, b.media_id AS id_b, a.hash_hi, a.hash_lo
FROM hw a JOIN hw b
  ON a.hash_hi = b.hash_hi AND a.hash_lo = b.hash_lo
 AND a.media_id < b.media_id
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Audio frame-energy segmentation (r5 wave 12): the VAD / silence-split
# primitive over the REAL PCM decode — per-frame exact energies
# (pipeline.multimodal.pcm_frame_energies), loud = frame energy above the
# file mean (cross-multiplied: energy·n_frames > Σenergy — no division),
# then gaps-and-islands over the loud frames → per-file segment profile.
# Same fixture family as multimodal_wav_pcm_stats so DuckDB reproduces
# every sample arithmetically.  Windows partition per media_id (≤ 102
# frames each) — bounded, never global.  Single-frame files keep the
# strict > comparison false (energy·1 > energy) → zero loud frames; the
# left join keeps them with zeroed counts (branch-audited below).
# --------------------------------------------------------------------------


def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ..pipeline.multimodal import pcm_frame_energy_df

    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") <= 300) \
        .select(F.col("doc_id").alias("media_id"))

    def synth(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "media_id": [int(m) for m in pdf["media_id"]],
                "data": [_make_pcm_wav_fixture(int(m))
                         for m in pdf["media_id"]]})

    media = docs.mapInPandas(synth, schema="media_id long, data binary")
    frames = pcm_frame_energy_df(media, frame=160)

    wfile = Window.partitionBy("media_id")
    marked = frames.select(
        "media_id", "frame_idx", "energy",
        F.count("*").over(wfile).alias("n_frames"),
        F.sum("energy").over(wfile).alias("total_e"))
    loud = marked.where(
        F.col("energy") * F.col("n_frames") > F.col("total_e"))
    wseq = Window.partitionBy("media_id").orderBy("frame_idx")
    runs = (loud.withColumn(
        "grp", F.col("frame_idx") - F.row_number().over(wseq))
        .groupBy("media_id", "grp").agg(F.count("*").alias("run_len")))
    seg = runs.groupBy("media_id").agg(
        F.count("*").alias("n_segments"),
        F.sum("run_len").alias("n_loud"),
        F.max("run_len").alias("max_run"))
    per_file = frames.groupBy("media_id").agg(
        F.count("*").alias("n_frames"))
    return (per_file.join(seg, "media_id", "left")
            .select("media_id", "n_frames",
                    F.coalesce("n_loud", F.lit(0)).alias("n_loud"),
                    F.coalesce("n_segments", F.lit(0)).alias("n_segments"),
                    F.coalesce("max_run", F.lit(0)).alias("max_run")))


_AUDIO_ENERGY_ORACLE = """
WITH m AS (
  SELECT doc_id AS media_id,
         (doc_id % 50 + 1) * 160 * (1 + doc_id % 2) AS n
  FROM documents WHERE doc_id <= 300
),
v AS (
  SELECT media_id, i // 160 AS frame_idx,
         (media_id * 7919 + i * 31) % 65536 - 32768 AS v
  FROM m, LATERAL (SELECT unnest(range(0, n)) AS i)
),
fr AS (
  SELECT media_id, frame_idx, SUM(v * v) AS energy
  FROM v GROUP BY 1, 2
),
mk AS (
  SELECT media_id, frame_idx, energy,
         COUNT(*) OVER (PARTITION BY media_id) AS n_frames,
         SUM(energy) OVER (PARTITION BY media_id) AS total_e
  FROM fr
),
loud AS (
  SELECT media_id, frame_idx,
         frame_idx - ROW_NUMBER() OVER (PARTITION BY media_id
                                        ORDER BY frame_idx) AS grp
  FROM mk WHERE energy * n_frames > total_e
),
runs AS (
  SELECT media_id, grp, COUNT(*) AS run_len FROM loud GROUP BY 1, 2
),
seg AS (
  SELECT media_id, COUNT(*) AS n_segments, SUM(run_len) AS n_loud,
         MAX(run_len) AS max_run
  FROM runs GROUP BY 1
)
SELECT f.media_id, f.n_frames,
       CAST(COALESCE(s.n_loud, 0) AS BIGINT) AS n_loud,
       CAST(COALESCE(s.n_segments, 0) AS BIGINT) AS n_segments,
       CAST(COALESCE(s.max_run, 0) AS BIGINT) AS max_run
FROM (SELECT media_id, COUNT(*) AS n_frames FROM fr GROUP BY 1) f
LEFT JOIN seg s ON f.media_id = s.media_id
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# SQ8 scalar-quantization ANN (r5 wave 12): the third compression tier of
# the ANN family — full vectors (brute force) > SQ8 codes (this gate:
# 1 byte/dim, no training) > PQ codes (8 bytes/vec, trained codebook).
# pipeline.similarity.sq8_encode/sq8_topk: per-dim [min,max] from ONE
# bounded stats pass (collected to plan literals), integer floor-division
# codes, exact BIGINT asymmetric inner product — every step reproducible
# in DuckDB, so unlike float ANN scores the ranking gate is hash-exact.
# Query side = 20 SF-invariant vectors broadcast into the code scan
# (audited BNLJ whitelist class, same as emb_pq_topk's ADC scan).
# --------------------------------------------------------------------------


def emb_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.similarity import sq8_topk

    emb = load(spark, sf_dir, "embeddings")
    return sq8_topk(emb.where(F.col("vec_id") < 20), emb, k=5)


#: DuckDB list lambdas are 1-based (emb_covariance note); '//' on BIGINTs
#: is integer floor division, matching the engine's provably-exact-floor
#: double path; SUM → HUGEINT needs the BIGINT cast.
_SQ8_ORACLE = """
WITH g AS (
  SELECT vec_id, list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS gv
  FROM embeddings
),
e2 AS (
  SELECT vec_id, s.i AS i, s.v AS v FROM (
    SELECT vec_id,
           unnest(list_transform(gv, (x, i) -> {'i': i - 1, 'v': x})) AS s
    FROM g) t
),
dims AS (
  SELECT i, MIN(v) AS mn, GREATEST(MAX(v) - MIN(v), 1) AS rng
  FROM e2 GROUP BY i
),
codes AS (
  -- rng rides along: the score is the RANGE-WEIGHTED integer inner
  -- product (de-affined ranking up to a per-query constant), mirroring
  -- sq8_topk's review fix — the raw code dot product reweights dims
  SELECT e2.vec_id, e2.i, (e2.v - d.mn) * 255 // d.rng AS code,
         d.rng AS rng
  FROM e2 JOIN dims d ON e2.i = d.i
),
sc AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(SUM(q.v * c.code * c.rng) AS BIGINT) AS score
  FROM e2 q JOIN codes c ON q.i = c.i AND c.vec_id != q.vec_id
  WHERE q.vec_id < 20
  GROUP BY 1, 2
)
SELECT query_id, rank, neighbor_id, score FROM (
  SELECT query_id, neighbor_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM sc) WHERE rank <= 5
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Gini-impurity composition audit (r5 wave 12): corpus-diversity metric
# per source — impurity of the language mix 1 − Σp_i² emitted as the
# EXACT integer rational (N² − Σc_i², N²) — Shannon entropy needs log
# (IEEE-divergent), Gini is polynomial in the counts, so the division-
# free discipline applies and the hash carries the exact mix.  Two
# bounded aggregations (per-(source, lang) counts → per-source fold);
# map-side combinable, no windows, no joins.
# --------------------------------------------------------------------------


def text_gini_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    cnt = docs.groupBy("source", "lang").agg(F.count("*").alias("c"))
    return (cnt.groupBy("source")
            .agg(F.sum("c").alias("n_docs"),
                 F.count("*").alias("n_langs"),
                 F.sum(F.col("c") * F.col("c")).alias("sum_c2"))
            .select("source", "n_docs", "n_langs",
                    (F.col("n_docs") * F.col("n_docs") - F.col("sum_c2"))
                    .alias("gini_num"),
                    (F.col("n_docs") * F.col("n_docs")).alias("gini_den"),
                    ((F.col("n_docs") * F.col("n_docs") - F.col("sum_c2"))
                     .cast("double")
                     / (F.col("n_docs") * F.col("n_docs")).cast("double"))
                    .alias("gini")))


_GINI_ORACLE = """
WITH cnt AS (
  SELECT source, lang, COUNT(*) AS c FROM documents GROUP BY 1, 2
),
agg AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs,
         COUNT(*) AS n_langs,
         CAST(SUM(c * c) AS BIGINT) AS sum_c2
  FROM cnt GROUP BY source
)
SELECT source, n_docs, n_langs,
       n_docs * n_docs - sum_c2 AS gini_num,
       n_docs * n_docs AS gini_den,
       CAST(n_docs * n_docs - sum_c2 AS DOUBLE)
         / CAST(n_docs * n_docs AS DOUBLE) AS gini
FROM agg
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Unicode canonical-equivalence dedup (r5 wave 12): NFC-normalized hashing
# (pipeline.text.nfc_md5_col) pairs canonically-equivalent texts that
# byte-dedup misses — planted twins replace every 'e' with precomposed
# é (U+00E9, +92M) vs decomposed e+U+0301 (+93M): same rendered string,
# different code sequences.  The corpus has no natural decompositions
# (audited: ASCII + CJK, and CJK has none — and no raw-equal pairs
# either in the ≤300 slice), so BOTH branches are planted: the twins
# carry nfc-only (every doc < 40 contains an 'e' — 40 pairs), and
# verbatim byte-copies (+94M, doc_id < 10) carry raw_equal=true; the
# emitted flag hashes the distinction.  Oracle: DuckDB nfc_normalize.
# --------------------------------------------------------------------------


def dedup_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.text import nfc_md5_col

    docs = (load(spark, sf_dir, "documents").where(F.col("doc_id") <= 300)
            .select("doc_id", "text"))
    nfc_e = "é"
    nfd_e = "é"
    a = (load(spark, sf_dir, "documents").where(F.col("doc_id") < 40)
         .select((F.col("doc_id") + 92000000).alias("doc_id"),
                 F.regexp_replace("text", "e", nfc_e).alias("text")))
    b = (load(spark, sf_dir, "documents").where(F.col("doc_id") < 40)
         .select((F.col("doc_id") + 93000000).alias("doc_id"),
                 F.regexp_replace("text", "e", nfd_e).alias("text")))
    c = (load(spark, sf_dir, "documents").where(F.col("doc_id") < 10)
         .select((F.col("doc_id") + 94000000).alias("doc_id"), "text"))
    corpus = docs.unionByName(a).unionByName(b).unionByName(c)
    keyed = nfc_md5_col(corpus).select(
        "doc_id", "nfc_md5", F.md5("text").alias("raw_md5"))
    l = keyed.select(F.col("doc_id").alias("id_a"), "nfc_md5",
                     F.col("raw_md5").alias("ra"))
    r = keyed.select(F.col("doc_id").alias("id_b"),
                     F.col("nfc_md5").alias("nb"),
                     F.col("raw_md5").alias("rb"))
    return (l.join(r, (F.col("nfc_md5") == F.col("nb"))
                   & (F.col("id_a") < F.col("id_b")))
            .select("id_a", "id_b",
                    (F.col("ra") == F.col("rb")).alias("raw_equal")))


_NFC_ORACLE = """
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id <= 300
  UNION ALL
  SELECT doc_id + 92000000, replace(text, 'e', chr(233))
  FROM documents WHERE doc_id < 40
  UNION ALL
  SELECT doc_id + 93000000, replace(text, 'e', 'e' || chr(769))
  FROM documents WHERE doc_id < 40
  UNION ALL
  SELECT doc_id + 94000000, text FROM documents WHERE doc_id < 10
),
keyed AS (
  SELECT doc_id, md5(nfc_normalize(text)) AS nfc_md5, md5(text) AS raw_md5
  FROM corpus
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       a.raw_md5 = b.raw_md5 AS raw_equal
FROM keyed a JOIN keyed b
  ON a.nfc_md5 = b.nfc_md5 AND a.doc_id < b.doc_id
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# URL canonicalization dedup (r5 wave 13) — the crawl-frontier /
# seen-URL normalizer: the same page arrives as protocol-relative dirt
# (case-folded scheme+host, default port, www., fragments, duplicate
# slashes, trailing slashes, tracking params, shuffled query order) and
# must collapse to ONE canonical key before fetch/storage dedup.
#
# Fixture (doc_id arithmetic): k = doc_id // 3 picks the page, host =
# example{k % 7}.com, dirt class v = doc_id % 5 — v 0/1/2 carry no real
# query (mixed-case host, uppercase+port+frag+double-slash, www+utm) and
# v 3/4 carry a=1&b=2 (trailing slash + shuffled order; + gclid noise),
# so a page's triplet splits into a no-query group and a query group:
# group sizes 1, 2, AND 3 all occur at every SF.
#
# Structural independence: Spark builds the DIRTY strings and runs the
# real canonicalizer (parse_url + regex/array ops, map-only); the oracle
# never parses dirt — it constructs the canonical DIRECTLY from the same
# (k, v) arithmetic, so a canonicalizer bug cannot be mirrored.
# Scale shape: map-only canonicalization + one hash-groupBy — the exact
# dedup class; the per-canonical window here is bounded by group size 3.
# --------------------------------------------------------------------------


def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.dedup import canonical_url_col

    d = load(spark, sf_dir, "documents").select("doc_id")
    k = (F.col("doc_id") / 3).cast("long")
    h = F.concat(F.lit("example"), (k % 7).cast("string"), F.lit(".com"))
    page = F.concat(F.lit("/p/"), k.cast("string"))
    v = F.col("doc_id") % 5
    dirty = (
        F.when(v == 0, F.concat(F.lit("https://Example"),
                                (k % 7).cast("string"), F.lit(".com"), page))
        .when(v == 1, F.concat(F.lit("HTTPS://"), F.upper(h), F.lit(":443"),
                               F.regexp_replace(page, "^/", "//"),
                               F.lit("#frag")))
        .when(v == 2, F.concat(F.lit("https://www."), h, page,
                               F.lit("?utm_source=x&utm_campaign="),
                               F.col("doc_id").cast("string")))
        .when(v == 3, F.concat(F.lit("https://"), h, page,
                               F.lit("/?b=2&a=1")))
        .otherwise(F.concat(F.lit("https://"), h, F.lit(":443"), page,
                            F.lit("?a=1&gclid=zz"),
                            F.col("doc_id").cast("string"), F.lit("&b=2"))))
    urls = d.select("doc_id", canonical_url_col(dirty).alias("canonical"))
    w = Window.partitionBy("canonical")
    return urls.select(
        "doc_id", "canonical",
        F.count("*").over(w).cast("long").alias("group_size"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("is_survivor"))


_URL_CANON_ORACLE = """
WITH canon AS (
  SELECT doc_id,
         'https://example' || CAST((doc_id // 3) % 7 AS VARCHAR)
         || '.com/p/' || CAST(doc_id // 3 AS VARCHAR)
         || CASE WHEN doc_id % 5 IN (3, 4) THEN '?a=1&b=2' ELSE '' END
         AS canonical
  FROM documents
)
SELECT doc_id, canonical,
       COUNT(*) OVER (PARTITION BY canonical) AS group_size,
       doc_id = MIN(doc_id) OVER (PARTITION BY canonical) AS is_survivor
FROM canon
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Mojibake detect + repair (r5 wave 13) — double-encoding damage (UTF-8
# bytes decoded as latin-1, the ftfy core case) detected by the artifact
# regex and repaired by the inverse transcode, all JVM built-ins
# (pipeline/text.py:mojibake_repair_col).
#
# Fixture: docs < 40 appear TWICE — planted (every 'e' replaced by the
# 2-char artifact pair U+00C3 U+00A9, ids +95M) and clean (verbatim).
# Both branches are guarded by the cross-engine ASCII test
# octet_length(text) == length(text), so a future non-ASCII testdata
# round shrinks the fixture instead of silently breaking the arithmetic
# (the text_normalize_clean defensive-fixture lesson).
#
# Structural independence: the engine counts artifacts with the regex
# and repairs by encode/decode; the oracle never parses the dirty string
# — artifact count is the 'e'-count length identity and the repaired
# hash is md5 of the ORIGINAL text with 'e' -> e-acute (chr(233)),
# computed from the clean source.  n_chars pins that repair restored
# the original character length (a failed transcode leaves +1 char per
# artifact).  Scale: map-only column expressions, one scan.
# --------------------------------------------------------------------------


def text_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.text import MOJIBAKE_RE, mojibake_repair_col

    moji = chr(0xC3) + chr(0xA9)        # mojibake rendering of e-acute
    docs = (load(spark, sf_dir, "documents")
            .where((F.col("doc_id") < 40)
                   & (F.octet_length("text") == F.length("text")))
            .select("doc_id", "text"))
    planted = docs.select(
        (F.col("doc_id") + 95_000_000).alias("doc_id"),
        F.regexp_replace("text", "e", moji).alias("dirty"))
    clean = docs.select("doc_id", F.col("text").alias("dirty"))
    corpus = planted.unionByName(clean)
    n_art = F.regexp_count("dirty", F.lit(MOJIBAKE_RE))
    rep = mojibake_repair_col("dirty")
    return corpus.select(
        "doc_id",
        n_art.cast("long").alias("artifact_count"),
        (n_art > 0).alias("is_mojibake"),
        F.md5(rep).alias("repaired_md5"),
        F.length(rep).cast("long").alias("n_chars"))


_MOJIBAKE_ORACLE = """
WITH src AS (
  SELECT doc_id, text,
         length(text) - length(replace(text, 'e', '')) AS a
  FROM documents
  WHERE doc_id < 40 AND strlen(text) = length(text)
)
SELECT doc_id + 95000000 AS doc_id,
       CAST(a AS BIGINT) AS artifact_count,
       a > 0 AS is_mojibake,
       CASE WHEN a > 0 THEN md5(replace(text, 'e', chr(233)))
            ELSE md5(text) END AS repaired_md5,
       CAST(length(text) AS BIGINT) AS n_chars
FROM src
UNION ALL
SELECT doc_id, CAST(0 AS BIGINT), FALSE, md5(text),
       CAST(length(text) AS BIGINT)
FROM src
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Image resize (r5 wave 13) — the resize stage of the multimodal
# quartet, REAL end-to-end: synthesized PNGs (the phash fixture's pixel
# formula and per-row filter cycle, so the decoder must invert filters
# 0-4 correctly) are decoded with the pure-Python zlib+filter decoder
# and resampled 8x8 by integer nearest neighbor
# (pipeline/multimodal.py:resize_nearest).
#
# Value check: the oracle recomputes the EXACT thumbnail from the pixel
# FORMULA — for output index k (0..191): y2 = k//24, x2 = (k%24)//3,
# c = k%3, source index i = ((y2*2)*w + (x2*w)//8)*3 + c, value =
# (doc*31 + i*7 + (i*i)%97) % 224 — summed per image plus two sampled
# bytes.  Any filter-inversion or sampling-offset bug shifts px_sum.
# Scale: map-only mapInPandas; only 6 longs per image leave the worker.
# --------------------------------------------------------------------------


def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ..pipeline.multimodal import png_resize_stats, write_png

    docs = (load(spark, sf_dir, "documents").where(F.col("doc_id") < 40)
            .select(F.col("doc_id").alias("media_id")))

    def make_png(media_id: int) -> bytes:
        w, h = 16 + 8 * (media_id % 2), 16
        n = w * h * 3
        px = bytes((media_id * 31 + i * 7 + (i * i) % 97) % 224
                   for i in range(n))
        return write_png(px, w, h, 3, [(media_id + r) % 5 for r in range(h)])

    def synth(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "media_id": [int(m) for m in pdf["media_id"]],
                "data": [make_png(int(m)) for m in pdf["media_id"]]})

    media = docs.mapInPandas(synth, schema="media_id long, data binary")
    return png_resize_stats(media, 8, 8)


_RESIZE_ORACLE = """
WITH src AS (
  SELECT doc_id AS media_id, 16 + 8 * (doc_id % 2) AS w
  FROM documents WHERE doc_id < 40
),
thumb AS (
  SELECT media_id, w,
         list_sum(list_transform(
           list_transform(range(192),
             k -> ((k // 24) * 2 * w + ((k % 24) // 3) * w // 8) * 3
                  + k % 3),
           i -> (media_id * 31 + i * 7 + (i * i) % 97) % 224)) AS px_sum
  FROM src
)
SELECT media_id, CAST(w AS BIGINT) AS src_w, CAST(16 AS BIGINT) AS src_h,
       CAST(px_sum AS BIGINT) AS px_sum,
       (media_id * 31) % 224 AS px00,
       (media_id * 31 + ((8 * w + w // 2) * 3) * 7
        + (((8 * w + w // 2) * 3) * ((8 * w + w // 2) * 3)) % 97) % 224
         AS px_center
FROM thumb
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# PCA under driver evidence (r5 wave 13) — pca_project was pytest-only
# ("DuckDB has no eigensolver to mirror"); this gate pins it with the
# q_approx_aggregates tolerance-boolean pattern on MATH INVARIANTS the
# projection must satisfy regardless of solver: for components of the
# fitted covariance, the projected corpus's per-component variance
# equals the eigenvalue and distinct components are uncorrelated.  A
# wrong eigenvector, missing mean-centering, wrong component order, or a
# broken projection fold each shift a variance by O(1) — far beyond the
# 1 % tolerance that covers the integer-grid quantization gap (the
# covariance is fit on floor(x*1e4) while projection uses raw doubles).
# All sums decimal-cast (order-free); n is exact and the oracle computes
# it independently.  Scale: covariance pass + map-only projection + one
# 14-sum aggregation.
# --------------------------------------------------------------------------


def emb_pca_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..pipeline.similarity import embedding_covariance, pca_project

    emb = load(spark, sf_dir, "embeddings")
    k = 4
    # eigenvalues of the SAME covariance pca_project fits (driver-side,
    # d x d — bounded)
    cov_rows = embedding_covariance(emb, "embedding", grid=10_000).collect()
    d = max(r["j"] for r in cov_rows) + 1
    cov = np.zeros((d, d))
    for r in cov_rows:
        cov[r["i"], r["j"]] = cov[r["j"], r["i"]] = r["cov"]
    # the covariance pass works on floor(x * grid) integers, so its
    # eigenvalues carry grid^2 units; eigenVECTORS are scale-invariant
    evals = [v / 10_000.0 ** 2
             for v in sorted(np.linalg.eigvalsh(cov))[::-1][:k]]

    # reuse the collected covariance — pca_project would otherwise run
    # the identical corpus scan a second time (review-found)
    proj = pca_project(emb, n_components=k, cov_rows=cov_rows)
    z = proj.select(
        *[F.col("components")[j].alias(f"z{j}") for j in range(k)])
    sums = [dsum(f"z{j}", f"s{j}", 12) for j in range(k)]
    sums += [dsum(f"z{j} * z{j}", f"ss{j}", 12) for j in range(k)]
    sums += [dsum(f"z{i} * z{j}", f"sp{i}_{j}", 12)
             for i in range(k) for j in range(i + 1, k)]
    agg = z.selectExpr("*").groupBy().agg(
        F.count("*").alias("n"),
        *[F.expr(s.rsplit(" AS ", 1)[0]).alias(s.rsplit(" AS ", 1)[1])
          for s in sums])
    row = agg.first()
    n = row["n"]
    checks = []
    for j in range(k):
        var = row[f"ss{j}"] / n - (row[f"s{j}"] / n) ** 2
        ok = abs(var - evals[j]) <= 0.01 * max(evals[j], 1e-9)
        checks.append((f"var_{j}", bool(ok)))
    for i in range(k):
        for j in range(i + 1, k):
            cv = row[f"sp{i}_{j}"] / n \
                - (row[f"s{i}"] / n) * (row[f"s{j}"] / n)
            ok = abs(cv) <= 0.01 * max((evals[i] * evals[j]) ** 0.5, 1e-9)
            checks.append((f"orth_{i}_{j}", bool(ok)))
    out = spark.createDataFrame(
        [(c, ok, int(n)) for c, ok in checks],
        "invariant string, ok boolean, n long")
    return out


_PCA_ORACLE = """
WITH names(invariant) AS (
  VALUES ('var_0'), ('var_1'), ('var_2'), ('var_3'),
         ('orth_0_1'), ('orth_0_2'), ('orth_0_3'),
         ('orth_1_2'), ('orth_1_3'), ('orth_2_3')
)
SELECT invariant, TRUE AS ok,
       (SELECT COUNT(*) FROM embeddings) AS n
FROM names
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Audio decimation (r5 wave 13) — the resample stage for AUDIO, real
# end-to-end over the RIFF/PCM decoder (the image analogue is
# multimodal_image_resize): keep every 4th int16 sample, emit exact
# integer count/sum/energy of the downsampled signal.  The oracle
# recomputes all three from the fixture's sample FORMULA at the
# decimated indexes (i = 4j), so an off-by-one in the chunk walk, a
# wrong stride, or int16 overflow in the energy sum each flip values.
# No anti-alias filter by design (named trade in the op docstring).
# --------------------------------------------------------------------------


def multimodal_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ..pipeline.multimodal import pcm_decimate_stats

    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") <= 300) \
        .select(F.col("doc_id").alias("media_id"))

    def synth(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "media_id": [int(m) for m in pdf["media_id"]],
                "data": [_make_pcm_wav_fixture(int(m))
                         for m in pdf["media_id"]]})

    media = docs.mapInPandas(synth, schema="media_id long, data binary")
    return pcm_decimate_stats(media, factor=4)


_AUDIO_RESAMPLE_ORACLE = """
WITH m AS (
  SELECT doc_id AS media_id,
         (doc_id % 50 + 1) * 160 * (1 + doc_id % 2) AS n
  FROM documents WHERE doc_id <= 300
),
s AS (
  SELECT media_id, 4 * unnest(range(0, (n + 3) // 4)) AS i
  FROM m
),
v AS (
  SELECT media_id,
         (media_id * 7919 + i * 31) % 65536 - 32768 AS v
  FROM s
)
SELECT media_id, COUNT(*) AS n_out,
       CAST(SUM(v) AS BIGINT) AS sum_amp,
       CAST(SUM(v * v) AS BIGINT) AS sum_sq
FROM v GROUP BY media_id
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Decision provenance audit (r5 wave 13) — the "why was this document
# kept/dropped" readout every production curation pipeline ships next to
# its filters: three rules evaluated per doc (too-short by whitespace
# token proxy < 30; blocked language zh; exact-duplicate non-survivor by
# md5 min-id) composed into a REASON BITMASK, kept = mask == 0.  The
# audit table is the falsifiable artifact: a pipeline that only emits
# survivors cannot be audited for WHY rows vanished.
#
# Branch liveness (measured): too-short fires 105/106/1117, zh 74/75/753;
# exact dups are EMPTY below sf0.1 in the natural corpus, so docs 0-7
# are planted as +96M copies — survivors keep (min id), plants carry
# reason bit 4 at every SF.  Token proxy is pure length arithmetic
# (spaces + 1), immune to regex-class divergence.  Scale: one scan +
# one hash-partitioned window over md5 groups (bounded group size).
# --------------------------------------------------------------------------


def pipeline_decision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    plants = (docs.where(F.col("doc_id") < 8)
              .select((F.col("doc_id") + 96_000_000).alias("doc_id"),
                      "lang", "text"))
    corpus = docs.unionByName(plants)
    n_tok = (F.length("text")
             - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
             + 1)
    h = F.md5("text")
    w = Window.partitionBy(h)
    survivor_min = F.min("doc_id").over(w)
    r1 = (n_tok < 30).cast("long")
    r2 = (F.col("lang") == "zh").cast("long")
    r3 = (F.col("doc_id") > survivor_min).cast("long")
    mask = r1 + r2 * 2 + r3 * 4
    return corpus.select(
        "doc_id",
        n_tok.cast("long").alias("n_tok"),
        mask.alias("reason_mask"),
        (mask == 0).alias("kept"))


_DECISION_ORACLE = """
WITH corpus AS (
  SELECT doc_id, lang, text FROM documents
  UNION ALL
  SELECT doc_id + 96000000, lang, text FROM documents WHERE doc_id < 8
),
r AS (
  SELECT doc_id,
         length(text) - length(replace(text, ' ', '')) + 1 AS n_tok,
         CASE WHEN length(text) - length(replace(text, ' ', '')) + 1 < 30
              THEN 1 ELSE 0 END
         + CASE WHEN lang = 'zh' THEN 2 ELSE 0 END
         + CASE WHEN doc_id > MIN(doc_id) OVER (PARTITION BY md5(text))
                THEN 4 ELSE 0 END AS reason_mask
  FROM corpus
)
SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
       CAST(reason_mask AS BIGINT) AS reason_mask,
       reason_mask = 0 AS kept
FROM r
"""

register("pipeline_decision_audit", pipeline_decision_audit,
         _DECISION_ORACLE)


# --------------------------------------------------------------------------
# Compression-ratio quality signal (r5 wave 13) — the Gopher-family
# "too compressible = repetition/boilerplate" heuristic: zlib level-6
# ratio per document (pipeline/text.py:compression_ratio_df).  Exact
# compressed byte counts are codec-version-dependent, so the GATE emits
# what IS stable: exact raw byte counts plus the thresholded decision —
# natural docs on this corpus measure ratio >= 0.398 and the planted
# repetition 0.011 (measured), so the 0.2 threshold has a 2x margin on
# both sides against zlib build drift (the sketch-envelope gate class).
# Plants: +97M ids, 'd<id> ' prefix + a 10-char token repeated 400x —
# the prefix keeps per-row byte counts id-dependent so n_bytes is
# falsifiable arithmetic, not a constant.
# --------------------------------------------------------------------------


def text_compression_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.text import compression_ratio_df

    docs = (load(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 200).select("doc_id", "text"))
    plants = docs.select(
        (F.col("doc_id") + 97_000_000).alias("doc_id"),
        F.concat(F.lit("d"), F.col("doc_id").cast("string"), F.lit(" "),
                 F.repeat(F.lit("ab canvas "), 400)).alias("text"))
    corpus = docs.unionByName(plants)
    r = compression_ratio_df(corpus)
    return r.select(
        "doc_id", "n_bytes",
        (F.col("ratio_millis") < 200).alias("is_highly_compressible"))


_COMPRESS_ORACLE = """
SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
       FALSE AS is_highly_compressible
FROM documents WHERE doc_id < 200
UNION ALL
SELECT doc_id + 97000000,
       CAST(strlen('d' || CAST(doc_id AS VARCHAR) || ' ') + 4000 AS BIGINT),
       TRUE
FROM documents WHERE doc_id < 200
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# WebP container metadata (r5 wave 14): the modern image wire format the
# meta family (PNG/GIF/BMP/JPEG/WAV/mp4/tar/SRT) didn't cover — and the
# only one whose dimension encoding differs per BITSTREAM VARIANT (lossy
# u14 pair behind a start code, lossless packed 32-bit word, extended
# 24-bit canvas), so one fourcc dispatch is not enough: all three layouts
# are parsed for real by pipeline.multimodal.sniff_webp_meta.  Fixtures
# cycle the three variants by doc_id, plant the alpha signal through a
# DIFFERENT mechanism per variant (ALPH chunk / VP8L hint bit / VP8X flag
# byte), and the lossless chunk's odd 5-byte payload makes the RIFF
# word-alignment pad rule load-bearing (a walker that forgets the pad
# desyncs and drops every following chunk).  Oracle is doc_id arithmetic.
# Scale shape: Arrow-batched mapInPandas over the binary column, map-only.
# --------------------------------------------------------------------------


def multimodal_webp_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    import struct as _struct

    import pandas as pd

    from ..pipeline.multimodal import decode_webp_meta

    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") <= 300) \
        .select(F.col("doc_id").alias("media_id"))

    def chunk(cid: bytes, payload: bytes) -> bytes:
        return (cid + _struct.pack("<I", len(payload)) + payload
                + (b"\x00" if len(payload) % 2 else b""))

    def make_webp(d: int) -> bytes:
        w = d % 4000 + 16
        h = (d * 3) % 3000 + 16
        alpha = d % 5 == 0
        if d % 3 == 0:      # lossy: VP8 frame tag + start code + u14 dims
            body = (b"\x00\x00\x00" + b"\x9d\x01\x2a"
                    + _struct.pack("<HH", w, h))
            chunks = chunk(b"VP8 ", body)
            if alpha:
                chunks = chunk(b"ALPH", b"\x00") + chunks
        elif d % 3 == 1:    # lossless: 0x2f + packed (w-1, h-1, alpha)
            bits = (w - 1) | ((h - 1) << 14) | (int(alpha) << 28)
            chunks = chunk(b"VP8L", b"\x2f" + _struct.pack("<I", bits))
        else:               # extended: VP8X canvas + a VP8 frame chunk
            vp8x = (bytes([0x10 if alpha else 0x00]) + b"\x00" * 3
                    + (w - 1).to_bytes(3, "little")
                    + (h - 1).to_bytes(3, "little"))
            frame = (b"\x00\x00\x00" + b"\x9d\x01\x2a"
                     + _struct.pack("<HH", min(w, 16383), min(h, 16383)))
            chunks = chunk(b"VP8X", vp8x) + chunk(b"VP8 ", frame)
        return b"RIFF" + _struct.pack("<I", 4 + len(chunks)) + b"WEBP" + chunks

    def run(batches):
        for pdf in batches:
            ids = [int(m) for m in pdf["media_id"]]
            yield pd.DataFrame({"media_id": ids,
                                "data": [make_webp(d) for d in ids]})

    media = docs.mapInPandas(run, schema="media_id long, data binary")
    return decode_webp_meta(media)


#: alpha plants land on doc_id % 5 == 0 regardless of variant; chunk count
#: is 2 for lossy-with-ALPH and extended, else 1.
_WEBP_ORACLE = """
SELECT doc_id AS media_id,
       CAST(doc_id % 4000 + 16 AS BIGINT) AS width,
       CAST((doc_id * 3) % 3000 + 16 AS BIGINT) AS height,
       CASE doc_id % 3 WHEN 0 THEN 'lossy' WHEN 1 THEN 'lossless'
            ELSE 'extended' END AS variant,
       doc_id % 5 = 0 AS has_alpha,
       CAST(CASE doc_id % 3
            WHEN 0 THEN 1 + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END
            WHEN 1 THEN 1 ELSE 2 END AS BIGINT) AS n_chunks
FROM documents WHERE doc_id <= 300
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Link prediction over the co-purchase graph (r5 wave 14): the 6th graph
# family (after components, PageRank, triangles, BFS, k-core) — score
# NON-edges by common-neighbor count, the recommender/knowledge-graph-
# completion primitive (cn feeds Jaccard cn/(da+db-cn) or Adamic-Adar
# downstream; the gate emits the exact integer ingredients, never a ratio).
#
# Spark shape: support>=2 edges (the triangle gate's graph), then each
# WEDGE CENTER's sorted neighbor array expands in-row to its ordered pairs
# (ordered_pairs_col — one shuffle, no self-join); centers with degree
# > 64 are EXCLUDED (the minhash bucket-cap stance: a celebrity hub
# contributes deg^2 wedges of near-zero signal — Adamic-Adar would weight
# them 1/log(deg) ~ 0 — and is the exact skew bomb at 100 TB).  The cap is
# falsifiable at every SF by a planted 100-neighbor hub star (+80M ids):
# its C(100,2) = 4950 neighbor pairs appear in the output of any engine
# that ignores the cap and red the row-count/hash (natural max degree is
# 51 / 13 / 6 at sf0.001/0.01/0.1 — the natural graph never trips it).
# Existing edges are removed by anti-join; degrees join back broadcast.
#
# Oracle: the same wedge/cap/anti-join algebra over the recursive-free CTE
# stack.  Both sides exact integers end-to-end.
# --------------------------------------------------------------------------

_LINKPRED_CAP = 64


def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    baskets = (li.groupBy("l_orderkey")
               .agg(F.array_sort(F.collect_set("l_partkey")).alias("items")))
    pairs = baskets.select(F.explode(
        ordered_pairs_col(F.col("items"), "u", "v")).alias("p"))
    nat = (pairs.groupBy(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
           .agg(F.count("*").alias("sup"))
           .where(F.col("sup") >= 2)
           .select("u", "v"))
    star = spark.range(1, 101).select(
        F.lit(80_000_000).cast("long").alias("u"),
        (F.lit(80_000_000) + F.col("id")).cast("long").alias("v"))
    # 3 consumers (und, anti-join, none lazily shared) — eager
    # localCheckpoint materializes once (the r1 unmaterialized-persist
    # lesson) and its blocks are context-cleaned when the plan becomes
    # unreachable, unlike a bare persist() that would pin executor
    # memory for the rest of the suite run
    edges = nat.unionByName(star).localCheckpoint(eager=True)
    und = edges.select(F.col("u").alias("a"), F.col("v").alias("b")) \
        .unionByName(edges.select(F.col("v").alias("a"),
                                  F.col("u").alias("b")))
    deg = und.groupBy("a").agg(F.count("*").alias("deg")) \
        .withColumnRenamed("a", "node")
    centers = deg.where(F.col("deg") <= _LINKPRED_CAP).select("node")
    nbrs = (und.join(centers, und["a"] == centers["node"])
            .groupBy("a")
            .agg(F.array_sort(F.collect_set("b")).alias("nb")))
    cand = nbrs.select(F.explode(
        ordered_pairs_col(F.col("nb"), "x", "y")).alias("w"))
    cn = (cand.groupBy(F.col("w.x").alias("x"), F.col("w.y").alias("y"))
          .agg(F.count("*").alias("cn")))
    pred = cn.join(edges, (cn["x"] == edges["u"]) & (cn["y"] == edges["v"]),
                   "left_anti")
    da = deg.withColumnsRenamed({"node": "x", "deg": "deg_a"})
    db = deg.withColumnsRenamed({"node": "y", "deg": "deg_b"})
    return (pred.join(da, "x").join(db, "y")
            .select(F.col("x").alias("a"), F.col("y").alias("b"),
                    "cn", "deg_a", "deg_b"))


_LINKPRED_ORACLE = """
WITH pl AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
nat AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM pl a JOIN pl b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
edges AS (
  SELECT u, v FROM nat
  UNION ALL
  SELECT 80000000, 80000000 + range FROM range(1, 101)
),
und AS (SELECT u AS a, v AS b FROM edges
        UNION ALL SELECT v, u FROM edges),
deg AS (SELECT a AS node, COUNT(*) AS deg FROM und GROUP BY 1),
centers AS (SELECT node FROM deg WHERE deg <= 64),
wed AS (
  SELECT w1.b AS x, w2.b AS y
  FROM und w1 JOIN und w2 ON w1.a = w2.a AND w1.b < w2.b
  JOIN centers c ON c.node = w1.a
),
cn AS (SELECT x, y, COUNT(*) AS cn FROM wed GROUP BY 1, 2),
pred AS (
  SELECT cn.* FROM cn
  LEFT JOIN edges e ON e.u = cn.x AND e.v = cn.y
  WHERE e.u IS NULL
)
SELECT p.x AS a, p.y AS b, p.cn AS cn, da.deg AS deg_a, db.deg AS deg_b
FROM pred p
JOIN deg da ON da.node = p.x
JOIN deg db ON db.node = p.y
"""

register("graph_link_prediction", graph_link_prediction, _LINKPRED_ORACLE)


# --------------------------------------------------------------------------
# Johnson-Lindenstrauss random-projection sketch (r5 wave 14): the
# training-free dimensionality-reduction tier of the ANN stack (brute →
# JL sketch → SQ8 → PQ → IVF-PQ) — md5-derived ±1 directions, integer-
# grid components, so every projection is an exact ±1-weighted BIGINT sum
# the oracle reproduces bit-for-bit (pipeline.similarity.random_project).
# Map-only, no shuffle; the sign matrix is a plan literal (the PQ
# codebook stance).  The oracle rebuilds the SAME matrix from the md5
# grammar (no literal-copy drift: a sign flip anywhere reds 1000+ rows).
# --------------------------------------------------------------------------


def emb_rp_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.similarity import random_project

    emb = load(spark, sf_dir, "embeddings").where(F.col("vec_id") < 1000)
    return random_project(emb, k=16)


def _rp_oracle() -> str:
    from ..pipeline.similarity import jl_sign_matrix

    signs = jl_sign_matrix(16, 64)
    m = "[" + ", ".join(
        "[" + ", ".join(str(s) for s in row) + "]" for row in signs) + "]"
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
  FROM embeddings WHERE vec_id < 1000
),
s AS (SELECT {m} AS m)
SELECT q.vec_id, CAST(t.j AS BIGINT) AS j,
       CAST(list_sum(list_transform(qv,
              (x, i) -> x * (s.m)[t.j + 1][i])) AS BIGINT) AS proj
FROM q, s, range(16) t(j)
"""


# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# MP3 stream metadata (r5 wave 14): the non-RIFF audio wire format — MPEG
# audio has NO container index, so duration/bitrate-mode are only
# knowable by walking the frame chain, every frame's length computed from
# its own header (pipeline.multimodal.mp3_frame_walk).  The walk itself
# is the falsifiable thing: a wrong length formula desyncs at the next
# sync word and the doc drops out (rows red).  Fixtures cycle samplerate
# and bitrate indexes by doc_id, alternate the padding bit per frame
# (len±1 — padding handling is load-bearing), make odd docs VBR (two
# alternating bitrate indexes — is_vbr and the min/max spread live),
# prefix most docs with a synchsafe-sized ID3v2 tag and suffix every 4th
# with an ID3v1 'TAG' trailer the walker must not read as a frame.
# Oracle is doc_id arithmetic over the same bitrate/rate tables.
# --------------------------------------------------------------------------


def multimodal_mp3_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ..pipeline.multimodal import decode_mp3_meta

    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") <= 250) \
        .select(F.col("doc_id").alias("media_id"))

    brt = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
    rates = (44100, 48000, 32000)

    def make_mp3(d: int) -> bytes:
        out = b""
        if d % 3 != 2:              # ID3v2 prefix with synchsafe size
            size = (d % 7) * 11
            out += (b"ID3\x04\x00\x00"
                    + bytes([(size >> 21) & 0x7F, (size >> 14) & 0x7F,
                             (size >> 7) & 0x7F, size & 0x7F])
                    + b"\x00" * size)
        sri = d % 3
        rate = rates[sri]
        n = d % 40 + 5
        bri1 = (d % 14) + 1
        bri2 = ((d + 5) % 14) + 1
        for j in range(n):
            bri = bri1 if (d % 2 == 0 or j % 2 == 0) else bri2
            pad = j % 2
            flen = 144000 * brt[bri] // rate + pad
            hdr = bytes([0xFF, 0xFB, (bri << 4) | (sri << 2) | (pad << 1),
                         0x00])
            out += hdr + b"\x00" * (flen - 4)
        if d % 4 == 0:              # ID3v1 trailer
            out += b"TAG" + b"\x00" * 125
        return out

    def run(batches):
        for pdf in batches:
            ids = [int(m) for m in pdf["media_id"]]
            yield pd.DataFrame({"media_id": ids,
                                "data": [make_mp3(d) for d in ids]})

    media = docs.mapInPandas(run, schema="media_id long, data binary")
    return decode_mp3_meta(media)


_MP3_ORACLE = """
WITH t AS (
  SELECT doc_id,
         CAST(doc_id % 40 + 5 AS BIGINT) AS n_frames,
         ([44100, 48000, 32000])[doc_id % 3 + 1] AS rate,
         ([32,40,48,56,64,80,96,112,128,160,192,224,256,320])
           [(doc_id % 14) + 1] AS k1,
         ([32,40,48,56,64,80,96,112,128,160,192,224,256,320])
           [((doc_id + 5) % 14) + 1] AS k2,
         doc_id % 2 = 1 AS is_vbr
  FROM documents WHERE doc_id <= 250
)
SELECT doc_id AS media_id, n_frames, CAST(rate AS BIGINT) AS sample_rate,
       CAST(n_frames * 1152 AS DOUBLE) / rate * 1000 AS duration_ms,
       CAST(CASE WHEN is_vbr THEN LEAST(k1, k2) ELSE k1 END AS BIGINT)
         AS kbps_min,
       CAST(CASE WHEN is_vbr THEN GREATEST(k1, k2) ELSE k1 END AS BIGINT)
         AS kbps_max,
       is_vbr
FROM t
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Cross-format pixel-decoder consistency (r5 wave 14): the same
# deterministic pixel buffer is encoded as a PNG (mixed row filters —
# every one of the five spec filters per image) AND a 24-bit BMP (BGR,
# bottom-up rows with 4-byte padding, every 3rd doc top-down via
# negative height), then decoded by the two REAL decoders — a defect in
# EITHER codec (filter inversion, channel order, row order, stride
# padding, zlib framing) breaks pixel equality or the arithmetic pixel
# sum and reds the row.  This is the property a multimodal lake actually
# needs: ingest format must not change the tensor.  Oracle recomputes
# the pixel sum and the BMP byte length from doc_id arithmetic (padding
# formula load-bearing) and asserts agreement as a constant the engines
# must REACH, not copy.
# --------------------------------------------------------------------------


def multimodal_bmp_png_consistency(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    import pandas as pd

    from ..pipeline.multimodal import (
        decode_bmp_pixels,
        decode_png_pixels,
        write_bmp,
        write_png,
    )

    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") <= 200) \
        .select(F.col("doc_id").alias("media_id"))

    def run(batches):
        for pdf in batches:
            out = {k: [] for k in ("media_id", "w", "h", "n_bytes_bmp",
                                   "px_sum_png", "px_sum_bmp",
                                   "formats_agree")}
            for mid in pdf["media_id"]:
                d = int(mid)
                w = d % 12 + 4
                h = (d * 5) % 10 + 4
                px = bytes((d * 31 + i * 7) % 256 for i in range(w * h * 3))
                png = write_png(px, w, h, 3,
                                row_filters=[r % 5 for r in range(h)])
                bmp = write_bmp(px, w, h, topdown=(d % 3 == 0))
                dp = decode_png_pixels(png)
                db = decode_bmp_pixels(bmp)
                out["media_id"].append(d)
                out["w"].append(w)
                out["h"].append(h)
                out["n_bytes_bmp"].append(len(bmp))
                out["px_sum_png"].append(
                    sum(dp[3]) if dp is not None else -1)
                out["px_sum_bmp"].append(
                    sum(db[3]) if db is not None else -1)
                out["formats_agree"].append(
                    dp is not None and db is not None and dp == db)
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        run, schema=("media_id long, w long, h long, n_bytes_bmp long, "
                     "px_sum_png long, px_sum_bmp long, "
                     "formats_agree boolean"))


#: BMP bytes = 54 header + h rows of (3w + pad) with pad = (-3w) mod 4
#: == (4 - 3w%4) % 4.  Pixel sum = sum over the fixture byte formula.
_BMP_PNG_ORACLE = """
WITH geo AS (
  SELECT doc_id, doc_id % 12 + 4 AS w, (doc_id * 5) % 10 + 4 AS h
  FROM documents WHERE doc_id <= 200
)
SELECT doc_id AS media_id, CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
       CAST(54 + h * (3 * w + (4 - (3 * w) % 4) % 4) AS BIGINT)
         AS n_bytes_bmp,
       CAST(list_sum(list_transform(range(0, w * h * 3),
              i -> (doc_id * 31 + i * 7) % 256)) AS BIGINT) AS px_sum_png,
       CAST(list_sum(list_transform(range(0, w * h * 3),
              i -> (doc_id * 31 + i * 7) % 256)) AS BIGINT) AS px_sum_bmp,
       TRUE AS formats_agree
FROM geo
"""

register("multimodal_bmp_png_consistency", multimodal_bmp_png_consistency,
         _BMP_PNG_ORACLE)


# --------------------------------------------------------------------------
# robots.txt crawl-policy filter (r5 wave 14): web-corpus curation must
# PROVE each document's path was fetchable under its site's policy — the
# compliance sibling of text_domain_blocklist.  Per-source robots bodies
# are synthesized with the parse traps live (comment lines, mixed-case
# directives, a stricter BadBot group that must NOT leak into *'s rules,
# an empty Disallow no-op, and a per-source rule difference: even-
# numbered sources also disallow /tmp/), parsed by the REAL RFC-9309
# grouping parser (pipeline.validate.robots_rules) executor-side into a
# rules DataFrame.  The decision is pure DataFrame algebra at corpus
# scale: broadcast the tiny rules table, prefix-match, per-doc max on
# (prefix_len, allow) — longest match wins, allow wins ties (struct
# ordering reproduces robots_decision exactly) — left join keeps
# no-match docs allowed.  All four path classes x both source parities
# are live at every SF by construction.  Oracle is doc_id/source
# arithmetic, independent of parser and join.
# --------------------------------------------------------------------------


def text_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ..pipeline.validate import robots_rules

    docs = (load(spark, sf_dir, "documents")
            .select("doc_id", "source")
            .withColumn("path", F.concat(
                F.lit("/"),
                F.element_at(F.array(F.lit("data"), F.lit("private"),
                                     F.lit("private/pub"), F.lit("tmp")),
                             (F.col("doc_id") % 4 + 1).cast("int")),
                F.lit("/d"), F.col("doc_id").cast("string"))))

    def parse(batches):
        for pdf in batches:
            rows = {"source": [], "allow": [], "prefix": []}
            for s in pdf["source"]:
                # digits-only parse: a NULL/odd-shaped source skips its
                # rules instead of crashing the worker (NULL-testdata
                # lesson; the decision join degrades to allowed)
                digits = "".join(c for c in str(s or "") if c.isdigit())
                if not digits:
                    continue
                n = int(digits)
                txt = ("# crawl policy\n"
                       "User-Agent: BadBot\nDisallow: /\n\n"
                       "User-agent: *\n"
                       "Disallow: /private/\n"
                       "Allow: /private/pub/\n"
                       + ("Disallow: /tmp/\n" if n % 2 == 0 else "")
                       + "Disallow:\n")
                for allow, prefix in robots_rules(txt):
                    rows["source"].append(s)
                    rows["allow"].append(allow)
                    rows["prefix"].append(prefix)
            yield pd.DataFrame(rows)

    rules = (docs.select("source").distinct()
             .mapInPandas(parse, "source string, allow boolean, "
                                 "prefix string"))
    matches = (docs.join(F.broadcast(rules), "source")
               .where(F.col("path").startswith(F.col("prefix")))
               .groupBy("doc_id")
               .agg(F.max(F.struct(F.length("prefix").alias("plen"),
                                   F.col("allow").alias("allow")))
                    .alias("m")))
    return (docs.join(matches, "doc_id", "left")
            .select("doc_id", "source", "path",
                    F.coalesce(F.col("m.allow"), F.lit(True))
                    .alias("allowed"),
                    F.coalesce(F.col("m.plen").cast("long"),
                               F.lit(0).cast("long")).alias("rule_len")))


_ROBOTS_ORACLE = """
SELECT doc_id, source,
       '/' || CASE doc_id % 4 WHEN 0 THEN 'data' WHEN 1 THEN 'private'
              WHEN 2 THEN 'private/pub' ELSE 'tmp' END
           || '/d' || CAST(doc_id AS VARCHAR) AS path,
       CASE doc_id % 4
            WHEN 1 THEN FALSE
            WHEN 3 THEN CAST(substr(source, 4) AS INT) % 2 = 1
            ELSE TRUE END AS allowed,
       CAST(CASE doc_id % 4
            WHEN 0 THEN 0 WHEN 1 THEN 9 WHEN 2 THEN 13
            ELSE CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
                      THEN 5 ELSE 0 END
            END AS BIGINT) AS rule_len
FROM documents
"""

register("text_robots_filter", text_robots_filter, _ROBOTS_ORACLE)


# --------------------------------------------------------------------------
# Binary (1-bit) quantization ANN (r5 wave 14): the extreme end of the
# quantization ladder (binary -> SQ8 -> PQ -> IVF-PQ) — each vector
# collapses to its 64 SIGN BITS packed into two 32-bit words (the bloom/
# ahash precedent: DuckDB raises on 1<<63, so shifts stay <= 31) and
# ranking is Hamming distance via bit_count(xor) — 16 bytes/vector and
# pure register arithmetic, the memory tier a 100 TB corpus scans FIRST
# before re-scoring survivors with a wider tier.  The packing fold is
# MSB-first acc*2+bit (the sequential-fold determinism class; the oracle
# mirrors it with positional 1-based shifts).  Sign bits are balanced on
# this corpus (measured ~51% negative), so words are non-degenerate.
# Top-20 by (hamming, vec_id) — total order, TakeOrdered plan.
# --------------------------------------------------------------------------


def emb_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    w0 = F.expr("aggregate(slice(embedding, 1, 32), 0L,"
                " (acc, x) -> acc * 2 + IF(x >= 0, 1L, 0L))")
    w1 = F.expr("aggregate(slice(embedding, 33, 32), 0L,"
                " (acc, x) -> acc * 2 + IF(x >= 0, 1L, 0L))")
    words = emb.select("vec_id", w0.alias("w0"), w1.alias("w1"))
    q = (words.where(F.col("vec_id") == 0)
         .select(F.col("w0").alias("q0"), F.col("w1").alias("q1")))
    scored = (words.crossJoin(F.broadcast(q))
              .select("vec_id", "w0", "w1",
                      (F.bit_count(F.expr("w0 ^ q0"))
                       + F.bit_count(F.expr("w1 ^ q1"))).cast("long")
                      .alias("hamming")))
    return scored.orderBy("hamming", "vec_id").limit(20)


_BINQ_ORACLE = """
WITH words AS (
  SELECT vec_id,
         list_sum(list_transform(embedding[1:32], (x, i) ->
           CASE WHEN x >= 0 THEN CAST(1 AS BIGINT) << (32 - i)
                ELSE 0 END)) AS w0,
         list_sum(list_transform(embedding[33:64], (x, i) ->
           CASE WHEN x >= 0 THEN CAST(1 AS BIGINT) << (32 - i)
                ELSE 0 END)) AS w1
  FROM embeddings
),
q AS (SELECT w0 AS q0, w1 AS q1 FROM words WHERE vec_id = 0)
SELECT vec_id, CAST(w0 AS BIGINT) AS w0, CAST(w1 AS BIGINT) AS w1,
       CAST(bit_count(xor(CAST(w0 AS BIGINT), CAST(q0 AS BIGINT)))
            + bit_count(xor(CAST(w1 AS BIGINT), CAST(q1 AS BIGINT)))
            AS BIGINT) AS hamming
FROM words, q
ORDER BY hamming, vec_id
LIMIT 20
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Native Python UDTF under driver evidence (r5 wave 14): §2.10's table-
# function surface was pytest-only — this runs the registered po_ngrams
# UDTF in LATERAL position through SQL and aggregates its emissions (per
# doc: n-gram row count and distinct grams over 5-grams of the first 40
# chars), so the UDTF's row-expansion contract (positions, boundary
# count len-n+1, short-text zero rows) is value-hashed.  Docs shorter
# than 5 chars would vanish from an inner LATERAL — none exist in this
# corpus, and the 40-char cap bounds emissions per row (the UDTF is
# row-at-a-time Python: the cap documents its cost tier; the engine's
# scale path for this shape is the Arrow-batched lens flatMap).
# Oracle reproduces the expansion with DuckDB range() arithmetic.
# --------------------------------------------------------------------------


def q_udtf_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..udfs import register_ngrams_udtf

    register_ngrams_udtf(spark)
    load(spark, sf_dir, "documents").where(F.col("doc_id") < 120) \
        .select("doc_id", F.substring("text", 1, 40).alias("head")) \
        .createOrReplaceTempView("po_udtf_docs")
    return spark.sql("""
        SELECT d.doc_id, COUNT(*) AS n_grams,
               COUNT(DISTINCT g.gram) AS n_distinct,
               CAST(MIN(g.pos) AS BIGINT) AS pos_min,
               CAST(MAX(g.pos) AS BIGINT) AS pos_max
        FROM po_udtf_docs d, LATERAL po_ngrams(d.head, 5) g
        GROUP BY d.doc_id
    """)


_UDTF_ORACLE = """
WITH heads AS (
  SELECT doc_id, substring(text, 1, 40) AS head
  FROM documents WHERE doc_id < 120
),
grams AS (
  SELECT doc_id, r AS pos, substring(head, r + 1, 5) AS gram
  FROM heads, LATERAL unnest(range(0, GREATEST(LENGTH(head) - 4, 0))) t(r)
)
SELECT doc_id, COUNT(*) AS n_grams, COUNT(DISTINCT gram) AS n_distinct,
       CAST(MIN(pos) AS BIGINT) AS pos_min,
       CAST(MAX(pos) AS BIGINT) AS pos_max
FROM grams GROUP BY doc_id
"""

register("q_udtf_ngrams", q_udtf_ngrams, _UDTF_ORACLE)


# --------------------------------------------------------------------------
# Degree assortativity moments (r5 wave 14b): the graph-STATISTICS
# family — do high-degree parts co-purchase with high-degree parts?
# Newman's assortativity is a Pearson correlation over the directed
# edge list's endpoint degrees; the gate emits its exact BIGINT moment
# ingredients (Σdu, Σdu·dv, Σdu², edge count, degree extremes — by
# undirected symmetry the v-moments equal the u-moments), never the
# float coefficient (q8 num/den discipline; assembly is one driver-side
# formula).  Shape: the triangle gate's edge build + one degree agg +
# two broadcast-size joins + a single-row total aggregate — map-side
# combinable everywhere, no window, no collect.
# --------------------------------------------------------------------------


def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    baskets = (li.groupBy("l_orderkey")
               .agg(F.array_sort(F.collect_set("l_partkey")).alias("items")))
    pairs = baskets.select(F.explode(
        ordered_pairs_col(F.col("items"), "u", "v")).alias("p"))
    edges = (pairs.groupBy(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
             .agg(F.count("*").alias("sup"))
             .where(F.col("sup") >= 2)
             .select("u", "v"))
    und = edges.select(F.col("u").alias("a"), F.col("v").alias("b")) \
        .unionByName(edges.select(F.col("v").alias("a"),
                                  F.col("u").alias("b")))
    deg = und.groupBy("a").agg(F.count("*").alias("d")) \
        .withColumnRenamed("a", "node")
    du = deg.withColumnsRenamed({"node": "a", "d": "du"})
    dv = deg.withColumnsRenamed({"node": "b", "d": "dv"})
    return (und.join(du, "a").join(dv, "b")
            .agg(F.count("*").alias("n_dir"),
                 F.sum("du").alias("s_u"),
                 F.sum(F.col("du") * F.col("dv")).alias("s_uv"),
                 F.sum(F.col("du") * F.col("du")).alias("s_u2"),
                 F.min("du").alias("deg_min"),
                 F.max("du").alias("deg_max")))


_ASSORT_ORACLE = """
WITH pl AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM pl a JOIN pl b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
und AS (SELECT u AS a, v AS b FROM edges
        UNION ALL SELECT v, u FROM edges),
deg AS (SELECT a AS node, COUNT(*) AS d FROM und GROUP BY 1)
SELECT COUNT(*) AS n_dir,
       CAST(SUM(du.d) AS BIGINT) AS s_u,
       CAST(SUM(du.d * dv.d) AS BIGINT) AS s_uv,
       CAST(SUM(du.d * du.d) AS BIGINT) AS s_u2,
       CAST(MIN(du.d) AS BIGINT) AS deg_min,
       CAST(MAX(du.d) AS BIGINT) AS deg_max
FROM und
JOIN deg du ON du.node = und.a
JOIN deg dv ON dv.node = und.b
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Pandas GROUPED_AGG UDF (r5 wave 14b): §2.10's third UDF form under
# driver evidence (scalar pandas UDFs and UDTFs have gates; the lens
# fold covers UDAF *capability* — this pins Spark's Arrow grouped-
# aggregate API itself).  The UDF computes an exact integer second
# moment on the value grid (python ints — numpy int64 would overflow
# silently, the pcm lesson; the UDF lives in udfs.py because this
# module's future-annotations import breaks pandas_udf inference — the
# documented gotcha, hit live AGAIN this wave), so the oracle is plain
# SQL arithmetic and
# any Arrow batching/partial-combine defect in the grouped-agg path
# flips the hash.
# --------------------------------------------------------------------------


def q_pandas_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..udfs import count_grouped_udf, sum_sq_grouped_udf

    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("long").alias("q"))
    # both aggregates are pandas UDFs: Spark refuses to mix GROUPED_AGG
    # pandas UDFs with JVM aggregates in one agg() (hit live)
    return (li.groupBy("l_returnflag")
            .agg(sum_sq_grouped_udf("q").alias("sum_q2"),
                 count_grouped_udf("q").alias("n")))


_GROUPED_AGG_ORACLE = """
SELECT l_returnflag,
       CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
            AS BIGINT) AS sum_q2,
       COUNT(*) AS n
FROM lineitem GROUP BY 1
"""

register("q_pandas_grouped_agg", q_pandas_grouped_agg, _GROUPED_AGG_ORACLE)


# --------------------------------------------------------------------------
# TIFF IFD metadata (r5 wave 14b): the only container whose BYTE ORDER
# is per-file ('II'/'MM') — the walker dispatches every read on it, and
# the fixture alternates endianness by doc parity so a one-order parser
# returns swapped dims for half the corpus (rows red).  Width rides a
# LONG entry and height a SHORT (endian-sensitive head-packing of the
# 4-byte value field), multi-page chains by doc_id%3+1 — tag table,
# value packing, and chain walk all load-bearing.  Oracle is doc_id
# arithmetic.
# --------------------------------------------------------------------------


def multimodal_tiff_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ..pipeline.multimodal import sniff_tiff_meta, write_tiff_meta

    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") <= 250) \
        .select(F.col("doc_id").alias("media_id"))

    def run(batches):
        for pdf in batches:
            out = {k: [] for k in ("media_id", "width", "height",
                                   "samples", "n_pages", "endian")}
            for mid in pdf["media_id"]:
                d = int(mid)
                t = write_tiff_meta(
                    d % 2000 + 1, d % 1500 + 1,
                    samples=3 if d % 4 == 0 else 1,
                    pages=d % 3 + 1, big_endian=bool(d % 2))
                parsed = sniff_tiff_meta(t)
                if parsed is None:
                    continue
                w, h, sm, pg, en = parsed
                out["media_id"].append(d)
                out["width"].append(w)
                out["height"].append(h)
                out["samples"].append(sm)
                out["n_pages"].append(pg)
                out["endian"].append(en)
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        run, schema=("media_id long, width long, height long, "
                     "samples long, n_pages long, endian string"))


_TIFF_ORACLE = """
SELECT doc_id AS media_id,
       CAST(doc_id % 2000 + 1 AS BIGINT) AS width,
       CAST(doc_id % 1500 + 1 AS BIGINT) AS height,
       CAST(CASE WHEN doc_id % 4 = 0 THEN 3 ELSE 1 END AS BIGINT)
         AS samples,
       CAST(doc_id % 3 + 1 AS BIGINT) AS n_pages,
       CASE WHEN doc_id % 2 = 1 THEN 'big' ELSE 'little' END AS endian
FROM documents WHERE doc_id <= 250
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# In-cell XPath extraction (r5 wave 14b): querying XML that lives INSIDE
# a column — the native-Spark sibling of the lens Markup/CSS-selector
# surface (lens_markup_extract) and the XML complement of
# events_json_extract.  Per-doc XML is synthesized in-plan (JVM concat;
# attribute, int element, and a repeated element list all keyed off
# doc_id arithmetic), then xpath_string / xpath_int / xpath (node list)
# / @attribute extraction run against it — element text, typed
# coercion, list cardinality, and attribute axes each hashed.  Oracle
# reconstructs every extraction from the same arithmetic, independent
# of any XML machinery.
# --------------------------------------------------------------------------


def events_xpath_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    # lang COALESCEd with a sentinel mirrored in the oracle: a NULL lang
    # in a future testdata round would otherwise null the whole concat
    # (the json_dirty_ingest / text_link_census NULL-testdata guard)
    lang = F.coalesce(F.col("lang"), F.lit("und"))
    xml = F.concat(
        F.lit('<doc><t lang="'), lang, F.lit('">title-'),
        F.col("doc_id").cast("string"), F.lit('</t><n>'),
        (F.col("doc_id") % 97).cast("string"), F.lit("</n>"),
        F.concat_ws("", F.transform(
            F.sequence(F.lit(1), (F.col("doc_id") % 3 + 1).cast("int")),
            lambda i: F.concat(F.lit("<v>"), i.cast("string"),
                               F.lit("</v>")))),
        F.lit("</doc>"))
    return (docs.select("doc_id", xml.alias("x"))
            .select(
                "doc_id",
                F.expr("xpath_string(x, '/doc/t')").alias("title"),
                F.expr("xpath_string(x, '/doc/t/@lang')").alias("lang_attr"),
                F.expr("xpath_int(x, '/doc/n')").cast("long").alias("n"),
                F.expr("size(xpath(x, '/doc/v/text()'))").cast("long")
                .alias("n_v")))


_XPATH_ORACLE = """
SELECT doc_id,
       'title-' || CAST(doc_id AS VARCHAR) AS title,
       COALESCE(lang, 'und') AS lang_attr,
       CAST(doc_id % 97 AS BIGINT) AS n,
       CAST(doc_id % 3 + 1 AS BIGINT) AS n_v
FROM documents WHERE doc_id < 300
"""

# registered via the r6 events_extract_semantics pack (events_queries.py)


# --------------------------------------------------------------------------
# Weighted shortest paths (r5 wave 14b): bounded Bellman-Ford over the
# co-purchase graph — the WEIGHTED sibling of graph_bfs_distances (7th
# graph operator family member): relaxation carries dist + w (min-PLUS),
# so the cheapest route can be longer in hops than the hop-shortest one
# — the property that makes this a different algorithm, live in the
# data wherever a 2-edge cheap path beats a 1-edge expensive one.
# Weights are deterministic integers (1 + (u + v) % 7, shared grammar
# with the oracle); same seeds as the BFS gate so the two distance
# fields are directly comparable.  Oracle = iteration-unrolled min-plus
# rounds (the BFS/kcore unrolling precedent).
# --------------------------------------------------------------------------


def graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.graph import sssp_distances

    li = load(spark, sf_dir, "lineitem")
    baskets = (li.groupBy("l_orderkey")
               .agg(F.array_sort(F.collect_set("l_partkey")).alias("items")))
    pairs = baskets.select(F.explode(
        ordered_pairs_col(F.col("items"), "u", "v")).alias("p"))
    edges = (pairs.groupBy(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
             .agg(F.count("*").alias("sup"))
             .where(F.col("sup") >= 2)
             .select("u", "v",
                     (1 + (F.col("u") + F.col("v")) % 7).alias("w")))
    nodes = (edges.select(F.col("u").alias("node"))
             .unionAll(edges.select(F.col("v").alias("node"))).distinct())
    seeds = nodes.where(F.col("node") % 100 == 0)
    return sssp_distances(edges, seeds, max_rounds=3)


_SSSP_ORACLE = """
WITH pl AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v,
         1 + (a.l_partkey + b.l_partkey) % 7 AS w
  FROM pl a JOIN pl b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
und AS (SELECT u AS a, v AS b, w FROM edges
        UNION ALL SELECT v, u, w FROM edges),
d0 AS (
  SELECT DISTINCT a AS node, CAST(0 AS BIGINT) AS dist FROM und
  WHERE a % 100 = 0
),
r1 AS (SELECT e.b AS node, d0.dist + e.w AS dist
       FROM d0 JOIN und e ON e.a = d0.node),
d1 AS (SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM
       (SELECT * FROM d0 UNION ALL SELECT * FROM r1) GROUP BY node),
r2 AS (SELECT e.b AS node, d1.dist + e.w AS dist
       FROM d1 JOIN und e ON e.a = d1.node),
d2 AS (SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM
       (SELECT * FROM d1 UNION ALL SELECT * FROM r2) GROUP BY node),
r3 AS (SELECT e.b AS node, d2.dist + e.w AS dist
       FROM d2 JOIN und e ON e.a = d2.node),
d3 AS (SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM
       (SELECT * FROM d2 UNION ALL SELECT * FROM r3) GROUP BY node)
SELECT node, dist FROM d3
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# Outbound-link census (r5 wave 14b): the web graph that PageRank/
# authority curation consumes is BUILT by extracting hrefs from document
# text — this gate does that extraction end-to-end: URLs are planted
# into the text by doc_id arithmetic (0-2 links per doc, host and path
# both derived), pulled back out with regexp_extract_all (portable
# pattern class), exploded, host-extracted (parse_url), and rolled into
# a per-host census (docs linking, total mentions).  Falsifiable at
# every layer: a greedy pattern that eats the trailing period, a
# missed second link, or a wrong host parse all change counts.  Oracle
# rebuilds the census from the planting arithmetic — it never parses.
# --------------------------------------------------------------------------


def text_link_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    n_links = (F.col("doc_id") % 3).cast("int")
    link = (lambda j: F.concat(
        F.lit(" see http://h"), ((F.col("doc_id") + j) % 5).cast("string"),
        F.lit(".example/p"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".")))
    body = F.concat(
        F.coalesce(F.substring("text", 1, 20), F.lit("")),
        F.when(n_links >= 1, link(0)).otherwise(F.lit("")),
        F.when(n_links >= 2, link(1)).otherwise(F.lit("")))
    urls = F.expr(
        r"regexp_extract_all(body, 'http://[a-z0-9.]+/[a-z0-9]+', 0)")
    return (docs.select("doc_id", body.alias("body"))
            .select("doc_id", F.explode(urls).alias("url"))
            .select("doc_id", F.parse_url("url", F.lit("HOST")).alias("host"))
            .groupBy("host")
            .agg(F.countDistinct("doc_id").alias("n_docs"),
                 F.count("*").alias("n_mentions")))


#: hosts cycle (doc_id + j) % 5 for j < doc_id % 3; the oracle unrolls
#: the two possible links per doc and aggregates the same pairs.
_LINK_CENSUS_ORACLE = """
WITH links AS (
  SELECT doc_id, 'h' || CAST((doc_id + 0) % 5 AS VARCHAR) || '.example'
           AS host
  FROM documents WHERE doc_id < 400 AND doc_id % 3 >= 1
  UNION ALL
  SELECT doc_id, 'h' || CAST((doc_id + 1) % 5 AS VARCHAR) || '.example'
  FROM documents WHERE doc_id < 400 AND doc_id % 3 >= 2
)
SELECT host, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_mentions
FROM links GROUP BY 1
"""

# registered via the r6 consolidation pack — see end of file


# --------------------------------------------------------------------------
# r6 consolidation packs (VERDICT r5 item 2): sibling never-driver-checked
# gates merged into tag-union driver slots.  Every former gate's function,
# fixture, and oracle stays verbatim above (kernel/property tests import
# them directly); only the registration moves.  Coercion discipline:
# _util.pack_union / pack_oracle (every packed integer column audited
# < 2^53 at sf0.1 — max observed 5.9e12 — so the DOUBLE bridge is exact).
# --------------------------------------------------------------------------


def multimodal_container_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged gate (r6): the former multimodal_webp_meta / mp3_meta /
    tiff_meta / srt_cues — the container-metadata kernel family (RIFF/WebP
    variants, MPEG-1 L3 frame chain, TIFF IFD walk, SRT cue grammar), four
    independent mapInPandas byte-walks tag-unioned into one slot."""
    return pack_union([
        ("webp", multimodal_webp_meta(spark, sf_dir)),
        ("mp3", multimodal_mp3_meta(spark, sf_dir)),
        ("tiff", multimodal_tiff_meta(spark, sf_dir)),
        ("srt", multimodal_srt_cues(spark, sf_dir)),
    ])


_CONTAINER_META_PACK_ORACLE = pack_oracle([
    ("webp", _WEBP_ORACLE, {"media_id": 'DOUBLE', "width": 'DOUBLE', "height": 'DOUBLE', "variant": None, "has_alpha": 'VARCHAR', "n_chunks": 'DOUBLE'}),
    ("mp3", _MP3_ORACLE, {"media_id": 'DOUBLE', "n_frames": 'DOUBLE', "sample_rate": 'DOUBLE', "duration_ms": 'DOUBLE', "kbps_min": 'DOUBLE', "kbps_max": 'DOUBLE', "is_vbr": 'VARCHAR'}),
    ("tiff", _TIFF_ORACLE, {"media_id": 'DOUBLE', "width": 'DOUBLE', "height": 'DOUBLE', "samples": 'DOUBLE', "n_pages": 'DOUBLE', "endian": None}),
    ("srt", _SRT_ORACLE, {"media_id": 'DOUBLE', "cue_index": 'DOUBLE', "start_ms": 'DOUBLE', "end_ms": 'DOUBLE', "n_lines": 'DOUBLE', "n_chars": 'DOUBLE'}),
])

register("multimodal_container_meta", multimodal_container_meta,
         _CONTAINER_META_PACK_ORACLE)


def multimodal_audio_pcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged gate (r6): the former multimodal_wav_pcm_stats /
    audio_energy / audio_resample — the PCM sample-domain family (RIFF
    decode stats, frame-energy VAD segmentation, decimation resample)."""
    return pack_union([
        ("wav", multimodal_wav_pcm_stats(spark, sf_dir)),
        ("energy", multimodal_audio_energy(spark, sf_dir)),
        ("resample", multimodal_audio_resample(spark, sf_dir)),
    ])


_AUDIO_PCM_PACK_ORACLE = pack_oracle([
    ("wav", _WAV_PCM_ORACLE, {"media_id": 'DOUBLE', "n_samples": 'DOUBLE', "sum_amp": 'DOUBLE', "sum_sq": 'DOUBLE', "peak_abs": 'DOUBLE', "n_clipped": 'DOUBLE'}),
    ("energy", _AUDIO_ENERGY_ORACLE, {"media_id": 'DOUBLE', "n_frames": 'DOUBLE', "n_loud": 'DOUBLE', "n_segments": 'DOUBLE', "max_run": 'DOUBLE'}),
    ("resample", _AUDIO_RESAMPLE_ORACLE, {"media_id": 'DOUBLE', "n_out": 'DOUBLE', "sum_amp": 'DOUBLE', "sum_sq": 'DOUBLE'}),
])

register("multimodal_audio_pcm", multimodal_audio_pcm,
         _AUDIO_PCM_PACK_ORACLE)


def multimodal_image_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged gate (r6): the former multimodal_png_integrity /
    png_pixel_stats / image_resize / phash_pairs — the pixel-domain image
    family over the real PNG decoder (CRC integrity, channel sums,
    nearest-neighbor thumbnail, aHash near-dup pair join)."""
    return pack_union([
        ("integrity", multimodal_png_integrity(spark, sf_dir)),
        ("pixels", multimodal_png_pixel_stats(spark, sf_dir)),
        ("resize", multimodal_image_resize(spark, sf_dir)),
        ("phash", multimodal_phash_pairs(spark, sf_dir)),
    ])


_IMAGE_PIXELS_PACK_ORACLE = pack_oracle([
    ("integrity", _PNG_INTEGRITY_ORACLE, {"media_id": 'DOUBLE', "n_chunks": 'DOUBLE', "n_bad_crc": 'DOUBLE', "ok": 'VARCHAR'}),
    ("pixels", _PNG_PIXEL_ORACLE, {"media_id": 'DOUBLE', "width": 'DOUBLE', "height": 'DOUBLE', "sum_r": 'DOUBLE', "sum_g": 'DOUBLE', "sum_b": 'DOUBLE', "wsum": 'DOUBLE'}),
    ("resize", _RESIZE_ORACLE, {"media_id": 'DOUBLE', "src_w": 'DOUBLE', "src_h": 'DOUBLE', "px_sum": 'DOUBLE', "px00": 'DOUBLE', "px_center": 'DOUBLE'}),
    ("phash", _PHASH_ORACLE, {"id_a": 'DOUBLE', "id_b": 'DOUBLE', "hash_hi": 'DOUBLE', "hash_lo": 'DOUBLE'}),
])

register("multimodal_image_pixels", multimodal_image_pixels,
         _IMAGE_PIXELS_PACK_ORACLE)


def graph_structure_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged gate (r6): the former graph_triangle_count / graph_kcore /
    graph_degree_assortativity — whole-graph structure statistics
    (degree-oriented wedge triangles, k-core decomposition, Newman
    assortativity moment ingredients)."""
    return pack_union([
        ("triangles", graph_triangle_count(spark, sf_dir)),
        ("kcore", graph_kcore(spark, sf_dir)),
        ("assort", graph_degree_assortativity(spark, sf_dir)),
    ])


_GRAPH_STRUCTURE_PACK_ORACLE = pack_oracle([
    ("triangles", _TRIANGLE_ORACLE, {"p1": 'DOUBLE', "p2": 'DOUBLE', "p3": 'DOUBLE'}),
    ("kcore", _kcore_oracle(), {"node": 'DOUBLE', "core_deg": 'DOUBLE'}),
    ("assort", _ASSORT_ORACLE, {"n_dir": 'DOUBLE', "s_u": 'DOUBLE', "s_uv": 'DOUBLE', "s_u2": 'DOUBLE', "deg_min": 'DOUBLE', "deg_max": 'DOUBLE'}),
])

register("graph_structure_metrics", graph_structure_metrics,
         _GRAPH_STRUCTURE_PACK_ORACLE)


def graph_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged gate (r6): the former graph_bfs_distances /
    graph_sssp_weighted — hop-shortest BFS and min-plus weighted
    Bellman-Ford over the same seeds, directly comparable per node."""
    return pack_union([
        ("bfs", graph_bfs_distances(spark, sf_dir)),
        ("sssp", graph_sssp_weighted(spark, sf_dir)),
    ])


_GRAPH_DISTANCES_PACK_ORACLE = pack_oracle([
    ("bfs", _BFS_ORACLE, {"node": 'DOUBLE', "dist": 'DOUBLE'}),
    ("sssp", _SSSP_ORACLE, {"node": 'DOUBLE', "dist": 'DOUBLE'}),
])

register("graph_distances", graph_distances, _GRAPH_DISTANCES_PACK_ORACLE)


def text_corpus_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged gate (r6): the former text_readability / ngram_diversity /
    gini_diversity / compression_quality — corpus-statistics metrics
    (syllable-group readability ingredients, distinct-n diversity,
    language-mix Gini rationals, compressibility heuristic)."""
    return pack_union([
        ("readability", text_readability(spark, sf_dir)),
        ("ngram", text_ngram_diversity(spark, sf_dir)),
        ("gini", text_gini_diversity(spark, sf_dir)),
        ("compress", text_compression_quality(spark, sf_dir)),
    ])


_TEXT_METRICS_PACK_ORACLE = pack_oracle([
    ("readability", _READABILITY_ORACLE, {"doc_id": 'DOUBLE', "n_words": 'DOUBLE', "n_sentences": 'DOUBLE', "n_syllable_groups": 'DOUBLE'}),
    ("ngram", _NGRAM_DIVERSITY_ORACLE, {"source": None, "n": 'DOUBLE', "total_ngrams": 'DOUBLE', "distinct_ngrams": 'DOUBLE'}),
    ("gini", _GINI_ORACLE, {"source": None, "n_docs": 'DOUBLE', "n_langs": 'DOUBLE', "gini_num": 'DOUBLE', "gini_den": 'DOUBLE', "gini": 'DOUBLE'}),
    ("compress", _COMPRESS_ORACLE, {"doc_id": 'DOUBLE', "n_bytes": 'DOUBLE', "is_highly_compressible": 'VARCHAR'}),
])

register("text_corpus_metrics", text_corpus_metrics,
         _TEXT_METRICS_PACK_ORACLE)


def text_normalize_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged gate (r6): the former text_normalize_clean / text_mojibake
    — normalization and encoding-repair (md5-witnessed cleaned text,
    UTF-8-as-Latin-1 artifact detection and repair)."""
    return pack_union([
        ("normalize", text_normalize_clean(spark, sf_dir)),
        ("mojibake", text_mojibake(spark, sf_dir)),
    ])


_TEXT_NORMALIZE_PACK_ORACLE = pack_oracle([
    ("normalize", _NORMALIZE_ORACLE, {"doc_id": 'DOUBLE', "clean_md5": None, "clean_len": 'DOUBLE', "n_spaces": 'DOUBLE'}),
    ("mojibake", _MOJIBAKE_ORACLE, {"doc_id": 'DOUBLE', "artifact_count": 'DOUBLE', "is_mojibake": 'VARCHAR', "repaired_md5": None, "n_chars": 'DOUBLE'}),
])

register("text_normalize_repair", text_normalize_repair,
         _TEXT_NORMALIZE_PACK_ORACLE)


def dedup_canonical_forms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged gate (r6): the former dedup_normalized_exact /
    dedup_unicode_nfc / dedup_url_canonical — canonical-equivalence dedup
    (whitespace/case normalization, NFC normalization twins, URL
    canonicalization groups)."""
    return pack_union([
        ("normalized", dedup_normalized_exact(spark, sf_dir)),
        ("nfc", dedup_unicode_nfc(spark, sf_dir)),
        ("url", dedup_url_canonical(spark, sf_dir)),
    ])


_DEDUP_CANONICAL_PACK_ORACLE = pack_oracle([
    ("normalized", _NORM_DEDUP_ORACLE, {"doc_id": 'DOUBLE', "canon_id": 'DOUBLE', "is_dup": 'VARCHAR', "normalized_only": 'VARCHAR'}),
    ("nfc", _NFC_ORACLE, {"id_a": 'DOUBLE', "id_b": 'DOUBLE', "raw_equal": 'VARCHAR'}),
    ("url", _URL_CANON_ORACLE, {"doc_id": 'DOUBLE', "canonical": None, "group_size": 'DOUBLE', "is_survivor": 'VARCHAR'}),
])

register("dedup_canonical_forms", dedup_canonical_forms,
         _DEDUP_CANONICAL_PACK_ORACLE)


def dedup_pair_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged gate (r6): the former dedup_simhash_pairs / prefix_jaccard /
    containment / cdc_chunks / lsh_recall_eval / split_leakage — the
    bounded candidate-pair generator family (banded SimHash Hamming,
    exact word-trigram Jaccard, rare-shingle containment, FastCDC shared
    chunks, planted-pair LSH recall eval, split-leakage audit).  Every
    sub-generator keeps its falsifiable cap fixture."""
    return pack_union([
        ("simhash", dedup_simhash_pairs(spark, sf_dir)),
        ("prefix", dedup_prefix_jaccard(spark, sf_dir)),
        ("contain", dedup_containment(spark, sf_dir)),
        ("cdc", dedup_cdc_chunks(spark, sf_dir)),
        ("recall", dedup_lsh_recall_eval(spark, sf_dir)),
        ("leakage", dedup_split_leakage(spark, sf_dir)),
    ])


_DEDUP_PAIR_SKETCHES_PACK_ORACLE = pack_oracle([
    ("simhash", _SIMHASH_PAIRS_ORACLE, {"doc_a": 'DOUBLE', "doc_b": 'DOUBLE', "hamming": 'DOUBLE'}),
    ("prefix", _PREFIX_JACCARD_ORACLE, {"doc_a": 'DOUBLE', "doc_b": 'DOUBLE', "inter": 'DOUBLE', "uni": 'DOUBLE'}),
    ("contain", _CONTAINMENT_ORACLE, {"doc_a": 'DOUBLE', "doc_b": 'DOUBLE', "inter": 'DOUBLE', "sz_a": 'DOUBLE', "sz_b": 'DOUBLE', "a_in_b": 'VARCHAR', "b_in_a": 'VARCHAR'}),
    ("cdc", _CDC_ORACLE, {"doc_id": 'DOUBLE', "n_chunks": 'DOUBLE', "max_chunk_len": 'DOUBLE', "n_shared": 'DOUBLE'}),
    ("recall", _LSH_RECALL_ORACLE, {"id_a": 'DOUBLE', "id_b": 'DOUBLE', "jaccard": 'DOUBLE', "in_lsh": 'VARCHAR'}),
    ("leakage", _SPLIT_LEAKAGE_ORACLE, {"component_id": 'DOUBLE', "n_members": 'DOUBLE', "n_splits": 'DOUBLE', "first_split": None, "leaky": 'VARCHAR'}),
])

register("dedup_pair_sketches", dedup_pair_sketches,
         _DEDUP_PAIR_SKETCHES_PACK_ORACLE)


def emb_quantized_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged gate (r6): the former emb_sq8_topk / binary_hamming_topk /
    rp_sketch / mean_pool — the training-free quantization/reduction
    ladder (SQ8 integer ADC scan, 1-bit sign-packed Hamming top-k, JL
    random projection, token mean-pooling)."""
    return pack_union([
        ("sq8", emb_sq8_topk(spark, sf_dir)),
        ("binq", emb_binary_hamming_topk(spark, sf_dir)),
        ("rp", emb_rp_sketch(spark, sf_dir)),
        ("pool", emb_mean_pool(spark, sf_dir)),
    ])


_EMB_QUANTIZED_PACK_ORACLE = pack_oracle([
    ("sq8", _SQ8_ORACLE, {"query_id": 'DOUBLE', "rank": 'DOUBLE', "neighbor_id": 'DOUBLE', "score": 'DOUBLE'}),
    ("binq", _BINQ_ORACLE, {"vec_id": 'DOUBLE', "w0": 'DOUBLE', "w1": 'DOUBLE', "hamming": 'DOUBLE'}),
    ("rp", _rp_oracle(), {"vec_id": 'DOUBLE', "j": 'DOUBLE', "proj": 'DOUBLE'}),
    ("pool", _MEAN_POOL_ORACLE, {"doc_id": 'DOUBLE', "dim": 'DOUBLE', "s": 'DOUBLE', "n_tokens": 'DOUBLE', "mean_q": 'DOUBLE'}),
])

register("emb_quantized_reps", emb_quantized_reps,
         _EMB_QUANTIZED_PACK_ORACLE)


def emb_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged gate (r6 tranche 2): the former emb_pca_invariants /
    emb_pq_recon_error — the embedding-quality eval family (PCA
    eigenvalue/orthogonality invariants, PQ reconstruction error)."""
    return pack_union([
        ("pca", emb_pca_invariants(spark, sf_dir)),
        ("pqerr", emb_pq_recon_error(spark, sf_dir)),
    ])


_EMB_EVAL_PACK_ORACLE = pack_oracle([
    ("pca", _PCA_ORACLE, {"invariant": None, "ok": 'VARCHAR', "n": 'DOUBLE'}),
    ("pqerr", _PQ_RECON_ORACLE, {"label": 'DOUBLE', "n_vecs": 'DOUBLE', "err_grid_sum": 'DOUBLE', "min_err2": 'DOUBLE', "max_err2": 'DOUBLE'}),
])

register("emb_eval_metrics", emb_eval_metrics, _EMB_EVAL_PACK_ORACLE)


def text_web_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged gate (r6 tranche 2): the former text_domain_blocklist /
    text_link_census — the URL/host curation family (canonicalization +
    broadcast blocklist decisions, outbound-link host census)."""
    return pack_union([
        ("blocklist", text_domain_blocklist(spark, sf_dir)),
        ("census", text_link_census(spark, sf_dir)),
    ])


_TEXT_WEB_CENSUS_PACK_ORACLE = pack_oracle([
    ("blocklist", _BLOCKLIST_ORACLE, {"doc_id": 'DOUBLE', "canon_url": None, "host": None, "blocked": 'VARCHAR'}),
    ("census", _LINK_CENSUS_ORACLE, {"host": None, "n_docs": 'DOUBLE', "n_mentions": 'DOUBLE'}),
])

register("text_web_census", text_web_census, _TEXT_WEB_CENSUS_PACK_ORACLE)


def text_sample_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged gate (r6 tranche 2): the former text_global_shuffle /
    text_weighted_sample — the corpus-ordering family (deterministic
    global shuffle shards, probability-proportional-to-size sampling)."""
    return pack_union([
        ("shuffle", text_global_shuffle(spark, sf_dir)),
        ("weighted", text_weighted_sample(spark, sf_dir)),
    ])


_TEXT_SAMPLE_SHUFFLE_PACK_ORACLE = pack_oracle([
    ("shuffle", _SHUFFLE_ORACLE, {"doc_id": 'DOUBLE', "shard": 'DOUBLE', "pos": 'DOUBLE'}),
    ("weighted", _PPS_ORACLE, {"doc_id": 'DOUBLE', "shard": 'DOUBLE', "n_tokens": 'DOUBLE', "n_hits": 'DOUBLE', "selected": 'VARCHAR'}),
])

register("text_sample_shuffle", text_sample_shuffle,
         _TEXT_SAMPLE_SHUFFLE_PACK_ORACLE)


# --------------------------------------------------------------------------
# Video frame extraction (r6): the realizable slice of the LAST env-bound
# stub (VERDICT r5 missing #2).  Uncompressed AVI stores each frame as a
# raw bottom-up BGR stride-padded DIB array — the BMP pixel grammar minus
# the file header — so REAL frame sampling + pixel decode needs no codec
# library (pipeline/multimodal.py: avi_meta / decode_avi_frames /
# build_avi; inter-frame codecs remain env-bound and the kernel REFUSES
# '..dc' compressed chunks loudly).  The gate synthesizes per-media AVIs
# executor-side (doc_id-derived geometry + per-channel pixel formulas),
# samples every 2nd frame, and emits per-frame channel sums PLUS the
# top-left pixel as an ORIENTATION witness (a row-order bug leaves the
# order-invariant sums green but flips px00_r — sums alone could not
# falsify a consistent writer+reader flip).  Oracle is pure arithmetic
# (DuckDB list_transform over the pixel index).  Stride pad is live:
# w ∈ 8..12 mixes pad 0/1/2/3.
#
# Scale shape: map-only flatMap (one row in, n_frames out), zero shuffle.
# --------------------------------------------------------------------------


def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ..pipeline.multimodal import build_avi, decode_avi_frames

    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") < 120) \
        .select(F.col("doc_id").alias("media_id"))

    def geom(d: int):
        return 8 + d % 5, 6 + d % 4, 3 + d % 3  # w, h, n_frames

    def make_avi(d: int) -> bytes:
        w, h, n = geom(d)
        pad = (-(w * 3)) % 4
        frames = []
        for f in range(n):
            out = bytearray()
            for sy in range(h):          # stored bottom-up
                y = h - 1 - sy
                for x in range(w):
                    base = d * 31 + f * 17 + y * 7 + x * 3
                    out += bytes([(base * 11 + 2) % 256,
                                  (base * 5 + 1) % 256, base % 256])
                out += b"\x00" * pad
            frames.append(bytes(out))
        return build_avi(w, h, frames)

    def run(batches):
        for pdf in batches:
            rows = {k: [] for k in ("media_id", "frame_no", "w", "h",
                                    "sum_r", "sum_g", "sum_b", "px00_r")}
            for mid in pdf["media_id"]:
                d = int(mid)
                for fno, fw, fh, rgb in decode_avi_frames(make_avi(d),
                                                          every_k=2):
                    rows["media_id"].append(d)
                    rows["frame_no"].append(fno)
                    rows["w"].append(fw)
                    rows["h"].append(fh)
                    rows["sum_r"].append(sum(rgb[0::3]))
                    rows["sum_g"].append(sum(rgb[1::3]))
                    rows["sum_b"].append(sum(rgb[2::3]))
                    rows["px00_r"].append(rgb[0])
            yield pd.DataFrame(rows)

    return docs.mapInPandas(
        run, "media_id long, frame_no long, w long, h long, sum_r long, "
             "sum_g long, sum_b long, px00_r long")


_VIDEO_FRAMES_ORACLE = """
WITH media AS (
  SELECT doc_id AS media_id,
         8 + doc_id % 5 AS w, 6 + doc_id % 4 AS h,
         3 + doc_id % 3 AS n FROM documents WHERE doc_id < 120
), frames AS (
  SELECT media_id, w, h,
         unnest(range(0, n, 2)) AS frame_no FROM media
)
SELECT media_id, frame_no, CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
  CAST(list_sum(list_transform(range(0, w * h), p ->
    (media_id * 31 + frame_no * 17 + (p // w) * 7 + (p % w) * 3)
    % 256)) AS BIGINT) AS sum_r,
  CAST(list_sum(list_transform(range(0, w * h), p ->
    ((media_id * 31 + frame_no * 17 + (p // w) * 7 + (p % w) * 3) * 5 + 1)
    % 256)) AS BIGINT) AS sum_g,
  CAST(list_sum(list_transform(range(0, w * h), p ->
    ((media_id * 31 + frame_no * 17 + (p // w) * 7 + (p % w) * 3) * 11 + 2)
    % 256)) AS BIGINT) AS sum_b,
  (media_id * 31 + frame_no * 17) % 256 AS px00_r
FROM frames
"""

register("multimodal_video_frames", multimodal_video_frames,
         _VIDEO_FRAMES_ORACLE)
