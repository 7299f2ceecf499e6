"""Deduplication operators: exact digest, exact Jaccard, MinHash+LSH, SimHash.

Scale notes (the 100 TB stance):

- **exact**: one hash-groupBy shuffle on a 16-byte digest — the cheapest
  possible dedup; always run it first to shrink the corpus.
- **exact Jaccard**: one set-similarity join, ``_shingle_jaccard_pairs``,
  with two shinglers — char-5-grams (``ngram_jaccard_pairs``) and word
  trigrams (``prefix_jaccard_pairs``).  It counts every shared shingle
  on a shingle-equi-join, so its cost is Σ df(s)² over shingles s
  (measured 413 s at sf0.1 vs 3 s at sf0.01 on the synthetic docs): the *verification* tool and the exactness
  reference, never the scale path.  Filters in front of it were tried
  and rejected — a df-capped candidate variant cost ~28% recall on
  template-heavy corpora, and a PPJoin prefix filter kept most char-5
  pairs while making the join 2.6x slower.  Use MinHash-LSH at scale.
- **MinHash + LSH banding**: the scale path.  Signatures are k=64 mins of
  a Carter-Wegman family (one md5 per shingle); banding over the first
  8 bands × 4 rows turns near-dup search into an equi-join on
  (band_id, band_hash) with S-curve threshold ≈ 0.6; a 32/64
  signature-agreement prefilter shields the exact verify from candidate
  floods.
- **SimHash**: 64-bit per-doc signature; hamming-near docs share chunk
  values → equi-join on 16-bit chunks for candidates.

Everything is hash-deterministic (md5) so the DuckDB oracle reproduces
results bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .similarity import _spread


def char_shingles(text: str | Column, n: int = 5) -> Column:
    """Distinct character n-gram shingles of a text column."""
    c = F.col(text) if isinstance(text, str) else text
    positions = F.sequence(F.lit(1), F.greatest(F.length(c) - (n - 1), F.lit(1)))
    return F.array_distinct(F.transform(positions, lambda i: c.substr(i, F.lit(n))))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by content digest: representative = min id.
    → (content_hash, rep_id, dup_count)"""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("rep_id"), F.count("*").alias("dup_count"))
    )


def _shingle_jaccard_pairs(df: DataFrame, shingles: Column, num: int,
                           den: int, id_col: str) -> DataFrame:
    """Every doc pair (id_a < id_b) whose shingle sets have Jaccard
    >= num/den → (id_a, id_b, n_common, n_union): the one exact
    set-similarity join.  ``shingles`` is a distinct-shingle array
    expression over ``df``'s columns (resolved by name, so it serves both
    the corpus and its spread copy); docs with no shingles never pair.

    Plan: explode shingles → self-equi-join on the shingle (build side
    hashed, probe side streamed BY DOC) → count common → |A∪B| from
    per-doc sizes.  The join key is the shingle, so only docs sharing
    content ever meet.  The threshold is the integer cross-multiplication
    ``den*n_common >= num*n_union`` — no float division, so every engine
    agrees on pairs that sit exactly on it.

    The Σ_sh c_sh² *work* is intrinsic to exactness-with-counts
    (n_common must count every shared shingle), but its PLACEMENT is
    not: r11 measured 528 s at sf0.1 (5 000 template-heavy docs) with
    every pair generated inside ONE task — the probe side was the raw
    3 MB scan's single IO-sized partition, so the hash join's entire
    output explosion (769M pair rows here) ran single-threaded while 31
    cores idled (guide §2.5 input skew: AQE cannot see it because the
    explosion is join OUTPUT; map-side bytes look tiny).  ``_spread``
    round-robins the probe side to session parallelism BEFORE the
    explode, which spreads the quadratic work almost perfectly: the
    hot (template) shingles appear in nearly every doc, so per-doc
    streaming is per-pair-work balanced.

    Keeping the pair generation streamed BY DOC (not re-keyed by
    shingle) is load-bearing for the aggregation too: every output row
    of pair (a, b) is produced in the one task that owns doc a, so the
    partial ``groupBy(id_a, id_b)`` collapses the explosion in-task
    (~770M rows → 12.4M) with a small per-task hash map.  An r12 A/B
    implemented the VERDICT-suggested grid-salted join key
    ``(sh, pmod(xxhash64(id_b), g))`` instead — it balanced the join
    tasks (32 even tasks) but SCATTERED each pair's rows across salt
    buckets, degrading the partial aggregation into 32 near-corpus-size
    hash maps that spilled: 3 862 executor-cpu-s vs ~600 for the
    doc-streamed form (310 s vs ~25 s wall) on identical output.
    Reverted on that evidence; the transferable rule is guide §8's —
    audit how a re-keyed shuffle interacts with the NEXT operator's
    locality before salting.

    No filter fronts the join: at sf0.1 a PPJoin prefix filter (Bayardo
    2007; Xiao 2008) kept 8.2M of the 12.5M char-5 pairs and made the
    char-5 join 2.6x slower, and a size filter in the join condition was
    slower on both shinglers (ROADMAP B).  Still quadratic in
    shared-shingle counts: MinHash-LSH is the scale path this join
    exists to verify.
    """
    sizes = df.select(F.col(id_col).alias("id"),
                      F.size(shingles).alias("n_shingles"))
    ex = df.select(F.col(id_col).alias("id"), F.explode(shingles).alias("sh"))
    a = _spread(df).select(
        F.col(id_col).alias("id"), F.explode(shingles).alias("sh")).alias("a")
    b = ex.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_shingles").alias("size_b"))
    n_union = F.col("size_a") + F.col("size_b") - F.col("n_common")
    return (
        common.join(sa, "id_a").join(sb, "id_b")
        .select("id_a", "id_b", "n_common", n_union.alias("n_union"))
        .where(F.lit(den) * F.col("n_common") >= F.lit(num) * F.col("n_union"))
    )


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 5,
                        num: int = 1, den: int = 2) -> DataFrame:
    """Exact char-n-gram Jaccard similar pairs (a < b, jaccard ≥ num/den)
    → (id_a, id_b, n_common, jaccard); see ``_shingle_jaccard_pairs``.
    Do not run it on a full corpus: the cost is Σ df(s)²."""
    return (_shingle_jaccard_pairs(df, char_shingles(text_col, n), num, den,
                                   id_col)
            .select("id_a", "id_b", "n_common",
                    (F.col("n_common").cast("double") / F.col("n_union"))
                    .alias("jaccard")))


#: 2^61 - 1, the Mersenne prime used by the Carter-Wegman MinHash family.
MERSENNE_P = (1 << 61) - 1


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k: int = 32, n: int = 5) -> DataFrame:
    """MinHash signatures → (id, sig array<long>).

    Each shingle is md5'd ONCE; the digest yields two integers
    a = hex[0:15) (60 bits) and b = hex[16:30) (56 bits), and the k hash
    functions are the 2-universal Carter-Wegman family
    ``h_i(s) = (a + i*b) mod (2^61-1)`` — k cheap long-arithmetic ops
    instead of k md5 digests per shingle (arithmetic stays in int64:
    a + 31*b < 2^62).  Deterministic and engine-portable: DuckDB reproduces
    it with ``('0x'||substr(md5(s),..))::BIGINT``.

    Shape: explode shingles → hash once per shingle → groupBy(id) with k
    ``min()`` aggregates.  Map-side partial aggregation reduces the shuffle
    to k longs per doc per partition, so this scales to 100 TB corpora.
    (A per-row nested-``transform`` formulation looks shuffle-free but
    Catalyst re-evaluates the shingle-hash array for every one of the k
    outer lambda elements — measured ~30× slower.)

    The k aggregates ride in ONE parsed SQL expression
    (``array(min(..0..), …, min(..k-1..))``): the Column-by-Column build
    was ~8 py4j round-trips per hash function — ~0.8 s of driver time per
    call at k=64 against ~0.1 s for the single parse, with a byte-identical
    result (checksummed) and the same partial-aggregable physical plan
    (HashAggregate → Exchange → HashAggregate, array assembled in the
    final-aggregate projection).
    """
    ex = _spread(df).select(
        F.col(id_col).alias("id"),
        F.explode(char_shingles(text_col, n)).alias("sh"),
    ).withColumn("h", F.md5("sh")).select(
        "id",
        F.conv(F.substring("h", 1, 15), 16, 10).cast("long").alias("a"),
        F.conv(F.substring("h", 17, 14), 16, 10).cast("long").alias("b"),
    )
    sig_expr = "array(" + ", ".join(
        f"min((`a` + {i} * `b`) % {MERSENNE_P}L)" for i in range(k)
    ) + ") AS sig"
    return ex.groupBy("id").agg(F.expr(sig_expr))


def _band_hashes(sig: DataFrame, bands: int, band_rows: int) -> DataFrame:
    """(id, sig) → one row per band: (id, band_id, band_hash), where
    band_hash = md5 of the band's ``band_rows`` signature values joined by
    '|' — the LSH banding shared by the pair join and its diagnostics."""
    r = band_rows
    return sig.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band_id"),
                    F.md5(F.array_join(
                        F.transform(F.slice("sig", b * r + 1, r),
                                    lambda x: x.cast("string")),
                        "|")).alias("band_hash"),
                ),
            )
        ).alias("bh"),
    ).select("id", "bh.band_id", "bh.band_hash")


def _lsh_survivors(sig: DataFrame, bands: int, band_rows: int,
                   est_min_matches: int,
                   max_bucket_size: int | None) -> DataFrame:
    """Steps 2-5 of :func:`minhash_lsh_pairs`: signatures (id, sig) →
    candidate pairs (id_a < id_b) that share an uncapped band bucket and
    pass the signature-estimate filter."""
    banded = _band_hashes(sig, bands, band_rows)
    if max_bucket_size is not None:
        # aggregation keyed exactly like the join — AQE reuses the exchange;
        # left_semi keeps only rows in surviving buckets
        small_buckets = (
            banded.groupBy("band_id", "band_hash")
            .agg(F.count("*").alias("bsz"))
            .where(F.col("bsz") <= max_bucket_size)
            .select("band_id", "band_hash")
        )
        banded = banded.join(small_buckets, ["band_id", "band_hash"], "left_semi")
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(b, (F.col("a.band_id") == F.col("b.band_id"))
               & (F.col("a.band_hash") == F.col("b.band_hash"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # signature-estimate pre-filter (broadcastable: k longs per doc)
    siga = sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sigb = sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    return (
        cands.join(siga, "id_a").join(sigb, "id_b")
        .withColumn("est_matches", F.size(F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m)))
        .where(F.col("est_matches") >= est_min_matches)
        .select("id_a", "id_b")
    )


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 64, bands: int = 8,
                      band_rows: int = 4, n: int = 5,
                      verify_threshold: float = 0.5,
                      est_min_matches: int = 32,
                      max_bucket_size: int | None = 64) -> DataFrame:
    """Near-dup pairs via MinHash banding, verified with exact Jaccard.

    1. k-long signature per doc (one shuffle with map-side combine);
    2. band hashes = md5 of each ``band_rows``-slice of the signature's
       first ``bands*band_rows`` values → explode to (band_id, band_hash);
       defaults give the standard S-curve threshold (1/8)^(1/4) ≈ 0.6;
    3. **bucket cap**: band buckets holding more than ``max_bucket_size``
       docs are dropped before the join.  One degenerate band hash (web
       boilerplate: identical headers, empty strings) otherwise yields a
       single quadratic bucket — at web scale that one skewed reducer IS the
       job's wall clock.  Capping bounds the join output at
       ``bands · n_buckets · cap²`` with no skewed key.  Recall trade-off is
       graceful: a pair sharing ANY uncapped band still surfaces, and members
       of giant buckets are overwhelmingly exact/near-exact duplicates that
       ``exact_dedup`` (always run first — module notes) already collapses.
       Measured on the synthetic sf0.1 corpus (5 000 docs, heavy shared
       templates — worst band bucket 594 docs): cap=64 leaves every verified
       pair intact (256/256; dropped buckets held only sub-threshold template
       noise) while cutting raw candidate band pairs 10×
       (1 704 281 → 169 399).  Wall time at sf0.1 is a wash (the cap's
       groupBy offsets the smaller join); the win is the *bound* — no
       single-reducer quadratic bucket at any scale.
    4. candidate pairs = equi-join on (band_id, band_hash), dedup'd;
    5. signature-estimate pre-filter: keep pairs whose full signatures agree
       on ≥ ``est_min_matches`` of k positions (integer compare —
       deterministic in every engine).  Banding has low precision when the
       corpus has high background similarity; this k-long compare is ~30×
       cheaper than an exact shingle intersection, so the expensive check
       never sees the false-positive flood.  With k=64 and threshold 32/64
       (= 0.5), a background pair at true Jaccard 0.35 survives with
       P ≈ 0.6% while recall at Jaccard ≥ 0.6 is ≈ 95%;
    6. exact n-gram Jaccard on the survivors only.
    """
    # The three frames this pass shares — the signatures (banding + both
    # sides of the estimate filter), the survivors (both sides of the
    # final join + the needed-id set) and the survivor docs' shingles (both
    # sides of the final join) — are each materialized ONCE with
    # ``localCheckpoint``: a frame shared inside one job is recomputed per
    # consumer unless materialized first.  Not ``persist`` + ``count``: a
    # persisted frame carries its whole cached plan into every plan built
    # on it, so the final physical plan string grew to 1.27 MB at sf0.001
    # (1.3 KB checkpointed) and every planning pass walked it; and
    # checkpointed blocks are freed by the ContextCleaner once the
    # returned frame is dropped, where persisted ones stay cached until
    # ``clearCache``.  The price: a local checkpoint cuts the lineage, so
    # a block lost with its executor (a crash, or dynamic allocation
    # removing it) cannot be recomputed and the job fails, where a
    # persisted block would be rebuilt — the trade the iterative graph
    # operators here already make.
    sig = minhash_signatures(df, text_col, id_col, k, n).localCheckpoint()
    survivors = _lsh_survivors(sig, bands, band_rows, est_min_matches,
                               max_bucket_size).localCheckpoint()
    # verify survivors with exact Jaccard — shingling only the docs that
    # actually appear in a surviving pair.  The naive alternative joins
    # survivors against a corpus-wide shingle projection on BOTH sides:
    # two full corpus scans + two corpus-sized shuffles to verify a
    # handful of pairs — fatal at web scale.  The survivor id set is small
    # by construction (post-banding, post-estimate-filter), so
    # broadcast-semi-join it into ONE corpus scan and shingle
    # ~|survivor docs| rows.  (At sf0.1 this is ~1.5s SLOWER — two extra
    # tiny stages dominate 5k docs — but the corpus-scan count is what
    # matters at the design scale; measured both, kept the scale shape.)
    needed = (survivors.select(F.col("id_a").alias("id"))
              .unionByName(survivors.select(F.col("id_b").alias("id")))
              .distinct())
    sh = (df.join(F.broadcast(needed),
                  df[id_col] == needed["id"], "left_semi")
          .select(F.col(id_col).alias("id"), char_shingles(text_col, n).alias("sh"))
          .localCheckpoint())
    sha = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    shb = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        survivors.join(sha, "id_a").join(shb, "id_b")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.size("sh_a") + F.size("sh_b") - F.col("n_common")),
        )
        .where(F.col("jaccard") >= verify_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def lsh_bucket_stats(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", k: int = 64, bands: int = 8,
                     band_rows: int = 4, n: int = 5,
                     max_bucket_size: int = 64) -> DataFrame:
    """Diagnostics for the bucket cap: per-band bucket-size distribution and
    what the cap drops.  → one row per band: (band_id, n_buckets,
    max_bucket, n_buckets_dropped, n_rows_dropped).  Run this (and log the
    result) when tuning ``max_bucket_size`` on a new corpus — a silent cap is
    a silent recall hole."""
    banded = _band_hashes(minhash_signatures(df, text_col, id_col, k, n),
                          bands, band_rows)
    sizes = banded.groupBy("band_id", "band_hash").agg(F.count("*").alias("bsz"))
    dropped = F.col("bsz") > max_bucket_size
    return (
        sizes.groupBy("band_id")
        .agg(
            F.count("*").alias("n_buckets"),
            F.max("bsz").alias("max_bucket"),
            F.sum(dropped.cast("long")).alias("n_buckets_dropped"),
            F.sum(F.when(dropped, F.col("bsz")).otherwise(0)).alias("n_rows_dropped"),
        )
        .orderBy("band_id")
    )


def embedding_neardup_pairs(df: DataFrame, id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            threshold: float = 0.9,
                            n_planes: int = 8) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cosine ≥ threshold).

    Candidates = random-hyperplane LSH bucket equi-join (near-identical
    vectors agree on all sign bits with high probability), then exact
    cosine on candidates only.  Same plan shape as MinHash-LSH text dedup:
    per-row signatures (no shuffle), one equi-join on the bucket, expensive
    math only on the tiny candidate set.  Deterministic planes — md5-derived
    ±1 coefficients — so DuckDB reproduces the result exactly.
    """
    from .similarity import (_spread, _vec_dim, dot_col, lsh_bucket_col,
                             norm_col)

    dim = _vec_dim(df, vec_col)
    sigs = _spread(df).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm_col(vec_col).alias("nrm"),
        lsh_bucket_col(vec_col, n_planes, dim).alias("bucket"),
    )
    a, b = sigs.alias("a"), sigs.alias("b")
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.id") < F.col("b.id")))
        .withColumn("cosine", dot_col("a.v", "b.v")
                    / (F.col("a.nrm") * F.col("b.nrm")))
        .where(F.col("cosine") >= threshold)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                "cosine")
    )


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
              token_re: str = "[A-Za-z0-9]+") -> DataFrame:
    """64-bit SimHash per document as a 16-hex-char string.

    Per token: 64 bits from its md5 hex (bit b = bit ``3 - b%4`` of nibble
    ``b/4``); accumulate +1/-1 per bit over all tokens; sign of the sum is
    the signature bit.

    Plan: explode tokens × 64 bit positions → two-level hash aggregation
    keyed on (id, bit) then (id).  Fully whole-stage-codegen'd; the shuffle
    key includes the bit index so skew from long documents spreads over 64
    reducers.  (A per-row higher-order-fold variant avoids the shuffle but
    builds a 64-wide nested expression per token — measured an order of
    magnitude slower in codegen; the explode plan wins.)

    FLOOR before the int cast matters: Spark's double→int cast truncates
    while DuckDB's rounds half-even — floor makes both engines agree.

    Coverage contract (review note): a document with ZERO tokens (empty,
    NULL, or punctuation-only text) produces no explode rows and is
    ABSENT from the output — there is no meaningful 0-token signature.
    Callers that need one-row-per-input coverage must left-join back to
    the corpus and treat the NULL signature explicitly.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.regexp_extract_all(F.lower(F.col(text_col)),
                                       F.lit(token_re), F.lit(0))).alias("tok"),
    ).withColumn("h", F.md5("tok"))
    bits = toks.select(
        "id", "h", F.explode(F.sequence(F.lit(0), F.lit(63))).alias("b")
    ).select(
        "id", "b",
        (
            (F.floor(
                (F.instr(F.lit("0123456789abcdef"),
                         F.substring("h", (F.lit(1) + (F.col("b") / 4)).cast("int"), 1))
                 - 1).cast("double")
                / F.pow(F.lit(2.0), (F.lit(3) - F.col("b") % 4).cast("double"))
            ).cast("int") % 2) * 2 - 1
        ).alias("w"),
    )
    sums = bits.groupBy("id", "b").agg(F.sum("w").alias("s"))
    nibbles = sums.groupBy("id", F.floor(F.col("b") / 4).cast("int").alias("ni")).agg(
        F.sum(
            F.when(F.col("s") >= 0,
                   F.pow(F.lit(2.0), (F.lit(3) - F.col("b") % 4).cast("double")).cast("int"))
            .otherwise(0)
        ).alias("nib")
    )
    return (
        nibbles.groupBy("id")
        .agg(F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ni", "nib"))),
                lambda x: F.substring(F.lit("0123456789abcdef"),
                                      (x["nib"] + 1).cast("int"), 1),
            ),
            "",
        ).alias("simhash"))
        .select(F.col("id").alias(id_col), "simhash")
    )


#: Pair graphs of at most this many distinct directed edges (two per
#: undirected pair) are solved by union-find on the driver; larger ones run
#: the label-propagation loop.  Set from a measurement on 4 cores (one
#: process per reading, numbers in SCALING.md): the driver path beat the
#: loop at every size up to 800k edges on both shapes tried — 4-doc cliques,
#: the loop's cheapest shape, and 8-doc chains — was even with it at 1.6M
#: on cliques and lost at 3.2M.  It holds ~370 bytes of driver memory per
#: edge, so the cap also bounds that at ~370 MB.  Module-level so tests
#: can lower it to force the loop.
CC_COLLECT_MAX = 1_000_000


def connected_components(pairs: DataFrame, src: str = "id_a",
                         dst: str = "id_b", max_iter: int = 25) -> DataFrame:
    """Cluster near-duplicate PAIRS into components → (id, component_id),
    ``component_id`` = the smallest member.  A pair with a NULL endpoint
    is not an edge: it is dropped.

    This is the step after pair detection in a dedup pipeline: keep one
    canonical doc per component instead of dropping one doc per pair (pair-
    wise dropping over-deletes chains: a~b, b~c drops b AND c even when
    a~c is false).

    The edge list (both directions, distinct) is ``localCheckpoint``-ed
    and probed once with ``limit(CC_COLLECT_MAX + 1)``.  A graph within
    that bound — every pair graph the near-dup operators emit at the
    tested scales — is collected and solved by union-find on the driver
    (the smaller root always wins, so a root is its set's minimum), and
    the result comes back as a local DataFrame of the ids' type.  The
    loop below costs two shuffles and a count per round for a graph the
    driver solves in milliseconds.  Ids are compared as the Python values
    ``collect`` returns, which order like Spark for integer and string
    ids.  Above the bound the probe's rows are discarded (3.2-3.6 s for
    the 1M rows on 4 cores); probing with ``count`` first would cost
    0.35-0.48 s there, but would add a job (0.09-0.26 s) to every graph
    within the bound.

    Larger graphs run min-label propagation with pointer jumping — each
    round a node adopts the smallest label among itself, its neighbors'
    labels, and its label's own label (``comp[comp[n]]``, the doubling
    step that makes long chains converge in O(log n) rounds instead of
    O(diameter)).  Each round is two shuffles (join + groupBy-min) over
    the label table; edges are never mutated.  Convergence = a round
    changes no label (checked on the driver with one count per round —
    scalar, not collect).  Determinism: labels are ids, min is total,
    order-free.  A graph still changing labels after ``max_iter`` rounds
    raises instead of returning unconverged component ids.

    Iteration hygiene: every round ends in ``localCheckpoint`` — the
    self-join (pointer jump) references the label table twice, so without
    lineage truncation the logical plan DOUBLES per round and the driver
    spends exponential time planning (the classic Spark iterative-algorithm
    trap; this hung before the checkpoint was added).
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import StructField, StructType

    edges = (pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
             .where(F.col("a").isNotNull() & F.col("b").isNotNull()))
    edges = (edges.unionByName(edges.select(F.col("b").alias("a"),
                                            F.col("a").alias("b")))
             .distinct().localCheckpoint())
    probe = edges.limit(CC_COLLECT_MAX + 1).collect()
    if len(probe) <= CC_COLLECT_MAX:
        parent = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in probe:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # an Arrow table goes to the JVM as Arrow batches; a list of rows
        # would be pickled through a Python-worker job
        id_type = edges.schema["a"].dataType
        arrow_type = to_arrow_type(id_type)
        ids = list(parent)
        return pairs.sparkSession.createDataFrame(
            pa.table({"id": pa.array(ids, arrow_type),
                      "component_id": pa.array([find(x) for x in ids],
                                               arrow_type)}),
            StructType([StructField("id", id_type),
                        StructField("component_id", id_type)]))

    labels = (edges.select(F.col("a").alias("node"))
              .distinct()
              .withColumn("comp", F.col("node"))
              .localCheckpoint())

    for _ in range(max_iter):
        # neighbor labels ∪ own label ∪ label-of-label (pointer jump)
        via_edge = (edges.join(labels, edges["b"] == labels["node"])
                    .select(F.col("a").alias("node"), "comp"))
        via_jump = (labels.alias("l1")
                    .join(labels.alias("l2"),
                          F.col("l1.comp") == F.col("l2.node"))
                    .select(F.col("l1.node").alias("node"),
                            F.col("l2.comp").alias("comp")))
        nxt = (labels.unionByName(via_edge).unionByName(via_jump)
               .groupBy("node").agg(F.min("comp").alias("comp"))
               .localCheckpoint())
        changed = (nxt.alias("n")
                   .join(labels.alias("o"), "node")
                   .where(F.col("n.comp") != F.col("o.comp")).count())
        labels = nxt
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components: labels still changing after "
            f"max_iter={max_iter} rounds")

    return labels.select(F.col("node").alias("id"),
                         F.col("comp").alias("component_id"))


def semantic_dedup(emb: DataFrame, k: int = 8, threshold: float = 0.9,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster-scoped
    semantic deduplication over an embedding column.

    1. Assign every vector to a k-means cell (the deterministic trainless
       quantizer shared with ``kmeans_assign``/``ivf_topk``).
    2. Compare pairs ONLY within a cell (equi-join on the cell id — never
       an all-pairs cartesian).
    3. Drop a vector iff some smaller-id vector in the same cell has
       cosine ≥ ``threshold`` (keep-the-first deterministic survivor rule;
       the paper keeps the vector farthest from the centroid — any
       deterministic keeper works, smallest id is cross-engine stable).

    → (vec_id, centroid, is_dup).

    Scale shape: cell assignment is a map-only literal-centroid pass; the
    candidate join is an equi-join on the cell id, so the pairwise cost is
    Σ|cell|² not N² — at 100 TB you grow k ∝ N (the paper uses k ≈ √N ·
    const) to hold |cell| bounded, and each cell's block join stays
    executor-local.  Cross-cell near-dups are invisible by design — the
    documented recall trade that makes the op linear-ish.  The drop
    decision is a left-semi join against the pair set (no row explosion).
    """
    from .similarity import dot_col, norm_col, kmeans_assign

    cells = kmeans_assign(emb, k=k, id_col=id_col, vec_col=vec_col) \
        .select(F.col("vec_id").alias("id"), "centroid")
    sigs = (_spread(emb).select(
                F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
                norm_col(vec_col).alias("nrm"))
            .join(cells, "id")
            .persist())
    sigs.count()  # materialize: three consumers in one job (both pairwise
    # sides + the final output join) — an unmaterialized shared subtree
    # recomputes the scan + assignment per consumer (the r1 persist lesson)
    a, b = sigs.alias("a"), sigs.alias("b")
    dup_ids = (
        a.join(b, (F.col("a.centroid") == F.col("b.centroid"))
               & (F.col("a.id") < F.col("b.id")))
        .withColumn("cosine", dot_col("a.v", "b.v")
                    / (F.col("a.nrm") * F.col("b.nrm")))
        .where(F.col("cosine") >= threshold)
        .select(F.col("b.id").alias("id"))
        .distinct()
    )
    return (sigs.select("id", "centroid")
            .join(dup_ids.withColumn("is_dup", F.lit(True)), "id", "left")
            .select(F.col("id").alias("vec_id"), "centroid",
                    F.coalesce("is_dup", F.lit(False)).alias("is_dup")))


def fuzzy_pairs(df: DataFrame, max_dist: int = 4, block_prefix: int = 16,
                text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Edit-distance near-match pairs with prefix blocking — the
    entity-resolution / OCR-noise dedup family (typo-level variants that
    shingle-based MinHash treats as distinct shingles but edit distance
    sees as ≤ k operations).

    Candidates come from an EQUI-join on the first ``block_prefix``
    characters plus a length band (a pair within ``max_dist`` edits can
    differ by at most ``max_dist`` characters in length) — never an
    all-pairs product.  Levenshtein runs only inside blocks; ``id_a <
    id_b`` halves the matrix.

    → (id_a, id_b, dist).

    Scale shape: one shuffle on the block key; Σ|block|² bounds the
    quadratic term, so block-key choice is the scale lever (longer prefix
    or prefix+length composite at bigger corpora — same trade as LSH band
    width).  The standard recall caveat applies and is inherent to
    prefix blocking: an edit INSIDE the first ``block_prefix`` characters
    moves the pair to different blocks (production stacks run a second
    pass blocked on a suffix or sorted-neighborhood key to recover those).
    """
    probe = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("t"),
        F.substring(text_col, 1, block_prefix).alias("blk"),
        F.length(text_col).alias("n"),
    )
    a, b = probe.alias("a"), probe.alias("b")
    return (a.join(b, (F.col("a.blk") == F.col("b.blk"))
                   & (F.col("a.id") < F.col("b.id"))
                   & (F.abs(F.col("a.n") - F.col("b.n")) <= max_dist))
            .withColumn("dist", F.levenshtein(F.col("a.t"), F.col("b.t")))
            .where(F.col("dist") <= max_dist)
            .select(F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"), "dist"))


def strict_rate_limit(df: DataFrame, gap_us: int = 300_000_000,
                      keys: tuple = ("user_id", "event_type"),
                      ts_col: str = "ts", id_col: str = "event_id") -> DataFrame:
    """STRICT per-key rate limiting: an event is kept iff it is at least
    ``gap_us`` after the last KEPT event of its key — the stateful cousin
    of the gap-based throttle (`events_throttle_dedup`): a burst of events
    each 1 s apart keeps one event per ``gap_us`` window, where the
    gap-based rule would suppress the whole tail.

    The keep decision is inherently sequential (depends on the previous
    DECISION, not the previous row), so no window expression computes it;
    each key group runs a sorted fold inside ``applyInPandas``.

    → input rows + ``keep`` boolean.

    Scale shape: one shuffle on the key (same as any groupBy); per-group
    work is a linear scan.  Hot keys are real but bounded by what one
    key's event history can be; the streaming form with the same
    semantics and bounded state is ``applyInPandasWithState``
    (tests/test_streaming_events.py shows the pattern live).
    """
    import pandas as pd
    from pyspark.sql.types import BooleanType, StructField, StructType

    # NB: StructType.add MUTATES self, and df.schema is the DataFrame's
    # cached schema object in Spark 4 — df.schema.add(...) silently grows
    # the input DataFrame's own column list.  Build a fresh StructType.
    out_schema = StructType(list(df.schema.fields)
                            + [StructField("keep", BooleanType())])
    key_cols = list(keys)

    def limit(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        pdf = pdf.sort_values([ts_col, id_col], kind="mergesort")
        # timestamp columns ONLY: a permissive dtype sniff here would
        # silently mis-scale float epoch-seconds (60 s gaps read as 60 µs
        # and everything after the first event gets suppressed)
        if not np.issubdtype(pdf[ts_col].dtype, np.datetime64):
            raise TypeError(
                f"strict_rate_limit: {ts_col!r} must be a timestamp "
                f"column, got dtype {pdf[ts_col].dtype}")
        if pdf[ts_col].isna().any():
            # NaT passes the dtype guard but casts to int64 MIN, and the
            # gap subtraction then WRAPS numpy int64 — the null row gets
            # an arbitrary keep flag and corrupts last_kept for the rest
            # of the group.  Refuse loudly (the NULL-testdata class).
            raise ValueError(
                f"strict_rate_limit: {ts_col!r} contains NULL/NaT "
                "timestamps — filter or coalesce them first")
        ts_us = pdf[ts_col].values.astype("datetime64[us]").astype("int64")
        keep = []
        last_kept = None
        for t in ts_us:
            ok = last_kept is None or t - last_kept >= gap_us
            if ok:
                last_kept = t
            keep.append(ok)
        pdf = pdf.copy()
        pdf["keep"] = keep
        return pdf

    return df.groupBy(*key_cols).applyInPandas(limit, schema=out_schema)


def word_trigram_set(text: str | Column) -> Column:
    """Distinct word-3-gram shingles of lowercased whitespace tokens
    (tokenization shared with the text pipeline via ``words_col`` so the
    two definitions cannot drift); docs with 1-2 tokens contribute their
    whole (space-joined) token run as one shingle; empty/NULL docs yield
    an EMPTY array (no shingles → excluded from set-similarity ops; the
    DuckDB oracles mirror this — a '' shingle on one side and NULL on the
    other would silently diverge)."""
    from .text import words_col

    c = F.col(text) if isinstance(text, str) else text
    toks = F.transform(words_col(F.coalesce(c, F.lit(""))),
                       lambda w: F.lower(w))
    n = F.size(toks)
    # zip three shifted slices: ``toks`` inside a lambda would be
    # re-evaluated (split + lower of the whole text) for every element
    m = F.greatest(n - 2, F.lit(0))
    grams = F.zip_with(
        F.zip_with(F.slice(toks, 1, m), F.slice(toks, 2, m),
                   lambda x, y: F.concat_ws(" ", x, y)),
        F.slice(toks, 3, m), lambda xy, z: F.concat_ws(" ", xy, z))
    return F.array_distinct(
        F.when(n >= 3, grams)
        .when(n >= 1, F.array(F.concat_ws(" ", toks)))
        .otherwise(F.array().cast("array<string>")))


def prefix_jaccard_pairs(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", num: int = 3,
                         den: int = 5) -> DataFrame:
    """Exact word-trigram-set Jaccard pairs (a < b, inter/uni >= num/den)
    → (doc_a, doc_b, inter, uni), matching pairs only: every such pair is
    found (MinHash-LSH's complement — probabilistic recall there, exact
    here).  ``word_trigram_set`` shingles on the one exact join,
    ``_shingle_jaccard_pairs``; the threshold is the integer
    cross-multiplication ``den*inter >= num*uni``.

    The name is historical, from a former PPJoin prefix-filter plan;
    the shared-shingle count measured faster on the same rows (see
    ``_shingle_jaccard_pairs`` for why no filter fronts the join).
    """
    return (_shingle_jaccard_pairs(df, word_trigram_set(text_col), num, den,
                                   id_col)
            .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"),
                    F.col("n_common").alias("inter"),
                    F.col("n_union").alias("uni")))


# --------------------------------------------------------------------------
# Bloom filter (r5 wave 11): the probabilistic membership pre-filter that
# fronts exact dedup at ingest — build a bit array over yesterday's corpus,
# probe today's batch, and only maybe-seen records pay the exact
# hash-index join.  No false negatives (a genuinely-new record never pays
# the join); false positives cost one redundant exact check.
#
# Representation: k=2 md5-derived positions per key in an m-bit space,
# packed 32 bits per BIGINT word via bit_or aggregation — a DataFrame of
# (word_idx, mask) rows, O(m/32) rows total.  m is sized from the seen-set
# count (m = bits_per_key * n), the standard practice: a fixed m cannot
# serve both a 10^3- and a 10^8-key corpus.  At 100 TB the filter stays
# tiny relative to data (4 bits/key = 50 GB of words for 10^11 keys —
# partitioned, or per-shard filters unioned by bit_or since the encoding
# is mergeable); probes broadcast-join the words table.
# 32-bit words (not 64): DuckDB raises on 1::BIGINT << 63, so the shared
# oracle grammar caps shifts at 31 — same packing density per row either
# way once masks sit in BIGINTs.
# --------------------------------------------------------------------------


def _bloom_pos(key: Column, salt: str, m_bits: int) -> Column:
    """Position of ``key`` under hash ``salt`` in [0, m_bits) — 15 md5 hex
    chars (2^60, LONG-safe) mod m, reproducible in the DuckDB oracle."""
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(salt), key)), 1, 15), 16, 10)
        .cast("long") % m_bits)


def bloom_build(keys: DataFrame, key_col: str, m_bits: int,
                salts: tuple[str, ...] = ("b1", "b2")) -> DataFrame:
    """Aggregate a key DataFrame into Bloom filter words → (w, mask)."""
    pos = [_bloom_pos(F.col(key_col), s, m_bits) for s in salts]
    return (keys.select(F.explode(F.array(*pos)).alias("p"))
            .select(F.expr("p div 32").alias("w"),
                    F.expr("shiftleft(CAST(1 AS BIGINT),"
                           " CAST(p % 32 AS INT))").alias("bit"))
            .groupBy("w").agg(F.expr("bit_or(bit)").alias("mask")))


def bloom_probe(df: DataFrame, key_col: str, words: DataFrame, m_bits: int,
                salts: tuple[str, ...] = ("b1", "b2"),
                out_col: str = "maybe_seen") -> DataFrame:
    """Append ``out_col``: True iff every salt position's bit is set.

    The words table broadcasts (it is m/32 rows — always small relative to
    the probe side); each salt contributes one broadcast left join plus a
    mask test, and an absent word row means the bit is unset (coalesce 0).
    A NULL key hashes to NULL, which must yield ``False`` (never seen) —
    a NULL flag would vanish from BOTH ``where(flag)`` and
    ``where(~flag)`` branches of an ingest split (review finding).
    """
    out = df
    tests = []
    for i, s in enumerate(salts):
        p = _bloom_pos(F.col(key_col), s, m_bits)
        w = words.select(F.col("w").alias(f"_bw{i}"),
                         F.col("mask").alias(f"_bm{i}"))
        out = (out.withColumn(f"_bp{i}", p)
               .join(F.broadcast(w),
                     F.expr(f"_bp{i} div 32") == F.col(f"_bw{i}"), "left"))
        tests.append(
            F.coalesce(F.col(f"_bm{i}"), F.lit(0)).bitwiseAND(
                F.coalesce(
                    F.expr(f"shiftleft(CAST(1 AS BIGINT),"
                           f" CAST(_bp{i} % 32 AS INT))"),
                    F.lit(0))) != 0)
    cond = tests[0]
    for t in tests[1:]:
        cond = cond & t
    drop = [c for i in range(len(salts))
            for c in (f"_bp{i}", f"_bw{i}", f"_bm{i}")]
    return out.withColumn(out_col, cond).drop(*drop)


def cdc_chunks(text: str, div: int = 32, mod: int = 1 << 16,
               mult: int = 2654435761) -> list[str]:
    """Content-defined chunking (the FastCDC/rolling-gear family — the
    STORAGE-dedup primitive): a rolling hash h_i = (2·h_{i−1} + g(c_i))
    mod 2^16 with g(c) = (codepoint · 2654435761) mod 2^16 cuts a chunk
    wherever h_i ≡ 0 (mod ``div``), so boundaries depend only on the
    LOCAL last-16-characters content — an insertion shifts all byte
    offsets but downstream boundaries re-align and the chunks after the
    edit hash identically (the property fixed-size chunking lacks).

    The shift-left ages contributions out of the 16-bit state after 16
    steps, so h_i is exactly the windowed sum Σ_{j>i−16} g(c_j)·2^{i−j}
    mod 2^16 — which is how the SQL oracle reproduces it without
    sequential state.  Production CDC adds min/max chunk bounds (a
    sequential suppression this pure predicate form deliberately omits —
    noted, not hidden).  Expected chunk length ≈ div."""
    h = 0
    start = 0
    out = []
    for i, ch in enumerate(text):
        h = (h * 2 + (ord(ch) * mult) % mod) % mod
        if h % div == 0:
            out.append(text[start:i + 1])
            start = i + 1
    if start < len(text):
        out.append(text[start:])
    return out


def cdc_chunk_df(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", div: int = 32) -> DataFrame:
    """One row per CDC chunk: (doc_id, chunk_idx, chunk_len, chunk_md5) —
    Arrow-batched mapInPandas flatMap over :func:`cdc_chunks`; hashes (not
    chunk text) flow downstream, so the dedup join shuffles 32-byte
    digests at any corpus size."""
    import hashlib

    import pandas as pd

    def run(batches):
        for pdf in batches:
            out = {"doc_id": [], "chunk_idx": [], "chunk_len": [],
                   "chunk_md5": []}
            for did, t in zip(pdf[id_col], pdf[text_col]):
                if t is None:
                    continue
                for j, c in enumerate(cdc_chunks(str(t), div)):
                    out["doc_id"].append(int(did))
                    out["chunk_idx"].append(j)
                    out["chunk_len"].append(len(c))
                    out["chunk_md5"].append(
                        hashlib.md5(c.encode("utf-8")).hexdigest())
            yield pd.DataFrame(out)

    return df.mapInPandas(
        run, schema=("doc_id long, chunk_idx long, chunk_len long, "
                     "chunk_md5 string"))


#: query parameters stripped by URL canonicalization (tracking/click ids)
TRACKING_PARAM_RE = r"^(utm_[^=]*|gclid|fbclid|msclkid|mc_eid)="


def canonical_url_col(url: Column | str) -> Column:
    """Canonical form of a URL for crawl dedup — pure JVM expressions
    (``parse_url`` + regex/array ops), no UDF:

    - scheme and host lowercased; leading ``www.`` stripped
    - port dropped (``parse_url('HOST')`` excludes it) and fragment
      dropped (no component includes it)
    - duplicate slashes in the path collapsed, trailing slashes stripped
      (the root path canonicalizes to the empty string)
    - tracking query params removed (:data:`TRACKING_PARAM_RE`), the
      remaining params byte-sorted and rejoined

    Deliberately NOT done: percent-decoding (decoding can change path
    semantics) and scheme folding (http and https stay distinct
    documents).  The standard crawl-frontier normalizer; scale shape is
    map-only column expressions feeding an exact hash-groupBy dedup.
    """
    u = F.col(url) if isinstance(url, str) else url
    scheme = F.lower(F.parse_url(u, F.lit("PROTOCOL")))
    host = F.regexp_replace(
        F.lower(F.parse_url(u, F.lit("HOST"))), r"^www\.", "")
    path = F.regexp_replace(
        F.regexp_replace(F.parse_url(u, F.lit("PATH")), "/{2,}", "/"),
        "/+$", "")
    q = F.coalesce(F.parse_url(u, F.lit("QUERY")), F.lit(""))
    kept = F.array_join(
        F.array_sort(F.filter(
            F.split(q, "&"),
            lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE))), "&")
    return F.concat(
        scheme, F.lit("://"), host, path,
        F.when(kept != "", F.concat(F.lit("?"), kept)).otherwise(F.lit("")))
