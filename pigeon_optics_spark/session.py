"""SparkSession factory.

Tuned for the test box (local[N], single JVM) but every setting is the one a
1000-executor cluster job would also want: AQE on (runtime coalesce + skew-join
splitting), UTC session timezone (bit-stable timestamps vs the DuckDB oracle),
Arrow for every pandas-UDF boundary, shuffle partitions sized to the
parallelism at hand rather than the 200 default.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession


@contextlib.contextmanager
def job_desc(spark, text: str):
    """Label every job submitted in this block (guide §1.5) so the UI /
    REST stage listing attributes cost to engine phases.  Thread-local,
    restores the previous description on exit; no effect on execution."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setJobDescription(prev)


def codegen_counters(spark) -> tuple[int, float]:
    """``(compiles, compile_ms)`` of generated code since the JVM started.

    A compile is a miss in Spark's compiled-class cache (hits never reach
    Janino), so a delta around a query counts the code it could not reuse.
    Both counters are JVM-wide: in local mode that includes the executor
    threads, where most whole-stage classes compile."""
    jvm = spark.sparkContext._jvm
    compiles = (jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME().getCount())
    ns = (jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
          .compileTime())
    return int(compiles), ns / 1e6


def get_spark(app_name: str = "spark_optics", cpus: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """``extra_conf`` entries are applied LAST (they win over defaults) —
    used by tools/scale_probe.py to re-enable the UI so the REST API can
    report per-stage shuffle bytes; context-level settings only take
    effect if no session exists yet (getOrCreate reuses a live context)."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # One shuffle partition per core locally; on a cluster this would be
        # ~2-3x total executor cores (or left to AQE's coalescing).
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-plan partitioning UNDER cached plans too (off by
        # default): a .persist() otherwise pins a full-width non-adaptive
        # plan, so every stage over a tiny cached delta ran
        # shuffle.partitions near-empty tasks (the dominant term in the
        # small-delta lens rebuild constant)
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet codec (guide §6): zstd halves segment bytes vs snappy at
        # equal-or-better read cpu (r12 probe, fat store-segment shape:
        # 66→35 MB, read 1.6→1.3 cpu-s), and on SORTED thin frames (the
        # emissions log) the bundled snappy write path is pathologically
        # slow — sort+write 16.1 cpu-s snappy vs 7.4 zstd at 600k rows.
        # Smaller segments also mean fewer page-cache pages per write,
        # which is the dominant in-band allocation on fault-expensive
        # virtualized hosts.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # In-memory columnar cache: every persisted intermediate here is
        # high-entropy (JSON value strings, md5-derived longs, embedding
        # arrays), where the cache's RLE/dictionary encoders never engage —
        # r12 measured BYTE-IDENTICAL memoryUsed with compression on and
        # off (117.7 MB fat-map frame, 52.7 MB signature frame) while the
        # encoder probing costs ~2x the cache build (9.3 vs 3.8 cpu-s per
        # 600k-row persist).  Off = same memory, half the build cpu.
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
        # Compiled-class cache (static conf, so only settable here): Spark's
        # default of 100 LRU entries is smaller than one near-dup dedup pass
        # (~195 distinct generated classes), so every class was evicted
        # before its next use and each warm pass recompiled as much as the
        # cold one.  Measured on 4 cores (perfbench near-dup, seeds 11-12):
        # Janino compiles per warm pass 195-197 → 6-22 (the rest is mostly
        # AQE renumbering whole-stage classes), executor cpu per pass 6.2 →
        # 3.6 s, whole-JVM cpu 35.0 → 28.8 s, user cpu per run 77 → 60 s
        # (10/10 interleaved pairs); heap after GC 252 → 256 MB, Metaspace
        # 156 → 157 MB.  The key is the generated source itself, so a hit
        # only reuses identical code.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Right-sized heap, not "all the memory" (guide §5): the heaviest
        # headline query commits ≤7 GB / uses ≤5 GB (r12 measurement, JVM
        # Runtime after lens_sum/minhash/ann at sf0.1), and the heaviest
        # oracle gate (dedup_pair_sketches, sf0.1) runs green at 12g.  The
        # former 48g oversize let G1 grow/shrink a multi-GB committed span
        # every run — each fresh page is a first-touch fault, and on
        # virtualized hosts with an expensive fault path that churn billed
        # 40-500 sys-cpu-s per heavy query (r12 A/B: 3-5x sys reduction at
        # 12g, interleaved runs; -XX:+AlwaysPreTouch was A/B-tested the
        # other way and is WORSE — a bigger resident footprint provokes
        # host-side reclaim).  Env-overridable; a cluster submitter sets
        # executor memory itself.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "12g"))
        .config("spark.ui.enabled", "false")
        # driver testdata's events.parquet stores TIMESTAMP(NANOS); Spark has
        # no nanos timestamp — read as long and convert (see queries/_util.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
