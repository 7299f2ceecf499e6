"""Benchmark harness — driver contract.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: ``{"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ...}``.

Each query is executed once as a warm-up-free timed run; the timed action is
a full materialization (``count`` over the result via collect-to-driver of
aggregated output — all headline queries return small results).

Contention self-evidence (r8 postmortem): the JSON line carries two extra
fields that make a hot-host reading diagnosable without forensics —
``loadavg`` (the 1/5/15-minute /proc/loadavg triple sampled before the
headline set) and ``probe_sec`` (a fixed pure-JVM calibration probe,
``spark.range(5e8).sum()`` on 32 partitions, whose cost depends only on
available CPU, never on this repo's code), plus ``cpu_sec`` — the whole-run
/proc/stat delta {user, idle, iowait, steal} in cpu-seconds.  A doubled
headline total with calm loadavg/probe AND near-zero steal is a real
regression; inflated ``steal`` (hypervisor ran someone else while this VM
had runnable work — r9 observed bursts of ~8 stolen cpus mid-bench on an
otherwise idle guest) is host contention, adjudicable from the JSON line
alone.  Headline timing methodology is untouched (driver contract).

r11: ``queries_cpu`` adds a per-query {user, sys, steal} /proc/stat delta
over exactly each timed window (user and system SEPARATE — kernel time
tracks hypervisor steal, not workload), so a single inflated query in a
contaminated run is self-adjudicating: real regressions move user cpu,
host weather moves wall+sys+steal at flat user.

``queries_codegen`` adds, per query, the generated-code compiles (misses
in Spark's compiled-class cache) and their Janino time, read from the
JVM's codegen counters just outside each timed window: the codegen
layer's share of a query, and whether the headline working set still
fits the session's class cache.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pigeon_optics_spark.queries import all_queries  # noqa: E402
from pigeon_optics_spark.session import (  # noqa: E402
    codegen_counters,
    get_spark,
)

# Headline set: one per operator family that exists at the time of the run.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q_top3_customers_per_nation",
    "q_distinct_suppliers_per_flag",
    "q_rollup_returns",
    "q_segment_setops",
    "q_orderpriority_checker",
    # added as milestones land (lens engine, dedup, similarity, windows):
    "lens_invert_part_types",
    "lens_sum_qty_by_partkey",
    "dedup_exact_documents",
    "dedup_minhash_pairs",
    "text_profile",
    "ann_topk_methods",
    "events_tumbling_counts",
    "events_sessionize",
    "asof_join_events_orders",
]


def _read_cpu_stat() -> dict[str, float]:
    """Aggregate /proc/stat cpu line, in seconds (USER_HZ=100 assumed).

    ``steal`` is time the hypervisor ran someone else while this VM had
    runnable work — the direct, in-guest-visible measure of host
    oversubscription (the r8 mystery: bursts of ~8 stolen cpus were
    observed mid-bench on an otherwise idle guest)."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        user, nice, system, idle, iowait = (float(x) for x in parts[1:6])
        steal = float(parts[8]) if len(parts) > 8 else 0.0
        # "user" keeps its historical user+nice+system definition for
        # cross-round continuity; "sys" (r12, additive) breaks system time
        # out separately — this host class burns kernel time in the page
        # fault path at ZERO steal (fault storms: ~58 us/fault under
        # concurrent allocation vs 2 us calm), so a steal-based calm label
        # alone cannot see the contamination.
        return {"user": (user + nice + system) / 100, "sys": system / 100,
                "idle": idle / 100,
                "iowait": iowait / 100, "steal": steal / 100}
    except (OSError, ValueError, IndexError):
        return {}


def _read_cpu_split() -> dict[str, float]:
    """Like :func:`_read_cpu_stat` but with user and system SEPARATE —
    the r10 forensics showed kernel time scales with hypervisor steal
    (epoll/futex burn under vCPU preemption), not workload, so per-query
    regression adjudication must read pure user cpu.  The whole-run
    ``cpu_sec`` field keeps its historical user+nice+system definition
    for cross-round continuity; these split fields feed the per-query
    ``cpu`` records (VERDICT r10 item 2)."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        user, nice, system = (float(x) for x in parts[1:4])
        steal = float(parts[8]) if len(parts) > 8 else 0.0
        return {"user": (user + nice) / 100, "sys": system / 100,
                "steal": steal / 100}
    except (OSError, ValueError, IndexError):
        return {}


def _read_pgfault() -> int:
    """Whole-machine page fault counter (/proc/vmstat) — the r12 host's
    contamination mode is fault storms (host-side backing of fresh pages
    goes slow under memory pressure; sys inflates at steal=0), so the
    record carries the in-band fault count to adjudicate it."""
    try:
        with open("/proc/vmstat") as fh:
            for ln in fh:
                if ln.startswith("pgfault "):
                    return int(ln.split()[1])
    except (OSError, ValueError):
        pass
    return 0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark("spark_optics_bench")

    # warm up the JVM / codegen / parquet footer cache so the first timed
    # query doesn't absorb session startup (steady-state throughput is the
    # comparable number; the queries themselves are still cold)
    t0 = time.time()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1).collect()
    # first Arrow/pandas-UDF stage in a process pays ~2.5s of one-time
    # ArrowPythonRunner + worker-pool setup — warm it (with the store's own
    # hash/links UDFs) so the first store ingest measures throughput, not
    # infrastructure init
    from pyspark.sql import functions as _F

    from pigeon_optics_spark.udfs import hash_value_udf, links_udf

    (spark.range(64, numPartitions=32)
     .select(_F.lit('{"a":1}').alias("value"))
     .select(hash_value_udf("value"), links_udf("value")).collect())
    print(f"# warmup: {time.time() - t0:.2f}s", file=sys.stderr)

    # contention calibration: loadavg snapshot + a fixed pure-JVM probe
    # (cost independent of this repo's code — only of available CPU)
    try:
        with open("/proc/loadavg") as fh:
            loadavg = [float(x) for x in fh.read().split()[:3]]
    except OSError:
        loadavg = []
    stat0 = _read_cpu_stat()
    pgfault0 = _read_pgfault()
    t0 = time.time()
    spark.range(500_000_000, numPartitions=32).selectExpr(
        "sum(id)").collect()
    probe_sec = round(time.time() - t0, 3)
    # r12 (VERDICT r11 item 2): the probe above is task-overhead-bound
    # (0.369 s at BOTH 8 and 32 cores), so the driver's scaling heuristic
    # could not tell core counts apart and flagged `suspect_cpus_ignored`
    # as a false positive.  `cpu_probe_sec` is a FIXED amount of real CPU
    # work (64 chained xxhash64 rounds over 24M ids = 1.536G hashes, 64
    # partitions so both 8 and 32 cores are saturated): its wall scales
    # ~inversely with available cores, and `cpus` self-reports the
    # effective parallelism the session actually built from
    # $SPARK_GRAFT_CPUS.  `probe_sec` and the `calm` definition are
    # untouched for cross-round continuity.
    expr = "id"
    for _ in range(64):
        expr = f"xxhash64({expr})"
    t0 = time.time()
    # bit_xor: an overflow-free reducer (ANSI mode rejects sum() of longs)
    spark.range(24_000_000, numPartitions=64).selectExpr(
        f"bit_xor({expr})").collect()
    cpu_probe_sec = round(time.time() - t0, 3)
    print(f"# calibration: loadavg={loadavg} probe={probe_sec}s "
          f"cpu_probe={cpu_probe_sec}s", file=sys.stderr)

    qs = all_queries()
    times: dict[str, float] = {}
    qcpu: dict[str, dict[str, float]] = {}
    qcodegen: dict[str, dict[str, float]] = {}
    total = 0.0
    for name in HEADLINE:
        if name not in qs:
            continue
        fn, _oracle = qs[name]
        g0 = codegen_counters(spark)
        c0 = _read_cpu_split()
        t0 = time.time()
        df = fn(spark, sf_dir)
        n = df.count()
        dt = time.time() - t0
        c1 = _read_cpu_split()
        g1 = codegen_counters(spark)
        times[name] = round(dt, 3)
        qcodegen[name] = {"compiles": g1[0] - g0[0],
                          "compile_ms": round(g1[1] - g0[1], 1)}
        if c0 and c1:
            # machine-wide user/sys/steal over exactly the timed window:
            # a contaminated wall reading (steal burst mid-query) is now
            # self-adjudicating per query — user cpu stays invariant while
            # wall and steal inflate together (r10's whole-run argument,
            # localized)
            qcpu[name] = {k: round(c1[k] - c0[k], 1) for k in c0}
        total += dt
        print(f"# {name}: {n} rows in {dt:.2f}s "
              f"cpu={qcpu.get(name)} codegen={qcodegen[name]}",
              file=sys.stderr)
        # drop leftover persisted data so queries don't pay each other's
        # executor-memory pressure (each query re-persists what it needs)
        spark.catalog.clearCache()

    stat1 = _read_cpu_stat()
    pgfault1 = _read_pgfault()
    cpu = ({k: round(stat1[k] - stat0[k], 1) for k in stat0}
           if stat0 and stat1 else {})
    # accept band for a trustworthy reading (VERDICT r9 item 1/8):
    # probe_sec <= 0.6 (pure-JVM probe at its calm cost) AND whole-run
    # steal <= 30 cpu-s (< ~0.5 stolen CPUs).  `calm` labels the record
    # so the per-round JSON is self-adjudicating; headline methodology
    # is unchanged.
    calm = bool(probe_sec <= 0.6 and cpu.get("steal", 1e9) <= 30.0)
    print(json.dumps({
        "metric": "headline_queries_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": times,
        "queries_cpu": qcpu,
        "queries_codegen": qcodegen,
        "sf": sf,
        "cpus": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
        "loadavg": loadavg,
        "probe_sec": probe_sec,
        "cpu_probe_sec": cpu_probe_sec,
        "cpu_sec": cpu,
        "pgfault_m": round((pgfault1 - pgfault0) / 1e6, 2),
        "calm": calm,
    }))


if __name__ == "__main__":
    main()
