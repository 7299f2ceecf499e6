"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload point-update --seed 1 --seconds 30 --trace 0

Run from the repository root.  ``--trace 0`` prints the end-to-end metrics
(see BENCHMARK.json); ``--trace 1`` records spans and Spark event-log counts
and prints the per-layer metrics instead.  Every run also prints a
``{"record": ...}`` line with the host calibration and writes the full
record (spans included when traced) to ``.perfbench_out/``.  Everything the
run writes lives under ``.perfbench_work/`` and ``.perfbench_out/`` in the
current directory; the work dir is deleted at exit.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import tracer as tr  # noqa: E402
from workloads import WORKLOADS, dir_bytes, pct, seg_counts  # noqa: E402

#: temp-dir entries that are not engine leaks: Spark's own scratch (removed
#: by the JVM's shutdown hook) and the traced run's event log
SPARK_SCRATCH = ("spark-", "blockmgr-", "eventlog")


class Context:
    """What the workloads share: session, store, tracer, work dirs."""

    def __init__(self, work: str, tracer: tr.Tracer):
        self.work = work
        self.tracer = tracer
        self.spark = None
        self.store = None


def calibrate(spark) -> dict:
    """Host stamp: cores and a fixed-work CPU probe (64 chained
    xxhash64 rounds over 1.2M ids on 64 partitions; its wall time scales
    with the cpu actually available, not with this repository's code)."""
    expr = "id"
    for _ in range(64):
        expr = f"xxhash64({expr})"
    t0 = time.perf_counter()
    spark.range(1_200_000, numPartitions=64).selectExpr(
        f"bit_xor({expr})").collect()
    return {"cpus": spark.sparkContext.defaultParallelism,
            "cpu_probe_s": time.perf_counter() - t0}


def steal_s() -> float:
    """Machine-wide cpu time the hypervisor gave to other guests while this
    one had work (/proc/stat): host weather, not this program."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / tr.CLK_TCK


def start_session(ctx: Context):
    from pigeon_optics_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
            # no JVM perf-data file in /tmp either
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(ctx.work, 'tmp')} "
                "-XX:-UsePerfData"}
    if ctx.tracer.enabled:
        log_dir = os.path.join(ctx.work, "tmp", "eventlog")
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"file://{log_dir}",
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false"})
    with ctx.tracer.span("session.start"):
        spark = get_spark("perfbench", extra_conf=conf)
    ctx.tracer.sc = spark.sparkContext
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to end."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    children = tr.descendants(os.getpid())
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a hung JVM must not outlive us
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def leaked_dirs(tmp: str) -> int:
    """Entries the engine left in the run's temp dir (Spark's own scratch
    excluded: the JVM removes it at exit)."""
    return sum(1 for e in os.listdir(tmp) if not e.startswith(SPARK_SCRATCH))


def per_layer(wl, spans: list[dict], cost: dict) -> dict[str, float]:
    """Per-layer metrics from the folded spans of the timed ops (set-up
    spans for the session and the data load).  Per-op figures average over
    the timed ops; lens figures are medians over the builds the cascade
    ran in them."""
    timed = [s for s in spans if isinstance(s["op"], int)]
    ops = [s for s in timed if s["name"] == "op"]

    def per_op(key: str) -> float:
        return sum(s[key] for s in ops) / len(ops)

    builds = [s for s in timed if s["name"] == "lens.build"]

    def per_build(key: str) -> float:
        return statistics.median(s[key] for s in builds) if builds else 0

    m = {f"{name}_s": tr.median_of(timed, name) for name in (
        "store.write", "store.read", "store.scan", "streaming.cascade",
        "dedup.exact", "dedup.minhash", "dedup.prefix", "dedup.ngram",
        "dedup.cc")}
    m["store.read_p90_s"] = pct(wl.read_s, 0.9)
    m["session.start_s"] = tr.median_of(spans, "session.start")
    m["store.ingest_s"] = tr.median_of(spans, "store.ingest")
    m["session.warmup_s"] = sum(s["dur"] for s in spans
                                if s["name"] == "op.warmup")
    m["lens.build_s"] = per_build("dur")
    for k in ("jobs", "stages", "tasks"):
        m[f"lens.{k}"] = per_build(k)
    for k in tr.SPARK_KEYS:
        m[f"spark.{k}"] = per_op(k)
    for k in ("jvm", "pyworker", "driver"):
        m[f"{k}.cpu_s"] = per_op(f"{k}_cpu_s")
    m["trace.overhead_s"] = statistics.fmean(
        cost.get(s["op"], 0.0) for s in ops)
    m.update(wl.per_layer())
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "pigeon_optics_spark")):
        print("perfbench: run from the repository root (no "
              "pigeon_optics_spark/ here)", file=sys.stderr)
        return 2
    os.makedirs(os.path.join(root, ".perfbench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-",
                            dir=os.path.join(root, ".perfbench_work"))
    try:
        wl, record, metrics = run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = spec["per_layer" if args.trace else "end_to_end"]
    unknown = set(metrics) - {m["name"] for m in declared}
    if unknown:
        raise SystemExit(f"perfbench: undeclared metrics {sorted(unknown)}")

    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace%d.json")
    if args.trace and os.path.exists(out % 0):
        # the same workload and seed run untraced: traced minus untraced
        with open(out % 0) as fh:
            plain = json.load(fh)["end_to_end"]
        record["trace_overhead_vs_untraced_run"] = {
            k: record["end_to_end"][k] - plain[k] for k in plain}
    with open(out % args.trace, "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps({"record": {k: record[k] for k in record
                                 if k != "spans"}}))
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        # a layer this workload does not run reads 0
        "metrics": {m["name"]: {"value": metrics.get(m["name"], 0),
                                "unit": m["unit"]} for m in declared},
    }))
    return 0


def run(args, root: str, work: str):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep every write of the engine, Spark and its workers inside the checkout
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY", "4g"),
    })
    tempfile.tempdir = None
    sys.path.insert(0, root)

    tracer = tr.Tracer(bool(args.trace))
    ctx = Context(work, tracer)
    wl = WORKLOADS[args.workload](ctx, args.seed, args.seconds)
    with open("/proc/loadavg") as fh:
        loadavg = [float(x) for x in fh.read().split()[:3]]
    record: dict = {"workload": args.workload, "seed": args.seed,
                    "loadavg": loadavg,
                    "trace": args.trace, "timed_ops": wl.timed_ops,
                    "warmup_ops": wl.warmup_ops}
    try:
        from pigeon_optics_spark.store import DatasetStore

        ctx.spark = start_session(ctx)
        ctx.store = DatasetStore(os.path.join(work, "store"))
        wl.setup()
        wl.warmup()
        setup_s = time.perf_counter() - T_PROCESS
        cpu0, steal0 = tr.tree_cpu(os.getpid()), steal_s()
        wl.run_timed()
        cpu1 = tr.tree_cpu(os.getpid())
        record["steal_s"] = steal_s() - steal0
        record.update(calibrate(ctx.spark))
        record["store"] = {
            "segments": sum(seg_counts(ctx.store.root).values()),
            "bytes_per_user_byte": dir_bytes(ctx.store.root) / wl.user_bytes(),
        }
    finally:
        if ctx.spark is not None:
            stop_session(ctx.spark)
    shutil.rmtree(os.path.join(work, "store"), ignore_errors=True)
    record["store"]["leaked_dirs"] = leaked_dirs(tmp)

    e2e = wl.end_to_end()
    e2e["setup_s"] = setup_s
    e2e["user_cpu_s"] = sum(cpu1.values()) - sum(cpu0.values())
    record["end_to_end"] = e2e
    record["op_s"] = wl.op_s
    # the read tail is host scheduling more than this program: recorded,
    # and a per-layer metric, but not gated (NOISE.md, source 5)
    record["read_p90_s"] = pct(wl.read_s, 0.9)
    record["errors"] = wl.errors
    record["workload_detail"] = wl.record()
    if not tracer.enabled:
        return wl, record, e2e
    tr.fold_spans(tracer.spans, tr.read_event_log(os.path.join(tmp, "eventlog")))
    metrics = per_layer(wl, tracer.spans, tracer.cost)
    metrics.update({f"store.{k}": v for k, v in record["store"].items()})
    record["per_layer"] = metrics
    record["self_time_s"] = tr.self_times(tracer.spans)
    record["spans"] = tracer.spans
    return wl, record, metrics


if __name__ == "__main__":
    sys.exit(main())
