"""One reading of ``connected_components`` on a synthetic pair graph, the
measurement behind ``dedup.CC_COLLECT_MAX``.

    python tools/cc_cap_probe.py driver 400000 clique4
    python tools/cc_cap_probe.py loop 400000 clique4
    python tools/cc_cap_probe.py probe 600000 clique4

Arguments: MODE N_PAIRS [SHAPE].  The graph has N_PAIRS undirected pairs
(2 x N_PAIRS directed edges), generated by ``spark.range`` and
checkpointed before timing:

- ``clique4``: 4-doc clusters, all 6 pairs each — the loop's cheapest
  shape (2 rounds);
- ``chain8``: 8-doc chains, 7 pairs each.

Ids are scattered by an odd multiplier mod 2^40, so a component's minimum
is not its first-generated member.

Modes: ``driver`` and ``loop`` run ``connected_components`` with the cap
forced above or below the graph, and time the call plus a ``noop`` write
of its result (``total_s``); ``py_peak_rss_delta_mb`` is the driver
process's peak-RSS growth over the call.  ``probe`` times, three times
each, the two ways to test a graph against the cap (env ``CAP``, default
``CC_COLLECT_MAX``): ``limit(CAP + 1).collect()`` and
``limit(CAP + 1).count()`` on the checkpointed edge list.  Run one reading
per process: peak RSS never falls.  Prints one ``RESULT {json}`` line.
"""

import json
import os
import resource
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from pigeon_optics_spark.pipeline import dedup  # noqa: E402
from pigeon_optics_spark.session import get_spark  # noqa: E402

# the pairs of one cluster, as (u, v) member offsets; cluster size
SHAPES = {
    "clique4": ([(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)], 4),
    "chain8": ([(i, i + 1) for i in range(7)], 8),
}


def pair_graph(spark, n_pairs, shape):
    edges, size = SHAPES[shape]
    c = F.floor(F.col("id") / len(edges))
    j = (F.col("id") % len(edges) + 1).cast("int")
    u = F.element_at(F.array(*[F.lit(a) for a, _ in edges]), j)
    v = F.element_at(F.array(*[F.lit(b) for _, b in edges]), j)

    def scatter(x):
        return ((x * 2654435761) % (1 << 40)).cast("long")

    return (spark.range(n_pairs)
            .select(scatter(c * size + u).alias("id_a"),
                    scatter(c * size + v).alias("id_b"))
            .localCheckpoint())


def main():
    mode, n_pairs = sys.argv[1], int(sys.argv[2])
    shape = sys.argv[3] if len(sys.argv) > 3 else "clique4"
    spark = get_spark("cc_cap_probe")
    pairs = pair_graph(spark, n_pairs, shape)
    # a tiny graph first, so codegen is not charged to the timed call
    (dedup.connected_components(pairs.limit(50))
     .write.format("noop").mode("overwrite").save())
    rss0 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    out = {"mode": mode, "shape": shape, "pairs": n_pairs}
    if mode in ("driver", "loop"):
        dedup.CC_COLLECT_MAX = 2 * n_pairs if mode == "driver" else -1
        t0 = time.perf_counter()
        comps = dedup.connected_components(pairs)
        comps.write.format("noop").mode("overwrite").save()
        out["total_s"] = round(time.perf_counter() - t0, 2)
        out["components"] = comps.select("component_id").distinct().count()
    elif mode == "probe":
        cap = int(os.environ.get("CAP", dedup.CC_COLLECT_MAX))
        e = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        e = (e.unionByName(e.select(F.col("b").alias("a"),
                                    F.col("a").alias("b")))
             .distinct().localCheckpoint())
        out.update(cap=cap, collect_s=[], count_s=[])
        for _ in range(3):
            t0 = time.perf_counter()
            e.limit(cap + 1).collect()
            t1 = time.perf_counter()
            e.limit(cap + 1).count()
            out["collect_s"].append(round(t1 - t0, 3))
            out["count_s"].append(round(time.perf_counter() - t1, 3))
    else:
        raise SystemExit(f"unknown mode {mode!r}: driver | loop | probe")
    rss1 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    out["py_peak_rss_delta_mb"] = round((rss1 - rss0) / 1024)
    print("RESULT " + json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
