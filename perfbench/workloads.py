"""The two closed-loop workloads: one client, one process, ``local[nproc]``.

Each workload makes its inputs from the seed, loads them into a fresh store,
runs every op shape untimed until it is warm (counted in ``setup_s``), then
times a fixed number of ops.  Every op checks its output against an exact
recomputation kept by the benchmark; a failed check is a failed op.
See NOISE.md for why the workloads and counts are what they are.
"""

from __future__ import annotations

import json
import math
import os
import random
import statistics
import time

AUTHOR = "bench"

#: lens logs (compute cache, emissions, output) are compacted once they
#: exceed this many segments, i.e. on every 8th build (lens.py)
COMPACTION_PERIOD = 8


def seg_counts(store_root: str) -> dict[str, int]:
    """Committed segment count per collection directory of a store."""
    out = {}
    for d, dirs, files in os.walk(os.path.join(store_root, "records")):
        n = sum(1 for e in dirs + files if e.startswith("seg_"))
        if n:
            out[d] = n
        dirs[:] = [e for e in dirs if not e.startswith(("seg_", "_stage_"))]
    return out


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _dirs, files in os.walk(path) for f in files)


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    return sorted(values)[math.ceil(q * len(values)) - 1]


class Workload:
    """Shared op accounting; subclasses provide ``setup`` and ``op``."""

    #: timed ops per run at the reference ``--seconds``; scaled by it
    base_ops = 1
    base_seconds = 30
    warmup_ops = 1

    def __init__(self, ctx, seed: int, seconds: int):
        self.ctx = ctx  # run.Context: spark, store, tracer, work dir
        self.rng = random.Random(seed)
        self.timed_ops = max(1, round(self.base_ops * seconds
                                      / self.base_seconds))
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.timing = False  # True in the timed phase
        self.op_s: list[float] = []
        self.read_s: list[float] = []
        self.scan_s: list[float] = []

    # -- accounting -------------------------------------------------------

    def check(self, ok: bool, what: str) -> bool:
        if not ok and len(self.errors) < 20:
            self.errors.append(what)
        return ok

    def attempt(self, fn, *args) -> bool:
        """Run one op (or read/scan); count it, and count it failed when it
        raises or any of its checks fails."""
        self.attempted += 1
        n_err = len(self.errors)
        try:
            ok = fn(*args)
        except Exception as exc:  # noqa: BLE001 — a failed op, keep going
            self.errors.append(f"{fn.__name__}: {type(exc).__name__}: {exc}")
            ok = False
        if not ok or len(self.errors) > n_err:
            self.failed += 1
            return False
        return True

    def timed(self, out: list[float], fn, *args):
        t0 = time.perf_counter()
        res = fn(*args)
        out.append(time.perf_counter() - t0)
        return res

    # -- phases -------------------------------------------------------------

    def warmup(self) -> None:
        """Untimed ops until the op shape is warm.  Reads and scans warm up
        in far fewer calls than the main op, so only the first and the last
        warm-up op run them."""
        for i in range(self.warmup_ops):
            self.ctx.tracer.op_id = f"warmup-{i}"
            with self.ctx.tracer.span("op.warmup"):
                self.attempt(self.op, i in (0, self.warmup_ops - 1))

    def run_timed(self) -> None:
        self.op_s, self.read_s, self.scan_s = [], [], []
        self.timing = True
        for i in range(self.timed_ops):
            self.ctx.tracer.op_id = i
            with self.ctx.tracer.span("op"):
                self.attempt(self.op, True)

    def end_to_end(self) -> dict[str, float]:
        return {
            "op_p50_s": statistics.median(self.op_s),
            "op_mean_s": statistics.fmean(self.op_s),
            "read_p50_s": statistics.median(self.read_s),
            "scan_p50_s": statistics.median(self.scan_s),
        }


class PointUpdate(Workload):
    """Orders keyed by id; one lens sums integer amounts per customer.

    Op: write one seeded record → ``rebuild_affected`` → read the touched
    customers back from the lens output; then 34 seeded point reads (17
    dataset, 17 lens output) and one ``read_path_df`` scan with a group-by.
    """

    n_orders = 4_000
    n_customers = 400
    base_ops = 3
    warmup_ops = 2
    dataset_reads, lens_reads = 17, 17
    dataset, lens = "orders", "by-customer"
    lens_code = "output(str(data['custkey']), data['amount'])"

    def setup(self) -> None:
        from pigeon_optics_spark import streaming
        from pigeon_optics_spark.lens import build_lens, create_lens

        ctx, rng = self.ctx, self.rng
        if ctx.tracer.enabled:
            # child spans for the builds the cascade runs
            streaming.build_lens = ctx.tracer.wrap(build_lens, "lens.build")
        self.orders = {
            f"o{i}": {"custkey": rng.randrange(self.n_customers),
                      "amount": rng.randrange(1, 100_001)}
            for i in range(self.n_orders)}
        self.ids = list(self.orders)
        self.sums = [0] * self.n_customers
        self.n_per_cust = [0] * self.n_customers
        for v in self.orders.values():
            self.sums[v["custkey"]] += v["amount"]
            self.n_per_cust[v["custkey"]] += 1
        with ctx.tracer.span("store.ingest"):
            ctx.store.create(AUTHOR, self.dataset)
            ctx.store.write_entries(AUTHOR, self.dataset, self.orders.items())
        with ctx.tracer.span("lens.full_build"):
            create_lens(ctx.store, AUTHOR, self.lens,
                        inputs=[f"/datasets/{AUTHOR}:{self.dataset}"],
                        code=self.lens_code)
            build_lens(ctx.spark, ctx.store, AUTHOR, self.lens)
        self.attempt(self._check_full_build)
        self.segs = seg_counts(ctx.store.root)
        self.updates: list[dict] = []

    def _check_full_build(self) -> bool:
        out = self.ctx.store.read_df(self.ctx.spark, AUTHOR, self.lens,
                                     source="lenses")
        got = {r["record_id"]: int(r["value"])
               for r in out.select("record_id", "value").collect()}
        want = {str(c): s for c, s in enumerate(self.sums)
                if self.n_per_cust[c]}
        return self.check(got == want, "full build: lens output != sums")

    def _lens_value(self, cust: int):
        try:
            return self.ctx.store.read(AUTHOR, self.lens, str(cust),
                                       source="lenses")
        except KeyError:
            return None

    def _want(self, cust: int):
        return self.sums[cust] if self.n_per_cust[cust] else None

    def _update(self) -> bool:
        from pigeon_optics_spark import streaming

        ctx, rng = self.ctx, self.rng
        rid = rng.choice(self.ids)
        old = self.orders[rid]
        new = {"custkey": rng.randrange(self.n_customers),
               "amount": rng.randrange(1, 100_001)}
        with ctx.tracer.span("store.write"):
            ctx.store.write(AUTHOR, self.dataset, rid, new)
        with ctx.tracer.span("streaming.cascade"):
            built = streaming.rebuild_affected(
                ctx.spark, ctx.store, [f"/datasets/{AUTHOR}:{self.dataset}"])
        got = {}
        for c in dict.fromkeys((old["custkey"], new["custkey"])):
            with ctx.tracer.span("store.read"):
                got[c] = self._lens_value(c)
        self.orders[rid] = new
        self.sums[old["custkey"]] -= old["amount"]
        self.n_per_cust[old["custkey"]] -= 1
        self.sums[new["custkey"]] += new["amount"]
        self.n_per_cust[new["custkey"]] += 1
        self.built = built
        return all(self.check(v == self._want(c),
                              f"update {rid}: lens[{c}]={v} != {self._want(c)}")
                   for c, v in got.items())

    def _read_order(self, rid: str) -> bool:
        with self.ctx.tracer.span("store.read"):
            v = self.timed(self.read_s, self.ctx.store.read, AUTHOR,
                           self.dataset, rid)
        return self.check(v == self.orders[rid], f"read {rid}: {v}")

    def _read_lens(self, cust: int) -> bool:
        with self.ctx.tracer.span("store.read"):
            v = self.timed(self.read_s, self._lens_value, cust)
        return self.check(v == self._want(cust), f"read lens {cust}: {v}")

    def _scan(self) -> bool:
        from pyspark.sql import functions as F

        from pigeon_optics_spark.vfs import read_path_df

        def scan():
            df = read_path_df(self.ctx.spark, self.ctx.store,
                              f"/datasets/{AUTHOR}:{self.dataset}")
            val = F.col("value")
            return (df.select(
                (F.get_json_object(val, "$.custkey").cast("long") % 8)
                .alias("g"),
                F.get_json_object(val, "$.amount").cast("long").alias("a"))
                .groupBy("g").agg(F.count("*").alias("n"),
                                  F.sum("a").alias("s"))
                .collect())

        with self.ctx.tracer.span("store.scan"):
            rows = self.timed(self.scan_s, scan)
        want: dict[int, list[int]] = {}
        for v in self.orders.values():
            w = want.setdefault(v["custkey"] % 8, [0, 0])
            w[0] += 1
            w[1] += v["amount"]
        got = {r["g"]: [r["n"], r["s"]] for r in rows}
        return self.check(got == want, "scan: group-by != orders")

    def op(self, reads: bool) -> bool:
        t0 = time.perf_counter()
        ok = self._update()
        dt = time.perf_counter() - t0
        self.op_s.append(dt)
        before, self.segs = self.segs, seg_counts(self.ctx.store.root)
        self.updates.append({
            "timed": self.timing,
            # a log whose segment count dropped was compacted in this update
            "compacted": any(self.segs.get(d, 0) < n
                             for d, n in before.items()),
            "builds": len(self.built),
            "noop_builds": sum(not b["records_changed"] for b in self.built),
            "mapped": sum(b["mapped"] for b in self.built)})
        if not reads:
            return ok
        for _ in range(self.dataset_reads):
            self.attempt(self._read_order, self.rng.choice(self.ids))
        for _ in range(self.lens_reads):
            self.attempt(self._read_lens, self.rng.randrange(self.n_customers))
        self.attempt(self._scan)
        return ok

    def user_bytes(self) -> int:
        return sum(len(json.dumps(v)) for v in self.orders.values())

    def per_layer(self) -> dict[str, float]:
        ups = [u for u in self.updates if u["timed"]]
        return {
            "compact.ops": sum(u["compacted"] for u in ups),
            "streaming.builds_per_update":
                statistics.fmean(u["builds"] for u in ups),
            "streaming.noop_builds": sum(u["noop_builds"] for u in ups),
            "lens.mapped_per_changed":
                statistics.fmean(u["mapped"] for u in ups),
        }

    def record(self) -> dict:
        return {"compaction_period_builds": COMPACTION_PERIOD,
                "compacted_updates": [n + 1 for n, u in enumerate(self.updates)
                                      if u["compacted"]]}


def char5(text: str) -> frozenset:
    """``dedup.char_shingles(n=5)`` in Python."""
    return frozenset(text[i:i + 5] for i in range(max(len(text) - 4, 1)))


def word3(text: str) -> frozenset:
    """``dedup.word_trigram_set`` in Python for single-space lowercase text."""
    t = text.split()
    if len(t) < 3:
        return frozenset([" ".join(t)] if t else [])
    return frozenset(" ".join(t[i:i + 3]) for i in range(len(t) - 2))


def jaccard_pairs(sets: dict[int, frozenset], keep) -> set[tuple[int, int]]:
    """All pairs (a < b) sharing an element for which ``keep(inter, uni)``."""
    index: dict[str, list[int]] = {}
    for d, s in sets.items():
        for x in s:
            index.setdefault(x, []).append(d)
    cand = set()
    for ds in index.values():
        ds.sort()
        cand.update((a, b) for i, a in enumerate(ds) for b in ds[i + 1:])
    out = set()
    for a, b in cand:
        inter = len(sets[a] & sets[b])
        if keep(inter, len(sets[a]) + len(sets[b]) - inter):
            out.add((a, b))
    return out


class NearDup(Workload):
    """One dedup pipeline pass over a document dataset read from the store.

    Pass: ``read_path_df`` scan + group-by → ``exact_dedup`` →
    ``minhash_lsh_pairs`` → ``prefix_jaccard_pairs`` →
    ``ngram_jaccard_pairs`` on the ``doc_id % 5 = 0`` slice →
    ``connected_components`` on the minhash pairs → point reads of 100
    cluster members back from the store.
    """

    n_docs = 600
    n_words = 300
    base_ops = 2
    warmup_ops = 1
    reads_per_pass = 100
    dataset = "documents"
    langs = ("en", "de", "fr", "es", "zh")

    def setup(self) -> None:
        ctx, rng = self.ctx, self.rng
        vocab = [
            "".join(rng.choice("abcdefghijklmnopqrstuvwxyz")
                    for _ in range(rng.randrange(2, 9)))
            for _ in range(self.n_words)]
        texts: list[str] = []
        originals: list[int] = []
        for i in range(self.n_docs):
            r = rng.random()
            if i >= 10 and r < 0.05:  # exact duplicate
                texts.append(texts[rng.choice(originals)])
            elif i >= 10 and r < 0.20:  # near duplicate: a few word edits
                toks = texts[rng.choice(originals)].split()
                for _ in range(rng.randrange(1, 4)):
                    toks[rng.randrange(len(toks))] = rng.choice(vocab)
                texts.append(" ".join(toks))
            else:
                originals.append(i)
                texts.append(" ".join(rng.choice(vocab)
                                      for _ in range(rng.randrange(20, 61))))
        self.texts = texts
        self.docs = {i: {"text": t, "lang": self.langs[i % 5]}
                     for i, t in enumerate(texts)}
        with ctx.tracer.span("store.ingest"):
            ctx.store.create(AUTHOR, self.dataset)
            ctx.store.write_entries(AUTHOR, self.dataset,
                                    [(str(i), v) for i, v in self.docs.items()])
        # exact recomputations the passes are checked against
        self.want_exact = len(set(texts))
        slice_sets = {i: char5(t) for i, t in enumerate(texts) if i % 5 == 0}
        self.want_ngram = jaccard_pairs(
            slice_sets, lambda inter, uni: inter >= 0.5 * uni)
        self.want_prefix = jaccard_pairs(
            {i: word3(t) for i, t in enumerate(texts)},
            lambda inter, uni: 5 * inter >= 3 * uni)
        self.ngram_s: list[float] = []
        self.pairs: dict[str, int] = {}

    def _pass(self) -> bool:
        from pyspark.sql import functions as F

        from pigeon_optics_spark.pipeline import dedup
        from pigeon_optics_spark.vfs import read_path_df

        ctx, span = self.ctx, self.ctx.tracer.span
        ok = True

        def scan():
            d = read_path_df(ctx.spark, ctx.store,
                             f"/datasets/{AUTHOR}:{self.dataset}").select(
                F.col("record_id").cast("long").alias("doc_id"),
                F.get_json_object("value", "$.text").alias("text"),
                F.get_json_object("value", "$.lang").alias("lang")).persist()
            return d, d.groupBy("lang").count().collect()

        with span("store.scan"):
            docs, by_lang = self.timed(self.scan_s, scan)
        ok &= self.check(sorted(r["count"] for r in by_lang)
                         == [self.n_docs // 5] * 5, f"scan: {by_lang}")
        with span("dedup.exact"):
            n_groups = dedup.exact_dedup(docs).count()
        ok &= self.check(n_groups == self.want_exact,
                         f"exact: {n_groups} != {self.want_exact}")
        with span("dedup.minhash"):
            mp = dedup.minhash_lsh_pairs(docs).persist()
            mrows = mp.collect()
        for r in mrows:
            a, b = char5(self.texts[r["id_a"]]), char5(self.texts[r["id_b"]])
            j = len(a & b) / len(a | b)
            ok &= self.check(j >= 0.5 and abs(j - r["jaccard"]) < 1e-12,
                             f"minhash pair {r['id_a']},{r['id_b']}")
        with span("dedup.prefix"):
            pr = {(r["doc_a"], r["doc_b"]) for r in
                  dedup.prefix_jaccard_pairs(docs).collect()}
        ok &= self.check(pr == self.want_prefix,
                         f"prefix: {len(pr)} != {len(self.want_prefix)}")
        t0 = time.perf_counter()
        with span("dedup.ngram"):
            ng = {(r["id_a"], r["id_b"]) for r in dedup.ngram_jaccard_pairs(
                docs.where(F.col("doc_id") % 5 == 0)).collect()}
        self.ngram_s.append(time.perf_counter() - t0)
        ok &= self.check(ng == self.want_ngram,
                         f"ngram: {len(ng)} != {len(self.want_ngram)}")
        with span("dedup.cc"):
            comps = {r["id"]: r["component_id"] for r in
                     dedup.connected_components(mp).collect()}
        ok &= self.check(comps == self._components(mrows),
                         "connected components != union-find")
        mp.unpersist()
        members = sorted(comps) or list(self.docs)
        for _ in range(self.reads_per_pass):
            self.attempt(self._read_doc, self.rng.choice(members))
        docs.unpersist()
        self.pairs = {"minhash": len(mrows), "prefix": len(pr),
                      "ngram": len(ng), "clusters": len(set(comps.values())),
                      "exact_groups": n_groups}
        return ok

    @staticmethod
    def _components(rows) -> dict[int, int]:
        parent: dict[int, int] = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in rows:
            a, b = find(r["id_a"]), find(r["id_b"])
            parent[max(a, b)] = min(a, b)
        return {x: find(x) for x in parent}

    def _read_doc(self, doc_id: int) -> bool:
        with self.ctx.tracer.span("store.read"):
            v = self.timed(self.read_s, self.ctx.store.read, AUTHOR,
                           self.dataset, str(doc_id))
        return self.check(v == self.docs[doc_id], f"read doc {doc_id}")

    def op(self, reads: bool) -> bool:
        ok = self.timed(self.op_s, self._pass)
        self.ctx.spark.catalog.clearCache()
        return ok

    def user_bytes(self) -> int:
        return sum(len(json.dumps(v)) for v in self.docs.values())

    def per_layer(self) -> dict[str, float]:
        # slow plan: a timed call at least twice the run's fastest (with two
        # timed passes a median cannot single one out)
        timed = self.ngram_s[self.warmup_ops:]
        return {"dedup.pairs.minhash": self.pairs["minhash"],
                "dedup.pairs.prefix": self.pairs["prefix"],
                "dedup.pairs.ngram": self.pairs["ngram"],
                "dedup.clusters": self.pairs["clusters"],
                "dedup.exact_groups": self.pairs["exact_groups"],
                "dedup.ngram_slow_passes": sum(t >= 2 * min(timed)
                                               for t in timed)}

    def record(self) -> dict:
        return {"ngram_s": self.ngram_s, **self.pairs}


WORKLOADS = {"point-update": PointUpdate, "near-dup": NearDup}
