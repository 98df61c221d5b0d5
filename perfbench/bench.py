"""One benchmark run of one workload, in this process (``run.py`` starts
it as a child and cleans up after it).

Each run: start Spark at local[nproc]; build the index from a seeded
corpus (``build_index`` -> ``ServingIndex`` encode -> ``write_checkpointed``);
load the store several times (set-up); serve one untimed warm-up round;
then serve timed rounds from one closed-loop client, two at least and more
while they fit in ``--seconds``.  Every pruned batch is checked against
the exhaustive ``ranked_or_topk`` result of the same batch.  The last
stdout line is the result JSON.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time
import traceback
from pathlib import Path

import pandas as pd

from . import gen
from .procstat import CpuMeter, Interference
from .trace import Tracer, job_group, job_ids

K = 10
BLOCK_CODEC = "pef"
SETUP_REPS = 3
WARMUP_ROUNDS = 1
MIN_ROUNDS = 2

# name -> how the workload builds its corpus and serves it
WORKLOADS = {
    # the frozen 20-query reference batch over a fixture-sized corpus, block
    # table cached: every round repeats the same input
    "fixture-serve": dict(replicas=0, cache_blocks=True, fresh_queries=False),
    # a replicated corpus (two replicas of half the fixture) served straight
    # off the parquet store, uncached, with a fresh seeded batch every round
    "replica-store-serve": dict(replicas=2, cache_blocks=False,
                                fresh_queries=True),
}
# one round = one batch through every operation, exhaustive first; traced
# runs also time the other two pruned kernels
OPS = ("exact", "bmw")
TRACED_OPS = OPS + ("wand", "maxscore")

# Batch walls and CPU-seconds are per-layer numbers: on the shared host the
# bounds were set on, ten runs of the same code spread by up to 0.55 (walls)
# and 0.32 (CPU-seconds) of their median (NOTES.md)
END_TO_END = {
    "setup_s": "s",
    "bmw_batch_jobs": "count",
    "exact_batch_jobs": "count",
    "bmw_blocks_scored": "count",
    "store_bytes_per_posting": "bytes",
    "cached_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "corpus.load_s": "s",
    "build.wall_s": "s",
    "build.cpu_s": "s",
    "serve.bmw_batch_p50_s": "s",
    "serve.bmw_batch_cpu_s": "s",
    "serve.exact_batch_p50_s": "s",
    "serve.exact_batch_cpu_s": "s",
    "serve.qps": "1/s",
    "invert.build_s": "s",
    "invert.build_cpu_s": "s",
    "invert.jobs": "count",
    "invert.postings": "count",
    "blocks.encode_s": "s",
    "blocks.encode_cpu_s": "s",
    "blocks.jobs": "count",
    "blocks.n_blocks": "count",
    "manifest.write_s": "s",
    "manifest.units_written": "count",
    "manifest.bytes": "bytes",
    "manifest.load_s": "s",
    "serve.plan_s": "s",
    "serve.plan_cpu_s": "s",
    "serve.plan_jobs": "count",
    "serve.batch_jobs": "count",
    "serve.collected_rows": "count",
    "serve.survivors": "count",
    "serve.tier": "tier",
    "serve.blocks_pruned_frac": "frac",
    "serve.payload_s": "s",
    "serve.kernel_s": "s",
    "codecs.decode_mpostings_s": "Mpostings/s",
    "query.exact_s": "s",
    "query.exact_jobs": "count",
    "serve.wand_batch_p50_s": "s",
    "serve.wand_batch_cpu_s": "s",
    "serve.maxscore_batch_p50_s": "s",
    "jvm.jit_cpu_s": "s",
    "trace.coverage_frac": "frac",
    "trace.overhead_s": "s",
}
TIERS = {"driver": 0, "superblock": 1, "kernel": 2}


def canon(rows) -> list[tuple]:
    """Order- and float-noise-free view of a top-k result."""
    return sorted((int(r["qid"]), int(r["rank"]), int(r["doc_id"]),
                   round(float(r["score"]), 4)) for r in rows)


def cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos) / 2**20


class Run:
    def __init__(self, args):
        self.args = args
        self.cfg = WORKLOADS[args.workload]
        self.work = Path(args.workdir)
        self.attempted = 0
        self.failed = 0
        self.ops = TRACED_OPS if args.trace else OPS
        self.batches: dict[str, list[dict]] = {op: [] for op in self.ops}
        self.layer: dict[str, float] = {}
        self.phase: dict[str, float] = {}  # wall of each step of the run
        self.cpu = CpuMeter()

    # -- set-up ----------------------------------------------------------------
    def start(self) -> None:
        from ds2s.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app="perfbench",
                               cores=len(os.sched_getaffinity(0)))
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["session.start_s"] = time.perf_counter() - t0
        self.phase["session"] = self.layer["session.start_s"]
        self.tracer = Tracer(self.spark, bool(self.args.trace), self.cpu)
        self.tracer.instrument()

    def base_docs(self) -> int:
        """Documents per replica: the replicas together are as large as
        the fixture, so both workloads cost the same to build."""
        return self.args.docs // max(1, self.cfg["replicas"])

    def corpus_rows(self) -> list[tuple[int, str]]:
        if self.cfg["replicas"]:
            return gen.replica_docs(self.args.seed, self.cfg["replicas"],
                                    self.base_docs())
        return gen.fixture_docs(self.args.seed, self.args.docs)

    def build(self) -> dict:
        """Corpus DataFrame -> index -> encoded blocks -> store on disk.
        Returns the end-to-end build metrics."""
        from ds2s import invert, serve
        from ds2s.manifest import IndexStore

        tr = self.tracer
        rows = self.corpus_rows()
        with tr.span("corpus.load"):
            t0 = time.perf_counter()
            corpus = self.spark.createDataFrame(
                pd.DataFrame(rows, columns=["doc_id", "content"]))
            self.layer["corpus.load_s"] = time.perf_counter() - t0
        c0, t0 = self.cpu.read()[0], time.perf_counter()
        idx = invert.build_index(corpus)
        t1, c1 = time.perf_counter(), self.cpu.read()[0]
        with tr.span("blocks.encode"):
            sidx = serve.ServingIndex(idx, codec=BLOCK_CODEC)
            n_blocks = sidx.blocks.count()
        t2, c2 = time.perf_counter(), self.cpu.read()[0]
        store = IndexStore(str(self.work / "store"))
        units = store.write_checkpointed(idx, source="perfbench",
                                         codec=BLOCK_CODEC, blocks=sidx.blocks)
        t3, c3 = time.perf_counter(), self.cpu.read()[0]
        sidx.unpersist()
        nbytes = sum(int(u.get("bytes", 0))
                     for u in store.completed_units().values())
        self.idx, self.store = idx, store
        self.layer.update({
            "invert.build_s": t1 - t0, "invert.build_cpu_s": c1 - c0,
            "invert.postings": idx.n_postings,
            "blocks.encode_s": t2 - t1, "blocks.encode_cpu_s": c2 - c1,
            "blocks.n_blocks": n_blocks,
            "manifest.write_s": t3 - t2, "manifest.units_written": units,
            "manifest.bytes": nbytes,
        })
        self.phase["build"] = self.layer["build.wall_s"] = t3 - t0
        self.layer["build.cpu_s"] = c3 - c0
        return {"store_bytes_per_posting": nbytes / idx.n_postings}

    def load(self) -> float:
        """Store -> ServingIndex, set up SETUP_REPS times; the last one
        serves.  Returns the median set-up wall."""
        from ds2s import serve

        walls = []
        for i in range(SETUP_REPS):
            if i:
                self.sidx.unpersist()
            t0 = time.perf_counter()
            sidx = serve.ServingIndex.from_store(
                self.spark, self.store, cache_blocks=self.cfg["cache_blocks"])
            if self.cfg["cache_blocks"]:
                sidx.blocks.count()  # fill the cache: serving starts warm
            walls.append(time.perf_counter() - t0)
            self.sidx = sidx
        self.layer["manifest.load_s"] = statistics.median(walls)
        self.phase["setup"] = sum(walls)
        return statistics.median(walls)

    # -- serving ---------------------------------------------------------------
    def batch_rows(self, i: int) -> list[tuple[int, int, str]]:
        if not self.cfg["fresh_queries"]:
            from ds2s.queryset import queries_rows

            return queries_rows()
        if not hasattr(self, "_vocab"):
            self._vocab = gen.replica_vocab(self.cfg["replicas"],
                                            self.base_docs())
        return gen.query_batch(self.args.seed, i, self._vocab)

    def run_op(self, op: str, rows) -> list[tuple]:
        from ds2s import query
        from ds2s.query import queries_df

        qdf = queries_df(self.spark, rows)
        if op == "exact":
            with self.tracer.span("query.exact"):
                return canon(query.ranked_or_topk(self.idx, qdf, k=K).collect())
        return canon(self.sidx.topk(qdf, k=K, algo=op).collect())

    def round(self, i: int, timed: bool) -> int:
        """One batch through every operation; warm-up rounds are checked
        and counted too, but not timed.  Returns queries answered."""
        rows = self.batch_rows(i)
        n_q = len({r[0] for r in rows})
        answered, ref = 0, None
        self.tracer.batch = i
        for op in self.ops:
            self.attempted += 1
            group = f"perfbench-batch-{i}-{op}"
            c0, t0 = self.cpu.read()[0], time.perf_counter()
            try:
                with (job_group(self.spark, group, op),
                      self.tracer.span("serve.batch", op=op) as sp):
                    got = self.run_op(op, rows)
            except Exception:  # a failed batch counts, the loop goes on
                print(f"perfbench: {op} batch {i} failed:\n"
                      f"{traceback.format_exc()}", file=sys.stderr)
                self.failed += 1
                continue
            wall, cpu = time.perf_counter() - t0, self.cpu.read()[0] - c0
            if op == "exact":
                ref = got
            elif ref is None or got != ref:
                print(f"perfbench: {op} batch {i} differs from exhaustive",
                      file=sys.stderr)
                self.failed += 1
                continue
            answered += n_q
            if timed:
                rec = {"wall": wall, "cpu": cpu, "group": group,
                       "traced": sp is not None}
                if op == "bmw":
                    rec["plan"] = dict(self.sidx.last_plan)
                    rec["rows"] = rows
                    if sp is not None:
                        rec["span"] = sp["id"]
                        rec["payload_span"] = self.payload(rows)
                self.batches[op].append(rec)
        self.tracer.batch = None
        return answered

    def payload(self, rows) -> int:
        """Traced runs only: fetch the surviving blocks' payloads of one
        batch on their own, so the kernel's share of ``topk`` can be split
        from the payload join's."""
        from pyspark.sql import functions as F
        from ds2s.query import queries_df

        surv = self.sidx.survivor_blocks(queries_df(self.spark, rows), k=K)
        with self.tracer.span("serve.payload") as sp:
            surv.agg(F.sum(F.length("doc_bytes") + F.length("tf_bytes")
                           + F.length("len_bytes"))).collect()
        return sp["id"]

    def serve(self) -> dict:
        t0 = time.perf_counter()
        for w in range(WARMUP_ROUNDS):
            self.round(-1 - w, timed=False)
        self.phase["warmup"] = time.perf_counter() - t0
        n_served, i, last = 0, 0, 0.0
        t0 = time.perf_counter()
        # Always two rounds (a traced run needs one traced and one untraced
        # round), more only while a round should end within --seconds.  A
        # run must not take one round on some runs and two on others: the
        # second round is faster, so the median would follow the count.
        while i < MIN_ROUNDS or time.perf_counter() - t0 + last <= self.args.seconds:
            # traced runs alternate traced and untraced rounds: the
            # difference between the two is the tracing overhead
            self.tracer.enabled = bool(self.args.trace) and i % 2 == 0
            r0 = time.perf_counter()
            n_served += self.round(i, timed=True)
            last = time.perf_counter() - r0
            i += 1
        elapsed = time.perf_counter() - t0
        self.tracer.enabled = bool(self.args.trace)
        for op in self.ops:
            recs = self.batches[op]
            if not recs:
                raise RuntimeError(f"no successful {op} batch")
            self.layer[f"serve.{op}_batch_p50_s"] = statistics.median(
                r["wall"] for r in recs)
            self.layer[f"serve.{op}_batch_cpu_s"] = statistics.median(
                r["cpu"] for r in recs)
        self.phase["measure"] = elapsed
        self.layer["serve.qps"] = n_served / elapsed
        # jobs of a traced batch land in its spans' groups; count the
        # untraced batches (every batch of an untraced run)
        jobs = {op: [len(job_ids(self.spark, r["group"]))
                     for r in self.batches[op] if not r["traced"]]
                for op in ("bmw", "exact")}
        return {
            "bmw_batch_jobs": statistics.median(jobs["bmw"]),
            "exact_batch_jobs": statistics.median(jobs["exact"]),
            "bmw_blocks_scored": statistics.median(
                r["plan"].get("survivors", 0) for r in self.batches["bmw"]),
        }

    # -- traced per-layer metrics ---------------------------------------------
    def layers(self) -> dict:
        from pyspark.sql import functions as F
        from ds2s.blocks import decode_blocks_flat

        tr = self.tracer
        with tr.span("codecs.decode"):
            t0 = time.perf_counter()
            decode_blocks_flat(self.sidx.blocks).agg(F.sum("tf")).collect()
            dec = time.perf_counter() - t0
        tr.finish()
        spans = tr.spans
        kids: dict = {}
        for s in spans:
            kids.setdefault(s["parent"], []).append(s)

        def first(name):
            return next(s for s in spans if s["name"] == name)

        def med(xs):
            xs = list(xs)
            return statistics.median(xs) if xs else float("nan")

        lay = dict(self.layer)
        lay["jvm.jit_cpu_s"] = self.cpu.read()[1]
        inv, enc = first("invert.build"), first("blocks.encode")
        lay["invert.jobs"] = inv["jobs"]
        lay["blocks.jobs"] = enc["jobs"]
        bmw = self.batches["bmw"]
        traced = [r for r in bmw if r["traced"]]
        batch_spans = [spans[r["span"]] for r in traced]
        topks = [next(k for k in kids[b["id"]] if k["name"] == "serve.topk")
                 for b in batch_spans]
        plans = [next(k for k in kids[t["id"]] if k["name"] == "serve.plan")
                 for t in topks]
        payloads = [spans[r["payload_span"]]["wall_s"] for r in traced]
        lay["serve.plan_s"] = med(p["self_s"] for p in plans)
        lay["serve.plan_cpu_s"] = med(p["cpu_s"] for p in plans)
        lay["serve.plan_jobs"] = med(p["jobs"] for p in plans)
        lay["serve.batch_jobs"] = med(b["jobs"] for b in batch_spans)
        lay["serve.payload_s"] = med(payloads)
        lay["serve.kernel_s"] = med(
            t["wall_s"] - p["wall_s"] - pay
            for t, p, pay in zip(topks, plans, payloads))
        lay["serve.collected_rows"] = med(
            r["plan"].get("collected_rows", 0) for r in bmw)
        lay["serve.survivors"] = med(r["plan"].get("survivors", 0) for r in bmw)
        lay["serve.tier"] = max(TIERS[r["plan"].get("tier", "driver")]
                                for r in bmw)
        df = {r["term"]: int(r["df"]) for r in
              self.sidx.lexicon.select("term", "df").collect()}
        bs = int(self.sidx.cfg.block_size)
        lay["serve.blocks_pruned_frac"] = med(
            r["plan"].get("survivors", 0) / max(1, unpruned_blocks(r["rows"], df, bs))
            for r in bmw)
        lay["codecs.decode_mpostings_s"] = self.idx.n_postings / dec / 1e6
        exact = [s for s in spans if s["name"] == "query.exact"
                 and s["batch"] is not None and s["batch"] >= 0]
        lay["query.exact_s"] = med(s["wall_s"] for s in exact)
        lay["query.exact_jobs"] = med(s["jobs"] for s in exact)
        # the layers on the blocking path of a bmw batch: everything under
        # the batch span, by self time
        lay["trace.coverage_frac"] = med(
            sum(d["self_s"] for d in descendants(b, kids)) / b["wall_s"]
            for b in batch_spans)
        lay["trace.overhead_s"] = (
            med(r["wall"] for r in traced)
            - med(r["wall"] for r in bmw if not r["traced"]))
        return lay


def descendants(span: dict, kids: dict) -> list[dict]:
    out, stack = [], list(kids.get(span["id"], []))
    while stack:
        s = stack.pop()
        out.append(s)
        stack.extend(kids.get(s["id"], []))
    return out


def unpruned_blocks(rows, df: dict, block_size: int) -> int:
    """Blocks an unpruned plan touches: every block of every distinct
    in-vocabulary (qid, term)."""
    pairs = {(q, t) for q, _, t in rows}
    return sum(math.ceil(df[t] / block_size) for _, t in pairs if t in df)


def parse(argv):
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--workdir", required=True,
                   help="scratch directory for the index store")
    p.add_argument("--spans", help="traced runs write their spans here")
    p.add_argument("--docs", type=int, default=gen.N_DOCS,
                   help="base corpus size (smaller for smoke tests)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    stamp = Interference()
    stamp.start()
    run = Run(args)
    run.start()
    e2e = run.build()
    e2e["setup_s"] = run.load()
    e2e["cached_mb"] = cached_mb(run.spark)
    e2e.update(run.serve())
    if args.trace:
        metrics, units = run.layers(), PER_LAYER
        if args.spans:
            run.tracer.write(args.spans)
    else:
        metrics, units = e2e, END_TO_END
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "interference": stamp.stop(),
        "batches": {op: [[round(r["wall"], 3), round(r["cpu"], 2)] for r in v]
                    for op, v in run.batches.items()},
        "phases_s": run.phase,
    }
    bad = [k for k in units if not math.isfinite(float(metrics[k]))]
    if bad:
        raise RuntimeError(f"metrics not measured: {bad}")
    print(json.dumps(info))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in units.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    # no orderly Spark shutdown: run.py kills the JVM and its workers and
    # deletes their files as soon as this process has exited
    os._exit(main())
