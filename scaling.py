"""Two-cluster-size scaling evidence (sandbox substitute for N vs 4N
executors, per the round driver instruction).

Runs the SAME index-build job at two parallelism levels (local[8] and
local[32]) in separate JVMs on the same input and reports throughput at
both plus scaling efficiency T_8 / (T_32 * 4).  The input is the sf0.1
``documents`` fixture deterministically replicated ``$DS2S_SCALING_REPLICATE``
times (default 768; token-rotated per replica so content differs but the
distribution holds)
— big enough that compute dominates local-mode fixed overhead.

Also checks cross-parallelism rank-identity: top-k results (exact and BMW)
must be bit-identical between the two levels (north rule: deterministic
docIDs / rank-identity across cluster sizes).

Usage:  python scaling.py            # orchestrates both levels, prints JSON
        python scaling.py --child N  # one timed run at local[N] (internal)
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from perfbench.procstat import Interference, tree_cpu_s  # noqa: E402

# 768 replicas ≈ 100.8 M postings — large enough that variable (parallel)
# work dominates the ~10-20 s of fixed driver-job latency; smaller tiers
# make the single-box efficiency ratio meaningless (measured 0.23 at 192
# replicas purely from fixed-cost dilution)
REPLICATE = int(os.environ.get("DS2S_SCALING_REPLICATE", "768"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def corpus_df(spark, replicate: int):
    """documents × replicate, deterministic: replica r shifts doc_id by
    r*N and rotates the token stream by r positions.

    The raw fixture has a ~31-term vocabulary — adversarially tiny vs any
    real code corpus (billions of identifiers).  Each replica therefore
    also appends a deterministic identifier tail (``idRwD`` tokens), giving
    a Zipf head (the 31 hot terms) plus a long tail of rare terms — the
    distribution the north-rule input actually has."""
    import pyspark.sql.functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    n = docs.count()
    reps = spark.range(replicate).select(F.col("id").cast("int").alias("rep"))
    toks = F.split("text", " ")
    rotated = F.when(F.col("rep") == 0, F.col("text")).otherwise(
        F.concat_ws(
            " ",
            F.flatten(
                F.array(
                    F.slice(toks, F.col("rep") % F.size(toks) + 1, F.size(toks)),
                    F.slice(toks, F.lit(1), F.col("rep") % F.size(toks)),
                )
            ),
        )
    )
    ident_tail = F.concat_ws(
        " ",
        F.concat(F.lit("id"), F.col("rep").cast("string"), F.lit("w"),
                 (F.col("doc_id") % 50).cast("string")),
        F.concat(F.lit("fn"), F.col("rep").cast("string"), F.lit("x"),
                 (F.col("doc_id") % 17).cast("string")),
        F.concat(F.lit("var"), ((F.col("doc_id") * 31 + F.col("rep")) % 997).cast("string")),
    )
    out = docs.crossJoin(reps).select(
        (F.col("doc_id") + F.col("rep") * n).alias("doc_id"),
        F.concat_ws(" ", rotated, ident_tail).alias("content"),
    )
    return out


def child(cores: int) -> None:
    from ds2s.blocks import blocks_from_tf
    from ds2s.invert import build_index
    from ds2s.query import queries_df, ranked_or_topk
    from ds2s.serve import ServingIndex
    from ds2s.session import get_spark

    # shuffle partitions = 4× cores: per-task working sets stay small
    # enough that 32 concurrent tasks do not contend on execution memory
    # (measured 43.6 s → 33.3 s for the 25 M-posting block build at 32
    # cores when going 32 → 128 partitions)
    sp_mult = int(os.environ.get("DS2S_SHUFFLE_MULT", "4"))
    spark = get_spark(app=f"ds2s-scaling-{cores}", cores=cores,
                      shuffle_partitions=max(cores * sp_mult, 32))
    spark.sparkContext.setLogLevel("ERROR")

    def scored_blocks(idx):
        """ONE pass emits payloads + len payloads + block-max metadata;
        len rides inside tf — no doc-keyed join of the posting table."""
        postings = idx.tf.select("term_id", "doc_id", "tf", "len", "df")
        return blocks_from_tf(postings, idx.n_docs, avg_len=idx.avg_len)

    # untimed warm-up on a small slice: JIT/codegen compilation + python
    # worker spin-up are one-time JVM costs, not per-build costs (ds2i's
    # queries tool likewise times repeated runs, [U] ds2i/queries.cpp)
    warm = build_index(
        corpus_df(spark, 16).persist(), build_arrays=False, persist_tf=False
    )
    scored_blocks(warm).count()
    warm.unpersist()

    # pre-spread the corpus cache (cores×4 partitions, hash by doc_id):
    # the replicated fixture arrives in one partition, and a serial read
    # of a 1-partition cache would otherwise sit inside the timed build
    corpus = (
        corpus_df(spark, REPLICATE).repartition(cores * 4, "doc_id").persist()
    )
    n_docs = corpus.count()
    # raw-content bytes — for the honest GB/s → TB/h extrapolation the
    # BASELINE protocol asks for (labeled as an extrapolation: sandbox
    # input is GB-scale)
    import pyspark.sql.functions as F
    content_bytes = int(
        corpus.agg(F.sum(F.octet_length("content"))).collect()[0][0] or 0
    )

    # JVM-side GC + process-CPU counters (py4j MXBeans): per-stage GC share
    # is the discriminator between "busy but collecting garbage" and
    # genuinely parallel work — /proc/stat alone cannot tell them apart
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory

    def jvm_counters():
        gc_ms = sum(
            b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()
        )
        # process-tree CPU from /proc (py4j cannot dispatch the
        # com.sun.management getProcessCpuTime on the non-public impl)
        return gc_ms, tree_cpu_s()

    # timed: the full index build — tokenize → invert → lexicon/sizes →
    # encoded 128-posting block table + block-max metadata (the product
    # an indexer ships; giant per-term arrays are deliberately NOT built)
    stages: dict[str, float] = {}
    # the other processes' share of host CPU, steal and load average
    # over the timed build, read here where the JVM is a live descendant
    interference = Interference()
    interference.start()
    gc0, cpu0 = jvm_counters()
    t0 = time.perf_counter()
    # persist_tf=False: the tf join has exactly one consumer here (the
    # encode shuffle), so the 100 M-row tf cache materialization — the
    # ~flat 13-14 s round-3 stage — is folded into the blocks stage's map
    # side instead of being a separate memory-write+read pass
    idx = build_index(
        corpus, build_arrays=False, stage_times=stages, persist_tf=False
    )
    n_postings = idx.n_postings  # from the stats agg — no extra pass
    # single pass: encoded blocks + per-block len payloads + block-max
    # metadata together (the round-1 harness ran blocks_from_tf AND a
    # separate build_block_max postings scan — two passes, now fused)
    ts = time.perf_counter()
    scored_blocks(idx).write.format("noop").mode("overwrite").save()
    stages["blocks"] = round(time.perf_counter() - ts, 3)
    build_s = time.perf_counter() - t0
    gc1, cpu1 = jvm_counters()
    stages["gc_s"] = round((gc1 - gc0) / 1000.0, 3)
    stages["tree_cpu_s"] = round(cpu1 - cpu0, 3)
    stages["tree_cpu_per_core"] = round((cpu1 - cpu0) / build_s / cores, 3)
    build_interference = interference.stop()

    if os.environ.get("DS2S_SCALING_PROBES", "1") == "1":
        # rank-identity probes (must be parallelism-invariant) — run on a
        # small replica count: invariance across cluster sizes is a property
        # of the deterministic plan, not of the input size
        probe_idx = build_index(corpus_df(spark, 4).persist(), build_arrays=False)
        qdf = queries_df(spark)
        exact = ranked_or_topk(probe_idx, qdf, k=10).orderBy("qid", "rank").collect()
        sidx = ServingIndex(probe_idx)
        bmw = sidx.topk(qdf, k=10, algo="bmw").orderBy("qid", "rank").collect()
    else:
        exact = bmw = None  # probes skipped — must NOT report as matching

    def digest(rows):
        # None (probe skipped) stays None: two skipped probes would
        # otherwise digest two empty lists to the same constant sha and
        # stamp rank_identity=true for a gate that never ran (round-5
        # review finding)
        if rows is None:
            return None
        h = hashlib.sha256()
        for r in rows:
            h.update(f"{r['qid']}|{r['rank']}|{r['doc_id']}|{r['score']:.4f};".encode())
        return h.hexdigest()

    print(
        json.dumps(
            {
                "cores": cores,
                "n_docs": n_docs,
                "n_postings": n_postings,
                "build_s": round(build_s, 3),
                "stages": stages,
                "docs_per_s": round(n_docs / build_s, 1),
                "postings_per_s": round(n_postings / build_s, 1),
                "content_bytes": content_bytes,
                "mb_per_s": round(content_bytes / build_s / 1e6, 2),
                # single-box extrapolation, labeled as such: TB/h if this
                # throughput held linearly on cluster executors
                "tb_per_h_extrapolated": round(
                    content_bytes / build_s * 3600 / 1e12, 4
                ),
                "exact_sha": digest(exact),
                "bmw_sha": digest(bmw),
                "interference": build_interference,
            }
        )
    )
    spark.stop()


def main() -> None:
    if "--child" in sys.argv:
        child(int(sys.argv[sys.argv.index("--child") + 1]))
        return
    # INTERLEAVED rounds (8, 32, 8, 32, ...), best-of-N per level: the
    # sandbox host has noisy windows (identical fresh-JVM runs measured
    # 2-5× apart); interleaving exposes both parallelism levels to the
    # same windows instead of letting one level soak an unlucky stretch.
    # N and 4N parallelism levels (default 8 vs 32; DS2S_SCALING_LEVELS
    # e.g. "2,8" measures a 4× step using a quarter of the box — useful
    # when neighbor interference starves wide runs)
    lo, hi = (
        int(x) for x in os.environ.get("DS2S_SCALING_LEVELS", "8,32").split(",")
    )
    results = {}
    repeats = int(os.environ.get("DS2S_SCALING_REPEATS", "3"))
    for rep in range(repeats):
        for cores in (lo, hi):
            try:
                out = subprocess.run(
                    [sys.executable, __file__, "--child", str(cores)],
                    capture_output=True, text=True, timeout=1800,
                )
                lines = [
                    l for l in out.stdout.splitlines() if l.startswith("{")
                ]
                if out.returncode != 0 or not lines:
                    raise RuntimeError(
                        f"scaling child (cores={cores}, rep={rep}) failed "
                        f"rc={out.returncode}; stderr tail: "
                        f"{(out.stderr or '')[-2000:]}"
                    )
                run = json.loads(lines[-1])
            except (subprocess.TimeoutExpired, RuntimeError) as e:
                # Salvage a multi-hour campaign: if both levels already
                # hold a best run, stop measuring and report what we have
                # (round-5 review: a single child OOM/timeout used to
                # destroy every completed repeat with a bare IndexError)
                if lo in results and hi in results:
                    print(json.dumps({"aborted_rep": rep, "cores": cores,
                                      "reason": str(e)[:500]}), flush=True)
                    break
                raise
            best = results.get(cores)
            if best is None or run["build_s"] < best["build_s"]:
                results[cores] = run
        else:
            continue
        break
    r8, r32 = results[lo], results[hi]
    eff = (r8["build_s"] / r32["build_s"]) / (hi / lo)
    report = {
        "metric": f"index_build_scaling_efficiency_{lo}_to_{hi}_cores",
        "value": round(eff, 3),
        "unit": "ratio",
        "runs": results,
        "rank_identity": {
            # null = probes skipped (DS2S_SCALING_PROBES=0), never "true"
            "exact": (r8["exact_sha"] == r32["exact_sha"])
            if r8["exact_sha"] and r32["exact_sha"] else None,
            "bmw": (r8["bmw_sha"] == r32["bmw_sha"])
            if r8["bmw_sha"] and r32["bmw_sha"] else None,
        },
        # total CPU-seconds at hi vs lo cores for IDENTICAL work — the
        # parallel-overhead signal.  1.0 = zero overhead (wall efficiency
        # then approaches the hardware ceiling on a quiet box); round 3
        # measured 2.07.  More interference-resistant than wall (neighbor
        # stalls inflate both numerators when repeats interleave), never
        # a substitute for the wall-based gate.
        "cpu_work_ratio_hi_over_lo": round(
            r32["stages"]["tree_cpu_s"] / max(r8["stages"]["tree_cpu_s"], 1e-9), 3
        ),
        # interference-normalized companion figure (round-4 verdict item 2):
        # tree_cpu_lo / tree_cpu_hi = the efficiency an ideal scheduler
        # could reach given the measured CPU-work inflation at hi cores.
        # CPU-seconds are far more interference-resistant than wall on a
        # shared box (neighbor stalls inflate wall at both levels; stolen
        # cores barely change this process tree's CPU accounting), so this
        # figure tracks the CODE across noisy windows.  It is a companion
        # to — never a substitute for — the wall-based gate value above.
        "cpu_normalized_efficiency": round(
            r8["stages"]["tree_cpu_s"] / max(r32["stages"]["tree_cpu_s"], 1e-9), 3
        ),
        "replicate": REPLICATE,
        "sf_dir": SF_DIR,
    }
    print(json.dumps(report))
    out = "BENCH_SCALING.json" if (lo, hi) == (8, 32) else f"BENCH_SCALING_{lo}x{hi}.json"
    Path(out).write_text(json.dumps(report, indent=2) + "\n")


if __name__ == "__main__":
    main()
