"""SparkSession factory tuned for the sandbox (local[N], 32 host cores)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "ds2s",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cores = cores or os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_partitions = shuffle_partitions or max(int(str(cores)) if str(cores).isdigit() else 32, 8)
    # Python workers deserialize Arrow via pyarrow, whose bundled jemalloc
    # aggressively madvise-purges freed pages; at 32 concurrent workers the
    # purge/refault cycle is a kernel-time storm (measured: blocks-stage
    # python SYS cpu 218-857 s → ~100 s, wall 52-59 s → 37 s with the
    # system pool).  The worker daemon's env is CONSTRUCTED by
    # PythonWorkerFactory from spark.executorEnv.* — the JVM's own env is
    # not forwarded (verified via /proc/<daemon>/environ) — so this must
    # be an executorEnv conf, set before the JVM spawns.
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")
    # ... and the system (glibc) pool then serves every >128 KiB request
    # with a fresh mmap that is munmapped on free: each kernel transient
    # (partition column concat, lexsort permutation, gather output) is a
    # mmap + page-fault-on-touch + munmap cycle.  MALLOC_AB.jsonl, an
    # interleaved A/B of the full 100.8M-posting build at 32 cores,
    # measured 200.3/213.6 s (blocks stage 177/179 s) with glibc defaults
    # vs 129.7/90.3 s (blocks 104/57 s) with the heap told to retain and
    # reuse (mmap threshold 64 MiB, trim 128 MiB, 2 arenas).  Retained heap per worker is bounded by the trim
    # threshold (~128 MiB x 32 workers ~= 4 GiB, fine on this box; tune
    # down via the env vars on small-memory executors).
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "67108864")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "134217728")
    os.environ.setdefault("MALLOC_ARENA_MAX", "2")
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # NOT larger: a 48g heap sent G1 into multi-minute evacuation stalls
        # under the tokenizer's short-string churn (measured 20-290 s for an
        # identical 22 M-posting build; 16g is stable at 9-10 s, zero full GCs)
        .config("spark.driver.memory", os.environ.get("DS2S_DRIVER_MEM", "16g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Disable Spark 4's per-row Arrow batch BYTE sizing: unless
        # maxBytesPerBatch equals this exact Int.MaxValue sentinel,
        # BatchedPythonArrowInput calls ArrowWriter.sizeInBytes() for
        # EVERY input row, and that walks every field vector allocating
        # iterators (StructVector.getBufferSizeFor) — thread-dump profile
        # showed ~75% of executor samples there during mapInPandas feeds,
        # and the allocation storm anti-scales with cores (split stage
        # 55.5 s → 8.4 s at local[32] with the sentinel).  Batches stay
        # bounded by maxRecordsPerBatch (default 10k rows); every Arrow
        # row this engine ships is ≤ ~2 KB, far under the 2 GB limit the
        # byte cap guards against.
        .config("spark.sql.execution.arrow.maxBytesPerBatch",
                str(2**31 - 1))
        # Arrow batch ROW cap for python stages (Spark's default: 10k).  The
        # build kernels (split/merge/encode, ds2s.blocks) buffer whole shuffle
        # partitions anyway, so larger input batches only cut per-batch
        # overhead (RecordBatch framing, python iterator churn, allocator
        # traffic).  Rows through those stages are ≤ ~24 B; the widest
        # Python-stage rows anywhere in the engine are document payloads
        # (~2 KB) → 65536 rows ≈ 128 MB worst-case batch, far under
        # Arrow's 2 GB limit (see ds2s/multimodal.py sizing invariant).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL",
                os.environ.get("ARROW_DEFAULT_MEMORY_POOL", "system"))
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_",
                os.environ["MALLOC_MMAP_THRESHOLD_"])
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_",
                os.environ["MALLOC_TRIM_THRESHOLD_"])
        .config("spark.executorEnv.MALLOC_ARENA_MAX",
                os.environ["MALLOC_ARENA_MAX"])
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    # shuffle spill dir: the sandbox's /dev/vda is a slow virtual disk —
    # 32-core runs saturate it (load-avg 15 at 97% CPU-idle, pure iowait)
    # and identical builds swing 2-5×.  Real clusters put spark.local.dir
    # on local NVMe; /dev/shm is the sandbox analogue.  Only overridden
    # when DS2S_LOCAL_DIR is set or the sandbox fixture tree is present —
    # on a real deployment a RAM-backed shuffle dir could exhaust host
    # memory instead of spilling (round-2 advice).
    local_dir = os.environ.get("DS2S_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/root/testdata"):
        local_dir = "/dev/shm/ds2s-spark"
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    spark = builder.getOrCreate()
    # Under spark-submit the driver JVM is launched BEFORE this builder
    # runs, so spark.driver.memory set here is silently IGNORED on that
    # path and the heap stays at spark-submit's default (~1g) — the exact
    # G1-thrash regime the 16g setting was tuned to avoid (round-5 review
    # finding).  Detect the real heap from the running JVM and warn with
    # the fix; plain `python -m` launches forward builder confs to the
    # gateway, so this never fires there.
    want = os.environ.get("DS2S_DRIVER_MEM", "16g")
    try:
        units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
        w = want.strip().lower()
        want_bytes = (
            int(float(w[:-1]) * units[w[-1]]) if w[-1] in units else int(w)
        )
        actual = int(spark._jvm.java.lang.Runtime.getRuntime().maxMemory())
        if actual < 0.6 * want_bytes:
            import sys

            print(
                f"ds2s: driver JVM heap is {actual / (1 << 30):.1f} GiB but "
                f"{want} was requested — under spark-submit, pass "
                f"--driver-memory {want} on the command line (builder "
                "conf cannot resize an already-launched JVM)",
                file=sys.stderr,
            )
    except Exception:
        pass  # diagnostics only — never block session creation
    # getOrCreate returns any pre-existing session AS-IS: every launch-time
    # conf above (master/cores, executorEnv malloc + Arrow pool, Arrow
    # batch sizing) is silently dropped in that case.  The heap check above
    # catches one symptom; warn on the loudest other one — a core-count
    # mismatch — so a measurement taken on a reused, differently-sized
    # session is never silently signed (round-5 review finding).
    try:
        actual_master = spark.sparkContext.master
        if actual_master != f"local[{cores}]":
            import sys

            print(
                f"ds2s: reusing existing SparkSession ({actual_master}) — "
                f"requested local[{cores}] and this factory's launch-time "
                "tuning confs were NOT applied; stop the old session first "
                "for a correctly-sized one",
                file=sys.stderr,
            )
    except Exception:
        pass
    return spark
