"""Compressed posting-block table — the block_freq_index analogue.

ds2i's block family splits each posting list into 128-posting blocks, each
encoded independently, with an embedded skip table of per-block last-docIDs
([U] ds2i/block_freq_index.hpp — upstream ot/ds2i layout, SURVEY.md §2.2).
Here the skip table is *relational*: one row per (term_id, block_id) with
``first_doc``/``last_doc`` columns, so block skipping becomes predicate
pushdown + partition pruning on plain columns instead of an embedded varint
list (SURVEY.md §4 "skip pointers" row).

Payloads are numpy-encoded inside Arrow-batched ``mapInPandas`` (no per-
posting Python; the only Python loop is per term-block over whole-array
kernels, which is the applyInPandas idiom).  Codecs (ds2s.codecs):

- ``ef`` / ``uniform_pef`` / ``pef``: absolute docIDs in [0, n_docs) —
  the freq_index/partitioned-sequence family;
- ``optpfd`` / ``gvb``: gap-1 deltas, ds2i's block-codec family;
- ``auto``: per-block cost-based choice (smallest encoding wins) — the
  block-granularity analogue of indexed_sequence::best_type
  ([U] ds2i/indexed_sequence.hpp).

Scale notes: encoding is embarrassingly parallel per term (narrow, after
the posting-array build); blocks of a hot term spread over the cluster by
(term_id, block_id); decode-all (the --check analogue of
[U] ds2i/create_freq_index.cpp) is a distributed mapInPandas, never a
driver collect.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .codecs import decode_docs, decode_tfs, encode_docs, encode_tfs
from .codecs.varint import U32RangeError
from .config import DEFAULT_CONFIG, IndexConfig

BLOCKS_SCHEMA = (
    "term_id int, block_id int, n int, first_doc long, last_doc long, "
    "doc_bytes binary, tf_bytes binary"
)

# v2 layout: per-block doc-length payload (kills the driver-side dense lens
# array — BM25 normalization data travels WITH the block, the way ds2i ships
# wand_data norm-lens next to the index) and the block-max score computed in
# the same kernel that encodes the block (no separate skewed window pass).
BLOCKS_SCHEMA_SCORED = BLOCKS_SCHEMA + ", len_bytes binary, block_max_score double"

_AUTO_CANDIDATES = ("ef", "pef", "optpfd", "gvb", "interp")

# blocks_from_tf's split kernel buffers a whole shuffle partition, ~24 B a
# posting (~3x transient during the lexsort): 256M rows is ~6 GB resident,
# ~18 GB peak per worker.  A bigger partition fails loudly, naming
# spark.sql.shuffle.partitions, instead of running a worker out of memory.
_SPLIT_MAX_PARTITION_ROWS = 1 << 28


def range_salt_stride(universe: int, n_salt: int) -> int:
    """Disjoint docID-range salt stride — the ONE formula shared by
    ``invert.build_postings`` and ``blocks_from_tf`` so hot-term runs
    split at identical boundaries everywhere (round-5 review: the two
    call sites had drifted to (max_doc+n)//n vs (n_docs+n)//n; outputs
    are stride-invariant, but a shared helper removes the drift risk)."""
    return max(1, (int(universe) + int(n_salt)) // max(1, int(n_salt)))


def superblock_agg(blocks: DataFrame, sb_size: int) -> DataFrame:
    """Variable-BMW upper tier: per (term, superblock of ``sb_size``
    blocks) docID range + max block score + block count — a metadata-only
    aggregation of the block table, 1/sb_size the rows.  The ONE
    definition consumed by both live serving (``serve._init_tables``) and
    the store writer (``manifest.write_checkpointed``): a stored
    superblock table must equal the live-derived one or pre-pruning
    desyncs from kernel scores."""
    return blocks.groupBy(
        "term_id",
        (F.col("block_id") / int(sb_size)).cast("int").alias("sb_id"),
    ).agg(
        F.min("first_doc").alias("first_doc"),
        F.max("last_doc").alias("last_doc"),
        F.max("block_max_score").alias("sb_max_score"),
        F.count("*").alias("n_blocks"),
    )


def _candidate_encodings(encode, values, universe, candidates):
    """Every candidate encoding that is ELIGIBLE for these values: a codec
    whose format cannot represent them (gvb is u32-only; docIDs past 2^32
    are in-contract at 10^12-file scale) drops out of the race instead of
    killing the encode task (round-5 review finding).  Only that range
    error means ineligible; any other encoder error fails the encode."""
    outs = []
    for c in candidates:
        try:
            outs.append(encode(values, universe, c) if universe is not None
                        else encode(values, c))
        except U32RangeError:
            continue
    if not outs:  # ef/pef have no range limit, so this cannot happen
        raise ValueError("no codec could encode the block")
    return outs


def _encode_one(docs: np.ndarray, tfs: np.ndarray, universe: int, codec: str) -> tuple[bytes, bytes]:
    if codec == "auto":
        best_d = min(
            _candidate_encodings(encode_docs, docs, universe, _AUTO_CANDIDATES),
            key=len,
        )
        best_t = min(
            _candidate_encodings(encode_tfs, tfs, None, _AUTO_CANDIDATES),
            key=len,
        )
        return best_d, best_t
    return encode_docs(docs, universe, codec), encode_tfs(tfs, codec)


def _blocks_record_batch(out: dict):
    """One Arrow RecordBatch of encoded blocks from the merge kernel's
    accumulator lists, in BLOCKS_SCHEMA_SCORED column order and dtypes."""
    import pyarrow as pa

    arrays = [
        pa.array(np.asarray(out["term_id"], dtype=np.int32)),
        pa.array(np.asarray(out["block_id"], dtype=np.int32)),
        pa.array(np.asarray(out["n"], dtype=np.int32)),
        pa.array(np.asarray(out["first_doc"], dtype=np.int64)),
        pa.array(np.asarray(out["last_doc"], dtype=np.int64)),
        pa.array(out["doc_bytes"], type=pa.binary()),
        pa.array(out["tf_bytes"], type=pa.binary()),
        pa.array(out["len_bytes"], type=pa.binary()),
        pa.array(np.asarray(out["block_max_score"], dtype=np.float64)),
    ]
    return pa.RecordBatch.from_arrays(arrays, names=list(out))


def encode_blocks(
    postings: DataFrame,
    n_docs: int,
    cfg: IndexConfig = DEFAULT_CONFIG,
    codec: str | None = None,
    block_size: int | None = None,
) -> DataFrame:
    """postings(term_id, df, postings array<struct<doc,tf>>) → block rows.

    ``block_size`` postings per block (default cfg.block_size = 128, the
    ds2i block length); the last block of a list is short.  This is the
    array route: it emits the ``BLOCKS_SCHEMA`` columns only, for the
    codec scoreboard (bench.py) and as the reference ``blocks_from_tf``
    is tested against.  Serving encodes through ``blocks_from_tf``, whose
    rows also carry ``len_bytes`` and ``block_max_score``.
    """
    codec = codec or cfg.block_codec
    bs = int(block_size or cfg.block_size)
    universe = int(n_docs)

    flat = postings.select(
        "term_id",
        F.transform("postings", lambda p: p["doc"]).alias("docs"),
        F.transform("postings", lambda p: p["tf"]).alias("tfs"),
    )

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out: dict[str, list] = {k: [] for k in (
                "term_id", "block_id", "n", "first_doc", "last_doc",
                "doc_bytes", "tf_bytes",
            )}
            for term_id, docs, tfs in zip(batch["term_id"], batch["docs"], batch["tfs"]):
                docs = np.asarray(docs, dtype=np.uint64)
                tfs = np.asarray(tfs, dtype=np.uint64)
                n = len(docs)
                for b in range(0, max(n, 1), bs):
                    d = docs[b : b + bs]
                    t = tfs[b : b + bs]
                    if len(d) == 0:
                        continue
                    db, tb = _encode_one(d, t, universe, codec)
                    out["term_id"].append(int(term_id))
                    out["block_id"].append(b // bs)
                    out["n"].append(len(d))
                    out["first_doc"].append(int(d[0]))
                    out["last_doc"].append(int(d[-1]))
                    out["doc_bytes"].append(db)
                    out["tf_bytes"].append(tb)
            yield pd.DataFrame(out)

    return flat.mapInPandas(enc, schema=BLOCKS_SCHEMA)


def blocks_from_tf(
    tf: DataFrame,
    n_docs: int,
    avg_len: float,
    cfg: IndexConfig = DEFAULT_CONFIG,
    codec: str | None = None,
) -> DataFrame:
    """Flat postings (term_id, doc_id, tf, len, df) → encoded block rows
    (``BLOCKS_SCHEMA_SCORED``) WITHOUT the monolithic per-term array
    intermediate.

    The array route (build_postings → encode_blocks) materializes one row
    per term; a hot term's full posting list in a single row is exactly
    what breaks at scale (measured: 71 s vs 2 s for a 22 M-posting corpus
    whose vocabulary is 31 ultra-hot terms; GC-bound and worse with more
    threads).  This is the scale path:

    1. range-salt the doc space of every term with df above
       ``cfg.hot_term_df`` into ``cfg.n_salt`` disjoint strides —
       positions are computable per (term, salt) locally;
    2. ONE shuffle of the posting table, hash-partitioned by (term, salt)
       and UNSORTED — the split kernel buffers its partition and sorts
       with one numpy lexsort (the JVM row-comparator sort of the full
       posting table was the single largest CPU sink at high parallelism),
       then cuts each complete run into ≤cfg.block_size fragments;
    3. global fragment positions and per-term df via window sums over the
       ~128×-smaller FRAGMENT table (salts are ascending disjoint docID
       ranges, so (salt, local_start) order ≡ docID order) — no second
       pass over the postings, nothing vocabulary-sized on the driver;
    4. fragments (≈ one per block; more only where a block straddles a
       salt boundary) repartition by (term, block) — bounded rows,
       skew-free — and stream through a partition-wise merge+encode
       kernel.

    Besides the encoded docs and tfs, the kernel emits a per-block encoded
    length payload (``len_bytes``) and the block-max BM25 score
    (``block_max_score``, scored with ``cfg.scorer`` and ``avg_len``) —
    ds2i's wand_data/block-max metadata derived in the SAME pass that
    encodes the block ([U] ds2i/wand_data.hpp), so no second scan of the
    postings and no per-term window is ever needed.

    Its ``BLOCKS_SCHEMA`` columns equal encode_blocks(build_postings(tf))
    (tested), row for row, block for block, salted or not.

    This salted plan is the only one, settled by measurement
    (MERGE_AB.jsonl, interleaved rounds at 100.8M postings, 32 cores): a
    single-exchange plan holding each whole term in one partition lost,
    19.1 s best here against 22.2–24.7 s, because salting spreads a
    Zipf-hot term's encode over many tasks.
    """
    codec = codec or cfg.block_codec
    bs = int(cfg.block_size)
    universe = int(n_docs)
    stride = range_salt_stride(universe, max(cfg.n_salt, 1))
    spark = tf.sparkSession
    scorer = cfg.scorer

    try:
        sp = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:  # 'auto' on AQE auto-partitioning platforms
        sp = spark.sparkContext.defaultParallelism

    # salt only where it pays: a cold term's run needs no splitting, and
    # salting EVERY term multiplies the run count by n_salt (416k runs on
    # a 52k-term probe — per-run overhead and offset-table size 8×), so
    # the salt applies to hot terms only (same conditional as
    # build_postings); outputs are identical either way (tested).
    # The shuffle carries (term_id, doc_id, tf, len, salt) and NOTHING
    # else: df is NOT shipped per posting (4 B × n_postings of pure
    # redundancy) — it is recovered later as a window sum over the ~128×
    # smaller fragment table (df ≡ the term's total posting count).
    salt_col = F.when(
        F.col("df") > cfg.hot_term_df, (F.col("doc_id") / stride).cast("int")
    ).otherwise(F.lit(0))
    salted = tf.select("term_id", "doc_id", "tf", "len",
                       salt_col.alias("salt"))

    # ONE shuffle of the posting table, UNSORTED: hash partitioning by
    # (term, salt) already co-locates every run, and the split kernel
    # sorts its partition with one numpy lexsort instead of the JVM's
    # row-comparator sort.  Round-3 thread profile (3.84 M docs, 100.8 M
    # postings, local[32]): JVM executor threads burned 2.9× the CPU-s of
    # the 8-core run for IDENTICAL work — almost all of it in the
    # UnsafeExternalSorter's tie-heavy (term, salt) comparator chains —
    # while np.lexsort of a 780 k-row partition is a vectorized ~60 ms.
    #
    # Fragments carry their payloads as FLAT BINARY blobs (little-endian
    # int64 docs / int32 tfs+lens via numpy tobytes/frombuffer): array<long>
    # columns pay per-element JVM boxing at every exchange and Python
    # boundary — the event-log profile showed 2112 CPU-s (141 s GC) in the
    # split stage alone at 50 M postings, almost all of it array
    # (de)serialization, against 0.45 s of actual Python kernel work.
    shuffled = salted.repartition(sp, "term_id", "salt")

    frag_schema = (
        "term_id int, salt int, local_start long, "
        "docs_bin binary, tfs_bin binary, lens_bin binary"
    )
    max_rows = _SPLIT_MAX_PARTITION_ROWS  # read at plan time, on the driver

    def split_iter(batches) -> Iterator:
        # Buffer the whole partition (hash-partitioned → every (term,
        # salt) run arrives complete), ONE vectorized lexsort, then cut
        # each run into ≤block_size fragments.  A partition is
        # n_postings / shuffle.partitions rows — the standard
        # mapPartitions sizing contract (tune spark.sql.shuffle.partitions
        # so a partition's columns fit one worker, same as any sort).
        #
        # Arrow-native (mapInArrow): input columns view as numpy with
        # ZERO copies (primitive, null-free), output RecordBatches are
        # built directly from numpy/bytes — no pandas Series churn on the
        # n_postings-row stream (measured: the pandas conversions, not
        # the kernel math, dominated this stage's python CPU).
        import pyarrow as pa

        t_p, s_p, d_p, f_p, l_p = [], [], [], [], []
        for b in batches:
            if b.num_rows == 0:
                continue
            cols = {n: b.column(i) for i, n in enumerate(b.schema.names)}
            t_p.append(cols["term_id"].to_numpy(zero_copy_only=True))
            s_p.append(cols["salt"].to_numpy(zero_copy_only=True))
            d_p.append(cols["doc_id"].to_numpy(zero_copy_only=True))
            f_p.append(cols["tf"].to_numpy(zero_copy_only=True))
            l_p.append(cols["len"].to_numpy(zero_copy_only=True))
        if not t_p:
            return
        # Sizing-contract guard (round-3 advice): this kernel buffers the
        # whole shuffle partition (~3× transient during the lexsort fancy
        # indexing).  A skewed hash partition or too-low
        # spark.sql.shuffle.partitions should fail with an actionable
        # message, not a worker OOM (_SPLIT_MAX_PARTITION_ROWS).
        n_rows = sum(len(a) for a in t_p)
        if n_rows > max_rows:
            raise RuntimeError(
                f"blocks_from_tf split kernel: shuffle partition holds "
                f"{n_rows} postings > bound {max_rows}; raise "
                "spark.sql.shuffle.partitions (partition ≈ n_postings / "
                "shuffle.partitions)."
            )
        t_arr = np.concatenate(t_p)
        s_arr = np.concatenate(s_p)
        d_arr = np.concatenate(d_p).astype("<i8", copy=False)
        f_arr = np.concatenate(f_p).astype("<i4")
        l_arr = np.concatenate(l_p).astype("<i4")
        del t_p, s_p, d_p, f_p, l_p
        order = np.lexsort((d_arr, s_arr, t_arr))
        t_arr, s_arr, d_arr, f_arr, l_arr = (
            t_arr[order], s_arr[order], d_arr[order], f_arr[order],
            l_arr[order],
        )
        change = np.flatnonzero(
            (np.diff(t_arr) != 0) | (np.diff(s_arr) != 0)
        ) + 1
        starts = np.concatenate(([0], change))
        ends = np.concatenate((change, [len(t_arr)]))

        o_t, o_s, o_ls = [], [], []
        o_db, o_tb, o_lb = [], [], []
        for s0, e0 in zip(starts, ends):
            term_id, salt = int(t_arr[s0]), int(s_arr[s0])
            for i in range(s0, e0, bs):
                j = min(i + bs, e0)
                o_t.append(term_id)
                o_s.append(salt)
                o_ls.append(i - s0)
                o_db.append(d_arr[i:j].tobytes())
                o_tb.append(f_arr[i:j].tobytes())
                o_lb.append(l_arr[i:j].tobytes())
        if not o_t:
            return
        arrays = [
            pa.array(np.asarray(o_t, dtype=np.int32)),
            pa.array(np.asarray(o_s, dtype=np.int32)),
            pa.array(np.asarray(o_ls, dtype=np.int64)),
            pa.array(o_db, type=pa.binary()),
            pa.array(o_tb, type=pa.binary()),
            pa.array(o_lb, type=pa.binary()),
        ]
        names = ["term_id", "salt", "local_start", "docs_bin", "tfs_bin",
                 "lens_bin"]
        yield pa.RecordBatch.from_arrays(arrays, names=names)

    local_frags = shuffled.mapInArrow(split_iter, frag_schema)

    # Global positions + df WITHOUT touching the posting table again: a
    # fragment's gstart is the summed size of every earlier fragment of
    # its term (salts are disjoint ascending docID ranges, so (salt,
    # local_start) order ≡ docID order), and df is the term's total —
    # two window passes over the ~128×-smaller fragment table sharing one
    # exchange+sort.  (The previous design re-scanned all postings for a
    # counts agg and joined it back — one full extra pass.)  Skew bound:
    # a 10^9-posting term is ~8M fragment rows through one window task —
    # a running sum over scalars, the same bound the offsets join had.
    w_run = Window.partitionBy("term_id").orderBy("salt", "local_start")
    sz_col = F.expr("length(docs_bin) div 8")
    gfrags = local_frags.withColumn("sz", sz_col.cast("int")).withColumn(
        "gstart", (F.sum("sz").over(w_run) - F.col("sz")).cast("long")
    ).withColumn(
        "df", F.sum("sz").over(Window.partitionBy("term_id")).cast("long")
    )

    # re-cut ENTIRELY JVM-side on the flat binaries (byte-offset substring
    # — no per-element work anywhere): a ≤block_size fragment spans at
    # most TWO global blocks; pieces sort by global start position, which
    # equals docID order within a term, so the merge kernel never needs to
    # peek inside the blobs
    bid0 = F.floor(F.col("gstart") / bs)
    bid1 = F.floor((F.col("gstart") + F.col("sz") - 1) / bs)
    cut = (bid1 * bs - F.col("gstart")).cast("int")
    gf = (
        gfrags.withColumn("bid0", bid0.cast("int"))
        .withColumn("bid1", bid1.cast("int"))
        .withColumn("cut", cut)
    )

    def piece_expr(which: str) -> F.Column:
        if which == "single":
            return F.struct(F.col("bid0").alias("block_id"), "gstart",
                            "docs_bin", "tfs_bin", "lens_bin", "df")
        if which == "a":
            sel = ("bid0", "substring(docs_bin, 1, 8*cut)",
                   "substring(tfs_bin, 1, 4*cut)",
                   "substring(lens_bin, 1, 4*cut)", "gstart")
        else:
            sel = ("bid1", "substring(docs_bin, 8*cut+1, 8*(sz-cut))",
                   "substring(tfs_bin, 4*cut+1, 4*(sz-cut))",
                   "substring(lens_bin, 4*cut+1, 4*(sz-cut))",
                   "gstart + cut")
        return F.struct(
            F.col(sel[0]).alias("block_id"), F.expr(sel[4]).alias("gstart"),
            F.expr(sel[1]).alias("docs_bin"), F.expr(sel[2]).alias("tfs_bin"),
            F.expr(sel[3]).alias("lens_bin"), F.col("df").alias("df"),
        )

    pieces = F.when(
        F.col("bid1") > F.col("bid0"),
        F.array(piece_expr("a"), piece_expr("b")),
    ).otherwise(F.array(piece_expr("single")))
    frags = gf.select("term_id", F.explode(pieces).alias("p")).select(
        "term_id", "p.block_id", "p.gstart", "p.docs_bin", "p.tfs_bin",
        "p.lens_bin", "p.df",
    )

    # merge + encode partition-wise (NOT one applyInPandas group per block:
    # per-group pandas overhead × n_blocks dwarfs the actual encode).  The
    # repartition co-locates a block's fragments AND load-balances the
    # encode across (term, block) — without it the Zipf-hot terms'
    # encode work concentrates in their window task's output partition.
    sorted_frags = frags.repartition(
        sp, "term_id", "block_id"
    ).sortWithinPartitions("term_id", "block_id", "gstart")

    out_cols = ["term_id", "block_id", "n", "first_doc", "last_doc",
                "doc_bytes", "tf_bytes", "len_bytes", "block_max_score"]
    k1, b_p = scorer.k1, scorer.b
    n_f = float(universe)
    avg = float(avg_len) if avg_len else 1.0

    def merge_iter(batches) -> Iterator:
        # Arrow-native like split_iter: numeric columns view as numpy,
        # binary payloads come out as bytes via to_pylist (one copy, the
        # same copy pandas would make), output RecordBatches are built
        # directly — no pandas round trip.
        pend_key = None
        pend_df = 0
        pend_d: list[np.ndarray] = []
        pend_t: list[np.ndarray] = []
        pend_l: list[np.ndarray] = []
        out: dict[str, list] = {k: [] for k in out_cols}

        def flush():
            d = pend_d[0] if len(pend_d) == 1 else np.concatenate(pend_d)
            t = pend_t[0] if len(pend_t) == 1 else np.concatenate(pend_t)
            d = d.astype(np.uint64, copy=False)
            t = t.astype(np.uint64, copy=False)
            db, tb = _encode_one(d, t, universe, codec)
            out["term_id"].append(pend_key[0])
            out["block_id"].append(pend_key[1])
            out["n"].append(len(d))
            out["first_doc"].append(int(d[0]))
            out["last_doc"].append(int(d[-1]))
            out["doc_bytes"].append(db)
            out["tf_bytes"].append(tb)
            ln = pend_l[0] if len(pend_l) == 1 else np.concatenate(pend_l)
            ln = ln.astype(np.uint64, copy=False)
            # lens are positive ints like tfs, so they take the tf codec
            # path; OptPFD over group varint, on the sf0.1-shaped fixture's
            # 931 blocks: 151 -> 110 KB, encode 74 -> 54 µs and decode
            # 78 -> 13 µs per block (one 4-vCPU host).  The blob's first
            # byte names its codec, so gvb lengths from older stores still
            # decode
            out["len_bytes"].append(encode_tfs(ln, "optpfd"))
            # same float64 expression shape as the serve kernel and the
            # DuckDB oracle (round-4 stable)
            idf = scorer.idf(float(pend_df), n_f)
            tf_f = t.astype(np.float64)
            contrib = idf * tf_f / (
                tf_f + k1 * (1.0 - b_p + b_p * ln.astype(np.float64) / avg)
            )
            out["block_max_score"].append(float(contrib.max()))

        for b in batches:
            if b.num_rows == 0:
                continue
            cols = {n: b.column(i) for i, n in enumerate(b.schema.names)}
            t_arr = cols["term_id"].to_numpy(zero_copy_only=True)
            b_arr = cols["block_id"].to_numpy(zero_copy_only=True)
            docs_l = cols["docs_bin"].to_pylist()
            tfs_l = cols["tfs_bin"].to_pylist()
            lens_l = cols["lens_bin"].to_pylist()
            df_arr = cols["df"].to_numpy(zero_copy_only=True)
            for i in range(len(t_arr)):
                key = (int(t_arr[i]), int(b_arr[i]))
                if key != pend_key:
                    if pend_key is not None:
                        flush()
                    pend_key, pend_d, pend_t, pend_l = key, [], [], []
                    pend_df = int(df_arr[i])
                pend_d.append(np.frombuffer(docs_l[i], dtype="<i8"))
                pend_t.append(np.frombuffer(tfs_l[i], dtype="<i4"))
                pend_l.append(np.frombuffer(lens_l[i], dtype="<i4"))
            if out["term_id"]:
                yield _blocks_record_batch(out)
                out = {k: [] for k in out}
        if pend_key is not None:
            flush()
        if out["term_id"]:
            yield _blocks_record_batch(out)

    return sorted_frags.mapInArrow(merge_iter, schema=BLOCKS_SCHEMA_SCORED)


def decode_blocks_flat(blocks: DataFrame) -> DataFrame:
    """Block table → (term_id, pos, doc_id, tf): the decode-all `--check`
    analogue ([U] ds2i/create_freq_index.cpp --check).  ``pos`` is the
    in-list position across blocks — exact inverse of the encode, so this
    must equal the postings_arrays view bit-for-bit.

    Each block's start offset comes from a running-sum window over the
    block-count column, then every block decodes independently in a
    narrow mapInPandas — no whole-posting-list group ever materializes
    in one task (a 1e9-posting hot term stays spill-safe in the window
    sort and batch-bounded in the decode), and ``pos`` is int64 so lists
    past 2^31 postings cannot silently wrap (round-5 review finding).
    """
    w = (
        Window.partitionBy("term_id")
        .orderBy("block_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    staged = blocks.select(
        "term_id", "block_id", "n", "doc_bytes", "tf_bytes"
    ).withColumn("start", F.coalesce(F.sum("n").over(w), F.lit(0)).cast("long"))

    def dec(batches):
        for pdf in batches:
            tids, poss, docs_o, tfs_o = [], [], [], []
            for tid, start, db, tb in zip(
                pdf["term_id"], pdf["start"], pdf["doc_bytes"], pdf["tf_bytes"]
            ):
                d, _ = decode_docs(bytes(db))
                t, _ = decode_tfs(bytes(tb))
                tids.append(np.full(len(d), tid, dtype=np.int32))
                poss.append(int(start) + np.arange(len(d), dtype=np.int64))
                docs_o.append(d.astype(np.int64))
                tfs_o.append(t.astype(np.int32))
            if not tids:
                continue
            yield pd.DataFrame(
                {
                    "term_id": np.concatenate(tids),
                    "pos": np.concatenate(poss),
                    "doc_id": np.concatenate(docs_o),
                    "tf": np.concatenate(tfs_o),
                }
            )

    return staged.mapInPandas(
        dec, schema="term_id int, pos long, doc_id long, tf int"
    )


def index_size_report(blocks: DataFrame) -> DataFrame:
    """(n_terms, n_blocks, n_postings, doc_bytes, tf_bytes, bits_per_doc,
    bits_per_tf) — the compression-ratio scoreboard ds2i prints at build
    time ([U] ds2i/create_freq_index.cpp stats_line)."""
    if "len_bytes" in blocks.columns:
        blocks = blocks.drop("len_bytes")
    return blocks.agg(
        F.countDistinct("term_id").cast("long").alias("n_terms"),
        F.count("*").cast("long").alias("n_blocks"),
        F.sum("n").cast("long").alias("n_postings"),
        F.sum(F.length("doc_bytes")).cast("long").alias("doc_bytes"),
        F.sum(F.length("tf_bytes")).cast("long").alias("tf_bytes"),
        F.round(F.sum(F.length("doc_bytes")) * 8.0 / F.sum("n"), 3).alias("bits_per_doc"),
        F.round(F.sum(F.length("tf_bytes")) * 8.0 / F.sum("n"), 3).alias("bits_per_tf"),
    )
