"""Dynamic-pruning top-k serving: MaxScore, WAND, and Block-Max WAND.

ds2i's ranked operators ([U] ds2i/queries.cpp wand_query / maxscore_query /
block_max_wand_query — upstream layout, SURVEY.md §2.6) are cursor-at-a-time
heap algorithms.  A per-posting Python loop cannot survive translation
(SURVEY.md §4 last row), so this module implements the same *pruning
semantics* vectorized, exact by construction.  The query PLAN is computed
centrally (the role a ds2i search node's query thread plays); the payload
work stays distributed, and payloads of pruned blocks never shuffle:

Phase 1 — θ₀ seed (tiny): the rarest query term's highest-block-max blocks
are top-N-capped *relationally* (a per-term window over block metadata),
so at most ``seed_max_blocks`` payload rows per term leave the scan; their
tf+len payloads decode in the driver, and θ₀ = k-th best single-term lower
bound (0 if fewer than k).  Any subset of true scores is a valid lower
bound on the final k-th score, so the cap is always safe.

Phase 2 — metadata-only pruning, three tiers by query-term block volume
(``n_blocks ≈ Σ df/128`` estimated from the lexicon, no extra scan):

- small (≤ plan_collect_cap): block metadata of the query's terms —
  first/last/block_max columns only — collects to the driver; the exact
  upper-bound interval grid (union of block boundaries; summed w·block_max
  per interval) prunes there; surviving (term, block) keys re-enter the
  plan as a local relation, shuffle-hash joined to the payloads inside
  the scoring kernel's job.  ONE applyInPandas stage total (the scoring
  kernel).
- large: a SUPERBLOCK tier — per (term, superblock of ``sb_size`` blocks)
  (first_doc, last_doc, max block_max) rows, the Variable-BMW /
  wand_data_compressed analogue (PISA lineage) — is grid-pruned first;
  it is 1/sb_size the metadata, so a 10^9-posting term contributes ~61k
  rows, not 8M.  Surviving superblocks' block metadata then collects (if
  under the cap) for exact block-level pruning.
- huge (survivors still over the cap): the block-level grid runs in a
  per-qid plan kernel whose input is *bounded by surviving superblocks'
  blocks* — never by the query terms' total block count.

Safety of every tier: superblock maxima dominate their blocks' maxima, so
the superblock grid over-approximates the block grid; any doc d with full
UB(d) ≥ θ₀ lies in a surviving interval at both granularities, and every
block containing d overlaps that interval, so a pruned block cannot hold
a top-k doc and survivor scores stay complete.

The scoring kernel applies the per-algorithm refinement (block intervals
for BMW, term intervals for MaxScore, adaptive-θ chunked interval sweep
for WAND) and returns the exact top-k — rank-identical to the exhaustive
ranked-OR oracle, with the same rounding and (score DESC, doc ASC) tie
discipline.

Doc lengths travel WITH each block (``len_bytes``, encoded at build time,
ds2s.blocks) — no driver-side dense lens array and no broadcast
proportional to corpus size.  The lexicon lookup reads the batch's terms
off the query frame (a ``queries_df`` local relation: no Spark job) and
scans the lexicon once (``term IN``, predicate-pushed — the store writes
the lexicon term-sorted so file-level min/max stats prune it,
ds2s.manifest).  A driver-tier batch therefore runs three jobs: that
lexicon scan, the fused metadata + θ₀-seed fetch, and the scoring kernel.

Upper bounds are inflated by 1+1e-9 before pruning: metadata sums are
float math in two runtimes; the margin keeps pruning safe across last-ulp
differences (both paths rank on values rounded to 6 decimals, so the
margin cannot change results).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from contextlib import contextmanager

from .blocks import blocks_from_tf, superblock_agg
from .codecs import decode_docs, decode_tfs
from .config import DEFAULT_CONFIG, IndexConfig
from .invert import InvertedIndex
from .util import round_half_up


import threading

# `spark.sql.adaptive.enabled` is SESSION-global state: the guard below is
# safe only while one thread at a time toggles it.  Serving calls are
# driver-sequential by design, but ds2s.manifest.write_checkpointed submits
# its independent table writes from a thread pool — the lock serializes the
# conf flip/restore against any concurrent _no_aqe user so a racing guard
# can never restore the wrong previous value.  It does NOT make it safe to
# run a serve batch concurrently with an AQE-dependent build on the same
# session (the build stages launched inside the window would lose AQE);
# that invariant is documented at the write_checkpointed thread-pool site.
_AQE_LOCK = threading.Lock()


@contextmanager
def _no_aqe(spark):
    """Disable adaptive execution around the serving plan's EAGER driver
    fetches (cursor resolve, fused metadata+seed toPandas).  These are
    small bounded queries over persisted/pushdown-pruned tables; AQE's
    stage-by-stage materialization turns each exchange into its own job
    (measured: 8 → 5 jobs and 1.96 → 1.26 s per 20-query BMW batch at
    sf0.1 with AQE off).  Build/encode pipelines keep AQE — the guard
    restores the previous value under _AQE_LOCK (see above)."""
    with _AQE_LOCK:
        prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            yield
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", prev)

_UB_MARGIN = 1.0 + 1e-9
# Above this many distinct terms, the per-batch `term_id IN (...)` payload
# prefilter is skipped: the InSet predicate itself stays cheap, but a
# vocabulary that wide touches most cached batches / row groups anyway and
# the literal list starts to dominate plan serialization.  Batches this
# large are far past the interactive shape the filter exists for.
_MAX_TERM_IN_FILTER = 8192


def _term_prefilter(blocks, tids, n_buckets: int = 0):
    """`term_id IN (tids)` scan predicate on the block table.

    Semantics-free (callers only ever join the result back on term keys
    drawn from `tids`); its job is to reach the SCAN: cached-relation
    batch stats or parquet row-group stats prune before any payload byte
    is materialized, instead of every row probing the survivor join.

    When the table is the hive-partitioned store layout
    (``blocks/bucket=k``, ``bucket = term_id % n_buckets`` — see
    manifest.write_checkpointed), the bucket set is derivable driver-side
    from the same term set, so an additional ``bucket IN (...)`` predicate
    prunes whole PARTITION DIRECTORIES at planning time: uncached
    store-backed serving then lists and reads only the query terms'
    buckets, never the other ~(n_buckets − |terms|)/n_buckets of a
    multi-TB block table."""
    if 0 < len(tids) <= _MAX_TERM_IN_FILTER:
        out = blocks.filter(F.col("term_id").isin([int(t) for t in tids]))
        if n_buckets > 0 and "bucket" in blocks.columns:
            out = out.filter(F.col("bucket").isin(
                sorted({int(t) % n_buckets for t in tids})
            ))
        return out
    return blocks


_OUT_SCHEMA = "qid int, rank int, doc_id long, score double"
_SURV_SCHEMA = (
    "qid int, term_id int, block_id int, w double, idf double, "
    "max_score double, theta0 double"
)


def _decode_block_scores(db, tb, lb, w, idf, k1, b, avg):
    """One block → (docs int64, per-posting BM25 contribution float64)."""
    d, _ = decode_docs(bytes(db))
    tf, _ = decode_tfs(bytes(tb))
    ln, _ = decode_tfs(bytes(lb))
    tf = tf.astype(np.float64)
    ln = ln.astype(np.float64)
    c = w * idf * tf / (tf + k1 * (1.0 - b + b * ln / avg))
    return d.astype(np.int64), c


def _interval_grid(per_term):
    """Union of pruning-interval boundary points + per-point summed UB."""
    pts = [np.zeros(1, dtype=np.int64)]
    for t in per_term:
        pts.append(t["firsts"])
        pts.append(t["lasts"] + 1)
    points = np.unique(np.concatenate(pts))
    ub = np.zeros(len(points), dtype=np.float64)
    for t in per_term:
        j = np.searchsorted(t["lasts"], points, side="left")
        valid = j < len(t["lasts"])
        jj = np.where(valid, j, 0)
        inside = valid & (t["firsts"][jj] <= points)
        ub += np.where(inside, t["ubs"][jj] * _UB_MARGIN, 0.0)
    return points, ub


def _surv_psurv(ub, theta):
    """Survivor mask over grid intervals (UB ≥ θ; everything survives at
    θ=0) plus its prefix-sum — the overlap-count primitive."""
    surv = ub >= theta if theta > 0.0 else np.ones(len(ub), dtype=bool)
    return surv, np.concatenate(([0], np.cumsum(surv)))


def _spans(points, firsts, lasts):
    """Doc ranges [firsts, lasts] → grid-interval index spans [lo, hi].
    The side="right"-1 convention is THE shared contract between
    plan-time and kernel-time pruning — one implementation so a boundary
    fix can never desync the two (round-5 review finding)."""
    lo = np.searchsorted(points, firsts, side="right") - 1
    hi = np.searchsorted(points, lasts, side="right") - 1
    return lo, hi


def _overlap_take(psurv, lo, hi):
    """True where span [lo, hi] overlaps at least one surviving interval."""
    return (psurv[hi + 1] - psurv[lo]) > 0


def _grid_survivors(per_term, theta0):
    """Exact interval-grid pruning over metadata arrays.

    per_term entries need {firsts, lasts, ubs} (pruning intervals).
    Returns (points, surv mask, per-term boolean ``take`` over the SAME
    interval arrays — an entry survives iff it overlaps a surviving
    interval)."""
    points, ub_sum = _interval_grid(per_term)
    surv, psurv = _surv_psurv(ub_sum, theta0)
    takes = []
    for t in per_term:
        lo, hi = _spans(points, t["firsts"], t["lasts"])
        takes.append(_overlap_take(psurv, lo, hi))
    return points, surv, takes


def _sweep_topk(per_term, k, theta0, avg, scorer, rank_round):
    """Static-θ upper-bound interval sweep (BMW / MaxScore kernels).

    per_term entries: {firsts, lasts, ubs (pruning intervals), block_first,
    block_last, payloads [(doc_bytes, tf_bytes, len_bytes)], idf, w}."""
    points, ub = _interval_grid(per_term)
    surv, psurv = _surv_psurv(ub, theta0)

    doc_parts: list[np.ndarray] = []
    contrib_parts: list[np.ndarray] = []
    k1, b = scorer.k1, scorer.b
    for t in per_term:
        lo, hi = _spans(points, t["block_first"], t["block_last"])
        take = _overlap_take(psurv, lo, hi)
        if not take.any():
            continue
        for i in np.flatnonzero(take):
            d, c = _decode_block_scores(
                *t["payloads"][i], t["w"], t["idf"], k1, b, avg
            )
            doc_parts.append(d)
            contrib_parts.append(c)

    if not doc_parts:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64)
    all_docs = np.concatenate(doc_parts)
    all_contrib = np.concatenate(contrib_parts)
    ud, inv = np.unique(all_docs, return_inverse=True)
    scores = np.bincount(inv, weights=all_contrib)

    # keep only docs in survivor intervals (their scores are complete)
    ii = np.searchsorted(points, ud, side="right") - 1
    keep = surv[np.clip(ii, 0, len(surv) - 1)]
    ud, scores = ud[keep], scores[keep]
    return _rank(ud, scores, k, rank_round)


def _wand_topk(per_term, k, theta0, avg, scorer, rank_round):
    """Classic WAND ([U] ds2i/queries.cpp wand_query): docID-ordered
    cursor pivoting with an ADAPTIVE threshold, at block granularity,
    processed in vectorized CHUNKS of consecutive intervals.

    Intervals of the block grid are visited in docID order; θ is raised to
    the running k-th best true score as the heap fills, so late intervals
    are pruned against the scores found in early ones — the classic
    algorithm's defining property.  Between θ raises the sweep is one
    numpy pass over a chunk (doubling up to 4096 intervals), not a Python
    loop per interval, and the running top-k is a bounded merge (size
    ≤ k + chunk candidates), never a re-partition of all candidates.

    Exactness: every doc lies in one interval; a doc counted in a live
    interval has ALL its blocks decoded (any block containing it overlaps
    the interval), so its score is complete.  A skipped interval's docs
    have raw UB < θ = (k-th ranked raw − quantum); rounding is translation-
    invariant by whole quanta, so their rounded score falls strictly below
    the k-th rounded score and they cannot enter the rounded top-k."""
    points, ub = _interval_grid(per_term)
    n_int = len(points)
    k1, b = scorer.k1, scorer.b
    quantum = 10.0 ** (-rank_round) if rank_round is not None else 0.0

    # per-term block → interval-index spans, computed once
    spans = [_spans(points, t["block_first"], t["block_last"]) for t in per_term]

    theta = theta0
    best_docs = np.zeros(0, dtype=np.int64)
    best_scores = np.zeros(0, dtype=np.float64)
    decoded: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}

    i0, chunk = 0, 32
    while i0 < n_int:
        j = min(i0 + chunk, n_int)
        chunk = min(chunk * 2, 4096)
        live, pl = _surv_psurv(ub[i0:j], theta)
        if not live.any():
            i0 = j
            continue
        lo_doc = points[i0]
        hi_doc = points[j] - 1 if j < n_int else np.iinfo(np.int64).max

        d_parts, c_parts = [], []
        for ti, t in enumerate(per_term):
            blo, bhi = spans[ti]
            # blocks whose interval span intersects a LIVE interval of
            # [i0, j): one vectorized overlap test per term
            a = np.clip(blo - i0, 0, j - i0)
            z = np.clip(bhi - i0 + 1, 0, j - i0)
            need = np.flatnonzero((z > a) & (pl[z] - pl[a] > 0))
            for bi in need:
                key = (ti, int(bi))
                if key not in decoded:
                    decoded[key] = _decode_block_scores(
                        *t["payloads"][bi], t["w"], t["idf"], k1, b, avg
                    )
                d, c = decoded[key]
                sl = slice(
                    np.searchsorted(d, lo_doc, side="left"),
                    np.searchsorted(d, hi_doc, side="right"),
                )
                if sl.start < sl.stop:
                    d_parts.append(d[sl])
                    c_parts.append(c[sl])
        if not d_parts:
            i0 = j
            continue
        docs = np.concatenate(d_parts)
        contribs = np.concatenate(c_parts)
        ud, inv = np.unique(docs, return_inverse=True)
        sc = np.bincount(inv, weights=contribs)
        # keep docs whose interval is live (scores complete by
        # construction; the slice bounds guarantee ii ∈ [i0, j))
        ii = np.searchsorted(points, ud, side="right") - 1
        keep = live[ii - i0]
        ud, sc = ud[keep], sc[keep]
        i0 = j
        if not len(ud):
            continue
        # bounded running top-k merge with the frozen tie discipline.
        # Rank (sort+trim) whenever the candidate set has REACHED k —
        # including exactly k — before reading best_scores[-1]: without
        # the sort the arrays are in docID order from np.unique and the
        # last entry is an arbitrary candidate's score, which could
        # inflate θ above the true k-th best and prune true top-k docs.
        best_docs = np.concatenate((best_docs, ud))
        best_scores = np.concatenate((best_scores, sc))
        if len(best_docs) >= k:
            rs = (
                round_half_up(best_scores, rank_round)
                if rank_round is not None else best_scores
            )
            order = np.lexsort((best_docs, -rs))[:k]
            best_docs, best_scores = best_docs[order], best_scores[order]
            theta = max(theta, float(best_scores[-1]) - quantum)

    return _rank(best_docs, best_scores, k, rank_round)


def _rank(ud, scores, k, rank_round):
    """Frozen tie discipline: (round6(score) DESC, doc ASC), half-up."""
    rs = round_half_up(scores, rank_round) if rank_round is not None else scores
    order = np.lexsort((ud, -rs))[:k]
    return ud[order], scores[order]


def _make_kernel(k, algo, scorer, avg_len, rank_round):
    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(key[0])
        theta0 = float(pdf["theta0"].iloc[0])
        per_term: list[dict] = []
        for _, g in pdf.groupby("term_id", sort=True):
            g = g.sort_values("block_id")
            bf = g["first_doc"].to_numpy(dtype=np.int64)
            bl = g["last_doc"].to_numpy(dtype=np.int64)
            bmax = g["block_max_score"].to_numpy(dtype=np.float64)
            w = float(g["w"].iloc[0])
            idf = float(g["idf"].iloc[0])
            tmax = float(g["max_score"].iloc[0])
            payloads = list(zip(g["doc_bytes"], g["tf_bytes"], g["len_bytes"]))
            if algo == "maxscore":  # one pruning interval per term
                firsts, lasts = bf[:1], bl[-1:]
                ubs = np.array([tmax * w], dtype=np.float64)
            else:  # bmw / wand: block-granular intervals
                firsts, lasts, ubs = bf, bl, bmax * w
            per_term.append(
                dict(
                    firsts=firsts, lasts=lasts, ubs=ubs,
                    block_first=bf, block_last=bl, payloads=payloads,
                    idf=idf, w=w,
                )
            )
        if not per_term:
            # defensive only — applyInPandas never invokes the kernel on
            # an empty group today, so this is unreachable; kept as a
            # typed guard against upstream contract drift, NOT a live path
            return pd.DataFrame(
                {"qid": [], "rank": [], "doc_id": [], "score": []}
            ).astype({"qid": "int32", "rank": "int32", "doc_id": "int64", "score": "float64"})

        fn = _wand_topk if algo == "wand" else _sweep_topk
        docs, scores = fn(per_term, k, theta0, avg_len, scorer, rank_round)
        out_scores = round_half_up(scores, 4) if rank_round is not None else scores
        return pd.DataFrame(
            {
                "qid": np.full(len(docs), qid, dtype=np.int32),
                "rank": np.arange(1, len(docs) + 1, dtype=np.int32),
                "doc_id": docs,
                "score": out_scores,
            }
        )

    return kernel


def _make_plan_kernel():
    """Fallback (huge-tier) per-qid plan kernel: block METADATA of the
    surviving superblocks → surviving block keys via the exact interval
    grid.  θ₀ arrives as a column (driver-seeded); input is bounded by the
    superblock tier, never by the query terms' total block count."""

    empty = {
        "qid": pd.Series([], dtype="int32"),
        "term_id": pd.Series([], dtype="int32"),
        "block_id": pd.Series([], dtype="int32"),
        "w": pd.Series([], dtype="float64"),
        "idf": pd.Series([], dtype="float64"),
        "max_score": pd.Series([], dtype="float64"),
        "theta0": pd.Series([], dtype="float64"),
    }

    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        theta0 = float(pdf["theta0"].iloc[0])
        per_term, groups = [], []
        for term_id, g in pdf.groupby("term_id", sort=True):
            g = g.sort_values("block_id")
            bf = g["first_doc"].to_numpy(dtype=np.int64)
            bl = g["last_doc"].to_numpy(dtype=np.int64)
            ub = g["block_max_score"].to_numpy(dtype=np.float64) * float(
                g["w"].iloc[0]
            )
            per_term.append(dict(firsts=bf, lasts=bl, ubs=ub))
            groups.append((int(term_id), g))
        _, _, takes = _grid_survivors(per_term, theta0)
        out = []
        for (term_id, g), take in zip(groups, takes):
            if not take.any():
                continue
            gg = g.iloc[np.flatnonzero(take)]
            out.append(
                pd.DataFrame(
                    {
                        "qid": np.int32(key[0]),
                        "term_id": np.int32(term_id),
                        "block_id": gg["block_id"].to_numpy(dtype=np.int32),
                        "w": gg["w"].to_numpy(dtype=np.float64),
                        "idf": gg["idf"].to_numpy(dtype=np.float64),
                        "max_score": float(
                            g["block_max_score"].to_numpy(dtype=np.float64).max()
                        ),
                        "theta0": theta0,
                    }
                )
            )
        if not out:
            return pd.DataFrame(empty)
        return pd.concat(out, ignore_index=True)

    return kernel


class ServingIndex:
    """Encoded block table + metadata, ready for pruned top-k serving.

    Holds DataFrames only — no driver-side arrays of any corpus-
    proportional size; query-time driver state is bounded by
    ``plan_collect_cap`` metadata rows and ``seed_max_blocks`` payloads.
    The block table is self-contained (docIDs, tfs, doc lengths, block-max
    score per row); auxiliary tables are the per-term max score (``wand``,
    one aggregation) and the superblock tier (``superblocks``, one
    metadata-only aggregation — the Variable-BMW upper level).

    Two constructions:
    - ``ServingIndex(idx)`` — from a live build: ONE pass over the
      postings (blocks_from_tf with scoring) emits payloads + block-max
      together; no separate wand_data scan of the postings;
    - ``ServingIndex.from_store(spark, store)`` — from a persisted
      IndexStore alone (the mmap-load analogue: no corpus, no re-invert),
      scoring with the BUILD-TIME config frozen in the store manifest.
    """

    def __init__(self, idx: InvertedIndex, codec: str | None = None,
                 cfg: IndexConfig | None = None, blocks: DataFrame | None = None,
                 seed_max_blocks: int = 64, sb_size: int = 128,
                 plan_collect_cap: int = 131072):
        self.cfg = cfg or idx.cfg
        if blocks is None:
            # len rides inside tf (ds2s.invert.build_tf) — ONE cache scan,
            # no doc-keyed join of the posting table
            postings = idx.tf.select("term_id", "doc_id", "tf", "len", "df")
            blocks = blocks_from_tf(
                postings, idx.n_docs, self.cfg, codec=codec,
                avg_len=idx.avg_len, max_df=lambda: idx.max_df,
            )
        self._init_tables(
            lexicon=idx.lexicon,
            n_docs=idx.n_docs,
            avg_len=idx.avg_len,
            blocks=blocks,
            seed_max_blocks=seed_max_blocks,
            sb_size=sb_size,
            plan_collect_cap=plan_collect_cap,
        )

    def _init_tables(self, lexicon: DataFrame, n_docs: int, avg_len: float,
                     blocks: DataFrame, wand: DataFrame | None = None,
                     superblocks: DataFrame | None = None,
                     seed_max_blocks: int = 64, sb_size: int = 128,
                     plan_collect_cap: int = 131072,
                     cache_blocks: bool = True) -> None:
        self.lexicon = lexicon
        self.n_docs = int(n_docs)
        self.avg_len = float(avg_len)
        # store layout hint: >0 means blocks carries a `bucket` hive
        # partition column with bucket = term_id % _n_buckets (from_store
        # sets it from _index.json) — _term_prefilter then prunes whole
        # bucket directories on uncached store-backed serving
        self._n_buckets = 0
        self.seed_max_blocks = int(seed_max_blocks)
        if self.seed_max_blocks < 1:
            # 0/negative would silently DISABLE the seed payload cap and
            # ship every block of a qid's rarest term to the driver —
            # the unbounded state the class contract forbids.  θ₀ cannot
            # be turned off (any cap only weakens it, exactness is
            # unaffected), so reject rather than reinterpret.
            raise ValueError(
                f"seed_max_blocks={seed_max_blocks} must be ≥ 1 (driver "
                "seed state is bounded by seed_max_blocks payload rows)"
            )
        self.sb_size = int(sb_size)
        self.plan_collect_cap = int(plan_collect_cap)
        # cache_blocks=False is the 100 TB store-serving shape: a block
        # table that dwarfs executor storage is served straight off
        # parquet, where the per-batch term/bucket predicates reach the
        # file scan (partition-directory + row-group pruning) instead of
        # materializing the full table into the cache on first touch.
        self.blocks = blocks.persist() if cache_blocks else blocks
        if wand is None:
            # term upper bound = max over its block maxes — one small agg
            # over the (persisted) block table, no postings scan
            wand = self.blocks.groupBy("term_id").agg(
                F.max("block_max_score").alias("max_score")
            )
        self.wand = wand.persist()
        if superblocks is None:
            # Variable-BMW upper tier (shared definition, blocks.py).
            # Lazy: only materialized when a query's block volume needs it.
            superblocks = superblock_agg(self.blocks, self.sb_size)
        self.superblocks = superblocks.persist()

    def unpersist(self) -> None:
        """Release the three cached serving tables (blocks, wand,
        superblocks).  Without this, every ServingIndex constructed on a
        session — rebuilds with other codecs, from_store twins, per-sf
        instances — pins its block cache (the largest table in the
        system) in executor storage for the session lifetime (round-5
        review finding).  Idempotent; the index is unusable afterwards."""
        for df in (self.blocks, self.wand, self.superblocks):
            try:
                df.unpersist()
            except Exception:
                pass  # already released / session gone

    @classmethod
    def from_store(cls, spark, store, cfg: IndexConfig | None = None,
                   seed_max_blocks: int = 64, sb_size: int = 128,
                   plan_collect_cap: int = 131072,
                   cache_blocks: bool = True) -> "ServingIndex":
        """Serve from a persisted IndexStore (ds2s.manifest) — the
        ``succinct::mapper::map`` analogue ([U] succinct/mapper.hpp): the
        index IS the tables; no source corpus needed.  The scorer comes
        from the config frozen in _index.json (block_max_score is baked
        with the build-time scorer — serving with another would desync
        pruning bounds from kernel scores)."""
        self = cls.__new__(cls)
        meta = store.load_meta()
        self.cfg = cfg or (
            IndexConfig.from_dict(meta["config"])
            if "config" in meta else DEFAULT_CONFIG
        )
        # Completeness is the MANIFEST's verdict, not the directory's
        # (round-5 review): a writer that crashed mid-write can leave a
        # partially-committed parquet dir visible (task-commit committers)
        # with no manifest line — loading it would silently drop terms
        # from pruning metadata and corrupt top-k.  Derivable tiers
        # (superblocks, wand_max) fall back to recomputation from blocks,
        # exactly the resume protocol's reading; REQUIRED tables (lexicon,
        # every blocks bucket) have no fallback, so an incomplete one is a
        # loud error, never a silent partial index.  A table that IS
        # manifest-complete but unreadable (I/O error, schema drift) still
        # propagates, not silently rebuilt.
        units = store.completed_units()
        want_fp = meta.get("config_fingerprint")

        def complete(name: str) -> bool:
            row = units.get(name)
            if row is None:
                return False
            # an empty bucket (0 rows recorded) legitimately has no dir
            if int(row.get("n_rows", 0)) > 0 and not (
                store.root
                / name.replace("blocks_bucket_", "blocks/bucket=")
            ).exists():
                return False
            # _index records the fingerprint its run wrote under; a unit
            # line from another config vouches for data this meta does
            # not describe
            return want_fp is None or row.get("config") == want_fp

        required = ["lexicon"] + [
            f"blocks_bucket_{k}" for k in range(int(meta.get("n_buckets", 0)))
        ]
        missing = [u for u in required if not complete(u)]
        if missing:
            raise RuntimeError(
                f"store at {store.root} is incomplete (missing/stale "
                f"units: {missing}) — rerun write_checkpointed before "
                "serving"
            )
        superblocks = (
            store.load_table(spark, "superblocks")
            if complete("superblocks") else None
        )
        wand = (
            store.load_table(spark, "wand_max")
            if complete("wand_max") else None
        )
        self._init_tables(
            lexicon=store.load_table(spark, "lexicon"),
            n_docs=meta["n_docs"],
            avg_len=meta["avg_len"],
            blocks=store.load_blocks(spark),
            wand=wand,
            superblocks=superblocks,
            seed_max_blocks=seed_max_blocks,
            sb_size=int(meta.get("sb_size", sb_size)),
            plan_collect_cap=plan_collect_cap,
            cache_blocks=cache_blocks,
        )
        self._n_buckets = int(meta.get("n_buckets", 0))
        return self

    # -- query-time plan ----------------------------------------------------
    def _resolve_cursors(self, qdf: DataFrame) -> list[tuple]:
        """Query terms → (qid, term_id, w, df, idf) — the dictionary
        lookup every ds2i query starts with.

        ONE predicate-pushed scan of the lexicon (``term IN (...)``, a
        bounded literal list — at scale this prunes to the dictionary
        partitions holding the query terms); everything else is driver
        arithmetic over ≤ batch-size rows.  idf comes from cfg.scorer.idf
        (np.log — the same libm the block-max encode kernels and the
        scoring kernels use), so every pruning comparison is
        float-consistent."""
        from collections import Counter

        scorer = self.cfg.scorer
        n = float(self.n_docs)
        with _no_aqe(qdf.sparkSession):
            wcount = Counter(
                (int(r["qid"]), r["term"])
                for r in qdf.select("qid", "term").collect()
            )
            if self.cfg.dedupe_query_terms:
                # collapse duplicate cursors: each (qid, term) scores once
                # (the exact path mirrors this in query._with_ids)
                wcount = {key: 1 for key in wcount}
            terms = sorted({t for _, t in wcount})
            if not terms:
                return []
            lex = (
                self.lexicon.filter(F.col("term").isin(terms))
                .select("term", "term_id", "df")
                .collect()
            )
        tmap = {r["term"]: (int(r["term_id"]), int(r["df"])) for r in lex}
        cur = []
        for (qid, term), w in sorted(wcount.items()):
            if term not in tmap:
                continue  # OR semantics: unknown terms are ignored
            tid, df = tmap[term]
            idf = scorer.idf(float(df), n)
            cur.append((qid, tid, float(w), df, idf))
        return cur

    @staticmethod
    def _rarest_by_qid(cur: list[tuple]) -> dict[int, tuple]:
        """qid → (tid, df) of the qid's rarest term, tie-break (df, tid)
        ASC.  The ONE source of truth for both the seed fetch and the θ₀
        computation: if the two ever disagreed on which term is rarest,
        ``raw_by_tid.get(tid)`` would miss and θ₀ would silently fall back
        to 0.0 — pruning off, near-exhaustive serving, no error (round-5
        review finding)."""
        rarest: dict[int, tuple] = {}
        for qid, tid, w, df, idf in cur:
            best = rarest.get(qid)
            if best is None or (df, tid) < (best[1], best[0]):
                rarest[qid] = (tid, df)
        return rarest

    def _seed_df(self, cur: list[tuple]) -> DataFrame:
        """The θ₀ seed rows: each qid's rarest term's top-
        ``seed_max_blocks`` blocks, selected RELATIONALLY (window over
        block metadata, block_max DESC) so only those rows' tf/len
        payloads ever leave the block scan — no hot term ships its full
        payloads (judge-advice fix).  Carries ``is_seed = true`` so it can
        union with a metadata fetch into ONE driver job."""
        from pyspark.sql import Window

        rarest = self._rarest_by_qid(cur)
        seed_tids = sorted({tid for tid, _ in rarest.values()})
        wr = Window.partitionBy("term_id").orderBy(
            F.desc("block_max_score"), F.asc("block_id")
        )
        src = self.blocks
        if self._n_buckets > 0 and "bucket" in src.columns:
            # partition-directory pruning hint; the isin below is the
            # SEMANTIC filter (must apply even for empty/huge term sets,
            # so _term_prefilter's skip-above-cap contract doesn't fit)
            src = src.filter(F.col("bucket").isin(
                sorted({int(t) % self._n_buckets for t in seed_tids})
            ))
        seeds = (
            src.filter(F.col("term_id").isin(seed_tids))
            .select("term_id", "block_id", "block_max_score",
                    "tf_bytes", "len_bytes")
        )
        if self.seed_max_blocks > 0:
            seeds = seeds.withColumn("rn", F.row_number().over(wr)).filter(
                F.col("rn") <= self.seed_max_blocks
            ).drop("rn")
        return seeds.withColumn("is_seed", F.lit(True))

    def _theta0_from_rows(self, cur: list[tuple], seed_pdf: pd.DataFrame,
                          k: int, quantum: float) -> dict[int, float]:
        """θ₀ per qid from already-collected seed rows (driver numpy over
        ≤ seed-terms × cap blocks)."""
        rarest = self._rarest_by_qid(cur)
        k1, b = self.cfg.scorer.k1, self.cfg.scorer.b
        raw_by_tid: dict[int, list] = {}
        for tid_v, tb, lb in zip(
            seed_pdf["term_id"], seed_pdf["tf_bytes"], seed_pdf["len_bytes"]
        ):
            tf, _ = decode_tfs(bytes(tb))
            ln, _ = decode_tfs(bytes(lb))
            tf = tf.astype(np.float64)
            ln = ln.astype(np.float64)
            raw = tf / (tf + k1 * (1.0 - b + b * ln / self.avg_len))
            raw_by_tid.setdefault(int(tid_v), []).append(raw)
        raw_by_tid = {
            t: np.concatenate(v) for t, v in raw_by_tid.items()
        }
        widf = {(qid, tid): (w, idf) for qid, tid, w, df, idf in cur}
        theta0: dict[int, float] = {}
        for qid, (tid, _) in rarest.items():
            raw = raw_by_tid.get(tid)
            if raw is None or len(raw) < k:
                theta0[qid] = 0.0
                continue
            w, idf = widf[(qid, tid)]
            scores = w * idf * raw
            th = float(np.partition(scores, -k)[-k])
            # ranking compares scores ROUNDED to rank_round decimals, so a
            # doc with raw score up to one quantum below θ₀ can still tie
            # and win on (doc ASC) — loosen the threshold accordingly
            theta0[qid] = max(0.0, th - quantum)
        return theta0

    @staticmethod
    def _driver_block_grid(qterms, meta_by_tid, theta0, sb_sets=None):
        """Exact block-level grid for one qid in the driver.  Returns
        survivor row tuples (term_id, block_id, w, idf, max_score)."""
        per_term, infos = [], []
        for tid, w, idf in qterms:
            m = meta_by_tid.get(tid)
            if m is None:
                continue
            bid, bf, bl, bmax = m["bid"], m["bf"], m["bl"], m["bmax"]
            if sb_sets is not None:
                allowed = sb_sets.get(tid)
                if allowed is None:
                    continue
                sel = np.isin(m["sb"], np.fromiter(allowed, dtype=np.int64))
                if not sel.any():
                    continue
                bid, bf, bl, bmax = bid[sel], bf[sel], bl[sel], bmax[sel]
            per_term.append(dict(firsts=bf, lasts=bl, ubs=bmax * w))
            infos.append((tid, w, idf, bid, bmax))
        if not per_term:
            return []
        _, _, takes = _grid_survivors(per_term, theta0)
        out = []
        for (tid, w, idf, bid, bmax), take in zip(infos, takes):
            if not take.any():
                continue
            tmax = float(bmax.max())
            for bi in bid[np.flatnonzero(take)]:
                out.append((tid, int(bi), w, idf, tmax))
        return out

    def survivor_blocks(self, qdf: DataFrame, k: int = 10,
                        rank_round: int | None = 6) -> DataFrame:
        """The pre-pruned (qid × block) rows — metadata + payloads — that
        the scoring kernel will actually receive.  Exposed for the
        decode-pruning metric: ``survivor_blocks(...).count()`` vs the
        unpruned qid × term-blocks join.

        Tiered planning (module docstring): driver grid under
        ``plan_collect_cap`` metadata rows, superblock pre-prune above it,
        per-qid plan kernel only when even superblock survivors exceed the
        cap.  In every tier, payloads of pruned blocks never shuffle."""
        spark = qdf.sparkSession
        cur = self._resolve_cursors(qdf)
        if not cur:
            self.last_plan = {"est_blocks": 0, "n_qids": 0}
            # Mirror the populated path's exact projection + join so the
            # all-out-of-vocabulary edge case has the SAME schema (column
            # set, order, types) as every other batch — a store-loaded
            # blocks table carries extra partition columns (e.g. bucket)
            # that must not leak out only on the empty branch.
            empty_keys = spark.createDataFrame([], schema=_SURV_SCHEMA)
            return self.blocks.limit(0).select(
                "term_id", "block_id", "n", "first_doc", "last_doc",
                "doc_bytes", "tf_bytes", "len_bytes", "block_max_score",
            ).join(empty_keys.hint("shuffle_hash"), ["term_id", "block_id"])
        bs = int(self.cfg.block_size)
        quantum = 10.0 ** (-rank_round) if rank_round is not None else 0.0
        seed_df = self._seed_df(cur)

        qid_terms: dict[int, list] = {}
        for qid, tid, w, df, idf in cur:
            qid_terms.setdefault(qid, []).append((tid, w, idf))
        tids = sorted({tid for _, tid, *_ in cur})
        est_blocks = sum(
            -(-df // bs) for _, tid, w, df, idf in
            {(c[1]): c for c in cur}.values()  # distinct tids
        )

        surv_rows: list[tuple] | None = None
        fallback_sbk: pd.DataFrame | None = None
        self.last_plan: dict = {
            "est_blocks": est_blocks, "n_qids": len(qid_terms)
        }

        if est_blocks <= self.plan_collect_cap:
            # small tier: exact block grid entirely in the driver.  The
            # metadata fetch and the θ₀ seed payload fetch travel in ONE
            # union → ONE driver job (fixed job latency dominates small
            # batches; at sf0.1 each saved job is ~0.5-1 s of serve time)
            with _no_aqe(spark):
                fused = (
                    self.blocks.filter(F.col("term_id").isin(tids))
                    .select("term_id", "block_id", "first_doc", "last_doc",
                            "block_max_score")
                    .withColumn("is_seed", F.lit(False))
                    .unionByName(seed_df, allowMissingColumns=True)
                    .toPandas()
                )
            seed_pdf = fused[fused["is_seed"]]
            meta = fused[~fused["is_seed"]]
            theta0 = self._theta0_from_rows(cur, seed_pdf, k, quantum)
            meta_by_tid = self._meta_arrays(meta)
            surv_rows = []
            for qid, qterms in sorted(qid_terms.items()):
                for tid, bi, w, idf, tmax in self._driver_block_grid(
                    qterms, meta_by_tid, theta0[qid]
                ):
                    surv_rows.append((qid, tid, bi, w, idf, tmax, theta0[qid]))
            self.last_plan.update(
                tier="driver", collected_rows=len(meta), survivors=len(surv_rows)
            )
        else:
            # superblock tier: grid-prune 1/sb_size metadata first (the
            # superblock fetch and the θ₀ seed fetch share one job)
            with _no_aqe(spark):
                fused = (
                    self.superblocks.filter(F.col("term_id").isin(tids))
                    .withColumn("is_seed", F.lit(False))
                    .unionByName(seed_df, allowMissingColumns=True)
                    .toPandas()
                )
            seed_pdf = fused[fused["is_seed"]]
            sbm = fused[~fused["is_seed"]]
            theta0 = self._theta0_from_rows(cur, seed_pdf, k, quantum)
            sb_by_tid: dict[int, dict] = {}
            for tid, g in sbm.groupby("term_id"):
                g = g.sort_values("sb_id")
                sb_by_tid[int(tid)] = dict(
                    sb=g["sb_id"].to_numpy(np.int64),
                    bf=g["first_doc"].to_numpy(np.int64),
                    bl=g["last_doc"].to_numpy(np.int64),
                    bmax=g["sb_max_score"].to_numpy(np.float64),
                    nb=g["n_blocks"].to_numpy(np.int64),
                )
            qid_sb_sets: dict[int, dict[int, set]] = {}
            # union_nb keys the DISTINCT surviving (term, superblock)s with
            # their block counts: the driver tier collects exactly that
            # UNION, so the cap gate must measure it deduplicated — the
            # per-(qid, term) sum (est_kernel) over-counted shared terms
            # ~n_qids× and pushed batches into the slow kernel tier whose
            # union fetch was in-cap (round-5 review finding).  est_kernel
            # stays recorded: it IS the per-qid kernel-input bound.
            union_nb: dict[tuple[int, int], int] = {}
            est_kernel = 0
            for qid, qterms in sorted(qid_terms.items()):
                per_term, infos = [], []
                for tid, w, idf in qterms:
                    m = sb_by_tid.get(tid)
                    if m is None:
                        continue
                    per_term.append(
                        dict(firsts=m["bf"], lasts=m["bl"], ubs=m["bmax"] * w)
                    )
                    infos.append((tid, m))
                _, _, takes = _grid_survivors(per_term, theta0[qid])
                sets: dict[int, set] = {}
                for (tid, m), take in zip(infos, takes):
                    idxs = np.flatnonzero(take)
                    sets[tid] = set(m["sb"][idxs].tolist())
                    est_kernel += int(m["nb"][idxs].sum())
                    for pos in idxs:
                        union_nb[(tid, int(m["sb"][pos]))] = int(m["nb"][pos])
                qid_sb_sets[qid] = sets
            est2 = sum(union_nb.values())

            sbk = pd.DataFrame(
                sorted(union_nb), columns=["term_id", "sb_id"]
            ).astype({"term_id": "int32", "sb_id": "int32"})
            self.last_plan.update(
                sb_rows=len(sbm), kernel_input_bound=est_kernel,
                driver_fetch_bound=est2,
            )
            if est2 <= self.plan_collect_cap:
                # exact block grid in the driver over SURVIVING superblocks
                sbk_df = spark.createDataFrame(sbk) if len(sbk) else None
                if sbk_df is None:
                    surv_rows = []
                else:
                    with _no_aqe(spark):
                        meta = (
                            _term_prefilter(
                                self.blocks,
                                sorted({t for t, _ in union_nb}),
                                self._n_buckets,
                            )
                            .withColumn(
                                "sb_id",
                                (F.col("block_id") / self.sb_size).cast("int"),
                            )
                            .join(sbk_df.hint("shuffle_hash"),
                                  ["term_id", "sb_id"])
                            .select("term_id", "sb_id", "block_id",
                                    "first_doc", "last_doc",
                                    "block_max_score")
                            .toPandas()
                        )
                    meta_by_tid = self._meta_arrays(meta, with_sb=True)
                    surv_rows = []
                    for qid, qterms in sorted(qid_terms.items()):
                        for tid, bi, w, idf, tmax in self._driver_block_grid(
                            qterms, meta_by_tid, theta0[qid],
                            sb_sets=qid_sb_sets[qid],
                        ):
                            surv_rows.append(
                                (qid, tid, bi, w, idf, tmax, theta0[qid])
                            )
                self.last_plan.update(
                    tier="superblock",
                    collected_rows=0 if sbk_df is None else len(meta),
                    survivors=len(surv_rows),
                )
            else:
                # huge tier: per-qid plan kernel over surviving superblocks
                rows = []
                for qid, qterms in sorted(qid_terms.items()):
                    for tid, w, idf in qterms:
                        for s in sorted(qid_sb_sets[qid].get(tid, ())):
                            rows.append((qid, tid, s, w, idf, theta0[qid]))
                fallback_sbk = pd.DataFrame(
                    rows,
                    columns=["qid", "term_id", "sb_id", "w", "idf", "theta0"],
                ).astype({"qid": "int32", "term_id": "int32", "sb_id": "int32"})
                self.last_plan.update(tier="kernel")

        if surv_rows is not None:
            spdf = pd.DataFrame(
                surv_rows,
                columns=["qid", "term_id", "block_id", "w", "idf",
                         "max_score", "theta0"],
            ).astype({"qid": "int32", "term_id": "int32", "block_id": "int32"})
            # driver/superblock tiers: surv_keys is a LOCAL relation
            # bounded by plan_collect_cap.  A shuffle-hash join (keys as
            # the build side) runs inside the kernel's own job; a
            # broadcast would spend a separate job shipping the keys.
            surv_keys = spark.createDataFrame(
                spdf, schema=_SURV_SCHEMA
            ).hint("shuffle_hash")
            payload_tids = sorted(set(spdf["term_id"].tolist()))
        else:
            sbk_df = spark.createDataFrame(
                fallback_sbk,
                schema="qid int, term_id int, sb_id int, w double, "
                       "idf double, theta0 double",
            )
            ftids = sorted(set(fallback_sbk["term_id"].tolist()))
            bmeta = (
                _term_prefilter(self.blocks, ftids, self._n_buckets)
                .withColumn(
                    "sb_id", (F.col("block_id") / self.sb_size).cast("int")
                )
                .select("term_id", "sb_id", "block_id", "first_doc",
                        "last_doc", "block_max_score")
                .join(F.broadcast(sbk_df), ["term_id", "sb_id"])
            )
            # huge tier: the plan kernel's survivor-key set is UNBOUNDED
            # by design (est2 > plan_collect_cap) — broadcasting it would
            # collect it through the driver, the exact state this tier
            # exists to avoid (round-5 review).  Leave the join strategy
            # to Catalyst/AQE: a shuffle join keys both sides on
            # (term_id, block_id) and the driver never sees the keys.
            surv_keys = bmeta.groupBy("qid").applyInPandas(
                _make_plan_kernel(), schema=_SURV_SCHEMA
            )
            payload_tids = ftids
        # The survivor keys' term set is driver-known and ⊆ the batch
        # vocabulary in every tier, so pre-filtering the PAYLOAD side on
        # it is semantics-preserving (the join can only keep those terms)
        # — without it every batch's payload fetch is a full scan of the
        # block table's binary columns through the join probe; the IN
        # predicate instead prunes cached batches (in-memory stats) or
        # parquet row groups (store-backed serving) before any payload
        # byte is materialized.
        return _term_prefilter(
            self.blocks, payload_tids, self._n_buckets
        ).select(
            "term_id", "block_id", "n", "first_doc", "last_doc",
            "doc_bytes", "tf_bytes", "len_bytes", "block_max_score",
        ).join(surv_keys, ["term_id", "block_id"])

    @staticmethod
    def _meta_arrays(meta: pd.DataFrame, with_sb: bool = False) -> dict:
        out: dict[int, dict] = {}
        for tid, g in meta.groupby("term_id"):
            g = g.sort_values("block_id")
            m = dict(
                bid=g["block_id"].to_numpy(np.int64),
                bf=g["first_doc"].to_numpy(np.int64),
                bl=g["last_doc"].to_numpy(np.int64),
                bmax=g["block_max_score"].to_numpy(np.float64),
            )
            if with_sb:
                m["sb"] = g["sb_id"].to_numpy(np.int64)
            out[int(tid)] = m
        return out

    def topk(self, qdf: DataFrame, k: int = 10, algo: str = "bmw",
             rank_round: int | None = 6) -> DataFrame:
        """(qid, rank, doc_id, score) — rank-identical to ranked_or_topk.

        ``algo``: "bmw" (block-max intervals, [U] ds2i
        block_max_wand_query), "maxscore" (term-bound intervals, [U] ds2i
        maxscore_query), or "wand" (adaptive-θ docID-ordered pivoting,
        [U] ds2i wand_query).

        The result is BOUNDED (≤ batch qids × k rows), so when it fits
        the plan_collect_cap driver-state contract the kernel runs
        eagerly under the serving no-AQE guard and a local-relation
        DataFrame is returned: the caller's later action then costs zero
        extra jobs, and the kernel's exchange isn't split into
        per-stage AQE jobs (the queries-tool shape — ds2i's queries.cpp
        also materializes each batch's results)."""
        surv = self.survivor_blocks(qdf, k=k, rank_round=rank_round)
        kernel = _make_kernel(k, algo, self.cfg.scorer, self.avg_len, rank_round)
        out = surv.groupBy("qid").applyInPandas(kernel, schema=_OUT_SCHEMA)
        n_qids = int(self.last_plan.get("n_qids", 0))
        # eager-collect only when the PLAN was driver-bounded too: in the
        # kernel tier the pipeline upstream of the ≤ n_qids×k result is a
        # large shuffling job — running it under the no-AQE guard would
        # drop AQE's skew mitigation on exactly the hot-term batches the
        # tier exists for, and hold _AQE_LOCK for the job's full duration
        # (round-5 review).  Those batches return the lazy plan instead.
        if (
            n_qids * k <= self.plan_collect_cap
            and self.last_plan.get("tier") != "kernel"
        ):
            spark = qdf.sparkSession
            with _no_aqe(spark):
                pdf = out.toPandas()
            return spark.createDataFrame(pdf, schema=_OUT_SCHEMA)
        return out


def bmw_topk(sidx: ServingIndex, qdf: DataFrame, k: int = 10) -> DataFrame:
    """Block-Max WAND ([U] ds2i block_max_wand_query; Ding & Suel 2011)."""
    return sidx.topk(qdf, k=k, algo="bmw")


def maxscore_topk(sidx: ServingIndex, qdf: DataFrame, k: int = 10) -> DataFrame:
    """MaxScore term-bound pruning ([U] ds2i maxscore_query)."""
    return sidx.topk(qdf, k=k, algo="maxscore")


def wand_topk(sidx: ServingIndex, qdf: DataFrame, k: int = 10) -> DataFrame:
    """Classic WAND cursor-pivot pruning ([U] ds2i wand_query)."""
    return sidx.topk(qdf, k=k, algo="wand")
