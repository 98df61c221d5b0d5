"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Training-data pipeline operators over the ``documents`` corpus (not part of
ds2i — see ds2s.textops module docstring).  Determinism contract: every
hash is an ``md5`` hex string (identical builtin in Spark and DuckDB) and
MinHash minima are lexicographic string minima, so each operator has an
exact DuckDB oracle.

Scale shapes (the part that matters at 100 TB):
- ``exact_dup_groups``: one hash-shuffle on a 32-byte key — the canonical
  first dedup pass; skew-free (hash keys are uniform).
- ``jaccard_pairs``: shingle explode + self-join.  The join key is the
  shingle hash; frequent shingles (boilerplate) explode quadratically, so
  the operator drops shingles with document-frequency > ``max_shingle_df``
  — the standard suffix-filtering guard.  Exact w.r.t. its declared
  semantics (Jaccard over the *filtered* shingle sets).
- ``minhash_lsh_pairs``: signatures are a groupBy over (doc, perm) —
  linear; candidate generation joins on band keys only.  This is the
  sub-quadratic scale path; ``jaccard_pairs`` on candidates verifies.
- ``simhash64``: per-bit majority over token md5 bits — a join against a
  64-row bit-position table, linear in corpus size.
- ``embedding_near_dup``: brute-force pair cosine (quadratic — sandbox
  oracle baseline); the LSH-bucketed scale path lives in ds2s.ann.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ann import _as_double
from .textops import SHINGLE_K, shingles_col, _toks

N_PERM = 16  # minhash permutations
N_BANDS = 4  # LSH bands (rows per band = N_PERM / N_BANDS)
# Skew cap on LSH bucket cardinality (minhash band buckets and embedding
# hash buckets): buckets holding more docs/vectors than the cap are dropped
# from candidate generation — declared semantics, the band-join twin of
# jaccard_pairs' max_shingle_df suffix filter.  A degenerate key (templated
# corpora: thousands of near-identical docs share every band) is otherwise
# a quadratic bucket and a straggler task.  Chosen two orders of magnitude
# above the fixture maxima (measured: max band bucket 3 at sf0.01, 4 at
# sf0.1) so small-scale outputs are unchanged while any bucket's pair
# volume is bounded at cap² rows.
MAX_BAND_DF = 256
MAX_VEC_BUCKET_DF = 1024


def _cap_buckets(df: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """Drop every bucket (distinct ``keys`` value) holding more than
    ``cap`` rows before a bucket self-join — the shared skew guard behind
    ``max_band_df`` / ``max_bucket_df`` (declared semantics: over-cap
    buckets leave candidate generation entirely, bounding any bucket's
    pair volume at cap²).  The cardinality count is a partial-agg over the
    (typically persisted) input — map-side combine, cheap — so no single
    reducer ever sees a quadratic bucket."""
    keep = (
        df.groupBy(*keys)
        .agg(F.count("*").alias("bdf"))
        .filter(F.col("bdf") <= cap)
        .select(*keys)
    )
    return df.join(keep, keys)


def exact_dup_groups(documents: DataFrame) -> DataFrame:
    """(content_md5, n_dups, first_doc) for every group of ≥2 identical
    documents; ``first_doc`` is the canonical keeper (min doc_id)."""
    return (
        documents.groupBy(F.md5("text").alias("content_md5"))
        .agg(
            F.count("*").cast("long").alias("n_dups"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_dups") >= 2)
    )


def _doc_shingles(documents: DataFrame, k: int = SHINGLE_K) -> DataFrame:
    """(doc_id, shingle) DISTINCT shingles per doc (set semantics).

    Tokens materialize as a column first — shingling over the inline
    regexp expression re-runs the regexp per shingle (see
    textops.fingerprint)."""
    toks = documents.select("doc_id", _toks().alias("toks"))
    return toks.select(
        "doc_id",
        F.explode(F.array_distinct(shingles_col(F.col("toks"), k))).alias("shingle"),
    )


def jaccard_pairs(
    documents: DataFrame,
    threshold: float = 0.7,
    k: int = SHINGLE_K,
    max_shingle_df: int = 100,
    eager: bool = True,
) -> DataFrame:
    """(doc_a, doc_b, jaccard) for pairs with n-gram Jaccard ≥ threshold.

    Exact set Jaccard over distinct k-shingles, computed relationally:
    |A∩B| via a self-join on shingle, |A| and |B| via per-doc counts.
    Shingles appearing in more than ``max_shingle_df`` docs are dropped
    from BOTH the intersection and the set sizes (declared semantics —
    keeps the self-join sub-quadratic on boilerplate).

    ``eager`` (default): the shared shingle table persists + materializes
    at CALL time — it is consumed three times below (set sizes + both
    self-join sides; measured 4.5 s → 2.6 s at sf0.1) and racing consumers
    would each fill the cache.  The cache lives until
    ``spark.catalog.clearCache()`` (the bench does this per rep) or an
    explicit unpersist by the caller — the returned plan keeps referencing
    it, so this function cannot unpersist for you.  Pass ``eager=False``
    to only COMPOSE the plan (no jobs at call time, nothing persisted; the
    shingle chain then re-executes per consumer)."""
    sh = _doc_shingles(documents, k)
    df_f = sh.groupBy("shingle").agg(F.count("*").alias("sdf"))
    sh = sh.join(df_f.filter(F.col("sdf") <= max_shingle_df), "shingle").select(
        "doc_id", "shingle"
    )
    if eager:
        sh = sh.persist()
        sh.count()  # the three consumers otherwise race the cache fill
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return out


def _minhash_wide(documents: DataFrame, n_perm: int, k: int) -> DataFrame:
    """(doc_id, m0..m{n_perm-1}) — the signature as ONE wide aggregation.

    Permutation j's hash of shingle s is ``md5(j || ':' || s)``; the
    signature entry is the lexicographic min.  Computing all n_perm
    minima as columns of a single groupBy(doc_id) avoids the naive
    perms-crossJoin formulation, whose (doc, perm)-keyed min(string)
    compiles to a SortAggregate over an n_perm×-exploded row stream
    (measured at sf0.1: two sorts of 4.2M rows vs one shuffle of 260k
    shingle rows here — the explode was the whole cost of the operator)."""
    sh = _doc_shingles(documents, k)
    return sh.groupBy("doc_id").agg(
        *[
            F.min(
                F.md5(F.concat_ws(":", F.lit(str(j)), F.col("shingle")))
            ).alias(f"m{j}")
            for j in range(n_perm)
        ]
    )


def minhash_signatures(documents: DataFrame, n_perm: int = N_PERM,
                       k: int = SHINGLE_K) -> DataFrame:
    """(doc_id, perm, minhash) — permutation j's hash of shingle s is
    ``md5(j || ':' || s)``; the signature entry is the lexicographic min."""
    stack = "stack({}, {}) as (perm, minhash)".format(
        n_perm, ", ".join(f"{j}, m{j}" for j in range(n_perm))
    )
    return _minhash_wide(documents, n_perm, k).select(
        "doc_id", F.expr(stack)
    ).select("doc_id", F.col("perm").cast("int"), "minhash")


def _check_bands(n_perm: int, n_bands: int) -> None:
    """n_bands must divide n_perm exactly: a remainder silently DROPS the
    trailing permutations from every band key (and n_bands > n_perm makes
    rows_per_band 0 — every key the empty string, one quadratic bucket).
    The two band formulations and the DuckDB oracle only agree under exact
    division (round-5 review finding; simhash has the same guard)."""
    if n_bands < 1 or n_bands > n_perm or n_perm % n_bands:
        raise ValueError(
            f"n_bands={n_bands} must divide n_perm={n_perm} exactly "
            f"(1 ≤ n_bands ≤ n_perm)"
        )


def minhash_band_keys(signatures: DataFrame, n_perm: int = N_PERM,
                      n_bands: int = N_BANDS) -> DataFrame:
    """(doc_id, band, band_key) — band_key concatenates the band's minima
    in perm order; equal keys ⇒ LSH candidate pair."""
    _check_bands(n_perm, n_bands)
    rows_per_band = n_perm // n_bands
    return (
        signatures.withColumn("band", (F.col("perm") / rows_per_band).cast("int"))
        .groupBy("doc_id", "band")
        .agg(
            F.concat_ws(
                "|",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("perm", "minhash"))
                    ),
                    lambda s: s["minhash"],
                ),
            ).alias("band_key")
        )
    )


def _band_table(documents: DataFrame, n_perm: int, n_bands: int,
                k: int) -> DataFrame:
    """(doc_id, band, band_key) — band keys projected straight off the
    wide signature row: band b concatenates perms [b·rpb, (b+1)·rpb) in
    perm order.  Claimed (and property-tested, tests/test_dedup_groups.py)
    identical to the ``minhash_band_keys``-over-``minhash_signatures``
    formulation — the sort_array path and this projection must never
    drift, since the oracle SQL's string_agg(ORDER BY perm) matches both."""
    _check_bands(n_perm, n_bands)
    rpb = n_perm // n_bands
    wide = _minhash_wide(documents, n_perm, k)
    return wide.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "|", *[F.col(f"m{b * rpb + r}") for r in range(rpb)]
                        ).alias("band_key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.band_key")


def minhash_lsh_pairs(documents: DataFrame, n_perm: int = N_PERM,
                      n_bands: int = N_BANDS, k: int = SHINGLE_K,
                      max_band_df: int = MAX_BAND_DF,
                      eager: bool = True) -> DataFrame:
    """(doc_a, doc_b) DISTINCT candidate pairs sharing ≥1 LSH band.

    Band keys project straight off the wide signature row (band b =
    perms [b·rpb, (b+1)·rpb) concatenated in perm order — identical to
    minhash_band_keys' sort-by-perm string_agg), so the whole candidate
    pipeline is: shingle explode → one groupBy(doc_id) shuffle → band
    projection → bucket self-join.

    Skew guard (declared semantics, the twin of jaccard_pairs'
    ``max_shingle_df``): a (band, band_key) bucket holding more than
    ``max_band_df`` docs is DROPPED from candidate generation before the
    self-join.  On boilerplate-heavy corpora thousands of near-identical
    docs share every band — one degenerate key is a quadratic bucket and
    a straggler task at 100× scale.  Docs in an over-cap bucket are in
    practice exact/near-exact duplicate floods that the exact-dup pass
    (md5 star edges in ``dup_edges``) already links; the cap bounds each
    bucket's pair volume at max_band_df² regardless of corpus shape.
    Pass ``max_band_df=0`` to disable.

    ``eager`` (default): the band table persists + materializes at call
    time — both the bucket-df count and the two self-join sides consume
    it, and racing consumers would run the signature pass per side.  Same
    cache-lifetime contract as ``jaccard_pairs`` (caller unpersists or
    clearCache); ``eager=False`` only composes the plan."""
    bands = _band_table(documents, n_perm, n_bands, k)
    if eager:
        bands = bands.persist()
        bands.count()
    if max_band_df:
        bands = _cap_buckets(bands, ["band", "band_key"], max_band_df)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def simhash64(documents: DataFrame) -> DataFrame:
    """(doc_id, simhash) — 64-bit SimHash over token frequencies.

    ENGINE path: tokenize + md5 + per-(doc, term) tf stay JVM-side
    (identical semantics to the DuckDB oracle), then ONE shuffle
    co-locates each doc's term rows and an Arrow-batched numpy kernel
    packs the 64 majority bits — no 64-row explode, no second shuffle
    (the relational formulation, kept below as ``simhash64_relational``
    for the plan-equality test, amplifies rows 64× through two shuffles:
    measured 8.2 s vs <2 s at sf0.1).
    """
    import numpy as np
    import pandas as pd

    spark = documents.sparkSession
    tf = (
        documents.select("doc_id", F.explode(_toks()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .select("doc_id", F.substring(F.md5("term"), 1, 16).alias("h"), "tf")
    )
    par = spark.sparkContext.defaultParallelism

    def kernel(batches):
        shifts = np.arange(63, -1, -1, dtype=np.uint64)
        acc: dict = {}
        for pdf in batches:
            hv = np.array([int(x, 16) for x in pdf["h"]], dtype=np.uint64)
            bits = ((hv[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64)
            contrib = (2 * bits - 1) * pdf["tf"].to_numpy(dtype=np.int64)[:, None]
            docs = pdf["doc_id"].to_numpy()
            # accumulate per doc (docs are co-located in this partition but
            # may span batches)
            ud, inv = np.unique(docs, return_inverse=True)
            sums = np.zeros((len(ud), 64), dtype=np.int64)
            np.add.at(sums, inv, contrib)
            for d, row in zip(ud, sums):
                prev = acc.get(int(d))
                acc[int(d)] = row if prev is None else prev + row
        if acc:
            doc_ids = np.fromiter(acc.keys(), dtype=np.int64, count=len(acc))
            mat = np.stack(list(acc.values()))
            bitsout = (mat > 0).astype(np.uint64)
            vals = bitsout @ (np.uint64(1) << shifts)
            yield pd.DataFrame(
                {"doc_id": doc_ids, "simhash": [format(int(v), "016x") for v in vals]}
            )

    return tf.repartition(par, "doc_id").mapInPandas(
        kernel, schema="doc_id long, simhash string"
    )


def simhash64_relational(documents: DataFrame) -> DataFrame:
    """The declarative formulation (explode × 64-row bit table) — kept as
    the cross-engine reference: its plan is the literal transliteration of
    the DuckDB oracle SQL, and the engine kernel above must equal it
    bit-for-bit (tested).  Not the serving path: 64× row amplification
    through two shuffles.
    """
    spark = documents.sparkSession
    bits = spark.range(64).select(F.col("id").cast("int").alias("bit"))
    tf = (
        documents.select("doc_id", F.explode(_toks()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .withColumn("h", F.substring(F.md5("term"), 1, 16))
    )
    # hex nibble of bit p = h[p div 4]; bit value = (nibble >> (3 - p mod 4)) & 1
    # (shift via exact power-of-two division: Column-valued shift amounts)
    pw = F.pow(F.lit(2.0), (F.lit(3) - F.col("bit") % 4).cast("double"))
    nib = F.conv(
        F.substr(F.col("h"), (F.col("bit") / 4).cast("int") + 1, F.lit(1)), 16, 10
    ).cast("int")
    bitval = (F.floor(nib / pw).cast("int") % 2).cast("int")
    acc = (
        tf.crossJoin(F.broadcast(bits))
        .withColumn("w", F.when(bitval == 1, F.col("tf")).otherwise(-F.col("tf")))
        .groupBy("doc_id", "bit")
        .agg(F.sum("w").alias("s"))
        .withColumn("outbit", (F.col("s") > 0).cast("int"))
    )
    # assemble 16 hex chars: nibble n = bits 4n..4n+3 MSB-first
    return (
        acc.withColumn("nibble", (F.col("bit") / 4).cast("int"))
        .withColumn(
            "weight",
            (
                F.col("outbit")
                * F.pow(F.lit(2.0), (F.lit(3) - F.col("bit") % 4).cast("double"))
            ).cast("long"),
        )
        .groupBy("doc_id", "nibble")
        .agg(F.sum("weight").alias("nibval"))
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("nibble", "nibval"))),
                    lambda s: F.lower(F.conv(s["nibval"].cast("string"), 10, 16)),
                ),
            ).alias("simhash")
        )
    )


def embedding_near_dup(embeddings: DataFrame, threshold: float = 0.95) -> DataFrame:
    """(vec_a, vec_b, cosine) pairs with cosine ≥ threshold (float64 math).

    Brute-force O(n²) — the oracle baseline; ds2s.ann.lsh_topk is the
    bucketed scale path whose candidates this verifies."""
    v = _as_double(embeddings)  # one shared float64 projection (ds2s.ann)
    a = v.alias("a")
    b = v.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .withColumn("cosine", F.round(dot / (F.col("a.norm") * F.col("b.norm")), 6))
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            "cosine",
        )
    )


def _pair_cosine(embeddings: DataFrame, cand: DataFrame) -> DataFrame:
    """Candidate (vec_a, vec_b) pairs → exact float64 cosine, the same
    JVM-side dot product + 6-decimal rounding as the quadratic oracle."""
    v = _as_double(embeddings)  # one shared float64 projection (ds2s.ann)
    a = v.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("norm").alias("na")
    )
    b = v.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("norm").alias("nb")
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .withColumn("cosine", F.round(dot / (F.col("na") * F.col("nb")), 6))
        .select("vec_a", "vec_b", "cosine")
    )


def embedding_near_dup_ann(
    embeddings: DataFrame,
    threshold: float = 0.9,
    method: str = "ivf",
    n_planes: int | None = None,
    n_tables: int | None = None,
    n_centroids: int | None = None,
    nprobe: int | None = None,
    sample_cap: int = 65536,
    max_bucket_df: int = MAX_VEC_BUCKET_DF,
    eager: bool = True,
) -> DataFrame:
    """(vec_a, vec_b, cosine) near-dup pairs via BUCKETED candidates —
    the operator a 100 TB pipeline actually calls (round-3 verdict item 2).
    The quadratic ``embedding_near_dup`` stays as the small-sf oracle.

    Every vector is a query of its own bucket — no driver collect of the
    collection, no crossJoin:

    - ``ivf`` (default): deterministic coarse quantizer (bounded-sample
      k-means); each vector emits its top-``nprobe`` cells (one narrow
      pass); a pair is a candidate when one side's PRIMARY cell is in the
      other side's probe list (bucket self-join, ≈ nprobe/n_centroids of
      the quadratic pair volume on balanced cells, independent of the
      data distribution).
    - ``lsh``: hyperplane sign buckets; candidates share a bucket in any
      table (self-join per (table, bucket)).  Buckets holding more than
      ``max_bucket_df`` vectors are DROPPED before the self-join (declared
      semantics, mirroring minhash_lsh_pairs' ``max_band_df``): a
      degenerate bucket — e.g. a large mass of near-identical embeddings
      hashing together — is otherwise a quadratic straggler; pair volume
      per bucket is bounded at cap².  ``max_bucket_df=0`` disables.

    ``max_bucket_df`` guards BOTH arms.  IVF cells are balanced only for
    balanced data — a near-duplicate flood (this operator's target
    input!) lands its whole mass in ONE k-means cell, which every member
    also probes, recreating the quadratic straggler (round-5 review
    finding).  Over-cap cells drop out of candidate generation entirely,
    same declared semantics as the LSH arm and minhash_lsh_pairs.

    Candidates then get the exact float64 cosine and the ≥ threshold
    filter — output ⊆ the quadratic oracle's pairs by construction, with
    recall < 1 by design (property-tested in tests/test_dedup_groups.py).

    ``eager`` (default) persists + materializes the bucket/probe table
    consumed by both self-join sides — same cache-lifetime contract as
    ``jaccard_pairs``; ``eager=False`` only composes the plan.
    """
    from . import ann as A

    if method == "lsh":
        if n_planes is None or n_tables is None:
            auto_p, auto_t = A.auto_lsh_params(embeddings.count())
            n_planes = n_planes or auto_p
            n_tables = n_tables or auto_t
        bk = A.lsh_buckets(embeddings, n_planes, n_tables)
        if eager:
            bk = bk.persist()
            bk.count()  # both self-join sides otherwise recompute it
        if max_bucket_df:
            bk = _cap_buckets(bk, ["table", "bucket"], max_bucket_df)
        a = bk.alias("a")
        b = bk.alias("b")
        cand = (
            a.join(b, ["table", "bucket"])
            .filter(F.col("a.vec_id") < F.col("b.vec_id"))
            .select(
                F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
            )
            .distinct()
        )
    elif method == "ivf":
        n = None
        if n_centroids is None or nprobe is None:
            n = embeddings.count()
            n_centroids = n_centroids or max(4, int(np.ceil(np.sqrt(n))))
            nprobe = nprobe or max(2, -(-n_centroids // 8))
        centroids = A.ivf_fit_centroids(
            embeddings, n_centroids, sample_cap, n_hint=n
        )
        probes = A.ivf_multi_assignments(embeddings, centroids, top=nprobe)
        if eager:
            probes = probes.persist()
            probes.count()  # consumed as BOTH sides of the cluster join
        if max_bucket_df:
            # cap counts PROBE rows per cell, so any cell's join volume
            # is bounded at cap² even when a duplicate flood collapses
            # into one cell (see docstring)
            probes = _cap_buckets(probes, ["cluster"], max_bucket_df)
        primary = probes.filter(F.col("crank") == 1).select("vec_id", "cluster")
        p = probes.select(F.col("vec_id").alias("pid"), "cluster")
        q = primary.select(F.col("vec_id").alias("qid"), "cluster")
        cand = (
            p.join(q, "cluster")
            .filter(F.col("pid") != F.col("qid"))
            .select(
                F.least("pid", "qid").alias("vec_a"),
                F.greatest("pid", "qid").alias("vec_b"),
            )
            .distinct()
        )
    else:
        raise ValueError(f"unknown method {method!r} (ivf|lsh)")
    return _pair_cosine(embeddings, cand).filter(F.col("cosine") >= threshold)


def simhash_near_dup_pairs(
    documents: DataFrame,
    max_hamming: int = 3,
    n_bands: int = 4,
    max_band_df: int = MAX_BAND_DF,
    eager: bool = True,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """(doc_a, doc_b, hamming) pairs whose 64-bit SimHash fingerprints are
    within ``max_hamming`` bits — the pair-generation stage that completes
    the SimHash pipeline (``simhash64`` emits signatures; this is the
    banded self-join + exact-verify step, SimHash's analogue of
    minhash_lsh_pairs → jaccard_pairs in one operator).

    Banding is the exact-probe scheme of Manku et al. (WWW 2007,
    "Detecting near-duplicates for web crawling"): the fingerprint splits
    into ``n_bands`` equal hex substrings; by pigeonhole, two fingerprints
    within hamming ≤ n_bands − 1 agree EXACTLY on at least one band, so
    for ``max_hamming ≤ n_bands − 1`` candidate generation has recall 1
    w.r.t. a quadratic scan (property-tested).  Candidates then get the
    exact bitwise hamming distance (band-int XOR + bit_count, JVM-side)
    and the ≤ max_hamming filter.

    Scale shape: one linear signature pass (simhash64's single shuffle) →
    band explode (n_bands rows/doc) → bucket self-join on
    (band, band_key) → hash-join verify.  Nothing quadratic; the
    ``max_band_df`` bucket cap (same declared semantics as
    minhash_lsh_pairs' — over-cap buckets are dropped, bounding any
    bucket's pair volume at cap²) guards the one skew point, since a
    boilerplate flood shares every band.  ``max_band_df=0`` disables.

    ``eager`` (default) persists + materializes the banded signature
    table — consumed by the bucket-df count, both self-join sides, and
    the verify join.  Same cache-lifetime contract as ``jaccard_pairs``;
    ``eager=False`` only composes the plan.  ``signatures`` optionally
    supplies a precomputed ``simhash64`` result (e.g. shared with the
    standalone signature query) so the corpus is tokenized once."""
    if 16 % n_bands or n_bands < 2:
        # n_bands=1 would make the band 64 bits wide: F.conv's unsigned
        # decimal string then overflows the signed-long cast (→ null
        # hamming, silently dropped rows) — and a single band is also no
        # banding at all (max_hamming ≤ n_bands−1 = 0 admits only exact
        # fingerprint equality)
        raise ValueError(
            f"n_bands={n_bands} must divide the 16 hex chars and be ≥ 2"
        )
    if max_hamming > n_bands - 1:
        # the pigeonhole recall-1 guarantee (docstring) only covers
        # hamming ≤ n_bands − 1: beyond it, pairs differing in every band
        # are silently missed — loud error, not quiet recall loss
        # (round-5 review finding)
        raise ValueError(
            f"max_hamming={max_hamming} exceeds n_bands-1={n_bands - 1}: "
            "banded candidate generation would silently miss pairs; "
            "raise n_bands or lower max_hamming"
        )
    w = 16 // n_bands  # hex chars per band (4 bits each)
    sig = signatures if signatures is not None else simhash64(documents)
    # band ints ride beside the key: the verify join then needs no second
    # parse of the hex string (hamming = Σ bit_count(band_a XOR band_b))
    wide = sig.select(
        "doc_id",
        *[
            F.substring("simhash", b * w + 1, w).alias(f"k{b}")
            for b in range(n_bands)
        ],
        *[
            F.conv(F.substring("simhash", b * w + 1, w), 16, 10)
            .cast("long")
            .alias(f"b{b}")
            for b in range(n_bands)
        ],
    )
    if eager:
        wide = wide.persist()
        wide.count()
    bands = wide.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), F.col(f"k{b}").alias("band_key")
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.band_key")
    if max_band_df:
        bands = _cap_buckets(bands, ["band", "band_key"], max_band_df)
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = wide.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"b{i}").alias(f"ba{i}") for i in range(n_bands)],
    )
    sb = wide.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"b{i}").alias(f"bb{i}") for i in range(n_bands)],
    )
    ham = sum(
        F.bit_count(F.col(f"ba{i}").bitwiseXOR(F.col(f"bb{i}")))
        for i in range(n_bands)
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Near-dup group resolution (connected components over dup edges)
# ---------------------------------------------------------------------------


def dup_edges(documents: DataFrame, n_perm: int = N_PERM,
              n_bands: int = N_BANDS, k: int = SHINGLE_K,
              pairs: DataFrame | None = None,
              simhash_pairs: DataFrame | None = None) -> DataFrame:
    """(doc_a, doc_b) undirected dup-candidate edges: MinHash-LSH pairs ∪
    exact-duplicate star edges (each exact dup linked to its group's min
    doc — covers empty/shingle-less identical docs LSH cannot see).

    ``pairs`` optionally supplies an already-computed (ideally persisted)
    minhash_lsh_pairs result so a pipeline that also consumes the pairs
    directly runs the MinHash signature pass once, not twice.

    ``simhash_pairs`` optionally unions a ``simhash_near_dup_pairs``
    result (its (doc_a, doc_b) columns) into the edge set — the
    complementary near-dup signal (small token-frequency perturbations
    that n-gram Jaccard under-scores).  Opt-in so the default edge
    semantics (and the recursive-CTE oracle) are unchanged."""
    lsh = pairs if pairs is not None else minhash_lsh_pairs(
        documents, n_perm, n_bands, k
    )
    # normalize BY NAME before any union: natural caller inputs
    # (jaccard_pairs, simhash_near_dup_pairs) carry a third score column,
    # and union is positional — without the select a 3-column pairs frame
    # throws, and a (doc_b, doc_a)-ordered one would union silently
    # mislabeled (round-5 review finding)
    lsh = lsh.select("doc_a", "doc_b")
    if simhash_pairs is not None:
        lsh = lsh.union(simhash_pairs.select("doc_a", "doc_b"))
    grp = documents.select("doc_id", F.md5("text").alias("h"))
    first = grp.groupBy("h").agg(F.min("doc_id").alias("doc_a"))
    exact = (
        grp.join(first, "h")
        .filter(F.col("doc_id") != F.col("doc_a"))
        .select("doc_a", F.col("doc_id").alias("doc_b"))
    )
    return lsh.union(exact).distinct()


def dup_groups(
    documents: DataFrame | None = None,
    edges: DataFrame | None = None,
    max_iter: int = 25,
    collect_cap: int = 2_000_000,
) -> DataFrame:
    """(doc_id, group_id, is_keeper) over the TRANSITIVE CLOSURE of the
    dup edges — the step that turns candidate pairs into actionable dedup
    groups (round-3 verdict item 3).  group_id = min doc_id of the
    connected component; is_keeper = 1 for that doc.  Docs in no edge are
    singletons and are not emitted.

    Algorithm: iterated hash-min label propagation in the hash-to-min
    style (Rastogi et al. 2013) — each round (a) lowers every node's
    label to the min over its neighbors' labels (one join + agg on the
    edge table), (b) ROOT-UPDATES: a label-node learns the min of its
    followers' new minima (one agg grouped by the old label — without
    this, a small label entering a chain whose nodes all point at the
    chain head crawls back ONE node per round, linear in diameter), then
    (c) pointer-jumps ``lbl ← lbl[lbl]`` (one self-join).  (b)+(c)
    together make convergence logarithmic in component diameter.  Each
    round materializes via localCheckpoint, so lineage stays O(1) and
    the convergence check is one count on the checkpointed frame.  Scale
    shape: every round is bounded by |E| + |V| shuffle rows — the
    standard star-contraction family, sub-quadratic at any corpus size.

    Small-graph fast path: the candidate-pair graph is orders of
    magnitude smaller than the corpus (it holds only docs with at least
    one dup candidate), and each distributed round costs ~5 shuffles of
    fixed scheduling overhead.  When |symmetric edges| ≤ ``collect_cap``
    (default 2M rows ≈ 32 MB driver transfer — same bounded-driver-state
    contract as ds2s.serve._PLAN_COLLECT_CAP) the closure is computed
    with a driver-side union-find on the collected edge list, which is
    exact and identical to the converged propagation.  Larger graphs run
    the distributed rounds unchanged; pass ``collect_cap=0`` to force
    them (the equality is pytest-covered both ways)."""
    if edges is None:
        if documents is None:
            raise ValueError("pass documents or edges")
        edges = dup_edges(documents)
    e = edges.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    e = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    e = e.distinct().persist()

    n_edges = e.count()  # also materializes the persist for either path
    if n_edges <= collect_cap:
        pairs = [(r["u"], r["v"]) for r in e.collect()]
        e.unpersist()
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for u, v in pairs:
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[ru] = rv
        comp_min: dict = {}
        roots = {x: find(x) for x in parent}
        for x, r in roots.items():
            m = comp_min.get(r)
            if m is None or x < m:
                comp_min[r] = x
        spark = edges.sparkSession
        # doc_id/group_id carry the EDGE id type (string repo paths are as
        # valid as longs) — hardcoding long would make the output type flip
        # with the collect_cap path taken (round-4 advice)
        from pyspark.sql.types import IntegerType, StructField, StructType

        id_type = e.schema["u"].dataType
        schema = StructType(
            [
                StructField("doc_id", id_type, False),
                StructField("group_id", id_type, False),
                StructField("is_keeper", IntegerType(), False),
            ]
        )
        return spark.createDataFrame(
            [(x, comp_min[r], int(x == comp_min[r]))
             for x, r in roots.items()],
            schema=schema,
        )

    lbl = (
        e.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        # (a) neighbor min over the fixed edge table
        nbr_min = (
            e.join(
                lbl.select(F.col("node").alias("v"), F.col("lbl").alias("vlbl")),
                "v",
            )
            .groupBy("u")
            .agg(F.min("vlbl").alias("nmin"))
            .select(F.col("u").alias("node"), "nmin")
        )
        prop = lbl.join(nbr_min, "node", "left").select(
            "node",
            F.col("lbl").alias("old"),
            F.least("lbl", F.coalesce("nmin", F.col("lbl"))).alias("m"),
        )
        # (b) root update: node L ← min of {m(v) : old(v) = L}
        root = prop.groupBy(F.col("old").alias("node")).agg(
            F.min("m").alias("rmin")
        )
        m2 = prop.join(root, "node", "left").select(
            "node",
            "old",
            F.least("m", F.coalesce("rmin", F.col("m"))).alias("m2"),
        )
        # (c) pointer jump: follow the new pointer one hop (labels are
        # node ids, always present; labels only ever decrease)
        jmp = m2.select(F.col("node").alias("tgt"), F.col("m2").alias("jlbl"))
        new = (
            m2.join(jmp, m2["m2"] == jmp["tgt"], "left")
            .select("node", "old", F.coalesce("jlbl", F.col("m2")).alias("lbl"))
            .localCheckpoint()
        )
        changed = new.filter(F.col("lbl") != F.col("old")).count()
        lbl = new.select("node", "lbl")
        if changed == 0:
            break
    else:
        e.unpersist()  # don't leak the cached edge table on the error path
        raise RuntimeError(
            f"dup_groups did not converge in {max_iter} rounds — "
            "pathological component diameter; raise max_iter"
        )
    e.unpersist()
    return lbl.select(
        F.col("node").alias("doc_id"),
        F.col("lbl").alias("group_id"),
        (F.col("node") == F.col("lbl")).cast("int").alias("is_keeper"),
    )


def dedup_filter(documents: DataFrame, groups: DataFrame | None = None) -> DataFrame:
    """(doc_id, content_md5) of the documents that SURVIVE dedup: every
    singleton plus each dup group's keeper (min doc_id) — the pipeline
    step that actually shrinks the training corpus.  One left-anti join
    against the non-keepers; scale shape is dup_groups' plus one
    hash-join on doc_id."""
    if groups is None:
        groups = dup_groups(documents)
    drop = groups.filter(F.col("is_keeper") == 0).select("doc_id")
    return documents.join(drop, "doc_id", "left_anti").select(
        "doc_id", F.md5("text").alias("content_md5")
    )
