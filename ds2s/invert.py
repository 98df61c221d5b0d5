"""Corpus → inverted index tables (the `create_freq_index` front half).

ds2i consumes already-inverted `.docs`/`.freqs` streams produced by an
external parser (SURVEY.md §1.1); in this engine the inversion IS the build
pipeline (SURVEY.md §3.1):

    corpus → tokenize (JVM regexp, no UDF) → posexplode
           → groupBy(term, doc).count()            # SHUFFLE: partial+final hash agg
           → [salted two-stage merge for hot terms] # north-rule skew handling
           → groupBy(term) sorted posting arrays    # docID-sorted invariant

Scale notes (100 TB / 10^12 files):
- the (term, doc) aggregation has no hot keys (doc spreads every term);
- the per-term collect is the skewed stage — hot terms are salted by
  disjoint docID ranges so stage 2 is a concatenation of pre-sorted runs,
  not a re-sort (BASELINE.json:6 "salted repartitioning of hot terms,
  two-stage merge of per-partition partial postings");
- posting arrays per row are bounded in later rounds by block
  segmentation (ds2s/blocks.py) — a 10^9-posting term never needs to fit
  one executor row on the serve path, only at encode time per block.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .config import DEFAULT_CONFIG, IndexConfig
from .corpus import with_dense_id


def tokens_col(content: Column | str, pattern: str = DEFAULT_CONFIG.token_pattern) -> Column:
    """Engine-owned tokenizer: lowercase, extract ``[a-z0-9]+`` runs.

    A pure Catalyst expression (regexp_extract_all) — JVM-side, codegen'd,
    no Python UDF; DuckDB has the identical builtin, which keeps the
    correctness oracle symmetric (SURVEY.md §2.7).
    """
    c = F.col(content) if isinstance(content, str) else content
    return F.regexp_extract_all(F.lower(c), F.lit(pattern), 0)


def build_sizes(corpus: DataFrame, cfg: IndexConfig = DEFAULT_CONFIG) -> DataFrame:
    """`.sizes` analogue: (doc_id, len) for EVERY doc, len=0 for empty docs
    ([U] ds2i/create_wand_data.cpp reads one length per docID)."""
    return corpus.select(
        "doc_id", F.size(tokens_col("content", cfg.token_pattern)).alias("len")
    )


def build_tf(corpus: DataFrame, cfg: IndexConfig = DEFAULT_CONFIG) -> DataFrame:
    """Flat postings (term, doc_id, tf, len) — the exact-path representation.

    Two-phase hash aggregation (map-side partial combine) comes free from
    Catalyst; the shuffle key (term, doc_id) is skew-free.

    ``len`` (the doc's token count, BM25 normalization) rides along from
    the start: it is computed in the same narrow projection that tokenizes
    (the token array is materialized ONCE, then size + explode), and
    extending the group key by a functionally-dependent column is free.
    This is what kills the postings ⋈ sizes join downstream — at scale
    ``sizes`` outgrows the broadcast threshold and that join sort-merge
    re-sorts the full posting table on every scan (measured ~25 s per scan
    at 50 M postings).
    """
    toks = corpus.select(
        "doc_id", tokens_col("content", cfg.token_pattern).alias("toks")
    ).select(
        "doc_id", F.size("toks").alias("len"), F.explode("toks").alias("term")
    )
    return toks.groupBy("term", "doc_id", "len").agg(
        F.count("*").cast("int").alias("tf")
    )


def build_lexicon(tf: DataFrame, aux: list | None = None) -> DataFrame:
    """(term, term_id, df): dense termIDs by ORDER BY term (SURVEY.md §7.5).

    Uses the scale-safe range-partitioned dense-id assignment; vocab is
    tiny relative to the corpus but can still be billions of rows for code,
    so no single-partition window.  Persisted intermediates are appended to
    ``aux`` so the caller can unpersist them once the result materializes
    (they otherwise accumulate dead cached partitions across repeated
    builds in one JVM — bench/scaling harnesses).

    With ``aux=None`` the vocabulary-sized persist is still taken (the
    sort below would re-run the aggregation twice without it) but its
    handle is unreachable afterwards — a long-lived session that calls
    this repeatedly without ``aux`` leaks one cached lexicon per call
    (release with spark.catalog.clearCache()).  Every in-repo caller
    passes ``aux``; do the same.
    """
    lex = tf.groupBy("term").agg(F.count("*").cast("int").alias("df"))
    # materialize before with_dense_id: its range-partition sampling and
    # sort would otherwise re-execute the aggregation chain twice
    lex = lex.persist()
    lex.count()
    if aux is not None:
        aux.append(lex)
    lex = with_dense_id(lex, ["term"], "term_id", aux=aux)
    return lex.select("term", F.col("term_id").cast("int").alias("term_id"), "df")


def build_postings(
    tf_ids: DataFrame,
    cfg: IndexConfig = DEFAULT_CONFIG,
    max_doc: int | None = None,
) -> DataFrame:
    """(term_id, df, postings: array<struct<doc,tf>>) docID-sorted per term.

    Hot-term salting: terms with df > cfg.hot_term_df are split into
    cfg.n_salt disjoint docID ranges; stage 1 builds each range's sorted
    run, stage 2 concatenates runs in range order (already globally sorted
    — no re-sort).  Cold terms take salt=0, so the same two-stage plan
    handles both without a union.
    """
    n_salt = max(1, cfg.n_salt)
    # Disjoint ranges: salt = doc_id mod-free bucketing by range keeps runs
    # concatenable.  We don't know max doc id cheaply per term, so use
    # doc_id divided by a fixed stride chosen from the global max (passed
    # in by build_index — n_docs-1 — to avoid an extra driver job).
    if max_doc is None:
        max_doc = tf_ids.agg(F.max("doc_id")).collect()[0][0] or 0
    from .blocks import range_salt_stride

    stride = range_salt_stride(int(max_doc) + 1, n_salt)
    salted = tf_ids.withColumn(
        "salt",
        F.when(F.col("df") > cfg.hot_term_df, (F.col("doc_id") / stride).cast("int")).otherwise(
            F.lit(0)
        ),
    )
    runs = salted.groupBy("term_id", "df", "salt").agg(
        F.sort_array(F.collect_list(F.struct(F.col("doc_id").alias("doc"), F.col("tf")))).alias(
            "run"
        )
    )
    merged = runs.groupBy("term_id", "df").agg(
        F.flatten(
            F.transform(
                F.sort_array(F.collect_list(F.struct("salt", "run"))), lambda s: s["run"]
            )
        ).alias("postings")
    )
    return merged


@dataclass
class InvertedIndex:
    """In-memory handles to the index tables + collection stats."""

    corpus: DataFrame
    sizes: DataFrame
    tf: DataFrame  # (term_id, doc_id, tf, len, df) — term strings live in the lexicon only
    lexicon: DataFrame  # (term, term_id, df)
    postings: DataFrame  # (term_id, df, postings array<struct<doc,tf>>)
    n_docs: int
    avg_len: float
    cfg: IndexConfig
    n_postings: int = 0  # tf row count, from the stats agg (no extra pass)
    # persisted upstreams the index still depends on (persist_tf=False
    # keeps tf_terms cached as tf's input) — released with the index, so
    # repeated builds in one JVM can't pin dead posting-table caches
    # (round-5 review finding)
    extra_caches: tuple = ()

    def unpersist(self) -> None:
        for df in (self.corpus, self.sizes, self.tf, self.lexicon,
                   self.postings, *self.extra_caches):
            try:
                df.unpersist()
            except Exception:
                pass


def build_index(
    corpus: DataFrame,
    cfg: IndexConfig = DEFAULT_CONFIG,
    build_arrays: bool = True,
    stage_times: dict | None = None,
    persist_tf: bool = True,
) -> InvertedIndex:
    """Full logical index build (no compression — see ds2s/blocks.py).

    ``stage_times``: optional dict that receives per-stage wall seconds
    (scaling-diagnosis instrumentation; zero cost when None).

    ``persist_tf=False`` leaves ``idx.tf`` as the LAZY join of the cached
    ``tf_terms`` with the lexicon.  For a pure build→encode pipeline
    (CLI build, scaling harness) the join has exactly ONE consumer — the
    block encode's (term_id, salt) shuffle — so materializing a second
    100 M-row cache is a full extra memory-write+read pass of the posting
    table that the map side of that shuffle can absorb instead (the
    round-3 scaling diag measured this stage ~flat at 13-14 s across
    8→32 cores: cache (de)serialization, not parallel compute).  Keep the
    default for serve/test workloads where tf has many consumers."""
    import time as _time

    def _mark(name: str, t0: float) -> float:
        t1 = _time.perf_counter()
        if stage_times is not None:
            stage_times[name] = round(t1 - t0, 3)
        return t1
    # A small parquet source arrives in O(1) partitions; tokenize/explode
    # would then run serially before the first shuffle.  Spread by doc_id
    # (hash — deterministic placement) up to the session parallelism.
    par = corpus.sparkSession.sparkContext.defaultParallelism
    if corpus.rdd.getNumPartitions() < par:
        corpus = corpus.repartition(par, "doc_id")
    # every persist below is materialized EAGERLY before the next stage
    # builds on it: lazy chaining re-executes the tokenize+groupBy chain 3×
    # via the lexicon's dense-id sampling pass (measured 87-155 s vs 12 s
    # on a 22 M-posting corpus).  Materialization jobs are FUSED — each
    # eager action populates every upstream persist it scans, so the whole
    # build issues 3 driver jobs (stats, lexicon-agg, tf) instead of 6
    # (each job carries ~3 s fixed latency at 100 M-posting scale).
    aux: list[DataFrame] = []
    t0 = __import__("time").perf_counter()
    corpus = corpus.persist()
    # ONE tokenize pass (round-3): build_tf is the only consumer of the
    # regexp tokenizer; sizes and collection stats derive from its output.
    # Round 2 tokenized the corpus TWICE (build_sizes + build_tf) — at
    # 100 M postings each pass is tens of seconds of pure string churn.
    tf_terms = build_tf(corpus, cfg).persist()
    # job 1 (inside build_lexicon): materializes corpus + tf_terms + the
    # vocab agg together — the single tokenize pass happens here
    lexicon = build_lexicon(tf_terms, aux=aux).persist()
    t0 = _mark("lexicon", t0)
    # collection stats WITHOUT a doc-keyed shuffle: total tokens ≡ Σ tf
    # (a doc's len is Σ tf over its terms), n_docs from the corpus cache.
    # Round-3 diag: the previous groupBy(doc_id) over the 100 M-row tf
    # cache was a full shuffle that ANTI-scaled (46 s @ 8c → 73 s @ 32c);
    # both aggs here are narrow partial-agg scans of warm caches.
    n_docs = int(corpus.count())
    stats_row = tf_terms.agg(
        F.sum("tf").alias("total"), F.count("*").alias("n_postings")
    ).collect()[0]
    total = stats_row["total"] or 0
    n_postings = int(stats_row["n_postings"])
    avg_len = float(total) / n_docs if n_docs else 0.0
    # sizes stays LAZY (narrow tokenize projection over the cached corpus,
    # len=0 for empty docs preserved): nothing else in the build consumes
    # it, so the first actual reader pays one cached-corpus scan and the
    # persist keeps it warm after
    sizes = build_sizes(corpus, cfg).persist()
    t0 = _mark("stats", t0)
    # no broadcast hint: the lexicon can be billions of rows for code —
    # AQE picks broadcast when it is actually small, shuffle join otherwise.
    # The persisted tf drops the term STRING (term_id carries identity):
    # at 100 M+ rows the string column dominates cache and every
    # downstream shuffle's bytes for zero information.
    tf = tf_terms.join(lexicon, "term").select(
        "term_id", "doc_id", "tf", "len", "df"
    )
    if persist_tf:
        tf = tf.persist()
        tf.count()  # job 3: materializes lexicon + tf together
        _mark("tf", t0)
        tf_terms.unpersist()
    else:
        # materialize the lexicon (job 3) so the lazy tf join broadcasts a
        # finished table; tf_terms stays cached as tf's upstream
        lexicon.count()
        _mark("tf", t0)
    for df in aux:
        df.unpersist()
    postings = (
        build_postings(tf, cfg, max_doc=n_docs - 1).persist()
        if build_arrays else None
    )
    return InvertedIndex(
        corpus=corpus,
        sizes=sizes,
        tf=tf,
        lexicon=lexicon,
        postings=postings,
        n_docs=n_docs,
        avg_len=avg_len,
        cfg=cfg,
        n_postings=n_postings,
        # persist_tf=False leaves tf_terms cached as tf's upstream; hand
        # its handle to the index so unpersist() can release it
        extra_caches=() if persist_tf else (tf_terms,),
    )
