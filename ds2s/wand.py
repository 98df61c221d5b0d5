"""WAND / block-max metadata builders ([U] ds2i/wand_data.hpp,
[U] ds2i/create_wand_data.cpp; block-max per BASELINE.json:6).

Pure aggregations over the flat postings (SURVEY.md §3.2 — "no new
machinery"): per-term max BM25 contribution, per-doc normalized length,
and per 128-posting block (last_doc, max score).  All JVM-side Column
math.

NOTE: these are the REFERENCE builders (independent relational derivation,
kept for oracle symmetry + equality tests).  The ENGINE derives the same
metadata in the block-encode pass itself (ds2s.blocks.blocks_from_tf with
``avg_len`` — block_max_score is a column of the block table, and the
per-term wand max is a one-line aggregation over it), which avoids the
second postings scan and this module's per-term window (skewed on hot
terms at 10^12-doc scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .config import IndexConfig
from .invert import InvertedIndex
from .query import bm25_score_col


def _scored_postings(idx: InvertedIndex) -> DataFrame:
    """(term_id, doc_id, tf, contrib) — every posting with its BM25 term
    contribution (float64).  len rides inside tf (no sizes join).

    Libm caveat: contrib uses the JVM-side relational scorer
    (query.bm25_score_col, F.log) while the engine block tables score with
    numpy (config.Scorer.idf, np.log); the two can differ in the last ulp,
    which is why the equality tests compare at round_to=6.  Serving pruning
    bounds NEVER come from these twins — the serving block-max column is
    built by the np.log kernel path (blocks.py / manifest.py), so the
    bit-for-bit bound≥score invariant holds where it matters."""
    return (
        idx.tf.select("term_id", "doc_id", "tf", "len", "df")
        .withColumn("contrib", bm25_score_col(idx.cfg.scorer, idx.n_docs, idx.avg_len))
    )


def build_wand_max(idx: InvertedIndex, round_to: int | None = None) -> DataFrame:
    """(term_id, max_score): the WAND upper bound per term."""
    out = _scored_postings(idx).groupBy("term_id").agg(F.max("contrib").alias("max_score"))
    if round_to is not None:
        out = out.select("term_id", F.round("max_score", round_to).alias("max_score"))
    return out


def build_block_max(
    idx: InvertedIndex,
    cfg: IndexConfig | None = None,
    round_to: int | None = None,
) -> DataFrame:
    """(term_id, block_id, n, first_doc, last_doc, block_max_score).

    Blocks are positional slices of the docID-sorted list (128 postings,
    [U] ds2i/block_freq_index.hpp).  Positions come from a window keyed by
    term — acceptable because the downstream groupBy(term, block) splits
    hot terms; at extreme skew the position assignment itself would use the
    range-partitioned two-pass trick from corpus.with_dense_id.

    ``cfg`` defaults to the INDEX's own build-time config: scoring
    already comes from idx.cfg.scorer, so blocking from any other
    block_size would desync this reference table from the engine block
    table it exists to equality-check (round-5 review finding).
    """
    cfg = cfg if cfg is not None else idx.cfg
    w = Window.partitionBy("term_id").orderBy("doc_id")
    pos = _scored_postings(idx).withColumn(
        "block_id",
        F.floor((F.row_number().over(w) - F.lit(1)) / F.lit(cfg.block_size)).cast("int"),
    )
    score = F.max("contrib")
    out = pos.groupBy("term_id", "block_id").agg(
        F.count("*").cast("int").alias("n"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
        (F.round(score, round_to) if round_to is not None else score).alias(
            "block_max_score"
        ),
    )
    return out
