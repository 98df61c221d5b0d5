"""Exact (DataFrame) query operators — the correctness oracle path.

These are ds2i's query algorithms ([U] ds2i/queries.cpp) re-expressed as
declarative Spark plans:

- ``ranked_or_topk``  — exhaustive BM25 disjunction, top-k.  This is the
  oracle every pruned operator (WAND/BMW, ds2s/serve.py) must equal
  (SURVEY.md §2.6 "ranked_or_query ... is the correctness oracle").
- ``ranked_and_topk`` — BM25 over the conjunction.
- ``and_count`` / ``or_count`` — boolean ops returning match counts
  (ds2i's and_query/or_query report counts, SURVEY.md §2.4).

Physical notes: each operator reads the batch's distinct terms off the
query frame first (a ``queries_df`` frame is a local relation, so this runs
no Spark job), then coalesces the query side to one partition.  The
lexicon is pruned to those terms (``term IN (...)``, predicate-pushed) and
only that pruned lexicon is broadcast, never the whole dictionary; the
postings join shuffles on term_id; the per-query top-k is a window
row_number at small qid-cardinality.

Semantics frozen here (SURVEY.md §7.5 / FIXTURES.md F3):
- duplicate query terms = duplicate cursors (each occurrence scores);
- term absent from the lexicon: OR ignores it, AND yields an empty result;
- tie-break (score DESC, doc ASC); float64 accumulation.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .config import Scorer
from .invert import InvertedIndex
from .queryset import queries_rows


def queries_df(spark, rows=None) -> DataFrame:
    """(qid, ord, term) — duplicates kept, ord = in-query position.

    Built from pandas through Arrow, so the batch is a local relation held
    in the query plan itself, not a Python RDD: projections and filters of
    it fold into the relation, and collecting it (serving's cursor
    resolve, the exact operators' term read, the CLI's per-query split)
    runs no Spark job.  Operators that aggregate over the batch coalesce
    it to one partition themselves (``_batch``)."""
    rows = rows if rows is not None else queries_rows()
    pdf = pd.DataFrame(rows, columns=["qid", "ord", "term"])
    return spark.createDataFrame(pdf, schema="qid int, ord int, term string")


def bm25_score_col(scorer: Scorer, n_docs: int, avg_len: float) -> Column:
    """BM25 contribution of one (term, doc) posting as a native Column
    expression (whole-stage-codegen'd; no UDF).  Expects columns
    ``df`` (int), ``tf`` (int), ``len`` (int).  Float64 throughout.

    Built from the SAME ANSI-SQL strings (Scorer.sql_idf/sql_doc_weight)
    the DuckDB oracles run, not a hand-retyped Column twin: the exact
    DataFrame path and the oracle SQL therefore evaluate a textually
    identical expression tree — same association order, same literals —
    so they cannot drift apart by edit, and ulp-level differences from a
    reordered multiply/divide are impossible by construction (round-5
    review finding; the numpy-kernel definition is Scorer.idf, see
    wand.py's libm caveat)."""
    n_lit = repr(float(n_docs))
    idf = F.expr(scorer.sql_idf("cast(df as double)", n_lit))
    w_d = F.expr(
        scorer.sql_doc_weight(
            "cast(tf as double)", "cast(len as double)", repr(float(avg_len))
        )
    )
    return idf * w_d


def _batch(qdf: DataFrame) -> tuple[DataFrame, list[str]]:
    """(one-partition query frame, the batch's distinct terms).

    The terms are read off the RAW frame — free for a local relation,
    where an aggregate or a coalesced frame would cost a job — and the
    frame is coalesced once, where each operator starts: a local relation
    spans up to defaultParallelism partitions, and every distinct/groupBy
    over it would otherwise plan an exchange of near-empty tasks."""
    terms = sorted({r["term"] for r in qdf.select("term").collect()})
    return qdf.coalesce(1), terms


def _with_ids(idx: InvertedIndex, qdf: DataFrame, terms: list[str]) -> DataFrame:
    """Resolve query-term strings → term_id via the lexicon (the tiny
    query side joins the dictionary; the 100 M-row tf table carries only
    term_id — its term-string column would dominate every shuffle's bytes
    for zero information).  The lexicon is pruned to the batch's ``terms``
    by a pushed ``term IN`` scan filter and only that pruned lexicon is
    broadcast — the serving path's lookup (ServingIndex._resolve_cursors)
    reads the same pruned slice.  Unknown terms drop out here (OR ignores
    them; AND counts its requirement on the RAW qdf, so they still empty
    the conjunction).  Under cfg.dedupe_query_terms each (qid, term) keeps
    ONE cursor row, so a repeated query term scores once — mirrored by
    the serving path's weight collapse in ServingIndex._resolve_cursors
    (the knob was previously declared but unread: round-5 review)."""
    if idx.cfg.dedupe_query_terms:
        qdf = qdf.dropDuplicates(["qid", "term"])
    lex = idx.lexicon.filter(F.col("term").isin(terms)).select("term", "term_id")
    return qdf.join(F.broadcast(lex), "term")


def _scored(idx: InvertedIndex, qdf: DataFrame, terms: list[str]) -> DataFrame:
    """(qid, doc_id, score): per-doc summed BM25 over matched query cursors."""
    scorer = idx.cfg.scorer
    # len rides inside tf (ds2s.invert.build_tf) — no sizes join
    hits = (
        _with_ids(idx, qdf, terms)
        .join(idx.tf.select("term_id", "doc_id", "tf", "len", "df"), "term_id")
        .withColumn("contrib", bm25_score_col(scorer, idx.n_docs, idx.avg_len))
    )
    return hits.groupBy("qid", "doc_id").agg(F.sum("contrib").alias("score"))


def _topk(scored: DataFrame, k: int, rank_round: int | None = 6) -> DataFrame:
    order_score = (
        F.round(F.col("score"), rank_round) if rank_round is not None else F.col("score")
    )
    w = Window.partitionBy("qid").orderBy(order_score.desc(), F.col("doc_id").asc())
    out_score = F.round("score", 4) if rank_round is not None else F.col("score")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "doc_id", out_score.alias("score"))
    )


def ranked_or_topk(
    idx: InvertedIndex, qdf: DataFrame, k: int = 10, rank_round: int | None = 6
) -> DataFrame:
    """Exhaustive BM25 disjunctive top-k ([U] ds2i/queries.cpp or family)."""
    return _topk(_scored(idx, *_batch(qdf)), k, rank_round)


def _and_docs(idx: InvertedIndex, qdf: DataFrame, terms: list[str]) -> DataFrame:
    """(qid, doc_id) conjunction membership.

    A doc matches iff it contains every DISTINCT query term; a term absent
    from the lexicon makes the conjunction empty (SURVEY.md §2.3)."""
    need = qdf.groupBy("qid").agg(F.countDistinct("term").alias("n_need"))
    matched = (
        _with_ids(idx, qdf.select("qid", "term").distinct(), terms)
        .join(idx.tf.select("term_id", "doc_id"), "term_id")
        .groupBy("qid", "doc_id")
        .agg(F.count("*").alias("n_have"))
    )
    return (
        matched.join(need, "qid")
        .filter(F.col("n_have") == F.col("n_need"))
        .select("qid", "doc_id")
    )


def ranked_and_topk(
    idx: InvertedIndex, qdf: DataFrame, k: int = 10, rank_round: int | None = 6
) -> DataFrame:
    """BM25 conjunctive top-k: score all cursors, keep AND members only."""
    qdf, terms = _batch(qdf)
    members = _and_docs(idx, qdf, terms)
    scored = _scored(idx, qdf, terms).join(members, ["qid", "doc_id"])
    return _topk(scored, k, rank_round)


def and_count(idx: InvertedIndex, qdf: DataFrame) -> DataFrame:
    """(qid, matches) — ds2i and_query semantics (count of matching docs).
    Every qid appears, 0 when empty (incl. absent-term conjunctions)."""
    qdf, terms = _batch(qdf)
    qids = qdf.select("qid").distinct()
    counts = _and_docs(idx, qdf, terms).groupBy("qid").agg(F.count("*").alias("matches"))
    return qids.join(counts, "qid", "left").select(
        "qid", F.coalesce("matches", F.lit(0)).cast("long").alias("matches")
    )


def or_count(idx: InvertedIndex, qdf: DataFrame) -> DataFrame:
    """(qid, matches) — ds2i or_query semantics (docs with ≥1 term)."""
    qdf, terms = _batch(qdf)
    qids = qdf.select("qid").distinct()
    counts = (
        _with_ids(idx, qdf.select("qid", "term").distinct(), terms)
        .join(idx.tf.select("term_id", "doc_id"), "term_id")
        .groupBy("qid")
        .agg(F.countDistinct("doc_id").alias("matches"))
    )
    return qids.join(counts, "qid", "left").select(
        "qid", F.coalesce("matches", F.lit(0)).cast("long").alias("matches")
    )
