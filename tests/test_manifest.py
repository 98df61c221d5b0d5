"""Resume protocol (kill/rerun), lineage metrics, sha256 invariant
(SURVEY.md §7 Milestone 5; north-rule checkpoint requirement)."""

from __future__ import annotations

import time

import pandas as pd
import pytest

from ds2s.blocks import decode_blocks_flat
from ds2s.manifest import IndexStore


N_BUCKETS = 4
# corpus_manifest, sizes, lexicon, blocks buckets (one physical write),
# superblocks, _index
TOTAL_UNITS = 3 + N_BUCKETS + 1 + 1


def _failing_encode(*args, **kwargs):
    raise RuntimeError("injected failure in the blocks encode")


def test_checkpoint_resume_roundtrip(tmp_path, spark, synth_idx, monkeypatch):
    store = IndexStore(str(tmp_path / "idx"))

    # first run dies in the blocks write; the pool still completes the
    # three independent units before the failure propagates
    with monkeypatch.context() as m:
        m.setattr("ds2s.manifest.blocks_from_tf", _failing_encode)
        with pytest.raises(RuntimeError, match="injected failure"):
            store.write_checkpointed(
                synth_idx, source="synth", codec="pef", n_buckets=N_BUCKETS
            )
    assert len(store.completed_units()) == 3

    # resume: only the remaining units are written
    written = store.write_checkpointed(
        synth_idx, source="synth", codec="pef", n_buckets=N_BUCKETS
    )
    assert written == TOTAL_UNITS - 3
    assert len(store.completed_units()) == TOTAL_UNITS

    # idempotent: a third run writes nothing
    assert (
        store.write_checkpointed(
            synth_idx, source="synth", codec="pef", n_buckets=N_BUCKETS
        )
        == 0
    )

    # loaded blocks decode to exactly the uncompressed postings
    got = (
        decode_blocks_flat(store.load_table(spark, "blocks"))
        .orderBy("term_id", "pos")
        .select("term_id", "doc_id", "tf")
        .toPandas()
        .reset_index(drop=True)
    )
    exp = (
        synth_idx.tf.select("term_id", "doc_id", "tf")
        .orderBy("term_id", "doc_id")
        .toPandas()
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got.astype("int64"), exp.astype("int64"))

    # per-row sha256 invariant against the live source
    assert store.verify_sha256(synth_idx.corpus) == 0

    # lineage + metrics table
    m = store.metrics_df(spark).toPandas()
    assert len(m) == TOTAL_UNITS
    assert (m["wall_s"] >= 0).all()
    assert m["config"].nunique() == 1

    meta = store.load_meta()
    assert meta["n_docs"] == synth_idx.n_docs
    assert meta["codec"] == "pef"


def test_single_unit_invalidation_rewrites_only_it(tmp_path, spark, synth_idx):
    """Dropping one unit's manifest row makes the (concurrent) rerun
    rewrite exactly that unit — the done-set check under the round-4
    thread-pool write path."""
    import json

    store = IndexStore(str(tmp_path / "idx"))
    store.write_checkpointed(
        synth_idx, source="synth", codec="pef", n_buckets=N_BUCKETS
    )
    rows = [
        json.loads(line)
        for line in store.manifest_path.read_text().splitlines()
        if json.loads(line)["unit"] != "sizes"
    ]
    store.manifest_path.write_text(
        "".join(json.dumps(r) + "\n" for r in rows)
    )
    assert store.write_checkpointed(
        synth_idx, source="synth", codec="pef", n_buckets=N_BUCKETS
    ) == 1
    assert len(store.completed_units()) == TOTAL_UNITS


def test_serve_from_store(tmp_path, spark, synth_idx):
    """ServingIndex.from_store (the mmap-load analogue) must be
    rank-identical to the exhaustive oracle — no corpus, no re-invert."""
    from ds2s import query as Q
    from ds2s.serve import ServingIndex

    store = IndexStore(str(tmp_path / "sidx"))
    store.write_checkpointed(synth_idx, source="synth", n_buckets=2)
    sidx = ServingIndex.from_store(spark, store)
    qdf = Q.queries_df(
        spark,
        rows=[(0, 0, "def"), (0, 1, "return"), (1, 0, "class"), (2, 0, "dup_marker")],
    )
    exact = (
        Q.ranked_or_topk(synth_idx, qdf, k=5)
        .orderBy("qid", "rank")
        .toPandas()
        .reset_index(drop=True)
    )
    got = (
        sidx.topk(qdf, k=5, algo="bmw")
        .orderBy("qid", "rank")
        .toPandas()
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got.astype({"qid": "int64", "rank": "int64"}),
        exact.astype({"qid": "int64", "rank": "int64"}),
        check_exact=False,
        atol=1e-8,
    )


def test_from_store_uses_buildtime_config(tmp_path, spark, synth_idx):
    """ADVICE round-2: serving a store built with a non-default scorer
    must score with THAT scorer (from _index.json), or block-max pruning
    bounds silently desync from kernel scores."""
    import dataclasses

    from ds2s import query as Q
    from ds2s.config import Scorer
    from ds2s.serve import ServingIndex

    cfg2 = dataclasses.replace(
        synth_idx.cfg, scorer=Scorer(k1=0.9, b=0.4)
    )
    idx2 = dataclasses.replace(synth_idx, cfg=cfg2)
    store = IndexStore(str(tmp_path / "k09"))
    store.write_checkpointed(idx2, source="synth", n_buckets=2)

    sidx = ServingIndex.from_store(spark, store)
    assert sidx.cfg.scorer.k1 == 0.9 and sidx.cfg.scorer.b == 0.4

    qdf = Q.queries_df(
        spark, rows=[(0, 0, "def"), (0, 1, "return"), (1, 0, "class")]
    )
    exact = (
        Q.ranked_or_topk(idx2, qdf, k=5)
        .orderBy("qid", "rank").toPandas().reset_index(drop=True)
    )
    got = (
        sidx.topk(qdf, k=5, algo="bmw")
        .orderBy("qid", "rank").toPandas().reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got.astype({"qid": "int64", "rank": "int64"}),
        exact.astype({"qid": "int64", "rank": "int64"}),
        check_exact=False, atol=1e-8,
    )


def test_store_lexicon_filter_pushdown(tmp_path, spark, synth_idx):
    """The stored lexicon is term-sorted; a `term IN (...)` lookup must
    reach the parquet scan as a pushed filter (file-level min/max pruning
    at a billions-row code vocabulary — round-2 verdict item 5)."""
    from pyspark.sql import functions as F

    store = IndexStore(str(tmp_path / "lex"))
    store.write_checkpointed(synth_idx, source="synth", n_buckets=2)
    lex = store.load_table(spark, "lexicon").filter(
        F.col("term").isin("def", "return")
    )
    plan = lex._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(term" in plan, plan


def test_recorded_schemas_read_tables_as_written(tmp_path, spark, synth_idx):
    """Every store table's recorded schema equals what parquet schema
    inference reads off the written files — ``bucket`` partition column
    included — so reading under the record changes no column, type or
    order.  The blocks bucket lines share one schema."""
    import json

    store = IndexStore(str(tmp_path / "schemas"))
    store.write_checkpointed(synth_idx, source="synth", n_buckets=N_BUCKETS)
    for name in ("corpus_manifest", "sizes", "lexicon", "blocks",
                 "superblocks"):
        inferred = spark.read.parquet(str(store.root / name)).schema
        assert store.load_table(spark, name).schema == inferred, name
    units = store.completed_units()
    bucket_schemas = {json.dumps(units[f"blocks_bucket_{k}"]["schema"])
                      for k in range(N_BUCKETS)}
    assert len(bucket_schemas) == 1
    assert "bucket" in store.load_table(spark, "blocks").columns


def test_cli_build_and_query(tmp_path, spark):
    """End-to-end CLI: build from a parquet corpus dir, query the stored
    index, resumable second build writes nothing."""
    import io
    import json
    from contextlib import redirect_stdout

    from ds2s import cli
    from ds2s.corpus import synth_corpus_rows

    corpus_path = str(tmp_path / "corpus.parquet")
    spark.createDataFrame(
        synth_corpus_rows(),
        schema="repo string, path string, commit string, lang string, content string",
    ).write.parquet(corpus_path)
    out_dir = str(tmp_path / "cli_idx")

    buf = io.StringIO()
    with redirect_stdout(buf):
        cli.main(["build", "--corpus", corpus_path, "--out", out_dir, "--check"])
    stats = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert stats["n_docs"] == 300 and stats["units_written"] > 0
    # --check: decode-all equality after build (reference semantics)
    assert stats["check"] == "pass"
    assert stats["check_missing"] == 0 == stats["check_extra"]

    buf = io.StringIO()
    with redirect_stdout(buf):
        cli.main(["build", "--corpus", corpus_path, "--out", out_dir])
    assert json.loads(buf.getvalue().strip().splitlines()[-1])["units_written"] == 0

    # qid 3 exercises ENGINE-tokenizer parity on the query side (round-5
    # review): `def-return` must resolve to the lexicon terms `def`,
    # `return` — identical results to qid 0 — not stay a raw hyphenated
    # token that exists in no lexicon this engine builds
    qfile = tmp_path / "q.txt"
    qfile.write_text("def return\nclass\nzzznope\ndef-return\n")
    buf = io.StringIO()
    with redirect_stdout(buf):
        cli.main(["query", "--index", out_dir, "--queries", str(qfile), "--k", "3"])
    lines = [l for l in buf.getvalue().splitlines() if "\t" in l]
    assert len(lines) > 0
    qids = {int(l.split("\t")[0]) for l in lines}
    assert 0 in qids and 1 in qids and 2 not in qids  # unknown term → no hits
    assert 3 in qids
    by_qid = {}
    for l in lines:
        p = l.split("\t")
        by_qid.setdefault(int(p[0]), []).append(p[1:])
    assert by_qid[3] == by_qid[0]


def test_cli_query_per_query_stats(tmp_path, spark):
    """--per-query emits one JSON stats line per query (reference
    queries-tool semantics: per-query wall over --runs repetitions,
    min/avg μs) and the result rows match the batch path."""
    import io
    import json
    from contextlib import redirect_stderr, redirect_stdout

    from ds2s import cli
    from ds2s.corpus import synth_corpus_rows

    corpus_path = str(tmp_path / "corpus.parquet")
    spark.createDataFrame(
        synth_corpus_rows(),
        schema="repo string, path string, commit string, lang string, content string",
    ).write.parquet(corpus_path)
    out_dir = str(tmp_path / "cli_idx")
    with redirect_stdout(io.StringIO()):
        cli.main(["build", "--corpus", corpus_path, "--out", out_dir])

    qfile = tmp_path / "q.txt"
    qfile.write_text("def return\nclass\n")

    def run(extra):
        so, se = io.StringIO(), io.StringIO()
        with redirect_stdout(so), redirect_stderr(se):
            cli.main(["query", "--index", out_dir, "--queries", str(qfile),
                      "--k", "3", *extra])
        rows = sorted(l for l in so.getvalue().splitlines() if "\t" in l)
        stats = [json.loads(l) for l in se.getvalue().splitlines()
                 if l.startswith("{")]
        return rows, stats

    batch_rows, batch_stats = run(["--runs", "2"])
    assert batch_stats[-1]["runs"] == 2 and batch_stats[-1]["wall_s"] > 0

    pq_rows, pq_stats = run(["--per-query", "--runs", "2"])
    assert pq_rows == batch_rows  # same results either way
    assert [s["query"] for s in pq_stats] == [0, 1]
    for s in pq_stats:
        assert s["runs"] == 2 and 0 < s["min_us"] <= s["avg_us"]

    # --no-cache (uncached store serving, predicates pushed to parquet)
    # must be result-identical to the cached default
    nc_rows, _ = run(["--no-cache"])
    assert nc_rows == batch_rows

    # TRAP (round-5 review): the timed window must contain the topk()
    # CALL, not just the collect of its result — topk does eager driver
    # work (plan fetches; on the driver-grid tier the kernel itself runs
    # inside it), so timing only the downstream orderBy+collect would
    # report near-zero "walls".  A topk that stalls 150 ms must show up
    # in every reported figure.
    from ds2s.serve import ServingIndex

    real_topk = ServingIndex.topk

    def slow_topk(self, *a, **kw):
        time.sleep(0.15)
        return real_topk(self, *a, **kw)

    ServingIndex.topk = slow_topk
    try:
        _, slow_stats = run(["--per-query", "--runs", "1"])
        assert all(s["min_us"] >= 150_000 for s in slow_stats if "query" in s)
        _, slow_batch = run(["--runs", "1"])
        assert slow_batch[-1]["wall_s"] >= 0.15
    finally:
        ServingIndex.topk = real_topk


def test_config_change_invalidates_resume(tmp_path, spark, synth_idx):
    """A unit written under a different IndexConfig fingerprint is treated
    as incomplete and rewritten — no silently mixed-config index."""
    import dataclasses


    store = IndexStore(str(tmp_path / "idxcfg"))
    store.write_checkpointed(synth_idx, source="synth", n_buckets=2)
    assert store.write_checkpointed(synth_idx, source="synth", n_buckets=2) == 0

    # same tables, different block_size → every unit must be rewritten
    cfg2 = dataclasses.replace(synth_idx.cfg, block_size=32)
    idx2 = dataclasses.replace(synth_idx, cfg=cfg2)
    rewritten = store.write_checkpointed(idx2, source="synth", n_buckets=2)
    assert rewritten == 3 + 2 + 1 + 1
    # and the stored blocks really are 32-posting blocks now
    assert store.load_table(spark, "blocks").agg({"n": "max"}).collect()[0][0] <= 32


def test_sha256_detects_tamper(tmp_path, spark, synth_idx):
    from pyspark.sql import functions as F

    store = IndexStore(str(tmp_path / "idx2"))
    store.write_checkpointed(synth_idx, source="synth", n_buckets=2)
    tampered = synth_idx.corpus.withColumn(
        "content",
        F.when(F.col("doc_id") == 3, F.lit("EVIL")).otherwise(F.col("content")),
    )
    assert store.verify_sha256(tampered) == 1


def test_partial_superblocks_table_ignored(tmp_path, spark, synth_idx):
    """A superblocks parquet dir that is VISIBLE on disk but has no
    manifest line (writer crashed mid-write; task-commit committers leave
    partial files) must be ignored by from_store — completeness is the
    manifest's verdict, not the directory's.  Loading the partial table
    would silently drop terms from superblock pre-pruning and corrupt
    top-k (round-5 review finding)."""
    import json

    from ds2s import query as Q
    from ds2s.serve import ServingIndex

    store = IndexStore(str(tmp_path / "sidx_partial"))
    store.write_checkpointed(synth_idx, source="synth", n_buckets=2)

    # Simulate the crash: cripple the on-disk superblocks table to a
    # single term and erase its manifest line (the files stay visible).
    full = spark.read.parquet(str(store.root / "superblocks"))
    one_term = full.limit(1).toPandas()
    import shutil

    shutil.rmtree(store.root / "superblocks")
    spark.createDataFrame(one_term, schema=full.schema).write.parquet(
        str(store.root / "superblocks")
    )
    kept = [
        json.loads(l)
        for l in store.manifest_path.read_text().splitlines()
        if l.strip() and json.loads(l)["unit"] != "superblocks"
    ]
    store.manifest_path.write_text(
        "".join(json.dumps(r) + "\n" for r in kept)
    )

    sidx = ServingIndex.from_store(spark, store)
    qdf = Q.queries_df(
        spark,
        rows=[(0, 0, "def"), (0, 1, "return"), (1, 0, "class")],
    )
    exact = (
        Q.ranked_or_topk(synth_idx, qdf, k=5)
        .orderBy("qid", "rank").toPandas().reset_index(drop=True)
    )
    got = (
        sidx.topk(qdf, k=5, algo="bmw")
        .orderBy("qid", "rank").toPandas().reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got.astype({"qid": "int64", "rank": "int64"}),
        exact.astype({"qid": "int64", "rank": "int64"}),
        check_exact=False,
        atol=1e-8,
    )


def test_oov_batch_schema_matches_populated(tmp_path, spark, synth_idx):
    """survivor_blocks on an all-out-of-vocabulary batch must return the
    SAME schema (names, order, types) as a populated batch — including on
    a store-loaded index whose raw blocks table carries the bucket
    partition column (round-5 review finding: the empty branch used to
    leak raw columns)."""
    from ds2s import query as Q
    from ds2s.serve import ServingIndex

    store = IndexStore(str(tmp_path / "sidx_oov"))
    store.write_checkpointed(synth_idx, source="synth", n_buckets=2)
    sidx = ServingIndex.from_store(spark, store)

    oov = sidx.survivor_blocks(
        Q.queries_df(spark, rows=[(0, 0, "zzz_not_a_term")])
    )
    pop = sidx.survivor_blocks(
        Q.queries_df(spark, rows=[(0, 0, "def"), (0, 1, "return")])
    )
    assert [(f.name, f.dataType) for f in oov.schema.fields] == [
        (f.name, f.dataType) for f in pop.schema.fields
    ]
    assert "bucket" not in oov.columns
    # unions across batches (the metric-surface contract) must work
    assert oov.unionByName(pop).count() == pop.count()
    assert oov.count() == 0
