"""Index-build invariants (SURVEY.md §5.4): docID density, posting
sortedness, salted ≡ unsalted merge, deterministic IDs across parallelism,
sha256 invariant."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_doc_ids_dense(synth_idx):
    n = synth_idx.corpus.count()
    stats = synth_idx.corpus.agg(
        F.min("doc_id"), F.max("doc_id"), F.countDistinct("doc_id")
    ).collect()[0]
    assert stats[0] == 0 and stats[1] == n - 1 and stats[2] == n


def test_postings_sorted_and_df_consistent(synth_idx):
    rows = synth_idx.postings.collect()
    assert rows, "no postings built"
    for r in rows:
        docs = [p["doc"] for p in r["postings"]]
        assert docs == sorted(set(docs)), f"term {r['term_id']} not strictly sorted"
        assert len(docs) == r["df"]
        assert all(p["tf"] >= 1 for p in r["postings"])


def test_term_ids_dense_by_term(synth_idx):
    rows = sorted(synth_idx.lexicon.collect(), key=lambda r: r["term"])
    assert [r["term_id"] for r in rows] == list(range(len(rows)))


def test_salted_merge_equals_unsalted(spark):
    """Two-stage salted merge must be a pure optimization (north rule)."""
    from ds2s.config import IndexConfig
    from ds2s.corpus import synth_corpus
    from ds2s.invert import build_index

    corpus = synth_corpus(spark)
    salted = build_index(corpus, IndexConfig(hot_term_df=0, n_salt=4))
    plain = build_index(corpus, IndexConfig(hot_term_df=10**9, n_salt=1))
    a = {r["term_id"]: r["postings"] for r in salted.postings.collect()}
    b = {r["term_id"]: r["postings"] for r in plain.postings.collect()}
    assert a == b


def test_dense_ids_independent_of_parallelism(spark):
    from ds2s.corpus import synth_corpus, with_dense_id

    base = synth_corpus(spark).select("repo", "path", "commit")
    a = with_dense_id(base, ["repo", "path", "commit"], "id", num_partitions=2)
    b = with_dense_id(base.repartition(13), ["repo", "path", "commit"], "id",
                      num_partitions=7)
    ra = {(r["repo"], r["path"]): r["id"] for r in a.collect()}
    rb = {(r["repo"], r["path"]): r["id"] for r in b.collect()}
    assert ra == rb


def test_build_lexicon_join_not_forced_broadcast(spark):
    """The tf ⋈ lexicon join must survive a vocabulary too large to
    broadcast: with every automatic broadcast disabled the plan flips to a
    shuffle join (no BroadcastHashJoin) and the build still produces
    identical tables — the lexicon is never forced through the driver."""
    from ds2s.corpus import synth_corpus
    from ds2s.invert import build_index

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        idx = build_index(synth_corpus(spark), build_arrays=False)
        plan = idx.tf._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
        ref = build_index(synth_corpus(spark), build_arrays=False)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    a = sorted(
        (r["term_id"], r["doc_id"], r["tf"], r["df"]) for r in idx.tf.collect()
    )
    b = sorted(
        (r["term_id"], r["doc_id"], r["tf"], r["df"]) for r in ref.tf.collect()
    )
    assert a == b
    idx.unpersist()
    ref.unpersist()


def test_sha256_invariant(spark):
    import hashlib

    from ds2s.corpus import synth_corpus, with_sha256

    df = with_sha256(synth_corpus(spark))
    for r in df.collect():
        assert r["content_sha256"] == hashlib.sha256(
            r["content"].encode()
        ).digest()


def test_sizes_cover_empty_docs(synth_idx):
    n = synth_idx.corpus.count()
    assert synth_idx.sizes.count() == n
    assert synth_idx.sizes.filter(F.col("len") == 0).count() >= 1  # empty doc fixture


def test_tokenizer_edge_cases(spark):
    from ds2s.invert import tokens_col

    df = spark.createDataFrame(
        [("MiXeD CaSe 123",), ("",), ("a-b_c",), ("  spaces  ",)], "content string"
    ).select(tokens_col("content").alias("t"))
    rows = [r["t"] for r in df.collect()]
    assert rows[0] == ["mixed", "case", "123"]
    assert rows[1] == []
    assert rows[2] == ["a", "b", "c"]
    assert rows[3] == ["spaces"]


def test_persist_tf_false_identical(spark):
    """The build→encode fast path (persist_tf=False, lazy tf join) is
    row-for-row identical to the default build — tf table, stats, and
    encoded blocks."""
    from ds2s.blocks import blocks_from_tf
    from ds2s.corpus import synth_corpus
    from ds2s.invert import build_index

    a = build_index(synth_corpus(spark), build_arrays=False)
    b = build_index(synth_corpus(spark), build_arrays=False, persist_tf=False)
    assert (a.n_docs, a.avg_len, a.n_postings) == (b.n_docs, b.avg_len, b.n_postings)
    assert a.n_postings == a.tf.count() == b.tf.count()
    cols = ["term_id", "doc_id", "tf", "len", "df"]
    ra = [tuple(r) for r in a.tf.select(cols).orderBy(cols).collect()]
    rb = [tuple(r) for r in b.tf.select(cols).orderBy(cols).collect()]
    assert ra == rb
    ba = blocks_from_tf(a.tf.select("term_id", "doc_id", "tf"), a.n_docs).select(
        "term_id", "block_id", "n", "first_doc", "last_doc"
    ).orderBy("term_id", "block_id").collect()
    bb = blocks_from_tf(b.tf.select("term_id", "doc_id", "tf"), b.n_docs).select(
        "term_id", "block_id", "n", "first_doc", "last_doc"
    ).orderBy("term_id", "block_id").collect()
    assert [tuple(r) for r in ba] == [tuple(r) for r in bb]


def test_load_code_corpus_bare_relative_dir(spark):
    """A bare relative parquet directory ("corpusdir", no slash, no
    .parquet suffix) must load as parquet, not be routed to
    spark.read.table — the CLI schema-sniffs such paths as parquet and
    then crashed on the table route (round-5 review finding).

    The dir must be relative to the PROCESS cwd (the JVM resolves
    relative paths against its own launch dir, same as a real CLI
    invocation), so tmp_path + chdir cannot stand in here."""
    import shutil

    from ds2s.corpus import load_code_corpus, synth_corpus

    name = "corpusdir_reltest_tmp"
    shutil.rmtree(name, ignore_errors=True)
    try:
        synth_corpus(spark).select(
            "repo", "path", "commit", "lang", "content"
        ).write.parquet(name)
        out = load_code_corpus(spark, name)
        assert out.count() == 300
        assert out.columns == [
            "doc_id", "repo", "path", "commit", "lang", "content"
        ]
    finally:
        shutil.rmtree(name, ignore_errors=True)
