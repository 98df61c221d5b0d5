"""Round-5 review findings: store fingerprint/rewrite crash safety,
from_store completeness gating, cache-handle release, u32 format guard.

The store protocol under test:
  * the unit-completeness fingerprint covers the WRITE SETTINGS that
    change bytes on disk (codec override, n_buckets, the superblock size
    ``serve._SB_SIZE``), not just IndexConfig — a codec-override rerun
    must rewrite, never no-op — and its default value is pinned;
  * units about to be rewritten lose their manifest lines BEFORE their
    data dirs are overwritten — a crash mid-rewrite must read as
    "never completed" under every config;
  * from_store trusts only manifest-complete units: the derivable tier
    (superblocks) falls back to recomputation, required tables (lexicon,
    blocks buckets) fail loudly, and a unit no reader knows (an older
    store's wand_max) is ignored;
  * every table is read under the schema its manifest line recorded; a
    line without that record is stale, like a foreign fingerprint.
"""

from __future__ import annotations

import json

import pandas as pd
import pytest

from ds2s.manifest import IndexStore

N_BUCKETS = 2
TOTAL_UNITS = 3 + N_BUCKETS + 1 + 1


def _drop_unit_lines(store: IndexStore, unit: str) -> None:
    kept = [
        json.loads(l)
        for l in store.manifest_path.read_text().splitlines()
        if l.strip() and json.loads(l)["unit"] != unit
    ]
    store.manifest_path.write_text("".join(json.dumps(r) + "\n" for r in kept))


def test_codec_override_rerun_rewrites(tmp_path, spark, synth_idx):
    """write_checkpointed(codec='gvb') over a pef-written store must
    rewrite every unit (the override is part of the fingerprint), and the
    stored metadata must record the codec actually used — the old
    asdict(cfg)-only fingerprint made this a silent no-op that left
    _index.json claiming gvb over pef bytes."""
    store = IndexStore(str(tmp_path / "codecs"))
    store.write_checkpointed(
        synth_idx, source="synth", codec="pef", n_buckets=N_BUCKETS
    )
    assert store.load_meta()["codec"] == "pef"
    rewritten = store.write_checkpointed(
        synth_idx, source="synth", codec="gvb", n_buckets=N_BUCKETS
    )
    assert rewritten == TOTAL_UNITS
    assert store.load_meta()["codec"] == "gvb"
    # same args again → true no-op
    assert store.write_checkpointed(
        synth_idx, source="synth", codec="gvb", n_buckets=N_BUCKETS
    ) == 0


def test_default_write_fingerprint_pinned(tmp_path, spark, synth_idx):
    """The fingerprint of a default-config pef store at 8 buckets is
    pinned, in the hash and in what the writer records: a writer change
    that re-hashes it would mark every store on disk stale, and a resume
    would rewrite whole stores."""
    from ds2s.config import DEFAULT_CONFIG
    from ds2s.manifest import _config_fingerprint

    fp = "8fa92910af02cb85"
    assert _config_fingerprint(
        DEFAULT_CONFIG, {"codec": "pef", "n_buckets": 8, "sb_size": 128}
    ) == fp
    assert synth_idx.cfg == DEFAULT_CONFIG
    store = IndexStore(str(tmp_path / "pinned"))
    store.write_checkpointed(synth_idx, source="synth", codec="pef",
                             n_buckets=8)
    meta = store.load_meta()
    assert (meta["config_fingerprint"], meta["sb_size"]) == (fp, 128)
    assert {r["config"] for r in store.completed_units().values()} == {fp}


def test_crashed_rewrite_invalidates_stale_lines(tmp_path, spark, synth_idx,
                                                 monkeypatch):
    """Full store under config A; a rerun under config B crashes before
    the blocks overwrite completes.  A subsequent rerun under A must treat
    EVERY unit as incomplete (the stale A lines were invalidated before
    B touched the data) — the old protocol left A's bucket lines vouching
    for a dir B had already destroyed."""
    import dataclasses

    store = IndexStore(str(tmp_path / "crashb"))
    store.write_checkpointed(synth_idx, source="synth", n_buckets=N_BUCKETS)
    assert len(store.completed_units()) == TOTAL_UNITS

    cfg_b = dataclasses.replace(synth_idx.cfg, block_size=32)
    idx_b = dataclasses.replace(synth_idx, cfg=cfg_b)

    def failing_encode(*args, **kwargs):
        raise RuntimeError("injected failure in the blocks encode")

    with monkeypatch.context() as m:
        m.setattr("ds2s.manifest.blocks_from_tf", failing_encode)
        with pytest.raises(RuntimeError, match="injected failure"):
            store.write_checkpointed(idx_b, source="synth",
                                     n_buckets=N_BUCKETS)
    # no unit may still claim config-A completeness
    rewritten = store.write_checkpointed(
        synth_idx, source="synth", n_buckets=N_BUCKETS
    )
    assert rewritten == TOTAL_UNITS
    # and the healed store serves correctly
    from ds2s import query as Q
    from ds2s.serve import ServingIndex

    sidx = ServingIndex.from_store(spark, store)
    qdf = Q.queries_df(spark, rows=[(0, 0, "def"), (0, 1, "return")])
    exact = (
        Q.ranked_or_topk(synth_idx, qdf, k=5)
        .orderBy("qid", "rank").toPandas().reset_index(drop=True)
    )
    got = (
        sidx.topk(qdf, k=5, algo="bmw")
        .orderBy("qid", "rank").toPandas().reset_index(drop=True)
    )
    sidx.unpersist()
    pd.testing.assert_frame_equal(
        got.astype({"qid": "int64", "rank": "int64"}),
        exact.astype({"qid": "int64", "rank": "int64"}),
        check_exact=False, atol=1e-8,
    )


def test_legacy_fingerprint_store_rewrites_cleanly(tmp_path, spark, synth_idx):
    """A store written BEFORE the fingerprint covered write arguments
    (its manifest lines hash only asdict(cfg)) must be treated as fully
    incomplete by the new code — one deterministic full rewrite, never a
    mixed-fingerprint manifest — and converge to a no-op afterwards."""
    import hashlib
    from dataclasses import asdict

    store = IndexStore(str(tmp_path / "legacy"))
    store.write_checkpointed(synth_idx, source="synth", n_buckets=N_BUCKETS)
    legacy_fp = hashlib.sha256(
        json.dumps(dict(asdict(synth_idx.cfg)), sort_keys=True).encode()
    ).hexdigest()[:16]
    rows = [
        {**json.loads(l), "config": legacy_fp}
        for l in store.manifest_path.read_text().splitlines()
        if l.strip()
    ]
    store.manifest_path.write_text("".join(json.dumps(r) + "\n" for r in rows))

    rewritten = store.write_checkpointed(
        synth_idx, source="synth", n_buckets=N_BUCKETS
    )
    assert rewritten == TOTAL_UNITS
    fps = {r["config"] for r in store.completed_units().values()}
    assert len(fps) == 1 and legacy_fp not in fps
    assert store.write_checkpointed(
        synth_idx, source="synth", n_buckets=N_BUCKETS
    ) == 0


def test_from_store_missing_required_unit_is_loud(tmp_path, spark, synth_idx):
    """A store whose lexicon (or any blocks bucket) has no manifest line
    must refuse to serve — there is no fallback for required tables, and
    silently reading a partially-committed dir corrupts top-k."""
    from ds2s.serve import ServingIndex

    store = IndexStore(str(tmp_path / "nolex"))
    store.write_checkpointed(synth_idx, source="synth", n_buckets=N_BUCKETS)
    _drop_unit_lines(store, "lexicon")
    with pytest.raises(RuntimeError, match="incomplete.*lexicon"):
        ServingIndex.from_store(spark, store)

    store2 = IndexStore(str(tmp_path / "nobucket"))
    store2.write_checkpointed(synth_idx, source="synth", n_buckets=N_BUCKETS)
    _drop_unit_lines(store2, "blocks_bucket_1")
    with pytest.raises(RuntimeError, match="incomplete.*blocks_bucket_1"):
        ServingIndex.from_store(spark, store2)


def test_partial_wand_max_table_ignored(tmp_path, spark, synth_idx):
    """A store written when the per-term max was its own ``wand_max``
    unit still carries that dir and manifest line.  Serving derives the
    bound from the block maxima and reads no wand_max, so such a store
    loads and serves BMW equal to exhaustive ranked-OR, and a rerun of
    the writer leaves it as it is."""
    from pyspark.sql import functions as F

    from ds2s import query as Q
    from ds2s.serve import ServingIndex

    store = IndexStore(str(tmp_path / "wold"))
    store.write_checkpointed(synth_idx, source="synth", n_buckets=N_BUCKETS)
    wand = (
        store.load_table(spark, "superblocks").groupBy("term_id")
        .agg(F.max("sb_max_score").alias("max_score"))
    )
    wand.write.parquet(str(store.root / "wand_max"))
    sb_line = store.completed_units()["superblocks"]
    store._append_manifest({**sb_line, "unit": "wand_max",
                            "n_rows": wand.count(),
                            "schema": wand.schema.jsonValue()})
    assert "wand_max" in store.completed_units()

    sidx = ServingIndex.from_store(spark, store)
    qdf = Q.queries_df(
        spark, rows=[(0, 0, "def"), (0, 1, "return"), (1, 0, "class")]
    )
    exact = (
        Q.ranked_or_topk(synth_idx, qdf, k=5)
        .orderBy("qid", "rank").toPandas().reset_index(drop=True)
    )
    got = (
        sidx.topk(qdf, k=5, algo="bmw")
        .orderBy("qid", "rank").toPandas().reset_index(drop=True)
    )
    sidx.unpersist()
    pd.testing.assert_frame_equal(
        got.astype({"qid": "int64", "rank": "int64"}),
        exact.astype({"qid": "int64", "rank": "int64"}),
        check_exact=False, atol=1e-8,
    )
    assert store.write_checkpointed(
        synth_idx, source="synth", n_buckets=N_BUCKETS
    ) == 0


def test_unpersist_releases_tf_terms_cache(spark):
    """build_index(persist_tf=False) keeps tf_terms cached as tf's lazy
    upstream; the handle must travel on the index so unpersist() releases
    it — the scaling/CLI loop shape (repeated builds in one JVM) otherwise
    pins a posting-table-sized cache per build forever."""
    from ds2s.corpus import synth_corpus
    from ds2s.invert import build_index

    idx = build_index(
        synth_corpus(spark), build_arrays=False, persist_tf=False
    )
    assert idx.extra_caches, "persist_tf=False must expose the tf_terms handle"
    assert all(df.storageLevel.useMemory for df in idx.extra_caches)
    idx.unpersist()
    assert all(not df.storageLevel.useMemory for df in idx.extra_caches)


def test_binfmt_rejects_out_of_range_u32(tmp_path):
    """The ds2i binary format is u32; values ≥ 2^32 (or negative) must
    raise, not wrap into a structurally-valid-but-corrupt file."""
    import numpy as np

    from ds2s.binfmt import _write_seq, read_sequences

    p = tmp_path / "seq.docs"
    with open(p, "wb") as fh:
        _write_seq(fh, np.asarray([1, 2, 3], dtype=np.int64))
        with pytest.raises(ValueError, match="u32"):
            _write_seq(fh, np.asarray([1, 2 ** 32], dtype=np.int64))
        with pytest.raises(ValueError, match="u32"):
            _write_seq(fh, np.asarray([-1, 5], dtype=np.int64))
    # the valid prefix stays readable
    seqs = list(read_sequences(str(p)))
    assert len(seqs) == 1 and seqs[0].tolist() == [1, 2, 3]


def test_salt_stride_shared_formula():
    """build_postings and blocks_from_tf must split hot-term runs with
    the SAME stride (round-5 review: the two sites had drifted to
    (max_doc+n)//n vs (n_docs+n)//n)."""
    from ds2s.blocks import range_salt_stride

    assert range_salt_stride(100, 4) == 26
    assert range_salt_stride(0, 4) == 1
    assert range_salt_stride(3, 16) == 1
    # every doc id in [0, universe) lands in a salt < n_salt
    for universe, n in [(100, 4), (1000, 16), (7, 3)]:
        s = range_salt_stride(universe, n)
        assert (universe - 1) // s < n


def test_uncached_store_serving_prunes_buckets(tmp_path, spark, synth_idx):
    """from_store(cache_blocks=False) — the 100 TB store-serving shape —
    must (a) leave the block table un-persisted, (b) push the per-batch
    term AND bucket predicates to the parquet scan (partition-directory
    pruning on bucket=term_id%n_buckets, PushedFilters on term_id), and
    (c) stay rank-identical to the exhaustive oracle."""
    from pyspark.storagelevel import StorageLevel

    from ds2s import query as Q
    from ds2s.serve import ServingIndex

    store = IndexStore(str(tmp_path / "uncached"))
    store.write_checkpointed(synth_idx, source="synth", n_buckets=N_BUCKETS)
    sidx = ServingIndex.from_store(spark, store, cache_blocks=False)
    try:
        assert sidx.blocks.storageLevel == StorageLevel.NONE
        assert sidx._n_buckets == N_BUCKETS

        # plan-level: both predicates reach the file scan
        tids = [int(r["term_id"]) for r in sidx.lexicon.limit(3).collect()]
        plan = sidx._term_scan(tids)._jdf.queryExecution(
        ).executedPlan().toString()
        assert "PushedFilters: [In(term_id" in plan, plan
        assert "PartitionFilters: [" in plan and "bucket" in plan, plan

        qdf = Q.queries_df(spark, rows=[(0, 0, "def"), (0, 1, "return")])
        exact = (
            Q.ranked_or_topk(synth_idx, qdf, k=5)
            .orderBy("qid", "rank").toPandas().reset_index(drop=True)
        )
        for algo in ("bmw", "maxscore", "wand"):
            got = (
                sidx.topk(qdf, k=5, algo=algo)
                .orderBy("qid", "rank").toPandas().reset_index(drop=True)
            )
            pd.testing.assert_frame_equal(
                got.astype({"qid": "int64", "rank": "int64"}),
                exact.astype({"qid": "int64", "rank": "int64"}),
                check_exact=False, atol=1e-8,
            )
    finally:
        sidx.unpersist()


def _exact_equals_store(spark, idx, sidx, rows) -> None:
    from ds2s import query as Q

    qdf = Q.queries_df(spark, rows=rows)
    exact = (
        Q.ranked_or_topk(idx, qdf, k=5)
        .orderBy("qid", "rank").toPandas().reset_index(drop=True)
    )
    for algo in ("bmw", "maxscore", "wand"):
        got = (
            sidx.topk(qdf, k=5, algo=algo)
            .orderBy("qid", "rank").toPandas().reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(
            got.astype({"qid": "int64", "rank": "int64"}),
            exact.astype({"qid": "int64", "rank": "int64"}),
            check_exact=False, atol=1e-8,
        )


def test_no_token_corpus_store_serves_empty(tmp_path, spark):
    """A corpus with no tokens writes a store whose blocks dir holds no
    part file (schema inference cannot read it); the recorded schema
    reads it as an empty table, so the store completes, loads and serves
    empty results — cached and uncached."""
    from ds2s.invert import build_index
    from ds2s.query import queries_df
    from ds2s.serve import ServingIndex

    corpus = spark.createDataFrame(
        [(0, ""), (1, " ... "), (2, "!!")], schema="doc_id long, content string"
    )
    idx = build_index(corpus, build_arrays=False)
    store = IndexStore(str(tmp_path / "empty"))
    assert store.write_checkpointed(idx, source="empty",
                                    n_buckets=N_BUCKETS) == TOTAL_UNITS
    assert not list((store.root / "blocks").glob("**/*.parquet"))
    assert store.load_table(spark, "blocks").count() == 0
    qdf = queries_df(spark, rows=[(0, 0, "def"), (1, 0, "class")])
    for cache_blocks in (True, False):
        sidx = ServingIndex.from_store(spark, store, cache_blocks=cache_blocks)
        try:
            for algo in ("bmw", "maxscore", "wand"):
                assert sidx.topk(qdf, k=5, algo=algo).count() == 0
        finally:
            sidx.unpersist()


def test_schemaless_store_refused_then_rewritten(tmp_path, spark, synth_idx):
    """A store whose manifest lines carry no schema record (written before
    the record existed) is stale: from_store refuses it, naming the
    lexicon and every blocks bucket, and ONE write_checkpointed rerun
    rewrites every table unit and makes it servable."""
    from ds2s.serve import ServingIndex

    store = IndexStore(str(tmp_path / "schemaless"))
    store.write_checkpointed(synth_idx, source="synth", n_buckets=N_BUCKETS)
    rows = [
        {k: v for k, v in json.loads(l).items() if k != "schema"}
        for l in store.manifest_path.read_text().splitlines()
        if l.strip()
    ]
    store.manifest_path.write_text("".join(json.dumps(r) + "\n" for r in rows))

    with pytest.raises(RuntimeError, match="incomplete") as err:
        ServingIndex.from_store(spark, store)
    for unit in ["lexicon"] + [f"blocks_bucket_{k}" for k in range(N_BUCKETS)]:
        assert unit in str(err.value), (unit, err.value)

    # every unit but _index (which holds no table) is rewritten
    assert store.write_checkpointed(
        synth_idx, source="synth", n_buckets=N_BUCKETS
    ) == TOTAL_UNITS - 1
    assert all("schema" in r for u, r in store.completed_units().items()
               if u != "_index")
    sidx = ServingIndex.from_store(spark, store)
    try:
        _exact_equals_store(spark, synth_idx, sidx,
                            [(0, 0, "def"), (0, 1, "return"), (1, 0, "class")])
    finally:
        sidx.unpersist()
    assert store.write_checkpointed(
        synth_idx, source="synth", n_buckets=N_BUCKETS
    ) == 0


def _parquet_files(root) -> list:
    return sorted(p for p in root.rglob("*.parquet") if p.is_file())


def test_store_footprint(tmp_path, spark, synth_idx):
    """A fresh store writes only what the codecs encode: ``term_id``
    keeps its min/max stats in every blocks file (the ``term_id IN``
    row-group pruning), the payload blobs carry no statistics and no
    column index, every doc-length blob is OptPFD, and the corpus
    manifest stores each sha256 as a 32-byte binary digest."""
    import hashlib

    import pyarrow.parquet as pq

    from ds2s.codecs import CODEC_IDS

    store = IndexStore(str(tmp_path / "footprint"))
    store.write_checkpointed(synth_idx, source="synth", n_buckets=N_BUCKETS)
    block_files = _parquet_files(store.root / "blocks")
    assert block_files
    for f in block_files:
        md = pq.ParquetFile(f).metadata
        names = [md.schema.column(j).name for j in range(md.num_columns)]
        for rg in range(md.num_row_groups):
            cols = {names[j]: md.row_group(rg).column(j)
                    for j in range(md.num_columns)}
            tid = cols["term_id"]
            assert tid.is_stats_set and tid.statistics.has_min_max, f
            for payload in ("doc_bytes", "tf_bytes", "len_bytes"):
                c = cols[payload]
                assert not c.is_stats_set, (f, payload)
                assert not c.has_column_index, (f, payload)
        lens = pq.ParquetFile(f).read(columns=["len_bytes"]).column(0)
        assert {b[0] for b in lens.to_pylist()} == {CODEC_IDS["optpfd"]}, f

    content = dict(synth_idx.corpus.select("doc_id", "content").toPandas()
                   .itertuples(index=False))
    for f in _parquet_files(store.root / "corpus_manifest"):
        pf = pq.ParquetFile(f)
        field = pf.schema_arrow.field("content_sha256")
        assert str(field.type) == "binary", field
        for rg in range(pf.metadata.num_row_groups):
            assert not pf.metadata.row_group(rg).column(1).is_stats_set, f
        for r in pf.read().to_pylist():
            assert r["content_sha256"] == hashlib.sha256(
                content[r["doc_id"]].encode()).digest(), r["doc_id"]


def test_older_store_format_loads_and_serves(tmp_path, spark, synth_idx):
    """A store in the format written before OptPFD lengths and binary
    digests — one bucket's ``len_bytes`` in group varint, the corpus
    manifest's sha256 as 64-char hex strings under a ``string`` schema
    record — loads uncached with no rewrite, serves bmw/maxscore/wand
    equal to ``ranked_or_topk``, verifies clean and still catches a
    tampered row."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from ds2s.codecs import CODEC_IDS, decode_tfs, encode_tfs
    from ds2s.serve import ServingIndex

    store = IndexStore(str(tmp_path / "older"))
    store.write_checkpointed(synth_idx, source="synth", n_buckets=N_BUCKETS)

    def rewrite(f, name: str, values, typ) -> None:
        t = pq.ParquetFile(f).read()
        t = t.set_column(t.schema.get_field_index(name), name,
                         pa.array(values, type=typ))
        pq.write_table(t, f)
        f.with_name(f".{f.name}.crc").unlink(missing_ok=True)

    # the bucket holding "def", the first term of every batch below
    tid = synth_idx.lexicon.filter(F.col("term") == "def").first()["term_id"]
    bucket = store.root / "blocks" / f"bucket={tid % N_BUCKETS}"
    for f in _parquet_files(bucket):
        blobs = pq.ParquetFile(f).read(columns=["len_bytes"]).column(0)
        rewrite(f, "len_bytes",
                [encode_tfs(decode_tfs(b)[0], "gvb") for b in blobs.to_pylist()],
                pa.binary())
        assert {b[0] for b in pq.ParquetFile(f).read(columns=["len_bytes"])
                .column(0).to_pylist()} == {CODEC_IDS["gvb"]}
    for f in _parquet_files(store.root / "corpus_manifest"):
        digests = pq.ParquetFile(f).read(columns=["content_sha256"]).column(0)
        rewrite(f, "content_sha256", [d.hex() for d in digests.to_pylist()],
                pa.string())
    units = store.completed_units()
    for field in units["corpus_manifest"]["schema"]["fields"]:
        if field["name"] == "content_sha256":
            field["type"] = "string"
    store._rewrite_manifest(units)

    assert store.write_checkpointed(
        synth_idx, source="synth", n_buckets=N_BUCKETS) == 0
    sidx = ServingIndex.from_store(spark, store, cache_blocks=False)
    try:
        _exact_equals_store(spark, synth_idx, sidx,
                            [(0, 0, "def"), (0, 1, "return"), (1, 0, "def"),
                             (1, 1, "class"), (2, 0, "def"), (2, 1, "var0")])
    finally:
        sidx.unpersist()
    assert store.verify_sha256(synth_idx.corpus) == 0
    tampered = synth_idx.corpus.withColumn(
        "content",
        F.when(F.col("doc_id") == 3, F.lit("EVIL")).otherwise(F.col("content")),
    )
    assert store.verify_sha256(tampered) == 1


@pytest.mark.parametrize("lost", ["blocks_bucket", "lexicon"])
def test_lost_unit_dir_refused_then_rewritten(tmp_path, spark, synth_idx,
                                              lost):
    """A unit whose line is current but whose directory is gone is not
    complete, for the writer and for ``from_store`` alike: the load
    refuses the store naming the unit, ONE rerun rewrites it (every
    bucket, for a blocks bucket: one physical write), the healed store
    serves bmw/maxscore/wand equal to ``ranked_or_topk``, and a further
    rerun writes nothing."""
    import shutil

    from ds2s.serve import ServingIndex

    store = IndexStore(str(tmp_path / "lost"))
    store.write_checkpointed(synth_idx, source="synth", n_buckets=N_BUCKETS)
    units = store.completed_units()
    if lost == "blocks_bucket":
        name = next(f"blocks_bucket_{k}" for k in range(N_BUCKETS)
                    if units[f"blocks_bucket_{k}"]["n_rows"] > 0)
        rewrites = N_BUCKETS
    else:
        name, rewrites = "lexicon", 1
    shutil.rmtree(store.unit_path(name))

    with pytest.raises(RuntimeError, match=f"incomplete.*{name}"):
        ServingIndex.from_store(spark, store)
    assert store.write_checkpointed(
        synth_idx, source="synth", n_buckets=N_BUCKETS) == rewrites
    assert store.completed_units()[name]["n_rows"] == units[name]["n_rows"]
    sidx = ServingIndex.from_store(spark, store)
    try:
        _exact_equals_store(spark, synth_idx, sidx,
                            [(0, 0, "def"), (0, 1, "return"), (1, 0, "class"),
                             (2, 0, "var0")])
    finally:
        sidx.unpersist()
    assert store.write_checkpointed(
        synth_idx, source="synth", n_buckets=N_BUCKETS) == 0


def _assert_rows_recorded(spark, store: IndexStore) -> None:
    """Every table unit's recorded ``n_rows`` equals its table's row
    count, read through ``load_table`` (blocks per bucket)."""
    per_bucket = dict(store.load_table(spark, "blocks")
                      .groupBy("bucket").count().collect())
    for name, row in store.completed_units().items():
        if name == "_index":
            continue
        if name.startswith("blocks_bucket_"):
            n = per_bucket.get(int(name.rsplit("_", 1)[1]), 0)
        else:
            n = store.load_table(spark, name).count()
        assert row["n_rows"] == n, (name, row["n_rows"], n)


def test_recorded_rows_equal_table_rows(tmp_path, spark, synth_idx):
    """The writer takes ``n_rows`` from the parquet footers of the files
    it wrote; they must equal the tables' row counts on the synth store,
    on a store with empty buckets (2 terms over 4 buckets: an empty
    bucket records 0 rows and 0 bytes) and on the no-token store."""
    from ds2s.invert import build_index

    store = IndexStore(str(tmp_path / "synth"))
    store.write_checkpointed(synth_idx, source="synth", n_buckets=N_BUCKETS)
    _assert_rows_recorded(spark, store)

    two_terms = build_index(spark.createDataFrame(
        [(0, "alpha beta"), (1, "beta")], schema="doc_id long, content string"),
        build_arrays=False)
    store = IndexStore(str(tmp_path / "two_terms"))
    store.write_checkpointed(two_terms, source="two_terms", n_buckets=4)
    _assert_rows_recorded(spark, store)
    buckets = [store.completed_units()[f"blocks_bucket_{k}"]
               for k in range(4)]
    assert sum(r["n_rows"] for r in buckets) == 2
    assert any(r["n_rows"] == 0 == r["bytes"] for r in buckets)

    no_tokens = build_index(spark.createDataFrame(
        [(0, ""), (1, " ... ")], schema="doc_id long, content string"),
        build_arrays=False)
    store = IndexStore(str(tmp_path / "no_tokens"))
    store.write_checkpointed(no_tokens, source="empty", n_buckets=N_BUCKETS)
    _assert_rows_recorded(spark, store)
    assert store.completed_units()["sizes"]["n_rows"] == 2


def test_store_write_jobs_run_in_callers_group(tmp_path, spark, synth_idx):
    """Every Spark job of a store write, the ones its pool threads submit
    included, lands in the caller's job group: the jobs between two marker
    jobs are exactly the group's.  A synth store write of an encoded
    block table runs at most 8 jobs (5 table writes; the lexicon's range
    sample and shuffle; the superblock aggregate's shuffle), and at most
    12 when it encodes the blocks itself.  ``idx.sizes`` is a lazy cache
    whose first reader fills it; it is filled first, so only the write's
    own jobs are counted."""
    from ds2s.serve import ServingIndex

    sc = spark.sparkContext

    def marker() -> int:
        sc.setJobGroup("store-write-marker", "job-id marker")
        try:
            sc.parallelize([0], 1).count()
        finally:
            sc.setJobGroup(None, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return max(sc.statusTracker().getJobIdsForGroup("store-write-marker"))

    synth_idx.sizes.count()
    sidx = ServingIndex(synth_idx, codec="pef")
    sidx.blocks.count()
    try:
        for blocks, bound in ((sidx.blocks, 8), (None, 12)):
            store = IndexStore(str(tmp_path / f"jobs_{bound}"))
            group = f"store-write-{bound}"
            first = marker()
            sc.setJobGroup(group, "store write")
            try:
                assert store.write_checkpointed(
                    synth_idx, source="synth", codec="pef",
                    blocks=blocks) == 13
            finally:
                sc.setJobGroup(None, None)
            last = marker()
            jobs = set(sc.statusTracker().getJobIdsForGroup(group))
            assert jobs == set(range(first + 1, last)), (jobs, first, last)
            assert 0 < len(jobs) <= bound, (bound, len(jobs))
    finally:
        sidx.unpersist()
