"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship ranked-OR BM25 top-k over sf0.001.
``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2, each checked against a DuckDB oracle at sf0.01.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from ds2s import ann, dedup, multimodal, textops  # noqa: E402
from ds2s import oracle as O  # noqa: E402
from ds2s import oracle_text as OT  # noqa: E402
from ds2s import query as Q  # noqa: E402
from ds2s.blocks import decode_blocks_flat, index_size_report  # noqa: E402
from ds2s.corpus import load_documents  # noqa: E402
from ds2s.invert import InvertedIndex, build_index  # noqa: E402
from ds2s.manifest import IndexStore  # noqa: E402
from ds2s.queryset import DEFAULT_K  # noqa: E402
from ds2s.serve import ServingIndex  # noqa: E402

_IDX_CACHE: dict[str, InvertedIndex] = {}
_SIDX_CACHE: dict[str, ServingIndex] = {}
_STORE_CACHE: dict[str, IndexStore] = {}
_STORE_SIDX_CACHE: dict[tuple[str, bool], ServingIndex] = {}


def _store_sindex(spark: SparkSession, sf_dir: str,
                  cache_blocks: bool = True) -> ServingIndex:
    """ServingIndex round-tripped through the persisted IndexStore — the
    mmap-load analogue ([U] succinct/mapper.hpp map), promoted from
    pytest-only to a driver-checked query (round-3 verdict item 5).
    ``cache_blocks=False`` serves the same store straight off parquet."""
    import tempfile

    key = sf_dir.rstrip("/")
    if key not in _STORE_CACHE:
        out = tempfile.mkdtemp(prefix="ds2s_store_")
        store = IndexStore(out)
        # pass the serving index's (persisted) block table so the write
        # persists what was already encoded instead of re-running
        # blocks_from_tf — the real pipeline shape: encode once, write once.
        # codec= must name what those blocks were actually encoded with
        # (the ServingIndex above is codec="pef"): _index.json records it,
        # and a later resume on this store dir must not regenerate missing
        # buckets with a different codec than the ones already present.
        store.write_checkpointed(
            _index(spark, key), source=key, codec="pef",
            blocks=_sindex(spark, key).blocks,
        )
        _STORE_CACHE[key] = store
    skey = (key, cache_blocks)
    if skey not in _STORE_SIDX_CACHE:
        _STORE_SIDX_CACHE[skey] = ServingIndex.from_store(
            spark, _STORE_CACHE[key], cache_blocks=cache_blocks
        )
    return _STORE_SIDX_CACHE[skey]


def _index(spark: SparkSession, sf_dir: str) -> InvertedIndex:
    key = sf_dir.rstrip("/")
    if key not in _IDX_CACHE:
        _IDX_CACHE[key] = build_index(load_documents(spark, key), build_arrays=True)
    return _IDX_CACHE[key]


def _sindex(spark: SparkSession, sf_dir: str) -> ServingIndex:
    key = sf_dir.rstrip("/")
    if key not in _SIDX_CACHE:
        _SIDX_CACHE[key] = ServingIndex(_index(spark, sf_dir), codec="pef")
    return _SIDX_CACHE[key]


_GROUPS_CACHE: dict[str, DataFrame] = {}
_PAIRS_CACHE: dict[str, DataFrame] = {}


def _pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """minhash_lsh_pairs shared (persisted) by the standalone pairs query
    and the dup_groups closure — the signature pass is one pipeline stage
    feeding both consumers, not two independent MinHash runs."""
    key = sf_dir.rstrip("/")
    if key not in _PAIRS_CACHE:
        _PAIRS_CACHE[key] = dedup.minhash_lsh_pairs(_docs(spark, sf_dir)).persist()
    return _PAIRS_CACHE[key]


def _groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dup_groups result shared by the dup_groups and dedup_filter
    queries — the closure is one pipeline stage feeding both, not two
    independent computations (same reuse pattern as _index/_sindex)."""
    key = sf_dir.rstrip("/")
    if key not in _GROUPS_CACHE:
        docs = _docs(spark, sf_dir)
        edges = dedup.dup_edges(docs, pairs=_pairs(spark, sf_dir))
        _GROUPS_CACHE[key] = dedup.dup_groups(edges=edges).persist()
    return _GROUPS_CACHE[key]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: exhaustive BM25 ranked-OR top-k on sf0.001."""
    idx = _index(spark, "/root/testdata/sf0.001")
    return Q.ranked_or_topk(idx, Q.queries_df(spark), k=DEFAULT_K)


def _q(fn):
    def runner(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(_index(spark, sf_dir), spark)

    return runner


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    import pyspark.sql.functions as F

    return {
        "lexicon": _q(lambda idx, s: idx.lexicon.orderBy("term_id")),
        "sizes": _q(lambda idx, s: idx.sizes.orderBy("doc_id")),
        "collection_stats": _q(
            lambda idx, s: idx.sizes.agg(
                F.count("*").alias("n_docs"),
                F.round(F.sum("len") / F.count("*"), 6).alias("avg_len"),
            ).crossJoin(
                idx.tf.agg(
                    F.countDistinct("term_id").cast("long").alias("n_terms"),
                    F.count("*").alias("n_postings"),
                )
            )
        ),
        "invert_tf": _q(
            lambda idx, s: idx.tf.select("term_id", "doc_id", "tf").orderBy(
                "term_id", "doc_id"
            )
        ),
        "postings_arrays": _q(
            lambda idx, s: idx.postings.select(
                "term_id",
                F.posexplode("postings").alias("pos", "p"),
            ).select(
                "term_id",
                F.col("pos").cast("int").alias("pos"),
                F.col("p.doc").alias("doc_id"),
                F.col("p.tf").alias("tf"),
            )
        ),
        "ranked_or_topk": _q(
            lambda idx, s: Q.ranked_or_topk(idx, Q.queries_df(s), k=DEFAULT_K)
        ),
        "ranked_and_topk": _q(
            lambda idx, s: Q.ranked_and_topk(idx, Q.queries_df(s), k=DEFAULT_K)
        ),
        "and_count": _q(lambda idx, s: Q.and_count(idx, Q.queries_df(s))),
        "or_count": _q(lambda idx, s: Q.or_count(idx, Q.queries_df(s))),
        # wand/block-max metadata is emitted by the ENCODE pass itself
        # (ds2s.blocks.blocks_from_tf) — these entries verify
        # the engine's stored metadata against the independent SQL oracle
        # (the per-term max is the max of the term's block maxima)
        "wand_max": lambda spark, sf: _sindex(spark, sf)
        .blocks.groupBy("term_id")
        .agg(F.round(F.max("block_max_score"), 4).alias("max_score"))
        .orderBy("term_id"),
        "block_max": lambda spark, sf: _sindex(spark, sf)
        .blocks.select(
            "term_id", "block_id", "n", "first_doc", "last_doc",
            F.round("block_max_score", 4).alias("block_max_score"),
        )
        .orderBy("term_id", "block_id"),
        # --- compressed block table + pruned serving (ds2s.blocks / .serve) ---
        # pos is int64 in the engine (lists past 2^31 postings must not
        # wrap); cast to int here only to match the oracle's INT column at
        # sf0.01, where positions are tiny.
        "blocks_decode_check": lambda spark, sf: decode_blocks_flat(
            _sindex(spark, sf).blocks
        ).withColumn("pos", F.col("pos").cast("int")).orderBy("term_id", "pos"),
        "bmw_topk": lambda spark, sf: _sindex(spark, sf).topk(
            Q.queries_df(spark), k=DEFAULT_K, algo="bmw"
        ),
        "maxscore_topk": lambda spark, sf: _sindex(spark, sf).topk(
            Q.queries_df(spark), k=DEFAULT_K, algo="maxscore"
        ),
        "wand_topk": lambda spark, sf: _sindex(spark, sf).topk(
            Q.queries_df(spark), k=DEFAULT_K, algo="wand"
        ),
        # persistence path: write_checkpointed → from_store → BMW top-k
        # (must equal the exhaustive oracle, same as bmw_topk)
        "bmw_topk_store": lambda spark, sf: _store_sindex(spark, sf).topk(
            Q.queries_df(spark), k=DEFAULT_K, algo="bmw"
        ),
        # the same store served uncached, straight off parquet (term and
        # bucket predicates reach the file scan on every batch)
        "bmw_topk_store_nocache": lambda spark, sf: _store_sindex(
            spark, sf, cache_blocks=False
        ).topk(Q.queries_df(spark), k=DEFAULT_K, algo="bmw"),
        "index_size_report": lambda spark, sf: index_size_report(
            _sindex(spark, sf).blocks
        ),
        # --- training-data pipeline operators (ds2s.textops/.dedup/.ann/...) ---
        "token_count": lambda spark, sf: textops.token_count(_docs(spark, sf)),
        "quality_score": lambda spark, sf: textops.quality_score(_docs(spark, sf)),
        "langid": lambda spark, sf: textops.langid(_docs(spark, sf)),
        "repetition_score": lambda spark, sf: textops.repetition_score(
            _docs(spark, sf)
        ),
        "fingerprint": lambda spark, sf: textops.fingerprint(_docs(spark, sf)),
        "exact_dup_groups": lambda spark, sf: dedup.exact_dup_groups(_docs(spark, sf)),
        "jaccard_pairs": lambda spark, sf: dedup.jaccard_pairs(
            _docs(spark, sf), threshold=0.2
        ),
        "minhash_lsh_pairs": lambda spark, sf: _pairs(spark, sf),
        "simhash64": lambda spark, sf: dedup.simhash64(_docs(spark, sf)),
        # banded SimHash pair generation + exact hamming verify — recall 1
        # vs a quadratic scan for max_hamming ≤ n_bands-1 (pigeonhole;
        # property-tested), same bucket-cap semantics in the oracle
        "simhash_near_dup_pairs": lambda spark, sf: dedup.simhash_near_dup_pairs(
            _docs(spark, sf)
        ),
        "embedding_near_dup": lambda spark, sf: dedup.embedding_near_dup(
            _embs(spark, sf), threshold=0.5
        ),
        # bucketed near-dup — the 100 TB path (IVF candidates → exact
        # cosine ≥ threshold); output ⊆ the quadratic oracle by
        # construction, recall < 1 by design → rows-only driver check,
        # recall property-tested in tests/test_dedup_groups.py
        "embedding_near_dup_ann": lambda spark, sf: dedup.embedding_near_dup_ann(
            _embs(spark, sf), threshold=0.5, method="ivf"
        ),
        # full-probe configuration (nprobe = n_centroids): the candidate
        # rule admits all pairs, so the SAME bucket-join + exact-cosine
        # machinery must equal the quadratic oracle exactly — the ANN
        # path's oracle-checked twin (recall forced to 1 by construction)
        # full probe (nprobe = n_centroids) makes every cell hold the
        # whole collection by construction — disable the skew cap so the
        # machinery is compared against the quadratic oracle verbatim
        "embedding_near_dup_ann_full": lambda spark, sf: dedup.embedding_near_dup_ann(
            _embs(spark, sf), threshold=0.5, method="ivf",
            n_centroids=8, nprobe=8, max_bucket_df=0,
        ),
        # LSH-arm twin of the same idea: zero hyperplanes hash every
        # vector into ONE bucket (sign pattern of an empty plane set), so
        # the bucket self-join + exact-cosine machinery must equal the
        # quadratic oracle exactly (cap disabled — the single bucket IS
        # the whole collection by construction)
        "embedding_near_dup_ann_lsh_full": lambda spark, sf: (
            dedup.embedding_near_dup_ann(
                _embs(spark, sf), threshold=0.5, method="lsh",
                n_planes=0, n_tables=1, max_bucket_df=0,
            )
        ),
        # connected-component resolution of dup pairs (LSH ∪ exact) —
        # exact transitive closure, recursive-CTE oracle
        "dup_groups": lambda spark, sf: _groups(spark, sf),
        # the corpus-shrinking step: singletons + per-group keepers,
        # applied to the SAME closure the dup_groups query produced
        "dedup_filter": lambda spark, sf: dedup.dedup_filter(
            _docs(spark, sf), groups=_groups(spark, sf)
        ),
        "ann_bruteforce_topk": lambda spark, sf: ann.bruteforce_topk(_embs(spark, sf)),
        "ann_lsh_topk": lambda spark, sf: ann.lsh_topk(_embs(spark, sf)),
        # approximate (recall property-tested vs the brute-force oracle;
        # rows-only driver check, like ann_lsh_topk)
        "ann_ivf_topk": lambda spark, sf: ann.ivf_topk(_embs(spark, sf)),
        # full-probe twin: nprobe = n_centroids scans every cell, so the
        # IVF assignment + candidate-join + exact-cosine-topk machinery
        # must equal brute force exactly (oracle-checked)
        "ann_ivf_topk_full": lambda spark, sf: ann.ivf_topk(
            _embs(spark, sf), n_centroids=8, nprobe=8
        ),
        # zero-plane LSH probes the single all-vectors bucket, so the
        # bucketed candidate + exact-rerank machinery must equal brute
        # force exactly (oracle-checked)
        "ann_lsh_topk_full": lambda spark, sf: ann.lsh_topk(
            _embs(spark, sf), n_planes=0, n_tables=1
        ),
        "byte_histogram": lambda spark, sf: multimodal.byte_histogram(
            multimodal.media_table(_docs(spark, sf))
        ),
        "frame_sample": lambda spark, sf: multimodal.frame_sample(
            multimodal.media_table(_docs(spark, sf))
        ),
        "resize_media": lambda spark, sf: multimodal.resize_media(
            multimodal.media_table(_docs(spark, sf))
        ),
        # REAL audio-container decode: the payload is a full RIFF/WAVE
        # file (stdlib wave, 16-bit mono PCM) whose samples round-trip to
        # the document bytes, so the wav variants share the txt oracles —
        # the engine path exercises a genuine decode, the oracle
        # recomputes from text (ds2s.multimodal.wav_media_table)
        "resize_media_wav": lambda spark, sf: multimodal.resize_media(
            multimodal.wav_media_table(_docs(spark, sf))
        ),
        "byte_histogram_wav": lambda spark, sf: multimodal.byte_histogram(
            multimodal.wav_media_table(_docs(spark, sf))
        ),
        # REAL image-container decode: the payload is a complete PNG file
        # (8-bit grayscale n×1, Sub-filtered, zlib IDAT, CRC32-verified on
        # decode — parser implemented over stdlib zlib in ds2s.multimodal)
        # whose pixels round-trip to the document bytes, so the png
        # variants share the txt oracles exactly like the wav ones
        "resize_media_png": lambda spark, sf: multimodal.resize_media(
            multimodal.png_media_table(_docs(spark, sf))
        ),
        "byte_histogram_png": lambda spark, sf: multimodal.byte_histogram(
            multimodal.png_media_table(_docs(spark, sf))
        ),
        # REAL video-like container decode: the payload is a complete
        # ANIMATED GIF89a (block walk + general variable-width LZW +
        # grayscale palette mapping, implemented over the stdlib in
        # ds2s.multimodal) whose frames balanced-partition the document
        # bytes — the gif feature variants share the txt oracles, and
        # gif_frame_sample is the one frame extractor with an EXACT SQL
        # oracle (each decoded frame == a substring of the source text)
        "resize_media_gif": lambda spark, sf: multimodal.resize_media(
            multimodal.gif_media_table(_docs(spark, sf))
        ),
        "byte_histogram_gif": lambda spark, sf: multimodal.byte_histogram(
            multimodal.gif_media_table(_docs(spark, sf))
        ),
        "gif_frame_sample": lambda spark, sf: multimodal.gif_frame_sample(
            multimodal.gif_media_table(_docs(spark, sf))
        ),
    }


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir.rstrip('/')}/documents.parquet")


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir.rstrip('/')}/embeddings.parquet")


def oracle_sql() -> dict[str, str]:
    return {
        "lexicon": O.sql_lexicon(),
        "sizes": O.sql_sizes(),
        "collection_stats": O.sql_collection_stats(),
        "invert_tf": O.sql_invert_tf(),
        "postings_arrays": O.sql_postings_arrays(),
        "ranked_or_topk": O.sql_ranked_or(DEFAULT_K),
        "ranked_and_topk": O.sql_ranked_and(DEFAULT_K),
        "and_count": O.sql_and_count(),
        "or_count": O.sql_or_count(),
        "wand_max": O.sql_wand_max(),
        "block_max": O.sql_block_max(),
        # decode-all must equal the uncompressed postings (--check analogue)
        "blocks_decode_check": O.sql_postings_arrays(),
        # pruning is score-safe: BMW/MaxScore ≡ exhaustive ranked-OR
        "bmw_topk": O.sql_ranked_or(DEFAULT_K),
        "maxscore_topk": O.sql_ranked_or(DEFAULT_K),
        "wand_topk": O.sql_ranked_or(DEFAULT_K),
        # store round-trip must not change a single result
        "bmw_topk_store": O.sql_ranked_or(DEFAULT_K),
        "bmw_topk_store_nocache": O.sql_ranked_or(DEFAULT_K),
        # index_size_report: codec-dependent byte counts — rows-only check
        "token_count": OT.sql_token_count(),
        "quality_score": OT.sql_quality_score(),
        "langid": OT.sql_langid(),
        "repetition_score": OT.sql_repetition_score(),
        "fingerprint": OT.sql_fingerprint(),
        "exact_dup_groups": OT.sql_exact_dup_groups(),
        "jaccard_pairs": OT.sql_jaccard_pairs(threshold=0.2),
        "minhash_lsh_pairs": OT.sql_minhash_lsh_pairs(),
        "simhash64": OT.sql_simhash64(),
        "simhash_near_dup_pairs": OT.sql_simhash_near_dup_pairs(),
        "embedding_near_dup": OT.sql_embedding_near_dup(threshold=0.5),
        # embedding_near_dup_ann: approximate (subset-of-oracle +
        # recall property-tested) — rows-only; the _full variant probes
        # every cell and must equal the quadratic oracle exactly
        "embedding_near_dup_ann_full": OT.sql_embedding_near_dup(threshold=0.5),
        # the LSH arm's full-bucket twin (0 planes → one bucket → all
        # pairs): same quadratic oracle
        "embedding_near_dup_ann_lsh_full": OT.sql_embedding_near_dup(
            threshold=0.5
        ),
        "dup_groups": OT.sql_dup_groups(),
        "dedup_filter": OT.sql_dedup_filter(),
        "ann_bruteforce_topk": OT.sql_ann_bruteforce_topk(),
        # full-probe IVF scans every cell ⇒ must equal brute force exactly
        "ann_ivf_topk_full": OT.sql_ann_bruteforce_topk(),
        # zero-plane LSH probes the single all-vectors bucket ⇒ ditto
        "ann_lsh_topk_full": OT.sql_ann_bruteforce_topk(),
        # ann_lsh_topk: approximate (recall property-tested) — rows-only
        "byte_histogram": OT.sql_byte_histogram(),
        "resize_media": OT.sql_resize_media(),
        # wav variants: the engine decodes a real RIFF/WAVE container whose
        # PCM samples round-trip to the document bytes — same oracles as
        # the txt path by construction (the oracle never sees the wav)
        "resize_media_wav": OT.sql_resize_media(),
        "byte_histogram_wav": OT.sql_byte_histogram(),
        # png variants: real PNG encode on the engine side (decode walks
        # the container, verifies CRCs, inflates, unfilters) — pixels ≡
        # document bytes by construction, so the txt oracles apply
        "resize_media_png": OT.sql_resize_media(),
        "byte_histogram_png": OT.sql_byte_histogram(),
        # gif variants: real animated-GIF89a encode on the engine side
        # (decode is a genuine block walk + general LZW); frames
        # balanced-partition the bytes so the feature ops share the txt
        # oracles and the frame extractor checks against pure substring
        # arithmetic — the one frame-sampling op with an exact SQL oracle
        "resize_media_gif": OT.sql_resize_media(),
        "byte_histogram_gif": OT.sql_byte_histogram(),
        "gif_frame_sample": OT.sql_gif_frame_sample(),
        # frame_sample: binary payload slices — rows-only (pytest-verified)
    }
