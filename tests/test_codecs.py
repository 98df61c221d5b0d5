"""Codec round-trip property tests (SURVEY.md §5.1, FIXTURES.md F6):
adversarial monotone/positive sequences, every codec, Spark-free."""

from __future__ import annotations

import numpy as np
import pytest

from ds2s.codecs import (
    CODEC_IDS,
    decode_docs,
    decode_tfs,
    encode_docs,
    encode_tfs,
)
from ds2s.codecs.bitio import varint_decode, varint_encode
from ds2s.codecs.ef import ef_decode, ef_encode, sef_decode, sef_encode
from ds2s.codecs.pef import iseq_decode, iseq_encode, pef_decode, pef_encode

RNG = np.random.default_rng(42)


def _strict_cases():
    cases = {
        "empty": np.zeros(0, np.uint64),
        "singleton": np.array([7], np.uint64),
        "contiguous": np.arange(100, dtype=np.uint64),  # all-ones chunk
        "offset_contig": np.arange(50, 180, dtype=np.uint64),
        "len128": np.sort(RNG.choice(10_000, 128, replace=False)).astype(np.uint64),
        "len129": np.sort(RNG.choice(10_000, 129, replace=False)).astype(np.uint64),
        "len4096": np.sort(RNG.choice(1 << 20, 4096, replace=False)).astype(np.uint64),
        "sparse": np.sort(RNG.choice(1 << 32, 500, replace=False)).astype(np.uint64),
        "dense": np.sort(RNG.choice(1050, 1000, replace=False)).astype(np.uint64),
        "clustered": np.unique(
            np.concatenate(
                [np.arange(s, s + 40) for s in RNG.choice(100_000, 20) * 50]
            )
        ).astype(np.uint64),
        "zero_start": np.array([0, 1, 5, 1000], np.uint64),
    }
    return cases


@pytest.mark.parametrize("name,vals", list(_strict_cases().items()))
def test_ef_roundtrip(name, vals):
    u = int(vals[-1]) + 1 if len(vals) else 1
    dec, _, _ = ef_decode(ef_encode(vals, u))
    assert np.array_equal(dec, vals), name


@pytest.mark.parametrize("name,vals", list(_strict_cases().items()))
def test_sef_roundtrip(name, vals):
    u = int(vals[-1]) + 1 if len(vals) else 1
    dec, _ = sef_decode(sef_encode(vals, u))
    assert np.array_equal(dec, vals), name


@pytest.mark.parametrize("name,vals", list(_strict_cases().items()))
def test_iseq_roundtrip(name, vals):
    if len(vals) == 0:
        return
    u = int(vals[-1]) + 1
    dec, _ = iseq_decode(iseq_encode(vals, u))
    assert np.array_equal(dec, vals), name


@pytest.mark.parametrize("partition", ["uniform", "opt"])
@pytest.mark.parametrize("name,vals", list(_strict_cases().items()))
def test_pef_roundtrip(partition, name, vals):
    u = int(vals[-1]) + 1 if len(vals) else 1
    dec, _ = pef_decode(pef_encode(vals, u, partition=partition))
    assert np.array_equal(dec, vals), name


@pytest.mark.parametrize("codec", sorted(CODEC_IDS))
@pytest.mark.parametrize("name,vals", list(_strict_cases().items()))
def test_docs_registry_roundtrip(codec, name, vals):
    u = int(vals[-1]) + 1 if len(vals) else 1
    dec, _ = decode_docs(encode_docs(vals, u, codec))
    assert np.array_equal(dec, vals), f"{codec}/{name}"


def _tf_cases():
    return {
        "ones": np.ones(200, np.uint64),
        "one_huge": np.concatenate(
            [np.ones(127, np.uint64), np.array([1 << 30], np.uint64)]
        ),
        "mixed": RNG.integers(1, 1000, 700).astype(np.uint64),
        "single": np.array([3], np.uint64),
        "heavy_ones_with_spikes": np.where(
            RNG.random(512) < 0.95, 1, RNG.integers(100, 1 << 20, 512)
        ).astype(np.uint64),
    }


@pytest.mark.parametrize("codec", sorted(CODEC_IDS))
@pytest.mark.parametrize("name,vals", list(_tf_cases().items()))
def test_tfs_registry_roundtrip(codec, name, vals):
    dec, _ = decode_tfs(encode_tfs(vals, codec))
    assert np.array_equal(dec, vals), f"{codec}/{name}"


def test_varint_roundtrip():
    vals = np.concatenate(
        [
            np.array([0, 1, 127, 128, 16383, 16384, 1 << 62], np.uint64),
            RNG.integers(0, 1 << 40, 500).astype(np.uint64),
        ]
    )
    assert np.array_equal(varint_decode(varint_encode(vals), len(vals)), vals)


def test_random_roundtrips_seeded_sweep():
    """200 random monotone sequences across scales — every codec."""
    for trial in range(200):
        n = int(RNG.integers(1, 500))
        u = n + int(RNG.integers(0, 1 << int(RNG.integers(1, 30))))
        vals = np.sort(RNG.choice(u, n, replace=False)).astype(np.uint64)
        for codec in CODEC_IDS:
            dec, _ = decode_docs(encode_docs(vals, u, codec))
            assert np.array_equal(dec, vals), f"trial {trial} codec {codec}"


def test_interp_wins_short_and_sparse_blocks():
    """Binary interpolative coding ([U] ds2i/interpolative_coding.hpp;
    Moffat & Stuckey 2000) sits near the information-theoretic bound with
    almost no header — it must win (a) short tail blocks (every posting
    list ends in one; rare terms ARE one) and (b) sparse uniform
    128-blocks, the two shapes that dominate a Zipfian vocabulary."""
    rng = np.random.default_rng(5)
    u = 1 << 20
    short = np.sort(rng.choice(u, 8, replace=False)).astype(np.uint64)
    sizes_s = {c: len(encode_docs(short, u, c)) for c in CODEC_IDS}
    assert sizes_s["interp"] == min(sizes_s.values())

    sparse = np.sort(rng.choice(u, 128, replace=False)).astype(np.uint64)
    sizes_u = {c: len(encode_docs(sparse, u, c)) for c in CODEC_IDS}
    assert sizes_u["interp"] == min(sizes_u.values())
    assert sizes_u["interp"] < sizes_u["ef"]


def test_auto_selects_interp_on_sparse_block():
    """The per-block cost-based ``auto`` choice actually picks interp
    (codec id byte 5) when it is smallest."""
    from ds2s.blocks import _encode_one
    from ds2s.codecs import CODEC_IDS as IDS

    rng = np.random.default_rng(5)
    docs = np.sort(rng.choice(1 << 20, 128, replace=False)).astype(np.uint64)
    tfs = np.ones(128, dtype=np.uint64)
    db, _ = _encode_one(docs, tfs, 1 << 20, "auto")
    assert db[0] == IDS["interp"]
    dec, _ = decode_docs(db)
    assert np.array_equal(dec, docs)


def test_pef_beats_uniform_and_ef_on_clustered():
    """Size sanity order (BASELINE.md (b)): opt-PEF ≤ uniform-PEF on
    clustered data; EF of clustered runs worse than PEF."""
    vals = np.unique(
        np.concatenate([np.arange(s, s + 120) for s in np.arange(40) * 10_000])
    ).astype(np.uint64)
    u = int(vals[-1]) + 1
    opt = len(pef_encode(vals, u, "opt"))
    uni = len(pef_encode(vals, u, "uniform"))
    ef = len(ef_encode(vals, u))
    assert opt <= uni
    assert opt < ef


def test_indexed_bit_cost_scalar_vec_parity():
    """The optimal-partition DP uses the VECTORIZED cost model
    (_indexed_bit_cost_vec); the scalar indexed_bit_cost is its readable
    spec.  Pin them equal over a seeded grid so a future edit to either
    cannot silently diverge the DP's cost function from the documented
    semantics (round-5 review: the scalar twin had drifted out of use)."""
    from ds2s.codecs.pef import _indexed_bit_cost_vec, indexed_bit_cost

    rng = np.random.default_rng(23)
    u = rng.integers(1, 1 << 30, size=500).astype(np.int64)
    n = np.minimum(rng.integers(1, 1 << 20, size=500).astype(np.int64), u)
    # include the degenerate n == u (all-ones) and tiny shapes
    u = np.concatenate([u, [1, 2, 128, 128]])
    n = np.concatenate([n, [1, 2, 128, 1]])
    got = _indexed_bit_cost_vec(u, n)
    exp = np.array(
        [indexed_bit_cost(int(ui), int(ni)) for ui, ni in zip(u, n)],
        dtype=np.int64,
    )
    assert np.array_equal(got, exp), (got[got != exp][:5], exp[got != exp][:5])


def test_pfd_width64_roundtrip_no_warnings():
    """b=64 blocks (values needing all 64 bits) must round-trip exactly
    with NO numpy warning: 1<<64 is numpy-undefined, so the all-ones mask
    is spelled directly (round-5 review finding)."""
    import warnings

    from ds2s.codecs.pfd import pfd_decode, pfd_encode, pfd_encode_block

    v = np.array([2**63 + 7, 2**64 - 1, 5, 2**58], dtype=np.uint64)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        big = np.concatenate(
            [np.arange(200, dtype=np.uint64) * np.uint64(2**53), v]
        )
        got, _ = pfd_decode(pfd_encode(big))
        assert np.array_equal(got, big)
    # an empty block is unrepresentable (header stores n-1 in a u8) and
    # must raise, not alias to a 1-value block decoding to [0]
    with pytest.raises(ValueError, match="empty block"):
        pfd_encode_block(np.zeros(0, dtype=np.uint64))


def test_auto_codec_skips_gvb_past_u32():
    """'auto' must treat gvb's u32 limit as ineligibility, not a
    build-fatal ValueError: docIDs past 2^32 are in-contract at
    10^12-file scale (round-5 review finding)."""
    from ds2s.blocks import _encode_one
    from ds2s.codecs import decode_docs, decode_tfs

    docs = np.array([2**33, 2**33 + 5, 2**34 - 1], dtype=np.uint64)
    tfs = np.array([1, 2, 3], dtype=np.uint64)
    universe = 2**34
    db, tb = _encode_one(docs, tfs, universe, "auto")
    assert np.array_equal(decode_docs(db)[0], docs)
    assert np.array_equal(decode_tfs(tb)[0], tfs)


def test_auto_codec_fails_on_unrelated_encoder_error(monkeypatch):
    """Only gvb's u32 range error drops a codec from the 'auto' race: any
    other ValueError out of an encoder is a bug and must fail the encode,
    not silently change which codec wins."""
    from ds2s import blocks

    real = blocks.encode_docs

    def broken(values, universe, codec):
        if codec == "interp":
            raise ValueError("encoder bug")
        return real(values, universe, codec)

    monkeypatch.setattr(blocks, "encode_docs", broken)
    docs = np.array([3, 9, 40], dtype=np.uint64)
    tfs = np.array([1, 2, 3], dtype=np.uint64)
    with pytest.raises(ValueError, match="encoder bug"):
        blocks._encode_one(docs, tfs, 64, "auto")
