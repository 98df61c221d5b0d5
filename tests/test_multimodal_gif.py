"""Real GIF decode path (round-5): the video-like multi-frame modality is
now a genuine container parse — signature check, logical-screen +
color-table walk, extension skipping, and a GENERAL variable-width LZW
decoder (growing string table, KwKwK case, width schedule, deferred
clear) — implemented over the stdlib alone
(``ds2s.multimodal._gif_decode_frames``).

The construction keeps it oracle-checkable: the engine writes each
document as an animated GIF89a whose frames balanced-partition the
document bytes on an identity grayscale palette, so (a) feature
extractors over the decoded gif must equal the same extractors over the
raw text bytes (shared txt DuckDB oracles, like the wav/png paths) and
(b) every decoded frame is exactly a substring of the source text —
gif_frame_sample gets a full engine-vs-SQL parity check with no decoder
on the oracle side.
"""

from __future__ import annotations

import numpy as np
import pytest

from ds2s import multimodal as M


def _lzw_encode_general(data: bytes, min_code: int = 8) -> bytes:
    """A REAL table-building LZW encoder (unlike gif_bytes' pinned-width
    clear-per-pixel trick) so the decoder's growing-table path, width
    schedule, and KwKwK case are exercised by spec-shaped streams.

    Code sequence via the classic dictionary build; bit packing replays
    the DECODER's width-transition rule on the emitted sequence, which is
    the sync contract the spec defines (encoder and decoder grow width on
    the same code boundaries)."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    codes = [clear]
    cur = b""
    for b in data:
        nxt = cur + bytes([b])
        if nxt in table:
            cur = nxt
            continue
        codes.append(table[cur])
        if next_code < 4096:
            table[nxt] = next_code
            next_code += 1
        cur = bytes([b])
    if cur:
        codes.append(table[cur])
    codes.append(end)

    out = bytearray()
    acc = accbits = 0
    width = min_code + 1
    extras = 0
    prev_seen = False
    for c in codes:
        acc |= c << accbits
        accbits += width
        while accbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            accbits -= 8
        if c == clear:
            extras = 0
            width = min_code + 1
            prev_seen = False
        elif c != end:
            if prev_seen:
                extras += 1
                if clear + 2 + extras == (1 << width) and width < 12:
                    width += 1
            prev_seen = True
    if accbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_single_frame(pixels: bytes, lzw: bytes, *, min_code: int = 8,
                      interlace: int = 0, palette: bytes | None = None) -> bytes:
    """Assemble a one-frame GIF around an arbitrary LZW stream."""
    import struct

    w = len(pixels)
    pal = palette if palette is not None else M._GIF_GRAY_PALETTE
    return (
        b"GIF89a"
        + struct.pack("<HHBBB", w, 1, 0xF7, 0, 0)
        + pal
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, w, 1, interlace)
        + bytes([min_code]) + M._gif_sub_blocks(lzw)
        + b"\x3b"
    )


def test_gif_round_trip_golden():
    rng = np.random.default_rng(19)
    for raw in (
        b"\x00",
        b"\xff",
        b"ab",
        b"abc",
        b"hello world",
        bytes(range(256)),
        bytes([0, 255, 128, 127, 1, 254] * 100),
        rng.integers(0, 256, 70001, dtype=np.uint8).tobytes(),
    ):
        gif = M.gif_bytes(raw)
        assert gif[:6] == b"GIF89a" and gif[-1] == 0x3B
        got = M.decode_media(gif, "gif")
        assert got.dtype == np.uint8
        assert got.tobytes() == raw


def test_gif_frames_balanced_partition():
    """Frame count = min(n_frames, n); widths balanced (max spread 1);
    concatenation covers the payload exactly — the invariant the shared
    txt oracles and the gif_frame_sample substring oracle both rest on."""
    for n in (1, 2, 3, 4, 5, 7, 8, 1000, 1001, 1002, 1003):
        raw = bytes((i * 37) % 256 for i in range(n))
        frames = M._gif_decode_frames(M.gif_bytes(raw, n_frames=4))
        assert len(frames) == min(4, n)
        widths = [len(f) for f in frames]
        assert max(widths) - min(widths) <= 1
        assert sorted(widths, reverse=True) == widths
        assert b"".join(f.tobytes() for f in frames) == raw


def test_gif_general_lzw_decode():
    """Streams from a REAL table-building encoder (no clear-per-pixel)
    decode identically — growing table, width transitions at 512/1024/...,
    and the KwKwK self-reference case (leading repeat runs force it)."""
    rng = np.random.default_rng(7)
    for raw in (
        b"aaaa",  # minimal KwKwK
        b"abababababab",
        b"to be or not to be that is the question " * 20,
        bytes([5] * 4000),  # long single-symbol run, several width bumps
        rng.integers(0, 8, 3000, dtype=np.uint8).tobytes(),  # small alphabet
        rng.integers(0, 256, 2000, dtype=np.uint8).tobytes(),
    ):
        gif = _gif_single_frame(raw, _lzw_encode_general(raw))
        got = M.decode_media(gif, "gif")
        assert got.tobytes() == raw


def test_gif_adversarial_inputs_raise():
    raw = b"some payload"
    good = M.gif_bytes(raw)

    with pytest.raises(ValueError, match="signature"):
        M.decode_media(b"NOTGIF" + good[6:], "gif")
    with pytest.raises(ValueError):
        M.decode_media(good[:20], "gif")  # truncated mid-palette
    with pytest.raises(ValueError, match="trailer|truncated|ended"):
        M.decode_media(good[:-1], "gif")  # missing trailer

    # interlace flag on the image descriptor
    lzw = _lzw_encode_general(raw)
    with pytest.raises(ValueError, match="interlaced"):
        M.decode_media(_gif_single_frame(raw, lzw, interlace=0x40), "gif")

    # non-grayscale palette
    pal = bytearray(M._GIF_GRAY_PALETTE)
    pal[3 * 65 + 1] = 0  # break g channel of entry 65 ('A')
    with pytest.raises(ValueError, match="grayscale"):
        M.decode_media(_gif_single_frame(b"A", _lzw_encode_general(b"A"),
                                         palette=bytes(pal)), "gif")

    # LZW stream shorter than the frame's pixel count
    with pytest.raises(ValueError, match="ended|expected"):
        M.decode_media(
            _gif_single_frame(b"abcdef", _lzw_encode_general(b"abc")), "gif"
        )


def test_gif_operators_equal_txt_operators(spark):
    """byte_histogram / resize_media over the gif table must equal the
    same operators over the txt table (decode really reproduces the
    bytes), and gif_frame_sample rows must equal the balanced-partition
    substrings of the source text."""
    import pandas as pd

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(120)
    txt = M.media_table(docs)
    gif = M.gif_media_table(docs)

    for op in (M.byte_histogram, M.resize_media):
        a = op(txt).toPandas().sort_values(
            list(op(txt).columns)).reset_index(drop=True)
        b = op(gif).toPandas().sort_values(
            list(op(gif).columns)).reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b)

    got = M.gif_frame_sample(gif).toPandas()
    src = {r["doc_id"]: r["text"] for r in docs.collect()}
    for _, row in got.iterrows():
        text = src[row["doc_id"]].encode("utf-8")
        widths = M._gif_frame_widths(len(text), 4)
        start = sum(widths[: row["frame_id"]])
        expect = text[start : start + widths[row["frame_id"]]]
        assert row["n_px"] == len(expect)
        assert row["frame_text"].encode("utf-8") == expect
    # every non-empty doc contributes its full frame set
    n_expected = sum(
        min(4, len(t.encode("utf-8"))) for t in src.values()
        if len(t.encode("utf-8")) > 0
    )
    assert len(got) == n_expected


def test_gif_wide_payload_fits_u16_frame_widths():
    """A payload past n_frames × 65535 bytes gets more frames instead of
    a frame width that overflows the descriptor's u16: one long document
    must not fail its whole batch."""
    n = 4 * 0xFFFF + 1
    raw = bytes((i * 31) % 256 for i in range(n))
    frames = M._gif_decode_frames(M.gif_bytes(raw, n_frames=4))
    assert len(frames) == 5
    assert max(len(f) for f in frames) <= 0xFFFF
    assert b"".join(f.tobytes() for f in frames) == raw


def test_gif_frame_sample_non_ascii(spark):
    """The byte partition can split a multi-byte UTF-8 character across
    frames; gif_frame_sample must still decode every frame, and a
    document's frame texts concatenate back to the document."""
    texts = {0: "aé" * 3, 1: "日本語のテキスト", 2: "x€"}
    docs = spark.createDataFrame(
        list(texts.items()), schema="doc_id long, text string"
    )
    got = M.gif_frame_sample(M.gif_media_table(docs)).toPandas()
    for doc_id, text in texts.items():
        rows = got[got["doc_id"] == doc_id].sort_values("frame_id")
        n = len(text.encode("utf-8"))
        assert list(rows["n_px"]) == M._gif_frame_widths(n, 4)
        assert "".join(rows["frame_text"]) == text
