"""Multimodal column plumbing: opaque binary media + typed metadata.

A 100 TB training-data pipeline carries image/audio/video as opaque
``binary`` columns with typed metadata and runs decode / feature-extract
as Arrow-batched UDFs.  Three container formats decode for REAL with the
stdlib alone — ``wav`` (RIFF/WAVE, 16-bit mono PCM via ``wave``), ``png``
(8-bit grayscale: chunk walk + CRC32 + zlib inflate + vectorized scanline
unfiltering, implemented here) and ``gif`` (animated GIF89a: block walk +
general variable-width LZW + palette mapping, implemented here — the
video-like multi-frame path) — while jpeg/mp4, whose decoders need codec
libraries absent from this sandbox, stay a clearly-marked loud stub.  Everything Spark-side — schema, batching, partitioning, UDF
signatures — is real and tested on every path.

``byte_histogram`` is a REAL feature extractor (bucketed byte histogram of
the payload, numpy over Arrow batches) with an exact DuckDB oracle on the
ASCII corpus (codepoints == bytes, verified in FIXTURES.md).

Scale: narrow per-row transforms; media payloads never hit the driver;
batch size is bounded by Arrow's maxRecordsPerBatch so a partition of
large blobs streams through the Python worker.

SIZING INVARIANT (round-3 advice): ds2s.session disables Spark 4's
per-row BYTE-based Arrow batch sizing (the Int.MaxValue sentinel on
spark.sql.execution.arrow.maxBytesPerBatch — see session.py for why), so
batches here are bounded ONLY by maxRecordsPerBatch (default 10k rows).
The sandbox media payloads are ≤ ~2 KB/row; a production pipeline pushing
multi-MB blobs through these stages MUST lower
spark.sql.execution.arrow.maxRecordsPerBatch (e.g. to 64) — 10k × 5 MB
rows would build a 50 GB batch and trip Arrow's 2 GB buffer limits.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import round_half_up

N_BUCKETS = 16

# formats decode_media can actually decode (it raises on anything else):
# txt = raw utf-8 bytes; wav = REAL RIFF/WAVE container, 16-bit mono PCM
# via the stdlib wave module; png = REAL PNG container, 8-bit grayscale,
# parsed and unfiltered here over stdlib zlib (signature + chunk walk +
# CRC32 verification + inflate + scanline filter reversal — no codec
# library needed); gif = REAL animated GIF89a, general LZW decode +
# grayscale palette mapping, frames in stream order.  jpeg/mp4 remain
# the declared loud stub.
SUPPORTED_FORMATS = ("txt", "wav", "png", "gif")

WAV_FRAMERATE = 16000


def media_table(documents: DataFrame, fmt: str = "txt") -> DataFrame:
    """documents → (doc_id, media binary, meta struct<format,n_bytes>).

    In production this is the Iceberg media table (binary column + typed
    metadata); here the payload is the utf-8 document text."""
    media = F.encode("text", "utf-8")
    return documents.select(
        "doc_id",
        media.alias("media"),
        F.struct(
            F.lit(fmt).alias("format"),
            F.octet_length("text").alias("n_bytes"),
        ).alias("meta"),
    )


def _pcm16_from_bytes(raw: bytes) -> bytes:
    """utf-8 bytes → 16-bit mono PCM frames: byte b becomes sample
    ``(b - 128) << 8`` (int16 LE).  The mapping is exactly inverted by
    ``(sample >> 8) + 128``, so a decoded wav payload reproduces the
    source bytes bit-for-bit — which lets the wav variants of
    resize_media / byte_histogram share the txt operators' DuckDB oracles
    (the oracle recomputes from ``text``; the engine round-trips through
    a real audio container)."""
    arr = np.frombuffer(raw, dtype=np.uint8).astype(np.int16)
    return (((arr - 128) << 8).astype("<i2")).tobytes()


def wav_bytes(raw: bytes, framerate: int = WAV_FRAMERATE) -> bytes:
    """One payload → a complete RIFF/WAVE file (stdlib ``wave`` writer):
    16-bit mono PCM whose samples derive from the payload bytes
    (``_pcm16_from_bytes``)."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(framerate)
        w.writeframes(_pcm16_from_bytes(raw))
    return buf.getvalue()


def wav_media_table(documents: DataFrame,
                    framerate: int = WAV_FRAMERATE) -> DataFrame:
    """documents → (doc_id, media, meta) where ``media`` is a REAL WAV
    file (RIFF header + fmt/data chunks + 16-bit mono PCM) built from the
    document bytes — the audio-modality stand-in whose *decode* step is a
    genuine container parse, not a passthrough.  Same schema contract as
    ``media_table``; narrow mapInPandas (payloads never hit the driver)."""

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                wav_bytes(t.encode("utf-8"), framerate) for t in pdf["text"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media": payloads,
                    "meta": [
                        {"format": "wav", "n_bytes": len(p)} for p in payloads
                    ],
                }
            )

    return documents.select("doc_id", "text").mapInPandas(
        build,
        schema="doc_id long, media binary, "
        "meta struct<format:string, n_bytes:long>",
    )


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def png_bytes(raw: bytes) -> bytes:
    """One payload (n ≥ 1 bytes) → a complete, spec-valid PNG file:
    8-bit grayscale, one ``n``×1 scanline, filter type 1 (Sub), zlib IDAT,
    CRC32 on every chunk.  Sub-filtering is the vectorized byte delta
    (``np.diff`` with uint8 wraparound), so encode stays O(n) numpy — no
    per-pixel Python.  The image decodes back to exactly ``raw`` (the
    Sub reversal is a cumsum mod 256), which lets the png variants of
    byte_histogram / resize_media share the txt operators' DuckDB oracles
    the same way the wav path does."""
    import struct
    import zlib

    n = len(raw)
    if n == 0:
        # PNG forbids 0-dimension images (IHDR width/height ≥ 1); callers
        # (png_media_table) drop empty payloads instead — downstream
        # operators emit no rows for empty payloads either way
        raise ValueError("png_bytes: empty payload has no PNG representation")
    arr = np.frombuffer(raw, dtype=np.uint8)
    filt = np.diff(arr, prepend=np.uint8(0))  # uint8 wraparound == mod 256
    scanline = b"\x01" + filt.tobytes()
    ihdr = struct.pack(">IIBBBBB", n, 1, 8, 0, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(scanline))
        + _png_chunk(b"IEND", b"")
    )


def _png_decode(data: bytes) -> np.ndarray:
    """REAL PNG decode over stdlib zlib: validate the signature, walk the
    chunk stream verifying each CRC32, parse IHDR (8-bit grayscale,
    non-interlaced only — the subset this pipeline writes), concatenate
    IDAT segments, inflate, and reverse per-scanline filters.

    Filters 0 (None), 1 (Sub) and 2 (Up) are supported; Sub reversal is a
    vectorized cumsum mod 256 and Up reversal a vectorized add to the
    prior reconstructed row, so decode is O(pixels) numpy with a Python
    loop only over scanlines (our tables write height=1).  Anything the
    subset excludes — palette/color types, bit depths ≠ 8, interlace,
    filters 3/4 — raises rather than silently mis-decodes."""
    import struct
    import zlib

    if data[:8] != _PNG_SIG:
        raise ValueError("png: bad signature")
    pos = 8
    width = height = None
    idat = bytearray()
    seen_iend = False
    while pos + 12 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        if len(payload) != length:
            raise ValueError("png: truncated chunk")
        (crc,) = struct.unpack(
            ">I", data[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(tag + payload) & 0xFFFFFFFF != crc:
            raise ValueError(f"png: CRC mismatch in {tag!r}")
        if tag == b"IHDR":
            width, height, depth, color, comp, filt, inter = struct.unpack(
                ">IIBBBBB", payload
            )
            if depth != 8 or color != 0 or comp != 0 or filt != 0 or inter != 0:
                raise ValueError(
                    "png: only 8-bit non-interlaced grayscale is supported "
                    f"(depth={depth} color={color} interlace={inter})"
                )
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            seen_iend = True
            break
        pos += 12 + length
    if width is None or not seen_iend:
        raise ValueError("png: missing IHDR or IEND")
    rows = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    if rows.size != height * (width + 1):
        raise ValueError("png: IDAT size does not match dimensions")
    rows = rows.reshape(height, width + 1)
    ftype, filt_rows = rows[:, 0], rows[:, 1:]
    out = np.empty((height, width), dtype=np.uint8)
    prev = np.zeros(width, dtype=np.uint8)
    for r in range(height):
        t = int(ftype[r])
        if t == 0:
            rec = filt_rows[r]
        elif t == 1:  # Sub: recon[i] = filt[i] + recon[i-1] (bpp=1)
            rec = (
                np.cumsum(filt_rows[r].astype(np.int64)) % 256
            ).astype(np.uint8)
        elif t == 2:  # Up: recon[i] = filt[i] + prior_row[i]
            rec = filt_rows[r] + prev  # uint8 wraparound == mod 256
        else:
            raise ValueError(f"png: filter type {t} not supported")
        out[r] = rec
        prev = rec
    return out.reshape(-1)


def png_media_table(documents: DataFrame) -> DataFrame:
    """documents → (doc_id, media, meta) where ``media`` is a REAL PNG
    file (8-bit grayscale ``n``×1, Sub-filtered, zlib-compressed, CRC'd)
    built from the document bytes — the image-modality stand-in whose
    decode step is a genuine container parse + unfilter, not a
    passthrough.  Same schema contract as ``media_table``; narrow
    mapInPandas, payloads never hit the driver.

    Empty documents are dropped (PNG forbids 0-dimension images); the
    downstream operators emit no rows for empty payloads on any path, so
    outputs — and the shared txt oracles — are unchanged by the drop."""

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [png_bytes(t.encode("utf-8")) for t in pdf["text"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media": payloads,
                    "meta": [
                        {"format": "png", "n_bytes": len(p)} for p in payloads
                    ],
                }
            )

    return (
        documents.filter(F.octet_length("text") > 0)
        .select("doc_id", "text")
        .mapInPandas(
            build,
            schema="doc_id long, media binary, "
            "meta struct<format:string, n_bytes:long>",
        )
    )


_GIF_SIGS = (b"GIF87a", b"GIF89a")
# 256-entry identity grayscale palette (r=g=b=index): pixel value == byte
_GIF_GRAY_PALETTE = bytes(v for g in range(256) for v in (g, g, g))
# singleton byte strings for LZW root codes (shared across decodes so a
# clear code costs O(1), not a 256-entry table rebuild)
_LZW_SINGLES = tuple(bytes([i]) for i in range(256))


def _gif_sub_blocks(data: bytes) -> bytes:
    """Wrap raw bytes into GIF data sub-blocks (≤255 bytes each, zero
    terminator)."""
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def _gif_lzw_pack9(codes: np.ndarray) -> bytes:
    """Vectorized LSB-first packing of fixed 9-bit LZW codes (the width
    the clear-per-pixel encoder keeps constant — a clear resets the
    decoder's table before it can ever grow past code 257)."""
    bits = np.unpackbits(
        codes.astype("<u2").view(np.uint8).reshape(-1, 2),
        axis=1,
        bitorder="little",
    )[:, :9].reshape(-1)
    pad = (-bits.size) % 8
    if pad:
        bits = np.concatenate([bits, np.zeros(pad, dtype=np.uint8)])
    return np.packbits(
        bits.reshape(-1, 8), axis=1, bitorder="little"
    ).tobytes()


# a frame's width is a u16 in the image descriptor (and the logical screen)
_GIF_MAX_WIDTH = 0xFFFF


def _gif_frame_widths(n: int, n_frames: int) -> list[int]:
    """Balanced partition of n payload bytes into min(n_frames, n) frames
    — more when a frame would pass the u16 width limit, so every width
    fits — frames COVER the payload exactly (unlike frame_sample's
    declared prefix semantics), so decode-concat reproduces the source
    bytes and the gif operators can share the txt oracles."""
    k = max(min(n_frames, n), -(-n // _GIF_MAX_WIDTH))
    base, rem = divmod(n, k)
    return [base + 1 if i < rem else base for i in range(k)]


def gif_bytes(raw: bytes, n_frames: int = 4) -> bytes:
    """One payload (n ≥ 1 bytes) → a complete, spec-valid ANIMATED GIF89a:
    ``_gif_frame_widths`` frames (min(n_frames, n) while each fits the
    u16 width) of 8-bit pixels on the identity grayscale
    global palette, each frame a w×1 strip holding a balanced-partition
    slice of the payload, LZW-coded with a clear code before every pixel
    (code width pinned at 9 bits; vectorized bit packing — no per-pixel
    Python in the hot path).  Frames concatenate back to exactly ``raw``,
    which lets the gif variants of byte_histogram / resize_media share
    the txt operators' DuckDB oracles like the wav and png paths, and
    gives gif_frame_sample an exact substring oracle."""
    import struct

    n = len(raw)
    if n == 0:
        raise ValueError("gif_bytes: empty payload has no GIF representation")
    widths = _gif_frame_widths(n, n_frames)
    parts = [
        b"GIF89a",
        # logical screen: widest frame × 1; 0xF7 = global table present,
        # color resolution 8, 2^(7+1) = 256 entries
        struct.pack("<HHBBB", max(widths), 1, 0xF7, 0, 0),
        _GIF_GRAY_PALETTE,
    ]
    pos = 0
    for w in widths:
        chunk = np.frombuffer(raw[pos : pos + w], dtype=np.uint8)
        pos += w
        # graphic control extension: 4 centiseconds, no transparency
        parts.append(b"\x21\xf9\x04\x00\x04\x00\x00\x00")
        # image descriptor at (0,0), w×1, no local table, not interlaced
        parts.append(b"\x2c" + struct.pack("<HHHHB", 0, 0, w, 1, 0))
        codes = np.empty(2 * w + 1, dtype=np.uint16)
        codes[0 : 2 * w : 2] = 256  # CLEAR
        codes[1 : 2 * w : 2] = chunk
        codes[-1] = 257  # END
        parts.append(b"\x08" + _gif_sub_blocks(_gif_lzw_pack9(codes)))
    parts.append(b"\x3b")
    return b"".join(parts)


def _gif_lzw_decode(min_code_size: int, data: bytes, n_expected: int) -> bytes:
    """General GIF-LZW decode (variable code width 〈min+1 … 12〉, growing
    string table, deferred-clear convention) — not just the clear-heavy
    subset gif_bytes emits; any spec-conforming stream decodes.  LSB-first
    bit reader over an int accumulator; output accumulates as a list of
    table entries joined once."""
    if not 2 <= min_code_size <= 8:
        raise ValueError(f"gif: bad LZW min code size {min_code_size}")
    clear = 1 << min_code_size
    end = clear + 1
    singles = _LZW_SINGLES[:clear]
    width = min_code_size + 1
    extras: list[bytes] = []  # codes ≥ clear+2, reset on CLEAR
    prev: bytes | None = None
    out: list[bytes] = []
    produced = 0
    acc = accbits = ptr = 0
    nbytes = len(data)
    while True:
        while accbits < width:
            if ptr >= nbytes:
                raise ValueError("gif: LZW stream ended before END code")
            acc |= data[ptr] << accbits
            accbits += 8
            ptr += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        accbits -= width
        if code == clear:
            extras = []
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if code < clear:
            entry = singles[code]
        elif code - clear - 2 < len(extras):
            entry = extras[code - clear - 2]
        elif code == clear + 2 + len(extras) and prev is not None:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError(f"gif: LZW code {code} out of range")
        out.append(entry)
        produced += len(entry)
        if produced > n_expected:
            raise ValueError("gif: LZW output exceeds frame dimensions")
        if prev is not None:
            extras.append(prev + entry[:1])
            # grow width when the NEXT code would overflow it (max 12;
            # a full table defers to the stream's own CLEAR)
            if clear + 2 + len(extras) == (1 << width) and width < 12:
                width += 1
        prev = entry
    return b"".join(out)


def _gif_decode_frames(data: bytes) -> list[np.ndarray]:
    """REAL GIF decode over the stdlib alone: validate the signature,
    parse the logical screen descriptor and global color table, walk the
    block stream (extensions skipped by sub-block traversal), and for
    each image descriptor run the general LZW decoder and map indices
    through the active (local-over-global) color table.

    Subset discipline, like the png path: interlaced frames and
    non-grayscale palettes raise rather than silently mis-decode; frame
    compositing (disposal methods) is out of scope — frames return as
    independent pixel strips in stream order, the feature-extractor
    reading, not a renderer's."""
    import struct

    if data[:6] not in _GIF_SIGS:
        raise ValueError("gif: bad signature")
    if len(data) < 13:
        raise ValueError("gif: truncated header")
    _, _, packed, _, _ = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    global_pal = None
    if packed & 0x80:
        size = 3 * (2 << (packed & 0x07))
        global_pal = data[pos : pos + size]
        if len(global_pal) != size:
            raise ValueError("gif: truncated global color table")
        pos += size

    def gray_palette(raw_pal: bytes) -> np.ndarray:
        pal = np.frombuffer(raw_pal, dtype=np.uint8).reshape(-1, 3)
        if not (pal[:, 0] == pal[:, 1]).all() or not (
            pal[:, 0] == pal[:, 2]
        ).all():
            raise ValueError(
                "gif: only grayscale palettes are supported (r==g==b)"
            )
        return pal[:, 0]

    frames: list[np.ndarray] = []
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            return frames
        if block == 0x21:  # extension: label + sub-blocks
            pos += 1
            while True:
                if pos >= len(data):
                    raise ValueError("gif: truncated extension")
                n = data[pos]
                pos += 1 + n
                if n == 0:
                    break
            continue
        if block != 0x2C:
            raise ValueError(f"gif: unexpected block 0x{block:02x}")
        if pos + 9 > len(data):
            raise ValueError("gif: truncated image descriptor")
        _, _, w, h, ipacked = struct.unpack("<HHHHB", data[pos : pos + 9])
        pos += 9
        if ipacked & 0x40:
            raise ValueError("gif: interlaced frames are not supported")
        pal_bytes = global_pal
        if ipacked & 0x80:
            size = 3 * (2 << (ipacked & 0x07))
            pal_bytes = data[pos : pos + size]
            if len(pal_bytes) != size:
                raise ValueError("gif: truncated local color table")
            pos += size
        if pal_bytes is None:
            raise ValueError("gif: frame has no color table")
        if pos >= len(data):
            raise ValueError("gif: missing LZW min code size")
        min_code = data[pos]
        pos += 1
        lzw = bytearray()
        while True:
            if pos >= len(data):
                raise ValueError("gif: truncated image data")
            n = data[pos]
            pos += 1
            if n == 0:
                break
            lzw += data[pos : pos + n]
            pos += n
        idx = np.frombuffer(
            _gif_lzw_decode(min_code, bytes(lzw), w * h), dtype=np.uint8
        )
        if idx.size != w * h:
            raise ValueError(
                f"gif: frame decoded {idx.size} pixels, expected {w * h}"
            )
        pal = gray_palette(pal_bytes)
        if int(idx.max(initial=0)) >= pal.size:
            raise ValueError("gif: pixel index outside color table")
        frames.append(pal[idx])
    raise ValueError("gif: missing trailer")


def _gif_decode(data: bytes) -> np.ndarray:
    frames = _gif_decode_frames(data)
    if not frames:
        return np.empty(0, dtype=np.uint8)
    return np.concatenate(frames)


def gif_media_table(documents: DataFrame, n_frames: int = 4) -> DataFrame:
    """documents → (doc_id, media, meta) where ``media`` is a REAL
    animated GIF89a whose frames balanced-partition the document bytes —
    the video-modality stand-in whose frame extraction is a genuine
    container parse + general LZW decode.  Same schema contract as
    ``media_table``; narrow mapInPandas, payloads never hit the driver.
    Empty documents are dropped (mirrors png_media_table)."""

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                gif_bytes(t.encode("utf-8"), n_frames) for t in pdf["text"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media": payloads,
                    "meta": [
                        {"format": "gif", "n_bytes": len(p)} for p in payloads
                    ],
                }
            )

    return (
        documents.filter(F.octet_length("text") > 0)
        .select("doc_id", "text")
        .mapInPandas(
            build,
            schema="doc_id long, media binary, "
            "meta struct<format:string, n_bytes:long>",
        )
    )


def gif_frame_sample(media: DataFrame) -> DataFrame:
    """(doc_id, frame_id, n_px, frame_text) — REAL video-style frame
    sampling: parse each GIF container, LZW-decode every frame, and emit
    one row per frame with its pixel count and pixels-as-utf8 text.

    Because gif_media_table's frames balanced-partition the document
    bytes, frame i of a doc is exactly a substring of the source text —
    an exact DuckDB oracle (no decoder on the oracle side), making this
    the one frame-extraction operator with full engine-vs-SQL parity.

    The byte partition may split a multi-byte UTF-8 character; its bytes
    then count in the pixels of both frames, and its text belongs to the
    frame it ends in, so a document's frame texts concatenate back to the
    document."""
    import codecs

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "frame_id": [], "n_px": [], "frame_text": []}
            for doc_id, media_bytes in zip(pdf["doc_id"], pdf["media"]):
                frames = _gif_decode_frames(bytes(media_bytes))
                text = codecs.getincrementaldecoder("utf-8")()
                for i, fr in enumerate(frames):
                    out["doc_id"].append(doc_id)
                    out["frame_id"].append(i)
                    out["n_px"].append(len(fr))
                    out["frame_text"].append(text.decode(
                        fr.tobytes(), final=i == len(frames) - 1
                    ))
            yield pd.DataFrame(out)

    return media.select("doc_id", "media").mapInPandas(
        sample,
        schema="doc_id long, frame_id int, n_px int, frame_text string",
    )


def decode_media(media: bytes, fmt: str) -> np.ndarray:
    """Decode one payload to a uint8 sample array.

    - ``txt``: raw utf-8 bytes (passthrough).
    - ``wav``: REAL decode — stdlib ``wave`` parses the RIFF container
      (validating 16-bit mono PCM), and samples map back to unsigned
      8-bit via ``(sample >> 8) + 128`` so downstream feature extractors
      (histogram, resize) see one uniform value domain per modality.
    - ``png``: REAL decode — ``_png_decode`` walks the chunk stream
      (CRC32-verified), inflates the IDAT with stdlib zlib, and reverses
      the scanline filters (vectorized Sub/Up), yielding the grayscale
      pixels row-major.
    - jpeg/mp4: still the declared loud stub — those decoders need codec
      libraries absent from this container; raise rather than silently
      fake."""
    if fmt == "txt":
        return np.frombuffer(media, dtype=np.uint8)
    if fmt == "png":
        return _png_decode(bytes(media))
    if fmt == "gif":
        return _gif_decode(bytes(media))
    if fmt == "wav":
        import io
        import wave

        with wave.open(io.BytesIO(bytes(media)), "rb") as w:
            if w.getsampwidth() != 2 or w.getnchannels() != 1:
                raise ValueError(
                    "decode_media(wav): expected 16-bit mono PCM, got "
                    f"width={w.getsampwidth()} channels={w.getnchannels()}"
                )
            pcm = np.frombuffer(w.readframes(w.getnframes()), dtype="<i2")
        return ((pcm >> 8) + 128).astype(np.uint8)
    raise NotImplementedError(
        f"decode for format {fmt!r} requires codec libraries not available "
        f"in this environment (supported: {SUPPORTED_FORMATS}; plumbing is "
        "real — wire a decoder here)"
    )


def byte_histogram(media: DataFrame, n_buckets: int = N_BUCKETS) -> DataFrame:
    """(doc_id, bucket, cnt, frac) — bucketed byte histogram per payload.

    Long-form rows (not a fixed-width array) so the result is engine-
    comparable; empty payloads emit no rows."""
    if not (1 <= n_buckets <= 256) or 256 % n_buckets:
        # 256 % n_buckets != 0 would emit a bucket index == n_buckets for
        # high bytes, and n_buckets > 256 would floor-divide by zero and
        # silently collapse every byte into bucket 0 (round-5 review
        # finding) — declared semantics: power-of-two-style even buckets.
        raise ValueError(
            f"byte_histogram: n_buckets must divide 256 (got {n_buckets})"
        )
    width = 256 // n_buckets

    def hist(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "bucket": [], "cnt": [], "frac": []}
            for doc_id, media_bytes, meta in zip(
                pdf["doc_id"], pdf["media"], pdf["meta"]
            ):
                arr = decode_media(bytes(media_bytes), meta["format"])
                if len(arr) == 0:
                    continue
                counts = np.bincount(arr // width, minlength=n_buckets)
                nz = np.flatnonzero(counts)
                out["doc_id"].extend([doc_id] * len(nz))
                out["bucket"].extend(nz.tolist())
                out["cnt"].extend(counts[nz].tolist())
                out["frac"].extend(
                    round_half_up(counts[nz] / len(arr), 6).tolist()
                )
            yield pd.DataFrame(out)

    return media.mapInPandas(hist, schema="doc_id long, bucket int, cnt long, frac double")


def resize_media(media: DataFrame, target_len: int = 64) -> DataFrame:
    """(doc_id, pos, value) — average-pool each decoded payload to a fixed
    length (the 1-D analogue of image resize; the brief's *resize* verb).

    Pooling rule (frozen so the DuckDB oracle can reproduce it exactly):
    sample j of an n-sample payload lands in bucket ``j * target_len // n``;
    a bucket's value is the mean of its samples, rounded half-up to 6 dp.
    Payloads shorter than ``target_len`` emit only their non-empty buckets
    (long-form rows, like ``byte_histogram``).  Sums stay < 2**53 so the
    float64 mean is exact-before-rounding on both engines.

    Scale: narrow per-row numpy over Arrow batches; a real 2-D image
    resize swaps ``decode_media`` and pools per axis with the same rule —
    the Spark-side plumbing (schema, batching, partition shape) is what
    this operator pins down."""

    def pool(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "pos": [], "value": []}
            for doc_id, media_bytes, meta in zip(
                pdf["doc_id"], pdf["media"], pdf["meta"]
            ):
                arr = decode_media(bytes(media_bytes), meta["format"])
                n = len(arr)
                if n == 0:
                    continue
                idx = (np.arange(n, dtype=np.int64) * target_len) // n
                sums = np.bincount(idx, weights=arr, minlength=target_len)
                cnts = np.bincount(idx, minlength=target_len)
                nz = np.flatnonzero(cnts)
                out["doc_id"].extend([doc_id] * len(nz))
                out["pos"].extend(nz.tolist())
                out["value"].extend(
                    round_half_up(sums[nz] / cnts[nz], 6).tolist()
                )
            yield pd.DataFrame(out)

    return media.mapInPandas(pool, schema="doc_id long, pos int, value double")


def frame_sample(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """(doc_id, frame_id, frame binary) — stride-packed payload slices:
    frame i is bytes [i*step, (i+1)*step) with step = len//n_frames, so
    frames are contiguous from the front and the trailing len % step bytes
    are not covered (a prefix sample, not an evenly-SPREAD one — declared
    semantics shared with the pytest golden slices).

    The video-frame-sampling plumbing (schema + batch shape) with a
    deterministic byte-slice stand-in for a real frame extractor."""
    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "frame_id": [], "frame": []}
            for doc_id, media_bytes in zip(pdf["doc_id"], pdf["media"]):
                raw = bytes(media_bytes)
                if not raw:
                    continue
                step = max(1, len(raw) // n_frames)
                for i in range(min(n_frames, len(raw))):
                    out["doc_id"].append(doc_id)
                    out["frame_id"].append(i)
                    out["frame"].append(raw[i * step : i * step + step])
            yield pd.DataFrame(out)

    return media.select("doc_id", "media").mapInPandas(
        sample, schema="doc_id long, frame_id int, frame binary"
    )
