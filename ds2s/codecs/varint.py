"""Group-varint block codec ("Varint-G8IU-style" per BASELINE.json:6).

The reference wraps FastPFor's SIMD VarIntG8IU ([U] ds2i/block_codecs.hpp);
SIMD byte shuffles don't translate to Python, so this is the group-varint
family member that vectorizes well in numpy: groups of 4 values, one
control byte holding four 2-bit byte-lengths (1-4 bytes per value),
little-endian packed payload.  Value-exact round-trip is the contract,
not the reference bitstream.
"""

from __future__ import annotations

import numpy as np

from .bitio import put_u32

MAX32 = np.uint64(0xFFFFFFFF)


class U32RangeError(ValueError):
    """A value past u32: group-varint cannot represent it.  The one
    encode failure that means "codec ineligible", not "encoder bug"."""


def gvb_encode(values: np.ndarray) -> bytes:
    v = np.asarray(values, dtype=np.uint64)
    if np.any(v > MAX32):
        raise U32RangeError("group-varint encodes u32 values only")
    v = v.astype(np.uint32)
    n = len(v)
    out = bytearray(put_u32(n))
    if n == 0:
        return bytes(out)
    pad = (-n) % 4
    vp = np.concatenate([v, np.zeros(pad, np.uint32)])
    g = vp.reshape(-1, 4)
    # byte length 1..4 per value
    lens = np.ones(g.shape, dtype=np.uint8)
    lens += (g > 0xFF).astype(np.uint8)
    lens += (g > 0xFFFF).astype(np.uint8)
    lens += (g > 0xFFFFFF).astype(np.uint8)
    ctrl = (
        (lens[:, 0] - 1)
        | ((lens[:, 1] - 1) << 2)
        | ((lens[:, 2] - 1) << 4)
        | ((lens[:, 3] - 1) << 6)
    ).astype(np.uint8)
    # payload: little-endian bytes of each value, lens[i] bytes
    b = g.view(np.uint8).reshape(-1, 4, 4)  # little-endian byte planes
    total = int(lens.sum())
    payload = np.zeros(total, dtype=np.uint8)
    flat_lens = lens.ravel().astype(np.int64)
    starts = np.concatenate(([0], np.cumsum(flat_lens)[:-1]))
    bb = b.reshape(-1, 4)
    for k in range(4):
        mask = flat_lens > k
        payload[starts[mask] + k] = bb[mask, k]
    # interleave: ctrl byte then its group payload
    group_pay_lens = lens.sum(axis=1).astype(np.int64)
    gp_starts = np.concatenate(([0], np.cumsum(group_pay_lens)[:-1]))
    res = np.zeros(len(ctrl) + total, dtype=np.uint8)
    ctrl_pos = gp_starts + np.arange(len(ctrl))
    res[ctrl_pos] = ctrl
    pay_mask = np.ones(len(res), dtype=bool)
    pay_mask[ctrl_pos] = False
    res[pay_mask] = payload
    out += res.tobytes()
    return bytes(out)


def gvb_decode(buf: bytes, offset: int = 0) -> tuple[np.ndarray, int]:
    n = int.from_bytes(buf[offset : offset + 4], "little")
    off = offset + 4
    if n == 0:
        return np.zeros(0, dtype=np.uint64), off
    n_groups = (n + 3) // 4
    data = np.frombuffer(buf, dtype=np.uint8, offset=off)
    # first pass: walk ctrl bytes to find group payload lengths (vector-ish:
    # lengths depend on ctrl values; iterate groups via cumulative scan)
    lens_tab = np.zeros((256, 4), dtype=np.int64)
    c = np.arange(256)
    lens_tab[:, 0] = (c & 3) + 1
    lens_tab[:, 1] = ((c >> 2) & 3) + 1
    lens_tab[:, 2] = ((c >> 4) & 3) + 1
    lens_tab[:, 3] = ((c >> 6) & 3) + 1
    group_sizes = lens_tab.sum(axis=1)
    # ctrl positions: pos[0]=0; pos[i+1] = pos[i] + 1 + group_size(ctrl[pos[i]])
    ctrl_pos = np.zeros(n_groups, dtype=np.int64)
    p = 0
    ctrls = np.zeros(n_groups, dtype=np.uint8)
    for i in range(n_groups):  # sequential dependency; n/4 iterations
        ctrl_pos[i] = p
        ctrls[i] = data[p]
        p += 1 + int(group_sizes[data[p]])
    vlens = lens_tab[ctrls]  # (n_groups, 4)
    flat_lens = vlens.ravel()
    val_starts = np.repeat(ctrl_pos + 1, 4) + np.concatenate(
        [np.zeros((n_groups, 1), np.int64), np.cumsum(vlens, axis=1)[:, :3]], axis=1
    ).ravel()
    vals = np.zeros(n_groups * 4, dtype=np.uint64)
    for k in range(4):
        mask = flat_lens > k
        vals[mask] |= data[val_starts[mask] + k].astype(np.uint64) << np.uint64(8 * k)
    total = int(p)
    return vals[:n], off + total
