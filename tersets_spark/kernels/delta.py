"""Bit-packed delta encoding (method 21) — the engine's
"delta-of-delta"-family lossless integer codec.

Reference semantics:
/root/reference/src/lossless_compression/bitpacked_delta_encoding.zig:45-343 —
choose a decimal scale so values become exact i64, store first value +
min-delta-rebased deltas with 2-bit width-class prefixes {8,16,32,64};
values that cannot be scaled exactly fall back to raw f64 (mixed mode with
a presence bitmask). Lossless; rejects non-finite input or |v| > 1e15
(:80-81).

Engine layout (little-endian, numpy-sectioned instead of interleaved so
both directions vectorize — SURVEY.md §7 risk register):

    u8   mode           0 = all-int, 1 = mixed (bitmask + raw f64 escape)
    u32  count          number of values
    f64  scale          decimal scale applied before integerization
    -- mode 0 --
    i64  first          first scaled integer
    i64  min_delta      minimum of consecutive deltas
    [2-bit class per delta]  (count-1 entries, packed MSB-first)
    [class-0 values @8b][class-1 @16b][class-2 @32b][class-3 @64b]
    -- mode 1 --
    [presence bitmask: count bits, 1 = int-representable]
    mode-0 style int section over the representable values
    raw f64 section for the escapes

Width classes mirror the reference's 2-bit prefix scheme
(/root/reference/src/utilities/shared_functions.zig:347-373).
"""

from __future__ import annotations

import numpy as np
from numpy.lib.stride_tricks import sliding_window_view

from ..methods import check_decode_count

from .bitstream import (
    bit_length,
    pack_bits,
    segment_intra_indices,
    unpack_bits,
)

_MAX_VALUE = 1e15
_SCALES = 10.0 ** np.arange(0, 15)


class DeltaEncodingError(ValueError):
    pass


def _find_scale(v: np.ndarray) -> tuple[float, np.ndarray]:
    """Smallest power-of-ten scale making every value an exact i64.
    Returns (scale, mask_of_exact_values) for the best scale (the one
    covering the most values; ties -> smallest scale)."""
    best_scale, best_mask, best_n = 1.0, None, -1
    finite = np.isfinite(v) & (np.abs(v) <= _MAX_VALUE)
    for scale in _SCALES:
        with np.errstate(over="ignore", invalid="ignore"):
            scaled = v * scale
        with np.errstate(over="ignore", invalid="ignore"):
            ok = finite & (np.abs(scaled) < 2**62) & (scaled == np.floor(scaled))
        # exactness check is BITWISE: the de-scaled integer must reproduce
        # the original f64 bit pattern (-0.0 and friends escape to raw)
        ints = np.where(ok, scaled, 0.0).astype(np.int64)
        roundtrip = ints.astype(np.float64) / scale
        ok &= roundtrip.view(np.uint64) == v.view(np.uint64)
        n = int(ok.sum())
        if n > best_n:
            best_scale, best_mask, best_n = float(scale), ok, n
        if n == v.size:
            break
    return best_scale, best_mask


def _encode_ints(ints: np.ndarray) -> bytes:
    """Frame-of-reference int section: ``first i64 | min_delta i64 |
    width u8 | fixed-width packed (delta - min_delta)``.

    Per-row fixed width measures ~1.7x better than the 2-bit class
    scheme on the engine's token distributions (the class floor is 8
    bits; typical rebased deltas need 3-6) and decodes in one
    fixed-width unpack — which is also what makes the batch codec below
    a handful of numpy ops."""
    first = np.int64(ints[0])
    deltas = np.diff(ints)
    if deltas.size == 0:
        return first.tobytes() + np.int64(0).tobytes() + np.uint8(0).tobytes()
    min_delta = np.int64(deltas.min())
    md_u = np.array([min_delta], dtype=np.int64).view(np.uint64)[0]
    # modular uint64 subtraction: exact non-negative rebase even when the
    # delta span exceeds the int64 range
    rebased = deltas.view(np.uint64) - md_u
    width = int(bit_length(np.array([rebased.max()], dtype=np.uint64))[0])
    # pad the value count to a multiple of 8 so the packed section is
    # byte-aligned for ANY width — what lets the batch codec pack whole
    # width-groups of rows in single fixed-width calls
    pad = (-rebased.size) % 8
    if pad:
        rebased = np.concatenate([rebased, np.zeros(pad, dtype=np.uint64)])
    return (
        first.tobytes()
        + min_delta.tobytes()
        + np.uint8(width).tobytes()
        + pack_bits(rebased, width)
    )


def _decode_ints(buf: np.ndarray, n: int) -> tuple[np.ndarray, int]:
    """Decode ``n`` integers from ``buf`` (uint8 array); returns (ints,
    bytes_consumed)."""
    first = buf[:8].view(np.int64)[0]
    min_delta = buf[8:16].view(np.int64)[0]
    width = int(buf[16])
    pos = 17
    if n == 1:
        return np.array([first], dtype=np.int64), pos
    m8 = n - 1 + ((-(n - 1)) % 8)  # count padded to a multiple of 8
    # structural guard: the packed section must actually be present — a
    # corrupt count would otherwise size a multi-GB unpack
    if width and buf.size - pos < width * m8 // 8:
        raise ValueError("truncated delta payload: packed section short")
    rebased = unpack_bits(buf[pos:], np.full(m8, width, dtype=np.int64))[: n - 1]
    pos += width * m8 // 8
    md_u = np.array([min_delta], dtype=np.int64).view(np.uint64)[0]
    deltas = (rebased + md_u).view(np.int64)
    ints = np.empty(n, dtype=np.int64)
    ints[0] = first
    np.cumsum(deltas, out=ints[1:])
    ints[1:] += first
    return ints, pos


def compress(values: np.ndarray, config: dict | None = None) -> bytes:
    v = np.ascontiguousarray(values, dtype=np.float64)
    n = v.size
    if n == 0:
        return b""
    if n >= 2**31:
        raise DeltaEncodingError("too many values for delta encoding")
    scale, mask = _find_scale(v)
    header = [
        np.uint8(0 if mask.all() else 1).tobytes(),
        np.uint32(n).tobytes(),
        np.float64(scale).tobytes(),
    ]
    if mask.all():
        ints = np.round(v * scale).astype(np.int64)
        return b"".join(header) + _encode_ints(ints)
    # mixed mode
    parts = list(header)
    parts.append(pack_bits(mask.astype(np.uint64), 1))
    n_ok = int(mask.sum())
    if n_ok:
        ints = np.round(v[mask] * scale).astype(np.int64)
        parts.append(_encode_ints(ints))
    parts.append(np.ascontiguousarray(v[~mask]).tobytes())
    return b"".join(parts)


_HEADER = 13  # mode u8 + count u32 + scale f64
_INT_HEAD = 17  # first i64 + min_delta i64 + width u8
_METHOD_BYTE = 21  # Method.BitPackedDeltaEncoding


def compress_batch(flat: np.ndarray, offsets: np.ndarray) -> list[bytes]:
    """Batched compress: many series in ONE numpy pass.

    ``flat`` is the concatenation of all series (float64), ``offsets``
    the (n_rows+1) boundaries. Produces exactly the same per-row blob
    (mode-0 layout + trailing method byte) as :func:`compress`; rows
    that don't qualify for the all-int fast path (non-integral,
    non-finite, too large, len<2) fall back to the single-series
    encoder. This is the engine's hot path: per-batch cost is ~20 numpy
    ops + one bytes-assembly loop, instead of ~40 numpy calls per row
    (SURVEY.md §4.2 'vectorized execution' requirement)."""
    offsets = np.asarray(offsets, dtype=np.int64)
    n_rows = offsets.size - 1
    lens = np.diff(offsets)
    with np.errstate(invalid="ignore"):
        int_ok = np.isfinite(flat) & (np.abs(flat) < 2**62) & (flat == np.floor(flat))
    # BITWISE round-trip gate, mirroring the single-series _find_scale:
    # the de-scaled integer must reproduce the original f64 bit pattern,
    # so -0.0 (int 0 -> +0.0) escapes to the fallback encoder.
    probe = np.where(int_ok, flat, 0.0).astype(np.int64)
    int_ok &= probe.astype(np.float64).view(np.uint64) == flat.view(np.uint64)
    # row validity via prefix-sum of violations — exact for empty rows at
    # any position (reduceat clips offsets at flat.size-1 and would leak
    # the last element out of the final non-empty row's check)
    c = np.concatenate(([0], np.cumsum(~int_ok)))
    row_ok = (c[offsets[1:]] == c[offsets[:-1]]) & (lens >= 2)
    blobs: list[bytes | None] = [None] * n_rows
    # ---- vectorized all-int rows ----
    ok_rows = np.flatnonzero(row_ok)
    if ok_rows.size:
        ints = probe  # int64 view of flat, 0 at non-ok slots (unused rows)
        d_all = ints[1:] - ints[:-1] if ints.size > 1 else np.zeros(0, np.int64)
        d_lens = np.maximum(lens - 1, 0)
        # keep only deltas whose endpoints are in the same row (exact for
        # any mix of empty/short rows): a delta at position i crosses a
        # row boundary iff some offset equals i+1, so clearing the
        # boundary positions replaces the former full-length
        # repeat(arange, lens) row-id array (measured ~0.4 s/batch) with
        # a scatter of n_rows bits
        keep = np.ones(max(flat.size - 1, 0), dtype=bool)
        bounds = offsets[1:-1] - 1
        bounds = bounds[(bounds >= 0) & (bounds < keep.size)]
        keep[bounds] = False
        d_rows = d_all[keep]  # concatenated per-row deltas
        dr_off = np.concatenate(([0], np.cumsum(d_lens)))
        # min delta per selected row
        md = np.zeros(n_rows, dtype=np.int64)
        nz = d_lens > 0
        if nz.any():
            md[nz] = np.minimum.reduceat(d_rows, dr_off[:-1][nz])
        md_u = md.view(np.uint64)
        rebased = d_rows.view(np.uint64) - np.repeat(md_u, d_lens)
        widths = np.zeros(n_rows, dtype=np.int64)
        if nz.any():
            maxes = np.zeros(n_rows, dtype=np.uint64)
            maxes[nz] = np.maximum.reduceat(rebased, dr_off[:-1][nz])
            widths = bit_length(maxes)
        # pack per width-group: every row's count is padded to a multiple
        # of 8 values so its section is byte-aligned at ANY width — one
        # fixed-width pack per distinct width covers all its rows.
        # Round 10: rows are width-SORTED once (u8 key — radix sort, see
        # the playbook's argsort note) so ONE global gather/scatter
        # builds every group's padded value array contiguously and each
        # width packs a contiguous slice; the former per-group loop
        # re-ran repeat + segment_intra_indices twice per distinct
        # width (~20 full-size temps per batch, measured ~1.2 s of a
        # 4.9 s batch).
        sel_idx = ok_rows
        p_lens = d_lens + ((-d_lens) % 8)
        sec_bytes = (widths * p_lens) // 8
        sections: dict[int, bytes] = {}  # row -> packed section
        order = np.argsort(widths[sel_idx].astype(np.uint8), kind="stable")
        rows_sorted = sel_idx[order]
        ws = widths[rows_sorted]
        p_s = p_lens[rows_sorted]
        d_s = d_lens[rows_sorted]
        g_off = np.concatenate(([0], np.cumsum(p_s)))
        intra = segment_intra_indices(d_s)
        dst = np.repeat(g_off[:-1], d_s) + intra
        src = np.repeat(dr_off[:-1][rows_sorted], d_s) + intra
        vals = np.zeros(int(g_off[-1]), dtype=np.uint64)
        vals[dst] = rebased[src]
        uniq_w, first_i = np.unique(ws, return_index=True)
        parts: list[bytes] = []
        for i, w in enumerate(uniq_w):
            hi = first_i[i + 1] if i + 1 < uniq_w.size else rows_sorted.size
            seg = vals[g_off[first_i[i]] : g_off[hi]]
            parts.append(pack_bits(seg, int(w)) if int(w) else b"")
        packed_all = b"".join(parts)
        mv = memoryview(packed_all)
        sb = np.concatenate(([0], np.cumsum(sec_bytes[rows_sorted])))
        for k, r in enumerate(rows_sorted):
            sections[int(r)] = bytes(mv[sb[k] : sb[k + 1]])
        # headers: (30-byte) rows assembled vectorized
        head = np.zeros((sel_idx.size, _HEADER + _INT_HEAD), dtype=np.uint8)
        head[:, 0] = 0  # mode
        head[:, 1:5] = lens[sel_idx].astype(np.uint32)[:, None].view(np.uint8)
        head[:, 5:13] = np.full(sel_idx.size, 1.0)[:, None].view(np.uint8)
        head[:, 13:21] = ints[offsets[:-1][sel_idx]][:, None].view(np.uint8)
        head[:, 21:29] = md[sel_idx][:, None].view(np.uint8)
        head[:, 29] = widths[sel_idx].astype(np.uint8)
        tail = bytes([_METHOD_BYTE])
        for k, r in enumerate(sel_idx):
            blobs[r] = head[k].tobytes() + sections[int(r)] + tail
    # ---- fallback rows ----
    for r in np.flatnonzero(~row_ok):
        v = flat[offsets[r] : offsets[r + 1]]
        if v.size == 0:
            blobs[r] = b""
        elif v.size == 1:
            blobs[r] = v.tobytes() + bytes([0])  # Uncompressed edge rule
        else:
            blobs[r] = compress(v) + bytes([_METHOD_BYTE])
    return blobs  # type: ignore[return-value]


def _unpack_blocks(buf: np.ndarray, bstart: np.ndarray, w: int) -> np.ndarray:
    """The (blocks, 8) uint64 values of the width-``w`` (1..64) blocks of
    8 values that start at byte offsets ``bstart`` of ``buf``.

    A block is w bytes and value j always sits at bit offset j*w, so one
    (blocks, w + window) byte matrix — a sliding-window view indexed by
    the block starts — gives each j a fixed-offset big-endian window
    column: 8 shift-and-mask passes decode the group (the inverse of
    pack_bits' byte-window scatter). The bytes past a block belong to
    the next one and are masked off. Windows are u32 while shift + w
    fits (w <= 25), u64 up to w = 57; wider widths go to unpack_bits."""
    if w > 57:
        mat = sliding_window_view(buf, w)[bstart].ravel()
        return unpack_bits(mat, np.full(8 * bstart.size, w, np.int64)).reshape(-1, 8)
    nb = 4 if w <= 25 else 8
    wt = np.dtype(f"u{nb}").type
    mat = sliding_window_view(buf, w + nb)[bstart]
    out = np.empty((bstart.size, 8), dtype=np.uint64)
    for j in range(8):
        byte0, sh = divmod(j * w, 8)
        win = np.ndarray(bstart.size, f">u{nb}", mat, byte0, (w + nb,))
        np.bitwise_and(win >> wt(8 * nb - w - sh), wt((1 << w) - 1), out=out[:, j])
    return out


def decompress_batch(blobs: list[bytes]) -> tuple[np.ndarray, np.ndarray]:
    """Batched inverse of :func:`compress_batch`: returns (flat float64,
    offsets). Mode-0 delta rows at scale 1.0 decode block-of-8; anything
    else falls back to the registry decoder per row.

    Every row's packed section is padded to a multiple of 8 values, so
    8 values at width w take exactly w bytes. Rows are width-sorted and
    each width group decodes its blocks in one :func:`_unpack_blocks`
    call; the deltas are scattered to their output slots (a row's pad
    slots to one sink slot past the end). Each row start holds the
    row's first value minus the previous fast row's last value, so ONE
    global cumsum rebuilds every row."""
    from . import registry  # late import: avoid cycle

    n_rows = len(blobs)
    # 8 zero bytes past the end keep every window read inside the buffer
    buf = np.frombuffer(b"".join(blobs) + bytes(8), dtype=np.uint8)
    blob_lens = np.fromiter((len(b) for b in blobs), dtype=np.int64, count=n_rows)
    blob_off = np.concatenate(([0], np.cumsum(blob_lens)))
    sel = np.flatnonzero(blob_lens > _HEADER + _INT_HEAD)
    head = buf[blob_off[sel][:, None] + np.arange(_HEADER + _INT_HEAD)[None, :]]
    cnt = head[:, 1:5].copy().view(np.uint32).ravel().astype(np.int64)
    widths = head[:, 29].astype(np.int64)
    nblk = (cnt + 6) // 8  # ceil((cnt - 1) / 8) blocks of 8 deltas
    # fast path: mode 0, method byte 21, scale exactly 1.0. Corrupt-count
    # guard (tier blocks are read back from storage): the mode-0 blob
    # length is DETERMINISTIC in (count, width), so a row whose count is
    # implausible or whose length differs goes to the per-row registry
    # decoder, which raises a typed error (count >= 2: single values
    # store Uncompressed)
    ok = (
        (head[:, 0] == 0)
        & (buf[blob_off[sel + 1] - 1] == _METHOD_BYTE)
        & (head[:, 5:13].copy().view(np.float64).ravel() == 1.0)
        & (cnt >= 2)
        & (cnt <= 1 << 27)
        & (widths <= 64)
        & (_HEADER + _INT_HEAD + widths * nblk + 1 == blob_lens[sel])
    )
    sel, head, cnt, widths, nblk = sel[ok], head[ok], cnt[ok], widths[ok], nblk[ok]
    counts = np.zeros(n_rows, dtype=np.int64)
    counts[sel] = cnt
    slow = np.setdiff1d(np.arange(n_rows), sel)
    out_parts = [registry.decompress(bytes(blobs[r])) for r in slow]
    counts[slow] = [p.size for p in out_parts]
    offsets = np.concatenate(([0], np.cumsum(counts)))
    x = np.zeros(int(offsets[-1]) + 1, dtype=np.int64)  # x[-1]: pad sink
    if sel.size:
        starts = offsets[sel]
        order = np.argsort(widths.astype(np.uint8), kind="stable")  # u8: radix
        ws, nb = widths[order], nblk[order]
        intra = segment_intra_indices(nb)
        bstart = np.repeat(blob_off[sel][order] + _HEADER + _INT_HEAD, nb)
        bstart += np.repeat(ws, nb) * intra
        dst = (np.repeat(starts[order] + 1, nb) + 8 * intra)[:, None] + np.arange(8)
        b_off = np.concatenate(([0], np.cumsum(nb)))
        tail = dst[b_off[1:] - 1]  # each row's last block holds its pads
        tail[np.arange(8)[None, :] >= (cnt[order] - 8 * nb + 7)[:, None]] = x.size - 1
        dst[b_off[1:] - 1] = tail
        mds = np.repeat(head[order, 21:29].view(np.uint64).ravel(), nb)
        grp = np.concatenate(([0], np.flatnonzero(np.diff(ws)) + 1, [ws.size]))
        for a, b in zip(grp[:-1], grp[1:]):
            lo, hi, w = b_off[a], b_off[b], int(ws[a])
            vals = mds[lo:hi, None]
            if w:
                vals = _unpack_blocks(buf, bstart[lo:hi], w) + vals
            x[dst[lo:hi]] = vals.view(np.int64)
        x[starts] = head[:, 13:21].copy().view(np.int64).ravel()
        x[starts[1:]] -= np.add.reduceat(x[:-1], starts)[:-1]
        np.cumsum(x, out=x)
    flat = x[:-1].astype(np.float64)
    for r, part in zip(slow, out_parts):
        flat[offsets[r] : offsets[r + 1]] = part
    return flat, offsets


def decompress(payload: bytes) -> np.ndarray:
    if len(payload) == 0:
        return np.empty(0, dtype=np.float64)
    buf = np.frombuffer(payload, dtype=np.uint8)
    mode = int(buf[0])
    n = check_decode_count(buf[1:5].view(np.uint32)[0])
    scale = buf[5:13].view(np.float64)[0]
    pos = 13
    if mode == 0:
        ints, _ = _decode_ints(buf[pos:], n)
        with np.errstate(over="ignore"):  # corrupt scale -> inf, not warn
            return ints.astype(np.float64) / scale
    if buf.size - pos < (n + 7) // 8:
        raise ValueError("truncated delta payload: presence mask short")
    mask_bits = unpack_bits(buf[pos:], np.full(n, 1, dtype=np.int64)).astype(bool)
    pos += (n + 7) // 8
    out = np.empty(n, dtype=np.float64)
    n_ok = int(mask_bits.sum())
    if n_ok:
        ints, used = _decode_ints(buf[pos:], n_ok)
        with np.errstate(over="ignore"):
            out[mask_bits] = ints.astype(np.float64) / scale
        pos += used
    n_raw = n - n_ok
    if n_raw:
        out[~mask_bits] = buf[pos : pos + 8 * n_raw].view(np.float64)
    return out
