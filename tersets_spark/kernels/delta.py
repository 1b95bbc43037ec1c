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

from ..methods import check_decode_count

from .bitstream import (
    bit_length,
    pack_bits,
    segment_intra_indices,
    unpack_bits,
)

_MAX_VALUE = 1e15
_MAX_INT = int(_MAX_VALUE)
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
_PACK_CHUNK = 8192  # blocks per _pack_blocks call: its passes stay in L2


def compress_batch(flat: np.ndarray, offsets: np.ndarray) -> list[bytes]:
    """Batched compress: many series in ONE numpy pass.

    ``flat`` is the concatenation of all series (float64), ``offsets``
    the (n_rows+1) boundaries. A row of >= 2 values, all exact int64
    with |v| <= 1e15 (``_MAX_VALUE``, the bound of :func:`_find_scale`),
    encodes block-of-8 in the mode-0, scale-1.0 layout, byte for byte
    what :func:`compress` writes; any other row goes to the
    single-series encoder. Every blob ends in its method byte.

    The mirror of :func:`decompress_batch`: one full-length diff; each
    row's min and max delta from two reduceats over (start, end) pairs,
    its width the bit length of their difference; then the rows are
    width-sorted, their blocks of 8 deltas gathered as one (blocks, 8)
    matrix, and each width group packs with :func:`_pack_blocks` straight
    into the batch's blob buffer beside the vectorized headers. No
    per-value index array is built."""
    offsets = np.asarray(offsets, dtype=np.int64)
    lens = np.diff(offsets)
    with np.errstate(invalid="ignore"):
        ints = flat.astype(np.int64)
    # BITWISE round-trip gate, as in the single-series _find_scale: the
    # int must reproduce the f64 bit pattern (NaN, -0.0 and fractions
    # escape). Its |v| <= _MAX_VALUE bound is one unsigned compare, run
    # only when the batch's int range reaches past it
    refused = ints.astype(np.float64).view(np.uint64) != flat.view(np.uint64)
    if ints.size and (ints.min() < -_MAX_INT or ints.max() > _MAX_INT):
        refused |= ints.view(np.uint64) + np.uint64(_MAX_INT) > np.uint64(2 * _MAX_INT)
    row_ok = lens >= 2
    row_ok[np.searchsorted(offsets, np.flatnonzero(refused), side="right") - 1] = False
    sel = np.flatnonzero(row_ok)
    blobs = [b""] * lens.size
    if sel.size:
        starts, d_lens = offsets[sel], lens[sel] - 1
        d = np.empty(flat.size + 7, dtype=np.int64)
        np.subtract(ints[1:], ints[:-1], out=d[: flat.size - 1])
        d[flat.size - 1 :] = 0  # 8 pad slots: the last block reads past the end
        bounds = np.empty(2 * sel.size, dtype=np.int64)
        bounds[0::2], bounds[1::2] = starts, starts + d_lens
        md = np.minimum.reduceat(d, bounds)[0::2]
        widths = bit_length((np.maximum.reduceat(d, bounds)[0::2] - md).view(np.uint64))
        nblk = (d_lens + 7) // 8
        boff = np.concatenate(([0], np.cumsum(_HEADER + _INT_HEAD + widths * nblk + 1)))
        out = np.zeros(int(boff[-1]), dtype=np.uint8)
        head = np.zeros((sel.size, _HEADER + _INT_HEAD), dtype=np.uint8)
        head[:, 1:5] = lens[sel].astype(np.uint32)[:, None].view(np.uint8)
        head[:, 5:13] = np.full(sel.size, 1.0)[:, None].view(np.uint8)
        head[:, 13:21] = ints[starts][:, None].view(np.uint8)
        head[:, 21:29] = md[:, None].view(np.uint8)
        head[:, 29] = widths
        _windows(out, head.shape[1])[boff[:-1]] = head.view(f"V{head.shape[1]}").ravel()
        out[boff[1:] - 1] = _METHOD_BYTE
        # width-sorted (u8 key: radix) blocks; a row's last block reads
        # past its end, so its pad slots take the row's min delta, which
        # _pack_blocks rebases to 0
        order = np.argsort(widths.astype(np.uint8), kind="stable")
        ws, nb, mds = widths[order], nblk[order], md[order].view(np.uint64)
        b_off = np.concatenate(([0], np.cumsum(nb)))
        k = np.arange(b_off[-1])  # block k is block k - b_off[row] of its row
        blk = _windows(d, 8)[8 * k + np.repeat(starts[order] - 8 * b_off[:-1], nb)]
        vals = blk.view(np.uint64).reshape(-1, 8)
        pad = np.arange(8) >= (d_lens[order] - 8 * nb + 8)[:, None]
        vals[b_off[1:] - 1] = np.where(pad, mds[:, None], vals[b_off[1:] - 1])
        base = np.repeat(mds, nb)
        row_dst = boff[:-1][order] + _HEADER + _INT_HEAD - ws * b_off[:-1]
        grp = np.concatenate(([0], np.flatnonzero(np.diff(ws)) + 1, [ws.size]))
        for a, b in zip(grp[:-1], grp[1:]):
            w, g = int(ws[a]), slice(b_off[a], b_off[b])
            if not w:
                continue
            dst = w * k[g] + np.repeat(row_dst[a:b], nb[a:b])
            for i in range(0, dst.size, _PACK_CHUNK):
                c = slice(i, i + _PACK_CHUNK)
                _windows(out, w)[dst[c]] = _pack_blocks(vals[g][c], base[g][c], w)
        ob, bo = out.tobytes(), boff.tolist()
        for r, lo, hi in zip(sel.tolist(), bo[:-1], bo[1:]):
            blobs[r] = ob[lo:hi]
    for r in np.flatnonzero(~row_ok):
        v = flat[offsets[r] : offsets[r + 1]]
        if v.size == 1:
            blobs[r] = v.tobytes() + bytes([0])  # Uncompressed edge rule
        elif v.size:
            blobs[r] = compress(v) + bytes([_METHOD_BYTE])
    return blobs


def _windows(a: np.ndarray, n: int) -> np.ndarray:
    """Every run of ``n`` consecutive elements of the contiguous 1-D
    array ``a`` as one void item, a (a.size - n + 1,) view (writeable
    when ``a`` is): a fancy index gathers or scatters whole windows."""
    return np.ndarray(a.size - n + 1, f"V{n * a.itemsize}", a, 0, (a.itemsize,))


def _pack_blocks(vals: np.ndarray, base: np.ndarray, w: int) -> np.ndarray:
    """Row k of the (blocks, 8) uint64 ``vals`` less ``base[k]`` (each
    difference < 2**w, w in 1..64) packed into w bytes, as (blocks,)
    void items: the inverse of :func:`_unpack_blocks`.

    Value j of a block sits at bit offset j*w, so it ORs into one or
    two fixed rows of a (ceil(w/8), blocks) u64 word matrix: 8
    shift-OR passes along the blocks, no per-bit explode. Each block's
    first w big-endian word bytes are its MSB-first stream."""
    words = np.zeros(((w + 7) // 8, vals.shape[0]), dtype=np.uint64)
    col = np.empty(vals.shape[0], dtype=np.uint64)
    for j in range(8):
        np.subtract(vals[:, j], base, out=col)
        q, r = divmod(j * w, 64)
        if r + w > 64:  # straddles a word boundary: low bits open word q + 1
            words[q + 1] |= col << np.uint64(128 - r - w)
            words[q] |= col >> np.uint64(r + w - 64)
        else:
            words[q] |= col << np.uint64(64 - w - r)
    be = words.T.astype(">u8", order="C")
    return np.ndarray(vals.shape[0], f"V{w}", be, 0, (be.strides[0],))


def _unpack_blocks(buf: np.ndarray, bstart: np.ndarray, w: int) -> np.ndarray:
    """The (blocks, 8) uint64 values of the width-``w`` (1..64) blocks of
    8 values that start at byte offsets ``bstart`` of ``buf``.

    A block is w bytes and value j always sits at bit offset j*w, so one
    (blocks, w + window) byte matrix — :func:`_windows` indexed by the
    block starts — gives each j a fixed-offset big-endian window column:
    8 shift-and-mask passes decode the group (the inverse of
    :func:`_pack_blocks`). The bytes past a block belong to
    the next one and are masked off. Windows are u32 while shift + w
    fits (w <= 25), u64 up to w = 57; wider widths go to unpack_bits."""
    if w > 57:
        mat = _windows(buf, w)[bstart].view(np.uint8)
        return unpack_bits(mat, np.full(8 * bstart.size, w, np.int64)).reshape(-1, 8)
    nb = 4 if w <= 25 else 8
    wt = np.dtype(f"u{nb}").type
    mat = _windows(buf, w + nb)[bstart]
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
