"""Lossless kernel round-trip properties.

Port of the reference's lossless gate: length equality + bit-for-bit
value equality including -0.0 and NaN payloads
(/root/reference/src/tester.zig:355-447, expectLosslessRoundTrip at
:427-447), over the reference's distribution families
(/root/reference/src/tester.zig:118-133) adapted per FIXTURES.md §2.
"""

from __future__ import annotations

import numpy as np
import pytest

from tersets_spark import Method, compress, decompress
from tersets_spark.methods import LOSSLESS_METHODS
from tersets_spark.kernels import registry

LOSSLESS_IMPLEMENTED = sorted(
    (m for m in LOSSLESS_METHODS if m in registry.KERNELS), key=int
)


def _distributions(seed: int = 42) -> dict[str, np.ndarray]:
    rng = np.random.default_rng(seed)
    n = 140  # reference envelope: 100-150 points (tester.zig:1123)
    out = {
        "constant-runs": np.repeat(
            rng.integers(0, 50, 12), rng.integers(1, 25, 12)
        ).astype(np.float64),
        "linear-ramp": np.round(3.0 + 0.5 * np.arange(n)) % 131072,
        "sinusoidal": np.round(1000 * np.sin(np.arange(n) * 0.05)),
        "uniform-tokens": rng.integers(0, 131072, n).astype(np.float64),
        "finite-random": rng.uniform(-1e15, 1e15, n),
        "tight-random": rng.normal(100.0, 0.1, n),
        "decimals": np.round(rng.normal(50, 10, n), 3),
        "single": np.array([3.25]),
        "pair": np.array([1.0, -1.0]),
        "empty": np.empty(0, dtype=np.float64),
    }
    # NaN/Inf injection at p=0.05 (tester.zig:88-95,659)
    noisy = rng.normal(0, 1e6, n)
    inject = rng.random(n) < 0.05
    specials = rng.choice([np.nan, np.inf, -np.inf, -0.0], n)
    noisy[inject] = specials[inject]
    out["special-injected"] = noisy
    out["nan-payloads"] = np.array(
        [0x7FF8000000000001, 0x7FF800000000DEAD, 0xFFF8000000000001] * 40,
        dtype=np.uint64,
    ).view(np.float64)
    return out


@pytest.mark.parametrize("method", LOSSLESS_IMPLEMENTED, ids=lambda m: m.name)
@pytest.mark.parametrize("dist", sorted(_distributions().keys()))
def test_bitwise_roundtrip(method: Method, dist: str) -> None:
    v = _distributions()[dist]
    blob = compress(v, method)
    out = decompress(blob)
    assert out.size == v.size
    assert np.array_equal(v.view(np.uint64), out.view(np.uint64)), (
        f"{method.name} not bit-identical on {dist}"
    )


@pytest.mark.parametrize("method", LOSSLESS_IMPLEMENTED, ids=lambda m: m.name)
def test_method_byte_is_last(method: Method) -> None:
    v = np.array([1.0, 2.0, 3.0])
    blob = compress(v, method)
    assert blob[-1] == int(method)


def test_single_value_stored_uncompressed() -> None:
    # reference edge rule: /root/reference/src/tersets.zig:127-134
    v = np.array([3.14])
    for method in LOSSLESS_IMPLEMENTED:
        blob = compress(v, method)
        assert blob[-1] == int(Method.Uncompressed)
        assert np.array_equal(decompress(blob), v)


def test_empty_input_empty_blob() -> None:
    for method in LOSSLESS_IMPLEMENTED:
        assert compress(np.empty(0), method) == b""


@pytest.mark.parametrize("seed", range(5))
def test_property_random_token_arrays(seed: int) -> None:
    """Token-array invariant (BASELINE.json.input_hint): int32 tokens in
    [0, 131071], mixture of lengths, bitwise round-trip."""
    rng = np.random.default_rng(seed)
    n = int(rng.integers(2, 5000))
    tokens = rng.integers(0, 131072, n).astype(np.int32)
    v = tokens.astype(np.float64)
    for method in LOSSLESS_IMPLEMENTED:
        out = decompress(compress(v, method))
        assert np.array_equal(out.astype(np.int32), tokens), method.name


def test_chimp64_batch_matches_single():
    """The batched Chimp64 encoder is byte-identical to the single-series
    path on the bench-corpus shape (64 x 4096 token rows). Its speedup
    is timed by tools/bench_kernels.py (KERNELS.md)."""
    from tersets_spark.kernels import chimp

    rng = np.random.default_rng(5)
    rows = [rng.integers(0, 131072, 4096).astype(np.float64) for _ in range(64)]
    flat = np.concatenate(rows)
    offs = np.zeros(65, dtype=np.int64)
    offs[1:] = np.cumsum([r.size for r in rows])
    blobs = chimp.compress_batch(flat, offs)
    assert all(
        blobs[i] == chimp.compress_chimp64(r) + bytes([19])
        for i, r in enumerate(rows)
    )


def test_chimp64_batch_u32_key_fallback():
    """Batches wider than 1007 rows exceed the uint16 radix key space
    (max key = 65*n_rows + 63, which overflows 2^16 already at exactly
    n_rows == 1008) and must take the uint32 stable-sort path —
    byte-identity holds on both sides of the boundary."""
    import numpy as np

    from tersets_spark.kernels import chimp

    rng = np.random.default_rng(9)
    rows = [
        rng.integers(0, 131072, int(n)).astype(np.float64)
        for n in rng.integers(2, 40, 1500)
    ]
    flat = np.concatenate(rows)
    offs = np.zeros(len(rows) + 1, dtype=np.int64)
    offs[1:] = np.cumsum([r.size for r in rows])
    blobs = chimp.compress_batch(flat, offs)
    for i, r in enumerate(rows):
        assert blobs[i] == chimp.compress_chimp64(r) + bytes([19]), i
    fl, of = chimp.decompress_batch(blobs)
    assert np.array_equal(fl.view(np.uint64), flat.view(np.uint64))
    assert np.array_equal(of, offs)


@pytest.mark.parametrize("n_rows", [1006, 1007, 1008, 1009])
def test_chimp64_batch_u16_boundary_full_width(n_rows: int) -> None:
    """r6 ADVICE (high): the uint16 radix key overflowed at exactly
    n_rows == 1008 — key = sig*(n_rows+1)+crow with sig == 64 wraps for
    rows >= 960, silently emitting width-0 cells for the wrong rows
    (reproduced pre-fix: 48 corrupt blobs, CorruptBlobError on decode).
    Pin the boundary: every row is a 2-value series whose xor has BOTH
    bit 63 and bit 0 set (lz=0, tz=0 -> sig=64), so every row index up
    to n_rows-1 carries a max-width cell. 1007 must take the uint16
    path, 1008 the uint32 path; both must be byte-identical to the
    single-series encoder and decode losslessly."""
    import numpy as np

    from tersets_spark.kernels import chimp

    v0 = np.float64(1.0)
    v1 = (
        np.array([v0]).view(np.uint64) ^ np.uint64(0x8000000000000001)
    ).view(np.float64)[0]
    assert (
        np.array([v0]).view(np.uint64)[0]
        ^ np.array([v1]).view(np.uint64)[0]
    ) == np.uint64(0x8000000000000001)
    rows = [np.array([v0, v1], dtype=np.float64)] * n_rows
    flat = np.concatenate(rows)
    offs = np.arange(0, 2 * n_rows + 1, 2, dtype=np.int64)
    blobs = chimp.compress_batch(flat, offs)
    expect = chimp.compress_chimp64(rows[0]) + bytes([19])
    for i in range(n_rows):
        assert blobs[i] == expect, f"row {i} of {n_rows}"
    fl, of = chimp.decompress_batch(blobs)
    assert np.array_equal(fl.view(np.uint64), flat.view(np.uint64))
    assert np.array_equal(of, offs)
    # the overflow lived in the SHARED section helper — pin the
    # chimp128 batch route through it at the same boundary
    blobs128 = chimp.compress_batch_chimp128(flat, offs)
    expect128 = chimp.compress_chimp128(rows[0]) + bytes([20])
    for i in range(n_rows):
        assert blobs128[i] == expect128, f"c128 row {i} of {n_rows}"


def _varied_series(rng, n, kind):
    if kind == 0:
        return np.round(rng.normal(100, 5, n), 2)
    if kind == 1:
        return rng.normal(0, 1e10, n)
    if kind == 2:
        v = np.cumsum(rng.normal(0, 1, n))
        if n > 3:
            v[1], v[2], v[3] = np.nan, -0.0, np.inf
        return v
    return np.repeat(rng.normal(), n)


@pytest.mark.parametrize("method", [Method.Chimp128, Method.Elf])
@pytest.mark.parametrize("n_rows,maxlen", [(1, 1), (7, 4), (300, 60), (1009, 25), (48, 2048)])
def test_batch_decode_bit_exact(method: Method, n_rows: int, maxlen: int) -> None:
    """Round-7 (r6 verdict #3): the Chimp128/Elf batch DECODERS must be
    bit-exact vs the per-row registry decoder across row shapes —
    including NaN payloads, -0.0, inf, empty and single-value rows, the
    1009-row uint32 sort-key regime, and the long-row Chimp128 dispatch
    (>1024 values/row takes the per-row encode path; decode must handle
    its blobs identically)."""
    from tersets_spark.kernels import chimp, elf

    comp, dec = {
        Method.Chimp128: (chimp.compress_batch_chimp128, chimp.decompress_batch_chimp128),
        Method.Elf: (elf.compress_batch, elf.decompress_batch),
    }[method]
    rng = np.random.default_rng(int(method) * 1000 + n_rows)
    lens = [int(rng.integers(0, maxlen + 1)) for _ in range(n_rows)]
    flats = [_varied_series(rng, n, i % 4).astype(np.float64) for i, n in enumerate(lens)]
    flat = np.concatenate(flats) if flats else np.empty(0, dtype=np.float64)
    offs = np.concatenate(([0], np.cumsum(lens))).astype(np.int64)
    blobs = comp(flat, offs)
    got_flat, got_off = dec(blobs)
    assert np.array_equal(got_off, offs)
    assert np.array_equal(got_flat.view(np.uint64), flat.view(np.uint64))
    for r in range(n_rows):  # blobs stay per-row registry-decodable
        single = registry.decompress(bytes(blobs[r]))
        assert np.array_equal(
            single.view(np.uint64), flat[offs[r] : offs[r + 1]].view(np.uint64)
        )


def test_batch_decode_dispatch_mixed_methods() -> None:
    """batch.decompress_batch routes rows BY METHOD BYTE: each of the
    four lossless batch codecs gets ALL of its rows in one global
    vectorized pass (a mixed-method batch never degrades a codec's rows
    to the per-row path), genuinely foreign methods (here RLE and
    Uncompressed) decode per row through the registry (r8: explicit
    `_decompress_rows` fallback instead of piggybacking on a fast
    decoder's internal per-row fallback), and the per-group results are
    scattered back to original row order — the whole mix must decode
    bit-exactly, including an empty blob."""
    from tersets_spark.kernels import batch

    rng = np.random.default_rng(11)
    methods = [
        Method.Chimp128,
        Method.Elf,
        Method.Chimp64,
        Method.BitPackedDeltaEncoding,
        Method.RunLengthEncoding,
        Method.Uncompressed,
    ]
    flats, blobs = [], []
    for i in range(60):
        m = methods[i % len(methods)]
        n = int(rng.integers(2, 40))
        if m == Method.BitPackedDeltaEncoding:
            v = rng.integers(0, 131072, n).astype(np.float64)
        elif m == Method.RunLengthEncoding:
            v = np.repeat(rng.integers(0, 9, 4).astype(np.float64), n)[:n]
        else:
            v = np.round(np.cumsum(rng.normal(0, 1, n)), 3)
        flats.append(v)
        blobs.append(registry.compress(v, m, {}))
    flats.append(np.empty(0, dtype=np.float64))
    blobs.append(b"")  # empty input -> empty blob convention
    flat = np.concatenate(flats)
    offs = np.concatenate(([0], np.cumsum([v.size for v in flats]))).astype(np.int64)
    got_flat, got_off = batch.decompress_batch(blobs)
    assert np.array_equal(got_off, offs)
    assert np.array_equal(got_flat.view(np.uint64), flat.view(np.uint64))


def test_batch_decode_all_foreign_methods() -> None:
    """A batch with NO fast-codec rows at all (only RLE/Uncompressed)
    must still decode bit-exactly — this shape used to take the
    single-group shortcut through a fast decoder's internal fallback;
    it now goes straight through the per-row registry fallback."""
    from tersets_spark.kernels import batch

    rng = np.random.default_rng(13)
    flats, blobs = [], []
    for i in range(20):
        m = Method.RunLengthEncoding if i % 2 else Method.Uncompressed
        n = int(rng.integers(1, 30))
        v = np.repeat(rng.integers(0, 5, 4).astype(np.float64), n)[:n]
        flats.append(v)
        blobs.append(registry.compress(v, m, {}))
    flat = np.concatenate(flats)
    offs = np.concatenate(([0], np.cumsum([v.size for v in flats]))).astype(np.int64)
    got_flat, got_off = batch.decompress_batch(blobs)
    assert np.array_equal(got_off, offs)
    assert np.array_equal(got_flat.view(np.uint64), flat.view(np.uint64))


@pytest.mark.parametrize("method", [Method.Chimp128, Method.Elf])
def test_batch_decode_corrupt_matches_per_row_contract(method: Method) -> None:
    """Corrupt blobs through the batch decoder must behave exactly like
    the per-row decoder: raise CorruptBlobError, or (when the flip is
    structurally undetectable) produce the same values the per-row
    decoder produces. Never a crash, never a silent divergence."""
    from tersets_spark.kernels import chimp, elf
    from tersets_spark.kernels.registry import CorruptBlobError

    dec = {
        Method.Chimp128: chimp.decompress_batch_chimp128,
        Method.Elf: elf.decompress_batch,
    }[method]
    rng = np.random.default_rng(int(method))
    for trial in range(25):
        v = np.round(np.cumsum(rng.normal(0, 1, int(rng.integers(2, 60)))), 3)
        blob = bytearray(registry.compress(v, method, {}))
        pos = int(rng.integers(0, len(blob)))
        blob[pos] ^= 1 << int(rng.integers(0, 8))
        blob = bytes(blob)
        try:
            ref = registry.decompress(blob)
            ref_err = None
        except (CorruptBlobError, ValueError) as e:
            ref, ref_err = None, e
        try:
            got_flat, got_off = dec([blob])
            got_err = None
        except (CorruptBlobError, ValueError) as e:
            got_flat, got_err = None, e
        if ref_err is not None:
            assert got_err is not None, (trial, pos)
        else:
            assert got_err is None, (trial, pos, got_err)
            assert np.array_equal(
                got_flat.view(np.uint64), ref.view(np.uint64)
            ), (trial, pos)


@pytest.mark.parametrize("method", [Method.Chimp128, Method.Elf])
def test_batch_decode_roundtrip(method: Method) -> None:
    """Batch encode then batch decode is bit-exact at the bench corpus
    shape (1000 rows x ~300 values). The batch decoder's speedup over
    the per-row path is timed by tools/bench_kernels.py (KERNELS.md)."""
    from tersets_spark.kernels import chimp, elf

    comp, dec = {
        Method.Chimp128: (chimp.compress_batch_chimp128, chimp.decompress_batch_chimp128),
        Method.Elf: (elf.compress_batch, elf.decompress_batch),
    }[method]
    rng = np.random.default_rng(3)
    lens = rng.integers(200, 400, 1000)
    flat = np.concatenate([np.round(np.cumsum(rng.normal(0, 1, n)), 3) for n in lens])
    offs = np.concatenate(([0], np.cumsum(lens))).astype(np.int64)
    got_flat, _ = dec(comp(flat, offs))
    assert np.array_equal(got_flat.view(np.uint64), flat.view(np.uint64))


def test_elf_decimal_round_matches_legacy_np_round() -> None:
    """The r7 vectorized _decimal_round must stay BIT-identical to the
    per-decimal-group np.round(sub, d) formulation it replaced: blobs
    already written flagged ok=True under the old recovery, and decode
    applies _decimal_round to reconstruct them — any drift silently
    corrupts stored data.  Sweeps short decimals, random doubles,
    huge/tiny magnitudes (|dec| past the 1e22 exact-power range and the
    inf overflow of numpy's power_of_ten), subnormals and +/-0."""
    from tersets_spark.kernels.elf import _decimal_round

    def legacy(v: np.ndarray, beta: np.ndarray) -> np.ndarray:
        out = v.copy()
        nz = np.isfinite(v) & (v != 0)
        if nz.any():
            with np.errstate(divide="ignore"):
                mag = np.floor(np.log10(np.abs(v[nz]))).astype(np.int64)
            dec = (beta[nz] - 1 - mag).astype(np.int64)
            sub = v[nz].copy()
            with np.errstate(invalid="ignore", over="ignore"):
                for d in np.unique(dec):
                    m = dec == d
                    sub[m] = np.round(sub[m], int(d))
            out[nz] = sub
        return out

    rng = np.random.default_rng(77)
    cases = [
        np.round(rng.normal(100.0, 20.0, 4000), 3),
        rng.normal(0.0, 1.0, 4000),
        rng.uniform(-1e300, 1e300, 2000),
        rng.uniform(-1e-300, 1e-300, 2000),
        np.array([5e-324, -5e-324, 1e308, -1e308, 0.0, -0.0, np.nan,
                  np.inf, -np.inf, 0.1, 12345.6789, 1e22, 1e23]),
    ]
    for arr in cases:
        for b in (1, 2, 3, 8, 16, 17):
            beta = np.full(arr.size, b, dtype=np.int64)
            got = _decimal_round(arr, beta)
            want = legacy(arr, beta)
            assert np.array_equal(
                got.view(np.uint64), want.view(np.uint64)
            ), f"beta={b}: recovery drifted from legacy np.round path"
        beta = rng.integers(1, 18, arr.size)
        got = _decimal_round(arr, beta)
        want = legacy(arr, beta)
        assert np.array_equal(got.view(np.uint64), want.view(np.uint64))


def test_unpack_bits_window_paths_all_widths() -> None:
    """pack->unpack round-trip across EVERY fixed width 1..64 (hits all
    routing tiers: packbits w=1, byte columns w%8, pairwise w=12,
    nibble w in {4,28}, u32 byte-window w<=25, u64 byte-window w<=57,
    generic matrix 58..64), plus awkward lengths that leave partial
    trailing bytes, and the short-buffer fall-through (corrupt blobs
    must keep raising via the generic path, never read out of range)."""
    from tersets_spark.kernels.bitstream import pack_bits, unpack_bits

    rng = np.random.default_rng(11)
    for w in range(1, 65):
        for n in (1, 7, 8, 9, 1000):
            hi = (1 << w) if w < 64 else (1 << 63)
            vals = rng.integers(0, hi, n, dtype=np.uint64)
            packed = pack_bits(vals, w)
            got = unpack_bits(
                np.frombuffer(packed, dtype=np.uint8), np.full(n, w, np.int64)
            )
            assert np.array_equal(got, vals), f"w={w} n={n}"
    # short buffer: the fast-path gate must fall through to the generic
    # path, which RAISES on the truncated stream (corrupt blobs keep
    # raising through the registry's CorruptBlobError wrapper)
    vals = rng.integers(0, 1 << 18, 100, dtype=np.uint64)
    packed = np.frombuffer(pack_bits(vals, 18), dtype=np.uint8)
    short = packed[: len(packed) // 2]
    with pytest.raises(ValueError):
        unpack_bits(short, np.full(100, 18, np.int64))


def test_unpack_bits_at_oob_positions_never_fault() -> None:
    """unpack_bits_at CLAMPS byte indices into zero padding rather than
    faulting — corrupt blobs may point cells anywhere, and the batch
    decoders accept rows only after validating declared byte totals.
    OOB reads must return values (garbage is fine), never raise/crash,
    and in-range values must be unaffected by OOB neighbors."""
    from tersets_spark.kernels.bitstream import pack_bits, unpack_bits_at

    rng = np.random.default_rng(5)
    vals = rng.integers(0, 1 << 20, 64, dtype=np.uint64)
    raw = np.frombuffer(pack_bits(vals, 20), dtype=np.uint8)
    widths = np.full(64, 20, np.int64)
    starts = np.arange(64, dtype=np.int64) * 20
    good = unpack_bits_at(raw, widths, starts)
    assert np.array_equal(good, vals)
    # absurd positions: far past the buffer, and at the last byte
    bad_starts = starts.copy()
    bad_starts[10] = 10**12
    bad_starts[20] = raw.size * 8 - 3
    got = unpack_bits_at(raw, widths, bad_starts)
    ok = np.ones(64, dtype=bool)
    ok[[10, 20]] = False
    assert np.array_equal(got[ok], vals[ok])  # neighbors unaffected
    assert got.shape == (64,)  # OOB rows decoded to something, no fault


def test_corrupt_xor_header_sig_negative_raises() -> None:
    """A 12-bit xor header claiming lz + tz > 64 (sig < 0) is a TYPED
    error on the single-row path, never a silent zero-width decode
    (round-8 ADVICE medium: the r7 window-unpack rework clamped these
    to zero-width cells, so one corrupted header byte made
    registry.decompress return silently-wrong floats for
    Chimp64/Chimp128/Elf AND defeated the batch decoders' bad_hdr ->
    registry fallback, whose contract is a typed error).

    Blob craft (single-series Chimp64 layout, chimp.py:88-129):
    [u32 n][u64 first][flags fpad/8 bytes][12-bit headers][payload].
    9 values with all-nonzero xors -> 8 flag bits = 1 byte at offset
    12; headers start at byte 13; first header's 12 bits = 0xFFF
    gives lz=63, tz=63 -> sig=-62.
    """
    from tersets_spark.kernels import chimp
    from tersets_spark.kernels.registry import CorruptBlobError

    v = np.cumsum(np.arange(1.0, 10.0))  # 9 values, every xor nonzero
    blob = bytearray(registry.compress(v, Method.Chimp64, {}))
    assert len(blob) > 15
    blob[13] = 0xFF
    blob[14] |= 0xF0
    blob = bytes(blob)
    with pytest.raises(CorruptBlobError):
        registry.decompress(blob)
    # batch fallback: bad_hdr rows route through the per-row decoder,
    # which must surface the same typed error
    with pytest.raises((CorruptBlobError, ValueError)):
        chimp.decompress_batch([blob])


def test_corrupt_xor_header_sig_zero_keeps_legacy_decode() -> None:
    """lz + tz == 64 (sig == 0) keeps the LEGACY zero-width decode: the
    cell contributes 0 bits and value 0, no error — exactly what the
    pre-r7 per-width path did (np.unique loop with w=0). Pinned so the
    sig<0 fix doesn't over-tighten."""
    v = np.cumsum(np.arange(1.0, 10.0))
    blob = bytearray(registry.compress(v, Method.Chimp64, {}))
    # lz=63, tz=1 -> 0b111111_000001 = 0xFC1 in the first header
    blob[13] = 0xFC
    blob[14] = (blob[14] & 0x0F) | 0x10
    out = registry.decompress(bytes(blob))
    assert out.size == v.size  # decodes, possibly-garbage values, no raise


def _delta_width_row(rng: np.random.Generator, w: int, n: int) -> np.ndarray:
    """An integer series whose compress_batch row has rebased-delta bit
    width exactly ``w`` (0..64) when ``n >= 3`` (a 2-value row has one
    delta, so width 0): w >= 3 swings between -A and +A with
    A = 2**(w-3), so the rebased span is 4A = 2**(w-1); every value is a
    small multiple of a power of two, hence exact in float64."""
    if w == 0:
        return 5.0 + 3.0 * np.arange(n)
    if w < 3:
        d = rng.integers(0, 1 << w, n - 1)
        d[:2] = (0, (1 << w) - 1)[: n - 1]
        return np.concatenate(([7.0], 7.0 + np.cumsum(d)))
    a = 2 ** (w - 3)
    step = max(a >> 10, 1)
    v = rng.integers(-(a // step), a // step + 1, n) * step
    v[:3] = (-a, a, -a)[:n]
    return v.astype(np.float64)


def _delta_decode_batch() -> tuple[list[bytes], np.ndarray, np.ndarray]:
    """compress_batch blobs with fast rows at every width 0..64 and
    lengths that leave 1..8 values in the last block, interleaved with
    rows the fast path must refuse: mixed mode (NaN, -0.0), a non-unit
    scale, a single value and an empty row. Rows past 1e15 (widths
    53..64) take the mode-0 layout that batch encoders wrote up to 2**62
    before the 1e15 gate: stored blocks keep such blobs."""
    from tersets_spark.kernels import delta

    rng = np.random.default_rng(64)
    slow = [
        np.array([1.0, np.nan, -0.0, 4.0, 9.0]),
        np.array([0.5, 1.25, 2.0, 2.75]),
        np.array([3.0]),
        np.empty(0),
    ]
    rows = []
    for w in range(65):
        for n in (2, 9, 10 + w % 8, 200 + w):
            rows.append(_delta_width_row(rng, w, n))
        rows.append(slow[w % len(slow)])
    flat = np.concatenate(rows)
    offs = np.concatenate(([0], np.cumsum([r.size for r in rows]))).astype(np.int64)
    blobs = delta.compress_batch(flat, offs)
    for i, r in enumerate(rows):
        if r.size >= 2 and np.abs(r).max() > 1e15:
            blobs[i] = _delta_mode0_blob(r)
    assert {b[29] for b in blobs if _is_fast_row(b)} == set(range(65))
    return blobs, flat, offs


def _is_fast_row(blob: bytes) -> bool:
    """A mode-0, scale-1.0 delta blob: the batch decoder's fast path."""
    return (
        len(blob) > 30
        and blob[-1] == int(Method.BitPackedDeltaEncoding)
        and blob[0] == 0
        and blob[5:13] == np.float64(1.0).tobytes()
    )


def _per_row_decode(blob: bytes) -> np.ndarray:
    from tersets_spark.kernels import delta

    if blob and blob[-1] == int(Method.BitPackedDeltaEncoding):
        return delta.decompress(blob[:-1])
    return registry.decompress(blob)


def test_delta_batch_decode_equals_per_row_at_every_width(monkeypatch) -> None:
    """The block-of-8 batch decoder returns the same (flat bits, offsets)
    as per-row delta.decompress on fast rows of every width 0..64 (the
    zero-width rows, the byte-window widths 1..57 and the unpack_bits
    widths 58..64), with slow rows in between — and only the slow rows
    reach the per-row registry decoder."""
    from tersets_spark.kernels import delta

    blobs, flat, offs = _delta_decode_batch()
    per_row = [_per_row_decode(b) for b in blobs]
    want = np.concatenate(per_row)
    assert np.array_equal(want.view(np.uint64), flat.view(np.uint64))
    seen: list[bytes] = []
    real = registry.decompress
    monkeypatch.setattr(registry, "decompress", lambda b: seen.append(b) or real(b))
    got_flat, got_off = delta.decompress_batch(blobs)
    assert np.array_equal(got_off, np.cumsum([0] + [p.size for p in per_row]))
    assert np.array_equal(got_flat.view(np.uint64), want.view(np.uint64))
    assert seen == [b for b in blobs if not _is_fast_row(b)]
    assert len(seen) == 65  # one slow row per width step


@pytest.mark.parametrize("corruption", ["count+1", "width+1", "truncated"])
def test_delta_batch_decode_corrupt_row_leaves_fast_path(monkeypatch, corruption) -> None:
    """A corrupted fast-path blob inside a batch fails the header guard
    (exact mode-0 length for its count and width), goes to the per-row
    registry decoder and raises from it — never a silent decode."""
    from tersets_spark.kernels import delta
    from tersets_spark.kernels.registry import CorruptBlobError

    blobs, _, _ = _delta_decode_batch()
    # a width-18 row with 8 deltas: count + 1 needs a second block
    nine = np.uint32(9).tobytes()
    k = next(
        i for i, b in enumerate(blobs) if _is_fast_row(b) and (b[1:5], b[29]) == (nine, 18)
    )
    blob = bytearray(blobs[k])
    if corruption == "count+1":
        blob[1:5] = np.uint32(10).tobytes()
    elif corruption == "width+1":
        blob[29] += 1
    else:
        del blob[-2]
    blobs[k] = bytes(blob)
    with pytest.raises(CorruptBlobError):
        registry.decompress(blobs[k])
    seen: list[bytes] = []
    real = registry.decompress
    monkeypatch.setattr(registry, "decompress", lambda b: seen.append(b) or real(b))
    with pytest.raises(CorruptBlobError):
        delta.decompress_batch(blobs)
    assert seen[-1] == blobs[k]



def _delta_mode0_blob(v: np.ndarray) -> bytes:
    """The mode-0, scale-1.0 delta layout of an exact-int row, method
    byte included: what delta.compress writes for |v| <= 1e15."""
    from tersets_spark.kernels import delta

    head = bytes([0]) + np.uint32(v.size).tobytes() + np.float64(1.0).tobytes()
    tail = bytes([int(Method.BitPackedDeltaEncoding)])
    return head + delta._encode_ints(v.astype(np.int64)) + tail


def _delta_per_row_blob(v: np.ndarray) -> bytes:
    """The blob the batch encoder must give one row: b"" when empty, the
    Uncompressed edge rule for one value, else delta.compress plus the
    method byte."""
    from tersets_spark.kernels import delta

    if v.size <= 1:
        return v.tobytes() + bytes([int(Method.Uncompressed)]) if v.size else b""
    return delta.compress(v) + bytes([int(Method.BitPackedDeltaEncoding)])


def test_delta_batch_encode_equals_per_row_rule(monkeypatch) -> None:
    """The block-of-8 batch encoder gives every row its per-row blob on
    fast rows of every width 0..52 with 1..8 values in the last block,
    interleaved with rows the gate must refuse (NaN, ±inf, -0.0, ±2**62,
    ±2**63, a fraction, a single value, an empty row, and exact ints
    past ±1e15, which delta.compress escapes to raw f64); only the
    refused rows of >= 2 values reach the single-series encoder. Rows
    at ±1e15 stay on the fast path."""
    from tersets_spark.kernels import delta

    rng = np.random.default_rng(65)
    edge, big = 1e15, 2.0**62 - 1024
    fast = [np.array([edge, -edge, edge]), np.array([-edge, -edge + 1024]), np.array([edge, edge])]
    for w in range(53):
        fast += [_delta_width_row(rng, w, n) for n in (*range(10, 18), 200 + w)]
    above, below = np.array([1.0, edge + 1]), np.array([-(edge + 1), 1.0])
    refused = [
        np.array([1.0, np.nan, 3.0]),
        np.array([np.inf, 1.0]),
        np.array([2.0, -np.inf, 4.0]),
        np.array([4.0, -0.0, 5.0]),
        np.array([1.0, 2.0**62]),
        np.array([-(2.0**62), 1.0]),
        np.array([2.0**63, 0.0]),
        np.array([0.0, -(2.0**63)]),
        np.array([1.0, 2.5, 3.0]),
        np.array([3.0]),
        np.empty(0),
        above,
        below,
        np.array([big, -big, big]),
        np.array([-big, -big + 1024]),
        *[_delta_width_row(rng, w, 17) for w in range(53, 65)],
    ]
    rows = []
    for i, r in enumerate(fast):
        rows.append(r)
        if i % 5 == 0:
            rows.append(refused[(i // 5) % len(refused)])
    blob_of = {id(r): _delta_per_row_blob(r) for r in fast + refused}
    assert all(blob_of[id(r)] == _delta_mode0_blob(r) for r in fast)
    want = [blob_of[id(r)] for r in rows]
    assert {b[29] for b in want if _is_fast_row(b)} == set(range(53))
    assert sum(map(_is_fast_row, want)) == len(fast)

    seen: list[np.ndarray] = []
    real = delta.compress
    monkeypatch.setattr(delta, "compress", lambda v: seen.append(v.copy()) or real(v))
    # the fast rows alone, and with only 1e15 + 1 or only -(1e15 + 1)
    # past the bound, probe the batch-level range shortcut at its edges
    for batch in (rows, fast, fast[:20] + [above], fast[:20] + [below]):
        seen.clear()
        flat = np.concatenate(batch)
        offs = np.concatenate(([0], np.cumsum([r.size for r in batch]))).astype(np.int64)
        assert delta.compress_batch(flat, offs) == [blob_of[id(r)] for r in batch]
        slow = [r for r in batch if r.size >= 2 and any(r is x for x in refused)]
        assert len(seen) == len(slow)
        assert all(np.array_equal(a.view(np.uint64), b.view(np.uint64)) for a, b in zip(seen, slow))
    assert len(rows) - len(fast) > 2 * len(refused)
