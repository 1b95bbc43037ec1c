"""Per-method single-core kernel microbenchmarks -> markdown table,
plus the batch-vs-single A/Bs of the batched delta and Chimp64 encoders
and the delta / Chimp128 / Elf batch decoders.

Usage: python tools/bench_kernels.py   (refreshes KERNELS.md of the
checkout this script lives in)
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import numpy as np

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from tersets_spark.kernels import registry  # noqa: E402
from tersets_spark.methods import LOSSLESS_METHODS, Method  # noqa: E402

CFG = {
    "abs_error_bound": 2.0,
    "histogram_bins_number": 64,
    "area_under_curve_error": 2.0,
    "aggregate_error_type": "rmse",
    "aggregate_error_bound": 2.0,
    "target_point_count": 512,
    "number_of_coefficients": 32,
    "decimal_precision": 4,
}


def main() -> None:
    rng = np.random.default_rng(42)
    tokens = rng.integers(0, 131072, 4096).astype(np.float64)
    floats = 1000 * np.sin(np.arange(4096) * 0.01) + rng.normal(0, 1, 4096)
    rows = []
    for m in sorted(Method, key=int):
        v = tokens if m in LOSSLESS_METHODS or m in (
            Method.BitPackedDeltaEncoding,
            Method.Uncompressed,
        ) else floats
        try:
            blob = registry.compress(v, m, CFG)
            reps = max(int(0.3 / max(_t(lambda: registry.compress(v, m, CFG)), 1e-5)), 3)
            tc = _bench(lambda: registry.compress(v, m, CFG), reps)
            td = _bench(lambda: registry.decompress(blob), reps)
            rows.append(
                (m.name, int(m), v.size / tc / 1e6, v.size / td / 1e6,
                 v.nbytes / len(blob))
            )
        except Exception as ex:  # noqa: BLE001
            rows.append((m.name, int(m), None, None, str(ex)[:40]))
    lines = [
        "# KERNELS — single-core microbenchmarks",
        "",
        "4096-value series (tokens for lossless, sinusoid+noise for lossy),",
        f"config {CFG}. Rates in Mtok/s, single core, this sandbox's CPU.",
        "",
        "| method | code | compress | decompress | ratio |",
        "|---|---|---|---|---|",
    ]
    for name, code, c, d, r in rows:
        if c is None:
            lines.append(f"| {name} | {code} | - | - | {r} |")
        else:
            lines.append(f"| {name} | {code} | {c:.1f} | {d:.1f} | {r:.2f}x |")
    lines += ["", *batch_ab_lines()]
    tail = ""
    marker = "<!-- hand-curated below"
    try:
        prev = (ROOT / "KERNELS.md").read_text()
        if marker in prev:
            i = prev.index(marker)
            tail = "\n" + prev[i:]
    except FileNotFoundError:
        pass
    (ROOT / "KERNELS.md").write_text("\n".join(lines) + "\n" + tail)
    print("\n".join(lines))


def _median_ratio(single, batch) -> float:
    """Median over 9 interleaved pairs of single-path / batch-path
    seconds, so a throttle window moves one pair, not the readout."""
    return float(np.median([_t(single) / _t(batch) for _ in range(9)]))


def batch_ab_lines() -> list[str]:
    """Batch-vs-single A/Bs (byte identity is pinned by
    tests/test_kernels_lossless.py)."""
    from tersets_spark.kernels import chimp, delta, elf

    rng = np.random.default_rng(5)
    rows = [rng.integers(0, 131072, 4096).astype(np.float64) for _ in range(64)]
    flat = np.concatenate(rows)
    offs = np.concatenate(([0], np.cumsum([r.size for r in rows]))).astype(np.int64)
    m = Method.BitPackedDeltaEncoding
    blobs = delta.compress_batch(flat, offs)
    shape = "64 x 4096 tokens"
    # a small batch: the batch encoder's fixed per-call cost shows here
    small = [r[:100] for r in rows[:16]]
    s_flat = np.concatenate(small)
    s_offs = 100 * np.arange(17, dtype=np.int64)
    ratios = [
        ("delta batch encode", shape, _median_ratio(
            lambda: [registry.compress(r, m) for r in rows],
            lambda: delta.compress_batch(flat, offs),
        )),
        ("delta batch encode", "16 x 100 tokens", _median_ratio(
            lambda: [registry.compress(r, m) for r in small],
            lambda: delta.compress_batch(s_flat, s_offs),
        )),
        ("delta batch decode", shape, _median_ratio(
            lambda: [registry.decompress(b) for b in blobs],
            lambda: delta.decompress_batch(blobs),
        )),
        ("Chimp64 batch encode", shape, _median_ratio(
            lambda: [chimp.compress_chimp64(r) for r in rows],
            lambda: chimp.compress_batch(flat, offs),
        )),
    ]
    lines = [
        "Batch A/Bs (batch path vs the per-row path over the same rows),",
        "median of 9 interleaved single/batch pairs:",
        "",
        "| path | shape | batch speedup |",
        "|---|---|---|",
        *(f"| {name} | {shp} | {r:.2f}x |" for name, shp, r in ratios),
    ]
    rng = np.random.default_rng(3)
    lens = rng.integers(200, 400, 1000)
    flat = np.concatenate([np.round(np.cumsum(rng.normal(0, 1, n)), 3) for n in lens])
    offs = np.concatenate(([0], np.cumsum(lens))).astype(np.int64)
    for name, comp, dec in (
        ("Chimp128", chimp.compress_batch_chimp128, chimp.decompress_batch_chimp128),
        ("Elf", elf.compress_batch, elf.decompress_batch),
    ):
        blobs = comp(flat, offs)
        ratio = _median_ratio(
            lambda: [registry.decompress(b) for b in blobs], lambda: dec(blobs)
        )
        lines.append(f"| {name} batch decode | 1000 x 200-400 values | {ratio:.2f}x |")
    return lines


def _t(fn) -> float:
    t0 = time.time()
    fn()
    return time.time() - t0


def _bench(fn, reps: int) -> float:
    best = 1e9
    for _ in range(max(reps, 3)):
        best = min(best, _t(fn))
    return best


if __name__ == "__main__":
    main()
