"""A tier reference that shares no code with the rollup kernel: each
bucket is a numpy slice of its doc's tokens, reduced on its own."""

from __future__ import annotations

import numpy as np

from tersets_spark.operators.rollup import TIERS


def edge_docs(spark):
    """An empty doc, one shorter than a 1m bucket and one of 90,001
    tokens, longer than a 1d bucket (two days)."""
    rng = np.random.default_rng(7)
    return spark.createDataFrame(
        [
            ("edge_empty", []),
            ("edge_short", rng.integers(0, 50_000, 37).tolist()),
            ("edge_long", rng.integers(0, 131_072, 90_001).tolist()),
        ],
        "doc_id string, tokens array<int>",
    )


def numpy_tiers(docs) -> dict[str, dict[tuple[str, int], tuple]]:
    """``{tier: {(doc_id, bucket): (vmin, vmax, vsum, vcount)}}`` of
    ``(doc_id, tokens)`` rows, one window slice per bucket."""
    docs, out = list(docs), {}
    for name, width in TIERS.items():
        rows = out[name] = {}
        for doc_id, tokens in docs:
            v = np.asarray(tokens, dtype=np.float64)
            for start in range(0, v.size, width):
                seg = v[start : start + width]
                rows[(doc_id, start // width)] = (seg.min(), seg.max(), seg.sum(), seg.size)
    return out


def tier_rows(df, *stats: str) -> dict[tuple[str, int], tuple]:
    """A tier table's rows keyed like :func:`numpy_tiers`; a repeated
    ``(doc_id, bucket)`` fails."""
    rows = df.select("doc_id", "bucket", *(stats or ("vmin", "vmax", "vsum", "vcount"))).collect()
    out = {(r[0], r[1]): tuple(r[2:]) for r in rows}
    assert len(out) == len(rows), "repeated (doc_id, bucket) rows"
    return out
