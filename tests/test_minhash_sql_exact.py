"""Pin the MinHash band-bucket <-> DuckDB bit-parity that the fuzzy
oracle rows rest on, WITHOUT a Spark session: the oracle's band SQL
must reproduce `_band_buckets_batch` (the one signature path the engine
ships) bit for bit, so an edit to either side that changes a hash, a
constant draw or the band fold fails here instead of as a value-hash
mismatch in four driver rows."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tersets_spark.operators.dedup import _band_buckets_batch  # noqa: E402

EDGE_TEXTS = [
    "",
    None,
    "a",
    "abcd",  # shorter than the shingle: one shingle over all codepoints
    "abcde",
    "\U0001F44D\U0001F3FD",  # non-BMP emoji + skin-tone modifier
    "ok \U0001F44D\U0001F3FD héllo wörld",
    "q" * 700,
    "".join(
        chr(c) for c in np.random.default_rng(3).integers(32, 0x2FFF, 700)
    ),
]


@pytest.mark.parametrize(
    "k_shingle,n_hashes,bands,seed",
    [
        (5, 30, 5, 42),  # the fuzzy pipeline / oracle configuration
        (5, 16, 4, 7),
        (3, 10, 3, 1),
    ],
)
def test_band_sql_matches_numpy(k_shingle, n_hashes, bands, seed):
    import __spark_entry__ as e

    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(
            {"doc_id": np.arange(len(EDGE_TEXTS), dtype=np.int64), "text": EDGE_TEXTS}
        ),
    )
    got = {
        (d, band): bucket
        for d, band, bucket in con.execute(
            e._minhash_bands_sql(k_shingle, n_hashes, bands, seed)
        ).fetchall()
    }
    want = _band_buckets_batch(pd.Series(EDGE_TEXTS), k_shingle, n_hashes, bands, seed)
    assert len(got) == len(EDGE_TEXTS) * bands
    for d, row in enumerate(want):
        for band in range(bands):
            assert got[(d, band)] == int(row[band]), (EDGE_TEXTS[d], band)
