"""Pin the `_kmeans` <-> DuckDB bit-parity that `ivf_ann_topk`'s hard
oracle rests on, WITHOUT a Spark session: the oracle SQL trains the
same centroid matrix the engine trains, so any edit to `_kmeans` that
changes a fold order, the init rule, or a tie-break must fail here
immediately (instead of surfacing as a value-hash mismatch in the
driver's CORRECTNESS gate a round later)."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tersets_spark.operators.similarity import _kmeans  # noqa: E402


@pytest.mark.parametrize(
    "n,dim,n_cells",
    [
        (40, 4, 5),
        (200, 8, 16),
        (7, 3, 16),  # corpus smaller than n_cells: k = n
    ],
)
def test_kmeans_matches_duckdb_training(n, dim, n_cells):
    import __spark_entry__ as e

    rng = np.random.default_rng(n * 1000 + dim)
    X = rng.normal(size=(n, dim))
    # vec_id order IS row order (the sample is orderBy(vec_id))
    con = duckdb.connect()
    con.register(
        "emb_src",
        pd.DataFrame({"vec_id": np.arange(n), "embedding": [list(map(float, r)) for r in X]}),
    )
    con.execute(
        "CREATE VIEW embeddings AS SELECT vec_id, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding FROM emb_src"
    )
    sql = e._ivf_ann_oracle(
        n_cells=n_cells, sample_size=4096, iters=10, dim=dim, emit="centroids"
    )
    got = con.execute(sql).fetchall()
    want = _kmeans(X.astype(np.float64), n_cells, iters=10)
    assert len(got) == len(want)
    for (cell, cvec), j in zip(got, range(len(want))):
        assert cell == j
        a = np.asarray(cvec, dtype=np.float64)
        assert np.array_equal(
            a.view(np.uint64), want[j].view(np.uint64)
        ), f"cell {j} centroid bits diverge"


def test_kmeans_deterministic_and_rng_free():
    X = np.random.default_rng(9).normal(size=(64, 6))
    a = _kmeans(X, 8)
    b = _kmeans(X.copy(), 8)
    assert np.array_equal(a.view(np.uint64), b.view(np.uint64))
