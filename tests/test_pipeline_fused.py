"""Fused single-pass operator must agree exactly with the separate
compress / rollup operators."""

from __future__ import annotations

import importlib
import sys
import threading
import zipfile
import zipimport

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from tersets_spark.methods import Method
from tersets_spark.operators.compress import compress_blocks, decompress_blocks, reassemble
from tersets_spark.operators.pipeline import (
    _drop_spark_zip_importers,
    _fused_batch,
    blocks_from_fused,
    flagship_summary,
    fused_compress_rollup,
)
from tersets_spark.operators.rollup import TIERS, tier_table
from tersets_spark.sources.synth import synth_tokens
from tier_oracle import edge_docs, numpy_tiers, tier_rows

TOKENS = "doc_id string, tokens array<int>"


def test_fused_matches_separate_operators(spark):
    toks = (
        synth_tokens(spark, 40, max_len=9000)
        .select("doc_id", "tokens")
        .unionByName(edge_docs(spark))
        .persist()
    )
    fused = fused_compress_rollup(toks, Method.BitPackedDeltaEncoding, chunk=1000).persist()
    # 1) every chunk round-trips in-kernel
    assert fused.filter(~F.col("roundtrip_ok")).count() == 0
    # 2) every fused tier == the per-doc numpy window slices, row for row
    ref = numpy_tiers((r.doc_id, r.tokens) for r in toks.collect())
    counts = {}
    for name in TIERS:
        assert tier_rows(tier_table(fused, name)) == ref[name], name
        counts[name] = len(ref[name])
    assert [b for d, b in ref["1d"] if d == "edge_long"] == [0, 1]  # two days
    # 3) the flagship's four rows == values derived from the reference
    want_bytes = compress_blocks(toks, Method.BitPackedDeltaEncoding, chunk=1000).agg(
        F.sum("bytes")
    ).first()[0]
    n_values = sum(n for *_, n in ref["1m"].values())
    got = {r.gid: r.asDict() for r in flagship_summary(fused).collect()}
    rows = {0: counts["1m"], 1: counts["1h"], 3: counts["1d"], 15: 1}
    assert got == {
        gid: {"gid": gid, "rows": n, "all_ok": 1, "bytes": want_bytes, "n_values": n_values}
        for gid, n in rows.items()
    }
    # 4) the blocks projection decodes back to the original sequences
    blocks = blocks_from_fused(fused, Method.BitPackedDeltaEncoding)
    restored = {r.doc_id: r.tokens for r in reassemble(decompress_blocks(blocks)).collect()}
    for r in toks.collect():
        assert restored.get(r.doc_id, []) == r.tokens
    fused.unpersist()
    toks.unpersist()


def test_fused_chimp128_blobs_match_compress_blocks(spark):
    """Every method takes the batch-codec path; NaN and -0.0 must
    round-trip bit for bit, and the blobs are compress_blocks' blobs."""
    rng = np.random.default_rng(3)
    vals = rng.normal(0, 1e3, 2500)
    vals[[5, 700, 1999]] = [float("nan"), -0.0, float("inf")]
    toks = spark.createDataFrame(
        [("d0", vals.tolist()), ("d1", []), ("d2", [1.5]), ("d3", rng.normal(size=999).tolist())],
        "doc_id string, tokens array<double>",
    )
    fused = fused_compress_rollup(toks, Method.Chimp128, chunk=1000)
    got = {(r.doc_id, r.chunk_id): (r.roundtrip_ok, r.blob) for r in fused.collect()}
    want = {
        (r.doc_id, r.chunk_id): r.blob
        for r in compress_blocks(toks, Method.Chimp128, chunk=1000).collect()
    }
    assert got.keys() == want.keys()
    assert all(ok for ok, _ in got.values())
    assert {k: bytes(b) for k, (_, b) in got.items()} == {k: bytes(b) for k, b in want.items()}


def test_roundtrip_ok_is_per_chunk_bit_equality():
    """A lossy codec reproduces a constant chunk exactly and a varying
    one not: the verdict lands on the right chunks."""
    docs = [[7] * 10 + list(range(10)), list(range(5)), [], [3] * 10]
    batch = pa.RecordBatch.from_arrays(
        [pa.array(["a", "b", "c", "d"]), pa.array(docs, type=pa.list_(pa.int32()))],
        names=["doc_id", "tokens"],
    )
    out = _fused_batch(batch, Method.PoorMansCompressionMean, {"abs_error_bound": 10.0}, 10)
    assert out.column("chunk_id").to_pylist() == [0, 1, 0, 0, 0]
    assert out.column("roundtrip_ok").to_pylist() == [True, False, False, True, True]


def test_roundtrip_ok_on_a_short_decode(monkeypatch):
    """A chunk that decodes to the wrong length fails; the chunks after
    it are still compared value for value."""
    from tersets_spark.operators import pipeline

    real = pipeline.decompress_batch

    def drop_one(blobs):  # chunk 1 decodes one value short
        flat, off = real(blobs)
        flat = np.delete(flat, off[1])
        return flat, np.concatenate((off[:2], off[2:] - 1))

    monkeypatch.setattr(pipeline, "decompress_batch", drop_one)
    batch = pa.RecordBatch.from_arrays(
        [pa.array(["a", "b"]), pa.array([list(range(8)), [5, 6]], type=pa.list_(pa.int32()))],
        names=["doc_id", "tokens"],
    )
    out = _fused_batch(batch, Method.BitPackedDeltaEncoding, {}, 4)
    assert out.column("roundtrip_ok").to_pylist() == [True, False, True]


def test_null_tokens_row_fails_loudly(spark):
    toks = spark.createDataFrame([("a", [1, 2]), ("b", None), ("c", [3])], TOKENS)
    with pytest.raises(Exception, match="null tokens for doc_id 'b'"):
        fused_compress_rollup(toks.coalesce(1)).collect()


def test_drop_spark_zip_importers_keeps_sparkfiles_archives(tmp_path, monkeypatch):
    """The fused kernel's task-end clean-up: zip importers of archives
    outside the SparkFiles root leave the importer cache, those under it
    stay, and a later import from a dropped archive rebuilds its
    importer from zipimport's directory cache without reading the
    archive again."""
    root = tmp_path / "userFiles"
    root.mkdir()
    zips = {}
    for pkg, where in (("fused_outside_pkg", tmp_path), ("fused_inside_pkg", root)):
        path = where / f"{pkg}.zip"
        with zipfile.ZipFile(path, "w") as zf:
            zf.writestr(f"{pkg}/__init__.py", "")
            zf.writestr(f"{pkg}/one.py", "X = 1\n")
            zf.writestr(f"{pkg}/two.py", "X = 2\n")
        zips[pkg] = str(path)
        monkeypatch.syspath_prepend(str(path))

    def cached(pkg):
        return [
            p for p, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter) and p.startswith(zips[pkg])
        ]

    try:
        for pkg in zips:
            importlib.import_module(f"{pkg}.one")
        kept = cached("fused_inside_pkg")
        assert cached("fused_outside_pkg") and kept
        _drop_spark_zip_importers(str(root))
        assert cached("fused_outside_pkg") == []
        assert cached("fused_inside_pkg") == kept
        reads = []
        real = zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or real(p))
        assert importlib.import_module("fused_outside_pkg.two").X == 2
        assert reads == []
    finally:
        for name in [m for m in sys.modules if m.startswith(tuple(zips))]:
            del sys.modules[name]
        for p in [p for p in sys.path_importer_cache if p.startswith(str(tmp_path))]:
            del sys.path_importer_cache[p]


def test_flagship_build_py4j_commands(spark, monkeypatch):
    """Building the flagship query is a fixed driver-side cost of every
    run: after one warm-up build it sends at most a quarter of the 558
    py4j commands it sent when flagship_summary was built from nested
    ``F.*`` calls (its SQL-text build sends 65). Commands from other
    threads, such as py4j's object finalizer, are not counted."""
    toks = spark.createDataFrame([("a", [1, 2, 3])], TOKENS)

    def build():
        return flagship_summary(fused_compress_rollup(toks, Method.BitPackedDeltaEncoding))

    build()
    client = spark.sparkContext._gateway._gateway_client
    real, me, sent = client.send_command, threading.get_ident(), []

    def counting(*args, **kwargs):
        if threading.get_ident() == me:
            sent.append(args[0])
        return real(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    build()
    assert 0 < len(sent) <= 558 // 4, len(sent)
