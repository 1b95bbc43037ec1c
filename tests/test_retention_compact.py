"""Tier compaction: rollup tables -> float-codec blocks -> exact restore."""

from __future__ import annotations

from pyspark.sql import functions as F

from tersets_spark.methods import Method
from tersets_spark.operators.retention import compact_tier, restore_tier
from tersets_spark.operators.rollup import rollup_tokens_base
from tersets_spark.sources.synth import synth_tokens


def test_compact_restore_roundtrip(spark):
    toks = synth_tokens(spark, 25, max_len=6000)
    rollup = rollup_tokens_base(toks).select(
        "doc_id",
        "bucket",
        "vmin",
        "vmax",
        (F.col("vsum") / F.col("vcount")).alias("vmean"),
    ).persist()
    for method in (Method.Chimp64, Method.BitPackedDeltaEncoding):
        blocks = compact_tier(rollup, method=method)
        restored = restore_tier(blocks)
        orig = {
            (r.doc_id, r.bucket): (r.vmin, r.vmax, r.vmean) for r in rollup.collect()
        }
        got: dict = {}
        for r in restored.collect():
            got.setdefault((r.doc_id, r.bucket), {})[r.stat] = r.value
        assert len(got) == len(orig)
        for k, (vmin, vmax, vmean) in orig.items():
            assert got[k]["vmin"] == vmin, (method.name, k)
            assert got[k]["vmax"] == vmax
            assert got[k]["vmean"] == vmean  # bitwise lossless codecs
    # compaction actually compresses vs raw 8B/value
    stats = blocks.agg(
        F.sum("bytes").alias("b"), F.sum("n_buckets").alias("n")
    ).collect()[0]
    assert stats["b"] < stats["n"] * 8


def test_compact_sparse_buckets(spark):
    rows = [("a", 0, 1.0, 2.0, 1.5), ("a", 5, 3.0, 4.0, 3.5), ("a", 100, 5.0, 6.0, 5.5)]
    df = spark.createDataFrame(
        rows, "doc_id string, bucket long, vmin double, vmax double, vmean double"
    )
    restored = restore_tier(compact_tier(df))
    got = {(r.bucket, r.stat): r.value for r in restored.collect()}
    assert got[(5, "vmin")] == 3.0 and got[(100, "vmean")] == 5.5
