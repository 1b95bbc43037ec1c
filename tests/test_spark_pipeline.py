"""End-to-end Spark pipeline: synth -> compress -> roundtrip -> rollups
-> gapfill -> retention -> lineage/resume.

Oracle style per SURVEY.md §5.2: the numpy kernels (same module the UDFs
call) are the single-node oracle; Spark output must match exactly.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tersets_spark.methods import Method
from tersets_spark.operators.compress import (
    compress_blocks,
    decompress_blocks,
    reassemble,
    roundtrip_verify,
)
from tersets_spark.operators.gapfill import gapfill
from tersets_spark.operators.retention import prune_tier, split_aged
from tersets_spark.operators.pipeline import fused_compress_rollup
from tersets_spark.operators.rollup import (
    TIERS,
    rollup_events,
    rollup_tokens_base,
    tier_arrays,
    tier_table,
)
from tersets_spark.sources.synth import synth_tokens
from tier_oracle import edge_docs, numpy_tiers, tier_rows

N_DOCS = 60


@pytest.fixture(scope="module")
def tokens_df(spark):
    df = synth_tokens(spark, N_DOCS, max_len=9000).cache()
    df.count()
    return df


def test_synth_deterministic(spark):
    a = synth_tokens(spark, 8, max_len=512).orderBy("doc_id").collect()
    b = synth_tokens(spark, 8, max_len=512).orderBy("doc_id").collect()
    for ra, rb in zip(a, b):
        assert ra.doc_id == rb.doc_id and ra.tokens == rb.tokens
    assert all(0 <= t < 131072 for t in a[0].tokens)


@pytest.mark.parametrize(
    "method",
    [
        Method.BitPackedDeltaEncoding,
        Method.Chimp64,
        Method.Chimp128,
        Method.RunLengthEncoding,
        Method.Elf,
        Method.Uncompressed,
    ],
    ids=lambda m: m.name,
)
def test_roundtrip_all_docs(tokens_df, method):
    res = roundtrip_verify(tokens_df, method).collect()
    assert len(res) == N_DOCS
    assert all(r.roundtrip_ok for r in res)


def test_chunking_boundaries(spark, tokens_df):
    blocks = compress_blocks(tokens_df, Method.BitPackedDeltaEncoding, chunk=1000)
    agg = blocks.groupBy("doc_id").agg(
        F.sum("n_values").alias("total"), F.count("*").alias("n_chunks")
    )
    joined = tokens_df.join(agg, "doc_id").collect()
    for r in joined:
        assert r.total == r.n_tok
        assert r.n_chunks == max((r.n_tok + 999) // 1000, 1)


def test_tier_rollups_match_numpy_oracle(spark, tokens_df):
    """Every tier of the rollup kernel equals a per-doc numpy window
    slice exactly, on the synthetic table plus an empty doc, a 37-token
    doc and a doc spanning two days; the 1m tier of rollup_tokens_base
    too."""
    toks = tokens_df.select("doc_id", "tokens").unionByName(edge_docs(spark))
    want = numpy_tiers((r.doc_id, r.tokens) for r in toks.collect())
    arrays = tier_arrays(toks).persist()
    for name in TIERS:
        assert tier_rows(tier_table(arrays, name)) == want[name], name
    assert [b for d, b in want["1d"] if d == "edge_long"] == [0, 1]
    assert tier_rows(rollup_tokens_base(toks)) == want["1m"]
    arrays.unpersist()


def test_rollup_events_matches_sql(spark):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    mine = rollup_events(events, tier="1h").orderBy("user_id", "bucket")
    events.createOrReplaceTempView("ev")
    ref = spark.sql(
        """
        SELECT user_id, floor(unix_timestamp(ts)/3600)*3600 AS bucket,
               min(value) vmin, max(value) vmax, avg(value) vmean, count(value) vcount
        FROM ev GROUP BY 1, 2 ORDER BY 1, 2
        """
    )
    assert mine.collect() == ref.collect()


def test_gapfill_locf_and_linear(spark):
    rows = [
        ("a", 0, 10.0),
        ("a", 60, 20.0),
        ("a", 240, 50.0),
        ("b", 60, 5.0),
    ]
    df = spark.createDataFrame(rows, "doc_id string, bucket long, v double")
    locf = {
        (r.doc_id, r.bucket): (r.v, r.gap_filled)
        for r in gapfill(df, ["doc_id"], 60, ["v"], "locf").collect()
    }
    assert locf[("a", 120)] == (20.0, True)
    assert locf[("a", 180)] == (20.0, True)
    assert locf[("a", 240)] == (50.0, False)
    assert locf[("b", 60)] == (5.0, False)
    lin = {
        (r.doc_id, r.bucket): r.v
        for r in gapfill(df, ["doc_id"], 60, ["v"], "linear").collect()
    }
    assert lin[("a", 120)] == pytest.approx(30.0)
    assert lin[("a", 180)] == pytest.approx(40.0)


def test_split_aged_partitions_tokens(spark, tokens_df):
    kept, aged = split_aged(tokens_df, 1000)
    k = {r.doc_id: r.tokens for r in kept.collect()}
    a = {r.doc_id: r.tokens for r in aged.collect()}
    orig = {r.doc_id: r.tokens for r in tokens_df.collect()}
    for doc, toks in orig.items():
        if len(toks) > 1000:
            assert a[doc] + k[doc] == toks
            assert len(k[doc]) == 1000
        else:
            assert k[doc] == toks and doc not in a


@pytest.mark.parametrize(
    "bad,message",
    [
        (("b", [4, 5, 6], 7), "doc_id b has n_tok 7 but 3 tokens"),
        (("b", None, 2), "doc_id b has n_tok 2 but"),
    ],
    ids=["n_tok-mismatch", "null-tokens"],
)
def test_split_aged_rejects_broken_input_contract(spark, bad, message):
    """A row whose declared n_tok is not size(tokens), or whose tokens
    are null, would be mis-sliced; both outputs fail naming its doc_id."""
    df = spark.createDataFrame(
        [("a", [1, 2, 3, 4], 4), bad, ("c", [7], 1)],
        "doc_id string, tokens array<int>, n_tok int",
    )
    kept, aged = split_aged(df, 2)
    for out in (kept, aged):
        with pytest.raises(Exception, match=message):
            out.collect()


@pytest.mark.parametrize(
    "op", [compress_blocks, rollup_tokens_base], ids=["compress_blocks", "rollup_tokens_base"]
)
def test_unfused_kernels_reject_null_tokens(spark, op):
    """A null tokens row fails naming its doc_id, as in the fused kernel,
    instead of deep inside numpy with no row named."""
    df = spark.createDataFrame(
        [("a", [1, 2, 3, 4]), ("b", None), ("c", [7])], "doc_id string, tokens array<int>"
    )
    with pytest.raises(Exception, match="null tokens for doc_id 'b'"):
        op(df.coalesce(1)).collect()


@pytest.mark.parametrize(
    "op", [fused_compress_rollup, tier_arrays], ids=["fused_compress_rollup", "tier_arrays"]
)
def test_arrow_kernels_reject_null_doc_id(spark, op):
    """A null doc_id fails instead of keying tier rows by null; the shared
    Arrow flatten checks it for both kernels."""
    df = spark.createDataFrame(
        [("a", [1, 2, 3, 4]), (None, [5, 6]), ("c", [7])], "doc_id string, tokens array<int>"
    )
    with pytest.raises(Exception, match="1 null doc_id in a batch of 3 rows"):
        op(df.coalesce(1)).collect()


def test_prune_tier(spark):
    rows = [("a", b, 1.0, 1.0, 1.0, 1) for b in range(10)]
    df = spark.createDataFrame(
        rows, "doc_id string, bucket long, vmin double, vmax double, vmean double, vcount long"
    )
    out = prune_tier(df, 3).select("bucket").collect()
    assert sorted(r.bucket for r in out) == [7, 8, 9]


def test_lineage_resume(spark, tokens_df, tmp_path):
    from tersets_spark.operators.lineage import (
        read_done_buckets,
        run_with_lineage,
        with_partition_bucket,
    )

    out = str(tmp_path / "blocks")
    lin = str(tmp_path / "lineage")
    calls = []

    def process(df):
        calls.append(1)
        return compress_blocks(df.select("doc_id", "tokens"), Method.BitPackedDeltaEncoding)

    run_id = run_with_lineage(
        spark, tokens_df, process, out, lin, run_id="r1", n_buckets=8, buckets_per_batch=4
    )
    assert run_id == "r1"
    assert read_done_buckets(spark, lin, "r1") == set(range(8))
    n_blocks = spark.read.parquet(out).count()
    # resume: everything done -> no further processing
    calls.clear()
    run_with_lineage(
        spark, tokens_df, process, out, lin, run_id="r1", n_buckets=8, buckets_per_batch=4
    )
    assert not calls
    assert spark.read.parquet(out).count() == n_blocks
    # killed-run simulation: drop lineage rows for half the buckets ->
    # only those buckets replay, final state identical
    import shutil

    kept_rows = (
        spark.read.parquet(lin).filter(F.col("partition_id") < 4).collect()
    )
    shutil.rmtree(lin)
    from tersets_spark.operators.lineage import append_lineage

    append_lineage(spark, lin, [r.asDict() for r in kept_rows])
    run_with_lineage(
        spark, tokens_df, process, out, lin, run_id="r1", n_buckets=8, buckets_per_batch=4
    )
    assert read_done_buckets(spark, lin, "r1") == set(range(8))
    restored = reassemble(decompress_blocks(spark.read.parquet(out)))
    orig = {r.doc_id: r.tokens for r in tokens_df.collect()}
    for r in restored.collect():
        assert r.tokens == orig[r.doc_id]


def test_lineage_overlapped_batches(spark, tokens_df, tmp_path):
    """Four bucket batches run overlapped: one lineage row per bucket,
    each lineage file holds one batch's buckets, and a batch whose
    process_fn raises leaves no lineage rows while the other batches
    commit; the re-run replays that batch alone."""
    import glob
    import threading

    import pyarrow.parquet as pq

    from tersets_spark.operators.lineage import read_done_buckets, run_with_lineage

    out = str(tmp_path / "blocks")
    lin = str(tmp_path / "lineage")
    batches = [{0, 1}, {2, 3}, {4, 5}, {6, 7}]
    lock = threading.Lock()
    calls = []
    failures = [RuntimeError("first batch fails")]

    def process(df):
        with lock:
            calls.append(1)
            if failures:
                raise failures.pop()
        return compress_blocks(df.select("doc_id", "tokens"), Method.BitPackedDeltaEncoding)

    with pytest.raises(RuntimeError, match="first batch fails"):
        run_with_lineage(
            spark, tokens_df, process, out, lin, run_id="ov", n_buckets=8, buckets_per_batch=2
        )
    assert len(calls) == 4
    missing = set(range(8)) - read_done_buckets(spark, lin, "ov")
    assert missing in batches

    calls.clear()
    run_with_lineage(
        spark, tokens_df, process, out, lin, run_id="ov", n_buckets=8, buckets_per_batch=2
    )
    assert len(calls) == 1
    pids = spark.read.parquet(lin).select("partition_id").collect()
    assert sorted(r.partition_id for r in pids) == list(range(8))
    for f in glob.glob(f"{lin}/*.parquet"):
        in_file = set(pq.read_table(f, columns=["partition_id"]).column(0).to_pylist())
        assert any(in_file <= b for b in batches), (f, in_file)
    restored = reassemble(decompress_blocks(spark.read.parquet(out))).collect()
    assert {r.doc_id: r.tokens for r in restored} == {
        r.doc_id: r.tokens for r in tokens_df.collect()
    }


def test_read_done_buckets_missing_and_corrupt(spark, tmp_path):
    """No lineage table yet reads as no done buckets; a table that
    cannot be read raises instead of replaying every bucket."""
    from tersets_spark.operators.lineage import read_done_buckets

    lin = tmp_path / "lineage"
    assert read_done_buckets(spark, str(lin), "r") == set()
    lin.mkdir()
    (lin / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="not a Parquet file"):
        read_done_buckets(spark, str(lin), "r")
