"""spark-submit entry: the full compress + rollup + retention pipeline
with lineage/resume.

Usage:
    spark-submit --py-files tersets_spark.zip jobs/compact.py \
        --out /data/out --run-id nightly-2026-08-16 \
        --n-docs 100000 --tiers 1m,1h,1d --method chimp64 \
        --raw-retention 86400 --n-buckets 256

At cluster scale the same script runs unchanged on N or 4N executors:
parallelism comes from spark.sql.shuffle.partitions and the input split
count, work distribution from the deterministic partition buckets
(lineage.py). A killed run re-submitted with the same --run-id replays
only unfinished buckets.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

# allow running without --py-files when launched from the repo checkout
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--out", required=True)
    p.add_argument("--run-id", default=None)
    p.add_argument("--input", default=None, help="parquet token table; default: synth")
    p.add_argument("--n-docs", type=int, default=10000)
    p.add_argument("--tiers", default="1m,1h,1d")
    p.add_argument("--method", default="delta", choices=["delta", "chimp64", "chimp128", "rle"])
    p.add_argument("--raw-retention", type=int, default=86400)
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--cores", type=int, default=None)
    args = p.parse_args(argv)

    from concurrent.futures import ThreadPoolExecutor

    from tersets_spark.methods import Method
    from tersets_spark.operators.compress import compress_blocks
    from tersets_spark.operators.lineage import append_metrics, run_with_lineage
    from tersets_spark.operators.retention import split_aged
    from tersets_spark.operators.rollup import TIER_NAMES, TIERS, tier_arrays, tier_table
    from tersets_spark.session import get_spark
    from tersets_spark.sources.synth import synth_tokens

    method = {
        "delta": Method.BitPackedDeltaEncoding,
        "chimp64": Method.Chimp64,
        "chimp128": Method.Chimp128,
        "rle": Method.RunLengthEncoding,
    }[args.method]
    tiers = args.tiers.split(",")
    if not set(tiers) <= set(TIERS):
        p.error(f"--tiers takes names from {','.join(TIERS)}")
    spark = get_spark("tersets_compact", cores=args.cores)
    sc = spark.sparkContext
    t0 = time.time()
    df = (
        spark.read.parquet(args.input)
        if args.input
        else synth_tokens(spark, args.n_docs)
    )
    # every tier of every doc, one row per doc, held in memory: each tier
    # table is one explode of it and the token count one sum over it,
    # with no second scan of the input and no exchange
    arrays = tier_arrays(df).persist()

    def write_tiers() -> int:
        sc.setJobDescription("tiers")
        for name in tiers:
            tier_table(arrays, name).selectExpr(
                "doc_id", "bucket", "vmin", "vmax", "vsum / vcount AS vmean", "vcount"
            ).write.mode("overwrite").parquet(f"{args.out}/tier_{name}")
        total = arrays.selectExpr(
            f"sum(aggregate(vcount_{TIER_NAMES[-1]}, 0L, (a, b) -> a + b))"
        ).first()[0]
        arrays.unpersist()
        return total or 0

    kept, aged = split_aged(df, args.raw_retention)

    def write_raw_hot() -> None:
        sc.setJobDescription("raw_hot")
        kept.write.mode("overwrite").parquet(f"{args.out}/raw_hot")

    def process(bucket_df):
        return compress_blocks(bucket_df.select("doc_id", "tokens"), method)

    # 1) tier rollups and 2) the raw suffixes, overlapping 3) the aged
    # prefixes' block compaction, bucketed with lineage/resume
    with ThreadPoolExecutor(max_workers=2) as pool:
        tiers_done = pool.submit(write_tiers)
        raw_hot_done = pool.submit(write_raw_hot)
        run_id = run_with_lineage(
            spark,
            aged,
            process,
            out_path=f"{args.out}/blocks",
            lineage_path=f"{args.out}/lineage",
            run_id=args.run_id,
            n_buckets=args.n_buckets,
        )
        total_tokens = tiers_done.result()
        raw_hot_done.result()
    wall_ms = int((time.time() - t0) * 1000)
    append_metrics(
        spark,
        f"{args.out}/metrics",
        [
            {
                "run_id": run_id,
                "stage": "compact",
                # tokens_per_sec * wall_ms / 1000 gives back the token count
                "tokens_per_sec": total_tokens * 1000 / wall_ms if wall_ms else 0.0,
                "compress_ratio": None,
                "wall_ms": wall_ms,
                "parallelism": sc.defaultParallelism,
            }
        ],
    )
    print(f"run_id={run_id} tokens={total_tokens} wall_s={wall_ms / 1000:.1f}")
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
