"""Replica-growth crossover experiment: incremental vs full fuzzy-store
recompaction (the BENCH.md "synthetic 10x replica experiment").

Grows the sf0.1 documents corpus by ``mult`` replicas with rewritten
doc_ids and per-replica tail text, builds the standard 3-batch +
mid-compaction + delta-quarter store shape, then times ONE
``recompact_fuzzy_store_incremental`` over the last-quarter delta vs
ONE full ``recompact_fuzzy_store`` over everything.

Run one mult level per process (``python tools/replica_crossover.py 10``)
— cross-leg JVM state (broadcast cleanup backlog, block-manager churn)
confounds OOM attribution and timing when legs share a JVM; the r9
committed table was measured fresh-JVM-per-leg. The 8 GiB driver heap is
deliberate: completing mult=10 under it is the regression guard for the
r9 staging rework (the localCheckpoint-era write path OOM'd there).

NOTE this corpus is pathologically duplicate-heavy (every doc has
mult-1 near-identical replicas), so the verify stage grows for BOTH
paths — it stresses memory and the candidate fan-out, not the
incremental path's best case. See BENCH.md for interpretation.
"""
import os
import shutil
import sys
import tempfile
import time

from pyspark.sql import SparkSession, functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as em  # noqa: E402
from tersets_spark.streaming.fuzzy_dedup_stream import (  # noqa: E402
    process_fuzzy_batch,
    recompact_fuzzy_store,
    recompact_fuzzy_store_incremental,
)


def main() -> None:
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    em._ensure_pkg(spark)

    base = em._documents(spark, "/root/testdata/sf0.1").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    mults = [int(sys.argv[1])] if len(sys.argv) > 1 else [1, 4, 10]
    for mult in mults:
        docs = None
        for i in range(mult):
            rep = base.select(
                (F.col("doc_id") + F.lit(i * 1_000_000)).alias("doc_id"),
                F.concat(
                    F.col("text"),
                    F.lit(f" replica-{i} tail-"),
                    F.col("doc_id").cast("string"),
                ).alias("text"),
            )
            docs = rep if docs is None else docs.unionByName(rep)
        n = docs.count()
        tmp = tempfile.mkdtemp(prefix="crossover_")
        try:
            for b in range(3):
                process_fuzzy_batch(
                    docs.filter(F.col("doc_id") % 4 == b), tmp, b,
                    keep_dropped_texts=True,
                )
            recompact_fuzzy_store(spark, tmp)
            process_fuzzy_batch(
                docs.filter(F.col("doc_id") % 4 == 3), tmp, 3,
                keep_dropped_texts=True,
            )
            t0 = time.time()
            r_inc = recompact_fuzzy_store_incremental(spark, tmp)
            t_inc = time.time() - t0
            t0 = time.time()
            recompact_fuzzy_store(spark, tmp)
            t_full = time.time() - t0
            print(
                f"mult={mult} n_docs={n} incr={t_inc:.2f}s "
                f"full={t_full:.2f}s n_new={r_inc.get('n_new')} "
                f"cand={r_inc.get('n_candidate_pairs')}",
                flush=True,
            )
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            spark.catalog.clearCache()
    spark.stop()
    print("EXPERIMENT_DONE", flush=True)


if __name__ == "__main__":
    main()
