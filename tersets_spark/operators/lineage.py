"""Per-partition lineage + resumable checkpoints.

Engine feature from BASELINE.json.north_rule: "resumable from checkpoint
with per-partition lineage + metrics — a killed job replays only
unfinished partitions."

Work unit: a deterministic *partition bucket*
``pb = pmod(xxhash64(doc_id), n_buckets)`` — stable across runs, cluster
sizes and retries (never Spark's physical partition id, which is not).
The orchestrator splits the pending buckets into batches, which run as
overlapping Spark jobs from a small fixed thread pool. Each batch
writes its output parquet with dynamic partition overwrite (idempotent
on retry; concurrent batches touch disjoint ``pb=`` partitions and
stage under their own ``.spark-staging-*`` dirs). One grouped job,
running alongside the batch writes, computes every pending bucket's
stats. The calling thread appends one lineage row per bucket of a batch
only after that batch's write commits and the stats are in. Appends run
one at a time, because concurrent appends would share
``lineage/_temporary``, and each append holds one batch's buckets only.
A killed run leaves ``status='done'`` rows only for committed buckets;
the next run anti-joins them away and replays the rest. A batch whose
``process_fn`` or write fails gets no lineage rows, while the other
batches still commit; the failure is raised once they have.
"""

from __future__ import annotations

import time
import uuid
from concurrent.futures import ThreadPoolExecutor, as_completed

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LINEAGE_SCHEMA = (
    "run_id string, partition_id int, doc_id_min string, doc_id_max string, "
    "n_series long, n_tokens long, out_bytes long, status string, "
    "started_ts timestamp, finished_ts timestamp"
)

METRICS_SCHEMA = (
    "run_id string, stage string, tokens_per_sec double, compress_ratio double, "
    "wall_ms long, parallelism int"
)

#: bucket batches (and the bucket-stats job) in flight at once
BATCH_THREADS = 3


def with_partition_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "pb", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
    )


def read_done_buckets(spark: SparkSession, lineage_path: str, run_id: str) -> set[int]:
    """Buckets of ``run_id`` with a ``done`` lineage row. Empty only when
    the lineage table does not exist yet (the first run); an unreadable
    table raises rather than replaying every bucket."""
    jvm = spark.sparkContext._jvm
    path = jvm.org.apache.hadoop.fs.Path(lineage_path)
    if not path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()).exists(path):
        return set()
    rows = (
        spark.read.schema(LINEAGE_SCHEMA)
        .parquet(lineage_path)
        .filter((F.col("run_id") == run_id) & (F.col("status") == "done"))
        .select("partition_id")
        .distinct()
        .collect()
    )
    return {r.partition_id for r in rows}


def _append(spark: SparkSession, path: str, rows: list[dict], schema: str) -> None:
    # a pandas frame plans a LocalTableScan; a list of dicts would plan a
    # Python-RDD scan, several times slower per append
    if rows:
        spark.createDataFrame(pd.DataFrame(rows), schema=schema).write.mode(
            "append"
        ).parquet(path)


def append_lineage(spark: SparkSession, lineage_path: str, rows: list[dict]) -> None:
    _append(spark, lineage_path, rows, LINEAGE_SCHEMA)


def append_metrics(spark: SparkSession, metrics_path: str, rows: list[dict]) -> None:
    _append(spark, metrics_path, rows, METRICS_SCHEMA)


def run_with_lineage(
    spark: SparkSession,
    df: DataFrame,
    process_fn,
    out_path: str,
    lineage_path: str,
    run_id: str | None = None,
    n_buckets: int = 64,
    buckets_per_batch: int = 16,
) -> str:
    """Process ``df`` bucket-batch-wise with checkpoint/resume.

    ``process_fn(bucket_df) -> DataFrame`` must produce the output rows
    for the given slice and carry ``doc_id``; output parquet is
    partitioned by ``pb`` and overwritten per-partition (idempotent).
    Returns the run_id.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    work = with_partition_bucket(df, n_buckets)
    done = read_done_buckets(spark, lineage_path, run_id)
    pending = [b for b in range(n_buckets) if b not in done]
    if not pending:
        return run_id
    sc = spark.sparkContext

    def bucket_stats() -> dict:
        sc.setJobDescription("bucket stats")
        rows = (
            work.filter(F.col("pb").isin(pending))
            .groupBy("pb")
            .agg(
                F.min("doc_id").alias("dmin"),
                F.max("doc_id").alias("dmax"),
                F.count("*").alias("n_series"),
                F.sum(F.coalesce(F.col("n_tok"), F.lit(0)).cast("long")).alias(
                    "n_tokens"
                ),
            )
            .collect()
        )
        return {int(r.pb): r for r in rows}

    def write_batch(batch: list[int]) -> float:
        sc.setJobDescription(f"blocks pb {batch[0]}-{batch[-1]}")
        started = time.time()
        out = process_fn(work.filter(F.col("pb").isin(batch)))
        if "pb" not in out.columns:
            out = with_partition_bucket(out, n_buckets)
        out.write.mode("overwrite").partitionBy("pb").parquet(out_path)
        return started

    batches = [
        pending[i : i + buckets_per_batch]
        for i in range(0, len(pending), buckets_per_batch)
    ]
    with ThreadPoolExecutor(max_workers=BATCH_THREADS) as pool:
        stats = pool.submit(bucket_stats)
        writes = {pool.submit(write_batch, batch): batch for batch in batches}
        # lineage rows reflect what was just committed; appended one
        # batch at a time from this thread, in commit order
        for fut in as_completed(writes):
            if fut.exception() is not None:
                continue
            batch, started = writes[fut], fut.result()
            by_pb = stats.result()
            now = time.time()
            sc.setJobDescription(f"lineage pb {batch[0]}-{batch[-1]}")
            append_lineage(
                spark,
                lineage_path,
                [
                    {
                        "run_id": run_id,
                        "partition_id": int(r.pb),
                        "doc_id_min": r.dmin,
                        "doc_id_max": r.dmax,
                        "n_series": int(r.n_series),
                        "n_tokens": int(r.n_tokens or 0),
                        "out_bytes": None,
                        "status": "done",
                        "started_ts": _ts(started),
                        "finished_ts": _ts(now),
                    }
                    for r in (by_pb[b] for b in batch if b in by_pb)
                ],
            )
        sc.setJobDescription(None)
    for fut in writes:
        fut.result()  # raise the first failed batch, after the rest committed
    return run_id


def _ts(epoch: float):
    import datetime

    return datetime.datetime.fromtimestamp(epoch, tz=datetime.timezone.utc).replace(
        tzinfo=None
    )
