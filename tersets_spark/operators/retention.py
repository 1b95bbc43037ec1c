"""Tier aging and compaction.

Engine feature from BASELINE.json.north_star: raw token positions older
than the raw-retention horizon are compacted into Gorilla/delta blocks;
rollup tiers are pruned to their own horizons (raw → 1m at T1, 1m → 1h
at T2, ...). "Age" follows the reference's time model — the array
position is the clock (/root/reference/src/tersets.zig:118-123), with
the newest position being the hottest.

All splitting is JVM-side (``slice``/``greatest``); compression of the
aged prefix reuses operators.compress (mapInPandas kernels, no extra
shuffle). Tier pruning is a plain filter against the per-doc max bucket
— predicate-pushdown friendly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..methods import Method
from .compress import CHUNK, compress_blocks


def split_aged(df: DataFrame, raw_retention: int) -> tuple[DataFrame, DataFrame]:
    """Split ``(doc_id, tokens, n_tok, ...)`` into (kept_raw, aged):
    the newest ``raw_retention`` positions stay raw; the older prefix is
    returned for compaction. Rows shorter than the horizon pass through
    untouched.

    The slices trust ``n_tok``, so a row whose ``n_tok`` is not
    ``size(tokens)``, or whose ``tokens`` is null, fails the query with
    an error naming its ``doc_id`` (a ``raise_error`` in the projection
    both outputs read; no extra Spark job)."""
    df = df.withColumn(
        "n_tok",
        F.when(
            F.col("tokens").isNotNull() & (F.size("tokens") == F.col("n_tok")),
            F.col("n_tok"),
        ).otherwise(
            F.raise_error(
                F.format_string(
                    "split_aged: doc_id %s has n_tok %s but %s tokens",
                    "doc_id",
                    "n_tok",
                    F.size("tokens"),
                )
            )
        ),
    )
    aged_len = F.greatest(F.col("n_tok") - raw_retention, F.lit(0))
    aged = (
        df.filter(F.col("n_tok") > raw_retention)
        .withColumn("tokens", F.slice("tokens", 1, F.col("n_tok") - raw_retention))
        .withColumn("n_tok", aged_len.cast("int"))
    )
    kept = df.withColumn(
        "tokens",
        F.when(
            F.col("n_tok") > raw_retention,
            F.slice(
                "tokens",
                F.col("n_tok") - raw_retention + 1,
                F.lit(raw_retention),
            ),
        ).otherwise(F.col("tokens")),
    ).withColumn("n_tok", F.least(F.col("n_tok"), F.lit(raw_retention)).cast("int"))
    return kept, aged


def compact_aged(
    df: DataFrame,
    raw_retention: int,
    method: Method = Method.BitPackedDeltaEncoding,
    config: dict | None = None,
    chunk: int = CHUNK,
) -> tuple[DataFrame, DataFrame]:
    """Age out and compress: returns (kept_raw, blocks)."""
    kept, aged = split_aged(df, raw_retention)
    return kept, compress_blocks(aged, method, config, chunk)


TIER_BLOCKS_SCHEMA = (
    "doc_id string, stat string, method tinyint, blob binary, "
    "bucket_blob binary, n_buckets int, first_bucket long, bytes int"
)


def _field_getter(field: str):
    return lambda r: r[field]


def compact_tier(
    rollup: DataFrame,
    method: Method = Method.Chimp64,
    stats: tuple[str, ...] = ("vmin", "vmax", "vmean"),
) -> DataFrame:
    """Compact an aged-out rollup tier into float-codec blocks: one blob
    per (doc_id, stat column), values ordered by bucket — the
    Gorilla/Chimp XOR path of the north_star applied to the aggregate
    series. Collection is JVM-side (sort_array of (bucket, stat)
    structs); the kernel sees plain float arrays.

    Group-size bound: the collect_list group is ROLLUP ROWS per doc,
    i.e. ceil(series_len / tier_width) buckets — for the reference data
    shape (<= 262k tokens, 1m tier) that is <= 4.4k rows/doc, orders of
    magnitude below the raw-series hot-key risk. Compact coarser tiers
    (1h/1d) for correspondingly smaller groups; for pathological docs
    split by first_bucket range upstream."""
    from typing import Iterator

    import pandas as pd

    method_code = int(method)
    gathered = rollup.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct("bucket", *[F.col(s) for s in stats]))
        ).alias("_rows")
    ).select(
        "doc_id",
        F.element_at("_rows", 1)["bucket"].alias("first_bucket"),
        F.size("_rows").alias("n_buckets"),
        F.transform("_rows", lambda r: r["bucket"]).alias("_buckets"),
        # NB: a 2-arg lambda means (element, index) to F.transform, so
        # late binding is avoided with a factory, not a default arg
        *[F.transform("_rows", _field_getter(s)).alias(s) for s in stats],
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ..kernels.batch import compress_batch
        from ..methods import Method as M

        m = M(method_code)
        delta = M.BitPackedDeltaEncoding
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            # batch the bucket axes (delta) and every stat column (m)
            # across the whole Arrow batch in one codec call each
            barrs = [np.asarray(b, dtype=np.float64) for b in pdf["_buckets"]]
            boffs = np.concatenate(([0], np.cumsum([a.size for a in barrs])))
            bblobs = compress_batch(
                np.concatenate(barrs) if barrs else np.empty(0), boffs, delta
            )
            stat_blobs: dict[str, list[bytes]] = {}
            for s in stats:
                arrs = [np.asarray(x, dtype=np.float64) for x in pdf[s]]
                offs = np.concatenate(([0], np.cumsum([a.size for a in arrs])))
                stat_blobs[s] = compress_batch(
                    np.concatenate(arrs) if arrs else np.empty(0), offs, m
                )
            doc_rep = np.repeat(pdf["doc_id"].to_numpy(), len(stats))
            fb_rep = np.repeat(pdf["first_bucket"].to_numpy(), len(stats))
            nb_rep = np.repeat(pdf["n_buckets"].to_numpy(), len(stats))
            blob_col = [stat_blobs[s][i] for i in range(n) for s in stats]
            yield pd.DataFrame(
                {
                    "doc_id": doc_rep,
                    "stat": list(stats) * n,
                    "method": np.int8(method_code),
                    "blob": blob_col,
                    "bucket_blob": [bblobs[i] for i in range(n) for _ in stats],
                    "n_buckets": nb_rep.astype(np.int32),
                    "first_bucket": fb_rep.astype(np.int64),
                    "bytes": np.asarray(
                        [len(b) for b in blob_col], dtype=np.int32
                    ),
                }
            )

    return gathered.mapInPandas(kernel, schema=TIER_BLOCKS_SCHEMA)


def restore_tier(blocks: DataFrame) -> DataFrame:
    """Inverse of :func:`compact_tier`: back to
    (doc_id, stat, bucket, value) rows. The whole Arrow batch decodes
    in ONE ``decompress_batch`` call per column (value blobs + bucket
    blobs) — the global width-grouped unpack passes of the four
    lossless batch codecs, instead of a per-row Python decode loop —
    and the output columns are numpy repeats, no list building."""
    from typing import Iterator

    import pandas as pd

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ..kernels.batch import decompress_batch

        for pdf in batches:
            if not len(pdf):
                continue
            vflat, voffs = decompress_batch([bytes(b) for b in pdf["blob"]])
            bflat, boffs = decompress_batch(
                [bytes(b) for b in pdf["bucket_blob"]]
            )
            counts = np.diff(voffs)
            if not np.array_equal(np.diff(boffs), counts):
                raise ValueError(
                    "tier block corrupt: value/bucket counts disagree"
                )
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(pdf["doc_id"].to_numpy(), counts),
                    "stat": np.repeat(pdf["stat"].to_numpy(), counts),
                    "bucket": bflat.astype(np.int64),
                    "value": vflat,
                }
            )

    return blocks.mapInPandas(
        kernel, schema="doc_id string, stat string, bucket long, value double"
    )


def prune_tier(rollup: DataFrame, keep_buckets: int) -> DataFrame:
    """Keep only the newest ``keep_buckets`` buckets per doc in a tier
    rollup table (broadcast-free: window-max per doc via self-agg join is
    avoided by a grouped max + equi-join, which AQE broadcasts when the
    doc dimension is small; at scale the join co-partitions on doc_id)."""
    horizon = rollup.groupBy("doc_id").agg(F.max("bucket").alias("_maxb"))
    return (
        rollup.join(horizon, "doc_id")
        .filter(F.col("bucket") > F.col("_maxb") - keep_buckets)
        .drop("_maxb")
    )
