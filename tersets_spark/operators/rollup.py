"""Continuous aggregates: min/max/mean/count rollups at retention tiers.

Two input shapes:

* **Token sequences** (the engine's canonical input): position = the
  implicit time index, mirroring the reference's model where time is the
  array index (/root/reference/src/tersets.zig:118-123). Tiers 1m/1h/1d
  = bucket widths 60/3600/86400 positions.
* **Timestamped events**: classic time-bucket rollups via
  ``date_trunc`` — pure Catalyst, partial+final hash aggregation free.

Scale design: the naive plan (posexplode every token, then groupBy) is
the 100-TB anti-pattern — it shuffles one row per token. Instead the
base tier (1m) is computed *inside* a vectorized Arrow kernel with
``np.*.reduceat`` over whole Arrow batches (one row per 60 tokens leaves
Python), and coarser tiers re-aggregate the finer tier JVM-side
(partial+final, 60x/24x reductions per step). Mean is re-aggregated
exactly by carrying (sum, count), not averaging averages.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .compress import reject_null_tokens

#: tier name -> bucket width in positions (or seconds for event time)
TIERS = {"1m": 60, "1h": 3600, "1d": 86400}

ROLLUP_SCHEMA = (
    "doc_id string, bucket long, vmin double, vmax double, "
    "vsum double, vcount long"
)


def rollup_tokens_base(df: DataFrame, width: int = 60) -> DataFrame:
    """Base-tier rollup over ``(doc_id, tokens array<int32>)``:
    one output row per (doc, bucket of ``width`` positions).

    Vectorized across the whole Arrow batch: concatenate the batch's
    token arrays, build bucket boundaries for every row at once, and run
    four ``np.*.reduceat`` passes — O(1) Python per batch. A null
    ``tokens`` row raises ``ValueError`` naming its ``doc_id``."""

    def agg_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            reject_null_tokens(pdf["doc_id"], pdf["tokens"])
            arrays = [np.asarray(t, dtype=np.float64) for t in pdf["tokens"]]
            if not arrays:
                continue
            lens = np.array([a.size for a in arrays], dtype=np.int64)
            flat = np.concatenate(arrays) if arrays else np.empty(0)
            n_buckets = (lens + width - 1) // width
            # bucket start offsets within the flat array
            row_starts = np.repeat(np.cumsum(lens) - lens, n_buckets)
            intra = (
                np.arange(int(n_buckets.sum()), dtype=np.int64)
                - np.repeat(np.cumsum(n_buckets) - n_buckets, n_buckets)
            )
            starts = row_starts + intra * width
            if starts.size == 0:
                continue
            vmin = np.minimum.reduceat(flat, starts)
            vmax = np.maximum.reduceat(flat, starts)
            vsum = np.add.reduceat(flat, starts)
            ends = np.minimum(starts + width, np.repeat(np.cumsum(lens), n_buckets))
            vcount = ends - starts
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(pdf["doc_id"].to_numpy(), n_buckets),
                    "bucket": intra,
                    "vmin": vmin,
                    "vmax": vmax,
                    "vsum": vsum,
                    "vcount": vcount,
                }
            )

    return df.select("doc_id", "tokens").mapInPandas(agg_batches, schema=ROLLUP_SCHEMA)


def reaggregate(finer: DataFrame, factor: int) -> DataFrame:
    """Re-aggregate a finer tier into a coarser one JVM-side (exact:
    carries sum+count). ``factor`` = coarser_width / finer_width."""
    return (
        finer.groupBy("doc_id", (F.floor(F.col("bucket") / factor)).alias("bucket"))
        .agg(
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
            F.sum("vsum").alias("vsum"),
            F.sum("vcount").alias("vcount"),
        )
    )


def tier_rollups(df: DataFrame, tiers: dict[str, int] | None = None) -> dict[str, DataFrame]:
    """All retention tiers of a token table from one base pass: returns
    {tier_name: (doc_id, bucket, vmin, vmax, vmean, vcount)}. See
    :func:`tiers_from_base`."""
    tiers = dict(tiers or TIERS)
    return tiers_from_base(rollup_tokens_base(df, min(tiers.values())), tiers)


def tiers_from_base(base: DataFrame, tiers: dict[str, int] | None = None) -> dict[str, DataFrame]:
    """All retention tiers from ``base``, the :func:`rollup_tokens_base`
    of the token table at the finest requested width.

    Every coarser tier is a JVM-side re-aggregation of the previous one
    (widths must nest, as 1m/1h/1d do). A caller that runs several
    tiers persists ``base`` first, so the token table is scanned and the
    base kernel runs once for all of them."""
    tiers = dict(tiers or TIERS)
    names = sorted(tiers, key=tiers.get)
    widths = [tiers[n] for n in names]
    for a, b in zip(widths, widths[1:]):
        if b % a:
            raise ValueError(f"tier widths must nest: {b} % {a} != 0")
    out: dict[str, DataFrame] = {}
    cur = base
    out[names[0]] = cur
    for prev_w, name, w in zip(widths, names[1:], widths[1:]):
        cur = reaggregate(cur, w // prev_w)
        out[name] = cur
    return {
        name: d.select(
            "doc_id",
            "bucket",
            "vmin",
            "vmax",
            (F.col("vsum") / F.col("vcount")).alias("vmean"),
            "vcount",
        )
        for name, d in out.items()
    }


def rollup_events(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    key_cols: tuple[str, ...] = ("user_id",),
    tier: str = "1h",
) -> DataFrame:
    """Timestamp rollup for event tables — pure Catalyst (partial+final
    hash agg, no Python). Bucket = epoch seconds truncated to the tier
    width."""
    width = TIERS[tier]
    bucket = (F.floor(F.unix_timestamp(F.col(ts_col)) / width) * width).alias("bucket")
    return (
        df.groupBy(*key_cols, bucket)
        .agg(
            F.min(value_col).alias("vmin"),
            F.max(value_col).alias("vmax"),
            F.avg(value_col).alias("vmean"),
            F.count(value_col).alias("vcount"),
        )
    )
