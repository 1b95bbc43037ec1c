"""Continuous aggregates: min/max/mean/count rollups at retention tiers.

Two input shapes:

* **Token sequences** (the engine's canonical input): position = the
  implicit time index, mirroring the reference's model where time is the
  array index (/root/reference/src/tersets.zig:118-123). Tiers 1m/1h/1d
  = bucket widths 60/3600/86400 positions.
* **Timestamped events**: classic time-bucket rollups via
  ``date_trunc`` — pure Catalyst, partial+final hash aggregation free.

Scale design: the naive plan (posexplode every token, then groupBy) is
the 100-TB anti-pattern — it shuffles one row per token. Instead one
row is one whole document, so every bucket of every tier lies inside one
call of a vectorized Arrow kernel (:func:`tier_partials`): 1m reduces
the batch's flat token buffer with ``np.*.reduceat``, 1h and 1d reduce
the next-finer tier's partials (the widths nest), and the doc's tiers
leave Python as arrays on one row. A tier table is one explode of those
arrays (:func:`tier_table`); nothing is grouped or shuffled by key. Mean
is exact: the partials carry (sum, count), not averages of averages.
The fused flagship (``pipeline.fused_compress_rollup``) runs the same
helpers next to its codecs; :func:`tier_arrays` runs them alone.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels.bitstream import segment_intra_indices

#: tier name -> bucket width in positions (or seconds for event time)
TIERS = {"1m": 60, "1h": 3600, "1d": 86400}
#: tier names, finest first
TIER_NAMES = sorted(TIERS, key=TIERS.get)
_STATS = ("vmin", "vmax", "vsum", "vcount")
#: one array column per (tier, stat), finest tier first; array index = bucket
_TIER_COLUMNS = [f"{s}_{t}" for t in TIER_NAMES for s in _STATS]
TIER_FIELDS = ", ".join(
    f"{c} array<{'long' if c.startswith('vcount') else 'double'}>" for c in _TIER_COLUMNS
)


def flat_tokens(batch: pa.RecordBatch) -> tuple[np.ndarray, np.ndarray]:
    """The tokens of a ``(doc_id, tokens)`` Arrow batch as one float64
    buffer and the per-doc offsets into it (``num_rows + 1`` of them).
    A null ``doc_id`` or a null ``tokens`` row raises ``ValueError``."""
    doc_col, tok_col = batch.column(0), batch.column(1)
    if doc_col.null_count:
        raise ValueError(f"{doc_col.null_count} null doc_id in a batch of {batch.num_rows} rows")
    if tok_col.null_count:
        row = int(np.flatnonzero(tok_col.is_null().to_numpy(zero_copy_only=False))[0])
        raise ValueError(f"null tokens for doc_id {doc_col[row].as_py()!r}")
    lens = np.asarray(pc.list_value_length(tok_col), dtype=np.int64)
    fflat = tok_col.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    return fflat, np.concatenate(([0], np.cumsum(lens)))


def tier_partials(fflat: np.ndarray, row_off: np.ndarray) -> list[tuple[np.ndarray, list]]:
    """Per tier (finest first): the per-doc offsets into its partials
    and the partials ``[vmin, vmax, vsum, vcount]``, doc after doc.

    A tier's buckets tile its source (tokens, then the next-finer
    tier's partials) with no gap, so ``reduceat`` over the bucket
    starts reduces each bucket exactly."""
    out = []
    src, off, prev_w = [fflat] * 3 + [None], row_off, 1
    for name in TIER_NAMES:
        step = TIERS[name] // prev_w
        n = (np.diff(off) + step - 1) // step
        starts = np.repeat(off[:-1], n) + segment_intra_indices(n) * step
        part = [
            np.minimum.reduceat(src[0], starts),
            np.maximum.reduceat(src[1], starts),
            np.add.reduceat(src[2], starts),
            np.diff(starts, append=fflat.size)
            if src[3] is None
            else np.add.reduceat(src[3], starts),
        ]
        off = np.concatenate(([0], np.cumsum(n)))
        out.append((off, part))
        src, prev_w = part, TIERS[name]
    return out


def tier_arrays(df: DataFrame) -> DataFrame:
    """Every tier of ``(doc_id, tokens)`` in one ``mapInArrow`` pass, no
    compression: one row per doc, ``doc_id`` plus the TIER_FIELDS
    arrays. Explode a tier with :func:`tier_table`; persist the result
    when more than one tier is read from it."""

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows:
                fflat, row_off = flat_tokens(batch)
                cols = [
                    pa.ListArray.from_arrays(off, pa.array(p))
                    for off, part in tier_partials(fflat, row_off)
                    for p in part
                ]
                yield pa.RecordBatch.from_arrays(
                    [batch.column(0), *cols], names=["doc_id", *_TIER_COLUMNS]
                )

    return df.select("doc_id", "tokens").mapInArrow(kernel, schema="doc_id string, " + TIER_FIELDS)


def tier_table(frame: DataFrame, tier: str) -> DataFrame:
    """One rollup tier, ``(doc_id, bucket, vmin, vmax, vsum, vcount)``,
    of any frame that carries the tier's ``vmin_<tier>`` … ``vcount_<tier>``
    arrays (:func:`tier_arrays`, ``pipeline.fused_compress_rollup``): the
    arrays exploded, one row per bucket. The partials are already whole
    per doc, so nothing is grouped or shuffled."""
    cols = [f"{s}_{tier}" for s in _STATS]
    return frame.select(
        "doc_id", F.posexplode(F.arrays_zip(*cols)).alias("bucket", "z")
    ).select(
        "doc_id",
        F.col("bucket").cast("long").alias("bucket"),
        *[F.col(f"z.{c}").alias(s) for c, s in zip(cols, _STATS)],
    )


def rollup_tokens_base(df: DataFrame) -> DataFrame:
    """The 1m tier of ``(doc_id, tokens array<int32>)``: one row per
    (doc, bucket of 60 positions), ``(doc_id, bucket, vmin, vmax, vsum,
    vcount)``."""
    return tier_table(tier_arrays(df), TIER_NAMES[0])


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
