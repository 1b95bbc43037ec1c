"""Fused single-pass operator: compress + round-trip verify + every
rollup tier's partials in ONE Arrow crossing.

Scale rationale: at 10^12 sequences the dominant cost is moving token
arrays into Python workers. The separate operators each pay that
transfer (compress pass, rollup pass) and a naive verify pays it twice
more (decompress + reassembly shuffle). This kernel reads each chunk
once and emits everything derived from it, one row per chunk:

  (doc_id, chunk_id, first_pos, n_values, blob, bytes, roundtrip_ok,
   vmin_<t>[], vmax_<t>[], vsum_<t>[], vcount_<t>[] for t in TIERS)

Invariant: one input row is one WHOLE document (TerseTS's model: a
series is one array whose index is its clock). Every bucket of every
tier therefore lies inside one kernel call, so the kernel finishes the
tiers itself and no downstream step merges partials:

* ``roundtrip_ok`` verifies decompress(compress(chunk)) == chunk
  in-kernel, bit for bit — no decode job, no reassembly shuffle.
  Chunk-exact implies doc-exact because chunk boundaries are
  deterministic.
* the doc's complete rollup rows of every tier in ``rollup.TIERS`` ride
  on its chunk-0 row (other chunks carry empty lists); array index =
  bucket. The finest tier reduces the tokens, each coarser tier the
  next-finer tier's partials (the widths nest).
* downstream: blocks table = projection; a tier table = one explode
  (``rollup.tier_table``); the flagship = one global aggregate
  (:func:`flagship_summary`). None of them shuffles by key.

Duplicate ``doc_id`` rows are not merged (rejecting them needs a
shuffle); they yield one set of tier rows each.
"""

from __future__ import annotations

import os
import sys
import zipimport
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark import SparkFiles
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels.batch import compress_batch, decompress_batch
from ..kernels.bitstream import segment_intra_indices
from ..methods import Method
from .compress import CHUNK
from .rollup import TIER_FIELDS, TIER_NAMES, flat_tokens, tier_partials

FUSED_SCHEMA = (
    "doc_id string, chunk_id int, first_pos long, n_values int, "
    "blob binary, bytes int, roundtrip_ok boolean, " + TIER_FIELDS
)
_NAMES = [f.split()[0] for f in FUSED_SCHEMA.split(", ")]


def _fused_batch(
    batch: pa.RecordBatch, m: Method, cfg: dict, chunk: int
) -> pa.RecordBatch:
    """The kernel on one ``(doc_id, tokens)`` Arrow batch: FUSED_SCHEMA
    rows, one per chunk (an empty doc has one empty chunk)."""
    fflat, row_off = flat_tokens(batch)
    lens = np.diff(row_off)
    # --- per-chunk compression + in-kernel round-trip verify ---
    n_chunks = np.maximum((lens + chunk - 1) // chunk, 1)
    intra_c = segment_intra_indices(n_chunks)
    rows_of_chunk = np.repeat(np.arange(batch.num_rows), n_chunks)
    c_starts = row_off[:-1][rows_of_chunk] + intra_c * chunk
    n_values = np.minimum(c_starts + chunk, row_off[1:][rows_of_chunk]) - c_starts
    blobs = compress_batch(fflat, np.append(c_starts, fflat.size), m, cfg)
    rt_flat, rt_off = decompress_batch(blobs)
    rt_len = np.diff(rt_off)
    ok = rt_len == n_values
    src, dst = fflat, rt_flat
    if not ok.all():  # compare only the chunks that decoded to the right length
        src, dst = fflat[np.repeat(ok, n_values)], rt_flat[np.repeat(ok, rt_len)]
    bad = np.flatnonzero(src.view(np.uint64) != dst.view(np.uint64))
    kept = np.flatnonzero(ok)
    kept_starts = np.cumsum(n_values[kept]) - n_values[kept]
    ok[kept[np.searchsorted(kept_starts, bad, side="right") - 1]] = False
    # a doc's tier partials ride on its chunk-0 row: a later chunk's list
    # starts (and ends) at the doc's end offset
    list_row = np.append(rows_of_chunk + (intra_c > 0), batch.num_rows)
    tier_cols = [
        pa.ListArray.from_arrays(off[list_row], pa.array(p))
        for off, part in tier_partials(fflat, row_off)
        for p in part
    ]
    return pa.RecordBatch.from_arrays(
        [
            batch.column(0).take(pa.array(rows_of_chunk)),
            pa.array(intra_c.astype(np.int32)),
            pa.array(intra_c * chunk),
            pa.array(n_values.astype(np.int32)),
            pa.array(blobs, type=pa.binary()),
            pa.array([len(b) for b in blobs], type=pa.int32()),
            pa.array(ok),
            *tier_cols,
        ],
        names=_NAMES,
    )


def _drop_spark_zip_importers(root: str) -> None:
    """Delete from ``sys.path_importer_cache`` the zip importers of
    archives outside ``root``, the worker's SparkFiles directory.

    Every PySpark task starts with ``importlib.invalidate_caches()``, and
    on CPython 3.11 a cached ``zipimporter`` answers it by re-reading
    its archive's whole directory: once for the spark-core jar (5k
    entries), once for its ``org`` sub-path and once per cached
    pyspark.zip package path, 0.2-0.3 s per task. Those archives stay
    unchanged while the worker lives, and an import that needs a dropped
    importer again rebuilds it from zipimport's directory cache without
    reading the archive. Archives under ``root`` (``--py-files``,
    ``addPyFile``) can change between tasks and keep the invalidation."""
    inside = os.path.join(root, "")
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter) and not finder.archive.startswith(inside):
            del sys.path_importer_cache[path]


def fused_compress_rollup(
    df: DataFrame,
    method: Method = Method.BitPackedDeltaEncoding,
    config: dict | None = None,
    chunk: int = CHUNK,
) -> DataFrame:
    """One pass over ``(doc_id, tokens)``: returns the FUSED_SCHEMA
    DataFrame. Persist it if you consume more than one branch.

    Implemented with ``mapInArrow`` and flat-buffer access: the Arrow
    ListArray's values buffer converts to ONE numpy array per batch,
    per-chunk views are offsets into it, compression and the verify
    decode are the batch codecs (``kernels.batch``, which fall back per
    row for methods without a batch codec or with a ``config``), and the
    tier partials come from batched ``reduceat`` — the Arrow->pandas
    list-column conversion (measured at >50% of the pass) is skipped
    entirely. Chunking happens in-kernel at the same deterministic CHUNK
    boundaries as operators.compress. A null ``doc_id`` raises
    ``ValueError``, and so does a null ``tokens`` row, naming its
    ``doc_id`` (``rollup.flat_tokens``)."""
    method_code = int(method)
    cfg = dict(config or {})

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        m = Method(method_code)
        try:
            for batch in batches:
                if batch.num_rows:
                    yield _fused_batch(batch, m, cfg, chunk)
        finally:
            # the worker's next task then skips re-reading Spark's own
            # archives; runs however the task ends
            _drop_spark_zip_importers(SparkFiles.getRootDirectory())

    return df.select("doc_id", "tokens").mapInArrow(kernel, schema=FUSED_SCHEMA)


def flagship_summary(fused: DataFrame) -> DataFrame:
    """ONE-action flagship from one global aggregate (no key shuffle):
    rows ``(gid, rows, all_ok, bytes, n_values)``. ``gid`` keeps the
    grouping ids of ``ROLLUP(doc_id, 1d, 1h, 1m)``: 0, 1 and 3 carry
    the 1m, 1h and 1d row counts; 15, the grand total, carries 1 when
    any tier row exists. Every row carries the global verify verdict,
    compressed bytes and token count. Empty input gives no rows.

    Built from SQL text: Spark parses each expression list in one py4j
    call, where every ``F.*`` call would cost the driver one or more
    round trips, and the build is paid again by every query."""
    n = len(TIER_NAMES)
    totals = fused.selectExpr(
        "count(*) AS chunks",
        "min(CAST(roundtrip_ok AS INT)) AS all_ok",
        "sum(bytes) AS bytes",
        "sum(n_values) AS n_values",
        *[f"sum(size(vcount_{t})) AS rows{i}" for i, t in enumerate(TIER_NAMES)],
    )
    gids = [((1 << i) - 1, f"rows{i}") for i in range(n)]
    gids.append(((2 << n) - 1, "CAST(rows0 > 0 AS BIGINT)"))
    structs = ", ".join(
        f"struct(CAST({gid} AS BIGINT) AS gid, {rows} AS rows, all_ok, bytes, n_values)"
        for gid, rows in gids
    )
    return totals.where("chunks > 0").selectExpr(f"inline(array({structs}))")


def blocks_from_fused(fused: DataFrame, method: Method) -> DataFrame:
    return fused.select(
        "doc_id",
        "chunk_id",
        F.lit(int(method)).cast("tinyint").alias("method"),
        "blob",
        "n_values",
        "first_pos",
        "bytes",
    )
