"""Distributed compress / decompress over token-sequence DataFrames.

Spark-first design notes (scale target: 10^12 sequences / ~100 TB):

* **Chunking is the skew control.** Long token arrays (tail up to 262k
  tokens, FIXTURES.md §1) are split JVM-side into fixed CHUNK-token
  slices with ``sequence`` + ``explode`` + ``slice`` — pure Catalyst
  expressions, no Python. Chunk boundaries are deterministic
  (``chunk_id = first_pos / CHUNK``), which makes retries and
  checkpoint resume idempotent (SURVEY.md §7 risk register).
* **No shuffle on the compress path.** After the narrow chunk explode,
  compression is row-local: ``mapInPandas`` consumes Arrow batches and
  runs the numpy kernel per chunk. The only shuffle in a full
  round-trip is the groupBy(doc_id) at reassembly, whose groups are
  bounded at ≤ 64 chunks/doc — no hot keys.
* **Python stays vectorized.** The kernel does O(1) Python work per
  chunk and numpy work per token; Arrow batch size is tuned in
  session.py.

Blob convention: trailing method byte
(/root/reference/src/tersets.zig:352) — blocks are self-describing and
survive shuffles/checkpoints without side metadata.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels import registry
from ..methods import Method

#: tokens per compression block; deterministic for resume
CHUNK = 4096

BLOCKS_SCHEMA = (
    "doc_id string, chunk_id int, method tinyint, blob binary, "
    "n_values int, first_pos long, bytes int"
)


def reject_null_tokens(doc_ids: pd.Series, tokens: pd.Series) -> None:
    """Raise ``ValueError`` naming the ``doc_id`` of a batch's first null
    token array, which numpy would otherwise fail on with no row named.
    One vectorized ``isna`` pass per pandas batch."""
    nulls = tokens.isna().to_numpy()
    if nulls.any():
        raise ValueError(f"null tokens for doc_id {doc_ids.iloc[int(nulls.argmax())]!r}")


def chunk_tokens(df: DataFrame, chunk: int = CHUNK) -> DataFrame:
    """Split ``(doc_id, tokens, ...)`` into ``(doc_id, chunk_id,
    first_pos, chunk_tokens, n_values)`` rows, JVM-side only."""
    n_chunks = F.greatest(F.ceil(F.size("tokens") / chunk).cast("int"), F.lit(1))
    return (
        df.withColumn("chunk_id", F.explode(F.sequence(F.lit(0), n_chunks - 1)))
        .withColumn("first_pos", (F.col("chunk_id").cast("long") * chunk))
        .withColumn(
            "chunk_tokens",
            F.slice(F.col("tokens"), F.col("chunk_id") * chunk + 1, chunk),
        )
        .withColumn("n_values", F.size("chunk_tokens"))
        .drop("tokens")
    )


def compress_blocks(
    df: DataFrame,
    method: Method = Method.BitPackedDeltaEncoding,
    config: dict | None = None,
    chunk: int = CHUNK,
    fan_out: bool = False,
) -> DataFrame:
    """Compress a token table into the blocks table (FIXTURES.md §3).

    Input: ``(doc_id string, tokens array<int32>, ...)``.
    Output: BLOCKS_SCHEMA rows, one per chunk.

    ``fan_out=False`` (production default) keeps the compress path
    shuffle-free — at 100 TB the input has thousands of splits and the
    narrow chunk explode is already parallel. ``fan_out=True`` adds one
    explicit repartition of the chunk rows for Python-bound VERIFICATION
    jobs over few-split sources (a one-file driver table would otherwise
    run the whole kernel sweep on one core). A null ``tokens`` row
    raises ``ValueError`` naming its ``doc_id``."""
    method_code = int(method)
    cfg = dict(config or {})
    chunked = chunk_tokens(df, chunk).select(
        "doc_id", "chunk_id", "first_pos", "chunk_tokens", "n_values"
    )
    if fan_out:
        chunked = chunked.repartition(
            _verify_parallelism(df), F.col("doc_id"), F.col("chunk_id")
        )

    def compress_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernels.batch import compress_batch

        m = Method(method_code)
        for pdf in batches:
            reject_null_tokens(pdf["doc_id"], pdf["chunk_tokens"])
            arrays = [np.asarray(t, dtype=np.float64) for t in pdf["chunk_tokens"]]
            flat = np.concatenate(arrays) if arrays else np.empty(0)
            offs = np.concatenate(([0], np.cumsum([a.size for a in arrays]))).astype(
                np.int64
            )
            blobs = compress_batch(flat, offs, m, cfg)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "chunk_id": pdf["chunk_id"].astype("int32"),
                    "method": np.int8(method_code),
                    "blob": blobs,
                    "n_values": pdf["n_values"].astype("int32"),
                    "first_pos": pdf["first_pos"].astype("int64"),
                    "bytes": np.asarray([len(b) for b in blobs], dtype=np.int32),
                }
            )

    return chunked.mapInPandas(compress_batches, schema=BLOCKS_SCHEMA)


DECODED_SCHEMA = "doc_id string, chunk_id int, first_pos long, tokens array<int>"


def decompress_blocks(blocks: DataFrame) -> DataFrame:
    """Decode blocks back to ``(doc_id, chunk_id, first_pos,
    tokens array<int32>)`` chunk rows (row-local, no shuffle)."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernels.batch import decompress_batch

        for pdf in batches:
            # batched decode (delta fast path in one unpack; other
            # methods fall back per row inside decompress_batch)
            flat, offs = decompress_batch([bytes(b) for b in pdf["blob"]])
            ints = flat.astype(np.int32)
            toks = [ints[offs[i] : offs[i + 1]] for i in range(len(pdf))]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "chunk_id": pdf["chunk_id"],
                    "first_pos": pdf["first_pos"],
                    "tokens": toks,
                }
            )

    return blocks.mapInPandas(decode_batches, schema=DECODED_SCHEMA)


def reassemble(decoded: DataFrame) -> DataFrame:
    """Stitch chunk rows back into full sequences: ``(doc_id, tokens)``.

    Pure Catalyst: collect_list of (chunk_id, tokens) structs,
    array_sort (sorts by first struct field), then flatten — the one
    shuffle of the round-trip, with group sizes bounded by the chunk
    fan-out (≤ 64 rows/doc)."""
    return (
        decoded.groupBy("doc_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk_id", "tokens"))),
                    lambda s: s["tokens"],
                )
            ).alias("tokens")
        )
    )


def _verify_parallelism(df: DataFrame) -> int:
    """Explicit partition count for the per-doc verify kernels: the
    shuffled rows are tiny (ids + token arrays) so AQE would coalesce
    the exchange to ONE partition by byte size and serialize ~50-80 ms
    of Python kernel work per doc on a single core — an explicit count
    keeps the fan-out (AQE never coalesces user-specified numbers)."""
    return df.sparkSession.sparkContext.defaultParallelism * 2


def error_bound_verify(
    df: DataFrame,
    method: Method,
    config: dict | None = None,
) -> DataFrame:
    """Per-doc lossy invariant (reference gate
    /root/reference/src/tester.zig:508-533): compress+decompress each
    whole series in-kernel and check every point is within
    ``abs_error_bound`` (length equality for non-ε methods). Returns
    ``(doc_id, n_tok, within_bound)``."""
    method_code = int(method)
    cfg = dict(config or {})
    eps = float(cfg.get("abs_error_bound", 0.0))

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        m = Method(method_code)
        for pdf in batches:
            oks = []
            for toks in pdf["tokens"]:
                v = np.asarray(toks, dtype=np.float64)
                out = registry.decompress(registry.compress(v, m, cfg))
                if out.size != v.size:
                    oks.append(False)
                    continue
                if eps > 0 and v.size:
                    finite = np.isfinite(v)
                    err = np.abs(v[finite] - out[finite])
                    oks.append(bool(err.size == 0 or err.max() <= eps + 1e-9))
                else:
                    oks.append(True)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_tok": pdf["n_tok"].astype("int64"),
                    "within_bound": oks,
                }
            )

    return (
        df.select("doc_id", "tokens", "n_tok")
        .repartition(_verify_parallelism(df), F.col("doc_id"))
        .mapInPandas(
            verify, schema="doc_id string, n_tok long, within_bound boolean"
        )
    )


def invariant_verify(
    df: DataFrame,
    method: Method,
    config: dict,
    check: str,
) -> DataFrame:
    """Per-doc method-specific invariant (the reference's per-method
    inline test blocks, e.g. bottom_up.zig:51, visvalingam_whyatt.zig:53,
    discrete_fourier_transform.zig:47): compress each whole series
    in-kernel, decompress, and run the named check from
    :mod:`..operators.invariants` against the blob + reconstruction.
    ``check`` is a NAME resolved on the executor (module shipped in the
    package zip) — never a pickled closure. Returns
    ``(doc_id, n_tok, within_bound)``."""
    method_code = int(method)
    cfg = dict(config or {})

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .invariants import CHECKS

        fn = CHECKS[check]
        m = Method(method_code)
        for pdf in batches:
            oks = []
            for toks in pdf["tokens"]:
                v = np.asarray(toks, dtype=np.float64)
                blob = registry.compress(v, m, cfg)
                out = registry.decompress(blob)
                try:
                    oks.append(bool(fn(v, blob, out, cfg)))
                except Exception:
                    oks.append(False)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_tok": pdf["n_tok"].astype("int64"),
                    "within_bound": oks,
                }
            )

    return (
        df.select("doc_id", "tokens", "n_tok")
        # per-doc kernel work is the cost here, not the scan: spread docs
        # across all cores even when the source is one small file
        .repartition(_verify_parallelism(df), F.col("doc_id"))
        .mapInPandas(
            verify, schema="doc_id string, n_tok long, within_bound boolean"
        )
    )


def catalog_verify(
    df: DataFrame,
    entries: Sequence[tuple[str, int, dict, str]],
) -> DataFrame:
    """Whole-catalog invariant sweep in ONE kernel pass: for every doc,
    run each ``(label, method_code, config, check_name)`` entry
    (compress -> decompress -> named check from
    :mod:`..operators.invariants`) and emit PER-BATCH PARTIALS
    ``(method, n, ok)`` so the shuffle carries a handful of tiny rows
    per partition instead of n_docs * n_methods rows — map-side combine
    by construction, the shape that survives a 10^12-sequence corpus.
    Final aggregation returns ``(method, n_docs, all_ok)`` per entry.

    This consolidates the driver's per-method bound/invariant queries
    (reference gates tester.zig:508-533 and the per-method inline test
    blocks) into a driver-budget-friendly summary; per-doc granularity
    stays available via error_bound_verify/invariant_verify and the
    pytest suite."""
    ents = [(str(lbl), int(code), dict(cfg), str(chk)) for lbl, code, cfg, chk in entries]

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .invariants import CHECKS

        counts = {lbl: 0 for lbl, _c, _f, _k in ents}
        oks = {lbl: True for lbl, _c, _f, _k in ents}
        for pdf in batches:
            for toks in pdf["tokens"]:
                v = np.asarray(toks, dtype=np.float64)
                for lbl, code, cfg, chk in ents:
                    blob = registry.compress(v, Method(code), cfg)
                    out = registry.decompress(blob)
                    try:
                        ok = bool(CHECKS[chk](v, blob, out, cfg))
                    except Exception:
                        ok = False
                    counts[lbl] += 1
                    oks[lbl] = oks[lbl] and ok
        yield pd.DataFrame(
            {
                "method": list(counts),
                "n": np.asarray(list(counts.values()), dtype=np.int64),
                "ok": [int(oks[lbl]) for lbl in counts],
            }
        )

    partials = (
        df.select("doc_id", "tokens")
        # per-doc kernel work dominates — explicit fan-out (AQE never
        # coalesces user-given counts; see _verify_parallelism)
        .repartition(_verify_parallelism(df), F.col("doc_id"))
        .mapInPandas(verify, schema="method string, n long, ok int")
    )
    return partials.groupBy("method").agg(
        F.sum("n").alias("n_docs"),
        F.min("ok").alias("all_ok"),
    )


def extract_rebuild_verify(df: DataFrame, configs: dict[int, dict]) -> DataFrame:
    """extract -> rebuild byte-identity across every segment method
    (reference src/tersets.zig:467-791, identity asserted at :887-888):
    per doc, compress with each method in ``configs``, decompose to
    (indices, coefficients), re-serialize, and require the rebuilt blob
    to equal the original byte-for-byte. Returns
    ``(doc_id, n_tok, n_methods, within_bound)``."""
    cfg_items = sorted((int(k), dict(v)) for k, v in configs.items())

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernels.extract import extract, rebuild

        for pdf in batches:
            oks, counts = [], []
            for toks in pdf["tokens"]:
                v = np.asarray(toks, dtype=np.float64)
                ok = True
                for code, cfg in cfg_items:
                    m = Method(code)
                    blob = registry.compress(v, m, cfg)
                    idx, coeffs, m2 = extract(blob)
                    if rebuild(idx, coeffs, m2) != blob:
                        ok = False
                        break
                oks.append(ok)
                counts.append(len(cfg_items))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_tok": pdf["n_tok"].astype("int64"),
                    "n_methods": np.asarray(counts, dtype=np.int64),
                    "within_bound": oks,
                }
            )

    return (
        df.select("doc_id", "tokens", "n_tok")
        # ~80 ms of kernel work per doc (16 methods) — repartition so a
        # single-file source doesn't serialize the sweep on one core
        .repartition(_verify_parallelism(df), F.col("doc_id"))
        .mapInPandas(
            verify,
            schema="doc_id string, n_tok long, n_methods long, within_bound boolean",
        )
    )


def extract_edit_rebuild_verify(
    df: DataFrame, configs: dict[int, dict], scale: float = 2.0
) -> DataFrame:
    """The EDIT path the reference designed extract/rebuild for
    (src/tersets.zig:467-791: decompose → transform coefficients →
    re-serialize → decode): per doc and method, compress, extract,
    scale EVERY model coefficient by ``scale``, rebuild, decode, and
    require the decoded series to equal ``scale *
    decode(original blob)`` BIT-exactly.

    Why bit-exact is achievable: ``scale`` defaults to 2.0, a power of
    two — float multiplication by 2 only bumps the exponent (no
    rounding, barring overflow/denormals), and IEEE-754 rounding is
    scale-invariant under powers of two, so any decoder that is a fixed
    dataflow of +/-/*// with coefficients entering LINEARLY reproduces
    the doubled series exactly. Every segment method qualifies except
    NonLinearApproximation (its exp/power families are nonlinear in
    the stored exponent coefficient) — callers pass configs without it.

    Returns ``(doc_id, n_tok, n_methods, edit_exact)``."""
    cfg_items = sorted((int(k), dict(v)) for k, v in configs.items())
    s = float(scale)

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernels.extract import extract, rebuild

        for pdf in batches:
            oks, counts = [], []
            for toks in pdf["tokens"]:
                v = np.asarray(toks, dtype=np.float64)
                ok = True
                for code, cfg in cfg_items:
                    m = Method(code)
                    blob = registry.compress(v, m, cfg)
                    base = registry.decompress(blob)
                    idx, coeffs, m2 = extract(blob)
                    out = registry.decompress(rebuild(idx, coeffs * s, m2))
                    want = base * s
                    if out.size != want.size or not np.array_equal(
                        out.view(np.uint64), want.view(np.uint64)
                    ):
                        ok = False
                        break
                oks.append(ok)
                counts.append(len(cfg_items))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_tok": pdf["n_tok"].astype("int64"),
                    "n_methods": np.asarray(counts, dtype=np.int64),
                    "edit_exact": oks,
                }
            )

    return (
        df.select("doc_id", "tokens", "n_tok")
        # same fan-out rationale as extract_rebuild_verify: per-doc
        # kernel work dominates, AQE never coalesces user-given counts
        .repartition(_verify_parallelism(df), F.col("doc_id"))
        .mapInPandas(
            verify,
            schema="doc_id string, n_tok long, n_methods long, edit_exact boolean",
        )
    )


def roundtrip_verify(
    df: DataFrame,
    method: Method = Method.BitPackedDeltaEncoding,
    config: dict | None = None,
    chunk: int = CHUNK,
) -> DataFrame:
    """Per-doc lossless invariant (BASELINE.json.input_hint): returns
    ``(doc_id, n_tok, method, roundtrip_ok, raw_bytes, compressed_bytes)``.

    ``roundtrip_ok`` compares the reassembled array element-wise against
    the original — the engine form of the reference's bit-identical gate
    (/root/reference/src/tersets.zig:887-888)."""
    # persisted: both the size aggregate and the decode branch consume
    # it. Lazy persist is CORRECT here (measured r5: an eager count()
    # materialization made this 35% slower — the shuffle joins share
    # the cache fine; the lazy-persist fan-out trap in CLAUDE.md bites
    # only when a consumer turns into an AQE broadcast build, as in the
    # minhash candidate verify)
    blocks = compress_blocks(df, method, config, chunk, fan_out=True).persist()
    sizes = blocks.groupBy("doc_id").agg(
        F.sum("bytes").alias("compressed_bytes"),
        F.sum("n_values").alias("n_decoded"),
    )
    restored = reassemble(decompress_blocks(blocks))
    return (
        df.select("doc_id", "tokens", "n_tok")
        .join(restored.withColumnRenamed("tokens", "tokens_rt"), "doc_id")
        .join(sizes, "doc_id")
        .select(
            "doc_id",
            F.col("n_tok"),
            F.lit(int(method)).alias("method"),
            (
                (F.size("tokens") == F.size("tokens_rt"))
                & F.forall(
                    F.zip_with("tokens", "tokens_rt", lambda a, b: a == b),
                    lambda x: x,
                )
            ).alias("roundtrip_ok"),
            (F.col("n_tok").cast("long") * 4).alias("raw_bytes"),
            F.col("compressed_bytes"),
        )
    )
