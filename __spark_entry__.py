"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship mini-pipeline on sf0.001;
``queries()`` exposes each implemented operator from SURVEY.md §2 (plus
the training-pipeline operators) over the driver test tables;
``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL. Column names and
types are aligned pairwise; emitted floats use exact integer-scaled
sums + floor truncation on both sides (see the float-hardening note
below) so the comparison is deterministic at any scale.
"""

from __future__ import annotations

import os
import sys
import zipfile
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from tersets_spark.methods import Method  # noqa: E402

# ----------------------------------------------------------------- helpers

_PKG_SHIPPED: set[int] = set()


def _ensure_pkg(spark: SparkSession) -> None:
    """Ship tersets_spark to executor Python workers via addPyFile so
    UDF kernels import regardless of the driver's cwd/PYTHONPATH.

    The zip name is keyed on the package contents (path+size+mtime
    digest) — a stale cached zip would otherwise ship OLD code to the
    workers after any source change."""
    import hashlib

    key = id(spark.sparkContext)
    if key in _PKG_SHIPPED:
        return
    src = os.path.join(_REPO, "tersets_spark")
    entries = []
    for root, _dirs, files in os.walk(src):
        for f in sorted(files):
            if f.endswith(".py"):
                full = os.path.join(root, f)
                st = os.stat(full)
                entries.append((full, st.st_size, int(st.st_mtime)))
    digest = hashlib.blake2b(
        repr(sorted(entries)).encode(), digest_size=8
    ).hexdigest()
    zpath = os.path.join("/tmp", f"tersets_spark_pkg_{digest}.zip")
    if not os.path.exists(zpath):
        tmp = zpath + ".tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for full, _sz, _mt in entries:
                zf.write(full, os.path.relpath(full, _REPO))
        os.replace(tmp, zpath)
    try:
        spark.sparkContext.addPyFile(zpath)
    except Exception:
        pass  # already added or unsupported — imports fall back to cwd
    _PKG_SHIPPED.add(key)


def _prep(spark: SparkSession) -> None:
    """Per-query defense: ship the package to workers and pin the
    session timezone (timestamp bucketing must match DuckDB's UTC-naive
    epoch regardless of the driver's session defaults)."""
    _ensure_pkg(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")

def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _word_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic tokenization of the documents table reproducible in
    ANSI SQL: token = length of each whitespace-split word."""
    return _documents(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.expr("transform(split(text, ' '), w -> length(w))").alias("tokens"),
        F.size(F.split(F.col("text"), " ")).cast("int").alias("n_tok"),
    )


def _char_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-codepoint tokens (denser series for tier rollups).

    Round 10: the tokens come from one vectorized numpy pass
    (utf-32-le codepoints) instead of the Catalyst
    ``transform(sequence(1, length), ascii(substring(text, i, 1)))`` —
    ``substring`` walks the UTF8 bytes to position i, making the old
    expression O(len^2) per document (measured 3x on the char rollup
    at sf0.1). Values are IDENTICAL for every input: Spark's ``ascii``
    returns the full Unicode code point of the first character
    (verified incl. astral plane: ascii('𝄞') = 119070 = ord), which is
    exactly the utf-32 word; ``length(text)`` counts code points like
    the utf-32 word count; a NULL text maps to a NULL array in both.
    The oracle-side definition (_CHAR_TOKENS_ORACLE) is untouched."""
    from pyspark.sql import types as T

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _codepoints(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None
                if t is None
                else np.frombuffer(
                    t.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int32)
                for t in texts
            ]
        )

    return _documents(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        _codepoints(F.col("text")).alias("tokens"),
        F.length("text").cast("int").alias("n_tok"),
    )


_WORD_TOKENS_ORACLE = "list_transform(string_split(text, ' '), w -> length(w))"
_CHAR_TOKENS_ORACLE = (
    "list_transform(generate_series(1, length(text)), i -> ascii(substring(text, i, 1)))"
)


# ---- float comparison hardening -------------------------------------
# Two engines can ROUND THE SAME DOUBLE differently at exact .xxxx5
# boundaries (Spark uses decimal HALF_UP on the full repr, DuckDB C
# rounding) — observed on sf0.1 means. Rule for every emitted float:
#  * means come from EXACT integer-scaled sums (sum of int64 is
#    associative, so both engines produce the identical double after one
#    division), never from engine-native avg();
#  * emitted floats are floor-TRUNCATED (pure IEEE ops on identical
#    doubles are deterministic), never rounded.


def _trunc(col: F.Column, digits: int = 4) -> F.Column:
    s = 10**digits
    return F.floor(col * s) / s


def _scaled_sum(col: F.Column, digits: int = 4) -> F.Column:
    """Exact decimal-scaled integer sum: associative, engine-agnostic."""
    s = 10**digits
    return F.sum(F.floor(col * s + 0.5).cast("long"))


_SQL_TRUNC = "floor(({x}) * 1e{d}) / 1e{d}"
_SQL_SCALED_SUM = "SUM(CAST(floor(({x}) * 1e4 + 0.5) AS BIGINT))"


def _rollup_events_query(tier: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        _prep(spark)
        width = {"1m": 60, "1h": 3600, "1d": 86400}[tier]
        ev = _events(spark, sf_dir)
        bucket = (F.floor(F.unix_timestamp("ts") / width) * width).alias("bucket")
        return ev.groupBy("user_id", bucket).agg(
            _trunc(F.min("value")).alias("vmin"),
            _trunc(F.max("value")).alias("vmax"),
            _trunc(
                _scaled_sum(F.col("value")).cast("double")
                / (F.count("value") * 10000)
            ).alias("vmean"),
            F.count("value").alias("vcount"),
        )

    return q


def _rollup_events_oracle(width: int) -> str:
    vmean = _SQL_TRUNC.format(
        x=f"CAST({_SQL_SCALED_SUM.format(x='value')} AS DOUBLE) / (count(value) * 10000)",
        d=4,
    )
    return f"""
        SELECT user_id,
               CAST(floor(epoch(ts)/{width})*{width} AS BIGINT) AS bucket,
               {_SQL_TRUNC.format(x='min(value)', d=4)} AS vmin,
               {_SQL_TRUNC.format(x='max(value)', d=4)} AS vmax,
               {vmean} AS vmean,
               count(value) AS vcount
        FROM events GROUP BY 1, 2
    """


def _rollup_events_catalog_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three retention tiers (1m/1h/1d) in ONE row and ONE exchange
    (r8, r7 verdict #2: frees two driver-budget slots vs the three
    per-tier rows, which live on as ``x_rollup_events_*`` extras).
    Spark-first shape: explode the tier widths onto the fact rows, then
    a single groupBy(width, user_id, bucket) — one shuffle carries all
    tiers, the same plan idea as the fused ROLLUP pipeline
    (operators/pipeline.py) but keyed by explicit width so the oracle
    is a plain cross-join replay."""
    _prep(spark)
    ev = _events(spark, sf_dir).select(
        "user_id",
        "ts",
        "value",
        F.explode(
            F.array(F.lit(60), F.lit(3600), F.lit(86400))
        ).alias("width"),
    )
    bucket = (
        F.floor(F.unix_timestamp("ts") / F.col("width")) * F.col("width")
    ).alias("bucket")
    return ev.groupBy(
        F.col("width").cast("long").alias("width"), F.col("user_id"), bucket
    ).agg(
        _trunc(F.min("value")).alias("vmin"),
        _trunc(F.max("value")).alias("vmax"),
        _trunc(
            _scaled_sum(F.col("value")).cast("double")
            / (F.count("value") * 10000)
        ).alias("vmean"),
        F.count("value").alias("vcount"),
    )


def _rollup_events_catalog_oracle() -> str:
    vmean = _SQL_TRUNC.format(
        x=f"CAST({_SQL_SCALED_SUM.format(x='value')} AS DOUBLE) / (count(value) * 10000)",
        d=4,
    )
    return f"""
        SELECT CAST(w.width AS BIGINT) AS width,
               user_id,
               CAST(floor(epoch(ts)/w.width)*w.width AS BIGINT) AS bucket,
               {_SQL_TRUNC.format(x='min(value)', d=4)} AS vmin,
               {_SQL_TRUNC.format(x='max(value)', d=4)} AS vmax,
               {vmean} AS vmean,
               count(value) AS vcount
        FROM events CROSS JOIN (SELECT unnest([60, 3600, 86400]) AS width) w
        GROUP BY 1, 2, 3
    """


def _roundtrip_query(method: Method):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        _prep(spark)
        from tersets_spark.operators.compress import roundtrip_verify

        out = roundtrip_verify(_word_tokens(spark, sf_dir), method)
        return out.select(
            "doc_id", F.col("n_tok").cast("long").alias("n_tok"), "roundtrip_ok"
        )

    return q


_ROUNDTRIP_ORACLE = """
    SELECT CAST(doc_id AS VARCHAR) AS doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
           true AS roundtrip_ok
    FROM documents
"""


def _bound_query(method: Method, config: dict):
    """Lossy-catalog driver check: every char-token series reconstructs
    within the configured error bound (reference gate
    tester.zig:508-533), SQL-oracle-checkable as an all-true column."""

    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        _prep(spark)
        from tersets_spark.operators.compress import error_bound_verify

        return error_bound_verify(_char_tokens(spark, sf_dir), method, config)

    return q


_BOUND_ORACLE = """
    SELECT CAST(doc_id AS VARCHAR) AS doc_id,
           CAST(length(text) AS BIGINT) AS n_tok,
           true AS within_bound
    FROM documents
"""


def _invariant_query(method: Method, config: dict, check: str):
    """Method-specific structural/error invariant over char-token
    series, computed in-kernel (operators/invariants.py documents the
    per-method semantics and their reference anchors) and gated by the
    all-true oracle column like the bound queries."""

    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        _prep(spark)
        from tersets_spark.operators.compress import invariant_verify

        return invariant_verify(_char_tokens(spark, sf_dir), method, config, check)

    return q


#: consolidated ε-bound catalog — every lossy method whose driver gate is
#: the reference's |err| <= abs_error_bound sweep (tester.zig:508-533).
#: One kernel pass covers all of them so the whole catalog fits inside
#: the driver's 50-row CORRECTNESS snapshot (round-3 verdict item #1).
_BOUND_CATALOG = tuple(
    (m.name, int(m), cfg, "error_bound")
    for m, cfg in (
        (Method.PoorMansCompressionMidrange, {"abs_error_bound": 2.0}),
        (Method.PoorMansCompressionMean, {"abs_error_bound": 2.0}),
        (Method.SwingFilter, {"abs_error_bound": 2.0}),
        (Method.SwingFilterDisconnected, {"abs_error_bound": 2.0}),
        (Method.SlideFilter, {"abs_error_bound": 2.0}),
        (Method.SimPiece, {"abs_error_bound": 2.0}),
        (Method.ABCLinearApproximation, {"abs_error_bound": 2.0}),
        (Method.MixPiece, {"abs_error_bound": 2.0}),
        (Method.BitPackedQuantization, {"abs_error_bound": 2.0}),
        (Method.NonLinearApproximation, {"abs_error_bound": 4.0}),
        (Method.SerfQT, {"abs_error_bound": 2.0}),
        (Method.MacaqueS, {"abs_error_bound": 2.0}),
        (Method.MacaqueV, {"abs_error_bound": 2.0}),
    )
)

#: consolidated structural-invariant catalog — the methods whose gates
#: are per-method inline checks (operators/invariants.py documents each
#: semantics + reference anchor), one kernel pass for all of them.
_INVARIANT_CATALOG = (
    (Method.SlidingWindow.name, int(Method.SlidingWindow), {"aggregate_error_bound": 2.0}, "rmse_segments"),
    (Method.BottomUp.name, int(Method.BottomUp), {"aggregate_error_bound": 2.0}, "rmse_segments"),
    (Method.VisvalingamWhyatt.name, int(Method.VisvalingamWhyatt), {"area_under_curve_error": 4.0}, "vw_knots"),
    (Method.PiecewiseConstantHistogram.name, int(Method.PiecewiseConstantHistogram), {"histogram_bins_number": 16}, "pwch"),
    (Method.PiecewiseLinearHistogram.name, int(Method.PiecewiseLinearHistogram), {"histogram_bins_number": 16}, "pwlh"),
    (Method.BitPackedBUFF.name, int(Method.BitPackedBUFF), {"decimal_precision": 3}, "buff"),
    (Method.DiscreteFourierTransform.name, int(Method.DiscreteFourierTransform), {"number_of_coefficients": 16}, "dft"),
    (Method.LargestTriangleThreeBuckets.name, int(Method.LargestTriangleThreeBuckets), {"target_point_count": 40}, "lttb"),
)


def _catalog_query(entries):
    """Driver row for a whole method-catalog sweep: one mapInPandas pass
    runs every (method, config, check) over every char-token series and
    returns ``(method, n_docs, all_ok)`` per method — the
    _compression_summary_query pattern, so the DuckDB oracle is a hard
    VALUES-table check."""

    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        _prep(spark)
        from tersets_spark.operators.compress import catalog_verify

        return catalog_verify(_char_tokens(spark, sf_dir), entries)

    return q


def _catalog_oracle(entries) -> str:
    vals = ", ".join(f"('{lbl}')" for lbl, _c, _f, _k in entries)
    return f"""
        SELECT m.method,
               (SELECT count(*) FROM documents) AS n_docs,
               1 AS all_ok
        FROM (VALUES {vals}) AS m(method)
    """


#: per-method configs for the extract -> rebuild identity sweep — every
#: segment/coefficient method the reference's advanced pipeline covers
#: (src/tersets.zig:467-791)
_EXTRACT_CONFIGS = {
    int(Method.PoorMansCompressionMidrange): {"abs_error_bound": 2.0},
    int(Method.PoorMansCompressionMean): {"abs_error_bound": 2.0},
    int(Method.SwingFilter): {"abs_error_bound": 2.0},
    int(Method.SwingFilterDisconnected): {"abs_error_bound": 2.0},
    int(Method.SlideFilter): {"abs_error_bound": 2.0},
    int(Method.SimPiece): {"abs_error_bound": 2.0},
    int(Method.PiecewiseConstantHistogram): {"histogram_bins_number": 16},
    int(Method.PiecewiseLinearHistogram): {"histogram_bins_number": 16},
    int(Method.ABCLinearApproximation): {"abs_error_bound": 2.0},
    int(Method.VisvalingamWhyatt): {"area_under_curve_error": 4.0},
    int(Method.SlidingWindow): {"aggregate_error_bound": 2.0},
    int(Method.BottomUp): {"aggregate_error_bound": 2.0},
    int(Method.MixPiece): {"abs_error_bound": 2.0},
    int(Method.NonLinearApproximation): {"abs_error_bound": 4.0},
    int(Method.LargestTriangleThreeBuckets): {"target_point_count": 40},
    int(Method.DiscreteFourierTransform): {"number_of_coefficients": 16},
}


def _extract_rebuild_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """extract -> rebuild byte-identity for the full segment-method
    sweep (reference src/tersets.zig:887-888). Each doc's first 512
    char-tokens are verified — the identity is a FORMAT property, so a
    bounded prefix exercises every payload layout while keeping the 16
    slow segmenters (VW/BottomUp/NeaTS heaps) off the critical path;
    full-length sweeps live in tests/test_extract_rebuild.py."""
    _prep(spark)
    from tersets_spark.operators.compress import extract_rebuild_verify

    toks = _char_tokens(spark, sf_dir).select(
        "doc_id", F.slice("tokens", 1, 512).alias("tokens"), "n_tok"
    )
    return extract_rebuild_verify(toks, _EXTRACT_CONFIGS)


_EXTRACT_REBUILD_ORACLE = f"""
    SELECT CAST(doc_id AS VARCHAR) AS doc_id,
           CAST(length(text) AS BIGINT) AS n_tok,
           CAST({len(_EXTRACT_CONFIGS)} AS BIGINT) AS n_methods,
           true AS within_bound
    FROM documents
"""


#: edit-path sweep = the extract sweep minus NonLinearApproximation:
#: its exp/power families decode a*exp(b*x) / a*(x+1)^b, which is
#: NONLINEAR in the stored coefficient b — doubling every coefficient
#: does not double the curve, so the bit-exact 2x contract below
#: cannot hold for windows where those families win
_EDIT_CONFIGS = {
    k: v
    for k, v in _EXTRACT_CONFIGS.items()
    if k != int(Method.NonLinearApproximation)
}


def _extract_edit_rebuild_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """extract → EDIT (scale all coefficients by 2.0) → rebuild →
    decode, per doc and per segment method (round-6 verdict #7: the
    identity row proves the format; this row exercises the coefficient
    TRANSFORM the reference designed the surface for,
    src/tersets.zig:467-791). The decoded edited series must be
    bit-exactly 2x the decoded original — exact because 2.0 is a power
    of two and every decoder in ``_EDIT_CONFIGS`` is linear in its
    coefficients (see extract_edit_rebuild_verify). Same bounded
    512-token prefix rationale as extract_rebuild_identity."""
    _prep(spark)
    from tersets_spark.operators.compress import extract_edit_rebuild_verify

    toks = _char_tokens(spark, sf_dir).select(
        "doc_id", F.slice("tokens", 1, 512).alias("tokens"), "n_tok"
    )
    return extract_edit_rebuild_verify(toks, _EDIT_CONFIGS, scale=2.0)


_EXTRACT_EDIT_ORACLE = f"""
    SELECT CAST(doc_id AS VARCHAR) AS doc_id,
           CAST(length(text) AS BIGINT) AS n_tok,
           CAST({len(_EDIT_CONFIGS)} AS BIGINT) AS n_methods,
           true AS edit_exact
    FROM documents
"""


def _tier_rollup_tokens_query(tokenizer):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        _prep(spark)
        from tersets_spark.operators.rollup import rollup_tokens_base

        out = rollup_tokens_base(tokenizer(spark, sf_dir))
        return out.select(
            "doc_id",
            "bucket",
            "vmin",
            "vmax",
            _trunc(F.col("vsum") / F.col("vcount")).alias("vmean"),
            "vcount",
        )

    return q


def _tier_rollup_tokens_oracle(width: int, tokens_expr: str) -> str:
    return f"""
        WITH toks AS (
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   unnest({tokens_expr}) AS tok,
                   unnest(generate_series(0, len({tokens_expr}) - 1)) AS pos
            FROM documents
        )
        SELECT doc_id,
               CAST(pos // {width} AS BIGINT) AS bucket,
               CAST(min(tok) AS DOUBLE) AS vmin,
               CAST(max(tok) AS DOUBLE) AS vmax,
               floor((CAST(sum(tok) AS DOUBLE) / count(*)) * 1e4) / 1e4 AS vmean,
               count(*) AS vcount
        FROM toks GROUP BY 1, 2
    """


def _fused_tier_rollup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FUSED single-pass pipeline (mapInArrow compress + verify +
    every tier's partials in one crossing — the flagship bench path)
    gated by the same oracle as the unfused chars rollup: identical tier
    rows must fall out of the fused partials."""
    _prep(spark)
    from tersets_spark.operators.pipeline import fused_compress_rollup
    from tersets_spark.operators.rollup import tier_table

    fused = fused_compress_rollup(_char_tokens(spark, sf_dir))
    return tier_table(fused, "1m").select(
        "doc_id",
        "bucket",
        "vmin",
        "vmax",
        _trunc(F.col("vsum") / F.col("vcount")).alias("vmean"),
        "vcount",
    )


def _gapfill_locf_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    from tersets_spark.operators.gapfill import gapfill
    from tersets_spark.operators.rollup import rollup_events

    ev = _events(spark, sf_dir)
    bucket = (F.floor(F.unix_timestamp("ts") / 3600) * 3600).alias("bucket")
    hourly = ev.groupBy("user_id", bucket).agg(
        (_scaled_sum(F.col("value")).cast("double") / (F.count("value") * 10000)).alias("vmean")
    )
    dense = gapfill(hourly, ["user_id"], 3600, ["vmean"], method="locf")
    return dense.select(
        "user_id", "bucket", _trunc(F.col("vmean")).alias("vmean"), "gap_filled"
    )


_GAPFILL_LOCF_ORACLE = """
    WITH hourly AS (
        SELECT user_id,
               CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS bucket,
               CAST(SUM(CAST(floor(value * 1e4 + 0.5) AS BIGINT)) AS DOUBLE)
                   / (count(value) * 10000) AS vmean
        FROM events GROUP BY 1, 2
    ), spine AS (
        SELECT user_id, unnest(generate_series(lo, hi, 3600)) AS bucket
        FROM (SELECT user_id, min(bucket) lo, max(bucket) hi FROM hourly GROUP BY 1)
    )
    SELECT s.user_id, s.bucket,
           floor(last_value(h.vmean IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1e4) / 1e4 AS vmean,
           h.vmean IS NULL AS gap_filled
    FROM spine s LEFT JOIN hourly h USING (user_id, bucket)
"""


def _gapfill_null_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third gap-fill mode: dense bucket spine with nulls in the gaps
    (the raw-join shape downstream interpolators consume)."""
    _prep(spark)
    from tersets_spark.operators.gapfill import gapfill

    ev = _events(spark, sf_dir)
    bucket = (F.floor(F.unix_timestamp("ts") / 3600) * 3600).alias("bucket")
    hourly = ev.groupBy("user_id", bucket).agg(
        (_scaled_sum(F.col("value")).cast("double") / (F.count("value") * 10000)).alias("vmean")
    )
    dense = gapfill(hourly, ["user_id"], 3600, ["vmean"], method="null")
    return dense.select(
        "user_id", "bucket", _trunc(F.col("vmean")).alias("vmean"), "gap_filled"
    )


_GAPFILL_NULL_ORACLE = """
    WITH hourly AS (
        SELECT user_id,
               CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS bucket,
               CAST(SUM(CAST(floor(value * 1e4 + 0.5) AS BIGINT)) AS DOUBLE)
                   / (count(value) * 10000) AS vmean
        FROM events GROUP BY 1, 2
    ), spine AS (
        SELECT user_id, unnest(generate_series(lo, hi, 3600)) AS bucket
        FROM (SELECT user_id, min(bucket) lo, max(bucket) hi FROM hourly GROUP BY 1)
    )
    SELECT s.user_id, s.bucket,
           floor(h.vmean * 1e4) / 1e4 AS vmean,
           h.vmean IS NULL AS gap_filled
    FROM spine s LEFT JOIN hourly h USING (user_id, bucket)
"""


def _gapfill_linear_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    from tersets_spark.operators.gapfill import gapfill
    from tersets_spark.operators.rollup import rollup_events

    ev = _events(spark, sf_dir)
    bucket = (F.floor(F.unix_timestamp("ts") / 86400) * 86400).alias("bucket")
    daily = ev.groupBy("user_id", bucket).agg(
        (_scaled_sum(F.col("value")).cast("double") / (F.count("value") * 10000)).alias("vmean")
    )
    dense = gapfill(daily, ["user_id"], 86400, ["vmean"], method="linear")
    # floor-truncation, not round: interpolation at frac=1/2 lands on
    # exact .xxxx5 boundaries where engines' round-half semantics differ
    return dense.select(
        "user_id",
        "bucket",
        (F.floor(F.col("vmean") * 10000) / 10000).alias("vmean"),
        "gap_filled",
    )


_GAPFILL_LINEAR_ORACLE = """
    WITH daily AS (
        SELECT user_id,
               CAST(floor(epoch(ts)/86400)*86400 AS BIGINT) AS bucket,
               CAST(SUM(CAST(floor(value * 1e4 + 0.5) AS BIGINT)) AS DOUBLE)
                   / (count(value) * 10000) AS vmean
        FROM events GROUP BY 1, 2
    ), spine AS (
        SELECT user_id, unnest(generate_series(lo, hi, 86400)) AS bucket
        FROM (SELECT user_id, min(bucket) lo, max(bucket) hi FROM daily GROUP BY 1)
    ), dense AS (
        SELECT s.user_id, s.bucket, h.vmean, h.vmean IS NULL AS gap_filled,
               last_value(CASE WHEN h.vmean IS NOT NULL THEN s.bucket END IGNORE NULLS)
                   OVER w_back AS prev_b,
               last_value(h.vmean IGNORE NULLS) OVER w_back AS prev_v,
               first_value(CASE WHEN h.vmean IS NOT NULL THEN s.bucket END IGNORE NULLS)
                   OVER w_fwd AS next_b,
               first_value(h.vmean IGNORE NULLS) OVER w_fwd AS next_v
        FROM spine s LEFT JOIN daily h USING (user_id, bucket)
        WINDOW w_back AS (PARTITION BY s.user_id ORDER BY s.bucket
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               w_fwd AS (PARTITION BY s.user_id ORDER BY s.bucket
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, bucket,
           floor((CASE WHEN NOT gap_filled THEN vmean
                  ELSE prev_v + (next_v - prev_v)
                       * ((bucket - prev_b) / (next_b - prev_b)) END) * 10000)
               / 10000 AS vmean,
           gap_filled
    FROM dense
"""


def _retention_split_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention aging invariant: the newest R positions stay raw, the
    older prefix ages out — sizes are SQL-derivable."""
    _prep(spark)
    from tersets_spark.operators.retention import split_aged

    toks = _char_tokens(spark, sf_dir)
    kept, aged = split_aged(toks, 100)
    k = kept.select("doc_id", F.size("tokens").alias("n_kept"))
    a = aged.select("doc_id", F.size("tokens").alias("n_aged"))
    return k.join(a, "doc_id", "left").select(
        "doc_id",
        F.col("n_kept").cast("long").alias("n_kept"),
        F.coalesce("n_aged", F.lit(0)).cast("long").alias("n_aged"),
    )


_RETENTION_SPLIT_ORACLE = """
    SELECT CAST(doc_id AS VARCHAR) AS doc_id,
           CAST(least(length(text), 100) AS BIGINT) AS n_kept,
           CAST(greatest(length(text) - 100, 0) AS BIGINT) AS n_aged
    FROM documents
"""


def _rollup_events_by_type_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    from tersets_spark.operators.rollup import rollup_events

    ev = _events(spark, sf_dir)
    bucket = (F.floor(F.unix_timestamp("ts") / 86400) * 86400).alias("bucket")
    return ev.groupBy("user_id", "event_type", bucket).agg(
        _trunc(F.min("value")).alias("vmin"),
        _trunc(F.max("value")).alias("vmax"),
        _trunc(
            _scaled_sum(F.col("value")).cast("double") / (F.count("value") * 10000)
        ).alias("vmean"),
        F.count("value").alias("vcount"),
    )


_ROLLUP_BY_TYPE_ORACLE = """
    SELECT user_id, event_type,
           CAST(floor(epoch(ts)/86400)*86400 AS BIGINT) AS bucket,
           floor(min(value) * 1e4) / 1e4 AS vmin,
           floor(max(value) * 1e4) / 1e4 AS vmax,
           floor((CAST(SUM(CAST(floor(value * 1e4 + 0.5) AS BIGINT)) AS DOUBLE)
                  / (count(value) * 10000)) * 1e4) / 1e4 AS vmean,
           count(value) AS vcount
    FROM events GROUP BY 1, 2, 3
"""


#: (label, method code) legs of the consolidated float-roundtrip
#: catalog: the four XOR/float lossless codecs over each user's event
#: VALUES, plus the timestamp-encoding leg ("ts_delta") — the bit-packed
#: delta codec over each user's sorted EPOCH SECONDS, its native
#: delta-of-delta-friendly workload (reference
#: bitpacked_delta_encoding.zig:45-343)
_FLOAT_CATALOG = (
    ("chimp64", int(Method.Chimp64)),
    ("chimp128", int(Method.Chimp128)),
    ("elf", int(Method.Elf)),
    ("delta", int(Method.BitPackedDeltaEncoding)),
    ("ts_delta", int(Method.BitPackedDeltaEncoding)),
)


def _float_roundtrip_catalog_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise round-trip of REAL float series through every
    XOR/float lossless codec in ONE driver row (round 6: consolidates
    the five per-method ``float_roundtrip_*``/``ts_roundtrip_delta``
    rows to fit the new rows inside the driver's 50-row budget — the
    bound_catalog pattern). Each user's event values ordered by time
    become f64 series; the ``ts_delta`` leg feeds the sorted epoch
    seconds instead — the Gorilla-family path of the north_star on
    actual measurements.

    Skew control: series are chunked per (user_id, UTC day) before the
    collect_list, so a hot user key never produces an unbounded group —
    the same deterministic-chunk pattern as the token compress path
    (operators/compress.py CHUNK). Each day-chunk round-trips
    independently per codec; the per-(method, user) verdict is the AND
    over its chunks. One groupBy builds both series and ONE mapInPandas
    pass runs all five legs — 5x the kernel work of a single leg but no
    extra shuffles vs one per-method row."""
    _prep(spark)
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from tersets_spark.kernels import registry

    day = (F.floor(F.unix_timestamp("ts") / 86400)).alias("_day")
    series = (
        _events(spark, sf_dir)
        .select("user_id", "ts", "event_id", "value", F.unix_timestamp("ts").alias("te"))
        .groupBy("user_id", day)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))),
                lambda r: r["value"],
            ).alias("vals"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("te", "event_id"))),
                lambda r: r["te"],
            ).alias("tvals"),
        )
    )
    legs = tuple(_FLOAT_CATALOG)

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            methods, users, ns, oks = [], [], [], []
            for user, vals, tvals in zip(pdf["user_id"], pdf["vals"], pdf["tvals"]):
                for lbl, code in legs:
                    src = tvals if lbl == "ts_delta" else vals
                    v = np.asarray(src, dtype=np.float64)
                    out = registry.decompress(registry.compress(v, Method(code)))
                    methods.append(lbl)
                    users.append(user)
                    ns.append(v.size)
                    oks.append(
                        out.size == v.size
                        and bool(
                            np.array_equal(v.view(np.uint64), out.view(np.uint64))
                        )
                    )
            yield pd.DataFrame(
                {
                    "method": methods,
                    "user_id": np.asarray(users, dtype=np.int64),
                    "n_values": np.asarray(ns, dtype=np.int64),
                    "bit_exact": oks,
                }
            )

    chunked = series.mapInPandas(
        verify, schema="method string, user_id long, n_values long, bit_exact boolean"
    )
    return chunked.groupBy("method", "user_id").agg(
        F.sum("n_values").alias("n_values"),
        F.min("bit_exact").alias("bit_exact"),
    )


_FLOAT_CATALOG_ORACLE = f"""
    SELECT m.method, e.user_id, count(*) AS n_values, true AS bit_exact
    FROM events e,
         (VALUES {", ".join(f"('{lbl}')" for lbl, _c in _FLOAT_CATALOG)}) AS m(method)
    GROUP BY m.method, e.user_id
"""


def _tier_prune_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention pruning: keep only the newest 3 one-minute buckets per
    doc from the char-token rollup."""
    _prep(spark)
    from tersets_spark.operators.retention import prune_tier
    from tersets_spark.operators.rollup import rollup_tokens_base

    roll = rollup_tokens_base(_char_tokens(spark, sf_dir)).select(
        "doc_id", "bucket", "vmin", "vmax", "vcount"
    )
    return prune_tier(roll, 3).select("doc_id", "bucket", "vmin", "vmax", "vcount")


_TIER_PRUNE_ORACLE = """
    WITH toks AS (
        SELECT CAST(doc_id AS VARCHAR) AS doc_id,
               unnest(list_transform(generate_series(1, length(text)),
                      i -> ascii(substring(text, i, 1)))) AS tok,
               unnest(generate_series(0, length(text) - 1)) AS pos
        FROM documents
    ), roll AS (
        SELECT doc_id, CAST(pos // 60 AS BIGINT) AS bucket,
               CAST(min(tok) AS DOUBLE) AS vmin,
               CAST(max(tok) AS DOUBLE) AS vmax,
               count(*) AS vcount
        FROM toks GROUP BY 1, 2
    )
    SELECT doc_id, bucket, vmin, vmax, vcount
    FROM (SELECT *, max(bucket) OVER (PARTITION BY doc_id) AS maxb FROM roll)
    WHERE bucket > maxb - 3
"""


def _tier_compact_roundtrip_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tier compaction identity: rollup -> Chimp64/delta blocks ->
    restore must reproduce every (doc, bucket, stat) bit-exactly."""
    _prep(spark)
    from tersets_spark.operators.retention import compact_tier, restore_tier
    from tersets_spark.operators.rollup import rollup_tokens_base

    roll = (
        rollup_tokens_base(_char_tokens(spark, sf_dir))
        .select(
            "doc_id",
            "bucket",
            "vmin",
            "vmax",
            (F.col("vsum") / F.col("vcount")).alias("vmean"),
        )
        .persist()
    )
    restored = restore_tier(compact_tier(roll))
    wide = (
        restored.groupBy("doc_id", "bucket")
        .pivot("stat", ["vmin", "vmax", "vmean"])
        .agg(F.first("value"))
    )
    joined = roll.alias("a").join(wide.alias("b"), ["doc_id", "bucket"])
    return joined.select(
        "doc_id",
        "bucket",
        (
            (F.col("a.vmin") == F.col("b.vmin"))
            & (F.col("a.vmax") == F.col("b.vmax"))
            & (F.col("a.vmean") == F.col("b.vmean"))
        ).alias("bit_exact"),
    )


_TIER_COMPACT_ORACLE = """
    WITH toks AS (
        SELECT CAST(doc_id AS VARCHAR) AS doc_id,
               unnest(generate_series(0, length(text) - 1)) AS pos
        FROM documents
    )
    SELECT doc_id, CAST(pos // 60 AS BIGINT) AS bucket, true AS bit_exact
    FROM toks GROUP BY 1, 2
"""


def _latest_wins_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union/dedup of partial runs: duplicate the events table (as a
    retried run would), keep the newest row per (user_id, event_type)."""
    _prep(spark)
    from tersets_spark.operators.upsert import latest_wins

    ev = _events(spark, sf_dir).select("user_id", "event_type", "ts", "value")
    merged = latest_wins(ev, ["user_id", "event_type"], "ts", ev)
    return merged.select(
        "user_id",
        "event_type",
        F.unix_timestamp("ts").alias("ts_epoch"),
        _trunc(F.col("value")).alias("value"),
    )


_LATEST_WINS_ORACLE = """
    WITH unioned AS (
        SELECT user_id, event_type, ts, value FROM events
        UNION ALL
        SELECT user_id, event_type, ts, value FROM events
    )
    SELECT user_id, event_type,
           CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
           floor(value * 1e4) / 1e4 AS value
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id, event_type
            ORDER BY ts DESC, value DESC) AS rn
        FROM unioned
    ) WHERE rn = 1
"""


def _dedup_exact_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    docs = _documents(spark, sf_dir)
    return (
        docs.select(F.col("doc_id").cast("long"), F.md5("text").alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_id"))
    )


_DEDUP_EXACT_ORACLE = """
    SELECT md5(text) AS content_hash, count(*) AS n_docs, min(doc_id) AS keep_id
    FROM documents GROUP BY 1
"""


def _textstats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    from tersets_spark.operators.textstats import text_stats

    out = text_stats(_documents(spark, sf_dir))
    return out.select(
        F.col("doc_id").cast("long"),
        F.col("n_chars").cast("long"),
        F.col("n_words").cast("long"),
        F.col("n_tokens_bpe").cast("long"),
        "punct_ratio",
        "mean_word_len",
        "stopword_ratio_en",
    )


_TEXTSTATS_ORACLE = r"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_words,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens_bpe,
           floor((length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
                 / greatest(length(text), 1)) * 1e6) / 1e6 AS punct_ratio,
           floor((length(regexp_replace(text, '\s', '', 'g'))
                 / greatest(len(string_split_regex(trim(text), '\s+')), 1)) * 1e6) / 1e6
                 AS mean_word_len,
           floor((len(list_intersect(string_split_regex(lower(trim(text)), '\s+'),
                 ['the','and','of','to','in','is','that','it','for','was']))
                 / greatest(len(string_split_regex(lower(trim(text)), '\s+')), 1)) * 1e6) / 1e6
                 AS stopword_ratio_en
    FROM documents
"""


def _textprofile_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID, composite quality score and portable document
    fingerprint — the text-analysis surface beyond raw counts, all pure
    Catalyst with an exact DuckDB analog."""
    _prep(spark)
    from tersets_spark.operators.textstats import (
        fingerprint_md5,
        lang_guess,
        quality_score,
    )

    return _documents(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        lang_guess("text").alias("lang"),
        _trunc(quality_score("text"), 6).alias("quality"),
        fingerprint_md5("text").alias("fp64"),
    )


_TEXTPROFILE_ORACLE = r"""
    WITH scored AS (
        SELECT doc_id, text,
               len(list_intersect(string_split_regex(lower(trim(text)), '\s+'),
                   ['the','and','of','to','in','is','that','it','for','was'])) AS s_en,
               len(list_intersect(string_split_regex(lower(trim(text)), '\s+'),
                   ['der','die','und','das','ist','nicht','mit','ein','von','zu'])) AS s_de,
               len(list_intersect(string_split_regex(lower(trim(text)), '\s+'),
                   ['le','la','les','et','de','un','une','est','que','pour'])) AS s_fr,
               len(list_intersect(string_split_regex(lower(trim(text)), '\s+'),
                   ['el','la','los','de','que','y','en','un','una','es'])) AS s_es,
               length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
                   / greatest(length(text), 1) AS punct,
               length(regexp_replace(text, '\s', '', 'g'))
                   / greatest(CASE WHEN length(trim(text)) = 0 THEN 0
                              ELSE len(string_split_regex(trim(text), '\s+')) END, 1) AS wl
        FROM documents
    )
    SELECT doc_id,
           CASE WHEN s_en >= greatest(s_de, s_fr, s_es, 1) THEN 'en'
                WHEN s_de >= greatest(s_en, s_fr, s_es, 1) THEN 'de'
                WHEN s_fr >= greatest(s_en, s_de, s_es, 1) THEN 'fr'
                WHEN s_es >= greatest(s_en, s_de, s_fr, 1) THEN 'es'
                ELSE 'unknown' END AS lang,
           floor((least(length(text) / 200.0, 1.0) * 0.4
                  + greatest(1.0 - punct * 4, 0.0) * 0.4
                  + (CASE WHEN wl >= 3 AND wl <= 9 THEN 1.0 ELSE 0.5 END) * 0.2)
                 * 1e6) / 1e6 AS quality,
           substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 16) AS fp64
    FROM scored
"""


def _ann_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    from tersets_spark.operators.similarity import brute_topk_sql

    emb = _embeddings(spark, sf_dir).select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 20)
    out = brute_topk_sql(emb, queries, k=5)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 4).alias("cosine"), "rank"
    )


_ANN_TOPK_ORACLE = """
    WITH emb AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_dot_product(q.v, c.v)
                 / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
                 AS cosine
        FROM emb q, emb c
        WHERE q.vec_id < 20 AND q.vec_id != c.vec_id
    )
    SELECT query_id, neighbor_id, round(cosine, 4) AS cosine, rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM scored
    ) WHERE rank <= 5
"""


def minhash_pairs(
    spark: SparkSession, sf_dir: str, n_hashes: int = 30, bands: int = 5
) -> DataFrame:
    """Full-corpus MinHash-LSH candidates + exact-Jaccard verification
    (>= 0.5). The driver row ``minhash_jaccard_dups`` runs the defaults,
    30 hashes / 5 bands, the fuzzy pipeline's configuration; its oracle
    replays the numpy band buckets in DuckDB (:func:`_minhash_bands_sql`)
    and then the cap, self-join and verify, so it is an exact replay
    with no recall assumption and no quadratic stage. bench.py times the
    same pipeline at 16/4 and 64/16."""
    _prep(spark)
    from tersets_spark.operators.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )

    docs = _documents(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    cands = minhash_lsh_candidates(docs, n_hashes=n_hashes, bands=bands).persist()
    # materialize the candidate cache BEFORE the verify join reads it
    # three times (id_a/id_b semi-join + main join): left lazy, the
    # consumers race to populate the cache and AQE may even broadcast-
    # build the whole candidate pipeline — measured 14-50 s vs 4-6 s
    # for the SAME 16/4 config at sf0.1 (this was the r4/r5 "lighter
    # minhash slower than its heavier anchor" artifact anomaly; it was
    # structural, not host noise)
    cands.count()
    # intentional cache lifetime: the returned plan still reads `cands`
    # when the caller collects, so it cannot be unpersisted here. The
    # driver/bench run one query per pass and clear the cache between
    # passes; long-lived drivers should use fuzzy_dedup_pipeline, which
    # releases its candidate cache itself.
    pairs = ngram_jaccard_pairs(docs, cands, threshold=0.5)
    return pairs.select("id_a", "id_b", _trunc(F.col("jaccard")).alias("jaccard"))


def _ngram_jaccard_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (char-5-shingle) Jaccard as its OWN driver row
    (round 5): `ngram_jaccard_pairs` previously appeared only as the
    verify stage inside the minhash pipeline; this row exercises it
    standalone over a BOUNDED candidate set (all pairs within doc_id <
    60 — constant work at any sf, so the exact oracle is non-quadratic
    and the row stays green at sf0.1 where the all-pairs minhash oracle
    cannot finish). Threshold 0.2 keeps boilerplate-duplicate pairs."""
    _prep(spark)
    from tersets_spark.operators.dedup import ngram_jaccard_pairs

    docs = _documents(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    ).filter(F.col("doc_id") < 60)
    ids = docs.select(F.col("doc_id").alias("id_a"))
    cands = (
        ids.crossJoin(docs.select(F.col("doc_id").alias("id_b")))
        .filter(F.col("id_a") < F.col("id_b"))
    )
    pairs = ngram_jaccard_pairs(docs, cands, threshold=0.2)
    return pairs.select("id_a", "id_b", _trunc(F.col("jaccard")).alias("jaccard"))


_NGRAM_JACCARD_ORACLE = """
    WITH d AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 60
    ), sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, greatest(length(text) - 4, 1)),
                   i -> substring(text, i, 5))) AS s
        FROM d
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           floor((len(list_intersect(a.s, b.s))::DOUBLE
                 / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))) * 1e4) / 1e4 AS jaccard
    FROM sh a, sh b
    WHERE a.doc_id < b.doc_id
      AND len(list_intersect(a.s, b.s))::DOUBLE
          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.2
"""


def _dedup_fuzzy_groups_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-dedup GROUP resolution (round-6 verdict #1): verified
    near-dup pairs → connected components (alternating large-star/
    small-star, pure node-keyed window aggregations, convergence-gated)
    → ``(doc_id, cluster_id, cluster_size, is_survivor)`` with the
    deterministic keep-one survivor = component-minimum doc — the stage
    that actually shrinks a corpus, ending the dedup surface at the
    DECISION the way the reference ends its entry points at the full
    round trip (src/tersets.zig:887-888), not at intermediate state.

    Pair set: exact char-5-shingle Jaccard >= 0.25 over docs with
    doc_id < 200 — bounded so the DuckDB recursive-CTE oracle is
    non-quadratic at any sf; at sf0.01 this graph has a 116-doc
    boilerplate component (deep star iteration) plus 7 two-doc
    components (trivial case). At 100-TB scale the pair set comes from
    minhash_lsh_candidates + ngram_jaccard_pairs instead — the CC stage
    is pair-source-agnostic."""
    _prep(spark)
    from tersets_spark.operators.dedup import (
        ngram_jaccard_pairs,
        resolve_duplicate_groups,
    )

    docs = (
        _documents(spark, sf_dir)
        .select(F.col("doc_id").cast("long").alias("doc_id"), "text")
        .filter(F.col("doc_id") < 200)
    )
    ids = docs.select(F.col("doc_id").alias("id_a"))
    cands = ids.crossJoin(docs.select(F.col("doc_id").alias("id_b"))).filter(
        F.col("id_a") < F.col("id_b")
    )
    pairs = ngram_jaccard_pairs(docs, cands, threshold=0.25)
    return resolve_duplicate_groups(pairs)


#: min-label fixpoint over the identical pair set, as a recursive CTE:
#: reach(v, l) enumerates every label reachable from v along pair
#: edges; min(l) per v is the component minimum == Spark's cluster_id
_DEDUP_FUZZY_GROUPS_ORACLE = """
    WITH RECURSIVE sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, greatest(length(text) - 4, 1)),
                   i -> substring(text, i, 5))) AS s
        FROM documents WHERE doc_id < 200
    ), pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a, sh b
        WHERE a.doc_id < b.doc_id
          AND len(list_intersect(a.s, b.s))::DOUBLE
              / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.25
    ), edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION
        SELECT id_b AS u, id_a AS v FROM pairs
    ), reach(v, l) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
        UNION
        SELECT e.v, r.l FROM reach r JOIN edges e ON e.u = r.v
    ), lbl AS (
        SELECT v AS doc_id, min(l) AS cluster_id FROM reach GROUP BY v
    )
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           (doc_id = cluster_id) AS is_survivor
    FROM lbl
"""


def _fuzzy_shrink_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-shrink DECISION a training pipeline actually executes
    (round 6): fuzzy groups joined back to the full corpus — per
    source, how many docs survive keep-one dedup. Docs never seen in a
    pair are kept; pair members survive iff they are their component's
    minimum. Same bounded pair set as ``dedup_fuzzy_groups``."""
    _prep(spark)
    from tersets_spark.operators.dedup import (
        ngram_jaccard_pairs,
        resolve_duplicate_groups,
    )

    docs_all = _documents(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text", "source"
    )
    docs = docs_all.filter(F.col("doc_id") < 200).select("doc_id", "text")
    ids = docs.select(F.col("doc_id").alias("id_a"))
    cands = ids.crossJoin(docs.select(F.col("doc_id").alias("id_b"))).filter(
        F.col("id_a") < F.col("id_b")
    )
    groups = resolve_duplicate_groups(
        ngram_jaccard_pairs(docs, cands, threshold=0.25)
    )
    joined = docs_all.join(
        groups.select("doc_id", "is_survivor"), "doc_id", "left"
    )
    kept = F.when(
        F.col("is_survivor").isNull() | F.col("is_survivor"), 1
    ).otherwise(0)
    return joined.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(kept).cast("long").alias("n_kept"),
        F.sum(1 - kept).cast("long").alias("n_dropped"),
    )


_FUZZY_SHRINK_ORACLE = """
    WITH RECURSIVE sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, greatest(length(text) - 4, 1)),
                   i -> substring(text, i, 5))) AS s
        FROM documents WHERE doc_id < 200
    ), pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a, sh b
        WHERE a.doc_id < b.doc_id
          AND len(list_intersect(a.s, b.s))::DOUBLE
              / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.25
    ), edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION
        SELECT id_b AS u, id_a AS v FROM pairs
    ), reach(v, l) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
        UNION
        SELECT e.v, r.l FROM reach r JOIN edges e ON e.u = r.v
    ), lbl AS (
        SELECT v AS doc_id, min(l) AS cluster_id FROM reach GROUP BY v
    )
    SELECT d.source, count(*) AS n_docs,
           CAST(sum(CASE WHEN l.doc_id IS NULL OR l.doc_id = l.cluster_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN l.doc_id IS NOT NULL AND l.doc_id != l.cluster_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
    FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id
    GROUP BY d.source
"""


def _fuzzy_corpus_shrink_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION fuzzy-dedup flow end-to-end over the FULL corpus
    (round-6 verdict #1): minhash-LSH candidates → exact n-gram-Jaccard
    verify (>= 0.5) → connected components → deterministic keep-one
    survivors → the per-source corpus-shrink decision a training
    pipeline executes. Unlike ``dedup_fuzzy_groups`` (bounded
    doc_id < 200 pair set, deep CC iteration), this row's pair set is
    the REAL verifier's output over every document; the oracle is an
    exact pipeline replay (the numpy band buckets replayed in SQL) plus
    a recursive-CTE min-label fixpoint — non-quadratic at every sf."""
    _prep(spark)
    from tersets_spark.operators.dedup import fuzzy_dedup_pipeline

    docs_all = _documents(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text", "source"
    )
    groups = fuzzy_dedup_pipeline(docs_all)
    joined = docs_all.join(
        groups.select("doc_id", "is_survivor"), "doc_id", "left"
    )
    kept = F.when(
        F.col("is_survivor").isNull() | F.col("is_survivor"), 1
    ).otherwise(0)
    return joined.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(kept).cast("long").alias("n_kept"),
        F.sum(1 - kept).cast("long").alias("n_dropped"),
    )


def _minhash_bands_sql(
    k_shingle: int = 5,
    n_hashes: int = 30,
    bands: int = 5,
    seed: int = 42,
) -> str:
    """A DuckDB SELECT of ``(doc_id, band, bucket)`` rows equal bit for
    bit to ``dedup._band_buckets_batch`` over ``documents``:
    the engine's one MinHash signature, replayed in SQL.

    - Shingle hash: Horner's rule (FNV prime) over ``lead(c, 1..k-1)``
      of the codepoints ``c = unicode(substring(text, i, 1))``; a text
      shorter than ``k_shingle`` is one shingle over all its codepoints,
      an empty or NULL text hashes to 0.
    - Minhash j: ``min((a_j * h + b_j) mod 2^64)``, with the ``a_j`` /
      ``b_j`` literals drawn from ``np.random.default_rng(seed)`` exactly
      as the engine draws them.
    - Band: ``list_reduce`` fold ``x * 1000003 + y`` over the band's
      minhashes in j order, then mapped to the signed int64 numpy's
      ``astype(np.int64)`` gives.

    All arithmetic is ``HUGEINT`` with ``& (2^64 - 1)`` after every
    multiply; no product overflows (``a_j < 2^63``, the FNV prime
    ``< 2^41``, ``1000003 < 2^20``). ``UHUGEINT %`` gives the same bits
    but measured about 40x slower over 4.5M multiply-mods, and ``sum()``
    over ``UHUGEINT`` returns DOUBLE in DuckDB 1.0, which drops bits:
    neither is used."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, 2**63, n_hashes, dtype=np.uint64) | np.uint64(1)
    b = rng.integers(0, 2**63, n_hashes, dtype=np.uint64)
    rows = n_hashes // bands
    mask = f"{2**64 - 1}::HUGEINT"
    consts = ", ".join(
        f"({j}, {int(a[j])}::HUGEINT, {int(b[j])}::HUGEINT)"
        for j in range(rows * bands)
    )
    h = "c::HUGEINT"
    for i in range(1, k_shingle):  # a NULL lead (the text ended) is a no-op step
        h = f"(({h} * if(c{i} IS NULL, 1, 1099511628211) + coalesce(c{i}, 0)) & {mask})"
    leads = ", ".join(f"lead(c, {i}) OVER w AS c{i}" for i in range(1, k_shingle))
    return f"""
        SELECT doc_id, band,
               CAST(CASE WHEN u >= {2**63} THEN u - {2**64} ELSE u END AS BIGINT)
                 AS bucket
        FROM (
            SELECT doc_id, j // {rows} AS band,
                   list_reduce(list(mh ORDER BY j),
                               (x, y) -> (x * 1000003 + y) & {mask}) AS u
            FROM (
                SELECT s.doc_id, k.j, min((k.a * s.h + k.b) & {mask}) AS mh
                FROM (
                    SELECT doc_id, {h} AS h FROM (
                        SELECT doc_id, i, n, c, {leads}
                        FROM (
                            SELECT doc_id, length(text) AS n, i,
                                   unicode(substring(text, i, 1)) AS c
                            FROM (SELECT doc_id, text,
                                         unnest(generate_series(1, length(text))) AS i
                                  FROM documents)
                        )
                        WINDOW w AS (PARTITION BY doc_id ORDER BY i)
                    ) WHERE i <= greatest(n - {k_shingle - 1}, 1)
                    UNION ALL
                    SELECT doc_id, 0::HUGEINT FROM documents
                    WHERE coalesce(length(text), 0) = 0
                ) s CROSS JOIN (VALUES {consts}) k(j, a, b)
                GROUP BY s.doc_id, k.j
            ) GROUP BY doc_id, j // {rows}
        )"""


#: EXACT replay of minhash_lsh_candidates (30 hashes, 5 bands of 6 rows,
#: bucket_cap 1024) + the ngram_jaccard_pairs verify at threshold 0.5 —
#: the full-corpus pair set with NO quadratic stage and NO LSH-recall
#: assumption (both engines run the identical pipeline). CTE chain ends
#: at `vpairs`; heavy intermediates are MATERIALIZED so DuckDB's inliner
#: does not re-expand them per consumer (CLAUDE.md).
_MINHASH_CTES = f"""
    sh AS MATERIALIZED (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, greatest(length(text) - 4, 1)),
                   i -> substring(text, i, 5))) AS s
        FROM documents
    ), buckets AS MATERIALIZED ({_minhash_bands_sql()}
    ), capped AS (
        SELECT doc_id, band, bucket FROM (
            SELECT *, count(*) OVER (PARTITION BY band, bucket) AS c
            FROM buckets
        ) WHERE c <= 1024
    ), cand AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM capped a JOIN capped b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ), vpairs AS MATERIALIZED (
        SELECT c.id_a, c.id_b,
               len(list_intersect(a.s, b.s))::DOUBLE
               / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS j
        FROM cand c JOIN sh a ON a.doc_id = c.id_a
                    JOIN sh b ON b.doc_id = c.id_b
        WHERE len(list_intersect(a.s, b.s))::DOUBLE
              / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
    )"""

_MINHASH_JACCARD_ORACLE = f"""
    WITH {_MINHASH_CTES}
    SELECT id_a, id_b, floor(j * 1e4) / 1e4 AS jaccard FROM vpairs
"""

#: exact replay of the full-corpus pipeline, then the min-label
#: fixpoint over the verified pairs and the per-source shrink decision
_FUZZY_CORPUS_SHRINK_ORACLE = f"""
    WITH RECURSIVE {_MINHASH_CTES}
    , edges AS (
        SELECT id_a AS eu, id_b AS ev FROM vpairs
        UNION
        SELECT id_b AS eu, id_a AS ev FROM vpairs
    ), reach(v, l) AS (
        SELECT eu, eu FROM (SELECT DISTINCT eu FROM edges) t
        UNION
        SELECT e.ev, r.l FROM reach r JOIN edges e ON e.eu = r.v
    ), lbl AS (
        SELECT v AS doc_id, min(l) AS cluster_id FROM reach GROUP BY v
    )
    SELECT d.source, count(*) AS n_docs,
           CAST(sum(CASE WHEN l.doc_id IS NULL OR l.doc_id = l.cluster_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN l.doc_id IS NOT NULL AND l.doc_id != l.cluster_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
    FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id
    GROUP BY d.source
"""


def _compression_summary_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lossless-codec verification summary, ORACLE-CHECKED: each of
    the five batch codecs must round-trip every document's word-token
    series (all_ok) and cover every doc (n_docs). The exact compression
    ratios are engine-specific blob sizes with no SQL analog — they are
    reported in KERNELS.md and bench.py's ``detail.compress_ratio``
    instead of here, so this row can carry a hard oracle."""
    _prep(spark)
    from tersets_spark.operators.compress import roundtrip_verify

    toks = _word_tokens(spark, sf_dir)
    frames = []
    for m in (
        Method.BitPackedDeltaEncoding,
        Method.Chimp64,
        Method.Chimp128,
        Method.Elf,
        Method.RunLengthEncoding,
    ):
        frames.append(
            roundtrip_verify(toks, m).select(
                F.lit(m.name).alias("method"), "roundtrip_ok"
            )
        )
    union = frames[0]
    for f in frames[1:]:
        union = union.unionByName(f)
    return union.groupBy("method").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min(F.col("roundtrip_ok").cast("int")).alias("all_ok"),
    )


_COMPRESSION_SUMMARY_ORACLE = """
    SELECT m.method,
           (SELECT count(*) FROM documents) AS n_docs,
           1 AS all_ok
    FROM (VALUES ('BitPackedDeltaEncoding'), ('Chimp64'), ('Chimp128'),
                 ('Elf'), ('RunLengthEncoding')) AS m(method)
"""


def _simhash_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates — pure Catalyst (md5-derived bit
    votes, no Python), bit-for-bit reproducible by DuckDB's
    ``md5_number_upper``; hard oracle below."""
    _prep(spark)
    from tersets_spark.operators.dedup import simhash_near_dups

    docs = _documents(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    return simhash_near_dups(
        docs, prefix_bits=12, max_hamming=16, bucket_cap=256
    ).select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


def _simhash_oracle(
    prefix_bits: int = 12, max_hamming: int = 16, bucket_cap: int = 256
) -> str:
    """DuckDB replica of the Catalyst SimHash: bit i of each word's
    contribution = bit i of md5_number_upper(word) (the little-endian
    first 8 digest bytes — exactly what the Spark side rebuilds from
    md5() hex pairs)."""
    votes = ",\n               ".join(
        f"SUM(CASE WHEN (c{i // 16} >> {i % 16}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(64)
    )
    sig_hi = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN CAST({1 << (i - 32)} AS BIGINT) ELSE 0 END)"
        for i in range(32, 64)
    )
    sig_lo = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(32)
    )
    return f"""
        WITH words AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        ), chunks AS (
            SELECT doc_id,
                   CAST((md5_number_upper(w) >> 0) & 65535 AS BIGINT) AS c0,
                   CAST((md5_number_upper(w) >> 16) & 65535 AS BIGINT) AS c1,
                   CAST((md5_number_upper(w) >> 32) & 65535 AS BIGINT) AS c2,
                   CAST((md5_number_upper(w) >> 48) & 65535 AS BIGINT) AS c3
            FROM words
        ), votes AS (
            SELECT doc_id,
               {votes}
            FROM chunks GROUP BY doc_id
        ), sigs AS (
            SELECT doc_id, {sig_hi} AS sig_hi, {sig_lo} AS sig_lo FROM votes
        ), b0 AS (
            SELECT doc_id, sig_hi, sig_lo,
                   sig_hi >> {32 - prefix_bits} AS bucket
            FROM sigs
        ), b AS (
            -- degenerate-bucket guard, mirrored from the engine: rows in
            -- buckets larger than the cap never join
            SELECT doc_id, sig_hi, sig_lo, bucket FROM (
                SELECT *, count(*) OVER (PARTITION BY bucket) AS bsz FROM b0
            ) WHERE bsz <= {bucket_cap}
        )
        SELECT id_a, id_b, hamming FROM (
            SELECT l.doc_id AS id_a, r.doc_id AS id_b,
                   CAST(bit_count(xor(l.sig_hi, r.sig_hi))
                        + bit_count(xor(l.sig_lo, r.sig_lo)) AS BIGINT) AS hamming
            FROM b l JOIN b r ON l.bucket = r.bucket AND l.doc_id < r.doc_id
        ) WHERE hamming <= {max_hamming}
    """


def _lsh_ann_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN top-k, HARD oracle (round-3 verdict #6):
    DuckDB replays the identical plane matrix (same rng, coefficients
    inlined as literals by ``_lsh_ann_oracle``), the identical left-fold
    dot products (bit-identical IEEE sums, the ``embedding_near_dups``
    technique), the 1-bit multi-probe explode, the bucket equi-join, and
    the (cosine DESC, neighbor_id ASC) window rank — so even though the
    ALGORITHM is approximate, the RESULT is deterministic and
    oracle-checkable end-to-end. Only integer columns are emitted (rank
    is derived from identical doubles on both sides)."""
    _prep(spark)
    from tersets_spark.operators.similarity import lsh_topk

    emb = _embeddings(spark, sf_dir).select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 20)
    return lsh_topk(emb, queries, k=5, dim=64).select(
        "query_id", "neighbor_id", "rank"
    )


def _lsh_ann_oracle(
    n_planes: int = 8, seed: int = 42, dim: int = 64, k: int = 5,
    max_query_id: int = 20,
) -> str:
    """Bit-exact DuckDB replica of ``_lsh_ann_query``: same plane
    literals, same fold order, same probes, same rank tie-break."""
    import numpy as np

    planes = np.random.default_rng(seed).normal(size=(n_planes, dim))
    fold = (
        "list_reduce(list_prepend(0.0, list_transform(generate_series(1, {d}), "
        "i -> {a}[i] * {b}[i])), (acc, x) -> acc + x)"
    )
    plane_lits = [
        "[" + ", ".join(repr(float(x)) for x in planes[p]) + "]"
        for p in range(n_planes)
    ]
    bucket = " + ".join(
        f"(CASE WHEN {fold.format(d=dim, a='v', b=plane_lits[p])} > 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p in range(n_planes)
    )
    probe_list = ", ".join(
        ["bucket"] + [f"xor(bucket, {1 << p})" for p in range(n_planes)]
    )
    dot = fold.format(d=dim, a="p.qv", b="c.v")
    norm = "sqrt(" + fold.format(d=dim, a="v", b="v") + ")"
    return f"""
        WITH emb AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), b AS (
            SELECT vec_id, v, {norm} AS nrm, CAST({bucket} AS BIGINT) AS bucket
            FROM emb
        ), probes AS (
            SELECT vec_id AS query_id, v AS qv, nrm AS qnrm,
                   unnest([{probe_list}]) AS bucket
            FROM b WHERE vec_id < {max_query_id}
        ), cand AS (
            SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id,
                   {dot} / (p.qnrm * c.nrm) AS cosine
            FROM probes p JOIN b c
              ON p.bucket = c.bucket AND p.query_id != c.vec_id
        )
        SELECT query_id, neighbor_id, rank FROM (
            SELECT query_id, neighbor_id, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
            ) AS rank
            FROM cand
        ) WHERE rank <= {k}
    """


def _ivf_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-k, HARD oracle (round-4 verdict #1 — the last
    rows-only row): ``_kmeans`` is SQL-exact (RNG-free stratified init,
    every reduction a strictly-sequential left fold), so the DuckDB
    oracle TRAINS THE SAME CENTROID MATRIX bit-for-bit from the
    ``embeddings`` view via chained k-means CTEs, then replays cell
    assignment (argmax-dot, ties to the higher cell like Spark's
    ``array_max`` on (d, c) structs), the nprobe probe set, the cell
    equi-join, and the (cosine DESC, neighbor_id ASC) rank — identical
    fold order end-to-end, the ``lsh_ann_topk`` discipline extended
    through the trained index. Self-contained at any sf (the oracle
    reads the same view). Valid while the corpus stays under
    ``cell_cap`` (no hot cells at test scale — the re-split path is
    exercised and gated separately by ``ivf_index_stats``)."""
    _prep(spark)
    from tersets_spark.operators.similarity import ivf_topk, train_centroids

    emb = _embeddings(spark, sf_dir).select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 20)
    cents = train_centroids(emb, n_cells=32)
    return ivf_topk(emb, queries, cents, k=5, nprobe=8).select(
        "query_id", "neighbor_id", "rank"
    )


def _ivf_ann_oracle(
    n_cells: int = 32, sample_size: int = 4096, iters: int = 10,
    dim: int = 64, nprobe: int = 8, k: int = 5, max_query_id: int = 20,
    sub: int = 64, emit: str = "topk",
) -> str:
    """DuckDB replica of ``_ivf_topk_query`` INCLUDING the k-means
    training: cent0 = stratified init rows (X[j*n//k], matching
    ``_kmeans``), then ``iters`` chained (assign -> mean -> renormalize)
    CTEs whose every float reduction is the same 0.0-seeded sequential
    left fold the Python side computes with cumsum. Training ties break
    to the LOWER cell (numpy argmax = first max); query-time assignment
    ties break to the HIGHER cell (Spark array_max on (d, c) structs) —
    both replicated. ``sub`` is the re-split id stride (cells carry id
    j*sub; no hot cells at test scale)."""

    def fold(a: str, b: str) -> str:
        return (
            f"list_reduce(list_prepend(0.0, list_transform(generate_series(1, {dim}), "
            f"i -> {a}[i] * {b}[i])), (acc, x) -> acc + x)"
        )

    parts = [f"""
    WITH emb AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), samp0 AS (
        SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rn
        FROM (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT {sample_size})
    ), samp AS MATERIALIZED (
        SELECT vec_id, rn,
               list_transform(v, e -> e / greatest(sqrt({fold('v', 'v')}), 1e-30)) AS x
        FROM samp0
    ), kk AS (
        SELECT least({n_cells}, count(*)) AS k, count(*) AS n FROM samp
    ), cent0 AS (
        SELECT jt.j AS cell, s.x AS c
        FROM generate_series(0, {n_cells - 1}) AS jt(j)
        CROSS JOIN kk
        JOIN samp s ON s.rn = CAST(floor(jt.j * kk.n * 1.0 / kk.k) AS BIGINT) + 1
        WHERE jt.j < kk.k
    )"""]
    for t in range(1, iters + 1):
        parts.append(f""", asg{t} AS MATERIALIZED (
        SELECT vec_id, x, cell FROM (
            SELECT s.vec_id, s.x, c.cell,
                   row_number() OVER (PARTITION BY s.vec_id
                       ORDER BY {fold('s.x', 'c.c')} DESC, c.cell ASC) AS rnk
            FROM samp s CROSS JOIN cent{t - 1} c
        ) WHERE rnk = 1
    ), mu{t} AS MATERIALIZED (
        SELECT cell, list_transform(generate_series(1, {dim}),
                   i -> list_reduce(list_prepend(0.0, list_transform(xs, r -> r[i])),
                                    (a, b) -> a + b) / cnt) AS m
        FROM (SELECT cell, list(x ORDER BY vec_id) AS xs, count(*) AS cnt
              FROM asg{t} GROUP BY cell)
    ), cent{t} AS MATERIALIZED (
        SELECT cell, list_transform(mv, e -> e / greatest(sqrt({fold('mv', 'mv')}), 1e-30)) AS c
        FROM (SELECT p.cell, coalesce(m.m, p.c) AS mv
              FROM cent{t - 1} p LEFT JOIN mu{t} m USING (cell))
    )""")
    if emit == "centroids":
        # tests/test_ivf_sql_exact.py: expose the trained matrix itself
        # so _kmeans <-> SQL bit-parity is pinned without a Spark run
        parts.append(
            f"\n    SELECT cell, c AS centroid FROM cent{iters} ORDER BY cell"
        )
        return "".join(parts)
    parts.append(f""", cents AS MATERIALIZED (
        SELECT cell * {sub} AS cell, c FROM cent{iters}
    ), corp AS MATERIALIZED (
        SELECT vec_id AS neighbor_id, v AS cv, cell FROM (
            SELECT e.vec_id, e.v, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {fold('e.v', 'c.c')} DESC, c.cell DESC) AS rnk
            FROM emb e CROSS JOIN cents c
        ) WHERE rnk = 1
    ), qprobe AS (
        SELECT query_id, qv, cell FROM (
            SELECT e.vec_id AS query_id, e.v AS qv, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {fold('e.v', 'c.c')} DESC, c.cell DESC) AS rnk
            FROM emb e CROSS JOIN cents c
            WHERE e.vec_id < {max_query_id}
        ) WHERE rnk <= {nprobe}
    ), scored AS (
        SELECT q.query_id, t.neighbor_id,
               {fold('q.qv', 't.cv')}
                 / (sqrt({fold('q.qv', 'q.qv')}) * sqrt({fold('t.cv', 't.cv')})) AS cosine
        FROM qprobe q JOIN corp t
          ON q.cell = t.cell AND q.query_id != t.neighbor_id
    )
    SELECT query_id, neighbor_id, rank FROM (
        SELECT query_id, neighbor_id, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
        ) AS rank
        FROM scored
    ) WHERE rank <= {k}""")
    return "".join(parts)


def _ivf_index_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible no-silent-drop gate for the IVF index (round-3
    verdict #3): build the index at settings that FORCE a hot cell
    (cell_cap far below the corpus piled into few cells) and emit the
    build stats — every corpus row must stay in the index
    (index_rows == corpus rows, dropped_rows == 0) because hot cells
    RE-SPLIT into sub-centroids instead of dropping. The DuckDB oracle
    derives the corpus count independently; n_hot >= 1 proves the
    re-split path actually exercised."""
    _prep(spark)
    from tersets_spark.operators.similarity import build_ivf_index

    emb = _embeddings(spark, sf_dir).select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding")
    )
    # ONE centroid: the whole corpus lands in a single (hot) cell;
    # cap at ~1/8 of the corpus so the split factor stays moderate
    import numpy as np

    n = emb.count()
    idx = build_ivf_index(emb, np.ones((1, 64)), cell_cap=max(64, n // 8))
    kept = idx.assigned.count()
    idx.unpersist()
    return spark.createDataFrame(
        [(
            int(n),
            int(kept),
            int(idx.stats["dropped_rows"]),
            bool(idx.stats["n_hot"] >= 1),
        )],
        "corpus_rows long, index_rows long, dropped_rows long, resplit_exercised boolean",
    )


_IVF_INDEX_STATS_ORACLE = """
    SELECT CAST(count(*) AS BIGINT) AS corpus_rows,
           CAST(count(*) AS BIGINT) AS index_rows,
           CAST(0 AS BIGINT) AS dropped_rows,
           true AS resplit_exercised
    FROM embeddings
"""


def _ivf_recall_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-gated mean recall@5 floor for the IVF ANN scale path vs
    the exact brute-force top-k (the quality gate the bound_* queries
    provide for the lossy codecs). Measured with the SQL-exact k-means
    (stratified init): mean recall 0.64 at sf0.01 AND sf0.1 at ~24% scan
    fraction (vs 0.09 for 8-plane hyperplane LSH)."""
    _prep(spark)
    from tersets_spark.operators.similarity import ivf_mean_recall, train_centroids

    emb = _embeddings(spark, sf_dir).select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 20)
    cents = train_centroids(emb, n_cells=32)
    return ivf_mean_recall(emb, queries, cents, k=5, nprobe=8, recall_floor=0.5)


_IVF_RECALL_ORACLE = """
    SELECT CAST(count(*) AS BIGINT) AS n_queries, true AS mean_recall_ok
    FROM embeddings WHERE vec_id < 20
"""


def _lsh_recall_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-gated mean recall@5 floor for the hyperplane-LSH ANN path
    vs the exact brute-force top-k — the same hard-gate shape as
    ``ivf_ann_recall``, so the approximate path's quality is driver-
    visible. Config: 4 planes + 1-bit multi-probe = 5/16 of buckets
    scanned; measured mean recall 0.46 at sf0.01 on the near-random
    synthetic embeddings (floor 0.3 leaves 1.5x margin; data and seed
    are deterministic)."""
    _prep(spark)
    from tersets_spark.operators.similarity import lsh_mean_recall

    emb = _embeddings(spark, sf_dir).select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 20)
    return lsh_mean_recall(
        emb, queries, k=5, n_planes=4, dim=64, recall_floor=0.3
    )


def _lineage_status_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the checkpoint/resume orchestrator end-to-end (fresh run over
    the char-token series, 16 partition buckets) and emit the lineage
    table's totals — every doc accounted for in exactly one committed
    bucket, every token counted, every bucket 'done'. The totals are
    SQL-derivable from ``documents``, which makes the lineage/resume
    surface driver-visible (the SIGKILL resume semantics stay covered by
    tests/test_resume_kill.py)."""
    import shutil
    import tempfile

    _prep(spark)
    from tersets_spark.operators.lineage import run_with_lineage

    toks = _char_tokens(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="tersets_lineage_q_")
    try:
        run_id = run_with_lineage(
            spark,
            toks,
            lambda sl: sl.select("doc_id", "n_tok", "pb"),
            out_path=f"{tmp}/out",
            lineage_path=f"{tmp}/lineage",
            n_buckets=16,
            buckets_per_batch=8,
        )
        lin = (
            spark.read.parquet(f"{tmp}/lineage")
            .filter(F.col("run_id") == run_id)
            .agg(
                F.sum("n_series").cast("long").alias("n_series"),
                F.sum("n_tokens").cast("long").alias("n_tokens"),
                (F.min((F.col("status") == "done").cast("int")) == 1).alias(
                    "all_done"
                ),
            )
        )
        # materialize before the temp dir disappears
        pdf = lin.toPandas()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        pdf, schema="n_series long, n_tokens long, all_done boolean"
    )


_LINEAGE_STATUS_ORACLE = """
    SELECT CAST(count(*) AS BIGINT) AS n_series,
           CAST(sum(length(text)) AS BIGINT) AS n_tokens,
           true AS all_done
    FROM documents
"""


def _stream_compact_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stateful compaction, driver-visible: fragment the first
    50 documents' char-token series across three micro-batches (two
    halves + a flush record, file source with pinned mtimes), run the
    applyInPandasWithState compactor, and verify every emitted block is
    BYTE-identical to the batch encoder over the same slice with the
    same deterministic chunk boundaries. Emits one row of totals the
    DuckDB oracle derives from ``documents`` (block count = sum of
    ceil(len/4096)); the all-true ``all_match`` column carries the
    byte-parity gate."""
    import os
    import shutil
    import tempfile
    import time
    import uuid

    import numpy as np

    _prep(spark)
    from tersets_spark.kernels import registry
    from tersets_spark.streaming.compact_stream import stream_compact

    chunk = 4096
    docs = (
        _char_tokens(spark, sf_dir)
        .orderBy("doc_id")
        .limit(50)
        .select("doc_id", "tokens")
        .collect()
    )  # bounded driver collect: 50 docs, same role as lineage orchestration
    toks = {r.doc_id: list(r.tokens) for r in docs}
    tmp = tempfile.mkdtemp(prefix="tersets_stream_q_")
    qname = "t_stream_parity_" + uuid.uuid4().hex[:8]
    try:
        now = time.time()
        schema = "doc_id string, seq long, tokens array<int>, flush boolean"
        batches = [
            [(d, 0, t[: len(t) // 2], False) for d, t in toks.items()],
            [(d, 1, t[len(t) // 2 :], False) for d, t in toks.items()],
            [(d, 2, None, True) for d in toks],
        ]
        for i, rows in enumerate(batches):
            path = os.path.join(tmp, f"b{i}")
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(path)
            # file-source order is (modificationTime, path): pin mtimes so
            # micro-batch order == fragment order
            mt = now - 20 + 10 * i
            for root, _d, files in os.walk(path):
                for f in files:
                    os.utime(os.path.join(root, f), (mt, mt))
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(tmp, "*"))
        )
        out = stream_compact(
            stream, chunk=chunk, method=Method.BitPackedDeltaEncoding, timeout_ms=None
        )
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName(qname)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        blocks = spark.sql(f"SELECT * FROM {qname}").collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            spark.catalog.dropTempView(qname)
        except Exception:
            pass  # query never registered the sink view
    by_doc: dict[str, list] = {}
    for b in blocks:
        by_doc.setdefault(b.doc_id, []).append(b)
    n_blocks = 0
    n_tokens = 0
    all_match = len(by_doc) == sum(1 for t in toks.values() if t)
    for d, t in toks.items():
        got = sorted(by_doc.get(d, []), key=lambda r: r.chunk_id)
        if [g.chunk_id for g in got] != list(range(len(got))):
            all_match = False
        for i, g in enumerate(got):
            seg = np.asarray(t[i * chunk : i * chunk + g.n_values], dtype=np.float64)
            if (
                g.first_pos != i * chunk
                or bytes(g.blob) != registry.compress(seg, Method.BitPackedDeltaEncoding)
            ):
                all_match = False
            n_blocks += 1
            n_tokens += g.n_values
        if sum(g.n_values for g in got) != len(t):
            all_match = False
    return spark.createDataFrame(
        [(len(toks), n_blocks, n_tokens, bool(all_match))],
        "n_docs long, n_blocks long, n_tokens long, all_match boolean",
    )


_STREAM_COMPACT_ORACLE = """
    WITH d AS (
        SELECT CAST(doc_id AS VARCHAR) AS doc_id, length(text) AS n
        FROM documents ORDER BY CAST(doc_id AS VARCHAR) LIMIT 50
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CAST(ceil(n / 4096.0) AS BIGINT)) AS BIGINT) AS n_blocks,
           CAST(sum(n) AS BIGINT) AS n_tokens,
           true AS all_match
    FROM d
"""


def _stream_rollup_parity_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming tier rollup batch-parity, driver-visible
    (closes the last pytest-only §2.3 surface): run the watermarked
    streaming rollup (1h tier) over the same events parquet the batch
    operator reads and compare bucket-by-bucket — vmin/vmax/vcount must
    match EXACTLY, vmean within 1e-9 (streaming and batch aggregate the
    same doubles in different partition orders, so the sums differ by
    summation order only). Emits one summary row; the DuckDB oracle
    derives the bucket count from ``events`` independently and gates
    ``all_match`` as all-true."""
    import os
    import shutil
    import tempfile
    import uuid

    _prep(spark)
    from tersets_spark.operators.rollup import rollup_events
    from tersets_spark.streaming.rollup_stream import stream_rollup

    path = f"{sf_dir}/events.parquet"
    events = spark.read.parquet(path)
    # the file stream source requires a DIRECTORY — symlink the table in
    # (zero-copy; the source follows local-FS links)
    tmp = tempfile.mkdtemp(prefix="tersets_stream_roll_")
    os.symlink(os.path.abspath(path), os.path.join(tmp, "events.parquet"))
    stream = spark.readStream.schema(events.schema).parquet(tmp)
    qname = "t_stream_rollup_" + uuid.uuid4().hex[:8]
    try:
        q = (
            stream_rollup(stream, tier="1h")
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName(qname)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    try:
        streamed = spark.sql(f"SELECT * FROM {qname}")
        batch = rollup_events(events, tier="1h")
        joined = streamed.alias("s").join(
            batch.alias("b"), ["user_id", "bucket"], "full_outer"
        )
        row_ok = (
            F.col("s.vcount").isNotNull()
            & F.col("b.vcount").isNotNull()
            & (F.col("s.vmin") == F.col("b.vmin"))
            & (F.col("s.vmax") == F.col("b.vmax"))
            & (F.col("s.vcount") == F.col("b.vcount"))
            & (F.abs(F.col("s.vmean") - F.col("b.vmean")) <= F.lit(1e-9))
        )
        out = joined.agg(
            F.count("*").cast("long").alias("n_buckets"),
            F.min(row_ok.cast("int")).cast("boolean").alias("all_match"),
        )
        return spark.createDataFrame(
            out.collect(), "n_buckets long, all_match boolean"
        )  # materialize before the temp view is dropped (1 row)
    finally:
        try:
            spark.catalog.dropTempView(qname)
        except Exception:
            pass  # sink view already gone


_STREAM_ROLLUP_PARITY_ORACLE = """
    SELECT CAST(count(*) AS BIGINT) AS n_buckets, true AS all_match
    FROM (
        SELECT DISTINCT user_id,
               CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS bucket
        FROM events
    )
"""


def _stream_dedup_parity_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-dedup batch parity (round 6): feed the first 200
    docs plus 20 injected exact duplicates (doc_id + 10000, same text)
    through the keyed stateful first-wins dedup
    (streaming/dedup_stream.py) as 3 ascending micro-batches — the
    duplicates arrive LAST, so first-arrival == min id and the
    streaming survivor set must equal the batch ``dedup_exact``
    survivor set over the identical augmented corpus. One summary row;
    the oracle derives n_docs/n_unique/n_dropped independently from
    ``documents`` via DuckDB md5 and gates all_match as all-true."""
    import os
    import shutil
    import tempfile
    import time
    import uuid

    _prep(spark)
    from tersets_spark.operators.dedup import dedup_exact
    from tersets_spark.streaming.dedup_stream import stream_dedup_exact

    docs = (
        _documents(spark, sf_dir)
        .select(F.col("doc_id").cast("long").alias("doc_id"), "text")
        .filter(F.col("doc_id") < 200)
        .collect()
    )  # bounded driver collect: 200 docs, orchestration only
    dups = [(r.doc_id + 10000, r.text) for r in docs if r.doc_id < 20]
    batches = [
        [(r.doc_id, r.text) for r in docs if r.doc_id < 100],
        [(r.doc_id, r.text) for r in docs if r.doc_id >= 100],
        dups,
    ]
    schema = "doc_id long, text string"
    tmp = tempfile.mkdtemp(prefix="tersets_stream_dedup_")
    qname = "t_stream_dedup_" + uuid.uuid4().hex[:8]
    try:
        now = time.time()
        for i, rows in enumerate(batches):
            path = os.path.join(tmp, f"b{i}")
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(path)
            mt = now - 20 + 10 * i  # micro-batch order == arrival order
            for root, _d, files in os.walk(path):
                for f in files:
                    os.utime(os.path.join(root, f), (mt, mt))
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(tmp, "*"))
        )
        out = stream_dedup_exact(stream)
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName(qname)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {r.doc_id for r in spark.sql(f"SELECT doc_id FROM {qname}").collect()}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            spark.catalog.dropTempView(qname)
        except Exception:
            pass  # query never registered the sink view
    aug = spark.createDataFrame(
        [r for b in batches for r in b], schema
    )
    want = {r.doc_id for r in dedup_exact(aug).select("doc_id").collect()}
    n_docs = sum(len(b) for b in batches)
    return spark.createDataFrame(
        [(n_docs, len(got), n_docs - len(got), bool(got == want))],
        "n_docs long, n_unique long, n_dropped long, all_match boolean",
    )


_STREAM_DEDUP_ORACLE = """
    WITH d AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 200
    ), aug AS (
        SELECT doc_id, text FROM d
        UNION ALL
        SELECT doc_id + 10000 AS doc_id, text FROM d WHERE doc_id < 20
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique,
           CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_dropped,
           true AS all_match
    FROM aug
"""


def _stream_fuzzy_parity_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming FUZZY dedup, hash-oracled per doc (round 7): run the
    production incremental near-dup flow
    (streaming/fuzzy_dedup_stream.process_fuzzy_batch — in-batch
    fuzzy_dedup_pipeline, then cross-batch LSH lookup + Jaccard verify
    against the survivor store) over the FULL corpus as 3 deterministic
    micro-batches (batch = doc_id % 3), and emit every per-doc decision:
    (doc_id, status in {survivor, dup_in_batch, dup_of_earlier},
    matched = earliest verified earlier-batch survivor or null, batch).

    The oracle replays the whole thing exactly — per-batch LSH + cap +
    verify + CC fixpoint (one recursive CTE, batches propagate
    independently), then the greedy arrival-order cross-batch stages
    unrolled (f0 -> m1 -> f01 -> m2) including the verify_cap=256
    earliest-survivor window. This upgrades the streaming fuzzy surface
    from semantics-pinned-by-unit-test (tests/test_stream_fuzzy_dedup)
    to hash-green vs an external engine, same as the batch pipeline."""
    import shutil
    import tempfile

    _prep(spark)
    from tersets_spark.streaming.fuzzy_dedup_stream import (
        process_fuzzy_batch,
        read_decisions,
    )

    docs = _documents(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    tmp = tempfile.mkdtemp(prefix="tersets_stream_fuzzy_")
    try:
        for b in range(3):
            process_fuzzy_batch(
                docs.filter(F.col("doc_id") % 3 == b),
                tmp,
                b,
            )
        # sever lineage from the temp store before it is removed
        return (
            read_decisions(spark, tmp)
            .select(
                "doc_id",
                "status",
                F.col("matched").cast("long").alias("matched"),
                F.col("batch").cast("int").alias("batch"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


#: cross-batch stage replica: DISTINCT (earlier-final, new-survivor)
#: bucket-join pairs, verify_cap=256 earliest-first window, exact
#: shingle Jaccard >= 0.5, matched = earliest verified survivor.
def _stream_fuzzy_match_sql(new_bt: int, finals_cte: str) -> str:
    return f"""
    SELECT id_b AS doc_id, min(id_a) AS matched FROM (
        SELECT id_a, id_b FROM (
            SELECT id_a, id_b,
                   row_number() OVER (PARTITION BY id_b ORDER BY id_a) AS rk
            FROM (SELECT DISTINCT o.doc_id AS id_a, n.doc_id AS id_b
                  FROM buckets n
                  JOIN inb ni ON ni.doc_id = n.doc_id AND ni.bt = {new_bt}
                  JOIN buckets o ON o.band = n.band AND o.bucket = n.bucket
                  JOIN {finals_cte} f ON f.doc_id = o.doc_id)
        ) WHERE rk <= 256
    ) c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
    WHERE len(list_intersect(a.s, b.s))::DOUBLE
          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
    GROUP BY id_b"""


_STREAM_FUZZY_PARITY_ORACLE = f"""
    WITH RECURSIVE sh AS MATERIALIZED (
        SELECT doc_id, doc_id % 3 AS bt,
               list_distinct(list_transform(
                   generate_series(1, greatest(length(text) - 4, 1)),
                   i -> substring(text, i, 5))) AS s
        FROM documents
    ), buckets AS MATERIALIZED (
        SELECT doc_id, doc_id % 3 AS bt, band, bucket
        FROM ({_minhash_bands_sql()})
    ), capped AS (
        SELECT doc_id, bt, band, bucket FROM (
            SELECT *, count(*) OVER (PARTITION BY bt, band, bucket) AS c
            FROM buckets
        ) WHERE c <= 1024
    ), cand AS MATERIALIZED (
        SELECT DISTINCT a.bt, a.doc_id AS id_a, b.doc_id AS id_b
        FROM capped a JOIN capped b
          ON a.bt = b.bt AND a.band = b.band AND a.bucket = b.bucket
         AND a.doc_id < b.doc_id
    ), vpairs AS MATERIALIZED (
        SELECT c.bt, c.id_a, c.id_b
        FROM cand c JOIN sh a ON a.doc_id = c.id_a
                    JOIN sh b ON b.doc_id = c.id_b
        WHERE len(list_intersect(a.s, b.s))::DOUBLE
              / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
    ), edges AS (
        SELECT bt, id_a AS eu, id_b AS ev FROM vpairs
        UNION
        SELECT bt, id_b AS eu, id_a AS ev FROM vpairs
    ), reach(bt, v, l) AS (
        SELECT bt, eu, eu FROM (SELECT DISTINCT bt, eu FROM edges) t
        UNION
        SELECT e.bt, e.ev, r.l FROM reach r
        JOIN edges e ON e.eu = r.v AND e.bt = r.bt
    ), lbl AS MATERIALIZED (
        SELECT bt, v AS doc_id, min(l) AS cluster_id FROM reach GROUP BY bt, v
    ), inb AS MATERIALIZED (
        SELECT s.doc_id, s.bt FROM sh s LEFT JOIN lbl l ON l.doc_id = s.doc_id
        WHERE l.doc_id IS NULL OR l.cluster_id = s.doc_id
    ), f0 AS MATERIALIZED (
        SELECT doc_id FROM inb WHERE bt = 0
    ), m1 AS MATERIALIZED ({_stream_fuzzy_match_sql(1, "f0")}
    ), f01 AS MATERIALIZED (
        SELECT doc_id FROM f0
        UNION ALL
        SELECT doc_id FROM inb WHERE bt = 1
          AND doc_id NOT IN (SELECT doc_id FROM m1)
    ), m2 AS MATERIALIZED ({_stream_fuzzy_match_sql(2, "f01")}
    )
    SELECT d.doc_id,
           CASE WHEN l.doc_id IS NOT NULL AND l.cluster_id != d.doc_id
                     THEN 'dup_in_batch'
                WHEN m.matched IS NOT NULL THEN 'dup_of_earlier'
                ELSE 'survivor' END AS status,
           m.matched,
           CAST(d.doc_id % 3 AS INT) AS batch
    FROM documents d
    LEFT JOIN lbl l ON l.doc_id = d.doc_id
    LEFT JOIN (SELECT * FROM m1 UNION ALL SELECT * FROM m2) m
           ON m.doc_id = d.doc_id
"""


def _fuzzy_recompact_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-resolution compaction parity (round 8, r7 verdict #4; round 9
    adds the incremental path): run the streaming fuzzy-dedup flow over
    the corpus as 3 deterministic micro-batches (batch = doc_id % 3,
    dropped-texts store enabled), FULL-compact after the first two
    (:func:`recompact_fuzzy_store` — persists the cluster map + all-docs
    LSH index), stream the third batch, then
    :func:`recompact_fuzzy_store_incremental` — the O(Δ)-compute
    maintenance pass that re-resolves only components touched by the
    new batch via cluster contraction. Emits the post-compaction
    per-doc decisions, so BOTH compaction modes sit on this row's hash.

    The oracle is the GLOBAL pipeline replay (the same exact LSH +
    cap + verify + recursive-CTE CC fixpoint the fuzzy_corpus_shrink
    oracle uses): compaction's whole contract is that afterwards the
    store equals a single-batch run, so a hash match here proves both
    the heal and the incremental pass's exactness — the streaming
    greedy semantics being replaced are themselves oracled by
    stream_fuzzy_parity."""
    import shutil
    import tempfile

    _prep(spark)
    from tersets_spark.streaming.fuzzy_dedup_stream import (
        process_fuzzy_batch,
        read_decisions,
        recompact_fuzzy_store,
        recompact_fuzzy_store_incremental,
    )

    docs = _documents(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    tmp = tempfile.mkdtemp(prefix="tersets_fuzzy_recompact_")
    try:
        for b in range(3):
            if b == 2:
                recompact_fuzzy_store(spark, tmp)
            process_fuzzy_batch(
                docs.filter(F.col("doc_id") % 3 == b),
                tmp,
                b,
                keep_dropped_texts=True,
            )
        recompact_fuzzy_store_incremental(spark, tmp)
        # sever lineage from the temp store before it is removed
        return (
            read_decisions(spark, tmp)
            .select(
                "doc_id",
                "status",
                F.col("matched").cast("long").alias("matched"),
                F.col("batch").cast("int").alias("batch"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


#: post-compaction decisions == a single global batch run: the
#: full-corpus exact replay + min-label fixpoint, statuses collapsed to
#: survivor / dup_in_batch (matched null), history partition = the
#: highest seen batch id. Derived from the data — max(doc_id % 3) over
#: documents, matching the Spark side's max(batch) over the decisions
#: store — not hardcoded to 2 (r8 ADVICE: a fixture whose doc_ids skip
#: residue 2 would otherwise mismatch).
_FUZZY_RECOMPACT_ORACLE = f"""
    WITH RECURSIVE {_MINHASH_CTES}
    , edges AS (
        SELECT id_a AS eu, id_b AS ev FROM vpairs
        UNION
        SELECT id_b AS eu, id_a AS ev FROM vpairs
    ), reach(v, l) AS (
        SELECT eu, eu FROM (SELECT DISTINCT eu FROM edges) t
        UNION
        SELECT e.ev, r.l FROM reach r JOIN edges e ON e.eu = r.v
    ), lbl AS (
        SELECT v AS doc_id, min(l) AS cluster_id FROM reach GROUP BY v
    )
    SELECT d.doc_id,
           CASE WHEN l.doc_id IS NOT NULL AND l.doc_id != l.cluster_id
                THEN 'dup_in_batch' ELSE 'survivor' END AS status,
           CAST(NULL AS BIGINT) AS matched,
           CAST((SELECT max(doc_id % 3) FROM documents) AS INT) AS batch
    FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id
"""


def _embedding_neardup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicates via hyperplane LSH, HARD oracle:
    DuckDB replays the exact bucketing and cosine because both engines
    compute the dot products as the identical left fold (Spark
    ``aggregate(zip_with(...))`` vs DuckDB ``list_reduce(list_prepend(
    0.0, ...))`` — same IEEE op sequence, bit-identical sums, so the
    ``dot > 0`` sign bits and the threshold comparison agree exactly).
    The synthetic embeddings are near-random (top pair cosine ~0.51), so
    the gate uses threshold 0.4 / 4 planes to produce a non-trivial
    candidate set."""
    _prep(spark)
    from tersets_spark.operators.dedup import embedding_near_dups

    emb = _embeddings(spark, sf_dir).select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
    )
    out = embedding_near_dups(
        emb, n_planes=4, threshold=0.4, seed=42, dim=64, bucket_cap=4096
    )
    return out.select("id_a", "id_b", _trunc(F.col("cosine")).alias("cosine"))


def _embedding_neardup_oracle(
    n_planes: int = 4, threshold: float = 0.4, seed: int = 42,
    dim: int = 64, bucket_cap: int = 4096,
) -> str:
    """Bit-exact DuckDB replica of ``embedding_near_dups``: same plane
    matrix (same rng), same left-fold dot products, same bucket ints,
    same cap filter, same truncation."""
    import numpy as np

    planes = np.random.default_rng(seed).normal(size=(n_planes, dim))
    fold = (
        "list_reduce(list_prepend(0.0, list_transform(generate_series(1, {d}), "
        "i -> {a}[i] * {b}[i])), (acc, x) -> acc + x)"
    )
    plane_lits = [
        "[" + ", ".join(repr(float(x)) for x in planes[p]) + "]"
        for p in range(n_planes)
    ]
    bucket = " + ".join(
        f"(CASE WHEN {fold.format(d=dim, a='v', b=plane_lits[p])} > 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p in range(n_planes)
    )
    dot = fold.format(d=dim, a="l.v", b="r.v")
    norm = "sqrt(" + fold.format(d=dim, a="v", b="v") + ")"
    return f"""
        WITH emb AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), b0 AS (
            SELECT vec_id, v, {norm} AS nrm, {bucket} AS bucket FROM emb
        ), b AS (
            SELECT vec_id, v, nrm, bucket FROM (
                SELECT *, count(*) OVER (PARTITION BY bucket) AS bsz FROM b0
            ) WHERE bsz <= {bucket_cap}
        )
        SELECT id_a, id_b, floor(cosine * 1e4) / 1e4 AS cosine FROM (
            SELECT l.vec_id AS id_a, r.vec_id AS id_b,
                   {dot} / (l.nrm * r.nrm) AS cosine
            FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
        ) WHERE cosine >= {threshold}
    """


def _media_features_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal real-decode gate: synthesize REAL media payloads with
    the engine's pure-numpy encoders (WAV/PPM/BMP/PPM-stream, 64 rows
    deterministic), decode + embed them on executors through the
    mapInPandas Arrow path, and emit per-kind counts plus all-true
    quality columns (every payload decoded, every feature unit-norm).
    DuckDB can't decode media, so the oracle pins the deterministic
    counts and expects the gates to hold."""
    _prep(spark)
    from tersets_spark.operators.multimodal import extract_features, synth_real_media

    media = synth_real_media(spark, 64)
    feats = extract_features(media, decode_backend="real", on_error="null")
    norm = F.sqrt(
        F.aggregate(
            F.transform("feature", lambda x: x.cast("double") * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    per = feats.select(
        "kind",
        (F.col("feature").isNotNull() & F.col("err").isNull()).alias("ok"),
        F.when(F.col("feature").isNotNull(), F.abs(norm - 1.0) < 1e-4)
        .otherwise(F.lit(False))
        .alias("unit"),
    )
    return (
        per.groupBy("kind")
        .agg(
            F.count("*").cast("long").alias("n_media"),
            (F.min(F.col("ok").cast("int")) == 1).alias("all_decoded"),
            (F.min(F.col("unit").cast("int")) == 1).alias("all_unit_norm"),
        )
        .orderBy("kind")
    )


_MEDIA_FEATURES_ORACLE = """
    SELECT * FROM (VALUES
        ('audio', CAST(16 AS BIGINT), true, true),
        ('image', CAST(32 AS BIGINT), true, true),
        ('video', CAST(16 AS BIGINT), true, true)
    ) AS t(kind, n_media, all_decoded, all_unit_norm)
"""


def _media_framesample_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan as a driver row (round 5 — the last
    media verb without one): the pure-Catalyst explode that feeds a
    frame decoder, one row per (media_id, frame_ts_ms) at a 1 s stride
    over the deterministic real-media table's videos (id % 4 == 3,
    duration 3000 ms -> ts 0/1000/2000). Fully SQL-derivable, so the
    oracle replays it exactly."""
    _prep(spark)
    from tersets_spark.operators.multimodal import frame_sample_plan, synth_real_media

    media = synth_real_media(spark, 64)
    return frame_sample_plan(media, every_ms=1000).select(
        "media_id",
        F.col("frame_ts_ms").cast("long").alias("frame_ts_ms"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
    )


_MEDIA_FRAMESAMPLE_ORACLE = """
    SELECT printf('m_%08d', v.i) AS media_id,
           CAST(ts.t AS BIGINT) AS frame_ts_ms,
           CAST(16 AS BIGINT) AS width,
           CAST(12 AS BIGINT) AS height
    FROM generate_series(3, 63, 4) AS v(i),
         generate_series(0, 2999, 1000) AS ts(t)
"""


def _media_resize_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize gate: box-average downsample (factor 2) every
    image/video payload of the deterministic real-media table and gate
    on (a) every row resized without error, (b) output dims exactly
    halved, (c) the frame-set mean preserved through the box average
    (exact up to float64 rounding — the defining property of an
    area-average resize). DuckDB can't decode media, so the oracle pins
    the deterministic per-kind counts and expects the gates to hold."""
    _prep(spark)
    from tersets_spark.operators.multimodal import resize_media, synth_real_media

    media = synth_real_media(spark, 64).filter(F.col("kind").isin("image", "video"))
    rs = resize_media(media, factor=2, on_error="null")
    per = rs.select(
        "kind",
        (F.col("err").isNull() & F.col("payload").isNotNull()).alias("ok"),
        ((F.col("out_w") * 2 == F.col("in_w")) & (F.col("out_h") * 2 == F.col("in_h"))).alias("halved"),
        F.when(
            F.col("mean_in").isNotNull(),
            F.abs(F.col("mean_in") - F.col("mean_out")) < 1e-6,
        ).otherwise(F.lit(False)).alias("mean_ok"),
    )
    return (
        per.groupBy("kind")
        .agg(
            F.count("*").cast("long").alias("n_media"),
            (F.min(F.col("ok").cast("int")) == 1).alias("all_resized"),
            (F.min(F.col("halved").cast("int")) == 1).alias("all_dims_halved"),
            (F.min(F.col("mean_ok").cast("int")) == 1).alias("all_mean_preserved"),
        )
        .orderBy("kind")
    )


_MEDIA_RESIZE_ORACLE = """
    SELECT * FROM (VALUES
        ('image', CAST(32 AS BIGINT), true, true, true),
        ('video', CAST(16 AS BIGINT), true, true, true)
    ) AS t(kind, n_media, all_resized, all_dims_halved, all_mean_preserved)
"""


def _media_resample_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio analog of the resize gate: box-average decimate (factor 4)
    every WAV payload of the deterministic real-media table and gate on
    per-row success, exact 4x sample-count division, and normalized-mean
    preservation through the window average. The oracle pins the
    deterministic count (16 audio rows of 64) and expects the gates."""
    _prep(spark)
    from tersets_spark.operators.multimodal import resample_audio, synth_real_media

    media = synth_real_media(spark, 64).filter(F.col("kind") == "audio")
    rs = resample_audio(media, factor=4, on_error="null")
    per = rs.select(
        "kind",
        (F.col("err").isNull() & F.col("payload").isNotNull()).alias("ok"),
        (F.col("n_out") * 4 == F.col("n_in")).alias("quartered"),
        F.when(
            F.col("mean_in").isNotNull(),
            F.abs(F.col("mean_in") - F.col("mean_out")) < 1e-9,
        ).otherwise(F.lit(False)).alias("mean_ok"),
    )
    return (
        per.groupBy("kind")
        .agg(
            F.count("*").cast("long").alias("n_media"),
            (F.min(F.col("ok").cast("int")) == 1).alias("all_resampled"),
            (F.min(F.col("quartered").cast("int")) == 1).alias("all_quartered"),
            (F.min(F.col("mean_ok").cast("int")) == 1).alias("all_mean_preserved"),
        )
        .orderBy("kind")
    )


_MEDIA_RESAMPLE_ORACLE = """
    SELECT * FROM (VALUES
        ('audio', CAST(16 AS BIGINT), true, true, true)
    ) AS t(kind, n_media, all_resampled, all_quartered, all_mean_preserved)
"""


# ----------------------------------------------------------------- contract

def entry(spark: SparkSession) -> DataFrame:
    """Flagship pipeline on sf0.001: tokenize -> compress (delta) ->
    verify round-trip -> tier rollups -> per-source summary."""
    _prep(spark)
    sf_dir = "/root/testdata/sf0.001"
    from tersets_spark.operators.compress import roundtrip_verify
    from tersets_spark.operators.rollup import rollup_tokens_base

    toks = _char_tokens(spark, sf_dir)
    rt = roundtrip_verify(toks, Method.BitPackedDeltaEncoding)
    roll = rollup_tokens_base(toks)
    summary = (
        rt.agg(
            F.count("*").alias("n_docs"),
            F.min(F.col("roundtrip_ok").cast("int")).alias("all_roundtrip_ok"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("compressed_bytes").alias("compressed_bytes"),
        )
        .crossJoin(
            roll.agg(
                F.count("*").alias("n_rollup_rows"),
                F.round(F.sum("vsum") / F.sum("vcount"), 4).alias("global_mean_token"),
            )
        )
    )
    return summary


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # round 8 (r7 verdict #2): the three per-tier rollup rows
        # consolidated into ONE single-exchange catalog row (per-tier
        # variants live on as x_rollup_events_* extras) — frees a slot
        # for the streaming-fuzzy replay oracle + one banked
        "rollup_events_catalog": _rollup_events_catalog_query,
        "gapfill_locf_1h": _gapfill_locf_query,
        "gapfill_null_1h": _gapfill_null_query,
        "gapfill_linear_1d": _gapfill_linear_query,
        "retention_split": _retention_split_query,
        "rollup_events_by_type_1d": _rollup_events_by_type_query,
        "latest_wins_merge": _latest_wins_query,
        "tier_prune_1m": _tier_prune_query,
        "tier_compact_roundtrip": _tier_compact_roundtrip_query,
        "roundtrip_delta": _roundtrip_query(Method.BitPackedDeltaEncoding),
        "roundtrip_chimp64": _roundtrip_query(Method.Chimp64),
        "roundtrip_chimp128": _roundtrip_query(Method.Chimp128),
        "roundtrip_rle": _roundtrip_query(Method.RunLengthEncoding),
        "roundtrip_elf": _roundtrip_query(Method.Elf),
        # round 6: one consolidated row for the 4 float codecs + the
        # timestamp-delta leg (was 5 rows; frees budget for
        # dedup_fuzzy_groups / extract_edit_rebuild)
        "float_roundtrip_catalog": _float_roundtrip_catalog_query,
        "tier_rollup_words_1m": _tier_rollup_tokens_query(_word_tokens),
        "tier_rollup_chars_1m": _tier_rollup_tokens_query(_char_tokens),
        "fused_tier_rollup_1m": _fused_tier_rollup_query,
        "dedup_exact": _dedup_exact_query,
        "minhash_jaccard_dups": minhash_pairs,
        "ngram_jaccard_verify": _ngram_jaccard_query,
        "dedup_fuzzy_groups": _dedup_fuzzy_groups_query,
        "fuzzy_shrink_by_source": _fuzzy_shrink_query,
        # round 7 (r6 verdict #1): the production flow end-to-end over
        # the FULL corpus, exact-replay oracle (50th and last slot)
        "fuzzy_corpus_shrink": _fuzzy_corpus_shrink_query,
        "textstats": _textstats_query,
        "textprofile": _textprofile_query,
        "ann_topk": _ann_topk_query,
        "compression_summary": _compression_summary_query,
        "simhash_candidates": _simhash_query,
        "lsh_ann_topk": _lsh_ann_query,
        "lsh_ann_recall": _lsh_recall_query,
        "ivf_ann_topk": _ivf_topk_query,
        "ivf_ann_recall": _ivf_recall_query,
        "ivf_index_stats": _ivf_index_stats_query,
        "lineage_status": _lineage_status_query,
        "media_features_real": _media_features_query,
        "media_framesample": _media_framesample_query,
        "media_resize_real": _media_resize_query,
        "media_resample_real": _media_resample_query,
        "embedding_near_dups": _embedding_neardup_query,
        "stream_compact_parity": _stream_compact_query,
        "stream_rollup_parity": _stream_rollup_parity_query,
        "stream_dedup_parity": _stream_dedup_parity_query,
        # round 8 (r7 verdict #2): the streaming fuzzy-dedup replay
        # oracle (full 3-micro-batch DuckDB replay incl. cross-batch
        # greedy stages) promoted from extras into the driver budget
        "stream_fuzzy_parity": _stream_fuzzy_parity_query,
        # round 8 (r7 verdict #4): the periodic re-resolution compaction
        # — post-compaction store must equal a global batch run (50th
        # and last slot)
        "fuzzy_recompact_parity": _fuzzy_recompact_query,
        # whole-catalog gates (round-3 verdict #1: every method code
        # 0-26 must fit inside the driver's 50-row CORRECTNESS budget —
        # the per-method rows live on in extra_queries() and pytest)
        "bound_catalog": _catalog_query(_BOUND_CATALOG),
        "invariant_catalog": _catalog_query(_INVARIANT_CATALOG),
        "roundtrip_uncompressed": _roundtrip_query(Method.Uncompressed),
        "extract_rebuild_identity": _extract_rebuild_query,
        "extract_edit_rebuild": _extract_edit_rebuild_query,
    }


def extra_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Per-method debug granularity for the consolidated catalog rows —
    NOT driver-visible (the driver snapshots only the first 50
    ``queries()`` entries); run via
    ``python tools/check_oracle.py <sf_dir> --extras [query ...]``."""
    out = {}
    for lbl, code, cfg, chk in _BOUND_CATALOG:
        out[f"x_bound_{lbl}"] = (
            _bound_query(Method(code), cfg)
            if chk == "error_bound"
            else _invariant_query(Method(code), cfg, chk)
        )
    for lbl, code, cfg, chk in _INVARIANT_CATALOG:
        out[f"x_inv_{lbl}"] = _invariant_query(Method(code), cfg, chk)
    # per-tier debug granularity for rollup_events_catalog (r8)
    out["x_rollup_events_1m"] = _rollup_events_query("1m")
    out["x_rollup_events_1h"] = _rollup_events_query("1h")
    out["x_rollup_events_1d"] = _rollup_events_query("1d")
    return out


def extra_oracle_sql() -> dict[str, str]:
    out = {name: _BOUND_ORACLE for name in extra_queries()}
    out["x_rollup_events_1m"] = _rollup_events_oracle(60)
    out["x_rollup_events_1h"] = _rollup_events_oracle(3600)
    out["x_rollup_events_1d"] = _rollup_events_oracle(86400)
    return out


def oracle_sql() -> dict[str, str]:
    return {
        "rollup_events_catalog": _rollup_events_catalog_oracle(),
        "gapfill_locf_1h": _GAPFILL_LOCF_ORACLE,
        "gapfill_null_1h": _GAPFILL_NULL_ORACLE,
        "gapfill_linear_1d": _GAPFILL_LINEAR_ORACLE,
        "retention_split": _RETENTION_SPLIT_ORACLE,
        "rollup_events_by_type_1d": _ROLLUP_BY_TYPE_ORACLE,
        "latest_wins_merge": _LATEST_WINS_ORACLE,
        "tier_prune_1m": _TIER_PRUNE_ORACLE,
        "tier_compact_roundtrip": _TIER_COMPACT_ORACLE,
        "roundtrip_delta": _ROUNDTRIP_ORACLE,
        "roundtrip_chimp64": _ROUNDTRIP_ORACLE,
        "roundtrip_chimp128": _ROUNDTRIP_ORACLE,
        "roundtrip_rle": _ROUNDTRIP_ORACLE,
        "roundtrip_elf": _ROUNDTRIP_ORACLE,
        "float_roundtrip_catalog": _FLOAT_CATALOG_ORACLE,
        "tier_rollup_words_1m": _tier_rollup_tokens_oracle(60, _WORD_TOKENS_ORACLE),
        "tier_rollup_chars_1m": _tier_rollup_tokens_oracle(60, _CHAR_TOKENS_ORACLE),
        "fused_tier_rollup_1m": _tier_rollup_tokens_oracle(60, _CHAR_TOKENS_ORACLE),
        "dedup_exact": _DEDUP_EXACT_ORACLE,
        "minhash_jaccard_dups": _MINHASH_JACCARD_ORACLE,
        "ngram_jaccard_verify": _NGRAM_JACCARD_ORACLE,
        "dedup_fuzzy_groups": _DEDUP_FUZZY_GROUPS_ORACLE,
        "fuzzy_shrink_by_source": _FUZZY_SHRINK_ORACLE,
        "fuzzy_corpus_shrink": _FUZZY_CORPUS_SHRINK_ORACLE,
        "textstats": _TEXTSTATS_ORACLE,
        "textprofile": _TEXTPROFILE_ORACLE,
        "ann_topk": _ANN_TOPK_ORACLE,
        "bound_catalog": _catalog_oracle(_BOUND_CATALOG),
        "invariant_catalog": _catalog_oracle(_INVARIANT_CATALOG),
        "roundtrip_uncompressed": _ROUNDTRIP_ORACLE,
        "extract_rebuild_identity": _EXTRACT_REBUILD_ORACLE,
        "extract_edit_rebuild": _EXTRACT_EDIT_ORACLE,
        "simhash_candidates": _simhash_oracle(12, 16),
        "ivf_ann_recall": _IVF_RECALL_ORACLE,
        "lsh_ann_recall": _IVF_RECALL_ORACLE,  # same all-true gate shape
        "lineage_status": _LINEAGE_STATUS_ORACLE,
        "compression_summary": _COMPRESSION_SUMMARY_ORACLE,
        "media_features_real": _MEDIA_FEATURES_ORACLE,
        "media_framesample": _MEDIA_FRAMESAMPLE_ORACLE,
        "media_resize_real": _MEDIA_RESIZE_ORACLE,
        "media_resample_real": _MEDIA_RESAMPLE_ORACLE,
        "embedding_near_dups": _embedding_neardup_oracle(),
        "stream_compact_parity": _STREAM_COMPACT_ORACLE,
        "stream_rollup_parity": _STREAM_ROLLUP_PARITY_ORACLE,
        "stream_dedup_parity": _STREAM_DEDUP_ORACLE,
        "stream_fuzzy_parity": _STREAM_FUZZY_PARITY_ORACLE,
        "fuzzy_recompact_parity": _FUZZY_RECOMPACT_ORACLE,
        "lsh_ann_topk": _lsh_ann_oracle(),
        "ivf_index_stats": _IVF_INDEX_STATS_ORACLE,
        # ivf_ann_topk: _kmeans is SQL-exact (sequential folds, RNG-free
        # init), so DuckDB trains the identical centroids and replays
        # the whole pipeline — the last rows-only row is now hard
        "ivf_ann_topk": _ivf_ann_oracle(),
    }
