"""Workload ``fused_rollup``: bench.py's headline operation,
``flagship_summary(fused_compress_rollup(tokens, BitPackedDeltaEncoding)).collect()``,
repeated over one token table cached in memory.

``resume_s`` is the repetition that follows a loss of the cached table:
the table is unpersisted and re-persisted, so that repetition re-reads
the parquet source and refills the cache, as Spark recovers lost cached
blocks by recomputing them from lineage. The two kinds of repetition
alternate, so both medians sample the same stretch of host time.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.dataset as ds

import inputs
from common import CORES, QUIET, WORK, median, tree_bytes
from tersets_spark.operators.rollup import TIERS

N_DOCS = 2000
N_FILES = 8 * CORES
WARM_REPS = 3
MIN_REPS = 4  # of each kind
#: flagship_summary's grouping id of each rollup tier
GIDS = {"1m": 0, "1h": 1, "1d": 3}


def repetition(toks) -> tuple[float, dict]:
    from tersets_spark.methods import Method
    from tersets_spark.operators.pipeline import flagship_summary, fused_compress_rollup

    t = time.time()
    rows = flagship_summary(fused_compress_rollup(toks, Method.BitPackedDeltaEncoding)).collect()
    return time.time() - t, {r["gid"]: r.asDict() for r in rows}


def check_summary(checks, res: dict, n_tok: np.ndarray, tag: str) -> None:
    total = res.get(15, {})
    checks.check(f"fused.{tag}.all_ok", total.get("all_ok") == 1)
    checks.check(f"fused.{tag}.n_values", total.get("n_values") == int(n_tok.sum()))
    for name, gid in GIDS.items():
        width = TIERS[name]
        want = int(((n_tok + width - 1) // width).sum())
        got = res.get(gid, {}).get("rows")
        checks.check(f"fused.{tag}.tier_{name}_rows", got == want, f"{got} != {want}")


def load(spark, tokens_dir: str):
    toks = spark.read.parquet(tokens_dir).select("doc_id", "tokens", "n_tok").persist()
    toks.count()
    return toks


def run(args, t0: float, checks, rdir: str, tracer_mode: bool):
    from tersets_spark.session import get_spark

    g = time.time()
    tokens_dir = inputs.token_table(os.path.join(WORK, "inputs"), args.seed, N_DOCS, N_FILES)
    gen_s = time.time() - g
    n_tok = np.asarray(ds.dataset(tokens_dir, format="parquet").to_table(columns=["n_tok"]).column(0),
                       dtype=np.int64)
    total = int(n_tok.sum())

    conf = {}
    if tracer_mode:
        from spans import eventlog_conf

        conf = eventlog_conf(os.path.join(rdir, "ev"))
    spark = get_spark("perfbench_fused_rollup", cores=CORES, extra_conf={**QUIET, **conf})
    ctx = {"tokens_dir": tokens_dir, "n_tok": n_tok}
    try:
        toks = load(spark, tokens_dir)
        for _ in range(WARM_REPS):
            checks.op(True)
            repetition(toks)
        setup_s = time.time() - t0 - gen_s

        walls, resumes, windows, blob_bytes = [], [], [], set()
        m0 = time.time()
        while True:
            s = time.time()
            wall, res = repetition(toks)
            windows.append((s, time.time()))
            checks.op(True)
            check_summary(checks, res, n_tok, "rep")
            walls.append(wall)
            blob_bytes.add(res[15]["bytes"])
            toks.unpersist(blocking=True)
            toks = toks.persist()
            wall, res = repetition(toks)
            checks.op(True)
            check_summary(checks, res, n_tok, "resume")
            resumes.append(wall)
            elapsed = time.time() - m0
            if len(walls) >= MIN_REPS and elapsed + median(walls) + median(resumes) > args.seconds:
                break
        ctx["reps"] = windows
        checks.check("fused.blob_bytes_repeat", len(blob_bytes) == 1, str(sorted(blob_bytes)))
        if tracer_mode:
            import layers

            ctx["layers"] = layers.fused_probes(spark, toks, args, checks, rdir, ctx)
    finally:
        spark.stop()

    wall = median(walls)
    metrics = {
        "setup_s": (setup_s, "s"),
        "tokens_per_s": (total / wall, "tokens/s"),
        "resume_s": (median(resumes), "s"),
        "bytes_per_raw_byte": (blob_bytes.pop() / (total * 4), "ratio"),
    }
    samples = {"tokens_per_s": len(walls), "resume_s": len(resumes)}
    notes = [f"input: {n_tok.size} docs, {total} tokens, {tree_bytes(tokens_dir)} parquet bytes "
             f"in {N_FILES} files",
             f"input generation {gen_s:.2f} s (outside setup_s)",
             f"repetitions {[round(w, 3) for w in walls]} s; after cache loss "
             f"{[round(w, 3) for w in resumes]} s"]
    return metrics, samples, notes, ctx
