"""Per-layer metrics for the traced run (``--trace 1``).

``compact_job`` reads them from the spans and event logs of its traced
submissions (in-situ). ``fused_rollup`` reads the event log of its
repetitions, runs isolated noop probes of each layer on the same cached
tokens, and runs the ``fuzzy_stream`` flow for the dedup and stream
layers. Every traced run prints every metric; a layer its workload does
not exercise reads 0 and is named in a note.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pyarrow.dataset as ds

import spans as tr
from common import CORES, ROOT, median, p75
from compact_job import RETENTION

#: per-layer metric name -> unit, as BENCHMARK.json declares them
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    UNITS = {m["name"]: m["unit"] for m in json.load(_fh)["per_layer"]}
STREAM_BATCHES = 4  # micro-batches of the traced fuzzy_stream flow


def noop(df) -> float:
    t = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t


def aged_share(n_tok: np.ndarray) -> float:
    return float(np.maximum(n_tok - RETENTION, 0).sum() / n_tok.sum())


# ---- compact_job: in-situ ------------------------------------------------

def compact_layers(ctx: dict) -> dict:
    t = ctx["traced"]
    spans = json.load(open(t["full_spans"]))
    log = tr.read_eventlog(t["full_log"])
    main = next(s for s in spans if s["name"] == "compact.main")
    writes = tr.top_level(spans, "write")
    tier_w = [w for w in writes if "/tier_" in w["key"]]
    scans = set()
    for w in tier_w:
        for j in tr.jobs_in(log, w["start"], w["end"]):
            if os.path.basename(ctx["tokens_dir"]) in log["sql"].get((j["app"], j["sql"]), ""):
                scans.add((j["app"], j["sql"]))
    run = next(s for s in spans if s["name"] == "run_with_lineage")
    blocks_w = tr.total_s(w for w in writes if w["key"].endswith("/blocks"))
    files = t["io_files"]
    out = {
        "rollup.tiers_s": tr.total_s(tier_w),
        "rollup.input_scans": len(scans),
        "retention.aged_token_share": aged_share(ctx["n_tok"]),
        "retention.raw_hot_s": tr.total_s(w for w in writes if w["key"].endswith("/raw_hot")),
        "lineage.run_s": run["end"] - run["start"],
        "lineage.blocks_write_s": blocks_w,
        "lineage.bookkeeping_s": (run["end"] - run["start"]) - blocks_w,
        "lineage.spark_jobs": len(tr.jobs_in(log, run["start"], run["end"])),
        "lineage.buckets_replayed": t["buckets_replayed"],
        "io.write_s": tr.total_s(writes),
        "io.bytes_written": sum(size for size, _ in files.values()),
        "io.files_written": sum(p.endswith(".parquet") for p in files),
        "driver.collect_s": tr.total_s(tr.top_level(spans, "collect") + tr.top_level(spans, "count")),
    }
    out.update(tr.engine_metrics(log, [(main["start"], main["end"])], CORES))
    return out


# ---- fused_rollup: event log of the repetitions, probes, fuzzy flow ------

def kernel_probe(tokens_dir: str, max_tokens: int = 2_000_000) -> dict:
    """Single-core driver calls of the batch codecs at CHUNK=4096 on a
    fixed prefix of the table's tokens (median of 3 calls each)."""
    from tersets_spark.kernels.batch import compress_batch, decompress_batch
    from tersets_spark.methods import Method
    from tersets_spark.operators.compress import CHUNK

    arrays, n = [], 0
    for arr in ds.dataset(tokens_dir, format="parquet").to_table(columns=["tokens"]).column(0).to_pylist():
        arrays.append(np.asarray(arr, dtype=np.float64))
        n += len(arr)
        if n >= max_tokens:
            break
    flat = np.concatenate(arrays)
    offs = [0]
    for a in arrays:
        offs += list(range(offs[-1] + CHUNK, offs[-1] + a.size, CHUNK)) + [offs[-1] + a.size]
    offs = np.asarray(offs, dtype=np.int64)
    out = {}
    for name, method in (("delta", Method.BitPackedDeltaEncoding), ("chimp64", Method.Chimp64)):
        enc, dec = [], []
        for _ in range(3):
            t = time.perf_counter()
            blobs = compress_batch(flat, offs, method)
            enc.append(time.perf_counter() - t)
            t = time.perf_counter()
            decompress_batch(blobs)
            dec.append(time.perf_counter() - t)
        out[f"kernels.{name}_encode_mtok_s"] = flat.size / median(enc) / 1e6
        out[f"kernels.{name}_decode_mtok_s"] = flat.size / median(dec) / 1e6
    return out


def dedup_probe(spark, batch_file: str) -> dict:
    """Noop actions of the in-batch dedup stages on one batch's docs,
    with process_fuzzy_batch's parameters."""
    from tersets_spark.operators.dedup import (
        minhash_lsh_candidates, ngram_jaccard_pairs, resolve_duplicate_groups)

    docs = spark.read.parquet(batch_file).persist()
    docs.count()
    cands = minhash_lsh_candidates(docs, n_hashes=30, bands=5, bucket_cap=1024)
    out = {"dedup.lsh_candidates_s": noop(cands)}
    cands = cands.persist()
    n_cand = cands.count()
    verified = ngram_jaccard_pairs(docs, cands, threshold=0.5)
    out["dedup.verify_s"] = noop(verified)
    verified = verified.persist()
    n_ver = verified.count()
    out["dedup.cc_s"] = noop(resolve_duplicate_groups(verified))
    out["dedup.candidate_pairs"] = n_cand
    out["dedup.verified_share"] = n_ver / n_cand if n_cand else 0.0
    for df in (verified, cands, docs):
        df.unpersist()
    return out


def fused_probes(spark, toks, args, checks, rdir: str, ctx: dict) -> dict:
    import fuzzy_stream
    import fused_rollup
    from tersets_spark.methods import Method
    from tersets_spark.operators.compress import compress_blocks
    from tersets_spark.operators.pipeline import fused_compress_rollup
    from tersets_spark.operators.retention import split_aged
    from tersets_spark.operators.rollup import rollup_tokens_base

    windows = ctx["reps"]
    log_dir = os.path.join(rdir, "ev")
    out = {"retention.aged_token_share": aged_share(ctx["n_tok"])}
    out.update(kernel_probe(ctx["tokens_dir"]))
    pair = toks.select("doc_id", "tokens")
    out["arrow.map_in_arrow_s"] = noop(pair.mapInArrow(lambda it: it, pair.schema))
    out["arrow.map_in_pandas_s"] = noop(pair.mapInPandas(lambda it: it, pair.schema))
    out["pipeline.fused_s"] = noop(fused_compress_rollup(toks, Method.BitPackedDeltaEncoding))
    s0 = time.time()
    out["pipeline.summary_s"], _ = fused_rollup.repetition(toks)
    s1 = time.time()
    out["pipeline.exchange_s"] = out["pipeline.summary_s"] - out["pipeline.fused_s"]
    out["rollup.base_s"] = noop(rollup_tokens_base(toks))
    _, aged = split_aged(toks, RETENTION)
    out["compress.blocks_s"] = noop(compress_blocks(aged.select("doc_id", "tokens"),
                                                    Method.BitPackedDeltaEncoding))

    tracer = tr.Tracer()
    tracer.install_spark()
    fuzzy_stream.warm_up(spark, args.seed, rdir, checks, n_batches=1)
    r = fuzzy_stream.flow(spark, args.seed, rdir, checks, tracer=tracer, n_batches=STREAM_BATCHES)
    out.update(dedup_probe(spark, fuzzy_stream.batch_files(r["corpus"])[0]))
    spark.stop()  # flushes the event log
    log = tr.read_eventlog(log_dir)
    out["pipeline.shuffle_bytes"] = tr.shuffle_bytes(log, s0, s1)
    engine = tr.engine_metrics(log, windows, CORES)
    out.update({k: v if k == "spark.core_busy_share" else v / len(windows)  # per repetition
                for k, v in engine.items()})

    spans = tracer.spans
    batches = [s for s in spans if s["name"] == "process_fuzzy_batch"]
    writes = tr.top_level(spans, "write")
    out.update({
        "stream.docs_per_s": fuzzy_stream.BATCH_DOCS * STREAM_BATCHES / r["drain_s"],
        "stream.batch_p50_s": median(r["lat"]),
        "stream.batch_p75_s": p75(r["lat"]),
        "stream.batch_write_s": median(
            tr.total_s(w for w in writes if b["start"] <= w["start"] <= b["end"]) for b in batches),
        "stream.batch_spark_jobs": median(len(tr.jobs_in(log, b["start"], b["end"])) for b in batches),
        "stream.store_bytes": r["store_bytes"],
        "stream.dup_of_earlier": r["dup_of_earlier"],
        "stream.recompact_s": r["recompact_s"],
        "stream.recompact_incr_s": r["recompact_incr_s"],
        "stream.recompact_bytes_rewritten": r["full_rw"][1],
        "stream.recompact_incr_bytes_rewritten": r["incr_rw"][1],
        "stream.recompact_incr_files_rewritten": r["incr_rw"][0],
        "stream.recompact_incr_candidate_pairs": r["incr"].get("n_candidate_pairs", 0),
    })
    ctx["fuzzy_notes"] = r["notes"]
    return out


def collect(workload: str, metrics: dict, ctx: dict, untraced: dict | None):
    """Every per-layer metric (0 where this workload does not exercise
    the layer) and notes: what read 0, and the tracing overhead."""
    if workload == "compact_job":
        values, where = compact_layers(ctx), "fused_rollup"
    else:
        values, where = ctx["layers"], "compact_job"
    notes = list(ctx.get("fuzzy_notes", []))
    missing = [k for k in UNITS if k not in values]
    if missing:
        notes.append(f"not exercised by {workload}, read 0 (traced on {where}): {', '.join(missing)}")
    if untraced:
        for k, (v, _u) in metrics.items():
            if k in untraced and untraced[k]:
                notes.append(f"tracing overhead: {k} traced {v:.6g} vs untraced {untraced[k]:.6g} "
                             f"({(v / untraced[k] - 1) * 100:+.1f} %)")
    else:
        notes.append("tracing overhead: no untraced run of this workload and seed in this checkout yet")
    for k, (v, u) in metrics.items():
        notes.append(f"end-to-end under tracing: {k} = {v:.6g} {u}")
    return {k: (float(values.get(k, 0.0)), u) for k, u in UNITS.items()}, notes
