"""The ``fuzzy_stream`` flow: a seeded near-duplicate corpus through
``fuzzy_dedup_stream`` (file source, ``availableNow``, one file per
micro-batch, ``keep_dropped_texts=True``), then ``recompact_fuzzy_store``,
one more micro-batch and ``recompact_fuzzy_store_incremental``.

It runs as its own workload (``--workload fuzzy_stream``) and inside
the traced ``fused_rollup`` run, which reports its dedup and stream
layers.
"""

from __future__ import annotations

import importlib
import os
import shutil
import time

import pyarrow.dataset as ds

import inputs
from common import CORES, QUIET, WORK, median, rewritten, tree_bytes, tree_files

BATCH_DOCS = 100
N_BATCHES = 5  # the timed backlog
WARM_BATCHES = 2
SCHEMA = "doc_id long, text string"


def stream_module():
    """``tersets_spark.streaming.fuzzy_dedup_stream`` (the package
    re-exports a function of the same name, which shadows the module)."""
    return importlib.import_module("tersets_spark.streaming.fuzzy_dedup_stream")


def batch_files(corpus: str) -> list[str]:
    d = os.path.join(corpus, "batches")
    return sorted(os.path.join(d, f) for f in os.listdir(d))


def drain(spark, src: str, store: str, ckpt: str, files: list[str]) -> tuple[float, list[float]]:
    """Copy ``files`` into the source dir (oldest first) and run the
    query from ``ckpt`` until the backlog is drained. Returns the wall
    time and each micro-batch's trigger duration as Spark reports it."""
    os.makedirs(src, exist_ok=True)
    now = time.time()
    for i, f in enumerate(files):
        dst = os.path.join(src, os.path.basename(f))
        shutil.copyfile(f, dst)
        os.utime(dst, (now - len(files) + i,) * 2)
    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    t = time.time()
    q = (stream_module().fuzzy_dedup_stream(stream, store, keep_dropped_texts=True)
         .option("checkpointLocation", ckpt).trigger(availableNow=True).start())
    q.awaitTermination()
    wall = time.time() - t
    lat = [p["durationMs"]["triggerExecution"] / 1000 for p in q.recentProgress
           if p["numInputRows"] > 0]
    return wall, lat


def decisions(store: str) -> dict:
    return ds.dataset(os.path.join(store, "decisions"), format="parquet",
                      partitioning="hive").to_table(columns=["doc_id", "status"]).to_pydict()


def warm_up(spark, seed: int, rdir: str, checks, n_batches: int = WARM_BATCHES) -> None:
    """The same query shape over a separate corpus and store."""
    warm, _ = inputs.text_corpus(os.path.join(WORK, "inputs"), seed + 1_000_003, n_batches,
                                 BATCH_DOCS, first_id=10**9)
    _, lat = drain(spark, os.path.join(rdir, "warm-src"), os.path.join(rdir, "warm-store"),
                   os.path.join(rdir, "warm-ckpt"), batch_files(warm))
    checks.op(len(lat) == n_batches, "warm-up micro-batches")


def flow(spark, seed: int, rdir: str, checks, tracer=None, n_batches: int = N_BATCHES) -> dict:
    """Drain the backlog, compact, one more batch, compact incrementally,
    then check the store. Returns the measurements."""
    fds = stream_module()
    corpus, truth = inputs.text_corpus(os.path.join(WORK, "inputs"), seed, n_batches + 1, BATCH_DOCS)
    files = batch_files(corpus)
    if tracer:
        tracer.wrap(fds, "process_fuzzy_batch", "process_fuzzy_batch")
        tracer.wrap(fds, "recompact_fuzzy_store", "recompact_fuzzy_store")
        tracer.wrap(fds, "recompact_fuzzy_store_incremental", "recompact_fuzzy_store_incremental")
    src, store, ckpt = (os.path.join(rdir, n) for n in ("src", "store", "ckpt"))
    r = {"truth": truth, "corpus": corpus}
    r["drain_s"], r["lat"] = drain(spark, src, store, ckpt, files[:n_batches])
    checks.op(len(r["lat"]) == n_batches, f"{len(r['lat'])} micro-batches for {n_batches} files")
    dec = decisions(store)
    r["store_bytes"] = tree_bytes(store)

    snap = tree_files(store)
    t = time.time()
    r["full"] = fds.recompact_fuzzy_store(spark, store)
    r["recompact_s"] = time.time() - t
    checks.op(bool(r["full"].get("compacted")), "recompact_fuzzy_store")
    r["full_rw"] = rewritten(snap, tree_files(store))

    _, extra = drain(spark, src, store, ckpt, files[n_batches:])
    checks.op(len(extra) == 1, "extra micro-batch")
    snap = tree_files(store)
    t = time.time()
    r["incr"] = fds.recompact_fuzzy_store_incremental(spark, store)
    r["recompact_incr_s"] = time.time() - t
    checks.op(bool(r["incr"].get("compacted")), "recompact_fuzzy_store_incremental")
    r["incr_rw"] = rewritten(snap, tree_files(store))
    if tracer:
        tracer.restore()
    r["final_bytes"] = tree_bytes(store)

    # correctness, outside the timed regions
    fed = BATCH_DOCS * n_batches
    ids = dec["doc_id"]
    checks.check("fuzzy.one_decision_per_doc", len(ids) == fed and len(set(ids)) == fed,
                 f"{len(ids)} decisions, {len(set(ids))} distinct, {fed} fed")
    status = dict(zip(dec["doc_id"], dec["status"]))
    planted = [d for d, _ in truth["cross"] if d in status]
    missed = [d for d in planted if status[d] != "dup_of_earlier"]
    checks.check("fuzzy.cross_batch_dups_found", planted and not missed,
                 f"{len(missed)} of {len(planted)} planted cross-batch dups missed")
    r["dup_of_earlier"] = sum(s == "dup_of_earlier" for s in dec["status"])
    check_survivors(spark, checks, store, corpus)
    r["notes"] = [
        f"corpus: {truth['n_docs']} docs in {n_batches + 1} files of {BATCH_DOCS}, "
        f"{truth['n_words']} words, {truth['text_bytes']} text bytes, {len(truth['in_batch'])} "
        f"in-batch and {len(truth['cross'])} cross-batch planted near-duplicates",
        f"micro-batch latencies {[round(x, 3) for x in r['lat']]} s, extra batch {extra} s",
    ]
    return r


def check_survivors(spark, checks, store: str, corpus: str) -> None:
    """After both compactions the store's survivors equal one
    ``fuzzy_dedup_pipeline`` run over every doc fed."""
    from pyspark.sql import functions as F

    from tersets_spark.operators.dedup import fuzzy_dedup_pipeline

    docs = spark.read.parquet(os.path.join(corpus, "batches"))
    groups = fuzzy_dedup_pipeline(docs, signature="fast")
    dropped = {r.doc_id for r in groups.filter(~F.col("is_survivor")).select("doc_id").collect()}
    want = {r.doc_id for r in docs.select("doc_id").collect()} - dropped
    dec = decisions(store)
    got = {d for d, s in zip(dec["doc_id"], dec["status"]) if s == "survivor"}
    checks.check("fuzzy.survivors_match_pipeline", got == want,
                 f"{len(got ^ want)} docs differ ({len(got)} vs {len(want)})")


def run(args, t0: float, checks, rdir: str, tracer_mode: bool):
    """Standalone workload; prints the stream's own end-to-end metrics."""
    from tersets_spark.session import get_spark

    g = time.time()
    cache = os.path.join(WORK, "inputs")
    inputs.text_corpus(cache, args.seed, N_BATCHES + 1, BATCH_DOCS)
    inputs.text_corpus(cache, args.seed + 1_000_003, WARM_BATCHES, BATCH_DOCS, first_id=10**9)
    gen_s = time.time() - g
    spark = get_spark("perfbench_fuzzy_stream", cores=CORES, extra_conf=QUIET)
    try:
        warm_up(spark, args.seed, rdir, checks)
        setup_s = time.time() - t0 - gen_s
        r = flow(spark, args.seed, rdir, checks)
    finally:
        spark.stop()
    n = BATCH_DOCS * N_BATCHES
    metrics = {
        "setup_s": (setup_s, "s"),
        "docs_per_s": (n / r["drain_s"], "docs/s"),
        "batch_p50_s": (median(r["lat"]), "s"),
        "recompact_s": (r["recompact_s"], "s"),
        "recompact_incr_s": (r["recompact_incr_s"], "s"),
        "bytes_per_raw_byte": (r["final_bytes"] / r["truth"]["text_bytes"], "ratio"),
    }
    samples = {"batch_p50_s": len(r["lat"]), "docs_per_s": 1, "recompact_s": 1, "recompact_incr_s": 1}
    return metrics, samples, r["notes"], {}
