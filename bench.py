"""Headline benchmark. Prints ONE JSON line:
{"metric": "tokens_per_sec", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS   (default 32).

The flagship measurement mirrors BASELINE.json's primary metric:
tokens/sec for compress (BitPackedDeltaEncoding) + tier rollups
(1m/1h/1d) + lossless round-trip verification over the deterministic
synthetic token table (FIXTURES.md §1), sized by scale factor.
Secondary queries time the other operator families on the driver test
tables.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _probe_sort(_i: int) -> float:
    """One probe unit (module-level: ProcessPoolExecutor pickles it)."""
    import numpy as np

    x = np.random.default_rng(1).normal(0, 1, 3_000_000)
    t0 = time.perf_counter()
    np.sort(x)
    return time.perf_counter() - t0


def _parallel_probe(workers: int = 8) -> float:
    """Multi-core throttle probe: `workers` forked processes each sort
    3e6 floats concurrently (big enough that fork+IPC overhead is noise); returns wall/single ratio (~1.0-2.5 with free
    cores, >>3 when the hypervisor's MANY-core credit pool is drained —
    a state the single-core probe cannot see: measured 2026-08-17, the
    single-core probe read 18.8 ms CALM while the same flagship ran 2x
    its calm-host time because the 32-core budget was spent)."""
    import concurrent.futures as cf

    t_single = _probe_sort(0)
    t0 = time.perf_counter()
    with cf.ProcessPoolExecutor(max_workers=workers) as ex:
        list(ex.map(_probe_sort, range(workers)))
    wall = time.perf_counter() - t0
    # subtract nothing for pool startup — it inflates the ratio by a
    # constant ~0.3 on this host, covered by the gate's slack
    return wall / max(t_single, 1e-6)


#: parallel wall/single gate — this host's stable calm floor measured
#: 4.3-4.6 on 2026-08-17; throttled transients read >= 7-10
_PAR_GATE = 6.0

#: printed-line size budget: the driver records the artifact from a
#: bounded stdout tail capture, and round 8's line (~2.4 KB of embedded
#: prose) grew past it — the headline was clipped out and the round
#: could not be scored (r8 verdict #1). The static prose now lives in
#: BENCH.md; if the line still outgrows this budget, _emit slims the
#: printed copy while BENCH_LAST.json keeps everything.
_LINE_BUDGET = 4096


def _emit(out: dict, out_dir: "str | None" = None) -> None:
    """Print the ONE JSON line AND durably write it to BENCH_LAST.json
    next to this file, so a truncated stdout capture can never again
    lose the headline (r8 verdict #1a). The file always carries the
    full artifact; the printed line is slimmed (detail replaced by a
    pointer) only if it would exceed _LINE_BUDGET. Headline keys are
    asserted present — a malformed artifact should fail loudly here,
    not at judging time. SPARK_GRAFT_BENCH_OUT redirects the file
    (tests; official runs keep the repo-root default)."""
    for key in ("metric", "value", "unit", "sf"):
        assert key in out, f"bench artifact missing required key {key!r}"
    # print FIRST: the stdout line and the file are redundant carriers
    # by design, so a bad output path must never eat the measurements a
    # run already paid for (a misconfigured SPARK_GRAFT_BENCH_OUT once
    # lost a full 13-minute run at this exact write).
    line = json.dumps(out)
    if len(line) > _LINE_BUDGET:
        slim = dict(out)
        slim["detail"] = "clipped for capture: full detail in BENCH_LAST.json"
        line = json.dumps(slim)
    print(line, flush=True)
    repo = (
        out_dir
        or os.environ.get("SPARK_GRAFT_BENCH_OUT")
        or os.path.dirname(os.path.abspath(__file__))
    )
    path = (
        repo if os.path.basename(repo) == "BENCH_LAST.json"
        else os.path.join(repo, "BENCH_LAST.json")
    )
    with open(path, "w") as f:
        json.dump(out, f)
        f.write("\n")


def _wait_for_calm_host(max_wait_s: int) -> "tuple[float, float]":
    """CPU-credit throttle guard (CLAUDE.md): this sandbox's hypervisor
    slows sustained many-core load up to 8x for minutes at a time, and
    the budget refills while idle — measured on 2026-08-16: the same
    flagship job took 21-23 s inside a throttle window and 4.5 s after
    six idle minutes. TWO probes gate the timed region: a single-core
    probe (np.sort of 1e6 float64, best of 3: ~15-25 ms calm on this
    host, 60-300 ms throttled) AND a multi-core probe (8 concurrent
    sorts; wall/single <= _PAR_GATE) — the many-core credit pool can be
    drained while single-core reads calm. NOTE the host's
    session-to-session BASELINE also drifts (the same flagship bytes
    ran 4.46 s on 2026-08-16 and 7.9 s calm-and-idle on 2026-08-17) —
    cross-round artifact comparisons must read the probe ratios AND
    tolerate baseline shifts. While either probe reads throttled, sleep
    in bounded steps so the artifact records the ENGINE's speed, not
    the hypervisor's credit state.

    Returns (single-core probe seconds, parallel wall/single ratio). A
    REAL parallel ratio is always returned — including when the wait
    budget is zero or exhausted — so the artifact never carries a
    sentinel where it claims to record many-core host state (r4
    ADVICE)."""
    import numpy as np

    x = np.random.default_rng(0).normal(0, 1, 1_000_000)
    waited = 0
    while True:
        best = 1e9
        for _ in range(3):
            t0 = time.perf_counter()
            np.sort(x.copy())
            best = min(best, time.perf_counter() - t0)
        if best < 0.040:
            par = _parallel_probe()
            if par > _PAR_GATE and waited < max_wait_s:
                par = min(par, _parallel_probe())  # one retry: transient?
            if par <= _PAR_GATE or waited >= max_wait_s:
                return best, par
        elif waited >= max_wait_s:
            return best, _parallel_probe()
        time.sleep(90)
        waited += 90


def _rerun_reason(runs: "list[tuple[float, float]]", gate: float = _PAR_GATE):
    """Decide whether a query's timed (seconds, probe_ratio) passes need
    a gated re-measure: >3x spread between passes means a throttle
    window corrupted at least one, and a best taken at a failed probe
    was measured inside one. Returns the reason string or None."""
    ts = [t for t, _ in runs]
    if len(ts) > 1 and max(ts) > 3.0 * min(ts):
        return "pass spread >3x"
    best_par = min(runs, key=lambda r: r[0])[1]
    if best_par > gate:
        return "best at failed probe"
    return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # OFFICIAL numbers are measured at a SUB-CAP parallelism (round-6
    # verdict #2): with its burst pool drained this host sustains only
    # ~4.7 core-equivalents (CLAUDE.md), so a local[32] region can
    # never probe calm and every r5 artifact number was 1.6-3.6x
    # throttle-inflated. local[8] is the largest level the host can
    # actually hold calm — the artifact headline is measured there and
    # the requested full parallelism is reported as a secondary stanza
    # (detail.full_parallelism) instead of silently polluting the
    # headline.
    official_cpus = int(
        os.environ.get("SPARK_GRAFT_OFFICIAL_CPUS", str(min(cpus, 8)))
    )
    sf = _sf_from_dir(sf_dir)

    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from tersets_spark.methods import Method
    from tersets_spark.operators.pipeline import (
        flagship_summary,
        fused_compress_rollup,
    )
    from tersets_spark.session import get_spark
    from tersets_spark.sources.synth import synth_tokens

    spark = get_spark(
        "bench", cores=official_cpus, shuffle_partitions=max(official_cpus, 8)
    )

    timings: dict[str, float] = {}

    # ---- flagship: fused compress + verify + tier rollups (1m/1h/1d)
    # over the deterministic synthetic token table ----
    # corpus sized so kernel compute (not per-job overhead) sets the
    # headline: ~40M tokens at sf=0.1
    n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "0")) or max(
        int(100000 * sf), 200
    )
    parts = int(os.environ.get("SPARK_GRAFT_BENCH_PARTITIONS", "0")) or None
    toks = synth_tokens(spark, n_docs, partitions=parts).persist()
    total_tokens = toks.agg(F.sum("n_tok")).collect()[0][0]

    # warmup: spin up the Python workers / JIT outside the timed region
    warm = synth_tokens(spark, 64)
    fused_compress_rollup(warm, Method.BitPackedDeltaEncoding).agg(
        F.count("*")
    ).collect()

    def run_flagship() -> tuple[float, dict, int]:
        t0 = time.time()
        fused = fused_compress_rollup(toks, Method.BitPackedDeltaEncoding)
        # ONE action: tier counts + verify verdict + compressed bytes
        res = {r["gid"]: r for r in flagship_summary(fused).collect()}
        wall = time.time() - t0
        total = res[15]
        agg = {
            "ok": total["all_ok"],
            "cb": total["bytes"],
            "rb": total["n_values"] * 4,
        }
        n_roll = sum(res[g]["rows"] for g in (0, 1, 3) if g in res)
        return wall, agg, n_roll

    # best-of-3 WITH a probe before each repeat (r4 verdict #7: a
    # single pre-gate let a 2-4x swing through): the host's per-run
    # variance reached 2-4x on identical bytes (2026-08-17: 3.2-12.2 s
    # back-to-back); the reported flagship is the min over repeats
    # whose probe passed the gate, so a throttle window opening
    # mid-repeats can't be mistaken for engine speed
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "3"))
    calm_wait = int(os.environ.get("SPARK_GRAFT_CALM_WAIT", "360"))
    probe_s, par_ratio = _wait_for_calm_host(calm_wait)
    runs = []
    flag_probes = []
    for i in range(repeats):
        if i == 0:
            par_i = par_ratio
        elif calm_wait > 0:
            # official mode: the previous repeat drained credits — wait
            # (bounded) for the pool to refill so this repeat counts
            _, par_i = _wait_for_calm_host(min(calm_wait, 180))
        else:
            par_i = _parallel_probe()
        flag_probes.append(round(par_i, 2))
        runs.append((run_flagship(), par_i))
    calm_runs = [r for r, p in runs if p <= _PAR_GATE] or [r for r, _ in runs]
    flagship_sec, agg, n_roll = min(calm_runs, key=lambda r: r[0])
    toks.unpersist()  # executor storage back to the secondary queries
    timings["flagship_compress_rollup"] = round(flagship_sec, 3)
    if not agg["ok"]:
        _emit({"metric": "tokens_per_sec", "value": 0.0, "unit": "sec", "error": "roundtrip failed", "sf": sf})
        return
    tokens_per_sec = total_tokens / flagship_sec

    # ---- secondary operator timings over the driver test tables ----
    if os.environ.get("SPARK_GRAFT_BENCH_FLAGSHIP_ONLY"):
        out = {
            "metric": "tokens_per_sec",
            "value": round(tokens_per_sec, 1),
            "unit": "sec",
            "queries": timings,
            "sf": sf,
            "detail": {
                "n_docs": n_docs,
                "total_tokens": int(total_tokens),
                "compress_ratio": round(float(agg["rb"]) / float(agg["cb"]), 3),
                "rollup_rows": int(n_roll),
                "cpus": official_cpus,
                "requested_cpus": cpus,
                "calm_probe_ms": round(probe_s * 1000, 1),
                "par_probe_ratio": round(par_ratio, 2),
                "flagship_probe_ratios": flag_probes,
                "probe_gate": _PAR_GATE,
            },
        }
        spark.stop()
        _emit(out)
        return

    # ---- secondary queries: interleaved best-of-2 ----
    # The sandbox host throttles CPU-credit style (CLAUDE.md): a single
    # pass taken during a throttled window records 2-5x the calm-host
    # time. Two full interleaved passes with a per-query min make the
    # official artifact robust to a throttle window covering any one
    # pass, at the cost of one extra pass.
    qs = entrymod.queries()
    secondary: dict[str, object] = {
        name: qs[name]
        for name in (
            "gapfill_locf_1h",
            "roundtrip_chimp64",
            "tier_rollup_chars_1m",
            "dedup_exact",
            "simhash_candidates",
            "textstats",
            "ann_topk",
            "ivf_ann_topk",
        )
    }
    # per-tier rollups keep their historical bench names for
    # round-over-round comparability; the driver row consolidated to
    # rollup_events_catalog in r8, so source the factories directly
    secondary["rollup_events_1m"] = entrymod._rollup_events_query("1m")
    secondary["rollup_events_1h"] = entrymod._rollup_events_query("1h")
    # bench-scale minhash: same pipeline, 16 hashes / 4 bands (the
    # driver row runs 30/5)
    secondary["minhash_jaccard_dups"] = lambda sp, d: entrymod.minhash_pairs(
        sp, d, n_hashes=16, bands=4
    )
    # full-corpus fuzzy shrink (r6 verdict #1): the PRODUCTION dedup
    # flow — LSH candidates -> exact Jaccard verify -> connected
    # components -> keep-one survivors -> per-source shrink — timed
    # end-to-end over every document, on the one numpy signature path
    # (the correctness row's oracle replays it exactly). CC star-round
    # counts are recorded per pass in detail.fuzzy_cc_rounds.
    fuzzy_cc_rounds: list = []

    def run_fuzzy(sp, d):
        from tersets_spark.operators.dedup import fuzzy_dedup_pipeline

        docs_all = entrymod._documents(sp, d).select(
            F.col("doc_id").cast("long").alias("doc_id"), "text", "source"
        )
        st: dict = {}
        groups = fuzzy_dedup_pipeline(docs_all, stats=st)
        fuzzy_cc_rounds.append(st.get("cc_rounds"))
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

    secondary["fuzzy_corpus_shrink"] = run_fuzzy
    # tier READ path (r7 verdict #3): the r7 batch decoders (5-7x
    # single-core A/B) previously appeared in no timed stanza —
    # tier_compact_roundtrip is correctness-only. Compact the flagship
    # corpus's 1m rollup tier ONCE here (untimed setup, lineage severed
    # so passes don't re-encode), then each pass times ONLY
    # restore_tier -> count: one decompress_batch per Arrow batch per
    # column (Chimp64 values + delta bucket blobs), tracked
    # round-over-round the way ivf_ann_query tracks the probe path.
    from tersets_spark.operators.retention import compact_tier, restore_tier
    from tersets_spark.operators.rollup import rollup_tokens_base

    _tier_roll = rollup_tokens_base(
        synth_tokens(spark, n_docs, partitions=parts)
    ).select(
        "doc_id",
        "bucket",
        "vmin",
        "vmax",
        (F.col("vsum") / F.col("vcount")).alias("vmean"),
    )
    tier_blocks = compact_tier(_tier_roll).localCheckpoint(eager=True)
    tier_decode_detail = {
        "n_blocks": tier_blocks.count(),
        "n_values": int(
            tier_blocks.agg(F.sum("n_buckets")).collect()[0][0] or 0
        ),
    }
    secondary["tier_decode"] = lambda sp, d: restore_tier(tier_blocks)
    # streaming-store re-resolution compaction (r8 verdict #4): the
    # stream's scheduled heavyweight maintenance job was correctness-
    # only (fuzzy_recompact_parity). Per pass: rebuild the 3-micro-batch
    # store UNTIMED (the driver row's shape, the same signatures as
    # fuzzy_corpus_shrink — the cold-pipeline number it compares to),
    # then time recompact_fuzzy_store alone. CC rounds land in
    # detail.fuzzy_recompact.
    recompact_detail: dict = {"cc_rounds": []}

    def run_recompact(sp, d) -> float:
        import shutil
        import tempfile

        from tersets_spark.streaming.fuzzy_dedup_stream import (
            process_fuzzy_batch,
            recompact_fuzzy_store,
        )

        docs_all = entrymod._documents(sp, d).select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
        tmp = tempfile.mkdtemp(prefix="bench_fuzzy_recompact_")
        try:
            for b in range(3):
                process_fuzzy_batch(
                    docs_all.filter(F.col("doc_id") % 3 == b),
                    tmp,
                    b,
                    keep_dropped_texts=True,
                )
            t0 = time.time()
            res = recompact_fuzzy_store(sp, tmp)
            dt = time.time() - t0
            recompact_detail["cc_rounds"].append(res.get("cc_rounds"))
            recompact_detail["n_docs"] = res.get("n_docs")
            recompact_detail["n_survivors"] = res.get("n_survivors")
            return dt
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            sp.catalog.clearCache()

    secondary["fuzzy_recompact"] = run_recompact
    # incremental re-resolution (round 9): same store shape, but the
    # first 3 quarters are full-compacted UNTIMED and only the O(Δ)
    # maintenance pass over the last quarter's arrival is timed —
    # compare against fuzzy_recompact (the full re-run over the same
    # corpus) for the compute saving the cluster-contraction buys.
    recompact_incr_detail: dict = {"cc_rounds": []}

    def run_recompact_incr(sp, d) -> float:
        import shutil
        import tempfile

        from tersets_spark.streaming.fuzzy_dedup_stream import (
            process_fuzzy_batch,
            recompact_fuzzy_store,
            recompact_fuzzy_store_incremental,
        )

        docs_all = entrymod._documents(sp, d).select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
        tmp = tempfile.mkdtemp(prefix="bench_fuzzy_recompact_incr_")
        try:
            for b in range(3):
                process_fuzzy_batch(
                    docs_all.filter(F.col("doc_id") % 4 == b),
                    tmp,
                    b,
                    keep_dropped_texts=True,
                )
            recompact_fuzzy_store(sp, tmp)
            process_fuzzy_batch(
                docs_all.filter(F.col("doc_id") % 4 == 3),
                tmp,
                3,
                keep_dropped_texts=True,
            )
            t0 = time.time()
            res = recompact_fuzzy_store_incremental(sp, tmp)
            dt = time.time() - t0
            recompact_incr_detail["cc_rounds"].append(res.get("cc_rounds"))
            recompact_incr_detail["n_docs"] = res.get("n_docs")
            recompact_incr_detail["n_new"] = res.get("n_new")
            recompact_incr_detail["n_candidate_pairs"] = res.get(
                "n_candidate_pairs"
            )
            return dt
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            sp.catalog.clearCache()

    secondary["fuzzy_recompact_incr"] = run_recompact_incr
    # ivf_ann_topk phase split (round-6 verdict #3): at 100 TB the
    # k-means training + full-corpus index build is an amortized
    # lifecycle phase while probe-path queries run hot — time them
    # separately; ivf_ann_query is the round-over-round compare number,
    # ivf_ann_topk stays the build+query total for artifact continuity.
    ivf_phases: dict[str, list] = {"build": [], "query": []}

    def run_ivf_split(sp, d) -> None:
        from tersets_spark.operators.similarity import (
            build_ivf_index,
            ivf_topk,
            train_centroids,
        )

        emb = entrymod._embeddings(sp, d).select(
            "vec_id",
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias(
                "embedding"
            ),
        )
        queries = emb.filter(F.col("vec_id") < 20)
        t0 = time.time()
        cents = train_centroids(emb, n_cells=32)
        index = build_ivf_index(emb, cents)
        build_s = time.time() - t0
        t0 = time.time()
        ivf_topk(emb, queries, cents, k=5, nprobe=8, index=index).count()
        query_s = time.time() - t0
        index.unpersist()
        ivf_phases["build"].append(build_s)
        ivf_phases["query"].append(query_s)
    passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2"))
    _CACHEY = ("minhash_jaccard_dups", "ivf_ann_topk", "fuzzy_corpus_shrink")

    def run_one(name: str) -> float:
        if name == "fuzzy_recompact":
            # times ONLY the compaction; store rebuild is untimed setup
            return run_recompact(spark, sf_dir)
        if name == "fuzzy_recompact_incr":
            return run_recompact_incr(spark, sf_dir)
        t0 = time.time()
        if name == "ivf_ann_topk":
            run_ivf_split(spark, sf_dir)  # phase-split runner, same total
        else:
            secondary[name](spark, sf_dir).count()
        dt = time.time() - t0
        if name in _CACHEY:
            # these pipelines persist internal state (candidate set /
            # IVF index) per call — drop stale caches so the next run
            # isn't measured under this one's storage pressure
            spark.catalog.clearCache()
        return dt

    # per-PASS host probes (r4 verdict #2: the single pre-interleave
    # gate missed a throttle window opening mid-interleave, corrupting
    # BOTH passes of a query so min() couldn't save it)
    _, par2 = _wait_for_calm_host(min(calm_wait, 120))
    pass_probes = []
    per_pass: dict[str, list[tuple[float, float]]] = {n: [] for n in secondary}
    for p in range(passes):
        if p == 0:
            par_p = par2
        elif calm_wait > 0:
            _, par_p = _wait_for_calm_host(min(calm_wait, 120))
        else:
            par_p = _parallel_probe()
        pass_probes.append(round(par_p, 2))
        for name in secondary:
            per_pass[name].append((run_one(name), par_p))

    # consistency repair: re-run (behind a fresh calm gate) any query
    # whose passes disagree >3x or whose best pass ran at a failed
    # probe — so no reported best was taken inside a throttle window
    reruns: dict[str, object] = {}
    for name in secondary:
        if not per_pass[name]:  # SPARK_GRAFT_BENCH_PASSES=0: skip
            continue
        reason = _rerun_reason(per_pass[name])
        if reason and calm_wait > 0:
            _, rpar = _wait_for_calm_host(180)
            rdt = run_one(name)
            per_pass[name].append((rdt, rpar))
            reruns[name] = {
                "reason": reason,
                "sec": round(rdt, 3),
                "probe": round(rpar, 2),
            }
        # mirror the flagship's calm_runs filter (r5 ADVICE): the min is
        # taken over calm-probe passes only, so a best recorded inside a
        # throttle window is actually discarded once the rerun lands
        calm_ts = [t for t, p in per_pass[name] if p <= _PAR_GATE] or [
            t for t, _ in per_pass[name]
        ]
        timings[name] = round(min(calm_ts), 3)

    # cross-round comparability anchor: ONE timing of minhash at 64
    # hashes / 16 bands (the driver row's config before round 7), so
    # round-over-round deltas aren't config changes
    def run_anchor() -> float:
        t0 = time.time()
        entrymod.minhash_pairs(spark, sf_dir, n_hashes=64, bands=16).count()
        dt = time.time() - t0
        spark.catalog.clearCache()
        return dt

    par_anchor = _parallel_probe()
    timings["minhash_jaccard_64x16"] = round(run_anchor(), 3)
    # internal consistency: the lighter 16/4 config must not read
    # slower than its heavier 64x16 anchor (the r4 artifact's
    # self-contradiction); one gated re-measure of both if it does
    if (
        calm_wait > 0
        and "minhash_jaccard_dups" in timings
        and timings["minhash_jaccard_dups"] > timings["minhash_jaccard_64x16"]
    ):
        _, rpar = _wait_for_calm_host(180)
        rdt = run_one("minhash_jaccard_dups")
        timings["minhash_jaccard_dups"] = round(
            min(timings["minhash_jaccard_dups"], rdt), 3
        )
        timings["minhash_jaccard_64x16"] = round(
            min(timings["minhash_jaccard_64x16"], run_anchor()), 3
        )
        reruns["minhash_anchor_consistency"] = {
            "reason": "16/4 slower than 64x16 anchor",
            "sec": round(rdt, 3),
            "probe": round(rpar, 2),
        }

    # phase-split readout: min per phase over the same passes (build and
    # query each take their own min — a throttle window covering one
    # phase of one pass can't poison the other phase's best)
    if ivf_phases["build"]:
        timings["ivf_ann_build"] = round(min(ivf_phases["build"]), 3)
        timings["ivf_ann_query"] = round(min(ivf_phases["query"]), 3)

    # ---- secondary stanza: the requested full parallelism (flagship
    # only, fresh JVM) — reported, never the headline
    full_stanza = None
    if cpus > official_cpus and not os.environ.get(
        "SPARK_GRAFT_BENCH_FLAGSHIP_ONLY"
    ):
        spark.stop()
        spark = get_spark(
            "bench_full", cores=cpus, shuffle_partitions=max(cpus, 8)
        )
        toks = synth_tokens(spark, n_docs, partitions=parts).persist()
        # warm the fresh JVM's Python workers outside the timed region
        fused_compress_rollup(
            synth_tokens(spark, 64), Method.BitPackedDeltaEncoding
        ).agg(F.count("*")).collect()
        toks.agg(F.count("*")).collect()  # materialize the cache
        full_runs = []
        for _ in range(2):
            par_f = _parallel_probe()
            full_runs.append((run_flagship(), par_f))
        calm_f = [r for r, p in full_runs if p <= _PAR_GATE] or [
            r for r, _ in full_runs
        ]
        f_sec = min(r[0] for r in calm_f)
        full_stanza = {
            "cpus": cpus,
            "flagship_s": round(f_sec, 3),
            "tokens_per_sec": round(total_tokens / f_sec, 1),
            "probe_ratios": [round(p, 2) for _, p in full_runs],
        }

    out = {
        "metric": "tokens_per_sec",
        "value": round(tokens_per_sec, 1),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "detail": {
            "n_docs": n_docs,
            "total_tokens": int(total_tokens),
            "compress_ratio": round(float(agg["rb"]) / float(agg["cb"]), 3),
            "rollup_rows": int(n_roll),
            "cpus": official_cpus,
            "requested_cpus": cpus,
            # static protocol/override prose lives in BENCH.md §"official
            # bench protocol" (r8 verdict #1a: ~2.4 KB of embedded prose
            # grew the line past the driver's capture and clipped the
            # headline) — the line carries pointers only
            "normalization": (
                f"official@local[{official_cpus}], requested parallelism in "
                "detail.full_parallelism; protocol + per-query config "
                "overrides: BENCH.md"
            ),
            "full_parallelism": full_stanza,
            "calm_probe_ms": round(probe_s * 1000, 1),
            "par_probe_ratio": round(par_ratio, 2),
            # per-run host-state evidence (r4 verdict #2/#7): every
            # timed region carries the parallel probe that preceded it
            "flagship_probe_ratios": flag_probes,
            "pass_probe_ratios": pass_probes,
            "anchor_probe_ratio": round(par_anchor, 2),
            # CC star rounds until convergence, one entry per timed
            # pass of fuzzy_corpus_shrink (r6 verdict #1 asked for the
            # round count alongside the end-to-end timing)
            "fuzzy_cc_rounds": fuzzy_cc_rounds,
            # decode volume behind queries.tier_decode (r7 verdict #3):
            # n_values per blob column (values + bucket blobs decode)
            "tier_decode": tier_decode_detail,
            # compaction volume + CC rounds behind queries.fuzzy_recompact
            # (r8 verdict #4); store rebuild is untimed per-pass setup
            "fuzzy_recompact": recompact_detail,
            # incremental maintenance pass (round 9): delta volume +
            # candidate pairs + CC rounds behind
            # queries.fuzzy_recompact_incr; the 3-quarter store build +
            # full compaction are untimed per-pass setup
            "fuzzy_recompact_incr": recompact_incr_detail,
            "probe_gate": _PAR_GATE,
            "reruns": reruns,
            "passes": passes,
            "flagship_repeats": repeats,
            # self-describing artifact (round-3 verdict #5), relocated:
            # the per-query config-override prose is static and lives in
            # BENCH.md §"official bench protocol" (r8 verdict #1a — the
            # embedded prose grew the line past the driver's capture)
            "query_overrides": "see BENCH.md (static per-query configs)",
        },
    }
    spark.stop()
    _emit(out)


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


if __name__ == "__main__":
    main()
