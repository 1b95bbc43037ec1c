"""Incremental (streaming) fuzzy dedup — semantics pinned against the
batch pipeline: one-batch equivalence, cross-batch first-wins, the
documented chain-break divergence, replay idempotence, and a real
Structured-Streaming smoke run."""

from __future__ import annotations

import os
import time
import uuid

import pytest

from tersets_spark.streaming.fuzzy_dedup_stream import (
    fuzzy_dedup_stream,
    process_fuzzy_batch,
    read_decisions,
)

G1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
G2 = "one two three four five six seven eight nine ten eleven twelve ok"
LONE = "totally unrelated document content about bitpacked delta encoding"


def _jac(a: str, b: str, k: int = 5) -> float:
    """Exact char-k-shingle Jaccard — mirrors operators.dedup.shingles
    (distinct substrings of length k, full windows for len >= k)."""
    sa = {a[i : i + k] for i in range(max(len(a) - k + 1, 1))}
    sb = {b[i : i + k] for i in range(max(len(b) - k + 1, 1))}
    return len(sa & sb) / len(sa | sb)


def _decisions(spark, store: str) -> dict[int, tuple[str, int | None]]:
    return {
        r.doc_id: (r.status, r.matched)
        for r in read_decisions(spark, store).collect()
    }


def test_single_batch_matches_batch_pipeline(spark, tmp_path):
    """A whole corpus in ONE micro-batch reproduces the batch
    fuzzy_dedup_pipeline survivor set (plus never-paired docs)."""
    store = str(tmp_path / "store")
    rows = [
        (10, G1), (11, G1 + "!"), (12, G1 + " ?"),
        (20, G2), (21, G2 + "."),
        (30, LONE),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    process_fuzzy_batch(df, store, batch_id=0)
    dec = _decisions(spark, store)
    assert {d for d, (s, _) in dec.items() if s == "survivor"} == {10, 20, 30}
    assert {d for d, (s, _) in dec.items() if s == "dup_in_batch"} == {11, 12, 21}
    surv = spark.read.option("basePath", f"{store}/survivors").parquet(
        f"{store}/survivors"
    )
    assert {r.doc_id for r in surv.collect()} == {10, 20, 30}


def test_cross_batch_first_wins(spark, tmp_path):
    """A later-batch near-dup of an earlier survivor is dropped and the
    match is recorded; novel content keeps flowing through."""
    store = str(tmp_path / "store")
    b0 = spark.createDataFrame([(1, G1), (5, LONE)], "doc_id long, text string")
    b1 = spark.createDataFrame(
        [(7, G1 + "!!"), (6, G2)], "doc_id long, text string"
    )
    process_fuzzy_batch(b0, store, batch_id=0)
    process_fuzzy_batch(b1, store, batch_id=1)
    dec = _decisions(spark, store)
    assert dec[7] == ("dup_of_earlier", 1)
    assert dec[6][0] == "survivor" and dec[1][0] == "survivor"
    surv = spark.read.option("basePath", f"{store}/survivors").parquet(
        f"{store}/survivors"
    )
    assert {r.doc_id for r in surv.collect()} == {1, 5, 6}


def _quarter_chain() -> tuple[str, str, str]:
    """Texts A, B, C with j(A,B) >= 0.5, j(B,C) >= 0.5, j(A,C) < 0.5:
    quarter blocks A=PQRS, B=QRST, C=RSTU (overlap 3/5 ~ 0.6 between
    neighbors, 2/6 ~ 0.33 across the chain)."""
    words = lambda tag: " ".join(f"{tag}{i:02d}word" for i in range(8))  # noqa: E731
    p, q, r, s, t, u = (words(c) for c in "pqrstu")
    a = " ".join((p, q, r, s))
    b = " ".join((q, r, s, t))
    c = " ".join((r, s, t, u))
    return a, b, c


def test_chain_break_divergence_pinned(spark, tmp_path):
    """The documented streaming/batch divergence: C ~ B (dropped) but
    C !~ A (B's survivor). Streaming keeps C (no EARLIER SURVIVOR
    verifies); a single-batch run resolves {A,B,C} into one component
    and keeps only A. Both behaviors asserted side by side."""
    a, b, c = _quarter_chain()
    thr = 0.5
    # pin the premise with exact shingle Jaccard (not LSH luck)
    assert _jac(a, b) >= thr and _jac(b, c) >= thr and _jac(a, c) < thr
    params = dict(threshold=thr, n_hashes=30, bands=15)  # 2-row bands:
    # P(candidate) at j=0.6 is 1-(1-0.36)^15 > 0.998 — not flaky
    rows = {1: a, 2: b, 3: c}

    inc = str(tmp_path / "inc")
    for bid, doc in enumerate(sorted(rows)):
        df = spark.createDataFrame([(doc, rows[doc])], "doc_id long, text string")
        process_fuzzy_batch(df, inc, batch_id=bid, **params)
    dec = _decisions(spark, inc)
    assert dec[1][0] == "survivor"
    assert dec[2] == ("dup_of_earlier", 1)
    assert dec[3][0] == "survivor"  # chain broken: C never saw B

    glob = str(tmp_path / "glob")
    df = spark.createDataFrame(list(rows.items()), "doc_id long, text string")
    process_fuzzy_batch(df, glob, batch_id=0, **params)
    gdec = _decisions(spark, glob)
    assert gdec[1][0] == "survivor"
    assert gdec[2][0] == "dup_in_batch" and gdec[3][0] == "dup_in_batch"


def test_replay_idempotent(spark, tmp_path):
    """foreachBatch may replay a batch id after failure: reprocessing
    overwrites the batch's own partitions instead of duplicating."""
    store = str(tmp_path / "store")
    b0 = spark.createDataFrame(
        [(1, G1), (2, G1 + "!"), (5, LONE)], "doc_id long, text string"
    )
    process_fuzzy_batch(b0, store, batch_id=0)
    first = {
        part: spark.read.option("basePath", f"{store}/{part}")
        .parquet(f"{store}/{part}").count()
        for part in ("survivors", "buckets", "decisions")
    }
    process_fuzzy_batch(b0, store, batch_id=0)  # replay
    for part, n in first.items():
        again = (
            spark.read.option("basePath", f"{store}/{part}")
            .parquet(f"{store}/{part}").count()
        )
        assert again == n, part
    assert _decisions(spark, store)[1][0] == "survivor"


def test_stream_smoke_foreachbatch(spark, tmp_path):
    """End-to-end through a real Structured Streaming query: file
    source, one file per trigger, foreachBatch sink."""
    schema = "doc_id long, text string"
    batches = [
        [(1, G1), (5, LONE)],
        [(7, G1 + "!!"), (6, G2)],
    ]
    now = time.time()
    src = tmp_path / "src"
    for i, rows in enumerate(batches):
        p = str(src / f"b{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(p)
        for root, _d, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (now - 20 + 10 * i,) * 2)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    store = str(tmp_path / "store")
    q = (
        fuzzy_dedup_stream(stream, store)
        .option(
            "checkpointLocation", str(tmp_path / ("ckpt_" + uuid.uuid4().hex[:8]))
        )
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    dec = _decisions(spark, store)
    assert dec[7] == ("dup_of_earlier", 1)
    assert {d for d, (s, _) in dec.items() if s == "survivor"} == {1, 5, 6}


def test_recompact_restores_chain_exact_groups(spark, tmp_path):
    """r7 verdict #4: the periodic re-resolution compaction heals the
    pinned chain-break divergence. Stream A|B|C one per batch with the
    dropped-texts store enabled (C survives greedily because its only
    link, B, was dropped); recompact; the store's decisions now equal a
    single-global-batch run over {A,B,C} exactly, the survivor store is
    one compacted partition, and the stream keeps flowing against the
    compacted history."""
    from tersets_spark.streaming.fuzzy_dedup_stream import (
        recompact_fuzzy_store,
    )

    a, b, c = _quarter_chain()
    params = dict(threshold=0.5, n_hashes=30, bands=15)
    rows = {1: a, 2: b, 3: c}
    inc = str(tmp_path / "inc")
    for bid, doc in enumerate(sorted(rows)):
        df = spark.createDataFrame([(doc, rows[doc])], "doc_id long, text string")
        process_fuzzy_batch(
            df, inc, batch_id=bid, keep_dropped_texts=True, **params
        )
    assert _decisions(spark, inc)[3][0] == "survivor"  # pinned divergence

    res = recompact_fuzzy_store(spark, inc, **params)
    assert res["compacted"] and res["batch"] == 2
    assert res["n_docs"] == 3 and res["n_survivors"] == 1

    glob = str(tmp_path / "glob")
    gdf = spark.createDataFrame(list(rows.items()), "doc_id long, text string")
    process_fuzzy_batch(gdf, glob, batch_id=0, **params)
    assert _decisions(spark, inc) == _decisions(spark, glob)

    surv = spark.read.option("basePath", f"{inc}/survivors").parquet(
        f"{inc}/survivors"
    )
    assert {(r.doc_id, r.batch) for r in surv.collect()} == {(1, 2)}

    # stream continues against the compacted history: a near-dup of A
    # arriving in batch 3 is dropped with the right match recorded
    b3 = spark.createDataFrame([(9, a + "!")], "doc_id long, text string")
    process_fuzzy_batch(b3, inc, batch_id=3, **params)
    assert _decisions(spark, inc)[9] == ("dup_of_earlier", 1)


def test_recompact_empty_store_zero_rows(spark, tmp_path):
    """r8 ADVICE low: a store whose partitions exist but hold ZERO
    decision rows (a stream that only ever processed empty
    micro-batches) returns a clean not-compacted result instead of
    raising TypeError on int(None)."""
    from tersets_spark.streaming.fuzzy_dedup_stream import (
        recompact_fuzzy_store,
    )

    store = str(tmp_path / "store")
    empty = spark.createDataFrame([], "doc_id long, text string")
    process_fuzzy_batch(empty, store, batch_id=0)
    res = recompact_fuzzy_store(spark, store)
    assert res == {"compacted": False, "reason": "empty store"}


def test_recompact_partial_dropped_store_raises(spark, tmp_path):
    """r8 ADVICE medium (detection half): a dropped-texts store that
    EXISTS but does not cover every seen doc — here batch 0 ran
    keep_dropped_texts=False and dropped B, batch 1 ran =True — must
    make recompaction raise instead of silently compacting without B
    (which would make B vanish from the decisions store too)."""
    from tersets_spark.streaming.fuzzy_dedup_stream import (
        recompact_fuzzy_store,
    )

    a, b, c = _quarter_chain()
    params = dict(threshold=0.5, n_hashes=30, bands=15)
    inc = str(tmp_path / "inc")
    b0 = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    process_fuzzy_batch(b0, inc, batch_id=0, **params)  # drops 2, no text kept
    b1 = spark.createDataFrame([(3, c)], "doc_id long, text string")
    process_fuzzy_batch(b1, inc, batch_id=1, keep_dropped_texts=True, **params)
    assert _decisions(spark, inc)[2][0] == "dup_in_batch"

    spark.catalog.clearCache()
    with pytest.raises(ValueError, match="no text"):
        recompact_fuzzy_store(spark, inc, **params)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    # the full replayable corpus remains the documented recovery path
    corpus = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string"
    )
    res = recompact_fuzzy_store(spark, inc, corpus=corpus, **params)
    assert res["compacted"] and res["n_docs"] == 3 and res["n_survivors"] == 1


def test_recompact_writes_dropped_partition_first(spark, tmp_path, monkeypatch):
    """r8 ADVICE medium (prevention half): the compacted dropped-texts
    partition must be PROMOTED before survivors/ is replaced — a crash
    between the two otherwise leaves a batch-cbid survivor that
    compaction demotes to dup with its text in neither store. (r9: the
    order-bearing op is the staged-dir rename, not a direct write.)"""
    import sys as _sys

    # note: `import ...fuzzy_dedup_stream as mod` would bind the
    # FUNCTION of the same name re-exported by streaming/__init__
    mod = _sys.modules["tersets_spark.streaming.fuzzy_dedup_stream"]

    a, b, c = _quarter_chain()
    params = dict(threshold=0.5, n_hashes=30, bands=15)
    inc = str(tmp_path / "inc")
    for bid, (doc, txt) in enumerate(((1, a), (2, b), (3, c))):
        df = spark.createDataFrame([(doc, txt)], "doc_id long, text string")
        process_fuzzy_batch(
            df, inc, batch_id=bid, keep_dropped_texts=True, **params
        )

    order: list[str] = []
    real = mod._promote_staged

    def spy(sp, root, bid):
        order.append(root.rsplit("/", 1)[-1])
        real(sp, root, bid)

    monkeypatch.setattr(mod, "_promote_staged", spy)
    res = mod.recompact_fuzzy_store(spark, inc, **params)
    assert res["compacted"] and res["n_survivors"] == 1
    assert order and order[0] == "dropped"
    assert order.index("dropped") < order.index("survivors")


def test_recompact_with_new_params_keeps_demoted_texts(spark, tmp_path):
    """Compaction can itself demote docs the stream kept (re-run with a
    lower threshold than the stream used): with no replayable corpus,
    the demoted docs' texts must land in dropped/ — the store stays
    self-contained and a SECOND compaction still covers every seen
    doc instead of raising."""
    from tersets_spark.streaming.fuzzy_dedup_stream import (
        recompact_fuzzy_store,
    )

    a, b, _c = _quarter_chain()
    inc = str(tmp_path / "inc")
    # stream at a threshold too high for the A~B pair: both survive
    hi = dict(threshold=0.9, n_hashes=30, bands=15)
    for bid, (doc, txt) in enumerate(((1, a), (2, b))):
        df = spark.createDataFrame([(doc, txt)], "doc_id long, text string")
        process_fuzzy_batch(df, inc, batch_id=bid, **hi)
    assert {s for _, (s, _m) in _decisions(spark, inc).items()} == {"survivor"}

    lo = dict(threshold=0.5, n_hashes=30, bands=15)
    res = recompact_fuzzy_store(spark, inc, **lo)
    assert res["compacted"] and res["n_docs"] == 2 and res["n_survivors"] == 1
    dropped = spark.read.option("basePath", f"{inc}/dropped").parquet(
        f"{inc}/dropped"
    )
    assert {r.doc_id for r in dropped.collect()} == {2}
    # and the store remains recompactable without a corpus
    res2 = recompact_fuzzy_store(spark, inc, **lo)
    assert res2["compacted"] and res2["n_survivors"] == 1


def test_recompact_from_replayable_corpus(spark, tmp_path):
    """Without the opt-in dropped-texts store, recompaction requires a
    replayable corpus (the 100 TB production norm) — and raises a
    descriptive error rather than silently compacting to weaker
    survivor-only semantics when it has neither."""
    from tersets_spark.streaming.fuzzy_dedup_stream import (
        recompact_fuzzy_store,
    )

    a, b, c = _quarter_chain()
    params = dict(threshold=0.5, n_hashes=30, bands=15)
    rows = {1: a, 2: b, 3: c}
    inc = str(tmp_path / "inc")
    for bid, doc in enumerate(sorted(rows)):
        df = spark.createDataFrame([(doc, rows[doc])], "doc_id long, text string")
        process_fuzzy_batch(df, inc, batch_id=bid, **params)  # no dropped/

    with pytest.raises(ValueError, match="keep_dropped_texts"):
        recompact_fuzzy_store(spark, inc, **params)

    corpus = spark.createDataFrame(
        list(rows.items()) + [(99, "never seen by the stream")],
        "doc_id long, text string",
    )
    res = recompact_fuzzy_store(spark, inc, corpus=corpus, **params)
    assert res["compacted"] and res["n_survivors"] == 1
    dec = _decisions(spark, inc)
    assert dec[1][0] == "survivor"
    assert dec[2][0] == "dup_in_batch" and dec[3][0] == "dup_in_batch"
    assert 99 not in dec  # corpus docs the stream never saw stay out


# ---- round 9: incremental re-resolution compaction ----------------------


def _store_state(spark, store: str) -> dict:
    """Comparable snapshot of the compacted state: decisions, cluster
    map, survivor texts, and the all-docs index rows (batch column
    dropped — the two stores under comparison compact at different
    batch ids)."""
    def rows(sub, cols):
        df = spark.read.option("basePath", f"{store}/{sub}").parquet(
            f"{store}/{sub}"
        )
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    return {
        "decisions": rows("decisions", ["doc_id", "status", "matched"]),
        "clusters": rows("clusters", ["doc_id", "cluster_id"]),
        "survivors": rows("survivors", ["doc_id", "text"]),
        "allbuckets": rows("allbuckets", ["doc_id", "band", "bucket", "n_bucket"]),
    }


def test_incremental_recompact_heals_chain_and_matches_full(spark, tmp_path):
    """Quarter-chain A|B streamed, FULL-compacted (persisting the
    cluster map + all-docs index), then C arrives: the stream keeps C
    (pinned chain break — its only link B is dropped and absent from
    the survivor index), but the INCREMENTAL compaction finds the C~B
    edge through the all-docs index, contracts B to A's cluster, and
    lands the same state a single global batch run produces."""
    from tersets_spark.streaming.fuzzy_dedup_stream import (
        recompact_fuzzy_store,
        recompact_fuzzy_store_incremental,
    )

    a, b, c = _quarter_chain()
    params = dict(threshold=0.5, n_hashes=30, bands=15)
    inc = str(tmp_path / "inc")
    for bid, (doc, txt) in enumerate(((1, a), (2, b))):
        df = spark.createDataFrame([(doc, txt)], "doc_id long, text string")
        process_fuzzy_batch(
            df, inc, batch_id=bid, keep_dropped_texts=True, **params
        )
    res0 = recompact_fuzzy_store(spark, inc, **params)
    assert res0["compacted"] and res0["mode"] == "full"

    df2 = spark.createDataFrame([(3, c)], "doc_id long, text string")
    process_fuzzy_batch(df2, inc, batch_id=2, keep_dropped_texts=True, **params)
    assert _decisions(spark, inc)[3][0] == "survivor"  # chain break live

    res = recompact_fuzzy_store_incremental(spark, inc)
    assert res["compacted"] and res["mode"] == "incremental"
    assert res["batch"] == 2 and res["n_new"] == 1
    assert res["n_docs"] == 3 and res["n_survivors"] == 1

    glob = str(tmp_path / "glob")
    gdf = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string"
    )
    process_fuzzy_batch(gdf, glob, batch_id=0, **params)
    assert _decisions(spark, inc) == _decisions(spark, glob)


@pytest.mark.parametrize(
    "cc_bound,full_before,incr_before",
    [(None, 2, 3), (0, 2, 3), (None, 1, None)],
    ids=["cc_default", "cc_star", "big_delta"],
)
def test_incremental_matches_full_recompact_multibatch(
    spark, tmp_path, monkeypatch, cc_bound, full_before, incr_before
):
    """Hard parity over 4 batches with a cluster MERGE: two stores see
    identical batches; store A full-compacts after batch 1 then runs the
    incremental pass twice (chained — the second rides the first's
    index), store B full-compacts once at the end. Batch 2's doc
    bridges the two previously-separate clusters, so the contracted CC
    must merge old components. Decisions, cluster map, survivor texts,
    AND the all-docs index (incl. the incrementally-maintained
    n_bucket populations) are compared row-for-row.

    ``big_delta``: store A full-compacts after batch 0 only, so the one
    incremental pass's delta (5 docs) outnumbers the compacted state
    (3 docs). ``cc_star``: a CC collect bound of 0 sends every non-empty
    edge set through the distributed star rounds instead of the driver
    union-find."""
    import sys as _sys

    from tersets_spark.streaming.fuzzy_dedup_stream import (
        recompact_fuzzy_store,
        recompact_fuzzy_store_incremental,
    )

    if cc_bound is not None:
        mod = _sys.modules["tersets_spark.streaming.fuzzy_dedup_stream"]
        monkeypatch.setattr(mod, "_CC_COLLECT_EDGES", cc_bound)

    base = (G1 + " ") * 4
    tail = (G2 + " ") * 4
    t100 = base + tail[: len(tail) // 8]
    t200 = base[: len(base) // 8] + tail
    bridge = base[: len(base) // 2] + tail[len(tail) // 2 :]
    thr = 0.45
    # fixture premises: the bridge matches BOTH cluster seeds, which do
    # not match each other; the batch-3 straggler matches only t200
    assert _jac(t100, t200) < thr
    assert _jac(bridge, t100) >= thr and _jac(bridge, t200) >= thr
    assert _jac(t200 + "!!", t200) >= thr and _jac(t200 + "!!", t100) < thr
    batches = [
        [(100, t100), (101, t100 + " x"), (400, LONE)],
        [(200, t200), (201, t200 + " y")],
        [(300, bridge)],
        [(202, t200 + "!!"), (500, LONE[::-1])],
    ]
    params = dict(threshold=thr, n_hashes=30, bands=15)

    sa, sb = str(tmp_path / "a"), str(tmp_path / "b")
    for store in (sa, sb):
        for bid, rows in enumerate(batches):
            if store == sa and bid == full_before:
                assert recompact_fuzzy_store(spark, store, **params)["compacted"]
            if store == sa and bid == incr_before:
                r = recompact_fuzzy_store_incremental(spark, store)
                assert r["compacted"] and r["mode"] == "incremental"
            df = spark.createDataFrame(rows, "doc_id long, text string")
            process_fuzzy_batch(
                df, store, batch_id=bid, keep_dropped_texts=True, **params
            )
    ra = recompact_fuzzy_store_incremental(spark, sa)
    rb = recompact_fuzzy_store(spark, sb, **params)
    assert ra["compacted"] and ra["mode"] == "incremental"
    assert rb["compacted"] and rb["mode"] == "full"
    assert ra["n_docs"] == rb["n_docs"] == 8
    assert ra["n_survivors"] == rb["n_survivors"]
    if incr_before is None:
        assert ra["n_new"] == 5 > ra["n_docs"] - ra["n_new"]
    assert (ra["cc_rounds"] > 0) == (rb["cc_rounds"] > 0) == (cc_bound == 0)
    assert _store_state(spark, sa) == _store_state(spark, sb)
    # the merge actually happened: one component holds both seeds + the
    # bridge + the straggler, labeled by the global min doc id
    clus = {
        r.doc_id: r.cluster_id
        for r in spark.read.option("basePath", f"{sa}/clusters")
        .parquet(f"{sa}/clusters").collect()
    }
    assert (
        clus[100] == clus[200] == clus[300] == clus[202] == 100
    )


def test_incremental_requires_prior_full_compaction(spark, tmp_path):
    """A store that has only ever streamed (no cluster map / all-docs
    index / meta row) raises a descriptive error instead of guessing."""
    from tersets_spark.streaming.fuzzy_dedup_stream import (
        recompact_fuzzy_store_incremental,
    )

    inc = str(tmp_path / "inc")
    df = spark.createDataFrame([(1, G1)], "doc_id long, text string")
    process_fuzzy_batch(df, inc, batch_id=0, keep_dropped_texts=True)
    with pytest.raises(ValueError, match="full recompact"):
        recompact_fuzzy_store_incremental(spark, inc)


def test_incremental_nothing_new_is_a_noop(spark, tmp_path):
    """Immediately after a compaction the incremental pass reports
    nothing to do (and an empty store reports empty) — no partitions
    are rewritten."""
    from tersets_spark.streaming.fuzzy_dedup_stream import (
        recompact_fuzzy_store,
        recompact_fuzzy_store_incremental,
    )

    inc = str(tmp_path / "inc")
    assert recompact_fuzzy_store_incremental(spark, inc) == {
        "compacted": False, "reason": "empty store",
    }
    df = spark.createDataFrame([(1, G1), (2, G2)], "doc_id long, text string")
    process_fuzzy_batch(df, inc, batch_id=0, keep_dropped_texts=True)
    recompact_fuzzy_store(spark, inc)
    res = recompact_fuzzy_store_incremental(spark, inc)
    assert res == {
        "compacted": False,
        "reason": "nothing new since last compaction",
        "batch": 0,
    }


def test_incremental_cap_divergence_monotone(spark, tmp_path):
    """Pinned divergence under a binding bucket_cap: three IDENTICAL
    texts (identical signatures → identical buckets). Old state {A,B}
    fills each bucket to exactly cap=2 → edge honored, one cluster.
    X's arrival lifts every shared bucket to 3 > cap: the GLOBAL re-run
    drops ALL pairs (A,B,X all survive — it forgets the A~B duplicate
    it had already found), while the incremental pass is MONOTONE: it
    generates no new pairs (combined cap, matching the global rule for
    new edges) but never retracts the folded-in A~B group."""
    import shutil

    from tersets_spark.streaming.fuzzy_dedup_stream import (
        recompact_fuzzy_store,
        recompact_fuzzy_store_incremental,
    )

    params = dict(threshold=0.5, n_hashes=30, bands=15, bucket_cap=2)
    inc = str(tmp_path / "inc")
    df = spark.createDataFrame([(1, G1), (2, G1)], "doc_id long, text string")
    process_fuzzy_batch(df, inc, batch_id=0, keep_dropped_texts=True, **params)
    recompact_fuzzy_store(spark, inc, **params)
    df2 = spark.createDataFrame([(3, G1)], "doc_id long, text string")
    process_fuzzy_batch(df2, inc, batch_id=1, keep_dropped_texts=True, **params)

    full = str(tmp_path / "full")
    shutil.copytree(inc, full)

    ri = recompact_fuzzy_store_incremental(spark, inc)
    assert ri["compacted"] and ri["n_candidate_pairs"] == 0
    di = _decisions(spark, inc)
    assert di[1][0] == "survivor" and di[2][0] == "dup_in_batch"
    assert di[3][0] == "survivor"  # new doc correctly capped out

    rf = recompact_fuzzy_store(spark, full, **params)
    assert rf["compacted"]
    dfu = _decisions(spark, full)
    assert {s for s, _ in dfu.values()} == {"survivor"}  # global forgot A~B


def test_incremental_write_order_and_commit_marker(spark, tmp_path, monkeypatch):
    """Crash-safety contract of the incremental pass: dropped/ is
    written FIRST (text preservation — r8 ADVICE) and clusters/ LAST
    (the commit marker the next incremental keys on: a crash anywhere
    earlier makes the re-run redo the whole pass idempotently)."""
    import sys as _sys

    mod = _sys.modules["tersets_spark.streaming.fuzzy_dedup_stream"]

    a, b, c = _quarter_chain()
    params = dict(threshold=0.5, n_hashes=30, bands=15)
    inc = str(tmp_path / "inc")
    for bid, (doc, txt) in enumerate(((1, a), (2, b))):
        df = spark.createDataFrame([(doc, txt)], "doc_id long, text string")
        process_fuzzy_batch(
            df, inc, batch_id=bid, keep_dropped_texts=True, **params
        )
    mod.recompact_fuzzy_store(spark, inc, **params)
    df2 = spark.createDataFrame([(3, c)], "doc_id long, text string")
    process_fuzzy_batch(df2, inc, batch_id=2, keep_dropped_texts=True, **params)

    order: list[str] = []
    real = mod._promote_staged

    def spy(sp, root, bid):
        order.append(root.rsplit("/", 1)[-1])
        real(sp, root, bid)

    monkeypatch.setattr(mod, "_promote_staged", spy)
    res = mod.recompact_fuzzy_store_incremental(spark, inc)
    assert res["compacted"]
    assert order[0] == "dropped" and order[-1] == "clusters"


def test_recompact_crash_before_promotion_leaves_store_untouched(
    spark, tmp_path, monkeypatch
):
    """r9 staging contract: every compacted output is staged to
    ``.staged_batch-N`` dirs invisible to readers BEFORE any rename —
    a crash anywhere in the stage phase leaves the visible store
    byte-identical, the re-run redoes the compaction from scratch, and
    the leftover staged dirs are swept at the next compaction entry."""
    import sys as _sys

    mod = _sys.modules["tersets_spark.streaming.fuzzy_dedup_stream"]

    a, b, c = _quarter_chain()
    params = dict(threshold=0.5, n_hashes=30, bands=15)
    inc = str(tmp_path / "inc")
    for bid, (doc, txt) in enumerate(((1, a), (2, b), (3, c))):
        df = spark.createDataFrame([(doc, txt)], "doc_id long, text string")
        process_fuzzy_batch(
            df, inc, batch_id=bid, keep_dropped_texts=True, **params
        )
    def _snapshot():
        return {
            sub: sorted(
                str(sorted(r.asDict().items()))
                for r in mod._read_store(spark, f"{inc}/{sub}").collect()
            )
            for sub in ("survivors", "decisions", "dropped")
        }

    before = _snapshot()

    def boom(sp, root, bid):
        raise RuntimeError("injected crash before first promotion")

    monkeypatch.setattr(mod, "_promote_staged", boom)
    import pytest as _pytest

    spark.catalog.clearCache()
    with _pytest.raises(RuntimeError, match="injected crash"):
        mod.recompact_fuzzy_store(spark, inc, **params)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    # visible store unchanged — staged dirs are hidden from _read_store
    assert _snapshot() == before
    import os

    assert os.path.isdir(f"{inc}/clusters/.staged_batch-2")

    # re-run without the injected crash completes and sweeps the
    # leftover staged dirs
    monkeypatch.undo()
    res = mod.recompact_fuzzy_store(spark, inc, **params)
    assert res["compacted"] and res["n_survivors"] == 1
    for sub in mod._STORE_SUBDIRS:
        root = f"{inc}/{sub}"
        if os.path.isdir(root):
            assert not [
                d for d in os.listdir(root) if d.startswith(".staged_batch-")
            ]


def _ints(values, type_: str = "int64"):
    import pyarrow as pa

    return pa.array(list(values), type=type_)


def _write_partition(store: str, sub: str, batch: int, table: dict) -> None:
    """Hand-write one ``{sub}/batch=N`` store partition (no Spark job)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(store, sub, f"batch={batch}")
    os.makedirs(d, exist_ok=True)
    pq.write_table(pa.table(table), os.path.join(d, "part-0.parquet"))


def _md5_era_store(store: str) -> None:
    """A one-batch store as the retired md5 signature path wrote it:
    ``bucket`` is a ':'-joined decimal string."""
    _write_partition(store, "survivors", 0, {
        "doc_id": _ints([1]), "text": [G1],
    })
    _write_partition(store, "buckets", 0, {
        "doc_id": _ints([1] * 5), "band": _ints(range(5), "int32"),
        "bucket": [f"{b}1:{b}2:{b}3" for b in range(5)],
    })
    _write_partition(store, "decisions", 0, {
        "doc_id": _ints([1]), "status": ["survivor"], "matched": _ints([None]),
    })


def test_string_bucket_store_is_refused_until_full_recompact(spark, tmp_path):
    """A store whose buckets/ holds string buckets (the retired md5
    path) would join against no bigint bucket and silently find no
    earlier survivor: the next batch raises before writing anything.
    The full compaction reads no stored index, so it re-bands the store
    and the batch then matches its earlier survivor."""
    from tersets_spark.streaming.fuzzy_dedup_stream import recompact_fuzzy_store

    store = str(tmp_path / "store")
    _md5_era_store(store)
    df = spark.createDataFrame([(2, G1 + "!")], "doc_id long, text string")
    with pytest.raises(ValueError, match="not bigint"):
        process_fuzzy_batch(df, store, batch_id=1, keep_dropped_texts=True)
    assert sorted(os.listdir(store)) == ["buckets", "decisions", "survivors"]
    assert sorted(os.listdir(f"{store}/decisions")) == ["batch=0"]

    assert recompact_fuzzy_store(spark, store)["compacted"]
    buckets = spark.read.parquet(f"{store}/buckets")
    assert dict(buckets.dtypes)["bucket"] == "bigint"
    process_fuzzy_batch(df, store, batch_id=1, keep_dropped_texts=True)
    assert _decisions(spark, store)[2] == ("dup_of_earlier", 1)


def test_auditable_meta_row_is_refused(spark, tmp_path):
    """An incremental pass over a compaction whose meta/ row records a
    signature other than 'fast' raises instead of banding new docs
    against an index they cannot match."""
    from tersets_spark.streaming.fuzzy_dedup_stream import (
        recompact_fuzzy_store_incremental,
    )

    store = str(tmp_path / "store")
    _md5_era_store(store)
    _write_partition(store, "clusters", 0, {
        "doc_id": _ints([1]), "cluster_id": _ints([1]),
    })
    _write_partition(store, "allbuckets", 0, {
        "doc_id": _ints([1]), "band": _ints([0], "int32"),
        "bucket": ["1:2:3"], "n_bucket": _ints([1]),
    })
    _write_partition(store, "meta", 0, {
        "k_shingle": _ints([5], "int32"), "threshold": [0.5],
        "n_hashes": _ints([30], "int32"), "bands": _ints([5], "int32"),
        "bucket_cap": _ints([1024]), "seed": _ints([42]),
        "signature": ["auditable"],
    })
    _write_partition(store, "decisions", 1, {
        "doc_id": _ints([2]), "status": ["survivor"], "matched": _ints([None]),
    })
    with pytest.raises(ValueError, match="'auditable'"):
        recompact_fuzzy_store_incremental(spark, store)
