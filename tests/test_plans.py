"""Physical-plan audits: the properties that make the operators hold up
at 100 TB, asserted from .explain output (SURVEY.md §4.2).

These tests pin the *shape* of the plans: filters reach the parquet
scan, small sides broadcast, the flagship shuffles by no key, and no
accidental cartesian products appear.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from tersets_spark.methods import Method


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_parquet_scan(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    q = ev.filter(F.col("event_type") == "click").select("user_id", "value")
    plan = _plan(q)
    assert "PushedFilters" in plan
    assert re.search(r"PushedFilters:.*(IsNotNull|EqualTo)", plan), plan
    # column pruning: the scan must not read all 6 columns
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) <= 3, m.group(1) if m else plan


def test_rollup_events_is_partial_final_agg(spark):
    from tersets_spark.operators.rollup import rollup_events

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = _plan(rollup_events(ev, tier="1h"))
    # partial + final hash aggregation with exactly one exchange
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") == 1, plan


def test_flagship_single_exchange(spark):
    """The fused flagship (compress + verify + all tiers) is one global
    aggregate: the kernel finishes every tier per doc, so no grouping
    set (Expand) and no hash exchange remain — only the single-partition
    gather of the partial aggregates."""
    from tersets_spark.operators.pipeline import (
        flagship_summary,
        fused_compress_rollup,
    )
    from tersets_spark.sources.synth import synth_tokens

    toks = synth_tokens(spark, 8, max_len=500)
    q = flagship_summary(fused_compress_rollup(toks, Method.BitPackedDeltaEncoding))
    plan = _plan(q)
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Expand" not in plan, plan
    assert plan.count("Exchange") == 1, plan  # Exchange SinglePartition


def test_job_tier_tables_have_no_exchange(spark):
    """jobs/compact.py writes each tier as one explode of the persisted
    tier arrays: one mapInArrow kernel upstream, no exchange and no
    mapInPandas pass."""
    from tersets_spark.operators.rollup import TIERS, tier_arrays, tier_table
    from tersets_spark.sources.synth import synth_tokens

    arrays = tier_arrays(synth_tokens(spark, 8, max_len=500)).persist()
    for name in TIERS:
        plan = _plan(tier_table(arrays, name))
        assert "InMemoryTableScan" in plan, plan
        assert "Exchange" not in plan, plan
        assert plan.count("MapInArrow") == 1, plan
        assert "MapInPandas" not in plan, plan
    arrays.unpersist()


def test_ann_broadcasts_query_side(spark):
    from tersets_spark.operators.similarity import brute_topk_sql

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding")
    )
    q = brute_topk_sql(emb, emb.filter(F.col("vec_id") < 5), k=3)
    plan = _plan(q)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_gapfill_spine_no_cartesian(spark):
    from tersets_spark.operators.gapfill import gapfill
    from tersets_spark.operators.rollup import rollup_events

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    hourly = rollup_events(ev, tier="1h").select("user_id", "bucket", "vmean")
    q = gapfill(hourly, ["user_id"], 3600, ["vmean"])
    plan = _plan(q)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_compress_path_has_no_shuffle(spark):
    """compress_blocks must be a narrow pipeline: scan -> explode ->
    Python kernel, zero exchanges."""
    from tersets_spark.operators.compress import compress_blocks
    from tersets_spark.sources.synth import synth_tokens

    toks = synth_tokens(spark, 8, max_len=500)
    plan = _plan(compress_blocks(toks, Method.BitPackedDeltaEncoding))
    assert "Exchange" not in plan, plan


def test_minhash_join_is_equi_join(spark):
    from tersets_spark.operators.dedup import minhash_lsh_candidates

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    plan = _plan(minhash_lsh_candidates(docs, n_hashes=16, bands=4))
    assert "CartesianProduct" not in plan
    assert "hashpartitioning" in plan  # banded equi-join shuffles on bucket


def test_minhash_signature_udf_single_eval_per_side(spark):
    """The band_buckets pandas UDF must be evaluated exactly once per
    self-join side.  posexplode's pushed-down null/size filter otherwise
    makes Catalyst duplicate the (pure) UDF below AND above the filter —
    measured ArrowEvalPython x4 before the asNondeterministic marker,
    x2 after (r10 §8)."""
    from tersets_spark.operators.dedup import minhash_lsh_candidates

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    plan = _plan(minhash_lsh_candidates(docs, n_hashes=16, bands=4))
    assert plan.count("ArrowEvalPython") == 2, plan


def test_simhash_is_pure_catalyst(spark):
    """The round-2 rewrite: SimHash signatures must contain NO Python
    evaluation nodes — md5/conv/shift/bit-vote all JVM-side, votes as a
    partial+final aggregate."""
    from tersets_spark.operators.dedup import simhash_signatures

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    plan = _plan(simhash_signatures(docs))
    assert "EvalPython" not in plan, plan  # no Batch/ArrowEvalPython
    assert "partial" in plan.lower()
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan


def test_bucket_cap_stays_on_join_key(spark):
    """The degenerate-bucket guard must not add a second shuffle key:
    the count window partitions by the same (band, bucket) the self-join
    shuffles on."""
    from tersets_spark.operators.dedup import minhash_lsh_candidates

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    plan = _plan(minhash_lsh_candidates(docs, n_hashes=16, bands=4, bucket_cap=64))
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    # hash partitionings are either the (band, bucket) join/window key
    # or the final pair-distinct — nothing else
    parts = [m.group(1) for m in re.finditer(r"hashpartitioning\(([^)]*)\)", plan)]
    assert any("band" in k or "bucket" in k for k in parts), plan
    for keys in parts:
        assert ("band" in keys or "bucket" in keys) or (
            "id_a" in keys and "id_b" in keys
        ), keys


def test_ivf_join_is_equi_join_on_cell(spark):
    import numpy as np

    from tersets_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 5)
    cents = np.random.default_rng(0).normal(size=(8, 64))
    plan = _plan(ivf_topk(emb, queries, cents, k=3, nprobe=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan  # assignment is inlined-centroid Catalyst


def test_ivf_cell_cap_in_plan_and_effective(spark):
    """Legacy IVF hot-cell guard (``resplit=False``): the cap filter is
    a broadcast semi-join (not a count window), and a cap smaller than a
    degenerate cell drops that cell's corpus rows from the index."""
    import numpy as np

    from tersets_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 5)
    # ONE centroid -> every corpus row lands in the same (hot) cell
    cents = np.ones((1, 64))
    plan = _plan(
        ivf_topk(emb, queries, cents, k=3, nprobe=1, cell_cap=4, resplit=False)
    )
    # the guard must be the broadcast-semi-join shape (cell cardinality
    # is tiny, so a count window would funnel the corpus through
    # n_cells reducers) and must NOT add a full-data exchange
    assert "LeftSemi" in plan and "Broadcast" in plan, plan
    assert "EvalPython" not in plan
    n = ivf_topk(
        emb, queries, cents, k=3, nprobe=1, cell_cap=4, resplit=False
    ).count()
    assert n == 0  # the single degenerate cell exceeded the cap
    assert ivf_topk(emb, queries, cents, k=3, nprobe=1, cell_cap=None).count() > 0
    spark.catalog.clearCache()


def test_ivf_resplit_keeps_hot_cell_rows(spark):
    """Default IVF settings must NOT silently drop corpus rows: a hot
    cell is re-split into sub-centroids, every row stays in the index,
    and the drop metric reports zero (round-3 verdict item #3)."""
    import numpy as np

    from tersets_spark.operators.similarity import build_ivf_index, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding")
    )
    n_corpus = emb.count()
    # ONE centroid + a cap well below the corpus -> guaranteed hot cell
    cents = np.ones((1, 64))
    idx = build_ivf_index(emb, cents, cell_cap=100)
    assert idx.stats["n_hot"] == 1
    assert idx.stats["dropped_rows"] == 0, idx.stats
    assert idx.assigned.count() == n_corpus  # nothing left the index
    # more than one effective cell now exists, and probing works
    assert len(idx.cell_ids) > 1
    queries = emb.filter(F.col("vec_id") < 5)
    n = ivf_topk(
        emb, queries, cents, k=3, nprobe=2, cell_cap=100, index=idx
    ).count()
    assert n > 0
    idx.unpersist()
    # pathological cap (4 rows/cell over a 500-row degenerate cell):
    # residual drops are allowed but must be REPORTED, never silent
    idx2 = build_ivf_index(emb, cents, cell_cap=4)
    kept = idx2.assigned.count()
    assert kept + idx2.stats["dropped_rows"] == n_corpus
    idx2.unpersist()


def test_ivf_large_centroid_matrix_rides_broadcast_not_literals(spark):
    """Past _INLINE_LIT_LIMIT doubles, the centroid matrix must NOT be
    inlined as plan literals (a 1024x768 index would put ~800k literals
    in every plan): it rides a one-row broadcast cross join, keeping
    plan size constant. Values are bit-equal on both paths (same
    0.0-seeded fold), checked against the literal path."""
    import numpy as np

    from tersets_spark.operators.similarity import (
        _INLINE_LIT_LIMIT,
        _attach_cell_dots,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding")
    ).limit(20)
    big = np.random.default_rng(1).normal(size=(_INLINE_LIT_LIMIT // 64 + 8, 64))
    attached = _attach_cell_dots(emb, "embedding", big)
    plan = attached._jdf.queryExecution().executedPlan().toString()
    assert len(plan) < 200_000, len(plan)  # literal inlining would explode this
    assert "Broadcast" in plan, plan
    # bit-equality vs the literal path on a small slice of the matrix
    small = big[:4]
    a = _attach_cell_dots(emb, "embedding", small).select("vec_id", "_dots")
    import tersets_spark.operators.similarity as sim

    orig = sim._INLINE_LIT_LIMIT
    sim._INLINE_LIT_LIMIT = 0  # force broadcast for the same small matrix
    try:
        b = _attach_cell_dots(emb, "embedding", small).select("vec_id", "_dots")
        rows_a = {r["vec_id"]: r["_dots"] for r in a.collect()}
        rows_b = {r["vec_id"]: r["_dots"] for r in b.collect()}
    finally:
        sim._INLINE_LIT_LIMIT = orig
    assert set(rows_a) == set(rows_b)
    for k in rows_a:
        assert [(d["d"], d["c"]) for d in rows_a[k]] == [
            (d["d"], d["c"]) for d in rows_b[k]
        ]


def test_ivf_resplit_build_jobs_independent_of_n_hot(spark):
    """Round-4 verdict #4: hot-cell samples are gathered in ONE job (a
    per-batch local prune + one row_number window over ALL hot cells,
    not an orderBy().limit().collect() per cell), and sub-centroid
    re-assignment is a broadcast join (constant plan size, no per-cell
    literals) — so the build runs the same number of Spark jobs whether
    one cell or many cells are hot."""
    import numpy as np

    from tersets_spark.operators.similarity import build_ivf_index

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding")
    )
    sc = spark.sparkContext

    def build(cents, cap, group):
        sc.setJobGroup(group, group)
        try:
            idx = build_ivf_index(emb, cents, cell_cap=cap)
        finally:
            sc.setJobGroup("", "")
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        idx.unpersist()
        return idx, jobs

    idx1, j1 = build(np.ones((1, 64)), 100, "ivf_nhot_1")
    assert idx1.stats["n_hot"] == 1
    idx4, j4 = build(np.random.default_rng(7).normal(size=(4, 64)), 20, "ivf_nhot_4")
    assert idx4.stats["n_hot"] >= 3, idx4.stats
    # jobs must not SCALE with n_hot (a per-cell sample loop would add
    # >= n_hot jobs); +-1 tolerance absorbs AQE sub-job jitter
    assert j4 <= j1 + 1, (j1, j4)
    # broadcast-join shape: no per-sub-centroid literals in the plan
    idx5 = build_ivf_index(emb, np.ones((1, 64)), cell_cap=100)
    plan = idx5.assigned._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
    idx5.unpersist()
    spark.catalog.clearCache()


def test_textprofile_is_single_projection(spark):
    """lang-ID + quality + fingerprint must cost one scan-project: no
    exchange, no Python."""
    from tersets_spark.operators.textstats import (
        fingerprint_md5,
        lang_guess,
        quality_score,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    q = docs.select(
        "doc_id",
        lang_guess("text").alias("lang"),
        quality_score("text").alias("quality"),
        fingerprint_md5("text").alias("fp64"),
    )
    plan = _plan(q)
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_catalog_verify_plan_shape(spark):
    """The consolidated catalog sweep must keep the explicit
    repartition fan-out (AQE would coalesce the tiny rows onto one core
    and serialize ~21 kernel runs per doc) and aggregate per-batch
    partials — the shuffle after the Python stage carries only
    (method, n, ok) rows, one per entry per batch."""
    import __spark_entry__ as e
    from tersets_spark.operators.compress import catalog_verify

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    toks = docs.select(
        "doc_id",
        F.expr(
            "transform(split(text, ''), c -> ascii(c))"
        ).alias("tokens"),
        F.length("text").alias("n_tok"),
    )
    df = catalog_verify(toks, e._BOUND_CATALOG)
    plan = _plan(df)
    # explicit round-robin/hash repartition before the Python stage
    assert "Exchange" in plan, plan
    assert "FlatMapsInPandas" in plan or "MapInPandas" in plan, plan
    # final agg over the partials (hash agg, no window / no cartesian)
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_connected_components_equi_only_and_bounded_jobs(spark):
    """Round-6 verdict #1 'done' gate: a star round is pure node-keyed
    window aggregation (NO cartesian/broadcast-nested-loop joins), and
    the iteration runs a bounded number of Spark jobs — 2 actions per
    round (eager checkpoint + convergence checksum), never per-node or
    per-edge driver work."""
    from tersets_spark.operators.dedup import _star_round, connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_a long, id_b long"
    )
    # plan shape of one round: windows + unions only
    edges = chain.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    ).distinct()
    plan = _plan(_star_round(edges))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "EvalPython" not in plan, plan  # no Python in the loop
    assert "Window" in plan

    # job count: bounded PER ROUND (O(log^2 n) rounds total), never per
    # node or per edge. Each round is 2 actions (eager checkpoint +
    # checksum), but AQE materializes each exchange as a sub-job, so
    # the per-round job count is a small constant (~9 measured), not 2
    # — the test instruments the round count and asserts the ratio.
    import tersets_spark.operators.dedup as dd

    rounds = [0]
    orig_round = dd._star_round

    def counting_round(e):
        rounds[0] += 1
        return orig_round(e)

    sc = spark.sparkContext
    group = "cc_jobs_chain64"
    dd._star_round = counting_round
    sc.setJobGroup(group, group)
    try:
        labels = {r.node: r.cluster_id for r in connected_components(chain).collect()}
    finally:
        sc.setJobGroup("", "")
        dd._star_round = orig_round
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert labels == {i: 0 for i in range(65)}
    assert 1 <= rounds[0] <= 10, rounds[0]  # O(log^2 n) on a 64-chain
    # 12 jobs/round of AQE slack + setup/collect overhead; a per-node
    # driver loop (65 nodes) would blow through this
    assert jobs <= 12 * rounds[0] + 10, (jobs, rounds[0])
