"""Training-pipeline operators: similarity recall, embedding near-dups,
language guess, latest-wins merge."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


def _emb_df(spark, n=120, dim=16, seed=3, dup_pairs=5):
    rng = np.random.default_rng(seed)
    vecs = rng.normal(size=(n, dim)).astype(np.float32)
    for k in range(dup_pairs):  #近-duplicates: tiny perturbations
        vecs[n - 1 - k] = vecs[k] + rng.normal(0, 1e-3, dim).astype(np.float32)
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>"), vecs


def _clustered_emb_df(spark, n=120, dim=16, k=8, seed=4):
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(k, dim))
    vecs = centers[np.arange(n) % k] + rng.normal(0, 0.15, (n, dim))
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_lsh_topk_recall_vs_brute(spark):
    """On clustered embeddings (the realistic ANN workload) hyperplane
    LSH with 1-bit multi-probe should find almost every rank-1
    neighbor; unstructured gaussian data is its documented weak case."""
    from tersets_spark.operators.similarity import brute_topk_sql, lsh_topk

    emb = _clustered_emb_df(spark)
    queries = emb.filter(F.col("vec_id") < 15)
    brute = {
        (r.query_id, r.rank): r.neighbor_id
        for r in brute_topk_sql(emb, queries, k=3).collect()
    }
    approx = {
        (r.query_id, r.rank): r.neighbor_id
        for r in lsh_topk(emb, queries, k=3, n_planes=6).collect()
    }
    hits = sum(
        1 for q in range(15) if approx.get((q, 1)) == brute.get((q, 1))
    )
    assert hits >= 13, f"rank-1 recall too low: {hits}/15"


def test_ivf_topk_recall_vs_brute(spark):
    """IVF (the primary ANN scale path) on clustered embeddings: probing
    a quarter of the cells should recover nearly all exact top-3."""
    from tersets_spark.operators.similarity import (
        brute_topk_sql,
        ivf_mean_recall,
        ivf_topk,
        train_centroids,
    )

    emb = _clustered_emb_df(spark)
    queries = emb.filter(F.col("vec_id") < 15)
    cents = train_centroids(emb, n_cells=16)
    assert cents.shape == (16, 16)
    # deterministic training: same sample + seed -> identical centroids
    assert np.array_equal(cents, train_centroids(emb, n_cells=16))
    brute = {
        (r.query_id, r.rank): r.neighbor_id
        for r in brute_topk_sql(emb, queries, k=3).collect()
    }
    approx = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ivf_topk(emb, queries, cents, k=3, nprobe=4).collect()
    }
    hits = sum(1 for q in range(15) if approx.get((q, 1)) == brute.get((q, 1)))
    assert hits >= 13, f"rank-1 recall too low: {hits}/15"
    row = ivf_mean_recall(
        emb, queries, cents, k=3, nprobe=4, recall_floor=0.5
    ).collect()[0]
    assert row.n_queries == 15 and bool(row.mean_recall_ok)


def test_lsh_bucket_cap_drops_degenerate_buckets(spark):
    """The degenerate-bucket guard: identical texts all land in one
    MinHash bucket; with a cap below the group size the quadratic
    self-join never sees them."""
    from tersets_spark.operators.dedup import minhash_lsh_candidates

    rows = [(i, "same boilerplate text everywhere") for i in range(30)]
    rows += [(100 + i, f"unique document number {i} with words {i*7}") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = minhash_lsh_candidates(df, bucket_cap=10)
    # the 30-duplicate bucket exceeded the cap: no pair touches it
    assert capped.filter(F.col("id_a") < 100).count() == 0
    uncapped = minhash_lsh_candidates(df, bucket_cap=None)
    assert uncapped.filter(F.col("id_a") < 100).count() == 30 * 29 // 2


def test_embedding_near_dups_finds_planted_pairs(spark):
    from tersets_spark.operators.dedup import embedding_near_dups

    emb, _ = _emb_df(spark, dup_pairs=5)
    pairs = {
        (r.id_a, r.id_b)
        for r in embedding_near_dups(
            emb, vec_col="embedding", id_col="vec_id", threshold=0.999, dim=16
        ).collect()
    }
    planted = {(k, 119 - k) for k in range(5)}
    assert planted <= pairs, f"missed planted near-dups: {planted - pairs}"


def test_embedding_near_dups_requires_dim(spark):
    """r6 verdict #6: plan construction must be action-free — the old
    dim=None fallback ran a full-table Spark job inside DataFrame
    *construction*. Omitting dim now raises instead of scanning."""
    import pytest as _pytest

    from tersets_spark.operators.dedup import embedding_near_dups

    emb, _ = _emb_df(spark)
    with _pytest.raises(ValueError, match="requires dim"):
        embedding_near_dups(emb, vec_col="embedding", id_col="vec_id")


def test_brute_topk_numpy_matches_sql(spark):
    from tersets_spark.operators.similarity import brute_topk_numpy, brute_topk_sql

    emb, vecs = _emb_df(spark, n=60)
    queries = emb.filter(F.col("vec_id") < 10)
    sql_res = {
        (r.query_id, r.rank): r.neighbor_id
        for r in brute_topk_sql(emb, queries, k=4).collect()
    }
    np_res = {
        (r.query_id, r.rank): r.neighbor_id
        for r in brute_topk_numpy(
            emb,
            vecs[:10].astype(np.float64),
            np.arange(10),
            k=4,
        ).collect()
    }
    assert sql_res == np_res


def test_lang_guess(spark):
    from tersets_spark.operators.textstats import lang_guess

    rows = [
        (1, "the cat sat on the mat and it was happy for a while"),
        (2, "der hund ist nicht mit der katze und das ist gut so"),
        (3, "le chat est sur la table et il est content pour un moment"),
        (4, "el perro y el gato es que una casa en la calle"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r.id: r.lang for r in df.select("id", lang_guess().alias("lang")).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "es"}


def test_latest_wins_merges_frames(spark):
    from tersets_spark.operators.upsert import latest_wins

    a = spark.createDataFrame(
        [("k1", 1, 10.0), ("k2", 1, 20.0)], "key string, ver int, val double"
    )
    b = spark.createDataFrame(
        [("k1", 2, 11.0), ("k3", 1, 30.0)], "key string, ver int, val double"
    )
    out = {r.key: (r.ver, r.val) for r in latest_wins(a, ["key"], "ver", b).collect()}
    assert out == {"k1": (2, 11.0), "k2": (1, 20.0), "k3": (1, 30.0)}


def _union_find_components(pairs):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def test_connected_components_matches_union_find(spark):
    """Alternating large/small-star must label every node with its
    component MINIMUM, on adversarial shapes: long chains (worst-case
    round count), stars, cliques, singleton pairs, and random graphs."""
    from tersets_spark.operators.dedup import connected_components

    rng = np.random.default_rng(7)
    graphs = [
        [(i, i + 1) for i in range(40)],              # one long chain
        [(0, i) for i in range(1, 20)],               # star at the min
        [(i, 19) for i in range(19)],                 # star at the max
        [(a, b) for a in range(8) for b in range(a + 1, 8)],  # clique
        [(100, 101), (200, 201), (300, 301)],         # disjoint pairs
    ]
    for _ in range(3):
        n = int(rng.integers(10, 60))
        m = int(rng.integers(5, 80))
        graphs.append(
            [tuple(map(int, rng.integers(0, n, 2))) for _ in range(m)]
        )
    for pairs in graphs:
        pairs = [(a, b) for a, b in pairs if a != b]
        if not pairs:
            continue
        expected = _union_find_components(pairs)
        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        got = {
            r.node: r.cluster_id
            for r in connected_components(df).collect()
        }
        assert got == expected, f"mismatch on {pairs[:6]}..."


def test_connected_components_mega_hub_star(spark):
    """r6 verdict #4 (degree guard): round-1 behavior on a 10^5-star.

    ``Window.partitionBy("u")`` puts ALL edges of a node in one task,
    so the FIRST large-star round on a degenerate hub (one doc near-dup
    to everything) is a single-task hotspot — the known property of the
    Kiveris algorithm; large-star then breaks the star up, so rounds
    after the first are balanced. This test pins that the hub round (a)
    completes as one bounded window pass with no memory blow-up at
    10^5 edges on one node, and (b) produces exact min-labels, with the
    hub at the component MAX id so both star operations must actually
    rewire through it. The production hardening if a real corpus ever
    presents a 10^8-degree hub — a degree-salted two-phase min for
    round 1 — is documented in ``connected_components``; at 10^5 the
    plain window round is demonstrably fine (this test runs in
    seconds), so the guard threshold sits well above anything LSH
    bucket caps can emit (bucket_cap^2/2 pairs per bucket bounds the
    degree a single bucket can contribute)."""
    from tersets_spark.operators.dedup import connected_components

    n = 100_000
    hub = n + 7  # strictly larger than every leaf id
    df = (
        spark.range(n)
        .select(F.col("id").alias("id_a"), F.lit(hub).alias("id_b"))
    )
    labels = connected_components(df)
    agg = labels.agg(
        F.count("*").alias("n"),
        F.countDistinct("cluster_id").alias("k"),
        F.min("cluster_id").alias("lo"),
        F.max("cluster_id").alias("hi"),
    ).first()
    assert (agg["n"], agg["k"], agg["lo"], agg["hi"]) == (n + 1, 1, 0, 0)


def test_connected_components_empty_pairs(spark):
    from tersets_spark.operators.dedup import connected_components

    df = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(df).count() == 0


def test_connected_components_collect_path_parity(spark):
    """Round 10: the driver union-find fast path (collect_threshold)
    must label identically to the distributed star rounds — component
    minima, every node present — and must only engage at or below the
    threshold (an over-threshold graph runs the distributed loop and
    reports its real round count)."""
    from tersets_spark.operators.dedup import connected_components

    rng = np.random.default_rng(11)
    pairs = [tuple(map(int, rng.integers(0, 50, 2))) for _ in range(80)]
    pairs = [(a, b) for a, b in pairs if a != b]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    st_fast: dict = {}
    fast = {
        r.node: r.cluster_id
        for r in connected_components(
            df, stats=st_fast, collect_threshold=10_000
        ).collect()
    }
    st_dist: dict = {}
    dist = {
        r.node: r.cluster_id
        for r in connected_components(df, stats=st_dist).collect()
    }
    assert fast == dist
    assert st_fast["cc_rounds"] == 0
    assert st_dist["cc_rounds"] >= 1
    # a threshold below the edge count must NOT collect: distributed
    st_small: dict = {}
    over = {
        r.node: r.cluster_id
        for r in connected_components(
            df, stats=st_small, collect_threshold=1
        ).collect()
    }
    assert over == dist
    assert st_small["cc_rounds"] >= 1


def test_ngram_jaccard_pairs_matches_sql_set_ops(spark):
    """Round 10: the mapInPandas Jaccard verify must reproduce the
    former Catalyst array_intersect/array_union expression bit-for-bit
    (including short texts, duplicate-heavy texts, and sub-threshold
    pruning) and drop pairs with a null text."""
    from tersets_spark.operators.dedup import ngram_jaccard_pairs, shingles

    rows = [
        (1, "abcdefghij"), (2, "abcdefghiX"), (3, "abc"),
        (4, "abc"), (5, "aaaaaaaaaaaa"), (6, "aaaaabaaaaa"),
        (7, None), (8, "abcdefghij klm nop"), (9, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ids = [r[0] for r in rows]
    cands = spark.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b], "id_a long, id_b long"
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, cands, threshold=0.2).collect()
    }
    # reference: the old Catalyst expression, inline
    sh = docs.select(
        F.col("doc_id").alias("_id"), shingles("text", 5).alias("_sh")
    )
    a = sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"))
    b = sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"))
    ref = {
        (r.id_a, r.id_b): r.jaccard
        for r in cands.join(a, "id_a").join(b, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= 0.2)
        .select("id_a", "id_b", "jaccard")
        .collect()
    }
    assert got == ref
    assert all(7 not in p for p in got)  # null text never verifies


def test_resolve_duplicate_groups_survivors(spark):
    """Survivor = component-minimum doc; cluster_size counts members."""
    from tersets_spark.operators.dedup import resolve_duplicate_groups

    pairs = [(5, 3), (3, 9), (20, 21)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    rows = {r.doc_id: r for r in resolve_duplicate_groups(df).collect()}
    assert set(rows) == {3, 5, 9, 20, 21}
    assert all(rows[d].cluster_id == 3 for d in (3, 5, 9))
    assert all(rows[d].cluster_size == 3 for d in (3, 5, 9))
    assert rows[3].is_survivor and not rows[5].is_survivor
    assert rows[20].cluster_id == 20 and rows[20].is_survivor
    assert rows[21].cluster_size == 2 and not rows[21].is_survivor


def test_fuzzy_dedup_pipeline_end_to_end(spark):
    """Full production flow on a corpus with two planted dup groups:
    survivors are the component minima, stats records CC rounds, and a
    signature other than 'fast' is refused."""
    from tersets_spark.operators.dedup import fuzzy_dedup_pipeline

    g1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    g2 = "one two three four five six seven eight nine ten eleven twelve ok"
    rows = [
        (10, g1), (11, g1 + "!"), (12, g1 + " ?"),
        (20, g2), (21, g2 + "."),
        (30, "totally unrelated document content about bitpacked delta encoding"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    stats: dict = {}
    out = {r.doc_id: r for r in fuzzy_dedup_pipeline(df, stats=stats).collect()}
    assert set(out) == {10, 11, 12, 20, 21}
    assert all(out[d].cluster_id == 10 for d in (10, 11, 12))
    assert all(out[d].cluster_id == 20 for d in (20, 21))
    assert out[10].is_survivor and out[20].is_survivor
    assert not out[11].is_survivor and not out[21].is_survivor
    # small verified-pair graphs opt into the driver union-find
    # fast path (cc_rounds == 0); the distributed star rounds are
    # pinned by the connected_components tests below
    assert stats["cc_rounds"] == 0
    with pytest.raises(ValueError, match="signature"):
        fuzzy_dedup_pipeline(df, signature="auditable")
