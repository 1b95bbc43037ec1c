"""Streaming fuzzy (near-duplicate) deduplication — incremental
MinHash-LSH dedup of an unbounded document stream via ``foreachBatch``
against a persistent survivor store.

Why this is NOT ``applyInPandasWithState`` (the exact-dedup design,
dedup_stream.py): exact dedup has ONE state key per doc (the content
hash), so first-wins is a single keyed reduction. A near-dup doc spans
``bands`` LSH keys, and the keep/drop decision is global across all of
them (drop iff ANY band matches an earlier survivor that Jaccard-
verifies), after which the survivor's signature must be inserted into
ALL its band buckets atomically — a cross-key transaction that keyed
per-partition state cannot express (two chained stateful stages cannot
see each other's in-flight updates within a micro-batch). The standard
production design is what this module implements: ``foreachBatch``
resolves each micro-batch with the full BATCH operator stack, then
joins the batch's survivors against an append-only store of earlier
survivors (texts + LSH bucket index) and keeps only docs that verify
against no earlier survivor.

Semantics (retraction-free, append-only — document carefully):

- A whole corpus fed as ONE batch reproduces
  :func:`~tersets_spark.operators.dedup.fuzzy_dedup_pipeline` exactly
  (the in-batch stage IS that pipeline).
- Across batches the guarantee is GREEDY ARRIVAL-ORDER maximal
  independent set: no emitted survivor Jaccard-verifies (>= threshold)
  against any earlier-batch survivor; within one batch, full
  connected-component semantics apply.
- Divergence from a global batch run, pinned by test: transitive
  chains THROUGH a dropped doc across batch boundaries are broken.
  If batch 1 keeps A, batch 2 drops B (near-dup of A), and batch 3
  brings C with jaccard(C,B) >= t but jaccard(C,A) < t, then C
  SURVIVES here while a global batch CC run over {A,B,C} would keep
  only A. This is fundamental to streaming: an exact incremental CC
  would need the new edge (B,C) to merge clusters and retract the
  already-emitted survivor decision, and an append-only output cannot
  retract.

Compaction restores chain-exact groups. :func:`recompact_fuzzy_store`
and :func:`recompact_fuzzy_store_incremental` are thin entry points over
one core, :func:`_recompact`, which re-resolves the delta docs against a
prior compacted state (cluster map + all-docs LSH index). The
incremental pass reads that state from the store; the full compaction
runs the core over an empty prior state, where every seen doc is a
delta doc and the pass is the global batch run.

Scale notes (100 TB stream): per micro-batch cost is the in-batch
pipeline (near-linear in batch size — capped LSH join, pair-restricted
verify, join-free CC) plus one equi-join of the batch's band buckets
against the store index on (band, bucket) — candidate volume is
near-linear in true cross-batch duplicates. The store only grows with
SURVIVORS (near-dups are never inserted), so a bucket's population is
bounded by distinct non-duplicate content sharing a 64-bit band
bucket; ``verify_cap`` bounds the per-doc verify fan-out against
adversarial boilerplate regardless. Writes are partitioned by
micro-batch id and use dynamic partition overwrite, so a replayed
batch (foreachBatch's at-least-once contract) rewrites its own
partition instead of duplicating rows — idempotent without a
transactional table format (swap the store for Delta/Iceberg in
production for snapshot isolation between concurrent readers).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException
from pyspark.sql.window import Window

from tersets_spark.operators.dedup import (
    _CC_COLLECT_EDGES,
    MINHASH_SEED,
    connected_components,
    fuzzy_dedup_pipeline,
    minhash_index,
    ngram_jaccard_pairs,
)

__all__ = [
    "process_fuzzy_batch",
    "fuzzy_dedup_stream",
    "read_decisions",
    "recompact_fuzzy_store",
    "recompact_fuzzy_store_incremental",
]


def _read_store(spark: SparkSession, path: str) -> DataFrame | None:
    try:
        return spark.read.option("basePath", path).parquet(path)
    except AnalysisException:
        return None  # store empty: first batch (or no partition yet)


#: why a store is refused, and the way out: the full compaction reads no
#: stored index and rewrites every one, so it brings such a store over
_FOREIGN = (
    "the store was written by an earlier MinHash signature path; run "
    "recompact_fuzzy_store once, which re-bands every seen doc"
)


def process_fuzzy_batch(
    batch_df: DataFrame,
    store_path: str,
    batch_id: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 5,
    threshold: float = 0.5,
    n_hashes: int = 30,
    bands: int = 5,
    bucket_cap: int | None = 1024,
    verify_cap: int = 256,
    keep_dropped_texts: bool = False,
) -> None:
    """Resolve ONE micro-batch against the survivor store (see module
    docstring for semantics). Writes three partitioned outputs under
    ``store_path``: ``survivors/`` (doc_id, text), ``buckets/`` the LSH
    index rows of new survivors, and ``decisions/`` one row per input
    doc — (doc_id, status in {'survivor','dup_in_batch','dup_of_earlier'},
    matched = the earlier survivor id or null).

    ``keep_dropped_texts=True`` additionally writes ``dropped/``
    (doc_id, text of this batch's non-survivors) so
    :func:`recompact_fuzzy_store` can restore chain-exact groups without
    a replayable corpus — opt-in because it makes the store grow with
    ALL docs instead of survivors only.

    Callable directly (unit tests / backfill drivers) or through
    :func:`fuzzy_dedup_stream`. Doc ids must be globally unique across
    the stream (standard for ingestion ids)."""
    spark = batch_df.sparkSession
    # The store view is STRICTLY EARLIER batches: a foreachBatch replay
    # of batch_id must not see its own first attempt's partitions (the
    # batch's docs would self-match and be dropped), nor leftovers of a
    # crashed later batch. batch ids are monotone in a stream, so
    # `batch < batch_id` is exactly "committed history". Read before any
    # work, so a store of another signature path fails cleanly: its
    # string buckets would join against no bigint bucket and silently
    # find no earlier survivor.
    store_buckets = _read_store(spark, f"{store_path}/buckets")
    if store_buckets is not None:
        kind = dict(store_buckets.dtypes)["bucket"]
        if kind != "bigint":
            raise ValueError(
                f"{store_path}/buckets holds {kind}, not bigint, buckets: {_FOREIGN}"
            )
        store_buckets = store_buckets.filter(F.col("batch") < int(batch_id))
    # survivors are always written before buckets, but the stores can
    # diverge under retention / manual cleanup — treat a missing
    # survivors store like a missing bucket index: no committed history.
    old_texts = _read_store(spark, f"{store_path}/survivors")
    docs = batch_df.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col(text_col).alias("text")
    )

    # 1) in-batch resolution: the full production batch flow.
    clusters = fuzzy_dedup_pipeline(
        docs,
        text_col="text",
        id_col="doc_id",
        k_shingle=k_shingle,
        threshold=threshold,
        n_hashes=n_hashes,
        bands=bands,
        bucket_cap=bucket_cap,
    )
    # Stage the two HEAVY sub-plan results once each (.tmp_batch-N is
    # dot-hidden like the staged partitions; swept after promote and by
    # the next compaction). Without this, every staged output below
    # re-executed the in-batch resolution and the cross-batch verify —
    # 2× the batch's compute, and 2× its peak memory footprint (the
    # 50k-doc replica probe OOM'd during the SECOND concurrent
    # execution of the verify plan).
    tmp_root = f"{store_path}/.tmp_batch-{int(batch_id)}"
    dropped_in_batch = _stage_df(
        spark,
        clusters.filter(~F.col("is_survivor")).select("doc_id"),
        f"{tmp_root}/dropped_in_batch",
    )
    batch_survivors = _stage_df(
        spark,
        docs.join(dropped_in_batch, "doc_id", "left_anti"),
        f"{tmp_root}/batch_survivors",
    )

    # 2) cross-batch: batch survivors' band buckets vs the store index.
    banded = minhash_index(
        batch_survivors, "text", "doc_id", k_shingle, n_hashes, bands
    ).withColumnRenamed("_id", "doc_id").persist()
    banded.count()  # materialize: read twice (history join + store append)
    # no history: an empty match set. limit(0) lets the optimizer fold
    # its joins away; a list-built frame alone is a Python-RDD scan it
    # cannot see is empty
    matched = spark.createDataFrame([], "doc_id long, matched long").limit(0)
    if store_buckets is not None and old_texts is not None:
        cand = (
            banded.alias("n")
            .join(
                store_buckets.select(
                    F.col("doc_id").alias("old_id"), "band", "bucket"
                ).alias("o"),
                ["band", "bucket"],
            )
            .select(F.col("old_id").alias("id_a"), F.col("n.doc_id").alias("id_b"))
            .distinct()
        )
        # bound the verify fan-out per new doc; earliest survivors first
        # (deterministic under replay).
        cand = (
            cand.withColumn(
                "_rk",
                F.row_number().over(Window.partitionBy("id_b").orderBy("id_a")),
            )
            .filter(F.col("_rk") <= verify_cap)
            .drop("_rk")
        )
        texts = batch_survivors.unionByName(
            old_texts.filter(F.col("batch") < int(batch_id))
            .select("doc_id", "text")
        )
        verified = ngram_jaccard_pairs(
            texts, cand, text_col="text", id_col="doc_id",
            k_shingle=k_shingle, threshold=threshold,
        )
        # keep the earliest verified survivor as the recorded match;
        # staged once — the verify join above is the batch's most
        # expensive plan and feeds three outputs below
        matched = _stage_df(
            spark,
            verified.groupBy(F.col("id_b").alias("doc_id")).agg(
                F.min("id_a").alias("matched")
            ),
            f"{tmp_root}/matched",
        )

    new_survivors = batch_survivors.join(
        matched.select("doc_id"), "doc_id", "left_anti"
    )
    decisions = (
        docs.select("doc_id")
        .join(dropped_in_batch.withColumn("_ib", F.lit(True)), "doc_id", "left")
        .join(matched, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_ib"), F.lit("dup_in_batch"))
            .when(F.col("matched").isNotNull(), F.lit("dup_of_earlier"))
            .otherwise(F.lit("survivor"))
            .alias("status"),
            "matched",
        )
    )

    # 3) idempotent partitioned writes, stage-then-rename (r9 — same
    #    design as the compaction paths, see :func:`_stage_partition`).
    #    Everything derived from a store READ must have its parquet
    #    lineage SEVERED before any visible partition is replaced: a
    #    foreachBatch replay of batch_id reads buckets/survivors
    #    partitions that the promote below deletes, and a lazy (or
    #    cache-evicted) plan would re-scan the deleted files mid-write.
    #    Staging writes each output exactly once to a hidden dir and
    #    re-reads it — the same sever the former eager localCheckpoint
    #    gave, without pinning batch-sized text blocks in the block
    #    manager (in local mode that is DRIVER heap; a 50k-doc replica
    #    run OOM'd on exactly that residency after a few batches). In
    #    production swap the store for a transactional table
    #    (Delta/Iceberg snapshot isolation) and the ordering concern
    #    disappears.
    new_survivors = _stage_partition(
        spark, new_survivors, f"{store_path}/survivors", batch_id
    )
    _stage_partition(
        spark,
        banded.join(new_survivors.select("doc_id"), "doc_id", "left_semi"),
        f"{store_path}/buckets",
        batch_id,
    )
    _stage_partition(spark, decisions, f"{store_path}/decisions", batch_id)
    if keep_dropped_texts:
        _stage_partition(
            spark,
            docs.join(new_survivors.select("doc_id"), "doc_id", "left_anti"),
            f"{store_path}/dropped",
            batch_id,
        )
    banded.unpersist()
    # promote: survivors first, index second — a crash between the two
    # leaves a survivor invisible to LSH lookup (a missed dedup,
    # self-healing on replay) rather than an index row pointing at a
    # missing text.
    _promote_staged(spark, f"{store_path}/survivors", batch_id)
    _promote_staged(spark, f"{store_path}/buckets", batch_id)
    _promote_staged(spark, f"{store_path}/decisions", batch_id)
    if keep_dropped_texts:
        _promote_staged(spark, f"{store_path}/dropped", batch_id)
    _delete_dir(spark, tmp_root)


def fuzzy_dedup_stream(stream: DataFrame, store_path: str, **params):
    """Wire :func:`process_fuzzy_batch` as a ``foreachBatch`` sink over
    a streaming DataFrame; returns the DataStreamWriter (caller adds
    checkpointLocation / trigger and ``.start()``s)."""

    def _proc(batch_df: DataFrame, batch_id: int) -> None:
        process_fuzzy_batch(batch_df, store_path, batch_id, **params)

    return stream.writeStream.foreachBatch(_proc)


def _hpath(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` of ``path`` through the Hadoop FS API, so
    the same code works on local disk, HDFS, or object stores."""
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), hpath


def _delete_batch_partitions_below(
    spark: SparkSession, root: str, below: int
) -> None:
    """Drop ``batch=N`` partition dirs with N < below."""
    fs, hroot = _hpath(spark, root)
    if not fs.exists(hroot):
        return
    for st in fs.listStatus(hroot):
        name = st.getPath().getName()
        if name.startswith("batch=") and int(name[6:]) < below:
            fs.delete(st.getPath(), True)


_STORE_SUBDIRS = (
    "survivors", "buckets", "decisions", "dropped",
    "allbuckets", "meta", "clusters",
)


def _stage_partition(
    spark: SparkSession, df: DataFrame, root: str, batch_id: int
) -> DataFrame:
    """Write ``df`` once to a dot-prefixed staging dir under ``root``
    (hidden from Spark's file index, so :func:`_read_store` never sees
    it) and return a re-read whose lineage is the staged files.

    Naming: the dir must be DOT-prefixed specifically — Spark's
    hidden-path rule exempts ``_``-prefixed names containing ``=``
    (an ``_staged_batch=2`` dir is parsed as a partition column and
    breaks the store's ``batch=N`` discovery with
    CONFLICTING_PARTITION_COLUMN_NAMES; pinned by the crash test).
    Spark logs a benign ``All paths were ignored`` warning when the
    explicitly-passed hidden path resolves for the read-back; the read
    still returns the staged rows (also pinned).

    This is the disk-backed replacement for the compaction paths'
    former ``localCheckpoint(eager=True)``: it severs lineage from the
    store partitions about to be rewritten without pinning a
    corpus-sized dataset in block-manager memory (a 50k-doc replica
    probe OOM'd an 8 GiB local-mode driver heap on exactly that), and
    without localCheckpoint's non-reliable-checkpoint failure mode on a
    real cluster (an executor lost after the checkpoint makes its
    blocks unrecoverable mid-job; staged parquet on the store's own
    filesystem survives any worker loss). Promotion into ``batch=N``
    is a filesystem rename (:func:`_promote_staged`) — the data is
    written exactly once, same total I/O as the direct overwrite."""
    return _stage_df(spark, df, f"{root}/.staged_batch-{int(batch_id)}")


def _stage_df(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Materialize ``df`` exactly once to ``path`` (parquet, overwrite)
    and return a re-read whose lineage is the written files. The
    disk-backed equivalent of ``localCheckpoint(eager=True)`` for plans
    that feed several downstream outputs: each consumer re-reads cheap
    parquet instead of re-executing the producing sub-plan (the batch
    path's in-batch resolution and cross-batch verify are exactly such
    producers — without this they executed once per staged output)."""
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _delete_dir(spark: SparkSession, path: str) -> None:
    fs, hpath = _hpath(spark, path)
    if fs.exists(hpath):
        fs.delete(hpath, True)


def _promote_staged(spark: SparkSession, root: str, batch_id: int) -> None:
    """Move ``.staged_batch-N`` into place as ``batch=N``: rename the
    old partition ASIDE (``.old_batch-N``), rename the staged dir in,
    then drop the aside copy (r9 ADVICE — deleting the live dir first
    left a crash window where a demoted survivor's text existed in NO
    visible store and only manual recovery of the hidden staged dir
    could unwedge the next compaction's coverage assertion; now a crash
    anywhere in the promote leaves every byte on disk in at most three
    metadata ops, and the aside copy makes recovery a rename). On
    object stores rename is a copy; production should use a
    transactional table format for true atomic swap, as documented on
    :func:`recompact_fuzzy_store`."""
    fs, src = _hpath(spark, f"{root}/.staged_batch-{int(batch_id)}")
    dst = _hpath(spark, f"{root}/batch={int(batch_id)}")[1]
    aside = _hpath(spark, f"{root}/.old_batch-{int(batch_id)}")[1]
    if fs.exists(aside):  # leftover from a crash mid-promote
        fs.delete(aside, True)
    if fs.exists(dst):
        if not fs.rename(dst, aside):
            raise IOError(f"staged promote failed: rename {dst} -> {aside}")
    if not fs.rename(src, dst):
        raise IOError(f"staged promote failed: rename {src} -> {dst}")
    if fs.exists(aside):
        fs.delete(aside, True)


def _delete_staged_dirs(
    spark: SparkSession, store_path: str, upto: int | None = None
) -> None:
    """Drop leftover ``.staged_batch-*`` / ``.old_batch-*`` dirs from a
    compaction that crashed mid-stage/mid-promote, and ``.tmp_batch-*``
    intermediates from a batch that crashed mid-write (all invisible to
    readers, but they hold disk).

    ``upto`` bounds the sweep to batch ids <= it (r9 ADVICE): a
    compaction entered at commit id ``cbid`` must not delete the staged
    intermediates of an in-flight LATER micro-batch running
    concurrently — ids above the compaction's own commit id are someone
    else's live state, not leftovers."""
    prefixes = [
        (s, p)
        for s in _STORE_SUBDIRS
        for p in (".staged_batch-", ".old_batch-")
    ] + [("", ".tmp_batch-")]
    for sub, prefix in prefixes:
        fs, hroot = _hpath(spark, f"{store_path}/{sub}" if sub else store_path)
        if not fs.exists(hroot):
            continue
        for st in fs.listStatus(hroot):
            name = st.getPath().getName()
            if not name.startswith(prefix):
                continue
            if upto is not None:
                try:
                    if int(name[len(prefix):]) > upto:
                        continue  # a later batch's live intermediates
                except ValueError:
                    pass  # unparseable id: treat as leftover, sweep
            fs.delete(st.getPath(), True)


def _seen_texts(
    spark: SparkSession,
    store_path: str,
    dec: DataFrame,
    corpus: DataFrame | None,
    text_col: str,
    id_col: str,
) -> tuple[DataFrame, DataFrame | None]:
    """(doc_id, text) for every doc the decisions store has seen, from
    (in preference order) the replayable ``corpus`` or the survivors ∪
    dropped stores — with the r8-ADVICE coverage assertion: a seen doc
    with no text anywhere raises instead of silently vanishing from the
    compacted decisions. On success the caller owns (and unpersists)
    the cached texts; on any error they are released here."""
    dropped_store = _read_store(spark, f"{store_path}/dropped")
    surv = _read_store(spark, f"{store_path}/survivors")
    if corpus is not None:
        seen = dec.select("doc_id").distinct()
        texts = corpus.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.col(text_col).alias("text"),
        ).join(seen, "doc_id", "left_semi")
    else:
        texts = surv.select("doc_id", "text")
        if dropped_store is not None:
            texts = texts.unionByName(dropped_store.select("doc_id", "text"))
        elif dec.filter(F.col("status") != "survivor").limit(1).count():
            raise ValueError(
                "recompact_fuzzy_store needs the dropped docs' texts to "
                "restore chain-exact groups: pass `corpus` (replayable "
                "stream archive) or run the stream with "
                "keep_dropped_texts=True"
            )
    # persist: texts is read ~5x per compaction (coverage assert,
    # banding, verify's shingle semi-join, survivor/dropped rewrite) and
    # each uncached read repeats the store scan + the dropDuplicates
    # shuffle. The coverage count below materializes the cache BEFORE
    # any fan-out consumer (the r4/r5 AQE broadcast-build trap);
    # downstream consumers are plain shuffle joins, which share a cache
    # fine (CLAUDE.md playbook). Caller unpersists.
    texts = texts.dropDuplicates(["doc_id"]).persist()
    # every doc the stream ever decided on must have a text to feed the
    # re-run — a PARTIAL dropped store (some batches ran
    # keep_dropped_texts=False, a crash ate a partition) or a corpus
    # missing seen docs would otherwise make those docs silently vanish
    # from the compacted decisions. One bounded action over the seen
    # corpus, same scale as the compaction itself.
    try:
        n_missing = (
            dec.select("doc_id")
            .distinct()
            .join(texts.select("doc_id"), "doc_id", "left_anti")
            .count()
        )
        if n_missing:
            raise ValueError(
                f"recompact_fuzzy_store: {n_missing} seen doc(s) in the "
                "decisions store have no text in "
                + ("the supplied corpus" if corpus is not None
                   else "the survivors/dropped stores")
                + " — refusing to silently drop them from the compacted "
                "decisions (run every batch with keep_dropped_texts=True, "
                "or pass the full replayable corpus)"
            )
    except BaseException:
        texts.unpersist()
        raise
    return texts, dropped_store


def _write_compacted_state(
    spark: SparkSession,
    store_path: str,
    cbid: int,
    texts: DataFrame,
    cluster_map: DataFrame,
    allbuckets: DataFrame,
    meta_row: DataFrame,
    write_dropped: bool,
    stats: dict,
    extra: dict | None = None,
) -> dict:
    """Derive decisions/survivors/dropped from the final ``cluster_map``
    (doc_id, cluster_id; survivor iff doc_id == cluster_id), stage
    every compacted output to disk, and commit the compacted state by
    renaming the staged dirs into place. Shared by the full and
    incremental recompaction paths.

    Two phases (r9 — formerly localCheckpoint + direct overwrite, see
    :func:`_stage_partition` for why that design OOMs local mode and
    is fragile to executor loss on a cluster):

    1. STAGE — every output is written once to
       ``{sub}/.staged_batch-{cbid}`` (invisible to readers; a crash
       here leaves the visible store byte-identical to before the
       compaction started). Outputs whose plans read store partitions
       about to be rewritten (clusters, survivors, dropped,
       allbuckets) are re-read from their staged files before anything
       derives from them, which severs the parquet lineage the same
       way the old eager localCheckpoint did.
    2. PROMOTE — staged dirs rename into ``batch={cbid}`` in the
       crash-safe order: ``dropped/`` FIRST (after it lands, every
       seen doc's text exists in dropped ∪ old-survivors through every
       later crash window — r8 ADVICE), then survivors/buckets/
       allbuckets/meta/decisions, then ``clusters/`` LAST as the
       commit marker (the incremental path detects the last completed
       compaction as max(batch) over ``clusters/``, so a crash
       anywhere earlier makes the next run redo the whole compaction
       idempotently instead of trusting half-written state), then
       stale lower partitions drop."""
    _delete_staged_dirs(spark, store_path, upto=cbid)
    # Stage jobs overlap where independent (optimization guide §2.6:
    # Spark happily runs several jobs at once; the phase was 9
    # SEQUENTIAL small jobs whose fixed overhead dominated the
    # compaction at every measured store size). Dependency order is
    # preserved through futures: clusters first (everything derives
    # from its staged read-back), survivors/dropped/decisions/counts
    # after it, buckets after survivors+allbuckets. allbuckets and
    # meta depend on nothing and start immediately. The shared `texts`
    # cache is materialized by _seen_texts' coverage count before this
    # runs, so concurrent readers hit populated blocks (the AQE lazy-
    # cache fan-out trap does not apply to a materialized cache).
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=5) as pool:
        f_allb = pool.submit(
            _stage_partition, spark, allbuckets,
            f"{store_path}/allbuckets", cbid,
        )
        f_meta = pool.submit(
            _stage_partition, spark, meta_row, f"{store_path}/meta", cbid
        )
        clusters_out = _stage_partition(
            spark, cluster_map, f"{store_path}/clusters", cbid
        )
        decisions = clusters_out.select(
            "doc_id",
            F.when(
                F.col("doc_id") != F.col("cluster_id"), F.lit("dup_in_batch")
            )
            .otherwise(F.lit("survivor"))
            .alias("status"),
            F.lit(None).cast("long").alias("matched"),
        )
        dropped_now = clusters_out.filter(
            F.col("doc_id") != F.col("cluster_id")
        ).select("doc_id")
        f_surv = pool.submit(
            _stage_partition, spark,
            texts.join(dropped_now, "doc_id", "left_anti"),
            f"{store_path}/survivors", cbid,
        )
        f_drop = (
            pool.submit(
                _stage_partition, spark,
                texts.join(dropped_now, "doc_id", "left_semi"),
                f"{store_path}/dropped", cbid,
            )
            if write_dropped
            else None
        )
        f_dec = pool.submit(
            _stage_partition, spark, decisions,
            f"{store_path}/decisions", cbid,
        )
        f_ndocs = pool.submit(clusters_out.count)
        allbuckets = f_allb.result()
        # buckets = index rows of surviving docs. Every allbuckets doc
        # is a seen doc (it was banded from `texts`), so anti-joining
        # the dropped set is row-identical to semi-joining the staged
        # survivors — and it only depends on wave-1 outputs, removing a
        # whole sequential wave (buckets no longer waits for the
        # survivors write to finish).
        surv_buckets = allbuckets.join(
            dropped_now, "doc_id", "left_anti"
        ).select("doc_id", "band", "bucket")
        f_buckets = pool.submit(
            _stage_partition, spark, surv_buckets,
            f"{store_path}/buckets", cbid,
        )
        new_surv = f_surv.result()
        f_nsurv = pool.submit(new_surv.count)
        n_docs = f_ndocs.result()
        n_survivors = f_nsurv.result()
        f_meta.result()
        f_dec.result()
        f_buckets.result()
        if f_drop is not None:
            f_drop.result()

    # promote phase: no DataFrame above is read past this point — the
    # renames invalidate the staged read-backs' file listings.
    if write_dropped:
        _promote_staged(spark, f"{store_path}/dropped", cbid)
    for sub in (
        "survivors", "buckets", "allbuckets", "meta", "decisions", "clusters"
    ):
        _promote_staged(spark, f"{store_path}/{sub}", cbid)
    for sub in _STORE_SUBDIRS:
        _delete_batch_partitions_below(spark, f"{store_path}/{sub}", cbid)
    out = {
        "compacted": True,
        "batch": cbid,
        "n_docs": int(n_docs),
        "n_survivors": int(n_survivors),
        "cc_rounds": stats.get("cc_rounds"),
    }
    if extra:
        out.update(extra)
    return out


#: the parameter row ``meta/`` persists; the incremental pass replays
#: the parameters and checks ``signature``: the MinHash signature the
#: stored index was banded with, always ``_SIGNATURE`` here. A row with
#: any other value came from an earlier signature path whose buckets no
#: new doc can match, so the incremental pass refuses it.
_META_SCHEMA = (
    "k_shingle int, threshold double, n_hashes int, bands int, "
    "bucket_cap bigint, seed bigint, signature string"
)
_PARAMS = tuple(f.split()[0] for f in _META_SCHEMA.split(", "))[:-1]
_SIGNATURE = "fast"
_EMPTY = {"compacted": False, "reason": "empty store"}


class _Prior(NamedTuple):
    """Where an incremental pass starts: the commit id it compacts to
    (the newest decisions batch) and the last compaction's state — its
    commit id, cluster map and all-docs LSH index."""

    cbid: int
    c_last: int
    clusters: DataFrame  # (doc_id, cluster_id)
    allbuckets: DataFrame  # (doc_id, band, bucket, n_bucket)


def _nothing_new(spark: SparkSession, store_path: str, c_last: int) -> dict:
    # Still finish any interrupted cleanup: the commit marker is written
    # before the stale-partition deletes, so a crash between them leaves
    # duplicate doc rows in decisions/ until these deletes land.
    for sub in _STORE_SUBDIRS:
        _delete_batch_partitions_below(spark, f"{store_path}/{sub}", c_last)
    return {
        "compacted": False,
        "reason": "nothing new since last compaction",
        "batch": c_last,
    }


def _recompact(
    spark: SparkSession,
    store_path: str,
    dec: DataFrame,
    params: dict,
    prior: _Prior | None,
    corpus: DataFrame | None,
    text_col: str,
    id_col: str,
    max_iter: int,
) -> dict:
    """The one compaction body behind both public entry points; ``dec``
    is the decisions store as the entry point read it.

    The delta docs are the seen docs outside ``prior``'s cluster map;
    with ``prior=None`` that is every seen doc and there are no old
    clusters, so the pass below is the global batch run. Steps:

    - band the delta docs once; each row carries its bucket's combined
      population (delta + stored ``n_bucket``), which ``bucket_cap``
      filters — the global run's cap rule for every pair generated here;
    - candidates = delta self-join ∪ delta ⋈ the stored all-docs index
      on (band, bucket) — old docs include dropped ones, which is what
      lets a new doc heal a chain through an old dropped doc;
    - exact-Jaccard verify only those pairs;
    - link every old doc of a candidate pair to its stored cluster
      label, so one :func:`connected_components` call over the verified
      edges merges whole old components through their labels (a new doc
      bridging two old components merges them, as the global run would);
    - relabel: old docs follow their label's new root, delta docs their
      own; untouched clusters keep their labels verbatim.

    With ``prior=None`` every old-side step is skipped. Every cache is
    released on every exit path."""
    from concurrent.futures import ThreadPoolExecutor

    p = params
    keys = ["band", "bucket"]
    caches: list[DataFrame] = []
    try:
        if prior is not None:
            # the corpus-sized index is read three times below: cache the
            # one store scan
            allb = prior.allbuckets.persist()
            caches.append(allb)
            new_ids = (
                dec.filter(F.col("batch") > prior.c_last)
                .select("doc_id")
                .distinct()
                .join(prior.clusters.select("doc_id"), "doc_id", "left_anti")
            )
        # _seen_texts' coverage count and the commit-id lookup (full) or
        # the delta count and the index warm-up (incremental) are
        # independent actions: overlap them
        with ThreadPoolExecutor(max_workers=3) as pool:
            f_texts = pool.submit(
                _seen_texts, spark, store_path, dec, corpus, text_col, id_col
            )
            if prior is None:
                f_head = pool.submit(lambda: dec.agg(F.max("batch")).first()[0])
            else:
                f_warm = pool.submit(allb.count)
                f_head = pool.submit(new_ids.count)
            texts, dropped_store = f_texts.result()
            caches.append(texts)
            head = f_head.result()
            if prior is not None:
                f_warm.result()
        if prior is None:
            if head is None:
                # readable store, zero decision rows (a stream that only
                # ever processed empty micro-batches)
                return dict(_EMPTY)
            cbid, new_ids, new_texts = int(head), texts.select("doc_id"), texts
        else:
            if head == 0:
                return _nothing_new(spark, store_path, prior.c_last)
            cbid, new_texts = prior.cbid, texts.join(new_ids, "doc_id", "left_semi")

        def bump(rows: DataFrame, counts: DataFrame) -> DataFrame:
            return rows.join(counts, keys, "left").select(
                "doc_id", *keys,
                (F.col("n_bucket") + F.coalesce("_n", F.lit(0))).alias("n_bucket"),
            )

        # n_bucket is the cap filter's count-over-window on the join key
        # itself: same shuffle key as the self-join, no extra exchange.
        # Cached before any fan-out read (the AQE lazy-cache trap).
        banded = (
            minhash_index(
                new_texts, "text", "doc_id",
                p["k_shingle"], p["n_hashes"], p["bands"], p["seed"],
            )
            .withColumnRenamed("_id", "doc_id")
            .withColumn("n_bucket", F.count("*").over(Window.partitionBy(*keys)))
        )
        caches.append(banded.persist())
        banded.count()
        allbuckets = banded
        if prior is not None:
            # combined populations; both count maps are delta-sized
            old_n = (
                allb.join(banded.select(*keys), keys, "left_semi")
                .select(*keys, F.col("n_bucket").alias("_n"))
                .distinct()
            )
            new_n = banded.select(*keys, F.col("n_bucket").alias("_n")).distinct()
            banded = bump(banded, old_n)
            caches.append(banded.persist())
            banded.count()
            allbuckets = bump(allb, new_n).unionByName(banded)

        ok = (
            banded if p["bucket_cap"] is None
            else banded.filter(F.col("n_bucket") <= p["bucket_cap"])
        )
        left, right = ok.alias("l"), ok.alias("r")
        cand = left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        ).select(F.col("l.doc_id").alias("id_a"), F.col("r.doc_id").alias("id_b"))
        if prior is not None:
            cand = cand.unionByName(
                ok.alias("n").join(allb.alias("o"), keys).select(
                    F.least("n.doc_id", "o.doc_id").alias("id_a"),
                    F.greatest("n.doc_id", "o.doc_id").alias("id_b"),
                )
            )
        cand = cand.distinct()
        caches.append(cand.persist())
        n_cand = cand.count()  # materialize BEFORE the verify join's fan-out

        edges = ngram_jaccard_pairs(
            texts, cand, text_col="text", id_col="doc_id",
            k_shingle=p["k_shingle"], threshold=p["threshold"],
        ).select("id_a", "id_b")
        if prior is not None:
            # link every old candidate doc to its stored label: an edge
            # within one old component, so the components are unchanged
            # and each old component enters CC whole, labelled by its min
            ids = cand.select(F.col("id_a").alias("doc_id")).union(
                cand.select(F.col("id_b").alias("doc_id"))
            )
            edges = edges.unionByName(
                prior.clusters.join(ids, "doc_id", "left_semi").select(
                    F.col("doc_id").alias("id_a"),
                    F.col("cluster_id").alias("id_b"),
                )
            )
        stats: dict = {}
        labels = connected_components(
            edges, max_iter=max_iter, stats=stats,
            collect_threshold=_CC_COLLECT_EDGES,
        ).select(F.col("node").alias("_n"), F.col("cluster_id").alias("_root"))

        def relabel(df: DataFrame, key: str) -> DataFrame:
            return df.join(labels, F.col(key) == F.col("_n"), "left").select(
                "doc_id", F.coalesce("_root", key).alias("cluster_id")
            )

        cluster_map = relabel(new_ids, "doc_id")
        if prior is not None:
            cluster_map = relabel(prior.clusters, "cluster_id").unionByName(
                cluster_map
            )
        # one partition: one meta file, not one per default-parallelism slot
        meta_row = spark.createDataFrame(
            [tuple(p[c] for c in _PARAMS) + (_SIGNATURE,)], _META_SCHEMA
        ).coalesce(1)
        # dropped/ is skipped only when a replayable corpus is the archive
        # AND the store never kept dropped texts; with corpus=None it is
        # always written — compaction itself can demote docs (e.g. re-run
        # with a lower threshold than the stream used), and their texts
        # must stay recompactable.
        out = _write_compacted_state(
            spark, store_path, cbid, texts, cluster_map, allbuckets, meta_row,
            write_dropped=(dropped_store is not None or corpus is None),
            stats=stats,
            extra={
                "mode": "full" if prior is None else "incremental",
                "n_candidate_pairs": int(n_cand),
            },
        )
        out["n_new"] = out["n_docs"] if prior is None else int(head)
        return out
    finally:
        for df in caches:
            df.unpersist()


def recompact_fuzzy_store(
    spark: SparkSession,
    store_path: str,
    corpus: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 5,
    threshold: float = 0.5,
    n_hashes: int = 30,
    bands: int = 5,
    bucket_cap: int | None = 1024,
    max_iter: int = 25,
) -> dict:
    """Full re-resolution compaction of the streaming fuzzy-dedup store:
    the compaction core (:func:`_recompact`) over an EMPTY prior state,
    i.e. the batch :func:`fuzzy_dedup_pipeline` run globally over every
    doc the stream has seen (identical banding, ``bucket_cap`` filter,
    self-join, verify and CC), with the store rewritten as ONE compacted
    history partition. Afterwards the store's decisions are what a
    single-batch run over the full seen corpus emits (``survivor`` /
    ``dup_in_batch``, matched null): the greedy arrival-order chain
    breaks of the stream are healed.

    Healing chains THROUGH a dropped doc needs the dropped docs' texts,
    so the seen corpus comes from (in preference order) ``corpus`` — a
    replayable archive of the original stream — or the ``dropped/``
    store written by ``process_fuzzy_batch(keep_dropped_texts=True)``.
    With neither, a store that ever dropped a doc raises instead of
    compacting to weaker survivor-only semantics; a seen doc with no
    text anywhere raises too.

    Besides decisions/survivors/buckets/dropped, the compaction persists
    the state an incremental pass starts from: ``clusters/`` (doc_id ->
    component-min label for every seen doc, singletons included),
    ``allbuckets/`` (the LSH index rows of every seen doc, with the
    per-(band, bucket) population in ``n_bucket``) and ``meta/`` (these
    parameters).

    Crash safety (see :func:`_write_compacted_state`): every output is
    staged to a hidden ``.staged_batch-N`` dir first (a crash there
    leaves the visible store byte-identical), then renamed into the
    highest seen batch partition with ``dropped/`` FIRST (so every seen
    doc's text survives every later crash window) and ``clusters/``
    LAST (the commit marker), then stale lower partitions drop; a
    re-run collapses any duplicate history a crash left. Use a
    transactional table format in production for atomic swap semantics
    (a rename is a copy on object stores).

    Returns ``{"compacted", "mode", "batch", "n_docs", "n_survivors",
    "n_new", "n_candidate_pairs", "cc_rounds"}``; ``n_new`` equals
    ``n_docs``."""
    params = {
        "k_shingle": k_shingle, "threshold": float(threshold),
        "n_hashes": n_hashes, "bands": bands,
        "bucket_cap": None if bucket_cap is None else int(bucket_cap),
        "seed": MINHASH_SEED,
    }
    dec = _read_store(spark, f"{store_path}/decisions")
    if dec is None or _read_store(spark, f"{store_path}/survivors") is None:
        return dict(_EMPTY)
    return _recompact(
        spark, store_path, dec, params, None, corpus, text_col, id_col,
        max_iter,
    )


def recompact_fuzzy_store_incremental(
    spark: SparkSession,
    store_path: str,
    corpus: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> dict:
    """Incremental re-resolution compaction: the compaction core
    (:func:`_recompact`) started from the state the last compaction
    persisted, so only the docs of batches newer than that compaction
    are banded and verified (``O(Δ)`` signature, verify and CC work)
    and old components enter CC through their stored labels. The
    rewrite of the store partitions is still ``O(corpus)`` I/O.

    Requires a prior :func:`recompact_fuzzy_store`: the ``clusters/``
    map, the ``allbuckets/`` index and the ``meta/`` parameter row it
    persists. Parameters are read from ``meta/``, not accepted here, so
    the delta banding is bit-compatible with the stored index.

    Parity contract (pinned by tests): the compacted state is identical
    to :func:`recompact_fuzzy_store` over the same seen corpus whenever
    ``bucket_cap`` does not bind on a bucket containing a delta doc.
    Pinned divergence when it does: the global re-run drops ALL pairs of
    an over-cap bucket — including old-old edges it previously honored —
    while this pass never retracts edges already folded into
    ``clusters/`` (known duplicate groups are not forgotten because
    boilerplate later flooded their bucket).

    Crash safety: the write order of the full compaction (``dropped/``
    first, ``clusters/`` last); a crash before the marker makes the
    next run redo the pass idempotently.

    Returns the keys of :func:`recompact_fuzzy_store`, with ``mode``
    ``"incremental"``."""
    dec = _read_store(spark, f"{store_path}/decisions")
    if dec is None or _read_store(spark, f"{store_path}/survivors") is None:
        return dict(_EMPTY)
    clus = _read_store(spark, f"{store_path}/clusters")
    meta_df = _read_store(spark, f"{store_path}/meta")
    allb = _read_store(spark, f"{store_path}/allbuckets")
    have_state = not (clus is None or meta_df is None or allb is None)
    # three independent tiny head lookups: overlap them
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_maxb = pool.submit(lambda: dec.agg(F.max("batch")).first()[0])
        if have_state:
            f_clast = pool.submit(lambda: clus.agg(F.max("batch")).first()[0])
            f_meta = pool.submit(meta_df.collect)
        max_batch = f_maxb.result()
    if max_batch is None:
        return dict(_EMPTY)
    if not have_state:
        raise ValueError(
            "recompact_fuzzy_store_incremental needs the cluster map / "
            "all-docs LSH index / parameter row a prior full "
            "recompact_fuzzy_store persists — run the full compaction "
            "once first"
        )
    c_last = int(f_clast.result())
    if int(max_batch) <= c_last:
        return _nothing_new(spark, store_path, c_last)
    meta = next(r for r in f_meta.result() if int(r["batch"]) == c_last)
    if meta["signature"] != _SIGNATURE:
        raise ValueError(
            f"{store_path}/meta records signature {meta['signature']!r}: {_FOREIGN}"
        )
    prior = _Prior(
        int(max_batch),
        c_last,
        clus.filter(F.col("batch") == c_last).select("doc_id", "cluster_id"),
        allb.filter(F.col("batch") == c_last).select(
            "doc_id", "band", "bucket", "n_bucket"
        ),
    )
    return _recompact(
        spark, store_path, dec, {c: meta[c] for c in _PARAMS}, prior,
        corpus, text_col, id_col, max_iter,
    )




def read_decisions(spark: SparkSession, store_path: str) -> DataFrame:
    """All per-doc decisions recorded so far (partitioned by batch)."""
    df = _read_store(spark, f"{store_path}/decisions")
    if df is None:
        return spark.createDataFrame(
            [], "doc_id long, status string, matched long, batch int"
        )
    return df
