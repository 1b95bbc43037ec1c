"""Seeded benchmark inputs, generated once per seed and cached.

Both generators are plain numpy + pyarrow (no Spark session), so input
generation never warms the engine before its set-up is timed. The
engine only ever sees the parquet files written here.

* Token table (FIXTURES.md section 1): ``doc_id``, ``tokens``, ``n_tok``,
  ``source``. Token arrays come from the repo's own synthetic generator
  kernel, ``tersets_spark.sources.synth._gen_tokens_batch`` (the length
  mixture with its 1 % 32k-262k tail and the four source families);
  the per-row seeds are drawn from the benchmark seed, stratified so
  each source gets the length mixture exactly.
* Text corpus: near-duplicate documents split into micro-batch files,
  with a ground-truth list of planted in-batch and cross-batch
  duplicates.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOKEN_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
        ("source", pa.string()),
    ]
)
TEXT_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


def _publish(tmp: str, final: str) -> None:
    """Rename a fully written directory into place (a crash mid-write
    never leaves a half-written cache entry)."""
    if os.path.isdir(final):
        shutil.rmtree(tmp, ignore_errors=True)
    else:
        os.rename(tmp, final)


#: the length classes of ``_gen_tokens_batch``: (share, low, high)
CLASSES = ((0.90, 64, 2048), (0.09, 2048, 32768), (0.01, 32768, 262144))
MAX_BINS = 9


def predicted_length(row_seed: int) -> tuple[int, int]:
    """(class, length) that ``_gen_tokens_batch`` draws first from a row
    seed; :func:`token_table` checks the generated lengths against it."""
    rng = np.random.default_rng(np.random.PCG64(row_seed))
    u, edge = rng.random(), 0.0
    for c, (share, lo, hi) in enumerate(CLASSES):
        edge += share
        if u < edge or c == len(CLASSES) - 1:
            return c, int(rng.integers(lo, hi))


def stratified_row_seeds(seed: int, n_docs: int, n_sources: int) -> np.ndarray:
    """Row seeds such that every source gets the FIXTURES 90/9/1 length
    classes exactly, and the mid and tail docs of a source spread evenly
    over their length range (one bin per doc, at most ``MAX_BINS``).
    Random draws would let the 1 % tail swing a table's token count and
    compressibility by +-10 % from seed to seed."""
    per_source = n_docs // n_sources
    if n_docs % n_sources or any(round(per_source * sh) != per_source * sh for sh, _, _ in CLASSES):
        raise ValueError(f"{n_docs} docs do not split into the length classes per source")
    rng = np.random.default_rng(seed)
    out = np.empty(n_docs, dtype=np.uint64)
    for src in range(n_sources):
        slots = []
        for c, (share, lo, hi) in enumerate(CLASSES):
            k = round(per_source * share)
            bins = 1 if c == 0 else min(k, MAX_BINS)
            slots += [(c, j * bins // k, bins) for j in range(k)]
        for doc, (want_c, want_bin, bins) in zip(range(src, n_docs, n_sources), rng.permutation(slots)):
            _, lo, hi = CLASSES[want_c]
            while True:
                row_seed = int(rng.integers(0, 2**62))
                c, n = predicted_length(row_seed)
                if c == want_c and (n - lo) * bins // (hi - lo) == want_bin:
                    out[doc] = row_seed
                    break
    return out


def token_table(cache: str, seed: int, n_docs: int, n_files: int) -> str:
    """Directory of ``n_files`` parquet files holding ``n_docs`` token
    sequences; generated on the first call for a seed."""
    import pandas as pd

    from tersets_spark.sources.synth import SOURCES, _gen_tokens_batch

    final = os.path.join(cache, f"tokens-s{seed}-d{n_docs}-f{n_files}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    os.makedirs(tmp)
    row_seeds = stratified_row_seeds(seed, n_docs, len(SOURCES))
    sources = [SOURCES[i % len(SOURCES)] for i in range(n_docs)]
    for f, idx in enumerate(np.array_split(np.arange(n_docs), n_files)):
        toks = _gen_tokens_batch(
            pd.Series(row_seeds[idx]), pd.Series([sources[i] for i in idx]), 262144
        )
        lengths = [len(t) for t in toks]
        if lengths != [predicted_length(int(r))[1] for r in row_seeds[idx]]:
            raise RuntimeError("_gen_tokens_batch no longer draws lengths as predicted_length does")
        table = pa.table(
            {
                "doc_id": [f"doc_{sources[i]}_{i:012d}" for i in idx],
                "tokens": pa.array(list(toks), type=pa.list_(pa.int32())),
                "n_tok": pa.array(lengths, type=pa.int32()),
                "source": [sources[i] for i in idx],
            },
            schema=TOKEN_SCHEMA,
        )
        pq.write_table(table, os.path.join(tmp, f"part-{f:05d}.parquet"))
    _publish(tmp, final)
    return final


def _words(rng: np.random.Generator, n_vocab: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, n_vocab)
    return np.array(["".join(rng.choice(letters, n)) for n in lens])


def _edit(rng: np.random.Generator, words: list[str], vocab: np.ndarray) -> list[str]:
    """A near-duplicate: the source with one extra word at the end
    (5-shingle Jaccard about 0.97, well above the dedup threshold, so
    MinHash-LSH finds the pair with near certainty)."""
    return list(words) + [str(vocab[rng.integers(len(vocab))])]


def text_corpus(
    cache: str,
    seed: int,
    n_batches: int,
    batch_docs: int,
    doc_words: int = 50,
    in_batch_dup_share: float = 0.1,
    cross_batch_dup_share: float = 0.1,
    first_id: int = 0,
) -> tuple[str, dict]:
    """``n_batches`` parquet files of ``batch_docs`` docs each.

    Every doc is either an original (``doc_words`` random words), an
    in-batch near-duplicate of an original in the same file, or a
    cross-batch near-duplicate of an original in an earlier file. Each
    original is copied at most once, so a planted pair never chains.
    Returns ``(dir, truth)`` with ``truth = {"cross": [[dup, src], ...],
    "in_batch": [...], "n_docs", "n_words", "text_bytes"}``."""
    final = os.path.join(
        cache,
        f"corpus-s{seed}-b{n_batches}x{batch_docs}-w{doc_words}"
        f"-i{in_batch_dup_share}-c{cross_batch_dup_share}-id{first_id}",
    )
    truth_path = os.path.join(final, "truth.json")
    import json

    if os.path.isfile(truth_path):
        with open(truth_path) as fh:
            return final, json.load(fh)
    rng = np.random.default_rng(seed)
    vocab = _words(rng, 20000)
    tmp = f"{final}.tmp{os.getpid()}"
    os.makedirs(os.path.join(tmp, "batches"))
    n_in = int(round(batch_docs * in_batch_dup_share))
    n_cross = int(round(batch_docs * cross_batch_dup_share))
    unused_earlier: list[tuple[int, list[str]]] = []
    truth = {"cross": [], "in_batch": [], "n_docs": 0, "n_words": 0, "text_bytes": 0}
    next_id = first_id
    for b in range(n_batches):
        cross = n_cross if b > 0 and len(unused_earlier) >= n_cross else 0
        n_orig = batch_docs - n_in - cross
        rows: list[tuple[int, list[str]]] = []
        originals = []
        for _ in range(n_orig):
            doc = [str(w) for w in vocab[rng.integers(len(vocab), size=doc_words)]]
            originals.append((next_id, doc))
            rows.append((next_id, doc))
            next_id += 1
        for k in range(n_in):  # near-dup of this batch's k-th original
            src_id, src = originals[k]
            rows.append((next_id, _edit(rng, src, vocab)))
            truth["in_batch"].append([next_id, src_id])
            next_id += 1
        picked = set(rng.choice(len(unused_earlier), cross, replace=False).tolist())
        for k in sorted(picked):  # near-dup of an unused earlier original
            src_id, src = unused_earlier[k]
            rows.append((next_id, _edit(rng, src, vocab)))
            truth["cross"].append([next_id, src_id])
            next_id += 1
        unused_earlier = [u for k, u in enumerate(unused_earlier) if k not in picked]
        unused_earlier.extend(originals[n_in:])
        order = rng.permutation(len(rows))
        texts = [" ".join(rows[i][1]) for i in order]
        ids = [rows[i][0] for i in order]
        truth["n_docs"] += len(ids)
        truth["n_words"] += sum(len(rows[i][1]) for i in order)
        truth["text_bytes"] += sum(len(t.encode()) for t in texts)
        pq.write_table(
            pa.table({"doc_id": ids, "text": texts}, schema=TEXT_SCHEMA),
            os.path.join(tmp, "batches", f"b{b:04d}.parquet"),
        )
    with open(os.path.join(tmp, "truth.json"), "w") as fh:
        json.dump(truth, fh)
    _publish(tmp, final)
    with open(truth_path) as fh:
        return final, json.load(fh)
