"""Workload ``compact_job``: ``jobs/compact.py`` submitted with
``spark-submit --py-files``, then the resume re-submit.

One cycle = a full submission into a fresh output dir (timed), the
lineage table cut back to its first half of bucket batches with the
blocks of the second half removed (a deterministic stand-in for a
kill), and a re-submit with the same ``--run-id`` (timed).
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time
import zipfile

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import inputs
from common import CORES, DRIVER_MEMORY, QUIET, ROOT, WORK, median, tree_bytes, tree_files
from tersets_spark.operators.rollup import TIERS

N_DOCS = 800
N_FILES = 2 * CORES
RETENTION = 1024
N_BUCKETS = 64
BUCKETS_PER_BATCH = 16  # run_with_lineage's default
SAMPLE_DOCS = 32
#: set-ups per run; setup_s is their median
SETUPS = 5


def spark_submit() -> str:
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isfile(os.path.join(home, "bin", "spark-submit")):
        return os.path.join(home, "bin", "spark-submit")
    found = shutil.which("spark-submit")
    if found:
        return found
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")


def build_pyfiles(rdir: str) -> str:
    """The ``--py-files`` archive of the engine package."""
    path = os.path.join(rdir, "tersets_spark.zip")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for f in sorted(glob.glob(os.path.join(ROOT, "tersets_spark", "**", "*.py"), recursive=True)):
            zf.write(f, os.path.relpath(f, ROOT))
    return path


def import_job_modules() -> None:
    """What every submission's driver does first: import PySpark and the
    engine modules jobs/compact.py uses, in a fresh interpreter."""
    mods = ("pyspark.sql", "tersets_spark.methods", "tersets_spark.operators.compress",
            "tersets_spark.operators.lineage", "tersets_spark.operators.retention",
            "tersets_spark.operators.rollup", "tersets_spark.session", "tersets_spark.sources.synth")
    subprocess.run([sys.executable, "-c", "import " + ", ".join(mods)], check=True)


def submit(rdir: str, pyfiles: str, tokens: str, out: str, run_id: str,
           script: str, extra_conf: dict | None = None, env_extra: dict | None = None) -> tuple[float, int]:
    cmd = [spark_submit(), "--master", f"local[{CORES}]", "--driver-memory", DRIVER_MEMORY,
           "--py-files", pyfiles]
    for k, v in {**QUIET, **(extra_conf or {})}.items():
        cmd += ["--conf", f"{k}={v}"]
    cmd += [script, "--out", out, "--run-id", run_id, "--input", tokens,
            "--method", "delta", "--raw-retention", str(RETENTION),
            "--n-buckets", str(N_BUCKETS), "--cores", str(CORES)]
    log = os.path.join(rdir, f"submit-{os.path.basename(out)}-{run_id}-{time.time_ns()}.log")
    t = time.time()
    with open(log, "w") as fh:
        rc = subprocess.run(cmd, cwd=rdir, env={**os.environ, **(env_extra or {})},
                            stdout=fh, stderr=subprocess.STDOUT).returncode
    wall = time.time() - t
    if rc != 0:
        with open(log) as fh:
            sys.stdout.write(fh.read()[-3000:])
    return wall, rc


def lineage_rows(out: str) -> dict:
    return ds.dataset(os.path.join(out, "lineage"), format="parquet").to_table(
        columns=["partition_id", "status"]).to_pydict()


def cut_lineage(out: str) -> int:
    """Keep the lineage of the first half of bucket batches, drop the
    rest and the blocks they committed. Returns the buckets kept."""
    keep = (N_BUCKETS // BUCKETS_PER_BATCH // 2) * BUCKETS_PER_BATCH
    for f in glob.glob(os.path.join(out, "lineage", "*.parquet")):
        pids = pq.read_table(f, columns=["partition_id"]).column(0).to_pylist()
        if pids and min(pids) >= keep:
            os.remove(f)
        elif pids and max(pids) >= keep:
            raise RuntimeError(f"lineage file spans the cut: {f}")
    for d in glob.glob(os.path.join(out, "blocks", "pb=*")):
        if int(d.rsplit("=", 1)[1]) >= keep:
            shutil.rmtree(d)
    for f in glob.glob(os.path.join(out, "lineage", ".*.crc")):
        if not os.path.exists(os.path.join(os.path.dirname(f), os.path.basename(f)[1:-4])):
            os.remove(f)
    return keep


def blocks_digest(out: str) -> str:
    t = ds.dataset(os.path.join(out, "blocks"), format="parquet", partitioning="hive").to_table(
        columns=["doc_id", "chunk_id", "blob"]).sort_by([("doc_id", "ascending"), ("chunk_id", "ascending")])
    h = hashlib.sha256()
    for d, c, b in zip(*(t.column(n).to_pylist() for n in ("doc_id", "chunk_id", "blob"))):
        h.update(f"{d}/{c}/".encode())
        h.update(b)
    return h.hexdigest()


def check_outputs(checks, out: str, tokens_dir: str, n_tok: np.ndarray, seed: int) -> None:
    from tersets_spark.kernels.batch import decompress_batch

    blocks = ds.dataset(os.path.join(out, "blocks"), format="parquet", partitioning="hive").to_table(
        columns=["doc_id", "chunk_id", "blob", "n_values"])
    raw = pq.read_table(os.path.join(out, "raw_hot"), columns=["doc_id", "tokens", "n_tok"])
    total = int(n_tok.sum())
    got = int(np.asarray(blocks.column("n_values")).sum()) + int(np.asarray(raw.column("n_tok")).sum())
    checks.check("compact.tokens_conserved", got == total, f"{got} != {total}")

    src = ds.dataset(tokens_dir, format="parquet").to_table(columns=["doc_id", "tokens"])
    ids = src.column("doc_id").to_pylist()
    pick = set(np.random.default_rng(seed).choice(len(ids), SAMPLE_DOCS, replace=False).tolist())
    want = {ids[i]: np.asarray(src.column("tokens")[i].values) for i in pick}
    chunks: dict = {}
    for d, c, b in zip(*(blocks.column(n).to_pylist() for n in ("doc_id", "chunk_id", "blob"))):
        if d in want:
            chunks.setdefault(d, []).append((c, b))
    hot = {d: t for d, t in zip(raw.column("doc_id").to_pylist(), raw.column("tokens").to_pylist()) if d in want}
    bad = []
    for d, expect in want.items():
        parts = [b for _, b in sorted(chunks.get(d, []))]
        flat = decompress_batch(parts)[0] if parts else np.empty(0)
        restored = np.concatenate([flat, np.asarray(hot.get(d, []), dtype=np.float64)])
        if not np.array_equal(restored.astype(np.int64), expect.astype(np.int64)):
            bad.append(d)
    checks.check("compact.sample_roundtrip", not bad, f"{len(bad)} of {len(want)} docs differ")

    for name, width in TIERS.items():
        rows = pq.ParquetDataset(os.path.join(out, f"tier_{name}")).read(columns=["bucket"]).num_rows
        expect = int(((n_tok + width - 1) // width).sum())
        checks.check(f"compact.tier_{name}_rows", rows == expect, f"{rows} != {expect}")


def run(args, t0: float, checks, rdir: str, tracer_mode: bool):
    """``t0`` is unused: each submission starts its own JVM, so the set-up
    that precedes it (building the --py-files archive, importing the
    job's modules in a fresh interpreter) is timed on its own, SETUPS times."""
    cache = os.path.join(WORK, "inputs")
    g = time.time()
    tokens_dir = inputs.token_table(cache, args.seed, N_DOCS, N_FILES)
    gen_s = time.time() - g
    n_tok = np.asarray(ds.dataset(tokens_dir, format="parquet").to_table(columns=["n_tok"]).column(0),
                       dtype=np.int64)
    total_tokens, n_docs = int(n_tok.sum()), int(n_tok.size)
    aged = int(np.maximum(n_tok - RETENTION, 0).sum())

    setups = []
    for _ in range(SETUPS):
        t = time.time()
        pyfiles = build_pyfiles(rdir)
        import_job_modules()
        setups.append(time.time() - t)
    setup_s = median(setups)

    script = os.path.join(ROOT, "jobs", "compact.py")
    fulls, resumes, outs = [], [], []
    traced: dict = {}
    m0 = time.time()
    while True:
        out = os.path.join(rdir, f"out{len(outs)}")
        outs.append(out)
        conf, env, sub = {}, {}, script
        if tracer_mode:
            from spans import eventlog_conf

            traced = {"full_log": os.path.join(rdir, "ev-full"), "resume_log": os.path.join(rdir, "ev-resume"),
                      "full_spans": os.path.join(rdir, "spans-full.json"),
                      "resume_spans": os.path.join(rdir, "spans-resume.json")}
            sub = os.path.join(ROOT, "perfbench", "traced_job.py")
            conf = eventlog_conf(traced["full_log"])
            env = {"PERFBENCH_SPANS": traced["full_spans"]}
        c = time.time()
        wall, rc = submit(rdir, pyfiles, tokens_dir, out, "bench", sub, conf, env)
        if not checks.op(rc == 0, f"full submission exit {rc}"):
            break
        fulls.append(wall)
        if tracer_mode:
            traced["io_files"] = tree_files(out)
        digest = blocks_digest(out)
        kept = cut_lineage(out)
        if tracer_mode:
            conf = eventlog_conf(traced["resume_log"])
            env = {"PERFBENCH_SPANS": traced["resume_spans"]}
        wall, rc = submit(rdir, pyfiles, tokens_dir, out, "bench", sub, conf, env)
        if not checks.op(rc == 0, f"resume submission exit {rc}"):
            break
        resumes.append(wall)
        after = lineage_rows(out)
        traced["buckets_replayed"] = len(after["partition_id"]) - kept
        checks.check("compact.resume_blocks_identical", blocks_digest(out) == digest)
        done = {p for p, s in zip(after["partition_id"], after["status"]) if s == "done"}
        checks.check("compact.lineage_complete", done == set(range(N_BUCKETS))
                     and len(after["partition_id"]) == N_BUCKETS)
        cycle = time.time() - c
        if time.time() - m0 + cycle > args.seconds:
            break

    if fulls and resumes:
        check_outputs(checks, outs[-1], tokens_dir, n_tok, args.seed)
    metrics = {
        "setup_s": (setup_s, "s"),
        "tokens_per_s": (total_tokens / median(fulls), "tokens/s"),
        "resume_s": (median(resumes), "s"),
        "bytes_per_raw_byte": (tree_bytes(outs[-1]) / (total_tokens * 4), "ratio"),
    }
    samples = {"setup_s": len(setups), "tokens_per_s": len(fulls), "resume_s": len(resumes)}
    notes = [f"input: {n_docs} docs, {total_tokens} tokens, {tree_bytes(tokens_dir)} parquet bytes, "
             f"aged share {aged / total_tokens:.4f} at --raw-retention {RETENTION}",
             f"input generation {gen_s:.2f} s (outside setup_s)",
             f"submissions {[round(w, 3) for w in fulls]} s, resumes {[round(w, 3) for w in resumes]} s"]
    ctx = {"tokens_dir": tokens_dir, "n_tok": n_tok, "traced": traced}
    return metrics, samples, notes, ctx
