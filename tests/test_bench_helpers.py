"""Cheap guards on bench.py's helper contract — the driver records
BENCH_r{N}.json from bench.py's single JSON line, so a broken helper
(e.g. the calm-gate tuple return, or a probe raising) silently costs
the round its benchmark artifact. The full end-to-end contract is
exercised by `SPARK_GRAFT_CALM_WAIT=0 python bench.py` (CLAUDE.md);
these tests pin the pieces that can break without Spark."""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import bench


def test_calm_gate_skip_returns_probe_and_real_ratio():
    probe_s, par = bench._wait_for_calm_host(0)
    assert 0 < probe_s < 10  # seconds for a 1e6 sort, any host state
    # r4 ADVICE: even with a zero wait budget the parallel probe must
    # RUN — the artifact never carries a -1.0 sentinel where it claims
    # to record many-core host state
    assert 0.1 < par < 1000


def test_parallel_probe_returns_finite_ratio():
    r = bench._parallel_probe(workers=2)
    assert 0.1 < r < 1000


def test_rerun_reason_rules():
    # clean pair, calm probes -> no rerun
    assert bench._rerun_reason([(1.0, 4.0), (1.2, 4.5)]) is None
    # >3x spread between passes -> rerun even if probes were calm
    assert bench._rerun_reason([(1.0, 4.0), (3.5, 4.0)]) == "pass spread >3x"
    # best pass measured at a failed probe -> rerun
    assert (
        bench._rerun_reason([(1.0, 9.0), (1.4, 4.0)]) == "best at failed probe"
    )
    # the WORSE pass at a failed probe doesn't matter if the best is calm
    assert bench._rerun_reason([(1.0, 4.0), (1.4, 9.0)]) is None
    # single-pass runs can still be probe-flagged
    assert bench._rerun_reason([(2.0, 7.0)]) == "best at failed probe"


def _sample_artifact() -> dict:
    return {
        "metric": "tokens_per_sec",
        "value": 17_080_000.0,
        "unit": "sec",
        "queries": {"flagship_compress_rollup": 2.34, "tier_decode": 0.5},
        "sf": 0.1,
        "detail": {"cpus": 8, "probe_gate": 6.0},
    }


def test_emit_writes_durable_file_and_slim_line(tmp_path, capsys):
    """r8 verdict #1a/#5: the artifact is written to BENCH_LAST.json
    (durable against stdout-tail truncation), the printed line parses,
    carries the headline keys, and stays under the capture budget."""
    import json

    out = _sample_artifact()
    bench._emit(out, out_dir=str(tmp_path))
    line = capsys.readouterr().out.strip().splitlines()[-1]
    assert len(line) <= bench._LINE_BUDGET
    parsed = json.loads(line)
    assert parsed["metric"] == "tokens_per_sec" and parsed["value"] > 0
    assert "flagship_compress_rollup" in parsed["queries"]
    on_disk = json.loads((tmp_path / "BENCH_LAST.json").read_text())
    assert on_disk == out


def test_emit_oversized_detail_never_clips_headline(tmp_path, capsys):
    """If detail outgrows the line budget the printed copy is slimmed —
    the headline keys survive in the line AND the file keeps the full
    detail (the exact failure mode that lost the r8 headline)."""
    import json

    out = _sample_artifact()
    out["detail"]["prose"] = "x" * (2 * bench._LINE_BUDGET)
    bench._emit(out, out_dir=str(tmp_path))
    line = capsys.readouterr().out.strip().splitlines()[-1]
    assert len(line) <= bench._LINE_BUDGET
    parsed = json.loads(line)
    assert parsed["value"] == out["value"]
    assert parsed["queries"]["flagship_compress_rollup"] == 2.34
    assert "BENCH_LAST.json" in parsed["detail"]  # pointer, not prose
    on_disk = json.loads((tmp_path / "BENCH_LAST.json").read_text())
    assert on_disk["detail"]["prose"] == out["detail"]["prose"]


def test_emit_prints_line_before_file_write(tmp_path, capsys):
    """A bad output path must never eat a finished run's measurements:
    the stdout line is printed BEFORE the file write (a misconfigured
    SPARK_GRAFT_BENCH_OUT once lost a 13-minute run at that write), and
    a path that already names BENCH_LAST.json is accepted as the file
    itself instead of being treated as a directory."""
    import json

    import pytest

    out = _sample_artifact()
    with pytest.raises(OSError):
        bench._emit(out, out_dir=str(tmp_path / "missing_dir"))
    line = capsys.readouterr().out.strip().splitlines()[-1]
    assert json.loads(line)["value"] == out["value"]  # line survived

    as_file = tmp_path / "BENCH_LAST.json"
    bench._emit(out, out_dir=str(as_file))
    capsys.readouterr()
    assert json.loads(as_file.read_text()) == out
    assert not (tmp_path / "BENCH_LAST.json" / "BENCH_LAST.json").exists()


def test_emit_rejects_artifact_missing_headline_keys(tmp_path):
    import pytest

    with pytest.raises(AssertionError, match="value"):
        bench._emit({"metric": "tokens_per_sec", "unit": "sec", "sf": 0.1},
                    out_dir=str(tmp_path))


def test_bench_end_to_end_contract(tmp_path):
    """The real bench binary at toy scale (sf0.001, flagship-only, calm
    gate skipped): the last stdout line must parse as the driver
    contract JSON, fit the capture budget, and match BENCH_LAST.json —
    the r8 failure mode (headline truncated out of the captured tail,
    no durable copy anywhere) can never recur silently."""
    import json
    import os
    import subprocess

    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_CALM_WAIT="0",
        SPARK_GRAFT_BENCH_REPEAT="1",
        SPARK_GRAFT_BENCH_FLAGSHIP_ONLY="1",
        SPARK_GRAFT_BENCH_DOCS="200",
        SPARK_GRAFT_BENCH_OUT=str(tmp_path),
    )
    proc = subprocess.run(
        [os.sys.executable, str(ROOT / "bench.py")],
        capture_output=True, text=True, timeout=420, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = proc.stdout.strip().splitlines()[-1]
    assert len(line) <= bench._LINE_BUDGET
    out = json.loads(line)
    assert out["metric"] == "tokens_per_sec" and out["value"] > 0
    assert out["queries"]["flagship_compress_rollup"] > 0
    assert out["sf"] == 0.001
    on_disk = json.loads((tmp_path / "BENCH_LAST.json").read_text())
    assert on_disk["value"] == out["value"]
    assert on_disk["queries"] == out["queries"]


def test_sf_from_dir():
    assert bench._sf_from_dir("/root/testdata/sf0.01") == 0.01
    assert bench._sf_from_dir("/root/testdata/sf0.1/") == 0.1
    assert bench._sf_from_dir("/weird/path") == 0.1  # documented fallback
