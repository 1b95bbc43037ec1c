"""Shared plumbing: run directories, the pinned Spark environment,
the calm probe, file-tree sizes, statistics and the result line."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: everything a run writes lives under here (ignored by git)
WORK = os.path.join(ROOT, ".perfbench_work")
#: one fixed local[N] for every workload. On a 4-core host, 2 leaves
#: cores for the driver and the JVM's own threads. In interleaved pairs
#: on such a host, compact_job ran faster at local[2] than at local[4]
#: and fused_rollup about 10 % slower.
CORES = 2
DRIVER_MEMORY = "3g"
#: no console progress bars in the benchmark's output
QUIET = {"spark.ui.showConsoleProgress": "false"}


def require_repo() -> None:
    """Fail fast (no result line) outside a checkout of the engine."""
    for rel in ("tersets_spark/__init__.py", "jobs/compact.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            raise SystemExit(f"perfbench: {rel} not found under {ROOT}")


def run_dir(workload: str, seed: int) -> str:
    path = os.path.join(WORK, f"run-{workload}-s{seed}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def pin_env(rdir: str) -> dict:
    """Environment for this process and every Spark JVM/worker it starts:
    the repo importable from Python workers, bounded driver heap, fresh
    local dirs for this run."""
    local = os.path.join(rdir, "spark-local")
    os.makedirs(local, exist_ok=True)
    env = {
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": local,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(CORES),
    }
    os.environ.update(env)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return dict(os.environ)


def calm_probe_ms() -> float:
    """One single-core reading of host speed: the median of 5 sorts of
    1e6 doubles after one untimed sort (milliseconds)."""
    import numpy as np

    x = np.random.default_rng(0).random(1_000_000)
    np.sort(x)
    times = []
    for _ in range(5):
        t = time.perf_counter()
        np.sort(x)
        times.append((time.perf_counter() - t) * 1000)
    return median(times)


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the host since boot, in jiffies, from
    /proc/stat; (0, 0) where there is none."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(v) for v in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def tree_files(path: str) -> dict[str, tuple[int, int]]:
    """{file path: (size, mtime_ns)} under ``path``; dot/underscore
    entries (staging dirs, _SUCCESS, .crc) are skipped."""
    out = {}
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for f in files:
            if not f.startswith((".", "_")):
                p = os.path.join(root, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def tree_bytes(path: str) -> int:
    return sum(size for size, _ in tree_files(path).values())


def rewritten(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) that are new or changed between two snapshots."""
    changed = [p for p, v in after.items() if before.get(p) != v]
    return len(changed), sum(after[p][0] for p in changed)


def median(xs) -> float:
    return float(statistics.median(xs))


def p75(xs) -> float:
    xs = sorted(xs)
    if len(xs) < 2:
        return float(xs[0])
    return float(statistics.quantiles(xs, n=4, method="inclusive")[2])


class Checks:
    """Operations attempted and failed: Spark job submissions,
    micro-batches and correctness checks."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def op(self, ok: bool = True, what: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.messages.append(what)
            print(f"FAILED: {what}", flush=True)
        return ok

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        return self.op(bool(ok), f"check {name} {detail}".strip())


def emit(checks: Checks, metrics: dict[str, tuple[float, str]], samples: dict[str, int],
         notes: list[str]) -> None:
    """Human-readable lines, then the one-line JSON result (last line)."""
    for note in notes:
        print(f"# {note}")
    for name, (value, unit) in metrics.items():
        n = samples.get(name)
        print(f"metric {name} = {value:.6g} {unit}" + (f"  (n={n})" if n else ""))
    rate = checks.failed / checks.attempted if checks.attempted else 0.0
    print(f"metric error_rate = {rate:.6g} ratio  (failed {checks.failed} of "
          f"{checks.attempted} attempted)")
    print(json.dumps({
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
