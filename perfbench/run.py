"""Outside-in benchmark of the tersets_spark engine.

    python3 perfbench/run.py --workload compact_job --seed 1 --seconds 10 --trace 0

Workloads: ``compact_job`` (the spark-submit compaction job and its
resume) and ``fused_rollup`` (the fused flagship over a cached table).
The ``fuzzy_stream`` flow (streaming near-duplicate dedup and its two
store compactions) can also run on its own. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` runs the same workload under span
wrappers and Spark's event log, adds isolated layer probes, and prints
the per-layer metrics. The last stdout line is one JSON object; the
exit code is non-zero when a correctness check fails. See
perfbench/README.md.

The command supervises: the benchmark itself runs in a child process in
a session of its own, and once the child has exited every process left
in that session is ended and reaped before the command exits. A Spark
JVM outlives the Python process that started it by a second or two,
and Spark's Python workers outlive their JVM.
"""

from __future__ import annotations

import os
import time

#: setup_s counts from the start of the supervising process
T0 = float(os.environ.get("PERFBENCH_T0", time.time()))

import argparse  # noqa: E402
import ctypes  # noqa: E402
import glob  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

import common  # noqa: E402

#: seconds left to the child session's processes to exit by themselves,
#: then after SIGTERM, before SIGKILL
GRACE_S = 10.0
PR_SET_CHILD_SUBREAPER = 36


def session_pids(sid: int) -> list[int]:
    """Processes of session ``sid``: live ones, and zombies this process
    has yet to reap."""
    out, me = [], os.getpid()
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if int(fields[3]) == sid and (fields[0] != "Z" or int(fields[1]) == me):
            out.append(int(d))
    return out


def reap_zombies() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def end_session(sid: int) -> None:
    """Wait for every process of session ``sid`` to exit: GRACE_S on its
    own, then GRACE_S after SIGTERM, then SIGKILL. As a child subreaper
    this process inherits the session's orphans and reaps them."""
    start, sent = time.time(), None
    while True:
        reap_zombies()
        pids = session_pids(sid)
        if not pids:
            return
        waited = time.time() - start
        sig = signal.SIGKILL if waited > 2 * GRACE_S else signal.SIGTERM if waited > GRACE_S else None
        if sig is not None and sig != sent:
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sent = sig
        time.sleep(0.05)


def supervise() -> int:
    """Run this script as a child in its own session, then end that session."""
    common.require_repo()
    try:
        ctypes.CDLL(None).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass  # orphans go to init, which reaps them; end_session still waits for them

    def terminate(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, terminate)
    child = subprocess.Popen([sys.executable, os.path.abspath(__file__), *sys.argv[1:]],
                             env={**os.environ, "PERFBENCH_T0": repr(T0)}, start_new_session=True)
    try:
        return child.wait()
    finally:
        end_session(child.pid)
        # the child's run dir, if a signal ended it before its own clean-up
        for rdir in glob.glob(os.path.join(common.WORK, f"run-*-{child.pid}")):
            shutil.rmtree(rdir, ignore_errors=True)


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=["compact_job", "fused_rollup", "fuzzy_stream"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    common.require_repo()

    rdir = common.run_dir(args.workload, args.seed)
    common.pin_env(rdir)
    checks = common.Checks()
    probe_ms = common.calm_probe_ms()
    steal0, total0 = common.cpu_jiffies()
    try:
        wl = importlib.import_module(args.workload)
        metrics, samples, notes, ctx = wl.run(args, T0, checks, rdir, bool(args.trace))
        notes.insert(0, f"nproc {os.cpu_count()}, local[{common.CORES}], "
                        f"calm probe {probe_ms:.1f} ms (median of 5 sorts of 1e6 doubles, one core)")
        last = os.path.join(common.WORK, f"untraced-{args.workload}-s{args.seed}.json")
        if args.trace:
            import layers

            untraced = None
            if os.path.isfile(last):
                with open(last) as fh:
                    untraced = json.load(fh)
            metrics, lnotes = layers.collect(args.workload, metrics, ctx, untraced)
            notes += lnotes
            samples = {}
        else:
            with open(last, "w") as fh:
                json.dump({k: v for k, (v, _u) in metrics.items()}, fh)
    finally:
        shutil.rmtree(rdir, ignore_errors=True)
    steal1, total1 = common.cpu_jiffies()
    if total1 > total0:
        # the share of the host's CPU time its hypervisor gave to other
        # guests: high values mark a run taken while the host was slower
        notes.append(f"host steal {(steal1 - steal0) / (total1 - total0) * 100:.1f} % of CPU time "
                     f"during the run; calm probe at the end {common.calm_probe_ms():.1f} ms")
    common.emit(checks, metrics, samples, notes)
    return 0 if checks.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main() if "PERFBENCH_T0" in os.environ else supervise())
