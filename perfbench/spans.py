"""Span tracing from outside the engine, and Spark event-log parsing.

Spans wrap calls into the engine's public functions (and PySpark's
writer / collect entry points). Each span keeps name, key, start, end
and parent; spans stay in memory and are written out once at the end.
The event log is Spark's own record of jobs, stages and tasks; jobs are
attributed to the innermost span that was open when they were submitted.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()  # spans are opened from several threads
        self._main_stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            # a worker thread's spans hang under whatever the main
            # thread has open (the caller that fanned out the work)
            self._local.stack = self._main_stack[-1:]
        return self._local.stack

    def span(self, name: str, key: str = ""):
        tracer = self

        class _Span:
            def __enter__(self):
                stack = tracer._stack()
                with tracer._lock:
                    self.idx = len(tracer.spans)
                    tracer.spans.append(
                        {"name": name, "key": key, "start": time.time(), "end": None,
                         "parent": stack[-1] if stack else None}
                    )
                stack.append(self.idx)
                return self

            def __exit__(self, *exc):
                tracer.spans[self.idx]["end"] = time.time()
                tracer._stack().pop()
                return False

        return _Span()

    def wrap(self, owner, attr: str, name: str, key_fn=None) -> None:
        """Replace ``owner.attr`` by a spanned call until :meth:`restore`."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            with self.span(name, key_fn(*args, **kwargs) if key_fn else ""):
                return orig(*args, **kwargs)

        setattr(owner, attr, spanned)
        self._patched.append((owner, attr, orig))

    def install_spark(self) -> None:
        """Writer and action spans. Under PySpark 4.1 the concrete
        DataFrame is ``pyspark.sql.classic.dataframe.DataFrame``."""
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        self.wrap(DataFrameWriter, "parquet", "write",
                  lambda _self, *a, **k: str(a[0] if a else k.get("path")))
        self.wrap(DataFrame, "collect", "collect")
        self.wrap(DataFrame, "count", "count")

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# ---- span arithmetic ----------------------------------------------------

def union_s(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def top_level(spans: list[dict], name: str) -> list[dict]:
    """Spans called ``name`` with no ancestor of the same name (a
    ``first()`` inside a ``collect()`` is counted once)."""
    out = []
    for sp in spans:
        if sp["name"] != name:
            continue
        p = sp["parent"]
        while p is not None and spans[p]["name"] != name:
            p = spans[p]["parent"]
        if p is None:
            out.append(sp)
    return out


def total_s(spans: list[dict]) -> float:
    return union_s((s["start"], s["end"]) for s in spans)


# ---- Spark event log ----------------------------------------------------

def eventlog_conf(log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_eventlog(log_dir: str) -> dict:
    """Jobs, tasks and SQL executions of every application logged in
    ``log_dir``. Times are epoch seconds."""
    jobs: dict = {}
    tasks: list[dict] = []
    sql: dict = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if path.endswith(".inprogress") or os.path.isdir(path):
            continue
        app = os.path.basename(path)
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[(app, e["Job ID"])] = {
                        "start": e["Submission Time"] / 1000,
                        "end": None,
                        "ok": None,
                        "stages": [s["Stage ID"] for s in e["Stage Infos"]],
                        "sql": props.get("spark.sql.execution.id"),
                        "app": app,
                    }
                elif ev == "SparkListenerJobEnd":
                    j = jobs[(app, e["Job ID"])]
                    j["end"] = e["Completion Time"] / 1000
                    j["ok"] = e["Job Result"]["Result"] == "JobSucceeded"
                elif ev == "SparkListenerTaskEnd":
                    info = e["Task Info"]
                    m = e.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append(
                        {
                            "stage": e["Stage ID"],
                            "app": app,
                            "start": info["Launch Time"] / 1000,
                            "end": info["Finish Time"] / 1000,
                            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                            "gc_s": m.get("JVM GC Time", 0) / 1000,
                            "spill": m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0),
                            "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        }
                    )
                elif ev.endswith("SparkListenerSQLExecutionStart"):
                    sql[(app, str(e["executionId"]))] = e.get("physicalPlanDescription", "")
    return {"jobs": list(jobs.values()), "tasks": tasks, "sql": sql}


def jobs_in(log: dict, start: float, end: float) -> list[dict]:
    return [j for j in log["jobs"] if start <= j["start"] <= end]


def tasks_of(log: dict, jobs: list[dict]) -> list[dict]:
    stages = {(j["app"], s) for j in jobs for s in j["stages"]}
    return [t for t in log["tasks"] if (t["app"], t["stage"]) in stages]


def engine_metrics(log: dict, windows: list[tuple[float, float]], cores: int) -> dict:
    """The ``spark.*`` layer over disjoint wall intervals (start, end)."""
    jobs = [j for s, e in windows for j in jobs_in(log, s, e)]
    tasks = tasks_of(log, jobs)
    wall = sum(e - s for s, e in windows)
    busy = sum(t["end"] - t["start"] for t in tasks)
    return {
        "spark.jobs": len(jobs),
        "spark.task_busy_s": busy,
        "spark.task_cpu_s": sum(t["cpu_s"] for t in tasks),
        "spark.gc_s": sum(t["gc_s"] for t in tasks),
        "spark.spill_bytes": sum(t["spill"] for t in tasks),
        "spark.no_task_s": wall - union_s((t["start"], t["end"]) for t in tasks),
        "spark.core_busy_share": busy / (wall * cores) if wall > 0 else 0.0,
    }


def shuffle_bytes(log: dict, start: float, end: float) -> int:
    return sum(t["shuffle_write"] for t in tasks_of(log, jobs_in(log, start, end)))
