"""``jobs/compact.py`` under span wrappers, for the traced run.

Submitted by spark-submit in place of ``jobs/compact.py`` with the same
arguments. Spans go to the JSON file named by ``PERFBENCH_SPANS`` when
the job ends.
"""

from __future__ import annotations

import importlib.util
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import Tracer  # noqa: E402


def main() -> None:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location("jobs.compact", os.path.join(root, "jobs", "compact.py"))
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)

    from tersets_spark.operators import lineage

    tracer = Tracer()
    tracer.install_spark()
    tracer.wrap(lineage, "run_with_lineage", "run_with_lineage")
    try:
        with tracer.span("compact.main"):
            job.main(sys.argv[1:])
    finally:
        tracer.dump(os.environ["PERFBENCH_SPANS"])


if __name__ == "__main__":
    main()
