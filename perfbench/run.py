"""Benchmark of gasket_rs_spark: three workloads, one process each.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Workloads:

* ``curation``  - 14 dedup/similarity/text/multimodal catalog queries at sf0.1
* ``analytics`` - 8 Catalyst-native catalog queries at sf0.1
* ``stage_pipeline`` - a 4-stage port-wired pipeline, no JVM

Inputs come from ``--seed`` only (perfbench/datagen.py for the tables).
Everything the run writes lives under ``.perfbench_work/`` in the
repository root and is removed before exit. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
a ``{"detail": ...}`` record (oracle result per query, exactly-once
check, external CPU core-seconds burned on the host during the run).

End-to-end metrics (``--trace 0``), per workload:

==================== ===================================== ===========================
metric               curation / analytics                  stage_pipeline
==================== ===================================== ===========================
setup_s              process start to warm session:        median of 7 fresh processes:
                     JVM launch, catalog import, one       start, import, wire, spawn
                     warm-up run of every query (table     and bootstrap the chain
                     generation and DuckDB excluded)
pass_s               median wall time of a timed pass      median closed-loop time, first
                                                           send to last sink arrival
==================== ===================================== ===========================

Memory (JVM, driver and worker high-water RSS), the pipeline's open-loop
latency and the teardown figures are reported per layer.

``--trace 1`` reports the per-layer metrics instead; they are timed from
this directory only, around calls into the package's public functions.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("curation", "analytics", "stage_pipeline")
# JVM heap cap: under the 8g default the Spark driver heap grows pass
# after pass.
DRIVER_MEM = "2g"


def _environment(work: str) -> None:
    """Point every scratch location into ``work`` and make the package
    importable by this process and by Spark's Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    sys.path[:0] = [HERE, ROOT]
    import tempfile

    tempfile.tempdir = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        _environment(work)
        from common import emit

        if args.workload == "stage_pipeline":
            import pipeline_workload as wl

            out = wl.run(args.seed, args.seconds, bool(args.trace))
        else:
            import spark_workloads as wl

            out = wl.run(args.workload, args.seed, args.seconds, bool(args.trace), work)
        correct, attempted, failed, metrics, layer, detail = out
        emit(correct, attempted, failed, layer if args.trace else metrics, detail, bool(args.trace))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    return 0


if __name__ == "__main__":
    sys.exit(main())
