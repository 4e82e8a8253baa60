#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload bulk_agg --seed 1 --seconds 20 --trace 0

Run it from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 they are the per-layer
ones, from a traced loop, plus the tracing overhead against the ops of the
same loop that ran without spans. The line before it records the input
fingerprint, the op sample count and the host.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("bulk_agg", "tick_write", "codec_catalog")

# The driver JVM's heap. local mode runs every task inside it; 4g keeps the
# largest workload out of GC trouble on a 15 GiB, 4-core host.
DRIVER_HEAP = "4g"


def pin_environment(scratch: str) -> None:
    """Everything the run writes stays under ``scratch`` in the checkout, and
    Spark runs local[nproc] with a fixed heap. Set before the JVM starts."""
    local = os.path.join(scratch, "spark-local")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python workers import hatchery_spark (Arrow UDFs, mapInPandas).
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "hatchery_spark", "pipeline.py")):
        print(f"perfbench: no hatchery_spark package under {ROOT}; "
              "run from a full checkout", file=sys.stderr)
        return 2
    scratch = os.path.join(ROOT, ".perfbench-work", str(os.getpid()))
    pin_environment(scratch)
    sys.path.insert(0, ROOT)
    from perfbench.harness import run

    try:
        result = run(args, os.path.join(scratch, "run"))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(scratch))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
