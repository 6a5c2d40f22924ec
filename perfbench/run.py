"""Benchmark entry point.

    python3 perfbench/run.py --workload {catchup,trickle} \
        --seed N --seconds S --trace {0,1}

Run from the root of a source checkout: the program (``pgsink_spark``)
is imported from the working directory and Spark's Python workers get
it on ``PYTHONPATH``. All scratch data lives under
``.perfbench_work/`` in that directory and is removed at exit.

With ``--trace 0`` the run reports the end-to-end metrics; with
``--trace 1`` it records spans around its calls into each layer,
reads Spark's status store after each region and reports the
per-layer metrics (see perfbench/README.md). The last stdout line is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
The exit code is 1 when a correctness check fails, 2 on a usage or
environment error.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("catchup", "trickle")
# driver heap, fixed (-Xms = -Xmx) so peak RSS does not follow the
# garbage collector's heap-sizing decisions from run to run
HEAP = "2g"


def _prepare_env(root: str, work: str, cpus: int) -> None:
    """Process environment for Spark, set before the JVM starts: every
    file Spark, the JVM and Python write goes under ``work``."""
    for d in ("tmp", "spark-local", "spark-warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + pp if pp else "")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "spark-warehouse")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "--conf " + shlex.quote(
                "spark.driver.extraJavaOptions="
                f"-Xms{HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
            ),
            "pyspark-shell",
        ]
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "pgsink_spark", "__init__.py")):
        print(
            "perfbench: run from a source checkout (no pgsink_spark/ here)",
            file=sys.stderr,
        )
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)

    from observe import nproc

    cpus = nproc()
    _prepare_env(root, work, cpus)
    try:
        from workloads import run_workload, spec

        res = run_workload(args.workload, args.seed, args.seconds,
                           bool(args.trace), work, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))

    declared = spec()
    units = {m["name"]: m["unit"] for m in declared["end_to_end"] + declared["per_layer"]}
    metrics = {n: {"value": v, "unit": units[n]} for n, v in res.metrics.items()}
    for line in res.notes:
        print(line)
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(
        json.dumps(
            {
                "correct": res.correct,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if res.correct else 1


if __name__ == "__main__":
    sys.exit(main())
