"""Benchmark of the keep/drop + scrub engine on two seeded workloads.

    python3 perfbench/run.py --workload mixed_corpus --seed 1 --seconds 5 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer ones and writes the spans to
``perfbench/_work/<run>.spans.json``. The last line of standard output is
one JSON object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``. Workloads, metrics and host facts: ``perfbench/SETUP.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "language_identification_spark"
WORKLOADS = ("mixed_corpus", "large_pii_files")


def set_env(run_dir: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    ``run_dir``, and size the driver for a shared host. Must run before
    the JVM starts: the workers inherit this environment."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp}"
    ).strip()
    # session.get_spark otherwise asks for a 24g driver heap
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found beside perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]  # HERE first: the repo root has its own bench.py
    work = os.path.join(HERE, "_work")
    os.makedirs(work, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=work)
    try:
        set_env(run_dir)
        # imported only now: pyspark and the package must see the env above
        import bench

        result = bench.run(
            args.workload, args.seed, args.seconds, bool(args.trace),
            run_dir, os.path.join(ROOT, PACKAGE),
        )
        if args.trace:
            result.recorder.write(run_dir + ".spans.json")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for line in result.notes:
        print(line)
    print(json.dumps(result.summary()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
