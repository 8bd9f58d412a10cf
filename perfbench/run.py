"""Benchmark entry point.

    python3 perfbench/run.py --workload curate_bulk --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout. With ``--trace 0`` it measures
the end-to-end metrics in a window of ``--seconds``; with ``--trace 1``
it runs a fixed traced protocol and reports the per-layer metrics. The
last line of standard output is the JSON result. Everything it writes
goes under ``perfbench/.work/``.
"""

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("curate_bulk", "curate_shards", "llm_synth")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "dataflow_spark", "__init__.py")):
        print("perfbench: no dataflow_spark/ package next to perfbench/; "
              "run from a source checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, "perfbench", ".work")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # keep every file Spark, the JVM and Python workers write in the
    # checkout; workers import dataflow_spark and perfbench from ROOT
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["_JAVA_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("_JAVA_OPTIONS"), "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    return workloads.main(args.workload, args.seed, args.seconds,
                          bool(args.trace), work, T_PROCESS)


if __name__ == "__main__":
    sys.exit(main())
