"""Benchmark entry point.

    python3 perfbench/run.py --workload news_dag --seed 1 --seconds 6 --trace 0

Runs one workload (see workloads.py) on local[nproc] from the root of a
checkout, checks every op's output against its DuckDB oracle and prints,
as the last stdout line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). Inputs, stage tables, Spark temp
space, the raw run records (``runs.jsonl``) and trace spans all live
under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DEADLINE_S = 140  # plus at most ~30 s to stop the JVM: well inside 180 s


def configure_env() -> None:
    """Pin the run's environment before the JVM starts."""
    for d in ("tmp", "spark-local", "stages"):  # leftovers of earlier runs
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    for d in ("tmp", "spark-local", "data"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = "2g"  # well below RAM, room for other processes
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # every JVM the run starts keeps its temp and perf files here too
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
    os.environ["TZ"] = "UTC"
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
    # Python workers (mapInPandas, pandas UDFs) import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    time.tzset()
    tempfile.tempdir = None
    sys.path[:0] = [ROOT, HERE]


class Deadline(BaseException):
    """Raised by the alarm. Not an ``Exception``, so the per-op
    ``except Exception`` of the op loop cannot swallow it: it unwinds the
    whole run, whose ``finally`` stops Spark."""


def on_deadline(signum, frame):
    raise Deadline(f"run exceeded {DEADLINE_S}s")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    signal.signal(signal.SIGALRM, on_deadline)
    signal.alarm(DEADLINE_S)
    configure_env()
    try:
        import harness
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2

    started = time.time()
    run = harness.Run(args.workload, args.seed, args.seconds, bool(args.trace), ROOT, WORK)
    try:
        result = run.execute()
    except Deadline as e:
        print(f"perfbench: {e}; no result", file=sys.stderr)
        return 3
    signal.alarm(0)
    record = run.record(result, started)
    with open(os.path.join(WORK, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    if args.trace:
        run.tracer.write(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"))
    out = {k: result[k] for k in ("correct", "attempted", "failed", "metrics")}
    print(json.dumps(out, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
