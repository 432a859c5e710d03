"""Bench a named subset of registry queries at an arbitrary sf dir.

The sf1 rehearsal driver and the per-query profiler: bench.py is the
driver contract (full registry at $SPARK_GRAFT_SF_DIR); this tool runs
only the queries named on the command line (the volume-bound heavy
tail, or one query under study) against any sf directory, e.g. one
generated by tools/make_sf1.py. Each query goes through
``bench.time_query``, the same best-of-2 loop bench.py uses. Stdout is
one JSON line; stderr shows, per query, each run's build/exec split,
jobs and codegen compiles, then the job list of the best run (each
job's description, which ``time_query`` sets to the query name, and
its call site).

    python tools/bench_subset.py <sf_dir> <query> [query ...]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import time_query  # noqa: E402
from bbcnews_scraper_nlp_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir, *names = sys.argv[1:]
    spark = get_spark("bench_subset")
    store = spark.sparkContext._jsc.sc().statusStore()
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in names:
        rec = time_query(spark, name, sf_dir)
        if "error" in rec:
            errors[name] = rec["error"]
            continue
        timings[name] = rec["best_s"]
        for i, r in enumerate(rec["runs"], 1):
            print(
                f"## {name} run{i}: build={r['build_s']:.2f}s "
                f"exec={r['exec_s']:.2f}s jobs={r['jobs']} "
                f"compiles={r['compiles']} compile={r['compile_s']:.2f}s",
                file=sys.stderr,
            )
        for job_id in range(rec["first_job"], rec["first_job"] + rec["jobs"]):
            job = store.job(job_id)
            desc = job.description()
            print(
                f"   job {job_id:>4} tasks={job.numTasks():>4} "
                f"[{desc.get() if desc.isDefined() else ''}] {job.name()[:70]}",
                file=sys.stderr,
            )
    out = {
        "metric": "subset_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf_dir": sf_dir,
        "queries": timings,
    }
    if errors:
        out["errors"] = errors
    print(json.dumps(out))


if __name__ == "__main__":
    main()
