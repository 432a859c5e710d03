"""Profile registry queries: split DataFrame-build (Python + analysis
+ any eager checkpoint jobs) from execution, and count each run's
Spark jobs and codegen compiles.

    python tools/profile_query.py <sf_dir> <query> [query ...]

Runs each query twice (cold then warm, matching bench.py's best-of-2)
and prints build/exec decomposition for both runs, next to the jobs
the run started and the classes it compiled, then the job list of
the warm run. Jobs are found through a per-run job group and named
from the driver's status store, so the Spark UI stays off.
Default sink is count() to match bench.py's methodology exactly
(PROFILE_SINK=noop switches to the guide-§1.4 noop sink; note the
noop write path skips AQE re-optimization in Spark 4, so its numbers
are NOT comparable to the bench).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bbcnews_scraper_nlp_spark.queries import REGISTRY  # noqa: E402
from bbcnews_scraper_nlp_spark.session import (  # noqa: E402
    codegen_stats,
    get_spark,
    release_blocks,
)


def group_jobs(spark, group: str) -> list[tuple[int, int, str]]:
    """(job id, tasks, name) of every job started under ``group``."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    out = []
    for job_id in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        job = store.job(job_id)
        out.append((job_id, job.numTasks(), job.name()[:70]))
    return out


def main() -> None:
    sf_dir, *names = sys.argv[1:]
    spark = get_spark("profile_query")
    sc = spark.sparkContext
    spark.range(32).groupBy("id").count().count()
    for name in names:
        q = REGISTRY[name]
        jobs: list[tuple[int, int, str]] = []
        try:
            for run in (1, 2):
                group = f"{name}:run{run}"
                sc.setJobGroup(group, group)
                compiles0, compile_s0 = codegen_stats(spark)
                t0 = time.perf_counter()
                df = q.fn(spark, sf_dir)
                t_build = time.perf_counter() - t0
                t1 = time.perf_counter()
                if os.environ.get("PROFILE_SINK") == "noop":
                    df.write.format("noop").mode("overwrite").save()
                else:
                    df.count()
                t_exec = time.perf_counter() - t1
                compiles, compile_s = codegen_stats(spark)
                jobs = group_jobs(spark, group)
                print(
                    f"## {name} run{run}: build={t_build:.2f}s "
                    f"exec={t_exec:.2f}s total={t_build + t_exec:.2f}s "
                    f"jobs={len(jobs)} compiles={compiles - compiles0} "
                    f"compile={compile_s - compile_s0:.2f}s"
                )
        finally:
            sc.setJobGroup("", "")
            release_blocks(spark)
        for job_id, tasks, job_name in jobs:
            print(f"   job {job_id:>4} tasks={tasks:>4} {job_name}")


if __name__ == "__main__":
    main()
