"""Profile registry queries: split DataFrame-build (Python + analysis
+ any eager checkpoint jobs) from execution, and report per-job wall
times from the Spark UI REST API.

    python tools/profile_query.py <sf_dir> <query> [query ...]

Runs each query twice (cold then warm, matching bench.py's best-of-2)
and prints build/exec decomposition for both runs plus the job list.
Default sink is count() to match bench.py's methodology exactly
(PROFILE_SINK=noop switches to the guide-§1.4 noop sink; note the
noop write path skips AQE re-optimization in Spark 4, so its numbers
are NOT comparable to the bench).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bbcnews_scraper_nlp_spark.queries import REGISTRY  # noqa: E402
from bbcnews_scraper_nlp_spark.session import (  # noqa: E402
    get_spark,
    release_blocks,
)


def jobs_since(ui: str, app_id: str, min_job: int):
    with urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app_id}/jobs?status=succeeded"
    ) as r:
        jobs = json.load(r)
    out = []
    for j in jobs:
        if j["jobId"] < min_job:
            continue
        t0 = j.get("submissionTime"), j.get("completionTime")
        out.append(
            (
                j["jobId"],
                j.get("name", "")[:70],
                j.get("description", "")[:60],
                j.get("numTasks", 0),
            )
        )
    return sorted(out)


def main() -> None:
    sf_dir, *names = sys.argv[1:]
    spark = get_spark(
        "profile_query", extra_conf={"spark.ui.enabled": "true"}
    )
    sc = spark.sparkContext
    ui = "http://localhost:4040"
    app_id = sc.applicationId
    spark.range(32).groupBy("id").count().count()
    for name in names:
        q = REGISTRY[name]
        try:
            for run in (1, 2):
                t0 = time.perf_counter()
                df = q.fn(spark, sf_dir)
                t_build = time.perf_counter() - t0
                t1 = time.perf_counter()
                if os.environ.get("PROFILE_SINK") == "noop":
                    df.write.format("noop").mode("overwrite").save()
                else:
                    df.count()
                t_exec = time.perf_counter() - t1
                print(
                    f"## {name} run{run}: build={t_build:.2f}s "
                    f"exec={t_exec:.2f}s total={t_build + t_exec:.2f}s"
                )
        finally:
            release_blocks(spark)
        try:
            for j in jobs_since(ui, app_id, 0)[-40:]:
                print(f"   job {j[0]:>4} tasks={j[3]:>4} {j[1]}")
        except Exception as e:  # noqa: BLE001
            print(f"   (REST API unavailable: {e})")


if __name__ == "__main__":
    main()
