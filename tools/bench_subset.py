"""Bench a named subset of registry queries at an arbitrary sf dir.

The sf1 rehearsal driver: bench.py is the driver contract (full
registry at $SPARK_GRAFT_SF_DIR) and stays untouched; this tool runs
only the queries named on the command line — the volume-bound heavy
tail — against a generated directory (tools/make_sf1.py), best-of-2
per query like bench.py, one JSON line on stdout.

    python tools/bench_subset.py <sf_dir> <query> [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bbcnews_scraper_nlp_spark.queries import REGISTRY  # noqa: E402
from bbcnews_scraper_nlp_spark.session import (  # noqa: E402
    get_spark,
    release_blocks,
)


def main() -> None:
    sf_dir, *names = sys.argv[1:]
    spark = get_spark("bench_subset")
    # tiny codegen warmup (bench.py's broader warmups are overkill
    # here: best-of-2 already absorbs first-touch JIT per query)
    spark.range(32).groupBy("id").count().count()
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in names:
        q = REGISTRY[name]
        best, n = float("inf"), 0
        try:
            for _ in range(2):
                t0 = time.perf_counter()
                df = q.fn(spark, sf_dir)
                n = df.count()
                best = min(best, time.perf_counter() - t0)
            print(f"# {name}: {best:.3f}s ({n} rows)", file=sys.stderr)
        except Exception as e:  # noqa: BLE001
            errors[name] = f"{type(e).__name__}: {e}"[:300]
            print(f"# {name}: FAILED ({errors[name][:160]})", file=sys.stderr)
        finally:
            release_blocks(spark)
        # a finite best means at least one repetition succeeded —
        # keep that timing even if a later repetition raised
        if best != float("inf"):
            timings[name] = round(best, 3)
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
