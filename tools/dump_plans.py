"""Dump .explain("formatted") for registry queries to files.

    python tools/dump_plans.py <out_dir> <suffix> [sf_dir] [query ...]

With no query names it dumps every registry query. Writes
<out_dir>/<query>_<suffix>.txt for each query, and its DuckDB
oracle SQL as <out_dir>/<query>_<suffix>.sql (none for a query without
an oracle). The numbers a process-global counter hands out are
stripped (expression ids ``doc_id#12L`` -> ``doc_id#L``, ``plan_id=``,
``RDD[]``, lambda variables ``lambda x_303`` -> ``lambda x_``), and
each query's blocks are released after its explain, so a dump does not
depend on which queries were built before it: two checkouts' dumps
(same suffix, different out_dirs) compare plans and oracle strings
with one plain ``diff -r``. Queries whose
DataFrame cannot be built (e.g. streaming drains that need a live
run) record the exception instead so the failure is visible.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bbcnews_scraper_nlp_spark.queries import REGISTRY  # noqa: E402
from bbcnews_scraper_nlp_spark.session import (  # noqa: E402
    get_spark,
    release_blocks,
)

_GLOBAL_NUMBERS = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"(lambda \w+)_\d+"), r"\1_"),
]


def strip_global_numbers(plan: str) -> str:
    for pattern, repl in _GLOBAL_NUMBERS:
        plan = pattern.sub(repl, plan)
    return plan


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    rest = sys.argv[3:]
    if rest and os.path.isdir(rest[0]):
        sf_dir, names = rest[0], rest[1:]
    else:
        sf_dir, names = "/root/testdata/sf0.1", rest
    names = names or list(REGISTRY)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump_plans")
    for name in names:
        q = REGISTRY[name]
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        try:
            df = q.fn(spark, sf_dir)
            txt = strip_global_numbers(
                df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
            )
        except Exception as e:  # noqa: BLE001
            txt = f"EXPLAIN FAILED: {type(e).__name__}: {e}\n"
        finally:
            release_blocks(spark)
        with open(path, "w") as f:
            f.write(txt)
        if q.sql is not None:
            with open(os.path.join(out_dir, f"{name}_{suffix}.sql"), "w") as f:
                f.write(q.sql)
        print(f"# wrote {path}", file=sys.stderr)


if __name__ == "__main__":
    main()
