"""Round-start housekeeping in one scripted step.

``bench.py`` writes each run's raw per-query timings to
``BENCH_RAW.json``; ``BENCH_FULL.json`` is only ever the min-merged
floor, with ``runs`` provenance. ``CORRECTNESS_r{N}.json`` lands
after the round-close commit, leaving ``EVIDENCE.json`` one round
stale. This script:

1. Folds ``BENCH_RAW.json`` (if present) into ``BENCH_FULL.json``
   (``runs: N`` -> ``runs: N+1``) via ``tools/bench_merge.py``, then
   deletes the raw file so the same run is never folded twice. Only
   fold a run of the code that produced the floor: the min-merge
   assumes identical plans.
2. Regenerates ``EVIDENCE.json`` over ALL CORRECTNESS rounds on disk
   (``tools/evidence_manifest.py``).
3. Regenerates ``SCALING.md``'s derived tables from the merged
   artifacts (``tools/scaling_report.py``).

Run from the repo root at the top of each round:

    python tools/round_start.py
"""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "BENCH_FULL.json")
RAW = os.path.join(ROOT, "BENCH_RAW.json")


def fold_bench() -> None:
    if not os.path.exists(RAW):
        print("no BENCH_RAW.json to fold — skip")
        return
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "bench_merge.py"),
         BENCH, BENCH, RAW],
        check=True,
    )
    os.unlink(RAW)


def main() -> None:
    fold_bench()
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "evidence_manifest.py")],
        check=True,
    )
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "scaling_report.py")],
        check=True,
    )


if __name__ == "__main__":
    main()
