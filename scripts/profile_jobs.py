#!/usr/bin/env python
"""Per-entry job-count + wall profiling.

For each named entry: run it ``reps`` times under a job group and
report median wall seconds AND the number of Spark jobs the entry
launches (driver-loop overhead is invisible in a plan — job count is
its direct measurement; e.g. an iterative operator at 3 jobs/round ×
10 rounds = 30 scheduler round-trips per run).

Usage:
  python scripts/profile_jobs.py [--reps N] [entry ...]

With no entries named, profiles every bench entry (``bench.ENTRIES``);
any catalog entry name is accepted too.  Prints one JSON line:
{entry: {"median_sec": s, "jobs": n, "rows": r, "runs": [...]}}.
Session config and warm-ups are bench.py's own (``bench.build_session``,
``bench.warm_up``).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    reps = 5
    if args and args[0] == "--reps":
        reps = int(args[1])
        args = args[2:]
    names = args or list(bench.ENTRIES)

    spark, sf_dir = bench.build_session("profile_jobs")
    bench.warm_up(spark, sf_dir)

    tracker = spark.sparkContext.statusTracker()
    out = {}
    for name in names:
        fn = bench.ENTRIES.get(name) or bench.cat.QUERIES[name]
        runs, jobs_per_run, rows = [], [], None
        for i in range(reps):
            spark.catalog.clearCache()
            group = f"prof_{name}_{i}"
            spark.sparkContext.setJobGroup(group, name)
            t0 = time.perf_counter()
            rows = fn(spark, sf_dir).count()
            runs.append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobGroup(None, None)
            jobs_per_run.append(len(tracker.getJobIdsForGroup(group)))
        out[name] = {
            "median_sec": round(statistics.median(runs), 3),
            "jobs": jobs_per_run[-1],
            "rows": rows,
            "runs": runs,
        }
        print(f"# {name}: {out[name]}", file=sys.stderr)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
