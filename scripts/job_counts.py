"""Per-query Spark job/stage counts via the status tracker.

Usage:
    python scripts/job_counts.py query [query ...]

Builds each named ``__spark_entry__.queries()`` entry, runs it through
the noop sink (bench.py's timed action), and prints how many Spark JOBS
the whole build+execute cycle submitted (statusTracker job-id delta) —
the deterministic per-query action/job census plans/r12/OPTIMIZATION.md §3
used to target eager-execution fusion. Wall seconds are printed too,
but the job delta is the signal: it is identical across repeats while
wall times swing with the host. Honors SPARK_GRAFT_SF_DIR.
"""

from __future__ import annotations

import json
import os
import sys
import time

# the checkout this script sits in, whatever the working directory
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    names = sys.argv[1:]
    if not names:
        raise SystemExit("usage: job_counts.py query [query ...]")

    import __spark_entry__ as entry_mod
    from facolos_data_pipelines_spark.session import build_spark, load_tables

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_spark(app_name="job_counts")
    qs = entry_mod.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    # warm-up: table loads + one tiny action so cold-start jobs are not
    # charged to the first measured query
    for df in load_tables(spark, sf_dir).values():
        df.count()

    tracker = spark.sparkContext.statusTracker()
    out = {}
    for name in names:
        before = tracker.getJobIdsForGroup(None)
        hi = max(before) if before else -1
        t0 = time.time()
        df = qs[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        wall = time.time() - t0
        after = tracker.getJobIdsForGroup(None)
        jobs = len([j for j in after if j > hi])
        out[name] = {"jobs": jobs, "wall": round(wall, 2)}
        print(f"{name}: jobs={jobs} wall={wall:.2f}s", flush=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
