"""Per-query profiling harness (optimization rounds).

For each named query: time the BUILD phase (``fn(spark, sf_dir)`` — plan
construction including any eager driver-side pre-pass jobs) separately
from the EXECUTE phase (noop sink), count the Spark jobs each phase
launched, and optionally dump ``explain("formatted")``.

The split matters because many operators run bounded pre-pass jobs at
plan-build time (stable_prefix_sum's lo/hi + partials, seed collects):
those serialize on the driver and are invisible in the executed plan.

Usage:
  python scripts/profile_query.py q1 q2 ...          # profile queries
  python scripts/profile_query.py --explain-dir DIR q1 ...
  SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=... (bench defaults)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    args = [a for a in sys.argv[1:]]
    explain_dir = None
    if "--explain-dir" in args:
        i = args.index("--explain-dir")
        explain_dir = args[i + 1]
        del args[i : i + 2]
    repeat = 1
    if "--repeat" in args:
        i = args.index("--repeat")
        repeat = int(args[i + 1])
        del args[i : i + 2]
    names = args

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # job counts below come from the status store, which forgets all
    # but the last spark.ui.retainedJobs jobs (default 1000); set the
    # cap far above any phase so a count cannot silently fall short
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.retainedJobs=100000 pyspark-shell"
    )

    from bench import warm_up
    from database_fragmentation_and_query_processor_spark.queries.registry import QUERIES
    from database_fragmentation_and_query_processor_spark.session import get_spark

    spark = get_spark("dfqp-profile", sf_dir)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    warm_up(spark, sf_dir)

    # Job counting via the PUBLIC StatusTracker + job-group API (r14
    # ADVICE: the former sc._jsc.sc().dagScheduler().nextJobId() is a
    # private JVM internal — version-fragile and racy under concurrent
    # submission). Each phase runs under its own job group; the phase's
    # job count is the group's job-id list length.
    tracker = sc.statusTracker()

    def jobs_in(group: str) -> int:
        ids = tracker.getJobIdsForGroup(group)
        return len(ids) if ids is not None else 0

    rows = []
    for name in names:
        fn = QUERIES[name]
        best = None
        for it in range(repeat):
            gb = f"profile:{name}:build:{it}"
            ge = f"profile:{name}:exec:{it}"
            sc.setJobGroup(gb, f"profile:{name} build")
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            sc.setJobGroup(ge, f"profile:{name} exec")
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            sc.setJobGroup(None, None)
            rec = {
                "query": name,
                "build_s": round(t1 - t0, 3),
                "exec_s": round(t2 - t1, 3),
                "total_s": round(t2 - t0, 3),
                "build_jobs": jobs_in(gb),
                "exec_jobs": jobs_in(ge),
            }
            if best is None or rec["total_s"] < best["total_s"]:
                best = rec
                if explain_dir and it == 0:
                    from database_fragmentation_and_query_processor_spark.plans import (
                        final_explain_formatted,
                    )

                    os.makedirs(explain_dir, exist_ok=True)
                    with open(os.path.join(explain_dir, f"{name}.txt"), "w") as fh:
                        fh.write(final_explain_formatted(fn(spark, sf_dir)))
            # drop persisted intermediates between runs (bench parity)
            try:
                from database_fragmentation_and_query_processor_spark.cache import release_all

                release_all()
                spark.catalog.clearCache()
            except Exception:
                pass
        rows.append(best)
        print(json.dumps(best), flush=True)

    total = round(sum(r["total_s"] for r in rows), 3)
    print(json.dumps({"n": len(rows), "total_s": total}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
