"""Per-query profiling harness for optimization rounds.

    python scripts/profile_query.py <query>[,<query>...] [reps] [sf_dir]

Times each query with the noop sink (guide §1.4) REPS times in one
session (first run includes codegen; median of the rest is steady
state) and prints per-run seconds plus the job/stage counts the run
generated, counted under one Spark job group per query — the
fixed-overhead signal (an iterative query whose time
is all scheduler barriers shows many tiny jobs).
"""

from __future__ import annotations

import os as _os
import sys as _sys

_sys.path.insert(0, _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))))

import statistics
import sys
import time


def main() -> int:
    names = sys.argv[1].split(",")
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"

    from es_analytics_spark.queries import REGISTRY
    from es_analytics_spark.session import get_spark
    from perfbench.common import job_counts

    spark = get_spark("profile")
    sc = spark.sparkContext
    # warm the session on the first query so rep timings are steady-state
    REGISTRY[names[0]].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    for name in names:
        fn = REGISTRY[name].fn
        runs = []
        # one job group per query: its counts are exactly this query's
        # jobs, whatever else the session ran before
        group = f"profile-{name}"
        for i in range(reps):
            sc.setJobGroup(group, f"{name}#{i}")
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        njobs, nstages, _ = job_counts(spark, group)
        med = statistics.median(runs[1:]) if reps > 1 else runs[0]
        print(
            f"{name:36s} med={med:7.3f}s runs="
            + ",".join(f"{r:.3f}" for r in runs)
            + f" jobs~{njobs // max(reps, 1)}/run"
            + f" stages~{nstages // max(reps, 1)}/run"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
