"""Profile the bench's lake-op scenario per op: wall seconds AND Spark
job count (the driver-roundtrip signal — a 150k-row merge that launches
10 jobs is barrier-bound, not data-bound).

    python scripts/profile_lake_ops.py [reps] [sf_dir]

Runs the exact `bench.lake_ops_bench` scenario (fresh table per pass)
with each txlog call under its own Spark job group, counted by
`perfbench.common.job_counts` (jobs and stages).
"""

from __future__ import annotations

import os as _os
import sys as _sys

_sys.path.insert(0, _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))))

import itertools
import os
import shutil
import tempfile
import time


def main() -> int:
    reps = int(_sys.argv[1]) if len(_sys.argv) > 1 else 2
    sf_dir = _sys.argv[2] if len(_sys.argv) > 2 else "/root/testdata/sf0.1"

    from pyspark.sql import functions as F

    from es_analytics_spark import txlog
    from es_analytics_spark.incremental import maintain_rollup
    from es_analytics_spark.session import get_spark
    from es_analytics_spark.streaming.txlog_sink import _EpochCommitter
    from perfbench.common import job_counts

    spark = get_spark("profile-lake")
    sc = spark.sparkContext

    seq = itertools.count()

    def timed(label: str, fn):
        # each call runs under its own job group, so the counts are
        # exactly this op's jobs and stages
        group = f"profile-{label}-{next(seq)}"
        sc.setJobGroup(group, label)
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            wall = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs, stages, _ = job_counts(spark, group)
        print(f"  {label:24s} {wall:7.3f}s  jobs={jobs} stages={stages}")
        return out

    for rep in range(reps):
        print(f"pass {rep}:")
        base = tempfile.mkdtemp(prefix="prof_txlog_")
        t = os.path.join(base, "t")
        try:
            orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).select(
                "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
            ).localCheckpoint(eager=True)
            timed("append", lambda: txlog.append(spark, t, orders, stats_cols=["o_orderkey"]))
            batch = (
                orders.limit(1000)
                .withColumn("o_orderkey", -F.col("o_orderkey"))
                .localCheckpoint(eager=True)
            )
            com = _EpochCommitter(t, "bench-stream", None, False)
            timed("sink_20_epochs", lambda: [
                com(batch.withColumn("o_orderkey", F.col("o_orderkey") - e * 1000), e)
                for e in range(20)
            ])
            upd = (
                orders.filter(F.col("o_orderkey") % 100 == 7)
                .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
                .localCheckpoint(eager=True)
            )
            timed("merge_upsert", lambda: txlog.merge_upsert(spark, t, upd, keys=["o_orderkey"]))
            timed("delete_rewrite", lambda: txlog.delete_where(spark, t, "o_orderkey % 100 = 13"))
            timed("delete_dv", lambda: txlog.delete_where(spark, t, "o_orderkey % 100 = 29", use_dv=True))
            timed("compact_zorder", lambda: txlog.compact(
                spark, t, cluster_by=["o_custkey", "o_totalprice"], zorder=True
            ))
            roll = os.path.join(base, "roll")
            timed("rollup_bootstrap", lambda: maintain_rollup(
                spark, t, roll, keys=["o_custkey"],
                measures={"rev": ("sum", "o_totalprice")},
            ))
            txlog.append(spark, t, upd.withColumn(
                "o_orderkey", F.col("o_orderkey") + 10_000_000))
            timed("rollup_delta", lambda: maintain_rollup(
                spark, t, roll, keys=["o_custkey"],
                measures={"rev": ("sum", "o_totalprice")},
            ))
            timed("snapshot_read", lambda: txlog.read_table(spark, t).count())
        finally:
            shutil.rmtree(base, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
