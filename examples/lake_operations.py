"""End-to-end lake operations walkthrough.

Run with:  PYTHONPATH=/root/repo python examples/lake_operations.py

The lake lifecycle from raw fact files to a versioned view — every
step prints its receipt:

  1. build        fragmented fact table → compact → range-cluster
  2. mutate       MERGE upsert, SCD2 dimension history
  3. audit        key-level snapshot diff signs the mutations off
  4. views        incremental enriched view (a txlog table) with
                  commit-log zone maps, time travel, change feed
  5. forget       GDPR erasure: file-pruned on the raw table; on the
                  view a row-level delete, then vacuum expires every
                  version that still held the subject
  6. clean        commit-log retention

All of it runs through the sources.fsio seam, so the same script
works against any Hadoop URI lake root (s3a://...).
"""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile

from pyspark.sql import functions as F

from es_analytics_spark import get_spark, txlog
from es_analytics_spark.incremental import refresh_enriched_view
from es_analytics_spark.maintenance import (
    cluster_by,
    compact,
    erase_keys,
    scd2_merge,
    table_diff,
    table_stats,
    upsert,
)


def main() -> None:
    spark = get_spark("lake-operations-example")
    root = tempfile.mkdtemp(prefix="lake_demo_")
    facts, dim, view = f"{root}/facts", f"{root}/dim_customer", f"{root}/view"

    # 1. build: fragmented write, then compact + cluster
    spark.range(0, 50_000).selectExpr(
        "id", "id % 100 as cust_id", "cast(id % 997 as double) as amount"
    ).repartition(64).write.parquet(facts)
    print("fragmented:", table_stats(spark, facts))
    print("compact:", compact(spark, facts, target_file_bytes=4 << 20)["after"])
    print("cluster:", cluster_by(spark, facts, ["cust_id"], 4 << 20)["after"])
    snap = f"{root}/facts_snapshot"
    shutil.copytree(facts, snap)

    # 2. mutate: upsert two fact rows; SCD2 a dimension twice
    target_schema = spark.read.parquet(facts).schema
    print(
        "upsert:",
        upsert(
            spark,
            facts,
            spark.createDataFrame([(1, 1, 999.0), (50_000, 0, 1.0)], target_schema),
            keys=["id"],
        ),
    )
    t0, t1 = dt.datetime(2026, 1, 1), dt.datetime(2026, 2, 1)
    dims = spark.createDataFrame(
        [(1, "gold", t0), (2, "silver", t0)], ["cust_id", "tier", "updated_at"]
    )
    print("scd2 load:", scd2_merge(spark, dim, dims, ["cust_id"], "updated_at"))
    print(
        "scd2 change:",
        scd2_merge(
            spark,
            dim,
            spark.createDataFrame(
                [(1, "platinum", t1)], ["cust_id", "tier", "updated_at"]
            ),
            ["cust_id"],
            "updated_at",
        ),
    )

    # 3. audit: the diff is exactly the mutation
    print("diff vs snapshot:", table_diff(spark, snap, facts, keys=["id"]))

    # 4. views: two incremental refreshes with zone maps, then prune
    for _ in range(2):
        print(
            "view refresh:",
            refresh_enriched_view(
                spark,
                f"{facts}/*.parquet",
                view,
                lambda df: df.withColumn("fee", df.amount * 0.1),
                stats_cols=["id"],
            ),
        )
        # second loop iteration sees no new files — a no-op receipt
    pruned = txlog.read_table(spark, view, range_filter={"id": (100, 199)})
    print("zone-map pruned rows:", pruned.count(), "files:", len(pruned.inputFiles()))
    print("history:", [(h["version"], h["operation"]) for h in txlog.history(spark, view)])
    print("change feed v0→v1 rows:", txlog.table_changes(spark, view, 0, 1).count())

    # 5. forget: GDPR on the table (file-pruned) and the view. The
    # view's delete rewrites the touched parts (no deletion vector, so
    # no live part keeps the subject's bytes); its removes still back
    # time travel, so the erasure is final only once one further commit
    # (here the erasure record) lets vacuum(keep_versions=1) expire them
    print("erase table:", erase_keys(spark, facts, "cust_id", [13]))
    print("erase view:", txlog.delete_where(spark, view, F.col("cust_id").isin(13)))
    txlog.set_table_properties(spark, view, {"erasure.last": "cust_id IN (13)"})
    print("vacuum reaped:", len(txlog.vacuum(spark, view, keep_versions=1)), "parts")
    try:
        txlog.read_table(spark, view, version=1).count()
    except txlog.VersionExpiredError:
        print("time travel to pre-erasure v1: expired")

    # 6. clean: checkpoint, then reap the commit log behind it
    txlog.checkpoint(spark, view)
    print("clean_log:", txlog.clean_log(spark, view))
    shutil.rmtree(root)


if __name__ == "__main__":
    main()
