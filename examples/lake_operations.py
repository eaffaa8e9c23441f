"""End-to-end lake operations walkthrough.

Run with:  PYTHONPATH=/root/repo python examples/lake_operations.py

The lake lifecycle from a fragmented fact table to a versioned view —
every table is a txlog table and every step prints its receipt:

  1. build        fragmented fact table → clustered compaction
  2. mutate       MERGE upsert, SCD2 dimension history
  3. audit        the change feed over the mutations signs them off
  4. views        incremental enriched view over raw landing files,
                  with commit-log zone maps, time travel, change feed
  5. forget       GDPR erasure: a row-level delete on the table and the
                  view, then vacuum expires every version that still
                  held the subject
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
from es_analytics_spark.incremental import refresh_enriched_view, scd2_merge


def main() -> None:
    spark = get_spark("lake-operations-example")
    root = tempfile.mkdtemp(prefix="lake_demo_")
    facts, dim, view = f"{root}/facts", f"{root}/dim_customer", f"{root}/view"
    raw = f"{root}/raw"

    # 1. build: eight small appends, then one clustered compaction
    df = spark.range(0, 50_000).selectExpr(
        "id", "id % 100 as cust_id", "cast(id % 997 as double) as amount"
    )
    for i in range(8):
        txlog.append(spark, facts, df.filter(df.id % 8 == i))
    print("fragmented:", len(txlog.read_table(spark, facts).inputFiles()), "files")
    print(
        "cluster:",
        txlog.compact(spark, facts, target_file_bytes=4 << 20, cluster_by=["cust_id"]),
    )
    snap = txlog.current_version(spark, facts)

    # 2. mutate: upsert two fact rows; SCD2 a dimension twice
    target_schema = txlog.read_table(spark, facts).schema
    print(
        "upsert:",
        txlog.merge_upsert(
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

    # 3. audit: the change feed since the snapshot is exactly the mutation
    feed = txlog.table_changes_cdf(spark, facts, snap)
    print(
        "changes since v%d:" % snap,
        sorted((r["id"], r["_change_type"]) for r in feed.collect()),
    )

    # 4. views: raw files land, two incremental refreshes with zone maps
    df.repartition(4).write.parquet(raw)
    for _ in range(2):
        print(
            "view refresh:",
            refresh_enriched_view(
                spark,
                f"{raw}/*.parquet",
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

    # 5. forget: GDPR on the table and the view. The delete rewrites the
    # touched parts (no deletion vector, so no live part keeps the
    # subject's bytes); its removes still back time travel, so the
    # erasure is final only once one further commit (here the erasure
    # record) lets vacuum(keep_versions=1) expire them
    for name, path in (("table", facts), ("view", view)):
        print(f"erase {name}:", txlog.delete_where(spark, path, F.col("cust_id").isin(13)))
        txlog.set_table_properties(spark, path, {"erasure.last": "cust_id IN (13)"})
        print("vacuum reaped:", len(txlog.vacuum(spark, path, keep_versions=1)), "parts")
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
