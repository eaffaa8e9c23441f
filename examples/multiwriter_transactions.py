"""Multi-writer transactional tables on the txlog commit protocol.

Run with:  PYTHONPATH=/root/repo python examples/multiwriter_transactions.py

Publishing state by atomically renaming one mutable manifest is
correct for one writer and lost-update-prone for two. This walkthrough
shows the design every versioned table here uses: a write-once commit
log with optimistic concurrency (the public Delta/Iceberg design,
re-expressed on the engine's fsio seam; the reference's write-once
``Store.put`` contract — lib/store/Store.ts:4-8 — promoted to the
commit path):

  1. contend      four writers append concurrently; the CAS serializes
                  them into a gap-free version history, zero lost rows
  2. travel       snapshot reads at any version; manifest-level
                  partition pruning without opening data
  3. maintain     size-targeted transactional compaction; overwrite a
                  partition wholesale; checkpoint to bound replay
  4. refresh      an enriched view where two racing refreshes
                  incorporate each source file EXACTLY once
  5. evolve       schema-in-commit: drifted appends are rejected, or
                  evolve additively with deterministic null fill
  6. consume      cursor-driven change feed (changes_since) that stays
                  exact across compactions
  7. clean        vacuum with a retention horizon, so an in-flight
                  writer's staged part is never reaped from under it
"""

from __future__ import annotations

import shutil
import tempfile
import threading

from pyspark.sql import functions as F

from es_analytics_spark import get_spark, txlog
from es_analytics_spark.incremental import refresh_enriched_view


def main() -> None:
    spark = get_spark("txlog-example")
    root = tempfile.mkdtemp(prefix="txlog_demo_")
    table, view, src = f"{root}/events", f"{root}/daily_view", f"{root}/incoming"

    # 1. contend: four concurrent writers, serialized by the CAS
    def writer(w: int) -> None:
        for i in range(2):
            lo = (w * 2 + i) * 1000
            df = spark.range(lo, lo + 1000).select(
                "id", F.lit(f"w{w}").alias("writer"), (F.col("id") % 3).alias("day")
            )
            txlog.append(spark, table, df)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(4)]
    [t.start() for t in threads]
    [t.join() for t in threads]
    hist = txlog.history(spark, table)
    print("versions:", [h["version"] for h in hist])
    print("rows after contention:", txlog.read_table(spark, table).count())

    # 2. travel: immutable snapshots + partition pruning
    print("rows at v3:", txlog.read_table(spark, table, version=3).count())
    day0 = spark.range(0, 500).select(
        "id",
        F.lit("etl").alias("writer"),
        F.lit(0).cast("long").alias("day"),  # schema-in-commit: types must match
    )
    txlog.overwrite_partition(spark, table, day0, {"day": 0})
    pruned = txlog.read_table(spark, table, partition_filter={"day": 0})
    print("day-0 after overwrite:", pruned.count())

    # 3. maintain: bin-packed compaction + bounded replay
    print("compact:", txlog.compact(spark, table, target_file_bytes=1 << 20))
    print("checkpoint:", txlog.checkpoint(spark, table))

    # 4. refresh: exactly-once incremental view under racing writers
    for i in range(3):
        spark.range(i * 100, (i + 1) * 100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ).coalesce(1).write.parquet(f"{src}/f{i}")
    glob_pat = f"{src}/f*/*.parquet"
    enrich = lambda df: df.withColumn("v9", F.col("v") * 9)  # noqa: E731
    results: list = [None, None]

    def refresher(i: int) -> None:
        results[i] = refresh_enriched_view(spark, glob_pat, view, enrich)

    rt = [threading.Thread(target=refresher, args=(i,)) for i in range(2)]
    [t.start() for t in rt]
    [t.join() for t in rt]
    print("racing refreshes:", sorted(r["new_files"] for r in results))
    print("view rows (no double count):", txlog.read_table(spark, view).count())

    # 5. evolve: schema-in-commit makes drift a deterministic contract
    drifted = spark.range(0, 3).select(
        "id",
        F.lit("etl2").alias("writer"),
        F.lit(9).cast("long").alias("day"),
        F.lit("eu").alias("region"),  # new column
    )
    try:
        txlog.append(spark, table, drifted)
    except txlog.SchemaMismatchError:
        print("drifted append: rejected without evolve=True")
    txlog.append(spark, table, drifted, evolve=True)
    print(
        "evolved schema:",
        [f.name for f in txlog.table_schema(spark, table).fields],
    )
    evolved = txlog.read_table(spark, table)
    print("pre-evolution rows read region as null:",
          evolved.filter(F.col("region").isNull()).count())

    # 6. consume: cursor-driven change feed (compactions are invisible)
    cursor, fed = 0, 0
    delta, cursor = txlog.changes_since(spark, table, cursor)
    fed += delta.count()
    print("change feed from v0:", fed, "rows through cursor", cursor)
    delta, cursor = txlog.changes_since(spark, table, cursor)  # caught up
    print("caught-up poll:", delta.count(), "rows; cursor stays", cursor)

    # 7. govern: table properties live IN the log (versioned, time-
    # travelable) and drive one-call maintenance
    import json as _json

    txlog.set_table_properties(spark, table, {
        "optimize.cluster_by": _json.dumps(["id"]),
        "optimize.target_file_bytes": 8 * 1024 * 1024,
    })
    res = txlog.optimize(spark, table)
    print("optimize (policy from committed properties):",
          res["compact"]["parts_before"], "->", res["compact"]["parts_after"],
          "parts; checkpoint at v", res["checkpoint"]["version"])

    # 8. clean: retention-horizon vacuum never reaps in-flight parts
    print("vacuum (fresh debris kept):", len(txlog.vacuum(spark, table)))
    print(
        "vacuum quiescent + expire time travel:",
        len(txlog.vacuum(spark, table, keep_versions=1, retention_seconds=0)),
    )
    print("final rows:", txlog.read_table(spark, table).count())

    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
