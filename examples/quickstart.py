"""End-to-end quickstart for es_analytics_spark.

Run with:  PYTHONPATH=/root/repo python examples/quickstart.py

Walks the full engine lifecycle a reference user knows, Spark-first:
track events through the typed collector, flush to a partitioned lake,
query it with SQL, stream new arrivals with exactly-once offsets, and
keep a rollup fresh incrementally on the transaction log.
"""

from __future__ import annotations

import shutil
import tempfile

from es_analytics_spark import Collector, CollectorConfig, get_spark


def main() -> None:
    spark = get_spark("quickstart")
    workdir = tempfile.mkdtemp(prefix="es_quickstart_")
    lake = f"{workdir}/lake"

    try:
        # 1. Ingest: the reference's track()/stop() API, typed + batched.
        col = Collector(spark, CollectorConfig(lake_dir=lake, batch_record_limit=500))
        col.on_flush.append(
            lambda info: print(f"  flushed {info.records} records -> {info.key}")
        )
        import datetime as dt

        base = dt.datetime(2024, 5, 1, 9, 0, 0)
        for i in range(1200):
            col.track(
                "game_purchase",
                {
                    "uid": i % 37,
                    "ts": base + dt.timedelta(seconds=i * 7),
                    "sku": f"sku_{i % 5}",
                    "amount": round(0.99 + (i % 20) * 0.5, 2),
                },
            )
        col.stop()

        # 2. Query: the lake is plain partitioned data — SQL away.
        df = col.table("game_purchase")
        df.createOrReplaceTempView("purchases")
        print("\nTop SKUs by revenue:")
        spark.sql(
            """
            SELECT sku, COUNT(*) AS n,
                   ROUND(SUM(CAST(amount AS DECIMAL(38,10))), 2) AS revenue
            FROM purchases GROUP BY sku ORDER BY revenue DESC
            """
        ).show()

        # 3. Maintain: an incrementally-maintained rollup. New lake
        #    objects are committed once into a txlog table, and the
        #    rollup folds in only the new commits' change feed.
        from es_analytics_spark.incremental import (
            maintain_rollup,
            read_rollup,
            refresh_enriched_view,
        )

        glob = f"{lake}/*/*/*/*/game_purchase/*/*.parquet"
        purchases_tx, rollup = f"{workdir}/purchases_tx", f"{workdir}/rollup"
        refresh = refresh_enriched_view(
            spark, glob, purchases_tx,
            lambda df: df.selectExpr("uid", "CAST(amount AS DECIMAL(38,10)) AS amount"),
        )
        print(f"refresh: {refresh}")
        measures = {"n": ("count", None), "revenue": ("sum", "amount")}
        report = maintain_rollup(spark, purchases_tx, rollup, ["uid"], measures)
        print(f"rollup: {report}")
        print("per-user rollup sample:")
        read_rollup(spark, rollup).select("uid", "n", "revenue").orderBy("uid").show(5)

        # 4. Inspect: is the plan the one you'd want at scale?
        from es_analytics_spark.plans.inspect import plan_audit

        agg = spark.sql("SELECT uid, SUM(amount) FROM purchases GROUP BY uid")
        print(f"plan audit: {plan_audit(agg)}")
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    main()
