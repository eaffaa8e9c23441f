"""Data-governance flow: audit → prune → retain → erase → sign off.

Run with:  PYTHONPATH=/root/repo python examples/data_governance.py

The compliance-and-quality loop a production lake runs on a schedule,
composed from the same operators the oracle-checked catalog registers:

  1. cross-split contamination audit     (ml_cross_split_leakage)
  2. quality-pruning decision table      (ml_quality_pruning_curve)
  3. corpus novelty check                (text_ngram_novelty)
  4. retention delete (TTL)              (txlog.delete_where)
  5. right-to-be-forgotten erasure       (txlog.delete_where)
  6. change-feed sign-off                (txlog.table_changes_cdf)
  7. CBO statistics refresh              (session.analyze)

Every mutating step is one atomic txlog commit that returns an
auditable receipt (kill sweeps in tests/test_lake_lifecycle.py); the
sign-off reads the change feed over the two commits and proves they
removed exactly the expired rows and the requested subjects, and
nothing else.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from es_analytics_spark import get_spark, txlog
from es_analytics_spark.queries import REGISTRY
from es_analytics_spark.session import analyze

SF_DIR = "/root/testdata/sf0.01"


def main() -> None:
    spark = get_spark("data_governance")
    work = tempfile.mkdtemp(prefix="governance_")
    try:
        # -- 1-3: read-only audits over the documents corpus ---------
        leaks = REGISTRY["ml_cross_split_leakage"].fn(spark, SF_DIR)
        n_leaks = leaks.count()
        print(f"[audit] leaked fingerprint groups across splits: {n_leaks}")
        leaks.show(5, truncate=False)

        curve = (
            REGISTRY["ml_quality_pruning_curve"].fn(spark, SF_DIR)
            .orderBy(F.desc("band"))
        )
        print("[audit] quality-pruning curve (top bands first):")
        curve.show(8)

        novelty = REGISTRY["text_ngram_novelty"].fn(spark, SF_DIR).orderBy("bucket")
        print("[audit] corpus novelty by ingestion slice:")
        novelty.show(5)

        # -- 4: retention — expire old events from a txlog copy ------
        events_path = f"{work}/events"
        ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
        txlog.append(spark, events_path, ev.repartitionByRange(8, "ts"))
        before_v = txlog.current_version(spark, events_path)

        cutoff = ev.agg(
            F.date_add(F.max(F.to_date("ts")), -7).alias("c")
        ).first()["c"]
        expired = F.to_date("ts") < F.lit(cutoff)
        receipt = txlog.delete_where(spark, events_path, expired)
        print(f"[retention] TTL < {cutoff}: {receipt}")

        # -- 5: erasure request for two subjects ----------------------
        subjects = [
            r["user_id"]
            for r in txlog.read_table(spark, events_path)
            .select("user_id").distinct().orderBy("user_id").limit(2).collect()
        ]
        erasure = txlog.delete_where(
            spark, events_path, F.col("user_id").isin(subjects)
        )
        print(f"[erasure] subjects {subjects}: {erasure}")

        # -- 6: sign off — the feed must be exactly TTL + subjects -----
        feed = txlog.table_changes_cdf(
            spark, events_path, before_v, erasure["version"]
        )
        by_type = {
            r["_change_type"]: r["n"]
            for r in feed.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
        }
        expected_removed = receipt["rows_deleted"] + erasure["rows_deleted"]
        print(f"[sign-off] {by_type} (expected removed: {expected_removed})")
        assert set(by_type) <= {"delete"}
        assert by_type.get("delete", 0) == expected_removed
        assert feed.filter(~(expired | F.col("user_id").isin(subjects))).count() == 0

        # -- 7: refresh optimizer statistics on an export -------------
        # (a txlog directory also holds removed and change parts, so
        # the catalog table goes over a plain parquet snapshot of it)
        export = f"{work}/events_export"
        txlog.read_table(spark, events_path).write.parquet(export)
        spark.sql("DROP TABLE IF EXISTS gov_events")
        stats = analyze(
            spark, {"gov_events": export}, columns={"gov_events": ["user_id"]}
        )
        print(f"[stats] {stats}")
        spark.sql("DROP TABLE IF EXISTS gov_events")
        print("governance cycle complete — every receipt verified")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
