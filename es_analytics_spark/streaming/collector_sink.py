"""Streaming ingestion → date-partitioned lake: the reference's whole
lifecycle (§3 of SURVEY.md) as source + trigger + sink config.

- trigger(processingTime=…) ≙ batchAgeLimit (Collector.ts:179) — and is
  strictly better: it fires on the clock even when a table is idle,
  where the reference only checks age lazily on the next write.
- per-epoch foreachBatch writing one partition-dir tree ≙ flushBatch +
  storeBatch (Collector.ts:310-350).
- StreamingQueryListener.onQueryProgress ≙ the onFlush signal
  (Collector.ts:147-151): emits FlushInfo per committed epoch.
- query.stop() ≙ Collector.stop() drain (Collector.ts:182-200), with
  exactly-once epoch commits via checkpointing — an upgrade over the
  reference's fire-and-forget put (no retry, batch lost on error).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.listener import StreamingQueryListener

from es_analytics_spark.collector import FlushInfo, FlushTrigger


class FlushSignalListener(StreamingQueryListener):
    """Adapts StreamingQueryListener events to the collector's signal
    contract (A16 parity): progress → on_flush (FlushInfo), abnormal
    termination → on_error (reference onError, Collector.ts:147-151)."""

    def __init__(
        self,
        table: str,
        on_flush: Callable[[FlushInfo], None],
        on_error: Callable[[Exception], None] | None = None,
    ):
        self.table = table
        self.on_flush = on_flush
        self.on_error = on_error

    def onQueryStarted(self, event):  # noqa: N802 (Spark API casing)
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        self.on_flush(
            FlushInfo(
                table=self.table,
                id=str(p.batchId),
                trigger=FlushTrigger.AgeLimit,
                records=p.numInputRows,
                age_ms=int(p.batchDuration or 0),
                key=f"epoch={p.batchId}",
            )
        )

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        exc = getattr(event, "exception", None)
        if exc and self.on_error is not None:
            self.on_error(RuntimeError(f"stream {self.table} failed: {exc}"))


def stream_to_lake(
    df: DataFrame,
    table: str,
    lake_dir: str,
    checkpoint_dir: str,
    ts_col: str = "ts",
    processing_time: str | None = None,
    available_now: bool = False,
    on_flush: Callable[[FlushInfo], None] | None = None,
    on_error: Callable[[Exception], None] | None = None,
) -> StreamingQuery:
    """Write a streaming frame to the lake partitioned by ingest date/hour
    (the reference's YYYY/MM/DD/HH key scheme as hive partitions, which
    Spark partition-prunes on read)."""
    spark = df.sparkSession
    listener = None
    if on_flush is not None or on_error is not None:
        listener = FlushSignalListener(table, on_flush or (lambda _info: None), on_error)
        spark.streams.addListener(listener)

    out = df.withColumn("ingest_date", F.to_date(F.col(ts_col))).withColumn(
        "ingest_hour", F.hour(F.col(ts_col))
    )
    writer = (
        out.writeStream.format("parquet")
        .option("path", f"{lake_dir}/{table}")
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("ingest_date", "ingest_hour")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def read_lake_table(
    spark: SparkSession, lake_dir: str, table: str, merge_schema: bool = False
) -> DataFrame:
    """Partition-discovering read of a lake table written by
    stream_to_lake; filters on ingest_date/ingest_hour prune files.
    ``merge_schema`` unifies objects written before/after a schema
    evolution (pre-evolution files surface nulls in new columns),
    matching Collector.table's batch-side contract."""
    return spark.read.option("mergeSchema", merge_schema).parquet(f"{lake_dir}/{table}")

