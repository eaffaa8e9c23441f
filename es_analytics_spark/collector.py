"""Typed event collector → partitioned data lake, Spark-first.

Re-implements the reference ingestion surface (capabilities A1–A16 of
SURVEY.md §2.A; reference behavior at
/root/reference/lib/collector/Collector.ts) on Spark:

- ``track(table, record, token=None)`` — typed append with wildcard
  table resolution (``$`` → token; Collector.ts:96,210-214).
- Per-table batches flush on record-limit / age-limit / explicit stop
  (FlushTrigger; Collector.ts:11-21,276-288); defaults mirror the
  reference (200k records, 1h age; Collector.ts:177-179).
- Flush writes one object per batch into a date-partitioned lake,
  ``YYYY/MM/DD/HH/{table}/{uuid}`` (Collector.ts:136-142,342-350):
  parquet natively, or RFC-4180 CSV(+gzip) with a ``#``-prefixed typed
  header line for byte-level compat (Collector.ts:290-308).
- ``on_flush`` / ``on_error`` callbacks mirror the reference's signals
  (Collector.ts:147-151).

Differences by design (semantic upgrades, SURVEY.md §1.4-1.5):

- Schema is inferred ONCE per (schema-)table from the first record and
  held in a registry; later records are validated/coerced against it
  instead of the reference's silent first-record-wins corruption.
- Batches buffer as plain Python rows and materialize through
  ``spark.createDataFrame`` (Arrow path) — at cluster scale the same
  API is fronted by a streaming source (es_analytics_spark.streaming).
"""

from __future__ import annotations

import datetime as dt
import enum
import gzip
import io
import operator
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from es_analytics_spark.sources import fsio

WILDCARD = "$"


class DataType(enum.Enum):
    """Logical column types (reference enum: Collector.ts:34-41)."""

    String = "STRING"
    Integer = "INTEGER"
    Float = "FLOAT"
    Time = "TIME"
    Boolean = "BOOLEAN"
    UUID = "UUID"


SPARK_TYPE: dict[DataType, T.DataType] = {
    DataType.String: T.StringType(),
    DataType.Integer: T.LongType(),
    DataType.Float: T.DoubleType(),
    DataType.Time: T.TimestampType(),
    DataType.Boolean: T.BooleanType(),
    DataType.UUID: T.StringType(),
}


class FlushTrigger(enum.Enum):
    """Why a batch flushed (reference enum: Collector.ts:11-21)."""

    RecordLimit = "record_limit"
    AgeLimit = "age_limit"
    Stop = "stop"
    Manual = "manual"


@dataclass
class FlushInfo:
    """Emitted per flush (reference FlushInfo: Collector.ts:60-72)."""

    table: str
    id: str
    trigger: FlushTrigger
    records: int
    age_ms: int
    key: str


@dataclass
class CollectorConfig:
    """Reference CollectorConfig (Collector.ts:43-58) + engine extras."""

    lake_dir: str
    batch_record_limit: int = 200_000  # Collector.ts:178
    batch_age_limit_ms: int = 3_600_000  # Collector.ts:179
    batch_zip: bool = True  # Collector.ts:177
    sink_format: str = "parquet"  # "parquet" | "orc" | "csv" (typed compat)
    # type overrides keyed by SCHEMA table name, so one entry covers all
    # concretizations of a wildcard table (Collector.ts:43-46,291-306)
    column_types: dict[str, dict[str, DataType]] = field(default_factory=dict)


def _coerce_str(v: Any) -> str:
    return v if isinstance(v, str) else str(v)


# per-DataType value coercers; None means pass-through (Time etc.)
_COERCE: dict[DataType, Callable[[Any], Any] | None] = {
    DataType.String: _coerce_str,
    DataType.UUID: _coerce_str,
    DataType.Integer: int,
    DataType.Float: float,
    DataType.Boolean: bool,
}


_TZINFO = operator.attrgetter("tzinfo")


def _time_array(vals: list, tz: str):
    """Arrow ``timestamp[us, UTC]`` of a Time column's values: naive
    datetimes are wall times in ``tz`` (raises on DST-ambiguous or
    nonexistent ones), aware datetimes their UTC instant. pyarrow alone
    would keep an aware value's wall clock and drop its offset, storing
    ``12:00+05:30`` as ``12:00Z``, so aware values are converted here.
    The all-naive batch, the usual one, costs one C-level scan more."""
    import pyarrow as pa
    import pyarrow.compute as pc

    ts, utc = pa.timestamp("us"), pa.timestamp("us", tz="UTC")
    if set(map(_TZINFO, filter(None, vals))) <= {None}:
        return pc.assume_timezone(pa.array(vals, type=ts), tz).cast(utc)
    naive = [v if v is None or v.tzinfo is None else None for v in vals]
    inst = [
        None if v is None or v.tzinfo is None
        else v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        for v in vals
    ]
    return pc.coalesce(
        pa.array(inst, type=utc),
        pc.assume_timezone(pa.array(naive, type=ts), tz).cast(utc),
    )


def infer_column_type(value: Any) -> DataType:
    """Value-based scalar type inference (Collector.ts:112-123)."""
    if isinstance(value, dt.datetime):
        return DataType.Time
    if isinstance(value, bool):  # bool before int: bool is an int subclass
        return DataType.Boolean
    if isinstance(value, int):
        return DataType.Integer
    if isinstance(value, float):
        return DataType.Float
    return DataType.String


@dataclass
class _Batch:
    id: str
    schema_table: str
    table: str
    rows: list[dict]
    started: float


class Collector:
    """Typed ingestion API. One instance per lake; thread-unsafe like the reference."""

    def __init__(self, spark: SparkSession, config: CollectorConfig):
        self.spark = spark
        self.config = config
        self._batches: dict[str, _Batch] = {}
        self._schemas: dict[str, dict[str, DataType]] = {}  # schema-table → col → type
        self._converters: dict[str, list[tuple[str, Callable[[Any], Any] | None]]] = {}
        self._disabled = False
        self.on_flush: list[Callable[[FlushInfo], None]] = []
        self.on_error: list[Callable[[Exception], None]] = []

    # -- A1/A2: ingest ---------------------------------------------------
    def track(self, table: str, record: dict[str, Any], token: str | None = None) -> None:
        if self._disabled:
            self._emit_error(RuntimeError("collector is stopped"))
            return
        name = table
        if WILDCARD in table:  # wildcard table family (Collector.ts:210-214)
            if not token:
                self._emit_error(ValueError(f"table {table!r} requires a token"))
                return
            name = table.replace(WILDCARD, token)
        batch = self._batches.get(name)
        if batch is None:
            batch = _Batch(str(uuid.uuid4()), table, name, [], time.time())
            self._batches[name] = batch
            self._register_schema(table, record)
        batch.rows.append(self._conform(table, record))
        # trigger evaluation, reference priority order (Collector.ts:276-288)
        if len(batch.rows) >= self.config.batch_record_limit:
            self._flush(batch, FlushTrigger.RecordLimit)
        elif (time.time() - batch.started) * 1000 >= self.config.batch_age_limit_ms:
            self._flush(batch, FlushTrigger.AgeLimit)

    def track_many(
        self, table: str, records: list[dict[str, Any]], token: str | None = None
    ) -> None:
        """Bulk ingest: semantically identical to ``track`` in a loop
        (same record-limit flush boundaries, same conform/validation per
        record) but amortizes the per-call overhead — the single-event
        path tops out well below what one Python process can feed the
        lake, and a 100 TB backfill arrives in chunks, not events."""
        if self._disabled:
            self._emit_error(RuntimeError("collector is stopped"))
            return
        if not records:
            return
        name = table
        if WILDCARD in table:
            if not token:
                self._emit_error(ValueError(f"table {table!r} requires a token"))
                return
            name = table.replace(WILDCARD, token)
        limit = self.config.batch_record_limit
        i, n = 0, len(records)
        while i < n:
            batch = self._batches.get(name)
            if batch is None:
                batch = _Batch(str(uuid.uuid4()), table, name, [], time.time())
                self._batches[name] = batch
                self._register_schema(table, records[i])
            room = max(limit - len(batch.rows), 1)
            conform = self._conform
            batch.rows.extend(conform(table, r) for r in records[i : i + room])
            i += room
            if len(batch.rows) >= limit:
                self._flush(batch, FlushTrigger.RecordLimit)
        batch = self._batches.get(name)
        if batch is not None and (time.time() - batch.started) * 1000 >= (
            self.config.batch_age_limit_ms
        ):
            self._flush(batch, FlushTrigger.AgeLimit)

    # -- A3/A6: schema registry -----------------------------------------
    def _register_schema(self, schema_table: str, record: dict[str, Any]) -> None:
        if schema_table in self._schemas:
            return
        overrides = self.config.column_types.get(schema_table, {})
        self._schemas[schema_table] = {
            k: overrides.get(k, infer_column_type(v)) for k, v in record.items()
        }
        self._rebuild_converters(schema_table)

    def _rebuild_converters(self, schema_table: str) -> None:
        """Precompile the per-column coercion plan: `_conform` runs once
        per record on the hot ingest path, so resolving the DataType
        dispatch per call (5-way enum compare × columns × records) is
        measurable — a prebuilt (name, converter) list is ~2× on the
        single-event bench."""
        self._converters[schema_table] = [
            (k, _COERCE.get(t)) for k, t in self._schemas[schema_table].items()
        ]

    def schema_of(self, schema_table: str) -> T.StructType:
        cols = self._schemas[schema_table]
        return T.StructType([T.StructField(k, SPARK_TYPE[t], True) for k, t in cols.items()])

    def evolve_schema(self, schema_table: str, new_columns: dict[str, DataType]) -> None:
        """Widen a registered table's schema with new nullable columns
        (SURVEY.md §1.4: evolution the reference cannot express — its
        first-record-wins schema silently corrupts on drift). Existing
        columns cannot change type; objects written before the evolution
        read back with nulls in the new columns (parquet mergeSchema).
        Any open batch for the table flushes first so every stored
        object has a single consistent schema."""
        if schema_table not in self._schemas:
            raise KeyError(f"unknown table {schema_table!r}; track a record first")
        current = self._schemas[schema_table]
        for k, t in new_columns.items():
            if k in current and current[k] is not t:
                raise ValueError(
                    f"column {k!r} is {current[k].value}, cannot become {t.value}; "
                    "schema evolution is add-nullable-column only"
                )
        for name, batch in list(self._batches.items()):
            if batch.schema_table == schema_table:
                self._flush(batch, FlushTrigger.Manual)
        current.update(new_columns)
        self._rebuild_converters(schema_table)

    def _conform(self, schema_table: str, record: dict[str, Any]) -> dict[str, Any]:
        """Validate/coerce against the registered schema (upgrade over
        the reference's silent first-record-wins mis-serialization).
        Coercions are precompiled per table by `_rebuild_converters`."""
        get = record.get
        return {
            k: (None if (v := get(k)) is None else v if conv is None else conv(v))
            for k, conv in self._converters[schema_table]
        }

    # -- A9/A10/A15: flush machinery -------------------------------------
    def flush_all(self, trigger: FlushTrigger = FlushTrigger.Manual) -> None:
        for batch in list(self._batches.values()):
            self._flush(batch, trigger)

    def stop(self) -> None:
        """Drain all pending batches then disable intake (Collector.ts:182-200)."""
        self.flush_all(FlushTrigger.Stop)
        self._disabled = True

    def _flush(self, batch: _Batch, trigger: FlushTrigger) -> None:
        self._batches.pop(batch.table, None)  # next record opens a new batch
        try:
            key = self._store(batch)
        except Exception as exc:  # reference: onError, batch lost (no retry)
            self._emit_error(exc)
            return
        info = FlushInfo(
            table=batch.table,
            id=batch.id,
            trigger=trigger,
            records=len(batch.rows),
            age_ms=int((time.time() - batch.started) * 1000),
            key=key,
        )
        for cb in self.on_flush:
            cb(info)

    # -- A11-A14: date-partitioned store ---------------------------------
    def _store(self, batch: _Batch) -> str:
        now = dt.datetime.now(dt.timezone.utc)  # flush-time UTC (Collector.ts:344)
        prefix = f"{now.year:04d}/{now.month:02d}/{now.day:02d}/{now.hour:02d}"
        if self.config.sink_format == "csv":
            ext = ".csv.gz" if self.config.batch_zip else ".csv"
            key = f"{prefix}/{batch.table}/{batch.id}{ext}"
            self._store_csv(batch, fsio.join(self.config.lake_dir, key))
        else:
            key = f"{prefix}/{batch.table}/{batch.id}"
            if self.config.sink_format == "parquet":
                try:
                    # Fast path: serialize the batch to parquet bytes in
                    # this process (pyarrow) and push them through the
                    # store seam — no Spark job, no JVM round-trip. The
                    # flush was the ingest bench's dominant pause
                    # (0.2-0.35 s per 50k-row batch, all of it Spark job
                    # latency for a single-task local write). The object
                    # layout is unchanged: one part file under the same
                    # {prefix}/{table}/{uuid}/ directory key, readable by
                    # the same mergeSchema load. Any surprise
                    # (DST-ambiguous wall times, missing pyarrow) falls
                    # back to the Spark write.
                    self._put_parquet_bytes(batch, key)
                    return key
                except ImportError:
                    pass  # no pyarrow in this env: Spark path is correct
                except Exception as exc:
                    self._report(
                        RuntimeError(
                            f"pyarrow flush path failed, using spark write: {exc}"
                        )
                    )
            schema = self.schema_of(batch.schema_table)
            df = None
            try:
                # Arrow path: one columnar conversion + batched transfer,
                # ~3-4x the row-tuple serializer on 200k-row batches.
                # Column-wise extraction: pd.DataFrame(list-of-dicts)
                # re-normalizes every row dict (~2s per 400k rows);
                # per-column comprehensions skip that entirely.
                import pandas as pd

                names = list(self._schemas[batch.schema_table])
                pdf = pd.DataFrame(
                    {k: [r[k] for r in batch.rows] for k in names}, columns=names
                )
                df = self.spark.createDataFrame(pdf, schema)
            except ImportError:
                pass  # no pandas in this env: silent slow path is correct
            except Exception as exc:
                # A conversion failure is a real schema/value bug signal —
                # surface it on the error channel, then degrade gracefully.
                self._report(RuntimeError(f"arrow flush path failed, using row path: {exc}"))
            if df is None:
                df = self.spark.createDataFrame(
                    [tuple(r.values()) for r in batch.rows], schema
                )
            df.write.mode("overwrite").format(self.config.sink_format).save(
                fsio.join(self.config.lake_dir, key)
            )
        return key

    def _put_parquet_bytes(self, batch: _Batch, key: str) -> None:
        """Serialize ``batch`` to one snappy parquet part file and put it
        through the store seam (works on any Hadoop URI lake root).

        Semantics mirror the Spark write exactly:

        - column types follow SPARK_TYPE (int64/float64/string/bool/
          timestamp[us]);
        - naive datetimes are wall times in the SESSION time zone (what
          ``spark.createDataFrame`` assumes): ``assume_timezone``
          converts them to instants and raises on DST-ambiguous input
          (→ caller falls back to the Spark path, which is the
          authority on those);
        - aware datetimes are their UTC instant, whatever their offset
          (see :func:`_time_array`);
        - the parquet timestamp is stored adjusted-to-UTC so Spark reads
          it back as TimestampType (not NTZ), same as its own output.
        """
        import pyarrow as pa
        import pyarrow.parquet as pq

        _PA_TYPE = {
            DataType.String: pa.string(),
            DataType.UUID: pa.string(),
            DataType.Integer: pa.int64(),
            DataType.Float: pa.float64(),
            DataType.Boolean: pa.bool_(),
        }
        tz = self.spark.conf.get("spark.sql.session.timeZone")
        cols = self._schemas[batch.schema_table]
        rows = batch.rows
        arrays, fields = [], []
        for name, dtype in cols.items():
            vals = [r[name] for r in rows]
            if dtype is DataType.Time:
                arr = _time_array(vals, tz)
            else:
                arr = pa.array(vals, type=_PA_TYPE[dtype])
            arrays.append(arr)
            fields.append(pa.field(name, arr.type, nullable=True))
        table = pa.Table.from_arrays(arrays, schema=pa.schema(fields))
        sink = pa.BufferOutputStream()
        pq.write_table(table, sink, compression="snappy")
        path = fsio.join(
            self.config.lake_dir,
            key,
            f"part-00000-{batch.id}.snappy.parquet",
        )
        fsio.lake_fs(self.spark, self.config.lake_dir).put_bytes(
            path, sink.getvalue().to_pybytes()
        )

    def _store_csv(self, batch: _Batch, path: str) -> None:
        """RFC-4180 CSV with '#'-prefixed typed header (Collector.ts:290-308,
        lake format spec README.md:125-148). Single-writer compat sink
        through the store seam — StoreS3.put / StoreFS.put analog
        (StoreS3.ts:21-35, StoreFS.ts:31-39): any Hadoop URI works as the
        lake root. The distributed variant is sinks.write_typed_csv."""
        from es_analytics_spark.sources.typed_csv import encode_typed_csv

        cols = self._schemas[batch.schema_table]
        data = encode_typed_csv(batch.rows, cols)
        if self.config.batch_zip:
            buf = io.BytesIO()
            # mtime=0 for deterministic bytes (test goldens)
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                gz.write(data)
            data = buf.getvalue()
        fsio.lake_fs(self.spark, self.config.lake_dir).put_bytes(path, data)

    def _emit_error(self, exc: Exception) -> None:
        if not self.on_error:
            raise exc
        for cb in self.on_error:
            cb(exc)

    def _report(self, exc: Exception) -> None:
        """Non-fatal error reporting: notify on_error listeners if any,
        else warn — never raise (callers have a working fallback)."""
        if self.on_error:
            for cb in self.on_error:
                cb(exc)
        else:
            import warnings

            warnings.warn(str(exc), RuntimeWarning, stacklevel=3)

    # -- read-back -------------------------------------------------------
    def table(self, name: str):
        """Read every stored object of a table back as one DataFrame.
        mergeSchema unifies objects written before/after an
        ``evolve_schema`` call (old files surface nulls in new cols)."""
        path = fsio.join(self.config.lake_dir, "*/*/*/*", name)
        if self.config.sink_format == "csv":
            from es_analytics_spark.sources.typed_csv import read_typed_csv

            return read_typed_csv(self.spark, path + "/*.csv*")
        return (
            self.spark.read.option("mergeSchema", True)
            .format(self.config.sink_format)
            .load(path + "/*")
        )
