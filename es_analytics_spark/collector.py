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
- Batches buffer as plain Python rows; a flush encodes them ONCE, as
  one tz-correct Arrow table (:meth:`Collector._arrow_table`), and every
  sink format reads that table: parquet bytes go through the staged
  ``fsio`` put with no Spark job, orc goes through
  ``spark.createDataFrame(table)``, csv encodes ``table.to_pylist()``.
  A naive ``Time`` value is a wall time in the session time zone and
  stores the instant Spark SQL's ``CAST`` gives it, in every format.
"""

from __future__ import annotations

import datetime as dt
import enum
import gzip
import operator
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Callable
from zoneinfo import ZoneInfo

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
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
_UTC = pa.timestamp("us", tz="UTC")
_PA_TYPE = {
    DataType.String: pa.string(),
    DataType.UUID: pa.string(),
    DataType.Integer: pa.int64(),
    DataType.Float: pa.float64(),
    DataType.Boolean: pa.bool_(),
}


def _session_zone(spark: SparkSession) -> dt.tzinfo:
    """The session time zone resolved the way Spark resolves it
    (``DateTimeUtils.getZoneId``): a region ID becomes a ``ZoneInfo``,
    and a fixed offset, including the forms Spark accepts but tzdata
    lacks (``+05:30``, ``GMT+8``, ``Z``, ``EST``), a ``dt.timezone``."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    zone = spark._jvm.org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(tz)
    zone = zone.normalized()  # a fixed-rule region becomes its ZoneOffset
    if zone.getRules().isFixedOffset():
        return dt.timezone(dt.timedelta(seconds=zone.getTotalSeconds()))
    return ZoneInfo(zone.getId())


def _wall_instants(wall: pa.Array, zone: dt.tzinfo) -> pa.Array:
    """UTC instants of naive ``timestamp[us]`` wall times in ``zone``,
    as Spark SQL's ``CAST`` maps them: a wall time in a DST fold takes
    the earlier offset, one in a gap moves forward by the gap length
    (zoneinfo with ``fold=0`` does both). The whole array goes through
    ``assume_timezone`` twice, once resolving fold/gap values to the
    earliest and once to the latest instant; only values where the two
    disagree are resolved again one by one."""
    if isinstance(zone, dt.timezone):
        return pc.subtract(wall, pa.scalar(zone.utcoffset(None), pa.duration("us"))).cast(_UTC)
    lo, hi = (
        pc.assume_timezone(wall, zone.key, ambiguous=k, nonexistent=k).cast(_UTC)
        for k in ("earliest", "latest")
    )
    odd = pc.fill_null(pc.not_equal(lo, hi), False)
    if not pc.any(odd).as_py():
        return lo
    fixed = [
        v.replace(tzinfo=zone, fold=0).astimezone(dt.timezone.utc).replace(tzinfo=None)
        for v in pc.filter(wall, odd).to_pylist()
    ]
    return pc.replace_with_mask(lo, odd, pa.array(fixed, type=_UTC))


def _time_array(vals: list, zone: dt.tzinfo) -> pa.Array:
    """The one place a ``Time`` column's values become instants: Arrow
    ``timestamp[us, UTC]`` where a naive datetime is a wall time in the
    session ``zone`` (:func:`_session_zone`, resolved per
    :func:`_wall_instants`) and an aware datetime is its UTC instant.
    pyarrow alone would keep an aware value's wall clock and drop its
    offset, storing ``12:00+05:30`` as ``12:00Z``, so aware values are
    converted here. The all-naive batch, the usual one, costs one
    C-level scan more."""
    ts = pa.timestamp("us")
    if set(map(_TZINFO, filter(None, vals))) <= {None}:
        return _wall_instants(pa.array(vals, type=ts), zone)
    naive = [v if v is None or v.tzinfo is None else None for v in vals]
    inst = [
        None if v is None or v.tzinfo is None
        else v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        for v in vals
    ]
    return pc.coalesce(
        pa.array(inst, type=_UTC), _wall_instants(pa.array(naive, type=ts), zone)
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
    def _arrow_table(self, batch: _Batch) -> pa.Table:
        """The batch as one Arrow table, the only encoding of a flush:
        column types follow ``SPARK_TYPE`` (int64/float64/string/bool/
        ``timestamp[us, UTC]``) and ``Time`` values are instants
        (:func:`_time_array`, in the session zone read once per flush).
        A value Arrow refuses raises here, and the flush reports it on
        ``on_error`` like any failed put."""
        zone = _session_zone(self.spark)
        rows = batch.rows
        cols = self._schemas[batch.schema_table]
        return pa.Table.from_arrays(
            [
                _time_array([r[k] for r in rows], zone) if t is DataType.Time
                else pa.array([r[k] for r in rows], type=_PA_TYPE[t])
                for k, t in cols.items()
            ],
            names=list(cols),
        )

    def _store(self, batch: _Batch) -> str:
        """Write the batch's Arrow table as one object under
        ``{YYYY/MM/DD/HH}/{table}/{uuid}`` through the store seam, so any
        Hadoop URI works as the lake root (StoreS3.put / StoreFS.put
        analog: StoreS3.ts:21-35, StoreFS.ts:31-39). Parquet is the
        table's snappy bytes, put with no Spark job (its timestamp is
        adjusted-to-UTC, so Spark reads TimestampType); csv is the
        RFC-4180 typed-CSV encoding of the table's rows (Collector.ts:
        290-308), so a naive ``Time`` value is the instant parquet
        stores; any other format (orc) is a Spark write of
        ``createDataFrame`` over the same table."""
        now = dt.datetime.now(dt.timezone.utc)  # flush-time UTC (Collector.ts:344)
        prefix = f"{now.year:04d}/{now.month:02d}/{now.day:02d}/{now.hour:02d}"
        table = self._arrow_table(batch)
        fmt = self.config.sink_format
        lake = fsio.lake_fs(self.spark, self.config.lake_dir)
        if fmt == "csv":
            from es_analytics_spark.sources.typed_csv import encode_typed_csv

            data = encode_typed_csv(table.to_pylist(), self._schemas[batch.schema_table])
            if self.config.batch_zip:
                data = gzip.compress(data, mtime=0)  # deterministic bytes (test goldens)
            key = f"{prefix}/{batch.table}/{batch.id}.csv{'.gz' if self.config.batch_zip else ''}"
            lake.put_bytes(fsio.join(self.config.lake_dir, key), data)
            return key
        key = f"{prefix}/{batch.table}/{batch.id}"
        path = fsio.join(self.config.lake_dir, key)
        if fmt == "parquet":
            sink = pa.BufferOutputStream()
            pq.write_table(table, sink, compression="snappy")
            lake.put_bytes(
                fsio.join(path, f"part-00000-{batch.id}.snappy.parquet"),
                sink.getvalue().to_pybytes(),
            )
        else:
            df = self.spark.createDataFrame(table, self.schema_of(batch.schema_table))
            df.write.mode("overwrite").format(fmt).save(path)
        return key

    def _emit_error(self, exc: Exception) -> None:
        if not self.on_error:
            raise exc
        for cb in self.on_error:
            cb(exc)

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
