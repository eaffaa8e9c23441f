"""The typed-CSV lake format as a first-class Spark data source.

Spark 4's Python Data Source API lets the reference's wire format
(``#``-typed header CSV, optionally gzipped — README.md:125-148 in
/root/reference) register as a real ``spark.read.format("typed_csv")``
source: schema inference from the typed header, one input partition
per lake object (parallel scan), gzip transparently handled per file.

This complements sources.typed_csv.read_typed_csv (which rides Spark's
JVM CSV reader): the JVM path is faster for bulk scans, while this
source demonstrates the format as a pluggable citizen — usable from
pure SQL (``CREATE TABLE ... USING typed_csv``) and anywhere a format
string is expected, with the format's own parsing rules (RFC-4180
doubled quotes, ms-precision Z timestamps, true/false booleans)
implemented once in Python.

Partition model: one file = one InputPartition — the lake writes
bounded objects (batch_record_limit caps rows per object), so files
are the natural parallel unit exactly as they are for the JVM reader.

Register per session with ``register_typed_csv(spark)``.
"""

from __future__ import annotations

import csv as _csv
import datetime as dt
import glob as _glob
import gzip
import io

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


def _records(data: bytes):
    """(type tokens, column names, data-row iterator) for one object.

    One csv.reader over the whole decoded text — NOT splitlines() +
    per-line readers: encode_typed_csv quotes fields containing
    newlines (RFC-4180/QUOTE_MINIMAL), so line-splitting would shear
    quoted multi-line values into corrupt rows, and str.splitlines
    additionally breaks on Unicode line boundaries (\\u2028, \\x85)
    that are ordinary in-field characters on the wire. io.StringIO
    with newline='' hands the csv module raw text so only real
    (unquoted) record terminators end a row."""
    rdr = _csv.reader(io.StringIO(data.decode("utf-8"), newline=""))
    first = next(rdr, None)
    if not first or not first[0].startswith("#"):
        raise ValueError("missing typed header line")
    types = [first[0][1:], *first[1:]]
    names = next(rdr, None) or []
    return types, names, rdr


def _parse_header_bytes(data: bytes):
    """(type tokens, column names) from the header records."""
    types, names, _ = _records(data)
    return types, names


def _read_file_bytes(path: str) -> bytes:
    with open(path, "rb") as f:
        data = f.read()
    return gzip.decompress(data) if path.endswith(".gz") else data


_SPARK_DDL = {
    "STRING": "string",
    "INTEGER": "bigint",
    "FLOAT": "double",
    "TIME": "timestamp",
    "BOOLEAN": "boolean",
    "UUID": "string",
}


def _convert(token: str, value: str):
    if value == "":
        return None
    if token == "INTEGER":
        return int(value)
    if token == "FLOAT":
        return float(value)
    if token == "BOOLEAN":
        return value == "true"
    if token == "TIME":
        # ms-precision JS Date.toISOString() form: 2024-01-01T10:30:00.123Z
        return dt.datetime.strptime(value, "%Y-%m-%dT%H:%M:%S.%f%z").replace(
            tzinfo=None
        )
    # match the JVM reader exactly: univocity's multiLine parser
    # normalizes \r\n -> \n inside quoted fields (lone \r, \n, \x85, \u2028
    # all survive) — a documented wire-format limit, kept
    # identical across both read paths
    return value.replace("\r\n", "\n")


class TypedCsvDataSource(DataSource):
    """``spark.read.format("typed_csv").load(glob)`` over lake objects."""

    @classmethod
    def name(cls) -> str:
        return "typed_csv"

    def _paths(self) -> list[str]:
        pattern = self.options.get("path")
        if not pattern:
            raise ValueError("typed_csv: path option required")
        paths = sorted(_glob.glob(pattern))
        if not paths:
            raise FileNotFoundError(pattern)
        return paths

    def schema(self) -> str:
        types, names = _parse_header_bytes(_read_file_bytes(self._paths()[0]))
        return ", ".join(
            f"`{n}` {_SPARK_DDL[t]}" for n, t in zip(names, types)
        )

    def reader(self, schema) -> "TypedCsvReader":
        return TypedCsvReader(self._paths())

    def simpleStreamReader(self, schema) -> "TypedCsvStreamReader":  # noqa: N802
        return TypedCsvStreamReader(self.options.get("path"))

    def writer(self, schema, overwrite: bool) -> "TypedCsvWriter":
        return TypedCsvWriter(schema, self.options, overwrite)


class TypedCsvReader(DataSourceReader):
    def __init__(self, paths: list[str]):
        self._paths = paths

    def partitions(self):
        return [_FilePartition(p) for p in self._paths]

    def read(self, partition: _FilePartition):
        types, _names, rows = _records(_read_file_bytes(partition.path))
        for row in rows:
            yield tuple(_convert(t, v) for t, v in zip(types, row))


def register_typed_csv(spark) -> None:
    spark.dataSource.register(TypedCsvDataSource)


class TypedCsvStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch streaming over the typed-CSV lake: the offset is the
    SET of lake objects already delivered (object names are uuids, so
    later objects can sort before earlier ones — a count/high-watermark
    offset would mis-slice), so each batch reads exactly the files that
    appeared since the last committed offset — replayable
    (readBetweenOffsets) and exactly-once under checkpoint recovery,
    mirroring what the collector's append-only key scheme guarantees
    (objects are immutable once written, new data is always new files).
    A production source compacts the seen-set into a manifest log the
    way Spark's FileStreamSource does; the offset-as-set keeps this
    demo implementation honest about uuid ordering."""

    def __init__(self, pattern: str):
        self._pattern = pattern

    def initialOffset(self):  # noqa: N802
        return {"files": []}

    def _rows(self, paths: list[str]):
        rows = []
        for p in paths:
            types, _names, recs = _records(_read_file_bytes(p))
            for row in recs:
                rows.append(tuple(_convert(t, v) for t, v in zip(types, row)))
        return rows

    def read(self, start: dict):
        paths = sorted(_glob.glob(self._pattern))
        fresh = [p for p in paths if p not in set(start["files"])]
        end = {"files": sorted(set(start["files"]) | set(fresh))}
        return iter(self._rows(fresh)), end

    def readBetweenOffsets(self, start: dict, end: dict):  # noqa: N802
        fresh = sorted(set(end["files"]) - set(start["files"]))
        return iter(self._rows(fresh))


# ---------------------------------------------------------------------------
# Write path: df.write.format("typed_csv") — the reference's wire
# format as a full pluggable citizen (read + stream + write)
# ---------------------------------------------------------------------------

_TOKEN_FOR_SPARK = {
    "string": "STRING",
    "bigint": "INTEGER",
    "long": "INTEGER",
    "int": "INTEGER",
    "double": "FLOAT",
    "float": "FLOAT",
    "timestamp": "TIME",
    "boolean": "BOOLEAN",
}


class _WroteFile(WriterCommitMessage):
    def __init__(self, path: str):
        self.path = path


class TypedCsvWriter(DataSourceWriter):
    """One lake object per write task, uuid-named (the reference's
    write-once object contract — Collector.ts:342-350: objects are
    immutable, new data is always new files, so 'append' is the only
    meaningful mode and overwrite is rejected at plan time). Each task
    serializes its rows through the same encode_typed_csv the collector
    uses (golden-bytes-tested), writes to a dot-prefixed in-progress
    name and renames on task success — readers glob ``*.csv[.gz]`` so
    half-written task files are never visible; abort deletes the
    renamed files of completed tasks and in-progress stragglers are
    invisible debris that no glob-based read picks up."""

    def __init__(self, schema, options, overwrite: bool):
        if overwrite:
            raise ValueError(
                "typed_csv is an append-only lake format (write-once objects); "
                "mode('overwrite') contradicts the object-immutability contract"
            )
        self._dir = options.get("path")
        if not self._dir:
            raise ValueError("typed_csv: path option required")
        self._gzip = str(options.get("compression", "gzip")).lower() != "none"
        uuid_cols = {c for c in str(options.get("uuid_columns", "")).split(",") if c}
        self._cols = {}
        for field in schema.fields:
            simple = field.dataType.simpleString()
            token = "UUID" if field.name in uuid_cols else _TOKEN_FOR_SPARK.get(simple)
            if token is None:
                raise ValueError(
                    f"typed_csv cannot encode column {field.name!r} of type {simple} "
                    f"(wire format carries {sorted(set(_TOKEN_FOR_SPARK.values()))})"
                )
            self._cols[field.name] = token

    def write(self, iterator):
        import os
        import uuid as _uuid

        from es_analytics_spark.collector import DataType
        from es_analytics_spark.sources.typed_csv import encode_typed_csv

        cols = {name: DataType(tok) for name, tok in self._cols.items()}
        rows = [r.asDict() for r in iterator]
        data = encode_typed_csv(rows, cols)
        suffix = ".csv.gz" if self._gzip else ".csv"
        if self._gzip:
            data = gzip.compress(data, mtime=0)
        os.makedirs(self._dir, exist_ok=True)
        final = os.path.join(self._dir, f"{_uuid.uuid4()}{suffix}")
        tmp = os.path.join(self._dir, f".inprogress-{os.path.basename(final)}")
        with open(tmp, "wb") as f:
            f.write(data)
        os.rename(tmp, final)
        return _WroteFile(final)

    def commit(self, messages) -> None:
        pass  # files became visible at task rename; nothing to finalize

    def abort(self, messages) -> None:
        import os

        for m in messages:
            if m is not None:
                try:
                    os.remove(m.path)
                except OSError:
                    pass
