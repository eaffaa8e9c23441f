"""Ingestion-semantics tests (SURVEY.md §5.3) — flush triggers,
wildcard routing, type inference/overrides, typed-CSV golden bytes,
lake read-back."""

import datetime as dt
import gzip
import io
import uuid
from zoneinfo import ZoneInfo

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from es_analytics_spark.collector import (
    Collector,
    CollectorConfig,
    DataType,
    FlushTrigger,
    infer_column_type,
)
from es_analytics_spark.sources.typed_csv import encode_typed_csv


def test_infer_column_type():
    # value-based inference rules (reference Collector.ts:112-123)
    assert infer_column_type(dt.datetime.now()) is DataType.Time
    assert infer_column_type(True) is DataType.Boolean
    assert infer_column_type(3) is DataType.Integer
    assert infer_column_type(3.5) is DataType.Float
    assert infer_column_type("x") is DataType.String


def test_typed_csv_golden_bytes():
    # lake format spec: '#types' line, header, RFC-4180 rows (README.md:125-148)
    rows = [
        {"ts": dt.datetime(2020, 5, 6, 7, 8, 9, 123000), "name": 'say "hi"', "n": 7, "ok": True},
        {"ts": dt.datetime(2020, 5, 6, 7, 8, 10), "name": "a,b", "n": None, "ok": False},
    ]
    cols = {
        "ts": DataType.Time,
        "name": DataType.String,
        "n": DataType.Integer,
        "ok": DataType.Boolean,
    }
    data = encode_typed_csv(rows, cols)
    assert data == (
        b"#TIME,STRING,INTEGER,BOOLEAN\r\n"
        b"ts,name,n,ok\r\n"
        b'2020-05-06T07:08:09.123Z,"say ""hi""",7,true\r\n'
        b'2020-05-06T07:08:10.000Z,"a,b",,false\r\n'
    )


def test_record_limit_flush_and_readback(spark, tmp_path):
    cfg = CollectorConfig(lake_dir=str(tmp_path), batch_record_limit=50)
    col = Collector(spark, cfg)
    flushes = []
    col.on_flush.append(flushes.append)
    for i in range(120):
        col.track("game_user_event", {"uid": i, "score": i * 1.5, "name": f"u{i}"})
    col.stop()
    assert [f.trigger for f in flushes] == [
        FlushTrigger.RecordLimit,
        FlushTrigger.RecordLimit,
        FlushTrigger.Stop,
    ]
    assert sum(f.records for f in flushes) == 120
    df = col.table("game_user_event")
    assert df.count() == 120
    assert dict(df.dtypes) == {"uid": "bigint", "score": "double", "name": "string"}


def test_wildcard_routing_and_overrides(spark, tmp_path):
    cfg = CollectorConfig(
        lake_dir=str(tmp_path),
        sink_format="csv",
        batch_zip=True,
        column_types={"game_custom_event_$": {"session_id": DataType.UUID}},
    )
    col = Collector(spark, cfg)
    flushes = []
    col.on_flush.append(flushes.append)
    rec = {"session_id": "123e4567-e89b-12d3-a456-426614174000", "v": 1}
    col.track("game_custom_event_$", rec, token="pool")
    col.track("game_custom_event_$", {**rec, "v": 2}, token="chess")
    col.stop()
    tables = sorted(f.table for f in flushes)
    assert tables == ["game_custom_event_chess", "game_custom_event_pool"]
    # one shared schema (keyed by the wildcard schema-table) covers both tokens
    path = tmp_path.glob("*/*/*/*/game_custom_event_pool/*.csv.gz")
    data = gzip.decompress(next(iter(path)).read_bytes())
    assert data.startswith(b"#UUID,INTEGER\r\nsession_id,v\r\n")


def test_stop_disables_tracking(spark, tmp_path):
    col = Collector(spark, CollectorConfig(lake_dir=str(tmp_path)))
    errors = []
    col.on_error.append(errors.append)
    col.track("t", {"a": 1})
    col.stop()
    col.track("t", {"a": 2})
    assert len(errors) == 1


def test_csv_roundtrip_through_spark(spark, tmp_path):
    cfg = CollectorConfig(lake_dir=str(tmp_path), sink_format="csv", batch_zip=False)
    col = Collector(spark, cfg)
    ts = dt.datetime(2024, 3, 1, 12, 0, 0, 250000)
    col.track("evt", {"ts": ts, "n": 5, "f": 2.25, "s": "hello", "b": True})
    col.track("evt", {"ts": ts, "n": 6, "f": -1.5, "s": "bye", "b": False})
    col.stop()
    df = col.table("evt")
    rows = sorted(df.collect(), key=lambda r: r.n)
    assert rows[0].ts == ts and rows[0].b is True and rows[0].f == 2.25
    assert dict(df.dtypes) == {
        "ts": "timestamp",
        "n": "bigint",
        "f": "double",
        "s": "string",
        "b": "boolean",
    }

def test_track_many_equivalent_to_track_loop(spark, tmp_path):
    """Bulk ingest must produce the same flush boundaries and the same
    stored rows as the per-event path."""
    import datetime as dt

    from es_analytics_spark.collector import Collector, CollectorConfig

    def run(bulk: bool):
        lake = tmp_path / ("bulk" if bulk else "loop")
        col = Collector(spark, CollectorConfig(lake_dir=str(lake), batch_record_limit=100))
        flushes = []
        col.on_flush.append(lambda fi: flushes.append((fi.trigger, fi.records)))
        recs = [
            {"uid": i, "ts": dt.datetime(2024, 1, 1), "etype": "t", "value": float(i)}
            for i in range(250)
        ]
        if bulk:
            col.track_many("game_user_event", recs)
        else:
            for r in recs:
                col.track("game_user_event", r)
        col.stop()
        rows = sorted(
            (r.uid, r.value) for r in col.table("game_user_event").collect()
        )
        return flushes, rows

    f_loop, r_loop = run(False)
    f_bulk, r_bulk = run(True)
    assert f_loop == f_bulk
    assert r_loop == r_bulk
    assert len(r_bulk) == 250


def test_schema_evolution_merges_old_and_new(spark, tmp_path):
    """SURVEY §1.4: evolve_schema widens the registry; objects written
    before the evolution read back with nulls in the new column."""
    col = Collector(spark, CollectorConfig(lake_dir=str(tmp_path)))
    col.track("ev", {"n": 1, "name": "a"})
    col.flush_all()  # v1 object on disk

    col.evolve_schema("ev", {"score": DataType.Float})
    col.track("ev", {"n": 2, "name": "b", "score": 0.5})
    col.stop()

    df = col.table("ev")
    assert set(df.columns) == {"n", "name", "score"}
    rows = {r.n: (r.name, r.score) for r in df.collect()}
    assert rows == {1: ("a", None), 2: ("b", 0.5)}


def test_schema_evolution_rejects_type_change(spark, tmp_path):
    col = Collector(spark, CollectorConfig(lake_dir=str(tmp_path)))
    col.track("ev", {"n": 1})
    with pytest.raises(ValueError, match="add-nullable-column only"):
        col.evolve_schema("ev", {"n": DataType.String})
    with pytest.raises(KeyError):
        col.evolve_schema("nope", {"x": DataType.Float})


def test_evolve_flushes_open_batch_first(spark, tmp_path):
    """An open batch must flush pre-evolution so no stored object mixes
    schemas."""
    flushes = []
    col = Collector(spark, CollectorConfig(lake_dir=str(tmp_path)))
    col.on_flush.append(flushes.append)
    col.track("ev", {"n": 1})  # left unflushed
    col.evolve_schema("ev", {"tag": DataType.String})
    assert [f.trigger for f in flushes] == [FlushTrigger.Manual]
    col.track("ev", {"n": 2, "tag": "x"})
    col.stop()
    assert col.table("ev").count() == 2


def test_typed_csv_lake_tree_reader_recovers_partitions(spark, tmp_path):
    """SURVEY §1.6 compat reader: a whole YYYY/MM/DD/HH/table tree reads
    as one frame with y/m/d/h recovered; date constraints prune the
    file list before the scan (inputFiles shrinks accordingly)."""
    from es_analytics_spark.sources.typed_csv import read_typed_csv_lake

    cols = {"n": DataType.Integer, "name": DataType.String}
    for hour, n0 in [(3, 0), (4, 10), (5, 20)]:
        p = tmp_path / "2026" / "08" / "13" / f"{hour:02d}" / "ev"
        p.mkdir(parents=True)
        rows = [{"n": n0 + i, "name": f"r{n0 + i}"} for i in range(5)]
        (p / "obj.csv").write_bytes(encode_typed_csv(rows, cols))

    full = read_typed_csv_lake(spark, str(tmp_path), "ev")
    assert full.count() == 15
    assert set(full.columns) == {"n", "name", "y", "m", "d", "h"}
    assert {r.h for r in full.select("h").distinct().collect()} == {3, 4, 5}
    assert {r.y for r in full.select("y").distinct().collect()} == {2026}

    pruned = read_typed_csv_lake(spark, str(tmp_path), "ev", h=4)
    assert len(pruned.inputFiles()) == 1 and len(full.inputFiles()) == 3
    assert sorted(r.n for r in pruned.collect()) == list(range(10, 15))


def test_collector_orc_sink_roundtrip(spark, tmp_path):
    """ORC is a first-class columnar alternative to parquet for the
    native sink: same lake layout, same read-back semantics."""
    from es_analytics_spark.collector import Collector, CollectorConfig

    col = Collector(
        spark, CollectorConfig(lake_dir=str(tmp_path / "lake"), sink_format="orc")
    )
    for i in range(50):
        col.track("t", {"k": i, "v": i * 2.5, "s": f"x{i}"})
    col.stop()
    from pyspark.sql import functions as F

    got = col.table("t")
    assert got.count() == 50
    assert got.agg(F.sum("v")).first()[0] == sum(i * 2.5 for i in range(50))


def test_typed_csv_python_datasource_matches_jvm_reader(spark, tmp_path):
    """spark.read.format('typed_csv') — the lake wire format as a
    registered Spark data source — must return exactly what the JVM
    CSV reader path returns, including gzip objects, nulls, quoted
    strings, and ms timestamps."""
    import datetime as dt2

    from pyspark.sql import functions as F

    from es_analytics_spark.sources.typed_csv import read_typed_csv
    from es_analytics_spark.sources.typed_csv_ds import register_typed_csv

    col = Collector(
        spark,
        CollectorConfig(
            lake_dir=str(tmp_path / "lake"), sink_format="csv", batch_record_limit=20
        ),
    )
    base = dt2.datetime(2024, 3, 1, 10, 30, 0, 123000)
    for i in range(50):
        col.track(
            "t",
            {
                "k": i,
                "s": f'say "{i}", ok' if i % 3 == 0 else None,
                "f": i * 0.25,
                "b": i % 2 == 0,
                "ts": base + dt2.timedelta(minutes=i),
            },
        )
    col.stop()

    pattern = str(tmp_path / "lake" / "*/*/*/*" / "t" / "*.csv*")
    register_typed_csv(spark)
    via_ds = spark.read.format("typed_csv").load(pattern)
    via_jvm = read_typed_csv(spark, pattern)
    assert via_ds.schema == via_jvm.schema
    a = sorted(via_ds.collect(), key=lambda r: r["k"])
    b = sorted(via_jvm.collect(), key=lambda r: r["k"])
    assert a == b
    assert len(a) == 50
    # partition-parallel: one partition per lake object
    assert via_ds.rdd.getNumPartitions() >= 3


def test_typed_csv_quoted_newlines_survive_both_readers(spark, tmp_path):
    """RFC-4180 quoted fields may contain record terminators and
    Unicode line boundaries; both the JVM reader (multiLine) and the
    Python data source (single csv.reader over the object) must return
    them intact — not shear rows at the embedded newline."""
    import datetime as dt2

    from es_analytics_spark.sources.typed_csv import read_typed_csv
    from es_analytics_spark.sources.typed_csv_ds import register_typed_csv

    tricky = [
        "line one\nline two",
        "crlf\r\nsecond",
        "unicode \u2028 ls and \x85 nel",
        'quote " and\nnewline',
        "plain",
    ]
    # documented wire limit: embedded \r\n normalizes to \n on read
    # (univocity multiLine behavior, mirrored by the Python source)
    expect = {i: s.replace("\r\n", "\n") for i, s in enumerate(tricky)}
    col = Collector(
        spark, CollectorConfig(lake_dir=str(tmp_path / "lake"), sink_format="csv")
    )
    for i, s in enumerate(tricky):
        col.track("t", {"k": i, "s": s, "ts": dt2.datetime(2024, 3, 1, 10, 30)})
    col.stop()

    pattern = str(tmp_path / "lake" / "*/*/*/*" / "t" / "*.csv*")
    register_typed_csv(spark)
    for df in (spark.read.format("typed_csv").load(pattern), read_typed_csv(spark, pattern)):
        got = {r["k"]: r["s"] for r in df.collect()}
        assert got == expect, df


def test_typed_csv_datasource_write_roundtrip(spark, tmp_path):
    """df.write.format('typed_csv') must produce wire-format objects the
    reader (and the JVM compat reader) round-trip exactly — including
    RFC-4180 quoted commas/newlines, ms-precision timestamps, booleans,
    and NULLs — one uuid-named gzipped object per task, with
    mode('overwrite') rejected (write-once object contract) and no
    in-progress debris left visible."""
    import datetime as dt
    import glob
    import os

    import pytest

    from es_analytics_spark.sources.typed_csv_ds import register_typed_csv

    register_typed_csv(spark)
    out = str(tmp_path / "lakeobj")
    df = spark.createDataFrame(
        [
            (1, 'a,b\n"q"', dt.datetime(2024, 1, 1, 10, 30, 0, 123000), True, 1.5),
            (2, None, None, False, None),
            (3, "plain", dt.datetime(2024, 2, 2), False, -0.25),
        ],
        "id bigint, s string, ts timestamp, b boolean, v double",
    )
    df.repartition(2).write.format("typed_csv").mode("append").option("path", out).save()

    files = glob.glob(f"{out}/*.csv.gz")
    assert len(files) == 2, files  # one object per task
    assert not glob.glob(f"{out}/.inprogress-*"), "in-progress debris visible"

    back = spark.read.format("typed_csv").load(f"{out}/*.csv.gz")
    assert back.schema.simpleString() == df.schema.simpleString()
    assert sorted(back.collect()) == sorted(df.collect())

    # append adds objects; never rewrites existing ones
    before = {p: os.path.getmtime(p) for p in files}
    df.limit(1).write.format("typed_csv").mode("append").option("path", out).save()
    assert len(glob.glob(f"{out}/*.csv.gz")) > 2
    assert all(os.path.getmtime(p) == m for p, m in before.items())

    with pytest.raises(Exception, match="append-only"):
        df.write.format("typed_csv").mode("overwrite").option("path", out).save()


def test_typed_csv_quoted_newline_in_column_name(spark, tmp_path):
    """Golden write→read roundtrip for the last splitlines() seam (r3
    verdict nit): a quoted COLUMN NAME containing an embedded newline
    is one RFC-4180 header record spanning physical lines; schema
    derivation and both readers must return it intact, not shear the
    header."""
    from es_analytics_spark.collector import DataType
    from es_analytics_spark.sources.typed_csv import (
        encode_typed_csv,
        read_typed_csv,
        schema_from_typed_header,
    )

    weird = "amount\n(usd)"
    cols = {"k": DataType.Integer, weird: DataType.Float}
    payload = encode_typed_csv([{"k": 1, weird: 2.5}, {"k": 2, weird: -0.5}], cols)
    obj = tmp_path / "t" / "part-0.csv"
    obj.parent.mkdir(parents=True)
    obj.write_bytes(payload)

    schema = schema_from_typed_header(payload.decode("utf-8"))
    assert [f.name for f in schema.fields] == ["k", weird]

    df = read_typed_csv(spark, str(obj))
    assert df.columns == ["k", weird]
    got = {r["k"]: r[weird] for r in df.collect()}
    assert got == {1: 2.5, 2: -0.5}


def test_typed_header_without_header_row_raises():
    """ADVICE r4 (low): a '#types'-only payload (no newline) used to
    re-parse the types line as the header row, yielding a schema whose
    field names were the type tokens; it must raise instead."""
    import pytest

    from es_analytics_spark.sources.typed_csv import schema_from_typed_header

    with pytest.raises(ValueError, match="missing header row"):
        schema_from_typed_header("#INTEGER,FLOAT")


def test_orc_sink_roundtrip_with_pushdown(spark, tmp_path):
    """ORC lake format (round 5): the collector's orc sink_format
    writes a readable lake, values and schema round-trip, and an
    equality predicate reaches the ORC scan as a pushed filter — the
    same scan-efficiency contract the parquet path has."""
    import datetime as dt

    from pyspark.sql import functions as F

    from es_analytics_spark.collector import Collector, CollectorConfig

    cfg = CollectorConfig(lake_dir=str(tmp_path), sink_format="orc")
    col = Collector(spark, cfg)
    base = dt.datetime(2024, 3, 1, 12, tzinfo=dt.timezone.utc)
    col.track_many(
        "orc_events",
        [
            {"uid": i, "ts": base, "kind": "a" if i % 2 else "b", "v": i * 0.5}
            for i in range(500)
        ],
    )
    col.stop()

    files = [str(p) for p in (tmp_path).rglob("*") if p.is_file() and p.suffix != ".crc"]
    assert files, "orc sink wrote nothing"
    df = spark.read.format("orc").load(
        [f for f in files if not f.endswith(".crc")]
    )
    assert df.count() == 500
    got = {r["uid"]: (r["kind"], r["v"]) for r in df.collect()}
    assert got[7] == ("a", 3.5) and got[8] == ("b", 4.0)

    plan = (
        df.filter(F.col("uid") == 7)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters" in plan and "uid" in plan.split("PushedFilters", 1)[1][:200], plan


_OFFSETS = [dt.timezone(dt.timedelta(minutes=m)) for m in (-600, -210, 0, 330, 345, 780)]
_WALL = st.datetimes(min_value=dt.datetime(1990, 1, 1), max_value=dt.datetime(2037, 12, 31))
_TIME_VALUE = st.one_of(
    st.none(),
    _WALL,
    st.builds(lambda d, tz: d.replace(tzinfo=tz), _WALL, st.sampled_from(_OFFSETS)),
    st.builds(
        lambda d, z: d.replace(tzinfo=ZoneInfo(z)),
        _WALL,
        st.sampled_from(["America/New_York", "Asia/Kolkata", "Europe/Berlin"]),
    ),
)


def _epoch_us(v: dt.datetime) -> int:
    return (v - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)) // dt.timedelta(microseconds=1)


def _cast_micros(spark, vals: list) -> dict:
    """{i: the instant Spark SQL gives ``vals[i]``}: a naive value is
    ``unix_micros(CAST('<wall>' AS TIMESTAMP))`` in the session zone, an
    aware one its UTC instant, None stays None."""
    naive = {i: v for i, v in enumerate(vals) if v is not None and v.tzinfo is None}
    cast = {}
    if naive:
        row = spark.sql("SELECT " + ", ".join(
            f"unix_micros(CAST('{v.isoformat(sep=' ')}' AS TIMESTAMP)) AS c{i}"
            for i, v in naive.items()
        )).first()
        cast = {i: row[f"c{i}"] for i in naive}
    return {
        i: None if v is None else cast[i] if v.tzinfo is None else _epoch_us(v)
        for i, v in enumerate(vals)
    }


def _stored_micros(spark, lake: str, vals: list, fmt: str = "parquet") -> dict:
    """Flush ``{"i": i, "ts": vals[i]}`` rows into a fresh ``fmt`` lake
    and return {i: stored epoch µs}; the flush must report no error."""
    cfg = CollectorConfig(
        lake_dir=lake, sink_format=fmt, batch_zip=False,
        column_types={"tz_events": {"ts": DataType.Time}},
    )
    col = Collector(spark, cfg)
    errors = []
    col.on_error.append(errors.append)
    col.track_many("tz_events", [{"i": i, "ts": v} for i, v in enumerate(vals)])
    col.stop()
    assert errors == []
    got = col.table("tz_events").selectExpr("i", "unix_micros(ts) AS us").collect()
    return {r["i"]: r["us"] for r in got}


@pytest.fixture
def session_zone(spark):
    """Set ``spark.sql.session.timeZone`` for one test, then restore it."""
    old = spark.conf.get("spark.sql.session.timeZone")
    yield lambda tz: spark.conf.set("spark.sql.session.timeZone", tz)
    spark.conf.set("spark.sql.session.timeZone", old)


@settings(max_examples=12, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(vals=st.lists(_TIME_VALUE, min_size=1, max_size=12))
def test_pyarrow_flush_stores_the_spark_path_instants(spark, tmp_path, session_zone, vals):
    """The pyarrow flush stores the instant Spark SQL gives each value
    of a batch mixing naive wall times, aware values at several offsets
    and None: a naive value is ``CAST('<wall>' AS TIMESTAMP)`` in the
    session zone (America/New_York, DST folds and gaps included), an
    aware value its UTC instant, not its wall clock read as UTC."""
    session_zone("America/New_York")
    stored = _stored_micros(spark, str(tmp_path / uuid.uuid4().hex), vals)
    assert stored == _cast_micros(spark, vals)


_FOLD = dt.datetime(2024, 11, 3, 1, 30)  # repeated hour in America/New_York
_GAP = dt.datetime(2024, 3, 10, 2, 30)   # skipped hour in America/New_York


@pytest.mark.parametrize("wall", [_FOLD, _GAP])
def test_pyarrow_flush_stores_jvm_instant_for_dst_gap_and_fold(
    spark, tmp_path, session_zone, wall
):
    """A naive wall time in a DST fold or gap of the session zone stores
    the instant Spark SQL's ``CAST`` gives it (the fold's earlier
    offset; the gap moved forward by its length), with no ``on_error``
    report, alone or beside an aware value."""
    session_zone("America/New_York")
    vals = [wall, dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)]
    stored = _stored_micros(spark, str(tmp_path / "lake"), vals)
    assert stored == _cast_micros(spark, vals)
    assert stored[0] == {_FOLD: 1730611800000000, _GAP: 1710055800000000}[wall]
    assert _stored_micros(spark, str(tmp_path / "alone"), vals[:1]) == {0: stored[0]}


@pytest.mark.parametrize("tz", ["UTC", "America/New_York", "Asia/Kolkata", "+05:30", "GMT+8"])
def test_flush_formats_store_the_cast_instant(spark, tmp_path, session_zone, tz):
    """Under each session zone, including offset forms tzdata lacks
    (``+05:30``, ``GMT+8``), the parquet, orc and csv sinks store the
    same instants, and each equals Spark SQL's ``CAST`` of the wall
    time: the New York fold and gap wall times, an ordinary wall time,
    an aware value and None. Whole seconds, as csv keeps milliseconds."""
    session_zone(tz)
    vals = [
        _FOLD, _GAP, dt.datetime(2024, 6, 1, 12),
        dt.datetime(2024, 6, 1, 12, tzinfo=ZoneInfo("Asia/Kolkata")), None,
    ]
    want = _cast_micros(spark, vals)
    for fmt in ("parquet", "orc", "csv"):
        assert _stored_micros(spark, str(tmp_path / fmt), vals, fmt) == want, fmt


def test_parquet_flush_runs_no_spark_job(spark, tmp_path):
    """A parquet flush is one Arrow encoding and one staged put: no
    Spark job runs between ``track_many`` and ``stop``, while the orc
    flush of the same batch, as a control, does run one."""
    sc = spark.sparkContext
    recs = [{"i": i, "ts": dt.datetime(2024, 1, 1), "s": f"x{i}"} for i in range(250)]
    jobs = {}
    for fmt in ("parquet", "orc"):
        group = f"collector-flush-{fmt}-{uuid.uuid4().hex}"
        col = Collector(spark, CollectorConfig(
            lake_dir=str(tmp_path / fmt), sink_format=fmt, batch_record_limit=100
        ))
        sc.setJobGroup(group, "collector flush")
        try:
            col.track_many("jobs", recs)
            col.stop()
        finally:
            sc.setJobGroup("", "")
        jobs[fmt] = list(sc.statusTracker().getJobIdsForGroup(group))
        assert col.table("jobs").count() == 250
    assert jobs["parquet"] == [] and jobs["orc"]


@pytest.mark.parametrize("uri", [False, True])
def test_put_bytes_failure_leaves_no_readable_part(spark, tmp_path, monkeypatch, uri):
    """A put that dies mid-write leaves no truncated ``.parquet`` under
    the table: the bytes are staged under a hidden name that a
    mergeSchema load skips, and only a whole file is renamed into
    place."""
    from es_analytics_spark.sources import fsio

    col = Collector(spark, CollectorConfig(lake_dir=str(tmp_path)))
    col.track_many("torn", [{"i": i} for i in range(10)])
    col.stop()
    good = next(tmp_path.rglob("*.parquet"))
    data = good.read_bytes()
    target = str(good.parent.parent / uuid.uuid4().hex / "part-00000-x.snappy.parquet")

    def torn(f, payload):
        f.write(payload[: len(payload) // 2])
        raise OSError("injected failure mid-write")

    if uri:
        store = fsio.lake_fs(spark, "file://" + str(tmp_path))
        target = "file://" + target
        real = fsio.HadoopFS._write
        monkeypatch.setattr(
            fsio.HadoopFS, "_write",
            lambda self, p, d: (real(self, p, d[: len(d) // 2]), torn(io.BytesIO(), d)),
        )
    else:
        store = fsio.LocalFS()
        real_open = open

        class _Torn:
            def __init__(self, *a, **kw):
                self.f = real_open(*a, **kw)

            def __enter__(self):
                return self

            def __exit__(self, *exc):
                self.f.close()

            def write(self, payload):
                torn(self.f, payload)

        monkeypatch.setattr(fsio, "open", _Torn, raising=False)
    with pytest.raises(OSError, match="injected"):
        store.put_bytes(target, data)
    monkeypatch.undo()
    assert sorted(p.name for p in tmp_path.rglob("*.parquet")) == [good.name]
    assert not [p for p in tmp_path.rglob("*tmp-*")]
    assert col.table("torn").count() == 10
