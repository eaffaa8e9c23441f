"""Streaming→lake lifecycle, compaction, salted join, property-based
collector roundtrip (SURVEY.md §5.3-5.5)."""

import datetime as dt

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from es_analytics_spark import txlog
from es_analytics_spark.collector import Collector, CollectorConfig
from es_analytics_spark.incremental import (
    maintain_rollup,
    read_rollup,
    refresh_enriched_view,
)
from es_analytics_spark.maintenance import compact, table_stats
from es_analytics_spark.operators.joins import salted_join
from es_analytics_spark.sources.lake import read_table
from es_analytics_spark.streaming.collector_sink import read_lake_table, stream_to_lake
from es_analytics_spark.streaming.ingest import stream_events


def test_stream_to_lake_roundtrip(spark, sf_dir, tmp_path):
    flushes = []
    q = stream_to_lake(
        stream_events(spark, sf_dir),
        table="events",
        lake_dir=str(tmp_path / "lake"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True,
        on_flush=flushes.append,
    )
    q.awaitTermination()
    got = read_lake_table(spark, str(tmp_path / "lake"), "events")
    n = read_table(spark, sf_dir, "events").count()
    assert got.count() == n
    assert {"ingest_date", "ingest_hour"} <= set(got.columns)
    assert flushes and sum(f.records for f in flushes) == n
    # partition pruning: filter on partition col reads a strict subset
    pruned = got.filter(F.col("ingest_hour") == 3)
    assert 0 < pruned.count() < n


def test_stream_to_lake_restart_is_exactly_once(spark, sf_dir, tmp_path):
    """Re-running with the same checkpoint must not duplicate data."""
    for _ in range(2):
        q = stream_to_lake(
            stream_events(spark, sf_dir),
            table="events",
            lake_dir=str(tmp_path / "lake"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            available_now=True,
        )
        q.awaitTermination()
    got = read_lake_table(spark, str(tmp_path / "lake"), "events")
    assert got.count() == read_table(spark, sf_dir, "events").count()


def test_compact_reduces_file_count(spark, tmp_path):
    path = str(tmp_path / "frag")
    df = spark.range(0, 20000).withColumn("v", F.col("id") * 2)
    df.repartition(64).write.parquet(path)  # deliberately fragmented
    assert table_stats(spark, path)["n_files"] == 64
    report = compact(spark, path, target_file_bytes=10 * 1024 * 1024)
    assert report["after"]["n_files"] < 8
    out = spark.read.parquet(path)
    assert out.count() == 20000
    assert out.agg(F.sum("v")).first()[0] == df.agg(F.sum("v")).first()[0]


def test_salted_join_matches_plain_join(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    plain = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
    salted = salted_join(
        li, orders.withColumnRenamed("o_orderkey", "l_orderkey"), on="l_orderkey"
    ).count()
    assert salted == plain


# derandomize: a fresh falsifying example surfacing mid-round would fail
# the driver's gate on code that didn't change; determinism > novelty here
@settings(max_examples=20, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(
        st.fixed_dictionaries(
            {
                # NUL excluded: the CSV wire format can't carry it —
                # Spark's univocity reader strips '\x00' on parse (the
                # native parquet sink round-trips it fine)
                "s": st.text(
                    alphabet=st.characters(
                        blacklist_categories=("Cs",), blacklist_characters="\r\n\x00"
                    ),
                    max_size=40,
                ),
                "i": st.integers(min_value=-(2**62), max_value=2**62),
                "f": st.floats(allow_nan=False, allow_infinity=False, width=64),
                "b": st.booleans(),
                "t": st.datetimes(
                    min_value=dt.datetime(1970, 1, 2),
                    max_value=dt.datetime(2100, 1, 1),
                ).map(lambda d: d.replace(microsecond=(d.microsecond // 1000) * 1000)),
            }
        ),
        min_size=1,
        max_size=25,
    )
)
def test_collector_roundtrip_property(spark, tmp_path_factory, rows):
    """Any flat record of the §1.3 type table survives track→lake→read
    unchanged (CSV compat sink: ms-truncated timestamps by spec)."""
    lake = tmp_path_factory.mktemp("lake_prop")
    col = Collector(
        spark, CollectorConfig(lake_dir=str(lake), sink_format="csv", batch_zip=False)
    )
    for i, r in enumerate(rows):
        col.track("t", {"k": i, **r})
    col.stop()
    got = {r.k: r for r in col.table("t").collect()}
    assert len(got) == len(rows)
    for i, r in enumerate(rows):
        g = got[i]
        assert (g.s or "") == r["s"]
        assert g.i == r["i"]
        assert g.f == r["f"] or (g.f is None and r["f"] is None)
        assert g.b == r["b"]
        assert g.t == r["t"]


@settings(max_examples=30, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    values=st.lists(
        st.floats(
            allow_nan=False, allow_infinity=False, min_value=-1e9, max_value=1e9
        ),
        min_size=1,
        max_size=200,
    )
)
def test_dsum_matches_decimal_reference(spark, values):
    """functions.exact.dsum == the same contract computed with Python's
    exact Decimal arithmetic, independent of partitioning."""
    import decimal

    from es_analytics_spark.functions.exact import dsum

    df = spark.createDataFrame([(v,) for v in values], "v double").repartition(5)
    got = df.agg(dsum("v").alias("s")).first().s

    with decimal.localcontext() as ctx:
        ctx.prec = 60
        total = sum(
            decimal.Decimal(v).quantize(decimal.Decimal("1e-10"), rounding=decimal.ROUND_HALF_UP)
            for v in values
        )
        expect = float(total.quantize(decimal.Decimal("1e-4"), rounding=decimal.ROUND_HALF_UP))
    assert got == expect, (got, expect)


def test_upsert_merge_semantics(spark, tmp_path):
    """MERGE-by-rewrite: matched keys replaced, new keys inserted,
    untouched rows intact."""
    from es_analytics_spark.maintenance import upsert

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["id", "name", "v"]
    ).write.parquet(path)
    updates = spark.createDataFrame(
        [(2, "b2", 21.0), (4, "d", 40.0)], ["id", "name", "v"]
    )
    stats = upsert(spark, path, updates, keys=["id"])
    got = {r.id: (r.name, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("a", 10.0), 2: ("b2", 21.0), 3: ("c", 30.0), 4: ("d", 40.0)}
    assert stats["rows"] == 4


def test_upsert_rejects_duplicate_update_keys(spark, tmp_path):
    """MERGE semantics: two updates hitting the same key tuple is an
    error (Delta/SQL MERGE raises on multiple matches), not a silent
    double-insert."""
    import pytest

    from es_analytics_spark.maintenance import upsert

    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], ["id", "name"]).write.parquet(path)
    dupes = spark.createDataFrame([(2, "x"), (2, "y")], ["id", "name"])
    with pytest.raises(ValueError, match="duplicate key"):
        upsert(spark, path, dupes, keys=["id"])
    # target untouched
    assert spark.read.parquet(path).count() == 1


def test_lake_ops_work_over_uri_store(spark, tmp_path):
    """A12: the whole single-writer surface — collector CSV sink,
    compact, upsert — runs against a Hadoop-URI lake root (file://
    here; s3a:// is the same FileSystem API with different scheme),
    never touching os.rename/shutil."""
    from es_analytics_spark.maintenance import upsert
    from es_analytics_spark.sources.fsio import HadoopFS, lake_fs

    uri = f"file://{tmp_path}"
    assert isinstance(lake_fs(spark, uri), HadoopFS)

    # collector round-trip (parquet + csv sinks) over the URI root
    flushes = []
    col = Collector(spark, CollectorConfig(lake_dir=f"{uri}/lake", batch_record_limit=50))
    col.on_flush.append(flushes.append)
    for i in range(120):
        col.track("ev", {"n": i, "name": f"r{i}"})
    col.stop()
    assert [f.trigger.name for f in flushes] == ["RecordLimit", "RecordLimit", "Stop"]
    assert col.table("ev").count() == 120

    csv_col = Collector(
        spark, CollectorConfig(lake_dir=f"{uri}/csvlake", sink_format="csv")
    )
    csv_col.track("ev", {"n": 1, "name": "x"})
    csv_col.stop()
    assert csv_col.table("ev").count() == 1

    # compact + upsert through the same seam
    path = f"{uri}/t"
    base = spark.range(0, 1000).select(
        F.col("id").cast("long").alias("id"), F.concat(F.lit("n"), F.col("id")).alias("name")
    )
    base.repartition(8).write.parquet(path)
    assert table_stats(spark, path)["n_files"] == 8
    compact(spark, path, target_file_bytes=1 << 20)
    assert table_stats(spark, path)["n_files"] < 8
    upsert(spark, path, spark.createDataFrame([(2, "b2"), (1001, "c")], ["id", "name"]), ["id"])
    out = spark.read.parquet(path)
    assert out.count() == 1001
    assert {r.name for r in out.filter(F.col("id").isin(2, 1001)).collect()} == {"b2", "c"}

    # erasure through the same seam (URI paths flow into replace_file)
    from es_analytics_spark.maintenance import erase_keys

    receipt = erase_keys(spark, path, "id", [2, 7, 1001])
    assert receipt["verified"] is True and receipt["rows_erased"] == 3
    assert spark.read.parquet(path).count() == 998

    # SCD2 through the same seam (initial-load rename + swap path)
    import datetime as dtt

    from es_analytics_spark.maintenance import scd2_merge

    dim = f"{uri}/dim"
    t0, t1 = dtt.datetime(2026, 1, 1), dtt.datetime(2026, 2, 1)
    scd2_merge(
        spark,
        dim,
        spark.createDataFrame([(1, "a", t0)], ["k", "v", "ts"]),
        ["k"],
        "ts",
    )
    r = scd2_merge(
        spark,
        dim,
        spark.createDataFrame([(1, "b", t1)], ["k", "v", "ts"]),
        ["k"],
        "ts",
    )
    assert (r["opened"], r["closed"], r["rows"]) == (1, 1, 2)


def test_stream_upsert_cdc_latest_wins(spark, sf_dir, tmp_path):
    """Streaming MERGE sink: replaying the events stream with per-user
    upserts must leave exactly the latest event per user — equal to the
    batch last-per-key answer."""
    from es_analytics_spark.streaming.collector_sink import stream_upsert_to_table
    from pyspark.sql import Window as W

    path = str(tmp_path / "profiles")
    ev = stream_events(spark, sf_dir).select("user_id", "ts", "event_type", "value")
    q = stream_upsert_to_table(
        ev, path, keys=["user_id"], checkpoint_dir=str(tmp_path / "ckpt"),
        order_col="ts", available_now=True,
    )
    q.awaitTermination()

    batch = read_table(spark, sf_dir, "events").select("user_id", "ts", "event_type", "value")
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), "user_id")
    expect = (
        batch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1).drop("__rn")
    )
    got = spark.read.parquet(path)
    assert got.count() == expect.count()
    joined = got.alias("g").join(expect.alias("e"), "user_id")
    assert joined.filter(F.col("g.ts") != F.col("e.ts")).count() == 0


def test_cluster_by_produces_disjoint_file_ranges(spark, tmp_path):
    """After cluster_by, parquet footer stats must show (near-)disjoint
    per-file ranges on the cluster key — the property row-group/file
    skipping depends on. Verified from the actual parquet metadata."""
    import glob

    import pyarrow.parquet as pq

    path = str(tmp_path / "t")
    df = spark.range(0, 50_000).selectExpr(
        "cast(rand(7) * 1000000 as long) as k", "id as payload"
    )
    df.repartition(8).write.parquet(path)  # k scattered across all files

    from es_analytics_spark.maintenance import cluster_by

    report = cluster_by(spark, path, ["k"], target_file_bytes=200 * 1024)
    assert report["rows"] == 50_000
    ranges = []
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.read_metadata(f)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            assert col.path_in_schema == "k"
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) >= 3  # actually split into multiple files
    overlaps = sum(
        1 for (a, b) in zip(ranges, ranges[1:]) if b[0] <= a[1]
    )
    # range partitioning gives disjoint files (boundary duplicates aside)
    assert overlaps <= 1, ranges
    # content preserved
    out = spark.read.parquet(path)
    assert out.count() == 50_000
    assert out.agg(F.sum("payload")).first()[0] == sum(range(50_000))


def test_zorder_by_bounds_every_dimension(spark, tmp_path):
    """After zorder_by on two independent uniform dims, every file's
    bounding box must be small in BOTH dims (the multi-dim skipping
    property). A single-key cluster_by would leave the second dim at
    full span in every file — the assertion separates the two."""
    import glob

    import pyarrow.parquet as pq

    path = str(tmp_path / "t")
    df = spark.range(0, 60_000).selectExpr(
        "cast(rand(11) * 65536 as long) as x",
        "cast(rand(13) * 65536 as long) as y",
        "id as payload",
    )
    df.repartition(8).write.parquet(path)

    from es_analytics_spark.maintenance import zorder_by

    report = zorder_by(spark, path, ["x", "y"], target_file_bytes=40 * 1024)
    assert report["rows"] == 60_000

    full = 65536.0
    boxes = []
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.read_metadata(f)
        span = {}
        for ci in range(md.num_row_groups and md.row_group(0).num_columns):
            name = md.row_group(0).column(ci).path_in_schema
            if name not in ("x", "y"):
                continue
            mins = [md.row_group(rg).column(ci).statistics.min for rg in range(md.num_row_groups)]
            maxs = [md.row_group(rg).column(ci).statistics.max for rg in range(md.num_row_groups)]
            span[name] = (max(maxs) - min(mins)) / full
        boxes.append((span["x"], span["y"]))
    assert len(boxes) >= 8
    # every file covers a fraction of both dims; a linear sort would
    # pin one dim near 1.0 in every file (fraction-small ~0, avg area
    # ~span_x). Robust to the occasional boundary-straddling file.
    avg_area = sum(sx * sy for sx, sy in boxes) / len(boxes)
    assert avg_area < 0.2, boxes
    small = sum(1 for sx, sy in boxes if max(sx, sy) <= 0.5)
    assert small / len(boxes) >= 0.6, boxes
    out = spark.read.parquet(path)
    assert out.count() == 60_000
    assert out.agg(F.sum("payload")).first()[0] == sum(range(60_000))


def test_incremental_rollup_matches_full_recompute(spark, tmp_path):
    """Raw files → refresh_enriched_view → maintain_rollup, twice, must
    equal a one-shot groupBy over batch1+batch2 exactly (decimal sums,
    least/greatest extremes); the second refresh reads only the new
    files, and a caught-up pipeline does no work."""

    raw = str(tmp_path / "facts")
    src = str(tmp_path / "facts_tx")
    roll = str(tmp_path / "rollup")
    measures = {
        "n": ("count", None),
        "revenue": ("sum", "amount_dec"),
        "lo": ("min", "amount"),
        "hi": ("max", "amount"),
    }

    def enrich(df):
        return df.withColumn("amount_dec", F.col("amount").cast("decimal(38,10)"))

    def refresh_and_fold():
        r = refresh_enriched_view(spark, f"{raw}/*.parquet", src, enrich)
        return r, maintain_rollup(spark, src, roll, ["grp"], measures)

    b1 = spark.range(0, 20_000).selectExpr(
        "id % 7 as grp", "cast(id as double) * 0.37 as amount"
    )
    b1.coalesce(2).write.mode("append").parquet(raw)
    r1, m1 = refresh_and_fold()
    assert r1["new_files"] >= 1 and m1["applied"] == 1

    b2 = spark.range(20_000, 50_000).selectExpr(
        "id % 7 as grp", "cast(id as double) * 0.37 as amount"
    )
    b2.coalesce(3).write.mode("append").parquet(raw)
    r2, m2 = refresh_and_fold()
    assert r2["new_files"] >= 1
    assert r2["total_files"] == r1["total_files"] + r2["new_files"]
    assert m2["applied"] == 1

    got = {
        r["grp"]: (r["n"], r["revenue"], r["lo"], r["hi"])
        for r in read_rollup(spark, roll)
        .withColumn("revenue", F.round("revenue", 4).cast("double"))
        .collect()
    }
    want = {
        r["grp"]: (r["n"], r["revenue"], r["lo"], r["hi"])
        for r in spark.read.parquet(raw)
        .groupBy("grp")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("amount").cast("decimal(38,10)")), 4)
            .cast("double")
            .alias("revenue"),
            F.min("amount").alias("lo"),
            F.max("amount").alias("hi"),
        )
        .collect()
    }
    assert len(got) == 7 and got == want

    # idempotent: nothing new -> no work, same answer
    r3, m3 = refresh_and_fold()
    assert r3["new_files"] == 0 and m3["applied"] == 0


def test_zorder_guards_sign_bit_and_degenerate_stats(spark, tmp_path):
    """interleave_expr must refuse bit layouts that reach the bigint
    sign bit (negative curve positions silently invert the clustering
    order); zorder_by auto-shrinks bits instead. None/NULL stats
    (empty table, all-NULL column) degrade to the constant 0 cell
    rather than crashing."""
    import pytest as _pytest

    from es_analytics_spark.functions.zorder import interleave_expr, normalize_expr
    from es_analytics_spark.maintenance import zorder_by

    with _pytest.raises(ValueError, match="63"):
        interleave_expr(["a", "b", "c", "d"], bits=16)  # 64 bits -> sign bit

    assert normalize_expr("x", None, None) == "CAST(0 AS BIGINT)"
    assert normalize_expr("x", 5.0, 5.0) == "CAST(0 AS BIGINT)"
    # NULL values land in a defined cell (COALESCE inside the expr)
    assert "COALESCE" in normalize_expr("x", 0.0, 10.0)

    # 4 columns at default bits=16 would overflow; zorder_by shrinks to 15
    path = str(tmp_path / "t4")
    spark.range(0, 5000).selectExpr(
        "cast(id % 100 as double) as a",
        "cast(id % 97 as double) as b",
        "cast(id % 89 as double) as c",
        "cast(null as double) as d",  # all-NULL dim: constant cell
    ).write.parquet(path)
    report = zorder_by(spark, path, ["a", "b", "c", "d"], target_file_bytes=64 * 1024)
    assert report["rows"] == 5000
    assert spark.read.parquet(path).count() == 5000


def test_streaming_lake_feeds_incremental_rollup(spark, sf_dir, tmp_path):
    """The end-to-end incremental path: new files land in the source
    dir, ONE checkpointed availableNow stream drains them into the
    lake, the refresh commits only the newly flushed lake files and the
    rollup folds only that commit — the cost tracks the increment, and
    the rollup always equals a full groupBy over everything the lake
    holds."""

    src = tmp_path / "incoming"
    src.mkdir()
    lake = str(tmp_path / "lake")
    glob = f"{lake}/events/*/*/*.parquet"
    events_tx = str(tmp_path / "events_tx")
    roll = str(tmp_path / "roll")
    measures = {"n": ("count", None), "total": ("sum", "value_dec")}
    events = read_table(spark, sf_dir, "events")
    schema = events.schema

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )
        q = stream_to_lake(
            stream,
            table="events",
            lake_dir=lake,
            checkpoint_dir=str(tmp_path / "ckpt"),
            available_now=True,
        )
        q.awaitTermination()

    def refresh():
        r = refresh_enriched_view(
            spark, glob, events_tx,
            lambda df: df.select(
                "event_type", F.col("value").cast("decimal(38,10)").alias("value_dec")
            ),
        )
        maintain_rollup(spark, events_tx, roll, ["event_type"], measures)
        return r

    events.filter(F.col("event_id") % 2 == 0).write.parquet(str(src / "f1"))
    drain()
    r1 = refresh()
    assert r1["new_files"] >= 1

    events.filter(F.col("event_id") % 2 == 1).write.parquet(str(src / "f2"))
    drain()
    r2 = refresh()
    assert r2["new_files"] >= 1
    assert r2["total_files"] == r1["total_files"] + r2["new_files"]

    got = {
        r["event_type"]: (r["n"], r["total"])
        for r in read_rollup(spark, roll)
        .withColumn("total", F.round("total", 4).cast("double"))
        .collect()
    }
    want = {
        r["event_type"]: (r["n"], r["total"])
        for r in spark.read.parquet(glob)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(38,10)")), 4)
            .cast("double")
            .alias("total"),
        )
        .collect()
    }
    assert got == want


def test_vacuum_removes_stale_staging_only(spark, tmp_path):
    """vacuum must remove crash debris (stale .__old__ / staging /
    _temporary) older than the retention window, leave fresh artifacts
    (a running rewrite) and live table data untouched, and honor
    dry_run. Works over both FS seams (plain path here; the URI-store
    test covers the Hadoop client path for the same glob/delete API)."""
    import os
    import time

    from es_analytics_spark.maintenance import vacuum

    root = str(tmp_path / "lake")
    table = os.path.join(root, "events")
    spark.range(10).write.parquet(table)
    stale_backup = table + ".__old__"
    stale_staging = table + ".__compact__"
    fresh_staging = table + ".__upsert__"
    committer = os.path.join(table, "_temporary")
    for d in (stale_backup, stale_staging, fresh_staging, committer):
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "junk"), "w") as f:
            f.write("x")
    old = time.time() - 8 * 24 * 3600
    for d in (stale_backup, stale_staging, committer):
        os.utime(d, (old, old))

    planned = vacuum(spark, root, retention_hours=168, dry_run=True)
    assert sorted(planned) == sorted([stale_backup, stale_staging, committer])
    assert all(os.path.exists(p) for p in planned), "dry_run must not delete"

    removed = vacuum(spark, root, retention_hours=168)
    assert sorted(removed) == sorted(planned)
    assert not any(os.path.exists(p) for p in removed)
    assert os.path.exists(fresh_staging), "fresh staging must survive retention"
    assert spark.read.parquet(table).count() == 10, "table data untouched"


def test_enriched_view_incremental_and_crash_invisible(spark, sf_dir, tmp_path):
    """Incrementally-maintained join view: refresh(a) then refresh(b)
    must equal the one-shot enrich over a+b; a part directory no commit
    references (a writer that crashed between part write and commit)
    must be invisible to readers and reaped by vacuum; a no-op refresh
    reads nothing new."""
    import os

    from es_analytics_spark.sources.lake import read_table

    src = str(tmp_path / "fact")
    view = str(tmp_path / "view")
    ev = read_table(spark, sf_dir, "events")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(f"{src}/a")
    dim = read_table(spark, sf_dir, "events").select("user_id").distinct().withColumn(
        "segment", (F.col("user_id") % 3).cast("int")
    )

    def enrich(df):
        return df.join(F.broadcast(dim), "user_id").select(
            "event_id", "user_id", "segment", "value"
        )

    glob_pat = f"{src}/*/*.parquet"
    r1 = refresh_enriched_view(spark, glob_pat, view, enrich)
    assert r1["new_files"] == 1 and r1["version"] == 1

    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(f"{src}/b")
    r2 = refresh_enriched_view(spark, glob_pat, view, enrich)
    assert r2["new_files"] == 1 and r2["version"] == 2

    got = txlog.read_table(spark, view)
    want = enrich(spark.read.parquet(glob_pat))
    assert got.count() == ev.count()
    assert got.exceptAll(want).union(want.exceptAll(got)).count() == 0

    # crash debris: a part dir that never made it into a commit
    orphan = os.path.join(view, "parts", "deadbeef-orphan")
    spark.range(5).withColumn("junk", F.lit("x")).write.parquet(orphan)
    assert txlog.read_table(spark, view).count() == ev.count(), (
        "uncommitted part leaked into the read"
    )
    reaped = txlog.vacuum(spark, view, retention_seconds=0)
    assert reaped == [orphan] and not os.path.exists(orphan)

    r3 = refresh_enriched_view(spark, glob_pat, view, enrich)
    assert r3["new_files"] == 0, "no-op refresh must read nothing"


def test_enriched_view_time_travel(spark, sf_dir, tmp_path):
    """Snapshot reads: version=N returns the view exactly as refresh N
    committed it; history lists committed versions only; vacuum after
    later refreshes never reaps under an old snapshot (refreshes only
    add parts, so every snapshot's parts stay live)."""
    import pytest as _pytest

    from es_analytics_spark.sources.lake import read_table

    src = str(tmp_path / "fact")
    view = str(tmp_path / "view")
    ev = read_table(spark, sf_dir, "events")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(f"{src}/a")

    def enrich(df):
        return df.select("event_id", "user_id", "value")

    glob_pat = f"{src}/*/*.parquet"
    r1 = refresh_enriched_view(spark, glob_pat, view, enrich)
    assert r1["version"] == 1
    v1_count = txlog.read_table(spark, view).count()

    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(f"{src}/b")
    r2 = refresh_enriched_view(spark, glob_pat, view, enrich)
    assert r2["version"] == 2

    # snapshot read returns the old state; current read the new one
    assert txlog.read_table(spark, view, version=1).count() == v1_count
    assert txlog.read_table(spark, view).count() == ev.count()
    assert txlog.read_table(spark, view, version=2).count() == ev.count()

    hist = txlog.history(spark, view)
    assert [h["version"] for h in hist] == [1, 2]
    assert [h["n_adds"] for h in hist] == [1, 1]

    # nothing is unreferenced or removed, so vacuum keeps every part,
    # even under a version retention window
    assert txlog.vacuum(spark, view, keep_versions=1, retention_seconds=0) == []
    assert txlog.read_table(spark, view, version=1).count() == v1_count

    with _pytest.raises(FileNotFoundError, match="no commit v9"):
        txlog.read_table(spark, view, version=9)


def test_streaming_lake_feeds_enriched_view(spark, sf_dir, tmp_path):
    """Streaming twin for the enriched view: a checkpointed
    availableNow stream drains new files into the lake, the view
    refresh enriches exactly the newly flushed lake files, and the
    committed view always equals the one-shot enrich over everything
    the lake holds."""

    src = tmp_path / "incoming"
    src.mkdir()
    lake = str(tmp_path / "lake")
    glob = f"{lake}/events/*/*/*.parquet"
    view = str(tmp_path / "view")
    events = read_table(spark, sf_dir, "events")
    schema = events.schema
    dim = events.select("user_id").distinct().withColumn(
        "segment", (F.col("user_id") % 5).cast("int")
    )

    def enrich(df):
        return df.join(F.broadcast(dim), "user_id").select(
            "event_id", "user_id", "segment", "value"
        )

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )
        q = stream_to_lake(
            stream,
            table="events",
            lake_dir=lake,
            checkpoint_dir=str(tmp_path / "ckpt"),
            available_now=True,
        )
        q.awaitTermination()

    events.filter(F.col("event_id") % 2 == 0).write.parquet(str(src / "f1"))
    drain()
    r1 = refresh_enriched_view(spark, glob, view, enrich)
    assert r1["new_files"] >= 1

    events.filter(F.col("event_id") % 2 == 1).write.parquet(str(src / "f2"))
    drain()
    r2 = refresh_enriched_view(spark, glob, view, enrich)
    assert r2["new_files"] >= 1 and r2["total_files"] == r1["total_files"] + r2["new_files"]

    got = txlog.read_table(spark, view)
    want = enrich(spark.read.parquet(glob))
    assert got.count() == events.count()
    assert got.exceptAll(want).union(want.exceptAll(got)).count() == 0


class _CrashFS:
    """lake_fs wrapper that raises after the k-th MUTATING filesystem
    operation (put_bytes/put_if_absent/rename/delete/mkdirs; a txlog
    commit is one put_if_absent) — the fault-injection seam for the
    crash-consistency sweeps below. Reads pass through untouched."""

    MUTATORS = (
        "put_bytes", "put_if_absent", "rename", "replace_file", "delete", "mkdirs",
    )

    def __init__(self, inner, crash_after: int):
        self._inner = inner
        self._left = crash_after

    def __getattr__(self, name):
        attr = getattr(self._inner, name)
        if name not in self.MUTATORS:
            return attr

        def wrapped(*a, **kw):
            if self._left <= 0:
                raise RuntimeError("injected crash")
            self._left -= 1
            return attr(*a, **kw)

        return wrapped


def _crash_txlog_under(monkeypatch, spark, root: str, k: int) -> None:
    """Route every txlog filesystem call under ``root`` through a
    _CrashFS that dies after ``k`` mutations."""
    from es_analytics_spark.sources.fsio import lake_fs as real_lake_fs

    crasher = _CrashFS(real_lake_fs(spark, root), k)
    monkeypatch.setattr(txlog, "lake_fs", lambda s, p: (
        crasher if str(p).startswith(root) else real_lake_fs(s, p)
    ))


def _rollup_state(spark, roll):
    return {
        r["grp"]: (r["n"], r["total"])
        for r in read_rollup(spark, roll)
        .withColumn("total", F.round("total", 4).cast("double"))
        .collect()
    }


def test_rollup_refresh_crash_consistency_sweep(spark, tmp_path, monkeypatch):
    """Kill the raw-files → refresh_enriched_view → maintain_rollup
    pipeline after every mutating filesystem step (the refresh commit,
    the maintenance commit) and assert at EACH point: a reader arriving
    after the crash sees exactly the old rollup or exactly the new one,
    never a torn or double-counted state, and one clean re-run
    converges to the full answer with the window applied once.
    Reading after every mutation step is equivalent to a concurrent
    reader under any interleaving, because each fs mutation is atomic
    and txlog readers see only committed versions."""
    from es_analytics_spark.sources.fsio import lake_fs as real_lake_fs

    measures = {"n": ("count", None), "total": ("sum", "amount_dec")}
    raw = str(tmp_path / "facts")

    def enrich(df):
        return df.withColumn("amount_dec", F.col("amount").cast("decimal(38,10)"))

    def run(src, roll, glob_pat):
        refresh_enriched_view(spark, glob_pat, src, enrich)
        return maintain_rollup(spark, src, roll, ["grp"], measures)

    spark.range(0, 600).selectExpr(
        "id % 3 as grp", "cast(id as double) as amount"
    ).coalesce(1).write.parquet(f"{raw}/a")
    spark.range(600, 1200).selectExpr(
        "id % 3 as grp", "cast(id as double) as amount"
    ).coalesce(1).write.parquet(f"{raw}/b")
    want = {
        r["grp"]: (r["n"], r["total"])
        for r in spark.read.parquet(f"{raw}/*/*.parquet")
        .groupBy("grp")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("amount").cast("decimal(38,10)")), 4)
            .cast("double")
            .alias("total"),
        )
        .collect()
    }

    k = 0
    state_a = None
    while True:
        root = str(tmp_path / f"k{k}")
        src, roll = f"{root}/src", f"{root}/roll"
        run(src, roll, f"{raw}/a/*.parquet")  # v1 of both: batch a only
        state_a = _rollup_state(spark, roll)
        _crash_txlog_under(monkeypatch, spark, root, k)
        crashed = False
        try:
            run(src, roll, f"{raw}/*/*.parquet")
        except RuntimeError as e:
            assert "injected crash" in str(e)
            crashed = True
        monkeypatch.setattr(txlog, "lake_fs", real_lake_fs)

        # invariant 1: a post-crash reader sees old-or-new, never torn
        observed = _rollup_state(spark, roll)
        assert observed in (state_a, want), f"torn state at k={k}: {observed}"
        # invariant 2: a clean re-run converges with no double count
        final = run(src, roll, f"{raw}/*/*.parquet")
        assert _rollup_state(spark, roll) == want, f"k={k} diverged after re-run"
        assert final["applied"] in (0, 1)
        assert run(src, roll, f"{raw}/*/*.parquet")["applied"] == 0
        if not crashed:
            break  # k exceeded the pipeline's total mutation count
        k += 1
    assert state_a != want
    assert k >= 2, "sweep never reached the maintenance commit"


def test_enriched_view_refresh_crash_consistency_sweep(spark, tmp_path, monkeypatch):
    """Same kill-sweep for refresh_enriched_view: after a crash at any
    mutating step, readers see exactly a committed version (old or new,
    never partial), every version history lists is readable, a version
    past the latest is refused, and a clean re-refresh converges with
    each source file incorporated once."""
    import pytest as _pytest

    from es_analytics_spark.sources.fsio import lake_fs as real_lake_fs

    src = str(tmp_path / "fact")
    spark.range(0, 400).selectExpr(
        "id as event_id", "id % 7 as user_id", "cast(id as double) as value"
    ).coalesce(1).write.parquet(f"{src}/a")
    spark.range(400, 700).selectExpr(
        "id as event_id", "id % 7 as user_id", "cast(id as double) as value"
    ).coalesce(1).write.parquet(f"{src}/b")

    def enrich(df):
        return df.select("event_id", "user_id", "value")

    glob_pat = f"{src}/*/*.parquet"
    k = 0
    while True:
        root = str(tmp_path / f"view_k{k}")
        view = f"{root}/view"
        refresh_enriched_view(spark, f"{src}/a/*.parquet", view, enrich)
        _crash_txlog_under(monkeypatch, spark, root, k)
        crashed = False
        try:
            refresh_enriched_view(spark, glob_pat, view, enrich)
        except RuntimeError as e:
            assert "injected crash" in str(e)
            crashed = True
        monkeypatch.setattr(txlog, "lake_fs", real_lake_fs)

        observed = txlog.read_table(spark, view).count()
        assert observed in (400, 700), f"partial read at k={k}: {observed}"
        hist = txlog.history(spark, view)
        for h in hist:
            txlog.read_table(spark, view, version=h["version"]).count()
        with _pytest.raises(FileNotFoundError):
            txlog.read_table(spark, view, version=hist[-1]["version"] + 1)

        r_heal = refresh_enriched_view(spark, glob_pat, view, enrich)
        assert r_heal["new_files"] == (1 if crashed else 0)
        assert txlog.read_table(spark, view).count() == 700, f"k={k} diverged"
        assert txlog.table_sources(spark, view) == set(
            real_lake_fs(spark, glob_pat).glob(glob_pat)
        )
        txlog.vacuum(spark, view, retention_seconds=0)  # reaps the orphan part
        assert txlog.read_table(spark, view).count() == 700
        if not crashed:
            break
        k += 1
    assert k >= 1, "sweep never reached the commit"


def test_view_change_feed_between_versions(spark, tmp_path):
    """table_changes on a refreshed view returns exactly the rows each
    refresh added, the full history from version 0, an empty frame for
    a no-op range, and rejects uncommitted versions."""
    import pytest as _pytest


    src = str(tmp_path / "fact")
    view = str(tmp_path / "view")
    spark.range(0, 100).selectExpr("id as event_id").coalesce(1).write.parquet(f"{src}/a")
    refresh_enriched_view(spark, f"{src}/*/*.parquet", view, lambda df: df)
    spark.range(100, 150).selectExpr("id as event_id").coalesce(1).write.parquet(f"{src}/b")
    refresh_enriched_view(spark, f"{src}/*/*.parquet", view, lambda df: df)

    delta = txlog.table_changes(spark, view, 1, 2)
    ids = sorted(r.event_id for r in delta.collect())
    assert ids == list(range(100, 150))
    assert txlog.table_changes(spark, view, 0, 2).count() == 150
    assert txlog.table_changes(spark, view, 0, 1).count() == 100
    assert txlog.table_changes(spark, view, 2, 2).count() == 0
    with _pytest.raises(FileNotFoundError):
        txlog.table_changes(spark, view, 1, 9)


def test_erase_keys_prunes_files_and_verifies(spark, sf_dir, tmp_path):
    """GDPR erasure: only files containing matching rows are rewritten
    (file-level pruning), survivors are byte-identical, the receipt is
    verified, and a second call is a no-op."""
    import os

    from es_analytics_spark.maintenance import erase_keys

    path = str(tmp_path / "users_tbl")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # range-cluster on the key so the erasure set concentrates in few files
    ev.repartitionByRange(4, "user_id").write.parquet(path)

    victims = [r["user_id"] for r in ev.select("user_id").distinct().orderBy("user_id").limit(3).collect()]
    before = ev.filter(~F.col("user_id").isin(victims)).orderBy("event_id").collect()
    files_before = {
        f: os.path.getmtime(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    }

    receipt = erase_keys(spark, path, "user_id", victims)
    assert receipt["verified"] is True
    assert receipt["rows_erased"] > 0
    assert 1 <= receipt["files_rewritten"] + receipt["files_deleted"] < len(files_before), (
        "erasure should touch some but not all files on a range-clustered table",
        receipt,
    )

    after = spark.read.parquet(path).orderBy("event_id").collect()
    assert after == before  # survivors bit-identical, victims gone

    untouched = set(files_before) - {
        f for f in files_before if not os.path.exists(os.path.join(path, f))
    }
    same_mtime = [
        f
        for f in untouched
        if os.path.getmtime(os.path.join(path, f)) == files_before[f]
    ]
    assert len(same_mtime) >= len(files_before) - receipt["files_rewritten"] - receipt["files_deleted"], (
        "untouched files must not be rewritten"
    )

    again = erase_keys(spark, path, "user_id", victims)
    assert again == {
        "rows_erased": 0,
        "files_rewritten": 0,
        "files_deleted": 0,
        "verified": True,
    }


def test_erase_keys_rejects_partition_column(spark, sf_dir, tmp_path):
    import pytest

    from es_analytics_spark.maintenance import erase_keys

    path = str(tmp_path / "parted_tbl")
    spark.read.parquet(f"{sf_dir}/events.parquet").write.partitionBy(
        "event_type"
    ).parquet(path)
    with pytest.raises(ValueError, match="partition column"):
        erase_keys(spark, path, "event_type", ["purchase"])


def test_erase_keys_crash_consistency_sweep(spark, sf_dir, tmp_path, monkeypatch):
    """Kill the erasure after every possible mutating filesystem step
    (crc drop, file delete, staged write, atomic replace, staging
    cleanup) and assert the per-file replacement contract at EACH
    point: a post-crash reader can always read the table (no torn
    parquet, no stale checksum), sees the original rows minus some
    SUBSET of the victim rows (never a corrupted or duplicated
    survivor), and one clean re-run converges to the fully-erased
    state with a verified receipt."""
    import shutil

    import es_analytics_spark.maintenance as maint
    from es_analytics_spark.maintenance import erase_keys
    from es_analytics_spark.sources.fsio import lake_fs as real_lake_fs

    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    template = str(tmp_path / "erase_template")
    src.repartitionByRange(4, "user_id").write.parquet(template)
    victims = [
        r["user_id"]
        for r in src.select("user_id").distinct().orderBy("user_id").limit(3).collect()
    ]
    all_rows = {tuple(r) for r in src.collect()}
    victim_rows = {t for t in all_rows if t[2] in victims}  # user_id is col 3
    assert victim_rows, "fixture must contain victim rows"
    want = all_rows - victim_rows

    k = 1
    while k < 60:
        path = str(tmp_path / f"t{k}")
        shutil.copytree(template, path)
        crasher = _CrashFS(real_lake_fs(spark, path), k)
        monkeypatch.setattr(
            maint,
            "lake_fs",
            lambda s, p, _c=crasher: _c
            if str(p).startswith(str(tmp_path))
            else real_lake_fs(s, p),
        )
        crashed = False
        try:
            erase_keys(spark, path, "user_id", victims)
        except RuntimeError as e:
            assert "injected crash" in str(e)
            crashed = True
        monkeypatch.setattr(maint, "lake_fs", real_lake_fs)

        # invariant 1: readable, and exactly original-minus-a-subset-of-victims
        observed = {tuple(r) for r in spark.read.parquet(path).collect()}
        assert want <= observed <= all_rows, f"torn rows at k={k}"

        # invariant 2: clean re-run converges with a verified receipt
        receipt = erase_keys(spark, path, "user_id", victims)
        assert receipt["verified"] is True
        final = {tuple(r) for r in spark.read.parquet(path).collect()}
        assert final == want, f"k={k} diverged after heal"
        shutil.rmtree(path)
        if not crashed:
            break
        k += 1
    assert not crashed, "sweep never reached a crash-free run"


def test_table_diff_signs_off_maintenance_ops(spark, sf_dir, tmp_path):
    """table_diff is the maintenance sign-off: compaction must diff
    IDENTICAL (same rows, different files), an upsert must diff exactly
    its changed+inserted keys, and an erasure must diff exactly the
    victim keys as removed."""
    from es_analytics_spark.maintenance import (
        compact,
        erase_keys,
        table_diff,
        upsert,
    )

    base = str(tmp_path / "base")
    spark.read.parquet(f"{sf_dir}/events.parquet").repartition(6).write.parquet(base)

    # snapshot, then compact the working copy: rows identical, files differ
    import shutil

    snap = str(tmp_path / "snap")
    shutil.copytree(base, snap)
    compact(spark, base, target_file_bytes=1 << 22)
    d = table_diff(spark, snap, base, keys=["event_id"])
    assert d["identical"] is True and d["changed"] == 0

    # upsert: 1 changed + 1 added
    ev = spark.read.parquet(base)
    one = ev.orderBy("event_id").limit(1).collect()[0]
    updates = spark.createDataFrame(
        [
            (one["event_id"], one["ts"], one["user_id"], "mutated", 1.5, one["props"]),
            (10_000_000, one["ts"], one["user_id"], "new", 2.5, one["props"]),
        ],
        ev.schema,
    )
    upsert(spark, base, updates, keys=["event_id"])
    d2 = table_diff(spark, snap, base, keys=["event_id"])
    assert (d2["added"], d2["removed"], d2["changed"]) == (1, 0, 1)

    # erasure: exactly the victims' rows removed (plus the still-changed
    # row). Victims come from the immutable snapshot — `ev`'s lineage
    # points at the pre-upsert file generation the swap deleted.
    victims = [
        r["user_id"]
        for r in spark.read.parquet(snap)
        .select("user_id")
        .distinct()
        .orderBy("user_id")
        .limit(2)
        .collect()
    ]
    # removed == snapshot rows owned by victims (erasure may also take
    # the upserted/mutated rows, but those key tuples count as removed
    # only if they existed in the snapshot)
    n_snap_victim_rows = spark.read.parquet(snap).filter(
        F.col("user_id").isin(victims)
    ).count()
    erase_keys(spark, base, "user_id", victims)
    d3 = table_diff(spark, snap, base, keys=["event_id"])
    assert d3["removed"] == n_snap_victim_rows
    assert d3["added"] <= 1  # the upserted key may survive erasure

    # schema guard
    import pytest

    with pytest.raises(ValueError, match="column sets differ"):
        table_diff(spark, base, f"{sf_dir}/orders.parquet", keys=["event_id"])


def test_enriched_view_zone_map_pruning(spark, tmp_path):
    """Commit-log zone maps on a refreshed view: each refresh records
    per-part [min,max] stats; a range_filter read skips disjoint parts
    WITHOUT opening them (asserted via inputFiles), matches the
    full-scan filter exactly, conservatively reads stat-less parts,
    and returns a schema-stable empty frame when every part is
    skipped."""

    src = str(tmp_path / "facts")
    view = str(tmp_path / "view")
    bands = [(0, 100), (1000, 1100), (2000, 2100)]
    for lo, hi in bands:
        spark.range(lo, hi).selectExpr(
            "id", "cast(id * 2 as double) as amount"
        ).coalesce(1).write.mode("append").parquet(src)
        refresh_enriched_view(
            spark,
            f"{src}/*.parquet",
            view,
            lambda df: df.withColumn("doubled", df.amount * 2),
            stats_cols=["id"],
        )

    full = txlog.read_table(spark, view)
    assert full.count() == 300
    all_files = set(full.inputFiles())

    pruned = txlog.read_table(spark, view, range_filter={"id": (1000, 1099)})
    assert set(pruned.inputFiles()) < all_files, "pruned read must skip parts"
    got = sorted(r.id for r in pruned.collect())
    assert got == list(range(1000, 1100))

    # range straddling two bands reads exactly those two parts' files
    two = txlog.read_table(spark, view, range_filter={"id": (50, 1050)})
    assert two.count() == 50 + 51
    assert len(set(two.inputFiles())) < len(all_files)

    # empty intersection: zero rows, no failure, schema preserved
    none = txlog.read_table(spark, view, range_filter={"id": (5000, 6000)})
    assert none.count() == 0 and set(none.columns) == set(full.columns)

    # multi-column filter (AND of ranges): amount is monotone in id,
    # so a second range tightens the part set the same way
    multi = txlog.read_table(
        spark, view, range_filter={"id": (0, 1050), "amount": (1000.0 * 2, 1e9)}
    )
    assert sorted(r.id for r in multi.collect()) == list(range(1000, 1051))

    # stat-less parts are conservatively read: a refresh WITHOUT
    # stats_cols adds a part that every pruned read must include
    spark.range(9000, 9010).selectExpr(
        "id", "cast(id * 2 as double) as amount"
    ).coalesce(1).write.mode("append").parquet(src)
    refresh_enriched_view(
        spark, f"{src}/*.parquet", view,
        lambda df: df.withColumn("doubled", df.amount * 2),
    )
    after = txlog.read_table(spark, view, range_filter={"id": (1000, 1099)})
    assert sorted(r.id for r in after.collect()) == list(range(1000, 1100))
    assert len(set(after.inputFiles())) == len(set(pruned.inputFiles())) + 1


def test_scd2_merge_maintains_dimension_history(spark, tmp_path):
    """Type-2 SCD merge: changed attributes close the current version
    and open a new one, identical attributes are no-ops, new keys open
    their first version, duplicate updates collapse latest-wins, and
    the as-of predicate reconstructs any past state."""
    import datetime as dtt

    from es_analytics_spark.maintenance import scd2_merge

    path = str(tmp_path / "dim_customer")
    t0 = dtt.datetime(2026, 1, 1)
    t1 = dtt.datetime(2026, 2, 1)
    t2 = dtt.datetime(2026, 3, 1)

    load = spark.createDataFrame(
        [(1, "alice", "gold", t0), (2, "bob", "silver", t0), (3, "carol", "bronze", t0)],
        ["cust_id", "name", "tier", "updated_at"],
    )
    r0 = scd2_merge(spark, path, load, ["cust_id"], "updated_at")
    assert (r0["opened"], r0["closed"], r0["rows"]) == (3, 0, 3)

    # 1 changed (alice->platinum), 1 identical (bob), 1 new key (dave),
    # plus a duplicate older alice row that latest-wins must discard
    upd = spark.createDataFrame(
        [
            (1, "alice", "platinum", t1),
            (1, "alice", "ignored-older", dtt.datetime(2026, 1, 15)),
            (2, "bob", "silver", t1),
            (4, "dave", "gold", t1),
        ],
        ["cust_id", "name", "tier", "updated_at"],
    )
    r1 = scd2_merge(spark, path, upd, ["cust_id"], "updated_at")
    assert (r1["opened"], r1["closed"], r1["unchanged"]) == (2, 1, 1)
    assert r1["rows"] == 5  # 3 originals (1 closed) + new alice + dave

    full = spark.read.parquet(path)
    alice = {
        (r["tier"], r["__is_current"], r["__valid_to"]) for r in
        full.filter(F.col("cust_id") == 1).collect()
    }
    assert alice == {("gold", False, t1), ("platinum", True, None)}
    assert full.filter(F.col("__is_current")).count() == 4

    # a third change chains validity: platinum closed at t2
    r2 = scd2_merge(
        spark,
        path,
        spark.createDataFrame(
            [(1, "alice", "diamond", t2)], ["cust_id", "name", "tier", "updated_at"]
        ),
        ["cust_id"],
        "updated_at",
    )
    assert (r2["opened"], r2["closed"]) == (1, 1)

    # as-of reconstruction at each epoch
    def as_of(t):
        return {
            r["cust_id"]: r["tier"]
            for r in spark.read.parquet(path)
            .filter(
                (F.col("__valid_from") <= t)
                & (F.col("__valid_to").isNull() | (F.col("__valid_to") > t))
            )
            .collect()
        }

    assert as_of(dtt.datetime(2026, 1, 20)) == {1: "gold", 2: "silver", 3: "bronze"}
    assert as_of(dtt.datetime(2026, 2, 15)) == {
        1: "platinum", 2: "silver", 3: "bronze", 4: "gold"
    }
    assert as_of(dtt.datetime(2026, 3, 15)) == {
        1: "diamond", 2: "silver", 3: "bronze", 4: "gold"
    }


def _erase_subject(spark, view, key_col, values):
    """The erasure sequence on a txlog view: a rewrite delete (no
    deletion vector, so no live part keeps the subject's bytes), one
    further commit recording the erasure, then vacuum(keep_versions=1),
    which expires every version that still held the subject. A vacuum
    straight after the delete would reap nothing: the delete's removes
    are themselves a reference inside the window."""

    res = txlog.delete_where(spark, view, F.col(key_col).isin(values))
    txlog.set_table_properties(
        spark, view, {"erasure.last": f"{key_col} IN {tuple(values)}"}
    )
    return res, txlog.vacuum(spark, view, keep_versions=1, retention_seconds=0)


def test_erase_from_view_is_retroactive_across_snapshots(spark, tmp_path):
    """GDPR erasure on a refreshed txlog view: the current read holds no
    subject rows, the erase commit's row-level change feed holds
    exactly the erased rows, zone-map pruned reads stay correct, a
    re-run deletes nothing, and after the vacuum every pre-erasure
    version raises VersionExpiredError while no parquet file left
    under parts/ (change parts included) holds the subject."""
    import glob as _glob

    import pyarrow.parquet as pq
    import pytest as _pytest


    src = str(tmp_path / "facts")
    view = str(tmp_path / "view")
    for lo, hi in [(0, 100), (1000, 1100)]:
        spark.range(lo, hi).selectExpr(
            "id", "id % 7 as subject", "cast(id as double) as amount"
        ).coalesce(1).write.mode("append").parquet(src)
        refresh_enriched_view(
            spark, f"{src}/*.parquet", view,
            lambda df: df.withColumn("doubled", df.amount * 2),
            stats_cols=["id"],
        )
    before_v = txlog.current_version(spark, view)
    assert before_v == 2
    subject_ids = sorted(
        r.id for r in txlog.read_table(spark, view).filter("subject = 3").collect()
    )
    assert len(subject_ids) == 28  # 14 ids ≡ 3 (mod 7) per band

    res = txlog.delete_where(spark, view, F.col("subject").isin([3]))
    assert res["rows_deleted"] == 28 and res["parts_rewritten"] == 2
    erase_v = res["version"]
    assert txlog.read_table(spark, view).filter(F.col("subject") == 3).count() == 0
    feed = txlog.table_changes_cdf(spark, view, erase_v - 1, erase_v).collect()
    assert {r._change_type for r in feed} == {"delete"}
    assert sorted(r.id for r in feed) == subject_ids
    # the delete's removes still back time travel: nothing to reap yet
    assert txlog.vacuum(spark, view, keep_versions=1, retention_seconds=0) == []
    txlog.set_table_properties(spark, view, {"erasure.last": "subject IN (3)"})
    assert txlog.vacuum(spark, view, keep_versions=1, retention_seconds=0)

    # zone-map pruned read still correct on the rewrite's envelope stats
    pruned = txlog.read_table(spark, view, range_filter={"id": (1000, 1099)})
    assert pruned.count() == 100 - 14  # band minus its erased subjects
    assert pruned.filter(F.col("subject") == 3).count() == 0

    for v in range(1, before_v + 1):
        with _pytest.raises(txlog.VersionExpiredError):
            txlog.read_table(spark, view, version=v)
    for f in _glob.glob(f"{view}/parts/*/*.parquet"):
        col = pq.read_table(f, columns=["subject"]).column("subject").to_pylist()
        assert 3 not in col, f"{f} still holds the erased subject"

    # idempotent re-run
    again, _ = _erase_subject(spark, view, "subject", [3])
    assert again["rows_deleted"] == 0


def test_scd2_merge_crash_consistency_sweep(spark, tmp_path, monkeypatch):
    """Kill scd2_merge after every mutating filesystem step and assert
    the single-writer no-loss contract at EACH point: a post-crash
    reader sees the pre-merge table, the post-merge table, or — inside
    the documented two-rename window — a missing table whose backup
    still holds the complete pre-merge state (manual restore, then a
    clean re-run converges). No crash point loses or duplicates
    history."""
    import datetime as dtt
    import shutil

    import es_analytics_spark.maintenance as maint
    from es_analytics_spark.maintenance import scd2_merge
    from es_analytics_spark.sources.fsio import lake_fs as real_lake_fs

    t0, t1 = dtt.datetime(2026, 1, 1), dtt.datetime(2026, 2, 1)
    template = str(tmp_path / "dim_template")
    scd2_merge(
        spark,
        template,
        spark.createDataFrame(
            [(1, "gold", t0), (2, "silver", t0)], ["k", "tier", "updated_at"]
        ),
        ["k"],
        "updated_at",
    )
    pre_state = {tuple(r) for r in spark.read.parquet(template).collect()}
    upd = spark.createDataFrame([(1, "platinum", t1), (3, "bronze", t1)],
                                ["k", "tier", "updated_at"])

    def read_state(path):
        spark.catalog.refreshByPath(path)
        return {tuple(r) for r in spark.read.parquet(path).collect()}

    k = 1
    while k < 40:
        path = str(tmp_path / f"d{k}")
        shutil.copytree(template, path)
        crasher = _CrashFS(real_lake_fs(spark, path), k)
        monkeypatch.setattr(
            maint,
            "lake_fs",
            lambda s, p, _c=crasher: _c
            if str(p).startswith(str(tmp_path))
            else real_lake_fs(s, p),
        )
        crashed = False
        try:
            scd2_merge(spark, path, upd, ["k"], "updated_at")
        except RuntimeError as e:
            assert "injected crash" in str(e)
            crashed = True
        monkeypatch.setattr(maint, "lake_fs", real_lake_fs)

        fs = real_lake_fs(spark, path)
        backup = path + ".__old__"
        if not fs.exists(path):
            # the documented two-rename window: backup must hold the
            # complete pre-merge state — restore and continue
            assert fs.exists(backup), f"k={k}: table AND backup missing"
            fs.rename(backup, path)
            assert read_state(path) == pre_state, f"k={k}: backup torn"
        else:
            observed = read_state(path)
            n_cur = sum(1 for r in observed if r[-1])
            assert n_cur in (2, 3), f"k={k}: current-row set torn: {observed}"

        final = scd2_merge(spark, path, upd, ["k"], "updated_at")
        got = read_state(path)
        tiers = {
            (r[0], r[-1]): r[1] for r in got
        }  # (key, is_current) -> tier
        assert tiers[(1, True)] == "platinum" and tiers[(1, False)] == "gold"
        assert tiers[(2, True)] == "silver" and tiers[(3, True)] == "bronze"
        assert len(got) == 4, f"k={k}: lost or duplicated history: {got}"
        assert final["unchanged"] >= 0
        shutil.rmtree(path)
        if not crashed:
            break
        k += 1
    assert not crashed, "sweep never reached a crash-free run"


def test_swap_ops_crash_consistency_sweep(spark, tmp_path, monkeypatch):
    """Every remaining _swap-based rewrite (upsert, compact) under the
    kill-after-every-mutation sweep: each crash point leaves the old
    table, the new table, or the documented missing-table window with
    a complete backup — never loss or duplication — and a
    restore+re-run converges to the correct final state."""
    import shutil

    import es_analytics_spark.maintenance as maint
    from es_analytics_spark.maintenance import compact, upsert
    from es_analytics_spark.sources.fsio import lake_fs as real_lake_fs

    template = str(tmp_path / "t_template")
    spark.range(0, 500).selectExpr("id", "cast(id as double) as v").repartition(
        4
    ).write.parquet(template)
    pre = {tuple(r) for r in spark.read.parquet(template).collect()}
    upd = spark.createDataFrame([(1, 999.0), (500, 1.0)], ["id", "v"])
    want_after_upsert = (pre - {(1, 1.0)}) | {(1, 999.0), (500, 1.0)}

    def sweep(op, want, max_k=40):
        k, crashed = 1, True
        while k < max_k:
            path = str(tmp_path / f"{op.__name__}{k}")
            shutil.copytree(template, path)
            crasher = _CrashFS(real_lake_fs(spark, path), k)
            monkeypatch.setattr(
                maint,
                "lake_fs",
                lambda s, p, _c=crasher: _c
                if str(p).startswith(str(tmp_path))
                else real_lake_fs(s, p),
            )
            crashed = False
            try:
                op(path)
            except RuntimeError as e:
                assert "injected crash" in str(e)
                crashed = True
            monkeypatch.setattr(maint, "lake_fs", real_lake_fs)

            fs = real_lake_fs(spark, path)
            if not fs.exists(path):
                backup = path + ".__old__"
                assert fs.exists(backup), f"{op.__name__} k={k}: no backup"
                fs.rename(backup, path)
                spark.catalog.refreshByPath(path)
                got = {tuple(r) for r in spark.read.parquet(path).collect()}
                assert got == pre, f"{op.__name__} k={k}: backup torn"
            op(path)  # heal / converge
            spark.catalog.refreshByPath(path)
            final = {tuple(r) for r in spark.read.parquet(path).collect()}
            assert final == want, f"{op.__name__} k={k}: diverged"
            shutil.rmtree(path)
            if not crashed:
                return
            k += 1
        raise AssertionError(f"{op.__name__}: sweep never finished clean")

    def do_upsert(path):
        upsert(spark, path, upd, keys=["id"])

    def do_compact(path):
        compact(spark, path, target_file_bytes=1 << 22)

    sweep(do_upsert, want_after_upsert)
    sweep(do_compact, pre)


def test_erase_keys_preserves_null_key_rows(spark, tmp_path):
    """ADVICE r4 (high): ``~col.isin(values)`` is NULL for NULL-key
    rows, so a bare ``.filter(~pred)`` silently dropped every NULL-key
    row from each rewritten file — data loss beyond the erasure
    request that the survivor check can't see (NULL never matches).
    NULL identifies no subject, so erasure must keep those rows."""
    from es_analytics_spark.maintenance import erase_keys

    path = str(tmp_path / "tbl")
    df = spark.range(0, 1000).selectExpr(
        "id",
        # every third row has a NULL subject key, interleaved so every
        # file the erasure touches also contains NULL-key rows
        "CASE WHEN id % 3 = 0 THEN NULL ELSE id % 10 END AS subject",
        "cast(id as double) AS amount",
    )
    df.repartition(4).write.parquet(path)
    n_null = df.filter("subject IS NULL").count()
    assert n_null > 0

    receipt = erase_keys(spark, path, "subject", [1, 4])
    assert receipt["verified"] is True
    assert receipt["files_rewritten"] > 0

    after = spark.read.parquet(path)
    assert after.filter("subject IS NULL").count() == n_null, (
        "NULL-key rows must survive erasure of other subjects"
    )
    assert after.filter(F.col("subject").isin([1, 4])).count() == 0
    assert after.count() == 1000 - receipt["rows_erased"]


def test_erase_from_view_preserves_null_key_rows(spark, tmp_path):
    """ADVICE r4 (medium): erasure must not drop NULL-key rows; the txlog
    delete's predicate ``subject IN (3)`` is NULL, not true, on them, so
    they survive."""

    src = str(tmp_path / "facts")
    view = str(tmp_path / "view")
    spark.range(0, 300).selectExpr(
        "id",
        "CASE WHEN id % 5 = 0 THEN NULL ELSE id % 7 END AS subject",
        "cast(id as double) AS amount",
    ).coalesce(1).write.parquet(src)
    refresh_enriched_view(
        spark, f"{src}/*.parquet", view,
        lambda df: df.withColumn("doubled", df.amount * 2),
        stats_cols=["id"],
    )
    n_null = txlog.read_table(spark, view).filter("subject IS NULL").count()
    assert n_null == 60

    res, _ = _erase_subject(spark, view, "subject", [3])
    assert res["parts_rewritten"] == 1 and res["rows_deleted"] > 0

    after = txlog.read_table(spark, view)
    assert after.filter("subject IS NULL").count() == n_null
    assert after.filter(F.col("subject") == 3).count() == 0
    assert after.count() == 300 - res["rows_deleted"]


def test_delete_where_ttl_and_null_semantics(spark, tmp_path):
    """Retention delete (round 5): delete_where prunes whole expired
    files on a time-clustered table (O(expired files) metadata work,
    no rewrite), keeps FALSE- and NULL-predicate rows (SQL DELETE
    three-valued semantics), verifies, and re-runs as a no-op."""
    import os

    from es_analytics_spark.maintenance import delete_where

    path = str(tmp_path / "t")
    df = spark.range(0, 10_000).select(
        "id",
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000) + F.col("id") * 86_400_000_000
        ).alias("ts"),
        F.when(F.col("id") % 7 == 0, None).otherwise(F.col("id") % 5).alias("grp"),
    )
    df.repartitionByRange(5, "id").write.parquet(path)
    n_files = len([f for f in os.listdir(path) if f.endswith(".parquet")])

    # TTL: range-clustered on id (∝ ts), so expired rows fill whole files
    r = delete_where(spark, path, "id >= 6000")
    assert r["verified"] is True
    assert r["rows_deleted"] == 4000
    assert r["files_deleted"] >= 1, "clustered TTL must drop whole files"
    assert r["files_deleted"] + r["files_rewritten"] < n_files
    out = spark.read.parquet(path)
    assert out.count() == 6000
    n_null = out.filter("grp IS NULL").count()
    assert n_null > 0

    # NULL semantics: DELETE WHERE grp = 2 keeps NULL-grp rows
    r2 = delete_where(spark, path, F.col("grp") == 2)
    assert r2["verified"] is True
    out2 = spark.read.parquet(path)
    assert out2.filter("grp = 2").count() == 0
    assert out2.filter("grp IS NULL").count() == n_null
    assert out2.count() == 6000 - r2["rows_deleted"]

    # idempotent re-run
    again = delete_where(spark, path, F.col("grp") == 2)
    assert again == {
        "rows_deleted": 0,
        "files_rewritten": 0,
        "files_deleted": 0,
        "verified": True,
    }


def test_delete_where_crash_consistency_sweep(spark, tmp_path, monkeypatch):
    """Kill delete_where after every mutating filesystem step and
    assert the same per-file replacement contract as erase_keys: the
    table stays readable, shows original-minus-a-subset-of-matching
    rows, and one clean re-run converges verified (the shared
    _prune_rewrite core under fault injection through its own seam)."""
    import shutil

    import es_analytics_spark.maintenance as maint
    from es_analytics_spark.maintenance import delete_where
    from es_analytics_spark.sources.fsio import lake_fs as real_lake_fs

    src = spark.range(0, 4000).select(
        "id", (F.col("id") % 11).alias("grp")
    )
    template = str(tmp_path / "template")
    src.repartitionByRange(4, "id").write.parquet(template)
    all_rows = {(r["id"], r["grp"]) for r in src.collect()}
    want = {t for t in all_rows if not (t[1] in (3, 4) or t[0] >= 3500)}
    predicate = "grp IN (3, 4) OR id >= 3500"

    k = 1
    crashed = True
    while k < 60:
        path = str(tmp_path / f"t{k}")
        shutil.copytree(template, path)
        crasher = _CrashFS(real_lake_fs(spark, path), k)
        monkeypatch.setattr(
            maint,
            "lake_fs",
            lambda s, p, _c=crasher: _c
            if str(p).startswith(str(tmp_path))
            else real_lake_fs(s, p),
        )
        crashed = False
        try:
            delete_where(spark, path, predicate)
        except RuntimeError as e:
            assert "injected crash" in str(e)
            crashed = True
        monkeypatch.setattr(maint, "lake_fs", real_lake_fs)

        observed = {(r["id"], r["grp"]) for r in spark.read.parquet(path).collect()}
        assert want <= observed <= all_rows, f"torn rows at k={k}"

        receipt = delete_where(spark, path, predicate)
        assert receipt["verified"] is True
        final = {(r["id"], r["grp"]) for r in spark.read.parquet(path).collect()}
        assert final == want, f"k={k} diverged after heal"
        shutil.rmtree(path)
        if not crashed:
            break
        k += 1
    assert not crashed, "sweep never reached a crash-free run"


def test_expire_snapshots_retention(spark, sf_dir, tmp_path):
    """Retention on a refreshed view's time travel: clean_log past a
    folded checkpoint removes exactly the commits the checkpoint
    covers, history skips them, reading a version before the cut
    raises VersionExpiredError, the current read and every retained
    version stay intact, exactly-once refresh survives (the folded
    seen-source set), and a re-run — or a re-run after a crash that
    removed only some commits — is idempotent."""
    import pytest as _pytest

    from es_analytics_spark.sources.fsio import lake_fs
    from es_analytics_spark.sources.lake import read_table

    src = str(tmp_path / "fact")
    view = str(tmp_path / "view")
    ev = read_table(spark, sf_dir, "events")

    def enrich(df):
        return df.select("event_id", "user_id", "value")

    glob_pat = f"{src}/*/*.parquet"
    counts = {}
    for i in range(5):
        ev.filter(F.col("event_id") % 5 == i).coalesce(1).write.parquet(
            f"{src}/p{i}"
        )
        r = refresh_enriched_view(spark, glob_pat, view, enrich)
        counts[r["version"]] = txlog.read_table(spark, view).count()
        if r["version"] == 3:
            txlog.checkpoint(spark, view)
    assert [h["version"] for h in txlog.history(spark, view)] == [1, 2, 3, 4, 5]

    # a crash mid-reap (v1 gone, v2 not yet) completes on the re-run
    lake_fs(spark, view).delete(txlog._commit_path(view, 1))
    out = txlog.clean_log(spark, view, keep_versions=2)
    assert out["cut"] == 3 and out["removed_commits"] == 2
    assert [h["version"] for h in txlog.history(spark, view)] == [4, 5]
    # retained versions, the checkpointed one and the current read are intact
    for v in (3, 4, 5):
        assert txlog.read_table(spark, view, version=v).count() == counts[v]
    for gone in (1, 2):
        with _pytest.raises(txlog.VersionExpiredError):
            txlog.read_table(spark, view, version=gone)
    # idempotent re-run: nothing left to reap
    assert txlog.clean_log(spark, view, keep_versions=2)["removed_commits"] == 0
    # exactly-once survives the cut: no file is re-incorporated
    assert refresh_enriched_view(spark, glob_pat, view, enrich)["new_files"] == 0
    assert txlog.read_table(spark, view).count() == counts[5]


def test_delete_where_time_pinning_and_nondeterminism(spark, tmp_path):
    """ADVICE r5 medium: a time-dependent SQL predicate (``ts < now()``)
    is pinned to ONE literal cutoff before the hit scan, so the
    verification re-read cannot race the clock and a correct TTL delete
    always returns verified=True. Column predicates embedding time or
    non-deterministic functions raise instead of silently drifting."""
    import pytest

    from es_analytics_spark.maintenance import _pin_time_functions, delete_where

    path = str(tmp_path / "ttl")
    # half the rows 1000 days in the past, half 1000 days in the future
    df = spark.range(0, 2000).select(
        "id",
        F.when(
            F.col("id") < 1000,
            F.current_timestamp() - F.expr("INTERVAL 1000 DAYS"),
        )
        .otherwise(F.current_timestamp() + F.expr("INTERVAL 1000 DAYS"))
        .alias("ts"),
    )
    df.repartitionByRange(4, "id").write.parquet(path)

    r = delete_where(spark, path, "ts < now() - interval 90 days")
    assert r["verified"] is True
    assert r["rows_deleted"] == 1000
    assert spark.read.parquet(path).count() == 1000

    # the rewriter substitutes one literal per time function, parens or not
    pinned = _pin_time_functions(
        spark, "ts < current_timestamp AND d <= current_date()"
    )
    assert "current_timestamp" not in pinned.lower()
    assert "current_date" not in pinned.lower()
    assert "TIMESTAMP '" in pinned and "DATE '" in pinned

    # Column predicates with time functions can't be pinned -> raise
    with pytest.raises(ValueError, match="pinned"):
        delete_where(spark, path, F.col("ts") < F.current_timestamp())
    # genuinely non-deterministic predicates raise in any form
    with pytest.raises(ValueError, match="non-deterministic"):
        delete_where(spark, path, "id < rand() * 100")


def test_pin_time_functions_skips_quoted_regions(spark):
    """ADVICE r6 low: the time-pinning substitution is textual — it must
    not rewrite matches inside string literals or backtick-quoted
    identifiers, and bare ``now`` (no parens) is not a Spark function so
    it must pass through (it can only be a column named now)."""
    from es_analytics_spark.maintenance import _pin_time_functions

    pinned = _pin_time_functions(
        spark, "status = 'now()' AND `current_date` = 'x' AND ts < now()"
    )
    assert "'now()'" in pinned  # string literal untouched
    assert "`current_date`" in pinned  # backticked identifier untouched
    assert "TIMESTAMP '" in pinned and "now()" not in pinned.split("'now()'")[1]
    # bare `now` is a column reference, never pinned
    assert _pin_time_functions(spark, "now < 5") == "now < 5"
    # non-determinism check also ignores quoted regions
    assert _pin_time_functions(spark, "tag = 'rand()'") == "tag = 'rand()'"
    # escaped quotes inside literals don't desync the mask
    pinned2 = _pin_time_functions(spark, "s = 'it''s now()' AND d < current_date")
    assert "it''s now()" in pinned2 and "DATE '" in pinned2


def test_pin_time_functions_renders_in_session_timezone(spark):
    """ADVICE r6 medium: the pinned literal must be rendered JVM-side in
    the session timezone. A driver-side datetime formatted in the OS
    timezone but re-parsed under a differently-pinned
    spark.sql.session.timeZone would shift a retention cutoff by the
    offset. Proof: under a non-UTC session tz, the pinned literal must
    round-trip to within seconds of current_timestamp()."""
    from es_analytics_spark.maintenance import _pin_time_functions

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Australia/Eucla")  # UTC+8:45
        pinned = _pin_time_functions(spark, "ts < now()")
        lit = pinned.split("ts < ")[1]
        drift = spark.sql(
            f"SELECT abs(unix_timestamp({lit}) - unix_timestamp(current_timestamp())) AS d"
        ).first()["d"]
        assert drift < 120, f"pinned literal drifted {drift}s from now()"
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_delete_where_whole_table_expiry(spark, tmp_path):
    """ADVICE r5 low: a predicate matching EVERY row deletes all files
    outright; the receipt must come back verified instead of the
    verification read raising 'unable to infer schema' on the
    now-empty directory."""
    import os

    from es_analytics_spark.maintenance import delete_where

    path = str(tmp_path / "all")
    spark.range(0, 500).select("id").repartition(3).write.parquet(path)

    r = delete_where(spark, path, "id >= 0")
    assert r == {
        "rows_deleted": 500,
        "files_rewritten": 0,
        "files_deleted": 3,
        "verified": True,
    }
    assert not [f for f in os.listdir(path) if f.endswith(".parquet")]


def test_delete_where_mixed_partition_predicate_fails_closed(spark, tmp_path):
    """ADVICE r5 low: a predicate mixing partition and data columns
    (``p = 1 AND id > 5``) must fail BEFORE any file is mutated — the
    per-file rewrite read can't see the partition column, and without
    the up-front check the AnalysisException fires mid-loop after some
    all-match files were already deleted."""
    import pytest

    from es_analytics_spark.maintenance import delete_where

    path = str(tmp_path / "part")
    (
        spark.range(0, 400)
        .select("id", (F.col("id") % 4).alias("p"))
        .write.partitionBy("p")
        .parquet(path)
    )
    before = spark.read.parquet(path).count()

    with pytest.raises(ValueError, match="partition"):
        delete_where(spark, path, "p = 1 AND id > 5")

    spark.catalog.refreshByPath(path)
    assert spark.read.parquet(path).count() == before, "mutated before raising"


def test_analyze_rejects_location_mismatch(spark, tmp_path):
    """ADVICE r5 low: CREATE TABLE IF NOT EXISTS silently no-ops when a
    same-named catalog table already points elsewhere — analyze() must
    detect the mismatch and raise instead of reporting stats computed
    over the wrong data."""
    import pytest

    from es_analytics_spark.maintenance import analyze

    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    spark.range(0, 10).write.parquet(a)
    spark.range(0, 99).write.parquet(b)
    try:
        stats = analyze(spark, {"t_advice_loc_check": a})
        assert stats["t_advice_loc_check"]["rowCount"] == 10
        # same name, same path: idempotent re-register is fine
        analyze(spark, {"t_advice_loc_check": a})
        with pytest.raises(ValueError, match="already exists at"):
            analyze(spark, {"t_advice_loc_check": b})
    finally:
        spark.sql("DROP TABLE IF EXISTS t_advice_loc_check")


def test_hadoopfs_read_bytes_missing_path_is_filenotfound(spark, tmp_path):
    """Round-11 ADVICE fix: HadoopFS.read_bytes raises the PYTHON
    FileNotFoundError for a vanished object (same contract as
    LocalFS.read_bytes and HadoopFS.mtime) — the checkpoint dirty-scan
    fallback and _read_commit_retained's curated VersionExpiredError
    both catch exactly that type, so on URI stores a reaped commit must
    not surface as an opaque Py4JJavaError."""
    import pytest as _pytest

    from es_analytics_spark.sources.fsio import HadoopFS

    fs = HadoopFS(spark, f"file://{tmp_path}")
    with _pytest.raises(FileNotFoundError):
        fs.read_bytes(f"file://{tmp_path}/no/such/object.json")
    # present paths still round-trip
    fs.put_bytes(f"file://{tmp_path}/x.bin", b"abc")
    assert fs.read_bytes(f"file://{tmp_path}/x.bin") == b"abc"


def test_txlog_retention_error_curated_on_uri_store(spark, tmp_path):
    """End-to-end: on a HadoopFS (URI) table, reading history that
    clean_log reaped raises the curated VersionExpiredError — the
    consumer-visible half of the read_bytes normalization."""
    import pytest as _pytest


    path = f"file://{tmp_path}/t"
    for i in range(6):
        txlog.append(spark, path, spark.createDataFrame([(i,)], "k long"))
    txlog.checkpoint(spark, path)
    r = txlog.clean_log(spark, path, keep_versions=0)
    assert r["removed_commits"] > 0
    with _pytest.raises(txlog.VersionExpiredError):
        txlog.table_properties(spark, path, version=2)
