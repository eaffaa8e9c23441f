"""Conditional MERGE for CDC tombstones on ``txlog.merge`` clause
lists — tombstone routing, conditional updates, conditional inserts,
CDF parity (deletes recorded, no phantom inserts), OCC behavior, the
streaming CDC sink's tombstone pass-through and its call-time
``drop_cols`` validation — plus the plain key-replace ``merge_upsert``
that the benchmark and rollup maintenance run."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from es_analytics_spark import txlog
from es_analytics_spark.txlog import (
    CommitConflict,
    append,
    current_version,
    merge,
    merge_upsert,
    read_table,
    table_changes_cdf,
)

#: the CDC tombstone clauses: a flagged matched row deletes, any other
#: matched row is replaced (SET *), a flagged unmatched row is dropped
TOMBSTONES = {
    "matched": [
        {"action": "delete", "condition": "s._deleted"},
        {"action": "update"},
    ],
    "not_matched": [{"action": "insert", "condition": "NOT s._deleted"}],
}


def _base(spark, tmp_path, n=10):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(k, f"v{k}", float(k)) for k in range(n)], "k long, val string, x double"
    )
    append(spark, path, df)
    return path


def _cdc(spark, tmp_path, rows):
    """CDC-shaped updates frame: payload columns + a _deleted flag."""
    return spark.createDataFrame(
        rows, "k long, val string, x double, _deleted boolean"
    )


def test_tombstone_routing_deletes_updates_inserts(spark, tmp_path):
    path = _base(spark, tmp_path)  # keys 0..9
    upd = _cdc(spark, tmp_path, [
        (3, "gone", 0.0, True),     # matched tombstone -> DELETE
        (5, "v5b", 55.0, False),    # matched -> UPDATE
        (99, "gone", 0.0, True),    # unmatched tombstone -> dropped
        (100, "new", 100.0, False), # unmatched -> INSERT
    ])
    r = merge(spark, path, upd, ["k"], **TOMBSTONES)
    assert (r["rows_deleted"], r["rows_updated"], r["rows_inserted"]) == (1, 1, 1)
    got = {row["k"]: (row["val"], row["x"]) for row in read_table(spark, path).collect()}
    assert 3 not in got and 99 not in got
    assert got[5] == ("v5b", 55.0) and got[100] == ("new", 100.0)
    assert len(got) == 10  # 10 - 1 deleted + 1 inserted
    # the flag column never entered the table schema
    assert "_deleted" not in read_table(spark, path).columns
    assert "_deleted" not in [
        f.name for f in txlog.table_schema(spark, path).fields
    ]


def test_tombstone_cdf_parity(spark, tmp_path):
    """CDF over a tombstone merge: delete(old) for tombstoned keys,
    delete(old)+insert(new) for updated keys, insert for new keys, and
    NOTHING for dropped unmatched tombstones."""
    path = _base(spark, tmp_path)
    v0 = current_version(spark, path)
    merge(
        spark, path,
        _cdc(spark, tmp_path, [
            (3, "gone", 0.0, True),
            (5, "v5b", 55.0, False),
            (99, "gone", 0.0, True),
            (100, "new", 100.0, False),
        ]),
        ["k"], **TOMBSTONES,
    )
    feed = {
        (r["k"], r["_change_type"])
        for r in table_changes_cdf(spark, path, v0).collect()
    }
    assert feed == {
        (3, "delete"),
        (5, "delete"), (5, "insert"),
        (100, "insert"),
    }


def test_update_condition_leaves_nonqualifying_rows_untouched(spark, tmp_path):
    """A matched row whose source row fails the update condition keeps
    its target version; the source row is discarded (Delta: a matched
    row matching no clause is untouched)."""
    path = _base(spark, tmp_path)
    upd = spark.createDataFrame(
        [(2, "v2b", -1.0), (4, "v4b", 9.0), (50, "new", -5.0)],
        "k long, val string, x double",
    )
    r = merge(
        spark, path, upd, ["k"],
        matched=[{"action": "update", "condition": "s.x > 0"}],
        not_matched=[{"action": "insert", "condition": "s.x > 0"}],
    )
    assert (r["rows_deleted"], r["rows_updated"], r["rows_inserted"]) == (0, 1, 0)
    got = {row["k"]: row["val"] for row in read_table(spark, path).collect()}
    assert got[2] == "v2" and got[4] == "v4b" and 50 not in got


def test_delete_only_merge_writes_no_new_part(spark, tmp_path):
    path = _base(spark, tmp_path)
    v0 = current_version(spark, path)
    r = merge(
        spark, path,
        _cdc(spark, tmp_path, [(1, "x", 0.0, True), (2, "x", 0.0, True)]),
        ["k"], **TOMBSTONES,
    )
    assert r["rows_deleted"] == 2 and r["rows_inserted"] == 0
    assert current_version(spark, path) == v0 + 1
    assert sorted(x["k"] for x in read_table(spark, path).collect()) == [
        0, 3, 4, 5, 6, 7, 8, 9
    ]
    # CDF: two deletes, zero inserts at this version
    feed = table_changes_cdf(spark, path, v0)
    assert {(r["k"], r["_change_type"]) for r in feed.collect()} == {
        (1, "delete"), (2, "delete"),
    }


def test_all_clauses_noop_commits_nothing(spark, tmp_path):
    """Every source row routed to drop/unchanged: no commit at all."""
    path = _base(spark, tmp_path)
    v0 = current_version(spark, path)
    r = merge(
        spark, path,
        _cdc(spark, tmp_path, [(77, "x", 0.0, True), (88, "x", 0.0, True)]),
        ["k"], **TOMBSTONES,
    )
    assert r == {
        "version": v0, "rows_updated": 0, "rows_inserted": 0,
        "rows_deleted": 0, "parts_rewritten": 0,
    }
    assert current_version(spark, path) == v0


def test_clause_null_condition_is_not_a_match(spark, tmp_path):
    """SQL three-valued semantics: a NULL clause condition fires
    nothing — a NULL _deleted flag must upsert, not delete."""
    path = _base(spark, tmp_path)
    r = merge(
        spark, path,
        _cdc(spark, tmp_path, [(1, "v1b", 1.5, None)]),
        ["k"], matched=TOMBSTONES["matched"], not_matched=[{"action": "insert"}],
    )
    assert (r["rows_deleted"], r["rows_updated"]) == (0, 1)
    got = {row["k"]: row["val"] for row in read_table(spark, path).collect()}
    assert got[1] == "v1b" and len(got) == 10


def test_drop_cols_validation(spark, tmp_path):
    """The sink checks ``drop_cols`` against the stream's columns when
    it is called, before the query starts."""
    from es_analytics_spark.streaming.txlog_sink import stream_merge_to_txlog

    src = tmp_path / "src"
    src.mkdir()
    stream = spark.readStream.schema(
        "k long, val string, x double, _deleted boolean"
    ).parquet(str(src))
    kw = dict(
        path=str(tmp_path / "t"), keys=["k"], order_col="x",
        checkpoint_dir=str(tmp_path / "ckpt"), available_now=True,
    )
    with pytest.raises(ValueError, match="may not contain keys"):
        stream_merge_to_txlog(stream, drop_cols=["k"], **kw)
    with pytest.raises(ValueError, match="not in the updates frame"):
        stream_merge_to_txlog(stream, drop_cols=["nope"], **kw)
    assert not (tmp_path / "ckpt").exists()


def test_clausal_merge_commutes_past_blind_append(spark, tmp_path, monkeypatch):
    """OCC unchanged: a tombstone merge losing the CAS to a blind append
    re-attaches (WriteSerializable), and the concurrently appended rows
    — never in the merge's snapshot — survive untouched."""
    path = _base(spark, tmp_path)
    real = txlog._try_commit
    fired = {"n": 0}

    def inject(fs, p, version, payload):
        if payload.get("operation") == "merge" and fired["n"] == 0:
            fired["n"] = 1
            append(
                spark, path,
                spark.createDataFrame([(500, "rival", 5.0)],
                                      "k long, val string, x double"),
            )
        return real(fs, p, version, payload)

    monkeypatch.setattr(txlog, "_try_commit", inject)
    r = merge(
        spark, path,
        _cdc(spark, tmp_path, [(3, "gone", 0.0, True), (4, "v4b", 44.0, False)]),
        ["k"], matched=TOMBSTONES["matched"], not_matched=[{"action": "insert"}],
    )
    monkeypatch.setattr(txlog, "_try_commit", real)
    assert r["rows_deleted"] == 1 and r["rows_updated"] == 1
    got = {row["k"]: row["val"] for row in read_table(spark, path).collect()}
    assert got[500] == "rival" and 3 not in got and got[4] == "v4b"


def test_clausal_merge_conflicts_with_overlapping_rewrite(spark, tmp_path, monkeypatch):
    """A concurrent remove-carrying commit still conflicts — conditional
    clauses must not weaken the WriteSerializable rule."""
    path = _base(spark, tmp_path)
    real = txlog._try_commit
    fired = {"n": 0}

    def inject(fs, p, version, payload):
        if payload.get("operation") == "merge" and fired["n"] == 0:
            fired["n"] = 1
            txlog.delete_where(spark, path, "k = 9")
        return real(fs, p, version, payload)

    monkeypatch.setattr(txlog, "_try_commit", inject)
    with pytest.raises(CommitConflict):
        merge(
            spark, path,
            _cdc(spark, tmp_path, [(3, "gone", 0.0, True)]),
            ["k"], matched=TOMBSTONES["matched"],
            not_matched=[{"action": "insert"}],
        )


def test_stream_merge_tombstones(spark, tmp_path):
    """stream_merge_to_txlog with tombstone clauses: a CDC stream whose
    deletes arrive as flagged rows converges (upserts applied, live
    tombstoned keys deleted, unseen tombstoned keys dropped), the flag
    never lands in the schema, replay commits nothing, and the change
    feed records the deletes."""
    from es_analytics_spark.streaming.txlog_sink import stream_merge_to_txlog

    src = str(tmp_path / "src")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    schema = "k bigint, val string, seq bigint, _deleted boolean"

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = stream_merge_to_txlog(
            stream, path=table, keys=["k"], order_col="seq",
            checkpoint_dir=ckpt, stream_id="cdc", available_now=True,
            when_matched_delete="_deleted",
            when_not_matched_insert="NOT _deleted",
            drop_cols=["_deleted"],
        )
        q.awaitTermination()

    base = spark.createDataFrame(
        [(k, "v1", 1, False) for k in range(20)], schema
    )
    base.coalesce(1).write.mode("append").parquet(src)
    drain()
    assert read_table(spark, table).count() == 20

    # epoch 2: update k=1, tombstone k=2 (live) and k=999 (never seen);
    # k=3 gets an update AND a later tombstone in the SAME epoch — the
    # per-key window picks the tombstone (seq order), so k=3 deletes
    upd = spark.createDataFrame(
        [(1, "v2", 3, False), (2, "x", 3, True), (999, "x", 3, True),
         (3, "v2", 3, False), (3, "x", 4, True)],
        schema,
    )
    upd.coalesce(1).write.mode("append").parquet(src)
    v_before = current_version(spark, table)
    drain()
    got = {r["k"]: r["val"] for r in read_table(spark, table).collect()}
    assert got[1] == "v2" and 2 not in got and 3 not in got and 999 not in got
    assert len(got) == 18
    assert "_deleted" not in read_table(spark, table).columns
    feed = table_changes_cdf(spark, table, v_before)
    deletes = {r["k"] for r in feed.filter(F.col("_change_type") == "delete").collect()}
    assert {2, 3} <= deletes and 999 not in deletes

    # replayed drain from the same checkpoint: nothing new commits
    v = current_version(spark, table)
    drain()
    assert current_version(spark, table) == v


def test_default_merge_unchanged_reports_zero_deleted(spark, tmp_path):
    """The historical upsert path: same behavior, rows_deleted=0 in the
    result for API uniformity."""
    path = _base(spark, tmp_path)
    r = merge_upsert(
        spark, path,
        spark.createDataFrame([(1, "v1b", 1.0), (50, "new", 50.0)],
                              "k long, val string, x double"),
        keys=["k"],
    )
    assert r["rows_updated"] == 1 and r["rows_inserted"] == 1
    assert r["rows_deleted"] == 0
    assert read_table(spark, path).count() == 11


#: Spark jobs of the plain upsert below, measured before conditional
#: clauses moved from merge_upsert onto txlog.merge. The benchmark's
#: lake ops and rollup maintenance run this path; it may not grow.
PLAIN_UPSERT_JOBS = 18


def test_plain_merge_upsert_job_count(spark, tmp_path):
    """One plain merge_upsert into a 4-part table (two matched keys in
    two parts, one new key) runs at most PLAIN_UPSERT_JOBS Spark jobs,
    counted under its own job group."""
    path = str(tmp_path / "t")
    for i in range(4):
        append(spark, path, spark.range(i * 100, (i + 1) * 100).select(
            F.col("id").alias("k"), F.col("id").cast("double").alias("x")
        ))
    upd = spark.createDataFrame([(5, 50.0), (150, 1.0), (1000, 2.0)], "k long, x double")
    sc = spark.sparkContext
    group = f"plain-upsert-{tmp_path.name}"
    sc.setJobGroup(group, "plain merge_upsert")
    try:
        r = merge_upsert(spark, path, upd, keys=["k"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert (r["rows_updated"], r["rows_inserted"], r["parts_rewritten"]) == (2, 1, 2)
    assert read_table(spark, path).count() == 401
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= PLAIN_UPSERT_JOBS
