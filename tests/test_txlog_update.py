"""Row-level UPDATE (txlog.update_where): part-pruned rewrites with
ANSI assignment semantics, delete(old)+insert(new) CDF parity,
zone-map invalidation on assigned columns only, DV interplay, and the
WriteSerializable conflict rule."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from es_analytics_spark import txlog
from es_analytics_spark.txlog import (
    CommitConflict,
    SchemaMismatchError,
    append,
    current_version,
    delete_where,
    read_table,
    table_changes,
    table_changes_cdf,
    update_where,
)


def _base(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(k, f"v{k}", float(k)) for k in range(10)], "k long, val string, x double"
    )
    append(spark, path, df)
    return path


def test_update_basic_and_cdf(spark, tmp_path):
    path = _base(spark, tmp_path)
    v0 = current_version(spark, path)
    r = update_where(
        spark, path, {"val": "'bumped'", "x": "x * 10"}, "k >= 8"
    )
    assert r["rows_updated"] == 2 and r["parts_rewritten"] == 1
    got = {row["k"]: (row["val"], row["x"]) for row in read_table(spark, path).collect()}
    assert got[8] == ("bumped", 80.0) and got[9] == ("bumped", 90.0)
    assert got[0] == ("v0", 0.0) and len(got) == 10
    # CDF: delete(old) + insert(new) at one version
    feed = table_changes_cdf(spark, path, v0)
    rows = {(x["k"], x["x"], x["_change_type"]) for x in feed.collect()}
    assert rows == {
        (8, 8.0, "delete"), (9, 9.0, "delete"),
        (8, 80.0, "insert"), (9, 90.0, "insert"),
    }
    # insert-only feed ignores the update entirely (rewrite-flagged)
    assert table_changes(spark, path, v0).count() == 0
    # time travel reads the pre-update values
    assert read_table(spark, path, version=v0).filter("k = 9").first()["x"] == 9.0


def test_update_rhs_sees_old_row_swap(spark, tmp_path):
    """SET a = b, b = a must swap (every RHS evaluates on the OLD row)."""
    path = str(tmp_path / "t")
    append(spark, path, spark.createDataFrame(
        [(1, 10.0, 20.0)], "k long, a double, b double"
    ))
    update_where(spark, path, {"a": "b", "b": "a"}, "k = 1")
    got = read_table(spark, path).first()
    assert (got["a"], got["b"]) == (20.0, 10.0)


def test_update_touches_only_matching_parts(spark, tmp_path):
    path = str(tmp_path / "t")
    for lo in (0, 100, 200):
        append(spark, path, spark.range(lo, lo + 50).select(F.col("id").alias("k")))
    r = update_where(spark, path, {"k": "k + 1000000"}, "k BETWEEN 100 AND 149")
    assert r["parts_rewritten"] == 1 and r["rows_updated"] == 50
    assert read_table(spark, path).filter("k >= 1000000").count() == 50


def test_update_null_predicate_not_a_match_and_cast(spark, tmp_path):
    path = _base(spark, tmp_path)
    # NULL condition rows stay; RHS casts to the committed type (int
    # literal into a double column)
    append(spark, path, spark.createDataFrame(
        [(100, None, None)], "k long, val string, x double"
    ))
    r = update_where(spark, path, {"x": "7"}, "x < 3")  # NULL x -> no match
    assert r["rows_updated"] == 3  # k = 0, 1, 2
    got = {row["k"]: row["x"] for row in read_table(spark, path).collect()}
    assert got[0] == 7.0 and got[100] is None
    assert dict(read_table(spark, path).dtypes)["x"] == "double"


def test_update_never_evolves_schema(spark, tmp_path):
    path = _base(spark, tmp_path)
    with pytest.raises(SchemaMismatchError, match="never evolves"):
        update_where(spark, path, {"nope": "1"}, "k = 1")


def test_update_drops_assigned_zone_maps_keeps_others(spark, tmp_path):
    path = str(tmp_path / "t")
    append(
        spark, path,
        spark.range(0, 100).select(
            F.col("id").alias("k"), (F.col("id") * 2.0).alias("x")
        ),
        stats_cols=["k", "x"],
    )
    update_where(spark, path, {"x": "x + 100000"}, "k < 5")
    # k's zone map survives (unassigned): disjoint range prunes to zero
    assert read_table(spark, path, range_filter={"k": (500, 600)}).count() == 0
    # x's zone map dropped: the filter still answers EXACTLY (not from
    # a stale [0, 198] envelope that would wrongly prune the new values)
    assert read_table(
        spark, path, range_filter={"x": (100000, 200000)}
    ).count() == 5


def test_update_after_dv_delete_materializes_vectors(spark, tmp_path):
    path = str(tmp_path / "t")
    append(spark, path, spark.range(0, 100).select(F.col("id").alias("k")).coalesce(1))
    delete_where(spark, path, "k < 10", use_dv=True)
    r = update_where(spark, path, {"k": "k + 1000"}, "k >= 90")
    assert r["rows_updated"] == 10
    got = sorted(x["k"] for x in read_table(spark, path).collect())
    # DV-deleted rows stay deleted through the rewrite; updated rows moved
    assert got == list(range(10, 90)) + list(range(1090, 1100))


def test_update_commutes_past_append_conflicts_with_rewrite(spark, tmp_path, monkeypatch):
    path = _base(spark, tmp_path)
    real = txlog._try_commit
    state = {"n": 0}

    def inject_append(fs, p, version, payload):
        if payload.get("operation") == "update_where" and state["n"] == 0:
            state["n"] = 1
            append(spark, path, spark.createDataFrame(
                [(500, "rival", 5.0)], "k long, val string, x double"
            ))
        return real(fs, p, version, payload)

    monkeypatch.setattr(txlog, "_try_commit", inject_append)
    r = update_where(spark, path, {"x": "x + 1"}, "k = 1")
    monkeypatch.setattr(txlog, "_try_commit", real)
    assert r["rows_updated"] == 1
    got = {row["k"]: row["x"] for row in read_table(spark, path).collect()}
    assert got[1] == 2.0 and got[500] == 5.0  # both survive

    def inject_delete(fs, p, version, payload):
        if payload.get("operation") == "update_where" and state["n"] == 1:
            state["n"] = 2
            delete_where(spark, path, "k = 9")
        return real(fs, p, version, payload)

    monkeypatch.setattr(txlog, "_try_commit", inject_delete)
    with pytest.raises(CommitConflict):
        update_where(spark, path, {"x": "x + 1"}, "k = 2")


def test_update_noop_when_nothing_matches(spark, tmp_path):
    path = _base(spark, tmp_path)
    v0 = current_version(spark, path)
    r = update_where(spark, path, {"x": "0"}, "k > 999")
    assert r == {"version": v0, "rows_updated": 0, "parts_rewritten": 0}
    assert current_version(spark, path) == v0


def test_update_validates_columns_on_preschema_tables(spark, tmp_path):
    """Self-review fix: a legacy (pre-schema) log still refuses a typo'd
    assignment instead of silently rewriting parts with nothing
    changed."""
    import json

    from es_analytics_spark.sources.fsio import LocalFS
    from es_analytics_spark.txlog import _part_dir, _try_commit
    from es_analytics_spark.sources.fsio import join as fs_join

    path = str(tmp_path / "t")
    part = fs_join(_part_dir(path), "legacy0")
    spark.range(0, 10).select(F.col("id").alias("k")).write.parquet(part)
    assert _try_commit(LocalFS(), path, 1, {
        "operation": "append", "adds": [{"path": part, "partition": {}}],
        "removes": [], "scope_partition": None,  # NO schema key: legacy
    })
    assert txlog.table_schema(spark, path) is None
    with pytest.raises(SchemaMismatchError, match="never evolves"):
        update_where(spark, path, {"typo_col": "1"}, "k >= 0")
    r = update_where(spark, path, {"k": "k + 100"}, "k < 3")
    assert r["rows_updated"] == 3
    assert sorted(x["k"] for x in read_table(spark, path).collect()) == [
        3, 4, 5, 6, 7, 8, 9, 100, 101, 102
    ]


def test_update_pins_time_assignment_across_jobs(spark, tmp_path, monkeypatch):
    """``SET seen = current_timestamp()`` is evaluated by separate jobs
    of one update: the ``cdc-`` insert part and the survivor rewrite.
    With every ``cdc-`` write delayed, the table and the change feed
    still carry one value, because the assignment is pinned to a
    literal once per operation."""
    import time

    path = str(tmp_path / "t")
    append(spark, path, spark.range(0, 5).select(
        "id", F.lit(None).cast("timestamp").alias("seen")
    ))
    write_part = txlog._write_part

    def delayed(spark_, path_, df, schema_json=None, prefix=""):
        part = write_part(spark_, path_, df, schema_json, prefix)
        if prefix == "cdc-":
            time.sleep(1.5)
        return part

    monkeypatch.setattr(txlog, "_write_part", delayed)
    r = update_where(spark, path, {"seen": "current_timestamp()"}, "id < 5")
    monkeypatch.undo()
    assert r["rows_updated"] == 5
    table = {row["seen"] for row in read_table(spark, path).collect()}
    feed = table_changes_cdf(spark, path, r["version"] - 1, r["version"])
    inserted = {row["seen"] for row in feed.filter("_change_type = 'insert'").collect()}
    assert len(table) == 1 and None not in table
    assert inserted == table


def test_dml_refuses_nondeterministic_assignment(spark, tmp_path):
    """A ``rand()`` assignment, or a Column assignment embedding a time
    function, raises before anything is written: through update_where,
    merge ``set``/``values`` and SQL ``UPDATE``."""
    from es_analytics_spark.sqldml import execute_sql

    path = _base(spark, tmp_path)
    v0 = current_version(spark, path)
    with pytest.raises(ValueError, match="non-deterministic"):
        update_where(spark, path, {"x": "rand()"}, "k < 5")
    with pytest.raises(ValueError, match="pinned"):
        update_where(spark, path, {"x": F.unix_timestamp(F.current_timestamp())}, "k < 5")
    src = spark.createDataFrame([(1, "a", 1.0), (42, "b", 2.0)], "k long, val string, x double")
    with pytest.raises(ValueError, match="non-deterministic"):
        txlog.merge(spark, path, src, ["k"], matched=[{"action": "update", "set": {"x": "rand()"}}])
    with pytest.raises(ValueError, match="non-deterministic"):
        txlog.merge(
            spark, path, src, ["k"],
            not_matched=[{"action": "insert", "values": {"k": "s.k", "x": "randn()"}}],
        )
    txlog.register_table(spark, "t_nondet_assign", path)
    try:
        with pytest.raises(ValueError, match="non-deterministic"):
            execute_sql(spark, "UPDATE t_nondet_assign SET x = rand() WHERE k < 5")
    finally:
        spark.catalog.dropTempView("t_nondet_assign")
    assert current_version(spark, path) == v0
    assert sorted(r["x"] for r in read_table(spark, path).collect()) == [float(k) for k in range(10)]


def test_merge_pins_time_in_set_and_values(spark, tmp_path):
    """Time functions in a merge's ``set`` and ``values`` are pinned on
    one clock with its conditions: the updated and the inserted rows of
    one merge carry the same instant."""
    path = str(tmp_path / "t")
    append(spark, path, spark.range(0, 3).select(
        F.col("id").alias("k"), F.lit(None).cast("timestamp").alias("seen")
    ))
    src = spark.range(1, 5).select(F.col("id").alias("k"))
    r = txlog.merge(
        spark, path, src, ["k"],
        matched=[{"action": "update", "set": {"seen": "now()"}, "condition": "t.k < now()::long"}],
        not_matched=[{"action": "insert", "values": {"k": "s.k", "seen": "current_timestamp()"}}],
    )
    got = {row["k"]: row["seen"] for row in read_table(spark, path).collect()}
    assert got[0] is None and r["version"] == 2
    assert len({got[k] for k in (1, 2, 3, 4)}) == 1 and got[1] is not None
