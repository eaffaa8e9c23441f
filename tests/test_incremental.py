"""CDF-driven incremental rollup maintenance (`incremental.py`):
delta-consume == full recompute at every source version, across
appends, deletes, upserts, compactions, and cdc=True overwrites;
exactly-once under repeated and racing maintainers."""

import os
import threading

import pytest
from pyspark.sql import Row, functions as F

from es_analytics_spark.incremental import (
    COUNT_COL,
    maintain_rollup,
    read_rollup,
    rollup_cursor,
)
from es_analytics_spark.txlog import (
    append,
    compact,
    delete_where,
    merge_upsert,
    overwrite_partition,
    read_table,
)

MEASURES = {"revenue": ("sum", "amount"), "orders": ("count", None)}


def _rows(spark, lo, hi, cat="a"):
    return spark.createDataFrame(
        [Row(id=i, cat=cat, amount=float(i)) for i in range(lo, hi)]
    )


def _recompute(spark, src):
    return (
        read_table(spark, src)
        .groupBy("cat")
        .agg(
            F.count(F.lit(1)).alias(COUNT_COL),
            F.sum("amount").alias("revenue"),
            F.count(F.lit(1)).alias("orders"),
        )
    )


def _assert_converged(spark, src, roll):
    key = lambda t: (t[0] is None, t)  # noqa: E731 — None-safe sort
    got = sorted(
        map(tuple, read_rollup(spark, roll).select("cat", COUNT_COL, "revenue", "orders").collect()),
        key=key,
    )
    want = sorted(
        map(tuple, _recompute(spark, src).select("cat", COUNT_COL, "revenue", "orders").collect()),
        key=key,
    )
    assert got == want


def test_lifecycle_delta_equals_recompute_at_every_version(spark, tmp_path):
    src = os.path.join(str(tmp_path), "src")
    roll = os.path.join(str(tmp_path), "roll")

    append(spark, src, _rows(spark, 0, 10, "a"), partition={"cat": "a"})  # v1
    maintain_rollup(spark, src, roll, ["cat"], MEASURES)
    _assert_converged(spark, src, roll)

    append(spark, src, _rows(spark, 10, 20, "b"), partition={"cat": "b"})  # v2
    delete_where(spark, src, "id < 5")  # v3: subtract from group a
    maintain_rollup(spark, src, roll, ["cat"], MEASURES)
    _assert_converged(spark, src, roll)

    merge_upsert(
        spark,
        src,
        spark.createDataFrame(
            [Row(id=7, cat="a", amount=700.0), Row(id=99, cat="c", amount=9.0)]
        ),
        keys=["id"],
    )  # v4: delete(old 7) + insert(new 7) + insert(99)
    compact(spark, src)  # v5: must be invisible to the delta
    maintain_rollup(spark, src, roll, ["cat"], MEASURES)
    _assert_converged(spark, src, roll)

    overwrite_partition(
        spark, src, _rows(spark, 50, 53, "b"), {"cat": "b"}, cdc=True
    )  # v6: replaced rows emitted as deletes
    r = maintain_rollup(spark, src, roll, ["cat"], MEASURES)
    _assert_converged(spark, src, roll)
    assert r["cursor"] == 6


def test_caught_up_is_a_noop_and_cursor_durable(spark, tmp_path):
    src = os.path.join(str(tmp_path), "src")
    roll = os.path.join(str(tmp_path), "roll")
    append(spark, src, _rows(spark, 0, 5))
    r1 = maintain_rollup(spark, src, roll, ["cat"], MEASURES)
    assert r1["applied"] == 1 and r1["cursor"] == 1
    r2 = maintain_rollup(spark, src, roll, ["cat"], MEASURES)
    assert r2["applied"] == 0 and r2["cursor"] == 1
    assert rollup_cursor(spark, roll, src) == 1
    _assert_converged(spark, src, roll)


def test_group_vanishes_when_all_rows_deleted(spark, tmp_path):
    src = os.path.join(str(tmp_path), "src")
    roll = os.path.join(str(tmp_path), "roll")
    append(spark, src, _rows(spark, 0, 5, "a"))
    append(spark, src, _rows(spark, 5, 8, "b"))
    maintain_rollup(spark, src, roll, ["cat"], MEASURES)
    delete_where(spark, src, "cat = 'b'")
    maintain_rollup(spark, src, roll, ["cat"], MEASURES)
    assert {r.cat for r in read_rollup(spark, roll).collect()} == {"a"}
    # the zero-count state row is retained but hidden
    assert {r.cat for r in read_table(spark, roll).collect()} == {"a", "b"}
    _assert_converged(spark, src, roll)


def test_cdcless_overwrite_refused(spark, tmp_path):
    src = os.path.join(str(tmp_path), "src")
    roll = os.path.join(str(tmp_path), "roll")
    append(spark, src, _rows(spark, 0, 5, "a"), partition={"cat": "a"})
    maintain_rollup(spark, src, roll, ["cat"], MEASURES)
    overwrite_partition(spark, src, _rows(spark, 9, 12, "a"), {"cat": "a"})  # no cdc
    with pytest.raises(ValueError, match="cdc=True"):
        maintain_rollup(spark, src, roll, ["cat"], MEASURES)


def test_minmax_measures_insert_only_and_refused_on_deletes(spark, tmp_path):
    """min/max merge into state by least/greatest: after insert-only
    windows (a compaction in the window changes no content) the rollup
    equals a recompute; a window holding a delete raises from commit
    metadata alone, with no Spark job; bootstrap_rollup recomputes the
    extremes from a snapshot."""
    from es_analytics_spark.incremental import bootstrap_rollup

    src = os.path.join(str(tmp_path), "src")
    roll = os.path.join(str(tmp_path), "roll")
    m = {**MEASURES, "lo": ("min", "amount"), "hi": ("max", "amount")}
    append(spark, src, _rows(spark, 5, 10, "a"))
    maintain_rollup(spark, src, roll, ["cat"], m)
    append(spark, src, _rows(spark, 0, 3, "a"))  # a new minimum
    append(spark, src, _rows(spark, 20, 22, "b"))
    compact(spark, src)
    assert maintain_rollup(spark, src, roll, ["cat"], m)["applied"] >= 2

    def extremes(path):
        return {r.cat: (r.lo, r.hi) for r in read_rollup(spark, path).collect()}

    assert extremes(roll) == {"a": (0.0, 9.0), "b": (20.0, 21.0)}
    _assert_converged(spark, src, roll)

    delete_where(spark, src, "id = 0")
    sc = spark.sparkContext
    sc.setJobGroup("minmax-refusal", "min/max window check")
    try:
        with pytest.raises(ValueError, match="inserts only"):
            maintain_rollup(spark, src, roll, ["cat"], m)
    finally:
        sc.setJobGroup("", "")
    assert list(sc.statusTracker().getJobIdsForGroup("minmax-refusal")) == []
    assert extremes(roll) == {"a": (0.0, 9.0), "b": (20.0, 21.0)}  # untouched

    with pytest.raises(ValueError, match="supported kinds"):
        maintain_rollup(spark, src, roll, ["cat"], {"m": ("avg", "amount")})

    roll2 = os.path.join(str(tmp_path), "roll2")
    bootstrap_rollup(spark, src, roll2, ["cat"], m)
    assert extremes(roll2) == {"a": (1.0, 9.0), "b": (20.0, 21.0)}
    _assert_converged(spark, src, roll2)


def test_racing_maintainers_apply_window_exactly_once(spark, tmp_path):
    """Two maintainers see the same un-applied window and race: the
    merge-vs-merge conflict serializes them, the loser retries, finds
    its window stamped, and applies nothing — the delta lands once."""
    src = os.path.join(str(tmp_path), "src")
    roll = os.path.join(str(tmp_path), "roll")
    append(spark, src, _rows(spark, 0, 5, "a"))
    maintain_rollup(spark, src, roll, ["cat"], MEASURES)
    append(spark, src, _rows(spark, 5, 9, "a"))  # the contended window

    results, errors = [], []

    def run():
        try:
            results.append(maintain_rollup(spark, src, roll, ["cat"], MEASURES))
        except Exception as e:  # pragma: no cover - failure diagnostics
            errors.append(e)

    ts = [threading.Thread(target=run) for _ in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errors
    assert sorted(r["applied"] for r in results) in ([0, 1], [1, 1])
    # [1, 1] can only be a win + a loser that retried AFTER the win
    # landed and found applied=0... assert the state, which is what
    # matters: no double-count
    _assert_converged(spark, src, roll)


def test_toctou_lost_update_forces_conflict_and_recompute(spark, tmp_path, monkeypatch):
    """The classic lost-update: maintainer B reads state, then rival A
    applies a WIDER window (including a source commit B never saw) and
    commits. B's merge must CONFLICT (expect_version), and its retry —
    seeing A's stamped tokens — applies nothing. Without the guard, B's
    stale-state merge would land and silently erase A's extra version."""
    import es_analytics_spark.incremental as inc

    src = os.path.join(str(tmp_path), "src")
    roll = os.path.join(str(tmp_path), "roll")
    append(spark, src, _rows(spark, 0, 5, "a"))  # v1
    maintain_rollup(spark, src, roll, ["cat"], MEASURES)
    append(spark, src, _rows(spark, 5, 10, "a"))  # v2 — B's window is (1, 2]

    real_merge = inc.txlog.merge_upsert
    fired = {"n": 0}

    def hijack(spark_, path_, updates_, **kw):
        if fired["n"] == 0:
            fired["n"] += 1
            monkeypatch.setattr(inc.txlog, "merge_upsert", real_merge)
            # rival A: a NEW source commit lands and A maintains the
            # wider window (1, 3] before B's commit reaches the log
            append(spark, src, _rows(spark, 10, 20, "b"))  # v3
            a_res = maintain_rollup(spark, src, roll, ["cat"], MEASURES)
            assert a_res["applied"] == 2  # A covered v2 AND v3
        return real_merge(spark_, path_, updates_, **kw)

    monkeypatch.setattr(inc.txlog, "merge_upsert", hijack)
    b_res = maintain_rollup(spark, src, roll, ["cat"], MEASURES)
    assert fired["n"] == 1
    assert b_res["applied"] == 0, "B must find its window already covered"
    _assert_converged(spark, src, roll)


def test_null_group_keys_accumulate_as_one_group(spark, tmp_path):
    """NULL group keys: groupBy emits one NULL group, so the state
    lookup and merge key-matching must be null-safe — the NULL group
    accumulates across windows instead of accreting split rows."""
    from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

    schema = StructType([
        StructField("id", LongType()), StructField("cat", StringType()),
        StructField("amount", DoubleType()),
    ])
    src = os.path.join(str(tmp_path), "src")
    roll = os.path.join(str(tmp_path), "roll")
    append(spark, src, spark.createDataFrame(
        [(1, None, 10.0), (2, "a", 1.0)], schema))
    maintain_rollup(spark, src, roll, ["cat"], MEASURES)
    append(spark, src, spark.createDataFrame(
        [(3, None, 5.0), (4, "a", 2.0)], schema))
    maintain_rollup(spark, src, roll, ["cat"], MEASURES)
    rows = {r.cat: (r._n, r.revenue) for r in read_rollup(spark, roll).collect()}
    assert rows == {None: (2, 15.0), "a": (2, 3.0)}
    assert read_rollup(spark, roll).count() == 2  # no split NULL rows
    _assert_converged(spark, src, roll)


def test_bootstrap_then_incremental_across_vacuumed_history(spark, tmp_path):
    """When the early CDF history is vacuum-reaped, maintain_rollup from
    cursor 0 raises at plan time; bootstrap_rollup initializes from the
    snapshot and incremental maintenance continues from there."""
    from es_analytics_spark.incremental import bootstrap_rollup
    from es_analytics_spark.txlog import VersionExpiredError, vacuum

    src = os.path.join(str(tmp_path), "src")
    roll = os.path.join(str(tmp_path), "roll")
    append(spark, src, _rows(spark, 0, 10, "a"))  # v1
    append(spark, src, _rows(spark, 10, 15, "b"))  # v2
    compact(spark, src)  # v3 rewrites v1/v2
    append(spark, src, _rows(spark, 15, 18, "b"))  # v4 pushes v1/v2 past retention
    vacuum(spark, src, keep_versions=1, retention_seconds=0)

    with pytest.raises(VersionExpiredError):
        maintain_rollup(spark, src, roll, ["cat"], MEASURES)

    b = bootstrap_rollup(spark, src, roll, ["cat"], MEASURES)
    assert b["cursor"] == 4
    _assert_converged(spark, src, roll)
    # a second bootstrap refuses (non-empty target)
    with pytest.raises(ValueError, match="not empty"):
        bootstrap_rollup(spark, src, roll, ["cat"], MEASURES)
    # incremental maintenance continues from the snapshot cursor
    delete_where(spark, src, "cat = 'a' and id < 5")  # v6 (v5 = nothing? ops count)
    r = maintain_rollup(spark, src, roll, ["cat"], MEASURES)
    assert r["applied"] >= 1
    _assert_converged(spark, src, roll)


def test_bootstrap_on_emptied_source_initializes_empty_rollup(spark, tmp_path):
    """A source whose rows were all deleted bootstraps to an empty
    rollup with the cursor at the snapshot version, and incremental
    maintenance continues from there."""
    from es_analytics_spark.incremental import bootstrap_rollup

    src = os.path.join(str(tmp_path), "src")
    roll = os.path.join(str(tmp_path), "roll")
    append(spark, src, _rows(spark, 0, 3, "a"))
    delete_where(spark, src, "id >= 0")  # v2: table now empty
    b = bootstrap_rollup(spark, src, roll, ["cat"], MEASURES)
    assert b["cursor"] == 2
    assert read_rollup(spark, roll).count() == 0
    append(spark, src, _rows(spark, 5, 8, "b"))
    maintain_rollup(spark, src, roll, ["cat"], MEASURES)
    _assert_converged(spark, src, roll)
