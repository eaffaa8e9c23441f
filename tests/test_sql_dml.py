"""SQL DML over registered txlog tables (round-10 ask #2): every routed
statement is ORACLE-CHECKED against the equivalent Python API run on a
twin table — identical final rows, identical change feed — plus the
parser's curated-refusal surface and read-your-writes view refresh."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from es_analytics_spark import txlog
from es_analytics_spark.sqldml import SqlDmlError, execute_sql
from es_analytics_spark.txlog import (
    append,
    merge_upsert,
    read_table,
    register_table,
    table_changes_cdf,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _twin(spark, tmp_path, name):
    """Two identical tables: `name` driven via SQL, its twin via the
    Python API — the oracle."""
    sql_path = str(tmp_path / f"{name}_sql")
    api_path = str(tmp_path / f"{name}_api")
    df = spark.createDataFrame(
        [(k, f"v{k}", float(k)) for k in range(10)],
        "k long, val string, x double",
    )
    append(spark, sql_path, df)
    append(spark, api_path, df)
    register_table(spark, name, sql_path)
    return sql_path, api_path


def test_insert_into_values_and_select(spark, tmp_path):
    sql_path, api_path = _twin(spark, tmp_path, "t_ins")
    r = execute_sql(
        spark, "INSERT INTO t_ins VALUES (100, 'new', 1.5), (101, 'new2', 2.5)"
    )
    assert r["operation"] == "insert_into" and r["version"] == 2
    append(spark, api_path, spark.createDataFrame(
        [(100, "new", 1.5), (101, "new2", 2.5)], "k long, val string, x double"
    ))
    assert _rows(read_table(spark, sql_path)) == _rows(read_table(spark, api_path))
    # read-your-writes: the registered view advanced
    assert spark.sql("SELECT COUNT(*) FROM t_ins").first()[0] == 12

    # INSERT ... SELECT, and a subset column list (omitted cols null)
    execute_sql(spark, "INSERT INTO t_ins (k, val) SELECT k + 200, val FROM t_ins WHERE k < 2")
    api_df = read_table(spark, api_path)
    append(
        spark, api_path,
        api_df.filter("k < 2").select((F.col("k") + 200).alias("k"), "val"),
        evolve=True,
    )
    assert _rows(read_table(spark, sql_path)) == _rows(read_table(spark, api_path))


def test_insert_overwrite(spark, tmp_path):
    sql_path, api_path = _twin(spark, tmp_path, "t_ovw")
    execute_sql(spark, "INSERT OVERWRITE t_ovw VALUES (1, 'only', 9.0)")
    txlog.overwrite_table(spark, api_path, spark.createDataFrame(
        [(1, "only", 9.0)], "k long, val string, x double"
    ))
    assert _rows(read_table(spark, sql_path)) == _rows(read_table(spark, api_path))
    assert spark.sql("SELECT COUNT(*) FROM t_ovw").first()[0] == 1


def test_delete_from(spark, tmp_path):
    sql_path, api_path = _twin(spark, tmp_path, "t_del")
    r = execute_sql(spark, "DELETE FROM t_del WHERE k % 2 = 0 AND x < 7")
    assert r["operation"] == "delete" and r["rows_deleted"] == 4
    txlog.delete_where(spark, api_path, "k % 2 = 0 AND x < 7")
    assert _rows(read_table(spark, sql_path)) == _rows(read_table(spark, api_path))
    assert spark.sql("SELECT COUNT(*) FROM t_del").first()[0] == 6
    # bare DELETE FROM empties the table
    execute_sql(spark, "DELETE FROM t_del")
    assert spark.sql("SELECT COUNT(*) FROM t_del").first()[0] == 0


def test_merge_upsert_sql_vs_api(spark, tmp_path):
    sql_path, api_path = _twin(spark, tmp_path, "t_mrg")
    upd = spark.createDataFrame(
        [(1, "v1b", 11.0), (50, "new", 50.0)], "k long, val string, x double"
    )
    upd.createOrReplaceTempView("mrg_src")
    r = execute_sql(spark, """
        MERGE INTO t_mrg AS t USING mrg_src AS s
        ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
    """)
    assert (r["rows_updated"], r["rows_inserted"]) == (1, 1)
    merge_upsert(spark, api_path, upd, keys=["k"])
    assert _rows(read_table(spark, sql_path)) == _rows(read_table(spark, api_path))


def test_merge_tombstones_sql_vs_api(spark, tmp_path):
    sql_path, api_path = _twin(spark, tmp_path, "t_cdc")
    cdc = spark.createDataFrame(
        [(3, "x", 0.0, True), (5, "v5b", 55.0, False),
         (99, "x", 0.0, True), (100, "new", 100.0, False)],
        "k long, val string, x double, _deleted boolean",
    )
    cdc.createOrReplaceTempView("cdc_src")
    v0 = txlog.current_version(spark, sql_path)
    r = execute_sql(spark, """
        MERGE INTO t_cdc t
        USING (SELECT k, val, x, _deleted FROM cdc_src) s
        ON t.k = s.k
        WHEN MATCHED AND s._deleted THEN DELETE
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED AND NOT s._deleted THEN INSERT *
    """)
    assert (r["rows_deleted"], r["rows_updated"], r["rows_inserted"]) == (1, 1, 1)
    txlog.merge(
        spark, api_path, cdc, ["k"],
        matched=[{"action": "delete", "condition": "s._deleted"},
                 {"action": "update"}],
        not_matched=[{"action": "insert", "condition": "NOT s._deleted"}],
    )
    sql_rows = _rows(read_table(spark, sql_path).select("k", "val", "x"))
    api_rows = _rows(read_table(spark, api_path).select("k", "val", "x"))
    assert sql_rows == api_rows
    # the router's backend IS txlog.merge, so the twin alone would not
    # catch a shared fault: pin the expected rows too
    expected = sorted(
        [(k, f"v{k}", float(k)) for k in range(10) if k not in (3, 5)]
        + [(5, "v5b", 55.0), (100, "new", 100.0)]
    )
    assert sql_rows == expected
    # SET * / INSERT * expand to TARGET columns: the condition-only
    # _deleted flag never entered the SQL-side schema either
    assert "_deleted" not in read_table(spark, sql_path).columns
    feed = {
        (r["k"], r["_change_type"])
        for r in table_changes_cdf(spark, sql_path, v0).select("k", "_change_type").collect()
    }
    assert feed == {(3, "delete"), (5, "delete"), (5, "insert"), (100, "insert")}


def test_merge_first_match_wins_update_before_delete(spark, tmp_path):
    """ANSI clause order: an update clause listed FIRST shadows a later
    delete clause where both conditions match."""
    sql_path, api_path = _twin(spark, tmp_path, "t_ord")
    upd = spark.createDataFrame(
        [(1, "keepme", 1.0), (2, "zap", -2.0)], "k long, val string, x double"
    )
    upd.createOrReplaceTempView("ord_src")
    execute_sql(spark, """
        MERGE INTO t_ord t USING ord_src s ON t.k = s.k
        WHEN MATCHED AND s.val = 'keepme' THEN UPDATE SET *
        WHEN MATCHED THEN DELETE
    """)
    got = {r["k"]: r["val"] for r in read_table(spark, sql_path).collect()}
    assert got[1] == "keepme" and 2 not in got and len(got) == 9


def test_curated_refusals_and_passthrough(spark, tmp_path):
    _twin(spark, tmp_path, "t_ref")
    with pytest.raises(SqlDmlError, match="not a registered"):
        execute_sql(spark, "DELETE FROM nowhere WHERE 1=1")
    with pytest.raises(SqlDmlError, match="not a registered"):
        execute_sql(spark, "UPDATE nowhere SET val = 'x' WHERE k = 1")
    with pytest.raises(SqlDmlError, match="equi-predicates"):
        execute_sql(spark, """
            MERGE INTO t_ref t USING t_ref s ON t.k > s.k
            WHEN MATCHED THEN DELETE
        """)
    # references to the row a clause cannot see stay curated refusals
    with pytest.raises(SqlDmlError, match="cannot reference the target row"):
        execute_sql(spark, """
            MERGE INTO t_ref t USING t_ref s ON t.k = s.k
            WHEN NOT MATCHED AND t.x > 5 THEN INSERT *
        """)
    with pytest.raises(SqlDmlError, match="cannot reference the source row"):
        execute_sql(spark, """
            MERGE INTO t_ref t USING t_ref s ON t.k = s.k
            WHEN NOT MATCHED BY SOURCE AND s.x > 5 THEN DELETE
        """)
    with pytest.raises(SqlDmlError, match="cannot DELETE"):
        execute_sql(spark, """
            MERGE INTO t_ref t USING t_ref s ON t.k = s.k
            WHEN NOT MATCHED THEN DELETE
        """)
    with pytest.raises(SqlDmlError, match="never evolves"):
        execute_sql(spark, "INSERT INTO t_ref (k, typo_col) VALUES (1, 'x')")
    # non-DML passes through to spark.sql unchanged
    df = execute_sql(spark, "SELECT COUNT(*) AS n FROM t_ref")
    assert df.first()["n"] == 10


def test_update_sql_vs_api(spark, tmp_path):
    sql_path, api_path = _twin(spark, tmp_path, "t_upd")
    r = execute_sql(
        spark, "UPDATE t_upd SET val = concat(val, '!'), x = x * 2 WHERE k < 3"
    )
    assert r["operation"] == "update" and r["rows_updated"] == 3
    txlog.update_where(
        spark, api_path, {"val": "concat(val, '!')", "x": "x * 2"}, "k < 3"
    )
    assert _rows(read_table(spark, sql_path)) == _rows(read_table(spark, api_path))
    # read-your-writes through the refreshed view
    assert spark.sql("SELECT val FROM t_upd WHERE k = 0").first()[0] == "v0!"
    # bare UPDATE (no WHERE) hits every row
    execute_sql(spark, "UPDATE t_upd SET x = 0")
    assert spark.sql("SELECT SUM(x) FROM t_upd").first()[0] == 0.0


def test_alter_table_routing(spark, tmp_path):
    _sql_path, _ = _twin(spark, tmp_path, "t_ddl")
    execute_sql(spark, "ALTER TABLE t_ddl RENAME COLUMN val TO label")
    assert "label" in spark.table("t_ddl").columns
    execute_sql(spark, "ALTER TABLE t_ddl ALTER COLUMN k TYPE bigint")  # no-op widen
    execute_sql(spark, "ALTER TABLE t_ddl DROP COLUMN x")
    assert spark.table("t_ddl").columns == ["k", "label"]
    execute_sql(spark, "ALTER TABLE t_ddl SET TBLPROPERTIES ('retention.keep_versions' = '5')")
    assert txlog.table_properties(spark, _sql_path) == {
        "retention.keep_versions": "5"
    }
    execute_sql(spark, "ALTER TABLE t_ddl UNSET TBLPROPERTIES ('retention.keep_versions')")
    assert txlog.table_properties(spark, _sql_path) == {}
    with pytest.raises(SqlDmlError, match="unsupported action"):
        execute_sql(spark, "ALTER TABLE t_ddl CLUSTER BY (k)")


def test_optimize_and_vacuum_routing(spark, tmp_path):
    sql_path, _ = _twin(spark, tmp_path, "t_mnt")
    execute_sql(spark, "INSERT INTO t_mnt VALUES (700, 'x', 1.0)")
    r = execute_sql(spark, "OPTIMIZE t_mnt")
    assert r["operation"] == "optimize" and "compact" in r
    r = execute_sql(spark, "VACUUM t_mnt RETAIN 0 HOURS")
    assert r["operation"] == "vacuum" and r["reaped"] >= 0
    assert spark.sql("SELECT COUNT(*) FROM t_mnt").first()[0] == 11


def test_review_fixes_parser_robustness(spark, tmp_path):
    """Round-10 self-review fixes: unparseable MERGE clauses raise
    instead of silently dropping; BY SOURCE refused honestly; BY TARGET
    accepted; deep USING subqueries route; quoted commas survive SET
    and TBLPROPERTIES; INSERT INTO TABLE spelling works."""
    sql_path, _ = _twin(spark, tmp_path, "t_rob")
    spark.createDataFrame(
        [(1, "v1b", 11.0), (70, "new", 7.0)], "k long, val string, x double"
    ).createOrReplaceTempView("rob_src")

    # silently-dropped clause fragments are now loud parse errors
    with pytest.raises(SqlDmlError, match="cannot parse clause fragment"):
        execute_sql(spark, """
            MERGE INTO t_rob t USING rob_src s ON t.k = s.k
            WHEN MATCHED THEN DELETE
            GARBAGE TRAILING WORDS
        """)
    # BY TARGET = the explicit spelling of plain NOT MATCHED
    r = execute_sql(spark, """
        MERGE INTO t_rob t USING rob_src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED BY TARGET THEN INSERT *
    """)
    assert (r["rows_updated"], r["rows_inserted"]) == (1, 1)

    # deep paren nesting in the USING subquery routes (used to fall
    # through to spark.sql with an opaque error)
    r = execute_sql(spark, """
        MERGE INTO t_rob t
        USING (SELECT k, val, x FROM rob_src WHERE coalesce(x, abs((1))) > 0) s
        ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
    """)
    assert r["rows_updated"] == 2

    # quoted comma in a SET literal
    r = execute_sql(spark, "UPDATE t_rob SET val = 'Smith, John' WHERE k = 2")
    assert r["rows_updated"] == 1
    assert spark.sql("SELECT val FROM t_rob WHERE k = 2").first()[0] == "Smith, John"

    # quoted comma (and escaped quote) in TBLPROPERTIES values
    execute_sql(
        spark,
        "ALTER TABLE t_rob SET TBLPROPERTIES ('a' = 'x,y', 'b' = 'it''s')",
    )
    assert txlog.table_properties(spark, sql_path) == {"a": "x,y", "b": "it's"}
    with pytest.raises(SqlDmlError, match="cannot parse"):
        execute_sql(spark, "ALTER TABLE t_rob SET TBLPROPERTIES (k = v)")

    # the INSERT INTO TABLE spelling
    execute_sql(spark, "INSERT INTO TABLE t_rob VALUES (500, 'x', 1.0)")
    assert spark.sql("SELECT COUNT(*) FROM t_rob WHERE k = 500").first()[0] == 1


def test_insert_without_column_list_binds_positionally(spark, tmp_path):
    """ANSI ordinal binding: INSERT ... SELECT assigns by position even
    when the query's column names coincide with the table's in another
    order — parity with spark.sql, not name-matching magic."""
    sql_path, _ = _twin(spark, tmp_path, "t_pos")
    # table columns are (k, val, x); select (x, val, k)-typed values
    # positionally compatible: k <- 777, val <- 'p', x <- 3.5
    execute_sql(spark, "INSERT INTO t_pos SELECT 777L AS x, 'p' AS val, 3.5D AS k")
    row = spark.sql("SELECT k, val, x FROM t_pos WHERE k = 777").first()
    assert (row["k"], row["val"], row["x"]) == (777, "p", 3.5)
    with pytest.raises(SqlDmlError, match="name the target columns"):
        execute_sql(spark, "INSERT INTO t_pos SELECT 1L, 'q'")


def test_describe_history_and_restore_table(spark, tmp_path):
    sql_path, _ = _twin(spark, tmp_path, "t_hist")
    execute_sql(spark, "INSERT INTO t_hist VALUES (50, 'x', 1.0)")   # v2
    execute_sql(spark, "DELETE FROM t_hist WHERE k = 0")             # v3
    hist = execute_sql(spark, "DESCRIBE HISTORY t_hist")
    ops = [(r["version"], r["operation"]) for r in hist.collect()]
    assert ops == [(1, "append"), (2, "append"), (3, "delete_where")]
    r = execute_sql(spark, "RESTORE TABLE t_hist TO VERSION AS OF 2")
    assert r["operation"] == "restore" and r["restored_to"] == 2
    # read-your-writes: the view re-pinned at the restored snapshot
    assert spark.sql("SELECT COUNT(*) FROM t_hist").first()[0] == 11
    # cdc restore keeps the row-level feed replayable across the undo:
    # the NET of the restore window is exactly the one un-deleted row
    # (part-level materialization emits delete(survivors)+insert(originals))
    from collections import Counter

    net: Counter = Counter()
    for x in txlog.table_changes_cdf(spark, sql_path, 3).collect():
        net[x["k"]] += 1 if x["_change_type"] == "insert" else -1
    assert {k for k, n in net.items() if n != 0} == {0}
    assert net[0] == 1


def test_clause_condition_string_literal_with_alias_lookalike(spark, tmp_path):
    """An alias-lookalike INSIDE a string literal is data: 's.x' in a
    condition literal must not be stripped to 'x' (and a 't.' inside a
    literal must not trip the target-reference refusal)."""
    _twin(spark, tmp_path, "t_lit")
    spark.createDataFrame(
        [(1, "s.x", 1.0), (2, "t.y", 2.0)], "k long, val string, x double"
    ).createOrReplaceTempView("lit_src")
    r = execute_sql(spark, """
        MERGE INTO t_lit t USING lit_src s ON t.k = s.k
        WHEN MATCHED AND s.val = 's.x' THEN DELETE
        WHEN MATCHED AND s.val = 't.y' THEN UPDATE SET *
    """)
    assert (r["rows_deleted"], r["rows_updated"]) == (1, 1)
    got = {x["k"]: x["val"] for x in read_table(
        spark, txlog.registered_table_path(spark, "t_lit")
    ).collect()}
    assert 1 not in got and got[2] == "t.y"
