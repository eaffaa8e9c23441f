"""Full-grammar MERGE (round-11 ask #1): ``txlog.merge`` — column-level
SET lists, clause conditions over the TARGET row, ``WHEN NOT MATCHED BY
SOURCE``, first-match-wins across N clauses — plus the SQL router's
full Delta grammar, twin-table SQL-vs-API oracle, CDF parity, OCC
behavior, and the BY SOURCE kill sweep."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from es_analytics_spark import txlog
from es_analytics_spark.sqldml import SqlDmlError, execute_sql
from es_analytics_spark.txlog import (
    CommitConflict,
    append,
    current_version,
    merge,
    read_table,
    register_table,
    table_changes_cdf,
)


def _base(spark, tmp_path, n=10, name="t"):
    path = str(tmp_path / name)
    df = spark.createDataFrame(
        [(k, f"v{k}", float(k)) for k in range(n)], "k long, val string, x double"
    )
    append(spark, path, df)
    return path


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ---------------------------------------------------------------- Python API


def test_column_level_set_reads_both_rows(spark, tmp_path):
    """SET RHS sees the OLD target row AND the source row; unassigned
    columns keep the target value; values store-assignment cast."""
    path = _base(spark, tmp_path)
    src = spark.createDataFrame([(2, 10), (3, 20)], "k long, bump int")
    r = merge(
        spark, path, src, ["k"],
        matched=[{"action": "update",
                  "set": {"x": "t.x + s.bump", "val": "concat(t.val, '+')"}}],
    )
    assert (r["rows_updated"], r["rows_inserted"], r["rows_deleted"]) == (2, 0, 0)
    got = {row["k"]: (row["val"], row["x"]) for row in read_table(spark, path).collect()}
    assert got[2] == ("v2+", 12.0) and got[3] == ("v3+", 23.0)
    assert got[0] == ("v0", 0.0) and len(got) == 10
    # the condition-only source column never entered the schema
    assert "bump" not in read_table(spark, path).columns


def test_target_row_clause_condition(spark, tmp_path):
    """A matched clause conditioned on the TARGET row fires per target
    row — the form merge_upsert could not express."""
    path = _base(spark, tmp_path)
    src = spark.createDataFrame([(1,), (2,), (8,)], "k long")
    r = merge(
        spark, path, src, ["k"],
        matched=[
            {"action": "delete", "condition": "t.x > 5"},
            {"action": "update", "set": {"val": "'small'"}},
        ],
    )
    assert (r["rows_deleted"], r["rows_updated"]) == (1, 2)
    got = {row["k"]: row["val"] for row in read_table(spark, path).collect()}
    assert 8 not in got and got[1] == "small" and got[2] == "small"
    assert got[3] == "v3"


def test_not_matched_by_source_update_and_delete(spark, tmp_path):
    """BY SOURCE clauses act on target rows ABSENT from the source,
    first-match-wins, conditions over the target row only."""
    path = _base(spark, tmp_path)
    src = spark.createDataFrame([(0,), (1,), (2,)], "k long")
    v0 = current_version(spark, path)
    r = merge(
        spark, path, src, ["k"],
        matched=[{"action": "update", "set": {"val": "'seen'"}}],
        not_matched_by_source=[
            {"action": "delete", "condition": "t.x >= 8"},
            {"action": "update", "set": {"val": "'stale'", "x": "t.x * -1"}},
        ],
    )
    assert (r["rows_updated"], r["rows_deleted"]) == (3 + 5, 2)
    got = {row["k"]: (row["val"], row["x"]) for row in read_table(spark, path).collect()}
    for k in (0, 1, 2):
        assert got[k][0] == "seen"
    for k in (3, 4, 5, 6, 7):
        assert got[k] == ("stale", -float(k))
    assert 8 not in got and 9 not in got
    # CDF parity: update = delete(old)+insert(new), delete = delete(old)
    feed = {}
    for row in table_changes_cdf(spark, path, v0).collect():
        feed.setdefault(row["k"], []).append(row["_change_type"])
    assert sorted(feed[8]) == ["delete"] and sorted(feed[9]) == ["delete"]
    assert sorted(feed[3]) == ["delete", "insert"]
    assert sorted(feed[0]) == ["delete", "insert"]


def test_first_match_wins_across_n_clauses(spark, tmp_path):
    """Three matched clauses: each row routes to the FIRST whose
    condition holds, later clauses never see it."""
    path = _base(spark, tmp_path)
    src = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, tag string")
    r = merge(
        spark, path, src, ["k"],
        matched=[
            {"action": "update", "set": {"val": "'first'"}, "condition": "s.tag = 'a'"},
            {"action": "delete", "condition": "s.tag = 'b'"},
            {"action": "update", "set": {"val": "'third'"}},
        ],
    )
    assert (r["rows_updated"], r["rows_deleted"]) == (2, 1)
    got = {row["k"]: row["val"] for row in read_table(spark, path).collect()}
    assert got[1] == "first" and 2 not in got and got[3] == "third"


def test_insert_values_and_star_null_fill(spark, tmp_path):
    """INSERT with an explicit values dict null-fills unnamed columns;
    INSERT * takes source values per shared column, NULL for
    target-only columns."""
    path = _base(spark, tmp_path, n=2)
    src = spark.createDataFrame([(50, 5.0), (60, -6.0)], "k long, x double")
    r = merge(
        spark, path, src, ["k"],
        not_matched=[
            {"action": "insert", "values": {"k": "s.k", "val": "'explicit'"},
             "condition": "s.x > 0"},
            {"action": "insert"},  # values=None == INSERT *
        ],
    )
    assert r["rows_inserted"] == 2
    got = {row["k"]: (row["val"], row["x"]) for row in read_table(spark, path).collect()}
    assert got[50] == ("explicit", None)   # x unnamed -> NULL
    assert got[60] == (None, -6.0)         # star: val not in source -> NULL


def test_per_target_row_semantics_on_duplicate_keys(spark, tmp_path):
    """Delta per-row semantics: two target rows sharing a key are EACH
    updated (merge_upsert's by-key replace would collapse them)."""
    path = str(tmp_path / "dup")
    append(spark, path, spark.createDataFrame(
        [(1, "a", 1.0), (1, "b", 2.0), (2, "c", 3.0)],
        "k long, val string, x double",
    ))
    r = merge(
        spark, path, spark.createDataFrame([(1, 10.0)], "k long, bump double"),
        ["k"],
        matched=[{"action": "update", "set": {"x": "t.x + s.bump"}}],
    )
    assert r["rows_updated"] == 2
    assert _rows(read_table(spark, path)) == [
        (1, "a", 11.0), (1, "b", 12.0), (2, "c", 3.0)
    ]


def test_evolve_star_expansion_adds_source_column(spark, tmp_path):
    path = _base(spark, tmp_path, n=3)
    src = spark.createDataFrame([(1, "x1"), (9, "x9")], "k long, extra string")
    r = merge(
        spark, path, src, ["k"], evolve=True,
        matched=[{"action": "update"}],   # set=None == SET *
        not_matched=[{"action": "insert"}],
    )
    assert (r["rows_updated"], r["rows_inserted"]) == (1, 1)
    got = {row["k"]: (row["val"], row["extra"]) for row in read_table(spark, path).collect()}
    assert got[1] == ("v1", "x1")      # SET *: val absent from source -> kept
    assert got[9] == (None, "x9")      # INSERT *: val -> NULL
    assert got[0] == ("v0", None)      # untouched rows read the new column as null


def test_new_table_and_evolve_gain_only_written_columns(spark, tmp_path):
    """Where merge grows the schema (no table yet, or evolve=True) the
    table gains only the source columns some clause writes: an explicit
    INSERT values list leaves the condition-only column f out, and an
    explicit SET under evolve adds only the column it names."""
    path = str(tmp_path / "fresh")
    src = spark.createDataFrame(
        [(1, "a", True), (2, "b", False)], "k long, v string, f boolean"
    )
    r = merge(
        spark, path, src, ["k"],
        not_matched=[{"action": "insert", "values": {"k": "s.k", "v": "s.v"},
                      "condition": "s.f"}],
    )
    assert r["rows_inserted"] == 1
    assert [f.name for f in txlog.table_schema(spark, path).fields] == ["k", "v"]
    assert _rows(read_table(spark, path)) == [(1, "a")]

    src = spark.createDataFrame(
        [(1, "n1", "o1", True)], "k long, n string, o string, f boolean"
    )
    r = merge(
        spark, path, src, ["k"], evolve=True,
        matched=[{"action": "update", "set": {"n": "s.n"}, "condition": "s.f"}],
    )
    assert r["rows_updated"] == 1
    assert [f.name for f in txlog.table_schema(spark, path).fields] == ["k", "v", "n"]
    assert _rows(read_table(spark, path)) == [(1, "a", "n1")]


def test_merge_validation_errors(spark, tmp_path):
    path = _base(spark, tmp_path, n=3)
    src = spark.createDataFrame([(1, 1.0)], "k long, x double")
    with pytest.raises(ValueError, match="at least one WHEN clause"):
        merge(spark, path, src, ["k"])
    with pytest.raises(ValueError, match="cannot reference the target row"):
        merge(spark, path, src, ["k"],
              not_matched=[{"action": "insert", "condition": "t.x > 0"}])
    with pytest.raises(ValueError, match="cannot reference the source row"):
        merge(spark, path, src, ["k"],
              not_matched_by_source=[{"action": "delete", "condition": "s.x > 0"}])
    with pytest.raises(ValueError, match="explicit set"):
        merge(spark, path, src, ["k"],
              not_matched_by_source=[{"action": "update"}])
    with pytest.raises(ValueError, match="unknown column"):
        merge(spark, path, src, ["k"],
              matched=[{"action": "update", "set": {"nope": "1"}}])
    with pytest.raises(ValueError, match="duplicate key tuples"):
        merge(spark, path,
              spark.createDataFrame([(1, 1.0), (1, 2.0)], "k long, x double"),
              ["k"], matched=[{"action": "update", "set": {"x": "s.x"}}])
    # a t.-lookalike inside a string literal is data, not a reference
    r = merge(spark, path, src, ["k"],
              not_matched=[{"action": "insert",
                            "values": {"k": "s.k", "val": "'t.x'"}}])
    assert r["rows_inserted"] == 0  # k=1 is matched; no clause for it


def test_no_clause_fires_commits_nothing(spark, tmp_path):
    path = _base(spark, tmp_path, n=3)
    v0 = current_version(spark, path)
    r = merge(
        spark, path, spark.createDataFrame([(99, 1.0)], "k long, x double"),
        ["k"],
        matched=[{"action": "delete"}],
        not_matched=[{"action": "insert", "condition": "s.x > 5"}],
    )
    assert r["version"] == v0 and current_version(spark, path) == v0


def test_merge_commutes_past_blind_append(spark, tmp_path, monkeypatch):
    """OCC parity with merge_upsert: a blind append re-attaches, a
    concurrent rewrite conflicts."""
    path = _base(spark, tmp_path)
    real = txlog._try_commit
    fired = {"n": 0}

    def inject(fs, p, version, payload):
        if payload.get("operation") == "merge" and fired["n"] == 0:
            fired["n"] = 1
            append(spark, path, spark.createDataFrame(
                [(500, "rival", 5.0)], "k long, val string, x double"))
        return real(fs, p, version, payload)

    monkeypatch.setattr(txlog, "_try_commit", inject)
    r = merge(
        spark, path, spark.createDataFrame([(3,)], "k long"), ["k"],
        matched=[{"action": "delete"}],
    )
    monkeypatch.setattr(txlog, "_try_commit", real)
    assert r["rows_deleted"] == 1
    got = {row["k"] for row in read_table(spark, path).collect()}
    assert 500 in got and 3 not in got


def test_merge_conflicts_with_overlapping_rewrite(spark, tmp_path, monkeypatch):
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
        merge(spark, path, spark.createDataFrame([(3,)], "k long"), ["k"],
              matched=[{"action": "delete"}])


def test_by_source_kill_sweep(spark, tmp_path, monkeypatch):
    """Crash INSIDE the commit CAS of a BY SOURCE merge: no version
    lands, the snapshot is untouched (staged parts are invisible until
    the manifest commits), and a clean retry converges."""
    path = _base(spark, tmp_path)
    v0 = current_version(spark, path)
    real = txlog._try_commit

    def boom(fs, p, version, payload):
        if payload.get("operation") == "merge":
            raise RuntimeError("injected crash before CAS")
        return real(fs, p, version, payload)

    src = spark.createDataFrame([(0,), (1,)], "k long")
    monkeypatch.setattr(txlog, "_try_commit", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        merge(spark, path, src, ["k"],
              not_matched_by_source=[{"action": "delete"}])
    monkeypatch.setattr(txlog, "_try_commit", real)
    assert current_version(spark, path) == v0
    assert read_table(spark, path).count() == 10
    r = merge(spark, path, src, ["k"],
              not_matched_by_source=[{"action": "delete"}])
    assert r["rows_deleted"] == 8
    assert sorted(row["k"] for row in read_table(spark, path).collect()) == [0, 1]


def test_expect_version_guard(spark, tmp_path):
    path = _base(spark, tmp_path, n=3)
    v0 = current_version(spark, path)
    with pytest.raises(CommitConflict, match="stale"):
        merge(spark, path, spark.createDataFrame([(1,)], "k long"), ["k"],
              matched=[{"action": "delete"}], expect_version=v0 + 5)


def test_null_safe_keys_by_source(spark, tmp_path):
    """Default ANSI keys never match NULL: a NULL-keyed target row is
    NOT MATCHED BY SOURCE; null_safe_keys=True matches it."""
    path = str(tmp_path / "nsk")
    append(spark, path, spark.createDataFrame(
        [(None, "nullrow", 0.0), (1, "v1", 1.0)], "k long, val string, x double"))
    src = spark.createDataFrame([(None, 9.0), (1, 10.0)], "k long, x double")
    r = merge(spark, path, src, ["k"], null_safe_keys=True,
              matched=[{"action": "update", "set": {"x": "s.x"}}],
              not_matched_by_source=[{"action": "delete"}])
    assert r["rows_updated"] == 2 and r["rows_deleted"] == 0
    got = {row["val"]: row["x"] for row in read_table(spark, path).collect()}
    assert got == {"nullrow": 9.0, "v1": 10.0}


# ----------------------------------------------------------------- SQL router


def test_sql_column_level_set_vs_api_twin(spark, tmp_path):
    """Twin-table oracle: the SQL column-level SET produces byte-equal
    rows to the Python API run."""
    sql_path = _base(spark, tmp_path, name="m_sql")
    api_path = _base(spark, tmp_path, name="m_api")
    register_table(spark, "m_full", sql_path)
    src = spark.createDataFrame(
        [(1, 100.0), (3, 300.0), (77, 7.0)], "k long, price double")
    src.createOrReplaceTempView("mf_src")
    r = execute_sql(spark, """
        MERGE INTO m_full AS t USING mf_src AS s ON t.k = s.k
        WHEN MATCHED AND t.x < 2 THEN UPDATE SET x = s.price, val = concat(t.val, '!')
        WHEN MATCHED THEN DELETE
        WHEN NOT MATCHED THEN INSERT (k, x) VALUES (s.k, s.price)
    """)
    assert (r["rows_updated"], r["rows_deleted"], r["rows_inserted"]) == (1, 1, 1)
    merge(
        spark, api_path, src, ["k"],
        matched=[
            {"action": "update", "condition": "t.x < 2",
             "set": {"x": "s.price", "val": "concat(t.val, '!')"}},
            {"action": "delete"},
        ],
        not_matched=[{"action": "insert", "values": {"k": "s.k", "x": "s.price"}}],
    )
    assert _rows(read_table(spark, sql_path)) == _rows(read_table(spark, api_path))
    # read-your-writes through the refreshed view
    assert spark.sql("SELECT x FROM m_full WHERE k = 1").first()[0] == 100.0


def test_sql_by_source_clauses(spark, tmp_path):
    sql_path = _base(spark, tmp_path, name="bs_sql")
    register_table(spark, "m_bys", sql_path)
    spark.createDataFrame([(0,), (1,), (2,)], "k long") \
        .createOrReplaceTempView("bys_src")
    r = execute_sql(spark, """
        MERGE INTO m_bys t USING bys_src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET val = 'seen'
        WHEN NOT MATCHED BY SOURCE AND t.x >= 8 THEN DELETE
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET val = 'stale'
    """)
    assert (r["rows_updated"], r["rows_deleted"]) == (8, 2)
    got = {row["k"]: row["val"] for row in read_table(spark, sql_path).collect()}
    assert got[0] == "seen" and got[5] == "stale" and 9 not in got


def test_sql_unqualified_resolution_and_literals(spark, tmp_path):
    """Bare identifiers resolve source-first then target; alias
    lookalikes inside string literals pass through untouched."""
    sql_path = _base(spark, tmp_path, name="uq_sql")
    register_table(spark, "m_unq", sql_path)
    spark.createDataFrame(
        [(2, True), (4, False)], "k long, flag boolean"
    ).createOrReplaceTempView("unq_src")
    # `flag` is source-only (bare -> s.flag); `x` is target-only
    # (bare -> t.x); the literal 's.k' stays a literal
    r = execute_sql(spark, """
        MERGE INTO m_unq t USING unq_src s ON t.k = s.k
        WHEN MATCHED AND flag AND x < 5 THEN UPDATE SET val = 's.k'
        WHEN MATCHED THEN UPDATE SET val = upper(val)
    """)
    assert r["rows_updated"] == 2
    got = {row["k"]: row["val"] for row in read_table(spark, sql_path).collect()}
    assert got[2] == "s.k" and got[4] == "V4"


def test_sql_positional_insert_values(spark, tmp_path):
    sql_path = _base(spark, tmp_path, name="pv_sql", n=2)
    register_table(spark, "m_pos", sql_path)
    spark.createDataFrame([(30, "n30", 3.0)], "k long, val string, x double") \
        .createOrReplaceTempView("pos_src")
    execute_sql(spark, """
        MERGE INTO m_pos t USING pos_src s ON t.k = s.k
        WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.val, s.x)
    """)
    got = {row["k"]: (row["val"], row["x"]) for row in read_table(spark, sql_path).collect()}
    assert got[30] == ("n30", 3.0)
    with pytest.raises(SqlDmlError, match="name the columns"):
        execute_sql(spark, """
            MERGE INTO m_pos t USING pos_src s ON t.k = s.k
            WHEN NOT MATCHED THEN INSERT VALUES (s.k)
        """)


def test_sql_set_parse_guards(spark, tmp_path):
    sql_path = _base(spark, tmp_path, name="pg_sql", n=2)
    register_table(spark, "m_grd", sql_path)
    spark.createDataFrame([(1, 1.0)], "k long, x double") \
        .createOrReplaceTempView("grd_src")
    with pytest.raises(SqlDmlError, match="assigns into the TARGET"):
        execute_sql(spark, """
            MERGE INTO m_grd t USING grd_src s ON t.k = s.k
            WHEN MATCHED THEN UPDATE SET s.x = 1
        """)
    with pytest.raises(SqlDmlError, match="assigned twice"):
        execute_sql(spark, """
            MERGE INTO m_grd t USING grd_src s ON t.k = s.k
            WHEN MATCHED THEN UPDATE SET x = 1, x = 2
        """)
    with pytest.raises(SqlDmlError, match="explicit SET"):
        execute_sql(spark, """
            MERGE INTO m_grd t USING grd_src s ON t.k = s.k
            WHEN NOT MATCHED BY SOURCE THEN UPDATE SET *
        """)
    # a 'WOW' literal inside a SET expression parses fine (the round-10
    # verdict's [^W]* lazy-grammar nit, closed by the full-tail parser)
    r = execute_sql(spark, """
        MERGE INTO m_grd t USING grd_src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET val = 'WOW WHEN THEN'
    """)
    assert r["rows_updated"] == 1
    assert spark.sql("SELECT val FROM m_grd WHERE k = 1").first()[0] == "WOW WHEN THEN"


def test_sql_dml_passthrough_for_catalog_tables(spark, tmp_path):
    """DML against a non-txlog table that resolves in the catalog falls
    through to spark.sql (ADVICE round-10 #4): Spark's own engine (or
    its own error), never the registration hint."""
    spark.sql("DROP TABLE IF EXISTS ct_pass")
    spark.sql(f"CREATE TABLE ct_pass (k INT, v STRING) USING parquet "
              f"LOCATION '{tmp_path / 'ct_pass'}'")
    try:
        execute_sql(spark, "INSERT INTO ct_pass VALUES (1, 'a')")
        assert spark.sql("SELECT COUNT(*) FROM ct_pass").first()[0] == 1
        # a verb parquet tables do not support surfaces SPARK's error,
        # proving the statement passed through instead of being routed
        with pytest.raises(Exception) as ei:
            execute_sql(spark, "DELETE FROM ct_pass WHERE k = 1")
        assert not isinstance(ei.value, SqlDmlError)
        # unresolvable names still get the curated hint
        with pytest.raises(SqlDmlError, match="not a registered"):
            execute_sql(spark, "DELETE FROM no_such_table_anywhere")
    finally:
        spark.sql("DROP TABLE IF EXISTS ct_pass")


def test_sql_update_where_inside_literal(spark, tmp_path):
    """ADVICE round-10 #3: UPDATE's SET/WHERE split is quote-aware — a
    ' WHERE ' inside a string literal no longer mis-splits."""
    sql_path = _base(spark, tmp_path, name="uw_sql", n=3)
    register_table(spark, "m_uw", sql_path)
    r = execute_sql(spark, "UPDATE m_uw SET val = 'a WHERE b' WHERE k = 1")
    assert r["rows_updated"] == 1
    assert spark.sql("SELECT val FROM m_uw WHERE k = 1").first()[0] == "a WHERE b"
    # and a WHERE-less UPDATE with the literal still hits every row
    r = execute_sql(spark, "UPDATE m_uw SET val = 'x WHERE y'")
    assert r["rows_updated"] == 3


def test_sql_case_when_inside_clause(spark, tmp_path):
    """Round-11 review fix: an unparenthesized CASE WHEN ... THEN ...
    END inside a clause condition or SET expression is standard SQL —
    its WHEN/THEN must not be mistaken for clause structure."""
    sql_path = _base(spark, tmp_path, name="cw_sql")
    register_table(spark, "m_case", sql_path)
    spark.createDataFrame([(1, 5.0), (2, -5.0), (50, 1.0)], "k long, p double") \
        .createOrReplaceTempView("case_src")
    r = execute_sql(spark, """
        MERGE INTO m_case t USING case_src s ON t.k = s.k
        WHEN MATCHED AND CASE WHEN s.p > 0 THEN true ELSE false END
            THEN UPDATE SET val = CASE WHEN s.p > 3 THEN 'big' ELSE 'small' END
        WHEN MATCHED THEN DELETE
        WHEN NOT MATCHED THEN INSERT (k, val) VALUES (s.k,
            CASE WHEN s.p > 0 THEN 'new+' ELSE 'new-' END)
    """)
    assert (r["rows_updated"], r["rows_deleted"], r["rows_inserted"]) == (1, 1, 1)
    got = {x["k"]: x["val"] for x in read_table(spark, sql_path).collect()}
    assert got[1] == "big" and 2 not in got and got[50] == "new+"


def test_sql_keyword_operands_and_typed_literals(spark, tmp_path):
    """EXTRACT(YEAR FROM ...) and DATE '...' survive the bare-identifier
    rewrite even when a column shares the operand's name; a bare `year`
    column reference still resolves outside the EXTRACT position."""
    path = str(tmp_path / "kw")
    append(spark, path, spark.createDataFrame(
        [(1, 2020, "2020-06-01"), (2, 2024, "2024-06-01")],
        "k long, year long, d string"))
    register_table(spark, "m_kw", path)
    spark.createDataFrame([(1,), (2,)], "k long").createOrReplaceTempView("kw_src")
    r = execute_sql(spark, """
        MERGE INTO m_kw t USING kw_src s ON t.k = s.k
        WHEN MATCHED AND EXTRACT(YEAR FROM CAST(t.d AS DATE)) = 2024
            AND year > 2021 AND CAST(t.d AS DATE) > DATE '2023-01-01'
            THEN UPDATE SET d = 'matched'
    """)
    assert r["rows_updated"] == 1
    got = {x["k"]: x["d"] for x in read_table(spark, path).collect()}
    assert got[2] == "matched" and got[1] == "2020-06-01"


def test_sql_case_variant_table_name_routes(spark, tmp_path):
    """SQL identifiers are case-insensitive: DELETE FROM ORDERS_TX must
    route to the table registered as orders_tx, not fall through to
    spark.sql's v2-table error."""
    path = _base(spark, tmp_path, name="cs_sql", n=4)
    register_table(spark, "m_casevar", path)
    r = execute_sql(spark, "DELETE FROM M_CASEVAR WHERE k = 0")
    assert r["operation"] == "delete" and r["rows_deleted"] == 1
    assert read_table(spark, path).count() == 3


def test_sql_duplicate_insert_columns_rejected(spark, tmp_path):
    path = _base(spark, tmp_path, name="dupins", n=2)
    register_table(spark, "m_dupins", path)
    spark.createDataFrame([(9, 1.0)], "k long, p double") \
        .createOrReplaceTempView("dup_src")
    with pytest.raises(SqlDmlError, match="more than once"):
        execute_sql(spark, """
            MERGE INTO m_dupins t USING dup_src s ON t.k = s.k
            WHEN NOT MATCHED THEN INSERT (k, k) VALUES (s.k, s.p)
        """)
