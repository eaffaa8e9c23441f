"""Deletion vectors (`txlog.delete_where(use_dv=True)`): delete rows
without rewriting parts — (file, row_index) vectors anti-joined out by
every reader; CDF/time-travel/compaction/vacuum/protocol interplay."""

import os

import pytest
from pyspark.sql import Row, functions as F

import es_analytics_spark.txlog as txlog
from es_analytics_spark.txlog import (
    PROTOCOL_VERSION,
    ProtocolVersionError,
    append,
    compact,
    delete_where,
    history,
    merge_upsert,
    read_table,
    restore,
    table_changes_cdf,
    vacuum,
)


def _ids(spark, lo, hi, **tags):
    df = spark.range(lo, hi).select(F.col("id").cast("long"))
    for k, v in tags.items():
        df = df.withColumn(k, F.lit(v))
    return df


def _parts_of(spark, path):
    """DATA part dirs backing the current read (the deletion-vector
    scan itself also appears in inputFiles — excluded here)."""
    got = read_table(spark, path)
    return {
        b
        for f in got.inputFiles()
        for b in [f.rsplit("/parts/", 1)[1].split("/")[0]]
        if not b.startswith("dv-")
    }


def test_dv_delete_rewrites_nothing_and_readers_filter(spark, tmp_path):
    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 100))  # v1
    before_parts = _parts_of(spark, path)
    r = delete_where(spark, path, "id % 10 = 3", use_dv=True)  # v2
    assert r["rows_deleted"] == 10
    assert r["parts_rewritten"] == 0 and r["parts_vectored"] == 1
    got = read_table(spark, path)
    assert sorted(x["id"] for x in got.collect()) == [
        i for i in range(100) if i % 10 != 3
    ]
    # the ORIGINAL part still backs the read — nothing was rewritten
    assert _parts_of(spark, path) == before_parts
    # time travel to v1 resurrects nothing it shouldn't: full snapshot
    assert read_table(spark, path, version=1).count() == 100


def test_dv_deletes_stack_and_full_part_removes_whole(spark, tmp_path):
    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 50))
    append(spark, path, _ids(spark, 50, 60))
    delete_where(spark, path, "id < 10", use_dv=True)  # partial on part 1
    delete_where(spark, path, "id >= 10 and id < 20", use_dv=True)  # stacks
    r = delete_where(spark, path, "id >= 50", use_dv=True)  # kills part 2
    assert r["parts_removed"] == 1 and r["parts_vectored"] == 0
    assert sorted(x["id"] for x in read_table(spark, path).collect()) == list(
        range(20, 50)
    )


def test_dv_cdf_parity_and_replay(spark, tmp_path):
    """A dv delete emits the same row-level CDF as a rewrite delete:
    delete rows at the commit version; replay reconstructs the table."""
    from collections import Counter

    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 30))  # v1
    delete_where(spark, path, "id < 5", use_dv=True)  # v2
    merge_upsert(
        spark, path,
        spark.createDataFrame([Row(id=7, extra=1), Row(id=99, extra=2)]).select(
            F.col("id").cast("long"), "extra"),
        keys=["id"], evolve=True,
    )  # v3 touches the DV'd part: survivors rewritten minus dv'd rows
    cdf = table_changes_cdf(spark, path, 0).collect()
    net = Counter()
    for r in cdf:
        net[(r["id"],)] += 1 if r["_change_type"] == "insert" else -1
    replayed = sorted(k[0] for k, n in net.items() if n > 0)
    assert replayed == sorted(x["id"] for x in read_table(spark, path).collect())
    # the dv delete must NOT re-emit rows already dv-deleted when the
    # merge rewrote the part (cdc reads are dv-aware)
    deletes_v3 = [r["id"] for r in cdf if r["_commit_version"] == 3 and r["_change_type"] == "delete"]
    assert deletes_v3 == [7]


def test_dv_commits_stamp_protocol_two_and_old_reader_refuses(spark, tmp_path, monkeypatch):
    import json as _json

    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 10))
    delete_where(spark, path, "id = 1", use_dv=True)
    stamps = [
        _json.loads(open(txlog._commit_path(path, v)).read()).get("protocol")
        for v in (1, 2)
    ]
    assert stamps == [1, 2]  # minimum protocol per commit, not writer max
    # an old (v1) reader must refuse the table rather than resurrect rows
    monkeypatch.setattr(txlog, "PROTOCOL_VERSION", 1)
    with pytest.raises(ProtocolVersionError, match="upgrade the engine"):
        read_table(spark, path)
    monkeypatch.setattr(txlog, "PROTOCOL_VERSION", PROTOCOL_VERSION)


def test_compact_materializes_vectors_away_and_vacuum_reaps(spark, tmp_path):
    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 100))
    delete_where(spark, path, "id % 2 = 0", use_dv=True)  # v2
    compact(spark, path)  # v3: rewrite WITHOUT the dv'd rows
    got = read_table(spark, path)
    assert got.count() == 50
    # vacuum protects the vector while referenced, reaps past retention
    append(spark, path, _ids(spark, 100, 101))  # v4 pushes history
    reaped = vacuum(spark, path, keep_versions=1, retention_seconds=0)
    assert any("/dv-" in p for p in reaped), "expired vector reaped"
    assert read_table(spark, path).count() == 51
    # time travel to the dv version is now an explicit expiry error
    with pytest.raises(txlog.VersionExpiredError):
        read_table(spark, path, version=2).count()


def test_restore_across_dv_delete_undoes_it(spark, tmp_path):
    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 20))  # v1
    delete_where(spark, path, "id < 5", use_dv=True)  # v2
    restore(spark, path, 1)  # v3: undo the dv delete
    assert read_table(spark, path).count() == 20
    restore(spark, path, 2)  # v4: redo it (re-attaches the vector)
    assert sorted(x["id"] for x in read_table(spark, path).collect()) == list(
        range(5, 20)
    )


def test_dv_and_rewrite_deletes_interleave_exactly(spark, tmp_path):
    """Mixed modes on one table: dv delete, rewrite delete on the DV'd
    part (dv-aware survivor read), then another dv delete — final state
    matches the set arithmetic exactly."""
    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 100))
    delete_where(spark, path, "id < 10", use_dv=True)
    delete_where(spark, path, "id >= 90")  # rewrite mode on a DV'd part
    delete_where(spark, path, "id % 7 = 0", use_dv=True)
    want = [i for i in range(10, 90) if i % 7 != 0]
    assert sorted(x["id"] for x in read_table(spark, path).collect()) == want


def test_dv_zone_maps_stay_valid(spark, tmp_path):
    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 100), stats_cols=["id"])
    append(spark, path, _ids(spark, 100, 200), stats_cols=["id"])
    delete_where(spark, path, "id between 40 and 60", use_dv=True)
    got = read_table(spark, path, range_filter={"id": (150, 160)})
    assert got.count() == 11
    opened = {f.rsplit("/parts/", 1)[1].split("/")[0] for f in got.inputFiles()}
    assert len(opened) == 1  # skipping unaffected by the vector
    none = read_table(spark, path, range_filter={"id": (1000, None)})
    assert none.count() == 0 and none.inputFiles() == []


def test_compact_conflicts_with_concurrent_dv_attach(spark, tmp_path, monkeypatch):
    """A dv delete landing between compact's snapshot and its CAS must
    CONFLICT the compact — re-attaching would resurrect the deleted
    rows (dv commits carry no removes, so the remove-overlap check
    alone cannot see them)."""
    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 50))
    append(spark, path, _ids(spark, 50, 100))

    real_try = txlog._try_commit
    fired = {"n": 0}

    def hijack(fs, path_, version, payload):
        if payload.get("operation") == "compact" and fired["n"] == 0:
            fired["n"] += 1
            # the racing dv delete wins the version first
            delete_where(spark, path, "id < 10", use_dv=True)
        return real_try(fs, path_, version, payload)

    monkeypatch.setattr(txlog, "_try_commit", hijack)
    with pytest.raises(txlog.CommitConflict, match="deletion vector"):
        compact(spark, path)
    monkeypatch.setattr(txlog, "_try_commit", real_try)
    # the table is intact and a clean re-run compacts fine
    assert read_table(spark, path).count() == 90
    compact(spark, path)
    assert read_table(spark, path).count() == 90


def test_checkpoint_with_dvs_stamps_protocol(spark, tmp_path, monkeypatch):
    """A checkpoint snapshotting deletion-vector state must be refused
    by a v1 reader — replay starts AFTER the protocol-2 commit, so the
    checkpoint itself has to carry the guard."""
    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 20))
    delete_where(spark, path, "id < 5", use_dv=True)
    txlog.checkpoint(spark, path)
    assert read_table(spark, path).count() == 15  # current reader fine
    monkeypatch.setattr(txlog, "PROTOCOL_VERSION", 1)
    with pytest.raises(ProtocolVersionError, match="checkpoint"):
        read_table(spark, path)
    monkeypatch.setattr(txlog, "PROTOCOL_VERSION", PROTOCOL_VERSION)


def test_whole_part_dv_delete_stays_protocol_one(spark, tmp_path):
    import json as _json

    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 10))
    append(spark, path, _ids(spark, 10, 20))
    delete_where(spark, path, "id < 10", use_dv=True)  # kills part 1 whole
    c = _json.loads(open(txlog._commit_path(path, 3)).read())
    assert "dv" not in c and c["protocol"] == 1  # minimum stamping


def test_restore_reattaching_dvs_stamps_protocol_two(spark, tmp_path):
    import json as _json

    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 20))  # v1
    delete_where(spark, path, "id < 5", use_dv=True)  # v2 (dv)
    restore(spark, path, 1)  # v3: clean state, protocol 1
    restore(spark, path, 2)  # v4: re-attaches the vector
    stamps = {
        v: _json.loads(open(txlog._commit_path(path, v)).read()).get("protocol")
        for v in (3, 4)
    }
    assert stamps == {3: 1, 4: 2}
    assert read_table(spark, path).count() == 15


def test_dv_identity_survives_basename_collision(spark, tmp_path):
    """Deletion-vector row identity is '<part-uuid>/<file>' — a key the
    module mints itself — so a parquet-file BASENAME shared by two part
    directories (Spark's task-file naming is not a uniqueness contract
    this module may lean on) cannot anti-join live rows out of the
    wrong part."""
    import shutil

    path = str(tmp_path / "t")
    append(spark, path, spark.range(0, 100).coalesce(1))  # v1: part A
    append(spark, path, spark.range(100, 200).coalesce(1))  # v2: part B
    parts = sorted(
        os.path.join(path, "parts", d)
        for d in os.listdir(os.path.join(path, "parts"))
    )
    assert len(parts) == 2
    files = [
        sorted(f for f in os.listdir(p) if f.endswith(".parquet"))
        for p in parts
    ]
    assert all(len(f) == 1 for f in files)
    # force the collision: give B's data file A's basename
    if files[0][0] != files[1][0]:
        src = os.path.join(parts[1], files[1][0])
        dst = os.path.join(parts[1], files[0][0])
        shutil.move(src, dst)
        crc = os.path.join(parts[1], "." + files[1][0] + ".crc")
        if os.path.exists(crc):
            os.remove(crc)
    r = delete_where(spark, path, "id < 50", use_dv=True)  # hits part A only
    assert r["rows_deleted"] == 50 and r["parts_vectored"] == 1
    got = sorted(x["id"] for x in read_table(spark, path).collect())
    # basename-keyed vectors would also have erased B's ids 100..149
    # (same file name, same row indices)
    assert got == list(range(50, 200))


def test_reserved_provenance_columns_rejected_at_write(spark, tmp_path):
    from es_analytics_spark.txlog import SchemaMismatchError, overwrite_table

    path = str(tmp_path / "t")
    for bad in ("_f_path", "_f_name", "_f_idx", "_change_type", "_commit_version"):
        df = spark.range(0, 5).withColumn(bad, F.lit("x"))
        with pytest.raises(SchemaMismatchError, match="reserved"):
            append(spark, path, df)
        with pytest.raises(SchemaMismatchError, match="reserved"):
            overwrite_table(spark, path, df, replace_schema=True)
    # clean writes still fine
    append(spark, path, _ids(spark, 0, 5))


def test_legacy_reserved_column_table_refused_at_read(spark, tmp_path):
    """A table whose committed schema predates the reserved-name guard
    (hand-built commit here) must fail delete/merge matching LOUDLY —
    the old behavior silently replaced the user's column with file
    metadata and matched rows against the wrong data."""
    from es_analytics_spark.sources.fsio import LocalFS
    from es_analytics_spark.txlog import SchemaMismatchError, _commit_path, _try_commit

    path = str(tmp_path / "t")
    df = spark.range(0, 10).withColumn("_f_name", F.lit("user-data"))
    part = os.path.join(path, "parts", "legacy")
    df.write.parquet(part)
    payload = {
        "operation": "append",
        "adds": [{"path": part, "partition": {}}],
        "removes": [],
        "schema": df.schema.jsonValue(),
    }
    assert _try_commit(LocalFS(), path, 1, payload)
    with pytest.raises(SchemaMismatchError, match="_f_name"):
        delete_where(spark, path, "id < 5")
    with pytest.raises(SchemaMismatchError, match="_f_name"):
        merge_upsert(spark, path, spark.range(0, 3), keys=["id"])


def test_vacuum_keeps_vectors_of_a_part_removed_inside_the_window(spark, tmp_path):
    """A vector's last reference is the commit that removes its data
    part, not the one that attached it: version 4 below reads part v1
    through the v2 vector, so vacuum(keep_versions=2) at v5 must keep
    that vector for read_table(version=4)."""
    p = str(tmp_path / "t")
    append(spark, p, _ids(spark, 0, 10))  # v1
    assert delete_where(spark, p, "id = 3", use_dv=True)["parts_rewritten"] == 0  # v2
    append(spark, p, _ids(spark, 10, 20))  # v3
    append(spark, p, _ids(spark, 20, 30))  # v4
    delete_where(spark, p, "id < 10")  # v5 removes the v1 part and its vector
    want = sorted(r.id for r in read_table(spark, p, version=4).collect())
    assert want == [i for i in range(30) if i != 3]

    vacuum(spark, p, keep_versions=2, retention_seconds=0)
    got = sorted(r.id for r in read_table(spark, p, version=4).collect())
    assert got == want
    assert sorted(r.id for r in read_table(spark, p).collect()) == list(range(10, 30))
    # past the window the part and its vector expire together
    append(spark, p, _ids(spark, 30, 31))  # v6
    append(spark, p, _ids(spark, 31, 32))  # v7
    reaped = vacuum(spark, p, keep_versions=2, retention_seconds=0)
    assert any("/dv-" in r for r in reaped), reaped
    with pytest.raises(txlog.VersionExpiredError):
        read_table(spark, p, version=4)

    # the same when the attaching commit was folded into a checkpoint
    # and reaped by log retention: the vector is known from the live set
    q = str(tmp_path / "q")
    append(spark, q, _ids(spark, 0, 10))  # v1
    delete_where(spark, q, "id = 3", use_dv=True)  # v2
    txlog.checkpoint(spark, q)
    assert txlog.clean_log(spark, q)["cut"] == 2
    append(spark, q, _ids(spark, 10, 20))  # v3
    delete_where(spark, q, "id < 10")  # v4
    vacuum(spark, q, keep_versions=2, retention_seconds=0)
    assert sorted(r.id for r in read_table(spark, q, version=3).collect()) == [
        i for i in range(20) if i != 3
    ]
