"""Multi-writer transaction-log tests (the sweeps txlog.py promises).

Covers the OCC commit protocol end to end: CAS contention with real
concurrent writers, the conflict rules (append commutes, compact and
overwrite_partition validate their removes/scope), crash sweeps at the
part-write/CAS boundary, the vacuum-vs-in-flight-writer race that the
round-6 review reproduced as permanent table corruption (now guarded by
the retention horizon), checkpoint-bounded replay with time travel, and
the enriched-view refresh from raw files, exactly once under two
racing writers.

Reference contract being promoted to the commit path: write-once
``Store.put`` — every object lands under a fresh key and is never
mutated (/root/reference/lib/store/Store.ts:4-8).
"""

from __future__ import annotations

import json
import os
import threading
import time

import pytest
from pyspark.sql import functions as F

from es_analytics_spark import txlog
from es_analytics_spark.txlog import (
    CommitConflict,
    _commit_path,
    _part_dir,
    _try_commit,
    _write_part,
    append,
    checkpoint,
    compact,
    current_version,
    history,
    overwrite_partition,
    read_table,
    table_changes,
    table_sources,
    vacuum,
)
from es_analytics_spark.sources.fsio import LocalFS, join as fs_join, lake_fs


def _ids(spark, lo, hi, **tags):
    df = spark.range(lo, hi).select(F.col("id").cast("long"))
    for k, v in tags.items():
        df = df.withColumn(k, F.lit(v))
    return df


# ---------------------------------------------------------------------------
# core protocol
# ---------------------------------------------------------------------------


def test_append_read_history_time_travel(spark, tmp_path):
    path = str(tmp_path / "t")
    r1 = append(spark, path, _ids(spark, 0, 10))
    r2 = append(spark, path, _ids(spark, 10, 30))
    assert (r1["version"], r2["version"]) == (1, 2)
    assert current_version(spark, path) == 2
    assert read_table(spark, path).count() == 30
    # snapshot isolation: v1 still reads exactly the first part
    assert sorted(r["id"] for r in read_table(spark, path, version=1).collect()) == list(range(10))
    h = history(spark, path)
    assert [x["version"] for x in h] == [1, 2]
    assert all(x["operation"] == "append" for x in h)
    with pytest.raises(FileNotFoundError, match="no commit v9"):
        read_table(spark, path, version=9)


def test_partition_pruning_reads_only_tagged_parts(spark, tmp_path):
    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 5, d="a"), partition={"d": "a"})
    append(spark, path, _ids(spark, 5, 9, d="b"), partition={"d": "b"})
    got = read_table(spark, path, partition_filter={"d": "b"})
    assert sorted(r["id"] for r in got.collect()) == [5, 6, 7, 8]
    # the pruned plan opens only the matching part directory
    files = {
        f.rsplit("/parts/", 1)[1].split("/")[0]
        for f in got.inputFiles()
    }
    assert len(files) == 1


def test_two_writer_append_stress_serializes_versions(spark, tmp_path):
    """The docstring-promised two-writer stress: concurrent blind
    appends from multiple threads must serialize into a gap-free
    version sequence with every row exactly once — and the snapshot
    replay itself validates the whole history (a violated conflict
    rule raises during read)."""
    path = str(tmp_path / "t")
    n_writers, per_writer = 4, 3
    errs: list[Exception] = []

    def writer(w):
        try:
            for i in range(per_writer):
                lo = (w * per_writer + i) * 100
                append(spark, path, _ids(spark, lo, lo + 100))
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(n_writers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    total = n_writers * per_writer
    assert [h["version"] for h in history(spark, path)] == list(range(1, total + 1))
    df = read_table(spark, path)
    assert df.count() == total * 100
    assert df.select("id").distinct().count() == total * 100
    # every intermediate snapshot replays cleanly (validated removes)
    for v in (1, total // 2, total):
        assert read_table(spark, path, version=v).count() == v * 100


def test_append_reattaches_after_cas_loss(spark, tmp_path, monkeypatch):
    """Blind appends commute: when a competing commit steals our
    version number, the append re-attaches at the next version without
    rewriting its part."""
    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 10))
    orig = txlog._try_commit
    state = {"stolen": False}

    def hooked(fs, p, version, payload):
        if not state["stolen"]:
            state["stolen"] = True
            competing = {
                "operation": "append",
                "adds": [],
                "removes": [],
                "scope_partition": None,
            }
            assert orig(fs, p, version, competing)
        return orig(fs, p, version, payload)

    monkeypatch.setattr(txlog, "_try_commit", hooked)
    r = append(spark, path, _ids(spark, 10, 20))
    assert r["version"] == 3  # competitor took v2
    assert read_table(spark, path).count() == 20


# ---------------------------------------------------------------------------
# compact
# ---------------------------------------------------------------------------


def test_compact_merges_per_partition_and_preserves_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    for i in range(3):
        append(spark, path, _ids(spark, i * 10, (i + 1) * 10, d="a"), partition={"d": "a"})
    append(spark, path, _ids(spark, 100, 110, d="b"), partition={"d": "b"})
    r = compact(spark, path)
    assert r == {
        "version": 5, "parts_before": 4, "parts_after": 2, "skipped_groups": 0,
    }
    assert read_table(spark, path).count() == 40
    assert read_table(spark, path, partition_filter={"d": "a"}).count() == 30
    # time travel across the compact boundary still works
    assert read_table(spark, path, version=3).count() == 30


def test_compact_bin_packs_instead_of_single_task(spark, tmp_path):
    """Round-6 review: compact must NOT rewrite a partition group with
    coalesce(1) — at scale that is a single-task multi-GB write. With a
    small target_file_bytes, one group's rewrite must emit multiple
    files sized by the bytes-per-row estimate."""
    path = str(tmp_path / "t")
    wide = spark.range(0, 20000).select(
        "id", F.sha2(F.col("id").cast("string"), 256).alias("payload")
    )
    append(spark, path, wide)
    append(spark, path, spark.range(20000, 20010).select(
        "id", F.sha2(F.col("id").cast("string"), 256).alias("payload")))
    before_bytes = sum(
        s
        for p in txlog._snapshot(lake_fs(spark, path), path)[1]
        for s in LocalFS().file_sizes(p, ".parquet")
    )
    target = max(before_bytes // 4, 1)
    compact(spark, path, target_file_bytes=int(target))
    _, live = txlog._snapshot(lake_fs(spark, path), path)
    assert len(live) == 1
    (part,) = live
    n_files = len(LocalFS().file_sizes(part, ".parquet"))
    assert n_files >= 3, f"expected bin-packed multi-file rewrite, got {n_files}"
    assert read_table(spark, path).count() == 20010


def test_compact_conflict_when_concurrent_commit_removed_our_parts(
    spark, tmp_path, monkeypatch
):
    """Conflict rule: compact re-attaches only if no intervening commit
    removed a part from its snapshot. A competing commit that already
    removed one must force CommitConflict (recording ours would corrupt
    replay — validated by _snapshot)."""
    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 10))
    append(spark, path, _ids(spark, 10, 20))
    orig = txlog._try_commit
    state = {"stolen": False}

    def hooked(fs, p, version, payload):
        if payload.get("operation") == "compact" and not state["stolen"]:
            state["stolen"] = True
            competing = {
                "operation": "compact",
                "adds": [{"path": a["path"], "partition": {}} for a in payload["adds"]],
                "removes": payload["removes"],
                "scope_partition": None,
            }
            assert orig(fs, p, version, competing)
        return orig(fs, p, version, payload)

    monkeypatch.setattr(txlog, "_try_commit", hooked)
    with pytest.raises(CommitConflict, match="already removed"):
        compact(spark, path)
    # table unharmed; replay still validates
    assert read_table(spark, path).count() == 20


def test_concurrent_compacts_leave_consistent_table(spark, tmp_path):
    """Two real concurrent compacts: at most one wins; a loser either
    re-attaches safely or raises CommitConflict — never a corrupt log."""
    path = str(tmp_path / "t")
    for i in range(4):
        append(spark, path, _ids(spark, i * 10, (i + 1) * 10))
    results: list = [None, None]

    def run(i):
        try:
            results[i] = compact(spark, path)
        except CommitConflict as e:
            results[i] = e

    threads = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert any(isinstance(r, dict) for r in results)
    assert read_table(spark, path).count() == 40
    history(spark, path)  # replays clean


# ---------------------------------------------------------------------------
# overwrite_partition
# ---------------------------------------------------------------------------


def test_overwrite_partition_exact_tag_semantics(spark, tmp_path):
    """Round-6 review: 'tagged exactly P' is tag-dict EQUALITY — a part
    tagged {d:a, h:2} and an untagged append are NOT removed by
    overwrite {d:a}."""
    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 5, d="a"), partition={"d": "a"})
    # columns differ between these appends — explicit additive evolution
    append(
        spark, path, _ids(spark, 5, 8, d="a", h=2),
        partition={"d": "a", "h": 2}, evolve=True,
    )
    append(spark, path, _ids(spark, 8, 10), evolve=True)  # untagged
    r = overwrite_partition(
        spark, path, _ids(spark, 100, 103, d="a"), {"d": "a"}, evolve=True
    )
    assert r["removed_parts"] == 1
    got = sorted(x["id"] for x in read_table(spark, path).select("id").collect())
    assert got == [5, 6, 7, 8, 9, 100, 101, 102]
    with pytest.raises(ValueError, match="non-empty"):
        overwrite_partition(spark, path, _ids(spark, 0, 1), {})


def test_overwrite_conflicts_same_partition_merges_disjoint(
    spark, tmp_path, monkeypatch
):
    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 5, d="a"), partition={"d": "a"})
    append(spark, path, _ids(spark, 5, 9, d="b"), partition={"d": "b"})
    orig = txlog._try_commit
    state = {"mode": None, "stolen": False}

    def hooked(fs, p, version, payload):
        if payload.get("operation") == "overwrite_partition" and not state["stolen"]:
            state["stolen"] = True
            competing = {
                "operation": "append",
                "adds": [{"path": "unused", "partition": state["mode"]}],
                "removes": [],
                "scope_partition": state["mode"],
            }
            assert orig(fs, p, version, competing)
        return orig(fs, p, version, payload)

    monkeypatch.setattr(txlog, "_try_commit", hooked)
    # competing add in a DISJOINT partition -> merges at a later version
    state.update(mode={"d": "zzz"}, stolen=False)
    r = overwrite_partition(spark, path, _ids(spark, 100, 102, d="b"), {"d": "b"})
    assert r["removed_parts"] == 1
    # competing add in the SAME partition -> CommitConflict
    state.update(mode={"d": "a"}, stolen=False)
    with pytest.raises(CommitConflict, match="touched"):
        overwrite_partition(spark, path, _ids(spark, 200, 202, d="a"), {"d": "a"})


# ---------------------------------------------------------------------------
# crash + vacuum sweeps
# ---------------------------------------------------------------------------


def test_crash_between_part_write_and_cas_is_invisible(spark, tmp_path, monkeypatch):
    """Kill sweep at the part-write/CAS boundary: the writer dies after
    staging its part but before the CAS. No reader ever observes the
    orphan; the log is untouched; a retention-respecting vacuum leaves
    the fresh orphan alone (it is indistinguishable from an in-flight
    writer) and a quiescent-table vacuum reaps it."""
    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 10))

    def crash(fs, p, version, payload):
        raise RuntimeError("simulated crash before CAS")

    monkeypatch.setattr(txlog, "_try_commit", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        append(spark, path, _ids(spark, 10, 20))
    monkeypatch.undo()

    assert current_version(spark, path) == 1
    assert read_table(spark, path).count() == 10
    orphans = [
        p
        for p in LocalFS().glob(fs_join(_part_dir(path), "*"))
        if p not in txlog._snapshot(lake_fs(spark, path), path)[1]
    ]
    assert len(orphans) == 1
    # default retention: the fresh orphan might be an in-flight writer
    assert vacuum(spark, path) == []
    assert os.path.exists(orphans[0])
    # explicit quiescent override reaps it
    assert vacuum(spark, path, retention_seconds=0) == orphans
    assert not os.path.exists(orphans[0])
    assert read_table(spark, path).count() == 10


def test_vacuum_does_not_corrupt_in_flight_writer(spark, tmp_path):
    """THE round-6 corruption repro, now fixed: writer A stages its part;
    vacuum runs; A wins the CAS. With the retention horizon the staged
    part survives vacuum, so A's commit references live data and every
    later read succeeds (previously: PATH_NOT_FOUND forever)."""
    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 10))
    fs = lake_fs(spark, path)
    # writer A: part staged, CAS not yet attempted
    part = _write_part(spark, path, _ids(spark, 10, 25))
    # concurrent maintenance vacuum (default retention)
    assert vacuum(spark, path) == []
    assert os.path.exists(part)
    # writer A wins its CAS
    payload = {
        "operation": "append",
        "adds": [{"path": part, "partition": {}}],
        "removes": [],
        "scope_partition": None,
    }
    assert _try_commit(fs, path, 2, payload)
    assert read_table(spark, path).count() == 25
    assert read_table(spark, path, version=2).count() == 25


def test_vacuum_reaps_aged_orphans_and_respects_keep_versions(spark, tmp_path):
    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 10))
    append(spark, path, _ids(spark, 10, 20))
    compact(spark, path)  # v3: the two original parts become time-travel-only
    # orphan from a crashed writer, backdated past the horizon
    orphan = _write_part(spark, path, _ids(spark, 99, 100))
    old = time.time() - 7 * 24 * 3600
    os.utime(orphan, (old, old))
    reaped = vacuum(spark, path, retention_seconds=3600)
    assert reaped == [orphan]
    # time travel still works: removed-but-referenced parts were kept
    assert read_table(spark, path, version=2).count() == 20
    # bounded retention: once the log advances past them, parts whose
    # last reference is older than the newest keep_versions are dropped
    append(spark, path, _ids(spark, 20, 30))  # v4
    reaped2 = vacuum(spark, path, keep_versions=1, retention_seconds=3600)
    assert len(reaped2) == 2
    assert read_table(spark, path).count() == 30  # latest unaffected


def test_torn_commit_staging_never_observed(spark, tmp_path):
    """Kill sweep inside put_if_absent: a crash after staging the tmp
    commit file but before the link leaves v*.json.tmp-* debris that the
    version listing must ignore, and later commits proceed normally."""
    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 10))
    debris = _commit_path(path, 2) + ".tmp-deadbeef"
    with open(debris, "w") as f:
        f.write(json.dumps({"operation": "append", "adds": [], "removes": []}))
    assert current_version(spark, path) == 1
    r = append(spark, path, _ids(spark, 10, 20))
    assert r["version"] == 2
    assert read_table(spark, path).count() == 20


def test_snapshot_detects_gap_and_invalid_remove(spark, tmp_path):
    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 10))
    append(spark, path, _ids(spark, 10, 20))
    fs = lake_fs(spark, path)
    # a commit removing a never-live part = violated conflict protocol
    bad = {"operation": "compact", "adds": [], "removes": ["/nope"], "scope_partition": None}
    assert _try_commit(fs, path, 3, bad)
    with pytest.raises(RuntimeError, match="non-live part"):
        read_table(spark, path)
    # a gap in the version sequence = corrupt log, loudly
    os.remove(_commit_path(path, 2))
    with pytest.raises(RuntimeError, match="missing commits"):
        read_table(spark, path)


# ---------------------------------------------------------------------------
# checkpoint
# ---------------------------------------------------------------------------


def test_checkpoint_bounds_replay_and_keeps_time_travel(spark, tmp_path):
    path = str(tmp_path / "t")
    for i in range(5):
        append(spark, path, _ids(spark, i * 10, (i + 1) * 10))
    ck = checkpoint(spark, path)
    assert ck == {"version": 5, "written": True, "chunks_written": 0}
    # idempotent race: second checkpoint at the same version is a no-op
    assert checkpoint(spark, path) == {"version": 5, "written": False, "chunks_written": 0}
    append(spark, path, _ids(spark, 50, 60))
    assert read_table(spark, path).count() == 60
    # pre-checkpoint time travel replays from v1 (commits never deleted)
    assert read_table(spark, path, version=2).count() == 20
    # post-checkpoint snapshot replays from the checkpoint
    assert read_table(spark, path, version=5).count() == 50
    assert checkpoint(spark, str(tmp_path / "empty")) == {"version": 0, "written": False}


# ---------------------------------------------------------------------------
# mixed-operation stress: serializable history under real contention
# ---------------------------------------------------------------------------


def test_mixed_two_writer_stress_history_replays_clean(spark, tmp_path):
    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 10, d="a"), partition={"d": "a"})
    append(spark, path, _ids(spark, 10, 20, d="b"), partition={"d": "b"})
    errs: list[Exception] = []

    def appender():
        try:
            for i in range(3):
                append(
                    spark, path,
                    _ids(spark, 1000 + i * 10, 1010 + i * 10, d="a"),
                    partition={"d": "a"},
                )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    def compactor():
        for _ in range(3):
            try:
                compact(spark, path)
            except CommitConflict:
                pass  # legal outcome under contention; retryable

    threads = [threading.Thread(target=appender), threading.Thread(target=compactor)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    # full-history replay validates every commit's removes in order
    latest = current_version(spark, path)
    for v in range(1, latest + 1):
        read_table(spark, path, version=v)
    df = read_table(spark, path)
    assert df.count() == 50
    assert df.select("id").distinct().count() == 50


# ---------------------------------------------------------------------------
# put_if_absent primitive (both FS implementations)
# ---------------------------------------------------------------------------


def test_local_put_if_absent_single_winner_under_contention(tmp_path):
    fs = LocalFS()
    target = str(tmp_path / "x" / "v1.json")
    wins: list[int] = []

    def racer(i):
        if fs.put_if_absent(target, f"writer-{i}".encode()):
            wins.append(i)

    threads = [threading.Thread(target=racer, args=(i,)) for i in range(16)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(wins) == 1
    assert fs.read_bytes(target).decode() == f"writer-{wins[0]}"
    # no staged tmp debris leaks
    assert [p for p in os.listdir(tmp_path / "x") if ".tmp-" in p] == []


def test_hadoop_put_if_absent_over_file_uri(spark, tmp_path):
    """The JVM-side CAS (FileContext.rename without OVERWRITE) through a
    real Hadoop FileSystem: winner/loser semantics, exception matched by
    Java class (not message text), and no tmp leak on either path."""
    from es_analytics_spark.sources.fsio import HadoopFS

    uri = f"file://{tmp_path}/cas/v1.json"
    fs = lake_fs(spark, uri)
    assert isinstance(fs, HadoopFS)
    assert fs.put_if_absent(uri, b"first") is True
    assert fs.put_if_absent(uri, b"second") is False
    assert fs.read_bytes(uri) == b"first"
    assert [p for p in os.listdir(tmp_path / "cas") if ".tmp-" in p] == []
    # _is_already_exists must not fire on arbitrary 'exists' message text
    assert HadoopFS._is_already_exists(RuntimeError("path exists somewhere")) is False


# ---------------------------------------------------------------------------
# enriched view refreshed from raw files (incremental.refresh_enriched_view)
# ---------------------------------------------------------------------------


def _seed_sources(spark, src: str, n_files: int = 2, rows_per: int = 50) -> str:
    for i in range(n_files):
        spark.range(i * rows_per, (i + 1) * rows_per).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ).coalesce(1).write.parquet(f"{src}/f{i}")
    return f"{src}/f*/*.parquet"


def test_refresh_enriched_view_tx_incremental(spark, tmp_path):
    """The enriched-view lifecycle on txlog: first refresh = full
    build, second = increment only, no-op refresh reads nothing, time
    travel via read_table versions."""
    from es_analytics_spark.incremental import refresh_enriched_view

    src, view = str(tmp_path / "src"), str(tmp_path / "view")
    glob_pat = _seed_sources(spark, src, n_files=2)

    def enrich(df):
        return df.withColumn("v3", F.col("v") * 3)

    r1 = refresh_enriched_view(spark, glob_pat, view, enrich)
    assert (r1["new_files"], r1["total_files"], r1["version"]) == (2, 2, 1)
    assert read_table(spark, view).count() == 100

    spark.range(100, 130).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).coalesce(1).write.parquet(f"{src}/f9")
    r2 = refresh_enriched_view(spark, glob_pat, view, enrich)
    assert (r2["new_files"], r2["total_files"], r2["version"]) == (1, 3, 2)
    assert read_table(spark, view).count() == 130
    assert read_table(spark, view, version=1).count() == 100
    # enrich actually applied
    assert read_table(spark, view).filter(F.col("v3") != F.col("v") * 3).count() == 0

    r3 = refresh_enriched_view(spark, glob_pat, view, enrich)
    assert r3 == {"new_files": 0, "total_files": 3, "version": 2}
    assert table_sources(spark, view) == set(
        lake_fs(spark, glob_pat).glob(glob_pat)
    )


def test_refresh_tx_two_writers_exactly_once(spark, tmp_path):
    """The two-writer refresh a single mutable manifest fails: both
    writers see the same new source files; exactly one incorporates
    them. The loser conflicts on source overlap, re-reads the seen set,
    and no-ops — the view never double-counts an increment."""
    from es_analytics_spark.incremental import refresh_enriched_view

    src, view = str(tmp_path / "src"), str(tmp_path / "view")
    glob_pat = _seed_sources(spark, src, n_files=3)
    barrier = threading.Barrier(2)
    results: list = [None, None]
    errs: list[Exception] = []

    def refresher(i):
        try:
            barrier.wait()
            results[i] = refresh_enriched_view(
                spark, glob_pat, view, lambda df: df
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=refresher, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    # exactly-once: 150 rows total, never 300
    assert read_table(spark, view).count() == 150
    assert sorted(r["new_files"] for r in results) == [0, 3]
    # every source incorporated by exactly one commit
    srcs = [
        s
        for h in range(1, current_version(spark, view) + 1)
        for s in txlog._read_commit(lake_fs(spark, view), view, h).get("sources", [])
    ]
    assert len(srcs) == len(set(srcs)) == 3


def test_table_changes_insert_only_feed(spark, tmp_path):
    """CDC read: (from, to] deltas are exactly the appended rows;
    compaction rewrites are NOT re-fed; overwrite replacements ARE new
    content; parts added-and-removed inside the window vanish."""
    from es_analytics_spark.txlog import table_changes

    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 10))  # v1
    append(spark, path, _ids(spark, 10, 30))  # v2
    got = sorted(r["id"] for r in table_changes(spark, path, 1, 2).collect())
    assert got == list(range(10, 30))
    assert table_changes(spark, path, 0).count() == 30

    compact(spark, path)  # v3: pure rewrite — feeds nothing
    assert table_changes(spark, path, 2).count() == 0
    assert table_changes(spark, path, 2).columns == ["id"]  # schema-stable

    append(
        spark, path, _ids(spark, 30, 35, d="a"), partition={"d": "a"}, evolve=True
    )  # v4: adds column d
    overwrite_partition(spark, path, _ids(spark, 100, 103, d="a"), {"d": "a"})  # v5
    # v4's part was added AND removed inside (3, 5] — only v5's
    # replacement rows are new content
    got = sorted(r["id"] for r in table_changes(spark, path, 3).collect())
    assert got == [100, 101, 102]
    with pytest.raises(FileNotFoundError, match="latest committed"):
        table_changes(spark, path, 2, 99)


def test_table_changes_bootstrap_across_compaction(spark, tmp_path):
    """Round-7 review's confirmed bug: a window spanning append(s)
    followed by a compact used to return an EMPTY feed — the compact's
    removes popped the in-window adds while its own adds were excluded.
    Compact commits are now skipped entirely (pure rewrite, no content
    change), so a bootstrapping or lagging consumer sees every row."""
    from es_analytics_spark.txlog import table_changes

    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 10))  # v1
    append(spark, path, _ids(spark, 10, 20))  # v2
    compact(spark, path)  # v3
    assert read_table(spark, path).count() == 20
    # bootstrap from zero across the compaction: all 20 rows, exactly once
    got = sorted(r["id"] for r in table_changes(spark, path, 0).collect())
    assert got == list(range(20))
    # lagging consumer catching up across the compaction
    got = sorted(r["id"] for r in table_changes(spark, path, 1).collect())
    assert got == list(range(10, 20))
    # cursor-following consumer that already saw v1+v2: compact feeds nothing
    assert table_changes(spark, path, 2).count() == 0
    # the ADVICE-prescribed minimal shape: append (v1), compact (v2)
    path2 = str(tmp_path / "t2")
    append(spark, path2, _ids(spark, 0, 7))
    compact(spark, path2)  # single-part table: compact is a no-op commit-wise
    append(spark, path2, _ids(spark, 7, 9))
    compact(spark, path2)
    got = sorted(r["id"] for r in table_changes(spark, path2, 0).collect())
    assert got == list(range(9))


def test_expired_history_raises_clear_error(spark, tmp_path):
    """Time travel / change feeds needing vacuum-reaped parts fail at
    PLAN time with VersionExpiredError naming the retention cause —
    never an executor PATH_NOT_FOUND mid-query."""
    from es_analytics_spark.txlog import VersionExpiredError, table_changes

    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 10))  # v1
    append(spark, path, _ids(spark, 10, 20))  # v2
    compact(spark, path)  # v3: v1/v2 parts now historical
    append(spark, path, _ids(spark, 20, 25))  # v4
    reaped = vacuum(spark, path, keep_versions=1, retention_seconds=0)
    assert len(reaped) == 2  # the two pre-compact parts
    # latest snapshot is untouched
    assert read_table(spark, path).count() == 25
    with pytest.raises(VersionExpiredError, match="expired"):
        read_table(spark, path, version=2)
    with pytest.raises(VersionExpiredError, match="expired"):
        table_changes(spark, path, 0).collect()
    # windows not needing reaped parts still work
    got = sorted(r["id"] for r in table_changes(spark, path, 3).collect())
    assert got == list(range(20, 25))


def test_schema_in_commit_validation_and_evolution(spark, tmp_path):
    """Round-7 review design gap: drifted appends used to be accepted
    with sample-dependent read semantics. Now the commit records the
    table schema; drift is deterministic BOTH ways — rejected without
    evolve=True, additive-with-nulls with it; type changes never."""
    from es_analytics_spark.txlog import SchemaMismatchError, table_schema

    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 10))  # schema: (id long)
    # (a) reject: new column without evolve
    with pytest.raises(SchemaMismatchError, match="evolve=True"):
        append(spark, path, _ids(spark, 10, 20, d="x"))
    # nothing was committed, and no orphan part was even written
    assert current_version(spark, path) == 1
    # (b) evolve: new column appends as nullable; old parts read as null
    append(spark, path, _ids(spark, 10, 20, d="x"), evolve=True)
    assert [f.name for f in table_schema(spark, path).fields] == ["id", "d"]
    got = read_table(spark, path)
    assert got.columns == ["id", "d"]
    assert got.filter(F.col("d").isNull()).count() == 10  # deterministic nulls
    # omitted column with evolve: reads as null for that part
    append(spark, path, _ids(spark, 20, 25), evolve=True)
    assert read_table(spark, path).filter(F.col("d").isNull()).count() == 15
    # (c) type change is never allowed, even with evolve
    bad = spark.range(0, 3).select(F.col("id").cast("string"))
    with pytest.raises(SchemaMismatchError, match="never"):
        append(spark, path, bad, evolve=True)
    # (d) compact normalizes old parts to the evolved schema and keeps it
    compact(spark, path)
    assert [f.name for f in table_schema(spark, path).fields] == ["id", "d"]
    assert read_table(spark, path).filter(F.col("d").isNull()).count() == 15
    # time travel reads with the schema as-of that version
    assert read_table(spark, path, version=1).columns == ["id"]


def test_changes_since_cursor_and_incremental_rollup(spark, tmp_path):
    """The change-feed consumer lifecycle the round-7 verdict asked to
    prove: a downstream per-partition rollup maintained ONLY from
    iter_changes equals a full recompute at EVERY version — across
    appends, an overwrite, and a compaction (the table_changes fix
    makes the compaction leg provable)."""
    from es_analytics_spark.txlog import changes_since, iter_changes

    path = str(tmp_path / "t")

    def full_rollup():
        return {
            (r["d"], ): (r["n"], r["s"])
            for r in read_table(spark, path)
            .groupBy("d")
            .agg(F.count("*").alias("n"), F.sum("id").alias("s"))
            .collect()
        }

    state: dict[tuple, tuple] = {}
    cursor = 0

    def consume():
        nonlocal cursor
        latest = current_version(spark, path)
        for ch in iter_changes(spark, path, cursor):
            rows = (
                ch["df"].groupBy("d").agg(F.count("*").alias("n"), F.sum("id").alias("s")).collect()
                if ch["df"] is not None
                else []
            )
            if ch["operation"] == "overwrite_partition":
                scope = ch["scope_partition"]["d"]
                state.pop((scope,), None)
            for r in rows:
                k = (r["d"],)
                n0, s0 = state.get(k, (0, 0))
                state[k] = (n0 + r["n"], s0 + r["s"])
        cursor = latest

    append(spark, path, _ids(spark, 0, 10, d="a"), partition={"d": "a"})
    consume()
    assert state == full_rollup() and cursor == 1
    append(spark, path, _ids(spark, 10, 30, d="b"), partition={"d": "b"})
    append(spark, path, _ids(spark, 30, 35, d="a"), partition={"d": "a"})
    consume()
    assert state == full_rollup() and cursor == 3
    overwrite_partition(spark, path, _ids(spark, 100, 104, d="a"), {"d": "a"})
    consume()
    assert state == full_rollup() and cursor == 4
    compact(spark, path)  # v5: must be invisible to the consumer
    consume()
    assert state == full_rollup() and cursor == 5
    append(spark, path, _ids(spark, 200, 210, d="b"), partition={"d": "b"})
    consume()
    assert state == full_rollup() and cursor == 6

    # flat-feed cursor API: caught-up consumer gets empty + same cursor
    df, c2 = changes_since(spark, path, cursor)
    assert c2 == cursor and df.count() == 0
    with pytest.raises(FileNotFoundError, match="ahead"):
        changes_since(spark, path, 99)


def test_delete_where_rewrites_only_touched_parts(spark, tmp_path):
    """Row-level DELETE: one distributed pass finds the parts holding
    matching rows; only those are rewritten — untouched parts keep
    their original directories (at 100 TB a point delete must not
    rewrite the table)."""
    from es_analytics_spark.txlog import delete_where

    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 10))   # part A
    append(spark, path, _ids(spark, 10, 20))  # part B
    append(spark, path, _ids(spark, 20, 30))  # part C
    before = set(read_table(spark, path).inputFiles())

    r = delete_where(spark, path, "id >= 25")  # touches only C
    assert r["rows_deleted"] == 5 and r["parts_rewritten"] == 1
    got = read_table(spark, path)
    assert sorted(x["id"] for x in got.collect()) == list(range(25))
    after = set(got.inputFiles())
    # A and B files unchanged; C's files replaced
    assert len(before & after) > 0 and before != after
    h = history(spark, path)[-1]
    assert h["operation"] == "delete_where" and h["n_removes"] == 1

    # whole-part delete: pure remove, no survivor rewrite
    r2 = delete_where(spark, path, F.col("id") < 10)
    assert r2["rows_deleted"] == 10 and r2["parts_rewritten"] == 0
    assert sorted(x["id"] for x in read_table(spark, path).collect()) == list(
        range(10, 25)
    )
    # no-match delete commits NOTHING (no empty commit in the history)
    v = current_version(spark, path)
    r3 = delete_where(spark, path, "id > 10000")
    assert r3["version"] == v and r3["rows_deleted"] == 0
    assert current_version(spark, path) == v


def test_merge_upsert_replaces_and_inserts_in_one_commit(spark, tmp_path):
    from es_analytics_spark.txlog import merge_upsert

    path = str(tmp_path / "t")
    base = spark.range(0, 10).select("id", (F.col("id") * 10).alias("val"))
    append(spark, path, base)
    v0 = current_version(spark, path)
    updates = spark.range(5, 15).select("id", (F.col("id") * 1000).alias("val"))
    r = merge_upsert(spark, path, updates, keys=["id"])
    assert r["version"] == v0 + 1  # ONE atomic commit
    assert r["rows_updated"] == 5 and r["rows_inserted"] == 5
    got = {x["id"]: x["val"] for x in read_table(spark, path).collect()}
    assert got == {i: (i * 10 if i < 5 else i * 1000) for i in range(15)}
    # key-duplicate updates are ambiguous and rejected up front
    dup = spark.range(0, 2).select(F.lit(7).cast("long").alias("id"), F.col("id").alias("val"))
    with pytest.raises(ValueError, match="duplicate key"):
        merge_upsert(spark, path, dup, keys=["id"])
    # merge spanning MULTIPLE touched parts keeps EVERY part's survivors
    # (regression: an indentation slip appended only the LAST part's
    # survivor rewrite, silently dropping the others' unmatched rows —
    # caught by the mixed-ops CDF-replay stress)
    path2 = str(tmp_path / "t2")
    append(spark, path2, spark.range(0, 20).select("id", (F.col("id") * 10).alias("val")))
    append(spark, path2, spark.range(20, 40).select("id", (F.col("id") * 10).alias("val")))
    upd_span = spark.range(15, 25).select("id", F.lit(0).cast("long").alias("val"))
    r3 = merge_upsert(spark, path2, upd_span, keys=["id"])
    assert r3["rows_updated"] == 10 and r3["parts_rewritten"] == 2
    got2 = {x["id"]: x["val"] for x in read_table(spark, path2).collect()}
    assert got2 == {i: (0 if 15 <= i < 25 else i * 10) for i in range(40)}

    # a key appended TWICE collapses to the single update row
    append(spark, path, spark.range(3, 4).select("id", F.lit(-1).cast("long").alias("val")))
    upd2 = spark.range(3, 4).select("id", F.lit(999).cast("long").alias("val"))
    r2 = merge_upsert(spark, path, upd2, keys=["id"])
    assert r2["rows_updated"] == 1
    rows = read_table(spark, path).filter(F.col("id") == 3).collect()
    assert [x["val"] for x in rows] == [999]


def _layout_table(spark, path):
    """Four parts in two partition tags (x: ids 0-39, y: ids 40-79),
    zone maps on id and val; part 40-59 carries a deletion vector."""
    from es_analytics_spark.txlog import delete_where

    for lo, d in ((0, "x"), (20, "x"), (40, "y"), (60, "y")):
        df = _ids(spark, lo, lo + 20, d=d).withColumn("val", F.col("id") * 10)
        append(spark, path, df, partition={"d": d}, stats_cols=["id", "val"])
    r = delete_where(spark, path, "id IN (41, 42)", use_dv=True)
    assert r["parts_vectored"] == 1


def _rows(df):
    return sorted(tuple(r) for r in df.select("id", "d", "val").collect())


def _dml_delete(spark, path):
    from es_analytics_spark.txlog import delete_where

    return delete_where(spark, path, "id % 10 = 3"), []


def _dml_update(spark, path):
    from es_analytics_spark.txlog import update_where

    return update_where(spark, path, {"val": "val + 1"}, "id % 10 = 3"), []


_MERGE_KEYS = [3, 23, 43, 63, 100]


def _merge_source(spark):
    return spark.createDataFrame(
        [(k, "y" if k >= 40 else "x", -k) for k in _MERGE_KEYS], "id long, d string, val long"
    )


def _dml_merge_upsert(spark, path):
    from es_analytics_spark.txlog import merge_upsert

    return merge_upsert(spark, path, _merge_source(spark), keys=["id"]), _MERGE_KEYS


def _dml_merge(spark, path):
    from es_analytics_spark.txlog import merge

    r = merge(spark, path, _merge_source(spark), ["id"],
              matched=[{"action": "update", "set": None}], not_matched=[{"action": "insert"}])
    return r, _MERGE_KEYS


@pytest.mark.parametrize("op", [_dml_delete, _dml_update, _dml_merge_upsert, _dml_merge])
def test_dml_rewrites_one_survivor_part_per_partition_tag(spark, tmp_path, op):
    """Every row-level DML verb writes the survivors of all touched parts
    sharing a partition tag as ONE part, tagged like its members and
    carrying their zone-map envelope, so partition- and range-pruned
    reads still equal the filtered full read; the change feed and time
    travel to the pre-op version are unchanged."""
    from es_analytics_spark.txlog import _read_commit, table_changes_cdf

    path = str(tmp_path / "t")
    _layout_table(spark, path)
    v_pre = current_version(spark, path)
    pre = _rows(read_table(spark, path))
    cdf_pre = sorted(tuple(r) for r in table_changes_cdf(spark, path, 0, v_pre).collect())

    r, merged_keys = op(spark, path)
    v = r["version"]
    assert v == v_pre + 1 and r["parts_rewritten"] == 4
    c = _read_commit(lake_fs(spark, path), path, v)
    assert len(c["removes"]) == 4
    survivors = [a for a in c["adds"] if a.get("rewrite")]
    assert sorted(a["partition"]["d"] for a in survivors) == ["x", "y"]
    env = {a["partition"]["d"]: a["stats"] for a in survivors}
    assert env["x"]["id"] == [0, 39] and env["y"]["id"] == [40, 79]
    if op is _dml_update:
        assert set(env["x"]) == {"id"}  # the assigned column's bounds drop
    else:
        assert env["x"]["val"] == [0, 390]

    full = read_table(spark, path)
    for d in ("x", "y"):
        got = read_table(spark, path, partition_filter={"d": d})
        # merged rows land in the untagged updates part, outside any
        # partition_filter read
        want = full.filter((F.col("d") == d) & ~F.col("id").isin(merged_keys))
        assert _rows(got.filter(~F.col("id").isin(merged_keys))) == _rows(want)
    for lo, hi in ((0, 5), (25, 35), (41, 44), (61, 79), (100, 100)):
        got = read_table(spark, path, range_filter={"id": (lo, hi)})
        assert _rows(got) == _rows(full.filter(F.col("id").between(lo, hi)))

    assert _rows(read_table(spark, path, version=v_pre)) == pre
    assert sorted(
        tuple(r) for r in table_changes_cdf(spark, path, 0, v_pre).collect()
    ) == cdf_pre
    feed = table_changes_cdf(spark, path, v_pre, v).collect()
    post = list(pre)
    for x in feed:
        if x["_change_type"] == "delete":
            post.remove((x["id"], x["d"], x["val"]))
    post += [(x["id"], x["d"], x["val"]) for x in feed if x["_change_type"] == "insert"]
    assert sorted(post) == _rows(full)


@pytest.mark.parametrize("file_path", [
    "/tmp/t/parts/5f0c1e/part-00000-a1.snappy.parquet",
    "file:/lake/parts/orders/parts/9a7b/part-00001-b2.c000.snappy.parquet",
    "file:///data/my%20table/parts/c0ffee/part-00000-%3Ax%25.snappy.parquet",
    "hdfs://nn:8020/w/parts/parts/d1/part-00003-z.parquet",
])
def test_part_key_expressions_match_the_regex_forms(spark, file_path):
    """The substring_index forms of the scan-provenance keys equal the
    tail-anchored regexes they replaced."""
    from es_analytics_spark.txlog import _part_base_expr, _part_rel_expr

    df = spark.createDataFrame([(file_path,)], "_f_path string")
    got = df.select(
        _part_rel_expr().alias("rel"),
        _part_base_expr().alias("base"),
        F.substring_index("_f_path", "/", -1).alias("name"),
        F.regexp_extract("_f_path", "/parts/([^/]+/[^/]+)$", 1).alias("rel_re"),
        F.regexp_extract("_f_path", "/parts/([^/]+)/[^/]+$", 1).alias("base_re"),
        F.regexp_extract("_f_path", "[^/]+$", 0).alias("name_re"),
    ).first()
    assert (got["rel"], got["base"], got["name"]) == (
        got["rel_re"], got["base_re"], got["name_re"]
    )


def test_table_changes_cdf_row_level_feed(spark, tmp_path):
    """The full-CDF contract: deletes come from the commit-recorded
    change parts, an upsert is delete(old)+insert(new) at one version,
    survivor rewrites and compactions are invisible, and replaying the
    feed reconstructs the table exactly."""
    from es_analytics_spark.txlog import delete_where, merge_upsert, table_changes, table_changes_cdf

    path = str(tmp_path / "t")
    base = spark.range(0, 10).select("id", (F.col("id") * 10).alias("val"))
    append(spark, path, base)                                     # v1: +10
    delete_where(spark, path, "id < 3")                           # v2: -3
    updates = spark.range(8, 12).select("id", F.lit(0).cast("long").alias("val"))
    merge_upsert(spark, path, updates, keys=["id"])               # v3: -2 +4
    compact(spark, path)                                          # v4: nothing

    cdf = table_changes_cdf(spark, path, 0).collect()
    by = {}
    for x in cdf:
        by.setdefault((x["_commit_version"], x["_change_type"]), []).append(x["id"])
    assert sorted(by[(1, "insert")]) == list(range(10))
    assert sorted(by[(2, "delete")]) == [0, 1, 2]
    assert sorted(by[(3, "delete")]) == [8, 9]        # old versions
    assert sorted(by[(3, "insert")]) == [8, 9, 10, 11]  # new versions
    assert (4, "insert") not in by and (4, "delete") not in by

    # replaying the feed version-by-version reconstructs the snapshot
    state = {}
    for x in sorted(cdf, key=lambda r: (r["_commit_version"], r["_change_type"] == "insert")):
        if x["_change_type"] == "delete":
            state.pop(x["id"], None)
        else:
            state[x["id"]] = x["val"]
    truth = {x["id"]: x["val"] for x in read_table(spark, path).collect()}
    assert state == truth

    # the insert-only feed still shows every insert, no deletes applied
    assert table_changes(spark, path, 0).count() == 14  # 10 + 4 upserts
    # windowed read: only v3's changes
    w = table_changes_cdf(spark, path, 2, 3)
    assert w.groupBy("_change_type").count().rdd.isEmpty() is False
    assert w.count() == 6


def test_delete_merge_writeserializable_conflict_rules(spark, tmp_path, monkeypatch):
    """Re-attach rule for row-level rewrites: intervening blind appends
    commute (WriteSerializable); any remove-carrying or scoped commit
    conflicts."""
    from es_analytics_spark.txlog import delete_where

    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 10))
    orig = txlog._try_commit
    # real part directories: later snapshots must stay readable
    spare1 = _write_part(spark, path, _ids(spark, 100, 102))
    spare2 = _write_part(spark, path, _ids(spark, 200, 202, d="z"))
    state = {"mode": None, "stolen": False}

    def hooked(fs, p, version, payload):
        if payload.get("operation") == "delete_where" and not state["stolen"]:
            state["stolen"] = True
            if state["mode"] == "append":
                competing = {
                    "operation": "append",
                    "adds": [{"path": spare1, "partition": {}}],
                    "removes": [],
                    "scope_partition": None,
                }
            else:  # a competing overwrite in some partition
                competing = {
                    "operation": "overwrite_partition",
                    "adds": [{"path": spare2, "partition": {"d": "z"}}],
                    "removes": [],
                    "scope_partition": {"d": "z"},
                }
            assert orig(fs, p, version, competing)
        return orig(fs, p, version, payload)

    monkeypatch.setattr(txlog, "_try_commit", hooked)
    # blind append steals the version -> delete re-attaches after it
    state.update(mode="append", stolen=False)
    r = delete_where(spark, path, "id >= 8")
    assert r["rows_deleted"] == 2 and r["version"] == 3
    # scoped commit steals the version -> CommitConflict
    state.update(mode="overwrite", stolen=False)
    with pytest.raises(CommitConflict, match="may overlap"):
        delete_where(spark, path, "id < 2")


def test_cdf_change_parts_respect_vacuum_retention(spark, tmp_path):
    from es_analytics_spark.txlog import (
        VersionExpiredError,
        delete_where,
        table_changes_cdf,
    )

    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 10))      # v1
    delete_where(spark, path, "id < 4")          # v2 (+ cdc part)
    assert table_changes_cdf(spark, path, 0).count() == 14
    # fresh vacuum keeps every commit-referenced part, incl. the cdc part
    assert vacuum(spark, path, retention_seconds=0) == []
    assert table_changes_cdf(spark, path, 0).count() == 14
    # age out history: cdc + pre-delete parts expire with their versions
    append(spark, path, _ids(spark, 10, 12))     # v3
    append(spark, path, _ids(spark, 12, 14))     # v4
    reaped = vacuum(spark, path, keep_versions=1, retention_seconds=0)
    assert reaped, "expected expired historical parts"
    with pytest.raises(VersionExpiredError, match="expired"):
        table_changes_cdf(spark, path, 0).count()
    # recent windows (past the expired versions) still read fine
    assert table_changes_cdf(spark, path, 2).count() == 4


def test_delete_where_null_predicate_rows_survive(spark, tmp_path):
    """SQL DELETE three-valued semantics (round-8 review finding): a
    row where the predicate evaluates to NULL is NOT deleted. Without
    the coalesce guard it vanished from BOTH the cdc set (filter cond)
    and the survivor rewrite (filter ~cond) — silent data loss."""
    from es_analytics_spark.txlog import delete_where, table_changes_cdf

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "eu"), (2, None), (3, "us"), (4, None)], "id long, region string"
    )
    append(spark, path, df)
    r = delete_where(spark, path, "region = 'eu'")
    assert r["rows_deleted"] == 1
    got = sorted(x["id"] for x in read_table(spark, path).collect())
    assert got == [2, 3, 4]  # NULL-region rows survive
    dels = table_changes_cdf(spark, path, 1).filter(
        F.col("_change_type") == "delete"
    )
    assert [x["id"] for x in dels.collect()] == [1]
    # NULL-matching is still expressible explicitly
    delete_where(spark, path, "region IS NULL")
    assert sorted(x["id"] for x in read_table(spark, path).collect()) == [3]


def test_rewrite_reattach_unions_schemas(spark, tmp_path, monkeypatch):
    """Round-8 review finding: a merge(evolve=True) losing its CAS to a
    concurrent old-schema blind append must record the UNION of both
    schemas — adopting the append's verbatim reverted the merge's own
    evolution (the new column became unreadable)."""
    from es_analytics_spark.txlog import merge_upsert, table_schema

    path = str(tmp_path / "t")
    append(spark, path, spark.range(0, 10).select("id", (F.col("id") * 2).alias("val")))
    spare = _write_part(spark, path, spark.range(50, 55).select("id", (F.col("id") * 2).alias("val")))
    orig = txlog._try_commit
    state = {"stolen": False}

    def hooked(fs, p, version, payload):
        if payload.get("operation") == "merge_upsert" and not state["stolen"]:
            state["stolen"] = True
            competing = {
                "operation": "append",
                "adds": [{"path": spare, "partition": {}}],
                "removes": [],
                "scope_partition": None,
                "schema": txlog._committed_schema(fs, p, 1),  # OLD schema
            }
            assert orig(fs, p, version, competing)
        return orig(fs, p, version, payload)

    monkeypatch.setattr(txlog, "_try_commit", hooked)
    upd = spark.range(0, 3).select(
        "id", (F.col("id") * 2).alias("val"), F.lit("eu").alias("region")
    )
    merge_upsert(spark, path, upd, keys=["id"], evolve=True)
    names = [f.name for f in table_schema(spark, path).fields]
    assert names == ["id", "val", "region"]  # evolution NOT reverted
    got = read_table(spark, path)
    assert got.filter(F.col("region") == "eu").count() == 3
    assert got.filter(F.col("region").isNull()).count() == 12


def test_merge_partition_tag_and_pruned_time_travel(spark, tmp_path):
    from es_analytics_spark.txlog import VersionExpiredError, merge_upsert

    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 10, d="a"), partition={"d": "a"})  # v1
    append(spark, path, _ids(spark, 10, 20, d="b"), partition={"d": "b"})  # v2
    # a tagged single-partition merge stays visible to partition_filter
    # (keys scoped to partition a — the tag contract is now validated)
    upd = spark.range(5, 10).select("id", F.lit("a").alias("d"))
    merge_upsert(spark, path, upd, keys=["id"], partition={"d": "a"})  # v3
    got = read_table(spark, path, partition_filter={"d": "a"})
    assert sorted(x["id"] for x in got.collect()) == list(range(10))
    # expire partition b's history; pruned time travel to a must WORK
    overwrite_partition(spark, path, _ids(spark, 100, 103, d="b"), {"d": "b"})  # v4
    append(spark, path, _ids(spark, 200, 201, d="c"), partition={"d": "c"})  # v5
    vacuum(spark, path, keep_versions=1, retention_seconds=0)
    got = read_table(spark, path, version=4, partition_filter={"d": "a"})
    assert got.count() == 10  # b's reaped v2 part is pruned away, no error
    with pytest.raises(VersionExpiredError):
        read_table(spark, path, version=2, partition_filter={"d": "b"})


def test_restore_pops_in_window_adds_from_feed(spark, tmp_path):
    from es_analytics_spark.txlog import restore, table_changes

    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 10))  # v1
    append(spark, path, _ids(spark, 10, 20))  # v2 — will be undone
    restore(spark, path, 1)  # v3
    # a consumer bootstrapping across the undo sees only surviving rows
    got = sorted(x["id"] for x in table_changes(spark, path, 0).collect())
    assert got == list(range(10))


def test_relative_table_paths_rejected_up_front(spark, tmp_path, monkeypatch):
    """Round-8 review finding, resolved as a contract: a relative table
    path is split-brain (Spark resolves data writes against the JVM's
    cwd, the log I/O against Python's — they diverge after any chdir),
    and input_file_name() mapping would silently no-op a DELETE. txlog
    refuses relative paths at every entry point; part mapping is by the
    globally-unique part basename, immune to path-spelling differences."""
    monkeypatch.chdir(tmp_path)
    with pytest.raises(ValueError, match="absolute or a URI"):
        append(spark, "rel_table", _ids(spark, 0, 10))
    with pytest.raises(ValueError, match="absolute or a URI"):
        read_table(spark, "rel_table")


def test_rowlevel_crash_before_cas_is_invisible_and_vacuumable(
    spark, tmp_path, monkeypatch
):
    """Crash sweep at the rewrite/CAS boundary for row-level ops: a
    delete or merge that dies after writing its survivor + cdc parts
    but before winning the CAS must leave the table byte-identical, and
    quiescent vacuum must reap ALL its debris (survivors, updates part,
    AND the cdc part)."""
    from es_analytics_spark.txlog import delete_where, merge_upsert

    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 30))
    before = sorted(r["id"] for r in read_table(spark, path).collect())

    def die(fs, p, version, payload):
        raise OSError("simulated crash before CAS")

    monkeypatch.setattr(txlog, "_try_commit", die)
    with pytest.raises(OSError, match="simulated"):
        delete_where(spark, path, "id < 10")
    with pytest.raises(OSError, match="simulated"):
        merge_upsert(
            spark, path, spark.range(5, 8).select(F.col("id").cast("long")),
            keys=["id"],
        )
    monkeypatch.undo()
    # invisible: the table replays identically
    assert sorted(r["id"] for r in read_table(spark, path).collect()) == before
    assert current_version(spark, path) == 1
    # vacuumable: every orphan (rewrites + updates + cdc) is reaped
    fs = lake_fs(spark, path)
    all_parts = set(fs.glob(fs_join(txlog._part_dir(path), "*")))
    live = set(txlog._snapshot(fs, path)[1])
    orphans = all_parts - live
    assert orphans, "expected crash debris"
    assert any("/cdc-" in p for p in orphans)
    reaped = vacuum(spark, path, retention_seconds=0)
    assert set(reaped) == orphans
    assert read_table(spark, path).count() == 30


def test_overwrite_cdc_opt_in_emits_deletes(spark, tmp_path):
    from es_analytics_spark.txlog import overwrite_table, table_changes_cdf

    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 10, d="a"), partition={"d": "a"})  # v1
    # without cdc: replacement feeds inserts only
    overwrite_partition(spark, path, _ids(spark, 100, 103, d="a"), {"d": "a"})  # v2
    assert table_changes_cdf(spark, path, 1).filter(
        F.col("_change_type") == "delete"
    ).count() == 0
    # with cdc: the replaced rows become deletes at the overwrite version
    overwrite_partition(
        spark, path, _ids(spark, 200, 202, d="a"), {"d": "a"}, cdc=True
    )  # v3
    w = table_changes_cdf(spark, path, 2)
    dels = sorted(
        r["id"] for r in w.filter(F.col("_change_type") == "delete").collect()
    )
    assert dels == [100, 101, 102]
    # whole-table variant
    r = overwrite_table(spark, path, _ids(spark, 300, 302, d="z"), cdc=True)  # v4
    w = table_changes_cdf(spark, path, 3)
    dels = sorted(
        r["id"] for r in w.filter(F.col("_change_type") == "delete").collect()
    )
    assert dels == [200, 201]  # v3 wrote _ids(200, 202): two rows
    ins = sorted(
        r["id"] for r in w.filter(F.col("_change_type") == "insert").collect()
    )
    assert ins == [300, 301]  # 300..302 exclusive


def test_restore_refeeds_parts_popped_inside_the_window(spark, tmp_path):
    """Second-review finding: a window spanning overwrite -> restore
    used to lose the restored rows from the insert feed entirely (the
    overwrite popped the add; the restore's re-add is rewrite-flagged).
    Re-adds of in-window-popped parts now re-feed; parts restored from
    before the window stay skipped (their consumer already fed them)."""
    from es_analytics_spark.txlog import overwrite_table, restore, table_changes

    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 10))  # v1
    overwrite_table(spark, path, _ids(spark, 100, 105))  # v2
    restore(spark, path, 1)  # v3
    # bootstrap across the undo: exactly the final visible rows
    got = sorted(x["id"] for x in table_changes(spark, path, 0).collect())
    assert got == list(range(10))
    # consumer who already consumed v1: the in-window overwrite+restore
    # nets out to nothing it hasn't seen
    assert table_changes(spark, path, 1).count() == 0


def test_restore_cdc_makes_cdf_windows_exact(spark, tmp_path):
    from collections import Counter

    from es_analytics_spark.txlog import restore, table_changes_cdf

    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 10))  # v1
    append(spark, path, _ids(spark, 10, 20))  # v2
    restore(spark, path, 1, cdc=True)  # v3: undo v2 with change parts
    rows = table_changes_cdf(spark, path, 0).collect()
    state: Counter = Counter()
    for r in sorted(rows, key=lambda x: (x["_commit_version"], x["_change_type"] == "insert")):
        if r["_change_type"] == "delete":
            state[r["id"]] -= 1
        else:
            state[r["id"]] += 1
    final = Counter(x["id"] for x in read_table(spark, path).collect())
    assert +state == final  # replay == table, across the restore
    # a cdc-less restore makes spanning CDF windows raise, not lie
    append(spark, path, _ids(spark, 20, 25))  # v4
    restore(spark, path, 3)  # v5 (no cdc)
    with pytest.raises(ValueError, match="without cdc=True"):
        table_changes_cdf(spark, path, 0)
    # windows that do not span it still work
    assert table_changes_cdf(spark, path, 3, 4).count() == 5


def test_replace_schema_cdc_deletes_read_under_old_schema(spark, tmp_path):
    from es_analytics_spark.txlog import overwrite_table, table_changes_cdf

    path = str(tmp_path / "t")
    append(spark, path, spark.range(0, 5).select("id", (F.col("id") * 2).alias("val")))
    # replace_schema DROPPING a column, with cdc: the delete rows carry
    # the OLD schema (with val) and union with null fill
    overwrite_table(
        spark, path, spark.range(9, 12).select("id"),
        replace_schema=True, cdc=True,
    )
    w = table_changes_cdf(spark, path, 1)
    dels = w.filter(F.col("_change_type") == "delete")
    assert dels.count() == 5
    assert sorted(r["val"] for r in dels.collect()) == [0, 2, 4, 6, 8]
    ins = w.filter(F.col("_change_type") == "insert")
    assert ins.count() == 3 and all(r["val"] is None for r in ins.collect())


def test_merge_partition_tag_must_match_touched_parts(spark, tmp_path):
    from es_analytics_spark.txlog import merge_upsert

    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 10, d="a"), partition={"d": "a"})
    append(spark, path, _ids(spark, 10, 20, d="b"), partition={"d": "b"})
    # an update key living in partition b under a declared a-tag would
    # silently migrate the row out of b — refuse instead
    upd = spark.range(5, 15).select("id", F.lit("a").alias("d"))
    with pytest.raises(ValueError, match="tagged differently"):
        merge_upsert(spark, path, upd, keys=["id"], partition={"d": "a"})
    # untagged merge spanning both partitions is the supported shape
    r = merge_upsert(spark, path, upd, keys=["id"])
    assert r["rows_updated"] == 10
    assert read_table(spark, path).count() == 20


@pytest.mark.parametrize("use_dv", [False, True], ids=["rewrite", "dv"])
def test_mixed_rowlevel_stress_cdf_replay_equals_table(spark, tmp_path, use_dv):
    """Serializability + CDF exactness under contention: three writers
    interleave appends, key-space merges, and predicate deletes (each
    retrying through CommitConflict, as real writers must). The
    invariant that catches ANY lost/duplicated/ghost row: replaying the
    row-level change feed version-by-version reconstructs the final
    table as an exact multiset — and the snapshot replay itself
    validates every remove in the history. Parametrized over both
    delete modes: part-rewriting and deletion-vector."""
    from collections import Counter

    from es_analytics_spark.txlog import delete_where, merge_upsert, table_changes_cdf

    path = str(tmp_path / "t")
    append(
        spark, path,
        spark.range(0, 50).select("id", (F.col("id") % 10).alias("val")),
    )
    errs: list[Exception] = []

    def with_retries(fn) -> None:
        for _ in range(12):
            try:
                fn()
                return
            except CommitConflict:
                time.sleep(0.01)
        errs.append(RuntimeError("retry budget exhausted"))

    def appender() -> None:
        for i in range(3):
            lo = 1000 + i * 100
            append(
                spark, path,
                spark.range(lo, lo + 50).select("id", (F.col("id") % 10).alias("val")),
            )

    def merger() -> None:
        for i in range(3):
            upd = spark.range(i * 10, i * 10 + 20).select(
                "id", F.lit(900 + i).cast("long").alias("val")
            )
            with_retries(lambda u=upd: merge_upsert(spark, path, u, keys=["id"]))

    def deleter() -> None:
        for i in range(3):
            with_retries(
                lambda k=i: delete_where(
                    spark, path, f"id >= 0 and val = {k}", use_dv=use_dv
                )
            )

    threads = [
        threading.Thread(target=f) for f in (appender, merger, deleter)
    ]
    [t.start() for t in threads]
    [t.join() for t in threads]
    assert not errs
    # snapshot replay validates the whole remove history
    final = Counter(
        (r["id"], r["val"]) for r in read_table(spark, path).collect()
    )
    # CDF replay: apply each version's deletes then inserts to a multiset
    state: Counter = Counter()
    rows = table_changes_cdf(spark, path, 0).collect()
    for r in sorted(rows, key=lambda x: (x["_commit_version"], x["_change_type"] == "insert")):
        k = (r["id"], r["val"])
        if r["_change_type"] == "delete":
            state[k] -= 1
            if state[k] == 0:
                del state[k]
        else:
            state[k] += 1
    assert state == final


def test_overwrite_table_atomic_replace(spark, tmp_path):
    from es_analytics_spark.txlog import overwrite_table, table_changes

    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 10))   # v1
    append(spark, path, _ids(spark, 10, 20))  # v2
    r = overwrite_table(spark, path, _ids(spark, 100, 105))  # v3
    assert r == {"version": 3, "removed_parts": 2}
    assert sorted(x["id"] for x in read_table(spark, path).collect()) == list(
        range(100, 105)
    )
    # history preserved: the pre-replace snapshot still reads
    assert read_table(spark, path, version=2).count() == 20
    # insert-only feed: replacement rows feed, replaced rows vanish
    got = sorted(x["id"] for x in table_changes(spark, path, 0).collect())
    assert got == list(range(100, 105))
    # replace_schema retypes the table wholesale; old versions keep theirs
    retyped = spark.range(0, 3).select(F.col("id").cast("string").alias("id"))
    overwrite_table(spark, path, retyped, replace_schema=True)  # v4
    assert dict(read_table(spark, path).dtypes)["id"] == "string"
    assert dict(read_table(spark, path, version=3).dtypes)["id"] == "bigint"
    # nothing commutes: a stolen CAS is an immediate conflict
    orig = txlog._try_commit

    def steal_once(fs, p, version, payload):
        if payload.get("operation") == "overwrite_table":
            competing = {"operation": "append", "adds": [], "removes": [],
                         "scope_partition": None}
            assert orig(fs, p, version, competing)
        return orig(fs, p, version, payload)

    import pytest as _pytest
    from unittest import mock

    with mock.patch.object(txlog, "_try_commit", steal_once):
        with _pytest.raises(CommitConflict, match="cannot re-attach"):
            overwrite_table(spark, path, _ids(spark, 0, 1), replace_schema=True)


def test_restore_rolls_forward_and_is_feed_invisible(spark, tmp_path):
    from es_analytics_spark.txlog import (
        VersionExpiredError,
        delete_where,
        restore,
        table_changes,
        table_changes_cdf,
    )

    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 10), stats_cols=["id"])  # v1
    append(spark, path, _ids(spark, 10, 20), stats_cols=["id"])  # v2
    delete_where(spark, path, "id >= 15")  # v3: the "bad" commit
    assert read_table(spark, path).count() == 15
    r = restore(spark, path, 2)  # v4: undo it, keep history
    assert r == {"version": 4, "restored_to": 2, "changed": True}
    assert sorted(x["id"] for x in read_table(spark, path).collect()) == list(
        range(20)
    )
    # zone maps came back with the restored parts
    sub = read_table(spark, path, range_filter={"id": (0, 3)})
    opened = {f.rsplit("/parts/", 1)[1].split("/")[0] for f in sub.inputFiles()}
    assert len(opened) == 1
    # history preserved: the deleted state is still inspectable
    assert read_table(spark, path, version=3).count() == 15
    # feed-invisible: a consumer at v3 sees nothing new (rows at v2 were
    # already fed; re-feeding them would double-count)
    assert table_changes(spark, path, 3).count() == 0
    # the ROW-LEVEL feed refuses to replay across a cdc-less restore
    # (it cannot represent the undo) — see test_restore_cdc_makes_cdf_windows_exact
    with pytest.raises(ValueError, match="without cdc=True"):
        table_changes_cdf(spark, path, 3)
    # restoring to the current state is a no-op, not an empty commit
    assert restore(spark, path, 4) == {
        "version": 4, "restored_to": 4, "changed": False,
    }
    # restore past vacuum retention raises at plan time
    append(spark, path, _ids(spark, 20, 25))  # v5
    compact(spark, path)  # v6
    append(spark, path, _ids(spark, 25, 30))  # v7
    vacuum(spark, path, keep_versions=1, retention_seconds=0)
    with pytest.raises(VersionExpiredError, match="expired"):
        restore(spark, path, 2)


def test_as_of_timestamp_time_travel(spark, tmp_path):
    """Wall-clock time travel: commits carry a stamp; a timestamp
    resolves to the newest commit at-or-before it (running-max
    normalized, so writer clock skew can't reorder the version
    authority)."""
    from es_analytics_spark.txlog import version_at_timestamp

    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 10))  # v1
    t_after_v1 = time.time()
    time.sleep(0.05)
    append(spark, path, _ids(spark, 10, 30))  # v2
    assert version_at_timestamp(spark, path, t_after_v1) == 1
    assert read_table(spark, path, timestamp=t_after_v1).count() == 10
    assert read_table(spark, path, timestamp=time.time()).count() == 30
    h = history(spark, path)
    assert all(x["ts"] is not None for x in h)
    # before the first commit: the table did not exist yet
    with pytest.raises(FileNotFoundError, match="first commit is newer"):
        read_table(spark, path, timestamp=h[0]["ts"] - 10.0)
    with pytest.raises(ValueError, match="not both"):
        read_table(spark, path, version=1, timestamp=t_after_v1)


def test_range_filter_skips_parts_by_zone_maps(spark, tmp_path):
    """Commit-log data skipping: appends record per-column [min,max];
    a range read opens only parts whose stats overlap (stats-less parts
    conservatively read), and applies the row predicate so the result
    is exact either way."""
    path = str(tmp_path / "t")
    for lo in (0, 100, 200):
        append(spark, path, _ids(spark, lo, lo + 100), stats_cols=["id"])
    append(spark, path, _ids(spark, 300, 400))  # NO stats: never skipped

    got = read_table(spark, path, range_filter={"id": (120, 180)})
    assert sorted(r["id"] for r in got.collect()) == list(range(120, 181))
    opened = {f.rsplit("/parts/", 1)[1].split("/")[0] for f in got.inputFiles()}
    assert len(opened) == 2  # the [100,199] part + the stats-less part

    # half-open range
    got = read_table(spark, path, range_filter={"id": (None, 50)})
    assert got.count() == 51
    opened = {f.rsplit("/parts/", 1)[1].split("/")[0] for f in got.inputFiles()}
    assert len(opened) == 2  # the [0,99] part + the stats-less part


def test_zone_maps_survive_compaction_and_row_level_rewrites(spark, tmp_path):
    from es_analytics_spark.txlog import delete_where

    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 100), stats_cols=["id"])
    append(spark, path, _ids(spark, 100, 200), stats_cols=["id"])
    compact(spark, path)  # every member has stats -> envelope survives
    # provably-disjoint range: ZERO parts opened, schema-stable empty
    got = read_table(spark, path, range_filter={"id": (1000, None)})
    assert got.count() == 0 and got.inputFiles() == [] and got.columns == ["id"]
    # delete keeps the (now wider but still valid) original zone map
    delete_where(spark, path, "id < 50")
    got = read_table(spark, path, range_filter={"id": (5000, 6000)})
    assert got.count() == 0 and got.inputFiles() == []
    got = read_table(spark, path, range_filter={"id": (60, 70)})
    assert got.count() == 11


def test_append_sources_requires_since_version(spark, tmp_path):
    with pytest.raises(ValueError, match="since_version"):
        append(spark, str(tmp_path / "t"), _ids(spark, 0, 1), sources=["a"])


def test_append_source_overlap_conflicts(spark, tmp_path):
    """Direct conflict-rule check: a commit that raced past us and
    incorporated one of our source files forces CommitConflict even
    though plain appends would commute."""
    path = str(tmp_path / "t")
    v0 = current_version(spark, path)
    append(spark, path, _ids(spark, 0, 10), sources=["s1", "s2"], since_version=v0)
    # a second writer whose snapshot predates that commit
    with pytest.raises(CommitConflict, match="already incorporated"):
        append(spark, path, _ids(spark, 10, 20), sources=["s2", "s3"], since_version=v0)
    # disjoint sources from the same stale snapshot commute fine
    r = append(spark, path, _ids(spark, 20, 30), sources=["s9"], since_version=v0)
    assert r["version"] == 2
    assert table_sources(spark, path) == {"s1", "s2", "s9"}


def test_clustered_compaction_makes_interleaved_data_skippable(spark, tmp_path):
    """compact(cluster_by=...): interleaved appends (every part spans
    the full id range — zone maps can never skip) become disjoint
    range-clustered parts with fresh stats, so a narrow range read
    opens a strict subset of parts. Content, feed invisibility, and
    time travel are unchanged."""
    path = str(tmp_path / "t")
    # 4 interleaved appends: ids i, i+4, i+8, ... each spanning [0, 400)
    for r in range(4):
        df = spark.range(400).filter(f"id % 4 = {r}").select(F.col("id").cast("long"))
        append(spark, path, df, stats_cols=["id"])
    # interleaved: a narrow range read must open EVERY part
    got = read_table(spark, path, range_filter={"id": (100, 120)})
    opened = {f.rsplit("/parts/", 1)[1].split("/")[0] for f in got.inputFiles()}
    assert len(opened) == 4

    res = compact(spark, path, target_file_bytes=2_000, cluster_by=["id"])
    assert res["parts_after"] > 1, "clustering must emit one part per range"

    full = read_table(spark, path)
    assert sorted(r["id"] for r in full.collect()) == list(range(400))
    got = read_table(spark, path, range_filter={"id": (100, 120)})
    assert sorted(r["id"] for r in got.collect()) == list(range(100, 121))
    opened = {f.rsplit("/parts/", 1)[1].split("/")[0] for f in got.inputFiles()}
    assert len(opened) < res["parts_after"], "narrow range must skip parts"
    # a provably-disjoint range opens nothing
    none = read_table(spark, path, range_filter={"id": (10_000, None)})
    assert none.count() == 0 and none.inputFiles() == []
    # compaction stays invisible to the feed and to time travel
    assert table_changes(spark, path, current_version(spark, path) - 1).count() == 0
    assert read_table(spark, path, version=4).count() == 400


def test_clustered_compaction_per_partition_tag(spark, tmp_path):
    """Clustering operates within each partition tag group: tags keep
    their own parts, and partition_filter reads stay manifest-exact."""
    path = str(tmp_path / "t")
    for r in range(2):
        append(
            spark, path,
            _ids(spark, 0, 100).withColumn("d", F.lit("a")).filter(f"id % 2 = {r}"),
            partition={"d": "a"}, stats_cols=["id"],
        )
        append(
            spark, path,
            _ids(spark, 100, 200).withColumn("d", F.lit("b")).filter(f"id % 2 = {r}"),
            partition={"d": "b"}, stats_cols=["id"],
        )
    compact(spark, path, target_file_bytes=1_500, cluster_by=["id"])
    a = read_table(spark, path, partition_filter={"d": "a"})
    assert sorted(r["id"] for r in a.collect()) == list(range(0, 100))
    b = read_table(spark, path, partition_filter={"d": "b"})
    assert sorted(r["id"] for r in b.collect()) == list(range(100, 200))
    # parts carry their group's tag and a fresh zone map
    fs = __import__("es_analytics_spark.sources.fsio", fromlist=["lake_fs"]).lake_fs(spark, path)
    from es_analytics_spark.txlog import _snapshot
    _v, live = _snapshot(fs, path)
    tags = {tuple(e["partition"].items()) for e in live.values()}
    assert tags == {(("d", "a"),), (("d", "b"),)}
    assert all(e.get("stats", {}).get("id") for e in live.values())


def test_clustered_compaction_preserves_other_stats_columns(spark, tmp_path):
    """Clustering on one column must not regress skipping on columns the
    members all recorded: their zone maps are recomputed from disk and
    stay in every emitted part's manifest entry."""
    path = str(tmp_path / "t")
    for lo in (0, 200):
        df = _ids(spark, lo, lo + 200).withColumn("ts", F.col("id") * 10)
        append(spark, path, df, stats_cols=["ts"])
    compact(spark, path, target_file_bytes=2_000, cluster_by=["id"])
    from es_analytics_spark.txlog import _snapshot
    fs = lake_fs(spark, path)
    _v, live = _snapshot(fs, path)
    assert len(live) > 1
    assert all({"id", "ts"} <= set(e.get("stats", {})) for e in live.values())
    # and the preserved column still skips: ts spans [0, 3990]
    got = read_table(spark, path, range_filter={"ts": (100_000, None)})
    assert got.count() == 0 and got.inputFiles() == []


def test_zorder_compaction_skips_on_every_cluster_dimension(spark, tmp_path):
    """compact(cluster_by=[x, y], zorder=True): every part gets a small
    bounding box in BOTH dimensions, so narrow range reads on x AND on
    y each open a strict subset of parts — linear clustering would
    prune only the leading column."""
    path = str(tmp_path / "t")
    # 60x60 grid, appended in 4 interleaved stripes (each spans the
    # full range of both x and y — nothing skippable before)
    for r in range(4):
        df = (
            spark.range(3600)
            .filter(f"id % 4 = {r}")
            .select(
                (F.col("id") % 60).cast("long").alias("x"),
                (F.col("id") / 60).cast("long").alias("y"),
            )
        )
        append(spark, path, df)
    res = compact(
        spark, path, target_file_bytes=1_500, cluster_by=["x", "y"], zorder=True
    )
    assert res["parts_after"] >= 4
    total = res["parts_after"]

    def opened(rf):
        got = read_table(spark, path, range_filter=rf)
        return got, {f.rsplit("/parts/", 1)[1].split("/")[0] for f in got.inputFiles()}

    got_x, parts_x = opened({"x": (10, 15)})
    assert got_x.count() == 6 * 60
    assert len(parts_x) < total, "x range must skip parts"
    got_y, parts_y = opened({"y": (50, 55)})
    assert got_y.count() == 6 * 60
    assert len(parts_y) < total, "y range must skip parts"
    assert sorted(map(tuple, read_table(spark, path).collect())) == sorted(
        ((i % 60, i // 60) for i in range(3600))
    )


def test_zorder_single_column_and_type_guards(spark, tmp_path):
    """zorder=True with ONE cluster column degenerates to linear order
    (no crash); a string cluster column is rejected with a clear error
    instead of silently collapsing every row into curve cell 0; date
    columns embed properly."""
    import datetime

    path = str(tmp_path / "t")
    for r in range(2):
        df = (
            spark.range(200)
            .filter(f"id % 2 = {r}")
            .select(
                F.col("id").cast("long"),
                F.lit("x").alias("s"),
                F.date_add(F.lit(datetime.date(2020, 1, 1)), F.col("id").cast("int")).alias("d"),
            )
        )
        append(spark, path, df)
    res = compact(spark, path, target_file_bytes=2_000, cluster_by=["id"], zorder=True)
    assert res["parts_after"] > 1
    got = read_table(spark, path, range_filter={"id": (0, 20)})
    opened = {f.rsplit("/parts/", 1)[1].split("/")[0] for f in got.inputFiles()}
    assert len(opened) < res["parts_after"]
    with pytest.raises(ValueError, match="order-preserving numeric embedding"):
        compact(spark, path, cluster_by=["s", "id"], zorder=True)
    # date + id interleave fine (dates embed as epoch days)
    res2 = compact(spark, path, target_file_bytes=2_000, cluster_by=["d", "id"], zorder=True)
    assert res2["parts_after"] >= 1
    assert sorted(r["id"] for r in read_table(spark, path).collect()) == list(range(200))


def test_clustered_compaction_of_all_empty_parts(spark, tmp_path):
    """A partition group whose live parts hold zero rows compacts
    cleanly under cluster_by (the staged write emits no files; the old
    per-part code path never hit this, the grouped stats job must skip
    it instead of dying on schema inference)."""
    from es_analytics_spark.txlog import delete_where

    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 10))
    append(spark, path, _ids(spark, 0, 10).filter("id < 0"))  # empty part
    delete_where(spark, path, "id >= 0")  # both parts now empty or gone
    res = compact(spark, path, target_file_bytes=2_000, cluster_by=["id"])
    assert read_table(spark, path).count() == 0
    assert res["parts_after"] == 0 or read_table(spark, path).count() == 0


def test_fully_emptied_table_reads_as_schema_stable_empty(spark, tmp_path):
    """delete_where removing EVERY row leaves an empty live set; the
    table must still read (schema-stable empty frame from the committed
    schema), not raise — an emptied table is a state, not an error."""
    from es_analytics_spark.txlog import delete_where

    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 10))
    delete_where(spark, path, "id >= 0")
    got = read_table(spark, path)
    assert got.count() == 0 and got.columns == ["id"]


def test_table_properties_set_unset_time_travel_and_commute(spark, tmp_path):
    """Properties live IN the log: last writer wins, None unsets, time
    travel reads them as-of a version, property commits are invisible
    to the change feed and commute past row-level rewrites."""
    import json as _json

    from es_analytics_spark.txlog import (
        delete_where, set_table_properties, table_changes_cdf, table_properties,
    )

    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 10))  # v1
    set_table_properties(spark, path, {"owner": "a", "retention.keep_versions": 3})  # v2
    set_table_properties(spark, path, {"owner": "b"})  # v3
    assert table_properties(spark, path) == {
        "owner": "b", "retention.keep_versions": "3",
    }
    assert table_properties(spark, path, version=2)["owner"] == "a"
    assert table_properties(spark, path, version=1) == {}
    set_table_properties(spark, path, {"retention.keep_versions": None})  # v4
    assert table_properties(spark, path) == {"owner": "b"}
    # invisible to both feeds
    assert table_changes(spark, path, 1).count() == 0
    assert table_changes_cdf(spark, path, 1).count() == 0
    # data ops unaffected; schema walk-back skips property commits
    delete_where(spark, path, "id < 2")  # v5
    assert read_table(spark, path).count() == 8


def test_optimize_uses_committed_policy(spark, tmp_path):
    """optimize(): compaction policy comes from the table's own
    committed properties — clustered compact + checkpoint + vacuum in
    one idempotent call."""
    import json as _json

    from es_analytics_spark.txlog import optimize, set_table_properties

    path = str(tmp_path / "t")
    for r in range(4):
        df = spark.range(400).filter(f"id % 4 = {r}").select(F.col("id").cast("long"))
        append(spark, path, df)
    set_table_properties(spark, path, {
        "optimize.cluster_by": _json.dumps(["id"]),
        "optimize.target_file_bytes": 2_000,
        "retention.keep_versions": 1,
        "retention.seconds": 0,
    })
    res = optimize(spark, path, vacuum_after=True)
    assert res["compact"]["parts_after"] > 1  # clustered per policy
    # the compacted-away parts still back time travel (keep_versions=1),
    # so the FIRST vacuum correctly reaps nothing
    assert res["vacuum"] == []
    got = read_table(spark, path, range_filter={"id": (100, 120)})
    opened = {f.rsplit("/parts/", 1)[1].split("/")[0] for f in got.inputFiles()}
    assert len(opened) < res["compact"]["parts_after"]
    assert sorted(r["id"] for r in read_table(spark, path).collect()) == list(range(400))
    # advance history; the next policy-driven vacuum reaps the old parts
    append(spark, path, spark.range(400, 410).select(F.col("id").cast("long")))
    res2 = optimize(spark, path, vacuum_after=True)
    assert res2["vacuum"], "parts past the committed retention policy reaped"
    assert read_table(spark, path).count() == 410


def test_streaming_source_ignores_property_commits(spark, tmp_path):
    from es_analytics_spark.sources.txlog_source import register_txlog_feed
    from es_analytics_spark.txlog import set_table_properties, table_changes

    register_txlog_feed(spark)
    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 5))
    set_table_properties(spark, path, {"owner": "x"})
    append(spark, path, _ids(spark, 5, 8))
    rows = []
    q = (
        spark.readStream.format("txlog_feed").option("path", path).load()
        .writeStream.foreachBatch(lambda df, _b: rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    assert sorted(r.id for r in rows) == list(range(8))


def test_future_protocol_commit_rejected_with_upgrade_error(spark, tmp_path):
    """A commit stamped with a higher protocol version than this reader
    supports fails every read with a named upgrade error — new commit
    semantics must never be silently misread by an old engine."""
    import json as _json

    from es_analytics_spark.txlog import PROTOCOL_VERSION, ProtocolVersionError

    path = str(tmp_path / "t")
    append(spark, path, _ids(spark, 0, 5))
    raw = open(_commit_path(path, 1)).read()
    c = _json.loads(raw)
    # every commit is stamped with the MINIMUM protocol needed to read
    # it (an append needs only the base protocol, not the reader max)
    assert c["protocol"] == 1
    c["protocol"] = PROTOCOL_VERSION + 1
    open(_commit_path(path, 1), "w").write(_json.dumps(c))
    with pytest.raises(ProtocolVersionError, match="upgrade the engine"):
        read_table(spark, path)


# ---------------------------------------------------------------------------
# compact / optimize idempotence (per-group no-op detection)
# ---------------------------------------------------------------------------


def test_compact_skips_already_compacted_groups(spark, tmp_path):
    path = str(tmp_path / "t")
    for d in (1, 2):
        for lo in (0, 100, 200):
            append(spark, path, _ids(spark, lo, lo + 50, d=d), partition={"d": d})
    r1 = compact(spark, path)
    assert r1["parts_before"] == 6 and r1["skipped_groups"] == 0
    v1 = current_version(spark, path)
    # second identical call: nothing rewritten, nothing committed
    r2 = compact(spark, path)
    assert r2["version"] == v1 and r2["skipped_groups"] == 2
    assert current_version(spark, path) == v1
    # an append into ONE group recompacts only that group
    append(spark, path, _ids(spark, 300, 310, d=1), partition={"d": 1})
    r3 = compact(spark, path)
    assert r3["skipped_groups"] == 1 and r3["parts_before"] == 2
    # different settings invalidate the marker: full recompact
    r4 = compact(spark, path, target_file_bytes=1 << 20)
    assert r4["skipped_groups"] == 0
    got = read_table(spark, path)
    expected = 2 * (
        sum(range(0, 50)) + sum(range(100, 150)) + sum(range(200, 250))
    ) + sum(range(300, 310))
    assert got.count() == 310 and got.select(F.sum("id")).first()[0] == expected


def test_optimize_second_call_commits_only_checkpoint(spark, tmp_path):
    from es_analytics_spark.txlog import optimize, set_table_properties

    path = str(tmp_path / "t")
    set_table_properties(spark, path, {"optimize.cluster_by": json.dumps(["id"])})
    for lo in (0, 50, 100):
        append(spark, path, _ids(spark, lo, lo + 50))
    optimize(spark, path)
    v = current_version(spark, path)
    res = optimize(spark, path)  # idempotent: no new commit
    assert current_version(spark, path) == v
    assert res["compact"]["version"] == v and res["compact"]["skipped_groups"] == 1
    assert read_table(spark, path).count() == 150


def test_clustered_compact_skip_resets_on_dv_delete(spark, tmp_path):
    from es_analytics_spark.txlog import delete_where

    path = str(tmp_path / "t")
    for lo in (0, 50):
        append(spark, path, _ids(spark, lo, lo + 50))
    compact(spark, path, cluster_by=["id"])
    v = current_version(spark, path)
    assert compact(spark, path, cluster_by=["id"])["version"] == v  # no-op
    delete_where(spark, path, "id % 7 = 0", use_dv=True)
    r = compact(spark, path, cluster_by=["id"])  # DV must materialize away
    assert r["version"] > v + 1 and r["skipped_groups"] == 0
    assert read_table(spark, path).count() == 100 - 15


def test_cdf_column_order_schema_then_metadata_last(spark, tmp_path):
    """round-10 fix: a CDF window spanning additive evolution presents
    columns in WINDOW-END schema order with the _change_type /
    _commit_version tags LAST — union order used to splice
    evolution-added columns after the metadata tags."""
    from es_analytics_spark.txlog import delete_where, table_changes_cdf

    path = str(tmp_path / "t")
    append(spark, path, spark.createDataFrame([(1, "a")], "k long, b string"))
    append(
        spark, path,
        spark.createDataFrame([(2, "b", 9.0)], "k long, b string, c double"),
        evolve=True,
    )
    delete_where(spark, path, "k = 1")
    feed = table_changes_cdf(spark, path, 0)
    assert feed.columns == ["k", "b", "c", "_change_type", "_commit_version"]
    rows = {(r["k"], r["_change_type"]) for r in feed.collect()}
    assert rows == {(1, "insert"), (2, "insert"), (1, "delete")}


def test_mixed_stress_with_update_and_clausal_merge(spark, tmp_path):
    """round-10 extension of the serializability stress: four writers
    interleave appends, conditional merges (tombstone clauses on
    txlog.merge), row-level UPDATEs, and predicate deletes, each retrying
    through CommitConflict. Invariant unchanged: version-ordered CDF
    replay reconstructs the final table as an exact multiset, and the
    snapshot replay validates every remove in the history."""
    from collections import Counter

    from es_analytics_spark.txlog import (
        delete_where,
        merge,
        table_changes_cdf,
        update_where,
    )

    path = str(tmp_path / "t")
    append(
        spark, path,
        spark.range(0, 60).select("id", (F.col("id") % 10).alias("val")),
    )
    errs: list[Exception] = []

    def with_retries(fn) -> None:
        for _ in range(15):
            try:
                fn()
                return
            except CommitConflict:
                time.sleep(0.01)
        errs.append(RuntimeError("retry budget exhausted"))

    def appender() -> None:
        for i in range(3):
            lo = 1000 + i * 100
            append(
                spark, path,
                spark.range(lo, lo + 40).select("id", (F.col("id") % 10).alias("val")),
            )

    def clausal_merger() -> None:
        for i in range(3):
            upd = spark.range(i * 10, i * 10 + 20).select(
                "id",
                F.lit(700 + i).cast("long").alias("val"),
                (F.col("id") % 7 == 0).alias("_gone"),
            )
            with_retries(lambda u=upd: merge(
                spark, path, u, ["id"],
                matched=[{"action": "delete", "condition": "s._gone"},
                         {"action": "update"}],
                not_matched=[{"action": "insert", "condition": "NOT s._gone"}],
            ))

    def updater() -> None:
        for i in range(3):
            with_retries(lambda k=i: update_where(
                spark, path, {"val": "val + 10000"}, f"val = {k + 3}"
            ))

    def deleter() -> None:
        for i in range(3):
            with_retries(lambda k=i: delete_where(
                spark, path, f"id >= 0 and val = {k}", use_dv=(k % 2 == 0)
            ))

    threads = [
        threading.Thread(target=f)
        for f in (appender, clausal_merger, updater, deleter)
    ]
    [t.start() for t in threads]
    [t.join() for t in threads]
    assert not errs, errs
    final = Counter(
        (r["id"], r["val"]) for r in read_table(spark, path).collect()
    )
    state: Counter = Counter()
    rows = table_changes_cdf(spark, path, 0).collect()
    for r in sorted(rows, key=lambda x: (x["_commit_version"], x["_change_type"] == "insert")):
        k = (r["id"], r["val"])
        if r["_change_type"] == "delete":
            state[k] -= 1
            if state[k] == 0:
                del state[k]
        else:
            state[k] += 1
    assert state == final
