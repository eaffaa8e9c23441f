"""Exactly-once streaming writes INTO the transaction log.

Bridges the engine's two strongest durability mechanisms, which round 7
left unconnected:

- Structured Streaming's checkpoint WAL makes epoch REPLAY exactly-once
  per query (``stream_to_lake``, kill-sweep tested) — but its file sink
  is single-writer and its output is not transactional.
- ``txlog`` makes COMMITS idempotent per writer via the WRITER
  TRANSACTION mark (``append(txn=(app, version))`` +
  ``txn_version`` — the public Delta setTransaction design) under
  multi-writer contention — but nothing fed it from a stream.

``stream_to_txlog`` composes them: each micro-batch commits as one
txlog append stamped ``txn=(stream_id, batch_id)``. The WAL guarantees
a replayed epoch carries the SAME batch_id over the SAME offset range
(replayable sources re-read identical rows), and the txn high-water
mark guarantees a given (stream, epoch) commits at most once — so
every crash window is covered:

========================================  ==============================
crash point                               restart outcome
========================================  ==============================
before the txlog CAS                      epoch replays, commits once
after CAS, before the WAL commit          epoch replays, sink sees its
                                          source already committed, no-op
after the WAL commit                      epoch not replayed
========================================  ==============================

The sink's duplicate check is the checkpoint-folded txn mark — ONE
integer per stream in every checkpoint, O(commits-since-checkpoint) to
read per epoch — with the legacy per-epoch source tokens still honored
on read, so a stream committing millions of epochs neither rescans its
history nor bloats its checkpoints. A concurrent
batch writer (or a second stream with a different ``stream_id``) is
just another txlog writer: blind appends commute, and the conflict
rules serialize everything else.

Downstream, the committed epochs are a CDC feed: ``txlog.changes_since``
hands incremental consumers exactly the new epochs (compactions of the
streamed table stay invisible to them — ``table_changes`` contract).

Two sink shapes share the machinery:

- :func:`stream_to_txlog` — append-only (event/fact streams): one
  txlog ``append`` per epoch.
- :func:`stream_merge_to_txlog` — CDC-shaped (keyed upserts): one
  txlog ``merge_upsert`` per epoch (``txlog.merge`` when tombstone
  clauses are set), so the table converges to latest-row-per-key with
  full snapshot isolation and a row-level change feed.

Reference lifecycle parity: this is the ``flushBatch → storeBatch``
hand-off (Collector.ts:310-350) upgraded from fire-and-forget puts to
transactional exactly-once commits; the reference's write-once
``Store.put`` key contract (lib/store/Store.ts:4-8) is what makes the
part-then-CAS design sound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from es_analytics_spark import txlog
from es_analytics_spark.sources.fsio import lake_fs


def row_content_tiebreak(batch: DataFrame):
    """Deterministic tie-break expression for latest-per-key dedup:
    xxhash64 over every HASHABLE column (Spark prohibits hash functions
    on MapType — a map column must not make the whole sink unusable).
    Falls back to a constant when nothing is hashable, which degrades
    to arbitrary-but-documented tie order instead of failing."""
    from pyspark.sql import functions as F

    cols = [
        F.col(c) for c, t in batch.dtypes if not t.startswith("map")
    ]
    return F.xxhash64(*cols) if cols else F.lit(0)


def epoch_source(stream_id: str, batch_id: int) -> str:
    """The txlog source name under which a stream's epoch commits.
    Deterministic in (stream_id, batch_id) — restarts MUST derive the
    identical name for the replay no-op to hold."""
    return f"{stream_id}/epoch-{batch_id:012d}"


class _SeenSourceCache:
    """Shared epoch-dedup state for both committers. The primary
    mechanism is the WRITER TRANSACTION high-water mark
    (``txlog.txn_version`` — the public Delta setTransaction design):
    one integer per stream, checkpoint-folded, O(commits-since-
    checkpoint) to read, and ONE entry in every checkpoint regardless
    of epoch count. Epochs commit strictly in order under the WAL, so
    ``mark >= batch_id`` proves the replayed epoch is durable (an
    empty epoch that never committed re-reads as empty — still a
    no-op). The legacy per-epoch SOURCE tokens are still honored on
    READ (``_refresh_seen``) so a sink upgraded mid-stream never
    re-commits pre-upgrade epochs; new commits stamp txn only —
    per-epoch source tokens made the checkpoint-folded seen set grow
    O(total epochs). Correctness never rests on the cache: the append
    CAS re-validates the txn against every intervening commit before
    it can win, so two zombie drivers replaying one epoch serialize."""

    def __init__(self, path: str, stream_id: str):
        self.path = path
        self.stream_id = stream_id
        self._mark: int | None = None  # cached committed high-water mark
        self._seen_version = 0
        self._seen: set[str] = set()

    def _epoch_committed(self, spark, batch_id: int, upto: int,
                         refresh: bool = False) -> bool:
        # the mark only ever advances, so the cached copy answers the
        # common replay check without touching the log; a cold cache
        # (restart) or a CommitConflict (refresh=True — a rival may
        # have just landed this very epoch) re-reads the durable mark
        if self._mark is None or refresh:
            durable = txlog.txn_version(
                spark, self.path, self.stream_id, version=upto
            )
            self._mark = max(self._mark if self._mark is not None else -1, durable)
        if batch_id <= self._mark:
            return True
        self._refresh_seen(spark, upto)
        return epoch_source(self.stream_id, batch_id) in self._seen

    def _note_committed(self, batch_id: int) -> None:
        self._mark = max(self._mark if self._mark is not None else -1, batch_id)

    def _refresh_seen(self, spark, upto: int) -> None:
        if upto <= self._seen_version:
            return
        if self._seen_version == 0:
            # cold cache (fresh sink / restart): seed from the
            # checkpoint-FOLDED seen-source set instead of replaying
            # every commit from v1 — bounded on a million-epoch table,
            # and the only correct read once clean_log has reaped the
            # early commit JSONs (their sources live on in the fold)
            self._seen = set(txlog.table_sources(spark, self.path, version=upto))
            self._seen_version = upto
            return
        fs = lake_fs(spark, self.path)
        for c in txlog._intervening(fs, self.path, self._seen_version, upto):
            self._seen.update(c.get("sources", []))
        self._seen_version = upto


class _EpochCommitter(_SeenSourceCache):
    """foreachBatch callable: commit each epoch exactly once (see
    _SeenSourceCache for the duplicate-check mechanics)."""

    def __init__(self, path: str, stream_id: str, partition: dict | None, evolve: bool,
                 stats_cols: list | None = None):
        super().__init__(path, stream_id)
        self.partition = partition
        self.evolve = evolve
        self.stats_cols = stats_cols

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return  # nothing to commit; replaying an empty epoch is a no-op
        spark = batch.sparkSession
        v = txlog.current_version(spark, self.path)
        if self._epoch_committed(spark, batch_id, v):
            # WAL replayed an epoch whose commit already won — the
            # crashed-after-CAS window; exactly-once means no-op here
            return
        try:
            txlog.append(
                spark,
                self.path,
                batch,
                partition=self.partition,
                txn=(self.stream_id, batch_id),
                evolve=self.evolve,
                stats_cols=self.stats_cols,
            )
            self._note_committed(batch_id)
        except txlog.CommitConflict:
            # a racing writer landed THIS epoch between our snapshot and
            # the CAS (e.g. a zombie driver's last epoch): already durable
            latest = txlog.current_version(spark, self.path)
            if self._epoch_committed(spark, batch_id, latest, refresh=True):
                return
            raise


#: staged per-event clause flags of the tombstone sink (see
#: :meth:`_MergeEpochCommitter._stage`)
_DEL, _INS = "__cdc_delete", "__cdc_insert"


class _MergeEpochCommitter(_SeenSourceCache):
    """foreachBatch callable for the CDC-shaped sink: each epoch MERGEs
    into the txlog table (latest row per key wins within the epoch,
    ordered by ``order_col``; ties on it break by a content hash of the
    full row, so the winner is a deterministic function of the epoch's
    DATA — never of task/shuffle order). Without clauses the epoch is
    one ``txlog.merge_upsert`` (key-replace). With tombstone clauses it
    is one ``txlog.merge``: each condition is staged as a boolean
    column over the event row, matched rows delete where the delete
    flag holds and otherwise update every payload column, and unmatched
    rows insert where the insert flag holds. Exactly-once has two
    layers: the source stamp skips a replayed epoch whose merge already
    committed, and the merge itself is idempotent (same keys → same
    replacement rows), so even a skipped stamp converges. A
    CommitConflict (a concurrent compact/overwrite/merge landed mid-CAS)
    re-runs the merge against the fresh snapshot — the orphaned rewrite
    parts are vacuum fodder, the standard OCC retry."""

    def __init__(self, path: str, stream_id: str, keys: list[str], order_col: str,
                 evolve: bool, when_matched_delete=None, when_not_matched_insert=None,
                 drop_cols: list[str] | None = None):
        super().__init__(path, stream_id)
        self.keys = keys
        self.order_col = order_col
        self.evolve = evolve
        self.when_matched_delete = when_matched_delete
        self.when_not_matched_insert = when_not_matched_insert
        self.drop_cols = list(drop_cols or [])
        self.has_clauses = (
            when_matched_delete is not None
            or when_not_matched_insert is not None
            or bool(self.drop_cols)
        )

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window as W, functions as F

        if batch.isEmpty():
            return
        spark = batch.sparkSession
        if self._epoch_committed(
            spark, batch_id, txlog.current_version(spark, self.path)
        ):
            return
        # NOTE: key columns are constant within the window partition, so
        # they cannot tie-break; the row-content hash can and is
        # replay-stable
        w = W.partitionBy(*self.keys).orderBy(
            F.col(self.order_col).desc(), row_content_tiebreak(batch)
        )
        latest = (
            batch.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        txn = (self.stream_id, batch_id)
        # clause conditions are pinned and staged once per epoch, so a
        # re-run after a conflict evaluates them identically
        source = self._stage(spark, latest) if self.has_clauses else None
        for attempt in range(5):
            try:
                self._merge(spark, latest, source, txn)
                self._note_committed(batch_id)
                return
            except txlog.CommitConflict:
                if self._epoch_committed(
                    spark, batch_id, txlog.current_version(spark, self.path),
                    refresh=True,
                ):
                    return  # a zombie's replay of this very epoch won
                # else: an unrelated writer invalidated the snapshot —
                # re-run the merge against the new state
        raise txlog.CommitConflict(
            f"epoch {epoch_source(self.stream_id, batch_id)}: merge kept "
            "conflicting after 5 re-runs"
        )

    def _stage(self, spark, latest: DataFrame) -> DataFrame:
        """The merge source of a tombstone epoch: the payload (event
        columns minus ``drop_cols``) plus the two clause flags, each
        condition evaluated over the event row with its time functions
        pinned (non-deterministic ones raise). NULL is not a match; an
        absent condition never deletes and always inserts."""
        from pyspark.sql import functions as F

        pin = txlog._dml_pinner(spark, "stream_merge_to_txlog")

        def flag(cond, default: bool):
            if cond is None:
                return F.lit(default)
            return F.coalesce(pin(cond).cast("boolean"), F.lit(False))

        return latest.select(
            *[c for c in latest.columns if c not in self.drop_cols],
            flag(self.when_matched_delete, False).alias(_DEL),
            flag(self.when_not_matched_insert, True).alias(_INS),
        )

    def _merge(self, spark, latest: DataFrame, source: DataFrame | None,
               txn: tuple[str, int]) -> None:
        if source is None:
            txlog.merge_upsert(
                spark, self.path, latest, self.keys, evolve=self.evolve, txn=txn
            )
            return
        payload = [c for c in source.columns if c not in (_DEL, _INS)]
        # the payload passes the validation a key-replace upsert of it
        # would: the same drift raises the same SchemaMismatchError
        table = txlog._committed_schema(
            lake_fs(spark, self.path), self.path,
            txlog.current_version(spark, self.path),
        )
        txlog._merge_schema(table, source.select(*payload), self.evolve)
        row = {c: f"s.`{c}`" for c in payload}
        txlog.merge(
            spark, self.path, source, self.keys,
            matched=[
                {"action": "delete", "condition": f"s.`{_DEL}`"},
                {"action": "update", "set": row},
            ],
            not_matched=[
                {"action": "insert", "values": row, "condition": f"s.`{_INS}`"}
            ],
            evolve=self.evolve, txn=txn,
        )


def stream_merge_to_txlog(
    df: DataFrame,
    path: str,
    keys: list[str],
    order_col: str,
    checkpoint_dir: str,
    stream_id: str | None = None,
    evolve: bool = False,
    available_now: bool = False,
    processing_time: str | None = None,
    when_matched_delete=None,
    when_not_matched_insert=None,
    drop_cols: list[str] | None = None,
) -> StreamingQuery:
    """CDC-shaped streaming sink: each micro-batch MERGEs into a
    transactional txlog table — multi-writer safe, with snapshot
    isolation, time travel, and an exact row-level change feed
    (``table_changes_cdf`` shows each epoch's upsert as
    delete(old)+insert(new) at one version). See
    :class:`_MergeEpochCommitter` for the exactly-once story.

    **Tombstones**: a CDC stream that carries deletes as flagged rows
    passes conditions over the event row — e.g.
    ``when_matched_delete="_deleted"``,
    ``when_not_matched_insert="NOT _deleted"``,
    ``drop_cols=["_deleted"]`` — and each epoch becomes one
    ``txlog.merge``: a tombstone whose key is live DELETES the row (a
    row-level delete on the change feed), a tombstone for a never-seen
    key is dropped instead of inserted, and the ``drop_cols`` (columns
    only the conditions read) never enter the table schema. A drop
    column that is a key or is not in ``df`` raises here, before the
    query starts. Per-key ordering still applies first: the epoch's
    LATEST event per key (by ``order_col``) decides whether that key
    upserts or deletes."""
    drop_cols = list(drop_cols or [])
    bad = sorted(set(drop_cols) & set(keys))
    if bad:
        raise ValueError(f"stream_merge_to_txlog: drop_cols may not contain keys {bad}")
    missing = sorted(set(drop_cols) - set(df.columns))
    if missing:
        raise ValueError(
            f"stream_merge_to_txlog: drop_cols {missing} are not in the updates frame"
        )
    committer = _MergeEpochCommitter(
        path, stream_id or checkpoint_dir, keys, order_col, evolve,
        when_matched_delete=when_matched_delete,
        when_not_matched_insert=when_not_matched_insert,
        drop_cols=drop_cols,
    )
    writer = (
        df.writeStream.foreachBatch(committer)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def stream_to_txlog(
    df: DataFrame,
    path: str,
    checkpoint_dir: str,
    stream_id: str | None = None,
    partition: dict | None = None,
    evolve: bool = False,
    available_now: bool = False,
    processing_time: str | None = None,
    stats_cols: list | None = None,
) -> StreamingQuery:
    """Start a streaming query whose sink is a transactional txlog
    table: every micro-batch becomes one exactly-once ``txlog.append``
    (see module docstring for the crash matrix).

    ``stream_id`` namespaces this query's epoch numbers in the txlog
    source set; it MUST be stable across restarts of the same query
    (default: the checkpoint directory, which already has exactly that
    lifetime) and distinct between different queries writing the same
    table. The table stays fully transactional while streamed into:
    concurrent batch appends, ``compact``, ``overwrite_partition``,
    snapshot reads, and ``changes_since`` consumers all operate on it
    unmodified."""
    committer = _EpochCommitter(
        path, stream_id or checkpoint_dir, partition, evolve, stats_cols
    )
    writer = (
        df.writeStream.foreachBatch(committer)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
