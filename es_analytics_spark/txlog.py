"""Multi-writer transactional tables: the engine's one versioned-table
format.

Every versioned table the engine keeps — streaming sink targets,
enriched views refreshed from raw files and incremental rollups
(``incremental.py``) — is a txlog table. Publishing state by atomically renaming ONE mutable
manifest is correct for one writer, but two concurrent refreshes would
silently overwrite each other's commit. This module removes that
restriction with the classic transactional-log design (the public
Delta/Iceberg commit protocol, re-expressed on this engine's fsio seam):

- **The log is a sequence of write-once files** ``_txlog/v000001.json,
  v000002.json, …`` — no commit or checkpoint is ever mutated. This is
  the reference's ``Store.put`` contract (every batch object goes to a
  fresh write-once key — lib/store/Store.ts:4-8, StoreS3.ts:21-35)
  promoted to the commit path. The single mutable object is the
  ``_last_checkpoint`` POINTER (atomic-replace, monotonic, pure hint:
  readers fall back to listing when it is torn or stale), which is what
  keeps every read O(commits-since-checkpoint) instead of an
  O(total-commits) directory LIST; :func:`clean_log` is the one
  deleting operation — explicit retention past a folded checkpoint,
  with expired history raising :class:`VersionExpiredError`.
- **Committing version N is a compare-and-swap**: atomically create
  ``vN.json`` iff absent (``fsio.put_if_absent`` — hard-link locally,
  ``FileContext.rename`` without OVERWRITE on Hadoop stores). Exactly
  one writer wins each version number; losers re-read the log and
  either re-attach their commit at a later version (when provably
  safe) or abort with :class:`CommitConflict`.
- **Data parts are immutable directories** under ``parts/``; a commit
  lists the parts it adds and removes. A crash between writing parts
  and winning the CAS leaves orphan directories no reader can ever
  observe (``vacuum`` reaps them), safe under contention.

Conflict rules (optimistic, checked by the CAS loser against every
commit that landed since its snapshot):

========================  =========================================
our commit                safe to re-attach at a later version iff
========================  =========================================
append (adds only)        always — blind appends commute
compact (removes R)       no intervening commit removed any r ∈ R
overwrite partition P     no intervening commit added or removed a
                          part in P
delete_where /            every intervening commit is a blind append
merge_upsert              (WriteSerializable: the rewrite read its
                          snapshot; concurrent appends are simply not
                          subject to it)
overwrite_table /         never — whole-table replacement commutes
restore                   with nothing
========================  =========================================

Anything else raises :class:`CommitConflict`; the caller re-runs the
transaction against the new snapshot (its orphaned parts are vacuumed).
Serializability: the winning order IS the version order, every commit's
removes are validated live at replay (a violated rule cannot be
recorded), and the two-writer stress + kill sweeps in
``tests/test_txlog.py`` check the whole history, not just the end
state.

Scale: log operations are metadata-sized (one small JSON per commit;
``checkpoint`` bounds replay cost the way Delta's parquet checkpoints
do); data reads/writes stay fully distributed DataFrame ops over the
live part list. On raw S3 the CAS primitive needs an external
coordinator (put-if-absent is not native there) — the documented
boundary in ``sources/fsio.py``.
"""

from __future__ import annotations

import functools
import json
import re
import uuid
import weakref as _weakref

from pyspark.sql import DataFrame, SparkSession

from es_analytics_spark.sources.fsio import is_uri, join as fs_join, lake_fs

#: automatic checkpoint cadence: every writer, after WINNING a commit,
#: checkpoints when the replay tail since the last checkpoint reaches
#: this many commits (Delta checkpoints every 10). This is what keeps a
#: long-lived streaming sink — one commit per epoch, no scheduled
#: optimize() — replay-bounded without any operator action. Explicit
#: checkpoint()/optimize() still work; set to 0 to disable (tests).
_CHECKPOINT_EVERY = 20
_CHECKPOINT_EVERY_HINT = _CHECKPOINT_EVERY  # back-compat alias


#: the READER's maximum supported protocol. Each commit stamps the
#: MINIMUM protocol needed to read it correctly (1 = base; 2 = carries
#: deletion vectors, which a v1 reader would silently misread as live
#: rows; 3 = column mapping — the committed schema's logical names
#: differ from the physical parquet column names, which a v<=2 reader
#: would read as all-null columns; 4 = CHUNKED CHECKPOINTS — the
#: checkpoint footer references live-set chunk files instead of
#: inlining the live set, which a v<=3 reader cannot reconstruct a
#: snapshot from); readers reject higher-protocol commits with
#: ProtocolVersionError. Bump only for semantics an old reader would
#: misread or cannot reconstruct — never for additive, ignorable
#: fields. Protocol 4 is stamped ONLY on chunked checkpoint footers
#: (large tables past _CKPT_INLINE_MAX); commits and small-table
#: checkpoints keep their computed <=3 stamp, so mixed-version fleets
#: interoperate until a table actually needs chunking.
PROTOCOL_VERSION = 4


class ProtocolVersionError(Exception):
    """A commit was written by a newer writer than this reader supports."""


class CommitConflict(Exception):
    """The transaction's snapshot was invalidated by a concurrent
    commit (or the CAS retry budget ran out); re-run it."""


class SchemaMismatchError(Exception):
    """A write's DataFrame schema is incompatible with the table's
    committed schema (new columns without ``evolve=True``, or a type
    change, which is never allowed). The table-schema contract lives in
    the commit payload itself — see :func:`append`."""


class VersionExpiredError(FileNotFoundError):
    """A requested historical version (time travel or change feed)
    needs part files that ``vacuum(keep_versions=...)`` already reaped.
    Raised at PLAN time with the missing parts named — never a
    mid-query executor PATH_NOT_FOUND. The retention coupling is the
    same one Delta documents for time travel / CDF vs VACUUM: history
    older than the retention window is gone by design; raise clearly
    instead of failing lazily."""


def _log_dir(path: str) -> str:
    import os

    if not is_uri(path) and not os.path.isabs(path):
        # split-brain hazard: Spark resolves relative DATA paths against
        # the JVM's working directory, while the log I/O here resolves
        # them against the Python process's — after any chdir the table
        # halves land in different places. Refuse up front.
        raise ValueError(
            f"txlog table path must be absolute or a URI, got {path!r}"
        )
    return fs_join(path, "_txlog")


def _commit_path(path: str, version: int) -> str:
    return fs_join(_log_dir(path), f"v{version:06d}.json")


def _checkpoint_path(path: str, version: int) -> str:
    return fs_join(_log_dir(path), f"checkpoint.v{version:06d}.json")


def _part_dir(path: str) -> str:
    return fs_join(path, "parts")


def _pointer_path(path: str) -> str:
    return fs_join(_log_dir(path), "_last_checkpoint")


def _list_versions(fs, path: str, prefix: str = "v") -> list[int]:
    """Full directory LIST of the log — O(total retained commits).
    Used by audit/maintenance APIs (history, vacuum, clean_log) and as
    the fallback when no ``_last_checkpoint`` pointer exists; the hot
    read path (:func:`_snapshot` / :func:`_latest_version`) goes
    through the pointer instead and touches only the tail."""
    pat = fs_join(_log_dir(path), f"{prefix}*.json")
    out = []
    for p in fs.glob(pat):
        name = p.rsplit("/", 1)[-1]
        out.append(int(name[len(prefix): -len(".json")]))
    return sorted(out)


def _checkpoint_hint(fs, path: str) -> int:
    """Version named by the ``_last_checkpoint`` pointer file, 0 when
    absent/unreadable. A HINT only: every consumer falls back to the
    full listing when it is missing or stale-beyond-use, so a torn or
    lagging pointer can cost extra I/O but never correctness."""
    try:
        raw = fs.read_bytes(_pointer_path(path))
        return int(json.loads(raw.decode("utf-8"))["version"])
    except Exception:
        return 0


def _advance_pointer(fs, path: str, version: int) -> bool:
    """Monotonically advance the pointer to ``version`` (atomic replace
    of the one mutable file in the log), CONVERGENT under races: after
    each replace the pointer is read back, and a writer whose target is
    still ahead retries — so two concurrent advances always settle on
    the maximum instead of the last writer silently regressing the hint
    (a regressed hint is normally just extra probe I/O, but clean_log
    deletes commits below its cut and must be able to rely on the
    pointer staying at/above it). Returns True iff the pointer is known
    to be >= version; failures are reported, not raised — the
    checkpoint itself is already durable and ordinary readers fall back
    to listing."""
    for _ in range(5):
        if _checkpoint_hint(fs, path) >= version:
            return True
        try:
            # put_bytes stages and renames over the old pointer
            fs.put_bytes(
                _pointer_path(path), json.dumps({"version": version}).encode("utf-8")
            )
        except Exception:
            return _checkpoint_hint(fs, path) >= version
    return _checkpoint_hint(fs, path) >= version


def _latest_version(fs, path: str) -> int:
    """Newest committed version, touching O(commits-since-checkpoint)
    log files: probe forward from the pointer (versions are dense by
    construction — every CAS lands at latest+1), falling back to a full
    LIST when no pointer exists yet. This is what keeps every read and
    every CAS retry metadata-bounded on a table whose streaming sink
    has committed a million epochs."""
    hint = _checkpoint_hint(fs, path)
    if hint > 0:
        v = hint
        while fs.exists(_commit_path(path, v + 1)):
            v += 1
        if v > hint or fs.exists(_checkpoint_path(path, hint)):
            return v
        # a pointer naming a checkpoint that does not exist (external
        # tampering / torn state): never trust it — fall through to the
        # listing so a stale hint costs I/O, not a wrong version
    versions = _list_versions(fs, path)
    if versions:
        return versions[-1]
    cks = _list_versions(fs, path, prefix="checkpoint.v")
    return cks[-1] if cks else 0


#: checkpoint live-set format thresholds. A checkpoint whose live set
#: exceeds _CKPT_INLINE_MAX entries is written CHUNKED (format 2): the
#: live entries bucket by a stable hash of part path into power-of-two
#: many chunk files of ~_CKPT_CHUNK_TARGET entries, each chunk file
#: named by its CONTENT hash and written once (put_if_absent). Because
#: bucket membership is hash-of-path, K commits between two cadence
#: checkpoints change at most ~K buckets — every unchanged chunk is
#: REUSED by name, so the cadence write serializes O(delta), not
#: O(live set) (the single-JSON design re-serialized tens of MB per
#: cadence at 10^5-10^6 parts; Delta's parquet checkpoints rewrite the
#: full live set — content-addressed chunks beat both on the write
#: path). Cold reads assemble the chunks: O(live set) bytes, which is
#: the information-theoretic floor for a snapshot. Small tables stay
#: on the inline format (zero extra objects, fully back-compatible).
_CKPT_INLINE_MAX = 512
_CKPT_CHUNK_TARGET = 256


def _pick_n_chunks(n_entries: int, prev: int | None) -> int:
    """Chunk count for this checkpoint: STICKY on the previous
    checkpoint's count (recorded in its footer), resized by powers of
    two only past a 2x hysteresis band — so slow table growth keeps the
    same bucketing (maximal chunk reuse) and a resize (full reshuffle)
    happens O(log n) times over a table's life, amortized O(1) per
    checkpoint."""
    n = max(prev or 1, 1)
    while n_entries / n > 2 * _CKPT_CHUNK_TARGET:
        n *= 2
    while n > 1 and n_entries / n < _CKPT_CHUNK_TARGET / 2:
        n //= 2  # a compact shrank the live set: fold buckets back
    return n


def _bucket_of(part_path: str, n_chunks: int) -> int:
    import hashlib

    return int.from_bytes(
        hashlib.sha256(part_path.encode("utf-8")).digest()[:8], "big"
    ) % n_chunks


def _chunk_live(
    entries: list[dict],
    n_chunks: int,
    prev_refs: list[dict] | None = None,
    dirty: set[int] | None = None,
) -> tuple[list[tuple[str, bytes | None, int]], list[list[dict]]]:
    """Bucket live entries into content-addressed chunk payloads:
    ``[(name, raw_bytes, n_entries)]`` in bucket order. Deterministic in
    (entry set, n_chunks) — same inputs, same chunks, same names —
    which is what makes cross-checkpoint reuse and the idempotent
    two-writer checkpoint race safe. All-empty buckets share one chunk
    object (same content hash).

    ``prev_refs``/``dirty`` make the SERIALIZATION itself O(delta):
    when the previous checkpoint's footer (same n_chunks) and the set
    of buckets the tail commits touched are known, clean buckets reuse
    the previous footer's (name, n) verbatim with ``raw=None`` (no
    serialize, no hash, no write) — only dirty buckets pay the JSON
    dump. Sound because a bucket's content can only change through a
    commit that adds/removes/DV-mutates a part hashing into it, and
    the caller derives ``dirty`` from exactly those commits.

    Returns ``(chunks, buckets)`` — the chunk list plus the raw bucket
    contents, so the caller can re-serialize any bucket on demand (the
    post-publish verify-and-heal of reused chunk files)."""
    buckets: list[list[dict]] = [[] for _ in range(n_chunks)]
    for e in entries:
        buckets[_bucket_of(e["path"], n_chunks)].append(e)
    reuse = (
        prev_refs if prev_refs is not None and dirty is not None
        and len(prev_refs) == n_chunks else None
    )
    out: list[tuple[str, bytes | None, int]] = []
    for i, b in enumerate(buckets):
        if reuse is not None and i not in dirty:
            out.append((reuse[i]["name"], None, reuse[i]["n"]))
            continue
        name, raw = _chunk_payload(b)
        out.append((name, raw, len(b)))
    return out, buckets


def _chunk_payload(bucket: list[dict]) -> tuple[str, bytes]:
    """Deterministic (content-hash name, bytes) of one live-set bucket."""
    import hashlib

    b = sorted(bucket, key=lambda e: e["path"])
    raw = json.dumps({"live": b}, indent=0, sort_keys=True).encode("utf-8")
    return "chunk-" + hashlib.sha256(raw).hexdigest()[:32] + ".json", raw


#: parsed-checkpoint cache. Checkpoint files are write-once, so a parse
#: keyed by (path, version, mtime) can never serve stale content — the
#: mtime component keeps externally mutated or recreated files visible.
#: This is what keeps the per-commit metadata cost at "one small stat"
#: instead of re-parsing a live-set JSON (MBs on a 10^4-part table) for
#: every txn pre-check, fold, and auto-checkpoint probe.
_CKPT_CACHE: dict[tuple, dict] = {}
_CKPT_CACHE_MAX = 8


def _load_checkpoint(
    fs, path: str, version: int, with_live: bool = True
) -> dict | None:
    """Read checkpoint ``version``, None when absent/unreadable (the
    caller falls back to listing/replay). Protocol-guarded like commits:
    a checkpoint short-circuits replay, so a future writer's semantics
    must be refused here, never silently misread. Callers treat the
    returned payload as READ-ONLY (it may be a shared cache entry).

    ``with_live=False`` is the FOLDED-STATE fast path (schema, sources,
    props, txns, ts — all footer-resident): a chunked (format-2)
    checkpoint then costs one footer read, no chunk I/O. The default
    assembles the live set from the content-addressed chunk files for
    format 2 (inline for format 1) and caches the assembled payload, so
    repeated snapshot reads of one checkpoint fetch the chunks once. A
    missing/torn chunk makes the checkpoint unreadable as a whole
    (None), exactly like a torn format-1 file."""
    cpath = _checkpoint_path(path, version)
    try:
        key = (path, version, fs.mtime(cpath))
    except Exception:
        return None
    ck = _CKPT_CACHE.get(key)
    if ck is None:
        try:
            # a torn footer (crash mid-replace, external tamper) is
            # "unreadable", same as an absent one — callers degrade.
            # Broad catch: URI stores surface missing paths as Py4J
            # errors, and the parse failure is part of the contract
            ck = json.loads(fs.read_bytes(cpath).decode("utf-8"))
        except Exception:
            return None
        if ck.get("protocol", 1) > PROTOCOL_VERSION:
            raise ProtocolVersionError(
                f"checkpoint v{ck['version']} under {path} was written at "
                f"txlog protocol {ck['protocol']}; this reader supports <= "
                f"{PROTOCOL_VERSION} — upgrade the engine"
            )
        if len(_CKPT_CACHE) >= _CKPT_CACHE_MAX:
            _CKPT_CACHE.clear()
        _CKPT_CACHE[key] = ck
    if with_live and ck.get("format", 1) >= 2 and "live" not in ck:
        names: list[str] = []
        seen: set[str] = set()
        for ref in ck["live_chunks"]:
            if ref["name"] not in seen:
                seen.add(ref["name"])
                names.append(ref["name"])
        try:
            # cold assembly fetches chunks with a BOUNDED thread pool:
            # fsio is remote-store-shaped, so per-object LATENCY (not
            # CPU or bandwidth) dominates a 10^6-part table's hundreds
            # of chunk GETs — a sequential loop pays latency × chunks,
            # the pool pays ~latency × chunks/16. Local stores with a
            # single chunk skip the pool entirely. JSON decode stays in
            # the workers too (it is the CPU half of assembly).
            def _fetch(nm: str) -> list:
                raw = fs.read_bytes(fs_join(_log_dir(path), nm))
                return json.loads(raw.decode("utf-8"))["live"]

            if len(names) > 1:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(
                    max_workers=min(16, len(names))
                ) as pool:
                    lives = list(pool.map(_fetch, names))
            else:
                lives = [_fetch(nm) for nm in names]
            by_name = dict(zip(names, lives))
            entries: list[dict] = []
            for ref in ck["live_chunks"]:
                entries.extend(by_name[ref["name"]])
        except Exception:
            return None
        ck = dict(ck, live=entries)
        _CKPT_CACHE[key] = ck
    return ck


def _read_commit(fs, path: str, version: int) -> dict:
    c = json.loads(fs.read_bytes(_commit_path(path, version)).decode("utf-8"))
    if c.get("protocol", 1) > PROTOCOL_VERSION:
        raise ProtocolVersionError(
            f"commit v{version} under {path} was written at txlog protocol "
            f"{c['protocol']}; this reader supports <= {PROTOCOL_VERSION} — "
            "upgrade the engine before reading this table (new commit "
            "semantics could otherwise be silently misread)"
        )
    return c


def _entry(a: dict) -> dict:
    e = {"partition": a.get("partition", {})}
    if a.get("stats"):
        e["stats"] = a["stats"]
    if a.get("dvs"):
        # deletion vectors survive checkpoint/restore round-trips
        e["dvs"] = list(a["dvs"])
    if a.get("compacted"):
        # the compaction-settings marker backs compact's per-group
        # no-op detection (an already-compacted group is skipped)
        e["compacted"] = a["compacted"]
    return e


def _apply_commit(live: dict[str, dict], c: dict, v: int, path: str) -> None:
    """Fold one commit into the live set, VALIDATING every remove — a
    commit removing a non-live part means the conflict protocol was
    violated, and raising here is what makes the stress tests check the
    whole history."""
    for r in c.get("removes", []):
        if r not in live:
            raise RuntimeError(
                f"txlog corrupt under {path}: v{v} removes non-live part {r}"
            )
        del live[r]
    for a in c.get("adds", []):
        live[a["path"]] = _entry(a)
    for d in c.get("dv", []):
        if d["part"] not in live:
            raise RuntimeError(
                f"txlog corrupt under {path}: v{v} attaches a deletion "
                f"vector to non-live part {d['part']}"
            )
        live[d["part"]].setdefault("dvs", []).append(d["path"])


def _read_commit_retained(fs, path: str, v: int, what: str) -> dict:
    """_read_commit for WINDOWED feeds: a commit reaped by log retention
    surfaces as the curated :class:`VersionExpiredError` (same contract
    as the snapshot path and the streaming source), never a bare
    filesystem FileNotFoundError a consumer can't act on."""
    try:
        return _read_commit(fs, path, v)
    except VersionExpiredError:
        raise
    except FileNotFoundError:
        raise VersionExpiredError(
            f"{what} under {path} needs commit v{v}, which log retention "
            "(clean_log) already reaped; start from a newer version or "
            "re-bootstrap from a snapshot"
        ) from None


def _snapshot(fs, path: str, version: int | None = None) -> tuple[int, dict[str, dict]]:
    """Replay the log up to ``version`` (default: latest): returns
    ``(version, live)`` where live maps part path -> its manifest entry
    ``{"partition": tag, "stats": {col: [min, max]} | absent}``.

    **Latest-snapshot reads are metadata-bounded**: with a
    ``_last_checkpoint`` pointer present, the replay loads ONE
    checkpoint and probes/reads only the commits after it —
    O(commits-since-checkpoint) log objects, never a LIST of the whole
    directory (a streaming sink commits once per epoch; at 10⁵–10⁶
    commits a full LIST per read is the first thing to fall over).
    Explicit-version time travel takes the listed path (it may need an
    older checkpoint), which also detects corruption (missing commits)
    and raises :class:`VersionExpiredError` for versions older than
    what log retention (:func:`clean_log`) kept replayable."""
    if version is None:
        hint = _checkpoint_hint(fs, path)
        if hint > 0:
            ck = _load_checkpoint(fs, path, hint)
            if ck is not None:
                v = hint
                while fs.exists(_commit_path(path, v + 1)):
                    v += 1
                live = {e["path"]: _entry(e) for e in ck["live"]}
                for w in range(hint + 1, v + 1):
                    _apply_commit(live, _read_commit(fs, path, w), w, path)
                return v, live
        # no pointer (young/legacy table) or damaged checkpoint: listed
    versions = _list_versions(fs, path)
    all_ckpts = _list_versions(fs, path, prefix="checkpoint.v")
    if not versions and not all_ckpts:
        return 0, {}
    # a table whose every commit JSON was reaped at a checkpointed cut
    # (clean_log with cut == latest) is healthy: the checkpoint IS the
    # snapshot, so "latest" must consider both listings
    latest = max(versions[-1] if versions else 0,
                 all_ckpts[-1] if all_ckpts else 0)
    if version is None:
        version = latest
    elif version > latest:
        raise FileNotFoundError(
            f"no commit v{version} under {path} (latest is v{latest})"
        )
    if versions and versions != list(range(versions[0], versions[-1] + 1)):
        missing = sorted(
            set(range(versions[0], versions[-1] + 1)) - set(versions)
        )
        raise RuntimeError(f"txlog corrupt under {path}: missing commits {missing}")

    live: dict[str, dict] = {}
    start = 1
    unreadable: list[int] = []
    for cv in reversed([v for v in all_ckpts if v <= version]):
        ck = _load_checkpoint(fs, path, cv)
        if ck is None:
            # torn footer or missing chunk (external tampering, a crash
            # inside the verify-and-heal window): degrade to an OLDER
            # checkpoint or full replay — raise only if the degradation
            # genuinely cannot reconstruct this version (below)
            unreadable.append(cv)
            continue
        live = {e["path"]: _entry(e) for e in ck["live"]}
        start = ck["version"] + 1
        break
    needed = set(range(start, version + 1)) - set(versions)
    if needed:
        if unreadable:
            raise RuntimeError(
                f"txlog corrupt under {path}: checkpoint v{unreadable[0]} "
                "is listed but unreadable, and the commits it covers "
                f"(v{min(needed)}..v{max(needed)}) are not replayable"
            )
        # the replay would need commits that log retention already
        # reaped and no surviving checkpoint covers this version
        raise VersionExpiredError(
            f"version {version} under {path} needs commit(s) "
            f"v{min(needed)}..v{max(needed)}, which log retention "
            "(clean_log) already reaped; history older than the retained "
            "checkpoint is expired by design"
        )
    for v in range(start, version + 1):
        _apply_commit(live, _read_commit(fs, path, v), v, path)
    return version, live


def _folded_checkpoint(fs, path: str, version: int, key: str) -> tuple[object, int]:
    """The newest checkpoint <= ``version`` that carries folded state
    ``key`` → ``(value, replay_start)``; ``(None, 1)`` when none exists
    (legacy checkpoints predate folding — replay the whole log).
    Tries the pointer hint first (no LIST), then the listed
    checkpoints."""
    hint = _checkpoint_hint(fs, path)
    if 0 < hint <= version:
        # footer-only read: the folded keys never require chunk I/O
        ck = _load_checkpoint(fs, path, hint, with_live=False)
        if ck is not None and ck.get(key) is not None:
            return ck[key], ck["version"] + 1
    # hint absent, above `version`, or a legacy checkpoint without the
    # folded key: fall back to the listed checkpoints, newest first
    for cv in sorted(
        (v for v in _list_versions(fs, path, prefix="checkpoint.v")
         if v <= version and v != hint),
        reverse=True,
    ):
        ck = _load_checkpoint(fs, path, cv, with_live=False)
        if ck is not None and ck.get(key) is not None:
            return ck[key], ck["version"] + 1
    return None, 1


def _committed_schema(fs, path: str, version: int) -> dict | None:
    """The table schema as-of ``version``: the ``schema`` recorded by
    the newest commit <= version that carries one (every commit written
    by this module does — the backward walk exists only for logs
    written before schema-in-commit landed, where it returns None and
    readers fall back to Spark's file-sampled inference). When the walk
    runs into commits reaped by log retention, the surviving
    checkpoint's folded schema answers instead."""
    for v in range(version, 0, -1):
        try:
            c = _read_commit(fs, path, v)
        except FileNotFoundError:
            sj, _start = _folded_checkpoint(fs, path, version, "schema")
            if sj is not None:
                return sj
            raise VersionExpiredError(
                f"schema as-of v{version} under {path}: commits at and "
                f"below v{v} were reaped by log retention and no surviving "
                "checkpoint records a schema"
            )
        if "schema" in c:
            return c["schema"]
    return None


def table_schema(spark: SparkSession, path: str, version: int | None = None):
    """Public accessor: the committed table schema (a ``StructType``)
    as-of ``version`` (default latest), or None for pre-schema logs."""
    from pyspark.sql import types as T

    fs = lake_fs(spark, path)
    if version is None:
        version = current_version(spark, path)
    sj = _committed_schema(fs, path, version)
    return T.StructType.fromJson(sj) if sj is not None else None


#: lossless numeric widening lattice (the public Delta type-widening
#: matrix): byte < short < integer < long on the integer chain.
_INT_ORDER = {"byte": 0, "short": 1, "integer": 2, "long": 3}


def _widens_to(frm, to) -> bool:
    """True iff parquet bytes written at type ``frm`` read LOSSLESSLY
    under committed type ``to`` — the public Delta type-widening matrix,
    backed by Spark 4's parquet widening reads (probed live: tinyint→
    smallint→int→long, float→double, byte/short/int→double,
    decimal precision/scale-up with non-shrinking integer digits,
    date→timestamp_ntz; a narrowing read fails loudly with
    PARQUET_COLUMN_DATA_TYPE_MISMATCH). long→double is EXCLUDED — it
    loses precision past 2^53."""
    if frm == to:
        return True
    if not isinstance(frm, str) or not isinstance(to, str):
        return False
    if frm in _INT_ORDER:
        if to in _INT_ORDER:
            return _INT_ORDER[frm] < _INT_ORDER[to]
        # byte/short/int fit a double exactly; long does NOT (2^53)
        return to == "double" and frm != "long"
    if frm == "float":
        return to == "double"
    if frm == "date":
        return to == "timestamp_ntz"
    if frm.startswith("decimal(") and to.startswith("decimal("):
        fp, fs = (int(x) for x in frm[len("decimal("):-1].split(","))
        tp, ts = (int(x) for x in to[len("decimal("):-1].split(","))
        # scale may only grow, and the integer-digit budget (p - s)
        # must not shrink — otherwise large values stop fitting
        return ts >= fs and tp - ts >= fp - fs
    return False


def _merge_schema(
    table_sj: dict | None, df, evolve: bool, mint: dict | None = None
) -> dict:
    """Validate a write's DataFrame schema against the committed table
    schema and return the schema the new commit must record.

    - table has no schema yet (first write / legacy log) → df's schema.
    - exact field set with identical types (order-insensitive) → table
      schema unchanged.
    - ``evolve=True`` → additive evolution PLUS lossless type widening:
      new columns append to the table schema (forced nullable, so parts
      written before the evolution read as null deterministically);
      columns the df omits stay in the schema (this part reads them as
      null); an incoming type that WIDENS the committed one (the Delta
      type-widening matrix — see :func:`_widens_to`: int→long,
      float→double, decimal scale-up, …) updates the committed type, no
      rewrite — old narrow parts upcast at scan time (Spark 4 parquet
      widening reads).
    - a write whose type is NARROWER than the committed one is always
      accepted (schema unchanged — the part's bytes upcast on read like
      any pre-widening part).
    - any OTHER type change is never allowed — rewriting history isn't
      evolution; at 100 TB it would silently reinterpret every existing
      part.

    Protocol note: widening does NOT bump the txlog protocol. Every
    reader applies the committed schema at scan time, so a widened
    table reads with numerically identical values on any engine version
    of this module; an execution engine without parquet widening reads
    fails LOUDLY at scan (PARQUET_COLUMN_DATA_TYPE_MISMATCH), never
    silently misreads — and protocol bumps are reserved for silent
    misreads (see :data:`PROTOCOL_VERSION`).

    On a column-mapping table (see :func:`rename_column`), evolution-
    added columns mint a FRESH uuid physical name, so a column dropped
    and later re-added can never resurrect the dropped bytes. ``mint``
    pins logical→physical for a retrying writer whose part bytes were
    already written under the first merge's names: a re-merge reuses
    them, and a concurrent add of the same logical name under a
    DIFFERENT physical id raises :class:`CommitConflict` (the part must
    be rewritten under the winning identity).
    """
    _check_reserved_columns(df.schema.jsonValue(), "write")
    new_fields = {f.name: f.dataType.jsonValue() for f in df.schema.fields}
    if table_sj is None:
        return df.schema.jsonValue()
    table_fields = {f["name"]: f["type"] for f in table_sj["fields"]}
    widened: dict[str, object] = {}
    for name, typ in new_fields.items():
        if name in table_fields and table_fields[name] != typ:
            if _widens_to(typ, table_fields[name]):
                # narrower write into a wider committed column: the part
                # bytes upcast at scan like any pre-widening part
                continue
            if _widens_to(table_fields[name], typ):
                if not evolve:
                    raise SchemaMismatchError(
                        f"column {name!r}: incoming type {typ} widens the "
                        f"committed {table_fields[name]}; pass evolve=True "
                        "to commit the lossless widening"
                    )
                widened[name] = typ
                continue
            raise SchemaMismatchError(
                f"column {name!r}: committed type {table_fields[name]} vs "
                f"incoming {typ} — non-widening type changes are never "
                "allowed"
            )
    for name, phys in (mint or {}).items():
        if name in table_fields and _phys_of(table_sj, name) != phys:
            raise CommitConflict(
                f"column {name!r} was concurrently added under a different "
                f"physical id ({_phys_of(table_sj, name)} vs our {phys}); "
                "the staged part is unreadable under the winning identity — "
                "re-run the write"
            )
    added = [n for n in new_fields if n not in table_fields]
    missing = [n for n in table_fields if n not in new_fields]
    if not evolve:
        if added or missing:
            raise SchemaMismatchError(
                f"schema drift without evolve=True: new columns {added}, "
                f"missing columns {missing}; pass evolve=True for additive "
                "evolution (new nullable columns / null-filled omissions)"
            )
        return table_sj
    if not added and not widened:
        return table_sj
    base_fields = [
        dict(f, type=widened[f["name"]]) if f["name"] in widened else f
        for f in table_sj["fields"]
    ]
    if not added:
        return dict(table_sj, fields=base_fields)
    mapped = _mapping_enabled(table_sj)
    next_id = max(
        ((f.get("metadata") or {}).get("cm.id", 0) for f in table_sj["fields"]),
        default=0,
    )
    new_dicts = []
    for f in df.schema.fields:
        if f.name not in set(added):
            continue
        fd = dict(f.jsonValue(), nullable=True)
        if mapped:
            # fresh physical identity: a later same-named re-add after a
            # drop must never read the dropped bytes
            next_id += 1
            md = dict(fd.get("metadata") or {})
            md["cm.phys"] = (mint or {}).get(f.name) or f"col-{uuid.uuid4().hex}"
            md["cm.id"] = next_id
            fd["metadata"] = md
        new_dicts.append(fd)
    merged = dict(table_sj)
    merged["fields"] = base_fields + new_dicts
    return merged


# --------------------------------------------------------------------------
# column mapping (rename/drop without rewrite — the public Delta
# column-mapping design, name-mapping mode)
#
# Each committed-schema field may carry ``metadata: {"cm.phys": p,
# "cm.id": n}``: the LOGICAL name (``field["name"]``) is what users
# query; the PHYSICAL name (``cm.phys``, default = the logical name) is
# what the parquet bytes actually store and NEVER changes once minted.
# ``rename_column`` therefore only rewrites the schema payload (logical
# name moves, physical stays); ``drop_column`` removes the field
# (later re-adds mint a FRESH uuid physical name, so dropped bytes can
# never resurrect under the new column). Commits whose schema maps any
# logical name away from its physical one stamp protocol 3 — a v<=2
# reader would read the renamed column as all-null.
# --------------------------------------------------------------------------


def _phys_name(f: dict) -> str:
    return (f.get("metadata") or {}).get("cm.phys", f["name"])


def _schema_mapped(sj: dict | None) -> bool:
    """True iff any logical name differs from its physical name — the
    exact condition under which a v<=2 reader silently misreads."""
    return sj is not None and any(
        _phys_name(f) != f["name"] for f in sj.get("fields", [])
    )


def _mapping_enabled(sj: dict | None) -> bool:
    """True once any field carries mapping metadata (set by the first
    rename/drop): from then on evolution-added columns mint fresh
    physical names."""
    return sj is not None and any(
        "cm.phys" in (f.get("metadata") or {}) for f in sj.get("fields", [])
    )


def _stamp_mapping(sj: dict) -> dict:
    """Enter mapping mode: give every field explicit mapping metadata,
    physical = its current logical name (the name its bytes are already
    stored under), ids positional. Idempotent for already-stamped
    fields."""
    out = dict(sj)
    fields = []
    next_id = max(
        ((f.get("metadata") or {}).get("cm.id", 0) for f in sj["fields"]),
        default=0,
    )
    for f in sj["fields"]:
        f = dict(f)
        md = dict(f.get("metadata") or {})
        if "cm.phys" not in md:
            next_id += 1
            md["cm.phys"] = f["name"]
            md["cm.id"] = next_id
        f["metadata"] = md
        fields.append(f)
    out["fields"] = fields
    return out


def _physical_struct(schema_json: dict):
    """The committed schema with PHYSICAL field names — the schema the
    parquet bytes are actually stored under."""
    from pyspark.sql import types as T

    fields = [dict(f, name=_phys_name(f)) for f in schema_json["fields"]]
    return T.StructType.fromJson(dict(schema_json, fields=fields))


def _to_logical(df: DataFrame, schema_json: dict | None) -> DataFrame:
    if schema_json is None:
        return df
    renames = {
        _phys_name(f): f["name"]
        for f in schema_json["fields"]
        if _phys_name(f) != f["name"]
    }
    return df.withColumnsRenamed(renames) if renames else df


def _to_physical(df: DataFrame, schema_json: dict | None) -> DataFrame:
    """Rename a LOGICAL frame to physical column names before any
    parquet write — the single direction in which table bytes land on
    disk. Columns the schema does not know (only scan-provenance temp
    columns reach here) pass through unchanged."""
    if schema_json is None:
        return df
    have = set(df.columns)
    renames = {
        f["name"]: _phys_name(f)
        for f in schema_json["fields"]
        if _phys_name(f) != f["name"] and f["name"] in have
    }
    return df.withColumnsRenamed(renames) if renames else df


def _phys_of(schema_json: dict | None, logical: str) -> str:
    if schema_json is None:
        return logical
    for f in schema_json["fields"]:
        if f["name"] == logical:
            return _phys_name(f)
    return logical


def _check_concurrent_column_removal(
    orig_sj: dict | None, fresh_sj: dict | None, df_cols, path: str, op: str
) -> None:
    """Retry-path guard for mapped tables: a writer whose part bytes
    were already written under its first merge's mapping must not
    re-attach past a concurrent rename/drop of a column it carries —
    the re-merge would classify the column as evolution-ADDED and
    re-mint its OLD physical name, resurrecting the dropped bytes (or
    colliding with the renamed field's physical id). Conflict instead;
    the caller re-runs against the new schema."""
    if not (_mapping_enabled(orig_sj) or _mapping_enabled(fresh_sj)):
        return
    orig = {f["name"] for f in (orig_sj or {}).get("fields", [])}
    fresh = {f["name"] for f in (fresh_sj or {}).get("fields", [])}
    gone = sorted((set(df_cols) & orig) - fresh)
    if gone:
        raise CommitConflict(
            f"{op} under {path}: column(s) {gone} were renamed or dropped "
            "by a concurrent commit while this write was staged; re-run "
            "against the new schema"
        )


def _read_parts(
    spark: SparkSession,
    parts: list[str],
    schema_json: dict | None,
    keep_physical: bool = False,
) -> DataFrame:
    """Read part files WITH the committed schema when one exists —
    deterministic column set and types regardless of which file Spark
    would sample (evolution-added columns are nullable, so pre-evolution
    parts read them as null: explicit ``mergeSchema`` semantics pinned
    by the log, not by file-sampling luck). The scan runs under the
    PHYSICAL column names (what the bytes store) and the result is
    renamed to the logical names — ``keep_physical=True`` skips the
    rename for callers that must still touch the scan's ``_metadata``
    pseudo-column (a projection would sever it)."""
    from pyspark.sql import types as T

    if schema_json is None:
        return spark.read.parquet(*parts)
    if not _schema_mapped(schema_json):
        return spark.read.schema(T.StructType.fromJson(schema_json)).parquet(*parts)
    df = spark.read.schema(_physical_struct(schema_json)).parquet(*parts)
    return df if keep_physical else _to_logical(df, schema_json)


_META_COLS = ("_f_path", "_f_name", "_f_idx")
#: names no committed table column may use: the scan-provenance columns
#: _read_live(meta=True) injects for delete/merge/DV matching, plus the
#: change-feed tags table_changes_cdf / the txlog_feed source append.
#: Without the write-time refusal, withColumn would silently REPLACE a
#: same-named user column and row matching would run against file
#: metadata instead of the user's data.
_RESERVED_COLS = frozenset(_META_COLS) | {"_change_type", "_commit_version"}


def _part_rel_expr(col: str = "_f_path"):
    """'<part-dir>/<file-name>' tail of a scanned file path — the
    deletion-vector row-identity key. The part-dir segment is a uuid4
    this module mints (``_write_part``), so the key is globally unique
    BY CONSTRUCTION — unlike a bare file basename, whose uniqueness
    across part directories would silently ride on Spark's task-file
    naming. Data files sit directly under ``parts/<uuid>/``, so the last
    two segments are the key even when the table path itself contains a
    ``parts`` segment; ``substring_index`` finds them without running a
    regex on every scanned row."""
    from pyspark.sql import functions as F

    return F.substring_index(F.col(col), "/", -2)


def _part_base_expr(col: str = "_f_path"):
    """Part directory (uuid4 hex) of a scanned file path."""
    from pyspark.sql import functions as F

    return F.substring_index(_part_rel_expr(col), "/", 1)


def _check_reserved_columns(schema_json: dict, where: str) -> None:
    bad = sorted(
        f["name"] for f in schema_json.get("fields", [])
        if f["name"] in _RESERVED_COLS
    )
    if bad:
        raise SchemaMismatchError(
            f"{where}: column name(s) {bad} are reserved by the txlog "
            "engine (scan provenance / change-feed tags) — rename them "
            "before writing"
        )


def _read_live(
    spark: SparkSession,
    live: dict,
    schema_json: dict | None,
    meta: bool = False,
) -> DataFrame:
    """DV-aware snapshot read of a set of LIVE ENTRIES: parts carrying
    deletion vectors anti-join their deleted (file, row_index) pairs
    out (``_metadata.row_index`` is stable per parquet file, so the
    pair is a durable row id); parts without DVs read exactly as
    before. ``meta=True`` additionally exposes ``_f_path`` /
    ``_f_name`` / ``_f_idx`` provenance columns (computed AT THE SCAN
    from the file metadata — deterministic through the anti-join,
    unlike input_file_name past a join). Callers must pass a non-empty
    live subset."""
    from pyspark.sql import functions as F

    def _with_meta(df):
        clash = sorted(set(df.columns) & set(_META_COLS))
        if clash:
            # legacy table written before the reserved-name guard:
            # withColumn would silently REPLACE the user's column and
            # run row matching against file metadata — refuse instead
            raise SchemaMismatchError(
                f"table column(s) {clash} collide with the engine's scan "
                "provenance columns; rename them (new writes reject these "
                "names up front)"
            )
        return (
            df.withColumn("_f_path", F.col("_metadata.file_path"))
            .withColumn(
                "_f_name", F.substring_index(F.col("_metadata.file_path"), "/", -1)
            )
            .withColumn("_f_idx", F.col("_metadata.row_index"))
        )

    plain = sorted(p for p, e in live.items() if not e.get("dvs"))
    dvd = {p: e for p, e in live.items() if e.get("dvs")}
    frames = []
    # provenance columns must be materialized on the RAW scan (the
    # _metadata pseudo-column does not survive a projection), so mapped
    # tables scan physical, stamp _f_*, THEN rename to logical names
    if plain:
        df = _read_parts(spark, plain, schema_json, keep_physical=True)
        if meta:
            df = _with_meta(df)
        frames.append(_to_logical(df, schema_json))
    if dvd:
        df = _with_meta(
            _read_parts(spark, sorted(dvd), schema_json, keep_physical=True)
        )
        dv_paths = sorted({d for e in dvd.values() for d in e["dvs"]})
        # explicit schema: no DV-aware scan pays a schema-inference job
        dv = spark.read.schema("dv_file string, dv_idx long").parquet(*dv_paths)
        # row identity is the '<part-uuid>/<file>' key of _part_rel_expr.
        # Vectors written before that key landed store the bare file
        # name; the formats are disjoint (only new keys contain '/'), so
        # each vector row matches through exactly one arm and legacy
        # vectors keep deleting their rows
        key_match = F.when(
            dv["dv_file"].contains("/"), _part_rel_expr() == dv["dv_file"]
        ).otherwise(df["_f_name"] == dv["dv_file"])
        df = df.join(dv, key_match & (df["_f_idx"] == dv["dv_idx"]), "left_anti")
        if not meta:
            df = df.drop(*_META_COLS)
        frames.append(_to_logical(df, schema_json))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _empty_frame(spark: SparkSession, fs, path: str, version: int, live: dict) -> DataFrame:
    """Schema-stable empty frame: built from the committed schema when
    available (no file I/O), else from any historical live part."""
    from pyspark.sql import functions as F, types as T

    sj = _committed_schema(fs, path, version)
    if sj is not None:
        return spark.createDataFrame([], T.StructType.fromJson(sj))
    if not live:
        raise FileNotFoundError(f"no live parts under {path} at v{version}")
    return spark.read.parquet(sorted(live)[0]).filter(F.lit(False))


def current_version(spark: SparkSession, path: str) -> int:
    fs = lake_fs(spark, path)
    return _latest_version(fs, path)


def history(spark: SparkSession, path: str) -> list[dict]:
    """All commits oldest-first: [{version, operation, n_adds,
    n_removes, partition}] — the audit log a serializability check
    replays."""
    fs = lake_fs(spark, path)
    out = []
    for v in _list_versions(fs, path):
        c = _read_commit(fs, path, v)
        out.append(
            {
                "version": v,
                "operation": c["operation"],
                "n_adds": len(c.get("adds", [])),
                "n_removes": len(c.get("removes", [])),
                "partition": c.get("scope_partition"),
                "ts": c.get("ts"),
            }
        )
    return out


def _require_parts_exist(fs, path: str, parts: list[str], what: str) -> None:
    """Plan-time existence check for historical reads: any part already
    reaped by ``vacuum(keep_versions=...)`` raises
    :class:`VersionExpiredError` naming the gap, instead of an executor
    PATH_NOT_FOUND mid-query. Only called on TIME-TRAVEL / change-feed
    paths — latest-snapshot reads skip it because vacuum never reaps
    live parts (metadata probes stay off the hot read path)."""
    missing = [p for p in parts if not fs.exists(p)]
    if missing:
        raise VersionExpiredError(
            f"{what} under {path} needs {len(missing)} part(s) already "
            f"reaped by vacuum retention (e.g. {missing[0]}); history "
            "older than keep_versions is expired by design"
        )


def read_table(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    partition_filter: dict | None = None,
    timestamp: float | None = None,
    range_filter: dict | None = None,
) -> DataFrame:
    """Snapshot read: exactly the parts live at ``version`` (default
    latest) — concurrent commits landing after the replay can't change
    what this frame reads, because parts are immutable and commits only
    ever add/remove whole parts. ``partition_filter`` prunes parts by
    their commit-recorded partition tag WITHOUT opening them
    (manifest-level partition pruning). ``timestamp`` (unix seconds)
    time-travels by wall clock instead of version — the AS OF TIMESTAMP
    shape, resolved by :func:`version_at_timestamp`. Time travel to a
    version whose parts were reaped by ``vacuum(keep_versions=...)``
    raises :class:`VersionExpiredError` at plan time.

    ``range_filter={col: (lo, hi)}`` is manifest-level DATA SKIPPING
    (Delta/Iceberg zone maps on the commit log): parts whose recorded
    ``stats`` prove the column range disjoint from [lo, hi] are skipped
    without being opened, and the row predicate ``col BETWEEN lo AND
    hi`` is applied to the survivors — so the result is exact whether
    or not any part recorded stats (stats-less parts are conservatively
    read). Bounds may be None for half-open ranges. Stats are recorded
    by ``append(..., stats_cols=[...])`` and survive compaction and
    row-level rewrites."""
    from pyspark.sql import functions as F

    fs = lake_fs(spark, path)
    if timestamp is not None:
        if version is not None:
            raise ValueError("read_table: pass version OR timestamp, not both")
        version = version_at_timestamp(spark, path, timestamp)
    v, live = _snapshot(fs, path, version)
    parts = sorted(live)
    if partition_filter:
        parts = [
            p
            for p in parts
            if all(
                live[p]["partition"].get(k) == pv
                for k, pv in partition_filter.items()
            )
        ]
    if range_filter:
        # zone maps are keyed by physical name; the user filters logical
        sj_v = _committed_schema(fs, path, v)
        phys_filter = {
            _phys_of(sj_v, c): b for c, b in range_filter.items()
        }
        parts = [
            p
            for p in parts
            if not _stats_disjoint(live[p].get("stats"), phys_filter)
        ]
    if version is not None:
        # AFTER pruning: a time-travel read must not fail on reaped
        # parts it was never going to open (a pruned partition whose
        # history expired is irrelevant to this query). Deletion-vector
        # parts of the selected entries are load-bearing too.
        needed = list(parts) + sorted(
            {d for p in parts for d in live[p].get("dvs", [])}
        )
        _require_parts_exist(fs, path, needed, f"read_table(version={version})")
    if not parts:
        # _empty_frame builds from the committed schema, so a table
        # whose every row was deleted (live set empty) reads as a
        # schema-stable empty frame — not an error; only a pre-schema
        # table with no live parts has nothing to build from (it raises)
        out = _empty_frame(spark, fs, path, v, live)
    else:
        out = _read_live(
            spark, {p: live[p] for p in parts}, _committed_schema(fs, path, v)
        )
    for col, (lo, hi) in (range_filter or {}).items():
        if lo is not None:
            out = out.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            out = out.filter(F.col(col) <= F.lit(hi))
    return out


def _write_part(
    spark: SparkSession, path: str, df: DataFrame, schema_json: dict | None = None,
    prefix: str = "",
) -> str:
    """Write ``df`` as a fresh part (``prefix``: ``"cdc-"`` for change
    parts) and return its path."""
    part = fs_join(_part_dir(path), prefix + uuid.uuid4().hex)
    _to_physical(df, schema_json).write.mode("overwrite").parquet(part)
    return part


def _part_num_rows(spark: SparkSession, part: str) -> int:
    """Row count of a just-written part from its parquet FOOTERS —
    driver-side metadata reads, no Spark job, on local stores (the
    chunked-checkpoint footer pattern: counts a writer needs about its
    own output are already durable in the files it wrote). URI stores
    and missing-pyarrow environments fall back to a count job, which
    Spark itself serves from footers."""
    import os as _os

    if not is_uri(part):
        try:
            import pyarrow.parquet as _pq

            total = 0
            for root, _dirs, files in _os.walk(part):
                for f in files:
                    if f.endswith(".parquet") and not f.startswith(("_", ".")):
                        total += _pq.read_metadata(_os.path.join(root, f)).num_rows
            return total
        except ImportError:
            pass
    return spark.read.parquet(part).count()


def _json_stat(v):
    """JSON-safe, order-preserving encoding of a min/max value. ISO-8601
    strings compare lexicographically in timestamp order, so date/
    datetime bounds stay prunable. Unsupported types return None →
    the column records no stats (conservatively unprunable)."""
    import datetime as _dt

    if v is None or isinstance(v, bool):
        return None
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    return None


def _column_stats(df: DataFrame, cols: list[str]) -> dict:
    """One aggregate job over the part being written: {col: [min, max]}
    for every requested column whose bounds encode JSON-safely."""
    from pyspark.sql import functions as F

    exprs = []
    for i, c in enumerate(cols):
        exprs += [F.min(c).alias(f"__mn{i}"), F.max(c).alias(f"__mx{i}")]
    row = df.select(*exprs).first()
    out = {}
    for i, c in enumerate(cols):
        mn, mx = _json_stat(row[f"__mn{i}"]), _json_stat(row[f"__mx{i}"])
        if mn is not None and mx is not None:
            out[c] = [mn, mx]
    return out


def _stats_disjoint(stats: dict | None, range_filter: dict) -> bool:
    """True iff the part's recorded stats PROVE it holds no row in the
    requested ranges. Missing stats (or a missing column) → False: the
    part must be read. This asymmetry is what makes data skipping safe
    to bolt onto a table where only some writers recorded stats."""
    if not stats:
        return False
    for col, (lo, hi) in range_filter.items():
        if col not in stats:
            continue
        smin, smax = stats[col]
        qlo, qhi = _json_stat(lo), _json_stat(hi)
        if qhi is not None and smin is not None and smin > qhi:
            return True
        if qlo is not None and smax is not None and smax < qlo:
            return True
    return False


def _maybe_auto_checkpoint(spark: SparkSession, path: str, version: int) -> None:
    """Post-commit cadence hook: writers call this after WINNING a
    commit. When the tail since the last checkpoint has reached
    :data:`_CHECKPOINT_EVERY`, write one (write-once and racing-safe —
    two writers hitting the cadence together is the same idempotent
    race as two explicit checkpoints). The commit has already won, so a
    checkpoint failure must never fail the write: it is reported as a
    warning and the next writer retries the cadence."""
    if _CHECKPOINT_EVERY <= 0:
        return
    try:
        fs = lake_fs(spark, path)
        if version - _checkpoint_hint(fs, path) >= _CHECKPOINT_EVERY:
            checkpoint(spark, path)
    except Exception as e:  # pragma: no cover - defensive
        import warnings

        warnings.warn(
            f"txlog auto-checkpoint under {path} failed (commit v{version} "
            f"itself is durable): {e}",
            RuntimeWarning,
            stacklevel=2,
        )


def _try_commit(fs, path: str, version: int, payload: dict) -> bool:
    import time as _time

    # wall-clock commit stamp: backs AS-OF-TIMESTAMP time travel; the
    # version order stays the only serialization authority (clock skew
    # between writers is normalized by the resolver's running max).
    # Every commit also stamps the writer's protocol version, so a
    # reader meeting a commit from a FUTURE writer fails with a named
    # upgrade error instead of silently misreading new semantics
    # (the Delta reader/writer-version idea).
    proto = payload.get("protocol", 1)
    if _schema_mapped(payload.get("schema")):
        # a v<=2 reader would resolve the renamed column's logical name
        # against the parquet bytes and read it as all-null
        proto = max(proto, 3)
    payload = dict(payload, version=version, ts=_time.time(), protocol=proto)
    return fs.put_if_absent(
        _commit_path(path, version), json.dumps(payload, indent=0).encode("utf-8")
    )


def version_at_timestamp(spark: SparkSession, path: str, timestamp: float) -> int:
    """The snapshot version live at wall-clock ``timestamp`` (unix
    seconds): the newest commit whose stamp is <= it. Commit stamps are
    normalized to a running maximum before comparing — writers' clocks
    can skew, but the version order is the serialization order, so a
    commit can never take effect before its predecessor (Delta applies
    the same monotonicity adjustment to its file-time resolution).
    Raises if the table did not exist yet at ``timestamp``; a timestamp
    inside history that log retention (:func:`clean_log`) already reaped
    raises :class:`VersionExpiredError` (the surviving checkpoint's
    folded commit stamp marks the boundary)."""
    fs = lake_fs(spark, path)
    versions = _list_versions(fs, path)
    if not versions:
        # every commit JSON reaped at a checkpointed cut: the snapshot
        # (and its folded running commit stamp) lives in the checkpoint
        cks = _list_versions(fs, path, prefix="checkpoint.v")
        if not cks:
            raise FileNotFoundError(f"no commits under {path}")
        ck_ts, start = _folded_checkpoint(fs, path, cks[-1], "ts")
        if ck_ts is not None and ck_ts <= timestamp:
            return start - 1
        raise VersionExpiredError(
            f"timestamp {timestamp} under {path} resolves into history "
            "that log retention already reaped (earliest retained "
            f"snapshot is v{cks[-1]})"
        )
    chosen, running = 0, float("-inf")
    if versions[0] > 1:
        # truncated prefix: seed from the surviving checkpoint's folded
        # running-max commit stamp
        ck_ts, start = _folded_checkpoint(fs, path, versions[0] - 1, "ts")
        if ck_ts is not None and ck_ts <= timestamp:
            chosen, running = start - 1, ck_ts
        elif ck_ts is not None:
            raise VersionExpiredError(
                f"timestamp {timestamp} under {path} resolves into history "
                "that log retention already reaped (earliest retained "
                f"snapshot is v{start - 1} at ts {ck_ts})"
            )
    for v in versions:
        # the listing can go stale mid-loop (a concurrent clean_log):
        # surface the curated expiry error, not a bare filesystem one
        c = _read_commit_retained(fs, path, v, "version_at_timestamp")
        running = max(running, c.get("ts", float("-inf")))
        if running <= timestamp:
            chosen = v
    if chosen == 0:
        raise FileNotFoundError(
            f"no snapshot under {path} at or before timestamp {timestamp} "
            f"(first commit is newer)"
        )
    return chosen


def append(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    partition: dict | None = None,
    max_retries: int = 50,
    sources: list[str] | None = None,
    since_version: int | None = None,
    evolve: bool = False,
    stats_cols: list[str] | None = None,
    txn: tuple[str, int] | None = None,
) -> dict:
    """Transactional append: write an immutable part, then CAS it into
    the log. Blind appends commute, so losing the CAS race costs one
    metadata retry — the part is NOT rewritten. Returns
    {"version", "part"}.

    ``txn=(app, version)`` stamps the commit with a WRITER TRANSACTION
    (the public Delta setTransaction design): sequential writers — a
    streaming sink's epochs — record one monotonic high-water mark per
    app (:func:`txn_version`), checked before re-committing a replay.
    The CAS loop enforces it under contention: a zombie writer losing
    the race to its twin's identical (app, version) raises
    :class:`CommitConflict` instead of double-committing the epoch.
    One integer per writer survives in checkpoints — unlike per-epoch
    ``sources`` tokens, whose folded set grew O(total epochs).

    **Schema-in-commit**: every commit records the table schema as-of
    itself; the incoming frame is validated against the committed
    schema BEFORE any data is written (see :func:`_merge_schema`) — a
    drifted append is rejected unless ``evolve=True``, which permits
    additive evolution only (new nullable columns; omitted columns read
    as null). Readers apply the committed schema, so read semantics are
    a log contract, not a which-file-did-Spark-sample accident. The
    validation re-runs against the live schema on every CAS retry, so
    a concurrent evolution can't be silently reverted by a racing
    old-schema append's recorded schema.

    ``stats_cols`` records per-column [min, max] zone maps in the
    manifest entry (one extra aggregate job over the part being
    written): ``read_table(range_filter=...)`` then skips provably
    disjoint parts without opening them — commit-log data skipping,
    the Delta/Iceberg file-stats idea. Omit it (default) and the
    append costs nothing extra; stats-less parts are simply never
    skipped.

    ``sources`` makes the append EXACTLY-ONCE per source file: the
    commit records which upstream files it incorporated, and the commit
    re-attaches only if no commit after ``since_version`` (the version
    at which the caller computed its new-file set — required with
    sources) shares a source. Two refreshes racing over the same new
    files therefore serialize: one wins, the other raises
    :class:`CommitConflict`, re-reads :func:`table_sources`, and finds
    nothing left to incorporate. This is the incremental-view refresh
    contract (``incremental.refresh_enriched_view``)."""
    fs = lake_fs(spark, path)
    if sources is not None and since_version is None:
        raise ValueError("append: sources requires since_version (the snapshot "
                         "version the new-file set was computed at)")
    v = current_version(spark, path)
    if txn is not None and txn_version(spark, path, str(txn[0]), version=v) >= int(txn[1]):
        raise CommitConflict(
            f"append under {path}: writer transaction {txn[0]}@{txn[1]} is at "
            "or below the committed high-water mark — already durable"
        )
    schema_at = v
    orig_sj = _committed_schema(fs, path, v)
    schema = _merge_schema(orig_sj, df, evolve)
    enforced_cons = _enforce_constraints(spark, path, v, df, "append", schema)
    # pin the minted logical->physical map: CAS-retry re-merges MUST
    # reuse it (the part bytes below are written under these names)
    mint = {f["name"]: _phys_name(f) for f in schema["fields"]}
    part = _write_part(spark, path, df, schema)
    add = {"path": part, "partition": partition or {}}
    if stats_cols:
        stats = _column_stats(df, stats_cols)
        if stats:
            # zone maps are keyed by PHYSICAL name — the rename-stable
            # column identity (readers map their logical filter back)
            add["stats"] = {_phys_of(schema, c): b for c, b in stats.items()}
    payload = {
        "operation": "append",
        "adds": [add],
        "removes": [],
        "scope_partition": partition,
        "schema": schema,
    }
    if sources is not None:
        payload["sources"] = sorted(sources)
    if txn is not None:
        payload["txn"] = {"app": str(txn[0]), "version": int(txn[1])}
    src_set = set(sources or [])
    checked = since_version if sources is not None else None
    txn_checked = v
    for _ in range(max_retries):
        if v != schema_at:
            # a commit landed since validation — re-merge so a racing
            # evolution is honored (never reverted) by our recorded
            # schema; a racing rename/drop of a column we carry conflicts
            fresh_sj = _committed_schema(fs, path, v)
            _check_concurrent_column_removal(
                orig_sj, fresh_sj, df.columns, path, "append"
            )
            payload["schema"] = _merge_schema(fresh_sj, df, evolve, mint=mint)
            if table_constraints(spark, path, version=v) != enforced_cons:
                # a constraint landed (or changed) since validation: the
                # blind-append commute must not slip rows past it — the
                # other half of add_constraint's own retry re-validation
                enforced_cons = _enforce_constraints(
                    spark, path, v, df, "append", payload["schema"]
                )
            schema_at = v
        if checked is not None and v > checked:
            for c in _intervening(fs, path, checked, v):
                overlap = src_set & set(c.get("sources", []))
                if overlap:
                    raise CommitConflict(
                        f"append under {path}: v{c['version']} already "
                        f"incorporated {len(overlap)} of this refresh's source "
                        "files; re-read table_sources and re-run"
                    )
            checked = v
        if txn is not None and v > txn_checked:
            if _txn_already_committed(fs, path, payload, txn_checked, v):
                raise CommitConflict(
                    f"append under {path}: writer transaction {txn[0]}@"
                    f"{txn[1]} was already committed by a racing writer "
                    "(zombie replay); treat the epoch as durable"
                )
            txn_checked = v
        if _try_commit(fs, path, v + 1, payload):
            _maybe_auto_checkpoint(spark, path, v + 1)
            return {"version": v + 1, "part": part}
        v = max(v + 1, current_version(spark, path))
    raise CommitConflict(f"append lost the CAS {max_retries} times under {path}")


def create_table(
    spark: SparkSession,
    path: str,
    schema,
    if_not_exists: bool = False,
) -> dict:
    """Create an EMPTY transactional table: ONE schema-only commit at
    v1 — no part files, no placeholder rows (an empty ``append`` would
    write a useless empty parquet part the table drags through every
    snapshot). ``schema`` is a DDL string (``"k long, val string"``), a
    ``StructType``, or a committed-schema JSON dict. The table then
    reads as a schema-stable empty frame, and every later verb
    (append/merge/SQL DML) validates against the declared schema from
    the first row onward — the Delta ``CREATE TABLE`` contract.

    Creation is ARBITRATED BY THE COMMIT CAS itself: two racers both
    try to land v1, exactly one wins, the loser raises
    :class:`CommitConflict` (or returns ``created=False`` under
    ``if_not_exists``). Returns {"version", "created"}."""
    from pyspark.sql import types as T

    fs = lake_fs(spark, path)
    if isinstance(schema, str):
        sj = spark.createDataFrame([], schema).schema.jsonValue()
    elif isinstance(schema, T.StructType):
        sj = schema.jsonValue()
    elif isinstance(schema, dict):
        sj = schema
    else:
        raise TypeError(f"create_table: schema must be DDL/StructType/dict, "
                        f"got {type(schema).__name__}")
    if not sj.get("fields"):
        raise ValueError("create_table: schema must declare at least one column")
    _check_reserved_columns(sj, "create_table")
    v = _latest_version(fs, path)
    if v > 0:
        if if_not_exists:
            return {"version": v, "created": False}
        raise ValueError(
            f"create_table: {path} already has {v} commit(s) — use "
            "if_not_exists=True, or append/overwrite_table to write data"
        )
    payload = {
        "operation": "create",
        "adds": [],
        "removes": [],
        "scope_partition": None,
        "schema": sj,
    }
    if _try_commit(fs, path, 1, payload):
        return {"version": 1, "created": True}
    if if_not_exists:
        return {"version": _latest_version(fs, path), "created": False}
    raise CommitConflict(
        f"create_table: a concurrent writer created {path} first"
    )


def set_table_properties(
    spark: SparkSession,
    path: str,
    properties: dict[str, str | None],
    max_retries: int = 50,
) -> dict:
    """Record table-level key/value properties IN the commit log (the
    Delta ``TBLPROPERTIES`` idea): one ``set_properties`` commit whose
    payload carries the key/value updates — last writer wins per key, a
    value of ``None`` unsets. Properties are therefore versioned with
    the data (time travel reads the properties as-of that version) and
    need no side-channel config store. The commit is BLIND (no adds, no
    removes, no schema): it commutes with appends and other property
    sets, and row-level rewrites commute past it — it can never overlap
    a data rewrite. Returns {"version"}.

    Well-known keys consumed by :func:`optimize`:
    ``optimize.cluster_by`` (JSON list of columns),
    ``optimize.zorder`` ("true"/"false"),
    ``optimize.target_file_bytes`` (int),
    ``retention.keep_versions`` / ``retention.seconds`` (vacuum policy).
    """
    fs = lake_fs(spark, path)
    clean: dict[str, str | None] = {}
    for k, v in properties.items():
        if not isinstance(k, str) or not k:
            raise ValueError(f"set_table_properties: bad key {k!r}")
        clean[k] = None if v is None else str(v)
    payload = {
        "operation": "set_properties",
        "adds": [],
        "removes": [],
        "properties": clean,
    }
    v = current_version(spark, path)
    for _ in range(max_retries):
        if _try_commit(fs, path, v + 1, payload):
            _maybe_auto_checkpoint(spark, path, v + 1)
            return {"version": v + 1}
        v = max(v + 1, current_version(spark, path))
    raise CommitConflict(
        f"set_table_properties lost the CAS {max_retries} times under {path}"
    )


def table_properties(
    spark: SparkSession, path: str, version: int | None = None
) -> dict[str, str]:
    """The table's property map as-of ``version`` (default latest):
    the newest checkpoint's FOLDED map plus the ``set_properties``
    commits after it, last writer wins, ``None`` unsets. Bounded —
    O(commits-since-checkpoint) reads per call, not a rescan of the
    whole history (which grew quadratically over a maintained table's
    lifetime); the fold also survives log retention
    (:func:`clean_log`)."""
    fs = lake_fs(spark, path)
    if version is None:
        version = _latest_version(fs, path)
    folded, start = _folded_checkpoint(fs, path, version, "props")
    out: dict[str, str] = dict(folded or {})
    for v in range(start, version + 1):
        c = _read_commit_retained(
            fs, path, v, f"table_properties(version={version})"
        )
        if c.get("operation") != "set_properties":
            continue
        for k, val in c.get("properties", {}).items():
            if val is None:
                out.pop(k, None)
            else:
                out[k] = val
    return out


class ConstraintViolationError(ValueError):
    """A write whose rows violate a committed CHECK constraint."""


def _sql_word_edit(expr: str, word: str, new: str | None):
    """Whole-word identifier scan over a SQL expression, OUTSIDE string
    literals: ``new=None`` returns True iff ``word`` is referenced;
    otherwise returns the expression with every reference renamed to
    ``new``. A word preceded by ``.`` is a struct field of some other
    column; a word followed by ``(`` is a function call — neither is a
    reference to column ``word``. A BACKTICK-quoted identifier is a
    column reference too (`` `col` `` names the same column ``col``
    does — missing it would leave a renamed column's constraint
    pointing at a ghost), with doubled-backtick escaping honored."""
    out = []
    found = False
    quote = None
    i, n = 0, len(expr)
    lw = word.lower()
    while i < n:
        ch = expr[i]
        if quote is not None:
            if ch == quote:
                if i + 1 < n and expr[i + 1] == quote:
                    out.append(expr[i:i + 2])
                    i += 2
                    continue
                quote = None
            out.append(ch)
            i += 1
            continue
        if ch == "`":
            # quoted IDENTIFIER: read to the closing backtick (``
            # escapes), compare the inner name to the target word
            j = i + 1
            inner = []
            while j < n:
                if expr[j] == "`":
                    if j + 1 < n and expr[j + 1] == "`":
                        inner.append("`")
                        j += 2
                        continue
                    break
                inner.append(expr[j])
                j += 1
            name = "".join(inner)
            prev = expr[i - 1] if i > 0 else ""
            if name.lower() == lw and prev != ".":
                found = True
                out.append(
                    "`" + (new if new is not None else name).replace("`", "``") + "`"
                )
            else:
                out.append(expr[i:min(j + 1, n)])
            i = min(j + 1, n)
            continue
        if ch in "'\"":
            quote = ch
            out.append(ch)
            i += 1
            continue
        if ch.isalpha() or ch == "_":
            j = i
            while j < n and (expr[j].isalnum() or expr[j] == "_"):
                j += 1
            w = expr[i:j]
            k = j
            while k < n and expr[k] in " \t\r\n":
                k += 1
            nxt = expr[k] if k < n else ""
            prev = expr[i - 1] if i > 0 else ""
            if w.lower() == lw and prev != "." and nxt != "(":
                found = True
                out.append(new if new is not None else w)
            else:
                out.append(w)
            i = j
            continue
        out.append(ch)
        i += 1
    return found if new is None else "".join(out)


def table_constraints(
    spark: SparkSession, path: str, version: int | None = None
) -> dict[str, str]:
    """The table's committed CHECK constraints as-of ``version``
    (default latest): ``{name: sql_expr}``. Same bounded fold as
    :func:`table_properties` — the newest checkpoint's folded map plus
    the constraint-carrying commits after it, last writer wins, ``None``
    unsets — so the map survives log retention (:func:`clean_log`)."""
    fs = lake_fs(spark, path)
    if version is None:
        version = _latest_version(fs, path)
    folded, start = _folded_checkpoint(fs, path, version, "constraints")
    out: dict[str, str] = dict(folded or {})
    for v in range(start, version + 1):
        try:
            c = _read_commit(fs, path, v)
        except FileNotFoundError:
            # a reaped commit below a checkpoint that predates the
            # constraints fold (pre-upgrade table whose log was
            # cleaned): guaranteed constraint-free, because clean_log
            # refuses to reap any constraints-carrying commit unless a
            # surviving checkpoint folds them (in which case `folded`
            # answered and `start` is past the cut). Without this skip,
            # EVERY write on such a table — including the checkpoint()
            # that would heal it — raised VersionExpiredError.
            continue
        for k, val in c.get("constraints", {}).items():
            if val is None:
                out.pop(k, None)
            else:
                out[k] = val
    return out


def _enforce_constraints(
    spark: SparkSession, path: str, version: int, df: DataFrame,
    what: str, schema_json: dict | None = None,
):
    """Pre-commit CHECK enforcement on the rows a write is about to
    land: ONE aggregate job over the incoming frame counts violations
    per constraint (ANSI CHECK three-valued semantics — a row passes
    when the expression is TRUE or NULL, so ``c IS NOT NULL`` is the
    NOT-NULL spelling and a plain range check tolerates nulls).
    Violations raise :class:`ConstraintViolationError` with the failing
    row counts BEFORE any commit is attempted. Zero overhead on tables
    with no constraints (one folded-checkpoint metadata read, no job).
    Columns the frame omits (evolve null-fill) evaluate as NULL — the
    value those rows will actually read as."""
    cons = table_constraints(spark, path, version=version)
    if not cons:
        return {}
    from pyspark.sql import functions as F, types as T

    eval_df = df
    if schema_json is not None:
        have = set(df.columns)
        st = T.StructType.fromJson(schema_json)
        for f in st.fields:
            if f.name not in have:
                eval_df = eval_df.withColumn(f.name, F.lit(None).cast(f.dataType))
    names = sorted(cons)
    aggs = [
        F.sum(
            F.when(
                ~F.coalesce(F.expr(cons[nm]).cast("boolean"), F.lit(True)), 1
            ).otherwise(0)
        ).alias(f"__viol{i}")
        for i, nm in enumerate(names)
    ]
    row = eval_df.agg(*aggs).first()
    bad = {
        nm: int(row[f"__viol{i}"])
        for i, nm in enumerate(names)
        if row[f"__viol{i}"]
    }
    if bad:
        raise ConstraintViolationError(
            f"{what} under {path}: {sum(bad.values())} row(s) violate "
            f"CHECK constraint(s) " +
            ", ".join(f"{nm} ({cons[nm]!r}): {n} row(s)" for nm, n in bad.items())
            + " — fix the data or drop_constraint first"
        )
    return cons


def add_constraint(
    spark: SparkSession,
    path: str,
    name: str,
    expr: str,
    max_retries: int = 10,
) -> dict:
    """Commit a named CHECK constraint (Delta's ``ALTER TABLE … ADD
    CONSTRAINT … CHECK (…)``): recorded IN the log (one blind metadata
    commit, folded into checkpoints like properties), enforced at write
    time on every subsequent append/merge/update/overwrite — violations
    reject pre-commit with the failing rows' count
    (:class:`ConstraintViolationError`). NOT NULL is the ``col IS NOT
    NULL`` spelling (ANSI CHECK passes NULL otherwise). Like Delta, the
    EXISTING rows are validated first — a constraint the current
    snapshot already violates is refused with the count.

    Protocol note: no protocol bump. Constraints gate WRITES, not
    reads — every writer of this engine version enforces them, older
    snapshots stay readable by any reader, and the txlog format has no
    third-party writers to defend against (Delta splits reader/writer
    protocol versions for exactly this case; this log has one number,
    and spending it would needlessly lock out working readers).

    Returns {"version"}."""
    if not re.match(r"[A-Za-z_][A-Za-z0-9_]*$", name):
        raise ValueError(f"add_constraint: bad constraint name {name!r}")
    from pyspark.sql import functions as F

    fs = lake_fs(spark, path)
    payload = {
        "operation": "set_constraint",
        "adds": [],
        "removes": [],
        "constraints": {name: expr},
    }
    v = current_version(spark, path)
    for _ in range(max_retries):
        # the whole validation re-runs on every CAS retry: a rival
        # commit that landed since the last probe may have appended
        # rows the constraint rejects (the TOCTOU the append-side
        # retry re-enforcement closes from the other direction) — a
        # constraint must NEVER commit over a snapshot it was not
        # validated against
        if name in table_constraints(spark, path, version=v):
            raise ValueError(
                f"add_constraint under {path}: constraint {name!r} already "
                "exists — drop_constraint first to replace it"
            )
        # the expression must analyze against the committed schema
        # (curated error, not a later write-time analyzer blowup) …
        snap = read_table(spark, path, version=v)
        try:
            probe = snap.filter(
                ~F.coalesce(F.expr(expr).cast("boolean"), F.lit(True))
            )
            probe.schema  # force analysis
        except Exception as e:
            raise ValueError(
                f"add_constraint under {path}: expression {expr!r} does not "
                f"analyze against the table schema ({snap.columns}): {e}"
            ) from e
        # … and the EXISTING rows must satisfy it (Delta's ADD
        # CONSTRAINT contract — otherwise the very next write of any
        # row would fail a check the table itself already breaks)
        n_bad = probe.count()
        if n_bad:
            raise ConstraintViolationError(
                f"add_constraint under {path}: {n_bad} existing row(s) "
                f"violate {name!r} ({expr!r}) — clean the data first"
            )
        if _try_commit(fs, path, v + 1, payload):
            _maybe_auto_checkpoint(spark, path, v + 1)
            return {"version": v + 1}
        v = max(v + 1, current_version(spark, path))
    raise CommitConflict(
        f"add_constraint lost the CAS {max_retries} times under {path}"
    )


def drop_constraint(
    spark: SparkSession, path: str, name: str, max_retries: int = 10
) -> dict:
    """Unset a committed constraint (last-writer-wins tombstone in the
    fold, exactly like a property unset). Returns {"version"}."""
    fs = lake_fs(spark, path)
    v = current_version(spark, path)
    if name not in table_constraints(spark, path, version=v):
        raise ValueError(
            f"drop_constraint under {path}: no constraint {name!r} "
            f"(have {sorted(table_constraints(spark, path, version=v))})"
        )
    payload = {
        "operation": "set_constraint",
        "adds": [],
        "removes": [],
        "constraints": {name: None},
    }
    for _ in range(max_retries):
        if _try_commit(fs, path, v + 1, payload):
            _maybe_auto_checkpoint(spark, path, v + 1)
            return {"version": v + 1}
        v = max(v + 1, current_version(spark, path))
    raise CommitConflict(
        f"drop_constraint lost the CAS {max_retries} times under {path}"
    )


def optimize(
    spark: SparkSession,
    path: str,
    vacuum_after: bool = False,
) -> dict:
    """One-call table maintenance driven by the table's own committed
    properties (Delta's ``OPTIMIZE`` + policy-from-TBLPROPERTIES UX):
    compact — clustered/z-ordered when ``optimize.cluster_by`` is set —
    then checkpoint the live set so replay stays bounded, then
    (``vacuum_after=True``) vacuum under the table's committed
    ``retention.*`` policy — and, when ``retention.log_keep_versions``
    is set, reap old commit JSONs via :func:`clean_log` with that
    window (the full Delta maintenance loop: data retention AND log
    retention from one policy). Idempotent: a second call on an
    already-compacted table commits nothing new except the (write-once,
    racing-safe) checkpoint. Returns the per-step results."""
    props = table_properties(spark, path)
    cluster = json.loads(props["optimize.cluster_by"]) if "optimize.cluster_by" in props else None
    res_compact = compact(
        spark,
        path,
        target_file_bytes=int(props.get("optimize.target_file_bytes", 128 * 1024 * 1024)),
        cluster_by=cluster,
        zorder=props.get("optimize.zorder", "false").lower() == "true",
    )
    res_ckpt = checkpoint(spark, path)
    out = {"compact": res_compact, "checkpoint": res_ckpt}
    if vacuum_after:
        out["vacuum"] = vacuum(
            spark,
            path,
            keep_versions=int(props.get("retention.keep_versions", 0)),
            retention_seconds=float(props.get("retention.seconds", 7 * 24 * 3600)),
        )
        if "retention.log_keep_versions" in props:
            # log retention AFTER data retention, so parts referenced
            # only by the commits being reaped were already handled by
            # vacuum's version rule (not left to the mtime horizon)
            out["clean_log"] = clean_log(
                spark, path,
                keep_versions=int(props["retention.log_keep_versions"]),
            )
    return out


def txn_version(
    spark: SparkSession, path: str, app: str, version: int | None = None
) -> int:
    """High-water mark of writer transaction ``app`` as-of ``version``
    (default latest); -1 when the app never committed. This is the
    public Delta ``txn`` (setTransaction) idempotent-writes design: a
    sequential writer (a streaming sink's epochs, a rollup maintainer's
    source cursor) stamps each commit with ``{"app", "version"}`` and
    checks the mark before re-committing a replay — ONE integer per
    writer, folded into checkpoints, instead of one source token per
    epoch (which grew the checkpoint's seen-source set O(total epochs):
    tens of MB rewritten every cadence on a million-epoch stream).

    Soundness of the high-water mark: an app's versions commit in
    order (a stream's foreachBatch epochs are sequential under the WAL;
    a maintainer's windows are contiguous from its cursor), so mark
    >= n implies version n either committed or had nothing to commit.
    Bounded: checkpoint fold + tail commits, O(commits-since-
    checkpoint) per call; survives :func:`clean_log`."""
    fs = lake_fs(spark, path)
    if version is None:
        version = _latest_version(fs, path)
    folded, start = _folded_checkpoint(fs, path, version, "txns")
    best = int((folded or {}).get(app, -1))
    for v in range(start, version + 1):
        t = _read_commit_retained(
            fs, path, v, f"txn_version({app!r}, version={version})"
        ).get("txn")
        if t and t.get("app") == app:
            best = max(best, int(t["version"]))
    return best


def _txn_already_committed(fs, path: str, payload: dict, since: int, until: int) -> bool:
    """CAS-loser check: did an intervening commit already land this
    payload's writer transaction (same app, version >= ours)? The
    zombie-writer race — two drivers replaying the same epoch — is
    decided by the CAS, and the loser must treat the epoch as durable
    instead of double-committing it."""
    t = payload.get("txn")
    if not t:
        return False
    for c in _intervening(fs, path, since, until):
        ct = c.get("txn")
        if ct and ct.get("app") == t["app"] and int(ct["version"]) >= int(t["version"]):
            return True
    return False


def table_sources(spark: SparkSession, path: str, version: int | None = None) -> set[str]:
    """Union of every source file incorporated by commits <= ``version``
    (default: latest) — the incremental-refresh / exactly-once "seen"
    set. Bounded: the newest checkpoint's FOLDED source set plus the
    commits after it, O(commits-since-checkpoint) reads per call; the
    fold is also what lets exactly-once survive log retention
    (:func:`clean_log` refuses to reap commits whose sources are not
    yet folded into a surviving checkpoint)."""
    fs = lake_fs(spark, path)
    if version is None:
        version = _latest_version(fs, path)
    folded, start = _folded_checkpoint(fs, path, version, "sources")
    out: set[str] = set(folded or [])
    for v in range(start, version + 1):
        out.update(
            _read_commit_retained(
                fs, path, v, f"table_sources(version={version})"
            ).get("sources", [])
        )
    return out


def _intervening(fs, path: str, since: int, until: int) -> list[dict]:
    """Commits in (since, until], oldest first — the CAS-loser conflict
    scan. A commit reaped by a CONCURRENT clean_log mid-scan surfaces as
    the curated :class:`VersionExpiredError`, never a bare
    FileNotFoundError the retry loop's caller can't act on."""
    return [
        _read_commit_retained(fs, path, v, "conflict check (_intervening)")
        for v in range(since + 1, until + 1)
    ]


def _write_clustered_parts(
    spark: SparkSession,
    fs,
    path: str,
    merged: DataFrame,
    partition: dict,
    n_parts: int,
    rows_per_file: int,
    cluster_by: list[str],
    stats_cols: list[str],
    order_expr=None,
    schema_json: dict | None = None,
) -> list[dict]:
    """Emit one partition group as range-clustered parts: a sampled
    range shuffle on the cluster columns, one part directory per range
    (written in a single job via ``partitionBy`` on the post-shuffle
    partition id — never N driver-looped writes), fresh per-part zone
    maps computed from the bytes actually on disk. Crash debris (the
    staging dir, renamed-but-uncommitted parts) is unreferenced and
    reaped by vacuum's retention horizon like every other orphan."""
    from pyspark.sql import functions as F

    staging = fs_join(_part_dir(path), "stage-" + uuid.uuid4().hex)
    if order_expr is not None:
        # z-order: one synthetic curve position drives both the range
        # shuffle and the in-partition sort, then drops before write
        frame = (
            merged.withColumn("__zpos", order_expr)
            .repartitionByRange(max(n_parts, 1), "__zpos")
            .sortWithinPartitions("__zpos")
            .drop("__zpos")
        )
    else:
        frame = merged.repartitionByRange(
            max(n_parts, 1), *cluster_by
        ).sortWithinPartitions(*cluster_by)
    (
        # spark_partition_id is non-deterministic-tagged, so Catalyst
        # cannot reorder it below the range exchange: it names the
        # post-shuffle range each row landed in; the write itself goes
        # out under PHYSICAL column names like every table part
        _to_physical(frame, schema_json)
        .withColumn("_range_id", F.spark_partition_id())
        .write.mode("overwrite")
        .option("maxRecordsPerFile", rows_per_file)
        .partitionBy("_range_id")
        .parquet(staging)
    )
    subs = sorted(fs.glob(fs_join(staging, "_range_id=*")))
    if not subs:
        # zero-row group: the write emitted only _SUCCESS — nothing to
        # add (reading the staging dir would die on schema inference)
        fs.delete(staging)
        return []
    # ONE stats job for every emitted range (grouped min/max over the
    # staging dir as written on disk — deterministic, and never a
    # driver-serialized per-part job loop: K ranges at 100 TB is in the
    # thousands, and K sequential Spark jobs would make compaction
    # driver-bound)
    exprs = []
    for i, c in enumerate(stats_cols):
        exprs += [F.min(c).alias(f"__mn{i}"), F.max(c).alias(f"__mx{i}")]
    by_range = {
        r["_range_id"]: r
        for r in spark.read.parquet(staging).groupBy("_range_id").agg(*exprs).collect()
    }
    adds = []
    for sub in subs:
        rid = int(sub.rsplit("=", 1)[1])
        part = fs_join(_part_dir(path), uuid.uuid4().hex)
        fs.rename(sub, part)
        add = {"path": part, "partition": partition, "rewrite": True}
        row, stats = by_range.get(rid), {}
        if row is not None:
            for i, c in enumerate(stats_cols):
                mn = _json_stat(row[f"__mn{i}"])
                mx = _json_stat(row[f"__mx{i}"])
                if mn is not None and mx is not None:
                    stats[c] = [mn, mx]
        if stats:
            add["stats"] = stats
        adds.append(add)
    fs.delete(staging)  # empty shell + _SUCCESS marker
    return adds


def compact(
    spark: SparkSession,
    path: str,
    max_retries: int = 10,
    target_file_bytes: int = 128 * 1024 * 1024,
    cluster_by: list[str] | None = None,
    stats_cols: list[str] | None = None,
    zorder: bool = False,
) -> dict:
    """Transactional compaction: rewrite the snapshot's live parts into
    one part per partition tag, then commit {adds, removes=snapshot
    parts}. A CAS loss re-attaches at a later version iff no
    intervening commit removed any part we are removing (intervening
    APPENDS are safe — they stay live, simply not compacted by this
    run); otherwise :class:`CommitConflict` — the caller re-runs, and
    the orphaned rewrite is vacuum fodder. Returns {"version",
    "parts_before", "parts_after", "skipped_groups"}.

    **Idempotent per partition group**: every rewritten part records the
    settings that produced it, and a group whose members were ALL
    emitted by a compact with the same ``target_file_bytes`` /
    ``cluster_by`` / ``zorder`` (and carry no deletion vectors) is
    SKIPPED — a scheduled compact/optimize loop over a quiescent table
    commits nothing instead of rewriting every part on every call. Any
    append, delete, or DV into the group clears the condition and the
    group recompacts.

    Each partition group is rewritten with size-targeted bin-packing:
    files approach ``target_file_bytes`` via a bytes-per-row estimate
    from the group's current on-disk size, written across
    ``ceil(bytes/target)`` tasks — never a single-task ``coalesce(1)``,
    which at 100 TB would make a hot partition a multi-GB single-thread
    write and a straggler/OOM magnet.

    ``cluster_by`` makes the compaction CLUSTERED (Delta's ``OPTIMIZE
    ZORDER BY`` role, linear-order variant): each partition group is
    range-partitioned on the cluster columns (``repartitionByRange`` —
    a sampled range shuffle, no single-task sort) and emitted as one
    PART PER RANGE, each with freshly computed [min,max] zone maps over
    the cluster columns ∪ ``stats_cols`` ∪ every column the group's
    members ALL recorded stats for (clustering must never regress
    skipping on other columns). Because commit-log data skipping is per
    part, interleaved appends — whose per-part ranges all overlap and
    so can never be skipped — become disjoint ranges after one
    clustered compact, and ``read_table(range_filter=...)`` on a
    cluster column opens a constant number of parts instead of all of
    them. Stats come from ONE grouped min/max job over the staged bytes
    on disk, never from the pre-shuffle lineage — a re-sampled range
    assignment can't desync the recorded envelope from the files. Rows
    within each part are sorted on the cluster columns, so parquet
    row-group pruning compounds the part-level skip.

    ``zorder=True`` upgrades linear clustering to the multi-dimensional
    curve (Delta's ``OPTIMIZE ZORDER BY`` proper): the cluster columns'
    normalized bits interleave into one Morton position
    (``functions.zorder.curve_position``) that drives the range
    shuffle, so every part gets a small bounding box in EVERY cluster
    dimension — a ``range_filter`` on ANY of them skips, where linear
    clustering prunes only the leading column.
    Costs one extra per-group stats job; same shuffle shape."""
    fs = lake_fs(spark, path)
    v0, live = _snapshot(fs, path)
    if len(live) <= 1 and not any(e.get("dvs") for e in live.values()):
        # nothing to bin-pack AND no deletion vectors to materialize
        # away — a single DV'd part must still compact (that rewrite is
        # the vector's deferred cost)
        return {
            "version": v0,
            "parts_before": len(live),
            "parts_after": len(live),
            "skipped_groups": len(live),
        }

    schema = _committed_schema(fs, path, v0)
    groups: dict[tuple, list[str]] = {}
    for p, e in live.items():
        groups.setdefault(tuple(sorted(e["partition"].items())), []).append(p)
    # per-group no-op detection: every rewritten part carries a marker
    # with the settings that produced it; a group whose members ALL came
    # from a compact with the SAME settings (and carry no deletion
    # vectors) is already in its target layout — rewriting it again
    # would be pure churn (a scheduled optimize loop used to re-commit
    # every clustered table on every call, producing unbounded rewrite
    # traffic and vacuum debt)
    spec = {
        "cluster": list(cluster_by) if cluster_by else None,
        "zorder": bool(zorder and cluster_by),
        "target": int(target_file_bytes),
    }
    adds = []
    removes: list[str] = []
    skipped_groups = 0
    for key, parts in sorted(groups.items()):
        parts = sorted(parts)
        entries = [live[p] for p in parts]
        if not any(e.get("dvs") for e in entries) and all(
            e.get("compacted") == spec for e in entries
        ):
            skipped_groups += 1
            continue
        removes.extend(parts)
        # committed-schema read: the rewrite materializes evolution-added
        # columns (as nulls) into pre-evolution parts, normalizing the
        # table; DV-aware, so deletion vectors compact away (the rewrite
        # the vectors deferred happens here, once)
        merged = _read_live(spark, {p: live[p] for p in parts}, schema)
        group_bytes = sum(s for p in parts for s in fs.file_sizes(p, ".parquet"))
        # the group frame is consumed by THREE actions (row count, the
        # range partitioner's sample pass, the rewrite itself), each of
        # which would re-run the many-part read + DV anti-join.
        # Materialize it once when the group is small enough that local
        # block storage is obviously cheaper than two extra remote
        # read passes; big groups keep the streaming one-pass-per-
        # action behavior (no doubling of a 100 GB group onto executor
        # disks). Same layout-adaptive contract as the fanout knobs.
        try:
            cache_max = int(
                spark.conf.get(
                    "spark.es_analytics.compact.cache_group_max_bytes",
                    str(1 << 30),
                )
            )
        except ValueError:
            cache_max = 1 << 30
        if group_bytes <= cache_max:
            merged = merged.localCheckpoint(eager=True)
        n_rows = merged.count()
        bytes_per_row = max(group_bytes / max(n_rows, 1), 1.0)
        rows_per_file = max(int(target_file_bytes / bytes_per_row), 1)
        n_files = max(-(-group_bytes // max(target_file_bytes, 1)), 1)
        if cluster_by:
            from pyspark.sql import functions as F

            order_expr = None
            if zorder:
                # multi-dimensional clustering: the Morton position
                # (functions.zorder.curve_position) makes EVERY emitted
                # part carry a small bounding box in EVERY cluster
                # dimension. One extra stats job per group; a single
                # cluster column degenerates to linear order (the
                # 1-D curve IS the column).
                from .functions.zorder import curve_position

                order_expr = curve_position(merged, cluster_by)
            # never REGRESS skipping: columns every member already
            # recorded stats for keep their zone maps (recomputed from
            # disk, so they come out tighter, not merely enveloped),
            # alongside the cluster columns and any explicit request
            member = [set(live[p].get("stats") or {}) for p in parts]
            common = set.intersection(*member) if member else set()
            # stats are keyed by PHYSICAL name (rename-stable identity);
            # member stats and the staging bytes are already physical
            stat_set = list(dict.fromkeys(
                [_phys_of(schema, c) for c in [*cluster_by, *(stats_cols or [])]]
                + sorted(common)
            ))
            new_adds = _write_clustered_parts(
                spark, fs, path, merged, dict(key), int(n_files),
                rows_per_file, cluster_by, stat_set, order_expr,
                schema_json=schema,
            )
            for a in new_adds:
                a["compacted"] = spec
            adds.extend(new_adds)
            continue
        sized = _to_physical(merged.repartition(int(n_files)), schema)
        part = fs_join(_part_dir(path), uuid.uuid4().hex)
        (
            sized.write.mode("overwrite")
            .option("maxRecordsPerFile", rows_per_file)
            .parquet(part)
        )
        add = {"path": part, "partition": dict(key), "rewrite": True,
               "compacted": spec}
        # zone maps survive compaction for free: the merged part's range
        # is the envelope of its members' — but only when EVERY member
        # recorded the column (a stats-less member could widen it)
        member_stats = [live[p].get("stats") for p in parts]
        if all(member_stats):
            merged_stats = {}
            common = set.intersection(*(set(s) for s in member_stats))
            for col in common:
                merged_stats[col] = [
                    min(s[col][0] for s in member_stats),
                    max(s[col][1] for s in member_stats),
                ]
            if merged_stats:
                add["stats"] = merged_stats
        adds.append(add)
    if not removes:
        # every group already sits in the requested layout: commit
        # NOTHING (optimize's promised idempotence — only the write-once
        # checkpoint it also writes is new on a second call)
        return {
            "version": v0,
            "parts_before": len(live),
            "parts_after": len(live),
            "skipped_groups": skipped_groups,
        }
    removes = sorted(removes)
    payload = {
        "operation": "compact",
        "adds": adds,
        "removes": removes,
        "scope_partition": None,
    }
    if schema is not None:
        payload["schema"] = schema
    our_removes = set(removes)
    v = v0
    for _ in range(max_retries):
        v += 1
        if _try_commit(fs, path, v, payload):
            _maybe_auto_checkpoint(spark, path, v)
            return {
                "version": v,
                "parts_before": len(removes),
                "parts_after": len(adds),
                "skipped_groups": skipped_groups,
            }
        latest = current_version(spark, path)
        for c in _intervening(fs, path, v - 1, latest):
            if our_removes & set(c.get("removes", [])):
                raise CommitConflict(
                    f"compact under {path}: v{c['version']} already removed "
                    "part(s) from this snapshot; re-run against the new state"
                )
            if our_removes & {d["part"] for d in c.get("dv", [])}:
                # a deletion vector attached to a part we rewrote from its
                # PRE-delete content: re-attaching would resurrect the
                # deleted rows (dv commits carry no removes, so the check
                # above cannot see them)
                raise CommitConflict(
                    f"compact under {path}: v{c['version']} attached a "
                    "deletion vector to part(s) in this snapshot; re-run "
                    "against the new state"
                )
            # compact doesn't change the schema: record the live one so a
            # re-attach after an intervening evolution never reverts it
            if c.get("schema") is not None:
                payload["schema"] = c["schema"]
        v = max(v, latest)
    raise CommitConflict(f"compact lost the CAS {max_retries} times under {path}")


def _commit_exclusive(fs, path: str, payload: dict, v0: int, op: str) -> int:
    """Single-shot CAS for snapshot-replacing commits (overwrite_table,
    restore): these rewrite the WHOLE live set, so NOTHING commutes —
    even a blind append would be silently clobbered by a re-attach
    (its part stays live, violating replace semantics). A lost CAS is
    therefore an immediate :class:`CommitConflict`; the caller re-reads
    and decides against the new state."""
    if _try_commit(fs, path, v0 + 1, payload):
        return v0 + 1
    raise CommitConflict(
        f"{op} under {path}: a concurrent commit won v{v0 + 1}; whole-table "
        "replacement cannot re-attach past anything — re-run against the "
        "new state"
    )


def _replaced_rows_cdc(
    spark, fs, path: str, entries: dict, schema, change_type: str = "delete"
) -> list[dict]:
    """Materialize rows into a change part so the CDF can emit them
    (opt-in: it costs one full read + write of that content, which the
    operation otherwise never pays). ``entries`` maps part path -> its
    live entry, so deletion vectors are honored — a replaced part's
    already-DV-deleted rows must NOT appear in the feed. The entry
    records the SCHEMA the rows were written under: a replace_schema
    overwrite's deletes carry the OLD schema — reading them with the
    commit's new schema would fail or drop columns."""
    if not entries:
        return []
    cdc_part = _write_part(spark, path, _read_live(spark, entries, schema), schema, "cdc-")
    entry = {"path": cdc_part, "change_type": change_type}
    if schema is not None:
        entry["schema"] = schema
    return [entry]


def overwrite_table(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    evolve: bool = False,
    replace_schema: bool = False,
    partition: dict | None = None,
    stats_cols: list[str] | None = None,
    cdc: bool = False,
) -> dict:
    """CREATE OR REPLACE: one atomic commit removes every live part and
    adds the new content — readers see the old table or the new one,
    never a mix, and every historical version stays time-travelable.
    ``replace_schema=True`` records the frame's schema verbatim (Delta's
    ``overwriteSchema``: a full replace may legitimately retype the
    table; per-commit schemas keep old versions and CDF windows reading
    correctly under THEIR schema), otherwise the normal validate-or-
    ``evolve`` contract applies. Nothing commutes with a whole-table
    replace — any concurrent commit raises :class:`CommitConflict`.

    Feed contract: the new content feeds as inserts; with ``cdc=True``
    the replaced rows are additionally materialized into a change part
    so ``table_changes_cdf`` emits them as deletes (full Delta-CDF
    parity for overwrites, at the cost of one read+write of the
    replaced content — default off, like Delta tables without CDF
    enabled)."""
    fs = lake_fs(spark, path)
    v0, live = _snapshot(fs, path)
    if replace_schema:
        schema = df.schema.jsonValue()
        _check_reserved_columns(schema, "overwrite_table(replace_schema=True)")
    else:
        schema = _merge_schema(_committed_schema(fs, path, v0), df, evolve)
    _enforce_constraints(spark, path, v0, df, "overwrite_table", schema)
    part = _write_part(spark, path, df, schema)
    add = {"path": part, "partition": partition or {}}
    if stats_cols:
        stats = _column_stats(df, stats_cols)
        if stats:
            add["stats"] = {_phys_of(schema, c): b for c, b in stats.items()}
    payload = {
        "operation": "overwrite_table",
        "adds": [add],
        "removes": sorted(live),
        "scope_partition": None,
        "schema": schema,
    }
    if cdc:
        change = _replaced_rows_cdc(
            spark, fs, path, dict(live), _committed_schema(fs, path, v0)
        )
        if change:
            payload["cdc"] = change
    v = _commit_exclusive(fs, path, payload, v0, "overwrite_table")
    _maybe_auto_checkpoint(spark, path, v)
    return {"version": v, "removed_parts": len(live)}


def restore(spark: SparkSession, path: str, version: int, cdc: bool = False) -> dict:
    """Delta-style RESTORE: make the live set equal to ``version``'s
    snapshot via ONE new commit — a roll-forward undo that preserves
    history (the bad commits stay inspectable and the restore itself is
    versioned, unlike rewinding the log). The restored schema is the
    schema as-of ``version``. Requires the target snapshot's parts to
    still exist — restoring past ``vacuum(keep_versions=...)`` raises
    :class:`VersionExpiredError` at plan time. Nothing commutes with a
    whole-table replacement (see :func:`_commit_exclusive`).

    Feed contract: the re-added parts were already visible at
    ``version``, so they are flagged as rewrites and the insert-only
    ``table_changes`` feed handles them positionally (a part whose
    in-window feed entry a replacement op erased re-feeds; anything
    restored from before the window stays skipped — the consumer fed it
    when it was first added). For the row-level ``table_changes_cdf``,
    pass ``cdc=True`` to materialize the undo as change parts (deletes
    for the rows the restore removes, inserts for the rows it brings
    back); a CDF window spanning a restore committed WITHOUT cdc raises
    rather than replaying to the wrong multiset. ``iter_changes``
    surfaces the restore commit itself for operation-aware consumers."""
    fs = lake_fs(spark, path)
    v0, cur = _snapshot(fs, path)
    if version > v0:
        raise FileNotFoundError(
            f"restore({version}) under {path}: latest committed is v{v0}"
        )
    _, target = _snapshot(fs, path, version)
    _require_parts_exist(
        fs, path,
        sorted(target)
        + sorted({d for e in target.values() for d in e.get("dvs", [])}),
        f"restore({version})",
    )

    def _add_entry(p: str, e: dict) -> dict:
        a = {"path": p, "partition": e["partition"], "rewrite": True}
        if e.get("stats"):
            a["stats"] = e["stats"]
        if e.get("dvs"):
            # the target snapshot's deletion-vector state restores with
            # the part (the add entry carries it; _snapshot re-applies)
            a["dvs"] = e["dvs"]
        if e.get("compacted"):
            a["compacted"] = e["compacted"]
        return a

    # a part live in BOTH snapshots but with a DIFFERENT deletion-vector
    # set (a dv delete happened after `version`) must be re-pointed at
    # the target's vector state: remove + re-add with the target entry
    dv_changed = sorted(
        p for p in set(cur) & set(target)
        if cur[p].get("dvs", []) != target[p].get("dvs", [])
    )
    removes = sorted(set(cur) - set(target)) + dv_changed
    adds = [
        _add_entry(p, e)
        for p, e in sorted(target.items())
        if p not in cur or p in dv_changed
    ]
    if not removes and not adds:
        return {"version": v0, "restored_to": version, "changed": False}
    payload = {
        "operation": "restore",
        "adds": adds,
        "removes": removes,
        "scope_partition": None,
        "restored_version": version,
    }
    if any(a.get("dvs") for a in adds):
        # re-attached deletion vectors: a v1 reader would ignore the
        # dvs field and resurrect the deleted rows — same guard as the
        # dv delete itself
        payload["protocol"] = 2
    sj = _committed_schema(fs, path, version)
    if sj is not None:
        payload["schema"] = sj
    if cdc:
        entries = _replaced_rows_cdc(
            spark, fs, path, {p: cur[p] for p in removes},
            _committed_schema(fs, path, v0),
            change_type="delete",
        ) + _replaced_rows_cdc(
            spark, fs, path, {a["path"]: target[a["path"]] for a in adds}, sj,
            change_type="insert",
        )
        if entries:
            payload["cdc"] = entries
    v = _commit_exclusive(fs, path, payload, v0, "restore")
    _maybe_auto_checkpoint(spark, path, v)
    return {"version": v, "restored_to": version, "changed": True}


def overwrite_partition(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    partition: dict,
    max_retries: int = 10,
    evolve: bool = False,
    cdc: bool = False,
) -> dict:
    """Transactional partition overwrite (the upsert shape: replace
    partition P's content wholesale): removes every live part tagged
    exactly P, adds the new part. Commits from DISJOINT partitions
    merge — a CAS loss re-attaches iff every intervening commit left P
    untouched (no add or remove tagged P, and none of our removes
    gone); a concurrent writer in the SAME partition raises
    :class:`CommitConflict`. Returns {"version", "removed_parts"}.

    "Tagged exactly P" is tag-dict EQUALITY: a part tagged
    ``{p:1, q:2}`` is NOT removed by ``partition={p:1}``, and untagged
    parts (plain ``append`` default) are never removed. Hierarchical
    overwrites must name the full tag they replace — this keeps the
    remove set unambiguous under the conflict rules (a subset match
    would let two "disjoint" overwrites race on the same part)."""
    fs = lake_fs(spark, path)
    if not isinstance(partition, dict) or not partition:
        raise ValueError("overwrite_partition: partition must be a non-empty dict")
    v0, live = _snapshot(fs, path)
    orig_sj = _committed_schema(fs, path, v0)
    schema = _merge_schema(orig_sj, df, evolve)
    removes = sorted(p for p, e in live.items() if e["partition"] == partition)
    enforced_cons = _enforce_constraints(
        spark, path, v0, df, "overwrite_partition", schema
    )
    part = _write_part(spark, path, df, schema)
    payload = {
        "operation": "overwrite_partition",
        "adds": [{"path": part, "partition": partition}],
        "removes": removes,
        "scope_partition": partition,
        "schema": schema,
    }
    if cdc:
        # opt-in CDF parity: the replaced partition rows become deletes
        change = _replaced_rows_cdc(
            spark, fs, path, {p: live[p] for p in removes},
            _committed_schema(fs, path, v0),
        )
        if change:
            payload["cdc"] = change

    def _touches_scope(c: dict) -> bool:
        if set(removes) & set(c.get("removes", [])):
            return True
        if set(removes) & {d["part"] for d in c.get("dv", [])}:
            # a deletion vector attached to a part this overwrite replaces:
            # with cdc=True our change part was materialized from the
            # PRE-delete snapshot and would re-emit rows the dv delete
            # already emitted as deletes (double-delete in the feed)
            return True
        # exact tag equality, mirroring the remove rule above
        return any(a.get("partition", {}) == partition for a in c.get("adds", []))

    v = v0
    for _ in range(max_retries):
        v += 1
        if _try_commit(fs, path, v, payload):
            _maybe_auto_checkpoint(spark, path, v)
            return {"version": v, "removed_parts": len(removes)}
        latest = current_version(spark, path)
        for c in _intervening(fs, path, v - 1, latest):
            if _touches_scope(c):
                raise CommitConflict(
                    f"overwrite_partition under {path}: v{c['version']} touched "
                    f"partition {partition}; re-run against the new state"
                )
        fresh_sj = _committed_schema(fs, path, latest)
        _check_concurrent_column_removal(
            orig_sj, fresh_sj, df.columns, path, "overwrite_partition"
        )
        payload["schema"] = _merge_schema(
            fresh_sj, df, evolve,
            mint={f["name"]: _phys_name(f) for f in schema["fields"]},
        )
        if table_constraints(spark, path, version=latest) != enforced_cons:
            # a set_constraint commuted past this overwrite: re-enforce
            # before re-attaching (same closure as append's retry loop)
            enforced_cons = _enforce_constraints(
                spark, path, latest, df, "overwrite_partition", payload["schema"]
            )
        v = max(v, latest)
    raise CommitConflict(
        f"overwrite_partition lost the CAS {max_retries} times under {path}"
    )


def _owning_parts(parts: list[str], file_uris: list[str]) -> list[str]:
    """Map data-file URIs back to the manifest part directories that
    contain them — by the part directory's BASENAME, a uuid4 hex that is
    globally unique by construction (``_write_part``). Path-prefix
    matching would be fragile here: input_file_name() returns an
    absolute percent-encoded URI while manifest paths may be relative
    (resolved against the JVM's cwd, which need not equal Python's) or
    carry a different scheme spelling. An unmappable file RAISES: a
    silent miss would turn a delete into a no-op (rows survive
    uncounted) or make a merge insert duplicates without removing the
    matched rows — fail loudly instead."""
    by_base = {p.rstrip("/").rsplit("/", 1)[-1]: p for p in parts}
    out = set()
    for f in file_uris:
        segs = f.rstrip("/").split("/")
        base = next(
            (segs[i + 1] for i in range(len(segs) - 2, -1, -1)
             if segs[i] == "parts" and segs[i + 1] in by_base),
            None,
        )
        if base is None:
            raise RuntimeError(
                f"cannot map data file {f} back to any manifest part; "
                "refusing to proceed with a partial rewrite"
            )
        out.add(by_base[base])
    return sorted(out)


def _union_schema_json(a: dict | None, b: dict | None) -> dict | None:
    """Union of two committed-schema payloads: a's fields, then b's
    fields a lacks (forced nullable — they're absent from some parts).
    A type conflict raises — it means two writers evolved incompatibly,
    which the validate path should have rejected. Used when a rewrite
    re-attaches past a concurrent append: neither side's schema may be
    silently dropped (adopting the append's verbatim used to REVERT a
    merge's own evolution; recording only ours would revert theirs)."""
    if a is None or b is None:
        return a if b is None else b
    a_types = {f["name"]: f["type"] for f in a["fields"]}
    out = dict(a)
    out["fields"] = list(a["fields"])
    a_phys = {f["name"]: _phys_name(f) for f in a["fields"]}
    for f in b["fields"]:
        if f["name"] in a_types:
            if a_types[f["name"]] != f["type"]:
                if _widens_to(f["type"], a_types[f["name"]]):
                    pass  # ours is already the wider type — keep it
                elif _widens_to(a_types[f["name"]], f["type"]):
                    # the intervening commit widened the column: adopt
                    # the wider type (recording the narrow one would
                    # silently REVERT the widening, and the widened
                    # parts would then fail every read)
                    out["fields"] = [
                        dict(g, type=f["type"]) if g["name"] == f["name"] else g
                        for g in out["fields"]
                    ]
                else:
                    raise SchemaMismatchError(
                        f"column {f['name']!r}: concurrent writers committed "
                        f"types {a_types[f['name']]} vs {f['type']}"
                    )
            if a_phys[f["name"]] != _phys_name(f):
                # same logical name minted under two physical ids by
                # concurrent evolutions: one side's part bytes would read
                # as null under the other's mapping — never mergeable
                raise SchemaMismatchError(
                    f"column {f['name']!r}: concurrent writers minted "
                    f"different physical ids ({a_phys[f['name']]} vs "
                    f"{_phys_name(f)}); re-run one writer"
                )
        else:
            out["fields"].append(dict(f, nullable=True))
    return out


def _commute_past_appends_only(
    fs, path: str, payload: dict, v0: int, max_retries: int, op: str
) -> int:
    """CAS loop for row-level rewrites (delete/merge):
    **WriteSerializable** re-attach rule — an intervening BLIND APPEND
    commutes (Delta's default level: the rewrite read its snapshot, so
    concurrently appended rows are simply not subject to it — they were
    never in the snapshot), while any intervening remove-carrying or
    scoped commit (compact, overwrite, another delete/merge) raises
    :class:`CommitConflict`, because it may have touched the very parts
    this transaction rewrote. The re-attached commit records the UNION
    of its schema and the intervening appends' — neither a concurrent
    evolution nor this rewrite's own ``evolve=True`` columns can be
    silently reverted by losing the CAS. Returns the committed version."""
    v = v0
    for _ in range(max_retries):
        v += 1
        if _try_commit(fs, path, v, payload):
            return v
        latest = _latest_version(fs, path)
        if _txn_already_committed(fs, path, payload, v - 1, latest):
            raise CommitConflict(
                f"{op} under {path}: this writer transaction was already "
                "committed by a racing writer (zombie replay); treat it "
                "as durable"
            )
        for c in _intervening(fs, path, v - 1, latest):
            # blind appends commute (snapshot semantics); property-only
            # commits carry no parts at all, so they cannot overlap a
            # rewrite either
            if c.get("operation") not in ("append", "set_properties") or c.get("removes"):
                raise CommitConflict(
                    f"{op} under {path}: intervening v{c['version']} "
                    f"({c.get('operation')}) may overlap this rewrite; "
                    "re-run against the new state"
                )
            merged = _union_schema_json(payload.get("schema"), c.get("schema"))
            if merged is not None:
                payload["schema"] = merged
        v = max(v, latest)
    raise CommitConflict(f"{op} lost the CAS {max_retries} times under {path}")


def _commit_rewrite(
    spark: SparkSession, fs, path: str, payload: dict, v0: int,
    max_retries: int, op: str, expect_version: int | None = None,
) -> int:
    """Commit tail of the row-level DML verbs; returns the committed
    version. Without ``expect_version`` the commit re-attaches past
    blind appends (:func:`_commute_past_appends_only`); with it the
    commit is an exact CAS at ``v0 + 1`` — ANY racer invalidates the
    caller's state read. Either way the cadence checkpoint follows."""
    if expect_version is None:
        version = _commute_past_appends_only(fs, path, payload, v0, max_retries, op)
    elif _try_commit(fs, path, v0 + 1, payload):
        version = v0 + 1
    else:
        raise CommitConflict(
            f"{op} under {path}: lost the CAS at v{v0 + 1}; recompute "
            "from fresh state"
        )
    _maybe_auto_checkpoint(spark, path, version)
    return version


def _check_merge_preconditions(
    spark: SparkSession, path: str, op: str, v0: int,
    txn: tuple[str, int] | None, expect_version: int | None,
) -> None:
    """Refuse a keyed merge at snapshot ``v0`` whose writer transaction
    ``txn`` is already durable (at or below the committed high-water
    mark), or whose caller read its state at a stale ``expect_version``."""
    if txn is not None and txn_version(spark, path, str(txn[0]), version=v0) >= int(txn[1]):
        raise CommitConflict(
            f"{op} under {path}: writer transaction {txn[0]}@{txn[1]} "
            "is at or below the committed high-water mark — already durable"
        )
    if expect_version is not None and v0 != expect_version:
        raise CommitConflict(
            f"{op} under {path}: state read at v{expect_version} is stale "
            f"(table is at v{v0}); recompute from fresh state"
        )


def _duplicate_keys(df: DataFrame, keys: list[str]) -> list | None:
    """None when ``df`` is key-unique, else up to three example
    duplicate key groups. The check is ONE aggregate (row count vs
    distinct key count — struct() keeps the NULL-tuple group, like
    groupBy does); the examples are only computed on the failure path."""
    from pyspark.sql import functions as F

    uniq = df.agg(
        F.count(F.lit(1)).alias("__n"),
        F.countDistinct(F.struct(*keys)).alias("__k"),
    ).first()
    if uniq["__n"] == uniq["__k"]:
        return None
    dup = df.groupBy(*keys).count().filter(F.col("count") > 1)
    return dup.limit(3).collect()


def _stats_envelope(members: list[dict | None], drop=frozenset()) -> dict:
    """Zone map of a part holding a SUBSET of several members' rows:
    [min of mins, max of maxes] per column EVERY member recorded, less
    ``drop`` and bounds that do not compare (None, mixed encodings)."""
    if not members or not all(members):
        return {}
    cols = set.intersection(*(set(s) for s in members)) - set(drop)
    out = {}
    for c in sorted(cols):
        try:
            out[c] = [min(s[c][0] for s in members), max(s[c][1] for s in members)]
        except TypeError:
            pass
    return out


# time-dependent SQL functions a DML expression is allowed to use — they
# get pinned to literals once up front (see _pin_time_functions); bare
# current_date / current_timestamp (no parens) are valid ANSI SQL, but
# bare `now` is NOT a Spark function — only now() matches
_TIME_FN_RE = re.compile(
    r"\b(now)\s*\(\s*\)|\b(current_timestamp|localtimestamp|current_date)\b(\s*\(\s*\))?",
    re.IGNORECASE,
)
# genuinely non-deterministic functions: never valid in a DML expression,
# which several separate Spark jobs of one operation re-evaluate
_NONDET_FN_RE = re.compile(
    r"\b(rand|randn|random|uuid|shuffle|monotonically_increasing_id)\s*\(",
    re.IGNORECASE,
)
# quoted regions a textual substitution must never touch: single-quoted
# string literals ('' escapes) and backtick-quoted identifiers
_QUOTED_RE = re.compile(r"'(?:[^']|'')*'|`(?:[^`]|``)*`")


def _mask_quoted(sql: str) -> str:
    """Same-length copy of ``sql`` with every quoted region blanked, so
    regex offsets on the mask are valid offsets into the original."""
    return _QUOTED_RE.sub(lambda m: " " * len(m.group(0)), sql)


_NOW_SQL = (
    "SELECT CAST(current_timestamp() AS STRING) AS ts, "
    "CAST(localtimestamp() AS STRING) AS lts, "
    "CAST(current_date() AS STRING) AS d"
)


def _pin_time_functions(spark: SparkSession, sql: str, clock=None) -> str:
    """Rewrite time-dependent functions in a DML SQL string to literals
    evaluated ONCE, so the separate Spark jobs of one DML operation (the
    touched-part probe, the ``cdc-`` change-part write, the survivor
    rewrite) all see the same instant. Without pinning, a TTL condition
    like ``ts < now()`` drifts between the jobs: a row that expires
    after the change part is written is dropped by the survivor rewrite
    but never reaches the change feed or the receipt. ``clock`` (a
    cached ``_NOW_SQL`` row) is shared by every expression of one
    operation.

    Genuinely non-deterministic functions (rand/uuid/...) raise — no
    single evaluation point can make them consistent across jobs.

    Matching is done on a quoted-region mask of the SQL, so a string
    literal like ``status = 'now()'`` or a backticked column named
    ```current_date``` is never rewritten. The literals are rendered
    JVM-SIDE (``CAST(current_timestamp() AS STRING)``) in the session
    timezone: a driver-side ``.first()`` datetime would be formatted in
    the driver OS timezone, and re-parsing it as a TIMESTAMP literal in
    a differently-pinned ``spark.sql.session.timeZone`` would shift the
    cutoff by the offset — a retention delete would silently remove
    rows hours outside the intended window.
    """
    masked = _mask_quoted(sql)
    if _NONDET_FN_RE.search(masked):
        raise ValueError(
            f"{sql!r} uses a non-deterministic function (rand/uuid/...); "
            "the separate jobs of one DML operation would each evaluate "
            "it differently"
        )
    matches = list(_TIME_FN_RE.finditer(masked))
    if not matches:
        return sql
    row = clock() if clock else spark.sql(_NOW_SQL).first()

    def _lit(m: re.Match) -> str:
        fn = (m.group(1) or m.group(2)).lower()
        if fn in ("now", "current_timestamp"):
            return f"TIMESTAMP '{row['ts']}'"
        if fn == "localtimestamp":
            # localtimestamp() is TIMESTAMP_NTZ — keep the type on the pin
            return f"TIMESTAMP_NTZ '{row['lts']}'"
        return f"DATE '{row['d']}'"

    out, last = [], 0
    for m in matches:
        out.append(sql[last: m.start()])
        out.append(_lit(m))
        last = m.end()
    out.append(sql[last:])
    return "".join(out)


def _dml_pinner(spark: SparkSession, op: str):
    """``pin(expr, what="condition")``: a DML condition or assignment
    (SQL string or Column) as a Column every job of the operation
    evaluates identically: strings have their time functions pinned
    (:func:`_pin_time_functions`) on one clock per operation. A Column's
    expression tree is not rewritable from Python, so one embedding a
    time-dependent or non-deterministic function raises instead."""
    from pyspark.sql import Column, functions as F

    clock = functools.cache(lambda: spark.sql(_NOW_SQL).first())

    def pin(expr, what: str = "condition"):
        if isinstance(expr, str):
            return F.expr(_pin_time_functions(spark, expr, clock))
        if not isinstance(expr, Column):
            raise TypeError(f"{op}: {what} must be a SQL string or Column")
        text = str(expr)
        if _TIME_FN_RE.search(text) or _NONDET_FN_RE.search(text):
            raise ValueError(
                f"{op}: Column {what} uses a time-dependent or "
                f"non-deterministic function; pass the {what} as a SQL "
                "string so the time can be pinned to a literal once"
            )
        return expr

    return pin


def _rewrite_touched(
    spark: SparkSession,
    fs,
    path: str,
    live: dict,
    touched: list[str],
    schema: dict | None,
    survivors,
    drop_stats=frozenset(),
) -> tuple[list[dict], int]:
    """Survivor rewrite of the row-level DML verbs: ONE Spark write per
    partition tag of the touched parts. ``survivors(group)`` maps a
    ``{part: entry}`` subset of ``live`` to the rows to keep, still
    carrying ``_f_path``. An output with no rows is deleted unreferenced
    (footer probe). Each new part is ``rewrite``-flagged and records the
    members' zone-map envelope, minus ``drop_stats`` (physical columns
    whose values changed) — valid because survivors are a subset of the
    members' rows, but coarser across range-clustered parts until the
    next clustered :func:`compact`. Returns ``(adds, parts_rewritten)``:
    the touched parts that kept a row, observed on the write itself."""
    from pyspark.sql import Observation, functions as F

    groups: dict[tuple, dict] = {}
    for p in touched:
        groups.setdefault(tuple(sorted(live[p]["partition"].items())), {})[p] = live[p]
    adds, kept = [], set()
    for group in groups.values():
        obs = Observation()
        rows = survivors(group).observe(obs, F.collect_set("_f_path").alias("f"))
        np = _write_part(spark, path, rows.drop(*_META_COLS), schema)
        kept.update(_owning_parts(sorted(group), obs.get["f"]))
        if _part_num_rows(spark, np) == 0:
            fs.delete(np)
            continue
        members = list(group.values())
        add = {"path": np, "partition": members[0]["partition"], "rewrite": True}
        stats = _stats_envelope([e.get("stats") for e in members], drop_stats)
        if stats:
            add["stats"] = stats
        adds.append(add)
    return adds, len(kept)


def delete_where(
    spark: SparkSession,
    path: str,
    condition,
    max_retries: int = 10,
    use_dv: bool = False,
) -> dict:
    """Transactional row-level DELETE: rewrite exactly the live parts
    that contain matching rows (one distributed pass over the snapshot
    finds them from the scan's file metadata — untouched parts are not
    read again, let alone rewritten), commit {adds: survivors, removes:
    touched} atomically. Survivors of touched parts sharing a partition
    tag are written as ONE part with their zone-map envelope
    (:func:`_rewrite_touched`: coarser range pruning across clustered
    parts until the next clustered :func:`compact`). ``condition`` is a
    SQL expression string or a Column; time functions in a string
    (``ts < now()``) are pinned to one literal for the whole operation,
    and a non-deterministic condition, or a Column embedding a time
    function, raises (:func:`_dml_pinner` — the same rule covers the
    conditions and assignments of :func:`update_where` and the merges).
    Returns {"version", "rows_deleted", "parts_rewritten"}.

    **Change-data feed**: the deleted rows are written to a ``cdc`` part
    recorded in the commit (Delta CDF's change files), so
    :func:`table_changes_cdf` can emit exact row-level deletes. The
    insert-only :func:`table_changes` feed does NOT reflect deletions
    (documented contract); the rewritten survivor parts are flagged
    ``rewrite`` so no feed ever double-counts them.

    Isolation is WriteSerializable (see
    :func:`_commute_past_appends_only`): blind appends land unexamined —
    a row appended concurrently with a delete that matches its predicate
    survives, exactly as in Delta's default level.

    ``use_dv=True`` deletes WITHOUT rewriting any part: the matched
    (file, row_index) pairs land in a DELETION VECTOR part the commit
    attaches to each touched part (Delta's deletion-vector design), and
    every reader anti-joins them out. A small delete on a huge part
    costs one scan + a vector write instead of rewriting the part —
    the rewrite amortizes into the next ``compact``, which materializes
    vectors away. Parts whose every live row matched are removed whole
    (no vector needed). DV commits stamp protocol 2: a v1 reader would
    silently resurrect the deleted rows, so it must refuse instead.
    CDF, snapshot isolation, time travel (pre-delete versions read the
    part WITHOUT the vector), zone maps (still valid — survivors are a
    subset), and the conflict rules are identical to the rewrite path."""
    from pyspark.sql import functions as F

    cond = _dml_pinner(spark, "delete_where")(condition)
    # SQL DELETE three-valued semantics: delete exactly where the
    # predicate is TRUE. Without the coalesce, rows where it evaluates
    # to NULL would be excluded from BOTH the matched/cdc set
    # (filter(cond)) and the survivor rewrite (filter(~cond)) — silent,
    # unauditable data loss for any predicate over a nullable column.
    cond = F.coalesce(cond.cast("boolean"), F.lit(False))
    fs = lake_fs(spark, path)
    v0, live = _snapshot(fs, path)
    if not live:
        return {"version": v0, "rows_deleted": 0, "parts_rewritten": 0}
    schema = _committed_schema(fs, path, v0)
    if use_dv:
        return _delete_where_dv(
            spark, fs, path, cond, live, v0, schema, max_retries
        )
    tbl = _read_live(spark, live, schema, meta=True)
    # one job answers both "which files hold matched rows" and "how
    # many rows match" (rows_deleted) — the latter used to be a second
    # count over the written change part
    matched = (
        tbl.filter(cond)
        .groupBy("_f_path")
        .agg(F.count(F.lit(1)).alias("__n"))
        .collect()
    )
    touched = _owning_parts(sorted(live), [r["_f_path"] for r in matched])
    if not touched:
        return {"version": v0, "rows_deleted": 0, "parts_rewritten": 0}
    touched_live = {p: live[p] for p in touched}
    cdc_part = _write_part(
        spark, path, _read_live(spark, touched_live, schema).filter(cond), schema, "cdc-"
    )
    rows_deleted = sum(r["__n"] for r in matched)
    adds, rewritten = _rewrite_touched(
        spark, fs, path, live, touched, schema,
        lambda g: _read_live(spark, g, schema, meta=True).filter(~cond),
    )
    payload = {
        "operation": "delete_where",
        "adds": adds,
        "removes": touched,
        "scope_partition": None,
        "cdc": [{"path": cdc_part, "change_type": "delete"}],
    }
    if schema is not None:
        payload["schema"] = schema
    return {
        "version": _commit_rewrite(spark, fs, path, payload, v0, max_retries, "delete_where"),
        "rows_deleted": rows_deleted,
        "parts_rewritten": rewritten,
    }


def update_where(
    spark: SparkSession,
    path: str,
    assignments: dict,
    condition,
    max_retries: int = 10,
) -> dict:
    """Transactional row-level UPDATE (Delta's ``UPDATE`` verb — the
    remaining corner of the DML quartet): rewrite exactly the live parts
    containing rows where ``condition`` is TRUE, applying
    ``assignments`` ({column: SQL expression or Column}) to the matched
    rows. Untouched parts are never read twice, let alone rewritten;
    touched parts sharing a partition tag become ONE part
    (:func:`_rewrite_touched`). Returns {"version", "rows_updated",
    "parts_rewritten"}.

    Semantics (ANSI UPDATE):

    - every assignment RHS evaluates against the OLD row (one
      ``CASE WHEN`` select, so ``SET a = b, b = a`` swaps);
    - assigned values cast to the column's committed type
      (store-assignment, like the SQL router's INSERT);
    - assigning a column the schema lacks raises — an UPDATE never
      evolves a schema;
    - three-valued predicate: rows where the condition is NULL are NOT
      updated (same coalesce as :func:`delete_where`);
    - time functions in the condition and in string assignments
      (``seen = now()``) are pinned to one instant for the whole
      operation, so the table and the change feed store the same value;
      a non-deterministic assignment (``rand()``), or a Column one
      embedding a time function, raises before anything is written
      (:func:`_dml_pinner`).

    **Change-data feed**: the commit records delete(old) + insert(new)
    change parts, so :func:`table_changes_cdf` shows the update as
    delete+insert at one version (the merge_upsert convention); the
    rewritten parts are ``rewrite``-flagged, so the insert-only feed
    ignores the operation entirely (documented contract, as for
    deletes). Zone maps survive, as the members' envelope, on
    unassigned columns only — assigned columns' recorded ranges no
    longer bound the new values, so their entries drop instead of lying.
    Isolation is WriteSerializable via
    :func:`_commute_past_appends_only`, identical to delete/merge."""
    from pyspark.sql import functions as F

    if not assignments:
        raise ValueError("update_where: assignments must be non-empty")
    pin = _dml_pinner(spark, "update_where")
    cond = pin(condition)
    assigned = {c: pin(e, "assignment") for c, e in assignments.items()}
    cond = F.coalesce(cond.cast("boolean"), F.lit(False))
    fs = lake_fs(spark, path)
    v0, live = _snapshot(fs, path)
    if not live:
        return {"version": v0, "rows_updated": 0, "parts_rewritten": 0}
    schema = _committed_schema(fs, path, v0)
    if schema is not None:
        known = {f["name"]: f["type"] for f in schema["fields"]}
        bad = sorted(set(assignments) - set(known))
        if bad:
            raise SchemaMismatchError(
                f"update_where: column(s) {bad} are not in the table schema "
                f"({sorted(known)}) — an UPDATE never evolves a schema"
            )

    def _apply(df: DataFrame) -> DataFrame:
        # ONE select: every RHS sees the OLD row, assigned values cast
        # to the committed column type (store-assignment)
        from pyspark.sql import types as T

        sel = []
        for c in df.columns:
            if c in assigned:
                e = assigned[c]
                if schema is not None:
                    e = e.cast(T.StructType.fromJson(
                        {"type": "struct",
                         "fields": [f for f in schema["fields"] if f["name"] == c]}
                    )[c].dataType)
                sel.append(F.when(cond, e).otherwise(F.col(c)).alias(c))
            else:
                sel.append(F.col(c))
        return df.select(*sel)

    tbl = _read_live(spark, live, schema, meta=True)
    if schema is None:
        # pre-schema (legacy) log: validate against the scanned columns
        # so a typo'd assignment raises instead of silently rewriting
        # every matched part with nothing changed
        data_cols = [c for c in tbl.columns if c not in _META_COLS]
        bad = sorted(set(assignments) - set(data_cols))
        if bad:
            raise SchemaMismatchError(
                f"update_where: column(s) {bad} are not in the table "
                f"({sorted(data_cols)}) — an UPDATE never evolves a schema"
            )
    # one job: matched files AND the matched-row total (rows_updated)
    matched = (
        tbl.filter(cond)
        .groupBy("_f_path")
        .agg(F.count(F.lit(1)).alias("__n"))
        .collect()
    )
    touched = _owning_parts(sorted(live), [r["_f_path"] for r in matched])
    if not touched:
        return {"version": v0, "rows_updated": 0, "parts_rewritten": 0}
    touched_live = {p: live[p] for p in touched}
    old_rows = _read_live(spark, touched_live, schema).filter(cond)
    cdc_old = _write_part(spark, path, old_rows, schema, "cdc-")
    rows_updated = sum(r["__n"] for r in matched)
    _enforce_constraints(
        spark, path, v0, _apply(_read_parts(spark, [cdc_old], schema)),
        "update_where", schema,
    )
    cdc_new = _write_part(
        spark, path, _apply(_read_parts(spark, [cdc_old], schema)), schema, "cdc-"
    )
    adds, rewritten = _rewrite_touched(
        spark, fs, path, live, touched, schema,
        lambda g: _apply(_read_live(spark, g, schema, meta=True)),
        drop_stats={_phys_of(schema, c) for c in assignments},
    )
    payload = {
        "operation": "update_where",
        "adds": adds,
        "removes": touched,
        "scope_partition": None,
        "cdc": [
            {"path": cdc_old, "change_type": "delete"},
            {"path": cdc_new, "change_type": "insert"},
        ],
    }
    if schema is not None:
        payload["schema"] = schema
    return {
        "version": _commit_rewrite(spark, fs, path, payload, v0, max_retries, "update_where"),
        "rows_updated": rows_updated,
        "parts_rewritten": rewritten,
    }


def _delete_where_dv(
    spark: SparkSession, fs, path: str, cond, live: dict, v0: int,
    schema: dict | None, max_retries: int,
) -> dict:
    """Deletion-vector delete (see :func:`delete_where` ``use_dv``):
    ONE scan finds the matched (part, file, row_index) set; matched
    rows materialize into the cdc change part (CDF parity with the
    rewrite path); fully-matched parts are removed whole; the rest get
    one shared deletion-vector part. No data part is rewritten."""
    from pyspark.sql import functions as F

    tbl = _read_live(spark, live, schema, meta=True)
    hits = tbl.filter(cond).withColumn("_pb", _part_base_expr())
    hits = hits.localCheckpoint(eager=True)
    by_base = {p.rstrip("/").rsplit("/", 1)[-1]: p for p in live}
    hit_counts = {
        r["_pb"]: r["n"]
        for r in hits.groupBy("_pb").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    if not hit_counts:
        return {"version": v0, "rows_deleted": 0, "parts_rewritten": 0}
    unknown = set(hit_counts) - set(by_base)
    if unknown:
        raise RuntimeError(
            f"cannot map matched files back to manifest parts: {sorted(unknown)}"
        )
    # live row count per touched part (post-existing-DV), to detect
    # parts whose EVERY remaining row matched -> whole-part remove
    touched_live = {by_base[b]: live[by_base[b]] for b in hit_counts}
    live_counts = {
        r["_pb"]: r["n"]
        for r in _read_live(spark, touched_live, schema, meta=True)
        .withColumn("_pb", _part_base_expr())
        .groupBy("_pb").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    partial_bases = [b for b, n in hit_counts.items() if n < live_counts[b]]
    removes = sorted(by_base[b] for b in hit_counts if b not in partial_bases)
    partial = sorted(by_base[b] for b in partial_bases)
    cdc_part = _write_part(spark, path, hits.drop("_pb", *_META_COLS), schema, "cdc-")
    # the per-part hit counts already sum to the matched-row total —
    # no second count over the written change part
    rows_deleted = sum(hit_counts.values())
    payload = {
        "operation": "delete_where",
        "adds": [],
        "removes": removes,
        "scope_partition": None,
        "cdc": [{"path": cdc_part, "change_type": "delete"}],
    }
    if partial:
        # minimum-protocol stamping: only a commit that actually
        # attaches a vector needs the v2 reader (whole-part removes
        # below are plain v1 semantics)
        payload["protocol"] = 2
        dv_part = fs_join(_part_dir(path), "dv-" + uuid.uuid4().hex)
        hits.filter(F.col("_pb").isin(partial_bases)).select(
            _part_rel_expr().alias("dv_file"), F.col("_f_idx").alias("dv_idx")
        ).write.mode("overwrite").parquet(dv_part)
        payload["dv"] = [{"part": p, "path": dv_part} for p in partial]
    if schema is not None:
        payload["schema"] = schema
    return {
        "version": _commit_rewrite(spark, fs, path, payload, v0, max_retries, "delete_where"),
        "rows_deleted": rows_deleted,
        "parts_rewritten": 0,
        "parts_removed": len(removes),
        "parts_vectored": len(partial),
    }


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    evolve: bool = False,
    max_retries: int = 10,
    sources: list[str] | None = None,
    partition: dict | None = None,
    expect_version: int | None = None,
    null_safe_keys: bool = False,
    txn: tuple[str, int] | None = None,
) -> dict:
    """Transactional key-replace upsert in ONE atomic commit: rows in
    ``updates`` replace live rows with equal key tuples, unmatched
    update rows insert. ``updates`` must be key-unique (checked —
    duplicate key tuples make "the" new row ambiguous). Returns
    {"version", "rows_updated", "rows_inserted", "rows_deleted",
    "parts_rewritten"}; ``rows_deleted`` is always 0. Conditional
    clauses (deletes, conditional updates and inserts, column-level
    ``SET``) are :func:`merge`.

    ``partition`` tags the updates part. It matters on tables read via
    ``partition_filter``: that read is manifest-exact only over tagged
    parts, so an UNTAGGED updates part (the default — a merge may span
    partitions) is invisible to it, and is outside
    ``overwrite_partition``'s remove/conflict scope. Single-partition
    merges on tag-partitioned tables should pass the tag; survivor
    rewrites always keep their original part's tag.

    Mechanics mirror :func:`delete_where`: one distributed semi-join
    pass finds the touched parts, their survivors (anti-join) become one
    part per partition tag (:func:`_rewrite_touched`: zone-map envelope,
    coarser across clustered parts until the next clustered
    :func:`compact`), the updates land as one new part, and the old
    versions of updated rows go to a ``cdc`` delete part — so
    :func:`table_changes_cdf` shows an update as delete(old)+insert(new)
    at one version, Delta-CDF style. The key-match join shuffles both
    sides on the keys (never a broadcast assumption on ``updates`` —
    at 100 TB the update set can itself be huge); untouched parts are
    never rewritten. Same WriteSerializable re-attach rule as delete.

    ``sources`` stamps the commit with the upstream names it
    incorporated (the :func:`append` exactly-once idea) — a streaming
    epoch committer checks :func:`table_sources` before re-merging a
    replayed epoch. Unlike append there is no re-attach race to guard
    (merge never re-attaches past anything but blind appends, which
    cannot carry the same epoch), so no ``since_version`` is needed;
    the merge itself is also idempotent (same keys → same replacement
    rows), making the source stamp a fast-path, not a correctness
    crutch.

    ``expect_version`` turns the merge into an OPTIMISTIC
    read-modify-write: the caller computed ``updates`` from the table's
    state at that version, so the commit must land at exactly
    ``expect_version + 1`` — ANY intervening commit (even a blind
    append, which a plain merge would commute past) raises
    :class:`CommitConflict` so the caller recomputes from fresh state.
    This is the guard an incremental maintainer needs: without it, a
    maintainer whose state read predates a rival's commit would
    silently overwrite the rival's contribution
    (`incremental.maintain_rollup` passes it always).

    ``null_safe_keys`` matches key tuples with ``<=>`` (IS NOT DISTINCT
    FROM) instead of ``=``: a NULL-keyed update row then REPLACES the
    existing NULL-keyed rows rather than inserting beside them. The
    default (ANSI/Delta ``MERGE ON t.k = s.k`` behavior) never matches
    NULL keys. GroupBy-derived update sets (rollup maintenance) need
    the null-safe form — groupBy emits one NULL group, so key matching
    must agree with grouping semantics."""
    from pyspark.sql import functions as F

    def _key_join(left, right, how: str):
        if not null_safe_keys:
            return left.join(right, keys, how)
        cond = functools.reduce(
            lambda a, b: a & b, [left[k].eqNullSafe(right[k]) for k in keys]
        )
        return left.join(right, cond, how)

    if not keys:
        raise ValueError("merge_upsert: keys must be non-empty")
    fs = lake_fs(spark, path)
    dup = _duplicate_keys(updates, keys)
    if dup is not None:
        raise ValueError(
            f"merge_upsert: updates contain duplicate key tuples (e.g. {dup})"
        )
    v0, live = _snapshot(fs, path)
    _check_merge_preconditions(spark, path, "merge_upsert", v0, txn, expect_version)
    table_schema = _committed_schema(fs, path, v0)
    schema = _merge_schema(table_schema, updates, evolve)
    # no .distinct(): updates are key-unique (checked above), and the
    # dedup exchange would re-run inside EVERY consuming action (matched
    # probe, change-part write, each survivor anti-join)
    remove_keys = updates.select(*keys)
    adds: list[dict] = []
    removes: list[str] = []
    cdc: list[dict] = []
    rows_updated = rewritten = 0
    if live:
        parts = sorted(live)
        tbl = _read_live(spark, live, table_schema, meta=True)
        # ONE job answers both "which parts hold matched rows" and "how
        # many distinct keys matched" (rows_updated) — the latter used
        # to be a separate distinct-count over the written change part
        # (guide §2.4: don't pay two passes for two scalars off one
        # semi-join). struct() makes the distinct NULL-safe, matching
        # the old .distinct().count() semantics for null_safe_keys.
        matched = _key_join(
            tbl.select(F.col("_f_path").alias("__f"), *keys),
            remove_keys, "left_semi",
        ).agg(
            F.collect_set("__f").alias("__fs"),
            F.countDistinct(F.struct(*keys)).alias("__nk"),
        ).first()
        touched = _owning_parts(parts, matched["__fs"])
        if partition is not None:
            # the declared single-partition contract must actually hold:
            # silently migrating a matched row from another partition
            # into the tagged updates part would make partition_filter
            # reads lose it and a later overwrite of ITS partition leave
            # it behind as a stale duplicate
            outside = [p for p in touched if live[p]["partition"] != partition]
            if outside:
                raise ValueError(
                    f"merge_upsert(partition={partition}): matched keys live "
                    f"in {len(outside)} part(s) tagged differently (e.g. "
                    f"{live[outside[0]]['partition']}); drop the partition "
                    "tag or scope the update keys"
                )
        if touched:
            removes = touched
            touched_live = {p: live[p] for p in touched}
            old_rows = _key_join(
                _read_live(spark, touched_live, table_schema), remove_keys, "left_semi"
            )
            cdc_part = _write_part(spark, path, old_rows, schema, "cdc-")
            # distinct matched keys, not raw old rows: a key appended
            # twice counts as ONE update (all its rows are replaced);
            # already computed inside the matched-parts job above
            rows_updated = int(matched["__nk"])
            cdc = [{"path": cdc_part, "change_type": "delete"}]
            adds, rewritten = _rewrite_touched(
                spark, fs, path, live, touched, schema,
                lambda g: _key_join(
                    _read_live(spark, g, table_schema, meta=True),
                    remove_keys, "left_anti",
                ),
            )
    _enforce_constraints(spark, path, v0, updates, "merge_upsert", schema)
    upd_part = _write_part(spark, path, updates, schema)
    adds.append({"path": upd_part, "partition": partition or {}})
    payload = {
        "operation": "merge_upsert",
        "adds": adds,
        "removes": removes,
        "scope_partition": partition,
        "schema": schema,
    }
    if cdc:
        payload["cdc"] = cdc
    if sources is not None:
        payload["sources"] = sorted(sources)
    if txn is not None:
        payload["txn"] = {"app": str(txn[0]), "version": int(txn[1])}
    version = _commit_rewrite(
        spark, fs, path, payload, v0, max_retries, "merge_upsert", expect_version
    )
    # footer-only count over the part actually written — never a second
    # execution of the caller's updates lineage (which may be expensive
    # or, for a re-read stream batch, not even deterministic); read the
    # footer driver-side (no job) where the store allows
    n_new = _part_num_rows(spark, upd_part)
    return {
        "version": version,
        "rows_updated": rows_updated,
        "rows_inserted": n_new - rows_updated,
        "rows_deleted": 0,
        "parts_rewritten": rewritten,
    }


def _sql_refs_struct(expr, name: str) -> bool:
    """True iff SQL expression string ``expr`` references ``name.``
    OUTSIDE string literals — the textual guard :func:`merge` uses to
    refuse a target reference in a NOT-MATCHED clause (no target row
    exists there) with a curated error instead of a late analyzer one.
    A ``name.``-lookalike inside quotes is data, never a reference."""
    if not isinstance(expr, str):
        return False
    quote = None
    i, n = 0, len(expr)
    pat = name + "."
    while i < n:
        ch = expr[i]
        if quote is not None:
            if ch == quote:
                if quote == "'" and i + 1 < n and expr[i + 1] == "'":
                    i += 2
                    continue
                quote = None
            i += 1
            continue
        if ch in "'\"`":
            quote = ch
            i += 1
            continue
        if (
            expr[i:i + len(pat)] == pat
            and (i == 0 or not (expr[i - 1].isalnum() or expr[i - 1] in "_."))
        ):
            return True
        i += 1
    return False


def merge(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    keys: list[str],
    matched: list[dict] | None = None,
    not_matched: list[dict] | None = None,
    not_matched_by_source: list[dict] | None = None,
    evolve: bool = False,
    max_retries: int = 10,
    sources: list[str] | None = None,
    partition: dict | None = None,
    expect_version: int | None = None,
    null_safe_keys: bool = False,
    txn: tuple[str, int] | None = None,
) -> dict:
    """Transactional MERGE with the public Delta clause grammar — the
    one conditional-MERGE implementation (SQL ``MERGE INTO``, the CDC
    tombstone sink and :func:`incremental.scd2_merge` all run on it;
    :func:`merge_upsert` is only the plain key-replace upsert):
    conditional deletes, updates and inserts, column-level ``SET``
    lists, clause conditions over the TARGET row, and ``WHEN NOT
    MATCHED BY SOURCE``. One atomic commit, Delta-CDF parity (update =
    delete(old) + insert(new) at one version), WriteSerializable
    isolation via :func:`_commute_past_appends_only` — identical to
    delete/merge.

    Clause lists (each evaluated FIRST-MATCH-WINS, ANSI/Delta order):

    - ``matched``: ``{"action": "update", "set": {col: sql_expr} |
      None, "condition": sql_expr | None}`` or ``{"action": "delete",
      "condition": ...}``. ``set=None`` is ``UPDATE SET *``: every
      target column present in the source takes the source value,
      columns the source lacks keep the target value.
    - ``not_matched``: ``{"action": "insert", "values": {col: expr} |
      None, "condition": ...}``. ``values=None`` is ``INSERT *``
      (source value per shared column, NULL for target-only columns);
      an explicit dict null-fills unnamed columns.
    - ``not_matched_by_source``: ``{"action": "delete", "condition"}``
      or ``{"action": "update", "set": {...}, "condition"}`` — acts on
      TARGET rows with no matching source row (an explicit ``set`` is
      required: there is no source row to star-expand from).

    Expressions and conditions are SQL strings over two row structs:
    ``t.<col>`` (target) and ``s.<col>`` (source) — matched clauses may
    reference both, ``not_matched`` only ``s.`` (refused otherwise: no
    target row exists), ``not_matched_by_source`` only ``t.``. NULL
    conditions fire nothing (SQL three-valued logic, the
    :func:`delete_where` coalesce). Assigned values cast to the
    committed column type (store-assignment, as :func:`update_where`).
    Time functions in conditions and ``set``/``values`` expressions are
    pinned to one instant for the whole operation, and non-deterministic
    ones raise, as in :func:`update_where`.

    Semantics are PER TARGET ROW (Delta's): two target rows sharing a
    key are each updated, where :func:`merge_upsert`'s key-replace
    collapses them to one; on key-unique targets (the CDC norm) the two
    agree.

    Schema: on an existing table the default keeps star expansion to
    target∩source. On a path with no table yet, and under
    ``evolve=True``, the table gains the keys plus exactly the source
    columns some clause WRITES: every source column when a clause is a
    star (``set=None`` / ``values=None``), else only the columns an
    explicit ``set``/``values`` names. So a condition-only source
    column (a CDC ``_deleted`` flag) enters the schema only through a
    star clause.

    Scale: Delta's two-pass physical plan. Pass 1 joins the snapshot to
    the source ON the keys (shuffle on keys both sides — never a
    broadcast assumption on either: at 100 TB both can be huge) and
    finds exactly the parts holding a row some clause fires on; pass 2
    left-outer-joins ONLY those parts against the source, routes every
    row through one JVM CASE chain (no Python UDFs), localCheckpoints
    the routed rows once, and writes the survivors as one part per
    partition tag (:func:`_rewrite_touched`: zone-map envelope, coarser
    across clustered parts until the next clustered :func:`compact`) +
    one new part (updated rows + inserts) + the CDF delete part.
    Untouched parts are never rewritten; an unconditional BY-SOURCE
    clause touches every part by definition (as in Delta)."""
    from pyspark.sql import functions as F, types as T

    matched = list(matched or [])
    not_matched = list(not_matched or [])
    by_source = list(not_matched_by_source or [])
    if not keys:
        raise ValueError("merge: keys must be non-empty")
    if not (matched or not_matched or by_source):
        raise ValueError("merge: at least one WHEN clause is required")

    def _bad(msg):
        raise ValueError(f"merge: {msg}")

    for cl in matched:
        if cl.get("action") not in ("update", "delete"):
            _bad(f"matched clause action must be update|delete, got {cl.get('action')!r}")
        if cl.get("action") == "delete" and cl.get("set"):
            _bad("a matched delete clause takes no set")
    for cl in not_matched:
        if cl.get("action") != "insert":
            _bad(f"not_matched clause action must be insert, got {cl.get('action')!r}")
        for e in [cl.get("condition"), *(cl.get("values") or {}).values()]:
            if _sql_refs_struct(e, "t"):
                _bad(
                    "a NOT MATCHED clause cannot reference the target row "
                    f"(t.) — no target row exists for an insert: {e!r}"
                )
    for cl in by_source:
        if cl.get("action") not in ("update", "delete"):
            _bad(
                "not_matched_by_source clause action must be update|delete, "
                f"got {cl.get('action')!r}"
            )
        if cl.get("action") == "update" and not cl.get("set"):
            _bad(
                "a NOT MATCHED BY SOURCE update needs an explicit set "
                "(there is no source row to star-expand from)"
            )
        for e in [cl.get("condition"), *(cl.get("set") or {}).values()]:
            if _sql_refs_struct(e, "s"):
                _bad(
                    "a NOT MATCHED BY SOURCE clause cannot reference the "
                    f"source row (s.) — no source row matched: {e!r}"
                )

    # pin every clause condition and set/values expression ONCE, on one
    # clock: pass 1 and pass 2 both evaluate them
    pin = _dml_pinner(spark, "merge")

    def _pinned(cl):
        out = dict(cl)
        if cl.get("condition") is not None:
            out["condition"] = pin(cl["condition"])
        for k in ("set", "values"):
            if cl.get(k):
                out[k] = {c: pin(e, "assignment") for c, e in cl[k].items()}
        return out

    matched, not_matched, by_source = (
        [_pinned(cl) for cl in clauses] for clauses in (matched, not_matched, by_source)
    )

    def _cond(c, default=True):
        if c is None:
            return F.lit(default)
        return F.coalesce(c.cast("boolean"), F.lit(False))

    fs = lake_fs(spark, path)
    dup = _duplicate_keys(source, keys)
    if dup is not None:
        raise ValueError(
            f"merge: source contains duplicate key tuples (e.g. {dup}) — "
            "multiple source rows may not match one target row"
        )
    v0, live = _snapshot(fs, path)
    _check_merge_preconditions(spark, path, "merge", v0, txn, expect_version)
    table_schema = _committed_schema(fs, path, v0)
    scols = list(source.columns)
    missing_keys = sorted(set(keys) - set(scols))
    if missing_keys:
        raise ValueError(f"merge: source lacks key column(s) {missing_keys}")
    schema = table_schema
    if table_schema is None:
        if live:
            probe = _read_live(spark, dict(list(live.items())[:1]), None)
            cur_cols = list(probe.columns)
        else:
            cur_cols = scols
    else:
        cur_cols = [f["name"] for f in table_schema["fields"]]
    if evolve or (table_schema is None and not live):
        # the table gains the source columns some clause writes: all of
        # them for a star clause, else the keys plus the named ones
        written, star = set(keys), False
        for cl in matched + not_matched + by_source:
            if cl["action"] != "delete":
                assign = cl.get("values" if cl["action"] == "insert" else "set")
                star = star or assign is None
                written.update(assign or ())
        grown = source if star else source.select(*[c for c in scols if c in written])
        schema = _merge_schema(table_schema, grown, True)
    tcols = [f["name"] for f in schema["fields"]] if schema is not None else cur_cols
    st = T.StructType.fromJson(schema) if schema is not None else None
    types = {f.name: f.dataType for f in st.fields} if st is not None else {}
    for cl in matched + by_source:
        bad = sorted(set(cl.get("set") or {}) - set(tcols))
        if bad:
            _bad(f"set assigns unknown column(s) {bad} (table columns: {tcols})")
    for cl in not_matched:
        bad = sorted(set(cl.get("values") or {}) - set(tcols))
        if bad:
            _bad(f"insert names unknown column(s) {bad} (table columns: {tcols})")

    def _star_set():
        return {c: f"s.`{c}`" for c in tcols if c in scols}

    def _row_exprs(assign: dict | None, keep_target: bool):
        """One output column per table column: assigned expression if
        present, else the target value (matched/by-source update) or
        NULL (insert) — every value cast to the committed type."""
        out = []
        for c in tcols:
            if assign is not None and c in assign:
                e = assign[c]
                e = F.expr(e) if isinstance(e, str) else e
            elif keep_target:
                e = F.col("t").getField(c)
            else:
                e = F.lit(None)
            if c in types:
                e = e.cast(types[c])
            out.append(e.alias(c))
        return out

    s_struct = F.struct(*[F.col(c).alias(c) for c in scols]).alias("s")
    s_side = source.select(
        *[F.col(k).alias(f"__mrg_sk{i}") for i, k in enumerate(keys)], s_struct
    ).withColumn("__mrg_sp", F.lit(True))

    def _t_side(frame):
        fields = [
            (F.col(c) if c in frame.columns else F.lit(None).cast(types[c])).alias(c)
            for c in tcols
        ]
        return frame.select(
            *[F.col(k).alias(f"__mrg_tk{i}") for i, k in enumerate(keys)],
            F.struct(*fields).alias("t"),
            F.col("_f_path").alias("__mrg_f"),
        )

    def _key_cond(left, right):
        pairs = [
            (left[f"__mrg_tk{i}"], right[f"__mrg_sk{i}"]) for i in range(len(keys))
        ]
        op = (lambda a, b: a.eqNullSafe(b)) if null_safe_keys else (lambda a, b: a == b)
        return functools.reduce(lambda a, b: a & b, [op(a, b) for a, b in pairs])

    adds: list[dict] = []
    removes: list[str] = []
    cdc: list[dict] = []
    touched: list[str] = []
    routed = None
    if live:
        parts = sorted(live)
        tbl_all = _t_side(_read_live(spark, live, table_schema, meta=True))
        # pass 1: exactly the parts where some clause fires on some row —
        # the Delta findTouchedFiles join, shuffled on the keys
        fire_frames = []
        if matched:
            m_fire = functools.reduce(
                lambda a, b: a | b, [_cond(cl.get("condition")) for cl in matched]
            )
            fire_frames.append(
                tbl_all.join(s_side, _key_cond(tbl_all, s_side), "inner")
                .filter(m_fire).select("__mrg_f")
            )
        if by_source:
            b_fire = functools.reduce(
                lambda a, b: a | b, [_cond(cl.get("condition")) for cl in by_source]
            )
            fire_frames.append(
                tbl_all.join(s_side, _key_cond(tbl_all, s_side), "left_anti")
                .filter(b_fire).select("__mrg_f")
            )
        hit_files: list[str] = []
        if fire_frames:
            hits = fire_frames[0]
            for f in fire_frames[1:]:
                hits = hits.unionByName(f)
            hit_files = [r["__mrg_f"] for r in hits.distinct().collect()]
        touched = _owning_parts(parts, hit_files)
        if partition is not None:
            outside = [p for p in touched if live[p]["partition"] != partition]
            if outside:
                raise ValueError(
                    f"merge(partition={partition}): clause-hit rows live in "
                    f"{len(outside)} part(s) tagged differently (e.g. "
                    f"{live[outside[0]]['partition']}); drop the partition "
                    "tag or scope the source keys"
                )
        if touched:
            touched_live = {p: live[p] for p in touched}
            tt = _t_side(_read_live(spark, touched_live, table_schema, meta=True))
            joined = tt.join(s_side, _key_cond(tt, s_side), "left_outer")
            is_m = F.coalesce(F.col("__mrg_sp"), F.lit(False))
            # ONE JVM CASE chain routes every row to its first matching
            # clause (-1 = no clause fired: the row survives unchanged)
            route = None
            for i, cl in enumerate(matched):
                c = is_m & _cond(cl.get("condition"))
                route = F.when(c, i) if route is None else route.when(c, i)
            for j, cl in enumerate(by_source):
                c = (~is_m) & _cond(cl.get("condition"))
                route = F.when(c, 100 + j) if route is None else route.when(c, 100 + j)
            routed = (
                joined.withColumn("__mrg_route", route.otherwise(F.lit(-1)))
                .select(
                    F.col("__mrg_f"),
                    F.col("__mrg_route"),
                    F.col("t").alias("__mrg_t"),
                    F.col("s").alias("__mrg_s"),
                )
                # materialize ONCE: the survivor writes, the new-part
                # write, the CDF part, and the counts all read
                # this; without the checkpoint each would re-run the
                # touched-scan ⋈ source shuffle
                .localCheckpoint(eager=True)
            )

    # unmatched source rows (anti-join against the FULL live key set,
    # not just touched parts) routed through the not_matched clauses
    ins_routed = None
    if not_matched:
        if live:
            tkeys = tbl_all.select(*[f"__mrg_tk{i}" for i in range(len(keys))])
            ins_base = s_side.join(tkeys, _key_cond(tkeys, s_side), "left_anti")
        else:
            ins_base = s_side
        iroute = None
        for i, cl in enumerate(not_matched):
            c = _cond(cl.get("condition"))
            iroute = F.when(c, i) if iroute is None else iroute.when(c, i)
        ins_routed = (
            ins_base.withColumn("__mrg_route", iroute.otherwise(F.lit(-1)))
            .filter(F.col("__mrg_route") >= 0)
            .select(F.col("__mrg_route"), F.col("s").alias("__mrg_s"))
            .localCheckpoint(eager=True)
        )

    rows_updated = rows_deleted = rows_inserted = rewritten = 0
    new_frames = []
    if routed is not None:
        counts = {
            r["__mrg_route"]: r["n"]
            for r in routed.groupBy("__mrg_route")
            .agg(F.count(F.lit(1)).alias("n")).collect()
        }
        for i, cl in enumerate(matched):
            n = counts.get(i, 0)
            if cl["action"] == "update":
                rows_updated += n
                if n:
                    assign = cl.get("set") if cl.get("set") is not None else _star_set()
                    new_frames.append(
                        routed.filter(F.col("__mrg_route") == i)
                        .select(F.col("__mrg_t").alias("t"), F.col("__mrg_s").alias("s"))
                        .select(*_row_exprs(assign, keep_target=True))
                    )
            else:
                rows_deleted += n
        for j, cl in enumerate(by_source):
            n = counts.get(100 + j, 0)
            if cl["action"] == "update":
                rows_updated += n
                if n:
                    new_frames.append(
                        routed.filter(F.col("__mrg_route") == 100 + j)
                        .select(F.col("__mrg_t").alias("t"))
                        .select(*_row_exprs(cl["set"], keep_target=True))
                    )
            else:
                rows_deleted += n
        old_rows = routed.filter(F.col("__mrg_route") >= 0).select(
            F.col("__mrg_t").alias("t")
        ).select(*_row_exprs(None, keep_target=True))
        cdc_part = _write_part(spark, path, old_rows, schema, "cdc-")
        cdc = [{"path": cdc_part, "change_type": "delete"}]
        removes = touched
        survivors = routed.filter(F.col("__mrg_route") == -1).select(
            F.col("__mrg_f").alias("_f_path"), F.col("__mrg_t").alias("t")
        )
        adds, rewritten = _rewrite_touched(
            spark, fs, path, live, touched, schema,
            lambda g: survivors.filter(
                _part_base_expr().isin([p.rstrip("/").rsplit("/", 1)[-1] for p in g])
            ).select("_f_path", *_row_exprs(None, keep_target=True)),
        )
    if ins_routed is not None:
        icounts = {
            r["__mrg_route"]: r["n"]
            for r in ins_routed.groupBy("__mrg_route")
            .agg(F.count(F.lit(1)).alias("n")).collect()
        }
        rows_inserted = sum(icounts.values())
        for i, cl in enumerate(not_matched):
            if not icounts.get(i):
                continue
            assign = cl.get("values") if cl.get("values") is not None else _star_set()
            new_frames.append(
                ins_routed.filter(F.col("__mrg_route") == i)
                .select(F.col("__mrg_s").alias("s"))
                .select(*_row_exprs(assign, keep_target=False))
            )
    upd_part = None
    if new_frames:
        new_rows = new_frames[0]
        for f in new_frames[1:]:
            new_rows = new_rows.unionByName(f)
        _enforce_constraints(spark, path, v0, new_rows, "merge", schema)
        upd_part = _write_part(spark, path, new_rows, schema)
        adds.append({"path": upd_part, "partition": partition or {}})
    if not adds and not removes:
        return {
            "version": v0,
            "rows_updated": 0,
            "rows_inserted": 0,
            "rows_deleted": 0,
            "parts_rewritten": 0,
        }
    payload = {
        "operation": "merge",
        "adds": adds,
        "removes": removes,
        "scope_partition": partition,
    }
    if schema is not None:
        payload["schema"] = schema
    if cdc:
        payload["cdc"] = cdc
    if sources is not None:
        payload["sources"] = sorted(sources)
    if txn is not None:
        payload["txn"] = {"app": str(txn[0]), "version": int(txn[1])}
    return {
        "version": _commit_rewrite(
            spark, fs, path, payload, v0, max_retries, "merge", expect_version
        ),
        "rows_updated": rows_updated,
        "rows_inserted": rows_inserted,
        "rows_deleted": rows_deleted,
        "parts_rewritten": rewritten,
    }


def _insert_window_parts(commits: list[dict]) -> dict[str, dict]:
    """Pure replay of the insert-only change feed over an ORDERED commit
    window: returns ``{part_path: partition_tag}`` for the parts whose
    rows a consumer of that window must see. Shared verbatim by
    :func:`table_changes` (batch) and the ``txlog_feed`` streaming
    source (`sources/txlog_source.py`) so the two feeds can never
    drift. Operates on commit dicts only — no filesystem, no Spark."""
    added: dict[str, dict] = {}
    popped: dict[str, dict] = {}
    for c in commits:
        op = c.get("operation")
        if op == "compact":
            continue  # pure rewrite: no content change, invisible to CDC
        if op in ("overwrite_partition", "overwrite_table", "restore"):
            # replacement/undo whose surviving content is (re)covered
            # below — popping in-window adds matches the final visible
            # state (a part appended in-window and then undone by an
            # in-window restore must not feed). Remember what was
            # popped: a LATER in-window restore may bring it back.
            for r in c.get("removes", []):
                if r in added:
                    popped[r] = added.pop(r)
        # delete_where / merge_upsert removes are NOT popped: their
        # surviving rows are fed by the ORIGINAL in-window adds (the
        # rewrites are flagged and skipped below), and deletions are
        # not representable in an insert-only feed — consumers that
        # need them use table_changes_cdf
        for a in c.get("adds", []):
            if not a.get("rewrite"):
                added[a["path"]] = a.get("partition", {})
            elif op == "restore" and a["path"] in popped:
                # the restore re-added a part whose in-window feed entry
                # a replacement op erased: its rows are back in the
                # final visible state and the consumer has never seen
                # them — re-feed (parts restored from BEFORE the window
                # were fed when originally added and stay skipped)
                added[a["path"]] = popped.pop(a["path"])
    return added


def _cdf_commit_actions(c: dict, version: int) -> list[dict]:
    """Row-level CDF actions of ONE commit: a list of
    ``{"path", "change_type", "schema"}`` entries (inserts first, then
    the commit's recorded change parts). Raises on a cdc-less restore
    — its content change materialized no change parts, so any CDF
    window spanning it would replay the wrong multiset. Shared by
    :func:`table_changes_cdf` and the ``txlog_feed`` streaming source's
    ``cdf`` mode. Pure: commit dict in, actions out."""
    op = c.get("operation")
    if op == "compact":
        return []
    if op == "restore" and not c.get("cdc"):
        # a restore changes visible content but materialized no
        # change parts — replaying across it would yield the wrong
        # multiset (phantom undone rows / missing restored rows).
        # Fail honestly instead of feeding garbage.
        raise ValueError(
            f"change-data feed window spans restore v{version}, which was "
            "committed without cdc=True; consume via iter_changes / "
            "re-bootstrap from a snapshot, or re-run the restore "
            "with cdc=True"
        )
    sj = c.get("schema")
    out = [
        {"path": a["path"], "change_type": "insert", "schema": sj}
        for a in c.get("adds", [])
        if not a.get("rewrite")
    ]
    for e in c.get("cdc", []):
        # change rows are read with the schema they were WRITTEN
        # under (recorded per entry) — a replace_schema
        # overwrite's deletes carry the pre-replace schema
        out.append(
            {
                "path": e["path"],
                "change_type": e.get("change_type", "delete"),
                "schema": e.get("schema", sj),
            }
        )
    return out


def table_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Change feed between two committed versions: the rows ADDED by
    commits in (from_version, to_version] (Delta's ``table_changes`` /
    CDF for the insert-only case). Exact for append/refresh workloads
    because parts are immutable. ``from_version=0`` reads everything up
    to ``to_version``.

    **Compact commits are skipped ENTIRELY in the replay** — both their
    adds (rewrites of content already counted, surfacing them would
    double-feed) and their removes. This mirrors Delta CDF ignoring
    ``dataChange=false`` actions: a compaction moves bytes, it changes
    no content, so it must be invisible to the feed. The removes matter
    as much as the adds: processing them used to pop IN-WINDOW appends
    from the feed, so a consumer bootstrapping from ``from_version=0``
    (or lagging across a compaction) silently lost every row appended
    before the compact. The compacted-away part files stay readable —
    they back time travel until ``vacuum(keep_versions=...)`` expiry;
    a window needing an already-reaped part raises
    :class:`VersionExpiredError` at plan time.

    ``overwrite_partition`` commits DO contribute their new part (the
    replacement rows are new content; this is an insert-only feed, so
    the replaced rows are not emitted as deletes — the documented
    contract, same as the view change feed). An overwrite's removes ARE
    processed: an in-window append that an in-window overwrite then
    replaced never reaches the feed, matching the final visible state.

    ``delete_where`` / ``merge_upsert`` commits contribute only their
    genuinely-new content (a merge's updates part); their survivor
    rewrites are flagged in the commit and skipped, and their removes
    are NOT popped — an insert-only feed cannot express deletion, so
    rows inserted in-window and later deleted in-window still appear.
    Consumers that must see deletions use :func:`table_changes_cdf`,
    which reads the commit-recorded change parts for exact row-level
    delete events.

    Incremental consumers (downstream rollups, exports) read each
    version delta instead of re-scanning the table — commit-sized
    work, never table-sized. Per-commit granularity (the operation and
    scope a rollup maintainer needs to handle overwrites) is
    :func:`iter_changes`; the durable-cursor wrapper is
    :func:`changes_since`."""
    fs = lake_fs(spark, path)
    latest = current_version(spark, path)
    if to_version is None:
        to_version = latest
    if to_version > latest or from_version > to_version:
        raise FileNotFoundError(
            f"table_changes({from_version}, {to_version}) under {path}: "
            f"latest committed version is v{latest}"
        )
    commits = [
        _read_commit_retained(
            fs, path, v, f"table_changes({from_version}, {to_version})"
        )
        for v in range(from_version + 1, to_version + 1)
    ]
    parts = sorted(_insert_window_parts(commits))
    _require_parts_exist(
        fs, path, parts, f"table_changes({from_version}, {to_version})"
    )
    if not parts:
        _v, live = _snapshot(fs, path, to_version)
        return _empty_frame(spark, fs, path, to_version, live)
    return _read_parts(spark, parts, _committed_schema(fs, path, to_version))


def table_changes_cdf(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Row-level change-data feed (the full-CDF upgrade of the
    insert-only :func:`table_changes`): every commit in (from_version,
    to_version] contributes rows tagged ``_change_type``
    (``insert`` | ``delete``) and ``_commit_version`` —

    - ``append`` / ``overwrite_partition`` adds and a merge's updates
      part → ``insert`` rows;
    - ``delete_where`` / ``merge_upsert`` replaced rows → ``delete``
      rows, read from the change part the commit recorded at write time
      (Delta CDF's change-file design: the writer materializes the
      deleted rows once, so the feed never has to diff part files);
      an upsert therefore shows delete(old) + insert(new) at ONE
      version;
    - survivor rewrites and ``compact`` are invisible (no content
      change);
    - an overwrite's REPLACED rows are emitted as deletes only when the
      overwrite was written with ``cdc=True`` (which materializes them
      into a change part — Delta tables likewise only record change
      files when CDF is enabled); without it, consumers tracking
      wholesale replacement react to the operation +
      ``scope_partition`` via :func:`iter_changes`.

    **Exact multiset replay requires uniform cdc discipline**: every
    overwrite and restore inside the window must have been committed
    with ``cdc=True``. A cdc-less overwrite yields documented
    insert-only replacement semantics; mixing it with a LATER cdc
    restore double-counts the restored rows (their removal was never
    emitted). A cdc-less restore raises outright (below) because its
    content change would otherwise be entirely invisible.

    Mixed schemas across the window union by name with null fill
    (additive evolution only, so this is lossless). Change parts are
    retained like historical data parts: reaped only by
    ``vacuum(keep_versions=...)``, after which the window raises
    :class:`VersionExpiredError` at plan time."""
    from pyspark.sql import functions as F

    fs = lake_fs(spark, path)
    latest = current_version(spark, path)
    if to_version is None:
        to_version = latest
    if to_version > latest or from_version > to_version:
        raise FileNotFoundError(
            f"table_changes_cdf({from_version}, {to_version}) under {path}: "
            f"latest committed version is v{latest}"
        )
    end_sj = _committed_schema(fs, path, to_version)
    end_by_phys = (
        {_phys_name(f): f["name"] for f in end_sj["fields"]}
        if end_sj is not None
        else {}
    )

    def _relabel(df, sj):
        """Present a frame read under its as-of schema under the
        WINDOW-END logical names, joined on physical identity — a
        window spanning rename_column is then one uniform frame
        (columns the end schema dropped keep their as-of name and
        null-fill in the union: deterministic either way)."""
        if sj is None or not end_by_phys:
            return df
        ren = {}
        for f in sj["fields"]:
            tgt = end_by_phys.get(_phys_name(f))
            if tgt is not None and tgt != f["name"]:
                ren[f["name"]] = tgt
        return df.withColumnsRenamed(ren) if ren else df

    frames = []
    for v in range(from_version + 1, to_version + 1):
        actions = _cdf_commit_actions(
            _read_commit_retained(fs, path, v, "table_changes_cdf"), v
        )
        _require_parts_exist(
            fs, path, sorted(a["path"] for a in actions),
            f"table_changes_cdf v{v}",
        )
        # group contiguous inserts sharing the commit schema into one
        # scan; change parts read one-by-one with their recorded schema
        ins = sorted(a["path"] for a in actions if a["change_type"] == "insert")
        if ins:
            sj = next(a["schema"] for a in actions if a["change_type"] == "insert")
            frames.append(
                _relabel(_read_parts(spark, ins, sj), sj)
                .withColumn("_change_type", F.lit("insert"))
                .withColumn("_commit_version", F.lit(v))
            )
        for a in actions:
            if a["change_type"] == "insert":
                continue
            frames.append(
                _relabel(_read_parts(spark, [a["path"]], a["schema"]), a["schema"])
                .withColumn("_change_type", F.lit(a["change_type"]))
                .withColumn("_commit_version", F.lit(v))
            )
    if not frames:
        _v, live = _snapshot(fs, path, to_version)
        return (
            _empty_frame(spark, fs, path, to_version, live)
            .withColumn("_change_type", F.lit("insert"))
            .withColumn("_commit_version", F.lit(0))
            .filter(F.lit(False))
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    # normalized column order: window-end schema order first, then any
    # columns only historical commits carry (dropped columns keep their
    # as-of names), metadata tags LAST. Without this, an evolution
    # inside the window appended its new columns AFTER _change_type/
    # _commit_version (union order), surprising SELECT * consumers.
    end_names = [f["name"] for f in end_sj["fields"]] if end_sj else []
    data_cols = [c for c in end_names if c in out.columns] + [
        c
        for c in out.columns
        if c not in end_names and c not in ("_change_type", "_commit_version")
    ]
    return out.select(*data_cols, "_change_type", "_commit_version")


def changes_since(
    spark: SparkSession, path: str, cursor: int
) -> tuple[DataFrame, int]:
    """Incremental-consumer cursor API: returns ``(delta, new_cursor)``
    where ``delta`` is the insert feed of everything committed after
    ``cursor`` (see :func:`table_changes`) and ``new_cursor`` is the
    version the delta is exact through. The consumer persists
    ``new_cursor`` AFTER applying the delta and passes it back next
    poll — at-least-once by construction (a crash between apply and
    persist re-reads the same window; parts are immutable, so the
    re-read is byte-identical and a transactional downstream can
    dedupe on the cursor). A caught-up consumer gets a schema-stable
    empty frame and an unchanged cursor.

    The ``new_cursor`` is pinned BEFORE the frame is built, so commits
    racing in while the consumer processes the delta are never silently
    skipped — they land in the next poll's window."""
    latest = current_version(spark, path)
    if cursor > latest:
        raise FileNotFoundError(
            f"changes_since({cursor}) under {path}: cursor is ahead of "
            f"latest committed version v{latest}"
        )
    return table_changes(spark, path, cursor, latest), latest


def iter_changes(spark: SparkSession, path: str, cursor: int) -> list[dict]:
    """Per-commit change feed for consumers that must distinguish
    OPERATIONS, not just inserted rows — e.g. a downstream rollup that
    merge-adds appends but REPLACES a partition's contribution on
    ``overwrite_partition`` (``examples/multiwriter_transactions.py``
    shows the maintenance loop). Returns one dict per non-compact
    commit after ``cursor``, oldest first::

        {"version": int, "operation": "append"|"overwrite_partition",
         "scope_partition": dict | None,   # overwrite's replaced tag
         "df": DataFrame}                  # that commit's added rows

    Compact commits are skipped (no content change — same contract as
    :func:`table_changes`); the caller's next cursor is the latest
    committed version (``changes_since``'s pin), NOT the last emitted
    entry's version, so trailing compacts still advance the cursor.
    Commit-sized work per entry; a needed part already reaped by vacuum
    raises :class:`VersionExpiredError` at plan time."""
    fs = lake_fs(spark, path)
    latest = current_version(spark, path)
    out: list[dict] = []
    for v in range(cursor + 1, latest + 1):
        c = _read_commit_retained(fs, path, v, "iter_changes")
        if c.get("operation") == "compact":
            continue
        # rewrite-flagged adds (delete/merge survivors) are not new
        # content; the entry's df is the commit's genuinely-new rows
        parts = sorted(
            a["path"] for a in c.get("adds", []) if not a.get("rewrite")
        )
        _require_parts_exist(fs, path, parts, f"iter_changes v{v}")
        out.append(
            {
                "version": v,
                "operation": c["operation"],
                "scope_partition": c.get("scope_partition"),
                "df": _read_parts(spark, parts, c.get("schema")) if parts else None,
            }
        )
    return out


def rename_column(
    spark: SparkSession, path: str, old: str, new: str, max_retries: int = 10
) -> dict:
    """Rename a column WITHOUT rewriting any data — the public Delta
    column-mapping design: the committed schema's field keeps its
    immutable PHYSICAL parquet name (stamped on every field the first
    time mapping is needed) and only the LOGICAL name users query
    changes. Time travel reads old versions under their old names (the
    schema is per-commit); the change feed presents a window spanning
    the rename uniformly under the window-end names (physical identity
    joins them); zone maps survive (they are keyed by physical name).
    Commits whose schema maps a name away from its physical one stamp
    protocol 3, so a v<=2 reader refuses instead of silently reading
    the renamed column as null.

    The rename is a metadata-only read-modify-write: a lost CAS re-reads
    the fresh schema and re-applies (it carries no data and removes
    nothing, so any interleaving is safe to retry past); renaming a
    column a concurrent commit dropped raises. Returns {"version"}."""
    if new in _RESERVED_COLS:
        raise SchemaMismatchError(
            f"rename_column: {new!r} is reserved by the txlog engine"
        )
    fs = lake_fs(spark, path)
    v = current_version(spark, path)
    for _ in range(max_retries):
        sj = _committed_schema(fs, path, v)
        if sj is None:
            raise SchemaMismatchError(
                f"rename_column under {path}: the table has no committed "
                "schema (empty or pre-schema log)"
            )
        names = [f["name"] for f in sj["fields"]]
        if old not in names:
            raise SchemaMismatchError(
                f"rename_column under {path}: no column {old!r} "
                f"(have {names})"
            )
        if new in names:
            raise SchemaMismatchError(
                f"rename_column under {path}: column {new!r} already exists"
            )
        stamped = _stamp_mapping(sj)
        fields = [
            dict(f, name=new) if f["name"] == old else f
            for f in stamped["fields"]
        ]
        payload = {
            "operation": "rename_column",
            "adds": [],
            "removes": [],
            "scope_partition": None,
            "schema": dict(stamped, fields=fields),
            "rename": {"from": old, "to": new},
        }
        # constraints referencing the renamed column follow it in the
        # SAME commit — an expression left under the old name would
        # fail analysis on the next write (Delta refuses the rename
        # instead; rewriting keeps both the rename and the invariant)
        recons = {
            nm: _sql_word_edit(e, old, new)
            for nm, e in table_constraints(spark, path, version=v).items()
            if _sql_word_edit(e, old, None)
        }
        if recons:
            payload["constraints"] = recons
        if _try_commit(fs, path, v + 1, payload):
            _maybe_auto_checkpoint(spark, path, v + 1)
            return {"version": v + 1}
        v = max(v + 1, current_version(spark, path))
    raise CommitConflict(
        f"rename_column lost the CAS {max_retries} times under {path}"
    )


def drop_column(
    spark: SparkSession, path: str, col: str, max_retries: int = 10
) -> dict:
    """Drop a column WITHOUT rewriting any data (column-mapping
    tombstone semantics): the field leaves the committed schema; the
    physical bytes stay in the parts (time travel still reads them at
    old versions) but no current read materializes them. Dropping
    enters mapping mode, so a LATER re-add of the same logical name
    mints a fresh uuid physical id — the dropped bytes can never
    resurrect under the new column. Metadata-only read-modify-write
    like :func:`rename_column`. Returns {"version"}."""
    fs = lake_fs(spark, path)
    v = current_version(spark, path)
    for _ in range(max_retries):
        sj = _committed_schema(fs, path, v)
        if sj is None:
            raise SchemaMismatchError(
                f"drop_column under {path}: the table has no committed "
                "schema (empty or pre-schema log)"
            )
        names = [f["name"] for f in sj["fields"]]
        if col not in names:
            raise SchemaMismatchError(
                f"drop_column under {path}: no column {col!r} (have {names})"
            )
        if len(names) == 1:
            raise SchemaMismatchError(
                f"drop_column under {path}: cannot drop the last column"
            )
        holders = sorted(
            nm for nm, e in table_constraints(spark, path, version=v).items()
            if _sql_word_edit(e, col, None)
        )
        if holders:
            raise SchemaMismatchError(
                f"drop_column under {path}: column {col!r} is referenced by "
                f"CHECK constraint(s) {holders} — drop_constraint first"
            )
        stamped = _stamp_mapping(sj)
        fields = [f for f in stamped["fields"] if f["name"] != col]
        payload = {
            "operation": "drop_column",
            "adds": [],
            "removes": [],
            "scope_partition": None,
            "schema": dict(stamped, fields=fields),
            "drop": {"column": col},
        }
        if _try_commit(fs, path, v + 1, payload):
            _maybe_auto_checkpoint(spark, path, v + 1)
            return {"version": v + 1}
        v = max(v + 1, current_version(spark, path))
    raise CommitConflict(
        f"drop_column lost the CAS {max_retries} times under {path}"
    )


#: accepted spellings for widen_column's target type (users write SQL
#: names; the committed-schema json uses Spark's canonical ones)
_TYPE_ALIASES = {"tinyint": "byte", "smallint": "short", "int": "integer",
                 "bigint": "long"}


def widen_column(
    spark: SparkSession, path: str, col: str, new_type, max_retries: int = 10
) -> dict:
    """Widen a column's type WITHOUT rewriting any data — the explicit
    half of type-widening evolution (Delta's ``ALTER TABLE … CHANGE
    COLUMN … TYPE``; the implicit half is ``append(evolve=True)`` with
    a wider frame, :func:`_merge_schema`). Only the lossless matrix in
    :func:`_widens_to` is allowed (int→long, float→double, decimal
    precision/scale-up, date→timestamp_ntz, …): old parts keep their
    narrow bytes and upcast at scan time via Spark 4's parquet widening
    reads; time travel reads old versions under their old type (schema
    is per-commit); CDF windows spanning the widening union to the
    window-end (wide) type; zone maps survive (numeric JSON bounds
    compare identically under the wider type).

    ``new_type`` is a Spark DataType or a type string (``"long"``,
    ``"bigint"``, ``"decimal(12,4)"``). Idempotent: widening to the
    current type returns the current version without committing. No
    protocol bump — see the :func:`_merge_schema` protocol note (a
    widening can fail loudly on an incapable engine, never silently
    misread). Metadata-only read-modify-write like
    :func:`rename_column`. Returns {"version"}."""
    if hasattr(new_type, "jsonValue"):
        target = new_type.jsonValue()
    else:
        s = str(new_type).strip().lower().replace(" ", "")
        target = _TYPE_ALIASES.get(s, s)
    fs = lake_fs(spark, path)
    v = current_version(spark, path)
    for _ in range(max_retries):
        sj = _committed_schema(fs, path, v)
        if sj is None:
            raise SchemaMismatchError(
                f"widen_column under {path}: the table has no committed "
                "schema (empty or pre-schema log)"
            )
        cur = {f["name"]: f["type"] for f in sj["fields"]}
        if col not in cur:
            raise SchemaMismatchError(
                f"widen_column under {path}: no column {col!r} "
                f"(have {sorted(cur)})"
            )
        if cur[col] == target:
            return {"version": v}  # idempotent no-op
        if not _widens_to(cur[col], target):
            raise SchemaMismatchError(
                f"widen_column under {path}: {cur[col]} -> {target} is not "
                "a lossless widening (see the type-widening matrix); "
                "non-widening type changes are never allowed"
            )
        fields = [
            dict(f, type=target) if f["name"] == col else f
            for f in sj["fields"]
        ]
        payload = {
            "operation": "widen_column",
            "adds": [],
            "removes": [],
            "scope_partition": None,
            "schema": dict(sj, fields=fields),
            "widen": {"column": col, "from": cur[col], "to": target},
        }
        if _try_commit(fs, path, v + 1, payload):
            _maybe_auto_checkpoint(spark, path, v + 1)
            return {"version": v + 1}
        v = max(v + 1, current_version(spark, path))
    raise CommitConflict(
        f"widen_column lost the CAS {max_retries} times under {path}"
    )


#: registered-table paths, per session (weak — a closed session drops
#: its registry): what lets refresh_table / SQL DML resolve a view name
#: back to its txlog table without the caller re-passing the path.
_TABLE_REGISTRY: "_weakref.WeakKeyDictionary[SparkSession, dict[str, str]]" = (
    _weakref.WeakKeyDictionary()
)


def registered_table_path(spark: SparkSession, name: str) -> str | None:
    """The txlog path ``name`` was registered under in this session
    (:func:`register_table`), or None for an unregistered name. SQL
    identifiers are case-insensitive, so ``ORDERS_TX`` resolves the
    table registered as ``orders_tx`` (exact spelling wins when two
    registrations differ only by case — which Spark's own
    case-insensitive temp-view namespace cannot express anyway)."""
    reg = _TABLE_REGISTRY.get(spark, {})
    if name in reg:
        return reg[name]
    hits = [p for n, p in reg.items() if n.lower() == name.lower()]
    return hits[0] if len(hits) == 1 else None


def register_table(
    spark: SparkSession,
    name: str,
    path: str,
    version: int | None = None,
    timestamp: float | None = None,
) -> DataFrame:
    """Register a txlog table under a SQL name so ``spark.sql("SELECT …
    FROM name")`` resolves a transactional snapshot — the lake exists to
    be QUERIED, and before this helper the transactional surface was
    Python-API only. Semantics:

    - the registered view pins the snapshot chosen NOW (``version`` /
      ``timestamp`` honored exactly like :func:`read_table`; default =
      current latest). Commits landing after registration do NOT leak
      into the view — same snapshot isolation as holding the DataFrame;
      re-register (or use :func:`refresh_table`) to advance.
    - registration is metadata work: the underlying plan is the same
      DV-aware, manifest-pruned scan ``read_table`` builds, so SQL
      queries get identical results, pushdown, and skipping.
    - temp-view scope: this session, like ``createOrReplaceTempView``
      (the engine has no Hive metastore dependency by design).

    Returns the registered DataFrame. The name→path binding is
    remembered for this session, so :func:`refresh_table` (and the SQL
    DML router, :mod:`es_analytics_spark.sqldml`) need only the name."""
    df = read_table(spark, path, version=version, timestamp=timestamp)
    df.createOrReplaceTempView(name)
    _TABLE_REGISTRY.setdefault(spark, {})[name] = path
    return df


def refresh_table(spark: SparkSession, name: str, path: str | None = None) -> DataFrame:
    """Re-pin a registered txlog view at the table's CURRENT latest
    snapshot (the explicit advance step — registered views never drift
    on their own). ``path`` is remembered from :func:`register_table`;
    pass it only for a name registered by some other mechanism."""
    if path is None:
        path = registered_table_path(spark, name)
        if path is None:
            raise ValueError(
                f"refresh_table: {name!r} was not registered via "
                "register_table in this session — pass the table path"
            )
    return register_table(spark, name, path)


def checkpoint(spark: SparkSession, path: str) -> dict:
    """Write a checkpoint of the current live set so replay cost stays
    bounded as the log grows (Delta's parquet-checkpoint role).
    Write-once via the same CAS primitive: two writers checkpointing
    the same version is an idempotent race, and a checkpoint never
    blocks commits (readers just start replay later). Time travel to
    pre-checkpoint versions still works — commit files are never
    deleted by this call (that is :func:`clean_log`'s explicit job).

    **Two live-set formats** (chosen by table size, invisible to every
    consumer): up to :data:`_CKPT_INLINE_MAX` live parts the live set
    inlines in the checkpoint JSON (format 1 — zero extra objects,
    back-compatible); past it the live set is written as
    content-addressed CHUNK files referenced by a small footer
    (format 2 — see the design note at :data:`_CKPT_INLINE_MAX`:
    unchanged chunks are reused across checkpoints, so a cadence write
    on a 10^5-10^6-part table serializes only the entries the tail
    commits changed, where the single-JSON design re-serialized the
    whole live set and Delta's parquet checkpoints rewrite it). Chunked
    footers stamp protocol 4 — a reader that cannot reconstruct the
    snapshot refuses with the named upgrade error. Returns
    {"version", "written", "chunks_written"}.

    Beyond the live set, the checkpoint FOLDS the log state whose
    authoritative copy would otherwise require full history: the
    committed schema, the accumulated table properties, the
    exactly-once seen-source set, and the running-max commit timestamp.
    That fold is what makes :func:`table_sources` /
    :func:`table_properties` O(commits-since-checkpoint) per call
    instead of O(total history), and what lets :func:`clean_log` reap
    old commit JSONs without breaking exactly-once or AS-OF-TIMESTAMP
    resolution at the retention boundary.

    After the write (win or idempotent loss — the file exists either
    way) the ``_last_checkpoint`` pointer advances, so every subsequent
    read lists nothing: one pointer read, one checkpoint read, and a
    probe of the commits after it."""
    fs = lake_fs(spark, path)
    v, live = _snapshot(fs, path)
    if v == 0:
        return {"version": 0, "written": False}
    prev_ts, ts_start = _folded_checkpoint(fs, path, v, "ts")
    running = prev_ts if prev_ts is not None else float("-inf")
    for w in range(ts_start, v + 1):
        running = max(running, _read_commit(fs, path, w).get("ts", float("-inf")))
    sj = _committed_schema(fs, path, v)
    prev_txns, txn_start = _folded_checkpoint(fs, path, v, "txns")
    txns = {k: int(n) for k, n in (prev_txns or {}).items()}
    for w in range(txn_start, v + 1):
        t = _read_commit(fs, path, w).get("txn")
        if t:
            txns[t["app"]] = max(txns.get(t["app"], -1), int(t["version"]))
    payload = {
        "version": v,
        "schema": sj,
        "sources": sorted(table_sources(spark, path, version=v)),
        "props": table_properties(spark, path, version=v),
        "constraints": table_constraints(spark, path, version=v),
        "txns": txns,
        "ts": None if running == float("-inf") else running,
        # checkpoints short-circuit commit replay, so they must carry
        # the protocol guard themselves: deletion vectors read by a v1
        # engine would silently resurrect rows; a mapped schema read by
        # a v<=2 engine would null out renamed columns
        "protocol": max(
            2 if any(e.get("dvs") for e in live.values()) else 1,
            3 if _schema_mapped(sj) else 1,
        ),
    }
    entries = [dict(e, path=p) for p, e in sorted(live.items())]
    chunks_written = 0
    if len(entries) > _CKPT_INLINE_MAX:
        # format 2 (chunked): content-addressed live-set chunks, written
        # once and REUSED across checkpoints — the cadence write
        # serializes only the buckets the tail commits actually changed
        # (see the _CKPT_INLINE_MAX design note). Chunks land BEFORE the
        # footer that references them, so no reader can observe a footer
        # with missing chunks; a crash in between leaves unreferenced
        # chunks that clean_log's retention horizon reaps.
        prev_n, _start = _folded_checkpoint(fs, path, v, "n_chunks")
        n_chunks = _pick_n_chunks(len(entries), prev_n)
        # O(delta) serialization: with the previous footer at the same
        # bucketing, only buckets the tail commits touched re-serialize;
        # the rest reuse the previous footer's refs outright. A
        # concurrent clean_log whose cut supersedes that footer could
        # reap a reused chunk in flight — closed by the post-publish
        # verify-and-heal below (content addressing makes the heal a
        # deterministic re-put under the same name). Any doubt
        # (stale/missing/other-format footer, reaped tail, bucketing
        # resize) falls back to a full serialize.
        prev_refs, dirty = None, None
        hint = _checkpoint_hint(fs, path)
        if hint > 0:
            pc = _load_checkpoint(fs, path, hint, with_live=False)
            if (
                pc is not None
                and pc.get("format", 1) >= 2
                and pc.get("n_chunks") == n_chunks
                and pc["version"] <= v
            ):
                try:
                    dirty = set()
                    for w in range(pc["version"] + 1, v + 1):
                        c = _read_commit(fs, path, w)
                        for a in c.get("adds", []):
                            dirty.add(_bucket_of(a["path"], n_chunks))
                        for rp in c.get("removes", []):
                            dirty.add(_bucket_of(rp, n_chunks))
                        for d in c.get("dv", []):
                            dirty.add(_bucket_of(d["part"], n_chunks))
                    prev_refs = pc.get("live_chunks")
                except FileNotFoundError:
                    prev_refs, dirty = None, None
        names = []
        chunks_reused = 0
        chunks, buckets = _chunk_live(entries, n_chunks, prev_refs, dirty)
        for name, raw, cnt in chunks:
            if raw is None:
                chunks_reused += 1
            elif fs.put_if_absent(fs_join(_log_dir(path), name), raw):
                chunks_written += 1
            names.append({"name": name, "n": cnt})
        payload["format"] = 2
        payload["live_chunks"] = names
        payload["n_chunks"] = n_chunks
        payload["n_live"] = len(entries)
        # a v<=3 reader cannot reconstruct a snapshot from the footer —
        # refuse with the named upgrade error, never a KeyError
        payload["protocol"] = max(payload["protocol"], 4)
    else:
        payload["live"] = entries
    won = fs.put_if_absent(
        _checkpoint_path(path, v), json.dumps(payload, indent=0).encode("utf-8")
    )
    _advance_pointer(fs, path, v)
    out = {"version": v, "written": bool(won), "chunks_written": chunks_written}
    if payload.get("format", 1) >= 2:
        out["chunks_reused"] = chunks_reused
        if chunks_reused:
            # verify-and-heal AFTER the footer is durable: a clean_log
            # racing this write may have reaped a reused chunk whose
            # only reference was the footer we superseded. Once OUR
            # footer is listed, every retention pass protects its refs;
            # anything reaped before that re-serializes to the SAME
            # bytes (clean buckets are identical by construction) and is
            # re-put under the footer's recorded name — healing every
            # checkpoint that references it. O(reused) stats per
            # cadence, payload writes only for actual gaps.
            for i, (name, raw, _cnt) in enumerate(chunks):
                if raw is not None:
                    continue
                cpath = fs_join(_log_dir(path), name)
                if not fs.exists(cpath):
                    _hname, hraw = _chunk_payload(buckets[i])
                    fs.put_if_absent(cpath, hraw)
                    chunks_written += 1
            out["chunks_written"] = chunks_written
    return out


def vacuum(
    spark: SparkSession,
    path: str,
    keep_versions: int = 0,
    retention_seconds: float = 24 * 3600,
) -> list[str]:
    """Reap part directories that NO commit references — debris from
    transactions that wrote data but lost their conflict check or
    crashed before the CAS. Referenced-but-removed parts are kept (they
    back time travel); pass ``keep_versions=N`` to also drop parts
    whose last reference is older than the newest N versions AND that
    are not live (bounded time-travel retention). A deletion vector's
    last reference is the later of the commit that attached it and the
    commit that removed its data part.

    **In-flight-writer safety (retention horizon).** Every transaction
    writes its part BEFORE winning the CAS (``append`` → ``_write_part``
    then ``_try_commit``), so at any instant an unreferenced part may
    belong to a writer that is about to commit. Reaping it would let the
    writer's CAS publish a dangling reference — permanent
    ``PATH_NOT_FOUND`` corruption on every later read. Therefore an
    unreferenced part is reaped only when its mtime is older than
    ``retention_seconds`` (default 24 h — Delta's
    ``deletedFileRetentionDuration`` idea): any sane commit completes
    within the horizon, so a part older than it is genuinely dead.
    ``retention_seconds=0`` is an explicit quiescent-table override —
    the caller asserts no writer is in flight (test/teardown use only).
    """
    import time as _time

    fs = lake_fs(spark, path)
    latest, live = _snapshot(fs, path)
    referenced: dict[str, int] = {}
    # vectors attached to each data part: a vector backs its part's
    # reads up to the commit that REMOVES the part, so that removal is
    # the vector's last reference too
    dvs_of: dict[str, set[str]] = {}
    versions = _list_versions(fs, path)
    if versions and versions[0] > 1:
        # log retention folded the oldest commits into a checkpoint:
        # vectors attached there are known only from its live set
        try:
            _v, base = _snapshot(fs, path, versions[0] - 1)
        except FileNotFoundError:  # no replayable state before the log
            base = {}
        for p, e in base.items():
            if e.get("dvs"):
                dvs_of[p] = set(e["dvs"])
    # iterate the RETAINED commits (log retention may have reaped the
    # oldest — their parts, if not live, age out via the mtime horizon
    # below exactly like crash debris)
    for v in versions:
        c = _read_commit(fs, path, v)
        for a in c.get("adds", []):
            referenced[a["path"]] = v
            for d in a.get("dvs", []):
                # a restore's re-attached vector: its last reference is
                # THIS commit, not the original dv delete
                referenced[d] = v
                dvs_of.setdefault(a["path"], set()).add(d)
        for r in c.get("removes", []):
            referenced[r] = v
            for d in dvs_of.get(r, ()):
                referenced[d] = v
        for e in c.get("cdc", []):
            # change parts back table_changes_cdf the way removed parts
            # back time travel: same keep_versions retention
            referenced[e["path"]] = v
        for d in c.get("dv", []):
            # deletion-vector parts back time travel / CDF windows the
            # same way (live-attached vectors are protected below)
            referenced[d["path"]] = v
            dvs_of.setdefault(d["part"], set()).add(d["path"])
    cutoff = latest - keep_versions if keep_versions > 0 else 0
    horizon = _time.time() - retention_seconds
    # a deletion vector attached to a LIVE part is load-bearing NOW —
    # reaping it would resurrect the deleted rows.
    # All comparisons run on NORMALIZED spellings: a JVM glob renders
    # file:///x as file:/x, and treating that mismatch as "unreferenced
    # orphan" would reap live parts on URI stores (found by the file://
    # round-trip test).
    from es_analytics_spark.sources.fsio import norm_uri

    live_keys = {norm_uri(p) for p in live}
    live_dvs = {norm_uri(d) for e in live.values() for d in e.get("dvs", [])}
    referenced = {norm_uri(p): v for p, v in referenced.items()}
    victims = []
    for p in fs.glob(fs_join(_part_dir(path), "*")):
        if norm_uri(p) in live_keys or norm_uri(p) in live_dvs:
            continue
        last_ref = referenced.get(norm_uri(p))
        if last_ref is None:
            # possibly in-flight: only reap past the retention horizon
            try:
                if fs.mtime(p) <= horizon:
                    victims.append(p)
            except (OSError, FileNotFoundError):
                continue  # vanished concurrently — nothing to do
        elif keep_versions > 0 and last_ref <= cutoff:
            # referenced by a commit → it WAS committed, never in-flight;
            # expiry is governed by the version retention alone
            victims.append(p)
    for p in victims:
        fs.delete(p)
    return sorted(victims)


def clean_log(
    spark: SparkSession,
    path: str,
    keep_versions: int = 0,
    chunk_retention_seconds: float = 24 * 3600,
) -> dict:
    """Commit-log retention (Delta's ``logRetentionDuration`` role):
    reap commit JSONs older than the newest FOLDED checkpoint that is
    <= ``latest - keep_versions``, plus the checkpoints that checkpoint
    superseded. Checkpoints are never deleted ahead of their commits,
    and only checkpoints carrying the folded state (schema, seen-source
    set, properties, running commit stamp — see :func:`checkpoint`) are
    eligible cut points, so after the reap:

    - snapshots/time travel at or after the cut replay exactly as
      before (the checkpoint is the snapshot); older versions raise
      :class:`VersionExpiredError` at plan time;
    - exactly-once survives: :func:`table_sources` answers from the
      folded seen-source set, so a restarted stream / refresh does not
      re-commit pre-truncation epochs;
    - :func:`table_properties` and AS-OF-TIMESTAMP resolution keep
      working from the folded state (timestamps inside the reaped range
      raise :class:`VersionExpiredError`).

    Run :func:`vacuum` with the same ``keep_versions`` FIRST: parts
    referenced only by commits this call reaps become invisible to
    vacuum's reference scan and age out via its mtime retention horizon
    instead of the version rule. A long-lived streaming table calls
    this on the same schedule as vacuum; without it the log grows one
    JSON per epoch forever (the listing is already checkpoint-bounded,
    but the object count itself eventually becomes an operational
    liability). Live-set CHUNK files (format-2 checkpoints) are
    content-addressed and may be shared across checkpoints: chunks no
    surviving checkpoint references are reaped too, but only past
    ``chunk_retention_seconds`` (default 24 h) — a concurrent
    checkpointer writes its chunks BEFORE the footer that references
    them, and reaping that window would leave the new footer dangling
    (the same in-flight-writer horizon vacuum applies to parts).
    Returns {"cut", "removed_commits", "removed_checkpoints",
    "removed_chunks"}."""
    import time as _time

    fs = lake_fs(spark, path)
    latest = _latest_version(fs, path)
    bound = latest - max(keep_versions, 0)
    cut = 0
    for cv in sorted(
        (v for v in _list_versions(fs, path, prefix="checkpoint.v") if v <= bound),
        reverse=True,
    ):
        ck = _load_checkpoint(fs, path, cv, with_live=False)
        if (
            ck is not None
            and ck.get("sources") is not None
            and ck.get("txns") is not None
        ):
            # fully-folded checkpoint: safe cut point (a checkpoint
            # missing the folded source set OR the writer-transaction
            # marks would break exactly-once if cut at)
            if ck.get("constraints") is None and any(
                "constraints" in _read_commit(fs, path, w)
                for w in _list_versions(fs, path)
                if w <= cv
            ):
                # a pre-constraints-fold checkpoint may not cut past a
                # constraints-carrying commit — the fold is the only
                # surviving copy table_constraints could answer from
                # (the replay treats reaped commits as constraint-free
                # precisely because of this refusal); the next
                # checkpoint() folds constraints and unblocks the cut
                continue
            cut = cv
            break
    if cut == 0:
        return {"cut": 0, "removed_commits": 0, "removed_checkpoints": 0,
                "removed_chunks": 0}
    doomed_commits = [v for v in _list_versions(fs, path) if v <= cut]
    doomed_ckpts = [
        v for v in _list_versions(fs, path, prefix="checkpoint.v") if v < cut
    ]
    # pointer first, and VERIFIED: readers and the CAS loop resolve the
    # latest version through the pointer, so deleting commits below the
    # cut while the pointer lags (a swallowed write failure, a racing
    # regression) would regress current_version into the reaped range —
    # a new append could then re-CREATE a reaped version number and
    # corrupt the log. Refuse to delete anything we can't point past.
    if not _advance_pointer(fs, path, cut):
        raise RuntimeError(
            f"clean_log under {path}: could not advance _last_checkpoint to "
            f"v{cut}; refusing to reap commits the pointer does not cover"
        )
    for v in doomed_ckpts:
        fs.delete(_checkpoint_path(path, v))
    for v in doomed_commits:
        fs.delete(_commit_path(path, v))
    # live-set chunks: keep everything any SURVIVING footer references
    # (content addressing means a chunk can back several checkpoints);
    # unreferenced chunks are superseded content or a crashed writer's
    # debris — reaped past the in-flight horizon. Two-phase reap: gather
    # candidates from one footer listing, then RE-LIST the footers and
    # re-check references immediately before deleting, so a footer that
    # published (reusing an old chunk) while candidates were being
    # gathered revokes the deletion. The remaining epsilon — a footer
    # publishing between the re-list and the delete — is not a
    # correctness hole: the checkpointer's post-publish verify-and-heal
    # re-puts any reaped reused chunk (content-addressed names make the
    # heal byte-identical), and until it does the snapshot degrades to
    # an older checkpoint + replay, never to a wrong answer.
    def _referenced_chunks() -> set[str]:
        out: set[str] = set()
        for cv in _list_versions(fs, path, prefix="checkpoint.v"):
            ck = _load_checkpoint(fs, path, cv, with_live=False)
            if ck is not None:
                out |= {r["name"] for r in ck.get("live_chunks", [])}
        return out

    referenced = _referenced_chunks()
    removed_chunks = 0
    horizon = _time.time() - chunk_retention_seconds
    candidates: list[str] = []
    for p in fs.glob(fs_join(_log_dir(path), "chunk-*.json")):
        if p.rsplit("/", 1)[-1] in referenced:
            continue
        try:
            if fs.mtime(p) <= horizon:
                candidates.append(p)
        except (OSError, FileNotFoundError):
            continue  # vanished concurrently — nothing to do
    if candidates:
        referenced = _referenced_chunks()  # fresh, just before deleting
        for p in candidates:
            if p.rsplit("/", 1)[-1] in referenced:
                continue
            try:
                fs.delete(p)
                removed_chunks += 1
            except (OSError, FileNotFoundError):
                continue
    return {
        "cut": cut,
        "removed_commits": len(doomed_commits),
        "removed_checkpoints": len(doomed_ckpts),
        "removed_chunks": removed_chunks,
    }
