"""`ingest` workload: events through ``Collector.track`` and
``Collector.track_many`` into a date-partitioned lake, then read back
through ``Collector.table``.

One round writes a fresh lake with the same operations:

- ``plain``: per-event ``track`` (two record-limit flushes);
- ``custom_$``: a wildcard family, bulk ``track_many`` in chunks for
  four tokens (two record-limit flushes each);
- ``aware``: a small per-event table whose ``Time`` column holds
  fixed-offset aware datetimes (+05:30), flushed by ``stop()``.

Operations are the flushes and the read-backs. Every flush object is
checked against tallies the generator kept; the ``aware`` flush fails
that check on every round while the collector's pyarrow path drops the
offset, and is counted as failed. Every read-back is checked against
what the flush wrote.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import random
import shutil
import statistics
import time

import pyarrow.parquet as pq

import common

LIMIT = 20_000
N_PLAIN = 2 * LIMIT
TOKENS = ("pool", "bowling", "darts", "chess")
N_TOKEN = 2 * LIMIT
CHUNK = 5_000
N_AWARE = 500
# the read-back path is still warming up (2.9 s to 1.6 s a round over
# the first 13 rounds), so every run measures the same rounds: the
# cold one and six hot ones, and more only if --seconds asks for more
ROUNDS = 7
AWARE_TZ = dt.timezone(dt.timedelta(hours=5, minutes=30))
EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def _us(t: dt.datetime) -> int:
    if t.tzinfo is None:  # naive = UTC wall time (the session zone)
        t = t.replace(tzinfo=dt.timezone.utc)
    return (t - EPOCH) // dt.timedelta(microseconds=1)


def make_events(seed: int) -> dict[str, list[dict]]:
    """Seeded records per concrete table. Float values are multiples of
    1/4 so every sum is exact in binary. The ``aware`` table does not
    depend on the seed."""
    rng = random.Random(seed)
    base = dt.datetime(2024, 1, 1)
    kinds = ["join", "leave", "purchase", "view", "click"]
    out: dict[str, list[dict]] = {
        "plain": [
            {
                "uid": rng.randrange(100_000),
                "event_time": base + dt.timedelta(seconds=rng.randrange(86_400 * 30)),
                "event_type": rng.choice(kinds),
                "value": rng.randrange(40_000) / 4,
            }
            for _ in range(N_PLAIN)
        ]
    }
    for tok in TOKENS:
        out[f"custom_{tok}"] = [
            {
                "event_time": base + dt.timedelta(seconds=rng.randrange(86_400 * 30)),
                "event_type": rng.choice(kinds),
                "event_value": f"v{rng.randrange(1000)}",
                "score": rng.randrange(1_000_000),
            }
            for _ in range(N_TOKEN)
        ]
    aware_base = dt.datetime(2024, 3, 1, 12, 0, tzinfo=AWARE_TZ)
    out["aware"] = [
        {"Time": aware_base + dt.timedelta(minutes=i), "n": i} for i in range(N_AWARE)
    ]
    return out


def tally(records: list[dict]) -> dict:
    """Row count, sum of each numeric column, and sum of epoch-µs of
    each time column — computed in Python from the inputs."""
    out: dict = {"rows": len(records)}
    for k, v in records[0].items():
        if isinstance(v, dt.datetime):
            out[k] = sum(_us(r[k]) for r in records)
        elif isinstance(v, (int, float)) and not isinstance(v, bool):
            out[k] = sum(r[k] for r in records)
    return out


def file_tally(path: str, like: dict) -> dict:
    """The same tally read from one stored parquet object."""
    t = pq.read_table(path)
    out: dict = {"rows": t.num_rows}
    for k in like:
        if k == "rows":
            continue
        col = t.column(k)
        if str(col.type).startswith("timestamp"):
            col = col.cast("int64")
        out[k] = sum(x for x in col.to_pylist() if x is not None)
    return out


class Round:
    """One round: writes into ``lake``, returns phase times, flush
    infos and the read-back tallies."""

    def __init__(self, spark, lake: str, events: dict[str, list[dict]]):
        self.spark, self.lake, self.events = spark, lake, events

    def run(self) -> dict:
        from es_analytics_spark.collector import Collector, CollectorConfig, DataType

        col = Collector(self.spark, CollectorConfig(
            lake_dir=self.lake, batch_record_limit=LIMIT,
            column_types={"aware": {"Time": DataType.Time}},
        ))
        flushes = []
        col.on_flush.append(flushes.append)
        errors: list[Exception] = []
        col.on_error.append(errors.append)
        ev = self.events
        j0, c0, t0 = common.jit_s(self.spark), common.cpu_s(self.spark), time.perf_counter()
        for r in ev["plain"]:
            col.track("plain", r)
        t1 = time.perf_counter()
        for tok in TOKENS:
            rows = ev[f"custom_{tok}"]
            for i in range(0, len(rows), CHUNK):
                col.track_many("custom_$", rows[i:i + CHUNK], token=tok)
        t2 = time.perf_counter()
        for r in ev["aware"]:
            col.track("aware", r)
        col.stop()
        t3 = time.perf_counter()
        read = {name: self.read_back(col, name, recs[0]) for name, recs in ev.items()}
        t4, c4, j4 = time.perf_counter(), common.cpu_s(self.spark), common.jit_s(self.spark)
        return {
            "track_s": t1 - t0, "bulk_s": t2 - t1, "write_s": t3 - t0,
            "cpu_s": c4 - c0 - (j4 - j0), "jit_s": j4 - j0,
            "read_s": t4 - t3, "flushes": flushes, "errors": errors, "read": read,
        }

    def read_back(self, col, name: str, sample: dict) -> dict:
        from pyspark.sql import functions as F

        df = col.table(name)
        aggs = [F.count(F.lit(1)).alias("rows")]
        for k, v in sample.items():
            if isinstance(v, dt.datetime):
                aggs.append(F.sum(F.unix_micros(F.col(k)).cast("decimal(38,0)")).alias(k))
            elif isinstance(v, (int, float)) and not isinstance(v, bool):
                aggs.append(F.sum(F.col(k)).alias(k))
        row = df.agg(*aggs).collect()[0].asDict()
        return {k: (v if v is not None else 0) for k, v in row.items()}


def lake_tables(lake: str) -> set[str]:
    return {os.path.basename(p) for p in glob.glob(os.path.join(lake, "*/*/*/*/*"))}


def lake_bytes(lake: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(lake, "**/*.parquet"), recursive=True))


def check_round(lake: str, res: dict, events: dict[str, list[dict]],
                memo: dict | None = None) -> tuple[int, int, bool, list[str]]:
    """(attempted, failed, correct, notes) for one round. A flush fails
    when its object disagrees with the generator's tally for the rows
    it carried; a read-back is correct when it equals the union of the
    stored objects of its table. ``memo`` keeps the generator's tallies
    from round to round, as every round writes the same events."""
    memo = {} if memo is None else memo
    notes: list[str] = []
    attempted = failed = 0
    correct = not res["errors"]
    if res["errors"]:
        notes.append(f"collector errors: {res['errors'][:2]}")
    stored: dict[str, dict] = {}
    per_table_flushes: dict[str, list] = {}
    for info in res["flushes"]:
        per_table_flushes.setdefault(info.table, []).append(info)
    for table, infos in per_table_flushes.items():
        start = 0  # flushes are in order; each carried the next info.records rows
        for info in infos:
            chunk = events[table][start:start + info.records]
            start += info.records
            attempted += 1
            files = glob.glob(os.path.join(lake, info.key, "*.parquet"))
            key = (table, start - info.records, info.records)
            if key not in memo:
                memo[key] = tally(chunk)
            want = memo[key]
            got = file_tally(files[0], want) if len(files) == 1 else {"rows": -1}
            acc = stored.setdefault(table, {k: 0 for k in want})
            for k in acc:
                acc[k] += got.get(k, 0)
            if got != want:
                failed += 1
                notes.append(f"flush {table}: stored {got} != generated {want}")
    for table, got in res["read"].items():
        attempted += 1
        if got != stored.get(table):
            correct = False
            notes.append(f"read-back {table}: {got} != stored {stored.get(table)}")
    if lake_tables(lake) != set(events):
        correct = False
        notes.append(f"tables {sorted(lake_tables(lake))} != {sorted(events)}")
    return attempted, failed, correct, notes


def selftest(lake: str, res: dict, events: dict[str, list[dict]], memo: dict) -> bool:
    """Each check must reject a corrupted result: a read-back tally off
    by one row, and a flush whose generated rows differ from what was
    stored. ``memo`` holds the round's tallies; the corrupted ``plain``
    rows are tallied afresh."""
    bad_read = dict(res, read=dict(res["read"], plain=dict(res["read"]["plain"])))
    bad_read["read"]["plain"]["rows"] += 1
    plain = [dict(r) for r in events["plain"]]
    plain[0]["value"] += 0.25
    bad_gen = dict(events, plain=plain)
    _, failed, _, _ = check_round(lake, res, events, memo)
    _, _, ok_read, _ = check_round(lake, bad_read, events, memo)
    fresh = {k: v for k, v in memo.items() if k[0] != "plain"}
    _, failed_gen, _, _ = check_round(lake, res, bad_gen, fresh)
    return not ok_read and failed_gen == failed + 1


def run(spark, seed: int, seconds: float, tracer, work: str) -> dict:
    from es_analytics_spark import collector
    from es_analytics_spark.sources import fsio

    events = make_events(seed)
    n_bulk = N_TOKEN * len(TOKENS)
    n_events = sum(len(r) for r in events.values())

    tracer.wrap(collector.Collector, "track", "collector.track", spark_work=False)
    tracer.wrap(collector.Collector, "_flush", "collector.flush", spark_work=False)
    tracer.wrap(fsio.LocalFS, "put_bytes", "fsio.put", spark_work=False,
                size=lambda a, kw: len(a[2]))
    tracer.wrap(Round, "read_back", "readback")

    tot = {"attempted": 0, "failed": 0, "correct": True}
    memo: dict = {}
    notes: list[str] = []

    def one_round(i: int) -> dict:
        lake = os.path.join(work, f"lake{i}")
        res = Round(spark, lake, events).run()
        a, f, ok, n = check_round(lake, res, events, memo)
        if i == 0 and not selftest(lake, res, events, memo):
            ok = False
            n.append("checker self-test failed: a corrupted result passed")
        res["bytes"] = lake_bytes(lake)
        res["files"] = len(glob.glob(os.path.join(lake, "**/*.parquet"), recursive=True))
        res["flush_rows"] = [info.records for info in res.pop("flushes")]
        tot["attempted"] += a
        tot["failed"] += f
        tot["correct"] = tot["correct"] and ok
        notes.extend(n[:2])
        shutil.rmtree(lake, ignore_errors=True)
        return res

    rounds = common.drive(one_round, seconds, tracer, min_rounds=ROUNDS)
    plain = common.hot(rounds)
    med = lambda k: statistics.median(r[k] for r in plain)
    total = lambda r: r["write_s"] + r["read_s"]
    flush_rows = [x for r in rounds[1:] for x in r["flush_rows"]]
    return {
        **tot, "notes": notes, "rounds": rounds,
        "trace_overhead_s": common.overhead(rounds, total),
        "parallelism": spark.sparkContext.defaultParallelism,
        "rows_per_flush": sum(flush_rows) / len(flush_rows),
        "e2e": {"round_cpu_s": med("cpu_s")},
        "layer": {
            "write_s": med("write_s"),
            "first_round_s": total(rounds[0]),
            "ingest.track_ev_s": N_PLAIN / med("track_s"),
            "ingest.bulk_ev_s": n_bulk / med("bulk_s"),
            "ingest.lake_bytes_per_ev": med("bytes") / n_events,
            "ingest.readback_s": med("read_s"),
            "readback.files": med("files"),
        },
    }
