"""`lake_txn` workload: a transactional (txlog) table seeded with a
150k-row orders table, driven through repeated cycles of writes beside
reads, with an incrementally maintained rollup.

One cycle, always the same operations:

1. five 1k-row epoch appends stamped with a writer transaction
   (``txlog.append(txn=...)``, the streaming sink's commit);
2. ``merge_upsert`` of 1k existing keys and 200 new ones;
3. ``delete_where`` by rewrite, then by deletion vector;
4. ``update_where`` over a key range;
5. ``compact``;
6. a snapshot read and a change-data-feed read of the cycle's commits;
7. ``maintain_rollup`` (revenue and order count per customer).

Steps 1-5 are ten commits, so the automatic checkpoint (every 20
versions) falls in every odd cycle. A traced run then folds four small
epochs into the rollup one maintenance commit each, to time how
``maintain_rollup`` grows with the rollup's history. A pandas model
applies the same operations; every snapshot must equal it row for row,
every change feed must equal the model's changes, the rollup must equal
a group-by of the model, and one time-travel read must equal the model
as it was at that version.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd

import common

N_ROWS = 150_000
N_CUST = 15_000
EPOCH_ROWS = 1_000
MERGE_ROWS, MERGE_NEW = 1_000, 200
RANGE = 150  # keys per delete / update range
EPOCHS = 5
# the seed append is v1 and a cycle commits exactly 10 versions (5
# epochs, merge, 2 deletes, update, compact), so cycle c covers
# v10c+2..v10c+11 and the automatic checkpoint (every 20 commits: v20,
# v40, ...) falls in every odd cycle, the ones a traced run traces
COMMITS_PER_CYCLE = EPOCHS + 5
OPS_PER_CYCLE = COMMITS_PER_CYCLE + 3  # and two reads and the rollup
PROBE_STEPS = 4
KEYS = ["o_orderkey"]
COLS = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"]


def seed_frame(seed: int) -> pd.DataFrame:
    """Orders in the fixtures' shape. Prices are multiples of 1/4 so
    every sum the checks compare is exact in binary."""
    rng = np.random.default_rng([seed, 0x1A])
    return pd.DataFrame({
        "o_orderkey": np.arange(N_ROWS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUST, N_ROWS).astype(np.int64),
        "o_totalprice": rng.integers(4_000, 2_000_000, N_ROWS) / 4.0,
        "o_orderstatus": np.asarray(["F", "O", "P"], dtype=object)[rng.integers(0, 3, N_ROWS)],
    })


class Model:
    """The table as pandas, plus the row changes of the current cycle."""

    def __init__(self, df: pd.DataFrame):
        self.df = df.set_index("o_orderkey", drop=False)
        self.inserts: list[pd.DataFrame] = []
        self.deletes: list[pd.DataFrame] = []

    def append(self, rows: pd.DataFrame) -> None:
        self.df = pd.concat([self.df, rows.set_index("o_orderkey", drop=False)])
        self.inserts.append(rows)

    def upsert(self, rows: pd.DataFrame) -> None:
        rows = rows.set_index("o_orderkey", drop=False)
        old = self.df.loc[self.df.index.intersection(rows.index)]
        self.deletes.append(old)
        self.inserts.append(rows)
        self.df = pd.concat([self.df.drop(old.index), rows])

    def delete(self, mask: pd.Series) -> None:
        self.deletes.append(self.df[mask])
        self.df = self.df[~mask]

    def update(self, mask: pd.Series, bump: float) -> None:
        old = self.df[mask]
        new = old.assign(o_totalprice=old["o_totalprice"] + bump)
        self.deletes.append(old)
        self.inserts.append(new)
        self.df = pd.concat([self.df[~mask], new])

    def take_changes(self) -> tuple[pd.DataFrame, pd.DataFrame]:
        ins = pd.concat(self.inserts) if self.inserts else self.df.iloc[:0]
        dels = pd.concat(self.deletes) if self.deletes else self.df.iloc[:0]
        self.inserts, self.deletes = [], []
        return ins, dels

    def rollup(self) -> pd.DataFrame:
        g = self.df.groupby("o_custkey", sort=True)
        return pd.DataFrame({
            "o_custkey": g.size().index.to_numpy(),
            "rev": g["o_totalprice"].sum().to_numpy(),
            "n": g.size().to_numpy().astype(np.int64),
        })


def canon(df: pd.DataFrame, cols: list[str]) -> pd.DataFrame:
    out = df[cols].reset_index(drop=True)
    for c in cols:
        if out[c].dtype != object:
            out[c] = out[c].astype(np.float64 if c in ("o_totalprice", "rev") else np.int64)
    return out.sort_values(cols).reset_index(drop=True)


def same(a: pd.DataFrame, b: pd.DataFrame, cols: list[str]) -> bool:
    return len(a) == len(b) and canon(a, cols).equals(canon(b, cols))


def selftest(snapshot: pd.DataFrame) -> bool:
    """Each comparison used below must reject a corrupted copy."""
    bad_val = snapshot.copy()
    bad_val.iloc[0, bad_val.columns.get_loc("o_totalprice")] += 0.25
    bad_row = snapshot.iloc[1:]
    return (same(snapshot, snapshot, COLS)
            and not same(snapshot, bad_val, COLS)
            and not same(snapshot, bad_row, COLS))


class Inputs:
    """Seeded inputs of the cycles: new rows, merge picks, key ranges."""

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.rng = np.random.default_rng([seed, 0x2B])
        self.next_key = N_ROWS
        self.epoch = 0

    def new_rows(self, n: int) -> pd.DataFrame:
        keys = np.arange(self.next_key, self.next_key + n, dtype=np.int64)
        self.next_key += n
        return pd.DataFrame({
            "o_orderkey": keys,
            "o_custkey": self.rng.integers(0, N_CUST, n).astype(np.int64),
            "o_totalprice": self.rng.integers(4_000, 2_000_000, n) / 4.0,
            "o_orderstatus": np.asarray(["F", "O", "P"], dtype=object)[self.rng.integers(0, 3, n)],
        })

    def frame(self, pdf: pd.DataFrame):
        return self.spark.createDataFrame(pdf[COLS])

    def live_range(self, model: Model) -> tuple[int, int]:
        keys = model.df["o_orderkey"].to_numpy()
        lo = int(keys[self.rng.integers(0, len(keys))])
        return lo, lo + RANGE


def run(spark, seed: int, seconds: float, tracer, work: str) -> dict:
    from es_analytics_spark import incremental, txlog
    from es_analytics_spark.sources import fsio

    table, roll = os.path.join(work, "orders_tx"), os.path.join(work, "rollup")
    measures = {"rev": ("sum", "o_totalprice"), "n": ("count", None)}
    model = Model(seed_frame(seed))
    cyc = Inputs(spark, seed)

    t0 = time.perf_counter()
    txlog.append(spark, table, cyc.frame(model.df), stats_cols=["o_orderkey"])
    incremental.maintain_rollup(spark, table, roll, ["o_custkey"], measures)
    prep_s = time.perf_counter() - t0
    model.take_changes()

    for fn in ("append", "merge_upsert", "update_where", "compact",
               "checkpoint", "read_table", "table_changes_cdf"):
        tracer.wrap(txlog, fn, f"txlog.{fn}")
    tracer.wrap(txlog, "delete_where",
                lambda a, kw: "txlog.delete_where_dv" if kw.get("use_dv") else "txlog.delete_where")
    tracer.wrap(incremental, "maintain_rollup", "rollup")
    tracer.wrap(fsio.LocalFS, "put_if_absent", "fsio.cas", spark_work=False,
                size=lambda a, kw: len(a[2]))
    tracer.wrap(fsio.LocalFS, "put_bytes", "fsio.put", spark_work=False,
                size=lambda a, kw: len(a[2]))

    notes: list[str] = []
    checks = {"correct": selftest(model.df.iloc[:2_000])}
    if not checks["correct"]:
        notes.append("checker self-test failed")
    travel: list[tuple[int, pd.DataFrame]] = []

    def check(c: int, snap, cdf, v1: int) -> None:
        """Untimed: the snapshot, the cycle's change feed and the rollup
        against the model."""
        ins, dels = model.take_changes()
        ok = [same(snap, model.df, COLS)]
        if cdf is not None:
            ok.append(same(cdf[cdf["_change_type"] == "insert"], ins, COLS)
                      and same(cdf[cdf["_change_type"] == "delete"], dels, COLS))
        rolled = incremental.read_rollup(spark, roll).toPandas()
        ok.append(same(rolled, model.rollup(), ["o_custkey", "rev", "n"]))
        if c == 1:
            travel.append((v1, model.df.copy()))
        if not all(ok):
            checks["correct"] = False
            notes.append(f"cycle {c}: snapshot/cdf/rollup ok = {ok}")

    def cycle(c: int) -> dict:
        tm: dict = {"cpu_s": 0.0, "jit_s": 0.0, "commit_each": []}
        v0 = txlog.current_version(spark, table)

        def timed(key: str, fn, *a, **kw):
            """Call fn; its wall time goes to tm[key] (appended when that
            is a list), its CPU time less JIT compiling to tm["cpu_s"]."""
            j, c, t = common.jit_s(spark), common.cpu_s(spark), time.perf_counter()
            out = fn(*a, **kw)
            dt = time.perf_counter() - t
            jit = common.jit_s(spark) - j
            tm["cpu_s"] += common.cpu_s(spark) - c - jit
            tm["jit_s"] += jit
            if isinstance(tm.get(key), list):
                tm[key].append(dt)
            else:
                tm[key] = dt
            return out

        for _ in range(EPOCHS):
            rows = cyc.new_rows(EPOCH_ROWS)
            df = cyc.frame(rows)
            cyc.epoch += 1
            timed("commit_each", txlog.append, spark, table, df, txn=("perfbench-sink", cyc.epoch))
            model.append(rows)

        pick = model.df["o_orderkey"].sample(MERGE_ROWS, random_state=int(cyc.rng.integers(1 << 31)))
        upd = model.df.loc[pick.to_numpy()].copy()
        upd["o_totalprice"] = upd["o_totalprice"] + 0.25
        upd = pd.concat([upd, cyc.new_rows(MERGE_NEW)])
        df = cyc.frame(upd)
        timed("merge", txlog.merge_upsert, spark, table, df, keys=KEYS)
        model.upsert(upd)

        lo, hi = cyc.live_range(model)
        timed("delete", txlog.delete_where, spark, table, f"o_orderkey >= {lo} AND o_orderkey < {hi}")
        model.delete((model.df["o_orderkey"] >= lo) & (model.df["o_orderkey"] < hi))
        lo, hi = cyc.live_range(model)
        timed("delete_dv", txlog.delete_where, spark, table,
              f"o_orderkey >= {lo} AND o_orderkey < {hi}", use_dv=True)
        model.delete((model.df["o_orderkey"] >= lo) & (model.df["o_orderkey"] < hi))
        lo, hi = cyc.live_range(model)
        timed("update", txlog.update_where, spark, table, {"o_totalprice": "o_totalprice + 0.5"},
              f"o_orderkey >= {lo} AND o_orderkey < {hi}")
        model.update((model.df["o_orderkey"] >= lo) & (model.df["o_orderkey"] < hi), 0.5)
        timed("compact", txlog.compact, spark, table)

        v1 = txlog.current_version(spark, table)
        if v1 - v0 != COMMITS_PER_CYCLE:
            notes.append(f"cycle {c}: {v1 - v0} commits, not {COMMITS_PER_CYCLE}")
        snap = timed("snapshot", lambda: txlog.read_table(spark, table).toPandas())
        cdf = timed("cdf", lambda: txlog.table_changes_cdf(spark, table, v0, v1).toPandas())
        timed("rollup", incremental.maintain_rollup, spark, table, roll, ["o_custkey"], measures)
        check(c, snap, cdf, v1)
        tm["dml"] = tm["merge"] + tm["delete"] + tm["delete_dv"] + tm["update"]
        tm["write_s"] = sum(tm["commit_each"]) + tm["dml"] + tm["compact"] + tm["rollup"]
        tm["read_s"] = tm["snapshot"] + tm["cdf"]
        return tm

    # an untraced run needs one hot cycle past the cold one; a traced
    # run needs an untraced hot cycle beside its traced one
    cycles = common.drive(cycle, seconds, tracer, min_rounds=3 if tracer.enabled else 2)
    attempted = len(cycles) * OPS_PER_CYCLE

    probe = []
    if tracer.enabled:
        # rollup growth: small epochs, each folded by its own
        # maintenance commit, after the measured cycles (past warm-up)
        for _ in range(PROBE_STEPS):
            rows = cyc.new_rows(EPOCH_ROWS)
            cyc.epoch += 1
            txlog.append(spark, table, cyc.frame(rows), txn=("perfbench-sink", cyc.epoch))
            model.append(rows)
            t = time.perf_counter()
            incremental.maintain_rollup(spark, table, roll, ["o_custkey"], measures)
            probe.append(time.perf_counter() - t)
        snap = txlog.read_table(spark, table).toPandas()
        check(-1, snap, None, 0)

    v, want = travel[0]
    past = txlog.read_table(spark, table, version=v).toPandas()
    if not same(past, want, COLS):
        checks["correct"] = False
        notes.append(f"time travel to v{v} differs from the model")

    plain = common.hot(cycles)
    med = lambda k: statistics.median(x[k] for x in plain)
    live = txlog_live_parts(spark, table)
    live_bytes = sum(os.path.getsize(p) for p in live)
    return {
        "correct": checks["correct"], "attempted": attempted, "failed": 0, "notes": notes,
        "rounds": cycles, "prep_s": prep_s,
        "parallelism": spark.sparkContext.defaultParallelism,
        "trace_overhead_s": common.overhead(cycles, lambda x: x["write_s"] + x["read_s"]),
        "e2e": {"round_cpu_s": med("cpu_s")},
        "layer": {
            "write_s": med("write_s"),
            "first_round_s": cycles[0]["write_s"] + cycles[0]["read_s"],
            "lake.read_s": med("read_s"),
            "lake.commit_s": statistics.median(t for x in plain for t in x["commit_each"]),
            "lake.dml_s": med("dml"),
            "lake.rollup_s": med("rollup"),
            "txlog.live_parts": len(live),
            "txlog.log_versions": txlog.current_version(spark, table),
            "txlog.write_amp": dir_bytes(table) / live_bytes,
            "rollup.live_parts_end": len(txlog_live_parts(spark, roll)),
            # least-squares slope of maintain_rollup time over the probe
            "rollup.growth_ms_per_cycle": 1e3 * slope(probe) if probe else 0.0,
        },
    }


def slope(ys: list[float]) -> float:
    n = len(ys)
    mx, my = (n - 1) / 2, sum(ys) / n
    den = sum((i - mx) ** 2 for i in range(n))
    return sum((i - mx) * (y - my) for i, y in enumerate(ys)) / den if den else 0.0


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(b, f)) for b, _, fs in os.walk(path) for f in fs)


def txlog_live_parts(spark, path: str) -> list[str]:
    from es_analytics_spark import txlog

    return [p.removeprefix("file:") for p in txlog.read_table(spark, path).inputFiles()]
