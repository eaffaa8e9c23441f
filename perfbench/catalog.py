"""Catalog-query layer, measured in the traced `ingest` run: a fixed
list of single-pass catalog queries (the `scan` shapes: aggregate,
join, window, TPC-H, functions) over small seeded TPC-H-shaped tables
the benchmark writes itself.

Each query runs twice in the session: cold (its first execution, so
analysis, optimization, planning and codegen are all paid) and hot.
Per query the Catalyst time comes from the ``QueryExecution`` phase
tracker of the cold run, and the execution time and the Spark jobs,
stages and tasks from the hot run. DuckDB runs each query's registry
oracle SQL on the same parquet files, untimed, and every cold and hot
result must equal it.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

QUERIES = (
    "agg_pricing_summary",
    "join_5way_revenue",
    "window_lag_lead",
    "tpch_q3_shipping_priority",
    "fn_conditional_null",
)
N_CUST, N_ORDERS, N_LINES = 1_500, 15_000, 60_000
PHASES = ("analysis", "optimization", "planning")
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def make_tables(seed: int, out: str) -> None:
    """region, nation, customer, orders and lineitem in the shape of
    the engine's fixtures (sf0.01 row counts), drawn from ``seed``.
    Prices are in cents, rates in hundredths."""
    rng = np.random.default_rng([seed, 0x3C])
    os.makedirs(out, exist_ok=True)
    day0 = np.datetime64("1995-01-01", "us")
    days = lambda n, hi: day0 + rng.integers(0, hi, n) * np.timedelta64(1, "D")
    pick = lambda xs, n: np.asarray(xs, dtype=object)[rng.integers(0, len(xs), n)]
    i32 = lambda xs: pa.array(xs, pa.int32())
    order_date = days(N_ORDERS, 2404)
    l_order = rng.integers(0, N_ORDERS, N_LINES)
    qty = rng.integers(1, 51, N_LINES).astype(np.float64)
    tables = {
        "region": {"r_regionkey": i32(np.arange(5)), "r_name": REGIONS},
        "nation": {"n_nationkey": i32(np.arange(25)),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": i32(np.arange(25) % 5)},
        "customer": {"c_custkey": np.arange(N_CUST, dtype=np.int64),
                     "c_name": [f"Customer#{i:09d}" for i in range(N_CUST)],
                     "c_nationkey": i32(rng.integers(0, 25, N_CUST)),
                     "c_acctbal": rng.integers(-99_999, 999_999, N_CUST) / 100,
                     "c_mktsegment": pick(SEGMENTS, N_CUST)},
        "orders": {"o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
                   "o_custkey": rng.integers(0, N_CUST, N_ORDERS),
                   "o_orderstatus": pick(["F", "O", "P"], N_ORDERS),
                   "o_totalprice": rng.integers(90_000, 50_000_000, N_ORDERS) / 100,
                   "o_orderdate": order_date,
                   "o_orderpriority": pick(PRIORITIES, N_ORDERS)},
        "lineitem": {"l_orderkey": l_order,
                     "l_partkey": rng.integers(0, 2_000, N_LINES),
                     "l_suppkey": rng.integers(0, 100, N_LINES),
                     "l_linenumber": i32(rng.integers(1, 8, N_LINES)),
                     "l_quantity": qty,
                     "l_extendedprice": qty * rng.integers(90_000, 210_000, N_LINES) / 100,
                     "l_discount": rng.integers(0, 11, N_LINES) / 100,
                     "l_tax": rng.integers(0, 9, N_LINES) / 100,
                     "l_returnflag": pick(["A", "N", "R"], N_LINES),
                     "l_linestatus": pick(["F", "O"], N_LINES),
                     "l_shipdate": order_date[l_order]
                     + rng.integers(1, 122, N_LINES) * np.timedelta64(1, "D")},
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _value(v):
    if isinstance(v, (float, decimal.Decimal)):
        return float(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None)
    return v


def _rows(rows) -> list[tuple]:
    out = [tuple(_value(v) for v in r) for r in rows]
    key = lambda r: tuple((v is None, round(v, 6) if isinstance(v, float) else v) for v in r)
    return sorted(out, key=key)


def same_result(got: list[tuple], want: list[tuple]) -> bool:
    """Order-insensitive row equality; floats to 1e-9 relative."""
    if len(got) != len(want):
        return False
    for a, b in zip(_rows(got), _rows(want)):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-6):
                    return False
            elif x != y:
                return False
    return True


def selftest(want: list[tuple]) -> bool:
    """The comparison must reject a result missing a row and one with
    a value changed."""
    if not want:
        return False
    row = [_value(v) for v in want[0]]
    j = next(k for k, v in enumerate(row) if v is not None)
    v = row[j]
    row[j] = v + "x" if isinstance(v, str) else v + (
        dt.timedelta(days=1) if isinstance(v, dt.datetime) else 1)
    changed = [tuple(row), *want[1:]]
    return (same_result(want, want) and not same_result(want[1:], want)
            and not same_result(changed, want))


def phase_ms(df) -> float:
    """Catalyst time (analysis, optimization, planning) of the query's
    ``QueryExecution``, from its phase tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0
    for p in PHASES:
        opt = phases.get(p)
        if opt.isDefined():
            total += opt.get().durationMs()
    return float(total)


def run(spark, seed: int, tracer, work: str) -> dict:
    """Per-layer metrics of the catalog queries, plus the check result."""
    import duckdb

    from es_analytics_spark.queries import REGISTRY

    sf = os.path.join(work, "tpch")
    make_tables(seed, sf)
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "orders", "lineitem"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    layer: dict[str, float] = {}
    notes: list[str] = []
    ok = True
    cold = hot = 0.0
    for q in QUERIES:
        spec = REGISTRY[q]
        want = con.sql(spec.oracle).fetchall()
        if not selftest(want):
            ok = False
            notes.append(f"{q}: the oracle result is empty or the self-test passed a corrupted copy")
        df = spec.fn(spark, sf)
        got_cold = tracer.call(f"query.{q}.cold", df.collect, (), {})
        span_cold = tracer.spans[-1]
        df_hot = spec.fn(spark, sf)
        got_hot = tracer.call(f"query.{q}.hot", df_hot.collect, (), {})
        span = tracer.spans[-1]
        if not (same_result(got_cold, want) and same_result(got_hot, want)):
            ok = False
            notes.append(f"{q}: result differs from the DuckDB oracle")
        cold += span_cold["s"]
        hot += span["s"]
        layer[f"{q}.plan_ms"] = phase_ms(df)
        layer[f"{q}.exec_s"] = span["s"]
        for k in ("jobs", "stages", "tasks"):
            layer[f"{q}.{k}"] = span[k]
    layer["queries.cold_round_s"] = cold
    layer["queries.hot_round_s"] = hot
    con.close()
    return {"layer": layer, "correct": ok, "notes": notes, "checked": len(QUERIES)}
