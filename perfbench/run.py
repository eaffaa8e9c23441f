"""perfbench: end-to-end and per-layer benchmark of the engine.

    python3 perfbench/run.py --workload ingest|lake_txn|all --seed N \
        --seconds S --trace 0|1

One closed-loop client in one process, Spark ``local[nproc]``. With
``--trace 0`` the last stdout line is the result with every end-to-end
metric; with ``--trace 1`` it carries every per-layer metric instead,
taken from spans the benchmark records around the calls it makes into
the engine (see README.md). The line before it is the run's context:
nproc, Spark parallelism, seed, sources hash, driver memory, load
average, and operations attempted and failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import catalog  # noqa: E402
import common  # noqa: E402

WORKLOADS = ("ingest", "lake_txn")

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "round_cpu_s": "s",
}

TXLOG_OPS = ("append", "merge_upsert", "delete", "delete_dv", "update", "compact",
             "checkpoint", "read_table", "table_changes_cdf")

TXLOG_SPANS = {"delete": "txlog.delete_where", "delete_dv": "txlog.delete_where_dv",
               "update": "txlog.update_where"}

PER_LAYER = {
    "first_round_s": "s",
    "write_s": "s",
    "collector.track_us": "us",
    "collector.flush_ms": "ms",
    "collector.flushes": "count",
    "collector.rows_per_flush": "rows",
    "fsio.put_ms": "ms",
    "fsio.put_bytes": "B",
    "fsio.puts": "count",
    "fsio.cas_ms": "ms",
    "fsio.cas_count": "count",
    "readback.files": "count",
    "readback.jobs": "count",
    "ingest.track_ev_s": "ev/s",
    "ingest.bulk_ev_s": "ev/s",
    "ingest.lake_bytes_per_ev": "B",
    "ingest.readback_s": "s",
    **{f"txlog.{op}_{k}": u for op in TXLOG_OPS for k, u in (("s", "s"), ("jobs", "count"), ("stages", "count"))},
    "txlog.live_parts": "count",
    "txlog.log_versions": "count",
    "txlog.write_amp": "ratio",
    "rollup.live_parts_end": "count",
    "rollup.growth_ms_per_cycle": "ms",
    "rollup.jobs": "count",
    "lake.commit_s": "s",
    "lake.dml_s": "s",
    "lake.rollup_s": "s",
    "lake.read_s": "s",
    **{f"{q}.{k}": u for q in catalog.QUERIES
       for k, u in (("plan_ms", "ms"), ("exec_s", "s"), ("jobs", "count"),
                    ("stages", "count"), ("tasks", "count"))},
    "queries.cold_round_s": "s",
    "queries.hot_round_s": "s",
    "jvm.gc_s": "s",
    "jvm.heap_peak_mb": "MB",
    "jvm.jit_s": "s",
    "trace.overhead_s": "s",
}


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _per_round(total: float, rounds: int) -> float:
    return total / rounds if rounds else 0.0


def ingest_layers(out: dict, tracer) -> dict:
    traced = len(common.hot(out["rounds"], traced=True))
    flushes = tracer.of("collector.flush")
    track_leaf = [s["s"] for s in tracer.of("collector.track") if s["leaf"]]
    puts = tracer.of("fsio.put")
    reads = tracer.of("readback")
    return {
        "collector.track_us": _mean(track_leaf) * 1e6,
        "collector.flush_ms": _mean([s["s"] for s in flushes]) * 1e3,
        "collector.flushes": _per_round(len(flushes), traced),
        "collector.rows_per_flush": out["rows_per_flush"],
        "fsio.put_ms": _mean([s["s"] for s in puts]) * 1e3,
        "fsio.put_bytes": _per_round(tracer.counts.get("fsio.put.bytes", 0.0), traced),
        "fsio.puts": _per_round(len(puts), traced),
        "readback.jobs": _per_round(sum(s["jobs"] for s in reads), traced),
    }


def lake_layers(out: dict, tracer) -> dict:
    n = len(common.hot(out["rounds"], traced=True))
    res: dict = {}
    for op in TXLOG_OPS:
        spans = tracer.of(TXLOG_SPANS.get(op, f"txlog.{op}"), top=op != "checkpoint")
        res[f"txlog.{op}_s"] = _mean([s["s"] for s in spans])
        res[f"txlog.{op}_jobs"] = _mean([s["jobs"] for s in spans])
        res[f"txlog.{op}_stages"] = _mean([s["stages"] for s in spans])
    cas = tracer.of("fsio.cas")
    puts = tracer.of("fsio.put")
    roll = tracer.of("rollup")
    res.update({
        "fsio.cas_ms": _mean([s["s"] for s in cas]) * 1e3,
        "fsio.cas_count": _per_round(len(cas), n),
        "fsio.put_ms": _mean([s["s"] for s in puts]) * 1e3,
        "fsio.puts": _per_round(len(puts), n),
        "fsio.put_bytes": _per_round(tracer.counts.get("fsio.put.bytes", 0.0), n),
        # the rollup's own jobs plus those of the txlog calls it makes
        "rollup.jobs": _per_round(sum(s["jobs"] for s in tracer.spans
                                      if "rollup" in (s["name"], s["parent"])), len(roll)),
    })
    return res


def missing_spans(workload: str, tracer) -> list[str]:
    """Wrapped layer functions that recorded no traced call: their
    per-layer metrics would read 0 for want of a sample."""
    if workload == "ingest":
        names = ["collector.track", "collector.flush", "fsio.put", "readback"]
    else:
        names = [TXLOG_SPANS.get(op, f"txlog.{op}") for op in TXLOG_OPS] + ["rollup", "fsio.cas"]
    return [n for n in names if not tracer.of(n)]


def run_one(args) -> int:
    run_dir = common.prepare_env(f"{args.workload}-{os.getpid()}")
    load_before, ticks = os.getloadavg(), common.cpu_ticks()
    t0 = time.perf_counter()
    try:
        import es_analytics_spark  # noqa: F401  (fails fast outside a checkout)
    except ImportError as exc:
        print(f"perfbench: the engine is not importable here: {exc}", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2
    spark = common.start_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    tracer = common.Tracer(spark, bool(args.trace))
    work = os.path.join(run_dir, "data")
    os.makedirs(work, exist_ok=True)
    queries = None
    try:
        if args.workload == "ingest":
            import ingest

            out = ingest.run(spark, args.seed, args.seconds, tracer, work)
            setup_s = session_s
            if args.trace:
                queries = catalog.run(spark, args.seed, tracer, work)
        else:
            import lake_txn

            out = lake_txn.run(spark, args.seed, args.seconds, tracer, work)
            setup_s = session_s + out["prep_s"]
        tracer.restore()
        gc_s, heap_mb = common.jvm_gc_heap(spark)
        jit_total = common.jit_s(spark)
        rss = common.peak_rss_mb(spark)
    finally:
        common.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    load_after = os.getloadavg()

    e2e = dict(out["e2e"], setup_s=setup_s, peak_rss_mb=rss)
    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": common.nproc(),
        "spark_default_parallelism": out.get("parallelism"),
        "driver_memory": common.DRIVER_MEM, "git_sha": common.git_sha(),
        "source_sha": common.source_sha(),
        "loadavg_before": load_before, "loadavg_after": load_after,
        "cpu_steal_share": common.steal_share(ticks, common.cpu_ticks()),
        "attempted": out["attempted"], "failed": out["failed"],
        "setup_s": setup_s, "round_wall_s": [round(r["wall_s"], 2) for r in out["rounds"]],
        "round_s": [[round(r.get(k, 0.0), 3) for k in ("write_s", "read_s", "cpu_s", "jit_s")]
                    for r in out["rounds"]],
        "run_s": time.perf_counter() - t0, "notes": out["notes"][:6],
    }
    correct = out["correct"]
    if args.trace:
        layer = {k: 0.0 for k in PER_LAYER}
        layer.update(out["layer"])
        context["missing_spans"] = missing_spans(args.workload, tracer)
        if context["missing_spans"]:
            print(f"perfbench: no traced call of {context['missing_spans']}; "
                  "their per-layer metrics read 0", file=sys.stderr)
        if queries is not None:
            layer.update(queries["layer"])
            correct = correct and queries["correct"]
            context["queries_checked"] = queries["checked"]
            context["notes"] += queries["notes"]
        layer.update(ingest_layers(out, tracer) if args.workload == "ingest"
                     else lake_layers(out, tracer))
        layer.update({"jvm.gc_s": gc_s, "jvm.heap_peak_mb": heap_mb, "jvm.jit_s": jit_total,
                      "trace.overhead_s": out["trace_overhead_s"]})
        metrics = {k: (layer[k], u) for k, u in PER_LAYER.items()}
    else:
        metrics = {k: (e2e[k], u) for k, u in END_TO_END.items()}
    print("context " + json.dumps(context, default=str))
    print(common.result_line(correct, out["attempted"], out["failed"], metrics))
    return 0


def run_all(args) -> int:
    """Each workload in its own process (a fresh session each), then a
    table of every metric by name and unit."""
    rc = 0
    for wl in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"{wl}: failed (exit {p.returncode})\n{p.stderr[-2000:]}")
            rc = 1
            continue
        res = json.loads(lines[-1])
        print(f"== {wl}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']}")
        for line in lines[:-1]:
            if line.startswith("context "):
                print("   " + line)
        for k, m in res["metrics"].items():
            print(f"   {k:32s} {m['value']:14.6g} {m['unit']}")
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=common.RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
