"""SparkSession factory with engine defaults.

Local-mode testing uses local[N]; the same configs are what we would
ship on a multi-executor cluster: AQE on (runtime re-plan, skew-join
splitting, partition coalescing), UTC session time zone (the reference
serializes all times as UTC ISO-8601 — Collector.ts:130,136-142), Arrow
for the Python boundary.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Session-settable confs applied even when the caller (e.g. the verify
# driver) hands us an already-built SparkSession.
RUNTIME_CONFS: dict[str, str] = {
    # testdata events.parquet stores TIMESTAMP(NANOS) which Spark's
    # parquet reader rejects by default; read as long and convert.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # naive parquet timestamps (isAdjustedToUTC=false) would infer as
    # TIMESTAMP_NTZ, which unix_micros and streaming watermarks reject;
    # with a UTC session the LTZ reading is value-identical.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Best-effort apply of session-settable engine confs to an existing session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — fall back to whatever the session has
    return spark


def get_spark(app_name: str = "es_analytics_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # match local parallelism, not the 200 default; AQE coalesces further
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # catalog tables (bucketed layouts) go to a scratch warehouse,
        # not the repo working dir
        .config("spark.sql.warehouse.dir", os.environ.get(
            "SPARK_GRAFT_WAREHOUSE", "/tmp/es_analytics_warehouse"))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_confs(spark)


def analyze(
    spark: SparkSession,
    tables: dict[str, str] | list[str],
    columns: dict[str, list[str]] | None = None,
) -> dict[str, dict]:
    """Cost-based-optimizer statistics: run ``ANALYZE TABLE … COMPUTE
    STATISTICS [FOR COLUMNS …]`` over catalog tables so Catalyst's CBO
    (``spark.sql.cbo.enabled``) can estimate post-filter/join
    cardinalities from row counts and column NDV/min/max instead of raw
    file sizes — the enablement that flips borderline join strategies
    (a dim that is too big to broadcast on disk but tiny after a
    selective filter becomes a BroadcastHashJoin once column stats let
    the planner see the selectivity; ``tests/test_plans.py`` pins that
    flip).

    ``tables``: catalog table names, or ``{name: parquet_path}`` to
    (idempotently) register unmanaged external tables over an existing
    lake path first — registration is metadata-only, no data copy, so
    the same parquet files serve both path-based reads and
    stats-informed catalog reads. ``columns``: per-table column lists
    for ``FOR COLUMNS`` (column-level NDV/min/max/null-count; table
    row-count/size stats are always computed).

    A ``{name: path}`` entry naming a txlog table raises
    ``ValueError``: ``USING parquet LOCATION`` would read every file in
    its directory, removed and change parts included.

    Returns per-table stats as recorded in the catalog
    (``{name: {"sizeInBytes": int, "rowCount": int | None,
    "columns": [analyzed cols]}}``) read back via
    ``DESCRIBE TABLE EXTENDED``, proving the stats actually landed
    rather than echoing the request.

    Scale: ANALYZE is one distributed scan per table (plus one per
    column set); on a 100 TB lake it is scheduled maintenance after
    bulk loads, exactly like compaction. Stats staleness is the
    documented trade — re-run after mutations big enough to change
    plan choices.
    """
    def _norm_loc(p: str) -> tuple[str, str]:
        from urllib.parse import unquote, urlparse

        u = urlparse(p)
        return (u.netloc, (unquote(u.path) if u.scheme else p).rstrip("/"))

    if isinstance(tables, dict):
        from es_analytics_spark.sources.fsio import join, lake_fs

        for name, path in tables.items():
            if lake_fs(spark, path).exists(join(path, "_txlog")):
                raise ValueError(
                    f"analyze: {path} is a txlog table; its directory holds "
                    "removed and change parts, so parquet stats over it "
                    "would count dead rows"
                )
            spark.sql(
                f"CREATE TABLE IF NOT EXISTS {name} USING parquet "
                f"LOCATION '{path}'"
            )
            # IF NOT EXISTS silently no-ops when a same-named table
            # already points elsewhere — ANALYZE would then compute (and
            # this function would report) stats for the WRONG data while
            # appearing to succeed for the requested path
            loc = [
                r["data_type"]
                for r in spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
                if r["col_name"] == "Location"
            ]
            if loc and _norm_loc(loc[0]) != _norm_loc(path):
                raise ValueError(
                    f"analyze: catalog table {name!r} already exists at "
                    f"{loc[0]}, not the requested {path}; DROP TABLE it "
                    "or register under a different name"
                )
        names = list(tables)
    else:
        names = list(tables)
    out: dict[str, dict] = {}
    for name in names:
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
        cols = (columns or {}).get(name)
        if cols:
            collist = ", ".join(cols)
            spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR COLUMNS {collist}")
        stats_row = [
            r
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
            if r["col_name"] == "Statistics"
        ]
        size = rows = None
        if stats_row:
            text = stats_row[0]["data_type"]  # e.g. "12345 bytes, 678 rows"
            for part in text.split(","):
                part = part.strip()
                if part.endswith("bytes"):
                    size = int(part.split()[0])
                elif part.endswith("rows"):
                    rows = int(part.split()[0])
        out[name] = {"sizeInBytes": size, "rowCount": rows, "columns": cols or []}
    return out
