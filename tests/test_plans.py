"""Scale guardrails: physical plans must keep the shapes that survive
a 100× scale-up — pushdown reaches parquet, dims broadcast, no
accidental cartesian products, projections prune columns."""

import pytest
from pyspark.sql import functions as F

from es_analytics_spark.plans.inspect import (
    assert_broadcast_join,
    assert_no_cartesian,
    assert_pushed_filters,
    physical_plan,
    read_schema_columns,
)
from es_analytics_spark.queries import REGISTRY


def test_flagship_pushdown_and_pruning(spark, sf_dir):
    df = REGISTRY["agg_pricing_summary"].fn(spark, sf_dir)
    assert_pushed_filters(df, "l_shipdate")
    cols = set(read_schema_columns(df))
    # 7 needed columns, not all 11
    assert "l_orderkey" not in cols and "l_partkey" not in cols, cols


def test_5way_join_broadcasts_dims(spark, sf_dir):
    df = REGISTRY["join_5way_revenue"].fn(spark, sf_dir)
    assert_broadcast_join(df, min_count=3)
    assert_no_cartesian(df)


def test_topk_uses_take_ordered(spark, sf_dir):
    df = REGISTRY["sort_topk_global"].fn(spark, sf_dir)
    assert "TakeOrderedAndProject" in physical_plan(df)


def test_filter_projection_prunes(spark, sf_dir):
    df = REGISTRY["filter_predicates"].fn(spark, sf_dir)
    cols = set(read_schema_columns(df))
    assert "o_orderdate" not in cols, cols
    assert_pushed_filters(df, "o_totalprice")


def test_asof_join_is_single_shuffle_no_explosion(spark, sf_dir):
    df = REGISTRY["join_asof"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # union+window rewrite: no join node at all
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_whole_stage_codegen_active(spark, sf_dir):
    df = REGISTRY["fn_math"].fn(spark, sf_dir)
    # formatted explain marks codegen stages as "[codegen id : N]"
    assert "[codegen id :" in physical_plan(df)


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Both sides bucketed on the join key → SortMergeJoin with zero
    shuffles (the write-once-join-many layout for fact⋈fact at scale)."""
    from es_analytics_spark.sources.bucketed import bucketed, write_bucketed
    from es_analytics_spark.sources.lake import read_table

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = read_table(spark, sf_dir, "lineitem")
        orders = read_table(spark, sf_dir, "orders")
        write_bucketed(li, "b_lineitem", ["l_orderkey"], num_buckets=8, sort_cols=["l_orderkey"])
        write_bucketed(orders, "b_orders", ["o_orderkey"], num_buckets=8, sort_cols=["o_orderkey"])
        joined = bucketed(spark, "b_lineitem").join(
            bucketed(spark, "b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = physical_plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # sanity: result matches the plain join
        assert joined.count() == li.join(orders, li.l_orderkey == orders.o_orderkey).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_q5_broadcasts_and_date_pushdown(spark, sf_dir):
    """Q5: every dimension broadcasts; the o_orderdate range reaches the
    parquet scan; the only shuffle joins are on the fact keys."""
    df = REGISTRY["tpch_q5_local_supplier"].fn(spark, sf_dir)
    assert_broadcast_join(df, min_count=4)
    assert_no_cartesian(df)
    assert_pushed_filters(df, "o_orderdate")


def test_q9_like_filter_pushed_as_contains(spark, sf_dir):
    """Q9: LIKE '%red%' must reach parquet as StringContains, and the
    part/supplier/nation dims must broadcast."""
    df = REGISTRY["tpch_q9_product_profit"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "StringContains(p_name,red)" in plan, plan
    assert_broadcast_join(df, min_count=3)


def test_q21_exists_plans_as_semi_and_anti(spark, sf_dir):
    """Q21: EXISTS → LeftSemi, NOT EXISTS → LeftAnti — set-membership
    joins, never a per-row subquery or cartesian explosion."""
    plan = physical_plan(REGISTRY["tpch_q21_waiting_supplier"].fn(spark, sf_dir))
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan


def test_q2_correlated_min_decorrelates(spark, sf_dir):
    """Q2: the correlated MIN subquery must decorrelate into an
    aggregate joined on l_partkey (SMJ/SHJ fact-fact join), not execute
    per outer row (which would show as a nested-loop over a subquery)."""
    plan = physical_plan(REGISTRY["tpch_q2_min_cost_supplier"].fn(spark, sf_dir))
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


@pytest.mark.slow
def test_no_registered_query_is_cartesian(spark, sf_dir):
    """No catalog query may plan an all-pairs product on data-sized
    tables. Allowlist: join_cross_theta is BY CONTRACT a cross/theta
    join over the two constant-size dims (region×nation, 25×5 rows);
    sim_cosine_* broadcast a small-by-contract query side (nested-loop
    over a broadcast of ~10 rows, not a shuffle cartesian)."""
    allow_cartesian = {"join_cross_theta", "sim_cosine_pairs", "sim_cosine_topk"}
    # dedup_clusters runs its iterative loop eagerly at build time; its
    # join shapes are covered by dedup_ngram_jaccard + the CC unit test
    skip_eager = {"dedup_clusters"}
    for name, spec in REGISTRY.items():
        if name in allow_cartesian | skip_eager or name.startswith("stream_"):
            continue  # streaming fns run a query; plan check n/a here
        plan = physical_plan(spec.fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, f"{name} plans a cartesian:\n{plan}"


@pytest.mark.slow
def test_no_data_sized_single_partition_window_or_sort(spark, sf_dir):
    """Catalog-wide guard for the ml_split_shuffle class of bug: no
    registered query may run a Window/Sort whose input funnels through
    Exchange SinglePartition — at 100 TB that is one task holding the
    table. Allowlist: shapes whose single-partition input is bounded
    by construction (plan text cannot see cardinality, so each entry
    documents its bound)."""
    from es_analytics_spark.plans.inspect import single_partition_hotspots

    allow_bounded = {
        # rank over the pre-aggregated |groups| frame (~5 rows)
        "window_percent_of_total",
        # running sum over the per-day first-seen grain — one row per
        # calendar day, bounded by the calendar, not the event count
        "ts_cumulative_users",
        # quota arithmetic over the |strata| frame (~20 language rows)
        "sample_proportional_allocation",
        # Neyman quota arithmetic over the |event-type strata| frame
        # (~5 rows, bounded by the schema — same bound as above)
        "sample_neyman_allocation",
        # parent-share windows over the |region|x|nation| grain (25 rows)
        "agg_share_of_parent",
        # cumulative daily looks — one row per calendar day, bounded by
        # time, not data (same bound as ts_cumulative_users)
        "ab_sequential_msprt",
        # week-index regressor over the |weeks| frame — calendar-bounded
        "ab_novelty_decay",
        # equity-curve walk over the |days| frame — calendar-bounded
        "ts_max_drawdown",
        # lag/lead neighbor scan over the |days| frame — calendar-bounded
        "ts_peak_detection",
        # rolling k-day sums over the |days| frame — calendar-bounded
        "ts_variance_ratio",
        # threshold scan + argmin over the |p_size value domain| grain
        # (<= 50 rows, bounded by the feature's value domain, not rows)
        "ml_boosted_stumps",
        # changepoint scan + argmin over the |days| frame — calendar-bounded
        "ts_piecewise_trend",
        # prefix sums over the constant 20-bin score grid
        "ml_isotonic_calibration",
        # p-value ranking over the |types| x 7 hypothesis family —
        # bounded by the schema (event-type domain), not the data
        "stat_bh_fdr",
        # centered 7-day MA + seasonal frame over the |days| grain —
        # calendar-bounded (same bound as ts_max_drawdown)
        "ts_decompose_classical",
        # equity cumsum + runmax + islands over the |days| frame —
        # calendar-bounded (same bound as ts_max_drawdown)
        "ts_drawdown_spells",
        # five rolling 7-day moments over the |days| frame —
        # calendar-bounded (same bound as ts_variance_ratio)
        "window_moving_correlation",
        # moving-range lag over the |days| frame — calendar-bounded
        "ts_control_chart_imr",
        # residual lag over the |days| frame — calendar-bounded
        "stat_durbin_watson",
    }
    # dedup_clusters runs its iterative loop eagerly at build time
    skip_eager = {"dedup_clusters"}
    for name, spec in REGISTRY.items():
        if name in allow_bounded | skip_eager or name.startswith("stream_"):
            continue
        hits = single_partition_hotspots(spec.fn(spark, sf_dir))
        assert not hits, f"{name} windows/sorts over SinglePartition: {hits}"


def test_ml_split_shuffle_rank_distributes(spark, sf_dir):
    """The epoch-shuffle global rank must distribute: the data-sized
    row_number windows by pid (deterministic prefix buckets of the
    uniform shuffle key — sampling-free, so every DAG branch agrees on
    pid), never over a single partition. The ranks themselves must
    equal a single-window global reference exactly — the property the
    sf0.1 oracle gate caught repartitionByRange violating (its sampled
    boundaries can differ between re-executions of the same exchange)."""
    import re

    from pyspark.sql import Window as W

    df = REGISTRY["ml_split_shuffle"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # every data-sized row_number window spec must be partitioned by pid
    for spec in re.findall(r"row_number\(\) windowspecdefinition\(([^,]+),", plan):
        assert "pid" in spec, plan
    got = {(r.doc_id, r.shuffle_rank) for r in df.collect()}
    sk = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":epoch1")))
    from es_analytics_spark.sources.lake import read_table

    ref = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", sk.alias("sk"))
        .withColumn("r", F.row_number().over(W.orderBy("sk", "doc_id")))
    )
    want = {(r.doc_id, r.r) for r in ref.collect()}
    assert got == want, "distributed rank must equal the global window rank"


def test_q16_not_in_plans_as_anti_join(spark, sf_dir):
    """Q16: NOT IN over the (non-null) supplier subquery must plan as a
    broadcast anti-join with the acctbal filter pushed to parquet."""
    df = REGISTRY["tpch_q16_supplier_cnt"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "LeftAnti" in plan, plan
    assert_pushed_filters(df, "s_acctbal")


def test_dynamic_partition_pruning_on_lake_join(spark, tmp_path):
    """Joining a date-partitioned fact table to a filtered dim must
    inject a dynamicpruning subquery into the fact scan's partition
    filters — at 100 TB this is the difference between scanning 30
    partitions and 6."""
    facts = spark.range(0, 100_000).selectExpr(
        "id", "cast(id % 30 as int) as day", "id * 1.1 as v"
    )
    facts.write.partitionBy("day").parquet(str(tmp_path / "facts"))
    spark.range(0, 30).selectExpr(
        "cast(id as int) as day", "concat('d', id) as label", "id % 5 as grp"
    ).write.parquet(str(tmp_path / "dim"))

    f = spark.read.parquet(str(tmp_path / "facts"))
    dm = spark.read.parquet(str(tmp_path / "dim")).filter("grp = 2")
    j = f.join(dm, "day").groupBy("label").agg(F.sum("v").alias("s"))
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    # 6 of 30 days survive; the aggregate sees exactly those rows
    assert j.count() == 6


def test_flagship_shuffle_budgets(spark, sf_dir):
    """Pin the shuffle budget of flagship shapes: a refactor that
    silently adds an Exchange fails here even while answers stay
    right. Budgets are the shapes argued in SCALE.md."""
    from es_analytics_spark.plans.inspect import plan_audit
    from es_analytics_spark.queries import REGISTRY

    budgets = {
        "agg_pricing_summary": 1,   # partial+final agg
        "join_5way_revenue": 1,     # all dims broadcast; one agg shuffle
        "window_sessionize": 1,     # one user shuffle, windows share it
        "window_gaps_islands": 1,   # two windows reuse one exchange
        "join_asof": 1,             # union+window rewrite, single shuffle
        "ts_max_concurrent": 1,     # boundary sweep over one shuffle
        "ts_resample_ohlc": 1,      # single partial+final agg
        "sort_topk_global": 0,      # TakeOrdered, no exchange at all
        "attr_last_touch": 1,       # one user shuffle
        "agg_count_min": 3,         # sketch agg + top-20 agg + probe-min agg
        # round-3 shapes
        "agg_heavy_hitters": 3,     # MG candidates distinct + recount agg + total
        "text_dup_ngram_fraction": 3,  # gram-docs agg + gram join + per-doc agg
        "text_bpe_pair_counts": 2,  # word histogram + pair agg (top-20 TakeOrdered)
        "ts_cusum_changepoint": 4,  # daily agg + stats + walk window + argmax
        # round-3 batch 3
        "ml_weighted_sample": 0,    # map-only keys + TakeOrdered heap
        "agg_minmax_by": 1,         # one partial+final agg on the group key
        "ts_autocorrelation": 2,    # daily grain checkpointed; type window + final agg
        "join_asof_forward": 1,     # union + desc window, single shuffle, no join node
        "window_loo_deviation": 1,  # both window aggs share one suppkey exchange
        "ts_trend_theil_sen": 2,    # checkpointed grain: seq window + slope agg
        "ml_dataset_card": 2,       # rollup expand + distinct-agg second phase
        # round-4 shapes
        "ts_funnel_windowed": 2,    # one user shuffle (3 stacked windows + agg reuse it) + level histogram
        "ts_markov_transitions": 3, # lead window + transition agg + |types|-grain normalize
        "join_asof_nearest": 2,     # backward + forward union/window passes, one shuffle each
        "agg_revenue_concentration": 5,  # customer agg + range rank + offsets + 1-row reductions
        "rec_rfm_segments": 15,     # 3x (range rank + offset agg + join) at user grain — all user-sized
        # 23 STATIC Exchange nodes, but they are one fanned dedup
        # subtree referenced by every consumer (batch-12 reorder: the
        # eager checkpoint that used to hide the repeats erased the
        # partitioning the self-join needs); AQE's stage cache reuses
        # the identical shuffle stages at runtime — measured 10 stages
        # with completed tasks per hot run (8 planned stages skipped
        # as reused), down from the checkpointed shape's cost and
        # faster end-to-end in interleaved A/Bs. The pin tracks the
        # static count so an ACCIDENTAL new shuffle still fails.
        "rec_user_cf_topk": 23,
        # round-4 late-batch shapes (post-checkpoint plans: the budget
        # also pins that the iterative/multi-consumer frames STAY
        # checkpointed — graph_hits without its checkpoints audits at
        # 134 shuffles from exponential lineage recomputation)
        "ab_cuped_readout": 3,      # checkpointed user grain + variant agg + 1-row reductions
        "stat_jackknife_ratio_ci": 5,  # user agg + checkpointed 50-bucket grain + reductions
        "stat_bootstrap_ci": 4,     # resample-id agg + percentile reduction + obs agg
        "graph_hits": 4,            # post-checkpoint: top-k orderings + final union
                                    # + the r5 residual join (node-sized a2 vs a1,
                                    # both checkpointed, one 1-row broadcast out)
        "ts_forecast_accuracy": 5,  # daily agg + per-type windows + stats + method agg
    }
    for name, budget in budgets.items():
        audit = plan_audit(REGISTRY[name].fn(spark, sf_dir))
        assert audit["shuffles"] <= budget, (name, audit)


def test_sql_broadcast_hint_is_honored(spark, sf_dir):
    """SQL-surface join hints: /*+ BROADCAST(c) */ must produce a
    BroadcastHashJoin even when the dim exceeds the auto threshold
    criteria the planner would otherwise apply."""
    from es_analytics_spark.sources.lake import load_tables

    load_tables(spark, sf_dir, ["orders", "customer"])
    df = spark.sql(
        """
        SELECT /*+ BROADCAST(c) */ c.c_mktsegment, COUNT(*) AS n
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment
        """
    )
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert df.count() > 0


def test_runtime_bloom_filter_injects_on_shuffle_join(spark, sf_dir):
    """The session must keep Spark's runtime Bloom-filter injection
    live: a selective dim filter on the build side of a shuffle join
    should inject a might_contain() predicate into the fact side, so
    fact rows that cannot match die before the exchange. The size
    thresholds are lowered in-test only because fixture scans are KB —
    at the 100 TB target the default 10 GiB application-side threshold
    is met naturally and this fires with stock settings."""
    from es_analytics_spark.sources.lake import read_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force the shuffle join
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
        li = read_table(spark, sf_dir, "lineitem")
        o = read_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .groupBy("l_returnflag")
            .count()
        )
        plan = physical_plan(j)
        assert "might_contain" in plan.lower(), plan[:4000]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_every_driver_fetch_is_limit_guarded_or_audited():
    """Catalog-wide driver-fetch rule (r2 verdict): no source file in
    the package may call .collect()/.toPandas() unless the receiver
    chain carries an explicit .limit(...) bound, or the enclosing
    function is in the audited allowlist below — each entry documents
    why its fetch is bounded by construction. New unguarded collects
    fail here before they fail at 100 TB."""
    import ast
    import pathlib

    import es_analytics_spark

    pkg = pathlib.Path(es_analytics_spark.__file__).parent
    audited = {
        # similarity.py: bounded centroid/codebook/query-matrix ships —
        # LIMIT+raise guards or k x partitions pre-reduction (VERDICT r3
        # anti-pattern sweep signed off each one)
        ("operators/similarity.py", "cosine_pairs_above_np"),  # max_query_rows guard
        # distributed order-statistics percentiles: every pull is
        # bounded — group stats (|groups| rows), bucket counts
        # (<= buckets x groups integers), boundary-bucket values
        # (<= bucket_fetch_cap rows, past which it falls back to the
        # builtin aggregate), and the fallback's own |groups|-row
        # result. Bit-identity pinned by
        # test_exact_percentile_cuts_bit_matches_builtin.
        ("functions/ranks.py", "exact_percentile_cuts"),
        ("operators/similarity.py", "ivf_topk"),  # k centroids + query matrix
        ("operators/similarity.py", "kmeans_centroids"),  # k x partitions partials
        ("operators/similarity.py", "pq_train_codebooks"),  # m x 256 codebook
        ("operators/similarity.py", "pq_topk"),  # codebook + query matrix
        # result-sized rollup/view materialization before tempdir delete
        ("queries_sql2.py", "agg_rollup_incremental"),
        ("queries_sql3.py", "join_view_incremental"),
        # dev/test harness materializing query results for comparison —
        # not a registered query path
        ("oracle.py", "compare_query"),
        ("oracle.py", "driver_record"),
        # DESCRIBE TABLE EXTENDED output: rows bounded by the table's
        # metadata field count (~30), never by data
        ("session.py", "analyze"),
        # txlog row-level rewrites: the touched-part discovery collects
        # DISTINCT input_file_name()s of matching rows — one row per
        # data file, manifest-sized; the data rewrite itself stays
        # fully distributed
        ("txlog.py", "delete_where"),
        ("txlog.py", "merge_upsert"),
        ("txlog.py", "update_where"),  # same touched-part discovery shape
        # full-grammar merge: pass-1 clause-hit file discovery (DISTINCT
        # file paths — manifest-sized, the delete/merge class above) and
        # two route-count groupBys whose result is one row per CLAUSE
        # (<= a handful), never data-sized; the routed rewrite itself is
        # fully distributed through a localCheckpoint
        ("txlog.py", "merge"),
        # clustered compaction's per-range zone maps: ONE grouped
        # min/max job whose result is one row per emitted range —
        # manifest-sized (ceil(group_bytes / target_file_bytes) rows of
        # a few scalar bounds), never data-sized
        ("txlog.py", "_write_clustered_parts"),
        # deletion-vector delete: both collects are per-TOUCHED-PART hit
        # counts (groupBy part-basename), manifest-sized like the
        # delete/merge file discovery above; the vector and cdc parts
        # themselves are written distributed
        ("txlog.py", "_delete_where_dv"),
    }

    def chain_has_limit(node: ast.AST) -> bool:
        while isinstance(node, (ast.Call, ast.Attribute)):
            if isinstance(node, ast.Call):
                f = node.func
                if isinstance(f, ast.Attribute) and f.attr == "limit":
                    return True
                node = f
            else:
                node = node.value
        return False

    violations = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        tree = ast.parse(path.read_text())
        funcs = [
            (n.name, n.lineno, n.end_lineno)
            for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("collect", "toPandas")
            ):
                continue
            if chain_has_limit(node.func.value):
                continue
            enclosing = [
                name
                for name, s, e in funcs
                if s <= node.lineno <= e
            ]
            if any((rel, name) in audited for name in enclosing):
                continue
            violations.append(f"{rel}:{node.lineno} .{node.func.attr}() unguarded")
    assert not violations, violations


def test_count_min_topk_window_prunes_via_limit_pushdown(spark, sf_dir):
    """agg_count_min's top-20 global row_number must keep its
    rank-limit pushdown (r3 verdict ask): Catalyst rewrites the
    unpartitioned row_number + rn<=20 filter into Limit 20 over the
    sort, which plans as TakeOrderedAndProject — a per-partition heap
    of 20 plus a 20-row merge, so no task ever materializes the
    vocabulary-sized frame. If a refactor breaks the rewrite (an
    expression LimitPushDownThroughWindow can't see through), the plan
    degrades to a vocabulary-sized single-partition Window — caught
    here as the missing TakeOrdered node AND by the catalog-wide
    single-partition guard."""
    plan = physical_plan(REGISTRY["agg_count_min"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan[:4000]


def test_conf_mutating_queries_are_flagged():
    """ADVICE r4 (low): bench's cold pass serializes conf-mutating
    entries by the registry's mutates_conf flag, not a name prefix.
    This sweep keeps the flag honest both ways: every registered query
    whose body calls replay_stream (the harness that swaps
    spark.sql.shuffle.partitions) must be flagged, and every flagged
    entry must actually have a reason (calls replay_stream) so the
    serial list can't silently bloat."""
    import ast
    import inspect
    import textwrap

    from es_analytics_spark.queries import REGISTRY

    def calls_replay(fn) -> bool:
        tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name == "replay_stream":
                    return True
        return False

    unflagged = [
        n for n, spec in REGISTRY.items()
        if calls_replay(spec.fn) and not spec.mutates_conf
    ]
    overflagged = [
        n for n, spec in REGISTRY.items()
        if spec.mutates_conf and not calls_replay(spec.fn)
    ]
    assert not unflagged, f"conf-mutating queries missing mutates_conf: {unflagged}"
    assert not overflagged, f"flagged but no conf mutation found: {overflagged}"


def test_analyze_stats_flip_broadcast_decision(spark, tmp_path):
    """CBO enablement (r4 verdict ask 8, SURVEY §4): session.analyze
    issues ANALYZE TABLE … COMPUTE STATISTICS [FOR COLUMNS …]; the stats
    must land in the catalog (row count + size read back via DESCRIBE
    EXTENDED) and flip a join strategy — a dim too big to broadcast on
    raw size becomes a BroadcastHashJoin once column NDV stats expose an
    equality filter's selectivity. AQE is disabled for the static-plan
    assertion (at runtime AQE can also flip it, but CBO flips it at
    PLANNING time, before any stage runs — the distinction that matters
    when the first stage is the expensive one)."""
    from pyspark.sql import functions as F

    from es_analytics_spark.session import analyze

    d = str(tmp_path)
    spark.range(0, 200_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 1000).alias("cat"),
        F.sha2(F.col("id").cast("string"), 256).alias("pad"),
    ).write.parquet(f"{d}/dim")
    spark.range(0, 500_000).select(
        (F.col("id") % 200_000).alias("k"), (F.col("id") * 2).alias("v")
    ).write.parquet(f"{d}/fact")

    confs = {
        "spark.sql.cbo.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(1024 * 1024),
        "spark.sql.adaptive.enabled": "false",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    for t in ("cbo_dim", "cbo_dim_nostats", "cbo_fact"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        stats = analyze(
            spark,
            {"cbo_dim": f"{d}/dim", "cbo_fact": f"{d}/fact"},
            columns={"cbo_dim": ["cat"]},
        )
        # stats landed in the catalog
        assert stats["cbo_dim"]["rowCount"] == 200_000
        assert stats["cbo_dim"]["sizeInBytes"] > 1024 * 1024  # over threshold raw
        assert stats["cbo_fact"]["rowCount"] == 500_000

        q = (
            "SELECT f.k, d.pad FROM cbo_fact f JOIN {dim} d ON f.k = d.k "
            "WHERE d.cat = 7"
        )
        with_stats = (
            spark.sql(q.format(dim="cbo_dim"))
            ._jdf.queryExecution().executedPlan().toString()
        )
        spark.sql(
            f"CREATE TABLE cbo_dim_nostats USING parquet LOCATION '{d}/dim'"
        )
        without = (
            spark.sql(q.format(dim="cbo_dim_nostats"))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in with_stats, with_stats
        assert "SortMergeJoin" not in with_stats
        assert "BroadcastHashJoin" not in without, without
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        for t in ("cbo_dim", "cbo_dim_nostats", "cbo_fact"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
