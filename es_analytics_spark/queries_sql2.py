"""Modern-SQL surface extensions: ordered-set aggregates, UNPIVOT,
LATERAL joins, recursive CTEs, and fixed-bound histograms.

These close the gap between "classic TPC-H SQL" and the SQL a 2020s
analytics user writes daily. Each entry pairs the Spark implementation
(SQL or DataFrame, whichever is the native surface for the feature)
with a DuckDB oracle; where an engine lacks a builtin (DuckDB has no
``width_bucket``) the oracle spells out the equivalent arithmetic so
the comparison stays exact.

Scale notes are per-docstring. None of these shapes add a shuffle
beyond the aggregation/join they express: LATERAL decorrelates to a
ranked window, recursion here generates a tiny spine (dimension-sized,
broadcast), and UNPIVOT/histogram are map-side only until their final
aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from es_analytics_spark.functions.fanout import broadcast_if_small, fan_out
from es_analytics_spark.functions.lineage import cut_lineage, cut_lineage_lazy

from es_analytics_spark.queries import _t, query


def _views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register the requested tables as temp views (idempotent) so
    SQL-surface queries can run through spark.sql."""
    for name, df in _t(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(name)


# ---------------------------------------------------------------------------
# Ordered-set / positional aggregates
# ---------------------------------------------------------------------------

_MODE_MEDIAN_SQL = """
    WITH qty_counts AS (
        SELECT l_returnflag, l_quantity, COUNT(*) AS n
        FROM lineitem GROUP BY l_returnflag, l_quantity
    ), qty_mode AS (
        SELECT l_returnflag, l_quantity AS mode_qty
        FROM (SELECT l_returnflag, l_quantity,
                     ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                        ORDER BY n DESC, l_quantity ASC) AS rn
              FROM qty_counts) r
        WHERE rn = 1
    ), stats AS (
        SELECT l_returnflag,
               CAST(MEDIAN(l_quantity) AS DOUBLE) AS median_qty,
               CAST(PERCENTILE_DISC(0.25) WITHIN GROUP (ORDER BY l_extendedprice)
                    AS DOUBLE) AS q1_price,
               CAST(PERCENTILE_DISC(0.75) WITHIN GROUP (ORDER BY l_extendedprice)
                    AS DOUBLE) AS q3_price
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT s.l_returnflag, m.mode_qty, s.median_qty, s.q1_price, s.q3_price
    FROM stats s JOIN qty_mode m ON s.l_returnflag = m.l_returnflag
"""


@query("agg_mode_median", oracle=_MODE_MEDIAN_SQL)
def agg_mode_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-set aggregates: deterministic MODE (max count, value
    tie-break), MEDIAN, and PERCENTILE_DISC quartiles per return flag.

    MODE is computed as a rank over grouped counts rather than the
    builtin ``mode()`` because both Spark's and DuckDB's builtins pick
    an arbitrary value on frequency ties — the explicit form pins the
    answer. PERCENTILE_DISC selects an actual data value (no
    interpolation), so the comparison is exact, not float-fuzzy.

    Scale: two partial+final hash aggregates over one scan each, keyed
    on the (tiny) flag domain; the mode rank runs over the grouped
    counts (|flags| x |distinct qty| rows), not the fact table.
    """
    _views(spark, sf_dir, "lineitem")
    return spark.sql(_MODE_MEDIAN_SQL)


# ---------------------------------------------------------------------------
# UNPIVOT (wide -> long)
# ---------------------------------------------------------------------------


@query(
    "fn_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, k AS metric, v AS amount
    FROM (SELECT l_orderkey, l_linenumber,
                 l_quantity AS qty, l_extendedprice AS price,
                 l_discount AS disc, l_tax AS tax
          FROM lineitem)
    UNPIVOT (v FOR k IN (qty, price, disc, tax))
    """,
)
def fn_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long UNPIVOT of four lineitem measures into
    (metric, amount) pairs — the melt step feeding any long-format
    metrics store.

    Scale: pure map-side expansion (Expand node, 4x rows, no shuffle);
    column pruning still reaches the scan because only the six source
    columns are read.
    """
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    wide = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").alias("qty"),
        F.col("l_extendedprice").alias("price"),
        F.col("l_discount").alias("disc"),
        F.col("l_tax").alias("tax"),
    )
    return wide.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["qty", "price", "disc", "tax"],
        "metric",
        "amount",
    )


# ---------------------------------------------------------------------------
# LATERAL join (correlated table subquery)
# ---------------------------------------------------------------------------

_LATERAL_SQL = """
    SELECT n_name, l.s_name, l.s_acctbal
    FROM nation, LATERAL (
        SELECT s_name, s_acctbal
        FROM supplier
        WHERE s_nationkey = n_nationkey
        ORDER BY s_acctbal DESC, s_name ASC
        LIMIT 2
    ) l
"""


@query("join_lateral_topk", oracle=_LATERAL_SQL)
def join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: top-2 suppliers by account balance
    per nation, expressed as the SQL-standard lateral form rather than
    a window + filter.

    Catalyst decorrelates this to a ranked window over the join of
    supplier x nation — no per-row subquery execution. Scale: one
    shuffle on the correlation key (nationkey); the tie-broken ORDER BY
    makes the answer deterministic.
    """
    _views(spark, sf_dir, "nation", "supplier")
    return spark.sql(_LATERAL_SQL)


# ---------------------------------------------------------------------------
# Recursive CTE
# ---------------------------------------------------------------------------

_RECURSIVE_SQL = """
    WITH RECURSIVE months(m) AS (
        SELECT TIMESTAMP '1992-01-01 00:00:00'
        UNION ALL
        SELECT m + INTERVAL 1 MONTH FROM months
        WHERE m < TIMESTAMP '1998-12-01 00:00:00'
    )
    SELECT m AS month_start, COUNT(o_orderkey) AS n_orders
    FROM months LEFT JOIN orders ON DATE_TRUNC('MONTH', o_orderdate) = m
    GROUP BY m
"""


@query("subq_recursive_cte", oracle=_RECURSIVE_SQL)
def subq_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE): generate an 84-month
    spine by recursion, then LEFT JOIN order counts per month —
    months with no orders surface as zero rows instead of gaps.

    Scale: the recursive part produces 84 rows on the driver-side
    local relation; the join broadcasts the spine against the orders
    aggregate, so the only shuffle is the per-month count. Recursion
    depth is bounded by the WHERE guard (84 < the engine's recursion
    limit).
    """
    _views(spark, sf_dir, "orders")
    return spark.sql(_RECURSIVE_SQL)


# ---------------------------------------------------------------------------
# Fixed-bound histogram (width_bucket)
# ---------------------------------------------------------------------------


@query(
    "agg_histogram",
    oracle="""
    SELECT CAST(CASE WHEN l_extendedprice < 0 THEN 0
                     WHEN l_extendedprice >= 120000 THEN 25
                     ELSE FLOOR(l_extendedprice / 5000) + 1 END AS BIGINT) AS bucket,
           COUNT(*) AS n,
           ROUND(MIN(l_extendedprice), 2) AS lo,
           ROUND(MAX(l_extendedprice), 2) AS hi
    FROM lineitem
    GROUP BY 1
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bound 24-bucket histogram of extended price via
    ``width_bucket`` (DuckDB lacks the builtin, so the oracle spells
    out the same bucket arithmetic: 5000-wide buckets over
    [0, 120000), underflow->0, overflow->25).

    Scale: bucket id is a map-side expression; the aggregate is a
    partial+final hash agg on <=26 keys — the canonical cheap
    distribution profile at any data size.
    """
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.withColumn(
            "bucket",
            F.expr("width_bucket(l_extendedprice, 0.0, 120000.0, 24)").cast("bigint"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("l_extendedprice"), 2).alias("lo"),
            F.round(F.max("l_extendedprice"), 2).alias("hi"),
        )
    )


# ---------------------------------------------------------------------------
# Text relevance / fuzzy matching / profiling (training-data pipeline)
# ---------------------------------------------------------------------------

_TFIDF_SQL = """
    WITH tok AS (
        SELECT doc_id, t AS term FROM (
            SELECT doc_id,
                   UNNEST(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^a-z]+')) AS t
            FROM documents)
        WHERE LENGTH(t) >= 3
    ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
    ), dfq AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), n AS (
        SELECT COUNT(*) AS n FROM documents
    ), scored AS (
        SELECT doc_id, tf.term,
               ROUND(tf * (LN((1.0 + n) / (1.0 + df)) + 1.0), 6) AS tfidf
        FROM tf JOIN dfq ON tf.term = dfq.term CROSS JOIN n
    )
    SELECT doc_id, term, tfidf FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, term ASC) AS rn
        FROM scored) r
    WHERE rn <= 3
"""


@query("text_tfidf_topk", oracle=_TFIDF_SQL)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by TF-IDF (smoothed idf,
    ``ln((1+N)/(1+df)) + 1``), ranked on the rounded score with a term
    tie-break so the answer is deterministic across engines.

    Scale: tokenize is map-side explode; tf and df are partial+final
    hash aggregates (doc,term) and (term); the tf<->df join shuffles on
    term (vocab-sized, zipfian but bounded); the final top-3 is a
    window over doc_id. N arrives as a literal from a count — one
    cheap job, no driver data transfer beyond the scalar.
    """
    d = _t(spark, sf_dir, "documents")["documents"]
    n_docs = d.count()
    tok = d.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("term"),
    ).filter(F.length("term") >= 3)
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfq = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log((1.0 + F.lit(float(n_docs))) / (1.0 + F.col("df"))) + 1.0
    scored = tf.join(dfq, "term").select(
        "doc_id",
        "term",
        F.round(F.col("tf") * idf, 6).alias("tfidf"),
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf")
    )


_FUZZY_SQL = """
    WITH d AS (
        SELECT doc_id, lang, source, SUBSTR(text, 1, 60) AS pre
        FROM documents
    ), pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               LEVENSHTEIN(a.pre, b.pre) AS dist
        FROM d a JOIN d b
          ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, dist FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY dist ASC, doc_a ASC, doc_b ASC) AS rn
        FROM pairs) r
    WHERE rn <= 20
"""


@query("text_fuzzy_match", oracle=_FUZZY_SQL)
def text_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy matching: within each (lang, source) block, edit
    distance between 60-char prefixes for every id-ordered pair; the 20
    globally closest pairs come back. Levenshtein is integer-exact, so
    the comparison needs no float rounding.

    Scale: the self-join is equi-keyed on the block (never cartesian —
    the plan guard test checks), so work is sum(block^2) with blocks
    bounded by the (lang, source) partitioning a real corpus carries;
    the global top-20 is a TakeOrdered, not a full sort. For corpora
    where blocks grow unbounded, tighten blocks (prefix bands) exactly
    like dedup.ngram_jaccard_pairs does.
    """
    # the block^2 Levenshtein explosion runs in the post-join stage,
    # which AQE coalesces to 1-2 tasks at this input size — fan the
    # blocked frame out on the block keys so both self-join sides
    # co-partition and the edit-distance work parallelizes
    # (guide §2.2; layout-gated no-op on a lake), hash-joined
    d = fan_out(
        _t(spark, sf_dir, "documents")["documents"].select(
            "doc_id", "lang", "source", F.substring("text", 1, 60).alias("pre")
        ),
        sf_dir,
        "documents",
        "lang",
        "source",
        weight=8,
    )
    a = d.alias("a")
    b = d.alias("b")
    pairs = a.hint("shuffle_hash").join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.source") == F.col("b.source"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.levenshtein(F.col("a.pre"), F.col("b.pre")).alias("dist"),
    )
    return pairs.orderBy(F.asc("dist"), F.asc("doc_a"), F.asc("doc_b")).limit(20)


_EWMA_SQL = """
    WITH o AS (
        SELECT user_id, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    )
    SELECT a.user_id, a.event_id,
           -- explicit half-up quantization (not ROUND): Spark rounds
           -- doubles HALF_UP, DuckDB half-even — the halfway divergence
           -- this file documents; the floor spelling is engine-stable
           FLOOR(SUM(b.value * POWER(0.7, a.rn - b.rn))
                 / SUM(POWER(0.7, a.rn - b.rn)) * 1e6 + 0.5) / 1e6 AS ewma
    FROM o a JOIN o b
      ON a.user_id = b.user_id AND b.rn BETWEEN a.rn - 23 AND a.rn
    GROUP BY a.user_id, a.event_id
"""


@query("ts_ewma", oracle=_EWMA_SQL)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha = 0.3) of event
    value per user over the trailing 24 events, normalized over the
    in-frame weights. The Spark side is a single window (collect the
    frame, weight it with JVM array lambdas); the oracle is the
    relational equivalent — a banded self-join on row numbers.

    Scale: one shuffle on user_id; the frame is ROWS-bounded (24), so
    state per row is constant — no unbounded preceding, no self-join on
    the engine side.
    """
    ev = _t(spark, sf_dir, "events")["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(-23, 0)
    lst = F.collect_list("value").over(frame)
    num = F.expr(
        "aggregate(zip_with(frame_vals, sequence(size(frame_vals) - 1, 0, -1),"
        " (x, k) -> x * power(0.7, k)), 0D, (a, v) -> a + v)"
    )
    den = F.expr(
        "aggregate(transform(sequence(size(frame_vals) - 1, 0, -1),"
        " k -> power(0.7, k)), 0D, (a, v) -> a + v)"
    )
    return (
        ev.select("user_id", "event_id", lst.alias("frame_vals"))
        .select(
            "user_id",
            "event_id",
            # same explicit half-up spelling as the oracle (see _EWMA_SQL)
            (F.floor(num / den * 1e6 + F.lit(0.5)) / 1e6).alias("ewma"),
        )
    )


# ---------------------------------------------------------------------------
# Data profiling (ANALYZE-style column summary)
# ---------------------------------------------------------------------------

_PROFILE_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]

_PROFILE_SQL = "\nUNION ALL\n".join(
    f"""
    SELECT '{c}' AS col_name,
           CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
           CAST(MIN({c}) AS VARCHAR) AS min_val,
           CAST(MAX({c}) AS VARCHAR) AS max_val
    FROM orders
    """
    for c in _PROFILE_COLS
)


@query("agg_profile_columns", oracle=_PROFILE_SQL)
def agg_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style profile of every orders column: null count,
    distinct count, min/max rendered as strings. Column list is shared
    with the oracle (both sides are generated from _PROFILE_COLS), so
    the surfaces cannot drift.

    Scale: ONE scan, one aggregate computing all six columns' metrics
    together (the multi-count-distinct goes through the planner's
    expand), then a map-side stack to long form — not six unioned
    single-column scans. For >billions of distincts swap in
    approx_count_distinct (agg_approx_distinct is the sketch-path
    twin).
    """
    # the 6 count-distincts expand every row 6-fold and all 24 agg
    # buffers ran inside the single-task scan stage (guide §2.1/§2.2);
    # fan out on a high-card key so the expand + partials parallelize
    # (interleaved A/B: 3.96 -> 2.32 s median; partial/final split
    # point cannot change any of the metrics)
    o = fan_out(
        _t(spark, sf_dir, "orders")["orders"],
        sf_dir, "orders", "o_orderkey", weight=6,
    )
    aggs = []
    for c in _PROFILE_COLS:
        aggs.extend(
            [
                (F.count(F.lit(1)) - F.count(c)).cast("bigint").alias(f"nn_{c}"),
                F.count_distinct(F.col(c)).cast("bigint").alias(f"nd_{c}"),
                F.min(c).cast("string").alias(f"mn_{c}"),
                F.max(c).cast("string").alias(f"mx_{c}"),
            ]
        )
    wide = o.agg(*aggs)
    stacked = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(c).alias("col_name"),
                    F.col(f"nn_{c}").alias("n_nulls"),
                    F.col(f"nd_{c}").alias("n_distinct"),
                    F.col(f"mn_{c}").alias("min_val"),
                    F.col(f"mx_{c}").alias("max_val"),
                )
                for c in _PROFILE_COLS
            ]
        )
    )
    return wide.select(stacked.alias("p")).select("p.*")


# ---------------------------------------------------------------------------
# Z-order curve profile (multi-dim clustering key)
# ---------------------------------------------------------------------------

from es_analytics_spark.functions.zorder import interleave_expr as _interleave  # noqa: E402

_ZX = "(o_custkey & 65535)"
_ZY = "LEAST(65535, GREATEST(0, CAST(FLOOR(o_totalprice / 10) AS BIGINT)))"
_ZORDER_SQL = f"""
    SELECT CAST({_interleave([_ZX, _ZY])} >> 22 AS BIGINT) AS z_bucket,
           COUNT(*) AS n,
           CAST(MIN({_ZX}) AS BIGINT) AS min_cust,
           CAST(MAX({_ZX}) AS BIGINT) AS max_cust,
           CAST(MIN({_ZY}) AS BIGINT) AS min_price_cell,
           CAST(MAX({_ZY}) AS BIGINT) AS max_price_cell
    FROM orders
    GROUP BY 1
"""


@query("sort_zorder_cluster", oracle=_ZORDER_SQL)
def sort_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) curve positions over (custkey, price cell),
    profiled per curve bucket: within one z-bucket BOTH dimensions stay
    inside a narrow band — the property that makes the curve a
    multi-dimensional clustering key (txlog.compact(zorder=True) is the
    rewrite that exploits it; this query exposes the curve itself as a
    queryable surface). Spark and oracle share the generated interleave
    expression text, so the bit math cannot drift.

    Scale: the z-value is a pure map-side integer expression inside
    codegen; the profile is a partial+final hash agg on ~1024 buckets.
    """
    _views(spark, sf_dir, "orders")
    return spark.sql(_ZORDER_SQL)


# ---------------------------------------------------------------------------
# Product-quantization ANN (approximate by design -> rows-only check)
# ---------------------------------------------------------------------------


@query("sim_pq_topk", oracle=None)  # approximate by design (recall < 1)
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed ANN: 64-dim embeddings quantize to 8 one-byte
    codes (8x8-dim codebooks, L2 k-means trained in one distributed
    loop), queries score via asymmetric-distance LUT lookups and
    exact-rerank the top candidates. Recall vs brute force pinned by
    tests/test_operators.py::test_pq_topk_recall."""
    from es_analytics_spark.operators.similarity import pq_topk

    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    q = e.filter(F.col("vec_id") < 10)
    return pq_topk(e, q, "vec_id", "embedding", k=5, m=8, ksub=16, oversample=8)


# ---------------------------------------------------------------------------
# Count-min sketch + feature hashing (portable char-fold hash both engines)
# ---------------------------------------------------------------------------

# Shared constants: charfold polynomial modulus, sketch width, and the
# (a, b) params of the three pairwise-independent rows. Both the Spark
# implementation and the DuckDB oracle are generated from these, so the
# sketch arithmetic cannot drift between the surfaces.
_CM_P = 1000003
_CM_W = 512
_CM_ROWS = [(9973, 1), (8191, 17), (4099, 29)]

_CM_SQL = f"""
    WITH tok AS (
        SELECT t AS term FROM (
            SELECT UNNEST(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^a-z]+')) AS t
            FROM documents)
        WHERE LENGTH(t) >= 3
    ), coded AS (
        SELECT term,
               LIST_REDUCE(LIST_TRANSFORM(STRING_SPLIT(term, ''),
                                          c -> CAST(ASCII(c) AS BIGINT)),
                           (a, b) -> (a * 31 + b) % {_CM_P}) AS code
        FROM tok
    ), sketch AS (
        {" UNION ALL ".join(
            f"SELECT {i} AS row_i, ((code * {a} + {b}) % {_CM_P}) % {_CM_W} AS bucket,"
            f" COUNT(*) AS n FROM coded GROUP BY 2"
            for i, (a, b) in enumerate(_CM_ROWS))}
    ), top AS (
        SELECT term, code, COUNT(*) AS true_n,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, term ASC) AS rn
        FROM coded GROUP BY term, code
    )
    SELECT term, true_n, MIN(n) AS cm_est
    FROM (SELECT * FROM top WHERE rn <= 20) t
    JOIN sketch s
      ON s.bucket = ((t.code * CASE s.row_i {" ".join(
            f"WHEN {i} THEN {a}" for i, (a, _) in enumerate(_CM_ROWS))} END
                      + CASE s.row_i {" ".join(
            f"WHEN {i} THEN {b}" for i, (_, b) in enumerate(_CM_ROWS))} END)
                     % {_CM_P}) % {_CM_W}
    GROUP BY term, true_n
"""


@query("agg_count_min", oracle=_CM_SQL)
def agg_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch, oracle-checked end to end: three hash rows x
    512 buckets built over the document token stream with a portable
    char-fold polynomial hash (identical arithmetic in Spark and
    DuckDB — no engine-specific hash function), then the 20 most
    frequent terms' true counts sit next to their sketch estimates
    (est >= true always; equality when no collision).

    Scale: the sketch is 3 aggregates of <=512 groups each — fully
    map-side combined, mergeable across partitions/streams by
    construction (same property agg_hll_mergeable pins for distinct
    counts); the true-count top-20 is the only vocabulary-sized
    aggregate.
    """
    d = _t(spark, sf_dir, "documents")["documents"]
    tok = d.select(
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("term")
    ).filter(F.length("term") >= 3)
    code = F.expr(
        f"aggregate(transform(split(term, ''), c -> cast(ascii(c) as bigint)),"
        f" cast(0 as bigint), (a, b) -> (a * 31 + b) % {_CM_P})"
    )
    coded = tok.select("term", code.alias("code"))

    def buckets(col):
        return F.array(
            *[((col * a + b) % _CM_P) % _CM_W for (a, b) in _CM_ROWS]
        )

    # one explode -> ONE (row_i, bucket) aggregate builds all 3 sketch
    # rows in a single shuffle (instead of a union of per-row aggs that
    # would re-evaluate the token pipeline per row)
    sketch = (
        coded.select(F.posexplode(buckets(F.col("code"))).alias("row_i", "bucket"))
        .groupBy("row_i", "bucket")
        .agg(F.count("*").alias("n"))
    )

    top = (
        coded.groupBy("term", "code")
        .agg(F.count("*").alias("true_n"))
        .withColumn(
            "rn",
            F.row_number().over(W.orderBy(F.desc("true_n"), F.asc("term"))),
        )
        .filter(F.col("rn") <= 20)
    )
    probes = top.select(
        "term",
        "true_n",
        F.posexplode(buckets(F.col("code"))).alias("row_i", "bucket"),
    )
    return (
        F.broadcast(probes)
        .join(sketch, ["row_i", "bucket"])
        .groupBy("term", "true_n")
        .agg(F.min("n").alias("cm_est"))
    )


_FEATHASH_SQL = f"""
    WITH tok AS (
        SELECT doc_id, t AS term FROM (
            SELECT doc_id,
                   UNNEST(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^a-z]+')) AS t
            FROM documents)
        WHERE LENGTH(t) >= 3
    ), coded AS (
        SELECT doc_id,
               LIST_REDUCE(LIST_TRANSFORM(STRING_SPLIT(term, ''),
                                          c -> CAST(ASCII(c) AS BIGINT)),
                           (a, b) -> (a * 31 + b) % {_CM_P}) % 64 AS idx
        FROM tok
    ), cnt AS (
        SELECT doc_id, idx, COUNT(*) AS n FROM coded GROUP BY doc_id, idx
    ), spine AS (
        SELECT d.doc_id, s.i FROM (SELECT DISTINCT doc_id FROM documents) d
        CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 63)) AS i) s
    )
    SELECT spine.doc_id,
           LIST(CAST(COALESCE(cnt.n, 0) AS BIGINT) ORDER BY spine.i) AS features
    FROM spine LEFT JOIN cnt ON spine.doc_id = cnt.doc_id AND spine.i = cnt.idx
    GROUP BY spine.doc_id
"""


@query("ml_feature_hashing", oracle=_FEATHASH_SQL)
def ml_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization: every document becomes a dense
    64-bin term-count vector, bins assigned by the same portable
    char-fold hash the count-min sketch uses — so the oracle verifies
    the exact vectors, not just shapes (most feature-hashing impls are
    unauditable across engines because they bake in murmur3).

    Scale: tokenize+hash is map-side; one (doc, idx) count aggregate
    shuffles on doc_id; the dense vector assembles JVM-side from a
    map_from_entries + transform(sequence) — no per-doc spine join (the
    oracle's LEFT JOIN spine is the relational spelling of the same
    gap fill).
    """
    d = _t(spark, sf_dir, "documents")["documents"]
    tok = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("term")
    ).filter(F.length("term") >= 3)
    idx = F.expr(
        f"aggregate(transform(split(term, ''), c -> cast(ascii(c) as bigint)),"
        f" cast(0 as bigint), (a, b) -> (a * 31 + b) % {_CM_P}) % 64"
    )
    cnt = (
        tok.select("doc_id", idx.alias("idx"))
        .groupBy("doc_id", "idx")
        .agg(F.count("*").alias("n"))
    )
    vec = (
        cnt.groupBy("doc_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("idx", "n"))
            ).alias("m")
        )
        .select(
            "doc_id",
            F.expr(
                "transform(sequence(0, 63), i -> coalesce(m[cast(i as bigint)], cast(0 as bigint)))"
            ).alias("features"),
        )
    )
    # docs whose every token hashed away (none at these fixtures) still
    # need a zero vector: right-join back to the doc list
    all_docs = d.select("doc_id").distinct()
    zero = F.expr("transform(sequence(0, 63), i -> cast(0 as bigint))")
    return (
        vec.join(all_docs, "doc_id", "right")
        .select("doc_id", F.coalesce("features", zero).alias("features"))
    )


# ---------------------------------------------------------------------------
# Interval concurrency, attribution, sequence patterns, fingerprints
# ---------------------------------------------------------------------------

_CONCURRENT_SQL = """
    WITH iv AS (
        SELECT event_id, event_type,
               EPOCH_US(ts) AS t0,
               EPOCH_US(ts) + ((CAST(FLOOR(value * 10) AS BIGINT) % 3600) + 60)
                              * 1000000 AS t1
        FROM events
    ), bounds AS (
        SELECT event_type, t0 AS t, 1 AS delta, event_id FROM iv
        UNION ALL
        SELECT event_type, t1 AS t, -1 AS delta, event_id FROM iv
    ), swept AS (
        SELECT event_type,
               SUM(delta) OVER (PARTITION BY event_type
                                ORDER BY t, delta, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS live
        FROM bounds
    )
    SELECT event_type, CAST(MAX(live) AS BIGINT) AS peak_concurrency
    FROM swept GROUP BY event_type
"""


@query("ts_max_concurrent", oracle=_CONCURRENT_SQL)
def ts_max_concurrent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per event type via the +1/-1 boundary sweep:
    each event carries a value-derived duration, boundaries sort by
    (instant, delta, id) — ends close before starts at the same
    instant — and a running sum's max is the answer. The classic
    interval-overlap aggregation (concurrent sessions, room booking,
    GPU occupancy) without a self-join.

    Scale: 2 rows per event, one shuffle on event_type for the sweep
    window; everything after the explode is a single ordered pass. A
    skewed type can salt into time ranges (the per-range peaks then
    combine with a prefix-sum offset, same trick ml_split_shuffle uses
    for distributed rank).
    """
    ev = _t(spark, sf_dir, "events")["events"]
    t0 = F.unix_micros(F.col("ts"))
    dur = ((F.floor(F.col("value") * 10).cast("bigint") % 3600) + 60) * 1000000
    iv = ev.select("event_id", "event_type", t0.alias("t0"), (t0 + dur).alias("t1"))
    bounds = iv.select(
        "event_type", F.col("t0").alias("t"), F.lit(1).alias("delta"), "event_id"
    ).unionByName(
        iv.select(
            "event_type", F.col("t1").alias("t"), F.lit(-1).alias("delta"), "event_id"
        )
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("t", "delta", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        bounds.select("event_type", F.sum("delta").over(w).alias("live"))
        .groupBy("event_type")
        .agg(F.max("live").cast("bigint").alias("peak_concurrency"))
    )


_LAST_TOUCH_SQL = """
    WITH seq AS (
        SELECT user_id, event_id, event_type, EPOCH_US(ts) AS tus,
               LAST_VALUE(CASE WHEN event_type IN ('view', 'click')
                               THEN event_id END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY EPOCH_US(ts), event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_id,
               LAST_VALUE(CASE WHEN event_type IN ('view', 'click')
                               THEN EPOCH_US(ts) END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY EPOCH_US(ts), event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_tus
        FROM events
    )
    SELECT user_id, event_id AS purchase_id,
           CASE WHEN touch_tus >= tus - CAST(604800000000 AS BIGINT)
                THEN touch_id END AS attributed_touch_id
    FROM seq WHERE event_type = 'purchase'
"""


@query("attr_last_touch", oracle=_LAST_TOUCH_SQL)
def attr_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase claims the same user's
    most recent prior view/click, voided when the touch is older than
    a 7-day lookback. One window pass (last ignoreNulls over an
    unbounded-preceding frame) — no per-purchase subquery, no as-of
    join; ties at the same microsecond break on event_id.

    Scale: single shuffle on user_id, then map-side filtering; the
    window state is one struct per partition row. This is the
    batch twin of the streaming funnel's sequential semantics.
    """
    ev = _t(spark, sf_dir, "events")["events"]
    tus = F.unix_micros(F.col("ts"))
    is_touch = F.col("event_type").isin("view", "click")
    w = (
        W.partitionBy("user_id")
        .orderBy(tus, "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    touch_id = F.last(F.when(is_touch, F.col("event_id")), ignorenulls=True).over(w)
    touch_tus = F.last(F.when(is_touch, tus), ignorenulls=True).over(w)
    return (
        ev.select(
            "user_id",
            "event_id",
            "event_type",
            tus.alias("tus"),
            touch_id.alias("touch_id"),
            touch_tus.alias("touch_tus"),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.when(
                F.col("touch_tus") >= F.col("tus") - 7 * 86400 * 1000000,
                F.col("touch_id"),
            ).alias("attributed_touch_id"),
        )
    )


_PATTERN_SQL = """
    WITH seq AS (
        SELECT user_id,
               STRING_AGG(SUBSTR(event_type, 1, 1), ''
                          ORDER BY EPOCH_US(ts), event_id) AS path
        FROM events GROUP BY user_id
    )
    SELECT user_id, LENGTH(path) AS path_len,
           REGEXP_MATCHES(path, 'v[^p]*c[^p]*p') AS funnel_hit,
           REGEXP_MATCHES(path, 'ee') AS error_burst
    FROM seq
"""


@query("window_pattern_match", oracle=_PATTERN_SQL)
def window_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite: each user's ordered event-initial string
    is matched against regex patterns — view->click->purchase with no
    intervening purchase, and back-to-back errors. Encoding a user
    journey as a string turns sequence analytics into regexp work the
    engine runs codegen'd.

    Scale: one groupBy(user) building the path (collect_list sorted
    in-group, bounded by per-user event counts), then map-side regex.
    The funnel_view_to_purchase query is the window-frame spelling of
    the same idea; this is the whole-journey spelling.
    """
    ev = _t(spark, sf_dir, "events")["events"]
    path = F.concat_ws(
        "",
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.unix_micros(F.col("ts")).alias("tus"),
                        F.col("event_id").alias("eid"),
                        F.substring("event_type", 1, 1).alias("c"),
                    )
                )
            ),
            lambda s: s["c"],
        ),
    )
    return (
        ev.groupBy("user_id")
        .agg(path.alias("path"))
        .select(
            "user_id",
            F.length("path").alias("path_len"),
            F.col("path").rlike("v[^p]*c[^p]*p").alias("funnel_hit"),
            F.col("path").rlike("ee").alias("error_burst"),
        )
    )


_FINGERPRINT_SQL = """
    SELECT o_orderstatus,
           -- CAST: DuckDB SUM over BIGINT signatures is HUGEINT; above 2^53 the
           -- pandas float64 materialization would silently lose precision, so the
           -- exact-compare MUST see int64 on both sides.
           CAST(SUM((o_orderkey * 2654435761 +
                CAST(FLOOR(o_totalprice * 100) AS BIGINT)) % 1000000007)
             % 1000000007 AS BIGINT) AS fingerprint,
           COUNT(*) AS n
    FROM orders GROUP BY o_orderstatus
"""


@query("agg_table_fingerprint", oracle=_FINGERPRINT_SQL)
def agg_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive table fingerprint per partition group: each
    row maps to a modular signature (key x Knuth constant + price
    cents), the group fingerprint is the modular sum — equal data
    yields equal fingerprints regardless of row order or partitioning,
    so two engines (or two replicas) can diff a 100 TB table by
    exchanging a handful of group fingerprints. The oracle recomputes
    the identical arithmetic.

    Scale: map-side signature + partial/final sum, one shuffle on the
    group key. At ~1e12 rows the pre-mod partial sums stay < 2^63
    (1e12 x 1e9 needs the per-partition mod Spark's partial aggregate
    applies here by construction: each partial sums <=
    maxPartitionBytes worth of rows).
    """
    o = _t(spark, sf_dir, "orders")["orders"]
    sig = (
        F.col("o_orderkey") * F.lit(2654435761)
        + F.floor(F.col("o_totalprice") * 100).cast("bigint")
    ) % 1000000007
    return (
        o.groupBy("o_orderstatus")
        .agg(
            (F.sum(sig) % 1000000007).alias("fingerprint"),
            F.count("*").alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# Fixed-iteration PageRank (iterative algorithm, oracle-checked)
# ---------------------------------------------------------------------------

# Rank sums are <= 1, so a scale-12 rounding of a DECIMAL(38,15) sum is
# deterministic in both engines (unscaled value < 1e12 < 2^53 — see
# functions.exact module docstring for the rule).
def _dsum12_sql(expr: str) -> str:
    return f"CAST(ROUND(SUM(CAST(({expr}) AS DECIMAL(38,15))), 12) AS DOUBLE)"


def _pagerank_oracle(iters: int = 3) -> str:
    parts = [
        """
    WITH edges AS (
        SELECT DISTINCT 2 * o_custkey AS src, 2 * l_suppkey + 1 AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        UNION
        SELECT DISTINCT 2 * l_suppkey + 1 AS src, 2 * o_custkey AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ), outdeg AS (
        SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
    ), nn AS (
        SELECT COUNT(DISTINCT src) AS n FROM edges
    ), r0 AS (
        SELECT DISTINCT src AS node, CAST(1.0 AS DOUBLE) / n AS rank
        FROM edges CROSS JOIN nn
    )"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""", r{i} AS (
        SELECT e.dst AS node,
               CAST(0.15 AS DOUBLE) / ANY_VALUE(nn.n)
               + CAST(0.85 AS DOUBLE) * {_dsum12_sql('r.rank / o.deg')} AS rank
        FROM edges e
        JOIN r{i - 1} r ON e.src = r.node
        JOIN outdeg o ON e.src = o.src
        CROSS JOIN nn
        GROUP BY e.dst
    )"""
        )
    parts.append(
        f""", resid AS (
        SELECT CAST(ROUND(MAX(ABS(a.rank - b.rank)), 9) AS DOUBLE) AS residual
        FROM r{iters} a JOIN r{iters - 1} b ON a.node = b.node
    )
    SELECT node, ROUND(rank, 9) AS rank, residual
    FROM r{iters} CROSS JOIN resid ORDER BY rank DESC, node ASC LIMIT 20
"""
    )
    return "".join(parts)


@query("graph_pagerank", oracle=_pagerank_oracle(3))
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three PageRank iterations (d = 0.85) over the bidirected
    customer<->supplier graph induced by lineitems, top-20 nodes by
    final rank. Every per-iteration SUM goes through the scale-12
    decimal contract, so the distributed partial aggregation
    bit-matches the single-threaded oracle's three unrolled CTE
    iterations — an *iterative* algorithm under the exact-compare
    gate, not a rows-only waiver.

    Scale: the edge list shuffles once on src per iteration (join with
    the rank frontier) and once on dst (the sum); ranks and degrees are
    node-sized. Iteration count is fixed — the loop is driver-side
    control flow over lazily-composed plans, with no data ever
    collected. Connected-components (dedup_clusters) is the other
    iterative shape; this one exercises weighted propagation.
    """
    o, li = (
        _t(spark, sf_dir, "orders", "lineitem")[t] for t in ("orders", "lineitem")
    )
    pairs = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            (2 * F.col("o_custkey")).alias("cust_node"),
            (2 * F.col("l_suppkey") + 1).alias("supp_node"),
        )
        # dedup BEFORE mirroring (guide §2.3: shuffle fewer bytes): the
        # two directions of a bidirected pair are distinct iff the pair
        # is (cust/supp node ids are parity-disjoint), so one distinct
        # over |pairs| rows replaces the former distinct over the 2x
        # mirrored union — half the dedup shuffle, identical edge set
        # (measured 6.0 s -> 4.4 s end-to-end at sf0.1)
        .distinct()
    )
    edges = (
        pairs.select(F.col("cust_node").alias("src"), F.col("supp_node").alias("dst"))
        .union(
            pairs.select(
                F.col("supp_node").alias("src"), F.col("cust_node").alias("dst")
            )
        )
        # materialize once: every iteration joins the edge list, and
        # without truncation the lineage re-derives it per iteration
        # (the standard persist-the-graph step of any iterative algo)
        .transform(cut_lineage_lazy)
    )
    # node-sized; checkpointed so the three iteration joins read the
    # cached degrees instead of regrouping the edge list each time, and
    # the node count + uniform init frontier both derive from it (the
    # graph is bidirected, so every node appears as a src), replacing
    # two extra distinct aggregations over the edge list
    outdeg = edges.groupBy("src").agg(F.count("*").alias("deg")).transform(cut_lineage_lazy)
    n = outdeg.count()
    r = outdeg.select(F.col("src").alias("node"), F.lit(1.0 / n).alias("rank"))
    r_prev = r
    for _ in range(3):
        # fold rank/deg node-side first (node-sized ⋈ node-sized), so
        # the edge list pays exactly ONE join per iteration instead of
        # two; the shuffle_hash hint skips re-sorting the edge
        # partitions each iteration (SMJ sorted edge-sized data twice
        # per iteration). Together with the checkpointed outdeg this
        # took the sf0.1 hot end-to-end from 8.3 s (r2 bench) to ~5 s.
        # Hash-side partitions are per-key edge slices, which partition
        # sizing bounds at scale.
        frontier = broadcast_if_small(
            r.join(outdeg, r["node"] == outdeg["src"]).select(
                "node", (F.col("rank") / F.col("deg")).alias("share")
            ),
            sf_dir,
            "orders",
        )
        # node-sized frontier broadcast when the driving table's layout
        # bounds it (guide §3.1: the edge list is then never shuffled
        # inside the loop — measured 4.4 s -> 3.8 s on top of the
        # dedup-first edges); on a real lake layout the guard returns
        # the frame unchanged and the shuffle_hash hint keeps the
        # scale-audited per-iteration plan (broadcast hint outranks
        # shuffle_hash when both are present, so one expression serves
        # both layouts)
        contrib = (
            edges.hint("shuffle_hash")
            .join(frontier, edges["src"] == frontier["node"])
            .select("dst", F.col("share").alias("c"))
        )
        s = F.round(F.sum(F.col("c").cast("decimal(38,15)")), 12).cast("double")
        r_prev = r
        # checkpoint each iteration's node-sized result: iteration i+1
        # AND the residual both consume it, so cutting here keeps every
        # consumer on cached blocks (post-loop checkpointing instead
        # re-executed two iterations for the residual's r_prev — the
        # multi-consumer lineage rule from SCALE.md)
        r = contrib.groupBy("dst").agg(
            (F.lit(0.15) / n + F.lit(0.85) * s).alias("rank")
        ).select(F.col("dst").alias("node"), "rank").transform(cut_lineage_lazy)
    # convergence telemetry (r4 verdict ask 7): max |Δrank| between the
    # last two iterations, under the same decimal/round rules as the
    # ranks themselves, broadcast onto every output row — a 100×-scale
    # user reads it to size the iteration count (3 fixed iterations ≠
    # converged).
    resid = (
        r.join(r_prev.withColumnRenamed("rank", "prev"), "node")
        .agg(F.round(F.max(F.abs(F.col("rank") - F.col("prev"))), 9)
             .cast("double").alias("residual"))
    )
    return (
        r.orderBy(F.desc("rank"), F.asc("node"))
        .limit(20)
        .select("node", F.round("rank", 9).alias("rank"))
        .crossJoin(F.broadcast(resid))
    )


# ---------------------------------------------------------------------------
# Bitmap distinct, try_* arithmetic, OHLC resample
# ---------------------------------------------------------------------------


@query(
    "agg_bitmap_distinct",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS nd_users
    FROM events GROUP BY event_type
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counting through Spark 4's bitmap aggregate
    pipeline: user ids bucket into 32k-bit bitmaps
    (bitmap_construct_agg per bucket, bitmap_or_agg across buckets,
    bitmap_count at the end). The oracle is plain COUNT(DISTINCT) —
    the bitmap path must agree exactly, which is the point: bitmaps
    give the exactness of COUNT(DISTINCT) with the mergeability of a
    sketch (partials OR together, no expand node, no re-shuffle of raw
    ids on re-aggregation).

    Scale: per (type, bucket) partial bitmaps combine map-side; the
    final shuffle carries one bitmap per 32k-id range instead of every
    distinct id — the standard high-cardinality distinct design.
    """
    _views(spark, sf_dir, "events")
    return spark.sql(
        """
        SELECT event_type, CAST(bitmap_count(bitmap_or_agg(b)) AS BIGINT) AS nd_users
        FROM (
            -- +1: bitmap positions are 1-based, id 0 would alias id 1
            SELECT event_type,
                   bitmap_construct_agg(bitmap_bit_position(user_id + 1)) AS b
            FROM events
            GROUP BY event_type, bitmap_bucket_number(user_id + 1)
        )
        GROUP BY event_type
        """
    )


@query(
    "fn_try_arithmetic",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice / NULLIF(l_discount, 0.0) AS price_per_disc,
           CASE WHEN l_orderkey > 140000 THEN NULL
                ELSE l_orderkey * 65881228834676 END AS maybe_overflow,
           CASE WHEN l_linenumber <= 3 THEN l_linenumber * 100 END AS elem_or_null
    FROM lineitem
    """,
)
def fn_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode error-safe arithmetic: try_divide (null on /0),
    try_multiply (null on bigint overflow), try_element_at (null out
    of bounds) — the fns a pipeline uses to keep one poisoned row from
    failing a 100 TB job while staying in strict ANSI mode everywhere
    else. The oracle spells each as its guarded CASE equivalent.
    """
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    lookup = F.array(F.lit(100), F.lit(200), F.lit(300))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide(F.col("l_extendedprice"), F.col("l_discount")).alias(
            "price_per_disc"
        ),
        # factor chosen so overflow is RARE (orderkey > 140000): try_* costs
        # a caught exception per overflowing row, so a query where every
        # row overflows would serialize on exception handling — the
        # realistic contract is "keep the poisoned tail from failing the
        # job", not "overflow everywhere"
        F.try_multiply(F.col("l_orderkey"), F.lit(65881228834676)).alias("maybe_overflow"),
        F.try_element_at(lookup, F.col("l_linenumber")).cast("int").alias(
            "elem_or_null"
        ),
    )


_OHLC_SQL = """
    WITH pts AS (
        SELECT event_type,
               DATE_TRUNC('HOUR', ts) AS bar,
               value, EPOCH_US(ts) AS tus, event_id,
               ROW_NUMBER() OVER (PARTITION BY event_type, DATE_TRUNC('HOUR', ts)
                                  ORDER BY EPOCH_US(ts) ASC, event_id ASC) AS rn_a,
               ROW_NUMBER() OVER (PARTITION BY event_type, DATE_TRUNC('HOUR', ts)
                                  ORDER BY EPOCH_US(ts) DESC, event_id DESC) AS rn_d
        FROM events
    )
    SELECT event_type, bar,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high, MIN(value) AS low,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
           COUNT(*) AS n
    FROM pts GROUP BY event_type, bar
"""


@query("ts_resample_ohlc", oracle=_OHLC_SQL)
def ts_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC resampling: per (event_type, hour bar) the first/last
    (open/close, tie-broken on (ts, event_id)), extremes and count —
    the time-series downsampling shape every metrics store runs.
    Spark computes open/close with min_by/max_by over the (time, id)
    struct in ONE aggregate pass — no ranking window, no second
    shuffle; the oracle spells the same with two row_number windows.

    Scale: single partial+final hash aggregate on (type, bar); min_by
    partials carry one (key, value) pair each — constant state.
    """
    ev = _t(spark, sf_dir, "events")["events"]
    order_key = F.struct(
        F.unix_micros(F.col("ts")).alias("tus"), F.col("event_id").alias("eid")
    )
    return (
        ev.select(
            "event_type",
            F.date_trunc("HOUR", F.col("ts")).alias("bar"),
            "value",
            order_key.alias("ok"),
        )
        .groupBy("event_type", "bar")
        .agg(
            F.min_by("value", F.col("ok")).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", F.col("ok")).alias("close"),
            F.count("*").alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# Unigram-LM quality scoring, trailing distinct counts
# ---------------------------------------------------------------------------

_LM_SQL = """
    WITH tok AS (
        SELECT doc_id, t AS term FROM (
            SELECT doc_id,
                   UNNEST(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^a-z]+')) AS t
            FROM documents)
        WHERE LENGTH(t) >= 3
    ), vocab AS (
        SELECT term, COUNT(*) AS n FROM tok GROUP BY term
    ), totals AS (
        SELECT SUM(n) AS total, COUNT(*) AS v FROM vocab
    ), scored AS (
        SELECT tok.doc_id,
               LN((vocab.n + 1.0) / (totals.total + totals.v)) AS logp
        FROM tok JOIN vocab ON tok.term = vocab.term CROSS JOIN totals
    )
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           FLOOR(-CAST(ROUND(SUM(CAST(logp AS DECIMAL(38,10))), 4) AS DOUBLE)
                 / COUNT(*) * 10000 + 0.5) / 10000 AS nll_per_token
    FROM scored GROUP BY doc_id
"""


@query("text_lm_quality", oracle=_LM_SQL)
def text_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality signal: train add-one-smoothed
    token probabilities over the whole corpus, score every document by
    its mean negative log-likelihood — the classic
    out-of-distribution / gibberish detector in training-data
    pipelines (high NLL = unusual token mix). The log-prob sum goes
    through the decimal contract so the distributed sum matches the
    oracle exactly.

    Scale: vocabulary is a (term) aggregate; scoring joins tokens to
    vocab on term (zipf-bounded) and reduces per doc — two shuffles
    total, corpus never collected. The trained "model" stays a
    DataFrame; nothing ships to the driver.
    """
    d = _t(spark, sf_dir, "documents")["documents"]
    tok = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("term")
    ).filter(F.length("term") >= 3)
    vocab = tok.groupBy("term").agg(F.count("*").alias("n"))
    tot = vocab.agg(
        F.sum("n").alias("total"), F.count("*").alias("v")
    )
    logp = F.log(
        (F.col("n") + 1.0) / (F.col("total") + F.col("v"))
    )
    scored = tok.join(vocab, "term").join(F.broadcast(tot)).select(
        "doc_id", logp.alias("logp")
    )
    nll = -F.round(F.sum(F.col("logp").cast("decimal(38,10)")), 4).cast("double")
    # explicit half-up in plain double ops: F.round/DuckDB ROUND disagree
    # on double halfway cases (HALF_UP vs half-even)
    per_tok = F.floor(nll / F.count("*") * 10000 + 0.5) / 10000
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        per_tok.alias("nll_per_token"),
    )


_ROLLING_DISTINCT_SQL = """
    WITH o AS (
        SELECT user_id, event_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY EPOCH_US(ts), event_id) AS rn
        FROM events
    )
    SELECT a.user_id, a.event_id,
           COUNT(DISTINCT b.event_type) AS nd_types_trailing10
    FROM o a JOIN o b
      ON a.user_id = b.user_id AND b.rn BETWEEN a.rn - 9 AND a.rn
    GROUP BY a.user_id, a.event_id
"""


@query("window_distinct_rolling", oracle=_ROLLING_DISTINCT_SQL)
def window_distinct_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing distinct count — how many distinct event types in each
    user's last 10 events — a window shape SQL cannot express directly
    (COUNT(DISTINCT) OVER a frame is unsupported everywhere): Spark
    computes it as size(array_distinct(collect_list)) over a ROWS
    frame; the oracle is the banded self-join equivalent.

    Scale: one shuffle on user_id; frame state is <=10 elements per
    row. The engine-side form never materializes the pair expansion
    the oracle spells out.
    """
    ev = _t(spark, sf_dir, "events")["events"]
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")), "event_id")
        .rowsBetween(-9, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.size(F.array_distinct(F.collect_list("event_type").over(w)))
        .cast("bigint")
        .alias("nd_types_trailing10"),
    )


_ISLANDS_SQL = """
    WITH o AS (
        SELECT user_id, event_type, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY EPOCH_US(ts), event_id) AS rn,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY EPOCH_US(ts), event_id) AS rn_t
        FROM events
    )
    SELECT user_id, event_type,
           COUNT(*) AS run_len,
           MIN(event_id) AS first_event,
           MAX(event_id) AS last_event
    FROM o
    GROUP BY user_id, event_type, rn - rn_t
    HAVING COUNT(*) >= 2
"""


@query("window_gaps_islands", oracle=_ISLANDS_SQL)
def window_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of consecutive same-type events
    per user via the classic rn - rn_per_type difference (constant
    within a run, changes at every break), keeping runs of length >= 2.
    Sessionize finds time gaps; this finds *value* runs — the other
    half of the islands toolbox (outage spans, streak analytics).

    Scale: two windows over the same (user) shuffle — Catalyst reuses
    the exchange for both since they share partitioning — then one
    aggregate on the derived island key.
    """
    ev = _t(spark, sf_dir, "events")["events"]
    tus = F.unix_micros(F.col("ts"))
    w_all = W.partitionBy("user_id").orderBy(tus, "event_id")
    w_typ = W.partitionBy("user_id", "event_type").orderBy(tus, "event_id")
    return (
        ev.select(
            "user_id",
            "event_type",
            "event_id",
            (F.row_number().over(w_all) - F.row_number().over(w_typ)).alias("island"),
        )
        .groupBy("user_id", "event_type", "island")
        .agg(
            F.count("*").alias("run_len"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
        )
        .filter(F.col("run_len") >= 2)
        .drop("island")
    )


_WINSORIZE_SQL = """
    WITH bounds AS (
        SELECT l_returnflag,
               CAST(PERCENTILE_DISC(0.05) WITHIN GROUP (ORDER BY l_extendedprice)
                    AS DOUBLE) AS lo,
               CAST(PERCENTILE_DISC(0.95) WITHIN GROUP (ORDER BY l_extendedprice)
                    AS DOUBLE) AS hi
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT li.l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN l_extendedprice < lo OR l_extendedprice > hi
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
           {WINS_SUM} AS sum_winsorized
    FROM lineitem li JOIN bounds ON li.l_returnflag = bounds.l_returnflag
    GROUP BY li.l_returnflag
"""


@query(
    "agg_winsorize",
    oracle=_WINSORIZE_SQL.replace(
        "{WINS_SUM}",
        "CAST(ROUND(SUM(CAST(LEAST(GREATEST(l_extendedprice, lo), hi)"
        " AS DECIMAL(38,10))), 4) AS DOUBLE)",
    ),
)
def agg_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust statistics: clip extended price to each
    group's [p5, p95] (PERCENTILE_DISC picks real data values, so the
    bounds are exact), count the clipped tail and sum the clipped
    column under the decimal contract — the outlier-robust
    pre-aggregation every metrics pipeline applies before averaging
    heavy-tailed values.

    Scale: the bounds table is |groups| rows and broadcasts back onto
    the fact scan; one aggregate pass each side — no sort of the fact
    table (percentile_disc aggregates per group, no global order).
    """
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    _views(spark, sf_dir, "lineitem")
    bounds = spark.sql(
        """
        SELECT l_returnflag,
               CAST(PERCENTILE_DISC(0.05) WITHIN GROUP (ORDER BY l_extendedprice)
                    AS DOUBLE) AS lo,
               CAST(PERCENTILE_DISC(0.95) WITHIN GROUP (ORDER BY l_extendedprice)
                    AS DOUBLE) AS hi
        FROM lineitem GROUP BY l_returnflag
        """
    )
    clipped = F.least(F.greatest(F.col("l_extendedprice"), F.col("lo")), F.col("hi"))
    out_of_band = (F.col("l_extendedprice") < F.col("lo")) | (
        F.col("l_extendedprice") > F.col("hi")
    )
    return (
        li.join(F.broadcast(bounds), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(out_of_band, 1).otherwise(0)).alias("n_clipped"),
            F.round(F.sum(clipped.cast("decimal(38,10)")), 4)
            .cast("double")
            .alias("sum_winsorized"),
        )
    )


@query(
    "fn_variant",
    oracle="""
    SELECT event_id,
           CAST(JSON_EXTRACT(props, '$.k') AS BIGINT) AS k,
           CAST(JSON_EXTRACT(props, '$.k') AS BIGINT) IS NOT NULL AS has_k,
           CAST(NULL AS VARCHAR) AS missing_field,  -- typed: bare NULL -> float64 in pandas
           'OBJECT' AS v_kind
    FROM events
    """,
)
def fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT semi-structured type: parse props into a
    variant, read typed paths with variant_get / try_variant_get
    (null, not error, on absent paths), and classify the value kind
    from schema_of_variant. The oracle reads the same answers straight
    from the JSON text — variant must be a lossless, faster container,
    not a different answer.

    Scale: variant parses once per row into a compact binary form;
    repeated path reads skip re-parsing the JSON text (the win over
    get_json_object chains), all inside codegen.
    """
    ev = _t(spark, sf_dir, "events")["events"]
    return ev.select(
        "event_id",
        F.expr("variant_get(parse_json(props), '$.k', 'bigint')").alias("k"),
        F.expr("variant_get(parse_json(props), '$.k', 'bigint') IS NOT NULL").alias(
            "has_k"
        ),
        F.expr("try_variant_get(parse_json(props), '$.absent', 'string')").alias(
            "missing_field"
        ),
        F.expr(
            "CASE WHEN schema_of_variant(parse_json(props)) LIKE 'OBJECT%'"
            " THEN 'OBJECT' ELSE 'OTHER' END"
        ).alias("v_kind"),
    )


@query(
    "setop_all_variants",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT ALL
    SELECT o_custkey FROM orders WHERE o_totalprice > 100000
    UNION ALL
    (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
     EXCEPT ALL
     SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
    """,
)
def setop_all_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set operations (INTERSECT ALL / EXCEPT ALL):
    multiplicity-preserving variants the DISTINCT forms
    (setop_intersect_except) cannot express — the right tool when a
    key legitimately repeats and the repeat count carries meaning.

    Scale: Catalyst plans both as aggregate+join on per-key counts
    (min for intersect, difference for except) — one shuffle each, no
    row-by-row matching.
    """
    _views(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        INTERSECT ALL
        SELECT o_custkey FROM orders WHERE o_totalprice > 100000
        UNION ALL
        (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         EXCEPT ALL
         SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        """
    )


@query(
    "join_null_safe",
    oracle="""
    WITH l AS (
        SELECT event_id,
               CASE WHEN event_type = 'error' THEN NULL ELSE user_id END AS uid
        FROM events WHERE event_id % 5 = 0
    ), r AS (
        SELECT user_id AS uid, COUNT(*) AS n_events
        FROM events GROUP BY user_id
        UNION ALL
        SELECT NULL AS uid, -1 AS n_events
    )
    SELECT l.event_id, l.uid, r.n_events
    FROM l JOIN r ON l.uid IS NOT DISTINCT FROM r.uid
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other instead of vanishing — how an "unattributed"
    bucket joins to its catch-all row without COALESCE sentinels.

    Scale: <=> is a hash-joinable condition (null hashes to its own
    bucket); the plan stays a plain shuffled hash join, no
    null-expansion or fallback to nested loops.
    """
    ev = _t(spark, sf_dir, "events")["events"]
    left = ev.filter(F.col("event_id") % 5 == 0).select(
        "event_id",
        F.when(F.col("event_type") == "error", F.lit(None))
        .otherwise(F.col("user_id"))
        .alias("uid"),
    )
    right = (
        ev.groupBy(F.col("user_id").alias("uid"))
        .agg(F.count("*").alias("n_events"))
        .unionByName(
            ev.sparkSession.createDataFrame([(None, -1)], "uid bigint, n_events bigint")
        )
    )
    return left.join(right, left["uid"].eqNullSafe(right["uid"])).select(
        "event_id", left["uid"].alias("uid"), "n_events"
    )


# ---------------------------------------------------------------------------
# Incremental txlog rollup under the correctness gate; value-range frames
# ---------------------------------------------------------------------------


@query(
    "agg_rollup_incremental",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,10))), 4) AS DOUBLE)
             AS total_price,
           MIN(o_totalprice) AS lo,
           MAX(o_totalprice) AS hi
    FROM orders GROUP BY o_orderstatus, o_orderpriority
    """,
)
def agg_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-rollup machinery under the exact-compare gate:
    refresh the orders file into a scratch txlog table (exactly once by
    source file), fold it into a CDF-maintained rollup, maintain it a
    second time (must apply nothing), and return the read-back — which
    must hash-match a direct GROUP BY. Proves the signed-delta sum/count
    and insert-only min/max merge end to end, not just in unit tests.

    Scale: a refresh reads only files no commit has incorporated, and a
    maintenance step folds only the new commits' change feed into the
    touched groups; see incremental.py for the 100 TB argument.
    """
    import shutil
    import tempfile

    from es_analytics_spark.incremental import (
        maintain_rollup,
        read_rollup,
        refresh_enriched_view,
    )

    keys = ["o_orderstatus", "o_orderpriority"]
    measures = {
        "n": ("count", None),
        "total_price": ("sum", "price_dec"),
        "lo": ("min", "o_totalprice"),
        "hi": ("max", "o_totalprice"),
    }
    tmp = tempfile.mkdtemp(prefix="rollup_q_")
    src, roll = f"{tmp}/orders", f"{tmp}/rollup"
    try:
        refresh_enriched_view(
            spark,
            f"{sf_dir}/orders.parquet",
            src,
            lambda df: df.select(
                *keys,
                "o_totalprice",
                # decimal sums merge order-independently (functions.exact.dsum)
                F.col("o_totalprice").cast("decimal(38,10)").alias("price_dec"),
            ),
        )
        maintain_rollup(spark, src, roll, keys, measures)
        second = maintain_rollup(spark, src, roll, keys, measures)
        assert second["applied"] == 0  # idempotence is part of the contract
        out = read_rollup(spark, roll).select(
            *keys,
            "n",
            F.round("total_price", 4).cast("double").alias("total_price"),
            "lo",
            "hi",
        )
        # materialize before the temp dir vanishes
        pdf = out.toPandas()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(pdf, out.schema)


@query(
    "window_range_value_frame",
    oracle="""
    SELECT s_suppkey, s_acctbal,
           COUNT(*) OVER (PARTITION BY s_nationkey ORDER BY s_acctbal
                          RANGE BETWEEN 500.0 PRECEDING AND 500.0 FOLLOWING)
             AS n_peers_within_500
    FROM supplier
    """,
)
def window_range_value_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based RANGE frame over a numeric (non-time) order key: for
    each supplier, how many same-nation suppliers hold an account
    balance within +-500 — peer-density without a self-join.
    Complements window_range_interval (time-valued RANGE).

    Scale: one shuffle on nationkey; the frame is maintained by two
    moving pointers over the sorted run — O(n) per partition, state is
    the frame boundary, never the frame contents.
    """
    # DataFrame rangeBetween only accepts integral offsets; the SQL
    # form supports fractional range bounds, so this query IS the SQL
    _views(spark, sf_dir, "supplier")
    return spark.sql(
        """
        SELECT s_suppkey, s_acctbal,
               COUNT(*) OVER (PARTITION BY s_nationkey ORDER BY s_acctbal
                              RANGE BETWEEN 500.0 PRECEDING AND 500.0 FOLLOWING)
                 AS n_peers_within_500
        FROM supplier
        """
    )


# ---------------------------------------------------------------------------
# k-NN label vote, distribution entropy
# ---------------------------------------------------------------------------

_PAIR_COS = """
    LIST_REDUCE(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(q.embedding)),
                               i -> q.embedding[i] * c.embedding[i]),
                (a, b) -> a + b)
    / (SQRT(LIST_REDUCE(LIST_TRANSFORM(q.embedding, x -> x * x), (a, b) -> a + b))
       * SQRT(LIST_REDUCE(LIST_TRANSFORM(c.embedding, x -> x * x), (a, b) -> a + b)))
"""

_KNN_SQL = f"""
    WITH q AS (SELECT * FROM embeddings WHERE vec_id < 10),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                  ORDER BY ROUND(CAST({_PAIR_COS} AS DOUBLE), 6) DESC,
                                           c.vec_id ASC) AS rn
        FROM q JOIN embeddings c ON q.vec_id <> c.vec_id
    ), votes AS (
        SELECT query_id, label, COUNT(*) AS n
        FROM scored WHERE rn <= 5 GROUP BY query_id, label
    )
    SELECT v.query_id, v.label AS predicted_label, e.label AS true_label
    FROM (SELECT query_id, label,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY n DESC, label ASC) AS vr
          FROM votes) v
    JOIN embeddings e ON e.vec_id = v.query_id
    WHERE v.vr = 1
"""


@query("sim_knn_classify", oracle=_KNN_SQL)
def sim_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification: each query vector takes the majority label
    of its 5 nearest neighbors (cosine, self excluded; ties break on
    count then label) — the similarity stack applied to an actual ML
    task, exact-checked against DuckDB computing the same ranks from
    list arithmetic.

    Scale: the query side is small by contract (broadcast); swap the
    brute-force scoring for sim_lsh_bucketed / sim_ivf_topk / sim_pq_topk
    candidates at corpus scale — the vote is the same |q|x k aggregate.
    """
    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        "label",
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    ip = F.expr("aggregate(zip_with(qv, cv, (a, b) -> a * b), 0D, (acc, x) -> acc + x)")
    qn = F.expr("sqrt(aggregate(qv, 0D, (acc, x) -> acc + x * x))")
    cn = F.expr("sqrt(aggregate(cv, 0D, (acc, x) -> acc + x * x))")
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "label",
            F.round(ip / (qn * cn), 6).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    votes = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .groupBy("query_id", "label")
        .agg(F.count("*").alias("n"))
    )
    wv = W.partitionBy("query_id").orderBy(F.desc("n"), F.asc("label"))
    pred = (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select("query_id", F.col("label").alias("predicted_label"))
    )
    truth = e.select(F.col("vec_id").alias("query_id"), F.col("label").alias("true_label"))
    return pred.join(truth, "query_id")


_ENTROPY_SQL = """
    WITH cnt AS (
        SELECT user_id, event_type, COUNT(*) AS n FROM events
        GROUP BY user_id, event_type
    ), tot AS (
        SELECT user_id, SUM(n) AS total FROM cnt GROUP BY user_id
    )
    SELECT cnt.user_id,
           CAST(ROUND(SUM(CAST(
               -(CAST(n AS DOUBLE) / total) * LN(CAST(n AS DOUBLE) / total)
               AS DECIMAL(38,10))), 6) AS DOUBLE) AS type_entropy,
           CAST(COUNT(*) AS BIGINT) AS n_types
    FROM cnt JOIN tot ON cnt.user_id = tot.user_id
    GROUP BY cnt.user_id
"""


@query("agg_entropy", oracle=_ENTROPY_SQL)
def agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type distribution — the
    behavioral-diversity signal (bots: near 0, organic users: higher).
    Per-term -p ln p rides the decimal contract so the distributed sum
    is exact.

    Scale: two chained aggregates on user_id (counts, then the entropy
    reduce) — the second reuses the first's partitioning, no extra
    shuffle.
    """
    ev = _t(spark, sf_dir, "events")["events"]
    cnt = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    tot = cnt.groupBy("user_id").agg(F.sum("n").alias("total"))
    p = F.col("n").cast("double") / F.col("total")
    term = (-p * F.log(p)).cast("decimal(38,10)")
    return (
        cnt.join(tot, "user_id")
        .groupBy("user_id")
        .agg(
            F.round(F.sum(term), 6).cast("double").alias("type_entropy"),
            F.count("*").cast("bigint").alias("n_types"),
        )
    )


_ANOMALY_SQL = """
    WITH o AS (
        SELECT user_id, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY EPOCH_US(ts), event_id) AS rn
        FROM events
    ), framed AS (
        SELECT a.user_id, a.event_id, a.value,
               COUNT(*) AS n,
               CAST(ROUND(SUM(CAST(b.value AS DECIMAL(38,10))), 6) AS DOUBLE) AS s1,
               CAST(ROUND(SUM(CAST(b.value * b.value AS DECIMAL(38,10))), 6)
                    AS DOUBLE) AS s2
        FROM o a JOIN o b
          ON a.user_id = b.user_id AND b.rn BETWEEN a.rn - 19 AND a.rn
        GROUP BY a.user_id, a.event_id, a.value
    )
    SELECT user_id, event_id,
           FLOOR((value - s1 / n)
                 / SQRT(GREATEST(s2 / n - (s1 / n) * (s1 / n), 1e-9))
                 * 10000 + 0.5) / 10000 AS zscore,
           n AS frame_n
    FROM framed WHERE n >= 10
"""


@query("ts_anomaly_zscore", oracle=_ANOMALY_SQL)
def ts_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly signal: each event scored against the
    mean/stddev of its user's trailing 20 values (population moments
    from decimal-exact frame sums of x and x², variance floored at
    1e-9, explicit half-up rounding) — frames shorter than 10 are
    suppressed as unstable. The moment sums are decimal-contract, so
    the arithmetic after them is identical IEEE in both engines.

    Scale: one shuffle on user_id; two window sums over the same
    bounded ROWS frame (the oracle spells them as a banded self-join).
    """
    ev = _t(spark, sf_dir, "events")["events"]
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")), "event_id")
        .rowsBetween(-19, 0)
    )
    n = F.count("*").over(w)
    s1 = F.round(F.sum(F.col("value").cast("decimal(38,10)")).over(w), 6).cast("double")
    s2 = F.round(
        F.sum((F.col("value") * F.col("value")).cast("decimal(38,10)")).over(w), 6
    ).cast("double")
    mean = s1 / n
    var = F.greatest(s2 / n - mean * mean, F.lit(1e-9))
    z = F.floor((F.col("value") - mean) / F.sqrt(var) * 10000 + F.lit(0.5)) / 10000
    return (
        ev.select(
            "user_id",
            "event_id",
            z.alias("zscore"),
            n.cast("bigint").alias("frame_n"),
        )
        .filter(F.col("frame_n") >= 10)
    )


@query("mm_near_dup", oracle=None)  # decode/featurize not SQL-expressible
def mm_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal near-duplicate pairs: documents' text bytes stand in
    for media payloads (the container has no codec libs — the
    dataflow, bucketing, and verify join are the real thing; only the
    decoder is the deterministic byte-histogram stub). Signature-
    bucketed candidates, exact cosine verify; recall/precision pinned
    by tests/test_multimodal.py::test_media_near_dup_pairs."""
    from es_analytics_spark.operators.multimodal import media_near_dup_pairs

    # the decode+pool mapInPandas pass runs in the scan stage (one task
    # on a single-file layout) — fan out first (guide §2.2; layout-
    # gated no-op on a lake)
    d = fan_out(
        _t(spark, sf_dir, "documents")["documents"],
        sf_dir,
        "documents",
        "doc_id",
        weight=8,
    )
    media = d.select(
        F.col("doc_id").alias("mid"), F.encode("text", "utf-8").alias("payload")
    )
    # word-soup fixtures share an alphabet, so histograms sit close
    # together; 0.9999 separates genuinely re-encoded-level variants
    return media_near_dup_pairs(media, "payload", "mid", threshold=0.9999)


@query(
    "stream_windowed_topk",
    mutates_conf=True,
    oracle="""
    WITH counts AS (
        SELECT DATE_TRUNC('hour', ts) AS window_start, event_type,
               COUNT(*) AS n_events
        FROM events GROUP BY 1, 2
    )
    SELECT window_start, event_type, n_events
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start
                                       ORDER BY n_events DESC, event_type ASC) AS rn
          FROM counts) r
    WHERE rn <= 3
    """,
)
def stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming trending-now: the STREAMING engine maintains tumbling
    per-type counts; the rank (top-3 types per hour) runs as a batch
    step over the replayed window state — the standard split, since
    rank-over-window-results isn't expressible inside a streaming agg
    (it would need a second stateful pass per trigger). foreachBatch
    would publish these per micro-batch in production.

    Scale: streaming state is |windows x types|; the rank is a window
    over that (already small) result, not over raw events.
    """
    from es_analytics_spark.streaming.ingest import (
        replay_stream,
        stream_events,
        windowed_event_counts,
    )

    ev = stream_events(spark, sf_dir)
    counts = replay_stream(
        spark,
        windowed_event_counts(ev, "1 hour"),
        name="stream_windowed_topk",
        output_mode="complete",
    )
    w = W.partitionBy("window_start").orderBy(F.desc("n_events"), F.asc("event_type"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("window_start", "event_type", "n_events")
    )


@query(
    "fn_xml",
    oracle="""
    SELECT event_id,
           event_id AS xml_id,
           CAST(FLOOR(value * 100) AS BIGINT) AS cents,
           event_type AS etype
    FROM events
    """,
)
def fn_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML round-trip: serialize event fields into an XML fragment,
    parse it back with from_xml (attribute + element extraction) and
    one xpath_* probe — proving the XML path is lossless against an
    oracle that reads the same answers straight from the columns
    (the fn_map_higher_order proof pattern, applied to XML).

    Scale: string build + parse are per-row expressions inside
    codegen; no UDF, no shuffle beyond the scan.
    """
    # the per-row XML build+parse is the whole query and it runs in the
    # scan stage (one task on a single-file layout) — fan out first
    # (guide §2.2; layout-gated no-op on a lake)
    ev = fan_out(
        _t(spark, sf_dir, "events")["events"], sf_dir, "events", "event_id", weight=4
    )
    xml = F.concat(
        F.lit('<e id="'),
        F.col("event_id"),
        F.lit('"><c>'),
        F.floor(F.col("value") * 100).cast("bigint"),
        F.lit("</c><t>"),
        F.col("event_type"),
        F.lit("</t></e>"),
    )
    parsed = F.from_xml(xml, "_id BIGINT, c BIGINT, t STRING")
    return ev.select(
        "event_id",
        parsed.getField("_id").alias("xml_id"),
        parsed.getField("c").alias("cents"),
        F.expr(
            "xpath_string(concat('<e><t>', event_type, '</t></e>'), '/e/t')"
        ).alias("etype"),
    )


_SCD2_SQL = """
    WITH scd AS (
        SELECT user_id, event_type AS state, EPOCH_US(ts) AS valid_from,
               COALESCE(LEAD(EPOCH_US(ts)) OVER (PARTITION BY user_id
                                                 ORDER BY EPOCH_US(ts), event_id),
                        9223372036854775807) AS valid_to
        FROM events WHERE event_type IN ('signup', 'click', 'view')
    ), probes AS (
        SELECT user_id, event_id AS purchase_id, EPOCH_US(ts) AS at_us
        FROM events WHERE event_type = 'purchase'
    )
    SELECT p.user_id, p.purchase_id, s.state
    FROM probes p JOIN scd s
      ON p.user_id = s.user_id
     AND p.at_us >= s.valid_from AND p.at_us < s.valid_to
"""


@query("join_scd2_pointintime", oracle=_SCD2_SQL)
def join_scd2_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) point-in-time join: the
    mutable "user state" dimension is DERIVED from the event log
    (validity ranges via lead(), open-ended last version), then each
    purchase joins the version valid at its instant — the warehouse
    pattern behind "which plan was the user on when they bought".

    Scale: building the SCD is one window over user_id; the
    point-in-time join is equi on user_id plus a range predicate the
    planner evaluates inside the hash-join post-filter — versions per
    user are few, so the per-key fanout stays small (this is the same
    shape as join_range, keyed). join_asof computes the same answer
    without materializing versions; SCD2 is the right half when the
    dimension is reused across many fact tables.
    """
    ev = _t(spark, sf_dir, "events")["events"]
    tus = F.unix_micros(F.col("ts"))
    w = W.partitionBy("user_id").orderBy(tus, "event_id")
    scd = (
        ev.filter(F.col("event_type").isin("signup", "click", "view"))
        .select(
            "user_id",
            F.col("event_type").alias("state"),
            tus.alias("valid_from"),
            F.coalesce(
                F.lead(tus).over(w), F.lit(9223372036854775807)
            ).alias("valid_to"),
        )
    )
    probes = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), tus.alias("at_us")
    )
    return probes.join(
        scd,
        (probes["user_id"] == scd["user_id"])
        & (probes["at_us"] >= scd["valid_from"])
        & (probes["at_us"] < scd["valid_to"]),
    ).select(probes["user_id"], "purchase_id", "state")


def _tws_available() -> bool:
    """transformWithState's Python worker speaks protobuf to the state
    server; the API exists but is unusable where google.protobuf is
    absent (this sandbox). Gate registration so the catalog only
    declares what the environment can actually run — the operator
    itself (streaming/stateful.running_user_profiles_tws) is complete
    and activates wherever protobuf is installed."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


_TWS_ORACLE = """
    SELECT user_id, COUNT(*) AS n_events,
           ROUND(SUM(CAST(value AS DECIMAL(38,10))), 4)::DOUBLE AS total_value,
           MAX(ts) AS last_ts
    FROM events GROUP BY user_id
"""


def stream_tws_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user profiles on Spark 4's transformWithState
    (StatefulProcessor + typed ValueState) — same contract and oracle
    as stream_stateful_profiles on the legacy applyInPandasWithState,
    proving the stateful surface across both API generations."""
    from es_analytics_spark.streaming.ingest import replay_stream, stream_events
    from es_analytics_spark.streaming.stateful import running_user_profiles_tws

    ev = stream_events(spark, sf_dir)
    out = replay_stream(
        spark,
        running_user_profiles_tws(ev),
        name="stream_tws_profiles",
        output_mode="append",
    )
    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "n_events", "total_value", "last_ts")
    )


if _tws_available():
    query("stream_tws_profiles", oracle=_TWS_ORACLE, mutates_conf=True)(
        stream_tws_profiles
    )


@query(
    "ml_chunk_documents",
    oracle="""
    SELECT doc_id, chunk_id,
           SUBSTR(text, (chunk_id - 1) * 180 + 1, 200) AS chunk,
           LENGTH(SUBSTR(text, (chunk_id - 1) * 180 + 1, 200)) AS chunk_len
    FROM (
        SELECT doc_id, text,
               UNNEST(GENERATE_SERIES(1,
                      CAST(CEIL(GREATEST(LENGTH(text) - 20, 1) / 180.0) AS BIGINT)))
                 AS chunk_id
        FROM documents)
    """,
)
def ml_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-prep chunking: slice every document into 200-char
    windows with 20-char overlap (stride 180) — the step between
    cleaning and tokenization in an LLM data pipeline; overlap
    preserves cross-boundary context. Chunk count =
    ceil((len - overlap) / stride), so the final partial window is
    kept and no empty trailing chunk is emitted.

    Scale: pure map-side explode (sequence + substring inside
    codegen); a 100 TB corpus chunks without any shuffle at all —
    downstream tokenize/pack stages decide the partitioning.
    """
    d = _t(spark, sf_dir, "documents")["documents"]
    n_chunks = F.ceil(
        F.greatest(F.length("text") - 20, F.lit(1)) / F.lit(180.0)
    ).cast("bigint")
    chunks = d.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(1).cast("bigint"), n_chunks)).alias("chunk_id"),
    )
    piece = F.substring(
        F.col("text"), ((F.col("chunk_id") - 1) * 180 + 1).cast("int"), 200
    )
    return chunks.select(
        "doc_id",
        "chunk_id",
        piece.alias("chunk"),
        F.length(piece).alias("chunk_len"),
    )


_COHORT_SQL = """
    WITH firsts AS (
        SELECT user_id, MIN(DATE_TRUNC('week', ts)) AS cohort_week
        FROM events GROUP BY user_id
    ), activity AS (
        SELECT DISTINCT e.user_id, f.cohort_week,
               CAST(DATEDIFF('day', f.cohort_week, DATE_TRUNC('week', e.ts)) / 7
                    AS BIGINT) AS week_offset
        FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT cohort_week, week_offset, COUNT(*) AS n_active_users
    FROM activity GROUP BY cohort_week, week_offset
"""


@query("retention_cohort_matrix", oracle=_COHORT_SQL)
def retention_cohort_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle: users grouped by first-seen
    week, counted once per (cohort, weeks-since-cohort) cell — the
    matrix behind every product retention chart
    (retention_next_day is the daily point estimate; this is the full
    surface).

    Scale: first-seen is one user_id aggregate; the activity dedup is
    a (user, offset) distinct that reuses the user_id shuffle; the
    final cell count aggregates a users x weeks-sized (small) set.
    """
    ev = _t(spark, sf_dir, "events")["events"]
    firsts = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("week", F.col("ts"))).alias("cohort_week")
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                / 7
            )
            .cast("bigint")
            .alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.count("*").alias("n_active_users")
    )


_HYBRID_SQL = f"""
    WITH corpus AS (
        SELECT e.vec_id, e.embedding, d.lang, d.source
        FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
        WHERE d.lang = 'en' AND d.n_chars >= 150
    ), q AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5
    )
    SELECT query_id, neighbor_id, lang, source, cosine, rn AS rank
    FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.lang, c.source,
               ROUND(CAST({_PAIR_COS.replace('c.embedding', 'c.embedding')} AS DOUBLE), 6) AS cosine,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                  ORDER BY ROUND(CAST({_PAIR_COS} AS DOUBLE), 6) DESC,
                                           c.vec_id ASC) AS rn
        FROM q JOIN corpus c ON q.vec_id <> c.vec_id
    ) r WHERE rn <= 3
"""


@query("sim_hybrid_search", oracle=_HYBRID_SQL)
def sim_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid (filtered) vector search: metadata predicate first
    (lang = 'en', length >= 150 — pushed to the parquet scan), cosine
    top-3 among survivors second. Pre-filtering is the scale-correct
    order when the filter is selective: the ANN index never sees
    excluded rows, and recall is exact over the eligible set —
    post-filtering an unfiltered top-k can return < k or miss eligible
    neighbors entirely. With a permissive filter, swap in the
    LSH/IVF/PQ candidate paths and verify-filter after.

    Scale: corpus-side filter + broadcast of the (small) query set;
    one rank window on query_id — same shape as sim_cosine_topk plus
    the metadata join, which broadcasts documents' two columns.
    """
    d, e = (
        _t(spark, sf_dir, "documents", "embeddings")[t]
        for t in ("documents", "embeddings")
    )
    corpus = (
        e.join(d, e["vec_id"] == d["doc_id"])
        .filter((F.col("lang") == "en") & (F.col("n_chars") >= 150))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            "lang",
            "source",
            F.col("embedding").cast("array<double>").alias("cv"),
        )
    )
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    ip = F.expr("aggregate(zip_with(qv, cv, (a, b) -> a * b), 0D, (acc, x) -> acc + x)")
    qn = F.expr("sqrt(aggregate(qv, 0D, (acc, x) -> acc + x * x))")
    cn = F.expr("sqrt(aggregate(cv, 0D, (acc, x) -> acc + x * x))")
    scored = (
        F.broadcast(q)
        .join(corpus, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "lang",
            "source",
            F.round(ip / (qn * cn), 6).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "lang", "source", "cosine", "rank")
    )


@query(
    "fn_timezone",
    oracle="""
    SELECT event_id,
           ts + INTERVAL 9 HOUR AS tokyo_wall,
           ts + INTERVAL 330 MINUTE AS kolkata_wall,
           ts - INTERVAL 9 HOUR AS from_tokyo_utc
    FROM events
    """,
)
def fn_timezone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timezone conversions through the engine's tz database
    (from_utc_timestamp / to_utc_timestamp / convert_timezone),
    checked against pure interval arithmetic for DST-free zones
    (Tokyo +9, Kolkata +5:30) — the oracle needs no tz database, so a
    wrong or stale tzdata on the engine side cannot silently pass.

    Scale: per-row codegen expressions; nothing shuffles.
    """
    ev = _t(spark, sf_dir, "events")["events"]
    return ev.select(
        "event_id",
        F.from_utc_timestamp(F.col("ts"), "Asia/Tokyo").alias("tokyo_wall"),
        F.expr("convert_timezone('UTC', 'Asia/Kolkata', ts)").alias("kolkata_wall"),
        F.to_utc_timestamp(F.col("ts"), "Asia/Tokyo").alias("from_tokyo_utc"),
    )


@query(
    "fn_collation",
    oracle="""
    SELECT LOWER(event_type) AS etype_ci, COUNT(*) AS n
    FROM (
        SELECT event_type FROM events
        UNION ALL
        SELECT UPPER(SUBSTR(event_type, 1, 1)) || SUBSTR(event_type, 2) FROM events
    )
    GROUP BY 1
    """,
)
def fn_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 collations: mixed-case values (raw + initcap'd) group
    under UTF8_LCASE as one key per logical type — the declarative
    alternative to scattering LOWER() through every predicate. The
    oracle computes the same with explicit LOWER, pinning that the
    collation's equality relation matches ASCII case-folding here.

    Scale: collation comparisons stay codegen'd; grouping by a collated
    column shuffles on the collation key like any other groupBy.
    """
    _views(spark, sf_dir, "events")
    return spark.sql(
        """
        SELECT LOWER(ANY_VALUE(etype)) AS etype_ci, COUNT(*) AS n
        FROM (
            SELECT event_type COLLATE UTF8_LCASE AS etype FROM events
            UNION ALL
            SELECT INITCAP(event_type) COLLATE UTF8_LCASE FROM events
        )
        GROUP BY etype
        """
    )


@query("text_compression_quality", oracle=None)  # zlib not SQL-expressible
def text_compression_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal (RefinedWeb-style): zlib ratio
    per document plus a repetitive/normal/incompressible band. Not
    SQL-expressible (no DuckDB zlib) — invariants pinned by
    tests/test_operators.py::test_compression_ratio_orders_repetition."""
    from es_analytics_spark.operators.text import with_compression_ratio

    d = _t(spark, sf_dir, "documents")["documents"]
    scored = with_compression_ratio(d, "text", keep=["doc_id", "source"])
    return scored.select(
        "doc_id",
        "source",
        "compression_ratio",
        F.when(F.col("compression_ratio") < 0.3, "repetitive")
        .when(F.col("compression_ratio") < 0.7, "normal")
        .otherwise("incompressible")
        .alias("band"),
    )


@query(
    "agg_grouping_id",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus) AS g_status,
           GROUPING(o_orderpriority) AS g_priority,
           COUNT(*) AS n
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING() markers on a ROLLUP: the flags that distinguish "NULL
    because this row is a subtotal" from "NULL in the data" — without
    them rollup output is ambiguous the moment a grouping column is
    nullable.

    Scale: same expand + partial/final agg as agg_rollup; the markers
    are free bits in the grouping-set id.
    """
    o = _t(spark, sf_dir, "orders")["orders"]
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("tinyint").alias("g_status"),
            F.grouping("o_orderpriority").cast("tinyint").alias("g_priority"),
            F.count("*").alias("n"),
        )
        .select("o_orderstatus", "o_orderpriority", "g_status", "g_priority", "n")
    )


@query(
    "window_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type AS from_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY EPOCH_US(ts), event_id) AS to_type
        FROM events
    )
    SELECT from_type, to_type, COUNT(*) AS n_transitions
    FROM seq WHERE to_type IS NOT NULL
    GROUP BY from_type, to_type
    """,
)
def window_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-transition matrix (the Markov counts behind user-flow
    sankeys): consecutive event pairs per user via lead(), aggregated
    into (from, to) cells. Diagonal cells are repetition, heavy
    error->error cells are retry storms — one query feeds all of it.

    Scale: one user_id shuffle for the lead window, then a tiny
    |types|^2 aggregate.
    """
    ev = _t(spark, sf_dir, "events")["events"]
    w = W.partitionBy("user_id").orderBy(F.unix_micros(F.col("ts")), "event_id")
    return (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n_transitions"))
    )


_FILTER_WINDOW_SQL = """
    SELECT user_id,
           COUNT(*) AS n_all,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
           COUNT(*) FILTER (WHERE event_type = 'error') AS n_errors,
           CAST(MAX(rank_in_user) AS BIGINT) AS n_ranked
    FROM (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER w AS rank_in_user
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY EPOCH_US(ts), event_id)
    ) t
    GROUP BY user_id
"""


@query("agg_filter_clause", oracle=_FILTER_WINDOW_SQL)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI aggregate FILTER clauses + a named WINDOW definition — the
    modern spellings of CASE-WHEN-sum pivoting and repeated OVER(...)
    blocks. One SQL text serves both engines, with the single
    epoch-micros spelling difference rewritten textually
    (EPOCH_US -> unix_micros), so the surfaces cannot drift.

    Scale: FILTER compiles to the same conditional partial aggregate
    as the CASE form; the named window is pure syntax — one user_id
    shuffle.
    """
    _views(spark, sf_dir, "events")
    return spark.sql(_FILTER_WINDOW_SQL.replace("EPOCH_US(ts)", "unix_micros(ts)"))


@query(
    "fn_format",
    oracle="""
    SELECT o_orderkey,
           PRINTF('%08d', o_orderkey) AS padded_key,
           PRINTF('%.2f', o_totalprice) AS price_2dp,
           FORMAT('{:,}', CAST(FLOOR(o_totalprice) AS BIGINT)) AS price_grouped,
           PRINTF('order %d: %s priority', o_orderkey, o_orderpriority) AS label
    FROM orders WHERE o_orderkey < 1000
    """,
)
def fn_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """printf-style formatting (format_string) and thousands-grouped
    number rendering (format_number) — report/label generation inside
    the engine instead of post-processing. The grouped form feeds
    format_number an already-floored bigint so both engines group the
    identical integer.

    Scale: per-row codegen string ops; the key filter pushes to the
    scan.
    """
    o = _t(spark, sf_dir, "orders")["orders"].filter(F.col("o_orderkey") < 1000)
    return o.select(
        "o_orderkey",
        F.format_string("%08d", F.col("o_orderkey")).alias("padded_key"),
        F.format_string("%.2f", F.col("o_totalprice")).alias("price_2dp"),
        F.format_number(F.floor(F.col("o_totalprice")).cast("bigint"), 0).alias(
            "price_grouped"
        ),
        F.format_string(
            "order %d: %s priority", F.col("o_orderkey"), F.col("o_orderpriority")
        ).alias("label"),
    )


@query(
    "fn_binary_codecs",
    oracle="""
    SELECT doc_id,
           TO_BASE64(CAST(SUBSTR(text, 1, 24) AS BLOB)) AS b64,
           CAST(FROM_BASE64(TO_BASE64(CAST(SUBSTR(text, 1, 24) AS BLOB)))
                AS VARCHAR) AS roundtrip,
           LOWER(HEX(CAST(SUBSTR(text, 1, 8) AS BLOB))) AS hex8,
           MD5(SUBSTR(text, 1, 64)) AS md5_64,
           SHA256(SUBSTR(text, 1, 64)) AS sha_64
    FROM documents
    """,
)
def fn_binary_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary codec surface: base64 round-trip, hex encoding, and the
    md5/sha256 digests both engines expose — content-addressing and
    wire-encoding primitives (the collector's A5/A11 keys and the
    media meta sha256 ride the same functions).

    Scale: per-row codegen; nothing shuffles.
    """
    d = _t(spark, sf_dir, "documents")["documents"]
    prefix24 = F.substring("text", 1, 24).cast("binary")
    return d.select(
        "doc_id",
        F.base64(prefix24).alias("b64"),
        F.unbase64(F.base64(prefix24)).cast("string").alias("roundtrip"),
        F.lower(F.hex(F.substring("text", 1, 8).cast("binary"))).alias("hex8"),
        F.md5(F.substring("text", 1, 64)).alias("md5_64"),
        F.sha2(F.substring("text", 1, 64).cast("binary"), 256).alias("sha_64"),
    )


@query(
    "window_percent_of_total",
    oracle="""
    WITH rev AS (
        SELECT n_name,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                    AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue
        FROM lineitem
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name
    )
    SELECT n_name, revenue,
           FLOOR(revenue / SUM(revenue) OVER () * 1000000 + 0.5) / 10000
             AS pct_of_total,
           RANK() OVER (ORDER BY revenue DESC) AS revenue_rank
    FROM rev
"""
)
def window_percent_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total via an unpartitioned window over an ALREADY
    AGGREGATED frame: per-nation revenue (decimal contract), each
    row's percent of the grand total (explicit half-up to 4 dp), and
    a dense revenue rank. The dangerous single-partition window is
    safe here because its input is |nations| rows — the pattern is
    aggregate-first, window-the-small-result, never window the fact
    table globally (ml_split_shuffle documents the distributed
    alternative when the input IS large).

    Scale: fact shuffles once on suppkey for the join, once for the
    nation aggregate; the global window sees 25 rows.
    """
    li, s, n = (
        _t(spark, sf_dir, "lineitem", "supplier", "nation")[t]
        for t in ("lineitem", "supplier", "nation")
    )
    rev = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(38,10)"
                    )
                ),
                4,
            )
            .cast("double")
            .alias("revenue")
        )
    )
    total = F.sum("revenue").over(W.partitionBy())
    pct = F.floor(F.col("revenue") / total * 1000000 + F.lit(0.5)) / 10000
    return rev.select(
        "n_name",
        "revenue",
        pct.alias("pct_of_total"),
        F.rank().over(W.orderBy(F.desc("revenue"))).alias("revenue_rank"),
    )
