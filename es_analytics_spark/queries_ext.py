"""TPC-H suite completion + embedding-dedup / IVF-ANN extensions.

Registered into :mod:`es_analytics_spark.queries` REGISTRY (imported at
the bottom of that module). With these, all 22 TPC-H query *shapes* are
covered — the testdata star schema lacks ``partsupp``,
``l_commitdate/receiptdate/shipmode`` and ``c_phone``, so Q2/Q9/Q11/Q12/
Q16/Q20/Q21/Q22 are shape-preserving adaptations to the available
columns (each docstring states the substitution); Q5 and Q8 are
structurally verbatim.

Scale notes (100 TB design intent) are per-query docstrings: every join
here either broadcasts a dimension or shuffles on the natural key that a
bucketed layout (sources/bucketed.py) co-locates; the correlated
subqueries decorrelate to aggregates + joins under Catalyst (verified
via .explain — no per-row subquery execution anywhere).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from es_analytics_spark.functions.exact import davg, davg_expr, dsum, dsum_expr
from es_analytics_spark.queries import _t, query

# ---------------------------------------------------------------------------
# TPC-H completion (shapes 2, 5, 8, 9, 11, 12, 16, 20, 21, 22)
# ---------------------------------------------------------------------------


@query(
    "tpch_q5_local_supplier",
    oracle=f"""
    SELECT n_name, {dsum_expr('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 (verbatim shape): local-supplier revenue by nation. The only
    fact-fact join (lineitem⋈orders) shuffles on orderkey; customer,
    supplier, nation, region all broadcast. The c_nationkey=s_nationkey
    equality rides along as a post-join filter on broadcast columns."""
    t = _t(spark, sf_dir, "customer", "orders", "lineitem", "supplier", "nation", "region")
    return (
        t["lineitem"]
        .join(
            t["orders"].filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(t["supplier"]),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@query(
    "tpch_q8_market_share",
    oracle=f"""
    SELECT o_year,
           ROUND({dsum_expr("CASE WHEN nation = 'NATION_7' THEN volume ELSE 0 END")}
                 / {dsum_expr('volume')}, 6) AS mkt_share
    FROM (
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS nation
      FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region   ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
        AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00') all_nations
    GROUP BY o_year
    """,
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 (verbatim shape): NATION_7 market share of ECONOMY parts sold
    into ASIA customers, by year. Two roles of `nation` (customer-side
    n1, supplier-side n2) — both broadcast; conditional-sum ratio uses
    the decimal-exact dsum on both numerator and denominator so the
    rounded quotient is engine-stable."""
    t = _t(spark, sf_dir, "part", "lineitem", "supplier", "orders", "customer", "nation", "region")
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    n2 = t["nation"].select(F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("nation"))
    base = (
        t["lineitem"]
        .join(F.broadcast(t["part"].filter(F.col("p_type") == "ECONOMY")),
              F.col("p_partkey") == F.col("l_partkey"))
        .join(
            t["orders"].filter(
                (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["supplier"]), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nkey"))
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
            F.col("c_rkey") == F.col("r_regionkey"),
        )
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
            "nation",
        )
    )
    num = dsum(F.when(F.col("nation") == "NATION_7", F.col("volume")).otherwise(F.lit(0)))
    return base.groupBy("o_year").agg(F.round(num / dsum(F.col("volume")), 6).alias("mkt_share"))


@query(
    "tpch_q9_product_profit",
    oracle=f"""
    SELECT n_name AS nation, CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
           {dsum_expr('l_extendedprice * (1 - l_discount)')} AS sum_profit
    FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER)
    """,
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape (adapted: testdata has no partsupp, so profit =
    discounted revenue without the ps_supplycost term). Supplier-nation
    × order-year profit rollup over a LIKE-filtered part subset; part/
    supplier/nation broadcast, lineitem⋈orders shuffles on orderkey."""
    t = _t(spark, sf_dir, "lineitem", "part", "supplier", "orders", "nation")
    return (
        t["lineitem"]
        .join(F.broadcast(t["part"].filter(F.col("p_name").like("%red%"))),
              F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(t["supplier"]), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_profit"))
    )


@query(
    "tpch_q2_min_cost_supplier",
    oracle="""
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name, l_extendedprice AS min_price
    FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE' AND p_size = 15
      AND l_extendedprice = (
        SELECT MIN(l2.l_extendedprice)
        FROM lineitem l2
          JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
          JOIN nation n2   ON s2.s_nationkey = n2.n_nationkey
          JOIN region r2   ON n2.n_regionkey = r2.r_regionkey
        WHERE l2.l_partkey = p_partkey AND r2.r_name = 'EUROPE')
    """,
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape (adapted: no partsupp — lineitem is the part↔supplier
    association and l_extendedprice stands in for ps_supplycost).
    Correlated MIN subquery per part; Catalyst decorrelates it into an
    aggregate + equi-join on l_partkey (verified in the plan — no
    per-row subquery). MIN over double is order-independent, so no
    decimal canonicalization is needed."""
    _t(spark, sf_dir, "part", "lineitem", "supplier", "nation", "region")
    return spark.sql(
        """
        SELECT s_acctbal, s_name, n_name, p_partkey, p_name, l_extendedprice AS min_price
        FROM part
          JOIN lineitem ON p_partkey = l_partkey
          JOIN supplier ON s_suppkey = l_suppkey
          JOIN nation   ON s_nationkey = n_nationkey
          JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE' AND p_size = 15
          AND l_extendedprice = (
            SELECT MIN(l2.l_extendedprice)
            FROM lineitem l2
              JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
              JOIN nation n2   ON s2.s_nationkey = n2.n_nationkey
              JOIN region r2   ON n2.n_regionkey = r2.r_regionkey
            WHERE l2.l_partkey = p_partkey AND r2.r_name = 'EUROPE')
        """
    )


@query(
    "tpch_q11_important_stock",
    oracle=f"""
    WITH nat_supp AS (
      SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3')),
    grouped AS (
      SELECT l_partkey, {dsum_expr('l_extendedprice * l_quantity')} AS value
      FROM lineitem JOIN nat_supp ON l_suppkey = s_suppkey
      GROUP BY l_partkey),
    total AS (
      SELECT {dsum_expr('l_extendedprice * l_quantity')} * 0.001 AS threshold
      FROM lineitem JOIN nat_supp ON l_suppkey = s_suppkey)
    SELECT l_partkey, value FROM grouped, total WHERE value > threshold
    """,
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape (adapted: inventory value from lineitem instead of
    partsupp). Grouped value per part HAVING > fraction-of-total scalar
    subquery. The total is a one-row broadcast cross join — the fact
    table is scanned twice (grouped + total); at scale the two scans
    share the shuffle on l_suppkey⋈nat_supp via exchange reuse."""
    t = _t(spark, sf_dir, "lineitem", "supplier", "nation")
    nat_supp = (
        t["supplier"]
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3"))
        .select("s_suppkey")
    )
    joined = t["lineitem"].join(
        F.broadcast(nat_supp), F.col("l_suppkey") == F.col("s_suppkey")
    )
    value = (F.col("l_extendedprice") * F.col("l_quantity")).alias("v")
    grouped = joined.groupBy("l_partkey").agg(dsum(value).alias("value"))
    total = joined.agg((dsum(value) * F.lit(0.001)).alias("threshold"))
    return grouped.join(F.broadcast(total)).filter(F.col("value") > F.col("threshold")).select(
        "l_partkey", "value"
    )


@query(
    "tpch_q12_priority_class",
    oracle="""
    SELECT l_linestatus AS ship_class,
           -- CAST: DuckDB SUM(int) is HUGEINT (pandas float64); Spark emits bigint.
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
             AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
             AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_returnflag <> 'A'
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_linestatus
    """,
)
def tpch_q12_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape (adapted: no l_shipmode/commitdate/receiptdate —
    l_linestatus plays shipmode, the date-window filter plays the
    late-delivery predicate). Conditional-count pivot over the
    orders⋈lineitem join; integer CASE sums are engine-exact."""
    t = _t(spark, sf_dir, "orders", "lineitem")
    li = t["lineitem"].filter(
        (F.col("l_returnflag") != "A")
        & (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        t["orders"]
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(F.col("l_linestatus").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "tpch_q16_supplier_cnt",
    oracle="""
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#9' AND p_type <> 'MEDIUM'
      AND p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def tpch_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape (adapted: lineitem as the part↔supplier association;
    negative-balance suppliers play the excluded-complaints set).
    NOT IN over a non-null subquery plans as a broadcast anti-join;
    COUNT(DISTINCT) shuffles on the group keys with distinct-expand."""
    _t(spark, sf_dir, "lineitem", "part", "supplier")
    return spark.sql(
        """
        SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#9' AND p_type <> 'MEDIUM'
          AND p_size IN (1, 4, 9, 16, 25, 36, 49)
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
        """
    )


@query(
    "tpch_q20_part_promo",
    oracle="""
    SELECT s_name, s_acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name IN ('NATION_1', 'NATION_4', 'NATION_9', 'NATION_12', 'NATION_17', 'NATION_21')
      AND s_suppkey IN (
        SELECT l_suppkey FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
          AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l_suppkey, l_partkey
        HAVING SUM(l_quantity) > 30)
    """,
)
def tpch_q20_part_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape (adapted: availability = shipped quantity from
    lineitem instead of ps_availqty). Nested IN chains: part-name
    prefix → qualifying (supplier, part) groups → supplier semi-join.
    SUM(l_quantity) is integer-valued double — exact in the HAVING."""
    _t(spark, sf_dir, "supplier", "nation", "lineitem", "part")
    return spark.sql(
        """
        SELECT s_name, s_acctbal
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name IN ('NATION_1', 'NATION_4', 'NATION_9', 'NATION_12', 'NATION_17', 'NATION_21')
          AND s_suppkey IN (
            SELECT l_suppkey FROM lineitem
            WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
              AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY l_suppkey, l_partkey
            HAVING SUM(l_quantity) > 30)
        """
    )


@query(
    "tpch_q21_waiting_supplier",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
      JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      JOIN orders     ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R')
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def tpch_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape (adapted: l_returnflag='R' plays the late-delivery
    predicate receiptdate>commitdate). The hard shape survives intact:
    EXISTS (another supplier on the order) AND NOT EXISTS (another
    *late* supplier) — a semi- and an anti-join against the same fact
    table, both shuffling on l_orderkey so they co-locate with the
    l1⋈orders join. Top-20 with (numwait DESC, s_name) total order."""
    _t(spark, sf_dir, "supplier", "lineitem", "orders")
    return spark.sql(
        """
        SELECT s_name, COUNT(*) AS numwait
        FROM supplier
          JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
          JOIN orders     ON o_orderkey = l1.l_orderkey
        WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
          AND EXISTS (
            SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (
            SELECT 1 FROM lineitem l3
            WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_returnflag = 'R')
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 20
        """
    )


@query(
    "tpch_q22_global_sales",
    oracle=f"""
    WITH avg_bal AS (
      SELECT {davg_expr('c_acctbal')} AS a FROM customer WHERE c_acctbal > 0.0)
    SELECT SUBSTRING(c_name, 18, 1) AS cntrycode,
           COUNT(*) AS numcust,
           {dsum_expr('c_acctbal')} AS totacctbal
    FROM customer, avg_bal
    WHERE SUBSTRING(c_name, 18, 1) IN ('1', '2', '3', '4', '6', '9')
      AND c_acctbal > a
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY SUBSTRING(c_name, 18, 1)
    """,
)
def tpch_q22_global_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape (adapted: country code = last digit of c_name —
    testdata has no c_phone). Above-average-balance customers with no
    orders: scalar AVG subquery (decimal-exact, see functions.exact)
    broadcast against customer, then an anti-join to orders on
    o_custkey."""
    _t(spark, sf_dir, "customer", "orders")
    return spark.sql(
        f"""
        WITH avg_bal AS (
          SELECT {davg_expr('c_acctbal')} AS a FROM customer WHERE c_acctbal > 0.0)
        SELECT SUBSTRING(c_name, 18, 1) AS cntrycode,
               COUNT(*) AS numcust,
               {dsum_expr('c_acctbal')} AS totacctbal
        FROM customer, avg_bal
        WHERE SUBSTRING(c_name, 18, 1) IN ('1', '2', '3', '4', '6', '9')
          AND c_acctbal > a
          AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        GROUP BY SUBSTRING(c_name, 18, 1)
        """
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup + IVF ANN (north-star extensions)
# ---------------------------------------------------------------------------

_PAIR_COS_SQL = """
    ROUND(
      LIST_SUM(LIST_TRANSFORM(LIST_ZIP(a.embedding, b.embedding),
               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      / (SQRT(LIST_SUM(LIST_TRANSFORM(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       * SQRT(LIST_SUM(LIST_TRANSFORM(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
      6)
"""


@query("dedup_embedding_cosine", oracle=None)  # LSH candidates → recall<1 by design
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup, candidate-generation → exact-verify:
    rows whose vector is ≥0.40 cosine to a lower-id row are duplicates
    (the fixture's embeddings are near-uniform, so a production-style
    0.93 bar would match nothing; the threshold is a parameter, the
    dataflow is the point); the lowest such id found is the kept
    canonical (transitive closure is out of scope — single-link
    clustering needs an iterative connected-components pass).

    Candidates come from multi-table sign-LSH self-buckets
    (:func:`lsh_near_dup_pairs`): one map-only bucket matmul, one
    shuffle on (table, bucket), a local numpy exact-verify inside each
    bucket group (only id-pairs above threshold leave it) — no corpus
    broadcast, no driver collect, no n² product, so the registered
    shape survives a 100 TB corpus. Rows-only by
    contract (multi-table LSH recall ≈0.89 at cosine 0.40, →1 as
    similarity →1); the exact all-pairs referee and the measured
    recall bound live in tests/test_operators.py."""
    from es_analytics_spark.operators.similarity import lsh_near_dup_pairs

    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    pairs = lsh_near_dup_pairs(e, "vec_id", "embedding", threshold=0.40)
    return pairs.groupBy(F.col("neighbor_id").alias("dup_id")).agg(
        F.min("query_id").alias("kept_id"), F.max("cosine").alias("max_cosine")
    )


@query("sim_ivf_topk", oracle=None)  # approximate by design (probes a cell subset)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic coarse quantizer (every 50th vector is a
    centroid), vectors assigned to their max-cosine cell, queries probe
    the 2 nearest cells and exact-rerank top-5 within candidates.
    Recall vs brute force covered by tests/test_operators.py."""
    from es_analytics_spark.operators.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    q = e.filter(F.col("vec_id") < 10)
    return ivf_topk(
        e, q, "vec_id", "embedding", k=5, centroid_stride=50, nprobe=2
    )


# ---------------------------------------------------------------------------
# Scalar-function coverage completion (SURVEY §2.B families)
# ---------------------------------------------------------------------------


@query(
    "fn_scalar_extra",
    oracle="""
    SELECT event_id,
           STRFTIME(ts, '%Y-%m-%dT%H:%M:%S.%g') || 'Z' AS iso,
           STRPTIME(STRFTIME(ts, '%Y-%m-%dT%H:%M:%S.%g') || 'Z',
                    '%Y-%m-%dT%H:%M:%S.%gZ') AS parsed_ts,
           CAST((EXTRACT(YEAR FROM ts) - 2024) * 12
                + (EXTRACT(MONTH FROM ts) - 1) AS DOUBLE) AS months_since,
           ((CAST(event_id AS BIGINT) - 7) % 5 + 5) % 5 AS pm,
           LIST_SORT(LIST_TRANSFORM(JSON_KEYS(props),
                     k -> CAST(JSON_EXTRACT(props, '$.' || k) AS BIGINT))) AS map_vals,
           TO_JSON(struct_pack(id := event_id, t := event_type))::VARCHAR AS js,
           JSON_EXTRACT_STRING(props, '$.k') AS k_str,
           CASE WHEN ISNAN(CASE WHEN value = 0 THEN CAST('NaN' AS DOUBLE)
                                ELSE value END)
                THEN -1.0 ELSE CASE WHEN value = 0 THEN CAST('NaN' AS DOUBLE)
                                    ELSE value END END AS value_or_neg1
    FROM events
    """,
)
def fn_scalar_extra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remaining SURVEY-named scalars in one oracle-checked pass:
    ISO-8601 round-trip (`date_format` → `to_timestamp`, the exact
    `Date.toISOString()` wire format the reference emits —
    /root/reference lib/collector/Collector.ts:130), whole-month
    `months_between` (month-truncated operands keep it integral so
    DuckDB's year/month arithmetic matches), `pmod`, `map_values` over
    parsed JSON (sorted — map iteration order is not part of the
    contract), `to_json` of a struct, `json_tuple` single-path
    extraction, and `nanvl` (surfaced as a CASE so the oracle computes
    the identical double)."""
    ev = _t(spark, sf_dir, "events")["events"]
    iso_fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSX"
    iso = F.date_format("ts", iso_fmt)
    m = F.from_json("props", "map<string,bigint>")
    nan_val = F.when(F.col("value") == 0, F.lit(float("nan"))).otherwise(F.col("value"))
    return ev.select(
        "event_id",
        iso.alias("iso"),
        F.to_timestamp(iso, iso_fmt).alias("parsed_ts"),
        F.months_between(
            F.date_trunc("month", "ts"), F.lit("2024-01-01").cast("timestamp")
        ).alias("months_since"),
        F.pmod(F.col("event_id") - 7, F.lit(5)).alias("pm"),
        F.array_sort(F.map_values(m)).alias("map_vals"),
        F.to_json(
            F.struct(F.col("event_id").alias("id"), F.col("event_type").alias("t"))
        ).alias("js"),
        F.json_tuple(F.col("props"), "k").alias("k_str"),
        F.nanvl(nan_val, F.lit(-1.0)).alias("value_or_neg1"),
    )


@query("fn_hash_bucketing", oracle=None)  # xxhash64/hash families absent in DuckDB
def fn_hash_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xxhash64 / hash (Murmur3) / crc32 bucketing — the partitioner
    primitives (dedup banding, salted joins, shard routing). No oracle
    engine implements Spark's seeded variants, so this is rows-only
    here; cross-run stability is pinned by
    tests/test_operators.py::test_hash_functions_stable."""
    c = _t(spark, sf_dir, "customer")["customer"]
    return c.select(
        "c_custkey",
        F.xxhash64("c_name").alias("xx64"),
        F.hash("c_name").alias("murmur"),
        F.crc32(F.col("c_name").cast("binary")).alias("crc"),
        F.pmod(F.xxhash64("c_name"), F.lit(64)).alias("bucket64"),
    )


_NORM_DOC_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),"
    " '\\s+', ' ', 'g'))"
)


@query(
    "text_winnow_shared",
    oracle=f"""
    WITH norm AS (SELECT doc_id, {_NORM_DOC_SQL} AS t FROM documents),
    pos AS (
      SELECT doc_id, t, UNNEST(GENERATE_SERIES(1, GREATEST(LEN(t) - 8 + 1, 1))) AS pos
      FROM norm),
    grams AS (SELECT doc_id, pos, MD5(SUBSTRING(t, pos, 8)) AS h FROM pos),
    -- rolling min as a window frame (linear), not per-position list
    -- slices (quadratic per doc — measured ~18s vs ~1s at sf0.01)
    wins AS (
      SELECT doc_id, pos,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS win_min,
             MAX(pos) OVER (PARTITION BY doc_id) AS n
      FROM grams),
    fp AS (
      SELECT DISTINCT doc_id, win_min AS fingerprint
      FROM wins WHERE pos <= GREATEST(n - 4 + 1, 1)),
    rare AS (SELECT fingerprint FROM fp GROUP BY fingerprint
             HAVING COUNT(*) <= GREATEST(0.02 * (SELECT COUNT(*) FROM documents), 5)),
    fpr AS (SELECT fp.doc_id, fp.fingerprint FROM fp JOIN rare USING (fingerprint))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(DISTINCT a.fingerprint) AS BIGINT) AS shared
    FROM fpr a JOIN fpr b ON a.fingerprint = b.fingerprint AND b.doc_id > a.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(DISTINCT a.fingerprint) >= 20
    """,
)
def text_winnow_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting (winnowing, k=8 w=4):
    near-dup pairs sharing ≥20 discriminative fingerprints, found by an
    inverted-index self-join on the fingerprint — candidate-bounded
    like LSH banding, no n² text comparison. Any shared substring of
    ≥11 normalized chars is guaranteed to surface as a shared
    fingerprint. Fingerprints in >2% of the corpus (template phrases)
    are dropped first — the stop-word analog; without the cap one
    ubiquitous fingerprint makes the self-join quadratic in corpus
    size (observed 190M candidate pairs at 5000 docs)."""
    from es_analytics_spark.operators.dedup import winnow_fingerprints

    d = _t(spark, sf_dir, "documents")["documents"]
    fp = winnow_fingerprints(d, "doc_id", "text", k=8, window=4)
    # one aggregation over the fingerprint index: per-fingerprint doc
    # list, df cap as a size filter, pairs exploded in-bucket — the
    # fingerprint pipeline is evaluated exactly once (a
    # rare-join/self-join formulation re-runs it per DAG branch)
    n_docs = d.select(F.count("*").alias("__n"))
    buckets = (
        fp.groupBy("fingerprint")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .join(F.broadcast(n_docs))
        .filter(
            (F.size("ids") >= 2)
            & (F.size("ids") <= F.greatest(0.02 * F.col("__n"), F.lit(5.0)))
        )
    )
    ids = F.col("ids")
    pair_arr = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= 20)
    )


# ---------------------------------------------------------------------------
# Streaming joins (stream-static enrichment, stream-stream interval join)
# ---------------------------------------------------------------------------


@query(
    "stream_static_enrich",
    mutates_conf=True,
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(38,10))), 4) AS DOUBLE) AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against the static
    customer dimension (broadcast per micro-batch — the standard
    streaming-ETL enrichment shape), aggregated by segment. Replayed
    with availableNow and compared to the batch join."""
    from es_analytics_spark.streaming.ingest import replay_stream, stream_events

    t = _t(spark, sf_dir, "events", "customer")
    ev = stream_events(spark, sf_dir)
    joined = (
        ev.join(F.broadcast(t["customer"]), ev.user_id == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(38,10)")), 4)
            .cast("double")
            .alias("sum_value"),
        )
    )
    return replay_stream(spark, joined, name="stream_static_enrich", output_mode="complete")


@query(
    "stream_stream_funnel",
    mutates_conf=True,
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
           CAST(EPOCH(p.ts) - EPOCH(c.ts) AS DOUBLE) AS latency_s
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def stream_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: click → purchase funnel within 30
    minutes per user. Both sides are watermarked streams; the time-range
    condition bounds the join state the engine must keep (the unbounded
    variant is rejected by Spark's UnsupportedOperationChecker). The
    availableNow replay must equal the batch interval join."""
    from es_analytics_spark.streaming.ingest import replay_stream, stream_events

    ev = stream_events(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        (F.col("purchase_ts").cast("double") - F.col("click_ts").cast("double")).alias(
            "latency_s"
        ),
    )
    return replay_stream(spark, joined, name="stream_stream_funnel", output_mode="append")


@query(
    "join_right_outer",
    oracle=f"""
    SELECT n_name, {dsum_expr('COALESCE(s_acctbal, 0.0)')} AS total_bal,
           COUNT(s_suppkey) AS n_suppliers
    FROM supplier RIGHT JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join (every nation kept, supplier side nullable) —
    completes the literal outer-join family next to left/full."""
    t = _t(spark, sf_dir, "supplier", "nation")
    return (
        t["supplier"]
        .join(t["nation"], F.col("s_nationkey") == F.col("n_nationkey"), "right")
        .groupBy("n_name")
        .agg(
            dsum(F.coalesce(F.col("s_acctbal"), F.lit(0.0))).alias("total_bal"),
            F.count("s_suppkey").alias("n_suppliers"),
        )
    )


@query(
    "stream_sliding_counts",
    mutates_conf=True,
    oracle=f"""
    SELECT MAKE_TIMESTAMP(CAST((FLOOR(EPOCH(ts) / 900) * 900 - k * 900) * 1000000 AS BIGINT))
             AS window_start,
           event_type, COUNT(*) AS n_events, {dsum_expr('value')} AS sum_value
    FROM events CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS k)
    GROUP BY 1, 2
    """,
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time window (1 h duration, 15 min hop) in the
    streaming engine: every event lands in exactly 4 overlapping
    buckets. The oracle materializes the same 4 window starts per event
    arithmetically (floor to the hop, back-step k hops)."""
    from es_analytics_spark.streaming.ingest import replay_stream, stream_events

    ev = stream_events(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )
    return replay_stream(spark, agg, name="stream_sliding_counts", output_mode="complete")


@query(
    "window_range_interval",
    oracle="""
    SELECT event_id, user_id,
           COUNT(*) OVER w AS n_last_hour,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(38,10))) OVER w, 4) AS DOUBLE)
             AS value_last_hour
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY EPOCH_US(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
)
def window_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over event time: per-user trailing 1-hour count and
    value sum. Ordered on epoch microseconds in BOTH engines so the
    frame boundary is value-based (RANGE), not row-based — the
    time-decayed-metric windowing shape; decimal sum keeps the running
    total order-independent."""
    from pyspark.sql import types as T

    ev = _t(spark, sf_dir, "events")["events"]
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    dec = F.col("value").cast(T.DecimalType(38, 10))
    return ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_last_hour"),
        F.round(F.sum(dec).over(w), 4).cast("double").alias("value_last_hour"),
    )


@query(
    "agg_collect_set",
    oracle="""
    SELECT c_mktsegment,
           ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(LIST(o_orderpriority))), ',')
             AS priorities,
           COUNT(DISTINCT o_orderpriority) AS n_distinct
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
)
def agg_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set (deduplicating collect; sorted before joining —
    set iteration order is not part of the contract)."""
    t = _t(spark, sf_dir, "customer", "orders")
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_set("o_orderpriority"))).alias(
                "priorities"
            ),
            F.countDistinct("o_orderpriority").alias("n_distinct"),
        )
    )


@query(
    "fn_explode_outer",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 200000 THEN 'big' END AS marker
    FROM orders
    """,
)
def fn_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer null semantics: rows whose array is empty survive
    with a NULL element (plain explode would drop them). The oracle
    states the equivalent row-preserving CASE for the 0/1-element
    arrays used here."""
    o = _t(spark, sf_dir, "orders")["orders"]
    arr = F.when(F.col("o_totalprice") > 200000, F.array(F.lit("big"))).otherwise(
        F.array().cast("array<string>")
    )
    return o.select("o_orderkey", F.explode_outer(arr).alias("marker"))


@query("agg_approx_percentile", oracle=None)  # sketch-based, engine-specific values
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx (Greenwald-Khanna sketch): mergeable one-pass
    quantiles — the scale path when exact percentile's full sort per
    group is too expensive. Rank-error bound vs the exact percentile is
    pinned by tests/test_operators.py::test_approx_percentile_bound."""
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    return li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", [0.5, 0.9, 0.99], 10000).alias("pcts"),
        F.count("*").alias("n"),
    )


_MAX_STRATA = 4096  # sampleBy fractions ship to every task; keep the dict bounded


@query("sample_stratified", oracle=None)  # sample membership is engine-specific
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded stratified sampling (per-language quotas — the
    training-data mixing primitive): Bernoulli per stratum with fixed
    seed, deterministic given a fixed source layout so pipeline reruns
    select identical rows. Rate conformance and reproducibility pinned
    by tests/test_operators.py::test_stratified_sample.

    The stratum-key collect is LIMIT-guarded like every other driver
    fetch in the catalog (similarity.py's max_query_rows contract):
    language codes are bounded by construction, and if a caller points
    this at an unbounded key the query raises instead of silently
    shipping a data-sized fraction dict to the driver."""
    d = _t(spark, sf_dir, "documents")["documents"]
    fractions = {"en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.25, "zh": 0.1}
    langs = d.select("lang").distinct().limit(_MAX_STRATA + 1).collect()
    if len(langs) > _MAX_STRATA:
        raise ValueError(
            f"sample_stratified: stratum key cardinality exceeds {_MAX_STRATA}; "
            "the fraction dict is driver-built by contract — use hash-acceptance "
            "sampling (sample_domain_mix) for unbounded keys"
        )
    frac = {r.lang: fractions.get(r.lang, 0.1) for r in langs}
    return d.sampleBy("lang", frac, seed=42).select("doc_id", "lang", "source")


@query(
    "ml_split_shuffle",
    oracle="""
    SELECT doc_id,
           CASE WHEN ('0x' || SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80
                  THEN 'train'
                WHEN ('0x' || SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90
                  THEN 'val'
                ELSE 'test' END AS split,
           CAST(ROW_NUMBER() OVER (ORDER BY MD5(CAST(doc_id AS VARCHAR) || ':epoch1'), doc_id)
                AS BIGINT) AS shuffle_rank
    FROM documents
    """,
)
def ml_split_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-deterministic train/val/test split (80/10/10 on an md5
    bucket of the id — stable under any re-partitioning, re-run, or
    engine, unlike random splits) and a seeded epoch shuffle (global
    permutation rank by salted md5 — change the salt, get a new
    deterministic order). The two assignment primitives every training
    pipeline needs on top of the lake. The global permutation rank is
    computed DISTRIBUTIVELY: a deterministic range bucket derived from
    the uniform shuffle key's 16-bit prefix gives ordered, balanced
    buckets (no boundary sampling — see the pid comment below);
    row_number within each bucket plus a broadcast cumulative-count
    offset per bucket yields the exact global rank with no
    single-partition window — the shape that survives 100× (the offset
    table has one row per bucket, never per data row)."""
    d = _t(spark, sf_dir, "documents")["documents"]
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 100
    )
    shuffle_key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":epoch1")))
    keyed = d.select(
        "doc_id",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").alias("split"),
        shuffle_key.alias("sk"),
    )
    # Deterministic range bucketing on the total order (sk, doc_id):
    # sk is a uniform md5 hex string, so its leading 16 bits ARE a
    # balanced range partitioner — pid = prefix16 * n_parts div 65536
    # is monotone in sk (bucket i's rows all sort before bucket i+1's)
    # and needs NO boundary sampling. repartitionByRange was the first
    # spelling here and is a correctness trap: RangePartitioner derives
    # boundaries from a nondeterministically-seeded SAMPLE, and the two
    # DAG branches below (local ranks, offsets) can re-execute the
    # exchange with different boundaries — observed as 4 399 wrong
    # ranks at sf0.1 while sf0.01 (sample ≥ data, boundaries exact)
    # stayed green. global_rank = local_rank + sum(counts of buckets
    # < i) needs every consumer to agree on pid, which only a
    # row-deterministic pid can guarantee.
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ranged = keyed.withColumn(
        "pid",
        (
            F.conv(F.substring("sk", 1, 4), 16, 10).cast("bigint")
            * n_parts / 65536
        ).cast("int"),
    )
    local = ranged.withColumn(
        "lr", F.row_number().over(W.partitionBy("pid").orderBy("sk", "doc_id"))
    )
    # Offset table: one row per shuffle partition, prefix-summed with
    # the window-free broadcast triangle join (functions/ranks.py) so
    # the plan carries no single-partition window at all.
    from es_analytics_spark.functions.ranks import cumulative_offsets

    offsets = cumulative_offsets(ranged.groupBy("pid").agg(F.count("*").alias("cnt")))
    return local.join(F.broadcast(offsets.select("pid", "off")), "pid").select(
        "doc_id", "split", (F.col("lr") + F.col("off")).cast("bigint").alias("shuffle_rank")
    )


@query(
    "text_pii_flags",
    oracle="""
    SELECT doc_id,
           CAST(LEN(REGEXP_EXTRACT_ALL(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                AS BIGINT) AS n_emails,
           CAST(LEN(REGEXP_EXTRACT_ALL(text, 'https?://[^\\s]+')) AS BIGINT) AS n_urls,
           CAST(LEN(REGEXP_EXTRACT_ALL(text, '\\b\\d{3}[-.]\\d{3,4}[-.]\\d{4}\\b'))
                AS BIGINT) AS n_phoneish,
           LEN(REGEXP_EXTRACT_ALL(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) > 0
             AS has_pii_candidate
    FROM documents
    """,
)
def text_pii_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII / link candidate counts per document (emails, URLs,
    phone-shaped numbers) — the redaction/filter pre-pass of a
    training-data pipeline, as pure regex counts (JVM regexp_count, no
    Python). Flagged docs route to a redaction UDF downstream."""
    d = _t(spark, sf_dir, "documents")["documents"]
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    url = r"https?://[^\s]+"
    phone = r"\b\d{3}[-.]\d{3,4}[-.]\d{4}\b"
    n_emails = F.regexp_count("text", F.lit(email))
    return d.select(
        "doc_id",
        n_emails.cast("bigint").alias("n_emails"),
        F.regexp_count("text", F.lit(url)).cast("bigint").alias("n_urls"),
        F.regexp_count("text", F.lit(phone)).cast("bigint").alias("n_phoneish"),
        (n_emails > 0).alias("has_pii_candidate"),
    )


@query(
    "text_repetition",
    oracle="""
    WITH words AS (
      SELECT doc_id, UNNEST(STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\\s+')) AS w
      FROM documents),
    freq AS (
      SELECT doc_id, w, COUNT(*) AS c FROM words GROUP BY doc_id, w)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_words,
           CAST(MAX(c) AS BIGINT) AS top_word_count,
           ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_word_ratio
    FROM freq GROUP BY doc_id
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signal (Gopher-rule family): most-frequent-
    word share per document — high ratios mark boilerplate/spam for
    the quality filter. Explode → two-level aggregate; both groupBys
    partial-combine map-side."""
    d = _t(spark, sf_dir, "documents")["documents"]
    words = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w"),
    )
    freq = words.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    return freq.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_words"),
        F.max("c").cast("bigint").alias("top_word_count"),
        F.round(F.max("c") / F.sum("c"), 6).alias("top_word_ratio"),
    )


@query(
    "fn_bitwise_datearith",
    oracle="""
    SELECT event_id,
           event_id & 255 AS low_byte,
           xor(event_id, 12345) AS xored,
           (event_id << 2) AS shifted,
           ts + INTERVAL 7 DAY AS ts_plus_week,
           -- TIMESTAMP, not DATE: Spark DATE lands in pandas as object(date)
           -- while DuckDB DATE becomes datetime64 — dtype-hash mismatch
           CAST(CAST(ts AS DATE) + INTERVAL 2 MONTH AS TIMESTAMP) AS date_plus_2mo
    FROM events
    """,
)
def fn_bitwise_datearith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise family (AND/XOR/shift — the sketch/partitioner
    primitives, cf. SimHash internals) and calendar interval
    arithmetic (timestamp + interval, end-of-month-clamped
    add_months)."""
    ev = _t(spark, sf_dir, "events")["events"]
    return ev.select(
        "event_id",
        F.col("event_id").bitwiseAND(F.lit(255)).alias("low_byte"),
        F.col("event_id").bitwiseXOR(F.lit(12345)).alias("xored"),
        F.shiftleft(F.col("event_id"), 2).alias("shifted"),
        (F.col("ts") + F.expr("INTERVAL 7 DAYS")).alias("ts_plus_week"),
        F.add_months(F.col("ts").cast("date"), 2).cast("timestamp").alias("date_plus_2mo"),
    )


@query(
    "fn_date_spine_gapfill",
    oracle="""
    WITH spine AS (
      SELECT UNNEST(GENERATE_SERIES(TIMESTAMP '2024-01-01 00:00:00',
                                    TIMESTAMP '2024-01-31 00:00:00',
                                    INTERVAL 1 DAY)) AS day),
    daily AS (
      SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day, COUNT(*) AS n
      FROM events GROUP BY 1)
    SELECT spine.day, COALESCE(daily.n, 0) AS n_events
    FROM spine LEFT JOIN daily ON spine.day = daily.day
    """,
)
def fn_date_spine_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense calendar spine: generate the full day range, left-join
    daily counts, zero-fill the gaps — the reporting shape that turns
    sparse event data into a dense series. The spine is generated
    (sequence+explode, tiny) and broadcast against the aggregated
    side."""
    ev = _t(spark, sf_dir, "events")["events"]
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("timestamp"),
                F.lit("2024-01-31").cast("timestamp"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("__d")
    ).select(F.col("__d").alias("day"))  # timestamp spine (see oracle dtype note)
    daily = ev.groupBy(
        F.col("ts").cast("date").cast("timestamp").alias("day")
    ).agg(F.count("*").alias("n"))
    return (
        F.broadcast(spine)
        .join(daily, "day", "left")
        .select("day", F.coalesce("n", F.lit(0)).alias("n_events"))
    )


@query(
    "dedup_clusters",
    oracle="""
    WITH RECURSIVE words AS (
      SELECT doc_id, source,
             STRING_SPLIT(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g')), ' ') AS w
      FROM documents),
    grams AS (
      SELECT doc_id, source,
             LIST_DISTINCT(CASE WHEN LEN(w) >= 3
               THEN LIST_TRANSFORM(GENERATE_SERIES(1, LEN(w) - 2),
                                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
               ELSE [ARRAY_TO_STRING(w, ' ')] END) AS g
      FROM words),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM grams a JOIN grams b ON b.doc_id > a.doc_id AND a.source = b.source
      WHERE CAST(LEN(LIST_INTERSECT(a.g, b.g)) AS DOUBLE)
               / LEN(LIST_DISTINCT(a.g || b.g)) >= 0.35),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    walk(id, r) AS (
      SELECT DISTINCT a, a FROM edges
      UNION
      SELECT e.b, w.r FROM edges e JOIN walk w ON w.id = e.a
    )
    SELECT id AS doc_id, MIN(r) AS cluster_rep,
           CAST(COUNT(*) OVER (PARTITION BY MIN(r)) AS BIGINT) AS n_members
    FROM walk GROUP BY id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS, not just pairs: blocked 3-gram Jaccard
    candidates (same generation as dedup_ngram_jaccard) closed into
    connected components — the single-link clustering step a real dedup
    pipeline runs so keep-min-id-per-cluster drops every duplicate at
    once (A-B plus B-C collapses to one {A,B,C} cluster with survivor
    A, which pairwise filtering alone cannot express). Iterative
    min-label propagation, one shuffle join per round, O(diameter)
    rounds; oracle is the equivalent recursive-CTE closure."""
    from es_analytics_spark.operators.dedup import connected_components, ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents")["documents"]
    pairs = ngram_jaccard_pairs(
        d, "doc_id", "text", ngram=3, block_col="source", threshold=0.35
    ).filter(F.col("jaccard") >= 0.35)
    comp = connected_components(pairs, "id_a", "id_b")
    return comp.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("cluster_rep"),
        F.count("*").over(W.partitionBy("component")).cast("bigint").alias("n_members"),
    )


@query(
    "text_redact_pii",
    oracle="""
    SELECT doc_id,
           REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             'https?://[^\\s]+', '<URL>', 'g'),
             '\\b\\d{3}[-.]\\d{3,4}[-.]\\d{4}\\b', '<PHONE>', 'g') AS redacted,
           CAST(LEN(REGEXP_EXTRACT_ALL(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) +
             LEN(REGEXP_EXTRACT_ALL(text, 'https?://[^\\s]+')) +
             LEN(REGEXP_EXTRACT_ALL(text, '\\b\\d{3}[-.]\\d{3,4}[-.]\\d{4}\\b'))
             AS BIGINT) AS n_redactions
    FROM documents
    """,
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the action step after text_pii_flags: emails,
    URLs, and phone-shaped numbers replaced with typed placeholder
    tokens, count of replacements kept for pipeline stats. Pure JVM
    regexp_replace (vectorized, no Python); the same regexes as the
    flags query so flag counts equal redaction counts by construction."""
    d = _t(spark, sf_dir, "documents")["documents"]
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    url = r"https?://[^\s]+"
    phone = r"\b\d{3}[-.]\d{3,4}[-.]\d{4}\b"
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), email, "<EMAIL>"), url, "<URL>"
        ),
        phone,
        "<PHONE>",
    )
    n = (
        F.regexp_count("text", F.lit(email))
        + F.regexp_count("text", F.lit(url))
        + F.regexp_count("text", F.lit(phone))
    )
    return d.select("doc_id", red.alias("redacted"), n.cast("bigint").alias("n_redactions"))


@query("ml_pack_sequences", oracle=None)  # greedy packing is not SQL-expressible
def ml_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training: documents binned into fixed-token
    context windows (first-fit-decreasing per hash bucket) so short
    docs share a sequence instead of wasting pad tokens. Invariants
    (each doc in exactly one pack; packs never exceed the budget unless
    a single doc alone does; deterministic across runs) are pinned by
    tests/test_operators.py::test_pack_sequences_invariants."""
    from es_analytics_spark.operators.text import pack_sequences

    d = _t(spark, sf_dir, "documents")["documents"]
    docs = d.select(
        "doc_id", F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens")
    )
    return pack_sequences(docs, "doc_id", "n_tokens", max_tokens=256, num_buckets=8)


@query(
    "stream_cdc_upsert",
    oracle="""
    SELECT user_id, ts AS last_ts, event_type AS last_event_type, value AS last_value
    FROM (
      SELECT user_id, ts, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn
      FROM events) t
    WHERE rn = 1
    """,
)
def stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC materialization BY THE STREAMING ENGINE: the events stream
    replayed through the exactly-once txlog MERGE sink
    (``stream_merge_to_txlog``: latest row per user wins per epoch, one
    ``txlog.merge_upsert`` commit each), then the table's current
    snapshot read back — must equal the batch last-per-key answer.
    (user_id, ts) is unique in the fixture, so 'latest' is
    deterministic. Restart-safe: a replayed epoch's writer transaction
    is already committed and is skipped."""
    import tempfile

    from es_analytics_spark import txlog
    from es_analytics_spark.streaming.ingest import stream_events
    from es_analytics_spark.streaming.txlog_sink import stream_merge_to_txlog

    d = tempfile.mkdtemp(prefix="cdc_upsert_")
    ev = stream_events(spark, sf_dir).select("user_id", "ts", "event_type", "value")
    q = stream_merge_to_txlog(
        ev, f"{d}/table", keys=["user_id"], order_col="ts",
        checkpoint_dir=f"{d}/ckpt", available_now=True,
    )
    q.awaitTermination()
    return txlog.read_table(spark, f"{d}/table").select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


@query(
    "sample_exact_k_per_group",
    oracle="""
    SELECT doc_id, lang
    FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY MD5(CAST(doc_id AS VARCHAR) || ':s42'), doc_id) AS rn
      FROM documents) t
    WHERE rn <= 20
    """,
)
def sample_exact_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k-per-stratum sampling: rank rows inside each group by a
    salted hash of the id and keep the first k — unlike Bernoulli
    sampleBy (sample_stratified) the quota is met EXACTLY, and the
    sample is a pure function of (id, salt): reproducible across runs,
    engines, and partitionings. One shuffle on the group key; change
    the salt for a fresh draw."""
    d = _t(spark, sf_dir, "documents")["documents"]
    w = W.partitionBy("lang").orderBy(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":s42"))), "doc_id"
    )
    return (
        d.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 20)
        .select("doc_id", "lang")
    )


@query(
    "text_quality_filter",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang,
             CASE WHEN LEN(TRIM(text)) = 0 THEN 0
                  ELSE LEN(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+')) END AS n_tokens
      FROM documents),
    ranked AS (
      SELECT doc_id, lang, n_tokens,
             PERCENT_RANK() OVER (PARTITION BY lang ORDER BY n_tokens, doc_id) AS pr
      FROM scored)
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens, ROUND(pr, 9) AS pr
    FROM ranked WHERE pr >= 0.25
    """,
)
def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-based corpus filtering — the 'drop the bottom quartile
    per language' step of a training-data pipeline, as a pure window
    computation (percent_rank within language over a quality signal,
    token count here; doc_id tie-break keeps the cut deterministic).
    One shuffle on the stratum key; no global sort."""
    from es_analytics_spark.operators.text import token_count

    d = _t(spark, sf_dir, "documents")["documents"]
    scored = d.select("doc_id", "lang", token_count(F.col("text")).alias("n_tokens"))
    w = W.partitionBy("lang").orderBy("n_tokens", "doc_id")
    return (
        scored.withColumn("pr", F.round(F.percent_rank().over(w), 9))
        .filter(F.col("pr") >= 0.25)
        .select("doc_id", "lang", F.col("n_tokens").cast("bigint").alias("n_tokens"), "pr")
    )


@query("agg_hll_mergeable", oracle=None)  # sketch estimates are engine-specific
def agg_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL):
    per-event-type user sketches built once, then UNIONED into the
    overall estimate — the pre-aggregation pattern that lets a 100 TB
    rollup reuse daily sketches instead of re-scanning raw data
    (approx_count_distinct alone is not re-aggregatable). Estimate
    accuracy vs exact is pinned by
    tests/test_operators.py::test_hll_sketch_accuracy."""
    ev = _t(spark, sf_dir, "events")["events"]
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", 12).alias("sk"),
        F.count("*").alias("n_events"),
    )
    return per_type.select(
        "event_type",
        F.hll_sketch_estimate("sk").alias("approx_users"),
        "n_events",
    ).unionByName(
        per_type.agg(
            F.lit("__all__").alias("event_type"),
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
            F.sum("n_events").alias("n_events"),
        )
    )


@query(
    "join_salted_skew",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS DOUBLE) AS sum_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-salting rewrite as a judged query: lineitem⋈orders with
    the left side salted into 16 buckets and the right side replicated
    across them, so a pathological hot orderkey spreads over 16 tasks
    instead of one straggler — result provably identical to the plain
    join (the oracle IS the plain join). AQE skew-split covers the
    discovered cases at runtime; this is the explicit form for known
    hot keys."""
    from es_analytics_spark.operators.joins import salted_join

    t = _t(spark, sf_dir, "lineitem", "orders")
    j = salted_join(
        t["lineitem"].select("l_orderkey", "l_quantity"),
        t["orders"].select(F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"),
        on="l_orderkey",
    )
    return j.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_items"),
        F.sum(F.col("l_quantity").cast("decimal(38,10)")).cast("double").alias("sum_qty"),
    )


@query("sim_ivf_kmeans", oracle=None)  # approximate by design
def sim_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a TRAINED coarse quantizer: spherical k-means fit
    distributively (one matmul assignment pass + one k-row shuffle per
    iteration, driver holds only the (k, dim) matrix), then the same
    cell-bucketed probe as sim_ivf_topk. Deterministic init (smallest
    xxhash64 ids) + fixed iterations → reproducible; recall pinned by
    tests/test_operators.py::test_ivf_kmeans_quantizer_recall."""
    from es_analytics_spark.operators.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    q = e.limit(10)
    return ivf_topk(
        e, q, "vec_id", "embedding", k=5, max_centroids=16, nprobe=4, quantizer="kmeans"
    )


@query(
    "sim_group_centroids",
    oracle="""
    WITH pos AS (
      SELECT label, embedding,
             UNNEST(GENERATE_SERIES(1, LEN(embedding))) AS i
      FROM embeddings)
    SELECT label, CAST(i - 1 AS INTEGER) AS dim,
           ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 6) AS centroid_val,
           CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM pos GROUP BY label, i
    """,
)
def sim_group_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (class centroids) — the vector
    aggregation behind centroid classifiers, cluster summaries, and
    drift monitors. posexplode → groupBy(label, dim) avg: partial
    aggregation map-side-combines per (label, dim), so the shuffle
    carries one row per label×dim regardless of corpus size; output as
    exploded (label, dim, value) rows, the engine-stable comparison
    form for vector results (array-typed outputs canonicalize
    differently per engine)."""
    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    return (
        e.select("label", F.posexplode("embedding").alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(
            F.round(F.avg(F.col("x").cast("double")), 6).alias("centroid_val"),
            F.count("*").cast("bigint").alias("n_vectors"),
        )
    )


@query(
    "fn_higher_order",
    oracle="""
    SELECT vec_id,
           LEN(LIST_FILTER(embedding, x -> x > 0.5)) > 0 AS any_gt_half,
           LEN(LIST_FILTER(embedding, x -> x >= -1)) = LEN(embedding) AS all_ge_negone,
           ROUND(LIST_SUM(LIST_TRANSFORM(
             LIST_ZIP(embedding, LIST_REVERSE(embedding)),
             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), 5) AS dot_reversed,
           ROUND(CAST(LIST_MIN(LIST_TRANSFORM(embedding, x -> ABS(x))) AS DOUBLE), 6)
             AS min_abs,
           LIST_SORT(LIST_TRANSFORM(
             LIST_FILTER(embedding, x -> x > 0.9), x -> ROUND(CAST(x AS DOUBLE), 4)))
             AS top_tail
    FROM embeddings
    """,
)
def fn_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array function coverage beyond fn_array: exists /
    forall predicates, zip_with (dot with reversed self), transform-
    then-reduce min of abs, and a filter→transform→sort chain — all JVM
    expression-tree lambdas inside whole-stage codegen; the DuckDB
    equivalents are LIST_* compositions. The one array-typed output
    column is rounded before comparison so both engines canonicalize
    identically."""
    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    emb = F.col("embedding")
    return e.select(
        "vec_id",
        F.exists(emb, lambda x: x > 0.5).alias("any_gt_half"),
        F.forall(emb, lambda x: x >= -1).alias("all_ge_negone"),
        F.round(
            F.aggregate(
                F.zip_with(emb, F.reverse(emb), lambda a, b: a.cast("double") * b.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            5,
        ).alias("dot_reversed"),
        F.round(F.array_min(F.transform(emb, lambda x: F.abs(x))).cast("double"), 6).alias(
            "min_abs"
        ),
        F.sort_array(
            F.transform(
                F.filter(emb, lambda x: x > 0.9), lambda x: F.round(x.cast("double"), 4)
            )
        ).alias("top_tail"),
    )


@query(
    "ts_interpolate_linear",
    oracle="""
    WITH hourly AS (
      SELECT user_id, DATE_TRUNC('hour', ts) AS h,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(38,10))), 4) AS DOUBLE)
               / COUNT(value) AS v
      FROM events WHERE user_id < 20 GROUP BY 1, 2),
    bounds AS (
      SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY 1),
    spine AS (
      SELECT user_id, UNNEST(GENERATE_SERIES(h0, h1, INTERVAL 1 HOUR)) AS h
      FROM bounds),
    joined AS (
      SELECT s.user_id, s.h, hourly.v
      FROM spine s LEFT JOIN hourly ON s.user_id = hourly.user_id AND s.h = hourly.h),
    ctx AS (
      SELECT user_id, h, v,
        LAST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY h
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        LAST_VALUE(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY h
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
        FIRST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY h
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        FIRST_VALUE(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY h
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
      FROM joined)
    SELECT user_id, h,
      -- floor-quantize, not ROUND: interpolated values land exactly on
      -- half boundaries where the engines' ROUND implementations differ
      FLOOR((CASE
        WHEN v IS NOT NULL THEN v
        WHEN pv IS NULL THEN nv
        WHEN nv IS NULL THEN pv
        ELSE pv + (nv - pv) * ((EPOCH(h) - EPOCH(ph)) / (EPOCH(nh) - EPOCH(ph)))
      END) * 1e6) / 1e6 AS v_interp,
      (v IS NULL) AS was_gap
    FROM ctx
    """,
)
def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear gap interpolation over a per-user hourly spine — the
    time-series repair step (sensor dropout, sparse activity) done with
    two window passes: last non-null before (value + its hour) and
    first non-null after, then the position-weighted blend; edges clamp
    to the nearest present value. One shuffle on the series key; the
    spine explode is per-user bounded. user_id < 20 keeps the judged
    fixture slice small while exercising every code path."""
    ev = _t(spark, sf_dir, "events")["events"].filter(F.col("user_id") < 20)
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(davg("value").alias("v"))
    bounds = hourly.groupBy("user_id").agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = bounds.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("h"),
    )
    joined = spine.join(hourly, ["user_id", "h"], "left")

    back = W.partitionBy("user_id").orderBy("h").rowsBetween(W.unboundedPreceding, 0)
    fwd = W.partitionBy("user_id").orderBy("h").rowsBetween(0, W.unboundedFollowing)
    marked_h = F.when(F.col("v").isNotNull(), F.col("h"))
    pv = F.last("v", ignorenulls=True).over(back)
    ph = F.last(marked_h, ignorenulls=True).over(back)
    nv = F.first("v", ignorenulls=True).over(fwd)
    nh = F.first(marked_h, ignorenulls=True).over(fwd)
    frac = (F.unix_timestamp("h") - F.unix_timestamp(ph)) / (
        F.unix_timestamp(nh) - F.unix_timestamp(ph)
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(pv.isNull(), nv)
        .when(nv.isNull(), pv)
        .otherwise(pv + (nv - pv) * frac)
    )
    # floor-quantize (not round): both engines compute x*1e6, floor,
    # /1e6 as the same three IEEE ops; ROUND implementations disagree
    # exactly on the half-boundary values interpolation produces
    return joined.select(
        "user_id",
        "h",
        (F.floor(interp * 1e6) / 1e6).alias("v_interp"),
        F.col("v").isNull().alias("was_gap"),
    )


@query(
    "funnel_view_to_purchase",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_type,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_purchase
      FROM events WHERE event_type IN ('view', 'purchase')),
    starts AS (
      SELECT user_id, ts, next_purchase,
             next_purchase IS NOT NULL
               AND EPOCH(next_purchase) - EPOCH(ts) <= 3600 AS converted
      FROM seq WHERE event_type = 'view')
    SELECT CAST(COUNT(*) AS BIGINT) AS n_views,
           CAST(SUM(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
           FLOOR(AVG(CASE WHEN converted THEN 1.0 ELSE 0.0 END) * 1e6) / 1e6
             AS conversion_rate,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM starts
    """,
)
def funnel_view_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch funnel: for every 'view', the user's next 'purchase'
    (strictly after, any intervening events ignored) and whether it
    landed within the 1-hour window — the sequential-pattern query
    behind conversion reporting, as one MIN-over-following-frame window
    (single shuffle on user_id; no self-join, no row explosion). The
    streaming twin is stream_stream_funnel (interval join with
    watermark-bounded state)."""
    ev = (
        _t(spark, sf_dir, "events")["events"]
        .filter(F.col("event_type").isin("view", "purchase"))
        .select("user_id", "ts", "event_type")
    )
    w = W.partitionBy("user_id").orderBy("ts").rowsBetween(1, W.unboundedFollowing)
    nxt = F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).over(w)
    starts = (
        ev.withColumn("next_purchase", nxt)
        .filter(F.col("event_type") == "view")
        .withColumn(
            "converted",
            F.col("next_purchase").isNotNull()
            & ((F.unix_micros("next_purchase") - F.unix_micros("ts")) <= 3600 * 1_000_000),
        )
    )
    return starts.agg(
        F.count("*").cast("bigint").alias("n_views"),
        F.sum(F.when(F.col("converted"), 1).otherwise(0)).cast("bigint").alias("n_converted"),
        (
            F.floor(F.avg(F.when(F.col("converted"), 1.0).otherwise(0.0)) * 1e6) / 1e6
        ).alias("conversion_rate"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )


@query(
    "retention_next_day",
    oracle="""
    WITH daily AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    joined AS (
      SELECT d.day, d.user_id,
             r.user_id IS NOT NULL AS retained
      FROM daily d LEFT JOIN daily r
        ON r.user_id = d.user_id AND r.day = d.day + INTERVAL 1 DAY)
    SELECT CAST(day AS TIMESTAMP) AS day,  -- dtype parity: see fn_date_spine note
           CAST(COUNT(*) AS BIGINT) AS active_users,
           CAST(SUM(CASE WHEN retained THEN 1 ELSE 0 END) AS BIGINT) AS retained_next_day,
           FLOOR(AVG(CASE WHEN retained THEN 1.0 ELSE 0.0 END) * 1e6) / 1e6
             AS retention_rate
    FROM joined GROUP BY day
    """,
)
def retention_next_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-day retention per activity date: distinct (user, day) pairs
    self-joined one day forward — the cohort-retention primitive. The
    self-join shuffles both sides once on user_id (day rides along);
    daily-active counts sum exactly (0/1 doubles), rate floor-quantized
    for engine stability."""
    ev = _t(spark, sf_dir, "events")["events"]
    daily = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    nxt = daily.select("user_id", F.date_sub("day", 1).alias("day"), F.lit(True).alias("__r"))
    joined = daily.join(nxt, ["user_id", "day"], "left")
    return joined.groupBy(F.col("day").cast("timestamp").alias("day")).agg(
        F.count("*").cast("bigint").alias("active_users"),
        F.sum(F.when(F.col("__r"), 1).otherwise(0)).cast("bigint").alias("retained_next_day"),
        (
            F.floor(F.avg(F.when(F.col("__r"), 1.0).otherwise(0.0)) * 1e6) / 1e6
        ).alias("retention_rate"),
    )


@query(
    "dedup_survivors",
    oracle="""
    WITH RECURSIVE words AS (
      SELECT doc_id, source,
             STRING_SPLIT(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g')), ' ') AS w
      FROM documents),
    grams AS (
      SELECT doc_id, source,
             LIST_DISTINCT(CASE WHEN LEN(w) >= 3
               THEN LIST_TRANSFORM(GENERATE_SERIES(1, LEN(w) - 2),
                                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
               ELSE [ARRAY_TO_STRING(w, ' ')] END) AS g
      FROM words),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM grams a JOIN grams b ON b.doc_id > a.doc_id AND a.source = b.source
      WHERE CAST(LEN(LIST_INTERSECT(a.g, b.g)) AS DOUBLE)
               / LEN(LIST_DISTINCT(a.g || b.g)) >= 0.35),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    walk(id, r) AS (
      SELECT DISTINCT a, a FROM edges
      UNION
      SELECT e.b, w.r FROM edges e JOIN walk w ON w.id = e.a
    ),
    comp AS (SELECT id AS doc_id, MIN(r) AS cluster_rep FROM walk GROUP BY id),
    quality AS (
      SELECT doc_id,
             CASE WHEN LEN(TRIM(text)) = 0 THEN 0
                  ELSE LEN(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+')) END AS n_tokens
      FROM documents),
    scored AS (
      SELECT q.doc_id, COALESCE(c.cluster_rep, q.doc_id) AS cluster_rep, q.n_tokens
      FROM quality q LEFT JOIN comp c ON q.doc_id = c.doc_id)
    SELECT doc_id, cluster_rep,
           ROW_NUMBER() OVER (PARTITION BY cluster_rep
                              ORDER BY n_tokens DESC, doc_id) = 1 AS is_kept
    FROM scored
    """,
)
def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline ENDPOINT: near-dup pairs → connected-
    component clusters → keep the HIGHEST-QUALITY doc per cluster
    (token count, doc_id tie-break), singletons kept as their own
    cluster — i.e. the actual keep/drop decision a corpus build
    executes, where survivor choice is a policy (best quality), not
    an artifact of id ordering. Costs: the pair pipeline once, the CC
    closure, one broadcast-ish join back to all docs, one rank window
    per cluster."""
    from es_analytics_spark.operators.dedup import connected_components, ngram_jaccard_pairs
    from es_analytics_spark.operators.text import token_count

    d = _t(spark, sf_dir, "documents")["documents"]
    pairs = ngram_jaccard_pairs(
        d, "doc_id", "text", ngram=3, block_col="source", threshold=0.35
    ).filter(F.col("jaccard") >= 0.35)
    comp = connected_components(pairs, "id_a", "id_b").select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster_rep")
    )
    scored = (
        d.select("doc_id", token_count(F.col("text")).alias("n_tokens"))
        .join(comp, "doc_id", "left")
        .withColumn("cluster_rep", F.coalesce("cluster_rep", "doc_id"))
    )
    w = W.partitionBy("cluster_rep").orderBy(F.col("n_tokens").desc(), "doc_id")
    return scored.select(
        "doc_id",
        "cluster_rep",
        (F.row_number().over(w) == 1).alias("is_kept"),
    )


@query(
    "text_decontaminate",
    oracle="""
    WITH norm AS (
      SELECT doc_id, source,
             STRING_SPLIT(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g')), ' ') AS w
      FROM documents),
    grams AS (
      SELECT doc_id, source,
             CASE WHEN LEN(w) >= 5
               THEN LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(w) - 4),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))
               ELSE [] END AS g
      FROM norm),
    bench AS (
      SELECT DISTINCT UNNEST(g) AS gram FROM grams WHERE source = 'src0'),
    hits AS (
      SELECT t.doc_id, COUNT(DISTINCT b.gram) AS n_shared
      FROM (SELECT doc_id, UNNEST(g) AS gram FROM grams WHERE source <> 'src0') t
      JOIN bench b ON t.gram = b.gram
      GROUP BY t.doc_id)
    SELECT g.doc_id,
           CAST(COALESCE(h.n_shared, 0) AS BIGINT) AS n_shared_grams,
           COALESCE(h.n_shared, 0) > 0 AS contaminated
    FROM grams g LEFT JOIN hits h ON g.doc_id = h.doc_id
    WHERE g.source <> 'src0'
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the step that keeps eval data out of
    training corpora: every training doc is flagged if it shares any
    word 5-gram with the benchmark set (here the 'src0' slice stands in
    for the eval suite). Dataflow: benchmark grams dedup to a small
    DISTINCT membership set that BROADCASTS (eval suites are tiny vs
    the corpus), so the corpus-side explode + join is one map-side
    pass + a per-doc count — candidate-bounded, never doc×doc. Docs
    shorter than one 5-gram are uncontaminated by definition (the
    degenerate whole-text shingle is filtered by its token count)."""
    from es_analytics_spark.operators.dedup import exploded_shingles, normalize_text

    d = _t(spark, sf_dir, "documents")["documents"]
    # short docs (< one 5-gram) are pre-filtered by word count: the
    # degenerate whole-text shingle never materializes, and the explode
    # stays in the Generate-over-Project shape (exploding an aliased
    # shingle column re-inlines the whole pipeline per row — the 40x
    # trap exploded_shingles' docstring pins; observed 45s -> 3s here)
    eligible = d.filter(
        F.size(F.split(normalize_text(F.col("text")), " ")) >= 5
    )
    exploded = exploded_shingles(
        eligible, "text", 5, keep=["doc_id", "source"], out_col="gram"
    )
    bench = exploded.filter(F.col("source") == "src0").select("gram").distinct()
    hits = (
        exploded.filter(F.col("source") != "src0")
        .join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_shared"))
    )
    return (
        d.filter(F.col("source") != "src0")
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared", F.lit(0)).cast("bigint").alias("n_shared_grams"),
            (F.coalesce("n_shared", F.lit(0)) > 0).alias("contaminated"),
        )
    )


@query(
    "text_top_terms",
    oracle="""
    WITH words AS (
      SELECT DISTINCT doc_id, source, UNNEST(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+')) AS w
      FROM documents),
    df AS (
      SELECT source, w, COUNT(*) AS doc_freq FROM words WHERE LEN(w) >= 4
      GROUP BY source, w),
    ranked AS (
      SELECT source, w AS term, doc_freq,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_freq DESC, w) AS rnk
      FROM df)
    SELECT source, term, CAST(doc_freq AS BIGINT) AS doc_freq, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= 5
    """,
)
def text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source top terms by document frequency (words ≥4 chars) —
    the vocabulary profile behind corpus curation and drift reports.
    Distinct (doc, word) explode → df count → per-group top-k window:
    partial counts combine map-side, the rank is one shuffle on
    source, and nothing global is sorted."""
    d = _t(spark, sf_dir, "documents")["documents"]
    words = (
        d.select(
            "doc_id",
            "source",
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("w"),
        )
        .filter(F.length("w") >= 4)
        .distinct()
    )
    df_counts = words.groupBy("source", "w").agg(F.count("*").alias("doc_freq"))
    w = W.partitionBy("source").orderBy(F.col("doc_freq").desc(), "w")
    return (
        df_counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select(
            "source",
            F.col("w").alias("term"),
            F.col("doc_freq").cast("bigint").alias("doc_freq"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


@query(
    "join_interval_bucketed",
    oracle="""
    WITH windows AS (
      SELECT event_id AS window_id, ts AS w_start, ts + INTERVAL 4 HOUR AS w_end
      FROM events WHERE event_type = 'signup' AND event_id % 97 = 0)
    SELECT window_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM windows JOIN events ON ts >= w_start AND ts <= w_end
    GROUP BY window_id
    """,
)
def join_interval_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure interval join (no shared key): every event counted into
    4-hour observation windows (anchored at sampled signups) via the
    bucketized rewrite — hour buckets equi-join + exact range filter —
    where a raw theta join plans a nested-loop over points×intervals.
    Plan pinned cartesian-free by the registry sweep; the oracle is the
    plain BETWEEN join."""
    from es_analytics_spark.operators.joins import interval_join_bucketed

    ev = _t(spark, sf_dir, "events")["events"]
    windows = (
        ev.filter((F.col("event_type") == "signup") & (F.col("event_id") % 97 == 0))
        .select(
            F.col("event_id").alias("window_id"),
            F.col("ts").alias("w_start"),
            (F.col("ts") + F.expr("INTERVAL 4 HOUR")).alias("w_end"),
        )
    )
    j = interval_join_bucketed(
        ev.select("user_id", "ts"), windows, "ts", "w_start", "w_end", bucket="1 hour"
    )
    return j.groupBy("window_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )


@query(
    "fn_map_higher_order",
    oracle="""
    SELECT event_id,
           CAST((CAST(JSON_EXTRACT(props, '$.k') AS BIGINT) + user_id
                 + CAST(FLOOR(value * 100) AS BIGINT)) * 2 AS BIGINT) AS sum_doubled,
           CAST((CASE WHEN CAST(JSON_EXTRACT(props, '$.k') AS BIGINT) > 50 THEN 1 ELSE 0 END)
              + (CASE WHEN user_id > 50 THEN 1 ELSE 0 END)
              + (CASE WHEN FLOOR(value * 100) > 50 THEN 1 ELSE 0 END) AS INTEGER) AS n_big,
           'k,uid,val100' AS key_list,
           CAST((CAST(JSON_EXTRACT(props, '$.k') AS BIGINT) + user_id
                 + CAST(FLOOR(value * 100) AS BIGINT)) * 2 AS BIGINT) AS zip_sum
    FROM events
    """,
)
def fn_map_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order functions (transform_values, map_filter,
    map_zip_with, map_keys) over a per-event metric map — the oracle
    computes the same answers from the flat scalars, proving the map
    pipeline transforms values losslessly. All JVM expression lambdas
    inside codegen."""
    ev = _t(spark, sf_dir, "events")["events"]
    m = F.create_map(
        F.lit("k"), F.get_json_object("props", "$.k").cast("bigint"),
        F.lit("uid"), F.col("user_id").cast("bigint"),
        F.lit("val100"), F.floor(F.col("value") * 100).cast("bigint"),
    )
    doubled = F.transform_values(m, lambda _k, v: v * 2)
    sum_vals = F.aggregate(F.map_values(doubled), F.lit(0).cast("bigint"), lambda a, x: a + x)
    n_big = F.size(F.map_filter(m, lambda _k, v: v > 50))
    zipped = F.map_zip_with(m, m, lambda _k, v1, v2: v1 + v2)
    zip_sum = F.aggregate(F.map_values(zipped), F.lit(0).cast("bigint"), lambda a, x: a + x)
    return ev.select(
        "event_id",
        sum_vals.alias("sum_doubled"),
        n_big.cast("int").alias("n_big"),
        F.concat_ws(",", F.sort_array(F.map_keys(m))).alias("key_list"),
        zip_sum.alias("zip_sum"),
    )
