"""Round-3 surface: CUSUM changepoint detection, sketch-backed exact
heavy hitters, bitmap set algebra (batch + streaming state),
duplicated-n-gram quality signals, asymmetric n-gram containment,
deterministic corpus resampling (domain mixing, quality curricula),
BPE merge counting, the embedding-space tier (SemDeDup, MMR
reranking, int8 scalar quantization), and the txlog-backed
incremental join view driven under the exact gate.

Same contract as the rest of the catalog: every query pairs a
Spark-first implementation with a DuckDB oracle (or a documented
rows-only waiver for genuinely non-SQL shapes), is deterministic as a
set of rows, and keeps float math bit-identical across engines via the
DECIMAL sum / half-up-rounding contract in functions.exact.

Scale notes per docstring; none of these shapes collect unbounded data
to the driver — every driver-visible artifact (Misra-Gries candidate
sets, per-dimension quantization stats, k-means/PQ training partials,
partition offset tables) is bounded by construction: k × partitions
counters, dim-sized arrays, centroid-count-sized partials, one row per
shuffle partition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W, functions as F

from es_analytics_spark.functions.lineage import cut_lineage

from es_analytics_spark.functions.exact import dsum, dsum_expr
from es_analytics_spark.functions.ranks import cumulative_offsets
from es_analytics_spark.queries import _t, query


# ---------------------------------------------------------------------------
# Time series: CUSUM changepoint localization
# ---------------------------------------------------------------------------

_CUSUM_SQL = f"""
    WITH daily AS (
        SELECT user_id, CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
               {dsum_expr('value')} AS v
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ), stats AS (
        SELECT user_id, COUNT(*) AS n_days,
               {dsum_expr('v')} / COUNT(*) AS mu
        FROM daily GROUP BY user_id
    ), walk AS (
        SELECT d.user_id, d.day, s.n_days, s.mu,
               CAST(ROUND(SUM(CAST(d.v AS DECIMAL(38,10))) OVER
                      (PARTITION BY d.user_id ORDER BY d.day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
                    AS DOUBLE) AS prefix,
               ROW_NUMBER() OVER (PARTITION BY d.user_id ORDER BY d.day) AS t
        FROM daily d JOIN stats s ON d.user_id = s.user_id
    ), scored AS (
        SELECT user_id, day, n_days,
               FLOOR(ABS(prefix - t * mu) * 1e4 + 0.5) / 1e4 AS c_mag,
               ROW_NUMBER() OVER (PARTITION BY user_id
                 ORDER BY FLOOR(ABS(prefix - t * mu) * 1e4 + 0.5) / 1e4 DESC,
                          day ASC) AS rn
        FROM walk
    )
    SELECT user_id, day AS cp_day, c_mag, n_days
    FROM scored WHERE rn = 1
"""


@query("ts_cusum_changepoint", oracle=_CUSUM_SQL)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint localization per series: the candidate
    level-shift day is the argmax over t of |sum_{i<=t}(x_i) - t*mu| —
    the classic cumulative-deviation statistic whose peak marks where a
    series' mean shifted. Complements ts_anomaly_zscore (pointwise
    outliers in a rolling frame) with *segment-level* drift detection;
    the distributed shape is one aggregate for per-series mean, one
    window pass for the prefix walk, one ranked window for the argmax.

    Exactness: daily sums and per-series means go through the DECIMAL
    contract; each prefix sum is an ordered decimal sum rounded at 4dp
    before entering double arithmetic, so the walk is bit-identical to
    the single-threaded oracle; the argmax orders by the half-up-rounded
    magnitude with a day tie-break (total order).

    Scale: everything keys on the series id; series stats join back
    broadcast-style (|users| rows), no driver collection, no
    single-partition window."""
    ev = _t(spark, sf_dir, "events")["events"]
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(dsum(F.col("value")).alias("v"))
    )
    stats = daily.groupBy("user_id").agg(
        F.count("*").alias("n_days"),
        (dsum(F.col("v")) / F.count("*")).alias("mu"),
    )
    w = W.partitionBy("user_id").orderBy("day")
    prefix = (
        F.round(
            F.sum(F.col("v").cast("decimal(38,10)")).over(
                w.rowsBetween(W.unboundedPreceding, 0)
            ),
            4,
        ).cast("double")
    )
    walk = (
        daily.join(stats, "user_id")
        .withColumn("prefix", prefix)
        .withColumn("t", F.row_number().over(w))
    )
    c_mag = F.floor(F.abs(F.col("prefix") - F.col("t") * F.col("mu")) * 1e4 + F.lit(0.5)) / 1e4
    scored = walk.withColumn("c_mag", c_mag).withColumn(
        "rn", F.row_number().over(W.partitionBy("user_id").orderBy(F.desc("c_mag"), F.asc("day")))
    )
    return scored.filter(F.col("rn") == 1).select(
        "user_id", F.col("day").alias("cp_day"), "c_mag", "n_days"
    )


# ---------------------------------------------------------------------------
# Sketch-backed EXACT heavy hitters (Misra-Gries candidates + recount)
# ---------------------------------------------------------------------------

_HH_K = 255  # per-partition Misra-Gries counters
_HH_PERMILLE = 5  # report keys with freq >= 0.5% of all events


def mg_update(counters: dict, batch_counts, k: int) -> dict:
    """Fold one batch of (key, count) pairs into a Misra-Gries summary
    of at most ``k`` counters, in place. Batch-decrement variant:
    subtract the smallest count from all; every decrement round removes
    mass from > k counters at once, so the total per-key decrement
    stays <= n_p/(k+1) and any key with partition frequency above that
    bound survives — the superset invariant
    tests/test_sketch_properties.py pins under adversarial streams."""
    for key, c in batch_counts:
        counters[int(key)] = counters.get(int(key), 0) + int(c)
    while len(counters) > k:
        m = min(counters.values())
        drop = [key for key, v in counters.items() if v <= m]
        for key in drop:
            del counters[key]
        for key in counters:
            counters[key] -= m
    return counters


def _idiv(a: Column, b: Column) -> Column:
    """Exact integer division on Columns: (a - a%b)/b through DECIMAL,
    so no double rounding at any magnitude."""
    return (
        (a.cast("decimal(38,0)") - (a % b).cast("decimal(38,0)"))
        / b.cast("decimal(38,0)")
    ).cast("bigint")


def ntile_closed_form(rank_col: Column, n_col: Column, buckets: int) -> Column:
    """Closed-form NTILE(buckets) over a known total order: given a
    1-based global ``rank`` and row count ``n``, the first n % buckets
    tiles hold ceil(n/buckets) rows and the rest floor(n/buckets) —
    exact integer arithmetic, no single-partition window. Equivalence
    with the window NTILE is property-pinned in
    tests/test_sketch_properties.py."""
    b = F.lit(buckets)
    q = _idiv(n_col, b)
    rem = n_col % b
    head = rem * (q + 1)
    tile = F.when(rank_col <= head, _idiv(rank_col - 1, q + 1)).otherwise(
        rem + _idiv(rank_col - head - 1, F.greatest(q, F.lit(1)))
    )
    return (tile + 1).cast("int")

_HEAVY_HITTERS_SQL = f"""
    SELECT user_id, COUNT(*) AS cnt
    FROM events
    GROUP BY user_id
    HAVING COUNT(*) * 1000 >= {_HH_PERMILLE} * (SELECT COUNT(*) FROM events)
"""


@query("agg_heavy_hitters", oracle=_HEAVY_HITTERS_SQL)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT phi-heavy hitters (phi = 0.5%) via the two-phase sketch
    pattern: a per-partition Misra-Gries summary (k = 255 counters,
    Arrow-batched) nominates candidates, then one exact recount over
    the candidate set filters by the true threshold.

    Correctness is unconditional, not approximate: Misra-Gries
    guarantees every key with partition frequency > n_p/(k+1) survives
    its partition summary, and by pigeonhole any key with global
    frequency > n/(k+1) exceeds that bound in at least one partition —
    so with phi = 0.005 > 1/(k+1) = 0.0039 the candidate union is a
    provable superset of the true heavy hitters under EVERY possible
    partitioning, and the exact recount makes the final set
    deterministic. That is why this sketch query carries a plain SQL
    oracle instead of a rows-only waiver.

    Scale: the full table is summarized map-side into <= k rows per
    partition (no shuffle); candidates (bounded by k x partitions) are
    broadcast back for a semi-join recount whose aggregate only carries
    candidate keys. The classic one-pass GROUP BY carries every
    distinct key through the shuffle; this shape carries O(k)."""
    ev = _t(spark, sf_dir, "events")["events"].select("user_id")

    def mg_partition(batches):
        import pandas as pd

        counters: dict[int, int] = {}
        for pdf in batches:
            mg_update(counters, pdf["user_id"].value_counts().items(), _HH_K)
        if counters:
            yield pd.DataFrame({"user_id": list(counters.keys())})

    cand = ev.mapInPandas(mg_partition, "user_id bigint").distinct()
    total = ev.agg(F.count("*").alias("total"))
    return (
        ev.join(F.broadcast(cand), "user_id")
        .groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * 1000 >= _HH_PERMILLE * F.col("total"))
        .select("user_id", "cnt")
    )


# ---------------------------------------------------------------------------
# Bitmap set algebra over user audiences
# ---------------------------------------------------------------------------

_BITMAP_SETOPS_SQL = """
    WITH v AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
         p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
    SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_view,
           CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchase,
           CAST((SELECT COUNT(*) FROM (SELECT * FROM v UNION SELECT * FROM p) u)
                AS BIGINT) AS n_union,
           CAST((SELECT COUNT(*) FROM (SELECT * FROM v INTERSECT SELECT * FROM p) i)
                AS BIGINT) AS n_both,
           CAST((SELECT COUNT(*) FROM (SELECT * FROM v EXCEPT SELECT * FROM p) e)
                AS BIGINT) AS n_view_only
"""


@query("agg_bitmap_setops", oracle=_BITMAP_SETOPS_SQL)
def agg_bitmap_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience set algebra (view vs purchase users) computed entirely
    in compressed bitmap space: per (32k-id bucket, audience) bitmaps
    from ``bitmap_construct_agg``, per-bucket union via
    ``bitmap_or_agg``, and intersection/difference derived by
    inclusion-exclusion (|A AND B| = |A| + |B| - |A OR B|) — Spark ships
    no bitmap_and_agg, and this derivation keeps everything mergeable.
    The oracle is plain DISTINCT set algebra; the bitmap path must agree
    exactly.

    Scale: the shuffle carries one fixed-size bitmap per (bucket,
    audience) instead of every distinct user id — the same reason
    agg_bitmap_distinct exists — and set ops compose per bucket, then
    SUM across buckets. One wide row out; no collect."""
    ev = _t(spark, sf_dir, "events")["events"]
    # one shuffle builds the per-(audience, bucket) bitmaps; both folds
    # below are bucket-count-sized aggregates over that output (the SQL
    # CTE spelling re-derived the bitmap build per consumer: 7 shuffles
    # in the audited plan vs 5 here; the remaining sorts are the
    # SortAggregate the bitmap aggregates require)
    bm = (
        ev.filter(F.col("event_type").isin("view", "purchase"))
        .select(
            "event_type",
            F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
            F.expr("bitmap_bit_position(user_id)").alias("pos"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("b"))
        .withColumn("n", F.expr("bitmap_count(b)"))
    )
    folded = bm.agg(
        F.sum(F.when(F.col("event_type") == "view", F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_view"),
        F.sum(F.when(F.col("event_type") == "purchase", F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_purchase"),
    )
    unioned = (
        bm.groupBy("bucket")
        .agg(F.expr("bitmap_count(bitmap_or_agg(b))").alias("n_or"))
        .agg(F.sum("n_or").cast("bigint").alias("n_union"))
    )
    both = F.col("n_view") + F.col("n_purchase") - F.col("n_union")
    return (
        folded.crossJoin(F.broadcast(unioned))
        .withColumn("n_both", both)
        .withColumn("n_view_only", F.col("n_view") - F.col("n_both"))
        .select("n_view", "n_purchase", "n_union", "n_both", "n_view_only")
    )


# ---------------------------------------------------------------------------
# Duplicated-n-gram fraction (RefinedWeb/MassiveText quality signal)
# ---------------------------------------------------------------------------

_DUP_NGRAM_N = 8
_DUP_NGRAM_DOCS = 3  # a shingle is "duplicated" if it appears in >= 3 docs

_DUP_NGRAM_SQL = f"""
    WITH words AS (
        SELECT doc_id,
               LIST_FILTER(STRING_SPLIT(REGEXP_REPLACE(LOWER(text), '[^a-z]+', ' ', 'g'),
                                        ' '), w -> LENGTH(w) > 0) AS w
        FROM documents
    ), grams AS (
        SELECT doc_id, i AS pos,
               ARRAY_TO_STRING(w[i : i + {_DUP_NGRAM_N} - 1], ' ') AS g
        FROM words, UNNEST(GENERATE_SERIES(1, LEN(w) - {_DUP_NGRAM_N} + 1)) AS t(i)
        WHERE LEN(w) >= {_DUP_NGRAM_N}
    ), gram_docs AS (
        SELECT g, COUNT(DISTINCT doc_id) AS ndocs FROM grams GROUP BY g
    )
    SELECT gr.doc_id,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN gd.ndocs >= {_DUP_NGRAM_DOCS} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup,
           FLOOR(SUM(CASE WHEN gd.ndocs >= {_DUP_NGRAM_DOCS} THEN 1.0 ELSE 0.0 END)
                 / COUNT(*) * 1e6 + 0.5) / 1e6 AS dup_frac
    FROM grams gr JOIN gram_docs gd ON gr.g = gd.g
    GROUP BY gr.doc_id
"""


@query("text_dup_ngram_fraction", oracle=_DUP_NGRAM_SQL)
def text_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-n-gram fraction: the share of a doc's
    word-8-gram positions whose 8-gram also occurs in >= 3 distinct
    documents — the MassiveText/RefinedWeb "duplicate n-gram" quality
    signal used to down-weight boilerplate-heavy pages before training.

    Shape: explode positional 8-grams (map-side from the tokenized
    text), one aggregate for gram -> distinct-doc counts, one equi-join
    back on the gram, one per-doc aggregate. Work is O(total grams) and
    both shuffles key on the gram / doc id — no pairwise comparison
    anywhere, which is what lets this quality pass run over the full
    corpus where pairwise dedup needs LSH candidates first.

    Tokenization matches the dedup family contract (lowercase, non-alpha
    -> space, drop empties)."""
    d = _t(spark, sf_dir, "documents")["documents"]
    words = d.select(
        "doc_id",
        F.filter(
            F.split(F.regexp_replace(F.lower("text"), "[^a-z]+", " "), " "),
            lambda w: F.length(w) > 0,
        ).alias("w"),
    ).filter(F.size("w") >= _DUP_NGRAM_N)
    grams = words.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(w) - {_DUP_NGRAM_N} + 1),"
                f" i -> array_join(slice(w, i, {_DUP_NGRAM_N}), ' '))"
            )
        ).alias("g"),
    )
    gram_docs = grams.groupBy("g").agg(F.count_distinct("doc_id").alias("ndocs"))
    dup = F.when(F.col("ndocs") >= _DUP_NGRAM_DOCS, F.lit(1)).otherwise(F.lit(0))
    return (
        grams.join(gram_docs, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(dup).cast("bigint").alias("n_dup"),
            (
                F.floor(F.sum(dup) / F.count("*") * 1e6 + F.lit(0.5)) / 1e6
            ).alias("dup_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic corpus resampling (training-data mixing)
# ---------------------------------------------------------------------------

# Portable multiplicative hash on a BIGINT id: identical integer
# arithmetic in Spark and DuckDB (no overflow: id * A + B < 2^63 for
# doc-scale ids), uniform enough for rate-based acceptance sampling.
from es_analytics_spark.functions.portable import (  # noqa: E402
    MIX_P as _MIX_P,
    accept_hash as _accept_hash,
    accept_hash_sql as _accept_hash_sql,
)


_DOMAIN_MIX_SQL = f"""
    WITH sizes AS (
        SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY lang
    ), m AS (
        SELECT MIN(n_lang) AS min_lang FROM sizes
    )
    SELECT d.lang,
           CAST(ANY_VALUE(s.n_lang) AS BIGINT) AS n_orig,
           CAST(COUNT(*) FILTER (
               WHERE {_accept_hash_sql('d.doc_id')} * s.n_lang < {_MIX_P} * m.min_lang
           ) AS BIGINT) AS n_kept
    FROM documents d JOIN sizes s ON d.lang = s.lang CROSS JOIN m
    GROUP BY d.lang
"""


@query("ml_domain_mix_sample", oracle=_DOMAIN_MIX_SQL)
def ml_domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-mixing resample: downsample every language
    to the size of the smallest one (uniform target mix), accepting a
    row iff hash(doc_id) * n_lang < P * min_lang — pure integer
    arithmetic, so acceptance is reproducible row-by-row across runs,
    engines, and partitionings (the property shuffle-based sampling
    lacks). This is the mixture-reweighting step of training-data
    pipelines (cf. The Pile / DoReMi domain weights); any target weight
    vector slots into the same inequality.

    Scale: per-language sizes via window over a broadcast-size group
    count — spelled as two aggregates in the DataFrame form (group
    sizes are |langs| rows, broadcast back), so the corpus itself
    streams map-side through the acceptance filter with no extra
    shuffle and nothing data-sized on the driver."""
    d = _t(spark, sf_dir, "documents")["documents"]
    sizes = d.groupBy("lang").agg(F.count("*").alias("n_lang"))
    min_lang = sizes.agg(F.min("n_lang").alias("min_lang"))
    accepted = (
        d.join(F.broadcast(sizes), "lang")
        .crossJoin(F.broadcast(min_lang))
        .withColumn(
            "keep",
            _accept_hash(F.col("doc_id")) * F.col("n_lang")
            < F.lit(_MIX_P) * F.col("min_lang"),
        )
    )
    return accepted.groupBy("lang").agg(
        F.any_value("n_lang").cast("bigint").alias("n_orig"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("bigint").alias("n_kept"),
    )


_QUALITY_BUCKET_SQL = f"""
    WITH scored AS (
        SELECT doc_id, lang,
               NTILE(10) OVER (ORDER BY n_chars DESC, doc_id ASC) AS decile
        FROM documents
    )
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n_orig,
           CAST(COUNT(*) FILTER (
               WHERE {_accept_hash_sql('doc_id')} * decile < {_MIX_P}
           ) AS BIGINT) AS n_kept
    FROM scored GROUP BY decile
"""


@query("ml_quality_bucket_sample", oracle=_QUALITY_BUCKET_SQL)
def ml_quality_bucket_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-curriculum sampling: rank documents into deciles by a
    quality proxy (length, with doc_id tie-break for a total order) and
    keep bucket d with rate 1/d — the highest-quality decile survives
    whole, the lowest at 10%. Acceptance reuses the portable integer
    hash, so the kept subset is deterministic and engine-independent.

    The decile assignment is computed DISTRIBUTIVELY, not with a global
    NTILE (a single-partition window — the shape the catalog-wide plan
    guard forbids): repartitionByRange on the quality order gives
    sorted, balanced partitions; row_number within each plus a
    broadcast per-partition cumulative-offset table yields the exact
    global rank (the ml_split_shuffle recipe), and NTILE's bucket
    arithmetic is then a closed-form integer expression over (rank, n).
    The oracle spells it as plain NTILE — the distributed path must
    reproduce single-threaded window semantics exactly.

    The ranged frame is localCheckpoint'ed: RangePartitioner derives
    boundaries from a nondeterministically-seeded sample, so the two
    consumers below (local ranks, offsets) could otherwise re-execute
    the exchange with DIFFERENT boundaries and disagree on pid — the
    bug the sf0.1 oracle gate caught in ml_split_shuffle. That query's
    key is uniform, so it switched to sampling-free prefix bucketing;
    this one ranks a non-uniform key (n_chars), where balanced
    boundaries genuinely need the sample — materializing it once makes
    every consumer read the same pids."""
    d = _t(spark, sf_dir, "documents")["documents"]
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ranged = (
        d.select("doc_id", "n_chars")
        .repartitionByRange(n_parts, F.desc("n_chars"), F.asc("doc_id"))
        .withColumn("pid", F.spark_partition_id())
        .transform(cut_lineage)
    )
    local = ranged.withColumn(
        "lr",
        F.row_number().over(
            W.partitionBy("pid").orderBy(F.desc("n_chars"), F.asc("doc_id"))
        ),
    )
    cnts = ranged.groupBy("pid").agg(F.count("*").alias("cnt"))
    offsets = cumulative_offsets(cnts)
    total = cnts.agg(F.sum("cnt").alias("n"))
    ranked = (
        local.join(F.broadcast(offsets.select("pid", "off")), "pid")
        .withColumn("rank", F.col("lr") + F.col("off"))
        .crossJoin(F.broadcast(total))
    )
    scored = ranked.select(
        "doc_id",
        ntile_closed_form(F.col("rank"), F.col("n"), 10).alias("decile"),
    )
    keep = _accept_hash(F.col("doc_id")) * F.col("decile") < F.lit(_MIX_P)
    return scored.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("n_orig"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("bigint").alias("n_kept"),
    )


# ---------------------------------------------------------------------------
# BPE merge-candidate counting (tokenizer-training inner loop)
# ---------------------------------------------------------------------------

_BPE_SQL = """
    WITH words AS (
        SELECT w AS word, COUNT(*) AS wfreq FROM (
            SELECT UNNEST(LIST_FILTER(
                STRING_SPLIT(REGEXP_REPLACE(LOWER(text), '[^a-z]+', ' ', 'g'), ' '),
                x -> LENGTH(x) >= 2)) AS w
            FROM documents)
        GROUP BY w
    ), pairs AS (
        SELECT SUBSTRING(word, i, 2) AS pair, wfreq
        FROM words, UNNEST(GENERATE_SERIES(1, LENGTH(word) - 1)) AS t(i)
    )
    SELECT pair, CAST(SUM(wfreq) AS BIGINT) AS freq
    FROM pairs GROUP BY pair
    ORDER BY freq DESC, pair ASC LIMIT 20
"""


@query("text_bpe_pair_counts", oracle=_BPE_SQL)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One iteration of BPE tokenizer training: count adjacent symbol
    pairs across the corpus weighted by word frequency and emit the
    top-20 merge candidates. The real training loop repeats this with
    the previous winners merged into single symbols; the per-iteration
    dataflow — word histogram, positional pair explode, weighted count,
    bounded top-k — is exactly this query.

    Scale: the word histogram collapses the corpus to its vocabulary
    before any pair work (vocab << corpus), pairs explode map-side from
    vocabulary rows, and the final top-20 is TakeOrdered (no global
    sort shuffle)."""
    d = _t(spark, sf_dir, "documents")["documents"]
    words = (
        d.select(
            F.explode(
                F.filter(
                    F.split(F.regexp_replace(F.lower("text"), "[^a-z]+", " "), " "),
                    lambda w: F.length(w) >= 2,
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("wfreq"))
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")
        ).alias("pair"),
        "wfreq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wfreq").cast("bigint").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("pair"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Embedding-space round-3 operators (SemDeDup, MMR, SQ8)
# ---------------------------------------------------------------------------


@query("dedup_semantic", oracle=None)  # k-means candidates: approximate by design
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic near-duplicate pairs (cosine >= 0.40 within
    k-means clusters of the embedding space). Candidate generation is
    the clustering itself — pairs in different clusters are never
    compared, which is the published scaling argument (quadratic work
    shrinks by ~k). Every emitted pair carries an exact cosine
    (precision 1.0); recall vs the all-pairs referee is pinned in
    tests/test_operators.py::test_semantic_dedup_recall. Rows-only by
    contract: the k-means assignment is not SQL-expressible."""
    from es_analytics_spark.operators.similarity import semantic_dedup_pairs

    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    return semantic_dedup_pairs(e, "vec_id", "embedding", threshold=0.40, k=16)


@query("sim_mmr_rerank", oracle=None)  # greedy-sequential: not SQL-expressible
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-8 per query (lambda = 0.7, pool = 32 exact
    candidates, queries = vec_id < 5 by contract). Deterministic:
    9dp-rounded scores with neighbor-id tie-breaks; invariants (first
    pick equals the cosine top-1, no repeats, bounded pool) are pinned
    in tests/test_operators.py::test_mmr_rerank_invariants."""
    from es_analytics_spark.operators.similarity import mmr_rerank

    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    q = e.filter(F.col("vec_id") < 5)
    return mmr_rerank(e, q, "vec_id", "embedding", k=8, pool=32, lam=0.7)


@query("sim_sq8_topk", oracle=None)  # quantized scoring: approximate by design
def sim_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantized ANN top-5 (queries = vec_id < 10 by
    contract): per-dimension [min,max] ranges quantize every vector to
    one byte per dim, an integer dot product (JVM zip_with/aggregate)
    scores candidates, the top 4*k survivors exact-rerank in float.
    Recall vs brute force pinned in
    tests/test_operators.py::test_sq8_topk_recall."""
    from es_analytics_spark.operators.similarity import sq8_topk

    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    q = e.filter(F.col("vec_id") < 10)
    return sq8_topk(e, q, "vec_id", "embedding", k=5, oversample=4)


# ---------------------------------------------------------------------------
# Streaming: mergeable bitmap state in the state store
# ---------------------------------------------------------------------------

_STREAM_BITMAP_SQL = """
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nd_users
    FROM events GROUP BY event_type
"""


@query("stream_bitmap_distinct", mutates_conf=True, oracle=_STREAM_BITMAP_SQL)
def stream_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per event type computed BY THE STREAMING
    ENGINE with bitmap state: the per-(type, 32k-id bucket) streaming
    aggregate keeps one compressed bitmap per group in the state store
    (each micro-batch ORs its new bits in — bitmap_construct_agg is
    mergeable, which is precisely what makes it streaming-legal), and a
    batch fold over the replayed state counts the bits. The oracle is
    plain COUNT(DISTINCT): streaming bitmap state must reproduce it
    exactly after replaying the bounded fixture.

    Scale: state per group is a fixed-size bitmap keyed by (type,
    bucket) — state growth is bounded by the id domain / 32k, not by
    the event count; the classic streaming dropDuplicates alternative
    keys state by every distinct user id."""
    from es_analytics_spark.streaming.ingest import replay_stream, stream_events

    ev = stream_events(spark, sf_dir)
    agg = (
        ev.select(
            "event_type",
            F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
            F.expr("bitmap_bit_position(user_id)").alias("pos"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("b"))
    )
    replayed = replay_stream(
        spark, agg, name="stream_bitmap_distinct", output_mode="complete"
    )
    return replayed.groupBy("event_type").agg(
        F.sum(F.expr("bitmap_count(b)")).cast("bigint").alias("nd_users")
    )


# ---------------------------------------------------------------------------
# Incremental enriched-view machinery under the exact gate
# ---------------------------------------------------------------------------

_VIEW_INCREMENTAL_SQL = """
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(38,10))), 4) AS DOUBLE)
             AS total_acctbal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
"""


@query("join_view_incremental", oracle=_VIEW_INCREMENTAL_SQL)
def join_view_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental enriched-view refresh under the exact-compare
    gate: materialize customer⋈nation into a scratch txlog table
    (second refresh must be a no-op — idempotence is part of the
    contract), read back the committed snapshot, aggregate, and
    hash-match the direct join's SQL. Proves the exactly-once-by-source
    refresh end to end, not just in unit tests.

    Scale: a refresh enriches only files no commit has incorporated
    (here one); view size never appears in refresh cost; see
    incremental.refresh_enriched_view."""
    import shutil
    import tempfile

    from es_analytics_spark.incremental import refresh_enriched_view
    from es_analytics_spark.txlog import read_table

    dim = _t(spark, sf_dir, "nation")["nation"].select("n_nationkey", "n_name")

    def enrich(df):
        return df.join(
            F.broadcast(dim), df["c_nationkey"] == dim["n_nationkey"]
        ).select("c_custkey", "c_acctbal", F.col("n_name").alias("nation"))

    tmp = tempfile.mkdtemp(prefix="view_q_")
    try:
        glob_pat = f"{sf_dir}/customer.parquet"
        refresh_enriched_view(spark, glob_pat, tmp, enrich)
        second = refresh_enriched_view(spark, glob_pat, tmp, enrich)
        assert second["new_files"] == 0
        out = (
            read_table(spark, tmp)
            .groupBy("nation")
            .agg(
                F.count("*").cast("bigint").alias("n_customers"),
                F.round(F.sum(F.col("c_acctbal").cast("decimal(38,10)")), 4)
                .cast("double")
                .alias("total_acctbal"),
            )
        )
        pdf = out.toPandas()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(pdf, out.schema)


# ---------------------------------------------------------------------------
# Asymmetric n-gram containment (excerpt / quote detection)
# ---------------------------------------------------------------------------

_CONTAIN_T = 0.5
_CONTAIN_SQL = f"""
    WITH words AS (
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
      FROM words)
    SELECT a.doc_id AS id_contained, b.doc_id AS id_container,
           FLOOR(CAST(LEN(LIST_INTERSECT(a.g, b.g)) AS DOUBLE) / LEN(a.g)
                 * 1e6 + 0.5) / 1e6 AS containment
    FROM grams a JOIN grams b ON a.source = b.source AND a.doc_id != b.doc_id
    WHERE CAST(LEN(LIST_INTERSECT(a.g, b.g)) AS DOUBLE) / LEN(a.g) >= {_CONTAIN_T}
"""


@query("text_ngram_containment", oracle=_CONTAIN_SQL)
def text_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric word-3-gram containment |grams(A) ∩ grams(B)| /
    |grams(A)| >= 0.5 within a source block: the excerpt/quote
    detector symmetric Jaccard misses — a short doc lifted wholesale
    into a long one scores near-zero Jaccard (union is dominated by
    the long doc) but containment ~1. This is the Broder containment
    measure, the partial-duplicate signal corpus curation uses beside
    dedup_ngram_jaccard's symmetric one.

    Shape: same scale contract as the Jaccard query — explode distinct
    grams, token equi-join on (source, gram) so only MATCHING grams
    reach the pair aggregation (work scales with overlap, not
    |block|²), per-doc gram counts as a separate tiny aggregate joined
    back (inlining the size through the explode re-materializes the
    shingle array per row; see ngram_jaccard_pairs' 13x note)."""
    from es_analytics_spark.operators.dedup import exploded_shingles

    d = _t(spark, sf_dir, "documents")["documents"]
    # exploded_shingles keeps the projection boundary that stops
    # CollapseProject from rebuilding the shingle array per exploded
    # row (a naive explode-over-with_shingles spelling of this query
    # measured 18 s vs ~2 s at sf0.01 — the 13x trap the jaccard
    # docstring documents)
    tok = exploded_shingles(
        d, "text", 3, keep=["doc_id", "source"], out_col="tok"
    ).select("source", F.col("doc_id").alias("id"), "tok")
    sizes = tok.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a = tok.select("source", F.col("id").alias("id_a"), "tok")
    b = tok.select("source", F.col("id").alias("id_b"), "tok")
    pairs = (
        a.join(b, ["source", "tok"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
        .join(sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb")), "id_b")
    )
    # one ordered join pass yields BOTH directions: containment of a in
    # b is inter/na, of b in a is inter/nb
    def _dir(contained, container, size_col):
        c = F.col("inter") / F.col(size_col)
        return pairs.filter(c >= _CONTAIN_T).select(
            F.col(contained).alias("id_contained"),
            F.col(container).alias("id_container"),
            (F.floor(c * 1e6 + F.lit(0.5)) / 1e6).alias("containment"),
        )

    return _dir("id_a", "id_b", "na").unionByName(_dir("id_b", "id_a", "nb"))


# ---------------------------------------------------------------------------
# SQL-surface round-out: ordered LISTAGG, exact linear regression
# ---------------------------------------------------------------------------

_LISTAGG_SQL = """
    WITH top3 AS (
        SELECT c_nationkey, c_name,
               ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                  ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
        FROM customer
    )
    SELECT c_nationkey,
           STRING_AGG(c_name, ',' ORDER BY c_name) AS top_names
    FROM top3 WHERE rn <= 3 GROUP BY c_nationkey
"""


@query("agg_listagg", oracle=_LISTAGG_SQL)
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered LISTAGG (SQL:2016 / Spark 4 ``listagg ... WITHIN
    GROUP``): the three highest-balance customers per nation folded
    into one deterministic comma string. The WITHIN GROUP order is the
    whole point — an unordered string fold is nondeterministic under
    distribution and could never pass a hash gate.

    Scale: the top-3 filter (per-group rank window) bounds the string
    length per group before any aggregation; listagg over an unbounded
    group would be the array-collect anti-pattern."""
    c = _t(spark, sf_dir, "customer")["customer"]
    w = W.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    top3 = c.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)
    top3.createOrReplaceTempView("__listagg_top3")
    return spark.sql(
        """
        SELECT c_nationkey,
               listagg(c_name, ',') WITHIN GROUP (ORDER BY c_name) AS top_names
        FROM __listagg_top3 GROUP BY c_nationkey
        """
    )


def _dsum4(col: Column) -> Column:
    """Component sum for regression arithmetic: exact decimal fold,
    rounded half-up at 4dp into double (same contract as dsum)."""
    return F.round(F.sum(col.cast("decimal(38,10)")), 4).cast("double")


_REGR_COMPONENTS_SQL = """
        SELECT event_type,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(ROUND(SUM(CAST(x AS DECIMAL(38,10))), 4) AS DOUBLE) AS sx,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(38,10))), 4) AS DOUBLE) AS sy,
               CAST(ROUND(SUM(CAST(x * value AS DECIMAL(38,10))), 4) AS DOUBLE) AS sxy,
               CAST(ROUND(SUM(CAST(x * x AS DECIMAL(38,10))), 4) AS DOUBLE) AS sxx,
               CAST(ROUND(SUM(CAST(value * value AS DECIMAL(38,10))), 4) AS DOUBLE) AS syy
        FROM (SELECT event_type, CAST(EXTRACT(day FROM ts) AS DOUBLE) AS x, value
              FROM events)
        GROUP BY event_type
"""

_REGR_SQL = f"""
    WITH comp AS ({_REGR_COMPONENTS_SQL})
    SELECT event_type, CAST(n AS BIGINT) AS n_obs,
           FLOOR((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1e6 + 0.5) / 1e6
             AS slope,
           FLOOR((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n * 1e6
                 + 0.5) / 1e6 AS intercept,
           FLOOR((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)) * 1e6 + 0.5) / 1e6
             AS r2
    FROM comp
"""


@query("agg_linear_regression", oracle=_REGR_SQL)
def agg_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The regr_* family (slope / intercept / r²) per event type —
    value regressed on day-of-month — computed EXACTLY from decimal
    component sums (n, Σx, Σy, Σxy, Σx², Σy²), each rounded half-up at
    4dp into double before the closed-form arithmetic, so the
    distributed partial aggregation bit-matches the single-threaded
    oracle. Spark's native regr_slope/regr_intercept/regr_r2 carry
    order-dependent double partials and could not pass a hash gate;
    tests pin that this decimal spelling agrees with the native
    aggregates to float tolerance.

    Scale: one partial+final aggregate over six mergeable components —
    the textbook map-side-combine shape; magnitudes (day-of-month x,
    fixture values) keep every rounded component far inside 2^53, so
    the final IEEE arithmetic is deterministic everywhere."""
    ev = _t(spark, sf_dir, "events")["events"]
    x = F.dayofmonth("ts").cast("double")
    comp = ev.select(
        "event_type", x.alias("x"), F.col("value").alias("y")
    ).groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        _dsum4(F.col("x")).alias("sx"),
        _dsum4(F.col("y")).alias("sy"),
        _dsum4(F.col("x") * F.col("y")).alias("sxy"),
        _dsum4(F.col("x") * F.col("x")).alias("sxx"),
        _dsum4(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    cov_n = n * sxy - sx * sy
    var_n = n * sxx - sx * sx
    slope = cov_n / var_n
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return comp.select(
        "event_type",
        n.cast("bigint").alias("n_obs"),
        r6(slope).alias("slope"),
        r6((sy - slope * sx) / n).alias("intercept"),
        r6(cov_n * cov_n / (var_n * (n * syy - sy * sy))).alias("r2"),
    )


# ---------------------------------------------------------------------------
# URL function family (parse + canonicalize)
# ---------------------------------------------------------------------------

_URL_SQL = """
    WITH urls AS (
        SELECT event_id,
               'https://Shop.Example.COM/' || event_type || '/item?uid=' ||
               CAST(user_id AS VARCHAR) || '&utm_source=mail&ref=' ||
               CAST(event_id % 7 AS VARCHAR) AS url
        FROM events WHERE event_id < 2000
    )
    SELECT event_id,
           LOWER(REGEXP_EXTRACT(url, '^[a-z]+://([^/]+)', 1)) AS host,
           REGEXP_EXTRACT(url, '^[a-z]+://[^/]+(/[^?#]*)', 1) AS path,
           REGEXP_EXTRACT(url, '[?&]ref=([^&#]*)', 1) AS ref_param,
           LOWER(REGEXP_EXTRACT(url, '^[a-z]+://([^/]+)', 1))
             || REGEXP_EXTRACT(url, '^[a-z]+://[^/]+(/[^?#]*)', 1)
             || '?ref=' || REGEXP_EXTRACT(url, '[?&]ref=([^&#]*)', 1)
             AS canonical
    FROM urls
"""


@query("fn_url_parse", oracle=_URL_SQL)
def fn_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL function family: ``parse_url`` HOST/PATH/QUERY-key
    extraction plus the canonicalization every web-corpus dedup
    pipeline runs before URL-level dedup — lowercase the host, keep
    the path, strip tracking params (utm_*), retain meaningful ones.
    URLs are synthesized deterministically from event columns (the
    fixture carries no URL column); the oracle spells the same
    extraction with regexes, so Spark's parse_url semantics are
    pinned against an independent implementation.

    Scale: pure map-side expressions over the scan; the id filter is
    pushed to parquet."""
    ev = _t(spark, sf_dir, "events")["events"].filter(F.col("event_id") < 2000)
    url = F.concat(
        F.lit("https://Shop.Example.COM/"),
        F.col("event_type"),
        F.lit("/item?uid="),
        F.col("user_id").cast("string"),
        F.lit("&utm_source=mail&ref="),
        (F.col("event_id") % 7).cast("string"),
    )
    host = F.lower(F.parse_url(url, F.lit("HOST")))
    path = F.parse_url(url, F.lit("PATH"))
    ref = F.parse_url(url, F.lit("QUERY"), F.lit("ref"))
    return ev.select(
        "event_id",
        host.alias("host"),
        path.alias("path"),
        ref.alias("ref_param"),
        F.concat(host, path, F.lit("?ref="), ref).alias("canonical"),
    )


# ---------------------------------------------------------------------------
# Seasonal profile (day-of-week decomposition + seasonality strength)
# ---------------------------------------------------------------------------

_SEASONAL_SQL = """
    WITH obs AS (
        SELECT event_type, ISODOW(ts) AS dow, value FROM events
    ), per_dow AS (
        SELECT event_type, dow,
               COUNT(*) AS n,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(38,10))), 4) AS DOUBLE) AS s
        FROM obs GROUP BY event_type, dow
    ), per_type AS (
        SELECT event_type,
               COUNT(*) AS n_tot,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(38,10))), 4) AS DOUBLE) AS s_tot,
               CAST(ROUND(SUM(CAST(value * value AS DECIMAL(38,10))), 4) AS DOUBLE)
                 AS ss_tot
        FROM obs GROUP BY event_type
    ), strength AS (
        SELECT d.event_type,
               FLOOR((CAST(SUM(CAST(d.s * d.s / d.n AS DECIMAL(38,10))) AS DOUBLE)
                      - ANY_VALUE(t.s_tot) * ANY_VALUE(t.s_tot)
                          / ANY_VALUE(t.n_tot))
                     / (ANY_VALUE(t.ss_tot) - ANY_VALUE(t.s_tot) * ANY_VALUE(t.s_tot)
                          / ANY_VALUE(t.n_tot)) * 1e6 + 0.5) / 1e6 AS strength
        FROM per_dow d JOIN per_type t ON d.event_type = t.event_type
        GROUP BY d.event_type
    )
    SELECT d.event_type, d.dow, CAST(d.n AS BIGINT) AS n_obs,
           FLOOR(d.s / d.n * 1e6 + 0.5) / 1e6 AS mean_v,
           FLOOR((d.s / d.n - t.s_tot / t.n_tot) * 1e6 + 0.5) / 1e6 AS dev_from_mean,
           st.strength
    FROM per_dow d
    JOIN per_type t ON d.event_type = t.event_type
    JOIN strength st ON d.event_type = st.event_type
"""


@query("ts_seasonal_profile", oracle=_SEASONAL_SQL)
def ts_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal decomposition per event type: the weekly
    profile (per-ISO-dow mean and its deviation from the series mean)
    plus seasonality STRENGTH = SS_between / SS_total — the share of
    total variance the weekly cycle explains (the one-way ANOVA
    eta-squared, the strength statistic STL-style decompositions
    report). Strength near 0 ⇒ the weekday means nothing; near 1 ⇒
    the weekday IS the signal.

    Exactness: every sum of values/squares is a 4dp-rounded decimal
    component, and strength/means derive from those components in
    closed-form double arithmetic with half-up rounding — identical on
    both engines regardless of partitioning (the regression query's
    contract).

    Scale: two partial+final aggregates over (type, dow) and (type) —
    map-side-combined, group counts bounded by |types| x 7."""
    ev = _t(spark, sf_dir, "events")["events"]
    obs = ev.select(
        "event_type",
        (F.weekday("ts") + 1).alias("dow"),
        F.col("value").alias("y"),
    )
    per_dow = obs.groupBy("event_type", "dow").agg(
        F.count("*").alias("n"), _dsum4(F.col("y")).alias("s")
    )
    per_type = obs.groupBy("event_type").agg(
        F.count("*").alias("n_tot"),
        _dsum4(F.col("y")).alias("s_tot"),
        _dsum4(F.col("y") * F.col("y")).alias("ss_tot"),
    )
    joined = per_dow.join(per_type, "event_type")
    # the 7-row fold still goes through DECIMAL: a double SUM over even
    # seven addends is order-dependent, and the hash gate tolerates zero
    ss_between = F.sum(
        (F.col("s") * F.col("s") / F.col("n")).cast("decimal(38,10)")
    ).cast("double") - F.any_value(
        F.col("s_tot") * F.col("s_tot") / F.col("n_tot")
    )
    ss_total = F.any_value(
        F.col("ss_tot") - F.col("s_tot") * F.col("s_tot") / F.col("n_tot")
    )
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    strength = joined.groupBy("event_type").agg(
        r6(ss_between / ss_total).alias("strength")
    )
    return joined.join(strength, "event_type").select(
        "event_type",
        "dow",
        F.col("n").cast("bigint").alias("n_obs"),
        r6(F.col("s") / F.col("n")).alias("mean_v"),
        r6(F.col("s") / F.col("n") - F.col("s_tot") / F.col("n_tot")).alias(
            "dev_from_mean"
        ),
        "strength",
    )


# ---------------------------------------------------------------------------
# Deterministic exact-k global sample
# ---------------------------------------------------------------------------

_GLOBAL_SAMPLE_SQL = f"""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    ORDER BY {_accept_hash_sql('doc_id')} ASC, doc_id ASC
    LIMIT 40
"""


@query("sample_exact_k_global", oracle=_GLOBAL_SAMPLE_SQL)
def sample_exact_k_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k uniform global sample, deterministically: order by the
    portable integer hash of the id (doc_id tie-break) and take the
    first k — the same rows on every run, engine, and partitioning,
    unlike rate-based .sample() (approximate k, seed-and-partitioning
    dependent). The corpus-inspection primitive ("give me the same
    1000 docs every time") next to sample_stratified's per-stratum
    rates and sample_exact_k_per_group's per-group quotas.

    Scale: orderBy+limit plans as TakeOrderedAndProject — each task
    keeps a k-row heap and the driver merges partition heads; zero
    shuffles, k rows ever cross the wire."""
    d = _t(spark, sf_dir, "documents")["documents"]
    return (
        d.select("doc_id", "lang", "source", "n_chars")
        .orderBy(_accept_hash(F.col("doc_id")).asc(), F.col("doc_id").asc())
        .limit(40)
    )
