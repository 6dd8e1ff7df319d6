"""Coverage extensions beyond SURVEY §2's tagged rows: percentiles, pivot,
cube, and the sampling operators a training-data pipeline needs.

Percentile portability: Spark ``percentile``/``median`` and DuckDB
``quantile_cont``/``median`` both sort and linearly interpolate on the same
IEEE doubles — verified bit-identical on sf0.01 (no rounding wrapper
needed). ``approx_percentile`` would NOT be portable (different sketches);
the exact forms are used here, and HLL/approx family portability caveats
live with q_approx_cd.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hippo_claim_crossover_spark.operators.hashing import (
    md5_long, sql_md5_long)
from hippo_claim_crossover_spark.operators.ranking import (
    grouped_global_rank,
    grouped_histogram_cdf,
    grouped_percentiles,
)
from hippo_claim_crossover_spark.plans.base import (
    QuerySpec,
    aes_key,
    duck_round,
    money_micros,
    money_sum,
    money_sum_sql,
    sql_aes_key,
    t,
    t_wide,
    within_rel_band,
)
from hippo_claim_crossover_spark.session import materialize


def _exact_price_units_percentiles(li: DataFrame) -> DataFrame:
    """Per return flag: exact p50/p95 of price and median of units. Both
    value columns are stacked into one (flag, metric, value) stream, so
    one percentile walk serves all three results."""
    melted = li.select(
        "l_returnflag",
        F.expr("stack(2, 'price', l_extendedprice, 'units', l_quantity)"
               " AS (_metric, _v)"))
    res = grouped_percentiles(
        melted, ["l_returnflag", "_metric"], "_v", [0.5, 0.95])
    is_price = F.col("_metric") == "price"
    p_idx = F.col("_p_idx")
    return (
        res.groupBy("l_returnflag")
        .agg(F.max(F.when(is_price & (p_idx == 0), F.col("value")))
             .alias("p50_price"),
             F.max(F.when(is_price & (p_idx == 1), F.col("value")))
             .alias("p95_price"),
             F.max(F.when(~is_price & (p_idx == 0), F.col("value")))
             .alias("median_units"))
    )


def q_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped percentiles (p50/p95) + median via DISTRIBUTED
    rank-and-interpolate (operators/ranking.py), not the exact
    ``percentile`` aggregate.

    The aggregate form buffers O(rows-per-group) in each reduce task; on
    a 3-value grouping key that is 3 tasks each materializing a third of
    the fact column — fine at sf0.1, a guaranteed OOM at 100× (the r5
    verdict's one flagged scale cliff). Here both value columns are
    stacked into one (flag, metric, value) stream, every row gets its
    exact per-(flag, metric) rank through a range shuffle + prefix
    offsets (no single-task or per-group sort anywhere), and only the
    two rows straddling each target rank are fetched and interpolated —
    reduce-side state is O(1) per row at any scale. Results are
    bit-identical to the quantile_cont discipline, so the DuckDB oracle
    is unchanged. ``q_percentile_approx`` is the sketch sibling for when
    a bounded-memory single pass beats two shuffles."""
    return _exact_price_units_percentiles(t(spark, sf_dir, "lineitem"))


ORACLE_PERCENTILE = """
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.5) AS p50_price,
       quantile_cont(l_extendedprice, 0.95) AS p95_price,
       median(l_quantity) AS median_units
FROM lineitem GROUP BY l_returnflag
"""


def q_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch sibling of q_percentile: ``approx_percentile`` (KLL-style
    bounded-memory quantile sketch, accuracy knob 10000) in ONE
    partial/final aggregate pass — the 100 TB path when a single shuffle
    matters more than exactness.

    Deterministic-verdict output: the sketch values are engine-specific,
    so the result carries the EXACT percentiles (same distributed
    rank-and-interpolate as q_percentile — the hash-proven machinery)
    plus one boolean asserting every sketch value landed within ±5%
    relative of its exact counterpart (accuracy 10000 ⇒ rank error
    ≤ n·1e-4, far inside the band on any non-degenerate distribution).
    The oracle computes the exact side and a constant TRUE, so an
    out-of-band sketch fails the driver's hash."""
    li = t(spark, sf_dir, "lineitem")
    approx = (
        li.groupBy("l_returnflag")
        .agg(F.percentile_approx("l_extendedprice", 0.5, 10000)
             .alias("_a50"),
             F.percentile_approx("l_extendedprice", 0.95, 10000)
             .alias("_a95"),
             F.percentile_approx("l_quantity", 0.5, 10000)
             .alias("_amed"))
    )
    exact = _exact_price_units_percentiles(li)

    def _band(a, e):
        return within_rel_band(F.col(a), F.col(e), 0.05)

    return (
        exact.join(F.broadcast(approx), "l_returnflag")
        .select("l_returnflag", "p50_price", "p95_price", "median_units",
                (_band("_a50", "p50_price") & _band("_a95", "p95_price")
                 & _band("_amed", "median_units"))
                .alias("sketch_within_5pct"))
    )


ORACLE_PERCENTILE_APPROX = """
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.5) AS p50_price,
       quantile_cont(l_extendedprice, 0.95) AS p95_price,
       median(l_quantity) AS median_units,
       TRUE AS sketch_within_5pct
FROM lineitem GROUP BY l_returnflag
"""


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide pivot on an explicit value list (explicit values keep the plan
    a single pass — omitting them costs an extra distinct-collection job)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.count(F.lit(1)))
        .withColumnsRenamed({"F": "n_fulfilled", "O": "n_open"})
    )


ORACLE_PIVOT = """
SELECT l_returnflag,
       count(*) FILTER (WHERE l_linestatus = 'F') AS n_fulfilled,
       count(*) FILTER (WHERE l_linestatus = 'O') AS n_open
FROM lineitem GROUP BY l_returnflag
"""


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets — all 4 combinations in one Expand+HashAggregate
    (one shuffle), like rollup."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_lines"),
             F.max("l_quantity").alias("max_units"))
    )


ORACLE_CUBE = """
SELECT l_returnflag, l_linestatus, count(*) AS n_lines,
       max(l_quantity) AS max_units
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-addressed ~10% sample: hash the key, keep
    bucket 0 of 10. This is how a training pipeline carves stable held-out
    splits — membership depends only on the key, not on partitioning, row
    order, engine, or run (unlike TABLESAMPLE/rand()). md5-derived so the
    oracle computes the identical bucket."""
    o = t(spark, sf_dir, "orders")
    bucket = md5_long(F.col("o_orderkey").cast("string")) % 10
    return (
        o.where(bucket == 0)
        .select(F.col("o_orderkey").alias("claim_id"),
                F.col("o_custkey").alias("subscriber_id"),
                F.round(F.col("o_totalprice"), 2).alias("total"))
    )


ORACLE_SAMPLE_HASH = f"""
SELECT o_orderkey AS claim_id, o_custkey AS subscriber_id,
       round(o_totalprice, 2) AS total
FROM orders
WHERE {sql_md5_long("CAST(o_orderkey AS VARCHAR)")} % 10 = 0
"""


_STRATA_FRACTIONS = {"A": 0.05, "N": 0.10, "R": 0.05}


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded per-stratum Bernoulli sampling (``sampleBy``) — balances class
    proportions when building training subsets.

    Deterministic-verdict output: the sampled row count is
    engine-specific RNG, so each stratum emits its EXACT population,
    the requested fraction, and a boolean asserting the realized count
    sits within the 6σ binomial band |k − f·n| ≤ 6·√(f·(1−f)·n) + 1
    (per-seed deterministic, so the boolean is stable run to run; a
    broken sampler — wrong stratum routing, fraction drift — flips it
    and fails the driver's hash). The oracle computes populations and
    fractions exactly, verdicts as TRUE."""
    li = t(spark, sf_dir, "lineitem")
    pop = (li.groupBy("l_returnflag")
           .agg(F.count(F.lit(1)).alias("n_population")))
    sampled = (
        li.sampleBy("l_returnflag", _STRATA_FRACTIONS, seed=42)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("_n_sampled"))
    )
    frac = F.element_at(
        F.create_map(*[F.lit(x) for kv in _STRATA_FRACTIONS.items()
                       for x in kv]),
        F.col("l_returnflag"))
    # LEFT join + coalesce: a stratum whose realized sample is empty has
    # no group-by row on the sampled side — an inner join would silently
    # drop its output row (vs the oracle's unconditional one per
    # stratum) even though 0 draws is inside the band for small n·f.
    n_samp = F.coalesce(F.col("_n_sampled"), F.lit(0))
    return (
        pop.join(F.broadcast(sampled), "l_returnflag", "left")
        .select("l_returnflag", "n_population",
                frac.alias("fraction"),
                (F.abs(n_samp - frac * F.col("n_population"))
                 <= 6 * F.sqrt(frac * (1 - frac) * F.col("n_population"))
                 + 1).alias("within_binomial_band"))
    )


_STRATA_FRAC_SQL = " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in _STRATA_FRACTIONS.items())
ORACLE_SAMPLE_STRATIFIED = f"""
SELECT l_returnflag, count(*) AS n_population,
       CASE l_returnflag {_STRATA_FRAC_SQL} END AS fraction,
       TRUE AS within_binomial_band
FROM lineitem GROUP BY l_returnflag
"""


_WSAMPLE_K = 100


def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis–Spirakis A-ES): keep the top-K documents by
    ``u^(1/w)`` where ``w`` is the importance weight (doc length here —
    the 'sample long documents proportionally more' curation knob) and
    ``u`` is a CONTENT-ADDRESSED uniform — ``(md5_long + 1) / 2^60``,
    ``base.aes_key`` — so membership depends only on the key, never on
    partitioning, run, or engine (the q_sample_hash discipline, upgraded
    from Bernoulli to weighted-without-replacement).

    Scale shape: one scan + TakeOrdered(K) (per-partition heaps, driver
    merges K rows) — no shuffle of the table, no RNG state. The one
    transcendental, ``pow``, feeds only the RANKING (A-ES needs the
    comparison, not the value), and the emitted columns are exact —
    selection flips only if two keys collide within an ulp AT the
    K-boundary; hash-verified against DuckDB at all three fixture
    scales."""
    d = t(spark, sf_dir, "documents")
    key = aes_key(F.col("doc_id"), F.col("n_chars").cast("double"))
    return (
        d.select("doc_id", "source", "n_chars", key.alias("_k"))
        .orderBy(F.desc("_k"), F.asc("doc_id"))
        .limit(_WSAMPLE_K)
        .select("doc_id", "source", "n_chars")
    )


ORACLE_SAMPLE_WEIGHTED = f"""
SELECT doc_id, source, n_chars
FROM (
  SELECT doc_id, source, n_chars,
         {sql_aes_key("doc_id", "CAST(n_chars AS DOUBLE)")} AS k
  FROM documents
)
ORDER BY k DESC, doc_id
LIMIT {_WSAMPLE_K}
"""


_WSAMPLE_GROUP_K = 20


def q_sample_weighted_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum weighted sampling: q_sample_weighted's A-ES keys
    ranked WITHIN each source (row_number over the source partition,
    ordered by u^(1/w) desc) — 'take the 20 most important docs from
    every source', the balanced-corpus construction step.

    Scale shape: Spark's WindowGroupLimit pushes the k=20 limit below
    the window shuffle, so each map partition ships at most 20 rows per
    source — the same bounded-skew argument as q_sample_group, with the
    deterministic content-addressed weighting on top. The 5-value
    partition key never sees more than 20·partitions rows."""
    d = t(spark, sf_dir, "documents")
    key = aes_key(F.col("doc_id"), F.col("n_chars").cast("double"))
    w = Window.partitionBy("source").orderBy(F.desc("_k"), F.asc("doc_id"))
    return (
        d.select("doc_id", "source", "n_chars", key.alias("_k"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _WSAMPLE_GROUP_K)
        .select("source", "rk", "doc_id", "n_chars")
    )


ORACLE_SAMPLE_WEIGHTED_GROUP = f"""
SELECT source, rk, doc_id, n_chars
FROM (
  SELECT source, doc_id, n_chars,
         row_number() OVER (
           PARTITION BY source
           ORDER BY {sql_aes_key("doc_id", "CAST(n_chars AS DOUBLE)")} DESC,
                    doc_id) AS rk
  FROM documents
)
WHERE rk <= {_WSAMPLE_GROUP_K}
"""


def q_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2b UDF surface, aggregate leg: a custom two-phase aggregation
    (quantity-weighted average price per return flag) — Arrow-batched
    ``mapInPandas`` partial fold, built-in final merge.

    Scale shape: the Python stage folds each Arrow batch (~10k rows) into
    one tiny partial row per group *before any shuffle*, so the exchange
    carries O(groups × batches) rows and no Python worker ever holds more
    than a batch — the same partial/final split HashAggregateExec uses.
    (The naive ``groupBy(flag).applyInPandas`` alternative shuffles the
    full table into 3 pandas DataFrames — ⅓ of the table per worker,
    OOM at 100 TB, and measured 4.3s vs <1s for this shape at sf0.1.)

    Float determinism: pandas pairwise summation disagrees with
    sequential engines in the last ulp, so the fold runs on exact
    integer-scaled values (the same money_micros discipline as
    plans/base.py); partial longs merge exactly with a built-in sum and
    the final division applies DuckDB's mechanical rounding — making even
    a Python UDAF hash-comparable against the SQL oracle. Long headroom:
    p*q*1e4 ≤ 5e10 per row ⇒ ~2e8 rows per group per long; the partial
    rows themselves are exact, so swap the final ``sum`` to
    ``sum(cast(... as decimal(38,0)))`` beyond that.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    def partial_fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # floor(x*scale+0.5) on float64 matches both engines bit-for-bit
        # (same doubles, same ops). p*q is exact at 4dp; q at 2dp.
        for pdf in batches:
            w = np.floor(pdf["l_extendedprice"] * pdf["l_quantity"]
                         * 1e4 + 0.5).astype("int64")
            q = np.floor(pdf["l_quantity"] * 1e2 + 0.5).astype("int64")
            g = (pd.DataFrame({"l_returnflag": pdf["l_returnflag"],
                               "wsum": w, "qsum": q, "n": 1})
                 .groupby("l_returnflag", as_index=False).sum())
            yield g

    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity")
    partials = li.mapInPandas(
        partial_fold,
        schema="l_returnflag string, wsum long, qsum long, n long")
    wavg = duck_round(
        F.sum("wsum").cast("double") / (F.lit(100.0) * F.sum("qsum")), 4)
    return (
        partials.groupBy("l_returnflag")
        .agg(wavg.alias("weighted_avg_price"),
             F.sum("n").alias("n_lines"))
    )


ORACLE_UDAF = """
SELECT l_returnflag,
       round(CAST(sum(CAST(floor(l_extendedprice * l_quantity * 1e4 + 0.5)
                           AS BIGINT)) AS DOUBLE)
             / (100.0 * sum(CAST(floor(l_quantity * 1e2 + 0.5) AS BIGINT))),
             4) AS weighted_avg_price,
       count(*) AS n_lines
FROM lineitem GROUP BY l_returnflag
"""


def q_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 ``DataFrame.transpose()``: flip a small per-flag metrics
    aggregate into metrics-as-rows / flags-as-columns — the
    report-matrix shape BI layers want.

    Transpose is a driver-materializing operator by contract (the result
    header is data-dependent), so it is only ever applied AFTER the
    aggregate has collapsed the input to O(groups) rows — here 3. The
    heavy lifting (the full lineitem scan + partial/final agg) is
    unchanged distributed work; metrics ride the exact-micros sums. The
    input is sorted by flag so the output column order (A, N, R) is
    deterministic, and every metric is cast to double (transpose
    requires a uniform value type).
    """
    li = t(spark, sf_dir, "lineitem")
    agg = (
        li.groupBy("l_returnflag")
        .agg(money_sum(F.col("l_quantity")).alias("sum_qty"),
             money_sum(F.col("l_extendedprice")).alias("sum_price"),
             F.count(F.lit(1)).cast("double").alias("n_lines"))
        .orderBy("l_returnflag")
    )
    return agg.transpose()


ORACLE_TRANSPOSE = f"""
WITH a AS (
  SELECT l_returnflag,
         {money_sum_sql("l_quantity")} AS sum_qty,
         {money_sum_sql("l_extendedprice")} AS sum_price,
         CAST(count(*) AS DOUBLE) AS n_lines
  FROM lineitem GROUP BY l_returnflag
)
SELECT 'sum_qty' AS key,
       max(CASE WHEN l_returnflag = 'A' THEN sum_qty END) AS A,
       max(CASE WHEN l_returnflag = 'N' THEN sum_qty END) AS N,
       max(CASE WHEN l_returnflag = 'R' THEN sum_qty END) AS R
FROM a
UNION ALL
SELECT 'sum_price',
       max(CASE WHEN l_returnflag = 'A' THEN sum_price END),
       max(CASE WHEN l_returnflag = 'N' THEN sum_price END),
       max(CASE WHEN l_returnflag = 'R' THEN sum_price END)
FROM a
UNION ALL
SELECT 'n_lines',
       max(CASE WHEN l_returnflag = 'A' THEN n_lines END),
       max(CASE WHEN l_returnflag = 'N' THEN n_lines END),
       max(CASE WHEN l_returnflag = 'R' THEN n_lines END)
FROM a
"""


def q_sample_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum sample: the 3 'random' events of each
    event type, chosen by md5 rank — the "pull K examples per class for
    eval" op, with membership that is stable across engines, runs, and
    partitionings (q_sample_hash's content-addressed principle, applied
    per group instead of globally).

    The ranking window partitions on a 5-value key — the same skew trap
    q_outlier_zscore documents — so at 100 TB this runs as the two-phase
    rank (per-shard top-k → re-rank of the k·shards survivors) that
    q_topk_group's docstring describes; at fixture scale Spark's
    WindowGroupLimit pushdown already keeps only k rows per partition
    before the final sort."""
    e = t(spark, sf_dir, "events")
    skey = F.md5(F.concat(F.col("event_id").cast("string"),
                          F.lit(":sample7")))
    w = Window.partitionBy("event_type").orderBy(skey.alias("skey"),
                                                 "event_id")
    return (
        e.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("event_type", "rk", "event_id", "user_id")
    )


ORACLE_SAMPLE_GROUP = """
SELECT event_type, rk, event_id, user_id FROM (
  SELECT event_type, event_id, user_id,
         row_number() OVER (PARTITION BY event_type
             ORDER BY md5(CAST(event_id AS VARCHAR) || ':sample7'),
                      event_id) AS rk
  FROM events
) WHERE rk <= 3
"""


def q_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apache DataSketches HLL surface (Spark 3.5+): per-day partial
    sketches of the user population, merged with ``hll_union_agg`` into
    per-type totals, next to the one-shot sketch and the exact count.

    The property that matters at 100 TB is RE-AGGREGABILITY: daily
    sketch partials are tiny persistent state (≤ a few KB per group)
    that roll up into weekly/monthly/all-time distincts without ever
    re-scanning history — the sketch analogue of q_incr_agg's exact
    partial-merge.

    Deterministic-verdict output (sketch internals are engine-specific;
    DuckDB has no DataSketches HLL): per event type, the EXACT distinct
    count plus two booleans asserting BOTH the re-aggregated estimate
    and the one-shot estimate land within ±8% of it (lgK=12 ⇒ rsd
    ~1.63%, so 8% is a ~5σ band; across 10 booleans at untested scales
    a 5% / ~3σ band had non-negligible odds of a legitimate tail
    deviation presenting as a cross-engine red — r9 ADVICE, matching
    the original unit-test envelope). Merged and direct agree bit-for-bit
    only while every partial stays in one sketch mode — past the
    sparse→dense promotion threshold the union path estimates
    differently (observed at sf0.1), so the scale-stable invariant is
    the shared error envelope, not equality. The oracle computes the
    exact side and constant TRUEs, so a broken merge OR a wild
    estimate fails the driver's hash."""
    e = t(spark, sf_dir, "events")
    daily = (
        e.groupBy(F.date_trunc("day", F.col("ts")).alias("day"),
                  "event_type")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
    )
    merged = (
        daily.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk"))
             .alias("_merged"))
    )
    direct = (
        e.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id"))
             .alias("_direct"),
             F.countDistinct("user_id").alias("n_exact"))
    )
    def _within(col):
        return within_rel_band(F.col(col), F.col("n_exact"), 0.08)

    return merged.join(direct, "event_type").select(
        "event_type", "n_exact",
        _within("_merged").alias("merged_within_band"),
        _within("_direct").alias("direct_within_band"))


ORACLE_HLL_SKETCH = """
SELECT event_type, count(DISTINCT user_id) AS n_exact,
       TRUE AS merged_within_band,
       TRUE AS direct_within_band
FROM events GROUP BY event_type
"""


def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding: replace the categorical
    ``o_orderpriority`` with the mean ``o_totalprice`` of all OTHER rows
    sharing the category — the standard high-cardinality-categorical
    feature encoding, leakage-proofed by excluding each row's own
    target.

    Per-category sufficient statistics (count + integer-micros sum) are
    one partial/final aggregate; they broadcast back (|categories| rows)
    and the LOO mean ``(S − x)/(n − 1)`` is row-local — so the encoding
    pass costs one tiny shuffle plus a map stage at any scale, and the
    exact integer sums keep ``(S − x)`` engine-identical before the one
    double division.  Output sampled content-addressed (md5 bucket) to
    stay bounded.
    """
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice")
    x_u = money_micros(F.col("o_totalprice"))
    stats = (o.groupBy("o_orderpriority")
             .agg(F.count(F.lit(1)).alias("n_cat"),
                  F.sum(x_u).alias("s_u")))
    return (o.join(F.broadcast(stats), "o_orderpriority")
            .where(md5_long(F.col("o_orderkey").cast("string")) % 20 == 0)
            .select(F.col("o_orderkey").alias("orderkey"),
                    F.col("o_orderpriority").alias("priority"),
                    duck_round(F.col("o_totalprice"), 2)
                    .alias("totalprice"),
                    F.col("n_cat"),
                    duck_round(((F.col("s_u") - x_u).cast("double")
                                / F.lit(1e6))
                               / (F.col("n_cat") - 1), 4)
                    .alias("loo_encoding"))
            .orderBy("orderkey"))


ORACLE_TARGET_ENCODE = f"""
WITH stats AS (
  SELECT o_orderpriority, count(*) AS n_cat,
         sum(CAST(floor(o_totalprice * 1e6 + 0.5) AS BIGINT)) AS s_u
  FROM orders GROUP BY o_orderpriority
)
SELECT o.o_orderkey AS orderkey,
       o.o_orderpriority AS priority,
       round(o.o_totalprice, 2) AS totalprice,
       s.n_cat,
       floor((CAST(s.s_u - CAST(floor(o.o_totalprice * 1e6 + 0.5)
                                AS BIGINT) AS DOUBLE) / 1e6)
             / (s.n_cat - 1) * 1e4 + 0.5) / 1e4 AS loo_encoding
FROM orders o JOIN stats s USING (o_orderpriority)
WHERE {sql_md5_long("CAST(o.o_orderkey AS VARCHAR)")} % 20 = 0
ORDER BY orderkey
"""


def q_sample_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-balancing resample: draw 200 documents whose
    LANGUAGE distribution is uniform regardless of the corpus skew —
    the up/down-sampling step that rebalances a source- or
    language-skewed crawl before training.

    Importance weights come from the data: ``w(lang) = N / (K · n_lang)``
    (target share over observed share), computed as a broadcast
    per-lang aggregate — then the draw is the same deterministic A-ES
    ``u^(1/w)`` top-K as q_sample_weighted, with the content-addressed
    md5 uniform.  Expected composition: ``K·w·n_lang/N`` = K/|langs|
    docs per language.  One scan + one broadcast join + TakeOrdered(K);
    no shuffle of the corpus, no RNG state.  The weight quotient is a
    ratio of exact longs, so keys are engine-identical doubles.
    """
    K = 200
    d = t(spark, sf_dir, "documents")
    # One aggregate scan serves both weight inputs: the corpus totals
    # derive from the tiny per-lang frame, not a third corpus read.
    lang_n = materialize(t(spark, sf_dir, "documents")
                         .groupBy(F.col("lang").alias("_lang"))
                         .agg(F.count(F.lit(1)).alias("n_lang")),
                         "lang_counts")
    tot = lang_n.agg(F.sum("n_lang").alias("n_tot"),
                     F.count(F.lit(1)).alias("k_lang"))
    w = (F.col("n_tot").cast("double")
         / (F.col("k_lang") * F.col("n_lang")).cast("double"))
    key = aes_key(F.col("doc_id"), w)
    return (d.join(F.broadcast(lang_n), d.lang == F.col("_lang"))
            .crossJoin(F.broadcast(tot))
            .select("doc_id", "lang", key.alias("_k"))
            .orderBy(F.desc("_k"), F.asc("doc_id"))
            .limit(K)
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_sampled"),
                 F.min("doc_id").alias("min_doc"),
                 F.max("doc_id").alias("max_doc"))
            .orderBy("lang"))


ORACLE_SAMPLE_BALANCE = f"""
WITH lang_n AS (
  SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang
), tot AS (
  SELECT count(*) AS n_tot, count(DISTINCT lang) AS k_lang
  FROM documents
), keyed AS (
  SELECT d.doc_id, d.lang,
         {sql_aes_key("d.doc_id", "CAST(t.n_tot AS DOUBLE) / "
                      "CAST(t.k_lang * l.n_lang AS DOUBLE)")} AS k
  FROM documents d
  JOIN lang_n l ON d.lang = l.lang
  CROSS JOIN tot t
), top AS (
  SELECT doc_id, lang FROM keyed ORDER BY k DESC, doc_id LIMIT 200
)
SELECT lang, count(*) AS n_sampled,
       min(doc_id) AS min_doc, max(doc_id) AS max_doc
FROM top GROUP BY lang ORDER BY lang
"""


# Count-Min parameters: depth × width. 3 independent md5-affine rows over
# a 1024-cell width keep the sketch state at 3 KiB while the fixture
# vocabulary (~10^3-10^4 tokens) still collides enough to exercise the
# min-of-rows estimate. Both engines derive every cell from the same md5,
# so the sketch itself — not just a band around it — is hash-checkable.
CMS_DEPTH = 3
CMS_WIDTH = 1024


def _cms_cell(tok, seed):
    """Row ``seed``'s cell index for token ``tok`` — md5-affine, engine-
    portable (DuckDB mirror: :data:`_CMS_CELL_SQL`)."""
    return md5_long(F.concat_ws(
        ":", F.lit("cms"), seed.cast("string"), tok)) % CMS_WIDTH


_CMS_CELL_SQL = (sql_md5_long("'cms' || ':' || "
                              "CAST({seed} AS VARCHAR) || ':' || {tok}")
                 + f" % {CMS_WIDTH}")


def q_cms_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch over document tokens, DETERMINISTIC and therefore
    fully hash-checkable: the d×w cell matrix is an aggregation, the
    point query is a min over d cells, and because the row hashes are
    md5-affine (not engine-private), DuckDB rebuilds the *identical*
    sketch — the oracle checks the estimates themselves, not a band.

    Shape: token counts aggregate once (partial/final — the corpus is
    never re-scanned per row); the 3-row seed frame fans each distinct
    token's count into its 3 cells via a broadcast nested-loop (3 rows,
    constant); cells aggregate to ≤ 3×1024 rows of re-mergeable sketch
    state — the 100 TB point being demonstrated: a CMS of ANY corpus is
    a KB-sized partial/final aggregate, and shards' sketches merge by
    cell-wise addition exactly like these partials do.  The probe side
    (top-20 exact tokens) broadcasts into the cell table; ``cms_est ≥
    exact`` (the one-sided CMS guarantee) is emitted as a verdict column
    the oracle re-proves.
    """
    docs = t(spark, sf_dir, "documents").select("text")
    toks = (docs.select(F.explode(F.split("text", " ")).alias("tok"))
            .where(F.col("tok") != ""))
    counts = materialize(toks.groupBy("tok")
                         .agg(F.count(F.lit(1)).alias("cnt")),
                         "token_counts")
    seeds = spark.range(CMS_DEPTH).select(F.col("id").alias("seed"))
    cells = (counts.crossJoin(F.broadcast(seeds))
             .select("seed",
                     _cms_cell(F.col("tok"), F.col("seed")).alias("cell"),
                     "cnt")
             .groupBy("seed", "cell")
             .agg(F.sum("cnt").alias("cell_cnt")))
    top = (counts.orderBy(F.col("cnt").desc(), "tok").limit(20)
           .withColumnRenamed("tok", "q_tok")
           .withColumnRenamed("cnt", "exact_cnt"))
    probes = (top.crossJoin(F.broadcast(seeds))
              .select("q_tok", "exact_cnt", "seed",
                      _cms_cell(F.col("q_tok"), F.col("seed"))
                      .alias("cell")))
    return (F.broadcast(probes).join(cells, ["seed", "cell"])
            .groupBy("q_tok", "exact_cnt")
            .agg(F.min("cell_cnt").alias("cms_est"))
            .select(F.col("q_tok").alias("token"), "exact_cnt", "cms_est",
                    (F.col("cms_est") - F.col("exact_cnt"))
                    .alias("overcount"),
                    (F.col("cms_est") >= F.col("exact_cnt"))
                    .alias("never_undercounts"))
            .orderBy(F.col("exact_cnt").desc(), "token"))


_CELL_Q = _CMS_CELL_SQL.format(seed="s.seed", tok="c.tok")
_CELL_P = _CMS_CELL_SQL.format(seed="s.seed", tok="p.q_tok")

ORACLE_CMS_SKETCH = f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
), counts AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM toks
  WHERE tok <> '' GROUP BY tok
), seeds AS (
  SELECT * FROM (VALUES (CAST(0 AS BIGINT)), (1), (2)) AS v(seed)
), cells AS (
  SELECT s.seed, {_CELL_Q} AS cell,
         CAST(sum(c.cnt) AS BIGINT) AS cell_cnt
  FROM counts c CROSS JOIN seeds s
  GROUP BY s.seed, {_CELL_Q}
), top AS (
  SELECT tok AS q_tok, cnt AS exact_cnt FROM counts
  ORDER BY cnt DESC, tok LIMIT 20
), probes AS (
  SELECT p.q_tok, p.exact_cnt, s.seed, {_CELL_P} AS cell
  FROM top p CROSS JOIN seeds s
)
SELECT p.q_tok AS token, p.exact_cnt,
       min(c.cell_cnt) AS cms_est,
       min(c.cell_cnt) - p.exact_cnt AS overcount,
       min(c.cell_cnt) >= p.exact_cnt AS never_undercounts
FROM probes p
JOIN cells c ON p.seed = c.seed AND p.cell = c.cell
GROUP BY p.q_tok, p.exact_cnt
ORDER BY p.exact_cnt DESC, token
"""


def q_percentile_highcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-PART median price — the HIGH-CARDINALITY face of the
    distributed percentile machinery, declared so the
    ``broadcast_offsets=False`` contract is driver-checked, not just
    unit-tested: q_percentile groups by a 3-value enum (metadata tables
    broadcast, KB-sized); this groups by ``l_partkey`` (|parts| grows
    with the catalog — at a 100 TB-scale 10M-part catalog the offsets
    and targets tables are GB-sized and MUST NOT broadcast).

    Same rank-and-interpolate plan, same bit-exact quantile_cont
    results; the only difference is both rank-metadata joins run as
    shuffle joins on the already-aggregated tables (one extra exchange
    each over partitions×groups / groups rows — never an OOM hint).
    AQE remains free to re-promote off runtime statistics when the
    realized sizes are small, which is exactly the right division of
    labor: the static plan must not bake in the broadcast."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice")
    res = grouped_percentiles(
        li, ["l_partkey"], "l_extendedprice", [0.5],
        broadcast_offsets=False)
    return (res.where(F.col("_p_idx") == 0)
            .select(F.col("l_partkey").alias("p_partkey"),
                    F.col("value").alias("median_price"))
            .orderBy("p_partkey"))


ORACLE_PERCENTILE_HIGHCARD = """
SELECT l_partkey AS p_partkey,
       quantile_cont(l_extendedprice, 0.5) AS median_price
FROM lineitem GROUP BY l_partkey ORDER BY p_partkey
"""


# KMV sketch size. rsd ≈ 1/sqrt(K−2) ≈ 12.7% at K=64; the verdict band is
# ~5σ (65%) so a red boolean means a broken sketch, not tail luck — and
# unlike HLL the estimate ITSELF also hash-matches, because every input
# to it (md5 order statistics) is engine-portable.
KMV_K = 64
_KMV_NUM = float((KMV_K - 1) * (1 << 60))  # exact double: 63 · 2^60


def q_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch over (user, day)
    activity keys, per event type and for the union scope — the
    DETERMINISTIC mergeable sketch: where HLL's register layout is
    engine-private (q_hll_sketch can only band-check it), KMV's state is
    the K smallest md5 values of the key set, so DuckDB rebuilds the
    byte-identical sketch and the driver hashes the ESTIMATES, not just
    a band.

    Estimator: with h(K) the K-th smallest of n distinct 60-bit hashes,
    E[h(K)/2^60] ≈ K/(n+1), so ``est = (K−1)·2^60 / h(K)`` (the
    unbiased form); when a scope has fewer than K distinct keys the
    sketch IS the key set and the estimate is exact. Merge = union the
    hash sets, re-take the K smallest — exactly what the ALL scope does,
    which is why a 100 TB deployment ships per-shard KMV states (K
    longs) and merges them cheaply. The top-K per scope plans as a
    WindowGroupLimit (per-partition pre-prune, never a full per-scope
    sort); the verdict band is ~5σ."""
    # ONE scan: each event fans to its own scope and the ALL scope via
    # a 2-element array explode (a union of two selects re-scans the
    # parquet source per branch)
    scoped = (t(spark, sf_dir, "events")
              .select(
                  F.explode(F.array(F.col("event_type"), F.lit("ALL")))
                  .alias("event_type"),
                  F.concat_ws(
                      ":", F.col("user_id").cast("string"),
                      F.datediff(F.col("ts").cast("date"),
                                 F.to_date(F.lit("1970-01-01")))
                      .cast("string"))
                  .alias("k"))
              .distinct())
    hashed = materialize(
        scoped.select("event_type", md5_long("k").alias("h")),
        "user_day_hashes")
    exact = (hashed.groupBy("event_type")
             .agg(F.count(F.lit(1)).alias("exact_distinct")))
    w = Window.partitionBy("event_type").orderBy("h")
    sk = (hashed.withColumn("_rn", F.row_number().over(w))
          .where(F.col("_rn") <= KMV_K)
          .groupBy("event_type")
          .agg(F.count(F.lit(1)).alias("n_kept"), F.max("h").alias("kth")))
    est_d = F.when(F.col("n_kept") < KMV_K,
                   F.col("n_kept").cast("double")) \
             .otherwise(F.lit(_KMV_NUM) / F.col("kth").cast("double"))
    return (exact.join(sk, "event_type")
            .select(F.col("event_type").alias("scope"), "exact_distinct",
                    F.floor(est_d).cast("long").alias("kmv_est"))
            .withColumn("within_5_sigma",
                        within_rel_band(F.col("kmv_est").cast("double"),
                                        F.col("exact_distinct")
                                        .cast("double"), 0.65))
            .orderBy("scope"))


ORACLE_KMV_SKETCH = f"""
WITH keys AS (
  SELECT DISTINCT event_type,
         CAST(user_id AS VARCHAR) || ':' ||
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS VARCHAR) AS k
  FROM events
  UNION ALL
  SELECT DISTINCT 'ALL' AS event_type,
         CAST(user_id AS VARCHAR) || ':' ||
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS VARCHAR) AS k
  FROM events
), hashed AS (
  SELECT event_type,
         {sql_md5_long("k")} AS h
  FROM keys
), exact AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS exact_distinct
  FROM hashed GROUP BY event_type
), ranked AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM hashed
), sk AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept,
         max(h) AS kth
  FROM ranked WHERE rn <= {KMV_K} GROUP BY event_type
), est AS (
  SELECT e.event_type AS scope, e.exact_distinct,
         CAST(floor(CASE WHEN s.n_kept < {KMV_K}
                    THEN CAST(s.n_kept AS DOUBLE)
                    ELSE {_KMV_NUM!r} / CAST(s.kth AS DOUBLE) END)
              AS BIGINT) AS kmv_est
  FROM exact e JOIN sk s ON e.event_type = s.event_type
)
SELECT scope, exact_distinct, kmv_est,
       abs(CAST(kmv_est AS DOUBLE) - CAST(exact_distinct AS DOUBLE))
         <= 0.65 * abs(CAST(exact_distinct AS DOUBLE)) AS within_5_sigma
FROM est ORDER BY scope
"""


# Set-operation sketch size. Intersection estimates are noisier than
# union (rho = |A∩B∩bottomK| / K is binomial with p≈Jaccard), so the
# set-ops sketch is 4× q_kmv_sketch's: rsd(union) ≈ 1/sqrt(254) ≈ 6.3%,
# sigma(rho) ≈ sqrt(J(1−J)/256) ≈ 0.026 at the fixture's J≈0.22.
KMV_SETOPS_K = 256
_KMV_SETOPS_NUM = float((KMV_SETOPS_K - 1) * (1 << 60))


def q_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch SET ALGEBRA — audience overlap between every pair of
    event types from K-minimum-values sketches alone (Beyer et al.,
    SIGMOD'07): merge = re-take the K smallest of the union; theta =
    that K-th value estimates |A∪B| as (K−1)·2^60/theta; rho = the
    fraction of the merged bottom-K present in BOTH input sketches
    estimates Jaccard; |A∩B| ≈ rho·|A∪B|. Everything derives from md5
    order statistics, so DuckDB rebuilds the byte-identical sketches
    and the driver hashes the ESTIMATES themselves — plus exact
    union/intersection sides with band verdicts (union ~5σ at 0.32,
    intersection 0.6 — the honest, wider bound of the ratio estimator).

    The 100 TB shape: per-scope sketch build is the only data-scale
    stage (distinct + per-scope WindowGroupLimit top-K — the same
    partial-prune as q_kmv_sketch); every pairwise set operation then
    runs on K-long arrays (5 scopes → 10 pairs of 2 KB sketches, a
    broadcast nested-loop over metadata-sized rows). That is the point
    of sketch algebra: overlap matrices over N scopes never rescan or
    re-shuffle the fact table — ship the sketches, not the sets. The
    exact sides exist only for the verdict (production drops them).
    Scale note: the pair enumeration is |scopes|² over KB rows; a
    10k-scope deployment broadcasts 10k×K longs (~20 MB) — still a
    broadcast, with the fact table untouched."""
    K = KMV_SETOPS_K
    scoped = (t(spark, sf_dir, "events")
              .select(
                  F.col("event_type").alias("_t"),
                  F.concat_ws(
                      ":", F.col("user_id").cast("string"),
                      F.datediff(F.col("ts").cast("date"),
                                 F.to_date(F.lit("1970-01-01")))
                      .cast("string"))
                  .alias("k"))
              .distinct())
    # consumers: sketch build + exact self-join (×2) + per-type counts
    hashed = materialize(
        scoped.select("_t", md5_long("k").alias("h")),
        "user_day_hashes")
    n_t = hashed.groupBy("_t").agg(F.count(F.lit(1)).alias("_n"))
    w = Window.partitionBy("_t").orderBy("h")
    sk = (hashed.withColumn("_rn", F.row_number().over(w))
          .where(F.col("_rn") <= K)
          .groupBy("_t")
          .agg(F.sort_array(F.collect_list("h")).alias("sig")))
    sides = sk.join(n_t, "_t")
    pairs = (sides.select(F.col("_t").alias("pair_a"),
                          F.col("sig").alias("_sa"),
                          F.col("_n").alias("_na"))
             .join(F.broadcast(
                 sides.select(F.col("_t").alias("pair_b"),
                              F.col("sig").alias("_sb"),
                              F.col("_n").alias("_nb"))),
                 F.col("pair_a") < F.col("pair_b")))
    inter = (hashed.alias("a")
             .join(hashed.alias("b"),
                   (F.col("a.h") == F.col("b.h"))
                   & (F.col("a._t") < F.col("b._t")))
             .groupBy(F.col("a._t").alias("pair_a"),
                      F.col("b._t").alias("pair_b"))
             .agg(F.count(F.lit(1)).alias("inter_exact")))
    merged = F.slice(F.array_sort(F.array_union("_sa", "_sb")), 1, K)
    est = (pairs.join(inter, ["pair_a", "pair_b"], "left")
           .withColumn("inter_exact",
                       F.coalesce("inter_exact", F.lit(0)).cast("long"))
           .withColumn("_mg", merged)
           .withColumn("_nm", F.size("_mg").cast("long"))
           .withColumn("_theta", F.element_at("_mg", F.col("_nm").cast("int")))
           .withColumn("_nboth",
                       F.size(F.array_intersect(
                           F.array_intersect("_mg", "_sa"), "_sb"))
                       .cast("long"))
           .withColumn("_union_d",
                       F.when(F.col("_nm") < K, F.col("_nm").cast("double"))
                       .otherwise(F.lit(_KMV_SETOPS_NUM)
                                  / F.col("_theta").cast("double")))
           .withColumn("jaccard_est",
                       F.col("_nboth").cast("double")
                       / F.col("_nm").cast("double")))
    return (est.select(
        "pair_a", "pair_b",
        (F.col("_na") + F.col("_nb") - F.col("inter_exact"))
        .alias("union_exact"),
        "inter_exact",
        F.floor(F.col("_union_d")).cast("long").alias("union_est"),
        F.floor(F.col("jaccard_est") * F.col("_union_d"))
        .cast("long").alias("inter_est"),
        "jaccard_est")
        .withColumn("union_in_band",
                    within_rel_band(F.col("union_est"),
                                    F.col("union_exact"), 0.32))
        .withColumn("inter_in_band",
                    within_rel_band(F.col("inter_est"),
                                    F.col("inter_exact"), 0.6))
        .orderBy("pair_a", "pair_b"))


ORACLE_KMV_SETOPS = f"""
WITH keys AS (
  SELECT DISTINCT event_type AS t,
         CAST(user_id AS VARCHAR) || ':' ||
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS VARCHAR) AS k
  FROM events
), hashed AS (
  SELECT t, {sql_md5_long("k")} AS h FROM keys
), n_t AS (
  SELECT t, CAST(count(*) AS BIGINT) AS n FROM hashed GROUP BY t
), ranked AS (
  SELECT t, h, row_number() OVER (PARTITION BY t ORDER BY h) AS rn
  FROM hashed
), sk AS (
  SELECT t, h FROM ranked WHERE rn <= {KMV_SETOPS_K}
), pairs AS (
  SELECT a.t AS ta, b.t AS tb FROM n_t a JOIN n_t b ON a.t < b.t
), msk AS (
  SELECT p.ta, p.tb, s.h
  FROM pairs p JOIN sk s ON s.t = p.ta OR s.t = p.tb
  GROUP BY 1, 2, 3
), mranked AS (
  SELECT ta, tb, h,
         row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS rn
  FROM msk
), mstat AS (
  SELECT m.ta, m.tb, CAST(count(*) AS BIGINT) AS n_m,
         max(m.h) AS theta,
         CAST(sum(CASE WHEN sa.h IS NOT NULL AND sb.h IS NOT NULL
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_both
  FROM mranked m
  LEFT JOIN sk sa ON sa.t = m.ta AND sa.h = m.h
  LEFT JOIN sk sb ON sb.t = m.tb AND sb.h = m.h
  WHERE m.rn <= {KMV_SETOPS_K}
  GROUP BY 1, 2
), exact AS (
  SELECT a.t AS ta, b.t AS tb, CAST(count(*) AS BIGINT) AS inter_exact
  FROM hashed a JOIN hashed b ON a.h = b.h AND a.t < b.t
  GROUP BY 1, 2
), est AS (
  SELECT p.ta, p.tb,
         na.n + nb.n - COALESCE(e.inter_exact, 0) AS union_exact,
         COALESCE(e.inter_exact, 0) AS inter_exact,
         CASE WHEN m.n_m < {KMV_SETOPS_K} THEN CAST(m.n_m AS DOUBLE)
              ELSE {_KMV_SETOPS_NUM!r} / CAST(m.theta AS DOUBLE)
         END AS union_d,
         CAST(m.n_both AS DOUBLE) / CAST(m.n_m AS DOUBLE) AS jaccard_est
  FROM pairs p
  JOIN n_t na ON na.t = p.ta
  JOIN n_t nb ON nb.t = p.tb
  JOIN mstat m ON m.ta = p.ta AND m.tb = p.tb
  LEFT JOIN exact e ON e.ta = p.ta AND e.tb = p.tb
)
SELECT ta AS pair_a, tb AS pair_b, union_exact, inter_exact,
       CAST(floor(union_d) AS BIGINT) AS union_est,
       CAST(floor(jaccard_est * union_d) AS BIGINT) AS inter_est,
       jaccard_est,
       abs(CAST(CAST(floor(union_d) AS BIGINT) AS DOUBLE)
           - CAST(union_exact AS DOUBLE))
         <= 0.32 * abs(CAST(union_exact AS DOUBLE)) AS union_in_band,
       abs(CAST(CAST(floor(jaccard_est * union_d) AS BIGINT) AS DOUBLE)
           - CAST(inter_exact AS DOUBLE))
         <= 0.6 * abs(CAST(inter_exact AS DOUBLE)) AS inter_in_band
FROM est ORDER BY pair_a, pair_b
"""


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED percentiles (median + p90 of price, weighted by units
    sold — "the median unit costs this much", not "the median line
    item") straight through :func:`grouped_histogram_cdf`: the
    histogram's count column is simply the WEIGHT sum, so the same
    distributed CDF walk answers weighted quantiles with zero new
    machinery — the payoff of the r10 histogram rewrite being an
    operator, not a q_percentile special case.

    Exactness: weights ride integer micros, the lower weighted
    quantile ("smallest value whose cumulative weight reaches p·W")
    is pure integer cross-multiplication (``10·cum ≥ 9·W`` for p90 —
    never a float threshold), and the emitted prices are untouched
    input values. The cross-multiplication runs in DECIMAL(38,0)
    (Spark) / HUGEINT (DuckDB): cumulative micros-weights approach
    ~5e18 per group at 100 TB, so the ×10 product would silently wrap
    int64 in non-ANSI Spark — same widening discipline as q_acf.
    Shape: partial/final hash agg to the (flag, price) histogram,
    range-shuffled CDF over histogram rows only, broadcast totals,
    one min-aggregate per quantile."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice",
        money_micros(F.col("l_quantity")).alias("w_u"))
    # three consumers read `hist` (range sampling, the CDF shuffle,
    # the totals agg) — same single-materialization rule as
    # grouped_percentiles' internal raw-row histogram
    hist = materialize(li.groupBy("l_returnflag", "l_extendedprice")
                       .agg(F.sum("w_u").alias("_w")),
                       "weight_hist")
    cdf = grouped_histogram_cdf(hist, ["l_returnflag"],
                                "l_extendedprice", "_w")
    totals = hist.groupBy("l_returnflag").agg(F.sum("_w").alias("_tw"))
    j = cdf.join(F.broadcast(totals), "l_returnflag")
    # overflow-proof thresholds: 10·cum on micros-scaled weights wraps
    # int64 near 9.2e17 cumulative units — widen BEFORE multiplying
    cum_d = F.col("_cum").cast("decimal(38,0)")
    tw_d = F.col("_tw").cast("decimal(38,0)")
    return (j.groupBy("l_returnflag")
            .agg(duck_round(F.max("_tw").cast("double") / F.lit(1e6), 2)
                 .alias("total_units"),
                 F.min(F.when(F.lit(2) * cum_d >= tw_d,
                              F.col("l_extendedprice")))
                 .alias("w_median_price"),
                 F.min(F.when(F.lit(10) * cum_d >= F.lit(9) * tw_d,
                              F.col("l_extendedprice")))
                 .alias("w_p90_price"))
            .orderBy("l_returnflag"))


ORACLE_WEIGHTED_MEDIAN = """
WITH h AS (
  SELECT l_returnflag, l_extendedprice,
         CAST(sum(CAST(floor(l_quantity * 1e6 + 0.5) AS BIGINT))
              AS BIGINT) AS w
  FROM lineitem GROUP BY 1, 2
), c AS (
  SELECT l_returnflag, l_extendedprice, w,
         CAST(sum(w) OVER (PARTITION BY l_returnflag
                           ORDER BY l_extendedprice) AS BIGINT) AS cum
  FROM h
), tot AS (
  SELECT l_returnflag, CAST(sum(w) AS BIGINT) AS tw
  FROM h GROUP BY 1
)
SELECT c.l_returnflag,
       floor(CAST(max(t.tw) AS DOUBLE) / 1e6 * 1e2 + 0.5) / 1e2
         AS total_units,
       min(CASE WHEN 2 * CAST(c.cum AS HUGEINT) >= CAST(t.tw AS HUGEINT)
                THEN c.l_extendedprice END)
         AS w_median_price,
       min(CASE WHEN 10 * CAST(c.cum AS HUGEINT)
                   >= 9 * CAST(t.tw AS HUGEINT)
                THEN c.l_extendedprice END)
         AS w_p90_price
FROM c JOIN tot t ON c.l_returnflag = t.l_returnflag
GROUP BY c.l_returnflag ORDER BY c.l_returnflag
"""


# Quantile-summary sketch parameters: shard count and the per-shard
# retained-item target (the rank-error knob: per-shard subsample step
# s_b = max(1, floor(n_b / QSK_KEEP)), so the merged summary's rank
# error is < n/QSK_KEEP + QSK_BUCKETS).
QSK_BUCKETS = 16
QSK_KEEP = 64


def q_quantile_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE quantile summary with a hash-checked merge — the
    re-aggregable-state story of q_hll_sketch/q_kmv_setops applied to
    quantiles, proven the way q_minhash_merge proves MinHash: each of
    QSK_BUCKETS md5-sharded partitions of the per-priority order totals
    builds an independent rank-spaced summary (every s_b-th value of
    the sorted shard, s_b = max(1, ⌊n_b/64⌋), plus the shard max — the
    one-level Manku–Rajagopalan–Lindsay subsample), the summaries merge
    by pure weighted UNION (associative, so shard→region→global rollup
    needs no re-sketching), and the merged summary answers p50/p90
    within rank error < n/64 + B without ever re-sorting the data.

    Everything is deterministic, so the driver hashes the ESTIMATES
    outright (the CMS/KMV gate, strictly stronger than a band): shard
    membership is md5(o_orderkey), within-shard order is the unique
    (o_totalprice, o_orderkey), each kept item's weight is the
    rank-gap to the previous kept item (lag over kept rows only), and
    the quantile rule is the same integer cross-multiplication as
    q_weighted_median. The emitted booleans assert the SKETCH CONTRACT
    — est rank ∈ [target, target + n/32 + 2B] computed against the
    exact CDF — so a merge that silently lost weight flips the hash.

    100 TB shape: the build is a per-shard sort bounded by adapting B
    to the data (each shard sorts in parallel; here B is fixed for the
    oracle), kept rows are ~B·64 per group so every post-build window
    runs over a few-hundred-row pre-aggregated frame (the allowlisted
    bounded-window pattern), and the exact-CDF audit rides the same
    grouped_histogram_cdf machinery as q_percentile. Thresholds stay
    in BIGINT: 10·rank needs rank < 9.2e17 — row COUNTS, not micros,
    so safe far past 100 TB (contrast q_weighted_median's weights)."""
    from hippo_claim_crossover_spark.operators.ranking import (
        grouped_quantile_summary,
    )

    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        "o_totalprice", "o_orderkey")
    # the summary build + weighted-union merge live in the operator
    # (weight = rank gap → cum kept weight == true shard rank); this
    # plan adds the quantile rule and the exact-CDF audit
    merged = grouped_quantile_summary(
        o, ["priority"], "o_totalprice", "o_orderkey",
        n_buckets=QSK_BUCKETS, keep=QSK_KEEP).withColumnRenamed(
        "_cum_m", "cum_m")
    # r15: per-group sizes ride WINDOW aggregates over the partitioning
    # the summary's cum window just established — the old groupBy +
    # broadcast-self-join evaluated the whole summary subtree twice
    # (once for `sizes`, once for `est`); same values, one evaluation.
    wp = Window.partitionBy("priority")
    sized = (merged
             .withColumn("n_kept", F.count(F.lit(1)).over(wp))
             .withColumn("n", F.sum("_wv").over(wp)))
    est = (sized
           .groupBy("priority")
           .agg(F.max("n").alias("n_orders"),
                F.max("n_kept").alias("n_kept"),
                F.min(F.when(F.lit(2) * F.col("cum_m") >= F.col("n"),
                             F.col("o_totalprice"))).alias("est_p50"),
                F.min(F.when(F.lit(10) * F.col("cum_m")
                             >= F.lit(9) * F.col("n"),
                             F.col("o_totalprice"))).alias("est_p90")))
    # exact-CDF audit: the estimates' true ranks honor the rank-error
    # contract (lower side exact by construction, upper side bounded)
    hist = (o.groupBy("priority", "o_totalprice")
            .agg(F.count(F.lit(1)).alias("_c")))
    cdf = grouped_histogram_cdf(hist, ["priority"], "o_totalprice", "_c")
    # r15: est's columns ride THROUGH the audit aggregate (constant per
    # priority group, so max() reproduces them) — the old
    # est.join(audit) re-evaluated the whole est subtree (and the
    # summary beneath it) a second time for the final projection.
    audit = (cdf.join(F.broadcast(est), "priority")
             .groupBy("priority")
             .agg(F.max("n_orders").alias("n_orders"),
                  F.max("n_kept").alias("n_kept"),
                  F.max("est_p50").alias("est_p50"),
                  F.max("est_p90").alias("est_p90"),
                  F.max(F.when(F.col("o_totalprice") == F.col("est_p50"),
                               F.col("_cum"))).alias("r50"),
                  F.max(F.when(F.col("o_totalprice") == F.col("est_p90"),
                               F.col("_cum"))).alias("r90"),
                  F.min(F.when(F.lit(2) * F.col("_cum") >= F.col("n_orders"),
                               F.col("o_totalprice"))).alias("exact_p50"),
                  F.min(F.when(F.lit(10) * F.col("_cum")
                               >= F.lit(9) * F.col("n_orders"),
                               F.col("o_totalprice"))).alias("exact_p90")))
    slack = (F.floor(F.col("n_orders") / 32).cast("long")
             + F.lit(2 * QSK_BUCKETS))
    return (audit
            .select(
                "priority", "n_orders", "n_kept",
                "est_p50", "est_p90", "exact_p50", "exact_p90",
                ((F.lit(2) * F.col("r50") >= F.col("n_orders"))
                 & (F.lit(2) * (F.col("r50") - slack)
                    <= F.col("n_orders") + F.lit(1))).alias("p50_rank_ok"),
                ((F.lit(10) * F.col("r90") >= F.lit(9) * F.col("n_orders"))
                 & (F.lit(10) * (F.col("r90") - slack)
                    <= F.lit(9) * F.col("n_orders") + F.lit(9)))
                .alias("p90_rank_ok"))
            .orderBy("priority"))


ORACLE_QUANTILE_SKETCH_MERGE = f"""
WITH o AS (
  SELECT o_orderpriority AS priority, o_totalprice, o_orderkey,
         {sql_md5_long("CAST(o_orderkey AS VARCHAR)")}
           % {QSK_BUCKETS} AS b
  FROM orders
), ranked AS (
  SELECT priority, b, o_totalprice,
         row_number() OVER (PARTITION BY priority, b
                            ORDER BY o_totalprice, o_orderkey) AS rn,
         count(*) OVER (PARTITION BY priority, b) AS n_b
  FROM o
), kept AS (
  SELECT priority, b, o_totalprice, rn
  FROM (SELECT *, greatest(1, CAST(floor(n_b / {QSK_KEEP}) AS BIGINT))
               AS s FROM ranked)
  WHERE rn % s = 0 OR rn = n_b
), kept_w AS (
  SELECT priority, o_totalprice,
         rn - coalesce(lag(rn) OVER (PARTITION BY priority, b
                                     ORDER BY rn), 0) AS w
  FROM kept
), by_val AS (
  SELECT priority, o_totalprice, CAST(sum(w) AS BIGINT) AS wv
  FROM kept_w GROUP BY 1, 2
), merged AS (
  SELECT priority, o_totalprice,
         CAST(sum(wv) OVER (PARTITION BY priority ORDER BY o_totalprice)
              AS BIGINT) AS cum_m
  FROM by_val
), sizes AS (
  SELECT priority, CAST(count(*) AS BIGINT) AS n_kept,
         CAST(sum(wv) AS BIGINT) AS n
  FROM by_val GROUP BY 1
), est AS (
  SELECT m.priority, max(s.n) AS n_orders, max(s.n_kept) AS n_kept,
         min(CASE WHEN 2 * m.cum_m >= s.n THEN m.o_totalprice END)
           AS est_p50,
         min(CASE WHEN 10 * m.cum_m >= 9 * s.n THEN m.o_totalprice END)
           AS est_p90
  FROM merged m JOIN sizes s ON m.priority = s.priority
  GROUP BY 1
), cdf AS (
  SELECT priority, o_totalprice,
         CAST(sum(count(*)) OVER (PARTITION BY priority
                                  ORDER BY o_totalprice) AS BIGINT) AS cum
  FROM o GROUP BY priority, o_totalprice
), audit AS (
  SELECT c.priority,
         max(CASE WHEN c.o_totalprice = e.est_p50 THEN c.cum END) AS r50,
         max(CASE WHEN c.o_totalprice = e.est_p90 THEN c.cum END) AS r90,
         min(CASE WHEN 2 * c.cum >= e.n_orders
                  THEN c.o_totalprice END) AS exact_p50,
         min(CASE WHEN 10 * c.cum >= 9 * e.n_orders
                  THEN c.o_totalprice END) AS exact_p90
  FROM cdf c JOIN est e ON c.priority = e.priority
  GROUP BY 1
)
SELECT e.priority, e.n_orders, e.n_kept,
       e.est_p50, e.est_p90, a.exact_p50, a.exact_p90,
       (2 * a.r50 >= e.n_orders
        AND 2 * (a.r50 - (e.n_orders // 32 + {2 * QSK_BUCKETS}))
            <= e.n_orders + 1) AS p50_rank_ok,
       (10 * a.r90 >= 9 * e.n_orders
        AND 10 * (a.r90 - (e.n_orders // 32 + {2 * QSK_BUCKETS}))
            <= 9 * e.n_orders + 9) AS p90_rank_ok
FROM est e JOIN audit a ON e.priority = a.priority
ORDER BY e.priority
"""


# DP release parameters: epsilon per statistic (two statistics => the
# release consumes a 2*eps budget under basic composition), the
# acctbal clamp bound (= the sum query's sensitivity), and the
# seeded-uniform denominator (60-bit md5 prefix -> [0, 1)).
DP_EPS = 1.0
DP_CLAMP = 10_000
_DP_DENOM = float(1 << 60)


def q_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENTIALLY-PRIVATE aggregate release — the privacy face of a
    data pipeline (per-partner statistics published from user-level
    data): per nation, a Laplace-noised customer count (sensitivity 1)
    and a noised, CLAMPED account-balance sum (clamp to [0, DP_CLAMP]
    first — unbounded columns have unbounded sensitivity, the classic
    DP bug). Per-statistic ε = 1; the two-statistic release costs 2ε
    under basic composition (documented, not hidden).

    The noise is SEEDED Laplace — inverse-CDF over a 60-bit md5
    uniform, u = h/2^60, x = −b·sign(u−½)·ln(1−2|u−½|) — so both
    engines derive the identical noise and the driver hashes the
    released values outright; the ln() term is snapped to integer
    micro-precision (the log2 idiom from q_text_entropy) because libm
    ulp differences would otherwise leak into the hash. NOTE: this
    models the MECHANISM only (clamp → sensitivity → calibrated
    Laplace → composition accounting). The seed here is a public
    constant derived from the group name purely for cross-engine
    determinism, so this release provides no actual privacy — a real
    deployment must draw the noise from a secret seed / CSPRNG.

    Shape: clamp + micros in the scan projection, one partial/final
    agg per nation, noise derived row-locally on the 25-row aggregate
    — nothing beyond the one aggregation touches data scale."""
    c = t(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.least(F.greatest(money_micros(F.col("c_acctbal")), F.lit(0)),
                F.lit(DP_CLAMP * 1_000_000)).alias("bal_u"))
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    agg = (c.groupBy("c_nationkey")
           .agg(F.count(F.lit(1)).alias("_n"),
                F.sum("bal_u").alias("_s"))
           .join(F.broadcast(n),
                 F.col("c_nationkey") == F.col("n_nationkey")))

    def lap_noise(tag: str, b: float):
        u = (md5_long(F.concat(F.lit(f"dp:{tag}:"), F.col("n_name")))
             .cast("double") / F.lit(_DP_DENOM))
        tshift = u - F.lit(0.5)
        ln_u = F.floor(F.log(F.lit(1.0) - F.lit(2.0) * F.abs(tshift))
                       * F.lit(1e6) + F.lit(0.5)).cast("long")
        return (F.lit(-b) * F.signum(tshift)
                * ln_u.cast("double") / F.lit(1e6))

    noisy_count = F.floor(F.col("_n").cast("double")
                          + lap_noise("count", 1.0 / DP_EPS)
                          + F.lit(0.5)).cast("long")
    noisy_sum = (F.col("_s").cast("double") / F.lit(1e6)
                 + lap_noise("sum", DP_CLAMP / DP_EPS))
    return (agg.select(
        F.col("n_name").alias("nation"),
        noisy_count.alias("dp_count"),
        duck_round(noisy_sum, 2).alias("dp_balance_sum"),
        F.lit(float(DP_EPS)).alias("eps_per_stat"))
        .orderBy("nation"))


ORACLE_DP_COUNTS = f"""
WITH c AS (
  SELECT c_nationkey,
         least(greatest(CAST(floor(c_acctbal * 1e6 + 0.5) AS BIGINT), 0),
               {DP_CLAMP * 1_000_000}) AS bal_u
  FROM customer
), agg AS (
  SELECT n.n_name, CAST(count(*) AS BIGINT) AS n_cnt,
         CAST(sum(c.bal_u) AS BIGINT) AS s
  FROM c JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name
), noised AS (
  SELECT n_name, n_cnt, s,
         ({sql_md5_long("'dp:count:' || n_name")}) AS hc,
         ({sql_md5_long("'dp:sum:' || n_name")}) AS hs
  FROM agg
), calc AS (
  SELECT n_name, n_cnt, s,
         CAST(hc AS DOUBLE) / {_DP_DENOM!r} - 0.5 AS tc,
         CAST(hs AS DOUBLE) / {_DP_DENOM!r} - 0.5 AS ts
  FROM noised
)
SELECT n_name AS nation,
       CAST(floor(CAST(n_cnt AS DOUBLE)
            + (-{1.0 / DP_EPS!r}) * sign(tc)
              * CAST(CAST(floor(ln(1.0 - 2.0 * abs(tc)) * 1e6 + 0.5)
                          AS BIGINT) AS DOUBLE) / 1e6
            + 0.5) AS BIGINT) AS dp_count,
       floor((CAST(s AS DOUBLE) / 1e6
            + (-{DP_CLAMP / DP_EPS!r}) * sign(ts)
              * CAST(CAST(floor(ln(1.0 - 2.0 * abs(ts)) * 1e6 + 0.5)
                          AS BIGINT) AS DOUBLE) / 1e6)
             * 1e2 + 0.5) / 1e2 AS dp_balance_sum,
       CAST({float(DP_EPS)!r} AS DOUBLE) AS eps_per_stat
FROM calc ORDER BY nation
"""


# Target mixture (integer shares out of 20): the Pile/Dolma-style
# domain-weighting recipe — upweight the first sources, exclude the rest.
MIX_SHARES = [("src0", 8), ("src1", 6), ("src2", 4), ("src3", 2)]
_MIX_DENOM = 20


def q_dataset_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target-proportion dataset mixing: draw the LARGEST corpus subset
    whose domain composition matches the target weights exactly — the
    mixture step every LM data recipe runs after curation (upweight
    curated sources, drop the tail), as opposed to q_sample_balance's
    equalize-to-minimum.

    All mixture arithmetic is INTEGER so both engines agree bit-for-bit:
    shares are integer twentieths; the feasible total is
    ``N = min_s(n_avail·20 div share)`` (the binding-constraint source
    caps the whole draw); per-source quota ``share·N div 20``. Rows are
    drawn content-addressed — md5-rank per source, take the quota — so
    membership is engine/run/partitioning-independent, and the output
    carries the SUM of selected doc_ids as a membership checksum the
    oracle must reproduce (the hash proves the identical rows were
    chosen, not just the identical counts). Because the quota is a
    data-derived COLUMN (no WindowGroupLimit pre-prune possible) and
    the grouping key has only |sources| values, the rank runs through
    operators/ranking.py grouped_global_rank — range shuffle + local
    row_number + broadcast prefix offsets — not a per-source Window
    that would sort each domain's full corpus in one task at 100 TB."""
    from hippo_claim_crossover_spark.io import local_frame
    shares = F.broadcast(local_frame(
        spark, MIX_SHARES, "source string, share bigint"))
    docs = t(spark, sf_dir, "documents").select("doc_id", "source")
    tagged = materialize(docs.join(shares, "source"), "mix_tagged")
    avail = (tagged.groupBy("source", "share")
             .agg(F.count(F.lit(1)).alias("n_avail")))
    cap = avail.agg(F.min(F.expr(
        f"n_avail * {_MIX_DENOM} div share")).alias("N"))
    quota = (avail.crossJoin(F.broadcast(cap))
             .withColumn("n_take",
                         F.expr(f"share * N div {_MIX_DENOM}")))
    ranked = grouped_global_rank(
        tagged.withColumn(
            "_h", md5_long(F.col("doc_id").cast("string"))),
        ["source"], ["_h", "doc_id"], out_col="_rn")
    sel = (ranked
           .join(F.broadcast(quota.select("source", "n_take")), "source")
           .where(F.col("_rn") <= F.col("n_take")))
    agg_sel = (sel.groupBy("source")
               .agg(F.count(F.lit(1)).alias("n_selected"),
                    F.sum("doc_id").alias("sel_checksum")))
    return (quota.join(agg_sel, "source", "left")
            .select("source", "n_avail", "n_take",
                    F.coalesce("n_selected", F.lit(0)).alias("n_selected"),
                    duck_round(F.col("n_take").cast("double")
                               / F.col("N").cast("double"), 4)
                    .alias("achieved_share"),
                    F.coalesce("sel_checksum", F.lit(0))
                    .alias("sel_checksum"))
            .orderBy("source"))


ORACLE_DATASET_MIXTURE = f"""
WITH shares AS (
  SELECT * FROM (VALUES ('src0', CAST(8 AS BIGINT)),
                        ('src1', 6), ('src2', 4), ('src3', 2))
         AS v(source, share)
), tagged AS (
  SELECT d.doc_id, d.source, s.share
  FROM documents d JOIN shares s ON d.source = s.source
), avail AS (
  SELECT source, share, CAST(count(*) AS BIGINT) AS n_avail
  FROM tagged GROUP BY source, share
), cap AS (
  SELECT min(n_avail * {_MIX_DENOM} // share) AS n_total FROM avail
), quota AS (
  SELECT a.source, a.n_avail, a.share * c.n_total // {_MIX_DENOM}
         AS n_take, c.n_total
  FROM avail a, cap c
), ranked AS (
  SELECT t.source, t.doc_id,
         row_number() OVER (PARTITION BY t.source ORDER BY
           {sql_md5_long("CAST(t.doc_id AS VARCHAR)")},
           t.doc_id) AS rn
  FROM tagged t
), sel AS (
  SELECT r.source, r.doc_id
  FROM ranked r JOIN quota q ON r.source = q.source AND r.rn <= q.n_take
), agg_sel AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_selected,
         CAST(sum(doc_id) AS BIGINT) AS sel_checksum
  FROM sel GROUP BY source
)
SELECT q.source, q.n_avail, q.n_take,
       CAST(coalesce(a.n_selected, 0) AS BIGINT) AS n_selected,
       floor(CAST(q.n_take AS DOUBLE) / CAST(q.n_total AS DOUBLE)
             * 1e4 + 0.5) / 1e4 AS achieved_share,
       CAST(coalesce(a.sel_checksum, 0) AS BIGINT) AS sel_checksum
FROM quota q LEFT JOIN agg_sel a ON q.source = a.source
ORDER BY q.source
"""


MIX_TEMP_BUDGET = 10_000  # draws to allocate across sources


def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed dataset mixture (α = 1/2): sampling weights
    ``p_i ∝ n_i^α`` — the multilingual-LM recipe (XLM-R/mT5
    α-smoothing) that upweights small sources relative to their raw
    share without equalizing them; the smoothing face of the mixture
    family next to q_dataset_mixture's exact target proportions.

    Exactness without libm pow: α is fixed at 1/2 because ``sqrt`` is
    CORRECTLY-ROUNDED under IEEE-754 in every engine (pow(x, 0.5) is
    not), and each source's smoothed mass is quantized to BIGINT micros
    (``⌊√n_tok·1e6+0.5⌋``) BEFORE the cross-source total, so all shares
    and draw allocations are pure integer arithmetic — permille shares
    via cross-multiplication, budget draws via integer div; no
    float-addition order exists anywhere.

    Scale shape: one map-only token-count pass (codegen split+size),
    one partial/final agg to |sources| rows, then constant-size
    arithmetic; the scan dominates and everything after it is
    broadcast-trivial at any corpus size."""
    docs = t_wide(spark, sf_dir, "documents").select("source", "text")
    per = (docs.select(
        "source", F.size(F.split("text", " ")).cast("long").alias("ntok"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("ntok").alias("n_tokens")))
    smooth = F.floor(F.sqrt(F.col("n_tokens").cast("double"))
                     * F.lit(1e6) + F.lit(0.5)).cast("long")
    per = per.withColumn("smooth_u", smooth)
    tot = per.agg(F.sum("n_tokens").alias("tot_tok"),
                  F.sum("smooth_u").alias("tot_u"))
    return (per.crossJoin(F.broadcast(tot))
            .select(
                "source", "n_docs", "n_tokens",
                F.expr("n_tokens * 1000 div tot_tok")
                .alias("raw_permille"),
                F.expr("smooth_u * 1000 div tot_u")
                .alias("temp_permille"),
                F.expr(f"smooth_u * {MIX_TEMP_BUDGET} div tot_u")
                .alias("n_draws"),
                # upweight verdict: smoothed share strictly above raw
                # share (cross-multiplied exactly, no division). The
                # operands are widened to DECIMAL(19,0) so the products
                # compare in DECIMAL(38,0): smooth_u·tot_tok ≈
                # √n·1e6·n exceeds BIGINT once total tokens reach
                # ~10^12, where non-ANSI engines would wrap silently —
                # decimal keeps the verdict exact to ~10^38 (any
                # conceivable corpus; the money_sum widening note).
                (F.expr("cast(smooth_u as decimal(19,0)) "
                        "* cast(tot_tok as decimal(19,0))")
                 > F.expr("cast(n_tokens as decimal(19,0)) "
                          "* cast(tot_u as decimal(19,0))"))
                .alias("upweighted"))
            .orderBy("source"))


ORACLE_MIX_TEMPERATURE = f"""
WITH per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), sm AS (
  SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6 + 0.5)
                 AS BIGINT) AS smooth_u
  FROM per
), tot AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tok,
         CAST(sum(smooth_u) AS BIGINT) AS tot_u
  FROM sm
)
SELECT source, n_docs, n_tokens,
       n_tokens * 1000 // tot_tok AS raw_permille,
       smooth_u * 1000 // tot_u AS temp_permille,
       smooth_u * {MIX_TEMP_BUDGET} // tot_u AS n_draws,
       CAST(smooth_u AS DECIMAL(19,0)) * CAST(tot_tok AS DECIMAL(19,0))
         > CAST(n_tokens AS DECIMAL(19,0)) * CAST(tot_u AS DECIMAL(19,0))
         AS upweighted
FROM sm CROSS JOIN tot
ORDER BY source
"""


SPECS: dict[str, QuerySpec] = {
    "q_sample_balance": QuerySpec(
        q_sample_balance, ORACLE_SAMPLE_BALANCE,
        "distribution-balancing A-ES resample (importance weights from "
        "broadcast group counts)"),
    "q_target_encode": QuerySpec(
        q_target_encode, ORACLE_TARGET_ENCODE,
        "leave-one-out target encoding (broadcast category stats, "
        "row-local LOO mean)"),
    "q_transpose": QuerySpec(q_transpose, ORACLE_TRANSPOSE,
                             "Spark 4 DataFrame.transpose report matrix"),
    "q_percentile": QuerySpec(
        q_percentile, ORACLE_PERCENTILE,
        "exact grouped percentiles/median via distributed rank "
        "(no per-group buffering)"),
    "q_percentile_approx": QuerySpec(
        q_percentile_approx, ORACLE_PERCENTILE_APPROX,
        "approx_percentile sketch sibling (deterministic verdict: exact "
        "percentiles + within-5%-band boolean)"),
    "q_pivot": QuerySpec(q_pivot, ORACLE_PIVOT, "pivot w/ explicit values"),
    "q_cube": QuerySpec(q_cube, ORACLE_CUBE, "CUBE grouping sets"),
    "q_sample_hash": QuerySpec(q_sample_hash, ORACLE_SAMPLE_HASH,
                               "deterministic hash-bucket sample"),
    "q_sample_stratified": QuerySpec(
        q_sample_stratified, ORACLE_SAMPLE_STRATIFIED,
        "seeded sampleBy (deterministic verdict: exact strata "
        "populations + binomial-band booleans)"),
    "q_sample_weighted": QuerySpec(
        q_sample_weighted, ORACLE_SAMPLE_WEIGHTED,
        "deterministic Efraimidis-Spirakis weighted sample (A-ES top-K "
        "by u^(1/w), content-addressed uniforms)"),
    "q_sample_weighted_group": QuerySpec(
        q_sample_weighted_group, ORACLE_SAMPLE_WEIGHTED_GROUP,
        "per-stratum A-ES weighted top-20 (WindowGroupLimit-bounded)"),
    "q_udaf": QuerySpec(q_udaf, ORACLE_UDAF,
                        "mapInPandas partial + built-in final UDAF"),
    "q_sample_group": QuerySpec(
        q_sample_group, ORACLE_SAMPLE_GROUP,
        "deterministic md5-ranked per-stratum sample"),
    "q_hll_sketch": QuerySpec(
        q_hll_sketch, ORACLE_HLL_SKETCH,
        "DataSketches HLL partial-merge rollup (deterministic verdict: "
        "exact distincts + within-8%-band (~5 sigma) booleans)"),
    "q_cms_sketch": QuerySpec(
        q_cms_sketch, ORACLE_CMS_SKETCH,
        "deterministic Count-Min sketch (md5-affine rows, estimates "
        "hash-checked, re-mergeable cell state)"),
    "q_percentile_highcard": QuerySpec(
        q_percentile_highcard, ORACLE_PERCENTILE_HIGHCARD,
        "exact per-part median via the high-cardinality rank path "
        "(shuffle-joined rank metadata, no broadcast hint)"),
    "q_kmv_sketch": QuerySpec(
        q_kmv_sketch, ORACLE_KMV_SKETCH,
        "KMV distinct sketch (md5 order statistics, estimates "
        "hash-checked, union merge via the ALL scope)"),
    "q_quantile_sketch_merge": QuerySpec(
        q_quantile_sketch_merge, ORACLE_QUANTILE_SKETCH_MERGE,
        "mergeable rank-spaced quantile summary (md5-sharded MRL "
        "subsample, weighted-union merge, estimates hash-checked + "
        "rank-error contract booleans vs the exact CDF)"),
    "q_kmv_setops": QuerySpec(
        q_kmv_setops, ORACLE_KMV_SETOPS,
        "KMV sketch set algebra: pairwise union/intersection/Jaccard "
        "estimates from merged bottom-K sketches, estimates "
        "hash-checked + exact-side band verdicts"),
    "q_weighted_median": QuerySpec(
        q_weighted_median, ORACLE_WEIGHTED_MEDIAN,
        "units-weighted median/p90 price via the histogram-CDF "
        "operator with weight sums, integer cross-mult thresholds"),
    "q_dp_counts": QuerySpec(
        q_dp_counts, ORACLE_DP_COUNTS,
        "differentially-private release: seeded-Laplace noised count + "
        "clamped sum per nation, noise hash-checked outright"),
    "q_mix_temperature": QuerySpec(
        q_mix_temperature, ORACLE_MIX_TEMPERATURE,
        "temperature-smoothed mixture weights (alpha=1/2, micros-"
        "quantized sqrt -> pure integer shares/draws)"),
    "q_dataset_mixture": QuerySpec(
        q_dataset_mixture, ORACLE_DATASET_MIXTURE,
        "target-proportion domain mixture, integer quotas + md5 draw "
        "with membership checksum"),
}
