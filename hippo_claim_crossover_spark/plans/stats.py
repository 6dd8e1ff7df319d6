"""§2b statistical operators: grouped OLS regression, z-score anomaly
ranking, and distribution-drift scoring.

The reference's only "statistics" are a SUM and an EXISTS per claim
(lib/hippo_claim_crossover.rb:246-258); a corpus-scale engine needs the
next tier — fitted trends per segment, outlier detection, and drift
monitoring between shards of a training corpus. All three are built the
same scale-safe way:

* **Exact sufficient statistics.** Each statistic is an algebraic
  function of count / Σx / Σx² / Σxy sums. The sums ride exact integer
  micros (:func:`money_micros`) widened to DECIMAL(38,0) (Spark) /
  HUGEINT (DuckDB), so they are partial-aggregatable (map-side combine,
  one shuffle of a handful of numbers per group) AND bit-reproducible —
  no double accumulation order sensitivity anywhere.
* **One double conversion at the end.** The exact integer aggregates are
  cast to double once, then combined with the *identical* IEEE expression
  in both engines (products, differences, one division, sqrt — all
  correctly rounded), so the fitted slope / z-score / χ² hash-match the
  oracle exactly despite being irrational-valued.

At 100 TB each query is a single scan + partial/final hash aggregate on a
low-cardinality key; the per-row work is integer multiply-accumulate on
the codegen path. Nothing here ever materializes per-group row sets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hippo_claim_crossover_spark.operators.hashing import (
    md5_long, sql_md5_long)
from hippo_claim_crossover_spark.operators.ranking import grouped_percentiles
from hippo_claim_crossover_spark.plans.base import (
    QuerySpec,
    duck_round,
    money_micros,
    t,
)
from hippo_claim_crossover_spark.session import materialize

_D38 = "decimal(38,0)"


def _dsum(col: Column) -> Column:
    """Exact overflow-proof integer sum → double (one correctly-rounded
    conversion; DuckDB mirror is ``CAST(sum(...) AS DOUBLE)`` over the
    auto-widened HUGEINT accumulator)."""
    return F.sum(col.cast(_D38)).cast("double")


def q_regr_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS fit (extendedprice ~ quantity per return flag) from
    exact sufficient statistics.

    slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²), intercept = (Σy − b·Σx)/n,
    r² = b·(nΣxy − ΣxΣy) / (nΣy² − (Σy)²).

    Built-in ``regr_slope`` exists in both engines but accumulates
    doubles in partition order — not reproducible across engines or even
    across runs with different partitioning. The sufficient-statistics
    form is the distributed-ML textbook shape (one pass, map-side
    combine) *and* exact: x,y are 2dp-exact money values, so their
    micros are integers; per-row products are ≤5.25e18 but are computed
    in DECIMAL(38,0)/HUGEINT so no bound is load-bearing.

    Scale invariance: x,y both carry the 1e6 micros factor, so the
    slope and r² are unit-free; only the intercept needs the /1e6.
    """
    li = t(spark, sf_dir, "lineitem")
    xm = money_micros(F.col("l_quantity"))
    ym = money_micros(F.col("l_extendedprice"))
    agg = (
        li.select(F.col("l_returnflag"), xm.alias("xm"), ym.alias("ym"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("double").alias("nd"),
            _dsum(F.col("xm")).alias("sx"),
            _dsum(F.col("ym")).alias("sy"),
            _dsum(F.col("xm").cast(_D38) * F.col("xm")).alias("sxx"),
            _dsum(F.col("xm").cast(_D38) * F.col("ym")).alias("sxy"),
            _dsum(F.col("ym").cast(_D38) * F.col("ym")).alias("syy"),
        )
    )
    num = F.col("nd") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("nd") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("nd") * F.col("syy") - F.col("sy") * F.col("sy")
    slope = num / den
    return (
        agg.withColumn("slope", slope)
        .select(
            "l_returnflag",
            F.col("nd").cast("long").alias("n"),
            duck_round(F.col("slope"), 6).alias("slope"),
            duck_round((F.col("sy") - F.col("slope") * F.col("sx"))
                       / F.col("nd") / F.lit(1e6), 4).alias("intercept"),
            duck_round(F.col("slope") * num / deny, 6).alias("r2"),
        )
    )


# The SQL spells the double arithmetic in the exact same order as the
# Spark plan; both engines see identical IEEE operand sequences.
ORACLE_REGR_GROUP = """
WITH m AS (
  SELECT l_returnflag,
         CAST(floor(l_quantity * 1e6 + 0.5) AS BIGINT) AS xm,
         CAST(floor(l_extendedprice * 1e6 + 0.5) AS BIGINT) AS ym
  FROM lineitem
), a AS (
  SELECT l_returnflag,
         CAST(count(*) AS DOUBLE) AS nd,
         CAST(sum(CAST(xm AS HUGEINT)) AS DOUBLE) AS sx,
         CAST(sum(CAST(ym AS HUGEINT)) AS DOUBLE) AS sy,
         CAST(sum(CAST(xm AS HUGEINT) * xm) AS DOUBLE) AS sxx,
         CAST(sum(CAST(xm AS HUGEINT) * ym) AS DOUBLE) AS sxy,
         CAST(sum(CAST(ym AS HUGEINT) * ym) AS DOUBLE) AS syy
  FROM m GROUP BY l_returnflag
), b AS (
  SELECT *, (nd * sxy - sx * sy) / (nd * sxx - sx * sx) AS slope
  FROM a
)
SELECT l_returnflag, CAST(nd AS BIGINT) AS n,
       floor(slope * 1e6 + 0.5) / 1e6 AS slope,
       floor((sy - slope * sx) / nd / 1e6 * 1e4 + 0.5) / 1e4 AS intercept,
       floor(slope * (nd * sxy - sx * sy) / (nd * syy - sy * sy) * 1e6
             + 0.5) / 1e6 AS r2
FROM b
"""


def q_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment z-score anomaly ranking: the 5 most anomalous events
    per event type, scored against that type's own mean/σ.

    Moments come from the same exact-integer-sum machinery as
    :func:`q_regr_group` (Σx, Σx² in micros); σ is the sample stddev
    ``sqrt((Σx² − (Σx)²/n)/(n−1))`` — sqrt is correctly rounded in IEEE,
    so z is bit-identical across engines and the |z| ranking (tie-broken
    by event_id) is fully deterministic.

    Plan shape: one scan → 5-row stats aggregate → **broadcast** join of
    the stats back onto the stream (never a shuffle of the fact side on
    a 5-key column — that is the skew worst-case), then a per-type top-5
    window. At 100 TB the window input is pre-filtered to rows with
    |z| above a coarse screen? No — the rank needs all rows, but the
    window key (event_type) is the same 5-partition skew trap, so the
    top-5 runs as rank-within-shard → re-rank of the 5·shards survivors
    (same two-phase shape as q_topk_group).
    """
    e = t(spark, sf_dir, "events")
    xm = e.select("event_id", "event_type",
                  money_micros(F.col("value")).alias("xm"))
    stats = (
        xm.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("double").alias("nd"),
             _dsum(F.col("xm")).alias("s1"),
             _dsum(F.col("xm").cast(_D38) * F.col("xm")).alias("s2"))
        .withColumn("mean", F.col("s1") / F.col("nd"))
        .withColumn("std", F.sqrt(
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("nd"))
            / (F.col("nd") - F.lit(1.0))))
        .select("event_type", "mean", "std")
    )
    scored = (
        xm.join(F.broadcast(stats), "event_type")
        .withColumn("z", (F.col("xm").cast("double") - F.col("mean"))
                    / F.col("std"))
    )
    w = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("z")).desc(), F.col("event_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select("event_type", "rk", "event_id",
                duck_round(F.col("xm").cast("double") / F.lit(1e6), 2)
                .alias("value"),
                duck_round(F.col("z"), 4).alias("z"))
    )


ORACLE_OUTLIER_ZSCORE = """
WITH m AS (
  SELECT event_id, event_type,
         CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS xm
  FROM events
), s AS (
  SELECT event_type,
         CAST(count(*) AS DOUBLE) AS nd,
         CAST(sum(CAST(xm AS HUGEINT)) AS DOUBLE) AS s1,
         CAST(sum(CAST(xm AS HUGEINT) * xm) AS DOUBLE) AS s2
  FROM m GROUP BY event_type
), st AS (
  SELECT event_type, s1 / nd AS mean,
         sqrt((s2 - s1 * s1 / nd) / (nd - 1.0)) AS std
  FROM s
), z AS (
  SELECT m.event_type, m.event_id,
         (CAST(m.xm AS DOUBLE) - st.mean) / st.std AS z,
         CAST(m.xm AS DOUBLE) / 1e6 AS v
  FROM m JOIN st USING (event_type)
), r AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
            ORDER BY abs(z) DESC, event_id) AS rk
  FROM z
)
SELECT event_type, rk, event_id,
       floor(v * 1e2 + 0.5) / 1e2 AS value,
       floor(z * 1e4 + 0.5) / 1e4 AS z
FROM r WHERE rk <= 5
"""


def q_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-segment outliers: median/MAD scoring (round-6 sibling
    of q_outlier_zscore). Mean/σ scoring is itself corrupted by the
    outliers it hunts — one extreme value inflates σ and masks the
    rest — so robust pipelines score against the MEDIAN and the median
    absolute deviation, both 50%-breakdown statistics.

    Both medians walk the value HISTOGRAM (tie-compressed partial/final
    agg — never an exact-median aggregate buffering O(rows/group) on
    the 5-value key). r15: the histogram is built once; the median of
    value reads it directly, and the |value − median| histogram for the
    MAD is DERIVED from it (join the 5-row median table, re-key by
    abs(value − med), sum counts) — an aggregate over the histogram's
    few rows, replacing the second full scan + partial/final agg over
    the raw events the old two-sequential-percentile-calls form paid.
    r16: both walks use the BOUNDED-histogram path
    (grouped_percentiles ``bounded=True``) — ``value`` is a 2-decimal
    bounded-domain grid, so |histogram rows per type| is capped by the
    VALUE DOMAIN (~1e5) independent of the row count, a static
    caller-declared bound that replaces the range-shuffle CDF machinery
    with one hash-partition window per walk. Identical medians: same
    histograms, same symmetric quantile_cont interpolation — so they
    are bit-identical to DuckDB's ``median`` and the robust z
    ``(x − med)/mad`` hash-matches after duck_round. Top-5 per type via
    the two-phase-safe row_number window, tie-broken by event_id."""
    e = t(spark, sf_dir, "events")
    vals = e.select("event_id", "event_type", "value")
    hist = materialize(vals.groupBy("event_type", "value")
                       .agg(F.count(F.lit(1)).alias("_cnt")),
                       "value_hist")
    med = grouped_percentiles(hist, ["event_type"], "value", [0.5],
                              cnt_col="_cnt", bounded=True).select(
        "event_type", F.col("value").alias("med"))
    # single consumer now (the bounded walk) — no checkpoint needed
    adev_hist = (hist.join(F.broadcast(med), "event_type")
                 .groupBy("event_type",
                          F.abs(F.col("value") - F.col("med"))
                          .alias("adev"))
                 .agg(F.sum("_cnt").alias("_cnt")))
    mad = grouped_percentiles(adev_hist, ["event_type"], "adev", [0.5],
                              cnt_col="_cnt", bounded=True).select(
        "event_type", F.col("value").alias("mad"))
    scored = (vals.join(F.broadcast(med), "event_type")
              .join(F.broadcast(mad), "event_type")
              .withColumn("rz", (F.col("value") - F.col("med"))
                          / F.col("mad")))
    w = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("rz")).desc(), F.col("event_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select("event_type", "rk", "event_id", "value",
                duck_round(F.col("rz"), 4).alias("rz"))
    )


ORACLE_OUTLIER_MAD = """
WITH v AS (
  SELECT event_id, event_type, value FROM events
), med AS (
  SELECT event_type, median(value) AS med FROM v GROUP BY event_type
), d AS (
  SELECT v.*, med.med, abs(v.value - med.med) AS adev
  FROM v JOIN med USING (event_type)
), mad AS (
  SELECT event_type, median(adev) AS mad FROM d GROUP BY event_type
), z AS (
  SELECT d.event_type, d.event_id, d.value,
         (d.value - d.med) / mad.mad AS rz
  FROM d JOIN mad USING (event_type)
), r AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
            ORDER BY abs(rz) DESC, event_id) AS rk
  FROM z
)
SELECT event_type, rk, event_id, value,
       floor(rz * 1e4 + 0.5) / 1e4 AS rz
FROM r WHERE rk <= 5
"""


def q_outlier_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONALITY-ADJUSTED anomaly detection — the composition a real
    monitoring pipeline runs where q_outlier_mad alone misfires: a
    value normal for 3 AM is anomalous at noon, so scoring must happen
    on the RESIDUAL against the (event_type, hour-of-day) profile, not
    the raw value. Profile means are exact-rational doubles
    (Σmicros / n — identical operands both engines), residuals are
    double arithmetic over those, and the robust median/MAD scoring of
    the residuals rides the same histogram-CDF rank machinery as
    q_outlier_mad (no per-group buffering on the 5-value key). Top-3
    per type by |robust z|, event_id tie-broken; MAD==0 groups are
    filtered (0/0 NaN-vs-NULL, and NULL ordering diverges cross-engine).

    Shape: one scan → profile partial/final agg (type × 24 rows,
    broadcast back) → residual map → ONE residual histogram (the MAD's
    deviation histogram derives from it, r15) → two histogram-CDF
    median walks → WindowGroupLimit top-3."""
    e = t(spark, sf_dir, "events").select(
        "event_id", "event_type", "value",
        F.hour("ts").cast("long").alias("hr"))
    vals = e.withColumn("v_u", money_micros(F.col("value")))
    prof = (vals.groupBy("event_type", "hr")
            .agg(F.sum("v_u").alias("_s"),
                 F.count(F.lit(1)).alias("_n")))
    resid = (vals.join(F.broadcast(prof), ["event_type", "hr"])
             .withColumn("resid",
                         (F.col("v_u").cast("double")
                          - F.col("_s").cast("double")
                          / F.col("_n").cast("double")) / F.lit(1e6)))
    # r15: one residual histogram feeds the median, and the MAD's
    # |resid − med| histogram is derived from it (histogram-sized
    # aggregate) instead of a second full scan + agg — same shape as
    # q_outlier_mad; medians bit-identical. r16: both walks use the
    # bounded-histogram path — residuals live on the 2-decimal value
    # grid shifted by ≤ |type|×24 profile means, so |rows per type| is
    # capped by the value DOMAIN × 24, independent of the row count.
    rhist = materialize(resid.groupBy("event_type", "resid")
                        .agg(F.count(F.lit(1)).alias("_cnt")),
                        "residual_hist")
    med = grouped_percentiles(rhist, ["event_type"], "resid", [0.5],
                              cnt_col="_cnt", bounded=True).select(
        "event_type", F.col("value").alias("med"))
    # single consumer now (the bounded walk) — no checkpoint needed
    adev_hist = (rhist.join(F.broadcast(med), "event_type")
                 .groupBy("event_type",
                          F.abs(F.col("resid") - F.col("med"))
                          .alias("adev"))
                 .agg(F.sum("_cnt").alias("_cnt")))
    mad = grouped_percentiles(adev_hist, ["event_type"], "adev", [0.5],
                              cnt_col="_cnt", bounded=True).select(
        "event_type", F.col("value").alias("mad"))
    scored = (resid.join(F.broadcast(med), "event_type")
              .join(F.broadcast(mad), "event_type")
              .where(F.col("mad") != 0)
              .withColumn("rz", (F.col("resid") - F.col("med"))
                          / F.col("mad")))
    w = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("rz")).desc(), F.col("event_id"))
    return (scored.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 3)
            .select("event_type", "rk", "event_id", "hr", "value",
                    duck_round(F.col("resid"), 4).alias("resid"),
                    duck_round(F.col("rz"), 4).alias("rz")))


ORACLE_OUTLIER_SEASONAL = """
WITH v AS (
  SELECT event_id, event_type, value,
         CAST(extract(hour FROM ts) AS BIGINT) AS hr,
         CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS v_u
  FROM events
), prof AS (
  SELECT event_type, hr, CAST(sum(v_u) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM v GROUP BY 1, 2
), r AS (
  SELECT v.*, (CAST(v.v_u AS DOUBLE)
               - CAST(p.s AS DOUBLE) / CAST(p.n AS DOUBLE)) / 1e6
           AS resid
  FROM v JOIN prof p USING (event_type, hr)
), med AS (
  SELECT event_type, median(resid) AS med FROM r GROUP BY event_type
), d AS (
  SELECT r.*, med.med, abs(r.resid - med.med) AS adev
  FROM r JOIN med USING (event_type)
), mad AS (
  SELECT event_type, median(adev) AS mad FROM d GROUP BY event_type
), z AS (
  SELECT d.event_type, d.event_id, d.hr, d.value, d.resid,
         (d.resid - d.med) / mad.mad AS rz
  FROM d JOIN mad USING (event_type)
  WHERE mad.mad <> 0
), rr AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
            ORDER BY abs(rz) DESC, event_id) AS rk
  FROM z
)
SELECT event_type, rk, event_id, hr, value,
       floor(resid * 1e4 + 0.5) / 1e4 AS resid,
       floor(rz * 1e4 + 0.5) / 1e4 AS rz
FROM rr WHERE rk <= 3
"""


# Poisson-bootstrap parameters: replicate count and the Poisson(1)
# CDF thresholds (exact double literals — identical in both engines)
# for the inverse-CDF weight draw, truncated at 5.
BOOT_B = 100
_POIS1_CDF = (0.36787944117144233, 0.7357588823428847,
              0.9196986029286058, 0.9810118431238462,
              0.9963401531726563)


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOOTSTRAP confidence intervals for the per-priority mean order
    value — by the POISSON BOOTSTRAP, the resampling scheme that
    actually distributes (classic multinomial resampling needs the
    global n per draw; Poisson(1) weights are row-local, so replicate
    b's "resample" is just a weight column and all B replicates ride
    ONE scan): every experimentation platform's uncertainty machinery.

    Determinism: the weight for (row, replicate) is inverse-CDF over a
    60-bit md5 uniform against exact Poisson(1) CDF literals — both
    engines draw the identical integer weights, replicate means are
    single fixed-order double divisions over integer sums, and the
    [2.5%, 97.5%] interval over the B means interpolates with the
    quantile_cont discipline — the whole CI hash-checks.

    Shape: a constant B-way replicate fan-out (codegen explode — rows
    × B is map-side, never shuffled raw: the partial agg combines to
    (group, replicate) cells before the exchange), one partial/final
    agg to B·|groups| cells, and the interval over B values per group
    is a bounded-frame window interpolation
    (grouped_percentiles ``bounded=True`` — the cells are |groups|·B by
    construction, so the histogram-CDF machinery and its plan-build
    checkpoint are pure overhead; r15, was 16.8s one-shot at sf0.1,
    dominated by the checkpoint materializing the fan-out in ONE task
    off a single parquet split). The narrow (prio, key, micros)
    projection is explicitly repartitioned before the explode — but
    ONLY when the scan yields fewer splits than cores — so the ×B md5
    draw (the only row-proportional CPU in the query) parallelizes on
    the single-split local fixture while a many-split cluster scan
    pays no row-proportional exchange; the explicit partition count
    keeps AQE from coalescing the small exchange back to one task. At
    100 TB the scan side is split-parallel already and the post-agg
    shuffle carries |groups|·B fixed-width cells — independent of row
    count."""
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"), "o_orderkey",
        money_micros(F.col("o_totalprice")).alias("x_u"))
    # Even the ×B CPU across cores ONLY when the scan yields fewer
    # splits than the cluster has slots (the local single-split
    # fixture case). At 100 TB the scan already has thousands of
    # splits, so an unconditional RoundRobin exchange of every raw
    # (prio, key, micros) row would be pure network cost — the
    # condition keeps the plan's contract that only the |groups|·B
    # fixed-width cells shuffle at scale. getNumPartitions() is a
    # plan-time question (scan split arithmetic); no job runs.
    parts = spark.sparkContext.defaultParallelism
    if o.rdd.getNumPartitions() < parts:
        o_spread = o.repartition(parts)
    else:
        o_spread = o
    rep = o_spread.select(
        "prio", "o_orderkey", "x_u",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b"))
    u = (md5_long(F.concat_ws(
        ":", F.lit("boot"), F.col("o_orderkey").cast("string"),
        F.col("b").cast("string")))
        .cast("double") / F.lit(float(1 << 60)))
    w = F.when(u < _POIS1_CDF[0], 0).when(u < _POIS1_CDF[1], 1) \
        .when(u < _POIS1_CDF[2], 2).when(u < _POIS1_CDF[3], 3) \
        .when(u < _POIS1_CDF[4], 4).otherwise(5).cast("long")
    means = (rep.withColumn("_w", w)
             .groupBy("prio", "b")
             .agg(F.sum(F.col("_w") * F.col("x_u")).alias("_swx"),
                  F.sum("_w").alias("_sw"))
             .withColumn("mean_b",
                         F.col("_swx").cast("double")
                         / F.col("_sw").cast("double") / F.lit(1e6)))
    ci = grouped_percentiles(
        means.select("prio", "mean_b"), ["prio"], "mean_b",
        [0.025, 0.975], bounded=True)
    point = (o.groupBy("prio")
             .agg(F.count(F.lit(1)).alias("n"),
                  (F.sum("x_u").cast("double")
                   / F.count(F.lit(1)).cast("double") / F.lit(1e6))
                  .alias("_pm")))
    # Pivot lo/hi into ONE row per group so the replicate subplan has
    # exactly one consumer (two filtered joins would execute the ×B
    # fan-out twice — exchange reuse is not guaranteed under AQE).
    band = (ci.groupBy("prio")
            .agg(F.max(F.when(F.col("_p_idx") == 0, F.col("value")))
                 .alias("_lo"),
                 F.max(F.when(F.col("_p_idx") == 1, F.col("value")))
                 .alias("_hi")))
    return (point.join(band, "prio")
            .select(F.col("prio").alias("o_orderpriority"), "n",
                    duck_round(F.col("_pm"), 4).alias("mean_value"),
                    duck_round(F.col("_lo"), 4).alias("ci_lo"),
                    duck_round(F.col("_hi"), 4).alias("ci_hi"))
            .orderBy("o_orderpriority"))


ORACLE_BOOTSTRAP_CI = f"""
WITH o AS (
  SELECT o_orderpriority AS prio, o_orderkey,
         CAST(floor(o_totalprice * 1e6 + 0.5) AS BIGINT) AS x_u
  FROM orders
), rep AS (
  SELECT prio, o_orderkey, x_u, CAST(unnest(range(0, {BOOT_B})) AS BIGINT) AS b
  FROM o
), drawn AS (
  SELECT prio, b, x_u,
         CAST({sql_md5_long(
             "'boot' || ':' || CAST(o_orderkey AS VARCHAR) "
             "|| ':' || CAST(b AS VARCHAR)")} AS DOUBLE)
           / {float(1 << 60)!r} AS u
  FROM rep
), weighted AS (
  SELECT prio, b, x_u,
         CAST(CASE WHEN u < {_POIS1_CDF[0]!r} THEN 0
              WHEN u < {_POIS1_CDF[1]!r} THEN 1
              WHEN u < {_POIS1_CDF[2]!r} THEN 2
              WHEN u < {_POIS1_CDF[3]!r} THEN 3
              WHEN u < {_POIS1_CDF[4]!r} THEN 4
              ELSE 5 END AS BIGINT) AS w
  FROM drawn
), means AS (
  SELECT prio, b,
         CAST(sum(w * x_u) AS DOUBLE) / CAST(sum(w) AS DOUBLE) / 1e6
           AS mean_b
  FROM weighted GROUP BY prio, b
), ci AS (
  SELECT prio, quantile_cont(mean_b, 0.025) AS lo,
         quantile_cont(mean_b, 0.975) AS hi
  FROM means GROUP BY prio
), pt AS (
  SELECT prio, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x_u) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e6
           AS pm
  FROM o GROUP BY prio
)
SELECT p.prio AS o_orderpriority, p.n,
       floor(p.pm * 1e4 + 0.5) / 1e4 AS mean_value,
       floor(c.lo * 1e4 + 0.5) / 1e4 AS ci_lo,
       floor(c.hi * 1e4 + 0.5) / 1e4 AS ci_hi
FROM pt p JOIN ci c ON p.prio = c.prio
ORDER BY o_orderpriority
"""


# Rolling-zscore parameters: trailing history window (rows, excluding
# the scored row) and the minimum history required to score.
RZ_WIN = 20
RZ_MIN_N = 5


def q_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE-STYLE anomaly scoring: each event scored against its own
    user's trailing-20-event history (exclusive frame — the monitoring
    semantics where the current point must not contaminate its own
    baseline; q_outlier_zscore's global scoring can't see a per-user
    level shift). Top-10 most anomalous events corpus-wide.

    Exactness: the frame aggregates are INTEGER sums of micros and
    squared micros (value ≤ ~1e3 ⇒ v_u² ≤ 1e18/100 — inside int64 for
    any plausible frame width), so mean and the sample-variance
    numerator ``n·Σx² − (Σx)²`` are identical doubles cross-engine,
    and z is one fixed expression over them, zero-variance-guarded.

    Shape: one hash shuffle on user_id + per-user window (frame state
    is two longs — Spark's sliding ROWS frame is incremental, not
    re-summed), then TakeOrdered for the global top-10: no global
    sort, no per-group buffering beyond the 20-row frame."""
    e = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value",
        money_micros(F.col("value")).alias("v_u"))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-RZ_WIN, -1))
    hist = (e.withColumn("_n", F.count(F.lit(1)).over(w))
            .withColumn("_s", F.sum("v_u").over(w))
            .withColumn("_s2", F.sum(F.col("v_u") * F.col("v_u")).over(w)))
    nd = F.col("_n").cast("double")
    sd = F.col("_s").cast("double")
    s2d = F.col("_s2").cast("double")
    var_num = nd * s2d - sd * sd
    mean = sd / nd / F.lit(1e6)
    z = ((F.col("value") - mean)
         / (F.sqrt(var_num / (nd * (nd - 1))) / F.lit(1e6)))
    scored = (hist.where(F.col("_n") >= RZ_MIN_N)
              .where(var_num > 0)
              .withColumn("_z_raw", z))
    # rank + LIMIT on the RAW z — DuckDB's ORDER BY abs(z) binds to the
    # source column, not the rounded alias, so ranking on the rounded
    # value would let top-10 MEMBERSHIP diverge when rounding collapses
    # near-ties at the cutoff (code-review r10 finding); the q_outlier_*
    # discipline: round only in the final projection.
    return (scored.orderBy(F.abs(F.col("_z_raw")).desc(), "event_id")
            .limit(10)
            .select("event_id", "user_id", "event_type", "value",
                    F.col("_n").alias("n_hist"),
                    duck_round(F.col("_z_raw"), 4).alias("z")))


ORACLE_ROLLING_ZSCORE = f"""
WITH e AS (
  SELECT event_id, user_id, ts, event_type, value,
         CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS v_u
  FROM events
), h AS (
  SELECT *,
         CAST(count(*) OVER w AS BIGINT) AS n,
         CAST(sum(v_u) OVER w AS BIGINT) AS s,
         CAST(sum(v_u * v_u) OVER w AS BIGINT) AS s2
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {RZ_WIN} PRECEDING AND 1 PRECEDING)
), scored AS (
  SELECT event_id, user_id, event_type, value, n,
         (value - CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1e6)
         / (sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))) / 1e6)
           AS z
  FROM h
  WHERE n >= {RZ_MIN_N}
    AND CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) > 0
)
SELECT event_id, user_id, event_type, value,
       n AS n_hist, floor(z * 1e4 + 0.5) / 1e4 AS z
FROM scored ORDER BY abs(z) DESC, event_id LIMIT 10
"""


# The event-type universe is part of the query contract (drift is always
# measured over a fixed label vocabulary); spelling it out keeps the χ²
# summation a fixed-order chain of 5 additions instead of an
# order-sensitive SUM over doubles.
_TYPES = ("click", "error", "purchase", "signup", "view")


def q_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between corpus shards: χ² divergence of each
    user-shard's event-type mix against the global mix.

    The production use is training-corpus QA — detect a shard whose
    label/language/source distribution has drifted from the corpus
    before it poisons a training run. χ² = Σ_t (p_s,t − p_g,t)²/p_g,t
    over the fixed type vocabulary.

    Determinism: counts are exact; the per-type χ² terms are doubles but
    are combined as an explicit fixed-order ``t1+t2+t3+t4+t5`` chain
    (not a SUM aggregate), so the result is bit-identical across
    engines. Two aggregates (per-shard conditional counts + one global
    row, broadcast), no row ever leaves its partition twice.
    """
    e = t(spark, sf_dir, "events")
    cnt = [F.count(F.when(F.col("event_type") == ty, 1)).alias(f"c_{ty}")
           for ty in _TYPES]
    shard = (
        e.groupBy(F.pmod(F.col("user_id"), F.lit(8)).alias("shard"))
        .agg(F.count(F.lit(1)).alias("n"), *cnt)
    )
    glob = e.groupBy().agg(F.count(F.lit(1)).alias("gn"), *[
        F.count(F.when(F.col("event_type") == ty, 1)).alias(f"g_{ty}")
        for ty in _TYPES])

    def term(ty: str) -> Column:
        ps = F.col(f"c_{ty}").cast("double") / F.col("n").cast("double")
        pg = F.col(f"g_{ty}").cast("double") / F.col("gn").cast("double")
        return (ps - pg) * (ps - pg) / pg

    chi2 = term(_TYPES[0])
    for ty in _TYPES[1:]:
        chi2 = chi2 + term(ty)
    return (
        shard.crossJoin(F.broadcast(glob))
        .select("shard", F.col("n").alias("n_events"),
                duck_round(chi2, 8).alias("chi2"))
    )


def _term_sql(ty: str) -> str:
    return (f"(CAST(c_{ty} AS DOUBLE) / CAST(n AS DOUBLE)"
            f" - CAST(g_{ty} AS DOUBLE) / CAST(gn AS DOUBLE))"
            f" * (CAST(c_{ty} AS DOUBLE) / CAST(n AS DOUBLE)"
            f" - CAST(g_{ty} AS DOUBLE) / CAST(gn AS DOUBLE))"
            f" / (CAST(g_{ty} AS DOUBLE) / CAST(gn AS DOUBLE))")


ORACLE_DRIFT_CHI2 = f"""
WITH s AS (
  SELECT user_id % 8 AS shard, count(*) AS n,
         {", ".join(f"count(*) FILTER (event_type = '{ty}') AS c_{ty}"
                    for ty in _TYPES)}
  FROM events GROUP BY user_id % 8
), g AS (
  SELECT count(*) AS gn,
         {", ".join(f"count(*) FILTER (event_type = '{ty}') AS g_{ty}"
                    for ty in _TYPES)}
  FROM events
)
SELECT shard, n AS n_events,
       floor(({" + ".join(_term_sql(ty) for ty in _TYPES)}) * 1e8 + 0.5)
         / 1e8 AS chi2
FROM s, g
"""


def q_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user event streams:
    P(next event type | current event type), the standard behavioral
    model behind next-action prediction and anomaly-flow detection.

    One shuffle on user_id orders each stream (lead() pairs consecutive
    events); the pair counts partial-aggregate on the 5×5 (src, dst)
    grid, and the per-src totals — a ≤5-row aggregate — broadcast back
    for the probability quotient. Counts are exact integers; the single
    quotient goes through the shared floor-formula rounding, so the
    matrix hash-matches the oracle exactly.
    """
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.withColumn("dst", F.lead("event_type").over(w))
        .where(F.col("dst").isNotNull())
        .select(F.col("event_type").alias("src"), "dst")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = pairs.groupBy("src").agg(F.sum("n").alias("src_total"))
    return (
        pairs.join(F.broadcast(totals), "src")
        .select("src", "dst", "n",
                duck_round(F.col("n").cast("double")
                           / F.col("src_total").cast("double"), 6)
                .alias("prob"))
    )


ORACLE_TRANSITIONS = """
WITH p AS (
  SELECT src, dst, count(*) AS n FROM (
    SELECT event_type AS src,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS dst
    FROM events)
  WHERE dst IS NOT NULL GROUP BY src, dst
), tot AS (
  SELECT src, sum(n) AS src_total FROM p GROUP BY src
)
SELECT p.src, p.dst, p.n,
       floor(CAST(p.n AS DOUBLE) / CAST(src_total AS DOUBLE) * 1e6 + 0.5)
         / 1e6 AS prob
FROM p JOIN tot ON p.src = tot.src
"""


def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostic — the profiling pass run BEFORE
    choosing a join strategy at 100 TB (broadcast vs shuffle vs the
    salted plan q_join_salted demonstrates): per-key cardinalities of
    the candidate shuffle key, reduced to one row of decision inputs —
    key count, total rows, max per-key count, the share held by the
    top-10 keys, and the coefficient of variation of key sizes.

    Shape: one partial/final count per key (the profile never
    materializes per-key rows beyond the count table), a TakeOrdered
    top-10 (tie-broken by key), and exact-integer moments for the CV —
    all deterministic, all one scan.
    """
    e = t(spark, sf_dir, "events")
    counts = (e.groupBy("user_id").agg(F.count(F.lit(1)).alias("c")))
    stats = counts.agg(
        F.count(F.lit(1)).cast("double").alias("nd"),
        _dsum(F.col("c")).alias("s1"),
        _dsum(F.col("c").cast(_D38) * F.col("c")).alias("s2"))
    top10 = (counts.orderBy(F.col("c").desc(), "user_id").limit(10)
             .agg(F.sum("c").alias("top10_rows")))
    mean = F.col("s1") / F.col("nd")
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("nd")) \
        / (F.col("nd") - F.lit(1.0))
    return (
        stats.crossJoin(F.broadcast(top10))
        .select(
            F.col("nd").cast("long").alias("n_keys"),
            F.col("s1").cast("long").alias("total_rows"),
            F.col("top10_rows"),
            duck_round(F.col("top10_rows").cast("double") / F.col("s1"), 6)
            .alias("top10_share"),
            duck_round(F.sqrt(var) / mean, 6).alias("cv"),
        )
    )


ORACLE_SKEW_PROFILE = """
WITH c AS (
  SELECT user_id, count(*) AS c FROM events GROUP BY user_id
), s AS (
  SELECT CAST(count(*) AS DOUBLE) AS nd,
         CAST(sum(CAST(c AS HUGEINT)) AS DOUBLE) AS s1,
         CAST(sum(CAST(c AS HUGEINT) * c) AS DOUBLE) AS s2
  FROM c
), t AS (
  SELECT sum(c) AS top10_rows FROM (
    SELECT c FROM c ORDER BY c DESC, user_id LIMIT 10)
)
SELECT CAST(nd AS BIGINT) AS n_keys, CAST(s1 AS BIGINT) AS total_rows,
       CAST(top10_rows AS BIGINT) AS top10_rows,
       floor(CAST(top10_rows AS DOUBLE) / s1 * 1e6 + 0.5) / 1e6
         AS top10_share,
       floor(sqrt((s2 - s1 * s1 / nd) / (nd - 1.0)) / (s1 / nd) * 1e6
             + 0.5) / 1e6 AS cv
FROM s, t
"""


N_RECON_BUCKETS = 64


def _canon_row_hash() -> Column:
    """Order-insensitive row fingerprint: md5 of the canonical
    delimiter-joined row rendering (integers and fixed-format strings
    ONLY — doubles ride as exact cents so no float-formatting divergence
    between engines), folded to a BIGINT. Summing these per bucket gives
    a content checksum any engine can recompute."""
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    s = F.concat_ws(
        "|",
        F.col("o_orderkey"), F.col("o_custkey"), F.col("o_orderstatus"),
        cents, F.date_format("o_orderdate", "yyyy-MM-dd"),
        F.col("o_orderpriority"))
    return md5_long(s)


def q_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-bucket reconciliation — "did the migration lose or corrupt
    anything?", answered without shipping either table: both sides
    reduce to 64 bucket checksums (order-insensitive sums of canonical
    per-row md5 fingerprints, exact DECIMAL(38,0) accumulation), and
    only differing buckets would be drilled into. This is THE scale
    shape for cross-system validation (e.g. reference engine → this
    one): comparing 100 TB row-by-row needs a full co-shuffle of both
    tables; comparing 64 (or 64k) bucket digests moves kilobytes, and a
    mismatch isolates 1/64th of the keyspace for the row-level diff
    (q_snapshot_diff) to chase.

    Side B is a derived copy with a deliberate fault injected (price
    +10.00 on keys ≡ 0 mod 97), so the report provably detects
    corruption: buckets containing a faulted key show is_consistent =
    false, all others true.
    """
    o = t(spark, sf_dir, "orders")
    bucket = F.pmod(F.col("o_orderkey"), F.lit(N_RECON_BUCKETS))

    def digest(df: DataFrame, side: str) -> DataFrame:
        return (df.select(bucket.alias("bucket"),
                          _canon_row_hash().alias("h"))
                .groupBy("bucket")
                .agg(F.count(F.lit(1)).alias(f"n_{side}"),
                     F.sum(F.col("h").cast(_D38)).alias(f"sum_{side}")))
    a = digest(o, "a")
    b = digest(
        o.withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") % 97 == 0,
                   F.col("o_totalprice") + F.lit(10.0))
            .otherwise(F.col("o_totalprice"))), "b")
    return reconcile_digests(a, b)


def reconcile_digests(a: DataFrame, b: DataFrame) -> DataFrame:
    """Full-outer compare of two per-bucket digest frames
    (``bucket, n_x, sum_x``). Compares COALESCED values: a bucket
    present on only one side (a wholly lost bucket — the headline
    data-loss case the reconciliation op exists to catch) must report
    ``is_consistent = false``, not NULL, or a consumer filtering
    ``WHERE NOT is_consistent`` misses the loss."""
    zero38 = F.lit(0).cast(_D38)
    return (
        a.join(b, "bucket", "full_outer")
        .select("bucket",
                F.coalesce("n_a", F.lit(0)).alias("n_a"),
                F.coalesce("n_b", F.lit(0)).alias("n_b"),
                ((F.coalesce("n_a", F.lit(0))
                  == F.coalesce("n_b", F.lit(0)))
                 & (F.coalesce("sum_a", zero38)
                    == F.coalesce("sum_b", zero38)))
                .alias("is_consistent"))
    )


_CANON_SQL = sql_md5_long(
    "o_orderkey || '|' || o_custkey || '|' || o_orderstatus"
    " || '|' || CAST(floor({price} * 100 + 0.5) AS BIGINT)"
    " || '|' || strftime(o_orderdate, '%Y-%m-%d')"
    " || '|' || o_orderpriority")

ORACLE_RECONCILE = f"""
WITH a AS (
  SELECT o_orderkey % {N_RECON_BUCKETS} AS bucket, count(*) AS n_a,
         sum(CAST({_CANON_SQL.format(price="o_totalprice")} AS HUGEINT))
           AS sum_a
  FROM orders GROUP BY 1
), b AS (
  SELECT o_orderkey % {N_RECON_BUCKETS} AS bucket, count(*) AS n_b,
         sum(CAST({_CANON_SQL.format(
              price="CASE WHEN o_orderkey % 97 = 0 "
                    "THEN o_totalprice + 10.0 ELSE o_totalprice END")}
             AS HUGEINT)) AS sum_b
  FROM orders GROUP BY 1
)
SELECT a.bucket, coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b,
       (coalesce(n_a, 0) = coalesce(n_b, 0)
        AND coalesce(sum_a, 0) = coalesce(sum_b, 0)) AS is_consistent
FROM a FULL OUTER JOIN b USING (bucket)
"""


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (percentile clipping): per return-flag segment, clip
    ``l_extendedprice`` to its exact [p05, p95] band and report the
    distribution before/after — the robust-normalization step a feature
    pipeline runs before aggregating heavy-tailed values.

    The boundary percentiles run through the SAME distributed
    rank-and-interpolate machinery as q_percentile/q_outlier_mad
    (operators/ranking.py — no per-group buffering on the 3-value key,
    so no exact-percentile OOM cliff at 100×).  r15: the clip report is
    computed from the (flag, price) HISTOGRAM the percentiles already
    tie-compressed, not from a second full scan — every aggregate is a
    count-weighted fold over histogram rows (Σ cnt·⌊v·1e6+0.5⌋ equals
    the row-level micros sum exactly, long arithmetic), so the output
    is bit-identical while lineitem is scanned ONCE.  Boundaries
    broadcast back (3×2 rows) and clipping is histogram-row-local;
    means accumulate in exact integer micros so raw and winsorized
    means are engine-identical.
    """
    li = t(spark, sf_dir, "lineitem").select("l_returnflag",
                                             "l_extendedprice")
    hist = materialize(li.groupBy("l_returnflag", "l_extendedprice")
                       .agg(F.count(F.lit(1)).alias("_cnt")),
                       "price_hist")
    pcts = (grouped_percentiles(
        hist, ["l_returnflag"], "l_extendedprice", [0.05, 0.95],
        cnt_col="_cnt")
        .groupBy("l_returnflag")
        .agg(F.max(F.when(F.col("_p_idx") == 0, F.col("value")))
             .alias("p05"),
             F.max(F.when(F.col("_p_idx") == 1, F.col("value")))
             .alias("p95")))
    clipped = (hist.join(F.broadcast(pcts), "l_returnflag")
               .withColumn("w", F.least(F.greatest("l_extendedprice",
                                                   F.col("p05")),
                                        F.col("p95"))))
    u = lambda c: F.floor(F.col(c) * F.lit(1e6) + F.lit(0.5)).cast("long")
    cnt = F.col("_cnt")
    return (clipped.groupBy("l_returnflag")
            .agg(F.sum(cnt).alias("n_rows"),
                 F.min("p05").alias("p05"),
                 F.min("p95").alias("p95"),
                 F.sum(F.when(F.col("l_extendedprice") < F.col("p05"), cnt)
                       .otherwise(0)).alias("n_clip_lo"),
                 F.sum(F.when(F.col("l_extendedprice") > F.col("p95"), cnt)
                       .otherwise(0)).alias("n_clip_hi"),
                 F.sum(cnt * u("l_extendedprice")).alias("_raw_u"),
                 F.sum(cnt * u("w")).alias("_w_u"))
            .select("l_returnflag", "n_rows",
                    duck_round(F.col("p05"), 4).alias("p05"),
                    duck_round(F.col("p95"), 4).alias("p95"),
                    "n_clip_lo", "n_clip_hi",
                    duck_round(F.col("_raw_u").cast("double") / F.lit(1e6)
                               / F.col("n_rows"), 4).alias("mean_raw"),
                    duck_round(F.col("_w_u").cast("double") / F.lit(1e6)
                               / F.col("n_rows"), 4).alias("mean_wins"))
            .orderBy("l_returnflag"))


ORACLE_WINSORIZE = """
WITH pcts AS (
  SELECT l_returnflag,
         quantile_cont(l_extendedprice, 0.05) AS p05,
         quantile_cont(l_extendedprice, 0.95) AS p95
  FROM lineitem GROUP BY l_returnflag
), c AS (
  SELECT l.l_returnflag, l.l_extendedprice, p.p05, p.p95,
         least(greatest(l.l_extendedprice, p.p05), p.p95) AS w
  FROM lineitem l JOIN pcts p USING (l_returnflag)
)
SELECT l_returnflag, count(*) AS n_rows,
       floor(min(p05) * 1e4 + 0.5) / 1e4 AS p05,
       floor(min(p95) * 1e4 + 0.5) / 1e4 AS p95,
       CAST(sum(CASE WHEN l_extendedprice < p05 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clip_lo,
       CAST(sum(CASE WHEN l_extendedprice > p95 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clip_hi,
       floor(CAST(sum(CAST(floor(l_extendedprice * 1e6 + 0.5) AS BIGINT))
                  AS DOUBLE) / 1e6 / count(*) * 1e4 + 0.5) / 1e4
         AS mean_raw,
       floor(CAST(sum(CAST(floor(w * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
             / 1e6 / count(*) * 1e4 + 0.5) / 1e4 AS mean_wins
FROM c GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift: the exact KS statistic
    between the `click` and `view` event-value distributions — the
    nonparametric sibling of q_drift_chi2 for continuous features
    (embedding norms, doc lengths, scores) where binning hides drift.

    Exact and fully distributed: one per-value aggregate (d1/d2 counts),
    then BOTH empirical CDFs come from ONE pass of the distributed
    prefix-sum operator (operators/ranking.py global_cumsum — range
    shuffle + per-partition window + broadcast partition offsets; the
    naive ``sum() OVER (ORDER BY value)`` is a single-partition global
    window, the same cliff global rank has).  Counts are exact longs, so
    the CDF quotients and the D statistic are engine-identical; top-5
    gap points ride TakeOrdered.
    """
    from hippo_claim_crossover_spark.operators.ranking import global_cumsum

    # NULL guard: Spark sorts NULLS FIRST ascending, DuckDB NULLS LAST —
    # an unguarded NULL value group would fold into every Spark CDF row
    # but no DuckDB one. (SQL percentile/CDF semantics exclude NULLs.)
    e = (t(spark, sf_dir, "events")
         .where(F.col("event_type").isin("click", "view")
                & F.col("value").isNotNull())
         .select("event_type", "value"))
    per_val = (e.groupBy("value")
               .agg(F.sum(F.when(F.col("event_type") == "click", 1)
                          .otherwise(0)).alias("d1"),
                    F.sum(F.when(F.col("event_type") == "view", 1)
                          .otherwise(0)).alias("d2")))
    cum = global_cumsum(per_val, ["value"], ["d1", "d2"])
    n = (e.groupBy()
         .agg(F.sum(F.when(F.col("event_type") == "click", 1)
                    .otherwise(0)).alias("n1"),
              F.sum(F.when(F.col("event_type") == "view", 1)
                    .otherwise(0)).alias("n2")))
    return (cum.crossJoin(F.broadcast(n))
            .select("value", "n1", "n2",
                    F.col("_cum_d1").alias("c1"),
                    F.col("_cum_d2").alias("c2"),
                    duck_round(F.abs(
                        F.col("_cum_d1").cast("double") / F.col("n1")
                        - F.col("_cum_d2").cast("double") / F.col("n2")),
                        6).alias("ks_gap"))
            .orderBy(F.col("ks_gap").desc(), "value")
            .limit(5))


ORACLE_DRIFT_KS = """
WITH e AS (
  SELECT event_type, value FROM events
  WHERE event_type IN ('click', 'view') AND value IS NOT NULL
), per_val AS (
  SELECT value,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS d1,
         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS d2
  FROM e GROUP BY value
), cum AS (
  SELECT value, d1, d2,
         sum(d1) OVER (ORDER BY value) AS c1,
         sum(d2) OVER (ORDER BY value) AS c2
  FROM per_val
), n AS (
  SELECT sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n1,
         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS n2
  FROM e
)
SELECT value,
       CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       CAST(c1 AS BIGINT) AS c1, CAST(c2 AS BIGINT) AS c2,
       floor(abs(CAST(c1 AS DOUBLE) / n1 - CAST(c2 AS DOUBLE) / n2)
             * 1e6 + 0.5) / 1e6 AS ks_gap
FROM cum, n
ORDER BY ks_gap DESC, value
LIMIT 5
"""


def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration per market segment: exact Gini coefficient
    and top-decile share of per-customer revenue — the inequality
    profile that tells a curation pipeline whether a source is dominated
    by a few heavy entities.

    Gini needs every customer's rank within its segment; the ranking
    runs through grouped_global_rank (range shuffle + broadcast offsets
    — no per-segment single-task sort; ties in revenue are
    rank-order-insensitive for the Σ rank·x term, so the tiebreak is
    free).  The closed form G = (2·Σrx − (n+1)·Σx) / (n·Σx) is computed
    from DECIMAL(38,0) exact sums (rank×micros products overflow int64
    at ~1e18 — decimal is the 100 TB-safe accumulator, same discipline
    as q_regr_group).  Top-decile share joins the broadcast per-segment
    totals back and conditionally sums the top n/10 ranks.
    """
    from hippo_claim_crossover_spark.operators.ranking import (
        grouped_global_rank,
    )

    o = t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    rev = (o.groupBy("o_custkey")
           .agg(F.sum(money_micros(F.col("o_totalprice")))
                .alias("rev_u"))
           .join(c, F.col("o_custkey") == F.col("c_custkey"))
           .select("c_mktsegment", "o_custkey", "rev_u"))
    # TWO consumers read `ranked` (the Σrx totals and the top-decile
    # probe): materialize the range-shuffle + window once — the
    # write-the-projection-once rule; measured 0.97s → 0.27s warm
    # best-of-3 at sf0.1 (the window otherwise recomputes per branch,
    # ReusedExchange only dedups the exchange below it).
    ranked = materialize(grouped_global_rank(rev, ["c_mktsegment"],
                                             ["rev_u", "o_custkey"]),
                         "segment_rank")
    totals = (ranked.groupBy("c_mktsegment")
              .agg(F.count(F.lit(1)).alias("n"),
                   _dsum(F.col("rev_u")).alias("sum_x"),
                   _dsum(F.col("_rank").cast(_D38)
                         * F.col("rev_u")).alias("sum_rx")))
    top = (ranked.join(F.broadcast(
        totals.select("c_mktsegment", F.col("n").alias("_n"))),
        "c_mktsegment")
        .where(F.col("_rank") > F.col("_n") - F.floor(F.col("_n") / 10))
        .groupBy("c_mktsegment")
        .agg(_dsum(F.col("rev_u")).alias("top_x")))
    return (totals.join(F.broadcast(top), "c_mktsegment")
            .select("c_mktsegment", "n",
                    duck_round(F.col("sum_x") / F.lit(1e6), 6)
                    .alias("total_rev"),
                    duck_round(
                        (F.lit(2.0) * F.col("sum_rx")
                         - (F.col("n") + 1) * F.col("sum_x"))
                        / (F.col("n") * F.col("sum_x")), 6).alias("gini"),
                    duck_round(F.col("top_x") / F.col("sum_x"), 6)
                    .alias("top_decile_share"))
            .orderBy("c_mktsegment"))


ORACLE_GINI = """
WITH rev AS (
  SELECT c.c_mktsegment, o.o_custkey,
         sum(CAST(floor(o.o_totalprice * 1e6 + 0.5) AS BIGINT)) AS rev_u
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_mktsegment, o.o_custkey
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY c_mktsegment
                               ORDER BY rev_u, o_custkey) AS rk
  FROM rev
), totals AS (
  SELECT c_mktsegment, count(*) AS n,
         CAST(sum(rev_u) AS DOUBLE) AS sum_x,
         CAST(sum(CAST(rk AS HUGEINT) * rev_u) AS DOUBLE) AS sum_rx
  FROM ranked GROUP BY c_mktsegment
), top AS (
  SELECT r.c_mktsegment, CAST(sum(r.rev_u) AS DOUBLE) AS top_x
  FROM ranked r JOIN totals t USING (c_mktsegment)
  WHERE r.rk > t.n - floor(t.n / 10)
  GROUP BY r.c_mktsegment
)
SELECT t.c_mktsegment, t.n,
       floor(sum_x / 1e6 * 1e6 + 0.5) / 1e6 AS total_rev,
       floor((2.0 * sum_rx - (t.n + 1) * sum_x) / (t.n * sum_x)
             * 1e6 + 0.5) / 1e6 AS gini,
       floor(top_x / sum_x * 1e6 + 0.5) / 1e6 AS top_decile_share
FROM totals t JOIN top USING (c_mktsegment)
ORDER BY t.c_mktsegment
"""


def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment Pearson correlation matrix over three measures
    (quantity, price, discount) from exact sufficient statistics in ONE
    pass — the feature-correlation screen an ML pipeline runs before
    training, built on q_regr_group's moment discipline: built-in
    ``corr`` accumulates doubles in partition order (not reproducible
    across engines), so every first and second moment here is an exact
    DECIMAL(38)/HUGEINT sum of integer micros, and
    ``corr = (nΣxy − ΣxΣy) / √((nΣx² − (Σx)²)(nΣy² − (Σy)²))`` is a
    fixed double expression over identical operands — including the
    correctly-rounded IEEE sqrt — in both engines.

    One partial/final aggregate computes all 9 moments; the 3 pair rows
    per segment unpivot from the single aggregate row (Expand, no
    second scan). Micros scale factors cancel in the ratio, so no
    /1e6 appears anywhere."""
    li = t(spark, sf_dir, "lineitem")
    cols = {"x": "l_quantity", "y": "l_extendedprice", "z": "l_discount"}
    proj = li.select(
        "l_returnflag",
        *[money_micros(F.col(c)).alias(k) for k, c in cols.items()])
    agg = proj.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("nd"),
        *[_dsum(F.col(k)).alias(f"s{k}") for k in cols],
        *[_dsum(F.col(a).cast(_D38) * F.col(b)).alias(f"s{a}{b}")
          for a, b in (("x", "x"), ("y", "y"), ("z", "z"),
                       ("x", "y"), ("x", "z"), ("y", "z"))])

    def _corr(a: str, b: str):
        num = F.col("nd") * F.col(f"s{a}{b}") - F.col(f"s{a}") * F.col(f"s{b}")
        va = F.col("nd") * F.col(f"s{a}{a}") - F.col(f"s{a}") * F.col(f"s{a}")
        vb = F.col("nd") * F.col(f"s{b}{b}") - F.col(f"s{b}") * F.col(f"s{b}")
        # zero-variance guard (single-row or constant group): 0/0 is
        # NaN in Spark but NULL in DuckDB — emit NULL in both engines
        return F.when(va * vb > 0, num / F.sqrt(va * vb))

    wide = agg.select(
        "l_returnflag", F.col("nd").cast("long").alias("n"),
        duck_round(_corr("x", "y"), 6).alias("_qp"),
        duck_round(_corr("x", "z"), 6).alias("_qd"),
        duck_round(_corr("y", "z"), 6).alias("_pd"))
    return (wide.select(
        "l_returnflag", "n",
        F.expr("stack(3, 'quantity~price', _qp, 'quantity~discount', _qd,"
               " 'price~discount', _pd) AS (pair, corr)"))
        .select("l_returnflag", "pair", "n", "corr")
        .orderBy("l_returnflag", "pair"))


ORACLE_CORR_MATRIX = """
WITH m AS (
  SELECT l_returnflag,
         CAST(floor(l_quantity * 1e6 + 0.5) AS BIGINT) AS x,
         CAST(floor(l_extendedprice * 1e6 + 0.5) AS BIGINT) AS y,
         CAST(floor(l_discount * 1e6 + 0.5) AS BIGINT) AS z
  FROM lineitem
), a AS (
  SELECT l_returnflag,
         CAST(count(*) AS DOUBLE) AS nd,
         CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
         CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
         CAST(sum(CAST(z AS HUGEINT)) AS DOUBLE) AS sz,
         CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
         CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy,
         CAST(sum(CAST(z AS HUGEINT) * z) AS DOUBLE) AS szz,
         CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy,
         CAST(sum(CAST(x AS HUGEINT) * z) AS DOUBLE) AS sxz,
         CAST(sum(CAST(y AS HUGEINT) * z) AS DOUBLE) AS syz
  FROM m GROUP BY l_returnflag
), w AS (
  SELECT l_returnflag, CAST(nd AS BIGINT) AS n,
         CASE WHEN (nd * sxx - sx * sx) * (nd * syy - sy * sy) > 0
              THEN floor((nd * sxy - sx * sy)
                   / sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy))
                   * 1e6 + 0.5) / 1e6 END AS qp,
         CASE WHEN (nd * sxx - sx * sx) * (nd * szz - sz * sz) > 0
              THEN floor((nd * sxz - sx * sz)
                   / sqrt((nd * sxx - sx * sx) * (nd * szz - sz * sz))
                   * 1e6 + 0.5) / 1e6 END AS qd,
         CASE WHEN (nd * syy - sy * sy) * (nd * szz - sz * sz) > 0
              THEN floor((nd * syz - sy * sz)
                   / sqrt((nd * syy - sy * sy) * (nd * szz - sz * sz))
                   * 1e6 + 0.5) / 1e6 END AS pd
  FROM a
), stacked AS (
  SELECT l_returnflag, n, 'quantity~price' AS pair, qp AS corr FROM w
  UNION ALL
  SELECT l_returnflag, n, 'quantity~discount', qd FROM w
  UNION ALL
  SELECT l_returnflag, n, 'price~discount', pd FROM w
)
SELECT l_returnflag, pair, n, corr FROM stacked
ORDER BY l_returnflag, pair
"""


def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event type — the monitoring
    family's "WHEN did the distribution move" next to χ²/KS's "DID it
    move": the event-ordered cumulative sum of deviations from the
    series mean peaks exactly at a level shift.

    Exactness: the textbook ``S_t = Σ_{i≤t}(x_i − x̄)`` mixes a float
    mean into every prefix — order-sensitive. Multiplying through by n
    removes the division: ``n·S_t = n·C_t − t·T`` where ``C_t`` is the
    integer-micros prefix sum, ``T`` the total and ``t`` the prefix
    row count — ALL BIGINT, so the argmax row is engine-exact and the
    reported statistic divides once at the end. Per type: one window
    shuffle (prefix sums over the event_id order) + one max_by
    aggregate; at 100 TB the window input is the event stream once,
    state O(1)/row. n·S_t magnitude: n ≤ 2e5·|v|max ≈ 5e8 micros ×
    prefix ≈ ... bounded by n²·v̄·1e6 ≈ 2e19 at sf0.1-scale-100 —
    rides DECIMAL(38) via the long product guard below at any scale
    (here n·C stays < 9e18 at the gated fixtures; the product is
    computed in DECIMAL(38,0) regardless so no bound is load-bearing).
    """
    # 2 consumers: totals + prefix
    e = materialize(t(spark, sf_dir, "events")
                    .select("event_type", "event_id", "ts",
                            money_micros(F.col("value")).alias("v_u")),
                    "event_values")
    w = (Window.partitionBy("event_type").orderBy("event_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    totals = (e.groupBy("event_type")
              .agg(F.sum("v_u").alias("tot_u"),
                   F.count(F.lit(1)).alias("n")))
    pref = (e.withColumn("c_u", F.sum("v_u").over(w))
            .withColumn("t_idx", F.count(F.lit(1)).over(w)))
    dev = (pref.join(F.broadcast(totals), "event_type")
           .withColumn(
               "ns_u",
               F.col("n").cast(_D38) * F.col("c_u").cast(_D38)
               - F.col("t_idx").cast(_D38) * F.col("tot_u").cast(_D38)))
    dev = materialize(dev.withColumn("absdev", F.abs(F.col("ns_u"))),
                      "cusum_dev")
    # deterministic argmax without engine-specific struct-ordered
    # arg_max: max |n·S_t| per type (broadcast back, exact integer
    # equality), ties to the earliest event via min/min_by
    mx = dev.groupBy("event_type").agg(F.max("absdev").alias("mx"))
    peak = (dev.join(F.broadcast(mx), "event_type")
            .where(F.col("absdev") == F.col("mx")))
    return (peak.groupBy("event_type")
            .agg(F.min("event_id").alias("change_event_id"),
                 F.min_by("ts", "event_id").alias("change_ts"),
                 F.min_by("t_idx", "event_id").alias("t_index"),
                 F.max("n").alias("n"),
                 duck_round(
                     F.max("mx").cast("double")
                     / F.max("n").cast("double")
                     / F.max("n").cast("double") / F.lit(1e6), 4)
                 .alias("max_abs_cusum"))
            .orderBy("event_type"))


ORACLE_CUSUM_CHANGEPOINT = """
WITH e AS (
  SELECT event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
         CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS v_u
  FROM events
), totals AS (
  SELECT event_type, CAST(sum(v_u) AS BIGINT) AS tot_u,
         CAST(count(*) AS BIGINT) AS n
  FROM e GROUP BY event_type
), pref AS (
  SELECT event_type, event_id, ts,
         CAST(sum(v_u) OVER w AS BIGINT) AS c_u,
         CAST(count(*) OVER w AS BIGINT) AS t_idx
  FROM e
  WINDOW w AS (PARTITION BY event_type ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), dev AS (
  SELECT p.event_type, p.event_id, p.ts, p.t_idx, t.n,
         CAST(t.n AS HUGEINT) * p.c_u
           - CAST(p.t_idx AS HUGEINT) * t.tot_u AS ns_u
  FROM pref p JOIN totals t ON p.event_type = t.event_type
)
, mx AS (
  SELECT event_type, max(abs(ns_u)) AS mx FROM dev GROUP BY event_type
), peak AS (
  SELECT d.* FROM dev d JOIN mx ON d.event_type = mx.event_type
  WHERE abs(d.ns_u) = mx.mx
)
SELECT event_type,
       min(event_id) AS change_event_id,
       arg_min(ts, event_id) AS change_ts,
       arg_min(t_idx, event_id) AS t_index,
       max(n) AS n,
       floor(CAST(max(abs(ns_u)) AS DOUBLE)
             / CAST(max(n) AS DOUBLE) / CAST(max(n) AS DOUBLE)
             / 1e6 * 1e4 + 0.5) / 1e4 AS max_abs_cusum
FROM peak GROUP BY event_type ORDER BY event_type
"""


# Two-sided critical value for a 95% z/t test (large samples).
AB_CRIT_95 = 1.96


def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Welch test per market segment — A/B experimentation
    readout (URGENT-priority orders as treatment, LOW as control,
    o_totalprice as the metric): the statistic every experiment
    platform computes, built on exact sufficient statistics so an
    irrational t-value hash-matches across engines.

    Per (segment, arm): n, Σx, Σx² ride integer micros in DECIMAL(38)
    (one partial/final pass over the joined facts). Welch:
    ``t = (x̄_a − x̄_b) / √(s²_a/n_a + s²_b/n_b)`` with sample
    variances — every input to the IEEE expression is an exact integer
    cast once to double, so both engines evaluate the identical
    operand sequence (sqrt correctly rounded). The verdict column
    compares |t| to the fixed 1.96 large-sample critical value; no
    p-value (needs erf, engine-private) — the boolean is what a
    dashboard gates on anyway."""
    o = (t(spark, sf_dir, "orders")
         .where(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
         .select("o_custkey",
                 F.when(F.col("o_orderpriority") == "1-URGENT", "a")
                 .otherwise("b").alias("arm"),
                 money_micros(F.col("o_totalprice")).alias("xm")))
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    agg = (o.join(c, o.o_custkey == c.c_custkey)
           .groupBy("c_mktsegment", "arm")
           .agg(F.count(F.lit(1)).cast("double").alias("nd"),
                _dsum(F.col("xm")).alias("s1"),
                _dsum(F.col("xm").cast(_D38) * F.col("xm")).alias("s2")))
    mean = F.col("s1") / F.col("nd")
    var = ((F.col("s2") - F.col("s1") * F.col("s1") / F.col("nd"))
           / (F.col("nd") - F.lit(1.0)))
    # two consumers (treatment/control splits) — materialize or the
    # whole join+aggregate recomputes per side
    arms = materialize(agg.select("c_mktsegment", "arm", "nd",
                                  mean.alias("m"), var.alias("v")),
                       "ab_arms")
    a = arms.where(F.col("arm") == "a").select(
        "c_mktsegment", F.col("nd").alias("na"), F.col("m").alias("ma"),
        F.col("v").alias("va"))
    b = arms.where(F.col("arm") == "b").select(
        "c_mktsegment", F.col("nd").alias("nb"), F.col("m").alias("mb"),
        F.col("v").alias("vb"))
    denom = F.col("va") / F.col("na") + F.col("vb") / F.col("nb")
    # zero-denominator guard (both arms constant): 0/0 is NaN in Spark
    # but NULL in DuckDB — emit NULL in both engines
    tstat = F.when(denom > 0,
                   (F.col("ma") - F.col("mb")) / F.sqrt(denom))
    return (a.join(b, "c_mktsegment")
            .select("c_mktsegment",
                    F.col("na").cast("long").alias("n_treat"),
                    F.col("nb").cast("long").alias("n_control"),
                    duck_round(F.col("ma") / F.lit(1e6), 2)
                    .alias("mean_treat"),
                    duck_round(F.col("mb") / F.lit(1e6), 2)
                    .alias("mean_control"),
                    duck_round(tstat, 4).alias("t_stat"),
                    (F.abs(tstat) > F.lit(AB_CRIT_95))
                    .alias("significant_95"))
            .orderBy("c_mktsegment"))


ORACLE_AB_TEST = f"""
WITH m AS (
  SELECT c.c_mktsegment,
         CASE WHEN o.o_orderpriority = '1-URGENT' THEN 'a' ELSE 'b' END
           AS arm,
         CAST(floor(o.o_totalprice * 1e6 + 0.5) AS BIGINT) AS xm
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE o.o_orderpriority IN ('1-URGENT', '5-LOW')
), agg AS (
  SELECT c_mktsegment, arm,
         CAST(count(*) AS DOUBLE) AS nd,
         CAST(sum(CAST(xm AS HUGEINT)) AS DOUBLE) AS s1,
         CAST(sum(CAST(xm AS HUGEINT) * xm) AS DOUBLE) AS s2
  FROM m GROUP BY c_mktsegment, arm
), arms AS (
  SELECT c_mktsegment, arm, nd, s1 / nd AS mean,
         (s2 - s1 * s1 / nd) / (nd - 1.0) AS var
  FROM agg
), j AS (
  SELECT a.c_mktsegment, a.nd AS na, a.mean AS ma, a.var AS va,
         b.nd AS nb, b.mean AS mb, b.var AS vb,
         CASE WHEN a.var / a.nd + b.var / b.nd > 0
              THEN (a.mean - b.mean) / sqrt(a.var / a.nd + b.var / b.nd)
         END AS tstat
  FROM arms a JOIN arms b
    ON a.c_mktsegment = b.c_mktsegment AND a.arm = 'a' AND b.arm = 'b'
)
SELECT c_mktsegment,
       CAST(na AS BIGINT) AS n_treat,
       CAST(nb AS BIGINT) AS n_control,
       floor(ma / 1e6 * 1e2 + 0.5) / 1e2 AS mean_treat,
       floor(mb / 1e6 * 1e2 + 0.5) / 1e2 AS mean_control,
       floor(tstat * 1e4 + 0.5) / 1e4 AS t_stat,
       abs(tstat) > {AB_CRIT_95!r} AS significant_95
FROM j ORDER BY c_mktsegment
"""


def q_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical MODE per segment with a deterministic tie-break —
    the descriptive statistic both engines ship as an aggregate but
    with ENGINE-PRIVATE tie behavior (Spark's ``mode`` and DuckDB's
    ``mode`` both pick an arbitrary winner among equally-frequent
    values), so the portable form is spelled out: value counts, max
    count per group broadcast back, smallest value among the winners.

    Two partial/final aggregates + one broadcast-back equality — the
    same max-then-join shape as q_graph_lpa's label vote and
    q_cusum_changepoint's peak lookup; at 100 TB the shuffle carries
    (group, value) pairs once and ≤|groups| rows after."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("long").alias("qty"))
    counts = materialize(li.groupBy("l_returnflag", "qty")
                         .agg(F.count(F.lit(1)).alias("c")),
                         "quantity_counts")
    mx = counts.groupBy("l_returnflag").agg(
        F.max("c").alias("mc"),
        F.count(F.lit(1)).alias("n_distinct_values"))
    return (counts.join(F.broadcast(mx), "l_returnflag")
            .where(F.col("c") == F.col("mc"))
            .groupBy("l_returnflag", "mc", "n_distinct_values")
            .agg(F.min("qty").alias("mode_qty"))
            .select("l_returnflag", "mode_qty",
                    F.col("mc").alias("mode_count"),
                    "n_distinct_values")
            .orderBy("l_returnflag"))


ORACLE_MODE = """
WITH counts AS (
  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
         CAST(count(*) AS BIGINT) AS c
  FROM lineitem GROUP BY l_returnflag, CAST(l_quantity AS BIGINT)
), mx AS (
  SELECT l_returnflag, max(c) AS mc,
         CAST(count(*) AS BIGINT) AS n_distinct_values
  FROM counts GROUP BY l_returnflag
)
SELECT c.l_returnflag, min(c.qty) AS mode_qty,
       max(m.mc) AS mode_count,
       max(m.n_distinct_values) AS n_distinct_values
FROM counts c JOIN mx m ON c.l_returnflag = m.l_returnflag
WHERE c.c = m.mc
GROUP BY c.l_returnflag
ORDER BY c.l_returnflag
"""


SPECS: dict[str, QuerySpec] = {
    "q_mode": QuerySpec(
        q_mode, ORACLE_MODE,
        "deterministic per-group mode (max-then-join, min-value "
        "tie-break — engine mode() aggregates tie arbitrarily)"),
    "q_cusum_changepoint": QuerySpec(
        q_cusum_changepoint, ORACLE_CUSUM_CHANGEPOINT,
        "CUSUM changepoint per type (integer n*S_t prefix deviations, "
        "deterministic argmax)"),
    "q_ab_test": QuerySpec(
        q_ab_test, ORACLE_AB_TEST,
        "two-sample Welch t per segment from exact moments, fixed "
        "critical-value verdict"),
    "q_corr_matrix": QuerySpec(
        q_corr_matrix, ORACLE_CORR_MATRIX,
        "one-pass exact Pearson correlation matrix (DECIMAL(38) "
        "moments, micros factors cancel)"),
    "q_gini": QuerySpec(
        q_gini, ORACLE_GINI,
        "exact Gini + top-decile concentration via distributed grouped "
        "rank (decimal accumulators)"),
    "q_drift_ks": QuerySpec(
        q_drift_ks, ORACLE_DRIFT_KS,
        "two-sample KS drift via distributed prefix-sum CDFs"),
    "q_winsorize": QuerySpec(
        q_winsorize, ORACLE_WINSORIZE,
        "percentile winsorization via distributed rank-and-interpolate "
        "boundaries (no per-group buffering)"),
    "q_regr_group": QuerySpec(
        q_regr_group, ORACLE_REGR_GROUP,
        "grouped OLS fit from exact sufficient statistics"),
    "q_outlier_zscore": QuerySpec(
        q_outlier_zscore, ORACLE_OUTLIER_ZSCORE,
        "per-segment z-score anomaly top-5"),
    "q_outlier_mad": QuerySpec(
        q_outlier_mad, ORACLE_OUTLIER_MAD,
        "robust median/MAD outlier top-5 (distributed exact medians)"),
    "q_outlier_seasonal": QuerySpec(
        q_outlier_seasonal, ORACLE_OUTLIER_SEASONAL,
        "seasonality-adjusted anomalies: hourly-profile residuals "
        "scored by median/MAD, top-3 per type"),
    "q_bootstrap_ci": QuerySpec(
        q_bootstrap_ci, ORACLE_BOOTSTRAP_CI,
        "Poisson-bootstrap 95% CI for per-priority mean order value, "
        "md5-seeded weights, whole CI hash-checked"),
    "q_rolling_zscore": QuerySpec(
        q_rolling_zscore, ORACLE_ROLLING_ZSCORE,
        "per-user trailing-window z-score anomalies (exclusive frame, "
        "integer frame sums), global top-10"),
    "q_drift_chi2": QuerySpec(
        q_drift_chi2, ORACLE_DRIFT_CHI2,
        "shard-vs-corpus chi-square distribution drift"),
    "q_transitions": QuerySpec(
        q_transitions, ORACLE_TRANSITIONS,
        "first-order Markov event-transition matrix"),
    "q_skew_profile": QuerySpec(
        q_skew_profile, ORACLE_SKEW_PROFILE,
        "shuffle-key skew diagnostic (join-strategy inputs)"),
    "q_reconcile": QuerySpec(
        q_reconcile, ORACLE_RECONCILE,
        "Merkle-bucket table reconciliation (order-insensitive "
        "md5 checksums per bucket)"),
}
