"""§2b relational extensions: multi-agg, distinct, rollup, top-k, set ops,
range joins (SURVEY.md §2b — generalization of the reference's single
SUM/EXISTS surface to full batch-analytical aggregation).

Scale notes: every groupBy here is partial/final HashAggregate; the rollup
is a single Expand+Aggregate (one shuffle); top-k is a per-partition
TakeOrdered (no global sort materialization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hippo_claim_crossover_spark.plans.base import (
    QuerySpec,
    duck_round,
    money_avg,
    money_avg_sql,
    money_micros,
    money_sum,
    money_sum_sql,
    t,
    within_rel_band,
)


def q_agg_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped multi-agg — TPC-H Q1 shape (pricing summary)."""
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            money_sum(F.col("l_quantity")).alias("sum_qty"),
            money_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            money_sum(disc_price).alias("sum_disc_price"),
            money_sum(charge).alias("sum_charge"),
            money_avg(F.col("l_quantity")).alias("avg_qty"),
            money_avg(F.col("l_extendedprice")).alias("avg_price"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


ORACLE_AGG_MULTI = f"""
SELECT l_returnflag, l_linestatus,
       {money_sum_sql("l_quantity")} AS sum_qty,
       {money_sum_sql("l_extendedprice")} AS sum_base_price,
       {money_sum_sql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
       {money_sum_sql("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
       {money_avg_sql("l_quantity")} AS avg_qty,
       {money_avg_sql("l_extendedprice")} AS avg_price,
       min(l_quantity) AS min_qty,
       max(l_quantity) AS max_qty,
       count(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct + count-distinct per group."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n_parts"),
             F.countDistinct("l_suppkey").alias("n_suppliers"),
             F.countDistinct("l_orderkey").alias("n_claims"))
    )


ORACLE_DISTINCT = """
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_suppliers,
       count(DISTINCT l_orderkey) AS n_claims
FROM lineitem GROUP BY l_returnflag
"""


def q_approx_cd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the 100 TB path for
    cardinality: one pass, fixed memory, no exact-distinct shuffle.

    Deterministic-verdict output (the sketch estimate itself is
    engine-specific, so it never appears in the result): each group
    emits the EXACT distinct counts plus a boolean asserting the HLL++
    estimate landed within ±5% of them (rsd 0.01 ⇒ 5% is a ≥5σ band).
    The DuckDB oracle computes the same exact counts and a constant
    TRUE — an out-of-band sketch flips the boolean and fails the
    driver's hash, turning the old rows-only row into a real check.

    The exact and approx sides aggregate SEPARATELY and join on the
    3-row group key (r14). Mixing countDistinct with
    approx_count_distinct in one agg makes Catalyst's distinct-rewrite
    evaluate the HLL++ sketches in the per-(key, value, gid) first
    aggregate — at rsd 0.01 that is two ~2^14-register (~3.3k-field)
    buffers PER DISTINCT EXPANDED ROW carried through a hash agg and
    its exchange (measured 30s / multi-GB exchange at sf0.1; row-count-
    proportional sketch state at 100 TB). Split, the approx side is one
    partial/final HLL agg straight off the scan — map-side combine to
    |groups| sketches, a KB-sized exchange — and the exact side keeps
    the standard two-distinct Expand (×2, narrow rows). Two
    column-pruned scans beat one scan with row-sized sketch state at
    any scale."""
    li = t(spark, sf_dir, "lineitem")
    exact = (li.groupBy("l_returnflag")
             .agg(F.countDistinct("l_partkey").alias("exact_parts"),
                  F.countDistinct("l_orderkey").alias("exact_claims")))
    approx = (li.groupBy(F.col("l_returnflag").alias("_rf"))
              .agg(F.approx_count_distinct("l_partkey", 0.01)
                   .alias("_apx_parts"),
                   F.approx_count_distinct("l_orderkey", 0.01)
                   .alias("_apx_claims")))
    # eqNullSafe: both groupBys emit a NULL-key group if the column is
    # ever NULL; a plain equi-join would silently drop that row (r15).
    return (exact.join(F.broadcast(approx),
                       F.col("l_returnflag").eqNullSafe(F.col("_rf")))
            .select("l_returnflag", "exact_parts", "exact_claims",
                    within_rel_band(F.col("_apx_parts"),
                                    F.col("exact_parts"), 0.05)
                    .alias("parts_within_5pct"),
                    within_rel_band(F.col("_apx_claims"),
                                    F.col("exact_claims"), 0.05)
                    .alias("claims_within_5pct")))


ORACLE_APPROX_CD = """
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS exact_parts,
       count(DISTINCT l_orderkey) AS exact_claims,
       TRUE AS parts_within_5pct,
       TRUE AS claims_within_5pct
FROM lineitem GROUP BY l_returnflag
"""


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets: rollup over (returnflag, linestatus) with subtotal and
    grand-total rows (NULL-keyed), one Expand+HashAggregate plan."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_lines"),
             money_sum(F.col("l_extendedprice")).alias("sum_price"))
    )


ORACLE_ROLLUP = f"""
SELECT l_returnflag, l_linestatus,
       count(*) AS n_lines,
       {money_sum_sql("l_extendedprice")} AS sum_price
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): segment-filtered customer ⋈
    orders ⋈ lineitem with date windows on both fact sides, revenue per
    order, top 10. The classic composite: both filters push into the
    scans, the two joins shuffle on their keys (AQE picks broadcast for
    whichever side collapses after filtering — at 100 TB both stay
    shuffles), the aggregate is partial/final on the join key it already
    shares, and the top-10 is TakeOrdered. Revenue rides the exact
    integer-micros sum, so the ranking itself is engine-deterministic."""
    cutoff = "1995-06-30"
    c = (t(spark, sf_dir, "customer")
         .where(F.col("c_mktsegment") == "BUILDING").select("c_custkey"))
    o = (t(spark, sf_dir, "orders")
         .where(F.col("o_orderdate") < cutoff)
         .select("o_orderkey", "o_custkey", "o_orderdate",
                 "o_orderpriority"))
    li = (t(spark, sf_dir, "lineitem")
          .where(F.col("l_shipdate") > cutoff)
          .select("l_orderkey", "l_extendedprice", "l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(money_sum(F.col("l_extendedprice")
                       * (F.lit(1.0) - F.col("l_discount")))
             .alias("revenue"))
        .select(F.col("o_orderkey").alias("claim_id"),
                F.col("o_orderdate").alias("claim_date"),
                F.col("o_orderpriority").alias("priority"), "revenue")
        .orderBy(F.col("revenue").desc(), "claim_id")
        .limit(10)
    )


ORACLE_SHIP_PRIORITY = f"""
SELECT o.o_orderkey AS claim_id, o.o_orderdate AS claim_date,
       o.o_orderpriority AS priority,
       {money_sum_sql("l.l_extendedprice * (1.0 - l.l_discount)")} AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1995-06-30'
  AND l.l_shipdate > TIMESTAMP '1995-06-30'
GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, claim_id
LIMIT 10
"""


def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): revenue lost to
    returned lineitems per customer over one quarter, top 20 customers
    with their nation.

    Plan shape at 100 TB: the date filter pushes into the orders scan
    and the returnflag filter into lineitem; orders⋈lineitem shuffles on
    orderkey; the aggregate collapses to one row per customer BEFORE the
    customer join (aggregate-before-join — the same cardinality-crushing
    move as q_crossover), so customer joins a ≤|customers| aggregate,
    not raw lineitems; nation is a broadcast dim; top-20 is TakeOrdered,
    never a global sort materialization. Revenue rides exact integer
    micros so the ranking (tie-broken by custkey) is engine-identical.
    """
    cutoff_lo, cutoff_hi = "1995-10-01", "1996-01-01"
    o = (t(spark, sf_dir, "orders")
         .where((F.col("o_orderdate") >= cutoff_lo)
                & (F.col("o_orderdate") < cutoff_hi))
         .select("o_orderkey", "o_custkey"))
    li = (t(spark, sf_dir, "lineitem")
          .where(F.col("l_returnflag") == "R")
          .select("l_orderkey", "l_extendedprice", "l_discount"))
    c = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(money_sum(F.col("l_extendedprice")
                       * (F.lit(1.0) - F.col("l_discount")))
             .alias("revenue"))
    )
    return (
        rev.join(c, rev.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(F.col("c_custkey"), F.col("c_name"),
                F.col("n_name").alias("nation"),
                duck_round(F.col("c_acctbal"), 2).alias("acctbal"),
                F.col("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


ORACLE_RETURNED_ITEMS = f"""
WITH rev AS (
  SELECT o.o_custkey,
         {money_sum_sql("l.l_extendedprice * (1.0 - l.l_discount)")}
           AS revenue
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R'
    AND o.o_orderdate >= TIMESTAMP '1995-10-01'
    AND o.o_orderdate <  TIMESTAMP '1996-01-01'
  GROUP BY o.o_custkey
)
SELECT c.c_custkey, c.c_name, n.n_name AS nation,
       round(c.c_acctbal, 2) AS acctbal, rev.revenue
FROM rev
JOIN customer c ON rev.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
ORDER BY rev.revenue DESC, c.c_custkey
LIMIT 20
"""


def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): orders not strictly dominated on
    (o_totalprice, o_orderdate) — no other order is BOTH more expensive
    AND more recent. The classic multi-criteria OLAP operator
    (Börzsönyi et al., ICDE'01 "The Skyline Operator").

    Two-phase distributed shape:

    1. **Local skyline per partition** (Arrow-batched pandas kernel —
       sort by price desc, keep rows whose date beats the running max
       over strictly-higher prices). Dominance within a partition
       implies global dominance, so dropping local losers is safe, and
       for anti-correlated-at-worst real data the survivor set is
       O(skyline) per partition — this is the 100 TB workhorse step.
    2. **Exact global pass on the survivors**: per-price max dates,
       one window over *distinct surviving prices* (running max shifted
       one price group), join back — strictly-dominated survivors drop.
       The window input is |skyline|-sized, not |table|-sized, so the
       single-partition sort it implies is bounded by the answer size.

    The skyline SET is unique (independent of partitioning), so the
    result is deterministic even though phase 1 depends on the split.
    """
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", duck_round(F.col("o_totalprice"), 2).alias("price"),
        "o_orderdate")

    def local_skyline(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            # per-price max date, prices descending; best_higher(p) =
            # running max over strictly higher prices (shifted cummax on
            # the compacted per-price frame, merged back to rows).
            groups = (pdf.groupby("price", as_index=False)
                      .agg(dmax=("o_orderdate", "max"))
                      .sort_values("price", ascending=False))
            groups["best_higher"] = groups["dmax"].cummax().shift(1)
            pdf = pdf.merge(groups[["price", "best_higher"]], on="price")
            keep = (pdf["best_higher"].isna()
                    | (pdf["best_higher"] <= pdf["o_orderdate"]))
            out = pdf.loc[keep, ["o_orderkey", "price", "o_orderdate"]]
            if not out.empty:
                yield out

    survivors = o.mapInPandas(local_skyline, o.schema)
    pg = (survivors.groupBy("price")
          .agg(F.max("o_orderdate").alias("dmax")))
    w = Window.orderBy(F.col("price").desc()) \
              .rowsBetween(Window.unboundedPreceding, -1)
    frontier_prices = pg.withColumn("best_higher", F.max("dmax").over(w))
    return (
        survivors.join(frontier_prices.select("price", "best_higher"),
                       "price")
        .where(F.col("best_higher").isNull()
               | (F.col("best_higher") <= F.col("o_orderdate")))
        .select("o_orderkey", "price", "o_orderdate")
    )


ORACLE_SKYLINE = """
WITH o AS (
  SELECT o_orderkey, round(o_totalprice, 2) AS price, o_orderdate
  FROM orders
), pg AS (
  SELECT price, max(o_orderdate) AS dmax FROM o GROUP BY price
), fp AS (
  SELECT price, max(dmax) OVER (ORDER BY price DESC
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_higher
  FROM pg
)
SELECT o.o_orderkey, o.price, o.o_orderdate
FROM o JOIN fp ON o.price = fp.price
WHERE fp.best_higher IS NULL OR fp.best_higher <= o.o_orderdate
"""


def q_lateral_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 ``DataFrame.lateralJoin``: per-nation top-2 customers by
    account balance, written as a correlated LIMIT subquery (the way an
    application developer thinks: "for each nation, its two best
    customers").

    Catalyst decorrelates the lateral LIMIT into a WindowGroupLimit
    (per-group top-k computed in one pass, no per-outer-row re-execution)
    + a hash join — i.e. the optimizer derives the exact plan
    q_topk_group hand-writes. The audit in tests/test_plans.py pins that
    rewrite: no CartesianProduct, no re-executed subquery. Ordering ties
    are broken by c_custkey so the top-2 set is engine-deterministic.
    """
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    c = t(spark, sf_dir, "customer")
    top2 = (
        c.where(F.col("c_nationkey") == F.col("n_nationkey").outer())
        .orderBy(F.col("c_acctbal").desc(), "c_custkey")
        .limit(2)
        .select("c_custkey", "c_name",
                duck_round(F.col("c_acctbal"), 2).alias("acctbal"))
    )
    return n.lateralJoin(top2)


ORACLE_LATERAL_JOIN = """
SELECT n.n_nationkey, n.n_name, r.c_custkey, r.c_name, r.acctbal
FROM nation n
JOIN (
  SELECT c_nationkey, c_custkey, c_name, round(c_acctbal, 2) AS acctbal,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey) AS rn
  FROM customer
) r ON r.c_nationkey = n.n_nationkey AND r.rn <= 2
"""


def q_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local-supplier volume): the 6-table join chain
    region ⋈ nation ⋈ customer ⋈ orders ⋈ lineitem ⋈ supplier with the
    *local-supplier* condition (customer and supplier share a nation) and
    a one-year order window, revenue per nation.

    The composite every warehouse join planner is graded on: the two
    fact tables (orders, lineitem) join on their natural keys as
    shuffles; the three dimension hops (supplier→nation→region) are
    broadcast joins (KB-sized at any scale — region/nation are fixed
    enumerations, supplier is the smallest fact side after AQE sees the
    filter); the c_nationkey = s_nationkey condition rides the supplier
    join as a residual predicate, never a second shuffle. Revenue rides
    exact integer micros so per-nation ordering is engine-deterministic."""
    r = (t(spark, sf_dir, "region")
         .where(F.col("r_name") == "ASIA").select("r_regionkey"))
    n = t(spark, sf_dir, "nation")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = (t(spark, sf_dir, "orders")
         .where((F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1997-01-01"))
         .select("o_orderkey", "o_custkey"))
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey)
              & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(money_sum(F.col("l_extendedprice")
                       * (F.lit(1.0) - F.col("l_discount")))
             .alias("revenue"))
        .orderBy(F.col("revenue").desc(), "nation")
    )


ORACLE_REGION_VOLUME = f"""
SELECT n.n_name AS nation,
       {money_sum_sql("l.l_extendedprice * (1.0 - l.l_discount)")} AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
                AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n.n_name
ORDER BY revenue DESC, nation
"""


def q_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): bilateral trade — revenue
    shipped between two specific nations, both directions, per shipment
    year.

    The join chain is Q5's with TWO nation legs: the supplier's nation
    rides the supplier dimension, the customer's nation rides
    customer → orders.  Both nation dimensions broadcast (25 rows), and
    the bilateral filter is applied to EACH leg before the fact joins —
    customer and supplier shrink to the two qualifying nations first, so
    the lineitem shuffle only carries rows that can still qualify; the
    cross-pair condition (exclude same-nation trades) survives as a
    one-row residual on the joined result.  Year extraction is integer;
    revenue rides exact micros; output is the 2-directions × years grid.
    """
    nations = (t(spark, sf_dir, "nation")
               .where(F.col("n_name").isin("NATION_19", "NATION_20"))
               .select("n_nationkey", "n_name"))
    s = (t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
         .join(F.broadcast(nations),
               F.col("s_nationkey") == nations.n_nationkey)
         .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    c = (t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
         .join(F.broadcast(nations),
               F.col("c_nationkey") == nations.n_nationkey)
         .select("c_custkey", F.col("n_name").alias("cust_nation")))
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = (t(spark, sf_dir, "lineitem")
          .where((F.col("l_shipdate") >= "1996-01-01")
                 & (F.col("l_shipdate") < "1998-01-01"))
          .select("l_orderkey", "l_suppkey",
                  "l_extendedprice", "l_discount", "l_shipdate"))
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(money_sum(F.col("l_extendedprice")
                       * (F.lit(1.0) - F.col("l_discount")))
             .alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


ORACLE_NATION_TRADE = f"""
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       year(l.l_shipdate) AS l_year,
       {money_sum_sql("l.l_extendedprice * (1.0 - l.l_discount)")} AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE n1.n_name IN ('NATION_19', 'NATION_20')
  AND n2.n_name IN ('NATION_19', 'NATION_20')
  AND n1.n_name <> n2.n_name
  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
ORDER BY supp_nation, cust_nation, l_year
"""


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecasting revenue change): one filtered global
    aggregate — revenue that would have been earned without discounts in
    a narrow (year, discount band, small quantity) slice.

    The simplest TPC-H silhouette, declared for what it proves about the
    SCAN: all three conjunctive range predicates (shipdate year, discount
    band, quantity cap) must push into the parquet reader — at 100 TB
    this query is pure I/O bound on row-group pruning, and a plan that
    filters post-scan reads ~50× the bytes. The revenue term
    ``l_extendedprice × l_discount`` rides exact integer micros; the
    output is a single row (global partial/final aggregate, no shuffle
    of data rows — only the 1-row partials)."""
    li = t(spark, sf_dir, "lineitem")
    return (li.where((F.col("l_shipdate") >= "1997-01-01")
                     & (F.col("l_shipdate") < "1998-01-01")
                     & (F.col("l_discount") >= 0.05)
                     & (F.col("l_discount") <= 0.07)
                     & (F.col("l_quantity") < 24))
            .agg(money_sum(F.col("l_extendedprice") * F.col("l_discount"))
                 .alias("revenue"),
                 F.count(F.lit(1)).alias("n_lines")))


ORACLE_FORECAST_REVENUE = f"""
SELECT {money_sum_sql("l_extendedprice * l_discount")} AS revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): the share of MIDDLE
    EAST-customer order revenue supplied by NATION_19 suppliers, per
    order year — a conditional-aggregation RATIO over a 7-table join.

    Both the numerator (NATION_19-supplied revenue) and denominator
    (all revenue in the region slice) accumulate as integer micros in
    the SAME grouped pass — one scan, one aggregate, the share is one
    double division per output row (never a join of two aggregates).
    Customer-side region and supplier-side nation both resolve through
    broadcast dimension hops; the supplier leg keeps ALL nations (the
    denominator needs them) and tags the numerator rows with a flag
    column instead of a filter."""
    r = (t(spark, sf_dir, "region")
         .where(F.col("r_name") == "MIDDLE EAST").select("r_regionkey"))
    n = t(spark, sf_dir, "nation")
    c = (t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
         .join(F.broadcast(n.select("n_nationkey", "n_regionkey")),
               F.col("c_nationkey") == F.col("n_nationkey"))
         .join(F.broadcast(r),
               F.col("n_regionkey") == F.col("r_regionkey"))
         .select("c_custkey"))
    s = (t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
         .join(F.broadcast(n.select("n_nationkey",
                                    F.col("n_name").alias("supp_nation"))),
               F.col("s_nationkey") == F.col("n_nationkey"))
         .select("s_suppkey", "supp_nation"))
    o = (t(spark, sf_dir, "orders")
         .where((F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1998-01-01"))
         .select("o_orderkey", "o_custkey", "o_orderdate"))
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    rev_u = money_micros(F.col("l_extendedprice")
                         * (F.lit(1.0) - F.col("l_discount")))
    is_target = F.col("supp_nation") == "NATION_19"
    agg = (li.join(o, li.l_orderkey == o.o_orderkey)
           .join(c, o.o_custkey == c.c_custkey)
           .join(s, li.l_suppkey == s.s_suppkey)
           .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
           .agg(F.sum(F.when(is_target, rev_u).otherwise(F.lit(0)))
                .alias("num_u"),
                F.sum(rev_u).alias("den_u")))
    return (agg.select(
        "o_year",
        duck_round(F.col("num_u").cast("double")
                   / F.col("den_u").cast("double"), 6).alias("mkt_share"),
        F.round(F.col("den_u").cast("double") / F.lit(1e6), 6)
        .alias("total_revenue"))
        .orderBy("o_year"))


ORACLE_MARKET_SHARE = """
WITH agg AS (
  SELECT year(o.o_orderdate) AS o_year,
         CAST(sum(CASE WHEN n2.n_name = 'NATION_19'
                  THEN CAST(floor(l.l_extendedprice * (1.0 - l.l_discount)
                                  * 1e6 + 0.5) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS num_u,
         CAST(sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount)
                             * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS den_u
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
  JOIN region r ON n1.n_regionkey = r.r_regionkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
  WHERE r.r_name = 'MIDDLE EAST'
    AND o.o_orderdate >= TIMESTAMP '1996-01-01'
    AND o.o_orderdate < TIMESTAMP '1998-01-01'
  GROUP BY year(o.o_orderdate)
)
SELECT o_year,
       floor(CAST(num_u AS DOUBLE) / CAST(den_u AS DOUBLE) * 1e6 + 0.5)
         / 1e6 AS mkt_share,
       round(CAST(den_u AS DOUBLE) / 1e6, 6) AS total_revenue
FROM agg ORDER BY o_year
"""


def q_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): per (supplier nation, order
    year), profit on ECONOMY-type parts — revenue minus an inventory
    cost the fixture expresses as ``p_retailprice × l_quantity`` (no
    partsupp table; the retail price is the cost proxy).

    The profit term mixes a 4dp-exact product (price × (1−disc)) and a
    2dp-exact product (retail × qty), so the difference is exact at 4dp
    and integer-micros summation stays engine-identical even though
    profit can be NEGATIVE (money_micros floors y+0.5 for either sign).
    Part (filtered to one type before the join) and the two dimension
    hops broadcast; the lineitem⋈orders join is the only fact shuffle."""
    p = (t(spark, sf_dir, "part")
         .where(F.col("p_type") == "ECONOMY")
         .select("p_partkey", "p_retailprice"))
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount", "l_quantity")
    profit = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
              - F.col("p_retailprice") * F.col("l_quantity"))
    return (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
            .join(s, li.l_suppkey == s.s_suppkey)
            .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
            .join(o, li.l_orderkey == o.o_orderkey)
            .groupBy(F.col("n_name").alias("nation"),
                     F.year("o_orderdate").cast("long").alias("o_year"))
            .agg(money_sum(profit).alias("profit"),
                 F.count(F.lit(1)).alias("n_lines"))
            .orderBy("nation", F.col("o_year").desc()))


ORACLE_NATION_PROFIT = f"""
SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
       {money_sum_sql("l.l_extendedprice * (1.0 - l.l_discount)"
                      " - p.p_retailprice * l.l_quantity")} AS profit,
       count(*) AS n_lines
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE p.p_type = 'ECONOMY'
GROUP BY n.n_name, year(o.o_orderdate)
ORDER BY nation, o_year DESC
"""


def q_late_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-priority check): among LATE lines
    (shipped >45 days after the order date), how many belong to
    high-priority orders (URGENT/HIGH) vs low-priority ones, per line
    status — the fixture's stand-in for Q12's ship-mode dimension.

    One fact⋈fact equi-join, lateness filtered BEFORE the aggregate,
    and the priority split is two conditional counts inside the same
    grouped pass (Q12's canonical CASE-inside-agg form — never two
    joins or two scans). Output is the |linestatus|-row matrix."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority")
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus", "l_shipdate")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .where(F.col("l_shipdate") > F.col("o_orderdate")
                   + F.expr("INTERVAL 45 DAYS"))
            .groupBy("l_linestatus")
            .agg(F.sum(F.when(hi, 1).otherwise(0)).cast("long")
                 .alias("high_line_count"),
                 F.sum(F.when(~hi, 1).otherwise(0)).cast("long")
                 .alias("low_line_count"))
            .orderBy("l_linestatus"))


ORACLE_LATE_LINES = """
SELECT l.l_linestatus,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate > o.o_orderdate + INTERVAL 45 DAY
GROUP BY l.l_linestatus
ORDER BY l.l_linestatus
"""


def q_pipe_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 ``|>``): the linear FROM → WHERE →
    AGGREGATE form of a filtered pricing summary. Pure syntax — it
    compiles to the identical partial/final HashAggregate plan as the
    nested SELECT, which is exactly the point being demonstrated: the
    money-sum formula below is the same integer-micros expression
    money_sum builds, spelled in SQL."""
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    msum = ("round(CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount)"
            " * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6, 6)")
    return spark.sql(f"""
      FROM lineitem
      |> WHERE l_quantity < 25
      |> AGGREGATE count(*) AS n_lines, {msum} AS revenue
         GROUP BY l_returnflag, l_linestatus
    """)


ORACLE_PIPE_SQL = f"""
SELECT l_returnflag, l_linestatus, count(*) AS n_lines,
       {money_sum_sql("l_extendedprice * (1.0 - l_discount)")} AS revenue
FROM lineitem WHERE l_quantity < 25
GROUP BY l_returnflag, l_linestatus
"""


_SUBQUERY_SQL = """
SELECT c.c_custkey, c.c_name,
       floor(c.c_acctbal * 1e2 + 0.5) / 1e2 AS acctbal,
       (SELECT count(*) FROM orders o
        WHERE o.o_custkey = c.c_custkey) AS n_orders
FROM customer c
WHERE c.c_acctbal > (SELECT CAST(sum(CAST(floor(c_acctbal * 1e6 + 0.5)
                                          AS BIGINT)) AS DOUBLE)
                            / 1e6 / count(*)
                     FROM customer WHERE c_acctbal > 0)
  AND EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderstatus = 'F')
  AND c.c_nationkey IN (SELECT n_nationkey FROM nation
                        WHERE n_regionkey = 1)
ORDER BY c.c_custkey
"""


def q_subquery_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-text subquery surface: one statement carrying all four
    subquery forms — correlated scalar (per-customer order count),
    uncorrelated scalar threshold (average positive balance), correlated
    EXISTS, and uncorrelated IN — handed to ``spark.sql`` verbatim, the
    way a reference user would write it.

    The demonstration is Catalyst's decorrelation: the correlated scalar
    and EXISTS become aggregate/semi joins on the correlation key, the
    IN becomes a semi join on the broadcast nation dim, and the scalar
    threshold becomes a 1-row subquery broadcast — the exact plans the
    programmatic family (q_small_qty … q_idle_customers) declares by
    hand.  The scalar AVG threshold is spelled in integer micros inside
    the SQL itself (portable to both engines verbatim), keeping the
    one float comparison engine-exact under any partitioning.
    """
    for tbl in ("customer", "orders", "nation"):
        t(spark, sf_dir, tbl).createOrReplaceTempView(tbl)
    return spark.sql(_SUBQUERY_SQL)


ORACLE_SUBQUERY_SQL = _SUBQUERY_SQL


_NOT_IN_SQL = """
WITH neg AS (
  SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
)
SELECT 'not_exists' AS variant, count(*) AS n_lines
FROM lineitem l
WHERE NOT EXISTS (SELECT 1 FROM neg WHERE neg.s_suppkey = l.l_suppkey)
UNION ALL
SELECT 'not_in_clean', count(*)
FROM lineitem
WHERE l_suppkey NOT IN (SELECT s_suppkey FROM neg)
UNION ALL
SELECT 'not_in_null_poisoned', count(*)
FROM lineitem
WHERE l_suppkey NOT IN (SELECT nullif(s_suppkey, s_suppkey) FROM neg)
ORDER BY variant
"""


def q_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN three-valued-logic surface: the same exclusion written as
    NOT EXISTS, as NOT IN over a null-free subquery (equal results),
    and as NOT IN over a null-poisoned subquery — which SQL's 3VL
    collapses to zero rows, the classic silent-data-loss trap.

    Spark plans the null-safe variants as a null-aware anti join
    (``BroadcastHashJoin … LeftAnti … true`` — the NAAJ flag), so the
    correct-and-fast path exists for both spellings; the oracle runs
    the identical statement, proving the engines agree on the standard
    semantics including the poisoned case.  Both anti joins build on
    the tiny negative-balance side; lineitem is scanned with only the
    suppkey column.
    """
    for tbl in ("lineitem", "supplier"):
        t(spark, sf_dir, tbl).createOrReplaceTempView(tbl)
    return spark.sql(_NOT_IN_SQL)


ORACLE_NOT_IN = _NOT_IN_SQL


ASSOC_TOP = 20


def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over claims: part pairs
    co-occurring on one order, scored by support / confidence / lift.
    Pair generation is basket-bounded (≤7 lines per order in the
    fixtures) so candidate pairs are O(orders · basket²), never
    O(parts²); since r15 it is one basket collect_set + row-local
    expansion (operators/graph.basket_pairs) instead of the equivalent
    distinct + self-join; the per-part and per-pair supports are
    partial-aggregated shuffles on compact keys. Ratios go
    through duck_round so inexact k/n quotients rank identically in both
    engines; top-20 by lift with full tiebreaks."""
    from hippo_claim_crossover_spark.plans.base import duck_round

    from hippo_claim_crossover_spark.operators.graph import basket_pairs

    li = (t(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_partkey").distinct())
    n_orders = (t(spark, sf_dir, "orders")
                .select(F.count(F.lit(1)).alias("n_orders")))
    part_sup = (li.groupBy("l_partkey")
                .agg(F.count(F.lit(1)).alias("sup")))
    # r15: pair support via one basket collect_set + row-local expansion
    # (operators/graph.basket_pairs) — row-identical to the previous
    # distinct + self-join, one fewer exchange and no join/sorts.
    pair_sup = basket_pairs(
        t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey"),
        "l_orderkey", "l_partkey",
        out_a="part_a", out_b="part_b", sup_col="sup_ab")
    sa = part_sup.select(F.col("l_partkey").alias("part_a"),
                         F.col("sup").alias("sup_a"))
    sb = part_sup.select(F.col("l_partkey").alias("part_b"),
                         F.col("sup").alias("sup_b"))
    out = (
        pair_sup.join(sa, "part_a").join(sb, "part_b").join(n_orders)
        .select(
            "part_a", "part_b", "sup_ab",
            duck_round(F.col("sup_ab") / F.col("sup_a"), 4)
            .alias("confidence"),
            duck_round(F.col("sup_ab") * F.col("n_orders")
                       / (F.col("sup_a") * F.col("sup_b")), 4)
            .alias("lift"))
    )
    return out.orderBy(F.col("lift").desc(), F.col("sup_ab").desc(),
                       "part_a", "part_b").limit(ASSOC_TOP)


ORACLE_ASSOC_RULES = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT count(*) AS n_orders FROM orders),
ps AS (SELECT l_partkey, count(*) AS sup FROM li GROUP BY l_partkey),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS sup_ab
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
SELECT part_a, part_b, sup_ab,
       floor((CAST(sup_ab AS DOUBLE) / sa.sup) * 1e4 + 0.5) / 1e4
         AS confidence,
       floor((CAST(sup_ab AS DOUBLE) * n.n_orders / (sa.sup * sb.sup))
             * 1e4 + 0.5) / 1e4 AS lift
FROM pairs
JOIN ps sa ON pairs.part_a = sa.l_partkey
JOIN ps sb ON pairs.part_b = sb.l_partkey, n
ORDER BY lift DESC, sup_ab DESC, part_a, part_b
LIMIT {ASSOC_TOP}
"""


def q_histogram_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram (deciles) of order totals — the
    data-dependent complement of q_histogram's fixed-width bins, computed
    by DISTRIBUTED exact ntile (operators/ranking.py): a naive
    ``ntile(10) OVER (ORDER BY …)`` exchanges the whole table to ONE
    partition, the hidden scale cliff of global-rank queries. Here the
    rank comes from a TeraSort-shaped range shuffle + per-partition
    window + broadcast prefix offsets, and the bucket from the
    closed-form ntile fill rule — bit-identical to the window ntile for
    the unique (total, orderkey) key, so the oracle stays the plain
    window formulation. Plan-audited: no single-partition Exchange of
    the big side (tests/test_plans.py)."""
    from hippo_claim_crossover_spark.operators.ranking import (
        distributed_ntile,
    )

    o = t(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    return (
        distributed_ntile(o, 10, ["o_totalprice", "o_orderkey"],
                          out_col="decile")
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("n_claims"),
             F.round(F.min("o_totalprice"), 2).alias("lo"),
             F.round(F.max("o_totalprice"), 2).alias("hi"))
    )


ORACLE_HISTOGRAM_EQ = """
SELECT decile, count(*) AS n_claims,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi
FROM (SELECT *, ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
      FROM orders)
GROUP BY decile
"""


def q_histogram_eq_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch sibling of q_histogram_eq — the 100 TB swap the exact
    form's docstring promises: decile BOUNDARIES from one
    ``approx_percentile`` pass (KLL-style bounded-memory sketch,
    accuracy 10000 ⇒ rank error ≤ n/10⁴), broadcast as a 9-element
    array, bucket id = 1 + #boundaries below the value (a 9-step
    JVM-side fold, no shuffle), then one partial/final count/min/max
    aggregate. Two scans + one agg shuffle total, versus the exact
    form's range shuffle + rank join — and no stage whose state grows
    with n.

    Deterministic-verdict output: sketch-derived bucket boundaries and
    counts are engine-specific, so each decile emits the EXACT total row
    count plus a boolean asserting near-equi-depth — |n_decile − n/10| ≤
    2·n·ε + 2 with ε = 1/accuracy = 1e-4 (each of a bucket's two
    boundaries carries ≤ n·ε rank error; +2 absorbs ties/interpolation).
    The oracle emits the same totals and constant TRUE over deciles
    1..10, so a degenerate sketch (skewed bucket, or a missing/extra
    decile via the row count) fails the driver's hash."""
    o = t(spark, sf_dir, "orders")
    bounds = o.agg(
        F.percentile_approx("o_totalprice",
                            [i / 10.0 for i in range(1, 10)], 10000)
        .alias("_bs"),
        F.count(F.lit(1)).alias("n_total"))
    decile = F.aggregate(
        F.col("_bs"), F.lit(1),
        lambda acc, b: acc + (F.col("o_totalprice") > b).cast("int"))
    return (
        o.join(F.broadcast(bounds))
        .select(decile.alias("decile"), "o_totalprice", "n_total")
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("_n_claims"),
             F.max("n_total").alias("n_total"))
        .select("decile", "n_total",
                (F.abs(F.col("_n_claims") - F.col("n_total") / 10.0)
                 <= F.col("n_total") * 2e-4 + 2).alias("near_equidepth"))
    )


ORACLE_HISTOGRAM_EQ_APPROX = """
SELECT CAST(d AS INTEGER) AS decile, n_total, TRUE AS near_equidepth
FROM range(1, 11) t(d)
CROSS JOIN (SELECT count(*) AS n_total FROM orders)
"""


_HIST_WIDTH = 25_000


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals — the numeric-profiling
    bread-and-butter (one partial/final aggregate, bin id from exact
    FLOOR division). Bin edges are exact doubles (2dp totals, power-of-
    ten-ish width), so the bin id is bit-identical across engines; a
    data-dependent equi-depth variant would swap in approx_percentile
    edges at 100 TB."""
    o = t(spark, sf_dir, "orders")
    b = F.floor(F.col("o_totalprice") / F.lit(float(_HIST_WIDTH)))
    return (
        o.groupBy(b.cast("long").alias("bin"))
        .agg(F.count(F.lit(1)).alias("n_claims"),
             money_sum(F.col("o_totalprice")).alias("sum_total"))
        .select((F.col("bin") * _HIST_WIDTH).cast("double").alias("bin_lo"),
                ((F.col("bin") + 1) * _HIST_WIDTH).cast("double")
                .alias("bin_hi"),
                "n_claims", "sum_total")
    )


ORACLE_HISTOGRAM = f"""
SELECT CAST(bin * {_HIST_WIDTH} AS DOUBLE) AS bin_lo,
       CAST((bin + 1) * {_HIST_WIDTH} AS DOUBLE) AS bin_hi,
       count(*) AS n_claims,
       {money_sum_sql("o_totalprice")} AS sum_total
FROM (SELECT *, CAST(floor(o_totalprice / {_HIST_WIDTH}.0) AS BIGINT) AS bin
      FROM orders)
GROUP BY bin
"""


def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard data-quality profile of the documents corpus — the
    ANALYZE-style pass a training pipeline runs per ingest batch: row
    count, distinct languages, char-length spread, and a consistency
    assertion (stored n_chars vs recomputed length(text)). ONE
    partial/final aggregate over the corpus — never one job per metric."""
    from hippo_claim_crossover_spark.plans.base import duck_round

    d = t(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.countDistinct("lang").alias("n_langs"),
             F.min("n_chars").alias("min_chars"),
             F.max("n_chars").alias("max_chars"),
             duck_round(F.sum("n_chars").cast("double")
                        / F.count(F.lit(1)), 2).alias("avg_chars"),
             F.sum(F.when(F.col("n_chars") != F.length("text"), 1)
                   .otherwise(0)).alias("n_len_mismatch"))
    )


ORACLE_PROFILE = """
SELECT source, count(*) AS n_docs,
       count(DISTINCT lang) AS n_langs,
       min(n_chars) AS min_chars,
       max(n_chars) AS max_chars,
       floor((CAST(sum(n_chars) AS DOUBLE) / count(*)) * 1e2 + 0.5) / 1e2
         AS avg_chars,
       CAST(sum(CASE WHEN n_chars != length(text) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_len_mismatch
FROM documents GROUP BY source
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS — the general form rollup/cube specialize:
    exactly the three sets (flag,status), (flag), (status) — note (status)
    alone is NOT in the rollup lattice, and the empty grand-total set is
    deliberately absent. Still ONE Expand + partial/final HashAggregate
    (each input row is replicated once per set before the shuffle), so the
    cost at 100 TB is |sets| × the single-grouping aggregate, never extra
    passes over the table. Fixture keys are non-null, so the NULL-keyed
    subtotal rows are unambiguous without grouping_id()."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"],
             ["l_linestatus"]],
            "l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_lines"),
             money_sum(F.col("l_extendedprice")).alias("sum_price"),
             money_avg(F.col("l_discount")).alias("avg_disc"))
    )


ORACLE_GROUPING_SETS = f"""
SELECT l_returnflag, l_linestatus,
       count(*) AS n_lines,
       {money_sum_sql("l_extendedprice")} AS sum_price,
       {money_avg_sql("l_discount")} AS avg_disc
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag),
                        (l_linestatus))
"""


def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k (orderBy+limit → TakeOrderedAndProject: per-partition
    heaps, no full sort). Unique-key tiebreak keeps selection deterministic."""
    return (
        t(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
        .select(F.col("o_orderkey").alias("claim_id"),
                F.round(F.col("o_totalprice"), 2).alias("total"))
    )


ORACLE_TOPK = """
SELECT o_orderkey AS claim_id, round(o_totalprice, 2) AS total
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
"""


def q_topk_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — window rank + filter (the scalable
    per-group top-k; no per-group sort materialization beyond the one
    partitioned shuffle)."""
    from pyspark.sql.window import Window

    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(F.col("o_custkey").alias("subscriber_id"),
                F.col("o_orderkey").alias("claim_id"),
                F.round(F.col("o_totalprice"), 2).alias("total"),
                F.col("rk").alias("rank_in_customer"))
    )


ORACLE_TOPK_GROUP = """
SELECT o_custkey AS subscriber_id, o_orderkey AS claim_id,
       round(o_totalprice, 2) AS total, rk AS rank_in_customer
FROM (
  SELECT *, row_number() OVER (PARTITION BY o_custkey
             ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders
) WHERE rk <= 3
"""


def q_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """union / intersect / except, tagged per branch."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    building = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    urgent = (o.where(F.col("o_orderpriority") == "1-URGENT")
              .select(F.col("o_custkey").alias("c_custkey")).distinct())
    union = building.union(urgent).distinct().select(
        F.col("c_custkey").alias("subscriber_id"), F.lit("union").alias("op"))
    inter = building.intersect(urgent).select(
        F.col("c_custkey").alias("subscriber_id"),
        F.lit("intersect").alias("op"))
    exc = building.exceptAll(urgent).select(
        F.col("c_custkey").alias("subscriber_id"), F.lit("except").alias("op"))
    return union.unionByName(inter).unionByName(exc)


ORACLE_SETOPS = """
WITH building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
     urgent AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders
                WHERE o_orderpriority = '1-URGENT')
SELECT c_custkey AS subscriber_id, 'union' AS op
FROM (SELECT c_custkey FROM building UNION SELECT c_custkey FROM urgent)
UNION ALL
SELECT c_custkey AS subscriber_id, 'intersect' AS op
FROM (SELECT c_custkey FROM building INTERSECT SELECT c_custkey FROM urgent)
UNION ALL
SELECT c_custkey AS subscriber_id, 'except' AS op
FROM (SELECT c_custkey FROM building EXCEPT ALL SELECT c_custkey FROM urgent)
"""


def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/theta join: equi key + interval predicate (lines shipped >30
    days after the order date). The equi conjunct keeps it a hash join with
    the range as a post-filter — the scalable shape for banded joins."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    return (
        li.join(o, (li.l_orderkey == o.o_orderkey)
                & (li.l_shipdate > F.col("o_orderdate")
                   + F.expr("INTERVAL 30 DAYS")))
        .select(F.col("l_orderkey").alias("claim_id"),
                F.col("l_linenumber").alias("service_line"),
                F.col("l_shipdate").alias("ship_ts"),
                F.col("o_orderdate").alias("order_ts"))
    )


ORACLE_JOIN_RANGE = """
SELECT l.l_orderkey AS claim_id, l.l_linenumber AS service_line,
       l.l_shipdate AS ship_ts, o.o_orderdate AS order_ts
FROM lineitem l JOIN orders o
  ON l.l_orderkey = o.o_orderkey
 AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
"""


# One bucketed-table write per (session, sf_dir); the join below then runs
# shuffle-free forever after — the write is the one-time cost the 100 TB
# story amortizes. The catalog is per application, and the fixture dir is
# application-scoped, so concurrent harness runs never share tables or paths.
_N_BUCKETS = 8


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    import os
    import re

    from hippo_claim_crossover_spark.operators.bucketing import write_bucketed
    from hippo_claim_crossover_spark.session import fixture_dir

    tag = re.sub(r"[^0-9a-zA-Z]", "_", os.path.basename(sf_dir.rstrip("/")))
    li_tbl, o_tbl = f"lineitem_b_{tag}", f"orders_b_{tag}"

    def write(base: str) -> None:
        write_bucketed(t(spark, sf_dir, "lineitem"), li_tbl,
                       "l_orderkey", _N_BUCKETS, sort_by="l_orderkey",
                       path=f"{base}/lineitem")
        write_bucketed(t(spark, sf_dir, "orders"), o_tbl,
                       "o_orderkey", _N_BUCKETS, sort_by="o_orderkey",
                       path=f"{base}/orders")

    fixture_dir(spark, "bucketed", sf_dir, write)
    return li_tbl, o_tbl


def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-Exchange fact-fact join: lineitem⋈orders both stored bucketed
    (+sorted) on the order key, so the sort-merge join reads co-located
    buckets with NO shuffle on either side, and the same-key groupBy on
    top reuses the bucket partitioning too — the whole plan has no
    Exchange (asserted in tests/test_plans.py). The merge hint keeps the
    planner from broadcasting the small fixture side, which would hide
    the property being demonstrated."""
    li_tbl, o_tbl = _bucketed_tables(spark, sf_dir)
    li = spark.table(li_tbl).hint("merge")
    o = spark.table(o_tbl)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderstatus")
        .agg(money_sum(F.col("l_extendedprice")
                       * (F.lit(1.0) - F.col("l_discount"))).alias("revenue"),
             F.count(F.lit(1)).alias("n_lines"))
        .select(F.col("o_orderkey").alias("claim_id"),
                F.col("o_orderstatus").alias("claim_status"),
                "revenue", "n_lines")
    )


ORACLE_JOIN_BUCKETED = f"""
SELECT o.o_orderkey AS claim_id, o.o_orderstatus AS claim_status,
       {money_sum_sql("l.l_extendedprice * (1.0 - l.l_discount)")} AS revenue,
       count(*) AS n_lines
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderkey, o.o_orderstatus
"""


# Tiny event-type dimension for the salted-join demo. The fixture
# events table has 5 event types (each ~20% of the table) — the canonical
# pathological join key: a plain shuffle join lands each type on ONE
# reducer regardless of cluster size. Declared as a VALUES relation (not
# createDataFrame) so it plans as a LocalRelation — no Python-side
# parallelize, no ExistingRDD scan node (measured ~1.6s off the cold run).
_EVENT_DIM_SQL = """SELECT * FROM (VALUES
  ('click','engagement'), ('view','engagement'), ('purchase','conversion'),
  ('signup','conversion'), ('error','ops')) AS t(event_type, category)"""


def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe join: events (5 hot event_type keys) ⋈ type dim through
    :func:`operators.joins.salted_join` — the big side salts its key into
    8 sub-keys, the dim is exploded per salt value, so every hot key
    spreads over 8 reducers instead of serializing on one. The
    shuffle_hash hint keeps the tiny fixture dim off the broadcast path
    so the salted shuffle (the thing being demonstrated) actually runs;
    at 100 TB the dim side of a genuinely skewed join is big enough that
    no hint is needed."""
    from hippo_claim_crossover_spark.operators.joins import salted_join

    e = t(spark, sf_dir, "events")
    dim = spark.sql(_EVENT_DIM_SQL).hint("shuffle_hash")
    joined = salted_join(e, dim, on="event_type", salt=8, how="inner")
    return (
        joined.groupBy("category")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.count_distinct("user_id").alias("n_users"),
             money_sum(F.col("value")).alias("sum_value"))
    )


ORACLE_JOIN_SALTED = f"""
WITH dim(event_type, category) AS (VALUES
  ('click','engagement'), ('view','engagement'),
  ('purchase','conversion'), ('signup','conversion'), ('error','ops'))
SELECT category, count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       {money_sum_sql("value")} AS sum_value
FROM events e JOIN dim USING (event_type)
GROUP BY category
"""


def q_incr_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregation via re-aggregable partials — the
    materialized-view-maintenance pattern every 100 TB rollup pipeline
    runs: per-batch partial aggregates (here: two order batches split at
    a date cutoff) merged into the exact full-table result WITHOUT
    re-scanning history. count/sum/min/max merge by sum/sum/min/max;
    the average is derived from the merged sums (never an avg-of-avgs —
    the classic wrong merge); money rides exact integer micros so the
    merged total is bit-identical to a direct aggregation.

    The ORACLE is the direct one-pass aggregation over the whole table —
    the hash match IS the proof that partial-merge ≡ direct, which is
    the property incremental maintenance relies on."""
    o = t(spark, sf_dir, "orders")
    cutoff = "1997-01-01"

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(money_micros(F.col("o_totalprice"))).alias("smic"),
            F.min("o_orderdate").alias("mn"),
            F.max("o_orderdate").alias("mx"))

    old = partial(o.where(F.col("o_orderdate") < cutoff))
    new = partial(o.where(F.col("o_orderdate") >= cutoff))
    merged = (old.unionByName(new)
              .groupBy("o_custkey")
              .agg(F.sum("n").alias("n"), F.sum("smic").alias("smic"),
                   F.min("mn").alias("mn"), F.max("mx").alias("mx")))
    total = F.round(F.col("smic").cast("double") / F.lit(1e6), 6)
    return merged.select(
        F.col("o_custkey").alias("subscriber_id"),
        F.col("n").alias("n_orders"),
        total.alias("total_spend"),
        duck_round(total / F.col("n"), 4).alias("avg_spend"),
        F.col("mn").alias("first_order"),
        F.col("mx").alias("last_order"))


ORACLE_INCR_AGG = f"""
SELECT o_custkey AS subscriber_id,
       count(*) AS n_orders,
       {money_sum_sql("o_totalprice")} AS total_spend,
       floor(({money_sum_sql("o_totalprice")} / count(*)) * 1e4 + 0.5) / 1e4
         AS avg_spend,
       min(o_orderdate) AS first_order,
       max(o_orderdate) AS last_order
FROM orders GROUP BY o_custkey
"""


def q_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit (dbt-test style): one violations row per
    declared constraint — null keys, value domains, duplicate primary
    keys, referential integrity both directions, and a header↔lines
    money reconciliation (the claim-total consistency check the
    reference implicitly trusts when it denormalizes header amounts onto
    service lines, `lib/hippo_claim_crossover.rb:104-164`).

    Scale shape: row-local checks are FUSED into one partial/final
    aggregate per table (one scan each, conditional sums — never one
    job per check) and unpivoted with stack; set-level checks are key
    anti-joins / groupBy on compact keys; the reconciliation rides
    money_sum's exact integer micros so the pass/fail cut is
    bit-identical across engines. The union of tiny one-row aggregates
    costs nothing; every branch prunes to the columns it checks."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")

    o_row = (o.agg(
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("c1"),
        F.sum((~F.col("o_orderstatus").isin("O", "F", "P"))
              .cast("long")).alias("c2"))
        .select(F.expr(
            "stack(2, 'orders_null_custkey', c1, "
            "'orders_status_domain', c2) AS (check_name, n_violations)")))
    li_row = (li.agg(
        F.sum((F.col("l_quantity") <= 0).cast("long")).alias("c1"),
        F.sum(((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1))
              .cast("long")).alias("c2"))
        .select(F.expr(
            "stack(2, 'lineitem_qty_domain', c1, "
            "'lineitem_discount_domain', c2) AS (check_name, n_violations)")))
    dup = (o.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("c"))
           .where(F.col("c") > 1)
           .agg(F.coalesce(F.sum(F.col("c") - 1), F.lit(0)).cast("long")
                .alias("n_violations"))
           .select(F.lit("orders_dup_key").alias("check_name"),
                   "n_violations"))
    orphan = (li.join(o.select("o_orderkey"),
                      li["l_orderkey"] == o["o_orderkey"], "left_anti")
              .agg(F.count(F.lit(1)).alias("n_violations"))
              .select(F.lit("lineitem_orphan").alias("check_name"),
                      "n_violations"))
    childless = (o.join(li.select("l_orderkey"),
                        o["o_orderkey"] == li["l_orderkey"], "left_anti")
                 .agg(F.count(F.lit(1)).alias("n_violations"))
                 .select(F.lit("orders_childless").alias("check_name"),
                         "n_violations"))
    lsum = (li.groupBy("l_orderkey")
            .agg(money_sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))
                           * (1 + F.col("l_tax"))).alias("s")))
    reconcile = (o.join(lsum, o["o_orderkey"] == lsum["l_orderkey"])
                 .agg(F.sum((F.abs(F.col("o_totalprice") - F.col("s"))
                             > 0.01).cast("long")).alias("n_violations"))
                 .select(F.lit("orders_total_reconcile")
                         .alias("check_name"), "n_violations"))
    return (o_row.unionByName(li_row).unionByName(dup)
            .unionByName(orphan).unionByName(childless)
            .unionByName(reconcile))


ORACLE_DQ_AUDIT = f"""
SELECT 'orders_null_custkey' AS check_name,
       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violations FROM orders
UNION ALL
SELECT 'orders_status_domain',
       CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                THEN 1 ELSE 0 END) AS BIGINT) FROM orders
UNION ALL
SELECT 'lineitem_qty_domain',
       CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT)
  FROM lineitem
UNION ALL
SELECT 'lineitem_discount_domain',
       CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1
                THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
UNION ALL
SELECT 'orders_dup_key', CAST(coalesce(sum(c - 1), 0) AS BIGINT)
  FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey
        HAVING count(*) > 1)
UNION ALL
SELECT 'lineitem_orphan', CAST(count(*) AS BIGINT)
  FROM lineitem l ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'orders_childless', CAST(count(*) AS BIGINT)
  FROM orders o ANTI JOIN lineitem l ON o.o_orderkey = l.l_orderkey
UNION ALL
SELECT 'orders_total_reconcile', CAST(sum(CASE WHEN
         abs(o.o_totalprice - l.s) > 0.01 THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders o JOIN (
    SELECT l_orderkey,
           {money_sum_sql("l_extendedprice * (1 - l_discount) * (1 + l_tax)")}
             AS s
    FROM lineitem GROUP BY l_orderkey) l
  ON o.o_orderkey = l.l_orderkey
"""


def q_join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned semi join: subscribers having any claim before the
    cutoff, with the claim-key Bloom filter broadcast onto the
    subscriber scan so non-matching rows are dropped BEFORE the shuffle
    (operators/bloom.py). The final exact left-semi join kills false
    positives, so the result is identical to a plain semi join — the
    filter only reduces the probe-side exchange (the dominant cost of a
    selective semi join at 100 TB; here ~31% of subscribers survive, so
    the filter cuts the shuffled probe volume ~3×, and the 2^17-bit
    filter itself is a 16 KiB broadcast). Generalizes the reference's
    existence checks (`lib/hippo_claim_crossover.rb:109`) to the
    shuffle-avoiding formulation."""
    from hippo_claim_crossover_spark.operators.bloom import bloom_semi_join

    o = (t(spark, sf_dir, "orders")
         .where(F.col("o_orderdate") < "1995-04-01")
         .select("o_custkey"))
    c = t(spark, sf_dir, "customer")
    return (bloom_semi_join(c, "c_custkey", o, "o_custkey")
            .select(F.col("c_custkey").alias("subscriber_id"),
                    F.col("c_name").alias("subscriber_name"),
                    F.round(F.col("c_acctbal"), 2).alias("balance")))


ORACLE_JOIN_BLOOM = """
SELECT c_custkey AS subscriber_id, c_name AS subscriber_name,
       round(c_acctbal, 2) AS balance
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders
                    WHERE o_orderdate < TIMESTAMP '1995-04-01')
"""


def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join as year-over-year churn analysis: customers
    active in 1996 vs 1997, classified retained / churned / acquired,
    with each cohort's order counts and revenue.

    The outer-join surface the reconcile op uses internally, declared as
    its own operator: both inputs are aggregate-before-join (one row per
    customer-year, so the full-outer shuffle carries ≤|customers| rows
    per side, never raw orders), keys are coalesced across sides — the
    NULL-handling discipline ADVICE flagged on q_reconcile, applied from
    the start — and the classification CASE runs on presence, not
    un-coalesced values.  Date filters push into the orders scan.
    """
    o = t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice")

    # Revenue stays in exact integer micros until the FINAL aggregate —
    # summing per-customer rounded doubles would be accumulation-order
    # sensitive across engines.
    def year_agg(y: int) -> DataFrame:
        return (o.where((F.col("o_orderdate") >= f"{y}-01-01")
                        & (F.col("o_orderdate") < f"{y + 1}-01-01"))
                .groupBy("o_custkey")
                .agg(F.count(F.lit(1)).alias(f"n_{y}"),
                     F.sum(money_micros(F.col("o_totalprice")))
                     .alias(f"rev_{y}")))

    a, b = year_agg(1996), year_agg(1997)
    j = a.withColumnRenamed("o_custkey", "k_a").join(
        b.withColumnRenamed("o_custkey", "k_b"),
        F.col("k_a") == F.col("k_b"), "full_outer")
    status = (F.when(F.col("k_a").isNotNull() & F.col("k_b").isNotNull(),
                     "retained")
              .when(F.col("k_a").isNotNull(), "churned")
              .otherwise("acquired"))
    return (j.select(status.alias("status"),
                     F.coalesce("n_1996", F.lit(0)).alias("n96"),
                     F.coalesce("rev_1996", F.lit(0)).alias("r96_u"),
                     F.coalesce("n_1997", F.lit(0)).alias("n97"),
                     F.coalesce("rev_1997", F.lit(0)).alias("r97_u"))
            .groupBy("status")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.sum("n96").alias("orders_1996"),
                 (F.sum("r96_u").cast("double") / F.lit(1e6))
                 .alias("rev_1996"),
                 F.sum("n97").alias("orders_1997"),
                 (F.sum("r97_u").cast("double") / F.lit(1e6))
                 .alias("rev_1997"))
            .orderBy("status"))


ORACLE_JOIN_FULL = """
WITH a AS (
  SELECT o_custkey, count(*) AS n_1996,
         sum(CAST(floor(o_totalprice * 1e6 + 0.5) AS BIGINT)) AS rev_1996
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate <  TIMESTAMP '1997-01-01'
  GROUP BY o_custkey
), b AS (
  SELECT o_custkey, count(*) AS n_1997,
         sum(CAST(floor(o_totalprice * 1e6 + 0.5) AS BIGINT)) AS rev_1997
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    AND o_orderdate <  TIMESTAMP '1998-01-01'
  GROUP BY o_custkey
), j AS (
  SELECT CASE WHEN a.o_custkey IS NOT NULL AND b.o_custkey IS NOT NULL
              THEN 'retained'
              WHEN a.o_custkey IS NOT NULL THEN 'churned'
              ELSE 'acquired' END AS status,
         coalesce(n_1996, 0) AS n96, coalesce(rev_1996, 0) AS r96_u,
         coalesce(n_1997, 0) AS n97, coalesce(rev_1997, 0) AS r97_u
  FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
)
SELECT status, count(*) AS n_customers,
       CAST(sum(n96) AS BIGINT) AS orders_1996,
       CAST(sum(r96_u) AS DOUBLE) / 1e6 AS rev_1996,
       CAST(sum(n97) AS BIGINT) AS orders_1997,
       CAST(sum(r97_u) AS DOUBLE) / 1e6 AS rev_1997
FROM j GROUP BY status ORDER BY status
"""


def q_sql_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL SCRIPTING (BEGIN/DECLARE/WHILE — procedural control
    flow running INSIDE the SQL layer): find the smallest integer
    discount percentage whose cumulative revenue reaches half the total
    by iterating thresholds in a WHILE loop — the driver-side Python
    loop this surface replaces. The loop is bounded by the discount
    domain (TPC-H discounts are 0.00–0.10 → ≤ 11 iterations), each
    iteration one predicate-pushdown aggregate scan.

    Exactness: revenue is summed as BIGINT micros and the stop rule is
    the integer cross-multiplication ``2·cum ≥ total``; thresholds are
    ``floor(l_discount·100 + 0.5)`` in both engines. The loop's answer
    provably equals the declarative "min existing threshold whose
    running total crosses half" (the oracle): cum only changes at
    existing thresholds, so the first integer where the condition
    holds is always an existing one. Degenerate input is guarded the
    same way on both sides: ``total`` is coalesced to 0 (a NULL total
    on an empty table would skip the loop silently) and the final
    SELECT emits only ``WHERE total > 0`` — so an empty lineitem
    yields ZERO rows from script and oracle alike, not a sentinel
    (thr=-1, total=NULL) row only one engine produces."""
    ev = t(spark, sf_dir, "lineitem").select("l_discount", "l_extendedprice")
    ev.createOrReplaceTempView("script_li")
    # SQL scripting is on by default in Spark 4.1
    out = spark.sql("""
    BEGIN
      DECLARE total BIGINT DEFAULT 0;
      DECLARE cum BIGINT DEFAULT 0;
      DECLARE thr INT DEFAULT -1;
      SET total = (
        SELECT coalesce(sum(
          CAST(floor(l_extendedprice * 1e6 + 0.5) AS BIGINT)), 0)
        FROM script_li);
      WHILE total > 0 AND 2 * cum < total DO
        SET thr = thr + 1;
        SET cum = (
          SELECT coalesce(sum(
            CAST(floor(l_extendedprice * 1e6 + 0.5) AS BIGINT)), 0)
          FROM script_li
          WHERE CAST(floor(l_discount * 100 + 0.5) AS INT) <= thr);
      END WHILE;
      SELECT thr AS thr_pct, cum AS cum_micros, total AS total_micros
      WHERE total > 0;
    END
    """)
    return out.select(
        F.col("thr_pct").cast("int"),
        F.col("cum_micros").cast("long"),
        F.col("total_micros").cast("long"))


ORACLE_SQL_SCRIPT = """
WITH per AS (
  SELECT CAST(floor(l_discount * 100 + 0.5) AS INTEGER) AS thr,
         CAST(sum(CAST(floor(l_extendedprice * 1e6 + 0.5) AS BIGINT))
              AS BIGINT) AS rev
  FROM lineitem GROUP BY 1
), tot AS (
  SELECT CAST(sum(rev) AS BIGINT) AS total FROM per
), cum AS (
  SELECT thr,
         CAST(sum(rev) OVER (ORDER BY thr
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
         total
  FROM per CROSS JOIN tot
)
SELECT thr AS thr_pct, cum AS cum_micros, total AS total_micros
FROM cum WHERE 2 * cum >= total ORDER BY thr LIMIT 1
"""


def q_observe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline data-quality counters via ``df.observe()`` — Spark's
    Observation API, the production way to monitor a pipeline at scale:
    the metrics are AccumulatorV2-backed aggregates that accumulate
    DURING the one real action, so ingest/filtered row counts, money
    totals and anomaly tallies cost zero extra scans (contrast a
    separate ``.count()`` per stage, which re-runs the pipeline once
    per metric — the classic 100 TB anti-pattern this query exists to
    replace).

    Two observation points bracket a filter stage; the pipeline itself
    materializes through the noop sink. Every observed metric is an
    exact BIGINT (micros-quantized money, conditional counts), and the
    oracle recomputes the identical aggregates with plain SQL over the
    same table — so the driver hash proves the observed metrics equal
    the ground truth, not just that something was recorded."""
    from pyspark.sql import Observation

    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice", "l_discount",
        "l_returnflag")
    obs_in, obs_out = Observation(), Observation()
    staged = li.observe(
        obs_in,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(money_micros(F.col("l_extendedprice"))).alias("price_micros"),
        F.sum(F.when(F.col("l_discount") > 0.05, 1).otherwise(0))
        .cast("long").alias("n_discounted"))
    filtered = staged.where(F.col("l_returnflag") == "R").observe(
        obs_out,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(money_micros(F.col("l_extendedprice"))).alias("price_micros"),
        F.sum(F.when(F.col("l_discount") > 0.05, 1).otherwise(0))
        .cast("long").alias("n_discounted"))
    filtered.write.format("noop").mode("overwrite").save()
    mi, mo = obs_in.get, obs_out.get
    from hippo_claim_crossover_spark.io import local_frame
    return local_frame(
        spark,
        [("ingest", mi["n_rows"], mi["price_micros"], mi["n_discounted"]),
         ("filtered", mo["n_rows"], mo["price_micros"],
          mo["n_discounted"])],
        "stage string, n_rows long, price_micros long, n_discounted long"
    ).orderBy("stage")


ORACLE_OBSERVE = """
SELECT * FROM (
  SELECT 'ingest' AS stage, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CAST(floor(l_extendedprice * 1e6 + 0.5) AS BIGINT))
              AS BIGINT) AS price_micros,
         CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_discounted
  FROM lineitem
  UNION ALL
  SELECT 'filtered', CAST(count(*) AS BIGINT),
         CAST(sum(CAST(floor(l_extendedprice * 1e6 + 0.5) AS BIGINT))
              AS BIGINT),
         CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END)
              AS BIGINT)
  FROM lineitem WHERE l_returnflag = 'R'
) ORDER BY stage
"""


SPECS: dict[str, QuerySpec] = {
    "q_join_full": QuerySpec(
        q_join_full, ORACLE_JOIN_FULL,
        "FULL OUTER year-over-year churn matrix (aggregate-before-join, "
        "coalesced keys)"),
    "q_agg_multi": QuerySpec(q_agg_multi, ORACLE_AGG_MULTI, "TPC-H Q1 shape"),
    "q_distinct": QuerySpec(q_distinct, ORACLE_DISTINCT, "count-distinct"),
    "q_approx_cd": QuerySpec(
        q_approx_cd, ORACLE_APPROX_CD,
        "HLL++ approx distinct (deterministic verdict: exact counts + "
        "within-5%-band booleans)"),
    "q_rollup": QuerySpec(q_rollup, ORACLE_ROLLUP, "rollup grouping sets"),
    "q_grouping_sets": QuerySpec(q_grouping_sets, ORACLE_GROUPING_SETS,
                                 "arbitrary GROUPING SETS (non-lattice)"),
    "q_histogram": QuerySpec(q_histogram, ORACLE_HISTOGRAM,
                             "fixed-width numeric histogram"),
    "q_ship_priority": QuerySpec(q_ship_priority, ORACLE_SHIP_PRIORITY,
                                 "TPC-H Q3-shaped composite top-10"),
    "q_region_volume": QuerySpec(q_region_volume, ORACLE_REGION_VOLUME,
                                 "TPC-H Q5-shaped 6-table join composite"),
    "q_nation_trade": QuerySpec(q_nation_trade, ORACLE_NATION_TRADE,
                                "TPC-H Q7-shaped bilateral volume shipping"),
    "q_forecast_revenue": QuerySpec(
        q_forecast_revenue, ORACLE_FORECAST_REVENUE,
        "TPC-H Q6-shaped filtered global aggregate, full scan pushdown"),
    "q_market_share": QuerySpec(
        q_market_share, ORACLE_MARKET_SHARE,
        "TPC-H Q8-shaped conditional-aggregation market-share ratio"),
    "q_nation_profit": QuerySpec(
        q_nation_profit, ORACLE_NATION_PROFIT,
        "TPC-H Q9-shaped signed-profit rollup per nation-year"),
    "q_late_lines": QuerySpec(
        q_late_lines, ORACLE_LATE_LINES,
        "TPC-H Q12-shaped priority split, CASE-inside-aggregate"),
    "q_returned_items": QuerySpec(q_returned_items, ORACLE_RETURNED_ITEMS,
                                  "TPC-H Q10-shaped returned-item top-20 "
                                  "(aggregate-before-join)"),
    "q_lateral_join": QuerySpec(q_lateral_join, ORACLE_LATERAL_JOIN,
                                "Spark 4 DataFrame.lateralJoin "
                                "(decorrelated to WindowGroupLimit)"),
    "q_skyline": QuerySpec(q_skyline, ORACLE_SKYLINE,
                           "2-D Pareto frontier (two-phase distributed "
                           "skyline)"),
    "q_pipe_sql": QuerySpec(q_pipe_sql, ORACLE_PIPE_SQL,
                            "SQL pipe syntax (|>) pricing summary"),
    "q_subquery_sql": QuerySpec(
        q_subquery_sql, ORACLE_SUBQUERY_SQL,
        "SQL-text subquery surface: correlated scalar + EXISTS + IN + "
        "scalar threshold, one verbatim statement"),
    "q_not_in": QuerySpec(
        q_not_in, ORACLE_NOT_IN,
        "NOT IN 3VL semantics incl. null-poisoned subquery "
        "(null-aware anti join)"),
    "q_assoc_rules": QuerySpec(q_assoc_rules, ORACLE_ASSOC_RULES,
                               "market-basket support/confidence/lift"),
    "q_histogram_eq": QuerySpec(q_histogram_eq, ORACLE_HISTOGRAM_EQ,
                                "equi-depth decile histogram"),
    "q_histogram_eq_approx": QuerySpec(
        q_histogram_eq_approx, ORACLE_HISTOGRAM_EQ_APPROX,
        "approx_percentile-boundary equi-depth histogram (deterministic "
        "verdict: exact totals + near-equi-depth booleans)"),
    "q_profile": QuerySpec(q_profile, ORACLE_PROFILE,
                           "per-shard corpus QA profile"),
    "q_topk": QuerySpec(q_topk, ORACLE_TOPK, "global top-k"),
    "q_topk_group": QuerySpec(q_topk_group, ORACLE_TOPK_GROUP,
                              "top-k per group"),
    "q_setops": QuerySpec(q_setops, ORACLE_SETOPS, "union/intersect/except"),
    "q_join_range": QuerySpec(q_join_range, ORACLE_JOIN_RANGE, "range join"),
    "q_join_bucketed": QuerySpec(q_join_bucketed, ORACLE_JOIN_BUCKETED,
                                 "zero-Exchange bucketed fact-fact join"),
    "q_join_salted": QuerySpec(q_join_salted, ORACLE_JOIN_SALTED,
                               "salted join under pathological key skew"),
    "q_join_bloom": QuerySpec(q_join_bloom, ORACLE_JOIN_BLOOM,
                              "Bloom-pruned exact semi join"),
    "q_sql_script": QuerySpec(
        q_sql_script, ORACLE_SQL_SCRIPT,
        "Spark 4 SQL scripting (BEGIN/DECLARE/WHILE): in-engine "
        "procedural threshold search, integer-exact stop rule"),
    "q_observe": QuerySpec(
        q_observe, ORACLE_OBSERVE,
        "df.observe() pipeline DQ counters: exact BIGINT metrics "
        "accumulated during the one action, zero extra scans"),
    "q_dq_audit": QuerySpec(q_dq_audit, ORACLE_DQ_AUDIT,
                            "data-quality constraint audit"),
    "q_incr_agg": QuerySpec(q_incr_agg, ORACLE_INCR_AGG,
                            "incremental partial-merge aggregation "
                            "(oracle = direct one-pass)"),
}
