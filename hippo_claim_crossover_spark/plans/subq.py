"""§2b relational extensions — correlated-subquery / decorrelation family.

Six TPC-H-shaped queries (Q14/Q15/Q17/Q18/Q19/Q22 silhouettes, adapted to
the fixture schema) whose reference SQL is naturally written with scalar
or correlated subqueries.  The Spark plans are the *decorrelated* forms a
100 TB cluster actually wants:

- correlated AVG per group   → grouped pre-aggregate + equi-join
  (q_small_qty — TPC-H Q17's ``l_quantity < 0.2 * (SELECT avg ...)``),
- scalar global aggregate    → 1-row broadcast nested-loop join, never a
  driver-side ``collect()`` (q_idle_customers, q_top_supplier),
- HAVING over a grouped join → partial/final aggregate then filter
  (q_large_orders — Q18's ``sum(l_quantity) > k``),
- disjunctive OR-of-ANDs     → single scan, CASE-labelled branches
  (q_disjunctive — Q19's bracket predicate, one pass not three),
- conditional-aggregation ratio in exact integer micros
  (q_promo_share — Q14's promo revenue share).

Generalizes the reference's one correlated lookup (parent back-reference,
``lib/hippo_claim_crossover.rb:61-66``) to the full subquery surface.

Scale notes: no plan here materializes a per-row subquery.  Every
correlated form is re-expressed as one extra hash aggregate plus one join
on the correlation key, so the added cost at 100 TB is a single shuffle
of the *aggregated* side (≤ |parts| or |suppliers| rows, not lineitems).
Scalar aggregates ride a 1-row broadcast — zero shuffle.  All money math
is exact integer micros (money_sum), so results are engine-identical and
order-insensitive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hippo_claim_crossover_spark.plans.base import (
    QuerySpec,
    duck_round,
    money_micros,
    money_sum,
    money_sum_sql,
    t,
)
from hippo_claim_crossover_spark.session import materialize


def q_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape, per brand: revenue locked in small-quantity
    lineitems — lines whose quantity is below 20% of that part's average
    order quantity — as a correlated-AVG filter.

    Reference SQL correlates ``l_quantity < 0.2 * (SELECT avg(l_quantity)
    WHERE l_partkey = outer.l_partkey)``.  The declared plan decorrelates:
    one grouped pre-aggregate over lineitem (partial/final, exact — the
    quantities are small integers so the double sum is order-insensitive),
    an equi-join back on ``l_partkey`` (shuffle carries one row per part,
    not per line), then the brand dimension joins the *filtered* remainder.
    At 100 TB the per-part average table is ~|parts| rows — the join is
    the cheap side; no per-row subquery is ever evaluated.
    """
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice")
    part_avg = (li.groupBy("l_partkey")
                .agg((F.sum("l_quantity") / F.count("l_quantity"))
                     .alias("avg_qty"))
                .withColumnRenamed("l_partkey", "ap_partkey"))
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    small = (li.join(part_avg, li.l_partkey == part_avg.ap_partkey)
             .where(F.col("l_quantity") < 0.2 * F.col("avg_qty")))
    return (small.join(p, small.l_partkey == p.p_partkey)
            .groupBy("p_brand")
            .agg(money_sum(F.col("l_extendedprice")).alias("locked_revenue"),
                 F.count(F.lit(1)).alias("n_small_lines"))
            .orderBy("p_brand"))


ORACLE_SMALL_QTY = f"""
WITH part_avg AS (
  SELECT l_partkey AS ap_partkey,
         sum(l_quantity) / count(l_quantity) AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT p.p_brand,
       {money_sum_sql('l.l_extendedprice')} AS locked_revenue,
       count(*) AS n_small_lines
FROM lineitem l
JOIN part_avg a ON l.l_partkey = a.ap_partkey
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_quantity < 0.2 * a.avg_qty
GROUP BY p.p_brand
ORDER BY p.p_brand
"""


def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders — orders whose total line
    quantity exceeds 200 — with their customer, ranked by volume.

    Reference SQL nests ``o_orderkey IN (SELECT l_orderkey ... GROUP BY
    l_orderkey HAVING sum(l_quantity) > 200)``.  Declared plan: the
    grouped HAVING is one partial/final hash aggregate over lineitem
    (map-side combine crushes ~4 lines/order before the shuffle); the
    surviving ~top-percent of orders then join orders and customer.
    Aggregate-before-join: customer never touches raw lineitems.  Top-100
    is TakeOrdered, not a global sort.  Quantities are small integers so
    the double sum is exact and the ranking engine-identical.
    """
    big = (t(spark, sf_dir, "lineitem")
           .groupBy("l_orderkey")
           .agg(F.sum("l_quantity").alias("sum_qty"))
           .where(F.col("sum_qty") > 200))
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (big.join(o, big.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .select("c_custkey", "c_name", "o_orderkey",
                    F.date_format("o_orderdate", "yyyy-MM-dd")
                    .alias("orderdate"),
                    duck_round(F.col("o_totalprice"), 2).alias("totalprice"),
                    "sum_qty")
            .orderBy(F.col("sum_qty").desc(), "o_orderkey")
            .limit(100))


ORACLE_LARGE_ORDERS = """
WITH big AS (
  SELECT l_orderkey, sum(l_quantity) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 200
)
SELECT c.c_custkey, c.c_name, o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       round(o.o_totalprice, 2) AS totalprice, big.sum_qty
FROM big
JOIN orders o ON big.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY big.sum_qty DESC, o.o_orderkey
LIMIT 100
"""


def q_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive OR-of-ANDs bracket predicate over
    part⋈lineitem, reported per bracket.

    Reference SQL repeats the join three times (one per OR arm) or leans
    on the optimizer to merge them.  Declared plan: ONE scan, one join,
    a CASE labels each surviving row with its bracket, and a single
    grouped aggregate yields revenue per bracket — the disjunction is
    evaluated row-local inside the scan stage, so at 100 TB the
    three-bracket report costs exactly one pass over lineitem.  The
    bracket predicate pushes into the scan as an OR filter.
    """
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size",
                                        "p_type")
    j = li.join(p, li.l_partkey == p.p_partkey)
    b1 = ((F.col("p_type") == "SMALL") & (F.col("p_size") <= 10)
          & F.col("l_quantity").between(1, 15))
    b2 = ((F.col("p_type") == "MEDIUM") & (F.col("p_size") <= 20)
          & F.col("l_quantity").between(10, 25))
    b3 = ((F.col("p_type") == "LARGE") & (F.col("p_size") <= 30)
          & F.col("l_quantity").between(20, 35))
    return (j.where(b1 | b2 | b3)
            .withColumn("bracket",
                        F.when(b1, "small").when(b2, "medium")
                        .otherwise("large"))
            .groupBy("bracket")
            .agg(money_sum(F.col("l_extendedprice")
                           * (F.lit(1.0) - F.col("l_discount")))
                 .alias("revenue"),
                 F.count(F.lit(1)).alias("n_lines"))
            .orderBy("bracket"))


ORACLE_DISJUNCTIVE = f"""
WITH j AS (
  SELECT CASE
           WHEN p.p_type = 'SMALL' AND p.p_size <= 10
                AND l.l_quantity BETWEEN 1 AND 15 THEN 'small'
           WHEN p.p_type = 'MEDIUM' AND p.p_size <= 20
                AND l.l_quantity BETWEEN 10 AND 25 THEN 'medium'
           ELSE 'large'
         END AS bracket,
         l.l_extendedprice, l.l_discount
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE (p.p_type = 'SMALL' AND p.p_size <= 10
         AND l.l_quantity BETWEEN 1 AND 15)
     OR (p.p_type = 'MEDIUM' AND p.p_size <= 20
         AND l.l_quantity BETWEEN 10 AND 25)
     OR (p.p_type = 'LARGE' AND p.p_size <= 30
         AND l.l_quantity BETWEEN 20 AND 35)
)
SELECT bracket,
       {money_sum_sql('l_extendedprice * (1.0 - l_discount)')} AS revenue,
       count(*) AS n_lines
FROM j GROUP BY bracket ORDER BY bracket
"""


def q_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: monthly promo-revenue share over 1996 — the
    conditional-aggregation ratio ``100 * sum(rev WHERE promo) /
    sum(rev)`` per order month.

    One join (lineitem⋈orders for the date, then the part dim for the
    type), one grouped aggregate computing both the conditional and the
    unconditional sum in the same pass — never two scans.  Both sums ride
    exact integer micros, so the final double division and 4dp round are
    engine-identical.  At 100 TB the date filter prunes the orders scan
    and the aggregate is partial/final on a 12-value key.
    """
    o = (t(spark, sf_dir, "orders")
         .where((F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1997-01-01"))
         .select("o_orderkey", F.month("o_orderdate").alias("mth")))
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice", "l_discount")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    agg = (li.join(o, li.l_orderkey == o.o_orderkey)
           .join(p, li.l_partkey == p.p_partkey)
           .groupBy("mth")
           .agg(money_sum(F.when(F.col("p_type") == "PROMO", rev)
                          .otherwise(F.lit(0.0))).alias("promo_rev"),
                money_sum(rev).alias("total_rev")))
    return (agg.select(
        "mth", "promo_rev", "total_rev",
        duck_round(F.lit(100.0) * F.col("promo_rev") / F.col("total_rev"), 4)
        .alias("promo_share_pct"))
        .orderBy("mth"))


ORACLE_PROMO_SHARE = f"""
WITH agg AS (
  SELECT month(o.o_orderdate) AS mth,
         {money_sum_sql("CASE WHEN p.p_type = 'PROMO' "
                        "THEN l.l_extendedprice * (1.0 - l.l_discount) "
                        "ELSE 0.0 END")} AS promo_rev,
         {money_sum_sql('l.l_extendedprice * (1.0 - l.l_discount)')}
           AS total_rev
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
    AND o.o_orderdate <  TIMESTAMP '1997-01-01'
  GROUP BY month(o.o_orderdate)
)
SELECT mth, promo_rev, total_rev,
       floor((100.0 * promo_rev / total_rev) * 1e4 + 0.5) / 1e4
         AS promo_share_pct
FROM agg ORDER BY mth
"""


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the top revenue supplier(s) over one quarter —
    ties kept — via a scalar-subquery MAX.

    Reference SQL builds a revenue view and filters ``total_revenue =
    (SELECT max(total_revenue) FROM revenue)``.  Declared plan: the
    per-supplier aggregate (exact integer micros, partial/final), then
    the scalar max rides a 1-row broadcast cross join — never a driver
    collect, never a second shuffle.  The long-vs-long equality keeps the
    tie semantics exact (no float max).  At 100 TB: one shuffle of
    |suppliers| aggregated rows + a broadcast of 8 bytes.
    """
    o = (t(spark, sf_dir, "orders")
         .where((F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1996-04-01"))
         .select("o_orderkey"))
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    rev_micros = F.sum(money_micros(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))))
    # Two consumers (the max scalar and the final filter) — materialize
    # the small per-supplier aggregate once so lineitem is scanned once.
    per_supp = materialize(li.join(o, li.l_orderkey == o.o_orderkey)
                           .groupBy("l_suppkey")
                           .agg(rev_micros.alias("rev_u")),
                           "supplier_revenue")
    mx = per_supp.agg(F.max("rev_u").alias("max_u"))
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (per_supp.join(F.broadcast(mx), F.col("rev_u") == F.col("max_u"))
            .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
            .select("s_suppkey", "s_name",
                    duck_round(F.col("rev_u").cast("double") / F.lit(1e6), 6)
                    .alias("total_revenue"))
            .orderBy("s_suppkey"))


ORACLE_TOP_SUPPLIER = """
WITH per_supp AS (
  SELECT l.l_suppkey,
         sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 1e6
                        + 0.5) AS BIGINT)) AS rev_u
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
    AND o.o_orderdate <  TIMESTAMP '1996-04-01'
  GROUP BY l.l_suppkey
)
SELECT s.s_suppkey, s.s_name,
       round(CAST(rev_u AS DOUBLE) / 1e6, 6) AS total_revenue
FROM per_supp
JOIN supplier s ON per_supp.l_suppkey = s.s_suppkey
WHERE rev_u = (SELECT max(rev_u) FROM per_supp)
ORDER BY s.s_suppkey
"""


def q_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: well-funded idle customers — above the global
    average positive account balance (scalar subquery) with no order
    since 2000 (anti join) — counted per market segment.

    Two correlated forms, both decorrelated: the scalar AVG is an exact
    integer-micros aggregate broadcast as one row (never collected to the
    driver); the NOT EXISTS is a LEFT ANTI join against the date-pruned
    orders scan (the predicate pushes down, so the anti build side is
    only recent orders).  Balances aggregate in micros so both the
    threshold comparison and the output sum are engine-exact.  At 100 TB:
    one broadcast row + one anti shuffle on custkey + a 5-key aggregate.
    """
    c = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal")
    bal_u = money_micros(F.col("c_acctbal"))
    avg_pos = (c.where(F.col("c_acctbal") > 0)
               .agg((F.sum(bal_u).cast("double") / F.lit(1e6)
                     / F.count(F.lit(1))).alias("avg_bal")))
    recent = (t(spark, sf_dir, "orders")
              .where(F.col("o_orderdate") >= "2000-01-01")
              .select("o_custkey"))
    idle = (c.crossJoin(F.broadcast(avg_pos))
            .where(F.col("c_acctbal") > F.col("avg_bal"))
            .join(recent, c.c_custkey == recent.o_custkey, "left_anti"))
    return (idle.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_idle"),
                 money_sum(F.col("c_acctbal")).alias("idle_balance"))
            .orderBy("c_mktsegment"))


ORACLE_IDLE_CUSTOMERS = f"""
WITH avg_pos AS (
  SELECT CAST(sum(CAST(floor(c_acctbal * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
         / 1e6 / count(*) AS avg_bal
  FROM customer WHERE c_acctbal > 0
)
SELECT c.c_mktsegment,
       count(*) AS n_idle,
       {money_sum_sql('c.c_acctbal')} AS idle_balance
FROM customer c
WHERE c.c_acctbal > (SELECT avg_bal FROM avg_pos)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
"""


def q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): orders placed in one
    quarter that had at least one SLOW line — shipped 60+ days after
    the order date — counted per priority class.

    Reference SQL is the classic ``EXISTS (SELECT ... WHERE l_orderkey =
    o_orderkey AND l_shipdate >= o_orderdate + 60 days)``.  The declared
    plan keeps it a LEFT SEMI join: equi on the order key with the
    lateness comparison riding as a residual predicate on the same join
    (one shuffle, no duplicate-order inflation, no second aggregate to
    re-distinct what EXISTS already guarantees).  The quarter filter
    prunes orders BEFORE the join, so the shuffle carries one quarter of
    one table; lineitem needs only (key, shipdate) — a 2-column scan.
    Counts are exact integers; the 5-row output orders by priority.
    """
    o = (t(spark, sf_dir, "orders")
         .where((F.col("o_orderdate") >= "1997-01-01")
                & (F.col("o_orderdate") < "1997-04-01"))
         .select("o_orderkey", "o_orderdate", "o_orderpriority"))
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    slow = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate >= F.col("o_orderdate")
           + F.expr("INTERVAL 60 DAYS")),
        "left_semi")
    return (slow.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count"))
            .orderBy("o_orderpriority"))


ORACLE_ORDER_PRIORITY = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate >= o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_cust_order_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): how many
    customers placed exactly k qualifying orders — INCLUDING the
    zero-order customers a plain inner join would silently drop.

    Two stacked aggregations over a LEFT OUTER join: per-customer
    ``count(o_orderkey)`` (null-skipping, so unmatched customers count
    0), then the distribution ``count(customers) per order-count``.  The
    order-side predicate (urgent-only) lives on the orders
    scan BEFORE the join — on a left join that is equivalent to Q13's
    join-condition placement and lets the filter push into the parquet
    scan.  Scale shape: the first aggregate's map-side combine collapses
    orders-per-customer before the shuffle; the second aggregate's input
    is |customers| rows and its output ≤ max-orders-per-customer rows.
    """
    c = t(spark, sf_dir, "customer").select("c_custkey")
    o = (t(spark, sf_dir, "orders")
         .where(F.col("o_orderpriority") == "1-URGENT")
         .select("o_orderkey", "o_custkey"))
    per_cust = (c.join(o, c.c_custkey == o.o_custkey, "left_outer")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist"))
            .orderBy(F.col("custdist").desc(), F.col("c_count").desc()))


ORACLE_CUST_ORDER_DIST = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c
  LEFT OUTER JOIN orders o
    ON c.c_custkey = o.o_custkey
   AND o.o_orderpriority = '1-URGENT'
  GROUP BY c.c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q_part_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): distinct suppliers
    able to supply each (brand, type, size) bucket, excluding one brand
    and excluding "complaint" suppliers (negative account balance — the
    fixture's stand-in for Q16's comment-pattern complaint filter).

    The fixture has no partsupp table; the observed supply relation is
    ``lineitem (l_partkey, l_suppkey) DISTINCT`` — aggregated FIRST so
    everything downstream (anti join, part join, count-distinct) works
    on the ~|part|×few relation instead of raw lineitems.  The NOT-IN
    complaint set is a broadcast LEFT ANTI (null-safe by construction:
    keys are non-null), and the final count-distinct runs partial/final
    on the (brand, type, size) key.
    """
    pairs = (t(spark, sf_dir, "lineitem")
             .select("l_partkey", "l_suppkey").distinct())
    bad = (t(spark, sf_dir, "supplier")
           .where(F.col("s_acctbal") < 0).select("s_suppkey"))
    p = (t(spark, sf_dir, "part")
         .where(F.col("p_brand") != "Brand#1")
         .select("p_partkey", "p_brand", "p_type", "p_size"))
    ok = pairs.join(F.broadcast(bad),
                    pairs.l_suppkey == bad.s_suppkey, "left_anti")
    return (ok.join(p, ok.l_partkey == p.p_partkey)
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
            .orderBy(F.col("supplier_cnt").desc(),
                     "p_brand", "p_type", "p_size"))


ORACLE_PART_SUPPLIER_CNT = """
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(count(DISTINCT s.l_suppkey) AS BIGINT) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) s
JOIN part p ON s.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#1'
  AND s.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                          WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
"""


def q_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): on completed
    ('F') multi-supplier orders, the supplier who was the ONLY one to
    ship late (>30 days after the order date), counted per supplier.

    Reference SQL is the famous EXISTS + NOT-EXISTS double correlation
    (another supplier shipped on this order / no OTHER supplier shipped
    late).  Decorrelated: ONE conditional aggregation per order —
    ``count(DISTINCT suppkey)``, ``count(DISTINCT late suppkey)`` and
    ``max(late suppkey)`` — replaces both correlated probes; an order
    qualifies iff n_supp ≥ 2 and n_late = 1, at which point max() IS the
    culprit.  Both EXISTS subqueries thus cost a single grouped pass
    over the already-joined fact rows (one shuffle on the order key),
    and supplier names join the aggregated ≤|supplier|-row result via
    broadcast of that small side — raw lineitems never touch the
    supplier table.
    """
    o = (t(spark, sf_dir, "orders")
         .where(F.col("o_orderstatus") == "F")
         .select("o_orderkey", "o_orderdate"))
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate")
    base = li.join(o, li.l_orderkey == o.o_orderkey).withColumn(
        "late",
        F.col("l_shipdate") > F.col("o_orderdate")
        + F.expr("INTERVAL 30 DAYS"))
    late_supp = F.when(F.col("late"), F.col("l_suppkey"))
    per_ord = (base.groupBy("l_orderkey")
               .agg(F.countDistinct("l_suppkey").alias("n_supp"),
                    F.countDistinct(late_supp).alias("n_late"),
                    F.max(late_supp).alias("culprit")))
    waits = (per_ord
             .where((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
             .groupBy("culprit")
             .agg(F.count(F.lit(1)).alias("numwait")))
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (s.join(F.broadcast(waits),
                   F.col("s_suppkey") == F.col("culprit"))
            .select("s_name", "numwait")
            .orderBy(F.col("numwait").desc(), "s_name"))


ORACLE_WAITING_SUPPLIER = """
WITH per_ord AS (
  SELECT l.l_orderkey,
         count(DISTINCT l.l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN l.l_shipdate >
               o.o_orderdate + INTERVAL 30 DAY
               THEN l.l_suppkey END) AS n_late,
         max(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
             THEN l.l_suppkey END) AS culprit
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
  GROUP BY l.l_orderkey
)
SELECT s.s_name, count(*) AS numwait
FROM per_ord p
JOIN supplier s ON p.culprit = s.s_suppkey
WHERE p.n_supp >= 2 AND p.n_late = 1
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
"""


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): for each small part, the
    EUROPE supplier offering the lowest observed unit cost — the
    correlated ``cost = (SELECT min(cost) WHERE partkey = outer)`` form.

    The fixture has no partsupp; the observed supply cost is the minimum
    per-line unit price ``l_extendedprice / l_quantity`` over each
    (part, supplier)'s lineitems.  Decorrelated the way Q2 should run at
    scale: ONE grouped aggregate builds the (part, supplier, unit_cost)
    relation, the region restriction broadcasts through
    supplier→nation→region BEFORE that aggregate consumes it, and the
    per-part argmin is a row_number window on the AGGREGATED relation
    (≤ |part|×|suppliers-per-part| rows, never raw lineitems) with the
    deterministic (cost, suppkey) tie-break.  The correlated min is thus
    one window over a pre-shrunk table — no per-row subquery, no
    join-back of a second aggregate."""
    r = (t(spark, sf_dir, "region")
         .where(F.col("r_name") == "EUROPE").select("r_regionkey"))
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    s = (t(spark, sf_dir, "supplier").select("s_suppkey", "s_name",
                                             "s_nationkey")
         .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
         .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
         .select("s_suppkey", "s_name"))
    p = (t(spark, sf_dir, "part")
         .where(F.col("p_size") <= 10).select("p_partkey", "p_size"))
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
    supply = (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
              .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
              .groupBy("p_partkey", "p_size", "s_suppkey", "s_name")
              .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity"))
                   .alias("unit_cost")))
    w = Window.partitionBy("p_partkey").orderBy(
        F.col("unit_cost").asc(), F.col("s_suppkey").asc())
    return (supply.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("p_partkey", "p_size", "s_name",
                    duck_round(F.col("unit_cost"), 4).alias("unit_cost"))
            .orderBy("p_partkey"))


ORACLE_MIN_COST_SUPPLIER = """
WITH supply AS (
  SELECT l.l_partkey AS p_partkey, p.p_size, s.s_suppkey, s.s_name,
         min(l.l_extendedprice / l.l_quantity) AS unit_cost
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE p.p_size <= 10 AND r.r_name = 'EUROPE'
  GROUP BY l.l_partkey, p.p_size, s.s_suppkey, s.s_name
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY p_partkey
             ORDER BY unit_cost ASC, s_suppkey ASC) AS rn
  FROM supply
)
SELECT p_partkey, p_size, s_name,
       floor(unit_cost * 1e4 + 0.5) / 1e4 AS unit_cost
FROM ranked WHERE rn = 1 ORDER BY p_partkey
"""


def q_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock identification): parts whose
    EUROPE-supplied revenue exceeds a threshold derived from the WHOLE
    relation — the grouped-HAVING-against-scalar-subquery form.

    Q11's fixed ``fraction`` HAVING degenerates across scales (every
    part passes at sf0.001, none at sf0.1); the declared threshold is
    scale-free: value > 1.5 × the mean per-part value, with the mean
    computed from the SAME aggregated relation and attached as a 1-row
    broadcast (never a driver collect, never a second scan of the
    fact).  Two aggregates total — per-part and global-mean — both over
    integer micros; the HAVING comparison is long-vs-double on identical
    doubles."""
    r = (t(spark, sf_dir, "region")
         .where(F.col("r_name") == "EUROPE").select("r_regionkey"))
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    s = (t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
         .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
         .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
         .select("s_suppkey"))
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice")
    per_part = materialize(
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum(money_micros(F.col("l_extendedprice"))).alias("value_u")),
        "part_value")
    mean_row = per_part.agg(
        (F.sum("value_u").cast("double") / F.count(F.lit(1)))
        .alias("_mean_u"))
    return (per_part.crossJoin(F.broadcast(mean_row))
            .where(F.col("value_u").cast("double")
                   > F.lit(1.5) * F.col("_mean_u"))
            .select(F.col("l_partkey").alias("p_partkey"),
                    F.round(F.col("value_u").cast("double") / F.lit(1e6),
                            6).alias("value"))
            .orderBy(F.col("value").desc(), "p_partkey"))


ORACLE_IMPORTANT_STOCK = """
WITH per_part AS (
  SELECT l.l_partkey,
         CAST(sum(CAST(floor(l.l_extendedprice * 1e6 + 0.5) AS BIGINT))
              AS BIGINT) AS value_u
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE'
  GROUP BY l.l_partkey
), m AS (
  SELECT CAST(sum(value_u) AS DOUBLE) / count(*) AS mean_u FROM per_part
)
SELECT p.l_partkey AS p_partkey,
       round(CAST(p.value_u AS DOUBLE) / 1e6, 6) AS value
FROM per_part p, m
WHERE CAST(p.value_u AS DOUBLE) > 1.5 * m.mean_u
ORDER BY value DESC, p_partkey
"""


def q_dominant_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): suppliers who moved
    an above-average share of at least one PROMO part — the nested
    ``IN (SELECT ... WHERE qty > threshold(SELECT ...))`` silhouette.

    Q20's inner correlated threshold (half the part's shipped quantity)
    decorrelates into a per-part pre-aggregate: shipped quantity per
    (part, supplier), the part's total and its supplier count in ONE
    reuse of that relation, and the qualifying pairs are those with
    ``qty × n_supp > total`` (strictly above the equal share — integer
    cross-multiplication, no division, engine-exact).  Suppliers then
    aggregate their qualifying-part count; names attach via broadcast
    of the aggregated side.  No subquery is evaluated per row; the
    whole nest is two grouped passes over one narrow projection."""
    p = (t(spark, sf_dir, "part")
         .where(F.col("p_type") == "PROMO").select("p_partkey"))
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity")
    qty = materialize(
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty")),
        "promo_quantity")
    totals = (qty.groupBy("l_partkey")
              .agg(F.sum("qty").alias("total_qty"),
                   F.count(F.lit(1)).alias("n_supp")))
    qual = (qty.join(totals, "l_partkey")
            .where((F.col("n_supp") >= 2)
                   & (F.col("qty") * F.col("n_supp") > F.col("total_qty")))
            .groupBy("l_suppkey")
            .agg(F.count(F.lit(1)).alias("n_dominant_parts"),
                 F.sum("qty").alias("dominated_qty")))
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (s.join(F.broadcast(qual), s.s_suppkey == qual.l_suppkey)
            .select("s_name", "n_dominant_parts", "dominated_qty")
            .orderBy(F.col("n_dominant_parts").desc(),
                     F.col("dominated_qty").desc(), "s_name"))


ORACLE_DOMINANT_SUPPLIER = """
WITH qty AS (
  SELECT l.l_partkey, l.l_suppkey,
         CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_type = 'PROMO'
  GROUP BY l.l_partkey, l.l_suppkey
), totals AS (
  SELECT l_partkey, CAST(sum(qty) AS BIGINT) AS total_qty,
         CAST(count(*) AS BIGINT) AS n_supp
  FROM qty GROUP BY l_partkey
), qual AS (
  SELECT q.l_suppkey, count(*) AS n_dominant_parts,
         CAST(sum(q.qty) AS BIGINT) AS dominated_qty
  FROM qty q JOIN totals t ON q.l_partkey = t.l_partkey
  WHERE t.n_supp >= 2 AND q.qty * t.n_supp > t.total_qty
  GROUP BY q.l_suppkey
)
SELECT s.s_name, q.n_dominant_parts, q.dominated_qty
FROM supplier s JOIN qual q ON s.s_suppkey = q.l_suppkey
ORDER BY n_dominant_parts DESC, dominated_qty DESC, s_name
"""


SPECS: dict[str, QuerySpec] = {
    "q_small_qty": QuerySpec(
        q_small_qty, ORACLE_SMALL_QTY,
        "TPC-H Q17-shaped correlated-AVG filter, decorrelated"),
    "q_large_orders": QuerySpec(
        q_large_orders, ORACLE_LARGE_ORDERS,
        "TPC-H Q18-shaped grouped-HAVING IN-subquery, decorrelated"),
    "q_disjunctive": QuerySpec(
        q_disjunctive, ORACLE_DISJUNCTIVE,
        "TPC-H Q19-shaped OR-of-ANDs bracket, one-pass CASE"),
    "q_promo_share": QuerySpec(
        q_promo_share, ORACLE_PROMO_SHARE,
        "TPC-H Q14-shaped conditional-aggregation ratio"),
    "q_top_supplier": QuerySpec(
        q_top_supplier, ORACLE_TOP_SUPPLIER,
        "TPC-H Q15-shaped scalar-MAX view filter, broadcast scalar"),
    "q_idle_customers": QuerySpec(
        q_idle_customers, ORACLE_IDLE_CUSTOMERS,
        "TPC-H Q22-shaped scalar-AVG + NOT-EXISTS, broadcast + anti join"),
    "q_order_priority": QuerySpec(
        q_order_priority, ORACLE_ORDER_PRIORITY,
        "TPC-H Q4-shaped EXISTS, semi join with residual date predicate"),
    "q_cust_order_dist": QuerySpec(
        q_cust_order_dist, ORACLE_CUST_ORDER_DIST,
        "TPC-H Q13-shaped left-outer count distribution, stacked aggs"),
    "q_part_supplier_cnt": QuerySpec(
        q_part_supplier_cnt, ORACLE_PART_SUPPLIER_CNT,
        "TPC-H Q16-shaped NOT-IN + grouped count-distinct"),
    "q_waiting_supplier": QuerySpec(
        q_waiting_supplier, ORACLE_WAITING_SUPPLIER,
        "TPC-H Q21-shaped double correlation, one conditional aggregation"),
    "q_min_cost_supplier": QuerySpec(
        q_min_cost_supplier, ORACLE_MIN_COST_SUPPLIER,
        "TPC-H Q2-shaped correlated min, window argmin on pre-aggregate"),
    "q_important_stock": QuerySpec(
        q_important_stock, ORACLE_IMPORTANT_STOCK,
        "TPC-H Q11-shaped HAVING vs broadcast scalar (scale-free 1.5x "
        "mean threshold)"),
    "q_dominant_supplier": QuerySpec(
        q_dominant_supplier, ORACLE_DOMINANT_SUPPLIER,
        "TPC-H Q20-shaped nested IN, integer cross-multiplied threshold"),
}
