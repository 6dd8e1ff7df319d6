"""Reference-shaped operators: the claim-crossover dataflow on the star schema.

The reference (``/root/reference/lib/hippo_claim_crossover.rb``) flattens a
hierarchical 837P claim tree into one denormalized record per claim plus
repeated service lines. Here, ``orders`` plays the claim header (L2300),
``lineitem`` the service lines (L2400), ``customer``/``nation``/``region``
the subscriber + code-table lookups (FIXTURES.md "Mapping reference
semantics onto fixtures"). Each query cites the reference operator row from
SURVEY.md §2a it re-expresses.

Scale notes (100 TB design):
- ``nation``/``region`` (and any code table) are broadcast — no shuffle.
- ``lineitem ⋈ orders`` is the one genuine shuffle; both sides hash on the
  join key, and AQE handles skew. At cluster scale the same plan holds with
  bucketed tables co-locating the join.
- Every aggregation is a partial/final HashAggregate (map-side combine) —
  Catalyst does this for all ``groupBy().agg()`` below.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hippo_claim_crossover_spark.functions.scalar import (
    bool_eq,
    case_map,
    coalesce_pair,
)
from hippo_claim_crossover_spark.plans.base import (
    QuerySpec,
    money_sum,
    money_sum_sql,
    t,
)
from hippo_claim_crossover_spark.session import run_dir

# CASE dictionary mirroring the insurance-type map (reference :60-66, C2).
STATUS_MAP = {"F": "fulfilled", "O": "open", "P": "pending"}
# Relationship-style dictionary (reference :229-235, C4).
SEGMENT_MAP = {"BUILDING": "spouse", "AUTOMOBILE": "child"}


# ---------------------------------------------------------------------------
# Flagship: the full crossover denormalization (SURVEY.md §7.1).
# ---------------------------------------------------------------------------

def q_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header⋈lines denormalization + per-claim SUM/EXISTS + CASE map.

    Re-expresses ``populate_claim``+``populate_services``
    (lib/hippo_claim_crossover.rb:102-212): explode E1/E2 becomes the
    lines-side scan, parent back-reference P3 becomes the header join, A1-A3
    the grouped aggregates, C2 the status CASE.
    """
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")

    # Aggregate-before-join: every group key except l_orderkey is
    # functionally dependent on it, so the per-claim SUM/EXISTS reduces the
    # lines table ~4x (and to fixed-width columns) BEFORE the header join —
    # the shuffle moves (key, 3 numbers) instead of every line with strings
    # attached. Catalyst doesn't push aggregates below joins itself; at
    # 100 TB this is the difference between shuffling the lineitem table
    # and shuffling one row per claim. Measured 5.4s → ~1s at sf0.1.
    discounted = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_claim = (
        li.groupBy("l_orderkey")
        .agg(
            money_sum(discounted).alias("claim_total"),          # A1
            F.count(F.lit(1)).alias("n_services"),
            money_sum(F.when(F.col("l_returnflag") == "R", discounted)
                      .otherwise(F.lit(0.0))).alias("returned_charges"),
            (F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)) > 0
             ).alias("has_returns"),                             # A2/A3
        )
    )
    return (
        per_claim
        .join(o, per_claim.l_orderkey == o.o_orderkey)           # J1 header
        .join(c, o.o_custkey == c.c_custkey)                     # subscriber
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)    # J2 dims
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            F.col("o_orderkey").alias("claim_id"),
            F.col("c_name").alias("subscriber_name"),
            F.col("n_name").alias("nation_name"),
            F.col("r_name").alias("region_name"),
            case_map(F.col("o_orderstatus"), STATUS_MAP, "other")
            .alias("coverage_type"),                             # C2
            "claim_total", "n_services", "returned_charges", "has_returns",
        )
    )


ORACLE_CROSSOVER = f"""
SELECT o.o_orderkey AS claim_id,
       c.c_name AS subscriber_name,
       n.n_name AS nation_name,
       r.r_name AS region_name,
       CASE o.o_orderstatus WHEN 'F' THEN 'fulfilled' WHEN 'O' THEN 'open'
            WHEN 'P' THEN 'pending' ELSE 'other' END AS coverage_type,
       {money_sum_sql("l.l_extendedprice * (1 - l.l_discount)")} AS claim_total,
       count(*) AS n_services,
       {money_sum_sql("CASE WHEN l.l_returnflag = 'R' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END")} AS returned_charges,
       CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) > 0 AS has_returns
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY o.o_orderkey, c.c_name, n.n_name, r.r_name, o.o_orderstatus
"""


# ---------------------------------------------------------------------------
# Scans / sinks (S1, S3)
# ---------------------------------------------------------------------------

def q_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 file source → pruned/pushed-down scan. `.explain` shows
    PushedFilters + 3-column ReadSchema (lib/hippo_claim_crossover.rb:313)."""
    return (
        t(spark, sf_dir, "lineitem")
        .where(F.col("l_shipdate") >= F.lit("1999-01-01"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
    )


ORACLE_SCAN = """
SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
FROM lineitem WHERE l_shipdate >= TIMESTAMP '1999-01-01'
"""


def q_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 sink: write parquet, read it back (replaces the per-record PDF
    render, lib/hippo_claim_crossover.rb:316). Write-side coalesce keeps
    small outputs from fragmenting into many files. Every run writes a
    fresh ``session.run_dir`` scoped to this Spark application, so
    concurrent harness runs never race on a shared file."""
    out = run_dir(spark, "q_sink", sf_dir)
    agg = (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(money_sum(F.col("o_totalprice")).alias("total_price"),
             F.count(F.lit(1)).alias("n_orders"))
    )
    agg.coalesce(1).write.mode("overwrite").parquet(out)
    return spark.read.schema(agg.schema).parquet(out)


ORACLE_SINK = f"""
SELECT o_orderstatus,
       {money_sum_sql("o_totalprice")} AS total_price,
       count(*) AS n_orders
FROM orders GROUP BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# Projection / renames (P1-P3)
# ---------------------------------------------------------------------------

def q_project_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 wide projection + rename (the ~60 `claim.x = loop.SEG.Element`
    assignments, lib/hippo_claim_crossover.rb:23-206)."""
    return t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("subscriber_id"),
        F.col("c_name").alias("subscriber_name"),
        F.upper(F.col("c_mktsegment")).alias("plan_segment"),
        F.round(F.col("c_acctbal"), 2).alias("account_balance"),
        F.col("c_nationkey").alias("nation_id"),
    )


ORACLE_PROJECT_RENAME = """
SELECT c_custkey AS subscriber_id,
       c_name AS subscriber_name,
       upper(c_mktsegment) AS plan_segment,
       round(c_acctbal, 2) AS account_balance,
       c_nationkey AS nation_id
FROM customer
"""


def q_parent_denorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 parent back-reference: each service line carries claim-header
    columns (service.parent.CLM..., lib/hippo_claim_crossover.rb:239,
    :252-257). In Spark the header join replaces tree back-pointers."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    return li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("l_orderkey").alias("claim_id"),
        F.col("l_linenumber").alias("service_line"),
        F.col("l_quantity").alias("units"),
        F.round(F.col("l_extendedprice"), 2).alias("charge"),
        F.col("o_orderstatus").alias("parent_status"),
        F.col("o_orderdate").alias("parent_date"),
        F.col("o_orderpriority").alias("parent_priority"),
    )


ORACLE_PARENT_DENORM = """
SELECT l.l_orderkey AS claim_id,
       l.l_linenumber AS service_line,
       l.l_quantity AS units,
       round(l.l_extendedprice, 2) AS charge,
       o.o_orderstatus AS parent_status,
       o.o_orderdate AS parent_date,
       o.o_orderpriority AS parent_priority
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
"""


# ---------------------------------------------------------------------------
# Filters (F1-F4)
# ---------------------------------------------------------------------------

def q_filter_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 filter + first-match (`PER.detect {...qualifier=='TE'}`,
    lib/hippo_claim_crossover.rb:43): first 'R'-flag line per claim by line
    number. (l_orderkey, l_linenumber) is NOT unique in the current
    fixture generation (~1.6k duplicate pairs per 20k 'R' rows), so
    "first" needs the full column tie-break to be a well-defined row —
    without it Spark and DuckDB legitimately pick different rows from a
    tied pair (caught by the sf0.1 sweep after the fixtures were
    regenerated)."""
    from pyspark.sql.window import Window

    li = t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice",
        "l_quantity")
    return (
        li.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(F.col("l_orderkey").alias("claim_id"),
                F.col("l_linenumber").alias("first_return_line"),
                F.round(F.col("l_extendedprice"), 2).alias("charge"))
    )


ORACLE_FILTER_FIRST = """
SELECT l_orderkey AS claim_id,
       l_linenumber AS first_return_line,
       round(l_extendedprice, 2) AS charge
FROM (
  SELECT *, row_number() OVER (PARTITION BY l_orderkey
      ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice,
               l_quantity) AS rn
  FROM lineitem WHERE l_returnflag = 'R'
) WHERE rn = 1
"""


def q_filter_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 filter by name (`find_by_name('Billing Provider Tax
    Identification')`, lib/hippo_claim_crossover.rb:34)."""
    return (
        t(spark, sf_dir, "orders")
        .where((F.col("o_orderstatus") == "P")
               & (F.col("o_orderpriority") == "1-URGENT"))
        .select(F.col("o_orderkey").alias("claim_id"),
                F.col("o_custkey").alias("subscriber_id"),
                F.round(F.col("o_totalprice"), 2).alias("total"))
    )


ORACLE_FILTER_EQ = """
SELECT o_orderkey AS claim_id, o_custkey AS subscriber_id,
       round(o_totalprice, 2) AS total
FROM orders WHERE o_orderstatus = 'P' AND o_orderpriority = '1-URGENT'
"""


def q_filter_notnull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 null guard (`next if dtp.DateTimePeriod.nil?`,
    lib/hippo_claim_crossover.rb:122). Fixtures carry no nulls, so derive
    one (nullif) then require IS NOT NULL."""
    return (
        t(spark, sf_dir, "lineitem")
        .withColumn("return_reason", F.nullif(F.col("l_returnflag"), F.lit("N")))
        .where(F.col("return_reason").isNotNull())
        .select(F.col("l_orderkey").alias("claim_id"),
                F.col("l_linenumber").alias("service_line"),
                "return_reason")
    )


ORACLE_FILTER_NOTNULL = """
SELECT l_orderkey AS claim_id, l_linenumber AS service_line,
       nullif(l_returnflag, 'N') AS return_reason
FROM lineitem WHERE nullif(l_returnflag, 'N') IS NOT NULL
"""


def q_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 conditional presence on a derived aggregate
    (`... if lab_charges > 0`, lib/hippo_claim_crossover.rb:210)."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(money_sum(F.col("l_quantity")).alias("total_units"))
        .where(F.col("total_units") > 100)
        .select(F.col("l_orderkey").alias("claim_id"), "total_units")
    )


ORACLE_HAVING = f"""
SELECT l_orderkey AS claim_id,
       {money_sum_sql("l_quantity")} AS total_units
FROM lineitem GROUP BY l_orderkey
HAVING {money_sum_sql("l_quantity")} > 100
"""


# ---------------------------------------------------------------------------
# Joins (J1-J5)
# ---------------------------------------------------------------------------

def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 header↔lines equi-join (the structural crossover,
    lib/hippo_claim_crossover.rb:104-164 + :188-212)."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("o_orderkey").alias("claim_id"),
        F.col("c_name").alias("subscriber_name"),
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("o_totalprice"), 2).alias("total"),
    )


ORACLE_JOIN_INNER = """
SELECT o.o_orderkey AS claim_id, c.c_name AS subscriber_name,
       c.c_mktsegment AS segment, round(o.o_totalprice, 2) AS total
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
"""


def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 broadcast dimension join (code-table semantics of
    lib/hippo_claim_crossover.rb:229-235). Explicit broadcast() — at 100 TB
    the dims stay KB-sized, so zero shuffle on the fact side."""
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
         .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
         .select(F.col("s_suppkey").alias("provider_id"),
                 F.col("s_name").alias("provider_name"),
                 F.col("n_name").alias("nation_name"),
                 F.col("r_name").alias("region_name"))
    )


ORACLE_JOIN_BROADCAST = """
SELECT s.s_suppkey AS provider_id, s.s_name AS provider_name,
       n.n_name AS nation_name, r.r_name AS region_name
FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
"""


def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 left outer (optional loops L2310A/L2310C/L2320,
    lib/hippo_claim_crossover.rb:143-160): every customer, with P-status
    order count possibly 0."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "P")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_pending"),
             money_sum(F.coalesce(F.col("o_totalprice"), F.lit(0.0)))
             .alias("pending_total"))
        .select(F.col("c_custkey").alias("subscriber_id"),
                "n_pending", "pending_total")
    )


ORACLE_JOIN_LEFT = f"""
SELECT c.c_custkey AS subscriber_id,
       count(o.o_orderkey) AS n_pending,
       {money_sum_sql("coalesce(o.o_totalprice, 0.0)")} AS pending_total
FROM customer c
LEFT JOIN (SELECT * FROM orders WHERE o_orderstatus = 'P') o
  ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey
"""


def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 existence join (`l2300.L2320.length > 0`,
    lib/hippo_claim_crossover.rb:109): customers having ≥1 urgent order."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        F.col("c_custkey").alias("subscriber_id"),
        F.col("c_name").alias("subscriber_name"),
    )


ORACLE_JOIN_SEMI = """
SELECT c_custkey AS subscriber_id, c_name AS subscriber_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderpriority = '1-URGENT')
"""


def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 anti join (complement of J4): customers with NO pending order."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "P")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        F.col("c_custkey").alias("subscriber_id"),
        F.col("c_name").alias("subscriber_name"),
    )


ORACLE_JOIN_ANTI = """
SELECT c_custkey AS subscriber_id, c_name AS subscriber_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderstatus = 'P')
"""


# ---------------------------------------------------------------------------
# Aggregations (A1-A3)
# ---------------------------------------------------------------------------

def q_agg_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 per-group SUM + A3 derived boolean (`lab_charges` inject + the
    `> 0` flag, lib/hippo_claim_crossover.rb:209-211). Null-safe like Ruby
    `nil.to_f == 0.0` via the when/otherwise(0.0)."""
    li = t(spark, sf_dir, "lineitem")
    lab = F.when(F.col("l_returnflag") == "A",
                 F.col("l_extendedprice")).otherwise(F.lit(0.0))
    return (
        li.groupBy("l_orderkey")
        .agg(money_sum(lab).alias("lab_charges"))
        .select(F.col("l_orderkey").alias("claim_id"),
                "lab_charges",
                (F.col("lab_charges") > 0).alias("outside_lab"))
    )


ORACLE_AGG_SUM = f"""
SELECT l_orderkey AS claim_id,
       {money_sum_sql("CASE WHEN l_returnflag = 'A' THEN l_extendedprice ELSE 0.0 END")} AS lab_charges,
       {money_sum_sql("CASE WHEN l_returnflag = 'A' THEN l_extendedprice ELSE 0.0 END")} > 0 AS outside_lab
FROM lineitem GROUP BY l_orderkey
"""


def q_agg_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 EXISTS per group (`l2300.L2320.length > 0` →
    insured_other_health_benefit_plan_exists, lib/hippo_claim_crossover.rb:109)."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg((F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)) > 0)
             .alias("has_fulfilled"),
             F.count(F.lit(1)).alias("n_claims"))
        .select(F.col("o_custkey").alias("subscriber_id"),
                "has_fulfilled", "n_claims")
    )


ORACLE_AGG_EXISTS = """
SELECT o_custkey AS subscriber_id,
       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) > 0 AS has_fulfilled,
       count(*) AS n_claims
FROM orders GROUP BY o_custkey
"""


# ---------------------------------------------------------------------------
# Conditional expressions (C1-C10)
# ---------------------------------------------------------------------------

def q_case_2way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 2-way CASE ('SY'→ssn else ein, lib/hippo_claim_crossover.rb:35-39)."""
    return t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("claim_id"),
        F.when(F.col("o_orderpriority") == "1-URGENT", "ssn")
        .otherwise("ein").alias("tax_id_type"),
    )


ORACLE_CASE_2WAY = """
SELECT o_orderkey AS claim_id,
       CASE WHEN o_orderpriority = '1-URGENT' THEN 'ssn' ELSE 'ein' END AS tax_id_type
FROM orders
"""


def q_case_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 multi-branch CASE with value lists (insurance-type map
    'MA','MB'→medicare..., lib/hippo_claim_crossover.rb:60-66)."""
    return t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("claim_id"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "medicare")
        .when(F.col("o_orderpriority") == "3-MEDIUM", "medicaid")
        .when(F.col("o_orderpriority") == "4-NOT SPECIFIED", "tricare_champus")
        .otherwise("other").alias("insurance_type"),
    )


ORACLE_CASE_MULTI = """
SELECT o_orderkey AS claim_id,
       CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'medicare'
            WHEN o_orderpriority = '3-MEDIUM' THEN 'medicaid'
            WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 'tricare_champus'
            ELSE 'other' END AS insurance_type
FROM orders
"""


def q_case_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 CASE → two outputs (disability qualifier 314→(first,last);
    360→(d,NULL); 361→(NULL,d), lib/hippo_claim_crossover.rb:124-133)."""
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("claim_id"),
        F.col("l_linenumber").alias("service_line"),
        F.when(F.col("l_returnflag") == "N", F.col("l_shipdate"))
        .when(F.col("l_returnflag") == "R", F.col("l_shipdate"))
        .otherwise(F.lit(None).cast("timestamp")).alias("disability_from"),
        F.when(F.col("l_returnflag") == "N", F.col("l_shipdate"))
        .when(F.col("l_returnflag") == "A", F.col("l_shipdate"))
        .otherwise(F.lit(None).cast("timestamp")).alias("disability_to"),
    )


ORACLE_CASE_STRUCT = """
SELECT l_orderkey AS claim_id, l_linenumber AS service_line,
       CASE WHEN l_returnflag = 'N' THEN l_shipdate
            WHEN l_returnflag = 'R' THEN l_shipdate
            ELSE NULL END AS disability_from,
       CASE WHEN l_returnflag = 'N' THEN l_shipdate
            WHEN l_returnflag = 'A' THEN l_shipdate
            ELSE NULL END AS disability_to
FROM lineitem
"""


def q_case_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 dictionary CASE (relationship 01→spouse; 19→child; else other,
    lib/hippo_claim_crossover.rb:229-235) via the case_map helper."""
    return t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("subscriber_id"),
        case_map(F.col("c_mktsegment"), SEGMENT_MAP, "other")
        .alias("relationship"),
    )


ORACLE_CASE_DICT = """
SELECT c_custkey AS subscriber_id,
       CASE WHEN c_mktsegment = 'BUILDING' THEN 'spouse'
            WHEN c_mktsegment = 'AUTOMOBILE' THEN 'child'
            ELSE 'other' END AS relationship
FROM customer
"""


def q_bool_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 boolean-equality derivations (accepts_assignment = code=='A',
    lib/hippo_claim_crossover.rb:118-119; null→false like Ruby nil=='A')."""
    return t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("claim_id"),
        F.col("l_linenumber").alias("service_line"),
        bool_eq(F.col("l_returnflag"), "A").alias("accepts_assignment"),
        F.when(F.col("l_linestatus") == "F", "Signature on File")
        .otherwise("").alias("signature"),
    )


ORACLE_BOOL_EQ = """
SELECT l_orderkey AS claim_id, l_linenumber AS service_line,
       coalesce(l_returnflag = 'A', false) AS accepts_assignment,
       CASE WHEN l_linestatus = 'F' THEN 'Signature on File' ELSE '' END AS signature
FROM lineitem
"""


def q_bool_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9 OR-derivations — the *intended* semantics of quirk B1
    (lib/hippo_claim_crossover.rb:215-217 uses Ruby truthiness on the 2nd
    operand; we implement the value test on both, SURVEY.md B1)."""
    return t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("claim_id"),
        F.col("l_linenumber").alias("service_line"),
        ((F.col("l_returnflag") == "R") | (F.col("l_linestatus") == "F"))
        .alias("condition_related"),
    )


ORACLE_BOOL_OR = """
SELECT l_orderkey AS claim_id, l_linenumber AS service_line,
       (l_returnflag = 'R' OR l_linestatus = 'F') AS condition_related
FROM lineitem
"""


def q_coalesce2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6/C7 2-level COALESCE (line-level place-of-service else claim-level,
    lib/hippo_claim_crossover.rb:237-243)."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    return li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("l_orderkey").alias("claim_id"),
        F.col("l_linenumber").alias("service_line"),
        F.coalesce(F.nullif(F.col("l_returnflag"), F.lit("N")),
                   F.col("o_orderstatus")).alias("place_of_service"),
    )


ORACLE_COALESCE2 = """
SELECT l.l_orderkey AS claim_id, l.l_linenumber AS service_line,
       coalesce(nullif(l.l_returnflag, 'N'), o.o_orderstatus) AS place_of_service
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
"""


def q_coalesce_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8 4-way priority COALESCE over (qualifier, number) *pairs* — the
    winning pair stays together (get_legacy_qualifier_and_number,
    lib/hippo_claim_crossover.rb:245-259). Struct-valued CASE, then unpack."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    line_ref = F.nullif(F.col("l_returnflag"), F.lit("N"))
    line_prv = F.nullif(F.col("l_linestatus"), F.lit("O"))
    parent_ref = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    pair = coalesce_pair(
        (F.lit("REF"), line_ref),
        (F.lit("ZZ"), line_prv),
        (F.lit("PREF"), parent_ref),
    )
    return j.select(
        F.col("l_orderkey").alias("claim_id"),
        F.col("l_linenumber").alias("service_line"),
        pair.getField("qualifier").alias("legacy_qualifier"),
        pair.getField("number").alias("legacy_number"),
    )


ORACLE_COALESCE_PAIR = """
SELECT l.l_orderkey AS claim_id, l.l_linenumber AS service_line,
       CASE WHEN nullif(l.l_returnflag, 'N') IS NOT NULL THEN 'REF'
            WHEN nullif(l.l_linestatus, 'O') IS NOT NULL THEN 'ZZ'
            WHEN nullif(o.o_orderstatus, 'O') IS NOT NULL THEN 'PREF'
            ELSE NULL END AS legacy_qualifier,
       CASE WHEN nullif(l.l_returnflag, 'N') IS NOT NULL THEN nullif(l.l_returnflag, 'N')
            WHEN nullif(l.l_linestatus, 'O') IS NOT NULL THEN nullif(l.l_linestatus, 'O')
            WHEN nullif(o.o_orderstatus, 'O') IS NOT NULL THEN nullif(o.o_orderstatus, 'O')
            ELSE NULL END AS legacy_number
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
"""


def q_branch_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C10 hierarchy branch (patient_is_subscriber? routes L2010BA vs
    L2010CA, lib/hippo_claim_crossover.rb:91-97, :269-275, :298-300).
    Implemented as union-of-filtered-branches to show the routing shape;
    Catalyst still pushes each branch's filter into the scan."""
    c = t(spark, sf_dir, "customer")
    is_sub = F.col("c_acctbal") >= 0
    subscriber_branch = c.where(is_sub).select(
        F.col("c_custkey").alias("patient_id"),
        F.col("c_name").alias("patient_name"),
        F.lit("subscriber").alias("patient_source"),
    )
    dependent_branch = c.where(~is_sub).select(
        F.col("c_custkey").alias("patient_id"),
        F.upper(F.col("c_mktsegment")).alias("patient_name"),
        F.lit("dependent").alias("patient_source"),
    )
    return subscriber_branch.unionByName(dependent_branch)


ORACLE_BRANCH_ROUTE = """
SELECT c_custkey AS patient_id,
       CASE WHEN c_acctbal >= 0 THEN c_name ELSE upper(c_mktsegment) END AS patient_name,
       CASE WHEN c_acctbal >= 0 THEN 'subscriber' ELSE 'dependent' END AS patient_source
FROM customer
"""


def q_parse_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 raw hierarchical-text parse (lib/hippo_claim_crossover.rb:11):
    schema-on-read from a FLAT segment/loop text — the one reference
    face (`Hippo::...::L2000A.new.parse(string)`) the parquet-star
    queries never exercised.

    The fixture corpus carries no EDI text, so stage 1 *serializes* a
    deterministic X12-shaped document per claim from the star schema —
    segments separated by ``~``, elements by ``*``, exactly the 837
    wire shape: one ``CLM`` header (id, integer-cents total, status),
    one ``DTP`` date segment (yyyyMMdd), and one sorted ``SV1`` per
    service line (line-no, cents charge, units).  Stage 2 is the real
    operator — parse ONE text column back into the loop tree with
    built-ins only: ``split`` on the segment/element separators,
    ``filter``+``startswith`` for loop routing, ``transform`` into
    arrays-of-structs, and a row-local ``aggregate`` fold over the
    service loop.  No UDF, no explode-shuffle: the whole parse +
    per-claim rollup runs inside one codegen map stage, which is the
    100 TB plan for claim-per-row EDI ingest (stage 1 exists only to
    synthesize the input; a real pipeline starts at stage 2's text
    column).  Money rides integer cents end-to-end (serialize
    ``floor(x*100+0.5)``, parse ``cast(long)``, one double division at
    the end), so the round-trip is exact.

    The oracle is the round-trip identity: ``parse(serialize(claim)) ==
    claim``, i.e. plain SQL over the original star tables — a hash
    match proves the parser reconstructs every field bit-exactly.
    """
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    # -- stage 1: serialize (fixture synthesis only) --
    sv1 = li.select(
        "l_orderkey",
        F.concat_ws(
            "*", F.lit("SV1"),
            F.col("l_linenumber").cast("string"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long").cast("string"),
            F.col("l_quantity").cast("int").cast("string")).alias("seg"))
    # sort_array over the rendered segment strings: deterministic even
    # under fully-duplicated service lines (equal strings are
    # interchangeable in the concat).
    lines_txt = (sv1.groupBy("l_orderkey")
                 .agg(F.array_join(F.sort_array(F.collect_list("seg")),
                                   "~").alias("svtxt")))
    edi = (lines_txt
           .join(o, lines_txt.l_orderkey == o.o_orderkey)
           .select(F.concat(
               F.lit("CLM*"), F.col("o_orderkey").cast("string"),
               F.lit("*"),
               F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
               .cast("long").cast("string"),
               F.lit("*"), F.col("o_orderstatus"),
               F.lit("~DTP*472*"),
               F.date_format("o_orderdate", "yyyyMMdd"),
               F.lit("~"), F.col("svtxt"), F.lit("~")).alias("edi_text")))
    # -- stage 2: the parser (map-only; input is ONE text column) --
    segs = F.split(F.col("edi_text"), "~")
    clm = F.split(F.element_at(
        F.filter(segs, lambda s: F.startswith(s, F.lit("CLM*"))), 1), "\\*")
    dtp = F.split(F.element_at(
        F.filter(segs, lambda s: F.startswith(s, F.lit("DTP*"))), 1), "\\*")
    services = F.transform(
        F.filter(segs, lambda s: F.startswith(s, F.lit("SV1*"))),
        lambda s: F.struct(
            F.element_at(F.split(s, "\\*"), 2).cast("int").alias("line_no"),
            F.element_at(F.split(s, "\\*"), 3).cast("long").alias("cents"),
            F.element_at(F.split(s, "\\*"), 4).cast("int").alias("units")))
    return edi.select(
        F.element_at(clm, 2).cast("long").alias("claim_id"),
        F.element_at(clm, 4).alias("claim_status"),
        F.round(F.element_at(clm, 3).cast("long").cast("double") / 100, 2)
        .alias("claim_total"),
        F.to_date(F.element_at(dtp, 3), "yyyyMMdd").cast("timestamp_ntz")
        .alias("claim_date"),
        F.size(services).cast("long").alias("n_services"),
        F.round(
            F.aggregate(services, F.lit(0).cast("long"),
                        lambda acc, s: acc + s.cents)
            .cast("double") / 100, 2).alias("total_charge"),
        F.array_max(F.transform(services, lambda s: s.units))
        .alias("max_units"))


ORACLE_PARSE_TREE = """
SELECT o.o_orderkey AS claim_id,
       o.o_orderstatus AS claim_status,
       round(CAST(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)
                  AS DOUBLE) / 100, 2) AS claim_total,
       CAST(CAST(o.o_orderdate AS DATE) AS TIMESTAMP) AS claim_date,
       CAST(count(*) AS BIGINT) AS n_services,
       round(CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS DOUBLE) / 100, 2) AS total_charge,
       max(CAST(l.l_quantity AS INT)) AS max_units
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY 1, 2, 3, 4
"""


SPECS: dict[str, QuerySpec] = {
    "q_crossover": QuerySpec(q_crossover, ORACLE_CROSSOVER,
                             "flagship crossover denormalization"),
    "q_scan": QuerySpec(q_scan, ORACLE_SCAN, "S1 pushdown scan"),
    "q_sink": QuerySpec(q_sink, ORACLE_SINK, "S3 parquet write+readback"),
    "q_project_rename": QuerySpec(q_project_rename, ORACLE_PROJECT_RENAME,
                                  "P1 wide projection"),
    "q_parent_denorm": QuerySpec(q_parent_denorm, ORACLE_PARENT_DENORM,
                                 "P3 parent back-reference"),
    "q_filter_first": QuerySpec(q_filter_first, ORACLE_FILTER_FIRST,
                                "F1 first-match per group"),
    "q_filter_eq": QuerySpec(q_filter_eq, ORACLE_FILTER_EQ, "F2 equality filter"),
    "q_filter_notnull": QuerySpec(q_filter_notnull, ORACLE_FILTER_NOTNULL,
                                  "F3 null guard"),
    "q_having": QuerySpec(q_having, ORACLE_HAVING, "F4 HAVING on derived agg"),
    "q_join_inner": QuerySpec(q_join_inner, ORACLE_JOIN_INNER, "J1 equi-join"),
    "q_join_broadcast": QuerySpec(q_join_broadcast, ORACLE_JOIN_BROADCAST,
                                  "J2 broadcast dims"),
    "q_join_left": QuerySpec(q_join_left, ORACLE_JOIN_LEFT, "J3 left outer"),
    "q_join_semi": QuerySpec(q_join_semi, ORACLE_JOIN_SEMI, "J4 semi"),
    "q_join_anti": QuerySpec(q_join_anti, ORACLE_JOIN_ANTI, "J5 anti"),
    "q_agg_sum": QuerySpec(q_agg_sum, ORACLE_AGG_SUM, "A1+A3 grouped sum"),
    "q_agg_exists": QuerySpec(q_agg_exists, ORACLE_AGG_EXISTS, "A2 exists"),
    "q_case_2way": QuerySpec(q_case_2way, ORACLE_CASE_2WAY, "C1"),
    "q_case_multi": QuerySpec(q_case_multi, ORACLE_CASE_MULTI, "C2"),
    "q_case_struct": QuerySpec(q_case_struct, ORACLE_CASE_STRUCT, "C3"),
    "q_case_dict": QuerySpec(q_case_dict, ORACLE_CASE_DICT, "C4"),
    "q_bool_eq": QuerySpec(q_bool_eq, ORACLE_BOOL_EQ, "C5"),
    "q_bool_or": QuerySpec(q_bool_or, ORACLE_BOOL_OR, "C9 (B1 intended)"),
    "q_coalesce2": QuerySpec(q_coalesce2, ORACLE_COALESCE2, "C6/C7"),
    "q_coalesce_pair": QuerySpec(q_coalesce_pair, ORACLE_COALESCE_PAIR, "C8"),
    "q_branch_route": QuerySpec(q_branch_route, ORACLE_BRANCH_ROUTE, "C10"),
    "q_parse_tree": QuerySpec(q_parse_tree, ORACLE_PARSE_TREE,
                              "S2 raw segment/loop text parse "
                              "(schema-on-read round-trip)"),
}
