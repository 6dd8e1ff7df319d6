"""Bucketed co-located join: prove the shuffle disappears.

Writes lineitem+orders bucketed by the join key, then asserts the join
plan contains no Exchange on either side and that results match the
plain (shuffling) join.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hippo_claim_crossover_spark.io import load_table
from hippo_claim_crossover_spark.operators.bucketing import (
    bucketed_join,
    write_bucketed,
)
from hippo_claim_crossover_spark.session import conf_scope


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir, tmp_path_factory):
    base = tmp_path_factory.mktemp("bucketed")
    spark.sql("CREATE DATABASE IF NOT EXISTS bktest")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice")
    write_bucketed(li, "bktest.lineitem_b", "l_orderkey", 8,
                   path=str(base / "li"))
    write_bucketed(o, "bktest.orders_b", "l_orderkey", 8,
                   path=str(base / "o"))
    return "bktest.lineitem_b", "bktest.orders_b"


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    # At fixture scale the small side would auto-broadcast (also shuffle-
    # free, but it hides the co-location property this test pins down —
    # at 100 TB neither fact table is broadcastable). Force the shuffle
    # join strategies for the assertion.
    lt, rt = bucketed_tables
    with conf_scope(spark, {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1"}):
        df = bucketed_join(spark, lt, rt, "l_orderkey")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_bucketed_join_matches_plain_join(spark, sf_dir, bucketed_tables):
    lt, rt = bucketed_tables
    got = (bucketed_join(spark, lt, rt, "l_orderkey")
           .groupBy("l_orderkey")
           .agg(F.count(F.lit(1)).alias("n"),
                F.round(F.sum("l_quantity"), 2).alias("q")))
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    want = (li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("l_orderkey")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("l_quantity"), 2).alias("q")))
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))


def test_bucketed_aggregation_also_avoids_exchange(spark, bucketed_tables):
    """Bonus property: a groupBy on the bucket key needs no shuffle either."""
    lt, _ = bucketed_tables
    df = spark.table(lt).groupBy("l_orderkey").agg(
        F.sum("l_quantity").alias("q"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
