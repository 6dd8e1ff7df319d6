"""Dump .explain('formatted') for named queries to OUT_DIR/<q>_<tag>.txt.

Usage: python tools/dump_query_plans.py OUT_DIR TAG QUERY [QUERY ...]

Reads the fixtures at ``io.DEFAULT_SF_DIR`` (``SPARK_GRAFT_SF_DIR``,
default sf0.1); the per-round plan evidence lives under ``plans/r<N>/``.
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hippo_claim_crossover_spark.io import DEFAULT_SF_DIR  # noqa: E402
from hippo_claim_crossover_spark.plans import ALL_SPECS  # noqa: E402
from hippo_claim_crossover_spark.session import get_spark  # noqa: E402


def main():
    out_dir, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    spark = get_spark("dump_query_plans")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out_dir, exist_ok=True)
    for n in names:
        df = ALL_SPECS[n].fn(spark, DEFAULT_SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"))
        with open(os.path.join(out_dir, f"{n}_{tag}.txt"), "w") as f:
            f.write(plan)
        print(n, "->", os.path.join(out_dir, f"{n}_{tag}.txt"))


if __name__ == "__main__":
    main()
