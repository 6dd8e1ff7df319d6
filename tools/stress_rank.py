"""Reproduce the SCALE.md percentile de-cliff measurement.

Usage: python tools/stress_rank.py [n_rows] [n_groups]   (default 20M, 3)

Builds a synthetic (group, value) table and times two EXACT grouped
p50/p95 plans that produce identical values:

- ``aggregate``: Spark's exact ``percentile`` aggregate — its reduce runs
  as ``n_groups`` tasks, each buffering O(rows/group) values (the
  low-cardinality-key OOM cliff the r5 verdict flagged);
- ``distributed``: ``operators/ranking.py grouped_percentiles`` —
  histogram, range shuffle + per-partition running counts + broadcast
  offsets; every stage balanced across all cores, O(1)/row reduce
  state.

Prints both timings twice (first run carries codegen warmup) and
verifies the outputs match exactly.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from hippo_claim_crossover_spark.operators.ranking import (  # noqa: E402
    grouped_percentiles,
)
from hippo_claim_crossover_spark.session import get_spark  # noqa: E402


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000_000
    g = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark("stress_rank")
    spark.sparkContext.setLogLevel("ERROR")
    df = (spark.range(n, numPartitions=32)
          .select((F.col("id") % g).cast("string").alias("g"),
                  (F.pmod(F.xxhash64("id"), F.lit(1_000_000))
                   .cast("double") / 100.0).alias("v")))

    def aggregate():
        return df.groupBy("g").agg(
            F.percentile("v", 0.5).alias("p50"),
            F.percentile("v", 0.95).alias("p95"))

    def distributed():
        return (grouped_percentiles(df, ["g"], "v", [0.5, 0.95])
                .groupBy("g").agg(
                    F.max(F.when(F.col("_p_idx") == 0, F.col("value")))
                    .alias("p50"),
                    F.max(F.when(F.col("_p_idx") == 1, F.col("value")))
                    .alias("p95")))

    results = {}
    for rnd in (1, 2):
        for name, build in (("aggregate", aggregate),
                            ("distributed", distributed)):
            t0 = time.time()
            rows = build().collect()
            dt = time.time() - t0
            results[name] = sorted(map(tuple, rows))
            print(f"run{rnd} {name:12s} {dt:6.2f}s")
    assert results["aggregate"] == results["distributed"], "value mismatch"
    print(f"values identical across both plans "
          f"({n:,} rows, {g} groups)")


if __name__ == "__main__":
    main()
