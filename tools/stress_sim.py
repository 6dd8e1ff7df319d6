"""Similarity-family scale stress: measure the ANN/near-dup operators on a
10×-larger embeddings table than the sf0.1 fixture provides.

The adaptive SRP plane policy (operators/similarity.planes_for) asserts by
formula that expected bucket population stays ≤ TARGET_BUCKET as N grows —
this tool measures it: a 20,000-vector table (same schema/distribution as
the fixture, seed-derived) should grow the blocked/bucketed operators
~linearly in N, not quadratically. Results are recorded in SCALE.md.

Usage: python tools/stress_sim.py [n_small n_big]
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from hippo_claim_crossover_spark.operators import similarity as ops  # noqa: E402
from hippo_claim_crossover_spark.session import (  # noqa: E402
    _SCRATCH_ROOTS,
    get_spark,
)

DIM = 64
SCRATCH = _SCRATCH_ROOTS[0]


def make_table(path: str, n: int, seed: int = 42) -> None:
    """Same shape as the fixture embeddings table: unit-ball gaussian
    vectors with a few planted near-duplicate clusters so embed_near_pairs
    has survivors to emit at every scale."""
    rng = np.random.RandomState(seed)
    base = rng.normal(size=(n, DIM)).astype(np.float32)
    # plant near-dups: every 100th vector is a jittered copy of its
    # predecessor (cosine ≈ 0.995)
    for i in range(100, n, 100):
        base[i] = base[i - 1] + 0.05 * rng.normal(size=DIM).astype(np.float32)
    tbl = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(base), type=pa.list_(pa.float32())),
        "label": pa.array(rng.randint(0, 8, size=n).astype(np.int32)),
    })
    pq.write_table(tbl, path)


def load(spark, path):
    return (spark.read.parquet(path)
            .repartition(spark.sparkContext.defaultParallelism)
            .select("vec_id",
                    F.col("embedding").cast("array<double>").alias("v")))


def timed(label: str, df, reps: int = 2) -> float:
    """Best-of-reps full materialization (noop sink, like bench.py)."""
    best = float("inf")
    for _ in range(reps):
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.time() - t0)
    return best


def run_family(spark, path: str, n: int) -> dict[str, float]:
    e = load(spark, path)
    q = (e.where(F.col("vec_id") == 0)
         .select(F.col("v").alias("qv"),
                 ops.l2_norm(F.col("v")).alias("qnrm")))
    s = e.where(F.col("vec_id") != 0)
    out: dict[str, float] = {}
    out["n_planes"] = ops.planes_for(n)

    out["knn_blocked"] = timed("knn", ops.knn_blocked(e, dim=DIM, k=3,
                                                      n_planes=ops.planes_for(n)))
    out["embed_near_pairs"] = timed(
        "near", ops.embed_near_pairs(e, dim=DIM, threshold=0.25,
                                     n_planes=ops.planes_for(n)))
    cents = ops.ivf_centroids(s, 16)
    assign = ops.ivf_assign(s, cents)
    out["ivf"] = timed("ivf", ops.ivf_probe_topk(s, cents, assign, q,
                                                 k=10, nprobe=4))
    book = ops.pq_codebook(s, DIM)
    codes = ops.pq_encode(s, book, DIM)
    out["pq"] = timed("pq", ops.pq_adc_topk(
        codes, book, q.select("qv"), 10, DIM))
    return out


def main() -> None:
    n_small = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000
    n_big = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000
    spark = get_spark("stress_sim")
    # warm the python worker pool so kernel timings measure the kernels
    spark.range(0, 64, 1, 32).mapInArrow(
        lambda it: it, "id long").write.format("noop").mode("overwrite").save()

    results = {}
    for n in (n_small, n_big):
        path = f"{SCRATCH}/stress_embeddings_{n}.parquet"
        if not os.path.exists(path):
            make_table(path, n)
        results[n] = run_family(spark, path, n)

    ops_list = ["knn_blocked", "embed_near_pairs", "ivf", "pq"]
    print(f"\n{'operator':<18} {'n=%d' % n_small:>10} {'n=%d' % n_big:>10} "
          f"{'ratio':>7}  (10x data)")
    for op in ops_list:
        a, b = results[n_small][op], results[n_big][op]
        print(f"{op:<18} {a:>9.2f}s {b:>9.2f}s {b / a:>6.1f}x")
    print(f"planes_for: {results[n_small]['n_planes']} -> "
          f"{results[n_big]['n_planes']}")


if __name__ == "__main__":
    main()
