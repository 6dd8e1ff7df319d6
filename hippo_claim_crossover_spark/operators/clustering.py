"""Distributed k-means (Lloyd's algorithm) over a vector column — the
semantic-clustering primitive of a training-data curation pipeline
(cluster-balanced sampling, topic discovery, SemDeDup-style pruning).

Scale shape, per Lloyd iteration:

- **Assignment is map-side and shuffle-free.** The C centroids are carried
  as a single broadcast row holding an ``array<struct<cent_id, cv, cnrm>>``;
  every vector scores all C centroids inside one whole-stage-codegen'd
  projection and picks the argmax via ``array_min`` over
  ``struct(-cosine, cent_id)`` (struct ordering = max cosine, min-id
  tiebreak). No N-row shuffle, no N×C intermediate — at 100 TB the
  assignment stage is embarrassingly parallel.
- **The update shuffles only C×D rows.** Member vectors posexplode to
  (cell, dim, micros) and partial-aggregate map-side, so the exchange for
  the new centroids carries at most partitions×C×D partial sums — never the
  data. (Contrast groupBy(vec_id) argmax formulations, which shuffle N rows
  per iteration.)
- **Exact-integer means make the iteration engine-portable.** Components
  are quantized to integer micros (``floor(x·1e6 + 0.5)``, round-half-up)
  *before* summation, so the per-cell sums are exact integers — immune to
  the float-addition order differences that would otherwise let two engines
  drift apart across iterations — and the mean is a single deterministic
  IEEE division. This is what lets an *iterative* algorithm hash-match a
  DuckDB oracle bit-for-bit (same trick as plans/base.money_sum).

Centroids stay lazy DataFrames (fixed small iteration count ⇒ bounded plan
depth). A production long-running fit would collect the C×D centroid table
(KBs, independent of N) to the driver per round — the canonical k-means
shape — or materialize it; see operators/graph.py for the same
lineage-control trade in the components loop.

The reference has no clustering (319-line field-mapper,
lib/hippo_claim_crossover.rb); this is §2b training-data-pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hippo_claim_crossover_spark.functions.scalar import duck_round
from hippo_claim_crossover_spark.operators.similarity import (
    dot,
    ivf_centroids,
    l2_norm,
)

MICROS = 1e6


def _micros(x: Column) -> Column:
    """Round-half-up integer micros — deterministic per element, identical
    to the oracle's ``CAST(floor(x*1e6+0.5) AS BIGINT)``."""
    return F.floor(x * F.lit(MICROS) + F.lit(0.5))


def kmeans_assign(df: DataFrame, cents: DataFrame, id_col: str = "vec_id",
                  vec_col: str = "v") -> DataFrame:
    """(id, v, cell) nearest-centroid assignment by cosine, 6dp-rounded
    with cent_id tiebreak (engine-deterministic argmax).

    ``cents`` (cent_id, cv) collapses to ONE broadcast row carrying all
    centroids as an array, so the big side is never joined row-to-row:
    scoring + argmax run as a map-side expression over the array —
    shuffle-free, unlike a groupBy(id).min_by over an N×C join."""
    packed = (
        cents.select(F.struct(
            F.col("cent_id"), F.col("cv"),
            l2_norm(F.col("cv")).alias("cnrm")).alias("c"))
        .agg(F.array_sort(F.collect_list("c")).alias("cents"))
    )
    nrm = l2_norm(F.col(vec_col))
    best = F.array_min(F.transform(
        F.col("cents"),
        lambda c: F.struct(
            (-duck_round(dot(F.col(vec_col), c["cv"]) / (nrm * c["cnrm"]),
                          6)).alias("ncos"),
            c["cent_id"].alias("cid"))))
    return (
        df.crossJoin(F.broadcast(packed))
        .select(id_col, vec_col, best["cid"].alias("cell"))
    )


def kmeans_assign_arrow(df: DataFrame, cent_rows: list,
                        id_col: str = "vec_id",
                        vec_col: str = "v") -> DataFrame:
    """(id, v, cell) nearest-centroid assignment against DRIVER-HELD
    centroids — the vectorized fast path :func:`kmeans_fit` uses.

    ``cent_rows`` is the collected ``[(cent_id, cv), ...]`` sorted by
    cent_id (C×D doubles — KBs, independent of N; collecting centroids
    per Lloyd round is the canonical k-means shape). The kernel is one
    ``mapInArrow`` map — no join, no shuffle, no per-row interpreted
    higher-order-function eval (the expression form in
    :func:`kmeans_assign` costs ~5µs × N × C — the r12 century run
    measured it dominating q_semdedup at 200k×3k).

    Bit-compatibility contract (same as pair_cosine_arrow): dot products
    and squared norms accumulate ONE DIMENSION AT A TIME
    (``acc += V[:, d:d+1] * C[:, d]``), reproducing the left-fold
    association order of the HOF ``aggregate`` and of DuckDB's
    sequential ``list_dot_product`` on identical IEEE doubles; the
    cosine is rounded with the identical ``floor(x·1e6+0.5)/1e6``
    formula, and the argmax takes the FIRST maximum over the
    cent_id-ascending axis — exactly ``array_min(struct(-cos, cid))``."""
    import numpy as np

    from pyspark.sql import types as T

    ids = np.asarray([int(r[0]) for r in cent_rows], dtype=np.int64)
    assert list(ids) == sorted(ids), "cent_rows must be cent_id-sorted"
    C = np.asarray([list(r[1]) for r in cent_rows], dtype=np.float64)
    cn = np.zeros(C.shape[0], dtype=np.float64)
    for d in range(C.shape[1]):
        cn += C[:, d] * C[:, d]
    cn = np.sqrt(cn)
    fields = {f.name: f for f in df.schema.fields}
    out_schema = T.StructType(
        [fields[id_col], fields[vec_col],
         T.StructField("cell", T.LongType())])

    def assign(batches):
        import numpy as np  # noqa: F811 — worker-side import
        import pyarrow as pa
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            V = np.asarray(b.column(vec_col).flatten(),
                           dtype=np.float64).reshape(n, -1)
            acc = np.zeros((n, C.shape[0]), dtype=np.float64)
            nv = np.zeros(n, dtype=np.float64)
            for d in range(V.shape[1]):
                acc += V[:, d:d + 1] * C[:, d]
                nv += V[:, d] * V[:, d]
            nv = np.sqrt(nv)
            cos = np.floor(acc / (nv[:, None] * cn[None, :]) * 1e6
                           + 0.5) / 1e6
            cell = ids[np.argmax(cos, axis=1)]
            yield pa.RecordBatch.from_arrays(
                [b.column(id_col), b.column(vec_col),
                 pa.array(cell, type=pa.int64())],
                names=[id_col, vec_col, "cell"])

    return df.select(id_col, vec_col).mapInArrow(assign, out_schema)


def kmeans_update(assigned: DataFrame, vec_col: str = "v") -> DataFrame:
    """New centroids (cent_id, cv) = element-wise mean of member vectors,
    computed over exact integer micros. posexplode → partial-agg'd
    groupBy(cell, dim) → rebuild ordered arrays; the exchange carries C×D
    partial sums, not vectors. Cells that lost every member drop out
    (standard Lloyd; both engines drop them identically)."""
    m = assigned.select(
        "cell",
        F.posexplode(F.transform(F.col(vec_col), _micros)).alias("i", "m"))
    means = (
        m.groupBy("cell", "i")
        .agg(F.sum("m").alias("s"), F.count(F.lit(1)).alias("n"))
        # exactly CAST(s AS DOUBLE)/CAST(n AS DOUBLE)/1e6 in the oracle
        .select("cell", "i",
                (F.col("s").cast("double") / F.col("n").cast("double")
                 / F.lit(MICROS)).alias("mu"))
    )
    return (
        means.groupBy("cell")
        .agg(F.transform(F.array_sort(F.collect_list(F.struct("i", "mu"))),
                         lambda s: s["mu"]).alias("cv"))
        .select(F.col("cell").alias("cent_id"), "cv")
    )


def kmeans_fit(df: DataFrame, n_cells: int, iters: int,
               id_col: str = "vec_id",
               vec_col: str = "v") -> tuple[DataFrame, DataFrame]:
    """``iters`` Lloyd rounds from deterministic hash-sampled seeds
    (:func:`ivf_centroids` — content-independent, oracle-reproducible).
    Returns ``(assign, cents)``: the final assignment (id, v, cell) under
    the last centroids, and those centroids (cent_id, cv).

    Each round COLLECTS the centroid table to the driver (C×D doubles —
    KBs, independent of N; bounded by the caller's cell cap) and assigns
    via the Arrow matmul kernel (:func:`kmeans_assign_arrow`), so per
    round the cluster does exactly one scan of ``df`` with a vectorized
    map — the canonical distributed-k-means shape. The collect also cuts
    the lineage between rounds for free (each round's plan starts from a
    literal centroid frame, not ``iters`` nested Lloyd rounds). Values
    are bit-identical to the expression path (see the kernel's
    bit-compatibility contract), which remains for broadcast-only
    callers."""
    spark = df.sparkSession
    cents = ivf_centroids(df, n_cells, id_col=id_col, vec_col=vec_col)
    for _ in range(iters):
        crows = [(r[0], list(r[1]))
                 for r in cents.orderBy("cent_id").collect()]
        cents = kmeans_update(
            kmeans_assign_arrow(df, crows, id_col=id_col, vec_col=vec_col),
            vec_col=vec_col)
    crows = [(r[0], list(r[1])) for r in cents.orderBy("cent_id").collect()]
    from hippo_claim_crossover_spark.io import local_frame
    cents_lit = local_frame(spark, crows, "cent_id long, cv array<double>")
    return (kmeans_assign_arrow(df, crows, id_col=id_col, vec_col=vec_col),
            cents_lit)
