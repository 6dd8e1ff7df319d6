"""Similarity-search operators over any DataFrame with a vector column.

Scale shapes (SCALE.md): brute-force against one query vector is a
broadcast + map-side score + TakeOrdered (linear, no big-side shuffle);
all-pairs search goes through SRP-LSH bucket ids so neighbor candidates
come from an equi-join, never a cross join. ``plans/similarity.py``
applies these to the fixture ``embeddings`` table with DuckDB oracles.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from hippo_claim_crossover_spark.functions.scalar import duck_round
from hippo_claim_crossover_spark.session import materialize


def dot(a: Column, b: Column) -> Column:
    """JVM-side dot product via higher-order functions (no UDF)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(v: Column) -> Column:
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))


def srp_hyperplane(plane_idx: int, dim: int) -> list[float]:
    """Deterministic ±1 hyperplane from md5 bits — seedless, so any engine
    (or the DuckDB oracle) can reproduce the same family."""
    return [1.0 if hashlib.md5(f"plane:{plane_idx}:dim:{d}".encode())
            .digest()[0] & 1 else -1.0 for d in range(dim)]


# Bucket-sizing policy for knn_blocked: planes grow with table size so the
# expected bucket population stays bounded; independent plane families
# (disjoint plane-index ranges) recover the recall finer buckets cost.
# Target 32: candidate pairs ≈ N·32·families, and the per-pair cosine is an
# interpreted higher-order-function eval (~5µs) — measured at sf0.1, 32
# halves the pair stage vs 64 with no visible recall loss across 2 families.
TARGET_BUCKET = 32
MIN_PLANES = 4
# 2^24 = 16.7M buckets keeps expected population ≤ TARGET_BUCKET out to
# ~537M vectors (the md5-derived family is cheap at any plane count; the
# clamp only bounds the oracle SQL size). A 16-plane cap would re-quadratize
# pair work beyond ~2M vectors — the round-1 pathology displaced, not fixed.
MAX_PLANES = 24
N_FAMILIES = 2
FAMILY_STRIDE = 1000


def planes_for(n_rows: int, target_bucket_size: int = TARGET_BUCKET,
               min_planes: int = MIN_PLANES,
               max_planes: int = MAX_PLANES) -> int:
    """Smallest plane count p with ``target_bucket_size * 2^p >= n_rows``
    (expected bucket population ≤ target), clamped to
    [min_planes, max_planes]. Integer-only — no libm log2 — so the DuckDB
    oracle reproduces the identical count from its own COUNT(*)."""
    p = 0
    while p < max_planes and target_bucket_size * (1 << p) < n_rows:
        p += 1
    return max(min_planes, p)


def srp_family(family: int, n_planes: int, dim: int) -> list[list[float]]:
    """One independent deterministic plane family: family ``f`` draws plane
    indices ``f*FAMILY_STRIDE + p``, so families never share a hyperplane."""
    return [srp_hyperplane(family * FAMILY_STRIDE + p, dim)
            for p in range(n_planes)]


def srp_bucket(v: Column, planes: list[list[float]]) -> Column:
    """Signed-random-projection bucket id: sign(dot(v, plane_p)) per plane
    packed into an integer — the LSH equi-join key."""
    acc = None
    for p, plane in enumerate(planes):
        arr = F.array(*[F.lit(c) for c in plane])
        bit = F.when(dot(v, arr) > 0, F.lit(1 << p)).otherwise(F.lit(0))
        acc = bit if acc is None else acc + bit
    return acc.cast("long")


def _round6(c: Column) -> Column:
    return duck_round(c, 6)


def pair_cosine_arrow(pairs: DataFrame, nd: int = 4,
                      va_col: str = "va", vb_col: str = "vb",
                      out_col: str = "cosine") -> DataFrame:
    """Batch-score candidate pairs carrying pre-normalized vectors in
    ``va_col``/``vb_col``: every other column passes through, the vector
    columns are replaced by one rounded-cosine double.

    This is the vectorized fast path for per-PAIR scoring (the hot stage
    of knn_blocked / embed_near_pairs, where the pair count is N×bucket —
    far larger than N): a ``mapInArrow`` numpy kernel scores a whole Arrow
    batch per call instead of one interpreted higher-order-function eval
    per pair (~5µs each — the round-4 bench's single most expensive plan).
    Narrow map, no shuffle added; the join/window shape around it is
    unchanged.

    Bit-compatibility contract (what keeps the DuckDB oracles exact): the
    kernel accumulates ``acc += va[:,d]*vb[:,d]`` one dimension at a time,
    reproducing the left-fold association order of the HOF
    ``aggregate(zip_with(a,b,(x,y)->x*y), 0.0, +)`` — and of DuckDB's
    sequential ``list_dot_product`` — on identical IEEE doubles, then
    applies the same ``floor(x*10^nd + 0.5)/10^nd`` rounding as
    :func:`duck_round`. A BLAS dot (``np.einsum``/``A@B``) would pairwise-
    sum in a different order and flip rare last-ulp roundings.

    Vectors must be non-null and fixed-length within a batch (true for any
    embedding table worth the name); ragged input fails the reshape loudly.
    """
    passthrough = [f for f in pairs.schema.fields
                   if f.name not in (va_col, vb_col)]
    names = [f.name for f in passthrough]
    out_schema = T.StructType(
        passthrough + [T.StructField(out_col, T.DoubleType())])
    scale = float(10 ** nd)

    def score(batches):
        import numpy as np
        import pyarrow as pa
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            va = np.asarray(b.column(va_col).flatten(),
                            dtype=np.float64).reshape(n, -1)
            vb = np.asarray(b.column(vb_col).flatten(),
                            dtype=np.float64).reshape(n, -1)
            acc = np.zeros(n, dtype=np.float64)
            for d in range(va.shape[1]):
                acc += va[:, d] * vb[:, d]
            cos = np.floor(acc * scale + 0.5) / scale
            yield pa.RecordBatch.from_arrays(
                [b.column(nm) for nm in names]
                + [pa.array(cos, type=pa.float64())],
                names=names + [out_col])

    return pairs.mapInArrow(score, out_schema)


def srp_keys_arrow(df: DataFrame, fams: list[list[list[float]]],
                   id_col: str = "vec_id",
                   vec_col: str = "v") -> DataFrame:
    """(id, _vn, _bs) rows: unit-normalized vector + one SRP bucket id per
    plane family, computed in a single Arrow numpy kernel.

    Why not the declarative ``srp_bucket`` expression: with adaptive plane
    counts the bucket expression embeds families × planes × dim literal
    arrays (≈1,400 literals at the fixture's 11 planes) each wrapped in an
    ``aggregate(zip_with(...))`` fold — Janino spends seconds compiling it
    (the dominant cost of the round-4 bench's q_sim_knn_blocked at 4.9s)
    and then evaluates every fold interpreted anyway (higher-order
    functions never enter whole-stage codegen). One ``mapInArrow`` over
    the N input rows replaces all of it: planes live as a numpy constant
    in the closure, and the per-row work is ~dim×planes vectorized mults.
    Narrow map — no shuffle, no plan-shape change downstream.

    Bit-compatibility: per plane the dot accumulates one dimension at a
    time over the RAW vector (``acc += v[:,d] * plane[d]``) and the norm
    as ``acc += v[:,d]**2`` — the exact left-fold order of the HOF
    ``dot``/``l2_norm`` they replace and of DuckDB's ``list_dot_product``
    in the oracles; ``sqrt`` and the ``> 0`` sign test are IEEE-identical
    across engines.
    """
    import numpy as np

    id_field = df.schema[id_col]
    out_schema = T.StructType([
        id_field,
        T.StructField("_vn", T.ArrayType(T.DoubleType())),
        T.StructField("_bs", T.ArrayType(T.LongType())),
    ])
    # dim × n_planes matrix per family, built once driver-side and shipped
    # in the closure (KBs — broadcast-sized at any plane count).
    mats = [np.asarray(f, dtype=np.float64).T for f in fams]

    def keys(batches):
        import pyarrow as pa
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            v = np.asarray(b.column(vec_col).flatten(),
                           dtype=np.float64).reshape(n, -1)
            dim = v.shape[1]
            nsq = np.zeros(n, dtype=np.float64)
            for d in range(dim):
                nsq += v[:, d] * v[:, d]
            vn = v / np.sqrt(nsq)[:, None]
            buckets = np.zeros((n, len(mats)), dtype=np.int64)
            for fi, P in enumerate(mats):
                acc = np.zeros((n, P.shape[1]), dtype=np.float64)
                for d in range(dim):
                    acc += v[:, d:d + 1] * P[d, :]
                buckets[:, fi] = (
                    (acc > 0).astype(np.int64)
                    << np.arange(P.shape[1], dtype=np.int64)).sum(axis=1)
            off = np.arange(0, (n + 1) * dim, dim, dtype=np.int32)
            vn_arr = pa.ListArray.from_arrays(
                pa.array(off), pa.array(vn.reshape(-1)))
            boff = np.arange(0, (n + 1) * len(mats), len(mats),
                             dtype=np.int32)
            bs_arr = pa.ListArray.from_arrays(
                pa.array(boff), pa.array(buckets.reshape(-1)))
            yield pa.RecordBatch.from_arrays(
                [b.column(id_col), vn_arr, bs_arr],
                names=[id_col, "_vn", "_bs"])

    return df.select(id_col, vec_col).mapInArrow(keys, out_schema)


def ivf_centroids(df: DataFrame, n_cells: int, id_col: str = "vec_id",
                  vec_col: str = "v") -> DataFrame:
    """Deterministic hash-sampled centroids: the ``n_cells`` vectors with
    the smallest (md5(id), id) — content-independent, engine-portable, and
    a stand-in for k-means (true IVF training would refine these by
    alternating assign/mean with the exact same plan shapes; the sampled
    version keeps the oracle reproducible)."""
    return (
        df.select(F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cv"))
        .withColumn("_ck", F.md5(F.col("cent_id").cast("string")))
        .orderBy("_ck", "cent_id")
        .limit(n_cells)
        .drop("_ck")
    )


def ivf_assign(df: DataFrame, cents: DataFrame, id_col: str = "vec_id",
               vec_col: str = "v") -> DataFrame:
    """(id, cell) nearest-centroid assignment. The C centroids broadcast;
    the N×C cosine scoring is map-side, and ``min_by`` over a
    (−cos, cent_id) struct is a declarative aggregate with partial
    (map-side) combine — the shuffle carries ~one row per vector, never
    N×C. Cosines are rounded to 6dp with cent_id tiebreak so the argmax
    is engine-deterministic."""
    e = df.withColumn("_nrm", l2_norm(F.col(vec_col)))
    c = cents.withColumn("_cnrm", l2_norm(F.col("cv")))
    cos = _round6(dot(F.col(vec_col), F.col("cv"))
                  / (F.col("_nrm") * F.col("_cnrm")))
    return (
        e.join(F.broadcast(c))
        .select(id_col, cos.alias("_cos"), "cent_id")
        .groupBy(id_col)
        .agg(F.min_by("cent_id",
                      F.struct((-F.col("_cos")).alias("nc"),
                               F.col("cent_id").alias("ci"))).alias("cell"))
    )


def ivf_probe_topk(df: DataFrame, cents: DataFrame, assign: DataFrame,
                   query: DataFrame, k: int, nprobe: int,
                   id_col: str = "vec_id",
                   vec_col: str = "v") -> DataFrame:
    """IVF search: rank cells by centroid↔query cosine, scan only the
    ``nprobe`` closest cells, exact top-k within them. The scan side is a
    semi-join against the probed cell ids — at 100 TB (with the
    assignment written out cell-partitioned) this prunes to
    nprobe/n_cells of the data before any vector math."""
    c = cents.withColumn("_cnrm", l2_norm(F.col("cv")))
    ccos = _round6(dot(F.col("cv"), F.col("qv"))
                   / (F.col("_cnrm") * F.col("qnrm")))
    probed = (
        c.join(F.broadcast(query))
        .select("cent_id", ccos.alias("_ccos"))
        .orderBy(F.col("_ccos").desc(), "cent_id")
        .limit(nprobe)
        .select(F.col("cent_id").alias("cell"))
    )
    cand = (
        df.join(assign, id_col)
        .join(F.broadcast(probed), "cell", "left_semi")
    )
    nrm = l2_norm(F.col(vec_col))
    cos = duck_round(dot(F.col(vec_col), F.col("qv")) / (nrm * F.col("qnrm")), 4)
    return (
        cand.join(F.broadcast(query))
        .select(id_col, "cell", cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


# Product-quantization geometry: M_SUB subspaces × K_CODES codes each.
# 8×16 compresses a 64-dim float vector to 8 nibbles (4 bytes) — the PQ
# codes for 100 TB of embeddings fit in ~0.8% of the original footprint,
# which is the whole point: the ADC scan reads codes, never vectors.
PQ_M = 8
PQ_K = 16


def _subslices(v: Column, dim: int, m_sub: int = PQ_M) -> Column:
    """Array of the M contiguous sub-vectors of ``v`` (F.slice is 1-based,
    matching DuckDB list_slice in the oracles)."""
    sub = dim // m_sub
    return F.array(*[F.slice(v, m * sub + 1, sub) for m in range(m_sub)])


def _l2sq(a: Column, b: Column) -> Column:
    """Squared L2 via the dot expansion ‖a‖² − 2a·b + ‖b‖² — three
    left-fold dots instead of a zipped (x−y)² fold, because
    list_dot_product is the one vector primitive both engines evaluate
    bit-identically (the same identity keeps the oracle exact)."""
    return dot(a, a) - F.lit(2.0) * dot(a, b) + dot(b, b)


def pq_codebook(df: DataFrame, dim: int, id_col: str = "vec_id",
                vec_col: str = "v", m_sub: int = PQ_M,
                k_codes: int = PQ_K) -> DataFrame:
    """(m, j, cv) codebook: the ``k_codes`` vectors with the smallest
    (md5(id), id) — the same content-independent hash sampling as
    ivf_centroids, so the oracle reproduces it — each split into
    ``m_sub`` sub-vectors. True PQ training would k-means each subspace;
    the sampled codebook keeps every downstream plan shape identical
    while staying engine-portable. M×K rows (128 here) — broadcast-sized
    at any data scale."""
    samp = (
        df.select(F.col(id_col).alias("sid"), F.col(vec_col).alias("sv"))
        .withColumn("_ck", F.md5(F.col("sid").cast("string")))
        .orderBy("_ck", "sid").limit(k_codes)
    )
    j = F.row_number().over(Window.orderBy("_ck", "sid")) - 1
    return (
        samp.select(j.alias("j"), "sv")
        .select("j", F.posexplode(_subslices(F.col("sv"), dim, m_sub))
                .alias("m", "cv"))
    )


def pq_encode(df: DataFrame, codebook: DataFrame, dim: int,
              id_col: str = "vec_id", vec_col: str = "v",
              m_sub: int = PQ_M) -> DataFrame:
    """(id, m, code) PQ codes: per subspace, the codebook entry with the
    smallest squared L2 to the sub-vector (6dp-rounded, j tiebreak —
    engine-deterministic argmin). The codebook broadcasts; scoring is
    map-side and ``min_by`` partial-aggregates, so the shuffle carries
    M rows per vector — the code table itself, which at scale is written
    out once and reused by every query's ADC scan."""
    sub = df.select(
        id_col, F.posexplode(_subslices(F.col(vec_col), dim, m_sub))
        .alias("m", "sv"))
    d = _round6(_l2sq(F.col("sv"), F.col("cv")))
    return (
        sub.join(F.broadcast(codebook), "m")
        .groupBy(id_col, "m")
        .agg(F.min_by("j", F.struct(d.alias("d"),
                                    F.col("j").alias("jj"))).alias("code"))
    )


def pq_adc_topk(codes: DataFrame, codebook: DataFrame, query: DataFrame,
                k: int, dim: int, id_col: str = "vec_id",
                m_sub: int = PQ_M) -> DataFrame:
    """Asymmetric-distance top-k: build the query's M×K distance table
    (broadcast), look every (m, code) up, sum per vector. The per-cell
    distances go through exact integer micros (floor(d·1e6+0.5) as LONG)
    so the M-way sum is order-insensitive and bit-identical across
    engines — the same trick as plans/base.money_sum. At 100 TB the scan
    side is the 4-byte-per-vector code table; no vector data is read."""
    qsub = query.select(
        F.posexplode(_subslices(F.col("qv"), dim, m_sub)).alias("m", "qs"))
    dmic = F.floor(_round6(_l2sq(F.col("qs"), F.col("cv"))) * F.lit(1e6)
                   + F.lit(0.5)).cast("long")
    dtab = (qsub.join(F.broadcast(codebook), "m")
            .select("m", "j", dmic.alias("dmic")))
    return (
        codes.join(F.broadcast(dtab),
                   (codes.m == dtab.m) & (codes.code == dtab.j))
        .groupBy(id_col)
        .agg((F.sum("dmic").cast("double") / F.lit(1e6)).alias("approx_d2"))
        .orderBy("approx_d2", id_col)
        .limit(k)
    )


def cosine_topk(df: DataFrame, query: DataFrame, k: int,
                id_col: str = "vec_id", vec_col: str = "v") -> DataFrame:
    """Top-k rows of ``df`` by cosine similarity to the single-row
    ``query`` (columns ``qv``/``qnrm``) — broadcast + TakeOrdered, the
    exact-scoring baseline. Scores rounded to 4dp with id tiebreak for
    cross-engine determinism."""
    nrm = l2_norm(F.col(vec_col))
    cos = duck_round(dot(F.col(vec_col), F.col("qv")) / (nrm * F.col("qnrm")), 4)
    return (
        df.join(F.broadcast(query))
        .select(id_col, cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def embed_near_pairs(df: DataFrame, dim: int, threshold: float = 0.25,
                     n_planes: int | None = None,
                     target_bucket_size: int = TARGET_BUCKET,
                     max_planes: int = MAX_PLANES,
                     id_col: str = "vec_id",
                     vec_col: str = "v") -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine ≥ ``threshold``) blocked on
    the family-0 SRP bucket — the same adaptive planes_for policy as
    :func:`knn_blocked`, single family (near-dups at high cosine collide
    in any single family with high probability).

    ``n_planes=None`` derives the plane count from ``df.count()`` — one
    metadata-only job on Parquet sources, but a full scan on anything
    without count stats (JDBC, unbounded views); pass it explicitly there,
    exactly like knn_blocked's escape hatch. Pair scoring goes through the
    :func:`pair_cosine_arrow` numpy kernel (same fold order + floor
    rounding as the HOF/duck_round path it replaced), so emitted cosines
    use the engine-portable floor formula everywhere."""
    if n_planes is None:
        n_planes = planes_for(df.count(), target_bucket_size,
                              max_planes=max_planes)
    planes = srp_family(0, n_planes, dim)
    # One materialization for both self-join sides (see knn_blocked).
    n = materialize(srp_keys_arrow(df, [planes], id_col, vec_col)
                    .select(id_col, F.col("_vn").alias("vn"),
                            F.col("_bs")[0].alias("bucket")),
                    "srp_keys")
    a, b = n.alias("a"), n.alias("b")
    raw = (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("vec_a"),
                F.col(f"b.{id_col}").alias("vec_b"),
                F.col("a.vn").alias("va"), F.col("b.vn").alias("vb"))
    )
    return (pair_cosine_arrow(raw, nd=4)
            .where(F.col("cosine") >= threshold))


def knn_blocked(df: DataFrame, dim: int, k: int = 3,
                n_planes: int | None = None,
                n_families: int = N_FAMILIES,
                target_bucket_size: int = TARGET_BUCKET,
                max_planes: int = MAX_PLANES,
                id_col: str = "vec_id", vec_col: str = "v") -> DataFrame:
    """Per-vector approximate top-k neighbors via SRP-LSH bucket equi-joins
    + windowed top-k — the full ANN query shape, never a cross join.

    100 TB contract: the bucket count GROWS with the table. ``n_planes``
    defaults to :func:`planes_for`(count), keeping expected bucket
    population ≤ ``target_bucket_size`` so pairwise work stays
    ~O(N·target) instead of the O(N²/2^p) a fixed plane count degrades to
    (the count() is one metadata-only parquet job at plan-build time; pass
    ``n_planes`` explicitly to skip it). Recall lost to finer buckets is
    recovered by unioning candidates from ``n_families`` independent plane
    families; the first-colliding-family join rule keeps the family outputs
    disjoint, so no dedup shuffle. Vectors are pre-normalized once
    (``x/‖v‖``) so each candidate pair costs one plain dot product — no
    per-pair division.
    """
    if n_planes is None:
        n_planes = planes_for(df.count(), target_bucket_size,
                              max_planes=max_planes)
    fams = [srp_family(f, n_planes, dim) for f in range(n_families)]
    # Banding formulation: one (family, bucket) row per vector per family,
    # single self-join on the composite key — one join branch instead of
    # n_families unioned joins. Each row carries the full bucket array so
    # the join can apply the first-colliding-family rule below.
    # Normalization + bucket ids come from the srp_keys_arrow numpy kernel
    # (the declarative srp_bucket expression at adaptive plane counts is a
    # multi-second Janino compile plus interpreted HOF folds — see the
    # kernel docstring); the explode stays JVM-side.
    # Materialized once: the self-join would otherwise run the scan +
    # Arrow key kernel once per side — two Python stages where one
    # suffices (measured ~2× on the cold run at sf0.1).
    keyed = materialize(srp_keys_arrow(df, fams, id_col, vec_col)
                        .select(id_col, "_vn", "_bs",
                                F.posexplode("_bs").alias("_fam", "_bk")),
                        "srp_band_keys")
    a, b = keyed.alias("a"), keyed.alias("b")
    # First-colliding-family rule: family f emits a pair only when no
    # earlier family already bucketed it together — the family outputs are
    # disjoint by construction, so no candidate-dedup shuffle is needed
    # (their union is exactly the deduped union of all family collisions).
    # Unrolled statically over the known family count: plain getItem/equality
    # stays on the codegen path, unlike a higher-order exists() which would
    # be interpreted per candidate pair inside the join.
    earlier_hit = F.lit(False)
    for f in range(1, n_families):
        hit_f = F.lit(False)
        for i in range(f):
            hit_f = hit_f | (F.col("a._bs")[i] == F.col("b._bs")[i])
        earlier_hit = earlier_hit | ((F.col("a._fam") == f) & hit_f)
    # Per-pair scoring is the hot stage (N·bucket pairs ≫ N rows): the
    # joined candidate stream carries both normalized vectors into the
    # Arrow numpy kernel, which batch-computes the identical fold-order
    # cosine + floor rounding the interpreted HOF expression produced.
    raw = (
        a.join(b, (F.col("a._fam") == F.col("b._fam"))
               & (F.col("a._bk") == F.col("b._bk"))
               & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
               & ~earlier_hit)
        .select(F.col(f"a.{id_col}").alias(id_col),
                F.col(f"b.{id_col}").alias("neighbor_id"),
                F.col("a._vn").alias("va"), F.col("b._vn").alias("vb"))
    )
    cand = pair_cosine_arrow(raw, nd=4)
    w = Window.partitionBy(id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    return (cand.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= k)
            .select(id_col, "neighbor_id", "cosine",
                    F.col("rk").alias("rank")))
