"""Similarity search over ``embeddings`` (§2b): brute-force cosine top-k
(the correctness baseline) and signed-random-projection LSH bucketing (the
scale path).

Scale design: brute-force against a single query vector is a broadcast
(1-row dim table) + map-side expression + TakeOrdered — linear, no shuffle
of the big side. For all-pairs search at 100 TB, the SRP-LSH bucket id
turns neighbor search into an equi-join on bucket keys; hyperplanes are
deterministic (md5-seeded at plan-build time), so even the bucket histogram
is oracle-checkable.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hippo_claim_crossover_spark.operators import similarity as ops_sim
from hippo_claim_crossover_spark.plans.base import (
    QuerySpec, r4_sql, r6_sql, t_wide)

DIM = 64
N_PLANES = 8
QUERY_VEC_ID = 0
TOP_K = 10
# NULL-rank ordering sentinel for the ablation's full-outer alignment:
# must sort after every real rank (1..TOP_K), so derive it from TOP_K
# rather than a literal that would interleave if TOP_K grew (r15).
NULL_RANK_SENTINEL = TOP_K + 1


# Hyperplanes come from the operators API (md5-seeded, deterministic) —
# identical constants are baked into both the Spark plan and the oracle SQL.
_PLANES = [ops_sim.srp_hyperplane(p, DIM) for p in range(N_PLANES)]


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings as (vec_id, v double[]) — the module's one reading of
    the vector table, so every query/oracle pair derives from the same
    cast."""
    return t_wide(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))


def _query_vec(e: DataFrame) -> DataFrame:
    """The 1-row broadcast query side (qv, qnrm) for vec_id=QUERY_VEC_ID
    — kept in ONE place: its norm/cast must stay in lockstep with the
    oracles' `q` CTE across every retrieval query."""
    return (e.where(F.col("vec_id") == QUERY_VEC_ID)
            .select(F.col("v").alias("qv"),
                    ops_sim.l2_norm(F.col("v")).alias("qnrm")))


def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k against one query vector (vec_id=0),
    ranked on the rounded score with vec_id tiebreak (deterministic across
    engines). Query side is a broadcast single-row join — no collect()."""
    e = _vectors(spark, sf_dir)
    q = _query_vec(e)
    return ops_sim.cosine_topk(
        e.where(F.col("vec_id") != QUERY_VEC_ID), q, TOP_K)


ORACLE_SIM_TOPK = f"""
WITH n AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
), q AS (SELECT v AS qv, nrm AS qnrm FROM n WHERE vec_id = {QUERY_VEC_ID})
SELECT n.vec_id,
       {r4_sql('list_dot_product(n.v, q.qv) / (n.nrm * q.qnrm)')} AS cosine
FROM n, q
WHERE n.vec_id != {QUERY_VEC_ID}
ORDER BY cosine DESC, vec_id
LIMIT {TOP_K}
"""


def q_sim_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH bucket assignment + histogram: sign(dot(v, hyperplane_p))
    per plane → bucket id. The equi-join key for approximate neighbor
    search at scale; deterministic hyperplanes ⇒ oracle-checked. Bucket
    ids come from the srp_keys_arrow numpy kernel (one code path for
    every SRP bucket computation; same sign-of-fold bits the declarative
    expression produced — the 8×64 plane literals would otherwise be a
    distinct Janino compile unit per query)."""
    e = _vectors(spark, sf_dir)
    return (
        ops_sim.srp_keys_arrow(e, [_PLANES])
        .select(F.col("_bs")[0].alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )


def _sql_plane(plane: list[float]) -> str:
    vals = ", ".join(str(v) for v in plane)
    return f"CAST([{vals}] AS DOUBLE[])"


_SQL_BUCKET = " + ".join(
    f"CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
    f"{_sql_plane(plane)}) > 0 THEN {1 << p} ELSE 0 END"
    for p, plane in enumerate(_PLANES))
ORACLE_SIM_LSH_BUCKETS = f"""
SELECT CAST({_SQL_BUCKET} AS BIGINT) AS bucket, count(*) AS n_vecs
FROM embeddings GROUP BY 1
"""


def q_sim_knn_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector approximate top-3 neighbors — adaptive SRP-LSH: plane
    count scales with COUNT(*) (expected bucket ≤ 64 vectors), candidates
    unioned from 2 independent plane families, vectors pre-normalized once.
    Deterministic via rounded scores + id tiebreaks; the oracle recomputes
    the identical plane count from its own COUNT(*)."""
    e = _vectors(spark, sf_dir)
    return ops_sim.knn_blocked(e, dim=DIM, k=3)


def _bucket_sql_gated(family: int) -> str:
    """Bucket-id SQL for one plane family with every potential plane baked
    in and gated on the runtime plane count ``np`` (column from the params
    CTE) — mirrors planes_for() + srp_family() exactly."""
    planes = ops_sim.srp_family(family, ops_sim.MAX_PLANES, DIM)
    terms = " + ".join(
        f"CASE WHEN {p} < np AND list_dot_product(v, {_sql_plane(plane)}) > 0"
        f" THEN {1 << p} ELSE 0 END"
        for p, plane in enumerate(planes))
    return f"CAST({terms} AS BIGINT)"


# planes_for() in SQL: smallest p with TARGET_BUCKET * 2^p >= COUNT(*),
# clamped — integer-only so it matches the Python computation bit-for-bit.
NP_T_SQL = f"""np_t AS (
  SELECT GREATEST({ops_sim.MIN_PLANES}, COALESCE(
    (SELECT MIN(p) FROM range(0, {ops_sim.MAX_PLANES + 1}) t(p)
     WHERE {ops_sim.TARGET_BUCKET} * (1 << p) >=
           (SELECT count(*) FROM embeddings)),
    {ops_sim.MAX_PLANES})) AS np
)"""


ORACLE_SIM_KNN_BLOCKED = f"""
WITH {NP_T_SQL}, n AS (
  SELECT vec_id,
         list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vn,
         {_bucket_sql_gated(0)} AS b0,
         {_bucket_sql_gated(1)} AS b1
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), np_t
), pairs AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         {r4_sql('list_dot_product(a.vn, b.vn)')} AS cosine
  FROM n a JOIN n b ON a.b0 = b.b0 AND a.vec_id != b.vec_id
  UNION
  SELECT a.vec_id, b.vec_id,
         {r4_sql('list_dot_product(a.vn, b.vn)')}
  FROM n a JOIN n b ON a.b1 = b.b1 AND a.vec_id != b.vec_id
)
SELECT vec_id, neighbor_id, cosine, rk AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
      ORDER BY cosine DESC, neighbor_id) AS rk FROM pairs)
WHERE rk <= 3
"""


N_CELLS = 16
NPROBE = 4


def q_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN against one query vector: deterministic
    hash-sampled centroids → broadcast nearest-centroid assignment →
    probe the ``NPROBE`` closest cells → exact top-k inside them.

    The 100 TB shape: the cell assignment is the partition key — written
    out cell-partitioned, a query touches nprobe/n_cells of the data
    before any vector math, and the centroid table (KBs) broadcasts. The
    probe's candidate pruning is a broadcast semi-join, so the big side
    never shuffles."""
    e = _vectors(spark, sf_dir)
    q = _query_vec(e)
    s = e.where(F.col("vec_id") != QUERY_VEC_ID)
    cents = ops_sim.ivf_centroids(s, N_CELLS)
    assign = ops_sim.ivf_assign(s, cents)
    return ops_sim.ivf_probe_topk(s, cents, assign, q, TOP_K, NPROBE)


ORACLE_SIM_IVF = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS (
  SELECT v AS qv, sqrt(list_dot_product(v, v)) AS qnrm FROM e
  WHERE vec_id = {QUERY_VEC_ID}
), s AS (
  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
  WHERE vec_id != {QUERY_VEC_ID}
), cents AS (
  SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm
  FROM s ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {N_CELLS}
), assign AS (
  SELECT vec_id, cent_id AS cell FROM (
    SELECT s.vec_id, cents.cent_id, row_number() OVER (
      PARTITION BY s.vec_id ORDER BY
      {r6_sql('list_dot_product(s.v, cents.cv) / (s.nrm * cents.cnrm)')} DESC,
      cents.cent_id) AS rn
    FROM s, cents) WHERE rn = 1
), probed AS (
  SELECT cent_id AS cell FROM cents, q
  ORDER BY {r6_sql('list_dot_product(cents.cv, q.qv) / (cents.cnrm * q.qnrm)')}
  DESC, cent_id
  LIMIT {NPROBE}
)
SELECT s.vec_id, assign.cell,
       {r4_sql('list_dot_product(s.v, q.qv) / (s.nrm * q.qnrm)')} AS cosine
FROM s JOIN assign USING (vec_id) JOIN probed ON assign.cell = probed.cell, q
ORDER BY cosine DESC, s.vec_id
LIMIT {TOP_K}
"""


def q_sim_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: hash-sampled per-subspace codebook
    (8 subspaces × 16 codes) → 4-bit-per-subspace encoding → asymmetric
    distance (ADC) top-k against the query's broadcast distance table.

    The 100 TB story is compression: the scan side of the ADC ranking is
    the (vec_id, m, code) table — ~4 bytes of codes per 256-byte vector —
    written once and reused by every query; the codebook and the per-query
    M×K distance table are KB-sized broadcasts, so nothing but the code
    table is ever read or shuffled at query time. Here codes are built in
    the same plan (the fixture is small); operators/similarity.py
    documents the encode/scan split."""
    e = _vectors(spark, sf_dir)
    q = (e.where(F.col("vec_id") == QUERY_VEC_ID)
         .select(F.col("v").alias("qv")))
    s = e.where(F.col("vec_id") != QUERY_VEC_ID)
    book = ops_sim.pq_codebook(s, DIM)
    codes = ops_sim.pq_encode(s, book, DIM)
    return ops_sim.pq_adc_topk(codes, book, q, TOP_K, DIM)


_PQ_SUB = DIM // ops_sim.PQ_M
# Squared L2 via the dot expansion — the same three list_dot_product calls
# (and the same association order) the Spark _l2sq helper evaluates.
_L2SQ = ("(list_dot_product({a}, {a}) - 2.0 * list_dot_product({a}, {b})"
         " + list_dot_product({b}, {b}))")


ORACLE_SIM_PQ = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS (SELECT v AS qv FROM e WHERE vec_id = {QUERY_VEC_ID}),
s AS (SELECT vec_id, v FROM e WHERE vec_id != {QUERY_VEC_ID}),
samp AS (
  SELECT v AS sv, row_number() OVER (
    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j
  FROM s ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {ops_sim.PQ_K}
), code AS (
  SELECT j, m, list_slice(sv, m*{_PQ_SUB}+1, m*{_PQ_SUB}+{_PQ_SUB}) AS cv
  FROM samp, range(0, {ops_sim.PQ_M}) t(m)
), sub AS (
  SELECT vec_id, m, list_slice(v, m*{_PQ_SUB}+1, m*{_PQ_SUB}+{_PQ_SUB}) AS sv
  FROM s, range(0, {ops_sim.PQ_M}) t(m)
), enc AS (
  SELECT vec_id, m, j FROM (
    SELECT sub.vec_id, sub.m, code.j, row_number() OVER (
      PARTITION BY sub.vec_id, sub.m
      ORDER BY {r6_sql(_L2SQ.format(a='sub.sv', b='code.cv'))}, code.j) AS rn
    FROM sub JOIN code ON sub.m = code.m) WHERE rn = 1
), qsub AS (
  SELECT m, list_slice(qv, m*{_PQ_SUB}+1, m*{_PQ_SUB}+{_PQ_SUB}) AS qs
  FROM q, range(0, {ops_sim.PQ_M}) t(m)
), dtab AS (
  SELECT code.m, code.j,
         CAST(floor(({r6_sql(_L2SQ.format(a='qsub.qs', b='code.cv'))}) * 1e6
              + 0.5) AS BIGINT) AS dmic
  FROM qsub JOIN code ON qsub.m = code.m
)
SELECT enc.vec_id, CAST(sum(dtab.dmic) AS DOUBLE) / 1e6 AS approx_d2
FROM enc JOIN dtab ON enc.m = dtab.m AND enc.j = dtab.j
GROUP BY enc.vec_id
ORDER BY approx_d2, vec_id
LIMIT {TOP_K}
"""


def q_embed_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Gram matrix G = EᵀE over the embedding table — the
    sufficient statistic behind PCA/whitening/covariance of an embedding
    corpus (d×d output, never materializing anything O(n)).

    Plan: a ``mapInArrow`` kernel folds each partition's rows into ONE
    d×d partial Gram (int64 matmul over fixed-point micros), emitting at
    most d(d+1)/2 upper-triangle cells per partition; a final groupBy
    (i, j) sums the partials.  This is textbook partial aggregation at
    its most extreme: at 100 TB the shuffle carries ~2080 rows per
    partition regardless of row count, and the reduce side holds d² longs.

    Exactness contract: elements are fixed-pointed to micros
    (``floor(CAST(float32 AS DOUBLE) * 1e6 + 0.5)`` — IEEE widening is
    exact, so Spark/numpy/DuckDB agree bit-for-bit).  Overflow
    discipline: the int64 kernel emits one partial Gram per ARROW BATCH
    (≲10k rows — int64 is safe below ~5·10⁷ unit-scale rows per batch,
    three orders of magnitude of headroom), and the cross-batch /
    cross-partition reduction runs in DECIMAL(38,0) — the same
    accumulator q_regr_group uses — so no sum anywhere can wrap at any
    corpus size.  DuckDB's sum widens to HUGEINT; both engines convert
    the identical exact integer to double once at the end.
    """
    from pyspark.sql import types as T

    d = t_wide(spark, sf_dir, "embeddings").select("embedding")
    out_schema = T.StructType([
        T.StructField("i", T.IntegerType()),
        T.StructField("j", T.IntegerType()),
        T.StructField("partial", T.LongType()),
    ])

    def gram(batches):
        import numpy as np
        import pyarrow as pa
        iu = ju = None
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            x = np.asarray(b.column("embedding").flatten(),
                           dtype=np.float32).astype(np.float64)
            u = np.floor(x * 1e6 + 0.5).astype(np.int64).reshape(n, -1)
            g = u.T @ u
            if iu is None:
                iu, ju = np.triu_indices(g.shape[0])
            yield pa.RecordBatch.from_arrays(
                [pa.array(iu.astype("int32") + 1),
                 pa.array(ju.astype("int32") + 1),
                 pa.array(g[iu, ju])],
                names=["i", "j", "partial"])

    return (d.mapInArrow(gram, out_schema)
            .groupBy("i", "j")
            .agg(F.sum(F.col("partial").cast("decimal(38,0)"))
                 .alias("g_u"))
            .select("i", "j",
                    F.expr("floor(CAST(g_u AS DOUBLE) / 1e12 * 1e6 + 0.5) "
                           "/ 1e6").alias("gram"))
            .orderBy("i", "j"))


ORACLE_EMBED_GRAM = f"""
WITH cells AS (
  SELECT t1.i AS i, t2.j AS j,
         CAST(floor(CAST(embedding[t1.i] AS DOUBLE) * 1e6 + 0.5)
              AS BIGINT)
         * CAST(floor(CAST(embedding[t2.j] AS DOUBLE) * 1e6 + 0.5)
                AS BIGINT) AS prod
  FROM embeddings,
       (SELECT CAST(range AS INTEGER) AS i FROM range(1, {DIM + 1})) t1,
       (SELECT CAST(range AS INTEGER) AS j FROM range(1, {DIM + 1})) t2
  WHERE t1.i <= t2.j
)
SELECT i, j,
       floor(CAST(sum(prod) AS DOUBLE) / 1e12 * 1e6 + 0.5) / 1e6 AS gram
FROM cells GROUP BY i, j ORDER BY i, j
"""


def q_sim_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a PERSISTED index: build-once, write
    (centroids + cell-partitioned assignment) as parquet, read back and
    probe — the lakehouse face of ANN serving, the way ``q_mor_read`` /
    ``q_time_travel`` are for CDC. ``q_sim_ivf`` rebuilds its index
    inside the query; at 100 TB the index is built once and amortized
    over every query, which is exactly what this plan does: the probe
    job's scan side is the *parquet index*, never the raw embedding
    re-derivation.

    The assignment is written ``partitionBy(cell)`` — the physical
    layout that lets a probe touch only nprobe/n_cells of the files
    (directory-level pruning against the broadcast probed-cells set).
    The oracle is ``q_sim_ivf``'s: an identical hash proves the
    persisted index round-trips losslessly (float64 vectors are exact
    in parquet) and the probe over the read-back index returns
    bit-identical top-k."""
    from pyspark.sql import types as T

    from hippo_claim_crossover_spark.session import fixture_dir, materialize

    e = _vectors(spark, sf_dir)
    q = _query_vec(e)
    s = e.where(F.col("vec_id") != QUERY_VEC_ID)

    def write_index(out: str) -> None:
        cents_b = materialize(ops_sim.ivf_centroids(s, N_CELLS),
                              "ivf_centroids")
        cents_b.write.mode("overwrite").parquet(f"{out}/centroids")
        (ops_sim.ivf_assign(s, cents_b)
         .write.mode("overwrite").partitionBy("cell")
         .parquet(f"{out}/assign"))

    out = fixture_dir(spark, "ivfidx", sf_dir, write_index)
    cents = spark.read.schema(T.StructType([
        T.StructField("cent_id", T.LongType()),
        T.StructField("cv", T.ArrayType(T.DoubleType())),
    ])).parquet(f"{out}/centroids")
    assign = spark.read.schema(T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("cell", T.LongType()),
    ])).parquet(f"{out}/assign")
    return ops_sim.ivf_probe_topk(s, cents, assign, q, TOP_K, NPROBE)


# Identical results to the inline build by construction — the oracle IS
# q_sim_ivf's; the hash match is the persistence-losslessness proof.
ORACLE_SIM_IVF_PERSISTED = ORACLE_SIM_IVF


N_RERANK_CAND = 50


def _bm25_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-1 lexical candidates shared by q_retrieve_rerank and
    q_retrieve_fuse: q_bm25's scored postings reduced to the top-50 by
    (rounded score, doc_id) via ONE TakeOrderedAndProject."""
    from hippo_claim_crossover_spark.plans.text import q_bm25

    return (q_bm25(spark, sf_dir)
            .where(F.col("doc_id") != QUERY_VEC_ID)
            .orderBy(F.col("score").desc(), "doc_id")
            .limit(N_RERANK_CAND)
            .select("doc_id", "score"))


def q_retrieve_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieve→rerank — the standard hybrid-search pipeline
    (lexical recall, semantic precision): BM25 produces the top-50
    candidate documents for the fixed query terms, an exact-cosine
    rerank against the query embedding (vec_id=0, doc_id==vec_id in the
    fixtures) reorders them, and the final top-10 carries BOTH scores.
    Composes the declared halves end-to-end: q_bm25 is stage 1
    verbatim, q_sim_topk's broadcast scoring is stage 2.

    100 TB shape: stage 1 touches only posting lists (q_bm25's explode
    filters to the query terms before any aggregation) and reduces to
    the candidate set via ONE TakeOrderedAndProject — no global sort.
    Stage 2 never scans the embedding table for anything but the
    candidates: the 50-row candidate set broadcasts into an equi-join
    on vec_id (a broadcast hash join the parquet scan can prune
    against), the query vector is a second 1-row broadcast, scoring is
    a map-side higher-order-function expression, and the final top-k is
    again TakeOrdered. Exact brute-force cosine stays bounded by the
    candidate count, which is the whole point of the two-stage design:
    the expensive exact scorer runs on k₁ rows, not the corpus.

    Determinism: both stages rank on ROUNDED scores (6dp BM25, 4dp
    cosine) with doc_id tiebreaks, so candidate membership and the
    final order are bit-identical cross-engine."""
    from hippo_claim_crossover_spark.plans.base import duck_round

    cand = _bm25_candidates(spark, sf_dir) \
        .select("doc_id", F.col("score").alias("bm25"))
    e = _vectors(spark, sf_dir)
    q = _query_vec(e)
    cos = duck_round(
        ops_sim.dot(F.col("v"), F.col("qv"))
        / (ops_sim.l2_norm(F.col("v")) * F.col("qnrm")), 4)
    return (e.join(F.broadcast(cand), F.col("vec_id") == F.col("doc_id"))
            .join(F.broadcast(q))
            .select("doc_id", "bm25", cos.alias("cosine"))
            .orderBy(F.col("cosine").desc(), "doc_id")
            .limit(TOP_K))


def _oracle_retrieve_rerank() -> str:
    from hippo_claim_crossover_spark.plans.text import ORACLE_BM25
    return f"""
WITH bm AS ({ORACLE_BM25}),
cand AS (
  SELECT doc_id, score AS bm25 FROM bm
  WHERE doc_id != {QUERY_VEC_ID}
  ORDER BY score DESC, doc_id LIMIT {N_RERANK_CAND}
), n AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
), q AS (SELECT v AS qv, nrm AS qnrm FROM n WHERE vec_id = {QUERY_VEC_ID})
SELECT c.doc_id, c.bm25,
       {r4_sql('list_dot_product(n.v, q.qv) / (n.nrm * q.qnrm)')} AS cosine
FROM cand c JOIN n ON n.vec_id = c.doc_id CROSS JOIN q
ORDER BY cosine DESC, c.doc_id
LIMIT {TOP_K}
"""


RRF_K = 60


def _lex_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared lexical ranked list: the BM25 top-50 candidate frame as
    (doc_id, lex_rank). One definition for the fuse family
    (q_retrieve_fuse and both ablations) so the tiebreak discipline —
    score desc, doc_id — cannot silently diverge between the query and
    the ablations that cross-check it (r15)."""
    lex = _bm25_candidates(spark, sf_dir)
    w_lex = Window.orderBy(F.col("score").desc(), "doc_id")
    return lex.select("doc_id", F.row_number().over(w_lex)
                      .alias("lex_rank"))


def _dense_ranks(e: DataFrame) -> DataFrame:
    """Dense ranked list for one embedding family: cosine top-50 as
    (doc_id, dense_rank), tiebreak cosine desc then vec_id — the
    single definition shared by the fuse family (r15)."""
    q = _query_vec(e)
    dense = ops_sim.cosine_topk(
        e.where(F.col("vec_id") != QUERY_VEC_ID), q, N_RERANK_CAND)
    w_den = Window.orderBy(F.col("cosine").desc(), "vec_id")
    return dense.select(F.col("vec_id").alias("doc_id"),
                        F.row_number().over(w_den).alias("dense_rank"))


def q_retrieve_fuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID-SEARCH FUSION via Reciprocal Rank Fusion — the other
    standard way to combine lexical and dense retrieval (q_retrieve_
    rerank REPLACES the lexical order with exact cosine; RRF keeps
    both systems' rankings and fuses them: score(d) = Σ 1/(k + rank_s)
    over the systems that returned d, k=60 per Cormack et al.). A doc
    found by only one system still scores (its missing-rank term is
    simply absent), which is RRF's robustness argument over score
    blending — no cross-system score calibration needed.

    100 TB shape: each system reduces to its top-50 via its own
    TakeOrderedAndProject FIRST (posting-list-bounded BM25, broadcast
    +map-side cosine), so the rank windows and the full-outer fuse
    join run over ≤50-row frames — the bounded-window pattern; nothing
    data-sized reaches a window or a single partition.

    Determinism: ranks are integers over (rounded score, doc_id)
    orders; the fused score is a fixed-order sum of two exact binary
    rationals' IEEE quotients — identical cross-engine, rounded 6dp
    only in the final projection (ranking uses raw doc_id-tiebroken
    order on the raw fused sum; membership cannot diverge)."""
    from hippo_claim_crossover_spark.plans.base import duck_round

    lex_r = _lex_ranks(spark, sf_dir)
    den_r = _dense_ranks(_vectors(spark, sf_dir))
    fused = (lex_r.join(den_r, "doc_id", "full_outer")
             .select("doc_id", "lex_rank", "dense_rank",
                     (F.coalesce(1.0 / (F.lit(RRF_K)
                                        + F.col("lex_rank")), F.lit(0.0))
                      + F.coalesce(1.0 / (F.lit(RRF_K)
                                          + F.col("dense_rank")),
                                   F.lit(0.0))).alias("_rrf")))
    return (fused.orderBy(F.col("_rrf").desc(), "doc_id")
            .limit(TOP_K)
            .select("doc_id", "lex_rank", "dense_rank",
                    duck_round(F.col("_rrf"), 6).alias("rrf_score")))


def _oracle_retrieve_fuse() -> str:
    from hippo_claim_crossover_spark.plans.text import ORACLE_BM25
    return f"""
WITH bm AS ({ORACLE_BM25}),
lex AS (
  SELECT doc_id, score FROM bm WHERE doc_id != {QUERY_VEC_ID}
  ORDER BY score DESC, doc_id LIMIT {N_RERANK_CAND}
), lex_r AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                      AS INTEGER) AS lex_rank
  FROM lex
), n AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
), q AS (SELECT v AS qv, nrm AS qnrm FROM n WHERE vec_id = {QUERY_VEC_ID}),
dense AS (
  SELECT n.vec_id,
         {r4_sql('list_dot_product(n.v, q.qv) / (n.nrm * q.qnrm)')} AS cosine
  FROM n, q WHERE n.vec_id != {QUERY_VEC_ID}
  ORDER BY cosine DESC, vec_id LIMIT {N_RERANK_CAND}
), den_r AS (
  SELECT vec_id AS doc_id,
         CAST(row_number() OVER (ORDER BY cosine DESC, vec_id)
              AS INTEGER) AS dense_rank
  FROM dense
), fused AS (
  SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
         l.lex_rank, d.dense_rank,
         coalesce(1.0 / ({RRF_K} + l.lex_rank), 0.0)
           + coalesce(1.0 / ({RRF_K} + d.dense_rank), 0.0) AS rrf
  FROM lex_r l FULL OUTER JOIN den_r d ON l.doc_id = d.doc_id
)
SELECT doc_id, lex_rank, dense_rank,
       floor(rrf * 1e6 + 0.5) / 1e6 AS rrf_score
FROM fused ORDER BY rrf DESC, doc_id LIMIT {TOP_K}
"""


TRUNC_DIM = 16  # Matryoshka ablation family: the first-16-dims prefix


def _fused_topk_ranks(lex_r: DataFrame, e: DataFrame,
                      rank_col: str) -> DataFrame:
    """RRF-fuse one dense family's top-50 with the shared lexical top-50
    and return the fused top-:data:`TOP_K` as (doc_id, <rank_col>) —
    q_retrieve_fuse's fuse stage, parameterized over the embedding frame
    so the ablation runs it once per family."""
    den_r = _dense_ranks(e)
    fused = (lex_r.join(den_r, "doc_id", "full_outer")
             .select("doc_id",
                     (F.coalesce(1.0 / (F.lit(RRF_K) + F.col("lex_rank")),
                                 F.lit(0.0))
                      + F.coalesce(1.0 / (F.lit(RRF_K)
                                          + F.col("dense_rank")),
                                   F.lit(0.0))).alias("_rrf")))
    w_f = Window.orderBy(F.col("_rrf").desc(), "doc_id")
    return (fused.orderBy(F.col("_rrf").desc(), "doc_id").limit(TOP_K)
            .select("doc_id", F.row_number().over(w_f).alias(rank_col)))


def q_fuse_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUSION ABLATION ACROSS EMBEDDING FAMILIES — the analysis a
    retrieval team runs before shipping truncated ("Matryoshka", Kusupati
    et al. 2022) embeddings: fuse the SAME lexical ranking (BM25 top-50)
    with TWO genuinely different dense families — the full 64-dim cosine
    and the first-:data:`TRUNC_DIM`-dims-prefix cosine (what an
    MRL-truncated index serves) — via the identical RRF(k=60) recipe,
    and align the two fused top-10 lists doc-by-doc. Output is one row
    per doc appearing in EITHER fused list: (doc_id, rank_full,
    rank_trunc), NULL where a doc survives only one family — exactly the
    rank-shift/dropout table that decides whether the cheaper index is
    safe. Reference scope parity: the reference normalizes then compares
    keyed record sets across two sources (lib/hippo_claim_crossover.rb:
    102-212); this is the same two-system keyed alignment applied to
    rankings.

    100 TB shape: the lexical leg is posting-list-bounded with ONE
    TakeOrderedAndProject; each dense leg is a 1-row broadcast +
    map-side higher-order-function scoring + TakeOrdered (the truncated
    leg SLICES the vector before any arithmetic, so it also models the
    cheaper scan); every fuse/align join thereafter runs over ≤50-row
    frames. Nothing data-sized reaches a window or a single partition,
    and the corpus is scanned exactly twice (once per family) — at
    scale the truncated family would read a physically narrower index,
    which this plan's slice-first shape prunes toward.

    Determinism: both families rank on 4dp-rounded cosines with vec_id
    tiebreaks, fused order breaks ties on doc_id, output ranks are
    integers — fully hash-checked."""
    lex_r = _lex_ranks(spark, sf_dir)
    e = _vectors(spark, sf_dir)
    full_r = _fused_topk_ranks(lex_r, e, "rank_full")
    e_tr = e.select("vec_id", F.slice("v", 1, TRUNC_DIM).alias("v"))
    tr_r = _fused_topk_ranks(lex_r, e_tr, "rank_trunc")
    return (full_r.join(tr_r, "doc_id", "full_outer")
            .select("doc_id", "rank_full", "rank_trunc")
            .orderBy(F.coalesce(F.col("rank_full"),
                                F.lit(NULL_RANK_SENTINEL)),
                     F.coalesce(F.col("rank_trunc"),
                                F.lit(NULL_RANK_SENTINEL)),
                     "doc_id"))


def _oracle_fused_cte(tag: str, vexpr: str) -> str:
    """The per-family CTE chain of the ablation oracle: normalize →
    dense top-50 → rank → RRF fuse with lex_r → fused top-10 ranks."""
    return f"""n_{tag} AS (
  SELECT vec_id, {vexpr} AS v,
         sqrt(list_dot_product({vexpr}, {vexpr})) AS nrm
  FROM embeddings
), q_{tag} AS (
  SELECT v AS qv, nrm AS qnrm FROM n_{tag} WHERE vec_id = {QUERY_VEC_ID}
), dense_{tag} AS (
  SELECT n.vec_id,
         {r4_sql('list_dot_product(n.v, q.qv) / (n.nrm * q.qnrm)')} AS cosine
  FROM n_{tag} n, q_{tag} q WHERE n.vec_id != {QUERY_VEC_ID}
  ORDER BY cosine DESC, vec_id LIMIT {N_RERANK_CAND}
), den_r_{tag} AS (
  SELECT vec_id AS doc_id,
         CAST(row_number() OVER (ORDER BY cosine DESC, vec_id)
              AS INTEGER) AS dense_rank
  FROM dense_{tag}
), fused_{tag} AS (
  SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
         coalesce(1.0 / ({RRF_K} + l.lex_rank), 0.0)
           + coalesce(1.0 / ({RRF_K} + d.dense_rank), 0.0) AS rrf
  FROM lex_r l FULL OUTER JOIN den_r_{tag} d ON l.doc_id = d.doc_id
), top_{tag} AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY rrf DESC, doc_id)
                      AS INTEGER) AS rank_{tag}
  FROM (SELECT doc_id, rrf FROM fused_{tag}
        ORDER BY rrf DESC, doc_id LIMIT {TOP_K})
)"""


def _oracle_fuse_ablation() -> str:
    from hippo_claim_crossover_spark.plans.text import ORACLE_BM25
    full_v = "CAST(embedding AS DOUBLE[])"
    trunc_v = f"(CAST(embedding AS DOUBLE[]))[1:{TRUNC_DIM}]"
    return f"""
WITH bm AS ({ORACLE_BM25}),
lex AS (
  SELECT doc_id, score FROM bm WHERE doc_id != {QUERY_VEC_ID}
  ORDER BY score DESC, doc_id LIMIT {N_RERANK_CAND}
), lex_r AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                      AS INTEGER) AS lex_rank
  FROM lex
), {_oracle_fused_cte("full", full_v)},
{_oracle_fused_cte("trunc", trunc_v)}
SELECT coalesce(f.doc_id, t.doc_id) AS doc_id, f.rank_full, t.rank_trunc
FROM top_full f FULL OUTER JOIN top_trunc t ON f.doc_id = t.doc_id
ORDER BY coalesce(f.rank_full, {NULL_RANK_SENTINEL}),
         coalesce(t.rank_trunc, {NULL_RANK_SENTINEL}), doc_id
"""


RRF_K_GRID = (20, 60, 100)


def q_fuse_k_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF k-SENSITIVITY ABLATION — the other axis of the fusion
    analysis (q_fuse_ablation varies the EMBEDDING family at fixed k;
    this varies the RRF constant k over :data:`RRF_K_GRID` at the fixed
    full-dim family). Small k trusts top ranks sharply (rank 1 scores
    ~3.3× rank 10 at k=20); large k flattens toward set-union voting —
    Cormack et al.'s k=60 is a robustness middle. The deliverable is
    the doc-aligned rank table across the three fused top-10 lists:
    one row per doc appearing in ANY list, (doc_id, rank_k20, rank_k60,
    rank_k100), NULL where that k's list drops the doc — how a
    retrieval team decides whether the fusion is k-stable before
    shipping it.

    Shape: the lexical and dense rank lists are k-INDEPENDENT, so both
    are computed once (each bounded to top-50 by its own
    TakeOrderedAndProject, exactly q_retrieve_fuse's stages); the k
    axis is a constant 3-way explode over the ≤100-row fused frame,
    ranked per k by one bounded window, pivoted to columns by a
    conditional agg. Nothing data-sized is re-scanned per k — the
    corpus is read once for BM25 and once for cosines regardless of
    grid size.

    Determinism: same discipline as q_retrieve_fuse — integer ranks
    over (rounded score, doc_id) orders; per-k fused scores are
    fixed-order sums of exact binary rationals' IEEE quotients,
    identical cross-engine; per-k membership breaks ties on doc_id."""
    lex_r = _lex_ranks(spark, sf_dir)
    den_r = _dense_ranks(_vectors(spark, sf_dir))
    scored = (lex_r.join(den_r, "doc_id", "full_outer")
              .select("doc_id", "lex_rank", "dense_rank",
                      F.explode(F.array(*[F.lit(k) for k in RRF_K_GRID]))
                      .alias("k"))
              .withColumn(
                  "_rrf",
                  F.coalesce(1.0 / (F.col("k") + F.col("lex_rank")),
                             F.lit(0.0))
                  + F.coalesce(1.0 / (F.col("k") + F.col("dense_rank")),
                               F.lit(0.0))))
    w_k = Window.partitionBy("k").orderBy(F.col("_rrf").desc(), "doc_id")
    ranked = (scored.withColumn("_rn", F.row_number().over(w_k))
              .where(F.col("_rn") <= TOP_K))
    return (ranked.groupBy("doc_id")
            .agg(*[F.max(F.when(F.col("k") == k, F.col("_rn")))
                   .alias(f"rank_k{k}") for k in RRF_K_GRID])
            .orderBy("doc_id"))


def _oracle_fuse_k_ablation() -> str:
    from hippo_claim_crossover_spark.plans.text import ORACLE_BM25
    grid = ", ".join(str(k) for k in RRF_K_GRID)
    pivot = ",\n       ".join(
        f"CAST(max(CASE WHEN k = {k} THEN rn END) AS INTEGER)"
        f" AS rank_k{k}" for k in RRF_K_GRID)
    return f"""
WITH bm AS ({ORACLE_BM25}),
lex AS (
  SELECT doc_id, score FROM bm WHERE doc_id != {QUERY_VEC_ID}
  ORDER BY score DESC, doc_id LIMIT {N_RERANK_CAND}
), lex_r AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                      AS INTEGER) AS lex_rank
  FROM lex
), n AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
), q AS (SELECT v AS qv, nrm AS qnrm FROM n WHERE vec_id = {QUERY_VEC_ID}),
dense AS (
  SELECT n.vec_id,
         {r4_sql('list_dot_product(n.v, q.qv) / (n.nrm * q.qnrm)')} AS cosine
  FROM n, q WHERE n.vec_id != {QUERY_VEC_ID}
  ORDER BY cosine DESC, vec_id LIMIT {N_RERANK_CAND}
), den_r AS (
  SELECT vec_id AS doc_id,
         CAST(row_number() OVER (ORDER BY cosine DESC, vec_id)
              AS INTEGER) AS dense_rank
  FROM dense
), grid AS (SELECT unnest([{grid}]) AS k),
fused AS (
  SELECT g.k, coalesce(l.doc_id, d.doc_id) AS doc_id,
         coalesce(1.0 / (g.k + l.lex_rank), 0.0)
           + coalesce(1.0 / (g.k + d.dense_rank), 0.0) AS rrf
  FROM (lex_r l FULL OUTER JOIN den_r d ON l.doc_id = d.doc_id)
       CROSS JOIN grid g
), ranked AS (
  SELECT k, doc_id, row_number() OVER (PARTITION BY k
         ORDER BY rrf DESC, doc_id) AS rn
  FROM fused
)
SELECT doc_id,
       {pivot}
FROM ranked WHERE rn <= {TOP_K}
GROUP BY doc_id ORDER BY doc_id
"""


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN INDEX EVALUATION — recall@k of the IVF probe against exact
    brute force, the measurement every pipeline runs before trusting an
    approximate index (and re-runs whenever nprobe/cell-count change).
    Both halves are the declared queries verbatim (q_sim_topk exact,
    q_sim_ivf approximate), so this is the composed evaluation face:
    |exact ∩ ivf| / k via a 10-row broadcast left-semi join — the
    evaluation itself costs nothing beyond the two retrievals.

    Deterministic end to end (both halves rank on rounded cosines with
    vec_id tiebreaks), so k, hit count, and recall all hash-check."""
    from hippo_claim_crossover_spark.plans.base import duck_round

    exact = q_sim_topk(spark, sf_dir).select("vec_id")
    approx = q_sim_ivf(spark, sf_dir).select("vec_id")
    return (exact.join(F.broadcast(approx), "vec_id", "left_semi")
            .agg(F.count(F.lit(1)).alias("n_hits"))
            .select(F.lit(TOP_K).cast("long").alias("k"),
                    "n_hits",
                    duck_round(F.col("n_hits").cast("double")
                               / F.lit(TOP_K), 4).alias("recall")))


def _oracle_ann_recall() -> str:
    return f"""
WITH exact AS ({ORACLE_SIM_TOPK}),
approx AS ({ORACLE_SIM_IVF})
SELECT CAST({TOP_K} AS BIGINT) AS k,
       CAST(count(*) AS BIGINT) AS n_hits,
       floor(CAST(count(*) AS DOUBLE) / {TOP_K} * 1e4 + 0.5) / 1e4
         AS recall
FROM exact WHERE vec_id IN (SELECT vec_id FROM approx)
"""


NDCG_K = TOP_K
# Inverse-log2 discount table for nDCG: inv_nanos[i-1] = round(1e9 /
# log2(i+1)) for rank i. Computed ONCE here in Python and baked as the
# same integer literals into BOTH engines' expressions, so no libm log2
# ever crosses an engine boundary — DCG sums are exact integer nanos
# (the q_text_entropy scaled-integer discipline applied to ranking).
_INV_NANOS = [round(1e9 / math.log2(i + 1)) for i in range(1, NDCG_K + 1)]
# Ideal DCG: graded gains K..1 laid down in rank order — a Python int.
_IDCG_NANOS = sum((NDCG_K - j) * _INV_NANOS[j] for j in range(NDCG_K))


def q_retrieve_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRIEVAL-QUALITY EVALUATION — nDCG@k and MRR of the hybrid RRF
    ranking (q_retrieve_fuse) against the exact-cosine ideal
    (q_sim_topk): the ranking-quality sibling of q_ann_recall (which
    only measures set membership, blind to ORDER — a fused list with
    every relevant doc at the bottom scores recall 1.0; nDCG catches
    it). Graded relevance comes from the ideal's own order: the
    exact top-k doc at position j carries gain k+1−j, docs outside it
    gain 0, so the metric rewards putting the most-similar docs first.

    Exactness: the log2 discounts are baked integer-nano literals
    (shared by both engines — see ``_INV_NANOS``), DCG is an integer
    sum, and nDCG/MRR are each ONE IEEE division rounded 6dp — fully
    hash-checked, no float accumulation anywhere.

    100 TB shape: both retrievals reduce to ≤k rows via their own
    bounded plans first; the evaluation itself is one k-row broadcast
    join plus a k-row aggregate — free at any corpus size, which is
    the point: rank-quality evaluation should never re-scan the
    corpus (the ideal is the already-declared exact top-k, reused
    verbatim)."""
    from hippo_claim_crossover_spark.plans.base import duck_round

    fused = q_retrieve_fuse(spark, sf_dir)
    wf = Window.orderBy(F.col("rrf_score").desc(), "doc_id")
    fr = fused.select("doc_id", F.row_number().over(wf).alias("fuse_rank"))
    exact = q_sim_topk(spark, sf_dir)
    wi = Window.orderBy(F.col("cosine").desc(), "vec_id")
    ideal = exact.select(
        F.col("vec_id").alias("doc_id"),
        (F.lit(NDCG_K + 1) - F.row_number().over(wi)).alias("gain"))
    # explicit long literals: the nano discounts fit int32, so without
    # the cast gain*inv would multiply as int32 and overflow (ANSI mode)
    inv = F.element_at(F.array(*[F.lit(x).cast("long")
                                 for x in _INV_NANOS]),
                       F.col("fuse_rank"))
    j = (fr.join(F.broadcast(ideal), "doc_id", "left")
         .select("fuse_rank",
                 F.coalesce(F.col("gain"), F.lit(0)).alias("gain"),
                 inv.alias("inv_nanos")))
    agg = j.agg(
        F.sum(F.when(F.col("gain") > 0, 1).otherwise(0)).cast("long")
        .alias("n_rel"),
        F.min(F.when(F.col("gain") > 0, F.col("fuse_rank"))).alias("_fh"),
        F.sum(F.col("gain") * F.col("inv_nanos")).alias("_dcg"))
    return agg.select(
        F.lit(NDCG_K).cast("long").alias("k"),
        "n_rel",
        F.coalesce(F.col("_fh").cast("long"), F.lit(0))
        .alias("first_hit_rank"),
        F.coalesce(duck_round(F.lit(1.0) / F.col("_fh"), 6), F.lit(0.0))
        .alias("mrr"),
        duck_round(F.col("_dcg").cast("double")
                   / F.lit(float(_IDCG_NANOS)), 6).alias("ndcg"))


def _oracle_retrieve_eval() -> str:
    case_inv = " ".join(f"WHEN {i + 1} THEN {_INV_NANOS[i]}"
                        for i in range(NDCG_K))
    return f"""
WITH f AS ({_oracle_retrieve_fuse()}),
x AS ({ORACLE_SIM_TOPK}),
fr AS (
  SELECT doc_id, CAST(row_number() OVER (
           ORDER BY rrf_score DESC, doc_id) AS INTEGER) AS fuse_rank
  FROM f
), ideal AS (
  SELECT vec_id AS doc_id,
         {NDCG_K + 1} - CAST(row_number() OVER (
           ORDER BY cosine DESC, vec_id) AS INTEGER) AS gain
  FROM x
), j AS (
  SELECT fr.fuse_rank, coalesce(ideal.gain, 0) AS gain,
         CAST(CASE fr.fuse_rank {case_inv} END AS BIGINT) AS inv_nanos
  FROM fr LEFT JOIN ideal ON fr.doc_id = ideal.doc_id
), a AS (
  SELECT CAST(sum(CASE WHEN gain > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_rel,
         min(CASE WHEN gain > 0 THEN fuse_rank END) AS fh,
         sum(gain * inv_nanos) AS dcg
  FROM j
)
SELECT CAST({NDCG_K} AS BIGINT) AS k, n_rel,
       CAST(coalesce(fh, 0) AS BIGINT) AS first_hit_rank,
       coalesce(floor(CAST(1 AS DOUBLE) / fh * 1e6 + 0.5) / 1e6, 0.0)
         AS mrr,
       floor(CAST(dcg AS DOUBLE) / CAST({_IDCG_NANOS} AS DOUBLE) * 1e6
             + 0.5) / 1e6 AS ndcg
FROM a
"""


SPECS: dict[str, QuerySpec] = {
    "q_retrieve_eval": QuerySpec(
        q_retrieve_eval, _oracle_retrieve_eval(),
        "nDCG@k + MRR of the RRF fusion vs the exact-cosine ideal "
        "(graded gains, integer-nano log discounts, k-row eval)"),
    "q_ann_recall": QuerySpec(
        q_ann_recall, _oracle_ann_recall(),
        "recall@k of the IVF probe vs exact brute force (composed "
        "index-evaluation face, fully hash-checked)"),
    "q_embed_gram": QuerySpec(
        q_embed_gram, ORACLE_EMBED_GRAM,
        "distributed Gram matrix EᵀE (int64 partial-Gram mapInArrow "
        "kernel, d²-bounded shuffle)"),
    "q_sim_topk": QuerySpec(q_sim_topk, ORACLE_SIM_TOPK,
                            "brute-force cosine top-k"),
    "q_sim_lsh_buckets": QuerySpec(q_sim_lsh_buckets, ORACLE_SIM_LSH_BUCKETS,
                                   "SRP-LSH bucket histogram"),
    "q_sim_knn_blocked": QuerySpec(q_sim_knn_blocked, ORACLE_SIM_KNN_BLOCKED,
                                   "bucketed approximate kNN"),
    "q_sim_ivf": QuerySpec(q_sim_ivf, ORACLE_SIM_IVF,
                           "IVF cell-probed ANN top-k"),
    "q_sim_ivf_persisted": QuerySpec(
        q_sim_ivf_persisted, ORACLE_SIM_IVF_PERSISTED,
        "IVF probe over the PERSISTED parquet index (build-once, "
        "cell-partitioned layout; hash == inline build)"),
    "q_sim_pq": QuerySpec(q_sim_pq, ORACLE_SIM_PQ,
                          "product-quantization ADC top-k"),
    "q_retrieve_rerank": QuerySpec(
        q_retrieve_rerank, _oracle_retrieve_rerank(),
        "two-stage retrieval: BM25 top-50 candidates → broadcast "
        "exact-cosine rerank → top-10 with both scores"),
    "q_retrieve_fuse": QuerySpec(
        q_retrieve_fuse, _oracle_retrieve_fuse(),
        "hybrid-search RRF fusion of BM25 and dense top-50 rankings "
        "(bounded rank windows, full-outer fuse, k=60)"),
    "q_fuse_ablation": QuerySpec(
        q_fuse_ablation, _oracle_fuse_ablation(),
        "RRF fusion ablation across two embedding families (full 64-dim "
        "vs Matryoshka-truncated 16-dim): doc-aligned rank-shift/dropout "
        "table over the two fused top-10 lists"),
    "q_fuse_k_ablation": QuerySpec(
        q_fuse_k_ablation, _oracle_fuse_k_ablation(),
        "RRF k-sensitivity ablation (k in {20,60,100}, fixed full-dim "
        "family): doc-aligned rank table across the three fused top-10 "
        "lists — rank lists computed once, k axis a constant explode"),
}
