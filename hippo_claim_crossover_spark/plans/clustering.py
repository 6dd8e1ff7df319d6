"""Semantic clustering over ``embeddings`` (§2b training-data-pipeline
surface): distributed spherical k-means, hash-checked through the full
iterative fit, and the SemDeDup composition built on it (cluster →
within-cell cosine pairs → keep-best prune).

The oracles replay every Lloyd round in SQL — seed sample, cosine-argmax
assignment, exact-integer-micros centroid means — so the driver's
value-hash pins the *entire* iterative computation, not just the final
aggregate shape. See operators/clustering.py for why the means are exact
across engines (micros quantization before summation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hippo_claim_crossover_spark.operators import clustering as ops_km
from hippo_claim_crossover_spark.operators.hashing import (
    md5_long, sql_md5_long)
from hippo_claim_crossover_spark.operators.similarity import dot, l2_norm
from hippo_claim_crossover_spark.plans.base import (
    QuerySpec,
    duck_round,
    r4_sql,
    r6_sql,
    t_wide,
)
from hippo_claim_crossover_spark.session import materialize

N_CELLS = 8
ITERS = 2


def q_cluster_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means cluster profile after ``ITERS`` Lloyd rounds: per-cell
    member count + 4dp centroid norm. Assignment is map-side over a
    broadcast centroid array (zero shuffle); each update shuffles only
    C×D partial sums (operators/clustering.py)."""
    e = t_wide(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    assign, cents = ops_km.kmeans_fit(e, N_CELLS, ITERS)
    sizes = assign.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vecs"))
    norms = cents.select(
        F.col("cent_id"),
        duck_round(l2_norm(F.col("cv")), 4).alias("centroid_norm"))
    return (
        sizes.join(F.broadcast(norms), sizes.cell == norms.cent_id)
        .select("cell", "n_vecs", "centroid_norm")
    )


def _assign_cte(name: str, cents: str) -> str:
    """One cosine-argmax assignment round: rounded cosine DESC with
    cent_id tiebreak — mirrors kmeans_assign's array_min(struct(-cos, id))
    bit-for-bit."""
    cos = r6_sql(f"list_dot_product(e.v, c.cv) / (e.nrm * "
                 f"sqrt(list_dot_product(c.cv, c.cv)))")
    return f"""{name} AS (
  SELECT vec_id, v, cent_id AS cell FROM (
    SELECT e.vec_id, e.v, c.cent_id, row_number() OVER (
      PARTITION BY e.vec_id ORDER BY {cos} DESC, c.cent_id) AS rn
    FROM e, {cents} c) WHERE rn = 1
)"""


def _update_cte(uname: str, cname: str, assign: str) -> str:
    """One centroid update: integer-micros element sums → one IEEE mean
    division — mirrors kmeans_update exactly (same division association:
    (s / n) / 1e6)."""
    return f"""{uname} AS (
  SELECT cell, unnest(generate_series(1, len(v))) AS i,
         unnest(list_transform(v,
                x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT))) AS m
  FROM {assign}
), {cname} AS (
  SELECT cell AS cent_id, list(mu ORDER BY i) AS cv
  FROM (SELECT cell, i,
               CAST(sum(m) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e6 AS mu
        FROM {uname} GROUP BY cell, i)
  GROUP BY cell
)"""


ORACLE_CLUSTER_KMEANS = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
), c0 AS (
  SELECT vec_id AS cent_id, v AS cv
  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {N_CELLS}
), {_assign_cte("a0", "c0")}, {_update_cte("u1", "c1", "a0")},
{_assign_cte("a1", "c1")}, {_update_cte("u2", "c2", "a1")},
{_assign_cte("a2", "c2")}
SELECT s.cell, s.n_vecs,
       {r4_sql("sqrt(list_dot_product(c.cv, c.cv))")} AS centroid_norm
FROM (SELECT cell, count(*) AS n_vecs FROM a2 GROUP BY cell) s
JOIN c2 c ON s.cell = c.cent_id
"""


SEM_TARGET_CELL = 64
SEM_TAU = 0.25
_CKSUM_MOD = 1 << 62
# K-means cell-count cap: the broadcast-argmax assignment costs
# n·nc·dim flops, so an UNCAPPED nc = n/64 makes the assign stage
# quadratic in the corpus (the r12 century run measured it: 1M vectors
# → 15,625 centroids → ~1e12 flops/round). Cap the k-means level at
# 256 cells and recover the ~64-member target cell by splitting each
# cell with family-0 SRP sign bits (linear, map-side — q_dedup_embed's
# machinery): final blocking key = (cell, sub-bucket), expected
# population 256·64·2^p ≥ n. Sub-planes engage only past 16,384 rows,
# so small-fixture behavior (and the gate evidence) is unchanged.
SEM_MAX_KMEANS_CELLS = 256


def _sem_subplanes_for(n_rows: int) -> int:
    """Smallest p with SEM_MAX_KMEANS_CELLS·SEM_TARGET_CELL·2^p ≥ n_rows,
    clamped to [0, MAX_PLANES]. Integer-only (no libm) so the DuckDB
    oracle recomputes the identical count from its own COUNT(*)."""
    from hippo_claim_crossover_spark.operators import similarity as ops_sim

    p = 0
    while (p < ops_sim.MAX_PLANES
           and SEM_MAX_KMEANS_CELLS * SEM_TARGET_CELL * (1 << p) < n_rows):
        p += 1
    return p


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    deduplication in embedding space, the published LLM-curation
    recipe: k-means-cluster the corpus embeddings, compute pairwise
    cosine ONLY within each cluster, and prune every near-duplicate
    group down to one representative. The embedding-space sibling of
    ``q_curation_pipeline`` (lexical) built entirely from declared
    pieces: ``operators/clustering.kmeans_fit`` (2 Lloyd rounds, exact
    integer-micros means — the q_cluster_kmeans machinery) +
    ``operators/similarity``'s unit-normalize/dot cosine.

    Keep-best rule (the paper's): within a near-dup pair, KEEP the
    member with the LOWER cosine to its cluster centroid (retain the
    less-typical example — pruning toward diversity), vec_id tiebreak;
    a vector is removed if ANY same-cluster neighbor at cosine ≥
    ``SEM_TAU`` (the q_dedup_embed threshold) beats it under that
    total order.

    100 TB shape (two-level blocking — the r12 century fix): the
    k-means level is CAPPED at ``SEM_MAX_KMEANS_CELLS = 256`` cells,
    because the broadcast-argmax assignment costs n·nc·dim flops and
    an uncapped ``nc = n/64`` makes it quadratic in the corpus (the
    century harness measured the cliff at 1M vectors). The ~64-member
    target cell is recovered by splitting each k-means cell with
    family-0 SRP sign bits (map-side, linear — q_dedup_embed's
    machinery): the pair stage blocks on ``(cell, sub-bucket)`` with
    ``2^p`` sub-buckets where ``256·64·2^p ≥ n``, so within-block pair
    work stays ~n·64/2 dot products at any scale and assignment stays
    linear. Sub-planes engage only past 16,384 rows; below that the
    sub-bucket is the constant 0 and blocking is the plain k-means
    cell. Like every LSH split, sub-bucketing can miss a near-dup pair
    straddling two sub-buckets of one cell — the same recall trade
    q_dedup_embed documents, bought deliberately for linearity.
    ACCOUNTING stays per k-means cell (sub-buckets roll up), so the
    output shape is scale-stable. Output is per-cell accounting plus
    an order-insensitive md5-sum checksum of the removed ids
    (DECIMAL(38,0)/HUGEINT mod 2^62 — pins the exact removed SET, not
    just its size).
    """
    from hippo_claim_crossover_spark.operators import similarity as ops_sim

    e = t_wide(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    # adaptive, capped cell count + sub-plane count: one metadata-only
    # count on parquet sources (the oracle recomputes both identical
    # values from its own COUNT(*))
    n = e.count()
    nc = max(N_CELLS, min(SEM_MAX_KMEANS_CELLS, n // SEM_TARGET_CELL))
    p_sub = _sem_subplanes_for(n)
    assign, cents = ops_km.kmeans_fit(e, nc, ITERS)
    m0 = assign.select(
        "vec_id", "cell",
        F.transform("v", lambda x: x / l2_norm(F.col("v"))).alias("vn"))
    sub = (ops_sim.srp_bucket(
        F.col("vn"), ops_sim.srp_family(0, p_sub, 64))
        if p_sub else F.lit(0).cast("long"))
    # one materialization for the three consumers (pair sides + counts);
    # the kmeans lineage above it is 2 Lloyd rounds deep
    m = materialize(
        m0.join(F.broadcast(cents), F.col("cell") == F.col("cent_id"))
        .select("vec_id", "cell", sub.alias("sub"), "vn",
                duck_round(
                    dot(F.col("vn"), F.col("cv")) / l2_norm(F.col("cv")),
                    6).alias("ccos")),
        "cell_members")
    a, b = m.alias("a"), m.alias("b")
    cos4 = duck_round(dot(F.col("a.vn"), F.col("b.vn")), 4)
    loser = F.when(
        (F.col("a.ccos") > F.col("b.ccos"))
        | ((F.col("a.ccos") == F.col("b.ccos"))
           & (F.col("a.vec_id") > F.col("b.vec_id"))),
        F.col("a.vec_id")).otherwise(F.col("b.vec_id"))
    removed = (a.join(b, (F.col("a.cell") == F.col("b.cell"))
                      & (F.col("a.sub") == F.col("b.sub"))
                      & (F.col("a.vec_id") < F.col("b.vec_id")))
               .where(cos4 >= F.lit(SEM_TAU))
               .select(F.col("a.cell").alias("cell"), loser.alias("rid"))
               .distinct())
    h = md5_long(F.col("rid").cast("string"))
    rem = removed.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_removed"),
        F.pmod(F.sum(h.cast("decimal(38,0)")),
               F.lit(_CKSUM_MOD).cast("decimal(38,0)"))
        .cast("long").alias("removed_cksum"))
    mem = m.groupBy("cell").agg(F.count(F.lit(1)).alias("n_members"))
    n_rm = F.coalesce(F.col("n_removed"), F.lit(0))
    return (mem.join(rem, "cell", "left")
            .select("cell", "n_members",
                    n_rm.alias("n_removed"),
                    (F.col("n_members") - n_rm).alias("n_kept"),
                    F.coalesce(F.col("removed_cksum"), F.lit(0))
                    .alias("removed_cksum"))
            .orderBy("cell"))


def _oracle_semdedup() -> str:
    from hippo_claim_crossover_spark.operators import similarity as ops_sim
    from hippo_claim_crossover_spark.plans.similarity import _sql_plane

    pair_cos = r4_sql("list_dot_product(a.vn, b.vn)")
    ccos = r6_sql("list_dot_product(m0.vn, c2.cv) / "
                  "sqrt(list_dot_product(c2.cv, c2.cv))")
    # family-0 SRP sub-bucket, every potential plane baked in and gated
    # on the runtime sub-plane count np_sub — mirrors
    # _sem_subplanes_for() + srp_bucket() exactly
    planes = ops_sim.srp_family(0, ops_sim.MAX_PLANES, 64)
    sub_terms = " + ".join(
        f"CASE WHEN {p} < np_sub AND list_dot_product(m0.vn, "
        f"{_sql_plane(plane)}) > 0 THEN {1 << p} ELSE 0 END"
        for p, plane in enumerate(planes))
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
), params AS (
  SELECT greatest({N_CELLS},
                  least({SEM_MAX_KMEANS_CELLS},
                        count(*) // {SEM_TARGET_CELL})) AS nc,
         greatest(0, COALESCE(
           (SELECT MIN(p) FROM range(0, {ops_sim.MAX_PLANES + 1}) t(p)
            WHERE {SEM_MAX_KMEANS_CELLS} * {SEM_TARGET_CELL} * (1 << p)
                  >= (SELECT count(*) FROM embeddings)),
           {ops_sim.MAX_PLANES})) AS np_sub
  FROM embeddings
), c0 AS (
  SELECT vec_id AS cent_id, v AS cv FROM (
    SELECT vec_id, v, row_number() OVER (
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
    FROM e), params
  WHERE rn <= nc
), {_assign_cte("a0", "c0")}, {_update_cte("u1", "c1", "a0")},
{_assign_cte("a1", "c1")}, {_update_cte("u2", "c2", "a1")},
{_assign_cte("a2", "c2")},
m AS (
  SELECT m0.vec_id, m0.cell, CAST({sub_terms} AS BIGINT) AS sub,
         m0.vn, {ccos} AS ccos
  FROM (SELECT vec_id, cell,
               list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
                 AS vn
        FROM a2) m0 JOIN c2 ON m0.cell = c2.cent_id, params
), removed AS (
  SELECT DISTINCT a.cell AS cell,
         CASE WHEN (a.ccos > b.ccos)
                OR (a.ccos = b.ccos AND a.vec_id > b.vec_id)
              THEN a.vec_id ELSE b.vec_id END AS rid
  FROM m a JOIN m b ON a.cell = b.cell AND a.sub = b.sub
                   AND a.vec_id < b.vec_id
  WHERE {pair_cos} >= {SEM_TAU}
), rem AS (
  SELECT cell, CAST(count(*) AS BIGINT) AS n_removed,
         CAST(sum(CAST({sql_md5_long("CAST(rid AS VARCHAR)")}
                       AS HUGEINT)) % {_CKSUM_MOD} AS BIGINT)
           AS removed_cksum
  FROM removed GROUP BY cell
), mem AS (
  SELECT cell, CAST(count(*) AS BIGINT) AS n_members FROM a2 GROUP BY cell
)
SELECT mem.cell, mem.n_members,
       coalesce(rem.n_removed, 0) AS n_removed,
       mem.n_members - coalesce(rem.n_removed, 0) AS n_kept,
       coalesce(rem.removed_cksum, 0) AS removed_cksum
FROM mem LEFT JOIN rem ON mem.cell = rem.cell
ORDER BY mem.cell
"""


SPECS: dict[str, QuerySpec] = {
    "q_cluster_kmeans": QuerySpec(
        q_cluster_kmeans, ORACLE_CLUSTER_KMEANS,
        "distributed k-means (2 Lloyd rounds, exact-integer means)"),
    "q_semdedup": QuerySpec(
        q_semdedup, _oracle_semdedup(),
        "SemDeDup semantic dedup: adaptive k-means cells → "
        "within-cluster cosine pairs → keep-farthest-from-centroid "
        "prune, removed-set checksum"),
}
