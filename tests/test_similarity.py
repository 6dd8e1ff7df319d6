"""Unit tests for the SRP-LSH similarity operators.

The ANN surface generalizes the reference's fixed field-mapping pipeline
(`lib/hippo_claim_crossover.rb` has no similarity ops) per the §2b
extension mandate; these tests pin the scale policy (plane count grows
with N) and the multi-family candidate algebra.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from hippo_claim_crossover_spark.operators.similarity import (
    MAX_PLANES,
    MIN_PLANES,
    cosine_topk,
    embed_near_pairs,
    ivf_assign,
    ivf_centroids,
    ivf_probe_topk,
    knn_blocked,
    l2_norm,
    planes_for,
    srp_family,
    srp_hyperplane,
)


def test_planes_for_grows_with_n_and_clamps():
    assert planes_for(0) == MIN_PLANES
    assert planes_for(100) == MIN_PLANES
    # smallest p with 32 * 2^p >= n
    assert planes_for(2000) == 6
    assert planes_for(4096) == 7
    # doubling N adds one plane: bucket population stays bounded
    assert planes_for(8192) == planes_for(4096) + 1
    assert planes_for(10**12) == MAX_PLANES
    # the clamp must sit far past the old 16-plane quadratic knee:
    # at 10^9 vectors the plane count keeps growing (monotone), so
    # expected bucket population stays ≤ TARGET, not ∝ N
    assert planes_for(10**9) > 16
    assert MAX_PLANES >= 24
    for n in (2**16, 2**20, 2**24, 2**28):
        assert planes_for(2 * n) >= planes_for(n)


def test_planes_for_matches_log_formula():
    for n in (33, 64, 65, 1000, 2048, 2049, 10**6):
        expected = max(MIN_PLANES,
                       min(MAX_PLANES, math.ceil(math.log2(n / 32))))
        assert planes_for(n) == expected, n


def test_srp_families_are_disjoint():
    f0 = srp_family(0, 4, 8)
    f1 = srp_family(1, 4, 8)
    assert f0 != f1
    assert f0[0] == srp_hyperplane(0, 8)
    assert f1[0] == srp_hyperplane(1000, 8)


def _vec(seed: int, dim: int = 8) -> list[float]:
    # deterministic pseudo-random unit-free vector
    return [math.sin(seed * 31 + d * 7) + 0.01 for d in range(dim)]


def test_knn_blocked_pairs_are_disjoint_across_families(spark):
    rows = [(i, _vec(i)) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    out = knn_blocked(df, dim=8, k=40, n_planes=2, n_families=3)
    pairs = out.select("vec_id", "neighbor_id").collect()
    assert len(pairs) == len({(r.vec_id, r.neighbor_id) for r in pairs})


def _query_df(spark, seed: int, dim: int = 8):
    qrow = spark.createDataFrame([(_vec(seed, dim),)], "qv array<double>")
    return qrow.select("qv", l2_norm(F.col("qv")).alias("qnrm"))


def test_ivf_centroids_deterministic_hash_sample(spark):
    rows = [(i, _vec(i)) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    c1 = sorted(r.cent_id for r in ivf_centroids(df, 5).collect())
    c2 = sorted(r.cent_id for r in ivf_centroids(df, 5).collect())
    assert len(c1) == 5 and c1 == c2
    assert set(c1) <= set(range(30))


def test_ivf_assign_picks_max_cosine_cell(spark):
    rows = [(i, _vec(i)) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    cents = ivf_centroids(df, 4)
    got = {r.vec_id: r.cell for r in ivf_assign(df, cents).collect()}
    assert len(got) == 30
    cvs = {r.cent_id: r.cv for r in cents.collect()}

    def cos6(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return math.floor(d / (na * nb) * 1e6 + 0.5) / 1e6

    for i, v in rows:
        best = min(((-cos6(v, cv), cid) for cid, cv in cvs.items()))[1]
        assert got[i] == best, i


def test_ivf_probe_all_cells_matches_bruteforce(spark):
    # nprobe == n_cells probes every cell, so IVF degenerates to the exact
    # scan and must return the same ids as the brute-force baseline
    rows = [(i, _vec(i)) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    q = _query_df(spark, 999)
    cents = ivf_centroids(df, 4)
    assign = ivf_assign(df, cents)
    ivf = ivf_probe_topk(df, cents, assign, q, k=5, nprobe=4).collect()
    brute = cosine_topk(df, q, k=5).collect()
    assert [r.vec_id for r in ivf] == [r.vec_id for r in brute]
    assert [r.cosine for r in ivf] == [r.cosine for r in brute]


def test_ivf_probe_prunes_to_probed_cells(spark):
    rows = [(i, _vec(i)) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    q = _query_df(spark, 999)
    cents = ivf_centroids(df, 8)
    assign = ivf_assign(df, cents)
    out = ivf_probe_topk(df, cents, assign, q, k=40, nprobe=2).collect()
    assert 0 < len(out) < 40          # pruned: only ~2/8 of rows scanned
    assert len({r.cell for r in out}) <= 2


def test_embed_near_pairs_explicit_planes_finds_duplicate(spark):
    # explicit n_planes skips the plan-build count() (the non-Parquet
    # escape hatch); an exact duplicate shares the family-0 bucket and
    # must surface at cosine 1.0, ordered (lo, hi)
    rows = [(i, _vec(i)) for i in range(20)] + [(100, _vec(3))]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    out = embed_near_pairs(df, dim=8, threshold=0.99, n_planes=3).collect()
    assert (3, 100, 1.0) in {(r.vec_a, r.vec_b, r.cosine) for r in out}
    assert all(r.vec_a < r.vec_b for r in out)


def test_knn_blocked_finds_exact_duplicates(spark):
    # identical vectors share every SRP bucket in every family, so a
    # duplicate is always a candidate and ranks first at cosine 1.0
    rows = [(i, _vec(i)) for i in range(30)] + [(100, _vec(7))]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    out = knn_blocked(df, dim=8, k=1, n_planes=3).collect()
    top = {r.vec_id: (r.neighbor_id, r.cosine) for r in out}
    assert top[7] == (100, 1.0)
    assert top[100] == (7, 1.0)


def test_pq_codebook_shape_and_determinism(spark):
    from hippo_claim_crossover_spark.operators.similarity import pq_codebook

    rows = [(i, _vec(i)) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    book = pq_codebook(df, dim=8, m_sub=4, k_codes=8)
    got = book.collect()
    assert len(got) == 4 * 8                       # M×K entries
    assert {r.m for r in got} == set(range(4))
    assert {r.j for r in got} == set(range(8))
    assert all(len(r.cv) == 2 for r in got)        # dim/m_sub sub-vectors
    again = {(r.m, r.j): r.cv for r in pq_codebook(
        df, dim=8, m_sub=4, k_codes=8).collect()}
    assert {(r.m, r.j): r.cv for r in got} == again


def test_pq_encode_one_code_per_subspace(spark):
    from hippo_claim_crossover_spark.operators.similarity import (
        pq_codebook,
        pq_encode,
    )

    rows = [(i, _vec(i)) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    book = pq_codebook(df, dim=8, m_sub=4, k_codes=8)
    codes = pq_encode(df, book, dim=8, m_sub=4).collect()
    assert len(codes) == 30 * 4
    assert all(0 <= r.code < 8 for r in codes)
    # a vector IN the codebook encodes to itself: sub-distance 0 per m
    sampled = {r.j for r in book.collect()}
    assert sampled  # sanity


def test_pq_adc_with_full_codebook_is_exact_l2(spark):
    """k_codes ≥ N ⇒ every vector is its own codebook entry, each
    sub-distance is exact, and ADC top-k equals brute-force squared-L2
    top-k — the PQ analogue of the IVF nprobe=all ≡ brute-force test."""
    from hippo_claim_crossover_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebook,
        pq_encode,
    )

    rows = [(i, _vec(i)) for i in range(25)]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    q = spark.createDataFrame([(_vec(999),)], "qv array<double>")
    book = pq_codebook(df, dim=8, m_sub=4, k_codes=25)
    codes = pq_encode(df, book, dim=8, m_sub=4)
    got = pq_adc_topk(codes, book, q, k=5, dim=8, m_sub=4).collect()

    qv = _vec(999)
    exact = sorted(
        (round(sum((a - b) ** 2 for a, b in zip(r[1], qv)), 4), r[0])
        for r in rows)[:5]
    assert [r.vec_id for r in got] == [vid for _, vid in exact]
    for r, (d2, _) in zip(got, exact):
        assert math.isclose(r.approx_d2, d2, abs_tol=2e-4)


def test_arrow_kernels_bit_match_hof_expressions(spark):
    """The Arrow numpy kernels (srp_keys_arrow, pair_cosine_arrow) must
    reproduce the interpreted HOF expressions they replaced BIT-FOR-BIT —
    same left-fold accumulation order, same floor rounding — or the
    DuckDB oracles built against the HOF semantics drift. Compares every
    normalized component, bucket id, and rounded pair cosine on awkward
    (non-round, sign-mixed) vectors."""
    from pyspark.sql import types as T

    from hippo_claim_crossover_spark.operators.similarity import (
        duck_round,
        dot,
        pair_cosine_arrow,
        srp_bucket,
        srp_keys_arrow,
    )

    dim = 8
    rows = [(i, _vec(i * 3 + 1, dim)) for i in range(60)]
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("v", T.ArrayType(T.DoubleType())),
    ])
    df = spark.createDataFrame(rows, schema)
    fams = [srp_family(f, 5, dim) for f in range(2)]

    hof = (df.withColumn("_nrm", l2_norm(F.col("v")))
           .select("vec_id",
                   F.transform(F.col("v"),
                               lambda x: x / F.col("_nrm")).alias("_vn"),
                   F.array(*[srp_bucket(F.col("v"), f)
                             for f in fams]).alias("_bs")))
    ker = srp_keys_arrow(df, fams)
    h = {r["vec_id"]: r for r in hof.collect()}
    k = {r["vec_id"]: r for r in ker.collect()}
    assert h.keys() == k.keys()
    for i in h:
        assert h[i]["_bs"] == k[i]["_bs"], i
        assert h[i]["_vn"] == k[i]["_vn"], i  # exact doubles, not approx

    # pair scoring: kernel cosine == HOF duck_round(dot) on all pairs
    a, b = hof.alias("a"), hof.alias("b")
    pairs = (a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
             .select(F.col("a.vec_id").alias("id_a"),
                     F.col("b.vec_id").alias("id_b"),
                     F.col("a._vn").alias("va"), F.col("b._vn").alias("vb")))
    want = {(r["id_a"], r["id_b"]): r["c"] for r in pairs.select(
        "id_a", "id_b",
        duck_round(dot(F.col("va"), F.col("vb")), 4).alias("c")).collect()}
    got = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in pair_cosine_arrow(pairs, nd=4).collect()}
    assert want == got
