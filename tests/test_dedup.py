"""Dedup operator tests with planted duplicates — the fixtures contain no
true dups, so build small corpora in-test and verify each detector finds
the planted pair (SURVEY.md §5.2)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hippo_claim_crossover_spark.operators.hashing import (
    md5_long, sql_md5_long)
from hippo_claim_crossover_spark.plans.dedup import _shingles


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


BASE = ("the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm window sill every single day")
NEAR = BASE.replace("warm", "cold")  # one-token edit → high Jaccard
FAR = ("completely different content about spark query engines and "
       "columnar storage formats with vectorized execution pipelines")


def test_shingles(spark):
    df = _docs(spark, [(1, "a b c d e")])
    out = df.select(_shingles(F.split("text", " "), 4).alias("s")).head()["s"]
    assert out == ["a b c d", "b c d e"]


def test_md5_long_matches_duckdb(spark):
    """Spark ``md5_long``, DuckDB ``sql_md5_long`` and hashlib build the
    same 60-bit key for ASCII, empty, non-ASCII and cast-integer inputs,
    and the key's top 28 bits (``>> 32``, the MinHash base hash) are
    exactly the 7-hex prefix."""
    import hashlib

    import duckdb

    texts = ["hello", "", "naïve café ✓"]
    df = spark.createDataFrame([(s,) for s in texts], "s string").union(
        spark.range(42, 43).select(F.col("id").cast("string").alias("s")))
    got = {r["s"]: (r["h"], r["top"]) for r in df.select(
        "s", md5_long("s").alias("h"),
        F.shiftright(md5_long("s"), 32).alias("top")).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [[s] for s in texts])
    con.execute("INSERT INTO t SELECT CAST(CAST(42 AS BIGINT) AS VARCHAR)")
    duck = {s: (h, top) for s, h, top in con.execute(
        f"SELECT s, {sql_md5_long('s')}, ({sql_md5_long('s')} >> 32) "
        "FROM t").fetchall()}
    for s in texts + ["42"]:
        hexdigest = hashlib.md5(s.encode()).hexdigest()
        want = (int(hexdigest[:15], 16), int(hexdigest[:7], 16))
        assert got[s] == duck[s] == want, s


def test_ngram_jaccard_finds_planted_pair(spark):
    df = _docs(spark, [(1, BASE), (2, NEAR), (3, FAR)])
    toks = F.split(F.col("text"), " ")
    sh = df.select("doc_id", F.size(_shingles(toks)).alias("n_sh"),
                   F.explode(_shingles(toks)).alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.sh") == F.col("b.sh"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"),
                 F.col("a.n_sh").alias("na"), F.col("b.n_sh").alias("nb"))
        .agg(F.count(F.lit(1)).alias("inter"))
        .withColumn("jaccard", F.col("inter")
                    / (F.col("na") + F.col("nb") - F.col("inter")))
    )
    got = {(r["da"], r["db"]): r["jaccard"] for r in pairs.collect()}
    assert (1, 2) in got and got[(1, 2)] > 0.5
    assert (1, 3) not in got  # disjoint shingles never pair up


def test_minhash_similar_docs_share_signature_components(spark):
    # Mirrors q_dedup_minhash's affine family (one md5-derived base hash,
    # k integer transforms) on controlled docs.
    from hippo_claim_crossover_spark.plans.dedup import _MH_A, _MH_B, _MH_MOD

    df = _docs(spark, [(1, BASE), (2, NEAR), (3, FAR)])
    toks = F.split(F.col("text"), " ")
    sh = (df.select("doc_id", F.explode(_shingles(toks)).alias("sh"))
          .select("doc_id",
                  F.conv(F.substring(F.md5("sh"), 1, 7), 16, 10)
                  .cast("long").alias("h")))
    sig = sh.groupBy("doc_id").agg(*[
        F.min((F.col("h") * F.lit(_MH_A[i]) + F.lit(_MH_B[i]))
              % F.lit(_MH_MOD)).alias(f"mh_{i}") for i in range(8)])
    rows = {r["doc_id"]: [r[f"mh_{i}"] for i in range(8)]
            for r in sig.collect()}
    shared_near = sum(x == y for x, y in zip(rows[1], rows[2]))
    shared_far = sum(x == y for x, y in zip(rows[1], rows[3]))
    assert shared_near >= 4  # ~87% Jaccard → most minhashes agree
    assert shared_far == 0


def test_lsh_band_recall_covers_true_near_dups(spark, sf_dir):
    """LSH banding is a candidate generator: every pair the exact n-gram
    Jaccard query reports as a near-dup must collide in at least one band
    (recall ⊇ truth at this threshold; precision is then re-verified
    exactly downstream)."""
    from hippo_claim_crossover_spark.plans import ALL_SPECS

    true_pairs = {(r["doc_a"], r["doc_b"]) for r in
                  ALL_SPECS["q_dedup_ngram"].fn(spark, sf_dir).collect()}
    cand_pairs = {(r["doc_a"], r["doc_b"]) for r in
                  ALL_SPECS["q_dedup_lshband"].fn(spark, sf_dir).collect()}
    assert true_pairs, "fixture should contain near-dups"
    missed = true_pairs - cand_pairs
    # 4 bands x 2 rows at jaccard>=0.2 gives high-but-not-certain recall;
    # on the deterministic fixtures the observed recall is total.
    assert not missed, f"banding missed true near-dups: {missed}"


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_connected_components_basic(spark):
    from hippo_claim_crossover_spark.operators.graph import (
        connected_components,
    )
    # two components {1,2,3,4} (path) and {10,11}; duplicate + reversed
    # + self-loop edges must not matter
    e = _edges(spark, [(1, 2), (2, 3), (4, 3), (10, 11), (11, 10),
                       (2, 1), (5, 5)])
    got = {(r["node"], r["comp"])
           for r in connected_components(e).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}


def test_connected_components_long_path(spark):
    """A 40-node path converges in O(log n) star rounds, far under the
    max_iter cap - the shape where diameter-bound label propagation
    would need 40 rounds."""
    from hippo_claim_crossover_spark.operators.graph import (
        connected_components,
    )
    e = _edges(spark, [(i, i + 1) for i in range(1, 40)])
    rows = connected_components(e).collect()
    assert len(rows) == 40
    assert {r["comp"] for r in rows} == {1}


def test_connected_components_empty(spark):
    from hippo_claim_crossover_spark.operators.graph import (
        connected_components,
    )
    e = spark.createDataFrame([], "src long, dst long")
    assert connected_components(e).count() == 0


def test_simhash_hamming_pairs_equal_brute_force(spark):
    """Chunk banding must return EXACTLY the brute-force hamming-ball
    pairs (pigeonhole guarantees recall; bit_count verification removes
    false candidates). Randomized signatures, fixed seed."""
    import random

    from hippo_claim_crossover_spark.operators.dedup import (
        simhash_hamming_pairs,
    )

    rng = random.Random(7)
    sigs = [(i, rng.getrandbits(32)) for i in range(80)]
    # plant near pairs at known distances
    sigs.append((100, sigs[0][1] ^ 0b1))            # hamming 1
    sigs.append((101, sigs[1][1] ^ 0b10000001))     # hamming 2
    sigs.append((102, sigs[2][1] ^ 0b1111))         # hamming 4 (excluded)
    df = spark.createDataFrame(sigs, "doc_id long, simhash long")
    got = {(r["id_a"], r["id_b"], r["hamming"])
           for r in simhash_hamming_pairs(df, max_hamming=3).collect()}
    want = {(a, b, bin(sa ^ sb).count("1"))
            for (a, sa) in sigs for (b, sb) in sigs
            if a < b and bin(sa ^ sb).count("1") <= 3}
    assert got == want
    assert (0, 100, 1) in want and (1, 101, 2) in want
    assert not any(p[:2] == (2, 102) for p in want)


def test_simhash_pairs_signature_computed_once(spark):
    """The self-join must read one checkpointed signature table, not
    re-run the token-explode + 32-bit vote pipeline per side."""
    from hippo_claim_crossover_spark.plans import ALL_SPECS

    df = ALL_SPECS["q_dedup_simhash_pairs"].fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan
    assert "Generate explode" not in plan, \
        "token explode leaked into the pair join plan"


def test_simhash_bits_for_grows_with_corpus_and_clamps():
    """The adaptive signature-width policy (simhash analogue of
    planes_for): fixture sizes stay at the 32-bit default, chunk width
    grows with log2(n/target) beyond, multiples of n_chunks always, and
    the 60-bit md5 supply is the hard cap."""
    from hippo_claim_crossover_spark.operators.dedup import (
        SIMHASH_MAX_BITS,
        simhash_bits_for,
    )

    assert simhash_bits_for(0) == 32
    assert simhash_bits_for(500) == 32
    assert simhash_bits_for(5_000) == 32
    assert simhash_bits_for(50_000) == 44
    assert simhash_bits_for(10**12) == SIMHASH_MAX_BITS
    prev = 0
    for n in (10**3, 10**4, 10**5, 10**6, 10**7):
        b = simhash_bits_for(n)
        assert b >= prev, n          # monotone
        assert b % 4 == 0, n         # whole chunks (max_hamming+1 = 4)
        prev = b
    # expected chunk-bucket population stays <= target until the cap
    for n in (10**4, 10**5, 10**6):
        w = simhash_bits_for(n) // 4
        assert n / (1 << w) <= 32, n


def test_ml_lsh_near_dup_covers_exact_pairs(spark, sf_dir):
    """q_dedup_near (seeded ml MinHashLSH) must RECALL every exact
    near-dup pair the deterministic n-gram Jaccard detector finds: the
    exact pairs' similarity is far above the LSH query threshold, so
    with the fixed seed the candidate set covers them — the invariant
    the query's own verdict columns (n_missed / full_recall) encode."""
    from hippo_claim_crossover_spark.plans import ALL_SPECS

    [row] = ALL_SPECS["q_dedup_near"].fn(spark, sf_dir).collect()
    assert row["n_exact_pairs"] > 0, "fixture must contain near-dup pairs"
    assert row["n_missed"] == 0, dict(row.asDict())
    assert row["full_recall"], dict(row.asDict())
