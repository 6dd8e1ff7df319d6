"""Deduplication operators over any DataFrame with an id + text column.

The 100 TB shapes (see SCALE.md "Dedup / similarity"): exact dedup is one
hash-groupBy; near-dup always goes through a reduction (shingle inverted
index, MinHash signature, SimHash bits) before any pairwise work — never
an O(n²) cross join. ``plans/dedup.py`` applies these to the fixture
``documents`` table with matching DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hippo_claim_crossover_spark.session import materialize

NGRAM = 4

# Affine MinHash family over one md5-derived 28-bit base hash:
# h_i = (a_i*h + b_i) mod 2^31. One md5 per shingle; the k variants are
# integer ops inside codegen. Fixed seedless constants.
MINHASH_A = [0x769d1553, 0x27d4eb2f, 0x165667b1, 0x9e3779b1,
             0x85ebca77, 0xc2b2ae3d, 0x5bd1e995, 0x2545f491]
MINHASH_B = [0x1b873593, 0xcc9e2d51, 0x38b34ae5, 0x6c62272e,
             0x61c88647, 0x7feb352d, 0x45d9f3b3, 0x119de1f3]
MINHASH_MOD = 1 << 31
SIMHASH_BITS = 32
# md5-derived per-token hash is 15 hex chars = 60 bits; signatures can't
# exceed what the hash supplies.
SIMHASH_MAX_BITS = 60
SIMHASH_TARGET_BUCKET = 32


def simhash_bits_for(n_rows: int, max_hamming: int = 3,
                     target_bucket: int = SIMHASH_TARGET_BUCKET,
                     min_bits: int = SIMHASH_BITS,
                     max_bits: int = SIMHASH_MAX_BITS) -> int:
    """Signature width for which the hamming-ball chunk join stays
    sub-quadratic at ``n_rows`` documents — the simhash analogue of
    similarity.planes_for.

    The pigeonhole join blocks on ``max_hamming + 1`` chunks of
    ``bits // (max_hamming + 1)`` bits each; expected chunk-bucket
    population is ``n / 2^chunk_bits``, so a FIXED width re-quadratizes as
    the corpus grows (measured: 32-bit / 8-bit chunks went 0.23s → 11.7s
    on 5k → 50k template docs — 50×, while every other dedup operator
    grew ≤1.8×). Chunk width grows with log2(n/target) instead, clamped
    to what the 60-bit md5-derived token hash can supply. Integer-only so
    any engine reproduces the same width from COUNT(*)."""
    n_chunks = max_hamming + 1
    w = 0
    while (w < max_bits // n_chunks
           and target_bucket * (1 << w) < n_rows):
        w += 1
    return max(min_bits, n_chunks * w)


def shingles(toks: Column, n: int = NGRAM) -> Column:
    """Distinct n-gram shingles of a token array (length must be ≥ n)."""
    starts = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    return F.array_distinct(
        F.transform(starts, lambda i: F.array_join(F.slice(toks, i, n), " ")))


def exact_dedup(df: DataFrame, key_cols: list[str],
                id_col: str) -> DataFrame:
    """Keep the smallest id per distinct key tuple — one shuffle on the
    (hashed) key columns. Returns (kept id, n_copies, *key_cols)."""
    return (
        df.groupBy(*key_cols)
        .agg(F.min(id_col).alias(f"keep_{id_col}"),
             F.count(F.lit(1)).alias("n_copies"))
    )


def shingle_table(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = NGRAM) -> DataFrame:
    """(id, n_sh, sh) rows — sh is xxhash64 of the shingle (8-byte shuffle
    keys), n_sh the document's distinct-shingle count carried through the
    explode (free: Generate keeps parent columns). The shingle array is
    materialized in its own projection so posexplode and size() share one
    evaluation per document instead of re-running the higher-order
    expression (the measured pathology in SCALE.md)."""
    toks = F.split(F.col(text_col), " ")
    arr = (
        df.where(F.size(toks) >= n)
        .select(id_col, shingles(toks, n).alias("_sh_arr"))
    )
    return (
        arr.select(id_col, F.size("_sh_arr").alias("n_sh"),
                   F.posexplode("_sh_arr").alias("pos", "sh_str"))
        .select(id_col, "n_sh", F.xxhash64("sh_str").alias("sh"))
    )


def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = NGRAM,
                        threshold: float = 0.2) -> DataFrame:
    """Near-dup pairs by n-gram Jaccard ≥ threshold via the shingle
    inverted-index self-join — cost follows posting-list sizes, not n².

    The shingle table is materialized once: the self-join would otherwise
    evaluate the shingle pipeline (split → transform → array_join →
    array_distinct → hash) once per side, and InferFiltersFromGenerate
    pushes size/notnull predicates that re-evaluate it again inside the
    scan — 4-6 evaluations measured vs 1 here (2.6s → 0.7s on sf0.1).
    Jaccard denominators ride along as the carried n_sh column, so no
    separate size table or extra joins."""
    sh = materialize(shingle_table(df, id_col, text_col, n), "shingles")
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.sh") == F.col("b.sh"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                 F.col(f"b.{id_col}").alias("id_b"),
                 F.col("a.n_sh").alias("na"),
                 F.col("b.n_sh").alias("nb"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    # floor-formula rounding (≡ DuckDB round on this non-negative
    # quotient): intersection/union can print as .xxx5 while the raw
    # double sits below it — Spark round()'s repr-based HALF_UP would
    # diverge from the oracle there.
    s4 = F.lit(1e4)
    jac = (F.floor(F.col("inter").cast("double")
                   / (F.col("na") + F.col("nb") - F.col("inter")) * s4
                   + F.lit(0.5))).cast("double") / s4
    return (pairs.select("id_a", "id_b", jac.alias("jaccard"))
            .where(F.col("jaccard") >= threshold))


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", k: int = 8,
                       n: int = NGRAM) -> DataFrame:
    """k-wide MinHash signature per document (columns mh_0..mh_{k-1})."""
    if k > len(MINHASH_A):
        raise ValueError(f"k={k} exceeds the fixed family size "
                         f"{len(MINHASH_A)}")
    toks = F.split(F.col(text_col), " ")
    sh = (
        df.where(F.size(toks) >= n)
        .select(id_col, F.explode(shingles(toks, n)).alias("sh"))
        # 7 hex chars → h < 2^28, so a_i*h + b_i < 2^59 never overflows
        # a long (ANSI mode would raise).
        .select(id_col,
                F.conv(F.substring(F.md5("sh"), 1, 7), 16, 10)
                .cast("long").alias("h"))
    )
    aggs = [
        F.min((F.col("h") * F.lit(MINHASH_A[i]) + F.lit(MINHASH_B[i]))
              % F.lit(MINHASH_MOD)).alias(f"mh_{i}")
        for i in range(k)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_band_pairs(signatures: DataFrame, id_col: str = "doc_id",
                   k: int = 8, rows_per_band: int = 2) -> DataFrame:
    """Candidate pairs whose MinHash signatures collide in ≥1 band — the
    banding equi-join that makes near-dup search sub-quadratic. Emits
    distinct (id_a, id_b) candidates for exact re-verification."""
    n_bands = k // rows_per_band
    bands = F.array(*[
        F.xxhash64(*[F.col(f"mh_{b * rows_per_band + r}")
                     for r in range(rows_per_band)], F.lit(b))
        for b in range(n_bands)])
    keyed = signatures.select(
        id_col, F.explode(bands).alias("band_key"))
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def simhash_hamming_pairs(signatures: DataFrame, id_col: str = "doc_id",
                          bits: int = SIMHASH_BITS,
                          max_hamming: int = 3) -> DataFrame:
    """Pairs of documents whose SimHash signatures are within
    ``max_hamming`` bits — the detector step that turns signatures into
    near-dup candidates.

    Sub-quadratic via chunk banding (pigeonhole): split the ``bits``-bit
    signature into ``max_hamming + 1`` chunks; any pair with hamming ≤ d
    differs in ≤ d chunks, so at least one chunk matches *exactly* —
    an equi-join on (chunk_idx, chunk_value) finds every qualifying pair
    without an all-pairs comparison, then ``bit_count(xor)`` verifies the
    exact distance. This is Manku et al.'s simhash-dedup table scheme
    (WWW'07, public) expressed as one self-join.

    The signature table is materialized: the self-join would
    otherwise re-run the whole simhash pipeline (token explode + 32-bit
    vote aggregation) once per side. First-colliding-chunk rule keeps the
    chunk outputs disjoint, so no distinct shuffle — same device as
    operators/similarity.knn_blocked's family rule, unrolled statically
    to stay on the codegen path."""
    n_chunks = max_hamming + 1
    cb = bits // n_chunks  # last chunk absorbs the remainder bits

    def chunk(col: Column, c: int) -> Column:
        width = cb if c < n_chunks - 1 else bits - cb * (n_chunks - 1)
        return F.shiftright(col, c * cb).bitwiseAND(F.lit((1 << width) - 1))

    sig = materialize(signatures, "simhash_sigs")
    keyed = sig.select(
        id_col, "simhash",
        F.posexplode(F.array(*[chunk(F.col("simhash"), c)
                               for c in range(n_chunks)])).alias("ck", "cv"))
    a, b = keyed.alias("a"), keyed.alias("b")
    earlier_hit = F.lit(False)
    for c in range(1, n_chunks):
        hit_c = F.lit(False)
        for i in range(c):
            hit_c = hit_c | (chunk(F.col("a.simhash"), i)
                             == chunk(F.col("b.simhash"), i))
        earlier_hit = earlier_hit | ((F.col("a.ck") == c) & hit_c)
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, (F.col("a.ck") == F.col("b.ck"))
               & (F.col("a.cv") == F.col("b.cv"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
               & ~earlier_hit)
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def simhash(df: DataFrame, id_col: str = "doc_id",
            text_col: str = "text", bits: int = SIMHASH_BITS) -> DataFrame:
    """Per-document SimHash: per-bit ±1 votes from each token's md5 hash,
    sign → bit. Near-dups differ in few bits (hamming distance)."""
    tok = (
        df.select(id_col,
                  F.explode(F.split(F.col(text_col), " ")).alias("tk"))
        .withColumn("h", F.conv(F.substring(F.md5("tk"), 1, 15), 16, 10)
                    .cast("long"))
    )
    votes = [
        F.sum(F.when(F.col("h").bitwiseAND(F.lit(1 << j)) != 0, 1)
              .otherwise(-1)).alias(f"v_{j}")
        for j in range(bits)
    ]
    voted = tok.groupBy(id_col).agg(*votes)
    acc = None
    for j in range(bits):
        bit = F.when(F.col(f"v_{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        acc = bit if acc is None else acc + bit
    return voted.select(id_col, acc.cast("long").alias("simhash"))
