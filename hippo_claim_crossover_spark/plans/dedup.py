"""Deduplication operators over ``documents``/``embeddings`` (§2b
LLM-pipeline surface): exact, n-gram Jaccard, MinHash signatures + LSH,
SimHash, embedding-cosine near-dup.

Scale design (100 TB): the O(n²) shapes are avoided everywhere —
- n-gram Jaccard joins on *shingles* (pairs only materialize for docs
  sharing a shingle; 4-gram shingles over the fixture vocabulary keep the
  per-shingle posting lists short);
- MinHash reduces each doc to a k-int signature; LSH banding turns
  near-dup search into an equi-join on band keys;
- embedding near-dup blocks on the adaptive SRP-LSH bucket id (bucket
  count grows with the table) before any pairwise cosine;
- exact dedup groups on md5(text), so the shuffle carries a 32-byte
  digest per document, never the body.

Hash functions are md5-derived (first 15 hex chars → BIGINT), which both
Spark and DuckDB can compute bit-identically — so even MinHash/SimHash
signatures are oracle-checkable, unlike seed-dependent ml.feature hashes.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hippo_claim_crossover_spark.operators import dedup as ops_dedup
from hippo_claim_crossover_spark.operators.dedup import (
    MINHASH_A as _MH_A,
    MINHASH_B as _MH_B,
    MINHASH_MOD as _MH_MOD,
    shingles as _shingles,
)
from hippo_claim_crossover_spark.operators.hashing import (
    md5_long, sql_md5_long)
from hippo_claim_crossover_spark.plans.base import (
    QuerySpec,
    duck_round,
    r4_sql,
    t,
    t_wide,
)
from hippo_claim_crossover_spark.session import materialize

N_MINHASH = 8
SIMHASH_BITS = 32
NGRAM = 4
JACCARD_THRESHOLD = 0.2


# DuckDB: tk[i:i+n-1] is 1-based inclusive slicing; range() is end-exclusive.
_SQL_SHINGLES = (
    "list_distinct(list_transform(range(1, len(string_split(text,' ')) - "
    f"{NGRAM - 2}), i -> array_to_string(string_split(text,' ')"
    f"[i:i+{NGRAM - 1}], ' ')))"
)
# Per-shingle 28-bit MinHash base hash — the DuckDB mirror of
# operators.dedup.minhash_signatures' ``md5_long(sh) >> 32``.
_SQL_MH_BASE = f"({sql_md5_long(f'unnest({_SQL_SHINGLES})')} >> 32)"


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keep the smallest doc_id per distinct content. Groups
    on md5(text) — the shuffle moves a 32-byte digest per document, never
    the document body (at 100 TB the body-keyed groupBy would ship the
    whole corpus through the exchange). Collision risk of a 128-bit
    digest over any realistic corpus is negligible (~n²/2^129)."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5("text").alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"),
             F.count(F.lit(1)).alias("n_copies"))
        .select("keep_doc_id", "content_hash", "n_copies")
    )


ORACLE_DEDUP_EXACT = """
SELECT min(doc_id) AS keep_doc_id, md5(text) AS content_hash,
       count(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram Jaccard near-dup: shingle → inverted-index self-join →
    |A∩B| / |A∪B| ≥ threshold. The join is on shingles, so cost scales with
    posting-list sizes, not n²."""
    d = t_wide(spark, sf_dir, "documents")
    # Implementation notes (xxhash64 join keys, posexplode plan shape,
    # carried n_sh column, one materialization of the shingle table so
    # the self-join reads one materialization instead of re-deriving the
    # shingle pipeline per side) live on
    # operators.dedup.ngram_jaccard_pairs / shingle_table.
    return (
        ops_dedup.ngram_jaccard_pairs(d, "doc_id", "text", NGRAM,
                                      JACCARD_THRESHOLD)
        .withColumnsRenamed({"id_a": "doc_a", "id_b": "doc_b"})
    )


ORACLE_DEDUP_NGRAM = f"""
WITH sh AS (
  SELECT doc_id, len({_SQL_SHINGLES}) AS n_sh,
         unnest({_SQL_SHINGLES}) AS sh
  FROM documents
  WHERE len(string_split(text, ' ')) >= {NGRAM}
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb,
         count(*) AS inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b,
       round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) AS jaccard
FROM pairs
WHERE round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) >= {JACCARD_THRESHOLD}
"""


# Containment threshold: C(A→B) = |A∩B|/|A| ≥ 0.8 flags A as mostly
# inside B even when Jaccard is low (the quote-inclusion / doc-in-doc
# class symmetric dedup misses).
CONTAINMENT_THRESHOLD = 0.8


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection by shingle containment — the
    doc-in-doc face Jaccard is blind to: a 30-shingle quote fully
    embedded in a 3,000-shingle article has C(quote→article) = 1.0 but
    Jaccard ≈ 0.01, so symmetric dedup keeps both and the training set
    still memorizes the quote twice. Emits every unordered pair whose
    larger DIRECTIONAL containment reaches the threshold, with both
    directions, Jaccard, and an ``asym`` verdict (high containment,
    Jaccard below 0.5 — the pairs only this query finds).

    Same sub-quadratic shape as ``q_dedup_ngram``: the shingle
    inverted-index self-join computes |A∩B| per candidate pair (cost
    follows posting-list sizes, never n²), the per-doc shingle counts
    ride the carried ``n_sh`` column (no size-table join), and both
    containments plus Jaccard derive from the one (inter, na, nb)
    aggregate row — one extra projection over the Jaccard query, zero
    extra shuffles. Rounding rides the floor-formula (≡ DuckDB round on
    non-negative quotients)."""
    d = t_wide(spark, sf_dir, "documents")
    sh = materialize(ops_dedup.shingle_table(d, "doc_id", "text", NGRAM),
                     "shingles")
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.sh") == F.col("b.sh"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"),
                 F.col("a.n_sh").alias("na"),
                 F.col("b.n_sh").alias("nb"))
        .agg(F.count(F.lit(1)).alias("inter")))
    cab = duck_round(F.col("inter").cast("double") / F.col("na"), 4)
    cba = duck_round(F.col("inter").cast("double") / F.col("nb"), 4)
    jac = duck_round(F.col("inter").cast("double")
                     / (F.col("na") + F.col("nb") - F.col("inter")), 4)
    return (pairs.select(
        "doc_a", "doc_b",
        F.col("na").cast("long").alias("na"),
        F.col("nb").cast("long").alias("nb"), "inter",
        cab.alias("cont_a_in_b"), cba.alias("cont_b_in_a"),
        jac.alias("jaccard"))
        .where(F.greatest("cont_a_in_b", "cont_b_in_a")
               >= CONTAINMENT_THRESHOLD)
        .withColumn("asym", F.col("jaccard") < 0.5)
        .orderBy("doc_a", "doc_b"))


ORACLE_DEDUP_CONTAINMENT = f"""
WITH sh AS (
  SELECT doc_id, len({_SQL_SHINGLES}) AS n_sh,
         unnest({_SQL_SHINGLES}) AS sh
  FROM documents
  WHERE len(string_split(text, ' ')) >= {NGRAM}
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb,
         CAST(count(*) AS BIGINT) AS inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
), scored AS (
  SELECT doc_a, doc_b, na, nb, inter,
         round(CAST(inter AS DOUBLE) / na, 4) AS cont_a_in_b,
         round(CAST(inter AS DOUBLE) / nb, 4) AS cont_b_in_a,
         round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) AS jaccard
  FROM pairs
)
SELECT doc_a, doc_b, na, nb, inter, cont_a_in_b, cont_b_in_a, jaccard,
       jaccard < 0.5 AS asym
FROM scored
WHERE greatest(cont_a_in_b, cont_b_in_a) >= {CONTAINMENT_THRESHOLD}
ORDER BY doc_a, doc_b
"""


# Span width for exact-substring dedup (tokens per window).
SPAN_W = 8


def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING duplication profile (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): the fraction of each
    source's tokens covered by a ``SPAN_W``-token window that occurs
    MORE THAN ONCE in the corpus — the span-level signal doc-level
    dedup (exact/MinHash) misses, and the cross-doc complement of
    q_repetition's intra-doc top-bigram share. Flags docs where ≥ half
    the tokens sit in duplicated spans (``2·dup ≥ n`` — integer
    cross-multiplication, never a float threshold).

    Shape: row-local sliding windows (codegen array transform +
    posexplode), window occurrence counts via partial/final hash agg on
    the 8-byte ``xxhash64`` key (the shingle_table discipline — strings
    never shuffle), duplicated positions re-attach by the same key, and
    per-doc covered-token counts come from a lag window over each doc's
    duplicated positions (``Σ least(pos − prev, W)`` merges overlapping
    spans in one pass — no interval materialization). The only
    per-group window partitions by doc_id (bounded by doc length).
    Token totals and coverage are integers end-to-end; the one division
    per output row is the rounded fraction."""
    d = (t_wide(spark, sf_dir, "documents")
         .select("doc_id", "source", F.split("text", " ").alias("tk"))
         .withColumn("n_tok", F.size("tk")))
    wins = materialize(
        d.where(F.col("n_tok") >= SPAN_W)
        .select("doc_id",
                F.posexplode(F.expr(
                    f"transform(sequence(1, n_tok - {SPAN_W} + 1), "
                    f"i -> array_join(slice(tk, i, {SPAN_W}), ' '))"))
                .alias("pos0", "win"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"),
                F.xxhash64("win").alias("wh")),
        "span_windows")
    dup = (wins.groupBy("wh").agg(F.count(F.lit(1)).alias("_c"))
           .where(F.col("_c") >= 2).select("wh"))
    lag_w = Window.partitionBy("doc_id").orderBy("pos")
    cov = (wins.join(dup, "wh")
           .withColumn("_prev", F.lag("pos").over(lag_w))
           .withColumn("_cover",
                       F.least(F.col("pos")
                               - F.coalesce("_prev",
                                            F.col("pos") - SPAN_W),
                               F.lit(SPAN_W)))
           .groupBy("doc_id")
           .agg(F.sum("_cover").alias("dup_tokens")))
    per_doc = (d.select("doc_id", "source", "n_tok")
               .join(cov, "doc_id", "left")
               .withColumn("dup_tokens",
                           F.coalesce("dup_tokens", F.lit(0))))
    frac = duck_round(F.sum("dup_tokens").cast("double")
                      / F.sum("n_tok").cast("double"), 4)
    return (per_doc.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tok").alias("tot_tokens"),
                 F.sum("dup_tokens").alias("dup_tokens"),
                 frac.alias("dup_frac"),
                 F.sum(F.when(F.lit(2) * F.col("dup_tokens")
                              >= F.col("n_tok"), 1).otherwise(0))
                 .cast("long").alias("n_flagged"))
            .orderBy("source"))


ORACLE_DEDUP_SPANS = f"""
WITH d AS (
  SELECT doc_id, source, string_split(text, ' ') AS tk,
         len(string_split(text, ' ')) AS n_tok
  FROM documents
), wins AS (
  SELECT doc_id,
         unnest(list_transform(range(1, n_tok - {SPAN_W} + 2),
                i -> struct_pack(pos := i,
                     win := array_to_string(tk[i:i+{SPAN_W}-1], ' '))))
           AS u
  FROM d WHERE n_tok >= {SPAN_W}
), w2 AS (
  SELECT doc_id, u.pos AS pos, u.win AS win FROM wins
), dup AS (
  SELECT win FROM w2 GROUP BY win HAVING count(*) >= 2
), dw AS (
  SELECT w2.doc_id, w2.pos,
         lag(w2.pos) OVER (PARTITION BY w2.doc_id ORDER BY w2.pos) AS prev
  FROM w2 JOIN dup ON w2.win = dup.win
), cov AS (
  SELECT doc_id,
         CAST(sum(least(pos - COALESCE(prev, pos - {SPAN_W}), {SPAN_W}))
              AS BIGINT) AS dup_tokens
  FROM dw GROUP BY doc_id
)
SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(d.n_tok) AS BIGINT) AS tot_tokens,
       CAST(sum(COALESCE(c.dup_tokens, 0)) AS BIGINT) AS dup_tokens,
       floor(CAST(sum(COALESCE(c.dup_tokens, 0)) AS DOUBLE)
             / CAST(sum(d.n_tok) AS DOUBLE) * 1e4 + 0.5) / 1e4
         AS dup_frac,
       CAST(sum(CASE WHEN 2 * COALESCE(c.dup_tokens, 0) >= d.n_tok
                THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
FROM d LEFT JOIN cov c ON d.doc_id = c.doc_id
GROUP BY 1 ORDER BY 1
"""


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (k=8) from one md5-derived 28-bit shingle hash and
    k affine transforms — the signature stage of
    shingle→minhash→band→bucket-join. Deterministic and engine-portable,
    hence fully oracle-checked (unlike seeded ml.feature MinHashLSH, kept
    separately as q_dedup_near)."""
    d = t_wide(spark, sf_dir, "documents")
    return ops_dedup.minhash_signatures(d, "doc_id", "text",
                                        k=N_MINHASH, n=NGRAM)


_MH_COLS = ",\n       ".join(
    f"min((h * {_MH_A[i]} + {_MH_B[i]}) % {_MH_MOD}) AS mh_{i}"
    for i in range(N_MINHASH))
ORACLE_DEDUP_MINHASH = f"""
WITH sh AS (
  SELECT doc_id,
         {_SQL_MH_BASE} AS h
  FROM documents WHERE len(string_split(text, ' ')) >= {NGRAM}
)
SELECT doc_id,
       {_MH_COLS}
FROM sh GROUP BY doc_id
"""


N_BANDS = 4
ROWS_PER_BAND = 2


def _band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs (doc_a < doc_b) colliding in ≥1 MinHash band —
    shared by q_dedup_lshband (which returns them) and q_dedup_cluster
    (which closes them into components)."""
    return band_pairs_for(t_wide(spark, sf_dir, "documents"))


def band_key_table(docs: DataFrame) -> DataFrame:
    """(doc_id, band_key) — one row per document per LSH band, the
    probe-able form of the MinHash index. Shared by the batch-internal
    pair join (:func:`band_pairs_for`) and the incremental
    new-batch-vs-persisted-index probe (``q_dedup_incremental``)."""
    sigs = ops_dedup.minhash_signatures(docs, "doc_id", "text",
                                        k=N_MINHASH, n=NGRAM)
    band_keys = F.array(*[
        F.md5(F.concat_ws(":", F.lit(b),
                          *[F.col(f"mh_{b * ROWS_PER_BAND + r}")
                            for r in range(ROWS_PER_BAND)]))
        for b in range(N_BANDS)])
    return sigs.select("doc_id", F.explode(band_keys).alias("band_key"))


def band_pairs_for(docs: DataFrame) -> DataFrame:
    """Same candidate-pair stage over an arbitrary (doc_id, text) set —
    the pipeline composite runs it on its quality/exact-dedup survivors
    rather than the raw table.

    The band-key table is materialized once: the self-join references it on
    BOTH sides and the sides end up with different exchange types
    (hash vs broadcast), so nothing is reused — the r15 plan dumps show
    the full shingle→md5→8-way-min minhash pipeline duplicated under
    each side (r16 fix; the checkpoint is band-key-table-sized, 4 rows
    per doc)."""
    keyed = materialize(band_key_table(docs), "band_keys")
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def q_dedup_lshband(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding over the MinHash signatures — the candidate-pair stage
    completing shingle→minhash→band→bucket-join. Band keys here are
    md5(band:mh_i:mh_j) so the oracle reproduces them exactly (the
    operators API uses xxhash64 — same plan shape, engine-internal key).
    Sub-quadratic: pairs only materialize for docs colliding in ≥1 band."""
    return _band_pairs(spark, sf_dir)


def q_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup *groups*: connected components over the LSH candidate
    pairs (large-star/small-star, O(log n) rounds — see operators/graph.py
    for the 100 TB reasoning), then every document assigned its cluster's
    smallest doc_id. Singletons cluster with themselves; ``is_keeper``
    marks the one representative a dedup pass would keep per cluster.

    The oracle computes the same closure with a DuckDB recursive CTE
    (min id reachable in the transitive closure) — two genuinely
    independent component algorithms cross-checking each other."""
    from hippo_claim_crossover_spark.operators.graph import (
        connected_components,
    )

    comp = connected_components(_band_pairs(spark, sf_dir),
                                src="doc_a", dst="doc_b")
    d = t(spark, sf_dir, "documents").select("doc_id")
    cluster = F.coalesce(F.col("comp"), F.col("doc_id"))
    return (
        d.join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select("doc_id", cluster.alias("cluster_id"),
                (cluster == F.col("doc_id")).alias("is_keeper"))
    )


_BAND_KEYS = ", ".join(
    "md5({b} || ':' || mh_{i} || ':' || mh_{j})".format(
        b=b, i=b * ROWS_PER_BAND, j=b * ROWS_PER_BAND + 1)
    for b in range(N_BANDS))
ORACLE_DEDUP_LSHBAND = f"""
WITH sh AS (
  SELECT doc_id,
         {_SQL_MH_BASE} AS h
  FROM documents WHERE len(string_split(text, ' ')) >= {NGRAM}
), sigs AS (
  SELECT doc_id,
       {_MH_COLS}
  FROM sh GROUP BY doc_id
), keyed AS (
  SELECT doc_id, unnest([{_BAND_KEYS}]) AS band_key FROM sigs
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM keyed a JOIN keyed b
  ON a.band_key = b.band_key AND a.doc_id < b.doc_id
"""


# Shared CTE prefix: LSH band pairs closed into components (min reachable
# id per node) — the base of both cluster oracles below.
_CLUSTER_CTES = f"""
WITH RECURSIVE sh AS (
  SELECT doc_id,
         {_SQL_MH_BASE} AS h
  FROM documents WHERE len(string_split(text, ' ')) >= {NGRAM}
), sigs AS (
  SELECT doc_id,
       {_MH_COLS}
  FROM sh GROUP BY doc_id
), keyed AS (
  SELECT doc_id, unnest([{_BAND_KEYS}]) AS band_key FROM sigs
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM keyed a JOIN keyed b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
), sym AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
), reach(node, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM sym)
  UNION
  SELECT s.u, r.r FROM sym s JOIN reach r ON s.v = r.node
), comp AS (
  SELECT node AS doc_id, min(r) AS comp FROM reach GROUP BY node
)"""

ORACLE_DEDUP_CLUSTER = f"""{_CLUSTER_CTES}
SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS cluster_id,
       coalesce(c.comp, d.doc_id) = d.doc_id AS is_keeper
FROM documents d LEFT JOIN comp c USING (doc_id)
"""


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-representative selection — the step that makes near-dup
    clustering *actionable*: within each connected component, keep the
    highest-quality document (quality heuristics from
    operators.text.quality_metrics), not merely the smallest id. One row
    per cluster: representative, member count, and its quality.

    Composition of three declared operators (LSH banding → components →
    quality scoring) finished by a per-cluster row_number window. Scale:
    the window partitions on cluster_id — cardinality ∝ documents — and
    clusters are near-dup groups (tiny fan-in), so no partition skews even
    when one document has thousands of copies: the heavy key is the
    *cluster*, whose members arrive pre-shuffled by the components join.
    """
    from pyspark.sql.window import Window

    from hippo_claim_crossover_spark.operators.graph import (
        connected_components,
    )
    from hippo_claim_crossover_spark.operators.text import quality_metrics

    comp = connected_components(_band_pairs(spark, sf_dir),
                                src="doc_a", dst="doc_b")
    scored = quality_metrics(
        t(spark, sf_dir, "documents"),
        stopwords=("the", "a", "and", "of"), target_tokens=80,
    ).select("doc_id", "quality_score")
    cluster = F.coalesce(F.col("comp"), F.col("doc_id"))
    members = (
        scored.join(comp.withColumnRenamed("node", "doc_id"),
                    "doc_id", "left")
        .select("doc_id", cluster.alias("cluster_id"), "quality_score")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality_score"), F.asc("doc_id"))
    return (
        members
        .withColumn("rk", F.row_number().over(w))
        .withColumn("n_members",
                    F.count(F.lit(1)).over(Window.partitionBy("cluster_id")))
        .where(F.col("rk") == 1)
        .select("cluster_id", F.col("doc_id").alias("best_doc_id"),
                "n_members", F.col("quality_score").alias("best_quality"))
    )


_SQL_QTOKS = "string_split(text, ' ')"
_SQL_QNSTOP = (f"len(list_filter({_SQL_QTOKS}, "
               f"x -> x IN ('the', 'a', 'and', 'of')))")
_SQL_QUALITY = (f"round(least(1.0, CAST(len({_SQL_QTOKS}) AS DOUBLE) / 80.0)"
                f" * (1 - CAST({_SQL_QNSTOP} AS DOUBLE) / len({_SQL_QTOKS}))"
                f", 4)")
ORACLE_DEDUP_KEEP_BEST = f"""{_CLUSTER_CTES},
members AS (
  SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS cluster_id,
         {_SQL_QUALITY} AS quality_score
  FROM documents d LEFT JOIN comp c USING (doc_id)
)
SELECT cluster_id, doc_id AS best_doc_id, n_members,
       quality_score AS best_quality
FROM (
  SELECT *, row_number() OVER (PARTITION BY cluster_id
             ORDER BY quality_score DESC, doc_id) AS rk,
         count(*) OVER (PARTITION BY cluster_id) AS n_members
  FROM members
)
WHERE rk = 1
"""


def q_split_leakproof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-proof train/val/test split: assign the content-addressed
    80/10/10 split to near-dup CLUSTERS, not documents — a row-level
    split leaks whenever two near-duplicates land on opposite sides
    (the standard train/eval contamination failure a groupwise split
    exists to prevent).  Every member inherits its cluster's split, so
    no candidate near-dup pair can span splits by construction, and the
    ``cross_split_pairs`` audit column (count of LSH candidate pairs
    whose endpoints disagree — computed for real by BOTH engines, not
    asserted) proves it stayed 0.

    Composition of declared operators: LSH banding pairs →
    large-star/small-star components → md5-bucket split on the cluster
    id (the q_sample_hash discipline lifted from row keys to group
    keys).  Scale shape: the pairs/components stages are the audited
    sub-quadratic q_dedup_cluster plan; split assignment is row-local
    arithmetic on the cluster id; the audit joins ship only (doc, split)
    pairs along the already-materialized candidate edges; the rollup is
    a 3-key partial/final aggregate.  The checkpointed assignment feeds
    both the rollup and the audit without recomputing components.
    """
    from hippo_claim_crossover_spark.operators.graph import (
        connected_components,
    )

    pairs = materialize(_band_pairs(spark, sf_dir), "band_pairs")
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    d = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    bucket = md5_long(F.concat(
        F.col("cluster_id").cast("string"), F.lit(":lsplit"))) % 10
    assigned = materialize(
        d.join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select("doc_id", "n_chars",
                F.coalesce(F.col("comp"), F.col("doc_id"))
                .alias("cluster_id"))
        .withColumn("split", F.when(bucket == 0, "test")
                    .when(bucket == 1, "val").otherwise("train")),
        "split_assignment")
    sp = assigned.select("doc_id", "split")
    cross = (
        pairs
        .join(sp.withColumnsRenamed({"doc_id": "doc_a", "split": "_sa"}),
              "doc_a")
        .join(sp.withColumnsRenamed({"doc_id": "doc_b", "split": "_sb"}),
              "doc_b")
        .where(F.col("_sa") != F.col("_sb"))
        .agg(F.count(F.lit(1)).alias("cross_split_pairs"))
    )
    return (assigned.groupBy("split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.countDistinct("cluster_id").alias("n_clusters"),
                 F.sum("n_chars").alias("total_chars"))
            .crossJoin(F.broadcast(cross))
            .orderBy("split"))


ORACLE_SPLIT_LEAKPROOF = f"""{_CLUSTER_CTES},
m AS (
  SELECT d.doc_id, d.n_chars, coalesce(c.comp, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c USING (doc_id)
), assigned AS (
  SELECT doc_id, n_chars, cluster_id,
         CASE {sql_md5_long("CAST(cluster_id AS VARCHAR) || ':lsplit'")}
              % 10
              WHEN 0 THEN 'test' WHEN 1 THEN 'val'
              ELSE 'train' END AS split
  FROM m
), audit AS (
  SELECT count(*) AS cross_split_pairs
  FROM pairs p
  JOIN assigned a ON p.doc_a = a.doc_id
  JOIN assigned b ON p.doc_b = b.doc_id
  WHERE a.split <> b.split
)
SELECT split, count(*) AS n_docs,
       count(DISTINCT cluster_id) AS n_clusters,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       (SELECT cross_split_pairs FROM audit) AS cross_split_pairs
FROM assigned GROUP BY split ORDER BY split
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (32-bit) over tokens: per-bit ±1 vote from each token's md5
    hash, sign → bit. Near-dups differ in few bits (hamming distance).

    32 bits is also what operators.dedup.simhash_bits_for returns for
    every fixture size (≤ ~8k docs); beyond that, production callers pass
    ``bits=simhash_bits_for(count)`` so the downstream hamming-ball chunk
    join keeps bounded buckets — the fixed width re-quadratizes at 10×
    corpus (measured 53× in SCALE.md; policy restores ~linear)."""
    d = t_wide(spark, sf_dir, "documents")
    return ops_dedup.simhash(d, "doc_id", "text", bits=SIMHASH_BITS)


_VOTE_COLS = ",\n       ".join(
    f"CAST(sum(CASE WHEN (h & {1 << j}) != 0 THEN 1 ELSE -1 END) AS BIGINT) AS v_{j}"
    for j in range(SIMHASH_BITS))
_BIT_SUM = " + ".join(
    f"CASE WHEN v_{j} > 0 THEN {1 << j} ELSE 0 END"
    for j in range(SIMHASH_BITS))
ORACLE_DEDUP_SIMHASH = f"""
WITH tok AS (
  SELECT doc_id, {sql_md5_long("unnest(string_split(text, ' '))")} AS h
  FROM documents
), voted AS (
  SELECT doc_id,
       {_VOTE_COLS}
  FROM tok GROUP BY doc_id
)
SELECT doc_id, CAST({_BIT_SUM} AS BIGINT) AS simhash
FROM voted
"""


MAX_HAMMING = 3


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup *detector*: pairs within hamming distance ≤ 3 of
    each other's 32-bit SimHash — chunk banding (pigeonhole over 4 chunks)
    so candidates come from an equi-join, never an all-pairs scan; exact
    ``bit_count(xor)`` verification on the candidates. Completes the
    signature stage (q_dedup_simhash) into a usable detector, the simhash
    analogue of q_dedup_lshband. See operators.dedup.simhash_hamming_pairs
    for the 100 TB reasoning."""
    d = t_wide(spark, sf_dir, "documents")
    sigs = ops_dedup.simhash(d, "doc_id", "text", bits=SIMHASH_BITS)
    return (
        ops_dedup.simhash_hamming_pairs(sigs, "doc_id", bits=SIMHASH_BITS,
                                        max_hamming=MAX_HAMMING)
        .withColumnsRenamed({"id_a": "doc_a", "id_b": "doc_b"})
        .select("doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming"))
    )


# The oracle verifies the banding result against the brute-force truth:
# every pair with bit_count(xor) ≤ d, straight off the signature CTE. The
# pigeonhole guarantee (hamming ≤ d ⇒ some chunk equal) makes the banded
# plan EXACTLY equal to the quadratic reference — a recall proof, not just
# a consistency check.
ORACLE_DEDUP_SIMHASH_PAIRS = f"""
WITH tok AS (
  SELECT doc_id, {sql_md5_long("unnest(string_split(text, ' '))")} AS h
  FROM documents
), voted AS (
  SELECT doc_id,
       {_VOTE_COLS}
  FROM tok GROUP BY doc_id
), sigs AS (
  SELECT doc_id, CAST({_BIT_SUM} AS BIGINT) AS simhash FROM voted
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {MAX_HAMMING}
"""


def q_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: pairwise cosine ≥ 0.25 blocked on the
    adaptive SRP-LSH bucket id (same planes_for policy as
    q_sim_knn_blocked, family 0) — bucket count grows with the table, so
    per-bucket pair work stays bounded at any scale. Vectors are
    unit-normalized once; each surviving pair costs one dot product.
    The plane count derives from count() here (the oracle must recompute
    the same value from its own COUNT(*)); non-Parquet callers pass
    ``n_planes`` to operators.similarity.embed_near_pairs directly."""
    from hippo_claim_crossover_spark.operators import similarity as ops_sim

    e = t_wide(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    return ops_sim.embed_near_pairs(e, dim=64, threshold=0.25)


def _oracle_dedup_embed() -> str:
    # r4_sql = floor(x*1e4 + 0.5)/1e4 — the same engine-portable rounding
    # the pair_cosine_arrow kernel applies on the Spark side (NOT DuckDB
    # round(), whose shortest-repr-independent scaling already matches the
    # formula, but keeping literally the same expression on both sides
    # leaves nothing to diverge).
    from hippo_claim_crossover_spark.plans.similarity import (
        NP_T_SQL,
        _bucket_sql_gated,
    )
    cos = r4_sql('list_dot_product(a.vn, b.vn)')
    return f"""
WITH {NP_T_SQL}, n AS (
  SELECT vec_id,
         list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vn,
         {_bucket_sql_gated(0)} AS bucket
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), np_t
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {cos} AS cosine
FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {cos} >= 0.25
"""


ORACLE_DEDUP_EMBED = _oracle_dedup_embed()


def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHashLSH near-dup via pyspark.ml (HashingTF shingle sets →
    approxSimilarityJoin) — the packaged scale path. Seeded hash families
    are engine-specific ⇒ rows-only driver check.

    Featurized on n-gram SHINGLE sets, not token sets: the synthetic corpus
    is template-generated, so token vocabularies overlap almost everywhere —
    token-set MinHash buckets collided into ~12M candidate pairs (80s at
    sf0.1) while shingle sets are discriminative (256 pairs, 6s). Same
    lesson at 100 TB: LSH recall/cost is set by the feature granularity,
    not just the table count.

    Deterministic-verdict output (the seeded hash family's candidate set
    is engine-specific, so the pairs themselves never appear): ONE row
    with the exact near-dup pair count (the deterministic n-gram Jaccard
    detector, the floor the LSH must recall), how many of those exact
    pairs the LSH candidate set MISSED, and the full-recall boolean.
    The oracle computes the exact pair count in SQL and asserts
    0-missed/TRUE — a recall regression (seed drift, feature-granularity
    change, banding bug) fails the driver's hash."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    d = t_wide(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    sh = (d.where(F.size(toks) >= NGRAM)
          .select("doc_id", _shingles(toks).alias("tk")))
    tf = HashingTF(inputCol="tk", outputCol="features",
                   numFeatures=1 << 16, binary=True)
    feat = tf.transform(sh)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes",
                     numHashTables=4, seed=42)
    model = lsh.fit(feat)
    # Post-filter threshold is deliberately LOOSER than the exact side's:
    # the exact detector admits pairs with 4-dp ROUNDED Jaccard >= 0.2
    # (raw J >= 0.19995), and approxSimilarityJoin's distance is computed
    # over HashingTF-hashed shingle sets whose collisions jitter J by a
    # hair. 0.81 (hashed J >= 0.19) gives the candidate superset a full
    # point of slack on both effects, so a boundary-similarity pair can
    # never read as "missed" without a real LSH recall regression (r9
    # ADVICE — the asymmetric 0.8 cutoff was a latent deterministic red).
    joined = model.approxSimilarityJoin(feat, feat, 0.81, distCol="jaccard_dist")
    found = (
        joined.where(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(F.col("datasetA.doc_id").alias("doc_a"),
                F.col("datasetB.doc_id").alias("doc_b"))
    )
    exact = (
        ops_dedup.ngram_jaccard_pairs(d, "doc_id", "text", NGRAM,
                                      JACCARD_THRESHOLD)
        .withColumnsRenamed({"id_a": "doc_a", "id_b": "doc_b"})
        .select("doc_a", "doc_b")
    )
    missed = exact.join(found, ["doc_a", "doc_b"], "left_anti")
    return (
        exact.agg(F.count(F.lit(1)).alias("n_exact_pairs"))
        .crossJoin(missed.agg(F.count(F.lit(1)).alias("n_missed")))
        .select("n_exact_pairs", "n_missed",
                (F.col("n_missed") == 0).alias("full_recall"))
    )


ORACLE_DEDUP_NEAR = f"""
WITH sh AS (
  SELECT doc_id, len({_SQL_SHINGLES}) AS n_sh,
         unnest({_SQL_SHINGLES}) AS sh
  FROM documents
  WHERE len(string_split(text, ' ')) >= {NGRAM}
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb,
         count(*) AS inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT count(*) AS n_exact_pairs,
       CAST(0 AS BIGINT) AS n_missed,
       TRUE AS full_recall
FROM pairs
WHERE round(CAST(inter AS DOUBLE) / (na + nb - inter), 4)
      >= {JACCARD_THRESHOLD}
"""


EVAL_SOURCE = "src0"


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data decontamination: for each eval-corpus document
    (source = src0), the fraction of its distinct 4-gram shingles that
    appear anywhere in the train corpus (every other source) — the
    benchmark-leakage check run before any pretraining job.

    Shape at 100 TB: train shingles reduce to DISTINCT 8-byte xxhash64
    keys (partial-agg shuffle over hashes, never text); the eval side
    LEFT-joins its own shingle hashes against the marker-tagged train
    set (the classic inverted-index probe, cost ∝ posting lists; train
    keys are distinct so each eval row matches ≤ 1 and count(_e) ≡ the
    semi-join hit count), and ONE doc aggregate folds hits and the
    constant-per-doc denominator together (r16 — replaces the earlier
    {semi-join → hits agg → (doc_id, n_sh) distinct → left join} tail:
    two fewer exchanges, one fewer join). Two shuffles total, all on
    compact keys; the train corpus is never re-shipped. Rates round via
    duck_round so inexact k/n quotients that print as 5-decimal halfway
    values round identically in both engines."""
    from hippo_claim_crossover_spark.plans.base import duck_round

    d = t_wide(spark, sf_dir, "documents")
    ev = d.where(F.col("source") == EVAL_SOURCE)
    tr = d.where(F.col("source") != EVAL_SOURCE)
    # The eval shingle table feeds BOTH the semi-join probe and the
    # per-doc denominator scan; materialize it once instead of re-running
    # the scan + shingle pipeline per consumer.
    ev_sh = materialize(ops_dedup.shingle_table(ev, "doc_id", "text", NGRAM),
                        "eval_shingles")
    # The train side ALSO materializes before its distinct: the semi
    # join's pushed-down sh predicates otherwise re-evaluate the
    # shingle generate pipeline inside the scan (the ngram pathology,
    # operators/dedup.ngram_jaccard_pairs) — measured 4.4s → 2.3s cold
    # and far tighter run-to-run variance at sf0.1.
    tr_sh = materialize(ops_dedup.shingle_table(tr, "doc_id", "text", NGRAM)
                        .select("sh"), "train_shingles").distinct()
    n_cont = F.count("_e")
    return (
        ev_sh.join(tr_sh.withColumn("_e", F.lit(1)), "sh", "left")
        .groupBy("doc_id")
        .agg(F.max("n_sh").alias("n_sh"),
             n_cont.alias("n_contaminated"),
             duck_round(n_cont.cast("double") / F.max("n_sh"), 4)
             .alias("contamination_rate"))
        .select("doc_id", "n_sh", "n_contaminated", "contamination_rate")
    )


ORACLE_DECONTAMINATE = f"""
WITH evsh AS (
  SELECT doc_id, len({_SQL_SHINGLES}) AS n_sh,
         unnest({_SQL_SHINGLES}) AS sh
  FROM documents
  WHERE source = '{EVAL_SOURCE}'
    AND len(string_split(text, ' ')) >= {NGRAM}
), trsh AS (
  SELECT DISTINCT unnest({_SQL_SHINGLES}) AS sh
  FROM documents
  WHERE source != '{EVAL_SOURCE}'
    AND len(string_split(text, ' ')) >= {NGRAM}
), hits AS (
  SELECT doc_id, count(*) AS n_cont
  FROM evsh WHERE sh IN (SELECT sh FROM trsh)
  GROUP BY doc_id
)
SELECT d.doc_id, d.n_sh,
       COALESCE(h.n_cont, 0) AS n_contaminated,
       floor((CAST(COALESCE(h.n_cont, 0) AS DOUBLE) / d.n_sh) * 1e4 + 0.5)
         / 1e4 AS contamination_rate
FROM (SELECT DISTINCT doc_id, n_sh FROM evsh) d
LEFT JOIN hits h USING (doc_id)
"""


LINK_WINDOW = 5
LINK_MAX_DIST = 5


def q_link_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood record linkage over part names: candidate
    pairs from a ``LINK_WINDOW``-wide sliding window over the global
    (p_name, p_partkey) order, scored by Levenshtein distance, keeping
    near-misses (1 ≤ dist ≤ ``LINK_MAX_DIST``; dist 0 is q_dedup_exact's
    job). The classic Hernández-Stolfo blocking: O(n·w) string
    comparisons instead of O(n²), and near-duplicate names sort
    adjacently so the window catches them.

    Scale shape (operators/linkage.py): the global order comes from the
    distributed global_rank (range shuffle + broadcast prefix offsets —
    NEVER the single-partition ``Window.orderBy`` cliff), and the
    neighbor pairing is an equi-join on ``rank + d``; the ranked table
    is materialized once for both join sides."""
    from hippo_claim_crossover_spark.operators.linkage import (
        sorted_neighborhood_pairs,
    )

    p = t(spark, sf_dir, "part").select("p_partkey", "p_name")
    pairs = sorted_neighborhood_pairs(
        p, "p_partkey", ["p_name", "p_partkey"], window=LINK_WINDOW)
    dist = F.levenshtein("p_name_a", "p_name_b").cast("long")
    return (pairs.select(F.col("p_partkey_a").alias("id_a"),
                         F.col("p_partkey_b").alias("id_b"),
                         dist.alias("dist"))
            .where((F.col("dist") >= 1) & (F.col("dist") <= LINK_MAX_DIST)))


ORACLE_LINK_SORTED = f"""
WITH r AS (
  SELECT p_partkey, p_name,
         row_number() OVER (ORDER BY p_name, p_partkey) AS rk
  FROM part)
SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
FROM r a JOIN r b ON b.rk > a.rk AND b.rk <= a.rk + {LINK_WINDOW - 1}
WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND {LINK_MAX_DIST}
"""


QUALITY_FLOOR = 0.35
CONTAM_MAX = 0.2
PIPE_BIN = 512


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus curation — the five declared stages composed
    into the single pipeline a pretraining-data team actually runs,
    proving the operators COMPOSE (not just pass in isolation):

      1. quality gate  (quality_score ≥ 0.35, q_text_quality family)
      2. exact dedup   (min doc_id per md5(text), q_dedup_exact)
      3. near-dup keep-best (MinHash→LSH→components→best-of-cluster,
         run on the stage-2 SURVIVORS — q_dedup_cluster/keep_best)
      4. decontamination (drop docs with >20% shingle overlap vs the
         src0 eval corpus, q_decontaminate inverted to the train side)
      5. sequence packing (per-source 512-token bins, q_pack_sequences)

    Output: one row per source with every stage's surviving count, the
    final token total, and the packed bin count — the curation report a
    100 TB run would emit. Each multi-consumer stage's survivor set is
    materialized: without the checkpoints the shingle/signature pipelines
    would re-derive once per consumer (the measured family-wide
    pathology, operators/dedup.ngram_jaccard_pairs). r16 counter
    fusion: the scored frame (scan + quality regexes, map-only) is
    checkpointed once and the n_input/n_quality counters are ONE
    aggregate over it (count + count_if ≡ the two separate stage
    counts), so the documents scan and the quality-regex pass each run
    exactly once where the r15 shape paid one extra full scan
    (n_input), one extra regex pass (n_quality), and one extra
    counter join.

    The DuckDB oracle replays all five stages as one WITH RECURSIVE
    chain, so a hash match proves the full composition end-to-end.

    Counter convention: every stage counter is a BIGINT, never NULL. A
    source with no survivors at some stage reports 0 there and at every
    later stage (``coalesce(..., 0)`` on both engines), so a source whose
    documents all fall below QUALITY_FLOOR still gets its row, with its
    ``n_input`` and zeros (tests/test_queries.py).
    """
    from pyspark.sql.window import Window

    from hippo_claim_crossover_spark.operators.graph import (
        connected_components,
    )
    from hippo_claim_crossover_spark.operators.text import quality_metrics

    d = t_wide(spark, sf_dir, "documents")
    train = (d.where(F.col("source") != EVAL_SOURCE)
             .select("doc_id", "source", "text"))
    scored = materialize(quality_metrics(
        train, stopwords=("the", "a", "and", "of"), target_tokens=80,
    ).select("doc_id", "source", "text",
             F.col("n_tokens").cast("long").alias("n_tokens"),
             "quality_score"), "quality_scored")
    q1 = scored.where(F.col("quality_score") >= QUALITY_FLOOR)
    wdup = Window.partitionBy(F.md5("text"))
    q2 = materialize(q1.withColumn("_keep", F.min("doc_id").over(wdup))
                     .where(F.col("_keep") == F.col("doc_id")).drop("_keep"),
                     "exact_survivors")
    comp = connected_components(band_pairs_for(q2),
                                src="doc_a", dst="doc_b")
    wc = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality_score"), F.asc("doc_id"))
    q3 = materialize(q2.join(comp.withColumnRenamed("node", "doc_id"),
                             "doc_id", "left")
                     .withColumn("cluster_id",
                                 F.coalesce(F.col("comp"), F.col("doc_id")))
                     .withColumn("rk", F.row_number().over(wc))
                     .where(F.col("rk") == 1).drop("comp", "rk", "cluster_id"),
                     "neardup_survivors")
    ev_sh = (ops_dedup.shingle_table(d.where(F.col("source")
                                             == EVAL_SOURCE))
             .select("sh").distinct())
    tr_sh = materialize(ops_dedup.shingle_table(q3), "train_shingles")
    # Deliberately the SEMI-join shape, not a left-join+count fusion
    # (r16: measured — the semi join drops >90% of shingle rows before
    # the doc aggregate, so fusing hits and n_sh into one aggregate
    # over ALL rows costs more than the distinct+join it saves here;
    # q_decontaminate's eval-side direction is the opposite case).
    contaminated = (
        tr_sh.join(ev_sh, "sh", "left_semi")
        .groupBy("doc_id").agg(F.count(F.lit(1)).alias("hits"))
        .join(tr_sh.select("doc_id", "n_sh").distinct(), "doc_id")
        .where(F.col("hits").cast("double") / F.col("n_sh") > CONTAM_MAX)
        .select("doc_id")
    )
    q4 = materialize(q3.join(contaminated, "doc_id", "left_anti"),
                     "decontam_survivors")
    wp = Window.partitionBy("source").orderBy("doc_id")
    packed = q4.withColumn(
        "start_tok", F.sum("n_tokens").over(wp) - F.col("n_tokens"))

    def cnt(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy("source").agg(F.count(F.lit(1)).alias(name))

    fin = packed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_clean"),
        F.sum("n_tokens").alias("n_tokens"),
        (F.max(F.expr(f"(start_tok + n_tokens - 1) div {PIPE_BIN}"))
         + 1).alias("n_bins"))
    # stage-0/1 counters fused into one aggregate over the checkpointed
    # scored frame: count(*) ≡ count over train (quality_metrics is a
    # 1:1 map), count_if(≥ floor) ≡ count over q1.
    in_q = scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_input"),
        F.count_if(F.col("quality_score") >= QUALITY_FLOOR)
        .alias("n_quality"))
    out = (in_q
           .join(cnt(q2, "n_exact"), "source", "left")
           .join(cnt(q3, "n_neardup"), "source", "left")
           .join(fin, "source", "left"))
    z = F.lit(0).cast("long")
    return out.select(
        "source", "n_input",
        F.coalesce("n_quality", z).alias("n_quality"),
        F.coalesce("n_exact", z).alias("n_exact"),
        F.coalesce("n_neardup", z).alias("n_neardup"),
        F.coalesce("n_clean", z).alias("n_clean"),
        F.coalesce("n_tokens", z).alias("n_tokens"),
        F.coalesce("n_bins", z).alias("n_bins"))


ORACLE_CURATION_PIPELINE = f"""
WITH RECURSIVE train AS (
  SELECT doc_id, source, text FROM documents WHERE source <> 'src0'
), scored AS (
  SELECT *, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         {_SQL_QUALITY} AS quality_score
  FROM train
), q1 AS (
  SELECT * FROM scored WHERE quality_score >= {QUALITY_FLOOR}
), q2 AS (
  SELECT * FROM q1
  QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
), sh2 AS (
  SELECT doc_id,
         {_SQL_MH_BASE} AS h
  FROM q2 WHERE len(string_split(text, ' ')) >= {NGRAM}
), sigs AS (
  SELECT doc_id,
       {_MH_COLS}
  FROM sh2 GROUP BY doc_id
), keyed AS (
  SELECT doc_id, unnest([{_BAND_KEYS}]) AS band_key FROM sigs
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM keyed a JOIN keyed b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
), sym AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
), reach(node, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM sym)
  UNION
  SELECT s.u, r.r FROM sym s JOIN reach r ON s.v = r.node
), comp AS (
  SELECT node AS doc_id, min(r) AS comp FROM reach GROUP BY node
), q3 AS (
  SELECT q2.* FROM q2 LEFT JOIN comp USING (doc_id)
  QUALIFY row_number() OVER (
      PARTITION BY coalesce(comp, doc_id)
      ORDER BY quality_score DESC, doc_id) = 1
), evsh AS (
  SELECT DISTINCT unnest({_SQL_SHINGLES}) AS sh
  FROM documents
  WHERE source = 'src0' AND len(string_split(text, ' ')) >= {NGRAM}
), tsh AS (
  SELECT doc_id, len({_SQL_SHINGLES}) AS n_sh,
         unnest({_SQL_SHINGLES}) AS sh
  FROM q3 WHERE len(string_split(text, ' ')) >= {NGRAM}
), contaminated AS (
  SELECT doc_id FROM (
    SELECT doc_id, any_value(n_sh) AS n_sh,
           count(*) FILTER (sh IN (SELECT sh FROM evsh)) AS hits
    FROM tsh GROUP BY doc_id)
  WHERE CAST(hits AS DOUBLE) / n_sh > {CONTAM_MAX}
), q4 AS (
  SELECT * FROM q3
  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
), packed AS (
  SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         - n_tokens AS BIGINT) AS start_tok
  FROM q4
), fin AS (
  SELECT source, count(*) AS n_clean,
         CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         CAST(max((start_tok + n_tokens - 1) // {PIPE_BIN}) + 1 AS BIGINT)
           AS n_bins
  FROM packed GROUP BY source
)
SELECT t.source,
       count(*) AS n_input,
       coalesce(any_value(c1.n), 0) AS n_quality,
       coalesce(any_value(c2.n), 0) AS n_exact,
       coalesce(any_value(c3.n), 0) AS n_neardup,
       coalesce(any_value(fin.n_clean), 0) AS n_clean,
       coalesce(any_value(fin.n_tokens), 0) AS n_tokens,
       coalesce(any_value(fin.n_bins), 0) AS n_bins
FROM train t
LEFT JOIN (SELECT source, count(*) AS n FROM q1 GROUP BY source) c1
  ON t.source = c1.source
LEFT JOIN (SELECT source, count(*) AS n FROM q2 GROUP BY source) c2
  ON t.source = c2.source
LEFT JOIN (SELECT source, count(*) AS n FROM q3 GROUP BY source) c3
  ON t.source = c3.source
LEFT JOIN fin ON t.source = fin.source
GROUP BY t.source
"""


def q_fuzzy_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy record linkage: near-identical part names found by
    edit distance, with candidate pairs generated inside blocks — the
    classic dirty-catalog / entity-resolution primitive.

    All-pairs levenshtein is O(n²·len²) and never runs at 100 TB.  The
    declared plan blocks on the name's first token (the adjective in the
    fixture's "<adj> <noun>" names — a stand-in for any cheap blocking
    key: sorted-neighborhood rank, phonetic code, brand).  Distinct names
    are deduped FIRST (62 distinct over 2k parts at sf0.01 — at corpus
    scale this is the cardinality crusher), then a within-block self-join
    (strict `<` ordering, no self/dup pairs) scores only same-block
    pairs with the JVM levenshtein.  Output: near pairs (distance ≤ 3,
    not equal) with their part counts — the merge-candidate worklist.
    """
    names = materialize(t(spark, sf_dir, "part")
                        .groupBy("p_name")
                        .agg(F.count(F.lit(1)).alias("n_parts"))
                        .withColumn("blk", F.split(F.col("p_name"), " ")[0]),
                        "name_blocks")
    a = names.select(F.col("p_name").alias("name_a"),
                     F.col("n_parts").alias("n_a"), "blk")
    b = names.select(F.col("p_name").alias("name_b"),
                     F.col("n_parts").alias("n_b"), "blk")
    return (a.join(b, "blk")
            .where(F.col("name_a") < F.col("name_b"))
            .withColumn("dist", F.levenshtein("name_a", "name_b"))
            .where(F.col("dist") <= 3)
            .select("blk", "name_a", "name_b", "dist", "n_a", "n_b")
            .orderBy("blk", "name_a", "name_b"))


ORACLE_FUZZY_LINK = """
WITH names AS (
  SELECT p_name, count(*) AS n_parts,
         string_split(p_name, ' ')[1] AS blk
  FROM part GROUP BY p_name
)
SELECT a.blk, a.p_name AS name_a, b.p_name AS name_b,
       levenshtein(a.p_name, b.p_name) AS dist,
       a.n_parts AS n_a, b.n_parts AS n_b
FROM names a
JOIN names b ON a.blk = b.blk AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 3
ORDER BY a.blk, a.p_name, b.p_name
"""


SETSIM_T = 0.8
# exact rational form of SETSIM_T (4/5): the PPJoin filters run in pure
# BIGINT arithmetic so float roundoff can never prune a true pair
_SETSIM_NUM, _SETSIM_DEN = (
    Fraction(SETSIM_T).limit_denominator(10 ** 6).numerator,
    Fraction(SETSIM_T).limit_denominator(10 ** 6).denominator,
)


def setsim_candidates(d: DataFrame, use_filters: bool = True) -> DataFrame:
    """PPJoin candidate stage over a (doc_id, toks) set table: rare-first
    prefix equi-join, optionally tightened by the exact-integer length
    and position filters (``use_filters=False`` is the AllPairs baseline
    the plan audit measures the reduction against)."""
    tok_freq = (d.select(F.explode("toks").alias("tok"))
                .groupBy("tok").agg(F.count(F.lit(1)).alias("freq")))
    ordered = (d.select("doc_id", F.explode("toks").alias("tok"))
               .join(tok_freq, "tok")
               .groupBy("doc_id")
               .agg(F.transform(
                   F.sort_array(F.collect_list(F.struct("freq", "tok"))),
                   lambda s: s["tok"]).alias("sorted_toks")))
    n = F.size("sorted_toks")
    p = (n - F.ceil(F.lit(SETSIM_T) * n) + 1).cast("int")
    pref = ordered.select(
        "doc_id", n.alias("n"),
        F.posexplode(F.slice("sorted_toks", 1, p)).alias("i", "ptok"))
    a = pref.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"),
                    F.col("i").alias("ia"), "ptok")
    b = pref.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"),
                    F.col("i").alias("ib"), "ptok")
    cond = F.col("doc_a") < F.col("doc_b")
    if use_filters:
        num, den = _SETSIM_NUM, _SETSIM_DEN
        length_ok = (F.lit(num) * F.greatest("na", "nb")
                     <= F.lit(den) * F.least("na", "nb"))
        overlap_floor = F.expr(
            f"({num} * (na + nb) + {num + den - 1}) div {num + den}")
        ubound = F.least(F.col("na") - F.col("ia"),
                         F.col("nb") - F.col("ib"))
        cond = cond & length_ok & (ubound >= overlap_floor)
    return (a.join(b, "ptok").where(cond)
            .select("doc_a", "doc_b").distinct())


def q_join_setsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join with prefix filtering (the
    AllPairs/PPJoin family): all document pairs in one source with
    token-set Jaccard ≥ 0.8 — no false negatives, unlike the MinHash/
    LSH family, whose banding is probabilistic.

    The losslessness argument the oracle proves: order every doc's
    distinct tokens by ascending corpus frequency (rarest first, ties
    by token); two sets with Jaccard ≥ t MUST share at least one token
    in their first ``n − ceil(t·n) + 1`` tokens (pigeonhole on the
    ≤ (1−t)·n tokens either set can afford to miss), so candidates are
    generated from an equi-join on PREFIX tokens only — ~(1−t) of the
    explode an inverted-index join would pay, and rare-first ordering
    makes the surviving posting lists the short ones.  Candidates then
    verify exactly (array_intersect on the full sets) — so the output
    equals the brute-force all-pairs scan the DuckDB oracle runs, which
    is the entire point: an approximate blocker can only be
    rows-only-checked, an exact one hash-matches.

    Scale shape: the token-set table is checkpointed once (prefix build
    + both verify sides); candidate generation is the prefix explode's
    equi-join (never all-pairs), tightened by PPJoin's two standard
    filters — both exact-integer, so losslessness survives:

    - LENGTH filter: Jaccard ≥ t forces t·max(|A|,|B|) ≤ min(|A|,|B|);
      with t = num/den that is num·max ≤ den·min, pure BIGINT.
    - POSITION filter: a prefix token at 0-based positions (ia, ib)
      bounds the overlap by min(|A|−ia, |B|−ib); Jaccard ≥ t needs
      overlap ≥ ⌈t·(|A|+|B|)/(1+t)⌉ = (num·(na+nb)+num+den−1) div
      (num+den) — candidates whose every shared prefix token fails the
      bound are pruned before the distinct (keeping a pair when ANY
      shared token passes is a superset of textbook PPJoin's
      first-token rule, so no false negatives).

    Verification is per-candidate row-local.  At 100 TB the source
    partition bounds the self-join domain the way LSH bands bound
    theirs; that the filters prune candidates losslessly is pinned in
    tests/test_plans.py (their 10x reduction is in SCALE.md), and
    tools/scale_probe.py times this query on a K-times corpus.
    """
    d = materialize(t_wide(spark, sf_dir, "documents")
                    .where(F.col("source") == "src0")
                    .select("doc_id",
                            F.array_distinct(F.split(F.col("text"), " "))
                            .alias("toks")),
                    "token_sets")
    cand = setsim_candidates(d)
    ta = d.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"))
    tb = d.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"))
    inter = F.size(F.array_intersect("ta", "tb"))
    union = F.size("ta") + F.size("tb") - inter
    # Emit on the EXACT rational predicate den·inter ≥ num·union (pure
    # BIGINT, the same J ≥ t the prefix/length/position filters prove
    # losslessness against) — emitting on the ROUNDED jaccard would
    # admit pairs with raw J ∈ [t−5e-7, t) that the filters correctly
    # prune. The rounded jaccard remains an output column only.
    return (cand.join(ta, "doc_a").join(tb, "doc_b")
            .withColumn("n_common", inter)
            .withColumn("_union", union)
            .where(F.lit(_SETSIM_DEN) * F.col("n_common")
                   >= F.lit(_SETSIM_NUM) * F.col("_union"))
            .withColumn("jaccard",
                        duck_round(F.col("n_common").cast("double")
                                   / F.col("_union"), 6))
            .select("doc_a", "doc_b", "n_common", "jaccard")
            .orderBy("doc_a", "doc_b"))


ORACLE_JOIN_SETSIM = f"""
WITH d AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
  FROM documents WHERE source = 'src0'
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       len(list_intersect(a.toks, b.toks)) AS n_common,
       floor(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / (len(a.toks) + len(b.toks)
                - len(list_intersect(a.toks, b.toks))) * 1e6 + 0.5) / 1e6
         AS jaccard
FROM d a JOIN d b ON a.doc_id < b.doc_id
WHERE {_SETSIM_DEN} * len(list_intersect(a.toks, b.toks))
      >= {_SETSIM_NUM} * (len(a.toks) + len(b.toks)
                          - len(list_intersect(a.toks, b.toks)))
ORDER BY doc_a, doc_b
"""


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup: a NEW batch probed against the
    PERSISTED MinHash index of the existing corpus — the shape a real
    100 TB pipeline runs daily (dedup each incoming shard against
    everything already ingested, never re-shingling the corpus).

    Corpus = ``doc_id % 5 != 0`` (existing), batch = ``doc_id % 5 == 0``
    (incoming, 20%). Phase 1 builds the corpus's LSH band-key table
    (:func:`band_key_table` — the exact machinery of
    ``q_dedup_lshband``) and WRITES it to parquet once per session —
    the persisted index. Phase 2 reads the index back, computes band
    keys for the batch only (cost ∝ |batch|, not |corpus|), and marks a
    batch doc as dup iff it collides with the index in ≥1 band
    (left-semi on ``band_key`` — sub-quadratic, the band carries its
    position in the md5 so only same-band matches collide). Survivors
    union-append: the output audits the whole cycle per source
    (corpus/batch/dup/appended counts, survivor id-sum checksum, and
    the post-append corpus size).

    Scale: the index is build-once/probe-many (amortized across
    batches); the probe shuffles only |batch|×4 band keys against an
    equi-partitioned index read — no corpus re-scan, no pairwise
    anything. Batch-internal dups are the existing ``q_dedup_*``
    machinery composed upstream; this query is the cross-batch face.

    The oracle recomputes both phases from scratch (CTE per phase) —
    a hash match proves the persisted index round-trips losslessly.
    """
    from hippo_claim_crossover_spark.session import fixture_dir

    d = t_wide(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") % 5 != 0)
    batch = d.where(F.col("doc_id") % 5 == 0)

    def write(out: str) -> None:
        band_key_table(corpus).write.mode("overwrite").parquet(out)

    out = fixture_dir(spark, "mhidx", sf_dir, write)
    from pyspark.sql import types as T
    idx = spark.read.schema(T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("band_key", T.StringType()),
    ])).parquet(out)

    dup_ids = (band_key_table(batch)
               .join(idx.select("band_key"), "band_key", "left_semi")
               .select("doc_id").distinct()
               .withColumn("is_dup", F.lit(1)))
    marked = batch.join(dup_ids, "doc_id", "left")
    batch_stats = (marked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_batch"),
        F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).alias("n_dup"),
        F.sum(F.when(F.col("is_dup").isNull(), F.col("doc_id"))
              .otherwise(F.lit(0))).alias("appended_id_sum")))
    corpus_stats = corpus.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_corpus"))
    return (corpus_stats.join(batch_stats, "source", "full")
            .select("source",
                    F.coalesce("n_corpus", F.lit(0)).alias("n_corpus"),
                    F.coalesce("n_batch", F.lit(0)).alias("n_batch"),
                    F.coalesce("n_dup", F.lit(0)).alias("n_dup"),
                    (F.coalesce("n_batch", F.lit(0))
                     - F.coalesce("n_dup", F.lit(0))).alias("n_appended"),
                    F.coalesce("appended_id_sum", F.lit(0))
                    .alias("appended_id_sum"),
                    (F.coalesce("n_corpus", F.lit(0))
                     + F.coalesce("n_batch", F.lit(0))
                     - F.coalesce("n_dup", F.lit(0)))
                    .alias("corpus_after")))


ORACLE_DEDUP_INCREMENTAL = f"""
WITH sh AS (
  SELECT doc_id,
         {_SQL_MH_BASE} AS h
  FROM documents WHERE len(string_split(text, ' ')) >= {NGRAM}
), sigs AS (
  SELECT doc_id,
       {_MH_COLS}
  FROM sh GROUP BY doc_id
), keyed AS (
  SELECT doc_id, unnest([{_BAND_KEYS}]) AS band_key FROM sigs
), dup AS (
  SELECT DISTINCT b.doc_id
  FROM keyed b
  WHERE b.doc_id % 5 = 0
    AND EXISTS (SELECT 1 FROM keyed c
                WHERE c.doc_id % 5 <> 0 AND c.band_key = b.band_key)
), batch_stats AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_batch,
         CAST(count(*) FILTER (doc_id IN (SELECT doc_id FROM dup))
              AS BIGINT) AS n_dup,
         CAST(coalesce(sum(doc_id) FILTER (
              doc_id NOT IN (SELECT doc_id FROM dup)), 0) AS BIGINT)
           AS appended_id_sum
  FROM documents WHERE doc_id % 5 = 0 GROUP BY source
), corpus_stats AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_corpus
  FROM documents WHERE doc_id % 5 <> 0 GROUP BY source
)
SELECT coalesce(c.source, b.source) AS source,
       coalesce(n_corpus, 0) AS n_corpus,
       coalesce(n_batch, 0) AS n_batch,
       coalesce(n_dup, 0) AS n_dup,
       coalesce(n_batch, 0) - coalesce(n_dup, 0) AS n_appended,
       coalesce(appended_id_sum, 0) AS appended_id_sum,
       coalesce(n_corpus, 0) + coalesce(n_batch, 0) - coalesce(n_dup, 0)
         AS corpus_after
FROM corpus_stats c FULL JOIN batch_stats b USING (source)
"""


def q_minhash_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash MERGEABILITY — the property that makes sketch maintenance
    distributable at 100 TB: sig(A ∪ B) = elementwise-min(sig(A),
    sig(B)). Spark computes per-DOCUMENT signatures (the table
    ``q_dedup_incremental`` persists) and merges them per source with a
    plain ``min`` aggregate — the partial/final combine shape, so
    source-level (or corpus-level) sketches roll up from shard sketches
    WITHOUT re-shingling anything. The oracle computes each source's
    signature DIRECTLY from its pooled shingle hashes; the hash match
    is the mergeability proof, not a recomputation of the same plan.

    At scale this is how a signature index stays current: each incoming
    shard contributes doc sketches; corpus/stratum rollups are min
    merges over KB-sized rows (here 8 longs), never over text."""
    d = t_wide(spark, sf_dir, "documents")
    sigs = ops_dedup.minhash_signatures(d, "doc_id", "text",
                                        k=N_MINHASH, n=NGRAM)
    return (sigs.join(d.select("doc_id", "source"), "doc_id")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 *[F.min(f"mh_{i}").alias(f"mh_{i}")
                   for i in range(N_MINHASH)])
            .orderBy("source"))


ORACLE_MINHASH_MERGE = f"""
WITH sh AS (
  SELECT doc_id, source,
         {_SQL_MH_BASE} AS h
  FROM documents WHERE len(string_split(text, ' ')) >= {NGRAM}
)
SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       {_MH_COLS}
FROM sh GROUP BY source ORDER BY source
"""


HOST_PATH_BUCKETS = 37     # synthetic path-id domain per host → real dups
_KEEP_KEY_SHIFT = 1 << 40  # keep-best packed key: n_chars·2^40 − doc_id


def q_host_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalize → keep-best-per-URL → HOST-level rollup — the
    CCNet/RefinedWeb web-corpus host-aggregation stage (canonical URL
    dedup before content dedup, then per-host statistics that drive
    host-level filtering/blocking decisions). Reference scope parity:
    the reference's field normalizer (lib/hippo_claim_crossover.rb:
    60-101) canonicalizes identifier strings before keying; this is
    the same normalize-then-key stage for web-scale corpora.

    The fixtures carry no URL column, so a URL-SHAPED string is first
    derived deterministically per document (md5(doc_id) bits pick
    http/https, a ``www.`` prefix, a trailing slash, and a tracking
    query param; host = source + '.example.com'; path id = an
    md5-derived bucket in [0, 37), so birthday collisions within a
    host create genuine URL-level dups at every fixture scale) —
    fixture plumbing only, identical in the oracle. The OPERATOR under
    test is everything after: canonicalization (strip scheme → strip
    query string → strip ``www.`` → strip trailing slash — anchored
    regexes, identical Java/RE2 semantics), then keep-BEST per
    canonical URL (longest n_chars, ties to the smallest doc_id, via
    an arg-max on the packed key ``n_chars·2^40 − doc_id`` computed in
    DECIMAL(38,0) — exact while n_chars·2^40 stays under 10^38, i.e.
    n_chars < ~10^26, far past any real doc; BIGINT packing would
    silently wrap at n_chars ≥ 2^23 ≈ 8.4M chars, attainable for real
    web documents, so both sides widen before multiplying. The key is
    unique per doc so max_by/arg_max is deterministic), then
    the host rollup: total docs, distinct canonical URLs, dup rate in
    exact permille, and the sum of kept doc_ids (pins every per-URL
    keep decision into the driver hash).

    Scale shape: map-side codegen string work, then TWO cascaded
    partial aggregations (URL grain → host grain) — each map-side
    combines before its exchange, so the shuffle carries one row per
    distinct URL then one per host; no window over the raw stream, no
    join, no driver collect. Skewed giant hosts cost one hot reduce
    key at the URL grain only until AQE skew-split kicks in; the host
    grain is |hosts|-sized."""
    d = (t_wide(spark, sf_dir, "documents")
         .select("doc_id", "source", "n_chars")
         .withColumn("_h", md5_long(F.col("doc_id").cast("string"))))
    raw_url = F.concat(
        F.when(F.expr("(_h % 2) = 0"), F.lit("http://"))
        .otherwise(F.lit("https://")),
        F.when(F.expr("((_h DIV 2) % 2) = 0"), F.lit(""))
        .otherwise(F.lit("www.")),
        F.col("source"), F.lit(".example.com/docs/"),
        F.expr(f"(_h DIV 16) % {HOST_PATH_BUCKETS}").cast("string"),
        F.when(F.expr("((_h DIV 4) % 2) = 0"), F.lit(""))
        .otherwise(F.lit("/")),
        F.when(F.expr("((_h DIV 8) % 2) = 0"), F.lit(""))
        .otherwise(F.lit("?utm_source=feed")))
    canon = F.regexp_replace(F.regexp_replace(F.regexp_replace(
        F.regexp_replace(raw_url, "^https?://", ""),
        r"\?.*$", ""), r"^www\.", ""), "/$", "")
    per_url = (
        d.select("doc_id", "n_chars", canon.alias("curl"))
        .withColumn("host", F.element_at(F.split("curl", "/"), 1))
        .groupBy("host", "curl")
        .agg(F.count(F.lit(1)).alias("n_copies"),
             # DECIMAL(19,0) operands -> DECIMAL(38,0) product: exact
             # (no silent BIGINT wrap) for n_chars up to ~10^26
             F.max_by("doc_id",
                      F.col("n_chars").cast("decimal(19,0)")
                      * F.lit(_KEEP_KEY_SHIFT).cast("decimal(19,0)")
                      - F.col("doc_id")).alias("kept")))
    return (per_url.groupBy("host")
            .agg(F.sum("n_copies").alias("n_docs"),
                 F.count(F.lit(1)).alias("n_urls"),
                 F.expr("(sum(n_copies) - count(*)) * 1000 "
                        "DIV sum(n_copies)").alias("dup_permille"),
                 F.sum("kept").alias("kept_checksum"))
            .orderBy("host"))


ORACLE_HOST_DEDUP = f"""
WITH u AS (
  SELECT doc_id, source, n_chars,
         {sql_md5_long("CAST(doc_id AS VARCHAR)")} AS h
  FROM documents
), raw AS (
  SELECT doc_id, n_chars,
         (CASE WHEN (h % 2) = 0 THEN 'http://' ELSE 'https://' END)
         || (CASE WHEN ((h // 2) % 2) = 0 THEN '' ELSE 'www.' END)
         || source || '.example.com/docs/'
         || CAST((h // 16) % {HOST_PATH_BUCKETS} AS VARCHAR)
         || (CASE WHEN ((h // 4) % 2) = 0 THEN '' ELSE '/' END)
         || (CASE WHEN ((h // 8) % 2) = 0 THEN ''
             ELSE '?utm_source=feed' END) AS url
  FROM u
), canon AS (
  SELECT doc_id, n_chars,
         regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           url, '^https?://', ''), '\\?.*$', ''), '^www\\.', ''),
           '/$', '') AS curl
  FROM raw
), per_url AS (
  SELECT split_part(curl, '/', 1) AS host, curl,
         CAST(count(*) AS BIGINT) AS n_copies,
         arg_max(doc_id, CAST(n_chars AS DECIMAL(19,0))
                         * CAST({_KEEP_KEY_SHIFT} AS DECIMAL(19,0))
                         - doc_id) AS kept
  FROM canon GROUP BY 1, 2
)
SELECT host, CAST(sum(n_copies) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_urls,
       CAST((sum(n_copies) - count(*)) * 1000 // sum(n_copies) AS BIGINT)
         AS dup_permille,
       CAST(sum(kept) AS BIGINT) AS kept_checksum
FROM per_url GROUP BY host ORDER BY host
"""


SPECS: dict[str, QuerySpec] = {
    "q_join_setsim": QuerySpec(
        q_join_setsim, ORACLE_JOIN_SETSIM,
        "exact prefix-filtered set-similarity join (AllPairs/PPJoin) — "
        "hash-matches the brute-force oracle, proving losslessness"),
    "q_fuzzy_link": QuerySpec(
        q_fuzzy_link, ORACLE_FUZZY_LINK,
        "blocked fuzzy linkage (levenshtein within blocking key, "
        "names deduped before pairing)"),
    "q_curation_pipeline": QuerySpec(
        q_curation_pipeline, ORACLE_CURATION_PIPELINE,
        "end-to-end curation: quality → exact dedup → near-dup "
        "keep-best → decontaminate → pack (one hash-proven chain)"),
    "q_link_sorted": QuerySpec(q_link_sorted, ORACLE_LINK_SORTED,
                               "sorted-neighborhood record linkage"),
    "q_host_dedup": QuerySpec(
        q_host_dedup, ORACLE_HOST_DEDUP,
        "URL canonicalize -> keep-best per canonical URL -> host-level "
        "rollup (CCNet/RefinedWeb host aggregation; two cascaded "
        "partial aggs, no per-URL window)"),
    "q_dedup_exact": QuerySpec(q_dedup_exact, ORACLE_DEDUP_EXACT,
                               "exact hash-groupBy dedup"),
    "q_dedup_ngram": QuerySpec(q_dedup_ngram, ORACLE_DEDUP_NGRAM,
                               "n-gram Jaccard near-dup"),
    "q_dedup_containment": QuerySpec(
        q_dedup_containment, ORACLE_DEDUP_CONTAINMENT,
        "asymmetric shingle-containment near-dup (doc-in-doc pairs "
        "Jaccard misses)"),
    "q_dedup_spans": QuerySpec(
        q_dedup_spans, ORACLE_DEDUP_SPANS,
        "exact-substring duplication profile: corpus-duplicated W-token "
        "span coverage per source, integer span merging"),
    "q_dedup_minhash": QuerySpec(q_dedup_minhash, ORACLE_DEDUP_MINHASH,
                                 "portable MinHash signatures"),
    "q_dedup_cluster": QuerySpec(q_dedup_cluster, ORACLE_DEDUP_CLUSTER,
                                 "connected-components dedup clusters"),
    "q_dedup_keep_best": QuerySpec(q_dedup_keep_best, ORACLE_DEDUP_KEEP_BEST,
                                   "per-cluster best-quality representative"),
    "q_dedup_lshband": QuerySpec(q_dedup_lshband, ORACLE_DEDUP_LSHBAND,
                                 "LSH banding candidate pairs"),
    "q_dedup_simhash": QuerySpec(q_dedup_simhash, ORACLE_DEDUP_SIMHASH,
                                 "32-bit SimHash"),
    "q_dedup_simhash_pairs": QuerySpec(
        q_dedup_simhash_pairs, ORACLE_DEDUP_SIMHASH_PAIRS,
        "SimHash hamming-banded near-dup pairs"),
    "q_dedup_embed": QuerySpec(q_dedup_embed, ORACLE_DEDUP_EMBED,
                               "blocked cosine near-dup"),
    "q_dedup_near": QuerySpec(
        q_dedup_near, ORACLE_DEDUP_NEAR,
        "ml MinHashLSH approxSimilarityJoin (deterministic verdict: "
        "exact pair count + recall-floor booleans)"),
    "q_decontaminate": QuerySpec(q_decontaminate, ORACLE_DECONTAMINATE,
                                 "eval-vs-train n-gram decontamination"),
    "q_dedup_incremental": QuerySpec(
        q_dedup_incremental, ORACLE_DEDUP_INCREMENTAL,
        "incremental dedup: new batch probed against the persisted "
        "corpus MinHash index, survivors union-appended"),
    "q_minhash_merge": QuerySpec(
        q_minhash_merge, ORACLE_MINHASH_MERGE,
        "MinHash mergeability: doc-sketch min-merge == direct "
        "source-level sketch (oracle computes the direct side)"),
    "q_split_leakproof": QuerySpec(
        q_split_leakproof, ORACLE_SPLIT_LEAKPROOF,
        "cluster-aware train/val/test split (near-dup clusters never "
        "span splits; cross-split-pair audit computed by both engines)"),
}
