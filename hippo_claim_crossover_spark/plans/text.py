"""Text-analysis operators over ``documents`` (§2b LLM-pipeline surface):
tokenization, token stats, language-ID heuristic, quality scoring,
content fingerprinting.

Everything is built-in Column expressions (split/explode/higher-order
functions/md5) — no Python in the hot path, so the whole pipeline stays in
whole-stage codegen and scales linearly with one shuffle per groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hippo_claim_crossover_spark.operators import text as ops_text
from hippo_claim_crossover_spark.operators.hashing import (
    md5_long, sql_md5_long)
from hippo_claim_crossover_spark.plans.base import (
    QuerySpec,
    aes_key,
    duck_round,
    sql_aes_key,
    t,
    t_wide,
)
from hippo_claim_crossover_spark.session import materialize

_STOPWORDS = ("the", "a", "and", "of")


def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequencies: tokenize (split) → explode → count.
    The canonical wide-shuffle wordcount; partial aggregation makes the
    shuffle carry only (token, count) pairs per partition."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )


ORACLE_TEXT_TOKENS = """
SELECT token, count(*) AS n_occurrences
FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
GROUP BY token
"""


def q_text_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus stats (groupBy over the lang column)."""
    d = t(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_chars").alias("total_chars"),
             duck_round(F.avg("n_chars"), 2).alias("avg_chars"),
             F.countDistinct("source").alias("n_sources"))
    )


ORACLE_TEXT_LANG = """
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       round(avg(n_chars), 2) AS avg_chars,
       count(DISTINCT source) AS n_sources
FROM documents GROUP BY lang
"""


def q_text_tokcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish regex
    (letter runs / digit runs / single punctuation), per document."""
    d = t(spark, sf_dir, "documents")
    return ops_text.token_counts(d).select(
        "doc_id", "ws_tokens", "bpe_tokens", "len_chars")


ORACLE_TEXT_TOKCOUNT = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS INTEGER) AS bpe_tokens,
       CAST(length(text) AS INTEGER) AS len_chars
FROM documents
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/stopword-ratio heuristics (the classic
    pretraining-data filters). Higher-order ``filter`` counts stopword
    tokens without leaving the JVM."""
    d = t(spark, sf_dir, "documents")
    return ops_text.quality_metrics(
        d, stopwords=_STOPWORDS, target_tokens=80,
    ).select("doc_id", "lang", "n_tokens", "n_stopwords",
             "stopword_ratio", "quality_score")


_SQL_TOKS = "string_split(text, ' ')"
_SQL_NSTOP = (f"len(list_filter({_SQL_TOKS}, "
              f"x -> x IN ('the', 'a', 'and', 'of')))")
ORACLE_TEXT_QUALITY = f"""
SELECT doc_id, lang,
       CAST(len({_SQL_TOKS}) AS INTEGER) AS n_tokens,
       CAST({_SQL_NSTOP} AS INTEGER) AS n_stopwords,
       round(CAST({_SQL_NSTOP} AS DOUBLE) / len({_SQL_TOKS}), 4) AS stopword_ratio,
       round(least(1.0, CAST(len({_SQL_TOKS}) AS DOUBLE) / 80.0)
             * (1 - CAST({_SQL_NSTOP} AS DOUBLE) / len({_SQL_TOKS})), 4) AS quality_score
FROM documents
"""


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID n-gram heuristic: score languages by distinctive
    character-bigram counts (counted portably via length-delta after
    replace), argmax → predicted language. A stand-in for real char-n-gram
    LID at the same plan shape: pure per-row expressions, no shuffle."""
    d = t(spark, sf_dir, "documents")
    return ops_text.langid_scores(d).select(
        "doc_id", "score_en", "score_es", "score_de", "predicted_lang")


def _sql_count_sub(sub: str) -> str:
    return (f"CAST((length(text) - length(replace(text, '{sub}', ''))) "
            f"/ {len(sub)} AS BIGINT)")


_EN = f"({_sql_count_sub('th')} + {_sql_count_sub('er')})"
_ES = f"({_sql_count_sub('rt')} + {_sql_count_sub('ta')})"
_DE = f"({_sql_count_sub('sc')} + {_sql_count_sub('ue')})"
ORACLE_TEXT_LANGID = f"""
SELECT doc_id,
       {_EN} AS score_en,
       {_ES} AS score_es,
       {_DE} AS score_de,
       CASE WHEN {_EN} >= {_ES} AND {_EN} >= {_DE} THEN 'en'
            WHEN {_ES} >= {_DE} THEN 'es'
            ELSE 'de' END AS predicted_lang
FROM documents
"""


def q_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation as a query: confusion matrix of the langid
    heuristic against the labeled ``lang`` column, with per-cell counts
    and the cell's share of its actual-language row — the model-QA
    report every labeling/filtering heuristic gets before it gates a
    corpus. One scan + one partial/final aggregate on the (actual,
    predicted) grid; the share quotient rides duck_round."""
    d = t(spark, sf_dir, "documents")
    cells = (
        ops_text.langid_scores(d)
        .groupBy(F.col("lang").alias("actual"),
                 F.col("predicted_lang").alias("predicted"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = cells.groupBy("actual").agg(F.sum("n").alias("row_total"))
    return (
        cells.join(F.broadcast(totals), "actual")
        .select("actual", "predicted", "n",
                duck_round(F.col("n").cast("double")
                           / F.col("row_total").cast("double"), 4)
                .alias("row_share"),
                (F.col("actual") == F.col("predicted")).alias("correct"))
    )


ORACLE_LANGID_EVAL = f"""
WITH pred AS (
  SELECT lang AS actual,
         CASE WHEN {_EN} >= {_ES} AND {_EN} >= {_DE} THEN 'en'
              WHEN {_ES} >= {_DE} THEN 'es'
              ELSE 'de' END AS predicted
  FROM documents
), cells AS (
  SELECT actual, predicted, count(*) AS n
  FROM pred GROUP BY actual, predicted
), tot AS (
  SELECT actual, sum(n) AS row_total FROM cells GROUP BY actual
)
SELECT c.actual, c.predicted, c.n,
       floor(CAST(c.n AS DOUBLE) / CAST(row_total AS DOUBLE) * 1e4 + 0.5)
         / 1e4 AS row_share,
       c.actual = c.predicted AS correct
FROM cells c JOIN tot USING (actual)
"""


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: order-insensitive bag-of-words fingerprint
    (sorted tokens → md5) + raw-content md5 — the join keys for exact and
    shuffled-content dedup."""
    d = t(spark, sf_dir, "documents")
    return ops_text.fingerprints(d).select(
        "doc_id", "content_hash", "bag_hash")


ORACLE_TEXT_FINGERPRINT = """
SELECT doc_id,
       md5(text) AS content_hash,
       md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS bag_hash
FROM documents
"""


def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(document, token) TF-IDF. Two partial-aggregated shuffles (tf
    by (doc, token), df by token) + one equi-join on token — the standard
    linear-scaling shape; no per-document collect, no UDFs.

    The IDF is the *rational* form (N+1)/(df+1) rather than its log:
    IEEE division is bit-identical across engines, while ln() can differ
    in the last ulp between Spark's Math.log and DuckDB's libm and flip a
    rounded 6th decimal. Monotonicity (what TF-IDF ranking consumes) is
    unchanged. duck_round keeps any true halfway case on DuckDB's side.
    The oracle SQL parenthesizes tf * ((N+1)/(df+1)) the same way — IEEE
    multiplication/division are individually exact-rounded but not
    associative, so both engines must evaluate in the same order."""
    d = t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = (tok.groupBy("doc_id", "token")
          .agg(F.count(F.lit(1)).alias("tf")))
    df_ = (tok.groupBy("token")
           .agg(F.count_distinct("doc_id").alias("df_docs")))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    tfidf = (F.col("tf")
             * ((F.col("n_docs") + F.lit(1.0)) / (F.col("df_docs") + 1.0)))
    return (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(n_docs))
        .select("doc_id", "token", "tf", "df_docs",
                duck_round(tfidf, 6).alias("tfidf"))
    )


ORACLE_TEXT_TFIDF = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), tf AS (
  SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token
), df AS (
  SELECT token, count(DISTINCT doc_id) AS df_docs FROM tok GROUP BY token
)
SELECT tf.doc_id, tf.token, tf.tf, df.df_docs,
       round(tf.tf * (((SELECT count(*) FROM documents) + 1.0)
             / (df.df_docs + 1.0)), 6) AS tfidf
FROM tf JOIN df USING (token)
"""


# Fixed retrieval query for the BM25 demo — term set is part of the
# query contract (a fixed-order 3-term sum keeps double addition
# deterministic across engines).
_BM25_TERMS = ("hash", "join", "spark")


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document retrieval over the corpus for a fixed query — the
    text-retrieval workhorse (and the standard lexical half of hybrid
    search next to q_sim_topk's dense half). tf per (doc, term) and df
    per term come from the same explode + partial/final agg shape as
    TF-IDF; document length and corpus stats ride broadcasts; scoring
    is Okapi BM25 with k1=1.2, b=0.75.

    Portability: the IDF keeps the Robertson–Spärck-Jones RATIONAL odds
    ``(N − df + 0.5)/(df + 0.5) + 1`` — the ln() around it is deferred
    to the consumer, the same engine-portability decision (and
    docstring argument) as q_text_tfidf: IEEE +,−,×,÷ are bit-identical
    across engines while libm ln is not, and the per-term saturation ×
    odds product preserves each term's ranking monotonicity. Per-term
    scores assemble via conditional aggregation and add in FIXED order,
    so the 3-double sum is deterministic. Only docs containing ≥1 query
    term are scored (the inverted-index access path: the explode
    filters to the term set BEFORE any aggregation, so the shuffle
    carries query-matching postings only — at 100 TB this is the
    difference between scoring the corpus and scoring the posting
    lists)."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id",
                    F.explode(F.split("text", " ")).alias("tok"))
    qtoks = toks.where(F.col("tok").isin(*_BM25_TERMS))
    tf = (qtoks.groupBy("doc_id", "tok")
          .agg(F.count(F.lit(1)).alias("tf")))
    dfreq = (qtoks.groupBy("tok")
             .agg(F.count_distinct("doc_id").alias("df_docs")))
    dl = d.select("doc_id",
                  F.size(F.split("text", " ")).cast("double").alias("dl"))
    corpus = d.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("double").alias("tot_dl"))
    idf = (F.col("n_docs") - F.col("df_docs") + F.lit(0.5)) \
        / (F.col("df_docs") + F.lit(0.5)) + F.lit(1.0)
    sat = (F.col("tf") * (F.lit(1.2) + F.lit(1.0))) \
        / (F.col("tf") + F.lit(1.2)
           * ((F.lit(1.0) - F.lit(0.75))
              + F.lit(0.75) * (F.col("dl")
                               / (F.col("tot_dl") / F.col("n_docs")))))
    s = (tf.join(F.broadcast(dfreq), "tok")
         .join(dl, "doc_id")
         .crossJoin(F.broadcast(corpus))
         .select("doc_id", "tok", (idf * sat).alias("s")))
    per_term = [F.max(F.when(F.col("tok") == term, F.col("s")))
                .alias(f"s_{term}") for term in _BM25_TERMS]
    score = F.coalesce(F.col(f"s_{_BM25_TERMS[0]}"), F.lit(0.0))
    for term in _BM25_TERMS[1:]:
        score = score + F.coalesce(F.col(f"s_{term}"), F.lit(0.0))
    return (s.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_terms"), *per_term)
            .select("doc_id", "n_terms",
                    duck_round(score, 6).alias("score")))


ORACLE_BM25 = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), q AS (
  SELECT doc_id, tok, count(*) AS tf FROM toks
  WHERE tok IN ('hash', 'join', 'spark') GROUP BY doc_id, tok
), dfreq AS (
  SELECT tok, count(DISTINCT doc_id) AS df_docs FROM q GROUP BY tok
), dl AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
  FROM documents
), c AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS DOUBLE) AS tot_dl
  FROM documents
), s AS (
  SELECT q.doc_id, q.tok,
         ((c.n_docs - df_docs + 0.5) / (df_docs + 0.5) + 1.0)
         * ((q.tf * (1.2 + 1.0))
            / (q.tf + 1.2 * ((1.0 - 0.75)
                             + 0.75 * (dl.dl / (c.tot_dl / c.n_docs)))))
         AS s
  FROM q JOIN dfreq USING (tok) JOIN dl USING (doc_id) CROSS JOIN c
), p AS (
  SELECT doc_id, count(*) AS n_terms,
         max(CASE WHEN tok = 'hash' THEN s END) AS s_hash,
         max(CASE WHEN tok = 'join' THEN s END) AS s_join,
         max(CASE WHEN tok = 'spark' THEN s END) AS s_spark
  FROM s GROUP BY doc_id
)
SELECT doc_id, n_terms,
       floor((coalesce(s_hash, 0.0) + coalesce(s_join, 0.0)
              + coalesce(s_spark, 0.0)) * 1e6 + 0.5) / 1e6 AS score
FROM p
"""


def q_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical-diversity profile: type-token ratio and
    Simpson diversity ``1 − Σp²`` — the corpus-health metrics a
    pretraining shard report tracks (a source whose diversity collapses
    is boilerplate/spam; Simpson is the rational stand-in for Shannon
    entropy, same engine-portability decision as TF-IDF/BM25/lift: the
    sufficient statistics Σc, Σc², #types are exact BIGINTs and each
    score is one IEEE division).

    Scale shape: explode → (source, token) partial/final count →
    per-source 3-way exact-integer aggregate — two agg shuffles, both
    map-side combined; no distinct-count sketch needed because the
    (source, token) grain is already the first aggregate's key."""
    d = t(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(F.split("text", " ")).alias("w"))
    cw = (tok.groupBy("source", "w")
          .agg(F.count(F.lit(1)).alias("c")))
    per = (cw.groupBy("source")
           .agg(F.sum("c").alias("n_tokens"),
                F.count(F.lit(1)).alias("n_types"),
                F.sum(F.col("c") * F.col("c")).alias("s2")))
    ttr = F.col("n_types").cast("double") / F.col("n_tokens").cast("double")
    simpson = F.lit(1.0) - F.col("s2").cast("double") \
        / (F.col("n_tokens") * F.col("n_tokens")).cast("double")
    return per.select("source", "n_tokens", "n_types",
                      duck_round(ttr, 6).alias("ttr"),
                      duck_round(simpson, 6).alias("simpson"))


ORACLE_DIVERSITY = """
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
), cw AS (
  SELECT source, w, count(*) AS c FROM tok GROUP BY source, w
), per AS (
  SELECT source, sum(c) AS n_tokens, count(*) AS n_types,
         sum(c * c) AS s2
  FROM cw GROUP BY source
)
SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens, n_types,
       floor(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE)
             * 1e6 + 0.5) / 1e6 AS ttr,
       floor((1.0 - CAST(s2 AS DOUBLE)
              / CAST(n_tokens * n_tokens AS DOUBLE)) * 1e6 + 0.5) / 1e6
         AS simpson
FROM per
"""


_CHUNK, _STRIDE = 64, 48    # tokens per chunk / stride (16-token overlap)


def q_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the RAG/embedding-prep pass:
    split each document into ``_CHUNK``-token windows advancing by
    ``_STRIDE`` (16-token overlap so no sentence is orphaned at a
    boundary). Pure array expressions (sequence → transform → slice →
    array_join) — per-row compute inside whole-stage codegen, one
    explode, no UDF, no shuffle at all until a consumer aggregates.
    The chunk body travels as its md5 (the downstream embed/dedup key);
    chunk count per doc is ``1 + ceil(max(0, n−CHUNK)/STRIDE)``, so a
    doc shorter than one window still yields exactly one chunk.

    At 100 TB chunking is a map-only pass whose output is ~n/STRIDE ×
    input rows — the explode multiplies rows, never shuffles them, and
    downstream partitioning is inherited from the scan."""
    d = t(spark, sf_dir, "documents")
    n_chunks = (F.lit(1) + F.ceil(
        F.greatest(F.lit(0), F.size(F.col("ws")) - F.lit(_CHUNK))
        / F.lit(float(_STRIDE))).cast("int"))
    chunks = F.expr(
        f"transform(sequence(0, n_chunks - 1), i -> struct("
        f"i AS chunk_id, "
        f"size(slice(ws, i * {_STRIDE} + 1, {_CHUNK})) AS n_toks, "
        f"md5(array_join(slice(ws, i * {_STRIDE} + 1, {_CHUNK}), ' ')) "
        f"AS chunk_md5))")
    return (
        d.select("doc_id", F.split("text", " ").alias("ws"))
        .withColumn("n_chunks", n_chunks)
        .select("doc_id", F.explode(chunks).alias("c"))
        .select("doc_id", "c.chunk_id", "c.n_toks", "c.chunk_md5")
    )


ORACLE_CHUNK = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws,
         1 + CAST(ceil(greatest(0, len(string_split(text, ' '))
                                - {_CHUNK}) / {_STRIDE}.0) AS INT)
           AS n_chunks
  FROM documents
)
SELECT doc_id, i AS chunk_id,
       len(ws[(i * {_STRIDE} + 1):(i * {_STRIDE} + {_CHUNK})]) AS n_toks,
       md5(array_to_string(
           ws[(i * {_STRIDE} + 1):(i * {_STRIDE} + {_CHUNK})], ' '))
         AS chunk_md5
FROM w, unnest(range(0, n_chunks)) AS tt(i)
"""


def q_rag_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite RAG-prep report — the round-6 ops COMPOSED, the way
    q_curation_pipeline composes the curation stages: sliding-window
    chunking (q_chunk's expressions) → cross-corpus exact dedup of
    chunk bodies (min-(doc,chunk) owner per md5, the q_dedup_exact
    discipline at chunk grain) → per-source index report (chunks
    produced, unique chunks owned, tokens surviving to the embedding
    stage, duplication rate).

    Scale shape: chunking is map-only; the dedup is ONE shuffle on the
    16-byte chunk digest (never chunk text); the ownership tie-break is
    a window over the digest key (WindowGroupLimit-bounded — one
    survivor per digest); the report is a partial/final agg over
    survivor rows joined with the per-source chunk totals."""
    d = t(spark, sf_dir, "documents")
    chunks = F.expr(
        f"transform(sequence(0, n_chunks - 1), i -> struct("
        f"i AS chunk_id, "
        f"size(slice(ws, i * {_STRIDE} + 1, {_CHUNK})) AS n_toks, "
        f"md5(array_join(slice(ws, i * {_STRIDE} + 1, {_CHUNK}), ' ')) "
        f"AS chunk_md5))")
    n_chunks = (F.lit(1) + F.ceil(
        F.greatest(F.lit(0), F.size(F.col("ws")) - F.lit(_CHUNK))
        / F.lit(float(_STRIDE))).cast("int"))
    ch = (d.select("doc_id", "source", F.split("text", " ").alias("ws"))
          .withColumn("n_chunks", n_chunks)
          .select("doc_id", "source", F.explode(chunks).alias("c"))
          .select("doc_id", "source", "c.chunk_id", "c.n_toks",
                  "c.chunk_md5"))
    w = Window.partitionBy("chunk_md5").orderBy("doc_id", "chunk_id")
    survivors = (ch.withColumn("rk", F.row_number().over(w))
                 .where(F.col("rk") == 1))
    totals = (ch.groupBy("source")
              .agg(F.count(F.lit(1)).alias("n_chunks")))
    owned = (survivors.groupBy("source")
             .agg(F.count(F.lit(1)).alias("n_unique"),
                  F.sum("n_toks").alias("surviving_tokens")))
    dup_rate = F.lit(1.0) - (F.col("n_unique").cast("double")
                             / F.col("n_chunks").cast("double"))
    return (totals.join(owned, "source")
            .select("source", "n_chunks", "n_unique", "surviving_tokens",
                    duck_round(dup_rate, 6).alias("dup_rate")))


ORACLE_RAG_PIPELINE = f"""
WITH w AS (
  SELECT doc_id, source, string_split(text, ' ') AS ws,
         1 + CAST(ceil(greatest(0, len(string_split(text, ' '))
                                - {_CHUNK}) / {_STRIDE}.0) AS INT)
           AS n_chunks
  FROM documents
), ch AS (
  SELECT doc_id, source, i AS chunk_id,
         len(ws[(i * {_STRIDE} + 1):(i * {_STRIDE} + {_CHUNK})]) AS n_toks,
         md5(array_to_string(
             ws[(i * {_STRIDE} + 1):(i * {_STRIDE} + {_CHUNK})], ' '))
           AS chunk_md5
  FROM w, unnest(range(0, n_chunks)) AS tt(i)
), surv AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY chunk_md5
              ORDER BY doc_id, chunk_id) AS rk
    FROM ch) WHERE rk = 1
), totals AS (
  SELECT source, count(*) AS n_chunks FROM ch GROUP BY source
), owned AS (
  SELECT source, count(*) AS n_unique, sum(n_toks) AS surviving_tokens
  FROM surv GROUP BY source
)
SELECT source, n_chunks, n_unique,
       CAST(surviving_tokens AS BIGINT) AS surviving_tokens,
       floor((1.0 - CAST(n_unique AS DOUBLE)
              / CAST(n_chunks AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS dup_rate
FROM totals JOIN owned USING (source)
"""


_HH_SUPPORT = 0.005   # heavy-hitter support threshold (0.5% of tokens)


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus heavy hitters: every token whose frequency exceeds
    ``support × N`` — the vocabulary-pruning / stopword-discovery pass.
    Exact form: one partial/final count aggregate + a broadcast 1-row
    total + a threshold filter; the output is at most 1/support rows by
    pigeonhole, so the result side is always tiny no matter the corpus.

    At 100 TB the single-pass sketch sibling is
    ``df.stat.freqItems`` (Karp–Shenker–Papadimitriou one-pass counters,
    engine-specific contents — superset-of-true-heavy-hitters guarantee
    unit-tested in tests/test_extras.py rather than oracle-compared);
    the exact form here remains the gold standard and is itself
    scale-safe — the count aggregate's state is one long per distinct
    token per partition, and the threshold filter happens before any
    driver materialization."""
    d = t(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split("text", " ")).alias("w"))
    counts = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = tok.agg(F.count(F.lit(1)).alias("n_total"))
    return (counts.crossJoin(F.broadcast(total))
            .where(F.col("c").cast("double")
                   > F.col("n_total").cast("double") * F.lit(_HH_SUPPORT))
            .select("w", "c",
                    duck_round(F.col("c").cast("double")
                               / F.col("n_total").cast("double"), 6)
                    .alias("support")))


ORACLE_HEAVY_HITTERS = f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
), counts AS (
  SELECT w, count(*) AS c FROM tok GROUP BY w
), total AS (SELECT count(*) AS n_total FROM tok)
SELECT w, c,
       floor(CAST(c AS DOUBLE) / CAST(n_total AS DOUBLE) * 1e6 + 0.5)
         / 1e6 AS support
FROM counts CROSS JOIN total
WHERE CAST(c AS DOUBLE) > CAST(n_total AS DOUBLE) * {_HH_SUPPORT}
"""


_COLL_MIN = 5       # min bigram occurrences for a collocation candidate
_COLL_TOP = 50


def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction by LIFT — exp(PMI), the rational core of
    pointwise mutual information: ``p(xy) / (p(x)·p(y))`` — over
    corpus bigrams, the phrase-mining pass (word2vec phrases, vocab
    induction) that finds word pairs co-occurring far above chance.

    Portability: counts are exact BIGINTs; the score is ONE division of
    two exact-integer-valued doubles, ``(c_xy·n_uni·n_uni) /
    (n_big·c_x·c_y)`` — no logs, no order-sensitive summation (the
    ln() for true PMI is monotone and deferred to the consumer, the
    TF-IDF/BM25 discipline). The integer products stay well under 2^53
    at fixture scale; a 100 TB corpus swaps the numerator/denominator
    to DECIMAL(38,0) before the division (same plan shape).

    Scale shape: bigram and unigram counts are partial/final
    aggregates; the score join is count-table ⋈ count-table on word
    keys (pre-aggregated — one row per word, so hot words are one row,
    not a skew hazard); corpus totals ride two broadcast 1-row
    aggregates; top-50 compiles to TakeOrdered."""
    d = t(spark, sf_dir, "documents")
    ws = d.select(F.split("text", " ").alias("ws"))
    uni = (ws.select(F.explode("ws").alias("w"))
           .groupBy("w").agg(F.count(F.lit(1)).alias("c_w")))
    pairs = (ws.where(F.size("ws") >= 2)
             .select(F.explode(F.expr(
                 "transform(sequence(0, size(ws)-2), i -> "
                 "struct(element_at(ws, i+1) AS w1, "
                 "element_at(ws, i+2) AS w2))")).alias("p"))
             .select("p.w1", "p.w2"))
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy"))
    n_uni = uni.agg(F.sum("c_w").alias("n_uni"))
    n_big = big.agg(F.sum("c_xy").alias("n_big"))
    lift = (F.col("c_xy") * F.col("n_uni") * F.col("n_uni")) \
        .cast("double") / (F.col("n_big") * F.col("c_x") * F.col("c_y")) \
        .cast("double")
    return (
        big.where(F.col("c_xy") >= _COLL_MIN)
        .join(uni.select(F.col("w").alias("w1"), F.col("c_w").alias("c_x")),
              "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c_w").alias("c_y")),
              "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_big))
        .select("w1", "w2", "c_xy", duck_round(lift, 6).alias("lift"))
        .orderBy(F.desc("lift"), F.asc("w1"), F.asc("w2"))
        .limit(_COLL_TOP)
    )


ORACLE_COLLOCATIONS = f"""
WITH ws AS (
  SELECT string_split(text, ' ') AS ws FROM documents
), uc AS (
  SELECT w, count(*) AS c_w
  FROM (SELECT unnest(ws) AS w FROM ws) GROUP BY w
), pairs AS (
  SELECT ws[i] AS w1, ws[i + 1] AS w2
  FROM ws, unnest(range(1, len(ws))) AS t(i)
), bc AS (
  SELECT w1, w2, count(*) AS c_xy FROM pairs GROUP BY w1, w2
), t1 AS (SELECT sum(c_w) AS n_uni FROM uc),
   t2 AS (SELECT sum(c_xy) AS n_big FROM bc)
SELECT w1, w2, c_xy,
       floor(CAST(c_xy * n_uni * n_uni AS DOUBLE)
             / CAST(n_big * c_x * c_y AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS lift
FROM bc
JOIN (SELECT w AS w1, c_w AS c_x FROM uc) USING (w1)
JOIN (SELECT w AS w2, c_w AS c_y FROM uc) USING (w2)
CROSS JOIN t1 CROSS JOIN t2
WHERE c_xy >= {_COLL_MIN}
ORDER BY lift DESC, w1, w2
LIMIT {_COLL_TOP}
"""


VOCAB_TOP = 100


def q_text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary extraction: top bigrams by *document frequency*
    (distinct per doc, so a doc repeating a phrase votes once — the robust
    vocab/tokenizer-training statistic). Distinct bigrams via the same
    shingle expression the dedup family uses (n=2), then one
    partial-aggregated groupBy; the top-k compiles to TakeOrdered (per-
    partition heaps + driver merge of k rows), never a global sort. Full
    (doc_freq DESC, bigram) tiebreak makes the cut deterministic."""
    from hippo_claim_crossover_spark.operators.dedup import shingles

    d = t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return (
        d.where(F.size(toks) >= 2)
        .select(F.explode(shingles(toks, 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("bigram"))
        .limit(VOCAB_TOP)
    )


_SQL_BIGRAMS = ("list_distinct(list_transform("
                "range(1, len(string_split(text, ' '))), "
                "i -> array_to_string(string_split(text, ' ')[i:i+1], ' ')))")
ORACLE_TEXT_VOCAB = f"""
WITH bg AS (
  SELECT unnest({_SQL_BIGRAMS}) AS bigram
  FROM documents WHERE len(string_split(text, ' ')) >= 2
)
SELECT bigram, count(*) AS doc_freq
FROM bg GROUP BY bigram
ORDER BY doc_freq DESC, bigram
LIMIT {VOCAB_TOP}
"""


def q_text_typicality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM typicality scoring (perplexity proxy) — the CCNet-style
    quality signal: score each document by how *typical* its bigrams are
    of the corpus. ``avg_bfreq`` = mean corpus frequency of the doc's
    bigram occurrences (with multiplicity — a doc repeating a rare
    phrase stays atypical); ``rare_rate`` = fraction of its bigram
    occurrences that appear nowhere else (corpus count 1). Low
    avg_bfreq / high rare_rate ranks a doc as out-of-distribution, the
    batch analogue of a high-perplexity LM filter — but computed from
    exact BIGINT counts and a final rational ratio, so it hash-matches
    across engines (a true log-prob would ride libm transcendentals
    whose last ulp differs between JVM and DuckDB; same reason TF-IDF
    here uses a rational IDF).

    Two shuffles, both linear: corpus counts partial-agg on the bigram,
    then the doc←count equi-join re-shuffles (bigram, count) pairs —
    never documents — and folds per doc. Both the aggregate and the
    join ride ``xxhash64(bigram)`` — the string collapses to an 8-byte
    key map-side BEFORE either exchange (the dedup-family trick, ~3×
    fewer shuffle bytes than ~20-char bigram strings). The output never
    exposes the bigram, so the oracle needs no hash parity — only the
    grouping, which a 64-bit key preserves up to a ~n²/2⁶⁵ collision
    (odds ~1e-7 even at a 100 M-bigram vocab; any collision would merge
    two counts and fail the hash gate loudly, not silently)."""
    d = t_wide(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - F.lit(1)),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i), F.element_at(toks, i + 1)))
    bg = (d.where(F.size(toks) >= 2)
          .select("doc_id", "lang", F.explode(bigrams).alias("bigram"))
          .select("doc_id", "lang", F.xxhash64("bigram").alias("bk")))
    counts = bg.groupBy("bk").agg(F.count(F.lit(1)).alias("c"))
    return (
        bg.join(counts, "bk")
        .groupBy("doc_id", "lang")
        .agg(F.count(F.lit(1)).alias("n_bigrams"),
             F.sum("c").alias("sum_bfreq"),
             F.sum(F.when(F.col("c") == 1, F.lit(1)).otherwise(F.lit(0)))
             .alias("n_rare"))
        .select("doc_id", "lang", "n_bigrams",
                duck_round(F.col("sum_bfreq") / F.col("n_bigrams"), 4)
                .alias("avg_bfreq"),
                duck_round(F.col("n_rare") / F.col("n_bigrams"), 4)
                .alias("rare_rate"))
    )


ORACLE_TEXT_TYPICALITY = """
WITH bg AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(1, len(string_split(text, ' '))),
                i -> string_split(text, ' ')[i] || ' ' ||
                     string_split(text, ' ')[i+1])) AS bigram
  FROM documents WHERE len(string_split(text, ' ')) >= 2),
cnt AS (SELECT bigram, count(*) AS c FROM bg GROUP BY bigram)
SELECT doc_id, lang, count(*) AS n_bigrams,
       floor((CAST(sum(c) AS DOUBLE) / count(*)) * 1e4 + 0.5) / 1e4
         AS avg_bfreq,
       floor((CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
              / count(*)) * 1e4 + 0.5) / 1e4 AS rare_rate
FROM bg JOIN cnt USING (bigram)
GROUP BY doc_id, lang
"""


_PACK_BUDGET = 512


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM training sequence packing: per source, concatenate documents in
    doc_id order and chop the token stream into fixed 512-token bins
    (documents may span a bin boundary — concat-and-chunk, the padding-free
    way pretraining pipelines fill context windows).

    The running token offset is ONE window sum partitioned by ``source``:
    each source shard packs independently, so there is no global-ordering
    bottleneck — a single global pack would serialize the 100 TB corpus
    onto one partition, while sharding by source (or any stable shard key)
    keeps every partition's pack local to its shuffle partition. All
    arithmetic is exact BIGINT (``div``/``%``), bit-identical across
    engines. doc_id is unique, so the window's default RANGE frame equals
    the ROWS frame the oracle pins."""
    d = t(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    w = Window.partitionBy("source").orderBy("doc_id")
    n_tokens = F.size(F.split(F.col("text"), " ")).cast("long")
    staged = (
        d.select("doc_id", "source", n_tokens.alias("n_tokens"))
        .withColumn("start_tok",
                    F.sum("n_tokens").over(w) - F.col("n_tokens"))
    )
    b = _PACK_BUDGET
    return staged.select(
        "doc_id", "source", "n_tokens", "start_tok",
        F.expr(f"start_tok div {b}").alias("bin_id"),
        (F.col("start_tok") % b).alias("offset_in_bin"),
        F.expr(f"(start_tok + n_tokens - 1) div {b} - start_tok div {b} + 1")
        .alias("bins_spanned"),
    )


ORACLE_PACK_SEQUENCES = f"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT *,
         CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - n_tokens AS BIGINT) AS start_tok
  FROM toks
)
SELECT doc_id, source, n_tokens, start_tok,
       start_tok // {_PACK_BUDGET} AS bin_id,
       start_tok % {_PACK_BUDGET} AS offset_in_bin,
       (start_tok + n_tokens - 1) // {_PACK_BUDGET}
         - start_tok // {_PACK_BUDGET} + 1 AS bins_spanned
FROM c
"""


def _gopher_metrics():
    """The Gopher quality-rule metric columns over ``text`` —
    (n_tokens, mean_word_len, distinct_ratio), duck_rounded — shared by
    q_text_gopher and the export composite so the thresholds and the
    exact ratio expressions cannot drift apart."""
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    mean_len = duck_round((F.length("text") - (n - F.lit(1)))
                          .cast("double") / n, 4)
    distinct_ratio = duck_round(
        F.size(F.array_distinct(toks)).cast("double") / n, 4)
    return n, mean_len, distinct_ratio


def q_text_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality-rule filter: the published pretraining-data
    heuristics as one row-local expression — token-count bounds, mean
    word length window, and a repetition (distinct-token-ratio) floor —
    emitting the per-document metrics plus the pass/fail verdict.

    All built-ins, fully row-local (no shuffle at all: the filter runs
    inside the scan stage at any scale). Mean word length uses the exact
    identity (chars − (n−1)) / n — the fixture text is single-space
    separated — so no second tokenization pass; both derived ratios go
    through duck_round before the rule comparisons, which keeps the
    booleans engine-deterministic too."""
    from hippo_claim_crossover_spark.plans.base import duck_round

    d = t_wide(spark, sf_dir, "documents")
    n, mean_len, distinct_ratio = _gopher_metrics()
    out = (
        d.select("doc_id", n.alias("n_tokens"),
                 mean_len.alias("mean_word_len"),
                 distinct_ratio.alias("distinct_ratio"))
        .withColumn("passes",
                    (F.col("n_tokens") >= 50)
                    & (F.col("n_tokens") <= 100000)
                    & (F.col("mean_word_len") >= 3.0)
                    & (F.col("mean_word_len") <= 10.0)
                    & (F.col("distinct_ratio") >= 0.2))
    )
    return out


ORACLE_TEXT_GOPHER = """
WITH m AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
         floor((CAST(length(text) - (len(string_split(text, ' ')) - 1)
                AS DOUBLE) / len(string_split(text, ' '))) * 1e4 + 0.5)
           / 1e4 AS mean_word_len,
         floor((CAST(len(list_distinct(string_split(text, ' ')))
                AS DOUBLE) / len(string_split(text, ' '))) * 1e4 + 0.5)
           / 1e4 AS distinct_ratio
  FROM documents
)
SELECT doc_id, n_tokens, mean_word_len, distinct_ratio,
       (n_tokens >= 50 AND n_tokens <= 100000
        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        AND distinct_ratio >= 0.2) AS passes
FROM m
"""


def q_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: per term, document frequency, total term
    frequency, and the head of the sorted posting list — the search /
    retrieval-side twin of q_text_tfidf's scoring.

    Scale shape: one explode + one partial/final aggregate keyed by
    term. Full posting lists for stop-word-grade terms would be
    multi-GB single rows at 100 TB, so the stored row carries exact
    summary stats (df, tf) plus a CAPPED head of the list
    (`slice(sort_array(...), 1, 10)`) — the pattern Lucene calls a
    skip-list head; full lists would be written as a bucketed
    term-partitioned table instead of rows. The df≥5 floor keeps the
    long tail (hapax terms — most of the vocabulary) out of the result
    the same way a search index drops sub-threshold terms into a
    secondary tier. Posting heads are emitted as comma-joined strings so
    the oracle compare is collation-exact.
    """
    d = t_wide(spark, sf_dir, "documents")
    terms = d.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("term"),
    ).where(F.length("term") >= 3)
    return (
        terms.groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"),
             F.count(F.lit(1)).alias("tf_total"),
             F.array_join(
                 F.slice(F.sort_array(F.collect_set("doc_id")), 1, 10)
                 .cast("array<string>"), ",").alias("posting_head"))
        .where(F.col("df") >= 5)
    )


ORACLE_POSTINGS = """
SELECT term, count(DISTINCT doc_id) AS df, count(*) AS tf_total,
       array_to_string(
         list_slice(list(DISTINCT doc_id ORDER BY doc_id), 1, 10),
         ',') AS posting_head
FROM (
  SELECT doc_id,
         unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
  FROM documents
)
WHERE length(term) >= 3
GROUP BY term
HAVING count(DISTINCT doc_id) >= 5
"""


def q_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle + shard assignment — the
    write-side layout op every training run needs: an order that is (a)
    statistically shuffled, (b) reproducible across engines/runs/
    partitionings, (c) computable without any global sort.

    Each doc's shuffle key is the md5 of its id + seed; shard =
    key mod 16, position = rank of the key within the shard. One hash
    shuffle of (id, 15-hex-char key) + a per-shard sort — at 100 TB the
    unit of parallelism is the shard (pick shards ≫ executors), and no
    stage ever sees a global ordering. md5 (not xxhash64) so DuckDB
    computes the identical key."""
    d = t(spark, sf_dir, "documents")
    key = md5_long(F.concat(F.col("doc_id").cast("string"), F.lit(":42")))
    w = Window.partitionBy("shard").orderBy("skey", "doc_id")
    return (
        d.select("doc_id", key.alias("skey"))
        .withColumn("shard", (F.col("skey") % 16).cast("int"))
        .withColumn("pos", F.row_number().over(w))
        .select("doc_id", "shard", "pos")
    )


ORACLE_SHUFFLE_SHARDS = f"""
WITH k AS (
  SELECT doc_id,
         {sql_md5_long("CAST(doc_id AS VARCHAR) || ':42'")} AS skey
  FROM documents
)
SELECT doc_id, CAST(skey % 16 AS INTEGER) AS shard,
       CAST(row_number() OVER (PARTITION BY skey % 16
                               ORDER BY skey, doc_id) AS INTEGER) AS pos
FROM k
"""


N_TOPICS = 4
# Statically broadcast the dense (vocab × topics) factor only while the
# corpus is small enough that Heaps-law vocab growth bounds it to ~100 MB
# serialized (~1 GB text ⇒ ~0.4 M terms × topics × ~40 B ≈ 65 MB); above
# the gate the shuffle join on term is the default (AQE re-promotes to
# broadcast off runtime stats when warranted).
_MATMUL_BCAST_BYTES = 1 << 30


def _corpus_bytes(spark: SparkSession, sf_dir: str) -> int:
    """Total on-storage size of the documents table — a driver-side
    Hadoop FS listing (no Spark job; object stores and catalogs answer
    this from metadata)."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(f"{sf_dir}/documents.parquet")
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.getContentSummary(path).getLength()


def q_matmul(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse×dense matrix multiply as join-aggregate — the distributed
    SpMM primitive under embedding projection, topic scoring, and GNN
    feature propagation: doc-term counts (sparse, from the corpus) ×
    a term-topic weight matrix (dense, |vocab|×4) → doc-topic scores.

    Canonical shape: shuffle the SPARSE side on the contraction
    dimension (term), and gate the dense factor's join strategy on
    corpus size — a vocab×topics table is NOT unconditionally
    broadcast-safe (an unpruned 100 M-term web vocab × topics is GBs,
    an executor/driver OOM as a broadcast):

    - corpus ≤ ``_MATMUL_BCAST_BYTES`` on storage (a driver-side file
      LISTING via the Hadoop FS — zero Spark jobs; a catalog/manifest
      serves the same number for free in production): static
      ``F.broadcast`` hint — Heaps-law vocab growth keeps
      |vocab|·topics well inside a sane (~100 MB) broadcast, and the
      hint skips both shuffles of the dense side.
    - above the gate, the DEFAULT is the shuffle join on term (same
      plan minus the hint, both sides hash-partitioned on the
      contraction key); AQE's runtime-statistics conversion still
      promotes it back to broadcast when the REALIZED vocab is small
      (verified in tests/test_plans.py), so the fallback costs only
      the dense side's shuffle write, never correctness or memory.

    Multiply, then partial/final-aggregate on (doc, topic). The weight
    matrix is md5-derived small integers so the whole product is exact
    BIGINT arithmetic — hash-identical across engines.
    """
    d = t_wide(spark, sf_dir, "documents")
    terms = (
        d.select("doc_id",
                 F.explode(F.split(F.lower("text"), "[^a-z]+"))
                 .alias("term"))
        .where(F.length("term") >= 3)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    topics = spark.range(N_TOPICS).select(
        F.col("id").cast("int").alias("topic"))
    weights = (
        terms.select("term").distinct()
        .crossJoin(topics)
        .select("term", "topic",
                (md5_long(F.concat_ws(":", "term", "topic")) % 7)
                .alias("w"))
    )
    dense = (F.broadcast(weights)
             if _corpus_bytes(spark, sf_dir) <= _MATMUL_BCAST_BYTES
             else weights)
    return (
        terms.join(dense, "term")
        .groupBy("doc_id", "topic")
        .agg(F.sum(F.col("tf") * F.col("w")).alias("score"))
    )


ORACLE_MATMUL = f"""
WITH terms AS (
  SELECT doc_id, term, count(*) AS tf FROM (
    SELECT doc_id,
           unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
    FROM documents)
  WHERE length(term) >= 3 GROUP BY doc_id, term
), weights AS (
  SELECT term, topic,
         {sql_md5_long("term || ':' || topic")} % 7 AS w
  FROM (SELECT DISTINCT term FROM terms),
       (SELECT unnest(range({N_TOPICS})) AS topic)
)
SELECT t.doc_id, CAST(w.topic AS INTEGER) AS topic,
       CAST(sum(t.tf * w.w) AS BIGINT) AS score
FROM terms t JOIN weights w USING (term)
GROUP BY t.doc_id, w.topic
"""


def _contact_trailer(with_phone: bool = True):
    """Deterministic doc_id-derived contact trailer (the reproducible
    stand-in for the dirty column a real crawl carries) — shared by
    q_pii_redact and the export composite."""
    email = F.concat(
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example."),
        F.element_at(F.array(F.lit("com"), F.lit("org"), F.lit("net")),
                     (F.col("doc_id") % 3 + 1).cast("int")))
    if not with_phone:
        return email
    return F.concat(
        email, F.lit(" tel 555-"),
        F.lpad((F.col("doc_id") % 900 + 100).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("doc_id") * 7 % 10000).cast("string"), 4, "0"))


_EMAIL_PAT = r"[a-z0-9]+@[a-z]+\.[a-z]+"
_PHONE_PAT = r"\d{3}-\d{3}-\d{4}"


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: detect and redact email addresses and phone
    numbers, reporting per-source counts and the redaction size delta.

    The fixture corpus is synthetic word soup with no embedded PII, so
    the query first derives a contact trailer deterministically from
    ``doc_id`` (a reproducible stand-in for the dirty column a real crawl
    would carry), then runs the actual scrub: ``regexp_extract_all`` to
    count hits and a chained ``regexp_replace`` to mask them.  Both
    patterns stay in the conservative regex subset that Java (Spark) and
    RE2 (DuckDB) interpret identically.

    Fully row-local — detection and redaction run inside the scan stage
    with no shuffle before the 5-key per-source rollup, so at 100 TB this
    is a single map-side pass (the shape of every real PII pipeline).
    """
    d = t_wide(spark, sf_dir, "documents")
    full = F.concat(F.col("text"), _contact_trailer(with_phone=True))
    redacted = F.regexp_replace(
        F.regexp_replace(full, F.lit(_EMAIL_PAT), F.lit("<EMAIL>")),
        F.lit(_PHONE_PAT), F.lit("<PHONE>"))
    return (d.select(
        "source",
        F.size(F.regexp_extract_all(full, F.lit(_EMAIL_PAT), F.lit(0)))
        .alias("n_emails"),
        F.size(F.regexp_extract_all(full, F.lit(_PHONE_PAT), F.lit(0)))
        .alias("n_phones"),
        (F.length(full) - F.length(redacted)).alias("delta"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_emails").alias("emails_found"),
             F.sum("n_phones").alias("phones_found"),
             F.sum("delta").alias("chars_removed"))
        .orderBy("source"))


ORACLE_PII_REDACT = r"""
WITH full_t AS (
  SELECT source,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.' || (['com','org','net'])[(doc_id % 3) + 1]
              || ' tel 555-'
              || lpad(CAST(doc_id % 900 + 100 AS VARCHAR), 3, '0') || '-'
              || lpad(CAST(doc_id * 7 % 10000 AS VARCHAR), 4, '0') AS full_txt
  FROM documents
), m AS (
  SELECT source,
         len(regexp_extract_all(full_txt, '[a-z0-9]+@[a-z]+\.[a-z]+'))
           AS n_emails,
         len(regexp_extract_all(full_txt, '\d{3}-\d{3}-\d{4}')) AS n_phones,
         length(full_txt) - length(
           regexp_replace(
             regexp_replace(full_txt, '[a-z0-9]+@[a-z]+\.[a-z]+', '<EMAIL>',
                            'g'),
             '\d{3}-\d{3}-\d{4}', '<PHONE>', 'g')) AS delta
  FROM full_t
)
SELECT source, count(*) AS n_docs,
       CAST(sum(n_emails) AS BIGINT) AS emails_found,
       CAST(sum(n_phones) AS BIGINT) AS phones_found,
       CAST(sum(delta) AS BIGINT) AS chars_removed
FROM m GROUP BY source ORDER BY source
"""


def q_text_strip_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML/boilerplate strip — the stage-0 of every web-corpus curation
    pipeline, upstream of ``q_text_gopher`` / ``q_curation_pipeline``.

    The fixture corpus is clean text, so the query first wraps each
    document in a deterministic HTML envelope derived only from
    ``doc_id``/``text`` (head with title/style/script, a nav whose link
    count varies per doc, a footer, and a body with numeric-entity
    encoding) — a reproducible stand-in for raw crawl HTML — then runs
    the real strip: drop ``<head>``, drop the boilerplate ``<nav>`` /
    ``<footer>`` blocks (the link-density-heavy segments a main-content
    heuristic discards), strip remaining tags, decode entities, collapse
    whitespace.  All regexes stay in the conservative subset Java
    (Spark) and RE2 (DuckDB) interpret identically.

    Verdict design: the strip must ROUND-TRIP — recovered main content
    equal to the original ``text`` byte-for-byte — so ``n_roundtrip_exact
    == n_docs`` and the md5-based ``stripped_hash`` pin the actual
    stripped bytes cross-engine, not just counts.  Fully row-local:
    wrap + strip run inside the scan stage (map-only, whole-stage
    codegen) with the per-source rollup as the only shuffle — at 100 TB
    this is a single map pass like every real boilerplate stripper.
    The md5-mod-1e9 hash terms keep ``sum`` inside int64 up to ~9e9 docs
    per source; widen to DECIMAL(38,0)/HUGEINT beyond that."""
    d = t_wide(spark, sf_dir, "documents")
    nav = F.concat(
        F.lit('<nav><a href="/">home</a>'),
        F.repeat(F.lit('<a href="/p">more</a>'),
                 (F.col("doc_id") % 3).cast("int")),
        F.lit("</nav>"))
    body_enc = F.replace(
        F.replace(F.col("text"), F.lit("table"), F.lit("ta&#98;le")),
        F.lit("join"), F.lit("jo&#105;n"))
    html = F.concat(
        F.lit("<html><head><title>d"), F.col("doc_id").cast("string"),
        F.lit("</title><style>p{margin:0;}</style>"
              "<script>var x=1;</script></head><body>"),
        nav, F.lit('<p class="main">'), body_enc,
        F.lit('</p><footer><a href="/tos">tos</a> (c) 2026</footer>'
              "</body></html>"))
    s = F.regexp_replace(html, F.lit("<head>.*?</head>"), F.lit(" "))
    s = F.regexp_replace(s, F.lit("<nav>.*?</nav>"), F.lit(" "))
    s = F.regexp_replace(s, F.lit("<footer>.*?</footer>"), F.lit(" "))
    s = F.regexp_replace(s, F.lit("<[^>]*>"), F.lit(" "))
    s = F.replace(F.replace(s, F.lit("&#98;"), F.lit("b")),
                  F.lit("&#105;"), F.lit("i"))
    stripped = F.trim(F.regexp_replace(s, F.lit(" +"), F.lit(" ")))
    per_doc = d.select(
        "source",
        F.length(html).alias("html_len"),
        F.length("text").alias("text_len"),
        (F.size(F.split(html, "<a href")) - 1).alias("n_links"),
        (stripped == F.col("text")).cast("int").alias("ok"),
        (md5_long(stripped) % 1000000007).alias("h"))
    return (
        per_doc.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("ok").alias("n_roundtrip_exact"),
             F.sum("n_links").alias("total_links"),
             F.sum(F.col("html_len") - F.col("text_len"))
             .alias("markup_chars"),
             duck_round(F.avg("n_links"), 4).alias("avg_links"),
             F.sum("h").alias("stripped_hash"))
        .orderBy("source"))


ORACLE_TEXT_STRIP_HTML = f"""
WITH h AS (
  SELECT source, text, length(text) AS text_len,
         '<html><head><title>d' || CAST(doc_id AS VARCHAR)
         || '</title><style>p{{margin:0;}}</style>'
         || '<script>var x=1;</script></head><body>'
         || '<nav><a href="/">home</a>'
         || repeat('<a href="/p">more</a>', CAST(doc_id % 3 AS INT))
         || '</nav>'
         || '<p class="main">'
         || replace(replace(text, 'table', 'ta&#98;le'),
                    'join', 'jo&#105;n')
         || '</p><footer><a href="/tos">tos</a> (c) 2026</footer>'
         || '</body></html>' AS html
  FROM documents
), s AS (
  SELECT source, text, text_len, length(html) AS html_len,
         len(string_split(html, '<a href')) - 1 AS n_links,
         trim(regexp_replace(
           replace(replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(html, '<head>.*?</head>', ' ', 'g'),
                   '<nav>.*?</nav>', ' ', 'g'),
                 '<footer>.*?</footer>', ' ', 'g'),
               '<[^>]*>', ' ', 'g'),
             '&#98;', 'b'), '&#105;', 'i'),
           ' +', ' ', 'g')) AS stripped
  FROM h
)
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN stripped = text THEN 1 ELSE 0 END) AS BIGINT)
         AS n_roundtrip_exact,
       CAST(sum(n_links) AS BIGINT) AS total_links,
       CAST(sum(html_len - text_len) AS BIGINT) AS markup_chars,
       floor((CAST(sum(n_links) AS DOUBLE) / count(*)) * 1e4 + 0.5) / 1e4
         AS avg_links,
       CAST(sum({sql_md5_long("stripped")} % 1000000007) AS BIGINT)
         AS stripped_hash
FROM s GROUP BY source ORDER BY source
"""


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signal (the Gopher/MassiveText "duplicate
    n-gram fraction"): per document, the share of bigram slots taken by
    the single most-repeated bigram, with the bigram itself — the
    signal that catches boilerplate and looping generations that
    distinct-token ratio (q_text_gopher) misses.

    Bigrams are built row-local with a higher-order ``transform`` over
    the token array (codegen, no Python), then one explode + grouped
    count + per-doc WindowGroupLimit picks each document's top bigram
    (count desc, bigram asc tiebreak).  At 100 TB: the only shuffle
    carries (doc_id, bigram, count) partial aggregates, and the window
    is group-limited so no per-doc posting list materializes.
    """
    d = (t_wide(spark, sf_dir, "documents")
         .withColumn("toks", F.split(F.col("text"), " "))
         .where(F.size("toks") >= 2))
    bigrams = d.select(
        "doc_id", F.size("toks").alias("n_toks"),
        F.explode(F.expr(
            "transform(sequence(2, size(toks)), "
            "i -> concat(element_at(toks, i - 1), ' ', "
            "element_at(toks, i)))")).alias("bigram"))
    counts = (bigrams.groupBy("doc_id", "n_toks", "bigram")
              .agg(F.count(F.lit(1)).alias("cnt")))
    w = Window.partitionBy("doc_id").orderBy(F.col("cnt").desc(), "bigram")
    return (counts.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("doc_id",
                    (F.col("n_toks") - 1).alias("n_bigrams"),
                    F.col("bigram").alias("top_bigram"),
                    F.col("cnt").alias("top_count"),
                    duck_round(F.col("cnt").cast("double")
                               / (F.col("n_toks") - 1), 4)
                    .alias("top_frac"))
            .orderBy("doc_id"))


ORACLE_REPETITION = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ws
  FROM documents WHERE len(string_split(text, ' ')) >= 2
), bg AS (
  SELECT doc_id, len(ws) AS n_toks,
         unnest(list_transform(range(2, len(ws) + 1),
                               i -> ws[i - 1] || ' ' || ws[i])) AS bigram
  FROM toks
), counts AS (
  SELECT doc_id, n_toks, bigram, count(*) AS cnt
  FROM bg GROUP BY doc_id, n_toks, bigram
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY cnt DESC, bigram) AS rn
  FROM counts
)
SELECT doc_id, n_toks - 1 AS n_bigrams, bigram AS top_bigram,
       cnt AS top_count,
       floor((CAST(cnt AS DOUBLE) / (n_toks - 1)) * 1e4 + 0.5) / 1e4
         AS top_frac
FROM ranked WHERE rn = 1 ORDER BY doc_id
"""


def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick vectorizer profile: tokens hash into a fixed
    64-dimension feature space (md5 mod D — the portable stand-in for
    murmur feature hashing), reported per dimension with collision
    stats (distinct tokens sharing the dim, doc reach, mass).

    This is the fixed-width featurization step that lets 100 TB of text
    become bounded-width vectors with no vocabulary build: the dim
    assignment is row-local (no dictionary join, no OOV problem), the
    only shuffle carries (dim, token) partial counts, and the output is
    D rows regardless of corpus size.  The md5 hash makes the exact
    same vectors come out of any engine — the reproducibility property
    feature pipelines need when train and serve stacks differ.
    """
    D = 64
    toks = (t_wide(spark, sf_dir, "documents")
            .select("doc_id",
                    F.explode(F.split(F.col("text"), " ")).alias("tok"))
            .withColumn("dim", md5_long("tok") % D))
    return (toks.groupBy("dim")
            .agg(F.count(F.lit(1)).alias("total_count"),
                 F.countDistinct("tok").alias("distinct_tokens"),
                 F.countDistinct("doc_id").alias("distinct_docs"))
            .orderBy("dim"))


ORACLE_FEATURE_HASH = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
  FROM documents
), h AS (
  SELECT doc_id, tok,
         {sql_md5_long("tok")} % 64 AS dim
  FROM toks
)
SELECT dim, count(*) AS total_count,
       count(DISTINCT tok) AS distinct_tokens,
       count(DISTINCT doc_id) AS distinct_docs
FROM h GROUP BY dim ORDER BY dim
"""


def q_export_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite training-export pipeline chaining the round-6 ops:
    Gopher quality filter → PII scrub → language-balanced A-ES sample
    → packing report.  The third declared composite (after curation and
    RAG-prep), covering the export path: what actually ships to the
    trainer and how many sequences it packs into.

    Stage shapes (the filter/trailer/A-ES expressions are the SHARED
    helpers the parent queries use — _gopher_metrics, _contact_trailer,
    base.aes_key — so composite and parents cannot drift apart):
    1. quality filter — row-local rule expressions inside the scan;
    2. balance — importance weights from the SURVIVOR language counts
       (broadcast), content-addressed A-ES top-100 via TakeOrdered;
    3. scrub report — regex PII counts on the 100 SAMPLED rows only
       (n_pii is row-local and key-independent, so scoring after the
       TakeOrdered touches 100 rows, not the survivor corpus;
       full-corpus scrubbing is q_pii_redact's job);
    4. pack — per-language doc/token totals and ceil(tokens/512)
       packed-sequence counts, exact integer arithmetic.
    One corpus scan feeds the whole chain; the only wide shuffle is
    the 5-key final aggregate.  Every ratio rides duck_round and every
    count is exact, so the 4-stage composite stays hash-checkable.
    """
    K = 100
    d = t_wide(spark, sf_dir, "documents")
    n, mean_len, distinct_ratio = _gopher_metrics()
    survivors = materialize(d
                            .withColumn("n_tokens", n)
                            .where((F.col("n_tokens") >= 50)
                                   & (F.col("n_tokens") <= 100000)
                                   & (mean_len >= 3.0) & (mean_len <= 10.0)
                                   & (distinct_ratio >= 0.2)),
                            "export_survivors")
    lang_n = (survivors.groupBy(F.col("lang").alias("_lang"))
              .agg(F.count(F.lit(1)).alias("n_lang")))
    tot = lang_n.agg(F.sum("n_lang").alias("n_tot"),
                     F.count(F.lit(1)).alias("k_lang"))
    w = (F.col("n_tot").cast("double")
         / (F.col("k_lang") * F.col("n_lang")).cast("double"))
    sampled = (survivors
               .join(F.broadcast(lang_n), survivors.lang == F.col("_lang"))
               .crossJoin(F.broadcast(tot))
               .select("doc_id", "lang", "text", "n_tokens",
                       aes_key(F.col("doc_id"), w).alias("_k"))
               .orderBy(F.desc("_k"), F.asc("doc_id"))
               .limit(K))
    # the scrub report runs on the SAMPLED rows only — n_pii is
    # row-local and independent of the draw key, so scoring it after
    # the TakeOrdered touches 100 rows instead of the whole survivor
    # corpus (a full-corpus scrub is q_pii_redact's job)
    full = F.concat(F.col("text"), _contact_trailer(with_phone=False))
    scrubbed = sampled.withColumn(
        "n_pii", F.size(F.regexp_extract_all(full, F.lit(_EMAIL_PAT),
                                             F.lit(0))))
    return (scrubbed.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens"),
                 F.floor((F.sum("n_tokens") + 511) / 512).cast("long")
                 .alias("n_sequences"),
                 F.sum("n_pii").alias("pii_hits"))
            .orderBy("lang"))


ORACLE_EXPORT_PIPELINE = rf"""
WITH m AS (
  SELECT doc_id, lang, text,
         CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
         floor((CAST(length(text) - (len(string_split(text, ' ')) - 1)
                AS DOUBLE) / len(string_split(text, ' '))) * 1e4 + 0.5)
           / 1e4 AS mwl,
         floor((CAST(len(list_distinct(string_split(text, ' ')))
                AS DOUBLE) / len(string_split(text, ' '))) * 1e4 + 0.5)
           / 1e4 AS dr
  FROM documents
), survivors AS (
  SELECT * FROM m
  WHERE n_tokens >= 50 AND n_tokens <= 100000
    AND mwl >= 3.0 AND mwl <= 10.0 AND dr >= 0.2
), scrubbed AS (
  SELECT doc_id, lang, n_tokens,
         len(regexp_extract_all(
           text || ' contact user' || CAST(doc_id AS VARCHAR)
                || '@example.' || (['com','org','net'])[(doc_id % 3) + 1],
           '[a-z0-9]+@[a-z]+\.[a-z]+')) AS n_pii
  FROM survivors
), lang_n AS (
  SELECT lang, count(*) AS n_lang FROM survivors GROUP BY lang
), tot AS (
  SELECT sum(n_lang) AS n_tot, count(*) AS k_lang FROM lang_n
), keyed AS (
  SELECT s.doc_id, s.lang, s.n_tokens, s.n_pii,
         {sql_aes_key("s.doc_id", "CAST(t.n_tot AS DOUBLE) / "
                      "CAST(t.k_lang * l.n_lang AS DOUBLE)")} AS k
  FROM scrubbed s
  JOIN lang_n l ON s.lang = l.lang
  CROSS JOIN tot t
), top AS (
  SELECT * FROM keyed ORDER BY k DESC, doc_id LIMIT 100
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(floor((sum(n_tokens) + 511) / 512) AS BIGINT) AS n_sequences,
       CAST(sum(n_pii) AS BIGINT) AS pii_hits
FROM top GROUP BY lang ORDER BY lang
"""


def _log_u(x):
    """``⌊log2(x)·1e6⌉`` as a BIGINT: a log snapped to integer micro-bits,
    identical in both engines for the small integer counts it is fed."""
    return (F.floor(F.log2(x.cast("double")) * F.lit(1e6) + F.lit(0.5))
            .cast("long"))


def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level Shannon entropy as a quality signal (low entropy =
    repetitive/templated text, the class Gopher's repetition rules
    target), rolled up per source — with the float-safety discipline the
    repo applies to money applied to ENTROPY: every engine-divergent
    accumulation is integer.

    The identity ``H·n = n·log2(n) − Σ c·log2(c)`` (c = per-token count,
    n = doc token count) makes per-doc entropy computable without any
    per-doc float division until the very end: both log2 terms are
    snapped to integer micro-bits (``⌊x·1e6 + 0.5⌋`` — c and n are small
    integers, so the snapped values are identical across engines), so
    per-doc ``h_n_u = n·⌊log2(n)·1e6⌉ − Σ⌊c·log2(c)·1e6⌉`` is a BIGINT,
    and the per-source rollup sums BIGINTs — order-insensitive, exactly
    like money_sum. The one double division (token-weighted mean
    entropy = Σh_n_u / Σn / 1e6) happens once per output row.

    Scale shape: explode → two partial/final aggregates, all keys
    compact; nothing per-doc is buffered (the per-doc aggregate's state
    is two longs)."""
    docs = t_wide(spark, sf_dir, "documents").select(
        "doc_id", "source", "text")
    tok = (docs.select(
        "doc_id", "source",
        F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != ""))
    tc = (tok.groupBy("doc_id", "source", "tok")
          .agg(F.count(F.lit(1)).alias("c")))
    term_u = F.floor(F.col("c").cast("double")
                     * F.log2(F.col("c").cast("double"))
                     * F.lit(1e6) + F.lit(0.5)).cast("long")
    per_doc = (tc.groupBy("doc_id", "source")
               .agg(F.sum(term_u).alias("sum_u"),
                    F.sum("c").alias("n")))
    logn_u = _log_u(F.col("n"))
    per_doc = per_doc.withColumn(
        "h_n_u", F.col("n") * logn_u - F.col("sum_u"))
    h_bits = (F.col("h_n_u").cast("double")
              / F.col("n").cast("double") / F.lit(1e6))
    return (per_doc.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n").alias("n_tokens"),
                 duck_round(F.sum("h_n_u").cast("double")
                            / F.sum("n").cast("double") / F.lit(1e6), 4)
                 .alias("mean_entropy_bits"),
                 duck_round(F.min(h_bits), 4).alias("min_doc_entropy"),
                 duck_round(F.max(h_bits), 4).alias("max_doc_entropy"))
            .orderBy("source"))


ORACLE_TEXT_ENTROPY = """
WITH tok AS (
  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
  FROM documents
), tc AS (
  SELECT doc_id, source, tok, CAST(count(*) AS BIGINT) AS c
  FROM tok WHERE tok <> '' GROUP BY doc_id, source, tok
), per_doc AS (
  SELECT doc_id, source,
         CAST(sum(CAST(floor(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))
                             * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS sum_u,
         CAST(sum(c) AS BIGINT) AS n
  FROM tc GROUP BY doc_id, source
), scored AS (
  SELECT source, n,
         n * CAST(floor(log2(CAST(n AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
           - sum_u AS h_n_u
  FROM per_doc
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(n) AS BIGINT) AS n_tokens,
       floor(CAST(sum(h_n_u) AS DOUBLE) / CAST(sum(n) AS DOUBLE)
             / 1e6 * 1e4 + 0.5) / 1e4 AS mean_entropy_bits,
       floor(min(CAST(h_n_u AS DOUBLE) / CAST(n AS DOUBLE) / 1e6)
             * 1e4 + 0.5) / 1e4 AS min_doc_entropy,
       floor(max(CAST(h_n_u AS DOUBLE) / CAST(n AS DOUBLE) / 1e6)
             * 1e4 + 0.5) / 1e4 AS max_doc_entropy
FROM scored GROUP BY source ORDER BY source
"""


# Keep threshold for the bigram-LM quality filter (bits/bigram). The
# fixture corpus scores 4.71–5.21 bits (median 4.89), so 4.9 splits it
# meaningfully; production recalibrates per corpus.
NGRAM_LM_TAU = 4.9


def q_ngram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model perplexity filtering — the KenLM-style
    quality gate every LLM data pipeline runs (CCNet, Gopher, Dolma:
    score each doc's cross-entropy under a corpus n-gram LM, drop the
    high-perplexity tail). Train and score in one job: corpus bigram
    counts c2(w1,w2) and context counts c1(w1) = Σ_w2 c2, add-one
    smoothing p = (c2+1)/(c1+V), per-doc cross-entropy = mean
    −log2 p over its bigrams.

    Exactness rides the scaled-integer log discipline (q_text_entropy's
    r9 idiom): each bigram's cost in micro-bits is the BIGINT
    ``⌊log2(c1+V)·1e6⌉ − ⌊log2(c2+1)·1e6⌉``, per-doc and per-source
    totals sum BIGINTs (order-insensitive), and the one double division
    per output row happens last — so the keep verdicts and the rolled-up
    bits/bigram hash-match DuckDB exactly.

    Scale shape: one map-only bigram fan-out (codegen array transform —
    no UDF), a partial/final count to build the LM (c2 is bounded by the
    corpus bigram vocabulary, Zipf-truncated in practice — the standard
    pruned-LM regime, MBs for token-level vocabularies), c1 aggregated
    FROM c2 (never a second corpus pass), and the score join broadcasts
    the model to the bigram stream. At a vocabulary too large to
    broadcast the same plan runs as shuffle equi-joins on the compact
    (w1, w2) key — AQE decides off the realized model size. Per-doc
    state in every aggregate is two longs."""
    docs = t_wide(spark, sf_dir, "documents").select(
        "doc_id", "source", "text")
    bg = (docs.withColumn("tk", F.split("text", " "))
          .where(F.size("tk") >= 2)
          .select("doc_id", "source",
                  F.explode(F.expr(
                      "transform(sequence(0, size(tk) - 2), "
                      "i -> struct(tk[i] AS w1, tk[i + 1] AS w2))"))
                  .alias("_bg"))
          .select("doc_id", "source",
                  F.col("_bg.w1").alias("w1"),
                  F.col("_bg.w2").alias("w2")))
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("_c2"))
    c1 = c2.groupBy("w1").agg(F.sum("_c2").alias("_c1"))
    vocab = (docs.select(F.explode(F.split("text", " ")).alias("tok"))
             .agg(F.count_distinct("tok").alias("_v")))

    cost_u = (_log_u(F.col("_c1") + F.col("_v"))
              - _log_u(F.col("_c2") + F.lit(1)))
    per_doc = (bg.join(F.broadcast(c2), ["w1", "w2"])
               .join(F.broadcast(c1), "w1")
               .crossJoin(F.broadcast(vocab))
               .groupBy("doc_id", "source")
               .agg(F.sum(cost_u).alias("_tot_u"),
                    F.count(F.lit(1)).alias("_nb")))
    xent_doc = (F.col("_tot_u").cast("double")
                / F.col("_nb").cast("double") / F.lit(1e6))
    return (per_doc.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.when(xent_doc < NGRAM_LM_TAU, 1).otherwise(0))
                 .cast("long").alias("n_kept"),
                 duck_round(F.sum("_tot_u").cast("double")
                            / F.sum("_nb").cast("double") / F.lit(1e6), 4)
                 .alias("xent_bits"),
                 duck_round(F.min(xent_doc), 4).alias("min_doc_bits"),
                 duck_round(F.max(xent_doc), 4).alias("max_doc_bits"))
            .orderBy("source"))


ORACLE_NGRAM_LM = f"""
WITH bg0 AS (
  SELECT doc_id, source,
         unnest(list_transform(range(1, len(string_split(text, ' '))),
                i -> string_split(text, ' ')[i] || chr(1) ||
                     string_split(text, ' ')[i + 1])) AS b
  FROM documents WHERE len(string_split(text, ' ')) >= 2
), bg AS (
  SELECT doc_id, source, split_part(b, chr(1), 1) AS w1,
         split_part(b, chr(1), 2) AS w2 FROM bg0
), c2 AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY 1, 2
), c1 AS (
  SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1
), v AS (
  SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vocab
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
), per_doc AS (
  SELECT g.doc_id, g.source,
         CAST(sum(
           CAST(floor(log2(CAST(c1.c1 + v.vocab AS DOUBLE)) * 1e6 + 0.5)
                AS BIGINT)
         - CAST(floor(log2(CAST(c2.c2 + 1 AS DOUBLE)) * 1e6 + 0.5)
                AS BIGINT)) AS BIGINT) AS tot_u,
         CAST(count(*) AS BIGINT) AS nb
  FROM bg g
  JOIN c2 ON g.w1 = c2.w1 AND g.w2 = c2.w2
  JOIN c1 ON g.w1 = c1.w1
  CROSS JOIN v
  GROUP BY 1, 2
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN CAST(tot_u AS DOUBLE) / CAST(nb AS DOUBLE) / 1e6
                          < {NGRAM_LM_TAU}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       floor(CAST(sum(tot_u) AS DOUBLE) / CAST(sum(nb) AS DOUBLE)
             / 1e6 * 1e4 + 0.5) / 1e4 AS xent_bits,
       floor(min(CAST(tot_u AS DOUBLE) / CAST(nb AS DOUBLE) / 1e6)
             * 1e4 + 0.5) / 1e4 AS min_doc_bits,
       floor(max(CAST(tot_u AS DOUBLE) / CAST(nb AS DOUBLE) / 1e6)
             * 1e4 + 0.5) / 1e4 AS max_doc_bits
FROM per_doc GROUP BY source ORDER BY source
"""


# Truncated-vocabulary size for the OOV-coverage analysis.
VOCAB_K = 16


def q_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary COVERAGE under truncation — the analysis run before
    fixing any tokenizer vocab size: freeze the top-K corpus tokens
    (count desc, token asc tie-break — fully deterministic) and measure
    each source's out-of-vocabulary rate and distinct OOV types. A
    source with a high OOV rate under the corpus vocab is the one whose
    text the tokenizer will shred into bytes/unknowns.

    Shape: token counts (partial/final agg) → top-K via
    TakeOrdered (K rows to the driver-side plan, never a global sort)
    → broadcast left join tags each token occurrence → one per-source
    rollup. The only data-scale shuffles are the two aggregates."""
    toks = (t_wide(spark, sf_dir, "documents")
            .select("doc_id", "source",
                    F.explode(F.split("text", " ")).alias("tok")))
    vocab = (toks.groupBy("tok").agg(F.count(F.lit(1)).alias("_c"))
             .orderBy(F.col("_c").desc(), "tok").limit(VOCAB_K)
             .select("tok", F.lit(1).alias("_in")))
    tagged = toks.join(F.broadcast(vocab), "tok", "left")
    return (tagged.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0))
                 .cast("long").alias("n_oov"),
                 F.count_distinct(
                     F.when(F.col("_in").isNull(), F.col("tok")))
                 .alias("oov_types"))
            .withColumn("oov_rate",
                        duck_round(F.col("n_oov").cast("double")
                                   / F.col("n_tokens").cast("double"), 4))
            .orderBy("source"))


ORACLE_VOCAB_OOV = f"""
WITH toks AS (
  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
  FROM documents
), vocab AS (
  SELECT tok FROM toks GROUP BY tok
  ORDER BY count(*) DESC, tok LIMIT {VOCAB_K}
), tagged AS (
  SELECT t.source, t.tok, v.tok IS NOT NULL AS in_vocab
  FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
)
SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN in_vocab THEN 0 ELSE 1 END) AS BIGINT)
         AS n_oov,
       CAST(count(DISTINCT CASE WHEN NOT in_vocab THEN tok END)
            AS BIGINT) AS oov_types,
       floor(CAST(sum(CASE WHEN in_vocab THEN 0 ELSE 1 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS oov_rate
FROM tagged GROUP BY source ORDER BY source
"""


# Winnowing parameters: k-gram width and window size. Expected selected
# density is 2/(WINNOW_W + 1) = 0.4 (Schleimer et al., SIGMOD'03).
WINNOW_K = 4
WINNOW_W = 4


def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINNOWING fingerprint selection (Schleimer et al., SIGMOD'03 —
    the MOSS algorithm): hash every positional k-gram, slide a w-wide
    window over the hash sequence, keep each window's minimum position
    (argmin; leftmost on hash ties via a fixed-width (h, pos) string
    key, so the tie-break is engine-deterministic by construction). The
    guarantee: any shared substring of length ≥ w+k−1 yields at least
    one shared fingerprint, at ~2/(w+1) the storage of full shingling —
    the principled sparsification q_text_fingerprint's whole-doc hashes
    and q_dedup_ngram's full inverted index sit on either side of.

    Per source: docs/k-grams/selected counts, distinct fingerprints,
    selected density (≈0.4 at w=4), and how many fingerprints are
    SHARED with at least one other document corpus-wide — the
    candidate-generation payload a fingerprint index serves.

    Shape: row-local k-gram fan-out (codegen transform + posexplode) on
    engine-portable md5-prefix hashes, ONE doc-bounded sliding-min
    window, then partial/final aggs; the corpus-shared probe is an
    equi-join on the 8-byte hash of the already-distinct per-doc
    fingerprint table (rows ≈ 0.4·k-grams, pre-shrunk before the only
    corpus-wide shuffle)."""
    d = (t_wide(spark, sf_dir, "documents")
         .select("doc_id", "source", F.split("text", " ").alias("tk"))
         .withColumn("n_tok", F.size("tk")))
    kg = materialize(
        d.where(F.col("n_tok") >= WINNOW_K)
        .select("doc_id", "source",
                F.posexplode(F.expr(
                    f"transform(sequence(1, n_tok - {WINNOW_K} + 1), "
                    f"i -> array_join(slice(tk, i, {WINNOW_K}), ' '))"))
                .alias("pos0", "kgram"))
        .select("doc_id", "source", (F.col("pos0") + 1).alias("pos"),
                md5_long("kgram").alias("h")),
        "kgram_hashes")
    # Canonical winnowing selects each window's ARGMIN position
    # (leftmost on hash ties). Encoding (h, pos) as one fixed-width
    # zero-padded string makes "min of the struct" a plain window MIN
    # whose tie-break is identical in both engines; the window ends at
    # every position >= w, so each full window contributes its argmin
    # and DISTINCT keys are the selected positions.
    key = F.concat(F.lpad(F.col("h").cast("string"), 19, "0"),
                   F.lpad(F.col("pos").cast("string"), 7, "0"))
    win = (Window.partitionBy("doc_id").orderBy("pos")
           .rowsBetween(-(WINNOW_W - 1), 0))
    sel = materialize(kg.withColumn("_k", key)
                      .withColumn("_mk", F.min("_k").over(win))
                      .where(F.col("pos") >= WINNOW_W)
                      .select("doc_id", "source", "_mk").distinct()
                      .withColumn("h", F.substring("_mk", 1, 19).cast("long")),
                      "winnow_selected")
    fp = sel.select("doc_id", "source", "h").distinct()
    shared = (fp.groupBy("h").agg(F.count(F.lit(1)).alias("_nd"))
              .where(F.col("_nd") >= 2).select("h"))
    base = (kg.groupBy("source")
            .agg(F.count_distinct("doc_id").alias("n_docs"),
                 F.count(F.lit(1)).alias("n_kgrams")))
    n_sel = sel.groupBy("source").agg(F.count(F.lit(1)).alias("n_selected"))
    n_fp = fp.groupBy("source").agg(F.count(F.lit(1)).alias("n_fp"))
    n_sh = (fp.join(shared, "h").groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_shared_fp")))
    dens = duck_round(F.col("n_selected").cast("double")
                      / F.col("n_kgrams").cast("double"), 4)
    return (base.join(n_sel, "source").join(n_fp, "source")
            .join(n_sh, "source", "left")
            .withColumn("n_shared_fp",
                        F.coalesce("n_shared_fp", F.lit(0)).cast("long"))
            .select("source", "n_docs", "n_kgrams", "n_selected", "n_fp",
                    dens.alias("density"), "n_shared_fp")
            .orderBy("source"))


ORACLE_WINNOW = f"""
WITH d AS (
  SELECT doc_id, source, string_split(text, ' ') AS tk,
         len(string_split(text, ' ')) AS n_tok
  FROM documents
), kg0 AS (
  SELECT doc_id, source,
         unnest(list_transform(range(1, n_tok - {WINNOW_K} + 2),
                i -> struct_pack(pos := i,
                     kg := array_to_string(tk[i:i+{WINNOW_K}-1], ' '))))
           AS u
  FROM d WHERE n_tok >= {WINNOW_K}
), kg AS (
  SELECT doc_id, source, u.pos AS pos,
         {sql_md5_long("u.kg")} AS h
  FROM kg0
), sel AS (
  SELECT DISTINCT doc_id, source, mk,
         CAST(substr(mk, 1, 19) AS BIGINT) AS h
  FROM (SELECT doc_id, source, pos,
               min(lpad(CAST(h AS VARCHAR), 19, '0') ||
                   lpad(CAST(pos AS VARCHAR), 7, '0'))
                 OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN {WINNOW_W - 1} PRECEDING
                       AND CURRENT ROW) AS mk
        FROM kg)
  WHERE pos >= {WINNOW_W}
), fp AS (
  SELECT DISTINCT doc_id, source, h FROM sel
), shared AS (
  SELECT h FROM fp GROUP BY h HAVING count(*) >= 2
), base AS (
  SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_kgrams
  FROM kg GROUP BY source
), nsel AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_selected
  FROM sel GROUP BY source
), nfp AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_fp FROM fp GROUP BY source
), nsh AS (
  SELECT f.source, CAST(count(*) AS BIGINT) AS n_shared_fp
  FROM fp f JOIN shared s ON f.h = s.h GROUP BY f.source
)
SELECT b.source, b.n_docs, b.n_kgrams, ns.n_selected, nf.n_fp,
       floor(CAST(ns.n_selected AS DOUBLE) / CAST(b.n_kgrams AS DOUBLE)
             * 1e4 + 0.5) / 1e4 AS density,
       COALESCE(nh.n_shared_fp, 0) AS n_shared_fp
FROM base b
JOIN nsel ns ON ns.source = b.source
JOIN nfp nf ON nf.source = b.source
LEFT JOIN nsh nh ON nh.source = b.source
ORDER BY b.source
"""


CURRICULUM_PHASES = 4


def q_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CURRICULUM BINNING — the training-data ordering face: the corpus
    is split into CURRICULUM_PHASES equal-count phases by quality score
    (phase 1 = lowest quality, phase 4 = highest — the schedule then
    feeds phases in whatever order the training recipe wants), with
    per-phase document counts, token budgets, and the quality range
    each phase spans. Composes q_text_quality's scoring with the
    distributed_ntile operator.

    100 TB shape: ntile over the whole corpus is a GLOBAL ordering —
    the naive window plans a single-partition sort of every row;
    distributed_ntile (operators/ranking.py) range-shuffles on the
    order key, ranks per partition, and lifts to global ranks via the
    broadcast prefix-offset table, so no stage ever sees more than a
    partition. Exactness: ranking is on the ROUNDED 4dp score with
    doc_id tiebreak (bit-identical both engines), the per-phase mean
    rides a BIGINT sum of 1e4-scaled scores, token totals are exact
    BIGINTs."""
    from hippo_claim_crossover_spark.operators.ranking import (
        distributed_ntile,
    )

    d = ops_text.quality_metrics(
        t(spark, sf_dir, "documents"), stopwords=_STOPWORDS,
        target_tokens=80,
    ).select("doc_id", "n_tokens",
             "quality_score",
             F.floor(F.col("quality_score") * 1e4 + 0.5).cast("long")
             .alias("q4"))
    binned = distributed_ntile(d, CURRICULUM_PHASES,
                               ["quality_score", "doc_id"],
                               out_col="phase")
    return (binned.groupBy("phase")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.col("n_tokens").cast("long")).alias("n_tokens"),
                 F.min("quality_score").alias("q_min"),
                 F.max("quality_score").alias("q_max"),
                 duck_round(F.sum("q4").cast("double") / F.lit(1e4)
                            / F.count(F.lit(1)), 4).alias("q_mean"))
            .select(F.col("phase").cast("long").alias("phase"),
                    "n_docs", "n_tokens", "q_min", "q_max", "q_mean")
            .orderBy("phase"))


ORACLE_CURRICULUM = f"""
WITH q AS (
  SELECT doc_id,
         CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens,
         round(least(1.0, CAST(len({_SQL_TOKS}) AS DOUBLE) / 80.0)
               * (1 - CAST({_SQL_NSTOP} AS DOUBLE) / len({_SQL_TOKS})), 4)
           AS quality_score
  FROM documents
), b AS (
  SELECT *, ntile({CURRICULUM_PHASES})
              OVER (ORDER BY quality_score, doc_id) AS phase,
         CAST(floor(quality_score * 1e4 + 0.5) AS BIGINT) AS q4
  FROM q
)
SELECT CAST(phase AS BIGINT) AS phase,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       min(quality_score) AS q_min, max(quality_score) AS q_max,
       floor(CAST(sum(q4) AS DOUBLE) / 1e4 / count(*) * 1e4 + 0.5) / 1e4
         AS q_mean
FROM b GROUP BY phase ORDER BY phase
"""


# --- q_dsir: importance resampling (Xie et al. 2023, public recipe) ---
DSIR_BUCKETS = 512       # hashed-feature dimensionality
DSIR_K = 100             # resample budget (selected-set size)
DSIR_TARGET_LANG = "en"  # target distribution = English documents


def q_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.
    2023): score every raw document by the log-likelihood ratio of a
    hashed bag-of-unigrams naive-Bayes model of the TARGET distribution
    (here: ``lang = 'en'`` docs) against the RAW corpus distribution,
    then keep the top-K — the data-selection step LLM pipelines run to
    upsample target-domain-like text from a web crawl.

    Exactness: per-bucket log weight ``λ(b)`` is an integer micro-bit
    BIGINT (the q_ngram_lm idiom) — ``⌊log2(c_t+1)·1e6⌉ −
    ⌊log2(n_t+B)·1e6⌉ − ⌊log2(c_r+1)·1e6⌉ + ⌊log2(n_r+B)·1e6⌉`` with
    add-one smoothing over B = 512 hashed buckets (md5-mod, the
    q_feature_hash trick) — so per-doc weights are BIGINT sums
    (order-insensitive) and selection (top-K by weight desc, doc_id
    asc) is engine-exact; the output carries a selected-doc_id checksum
    per source as the membership proof.

    Scale shape: one token fan-out (codegen split+explode, map-only);
    c_r and c_t from the SAME single partial/final count pass
    (conditional agg — never a second corpus scan); the model is ≤B
    rows → totals derive from it and the λ table BROADCASTS to the
    token stream; per-doc weights are one partial/final agg keyed on
    doc_id; global top-K compiles to TakeOrderedAndProject (per-
    partition heap, driver merges K·P candidates — no full sort, no
    full shuffle); the K-row selected set broadcasts back for the
    membership tag. Per-doc state everywhere is two longs; nothing
    driver-side scales with the corpus."""
    docs = t_wide(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "text")
    toks = (docs
            .select("doc_id", "source", "lang",
                    F.explode(F.split("text", " ")).alias("tok"))
            .select("doc_id", "source",
                    (md5_long("tok") % DSIR_BUCKETS).alias("b"),
                    (F.col("lang") == DSIR_TARGET_LANG).alias("is_t")))
    counts = (toks.groupBy("b")
              .agg(F.count(F.lit(1)).alias("c_r"),
                   F.sum(F.when(F.col("is_t"), 1).otherwise(0))
                   .cast("long").alias("c_t")))
    tot = counts.agg(F.sum("c_r").alias("n_r"), F.sum("c_t").alias("n_t"))

    lam = (counts.crossJoin(F.broadcast(tot))
           .select("b",
                   (_log_u(F.col("c_t") + 1)
                    - _log_u(F.col("n_t") + DSIR_BUCKETS)
                    - _log_u(F.col("c_r") + 1)
                    + _log_u(F.col("n_r") + DSIR_BUCKETS)).alias("lam_u")))
    per_doc = materialize(toks.join(F.broadcast(lam), "b")  # 2 consumers
                          .groupBy("doc_id", "source")
                          .agg(F.sum("lam_u").alias("w_u")),
                          "dsir_weights")
    sel = (per_doc.orderBy(F.col("w_u").desc(), "doc_id")
           .limit(DSIR_K).select("doc_id", F.lit(1).alias("_sel")))
    return (per_doc.join(F.broadcast(sel), "doc_id", "left")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.coalesce(F.col("_sel"), F.lit(0)))
                 .cast("long").alias("n_selected"),
                 F.sum(F.when(F.col("_sel").isNotNull(), F.col("doc_id"))
                       .otherwise(0)).cast("long").alias("sel_checksum"),
                 F.sum("w_u").alias("sum_w_ubits"),
                 F.max("w_u").alias("max_w_ubits"),
                 F.min("w_u").alias("min_w_ubits"))
            .orderBy("source"))


ORACLE_DSIR = f"""
WITH toks AS (
  SELECT doc_id, source,
         {sql_md5_long("tok")} % {DSIR_BUCKETS} AS b,
         (lang = '{DSIR_TARGET_LANG}') AS is_t
  FROM (SELECT doc_id, source, lang,
               unnest(string_split(text, ' ')) AS tok FROM documents)
), counts AS (
  SELECT b, CAST(count(*) AS BIGINT) AS c_r,
         CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS c_t
  FROM toks GROUP BY b
), tot AS (
  SELECT CAST(sum(c_r) AS BIGINT) AS n_r, CAST(sum(c_t) AS BIGINT) AS n_t
  FROM counts
), lam AS (
  SELECT b,
         CAST(floor(log2(CAST(c_t + 1 AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
       - CAST(floor(log2(CAST(n_t + {DSIR_BUCKETS} AS DOUBLE)) * 1e6 + 0.5)
              AS BIGINT)
       - CAST(floor(log2(CAST(c_r + 1 AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
       + CAST(floor(log2(CAST(n_r + {DSIR_BUCKETS} AS DOUBLE)) * 1e6 + 0.5)
              AS BIGINT) AS lam_u
  FROM counts CROSS JOIN tot
), per_doc AS (
  SELECT t.doc_id, t.source, CAST(sum(l.lam_u) AS BIGINT) AS w_u
  FROM toks t JOIN lam l USING (b) GROUP BY 1, 2
), sel AS (
  SELECT doc_id FROM per_doc ORDER BY w_u DESC, doc_id LIMIT {DSIR_K}
)
SELECT p.source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_selected,
       CAST(sum(CASE WHEN s.doc_id IS NOT NULL THEN p.doc_id ELSE 0 END)
            AS BIGINT) AS sel_checksum,
       CAST(sum(p.w_u) AS BIGINT) AS sum_w_ubits,
       max(p.w_u) AS max_w_ubits,
       min(p.w_u) AS min_w_ubits
FROM per_doc p LEFT JOIN sel s ON p.doc_id = s.doc_id
GROUP BY p.source ORDER BY p.source
"""


# --- q_span_corrupt: T5-style span-corruption mask plan (public) ---
SPAN_MIN_TOKENS = 20  # shorter docs skip corruption (reported skipped)
SPAN_NOISE_PCT = 15   # T5 noise_density 0.15 as an integer percent
SPAN_MEAN_LEN = 3     # T5 mean_noise_span_length


def q_span_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption planning (Raffel et al. 2020): decide,
    per document, which token spans a denoising objective would mask —
    noise density 15%, mean span length 3 — and report per-source mask
    statistics plus a masked-position checksum. The deterministic
    variant: the doc is cut into ``n_spans`` equal segments and span i
    starts at ``i·seg + md5(doc_id#i) % (seg − len_i + 1)`` — spans are
    confined to disjoint segments, so they can NEVER overlap, and
    placement depends only on (doc_id, i), never on partitioning, run,
    or engine. Span lengths split ``n_mask`` evenly with the remainder
    spread over the first ``n_mask % n_spans`` spans. Derivation bound
    (why ``seg − len_i + 1 > 0`` always): ``n_spans ≤ n_mask/3 ≤
    n·0.05`` so ``seg = n div n_spans ≥ 20``, while ``len_i ≤ 6``.

    Exactness: everything is BIGINT arithmetic — even the per-span
    masked-position checksum folds the arithmetic series
    ``Σ positions = len·start + len(len−1)/2`` instead of exploding
    positions, so the whole query is two codegen map stages plus two
    partial/final aggs, zero doubles.

    Scale shape: map-only until the per-source rollup — the span
    fan-out is ``sequence(0, n_spans−1)`` per doc (~n/20 elements, far
    smaller than the token stream), there is no join at all except the
    final broadcast-sized per-source census merge, and no per-doc state
    beyond three longs."""
    docs = t_wide(spark, sf_dir, "documents").select(
        "doc_id", "source", "text")
    base = (docs.withColumn("n", F.size(F.split("text", " ")).cast("long"))
            .withColumn("eligible", F.col("n") >= SPAN_MIN_TOKENS)
            .drop("text"))
    el = (base.where("eligible")
          .withColumn("n_mask", F.expr(f"n * {SPAN_NOISE_PCT} div 100"))
          .withColumn("n_spans",
                      F.greatest(F.lit(1).cast("long"),
                                 F.expr(f"n_mask div {SPAN_MEAN_LEN}")))
          .withColumn("seg", F.expr("n div n_spans")))
    spans = (el.select("doc_id", "source", "n_mask", "n_spans", "seg",
                       F.explode(F.expr("sequence(0L, n_spans - 1)"))
                       .alias("i"))
             .withColumn("len_i",
                         F.expr("n_mask div n_spans"
                                " + if(i < n_mask % n_spans, 1L, 0L)"))
             .withColumn("start",
                         F.col("i") * F.col("seg")
                         + md5_long(F.concat_ws("#", "doc_id", "i"))
                         % (F.col("seg") - F.col("len_i") + 1))
             .withColumn("pos_sum",
                         F.expr("len_i * start"
                                " + len_i * (len_i - 1) div 2")))
    agg_el = (spans.groupBy("source")
              .agg(F.sum("len_i").alias("masked_total"),
                   F.count(F.lit(1)).alias("spans_total"),
                   F.sum("pos_sum").alias("mask_checksum")))
    census = (base.groupBy("source")
              .agg(F.count(F.lit(1)).alias("n_docs"),
                   F.sum(F.when(F.col("eligible"), 1).otherwise(0))
                   .cast("long").alias("n_eligible"),
                   F.sum(F.when(F.col("eligible"), F.col("n"))
                         .otherwise(0)).cast("long")
                   .alias("tokens_eligible")))
    return (census.join(agg_el, "source", "left")
            .select("source", "n_docs", "n_eligible", "tokens_eligible",
                    F.coalesce("masked_total", F.lit(0))
                    .cast("long").alias("masked_total"),
                    F.coalesce("spans_total", F.lit(0))
                    .cast("long").alias("spans_total"),
                    F.coalesce("mask_checksum", F.lit(0))
                    .cast("long").alias("mask_checksum"))
            .orderBy("source"))


ORACLE_SPAN_CORRUPT = f"""
WITH base AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
  FROM documents
), el AS (
  SELECT doc_id, source, n,
         n * {SPAN_NOISE_PCT} // 100 AS n_mask,
         greatest(1, (n * {SPAN_NOISE_PCT} // 100) // {SPAN_MEAN_LEN})
           AS n_spans
  FROM base WHERE n >= {SPAN_MIN_TOKENS}
), spans AS (
  SELECT doc_id, source, n_mask, n_spans, n // n_spans AS seg,
         unnest(range(n_spans)) AS i
  FROM el
), placed AS (
  SELECT doc_id, source,
         n_mask // n_spans
           + CASE WHEN i < n_mask % n_spans THEN 1 ELSE 0 END AS len_i,
         i * seg
           + {sql_md5_long(
               "CAST(doc_id AS VARCHAR) || '#' || CAST(i AS VARCHAR)")}
             % (seg
                - (n_mask // n_spans
                   + CASE WHEN i < n_mask % n_spans THEN 1 ELSE 0 END)
                + 1) AS start
  FROM spans
), agg_el AS (
  SELECT source,
         CAST(sum(len_i) AS BIGINT) AS masked_total,
         CAST(count(*) AS BIGINT) AS spans_total,
         CAST(sum(len_i * start + len_i * (len_i - 1) // 2) AS BIGINT)
           AS mask_checksum
  FROM placed GROUP BY source
), census AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN n >= {SPAN_MIN_TOKENS} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_eligible,
         CAST(sum(CASE WHEN n >= {SPAN_MIN_TOKENS} THEN n ELSE 0 END)
              AS BIGINT) AS tokens_eligible
  FROM base GROUP BY source
)
SELECT c.source, c.n_docs, c.n_eligible, c.tokens_eligible,
       CAST(coalesce(a.masked_total, 0) AS BIGINT) AS masked_total,
       CAST(coalesce(a.spans_total, 0) AS BIGINT) AS spans_total,
       CAST(coalesce(a.mask_checksum, 0) AS BIGINT) AS mask_checksum
FROM census c LEFT JOIN agg_el a USING (source)
ORDER BY c.source
"""


SPECS: dict[str, QuerySpec] = {
    "q_export_pipeline": QuerySpec(
        q_export_pipeline, ORACLE_EXPORT_PIPELINE,
        "composite export pipeline: quality filter -> PII scrub -> "
        "balanced sample -> packing report"),
    "q_feature_hash": QuerySpec(
        q_feature_hash, ORACLE_FEATURE_HASH,
        "hashing-trick featurizer profile (md5 mod D, no vocabulary "
        "build)"),
    "q_pii_redact": QuerySpec(
        q_pii_redact, ORACLE_PII_REDACT,
        "PII detect + redact (regex scrub, row-local map pass)"),
    "q_repetition": QuerySpec(
        q_repetition, ORACLE_REPETITION,
        "duplicate-bigram repetition signal (Gopher-style)"),
    "q_text_strip_html": QuerySpec(
        q_text_strip_html, ORACLE_TEXT_STRIP_HTML,
        "HTML/boilerplate strip stage-0 (tag/entity strip + "
        "nav/footer drop, round-trip verdict, map-only)"),
    "q_langid_eval": QuerySpec(q_langid_eval, ORACLE_LANGID_EVAL,
                               "classifier-eval confusion matrix for the "
                               "langid heuristic"),
    "q_matmul": QuerySpec(q_matmul, ORACLE_MATMUL,
                          "sparse-by-dense matrix multiply "
                          "(join-aggregate SpMM, broadcast dense factor)"),
    "q_postings": QuerySpec(q_postings, ORACLE_POSTINGS,
                            "inverted-index build (capped posting heads)"),
    "q_shuffle_shards": QuerySpec(q_shuffle_shards, ORACLE_SHUFFLE_SHARDS,
                                  "deterministic corpus shuffle + shard "
                                  "layout"),
    "q_text_tokens": QuerySpec(q_text_tokens, ORACLE_TEXT_TOKENS,
                               "token frequencies"),
    "q_rag_pipeline": QuerySpec(
        q_rag_pipeline, ORACLE_RAG_PIPELINE,
        "composite RAG-prep: chunk -> digest dedup -> per-source report"),
    "q_chunk": QuerySpec(
        q_chunk, ORACLE_CHUNK,
        "sliding-window RAG chunking (codegen array exprs, map-only)"),
    "q_heavy_hitters": QuerySpec(
        q_heavy_hitters, ORACLE_HEAVY_HITTERS,
        "exact corpus heavy hitters (support threshold; freqItems "
        "sketch sibling unit-tested)"),
    "q_diversity": QuerySpec(
        q_diversity, ORACLE_DIVERSITY,
        "per-source lexical diversity (TTR + Simpson, exact-integer "
        "sufficient statistics)"),
    "q_collocations": QuerySpec(
        q_collocations, ORACLE_COLLOCATIONS,
        "collocation mining by lift (exp-PMI, exact-integer core)"),
    "q_bm25": QuerySpec(
        q_bm25, ORACLE_BM25,
        "Okapi BM25 retrieval (rational-odds IDF, posting-only scoring)"),
    "q_text_tfidf": QuerySpec(q_text_tfidf, ORACLE_TEXT_TFIDF,
                              "per-(doc,token) TF-IDF"),
    "q_text_lang": QuerySpec(q_text_lang, ORACLE_TEXT_LANG, "per-lang stats"),
    "q_text_tokcount": QuerySpec(q_text_tokcount, ORACLE_TEXT_TOKCOUNT,
                                 "ws + BPE-ish token counts"),
    "q_curriculum": QuerySpec(
        q_curriculum, ORACLE_CURRICULUM,
        "curriculum phase binning: distributed ntile over quality "
        "score, per-phase doc/token budgets + quality range"),
    "q_text_quality": QuerySpec(q_text_quality, ORACLE_TEXT_QUALITY,
                                "quality scoring"),
    "q_text_langid": QuerySpec(q_text_langid, ORACLE_TEXT_LANGID,
                               "char-n-gram language ID"),
    "q_text_fingerprint": QuerySpec(q_text_fingerprint,
                                    ORACLE_TEXT_FINGERPRINT,
                                    "md5 content/bag fingerprints"),
    "q_text_vocab": QuerySpec(q_text_vocab, ORACLE_TEXT_VOCAB,
                              "bigram vocab by document frequency"),
    "q_pack_sequences": QuerySpec(q_pack_sequences, ORACLE_PACK_SEQUENCES,
                                  "concat-and-chunk sequence packing"),
    "q_text_gopher": QuerySpec(q_text_gopher, ORACLE_TEXT_GOPHER,
                               "Gopher-style quality-rule filter"),
    "q_text_typicality": QuerySpec(q_text_typicality, ORACLE_TEXT_TYPICALITY,
                                   "corpus-LM typicality (perplexity proxy)"),
    "q_text_entropy": QuerySpec(
        q_text_entropy, ORACLE_TEXT_ENTROPY,
        "token-entropy quality signal, integer micro-bit accumulation"),
    "q_vocab_oov": QuerySpec(
        q_vocab_oov, ORACLE_VOCAB_OOV,
        "OOV rate under a truncated top-K vocabulary, per source"),
    "q_winnow": QuerySpec(
        q_winnow, ORACLE_WINNOW,
        "winnowing fingerprint selection (MOSS): window-min k-gram "
        "hashes, ~2/(w+1) density, corpus-shared fingerprint probe"),
    "q_ngram_lm": QuerySpec(
        q_ngram_lm, ORACLE_NGRAM_LM,
        "bigram-LM perplexity filter: train counts + add-one smoothing "
        "+ per-doc cross-entropy keep verdicts, integer micro-bit "
        "accumulation"),
    "q_dsir": QuerySpec(
        q_dsir, ORACLE_DSIR,
        "DSIR importance resampling: hashed-unigram NB log-ratio vs "
        "target distribution, global top-K resample, integer micro-bit "
        "weights + membership checksum"),
    "q_span_corrupt": QuerySpec(
        q_span_corrupt, ORACLE_SPAN_CORRUPT,
        "T5 span-corruption mask plan: md5-placed disjoint-segment "
        "spans, all-BIGINT stats + masked-position checksum, map-only"),
}
