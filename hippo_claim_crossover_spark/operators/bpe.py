"""Distributed BPE merge-rule induction (tokenizer training).

Byte-pair encoding learns a tokenizer by repeatedly merging the most
frequent adjacent symbol pair in the corpus. The classic single-machine
trainer keeps the whole vocabulary in memory; the distributed shape here
is the standard large-corpus factoring:

1. **Compress the corpus to its word vocabulary first.** BPE statistics
   only depend on (word, frequency) — at 100 TB the distinct-word table
   is millions of rows while the corpus is trillions of tokens, so every
   round runs on the tiny side. The vocab build is one groupBy over the
   tokenized corpus (partial-aggregated, shuffle of words not documents).
2. **Symbol sequences as delimited strings.** Each word's working state
   is its symbol string joined on DOUBLE spaces with double-space ends
   (`"  h  e  l  l  o  "`). A merge of pair (l, r) is
   ``replace(seq, " l  r ", " lr ")`` — the single-space-padded pattern
   consumes only one of each boundary's two spaces, so consecutive
   occurrences ("a b a b") all merge in one pass while overlapping ones
   ("a a a") merge left-to-right non-overlapping — exactly BPE's merge
   order, identically in Spark and DuckDB. The whole round stays inside
   whole-stage codegen (no UDF, no per-row Python).
3. **Adjacent-pair counting** explodes each word's pair list weighted by
   word frequency and partial-aggregates — one shuffle of `(pair,
   count)` per round.
4. **Best-pair selection is a 1-row TakeOrdered broadcast**, tie-broken
   by the pair string (integer counts + binary string collation → the
   argmax is engine-deterministic). The merged vocab for the next round
   is a crossJoin with that broadcast row — no driver collect anywhere.

Each round's best-pair row is materialized: round k's vocab lineage
references rounds 1..k-1, and the final rule union reads every round
again — without the checkpoint the pair-count job for round 1 would
re-run O(rounds²) times (the q_dedup_ngram lesson applied to an
iterative op).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hippo_claim_crossover_spark.session import materialize

# Pairs ride as a single `l|r` string ('|' can never occur inside a
# symbol: symbols are built from [a-z] only), so the deterministic
# tie-break is one binary string comparison in both engines.
_PAIRS = """
CASE WHEN size(split(trim(seq), '  ')) >= 2 THEN
  transform(sequence(1, size(split(trim(seq), '  ')) - 1),
            i -> element_at(split(trim(seq), '  '), i) || '|' ||
                 element_at(split(trim(seq), '  '), i + 1))
ELSE array() END
"""


def word_vocab(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq, seq) vocabulary: lowercase [a-z]+ words with corpus
    frequencies and the initial one-symbol-per-character sequence."""
    return (
        docs.select(F.explode(
            F.split(F.lower(F.col(text_col)), "[^a-z]+")).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("seq", F.concat(
            F.lit("  "), F.regexp_replace(F.col("w"), "(.)", "$1  ")))
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    return (
        vocab.select(F.explode(F.expr(_PAIRS)).alias("pair"), "freq")
        .groupBy("pair")
        .agg(F.sum("freq").alias("pf"))
    )


def _best(pair_counts: DataFrame) -> DataFrame:
    return materialize(
        pair_counts.orderBy(F.col("pf").desc(), "pair").limit(1)
        .select(F.substring_index("pair", "|", 1).alias("l"),
                F.substring_index("pair", "|", -1).alias("r"),
                F.col("pf")),
        "bpe_best_pair")


def bpe_merge_rules(docs: DataFrame, n_rounds: int = 3,
                    text_col: str = "text") -> DataFrame:
    """Learn ``n_rounds`` BPE merge rules; returns one row per round:
    (round, left, right, merged, support)."""
    vocab = materialize(word_vocab(docs, text_col), "bpe_vocab")
    rules = []
    for rnd in range(1, n_rounds + 1):
        best = _best(_pair_counts(vocab))
        rules.append(best.select(
            F.lit(rnd).alias("round"),
            F.col("l").alias("left"), F.col("r").alias("right"),
            F.concat("l", "r").alias("merged"),
            F.col("pf").alias("support")))
        if rnd < n_rounds:
            vocab = vocab.crossJoin(F.broadcast(best)).select(
                "w", "freq",
                F.replace(
                    F.col("seq"),
                    F.concat(F.lit(" "), "l", F.lit("  "), "r", F.lit(" ")),
                    F.concat(F.lit(" "), "l", "r", F.lit(" "))).alias("seq"))
    out = rules[0]
    for r in rules[1:]:
        out = out.unionByName(r)
    return out


def bpe_encoded_vocab(docs: DataFrame, n_rounds: int = 3,
                      text_col: str = "text") -> DataFrame:
    """ENCODE side, vocabulary form: apply ``n_rounds`` learned merges
    and return (w, freq, seq) — each distinct word once with its merged
    double-space-delimited token sequence. The full corpus is never
    re-tokenized row by row; consumers weight per-word token counts by
    corpus (or per-group) word frequencies instead."""
    vocab = materialize(word_vocab(docs, text_col), "bpe_vocab")
    for _ in range(n_rounds):
        best = _best(_pair_counts(vocab))
        vocab = vocab.crossJoin(F.broadcast(best)).select(
            "w", "freq",
            F.replace(
                F.col("seq"),
                F.concat(F.lit(" "), "l", F.lit("  "), "r", F.lit(" ")),
                F.concat(F.lit(" "), "l", "r", F.lit(" "))).alias("seq"))
        vocab = materialize(vocab, "bpe_round")
    return vocab


def bpe_token_counts(docs: DataFrame, n_rounds: int = 3,
                     text_col: str = "text") -> DataFrame:
    """ENCODE side: apply ``n_rounds`` learned merges and return corpus
    token counts (token, n).

    Same distributed trick as training: the merges are applied to the
    word VOCABULARY (each distinct word once — :func:`bpe_encoded_vocab`),
    and corpus-level token counts fall out by weighting each word's
    tokens with its corpus frequency — the full corpus is never
    re-tokenized row by row. At 100 TB the encode of the raw corpus
    would join docs → (word, token array) on the merged vocab instead;
    the counts here are identical by construction."""
    vocab = bpe_encoded_vocab(docs, n_rounds, text_col)
    return (
        vocab.select(F.explode(
            F.split(F.trim(F.col("seq")), "  ")).alias("token"), "freq")
        .groupBy("token")
        .agg(F.sum("freq").alias("n"))
    )
