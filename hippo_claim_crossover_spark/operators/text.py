"""Text-analysis operators over any DataFrame with a text column.

All pure built-in Column expressions (split / higher-order functions /
regexp / md5) — no Python in the hot path, so every operator stays inside
whole-stage codegen and scales linearly. ``plans/text.py`` applies these to
the fixture ``documents`` table for the oracle gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hippo_claim_crossover_spark.functions.scalar import duck_round

DEFAULT_STOPWORDS = ("the", "a", "and", "of")

# BPE-ish pre-tokenizer: letter runs / digit runs / single punctuation.
BPE_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def tokenize(text: Column) -> Column:
    """Whitespace tokenization (array column)."""
    return F.split(text, " ")


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append ws_tokens / bpe_tokens / len_chars per row."""
    text = F.col(text_col)
    return df.withColumns({
        "ws_tokens": F.size(tokenize(text)),
        "bpe_tokens": F.size(F.regexp_extract_all(
            text, F.lit(BPE_PATTERN), F.lit(0))),
        "len_chars": F.length(text),
    })


def quality_metrics(df: DataFrame, text_col: str = "text",
                    stopwords: tuple[str, ...] = DEFAULT_STOPWORDS,
                    target_tokens: int = 80) -> DataFrame:
    """Append pretraining-data quality heuristics: token/stopword counts,
    stopword ratio, and a [0,1] score favoring ``target_tokens``-long,
    low-stopword documents. Higher-order ``filter`` counts stopwords
    without leaving the JVM."""
    toks = tokenize(F.col(text_col))
    n_toks = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in stopwords])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x)))
    return df.withColumns({
        "n_tokens": n_toks,
        "n_stopwords": n_stop,
        # floor-formula rounding (≡ DuckDB round on these non-negative
        # ratios): count quotients are the class of double whose shortest
        # decimal repr can print as .xxx5 while the raw double sits just
        # below it — Spark round()'s HALF_UP on the repr would then round
        # up where every scaled-double engine rounds down.
        "stopword_ratio": duck_round(n_stop.cast("double") / n_toks, 4),
        "quality_score": duck_round(
            F.least(F.lit(1.0), n_toks.cast("double") / float(target_tokens))
            * (1 - n_stop.cast("double") / n_toks), 4),
    })


def _count_substring(text: Column, sub: str) -> Column:
    """Occurrences of ``sub`` counted portably via length delta — stays a
    scalar expression (no regex engine, no UDF)."""
    return ((F.length(text) - F.length(F.replace(text, F.lit(sub), F.lit(""))))
            / len(sub)).cast("long")


def langid_scores(df: DataFrame, text_col: str = "text",
                  profiles: dict[str, tuple[str, ...]] | None = None
                  ) -> DataFrame:
    """Character-n-gram language ID: score each language by its distinctive
    bigram counts, argmax → ``predicted_lang``. ``profiles`` maps language
    code → distinguishing substrings; the default mirrors the declared
    query. Pure per-row expressions — no shuffle."""
    from functools import reduce
    from operator import and_

    profiles = profiles or {"en": ("th", "er"), "es": ("rt", "ta"),
                            "de": ("sc", "ue")}
    text = F.col(text_col)
    scores = {lang: reduce(Column.__add__,
                           [_count_substring(text, s) for s in subs])
              for lang, subs in profiles.items()}
    langs = list(profiles)
    # lang_i wins when its score >= every later language's (ties break
    # toward the earlier profile, matching the declared query's CASE chain).
    pred = None
    for i, lang in enumerate(langs[:-1]):
        cond = reduce(and_, [scores[lang] >= scores[o] for o in langs[i + 1:]])
        pred = F.when(cond, lang) if pred is None else pred.when(cond, lang)
    pred = pred.otherwise(langs[-1]) if pred is not None else F.lit(langs[0])
    out = df.withColumns({f"score_{lang}": scores[lang] for lang in langs})
    return out.withColumn("predicted_lang", pred)


def fingerprints(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append content_hash (raw md5) and bag_hash (order-insensitive
    sorted-token md5) — the join keys for exact and shuffled-content
    dedup."""
    text = F.col(text_col)
    return df.withColumns({
        "content_hash": F.md5(text),
        "bag_hash": F.md5(F.concat_ws(" ", F.array_sort(tokenize(text)))),
    })
