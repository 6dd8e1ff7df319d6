"""Record-linkage blocking: sorted-neighborhood candidate pairs.

Entity resolution / fuzzy dedup cannot compare all pairs (O(n²) string
distances at 100 TB is the same cliff the dedup family's LSH avoids).
The sorted-neighborhood method (Hernández & Stolfo) blocks candidates by
a sort key: order the table, compare each record only with its ``w-1``
successors — O(n·w) pairs, and near-duplicate strings sort adjacently so
recall stays high for prefix-preserving corruptions.

The classic formulation is a sliding window over a GLOBAL sort — which
in Spark means the single-partition Window cliff documented in
operators/ranking.py. Here the global rank comes from
:func:`~hippo_claim_crossover_spark.operators.ranking.global_rank`
(range shuffle + per-partition window + broadcast prefix offsets), and
the neighbor pairing is an EQUI-JOIN on ``rank + d`` (d ∈ 1..w-1, an
exploded offset column) — every stage distributed, no driver collect,
no single-partition sort anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hippo_claim_crossover_spark.session import materialize


def sorted_neighborhood_pairs(df: DataFrame, id_col: str,
                              key_cols: list[str],
                              window: int = 5) -> DataFrame:
    """Candidate pairs (a, b) where b follows a within ``window-1``
    positions of the global ``key_cols`` order (must be a unique key —
    include a tiebreaker id). Output carries every input column twice
    with ``_a``/``_b`` suffixes; downstream applies the match scorer
    (levenshtein, jaccard, a model) to the O(n·window) candidate stream.
    """
    from hippo_claim_crossover_spark.operators.ranking import global_rank

    assert window >= 2, window
    # One materialization for both join sides (the self-join reuse rule
    # in SCALE.md): global_rank is itself a shuffle + window + offsets
    # join, too expensive to re-derive per side.
    ranked = materialize(global_rank(df, key_cols, out_col="_rk"),
                         "neighborhood_rank")
    a = ranked.select(
        F.col("_rk"),
        F.explode(F.sequence(F.lit(1), F.lit(window - 1))).alias("_d"),
        *[F.col(c).alias(f"{c}_a") for c in df.columns])
    b = ranked.select(F.col("_rk").alias("_rk_b"),
                      *[F.col(c).alias(f"{c}_b") for c in df.columns])
    return (a.join(b, a["_rk"] + a["_d"] == b["_rk_b"])
            .drop("_rk", "_rk_b", "_d"))
