"""Dedup-family scale stress: measure exact/ngram/MinHash-LSH/SimHash on a
10×-larger documents table than the sf0.1 fixture provides.

Counterpart of tools/stress_sim.py for the text-dedup operators: the
inverted-index / banding designs claim cost follows posting-list and band
collision sizes, not n² — a 50,000-document table (fixture-like template
text with planted near-duplicates) should grow each operator roughly
linearly. Results are recorded in SCALE.md.

Usage: python tools/stress_dedup.py [n_small n_big]
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from hippo_claim_crossover_spark.operators import dedup as ops  # noqa: E402
from hippo_claim_crossover_spark.session import (  # noqa: E402
    _SCRATCH_ROOTS,
    get_spark,
)

SCRATCH = _SCRATCH_ROOTS[0]
VOCAB = ("key agg row scan slow fast table value part hash merge batch "
         "spark line sort window customer query big small the a data column "
         "join order group stream").split()


def make_table(path: str, n: int, seed: int = 7) -> None:
    """Fixture-like documents: 20-40 tokens drawn from a small vocab (the
    template-generated shape that makes LSH feature granularity matter),
    with every 50th doc a near-duplicate of its predecessor (one token
    substituted) so the near-dup operators have survivors at any scale."""
    rng = np.random.RandomState(seed)
    texts = []
    for i in range(n):
        if i % 50 == 0 or not texts:
            k = rng.randint(20, 41)
            toks = [VOCAB[j] for j in rng.randint(0, len(VOCAB), size=k)]
        else:
            prev = texts[-1].split()
            toks = list(prev)
            if i % 50 == 1:  # near-dup: one substitution
                toks[rng.randint(0, len(toks))] = VOCAB[rng.randint(
                    0, len(VOCAB))]
            else:  # fresh doc
                k = rng.randint(20, 41)
                toks = [VOCAB[j] for j in rng.randint(0, len(VOCAB), size=k)]
        texts.append(" ".join(toks))
    tbl = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(["en"] * n),
        "source": pa.array([f"src{i % 5}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts],
                                     dtype=np.int64)),
    })
    pq.write_table(tbl, path)


def timed(df, reps: int = 2) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.time() - t0)
    return best


def run_family(spark, path: str) -> dict[str, float]:
    d = (spark.read.parquet(path)
         .repartition(spark.sparkContext.defaultParallelism))
    out: dict[str, float] = {}
    out["exact"] = timed(ops.exact_dedup(d, ["text"], "doc_id"))
    out["ngram_jaccard"] = timed(ops.ngram_jaccard_pairs(d))
    sig = ops.minhash_signatures(d)
    out["minhash_lsh"] = timed(ops.lsh_band_pairs(sig))
    # fixed fixture width: re-quadratizes at 10x (the measured pathology)
    sh32 = ops.simhash(d, bits=32)
    out["simhash_32bit"] = timed(ops.simhash_hamming_pairs(sh32, bits=32))
    # adaptive width (simhash_bits_for): chunk entropy grows with N
    bits = ops.simhash_bits_for(d.count())
    sh = ops.simhash(d, bits=bits)
    out[f"simhash_adaptive"] = timed(
        ops.simhash_hamming_pairs(sh, bits=bits))
    out["bits"] = bits
    # near-dup clustering over the ngram pairs (large-star/small-star CC)
    from hippo_claim_crossover_spark.operators.graph import (
        connected_components,
    )
    edges = ops.ngram_jaccard_pairs(d).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    stats: dict = {}
    t0 = time.time()
    n_comp = (connected_components(edges, stats=stats)
              .select("comp").distinct().count())
    out["cc_cluster"] = time.time() - t0
    out["cc_rounds"] = stats.get("rounds")
    out["cc_n"] = n_comp
    return out


def run_setsim(spark, n: int) -> dict[str, float]:
    """Exact set-similarity (PPJoin) stress on its own corpus: the
    dedup table's deliberately tiny 28-word vocab is DEGENERATE for
    prefix filtering (every doc shares every token, candidates go
    quadratic by construction — the shape PPJoin exists to avoid), so
    this row uses fixture-like text over a realistic vocab where
    rare-first prefixes discriminate. Reports runtime plus the
    length/position filters' candidate reduction."""
    rng = np.random.RandomState(11)
    vocab = [f"w{i}" for i in range(4000)]
    # zipf-ish draw: frequent head + long tail, near-dups every 50th
    texts = []
    for i in range(n):
        if i % 50 == 1 and texts:
            toks = texts[-1].split()
            toks[rng.randint(0, len(toks))] = vocab[rng.randint(0, 4000)]
        else:
            k = rng.randint(20, 41)
            idx = np.minimum((rng.pareto(1.2, size=k) * 40).astype(int),
                             3999)
            toks = [vocab[j] for j in idx]
        texts.append(" ".join(toks))
    d = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    from hippo_claim_crossover_spark.plans.dedup import setsim_candidates
    sets = (d.select("doc_id",
                     F.array_distinct(F.split(F.col("text"), " "))
                     .alias("toks"))
            .repartition(spark.sparkContext.defaultParallelism)
            .localCheckpoint(eager=False))
    out: dict[str, float] = {}
    # one pass serves both the timing and the filtered count (single-run,
    # not best-of-2 — recomputing the most expensive stage just to
    # separate the two numbers doubled the stress runtime)
    t0 = time.time()
    out["setsim_cand_filt"] = setsim_candidates(
        sets, use_filters=True).count()
    out["setsim_ppjoin"] = time.time() - t0
    out["setsim_cand_base"] = setsim_candidates(
        sets, use_filters=False).count()
    return out


def main() -> None:
    n_small = int(sys.argv[1]) if len(sys.argv) > 1 else 5_000
    n_big = int(sys.argv[2]) if len(sys.argv) > 2 else 50_000
    spark = get_spark("stress_dedup")
    spark.range(0, 64, 1, 32).mapInArrow(
        lambda it: it, "id long").write.format("noop").mode("overwrite").save()

    results = {}
    for n in (n_small, n_big):
        path = f"{SCRATCH}/stress_documents_{n}.parquet"
        if not os.path.exists(path):
            make_table(path, n)
        results[n] = run_family(spark, path)
        results[n].update(run_setsim(spark, n))

    print(f"\n{'operator':<18} {'n=%d' % n_small:>10} {'n=%d' % n_big:>10} "
          f"{'ratio':>7}  (10x data)")
    for op in ["exact", "ngram_jaccard", "minhash_lsh",
               "simhash_32bit", "simhash_adaptive", "cc_cluster",
               "setsim_ppjoin"]:
        a, b = results[n_small][op], results[n_big][op]
        print(f"{op:<18} {a:>9.2f}s {b:>9.2f}s {b / a:>6.1f}x")
    for n in (n_small, n_big):
        base, filt = (results[n]["setsim_cand_base"],
                      results[n]["setsim_cand_filt"])
        print(f"setsim candidates n={n}: {base} -> {filt} "
              f"({1 - filt / base:.1%} pruned by length/position filters)")
    print(f"simhash_bits_for: {results[n_small]['bits']} -> "
          f"{results[n_big]['bits']}; cc rounds: "
          f"{results[n_small]['cc_rounds']} -> {results[n_big]['cc_rounds']}"
          f"; components: {results[n_small]['cc_n']} -> "
          f"{results[n_big]['cc_n']}")


if __name__ == "__main__":
    main()
