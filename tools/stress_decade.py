"""Decade stress for the >1s headline tier: the same declared queries at
1× and 10× the sf0.1 fixture volume, reporting per-query scaling
exponents (the r8 verdict's last open scale item: the 2×-of-baseline
bench gate is only ever measured at sf0.1; this measures one more decade
so SCALE.md can show the exponent, not extrapolate it).

Method: each fixture table a target query reads is materialized under
the session scratch root twice — once as a single key-shifted replica
(the 1× leg, so both legs share file layout and compression) and once as
the union of 10 key-shifted replicas (the sf1-like leg). Key columns shift by
``replica × 10_000_000`` per namespace so joins stay consistent inside a
replica and never match across replicas (baskets, orders and customers
grow 10× in COUNT, not 10× in size — the realistic growth direction).
``documents.text`` additionally gains 12 replica-tagged junk tokens per
doc: identical docs in different replicas would otherwise form
Jaccard-1.0 pairs and grow q_join_setsim's TRUE output quadratically
(45·|docs| extra pairs), measuring fixture artifacts instead of the
operator; with the salt, cross-replica Jaccard for a 31-token doc tops
out at 31/55 ≈ 0.56 — safely under the 0.8 join threshold — while
within-replica pairs keep their similarity (both members gain the SAME
replica token set, so J only nudges up).

Queries run exactly as bench.py runs them (full materialization through
the noop sink, best-of-2), straight from the declared registry.

Usage: python tools/stress_decade.py [query ...]   (default: the 7-query
>1s tier from the r8 verdict). Prints one JSON line per query with both
timings and the exponent log10(t_10x / t_1x); paste the table into
SCALE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from hippo_claim_crossover_spark.plans import ALL_SPECS  # noqa: E402
from hippo_claim_crossover_spark.session import (  # noqa: E402
    _SCRATCH_ROOTS,
    get_spark,
)

SCRATCH = os.path.join(_SCRATCH_ROOTS[0], "decade")
SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

DEFAULT_QUERIES = [
    "q_percentile", "q_percentile_approx", "q_winsorize", "q_outlier_mad",
    "q_join_setsim", "q_recommend", "q_negative_sample",
    "q_scd2_lookup",  # r9: the one new >1s-tier query
]

# Key namespaces: every *key* column shifts by replica × OFF so joins
# resolve within a replica and never across replicas.
OFF = 10_000_000
KEY_COLS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    # replicas duplicate the vectors under shifted ids — replica 0 keeps
    # the original ids, so QUERY_VEC_ID=0 still exists; the duplicated
    # geometry is exactly the near-dup-heavy corpus semdedup targets
    "embeddings": ["vec_id"],
}
# Tables each target query reads (keeps materialization minimal).
TABLES_FOR = {
    "q_percentile": ["lineitem"],
    "q_percentile_approx": ["lineitem"],
    "q_winsorize": ["lineitem"],
    "q_outlier_mad": ["events"],
    "q_join_setsim": ["documents"],
    "q_recommend": ["lineitem", "orders"],
    "q_negative_sample": ["part", "lineitem", "orders"],
    "q_scd2_lookup": ["events"],
    "q_corr_matrix": ["lineitem"],
    "q_percentile_highcard": ["lineitem"],
    # r10 >1s-tier additions
    "q_parse_tree": ["lineitem", "orders"],
    "q_graph_sage_agg": ["lineitem", "part"],
    "q_outlier_seasonal": ["events"],
    "q_ngram_lm": ["documents"],
    # r11 >1s-tier addition
    "q_quantile_sketch_merge": ["orders"],
    # r12: century points for the remaining r11 newcomers (VERDICT r11
    # item 7) + the r12 additions
    "q_curriculum": ["documents"],
    "q_retrieve_fuse": ["documents", "embeddings"],
    "q_retrieve_eval": ["documents", "embeddings"],
    "q_compact_files": ["lineitem"],
    "q_semdedup": ["embeddings"],
    "q_dsir": ["documents"],
    "q_span_corrupt": ["documents"],
    "q_tok_fertility": ["documents"],
    "q_mix_temperature": ["documents"],
    "q_observe": ["lineitem"],
    "q_stream_state": ["events"],
    "q_sink_pyds_stream": ["events"],
    "q_join_asof_near": ["events"],
    "q_twap": ["events"],
    "q_sql_script": ["lineitem"],
    "q_rolling_median": ["events"],
    # r13 newcomers
    "q_host_dedup": ["documents"],
    "q_stream_foreach": ["events"],
    "q_stream_rocksdb": ["events"],
    # r14 newcomer
    "q_fuse_ablation": ["documents", "embeddings"],
    # r15 newcomer
    "q_fuse_k_ablation": ["documents", "embeddings"],
}
N_JUNK = 12  # documents salt size; see module docstring for the bound


def _replica(df: DataFrame, table: str, r: int) -> DataFrame:
    cols = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if f.name in KEY_COLS.get(table, []):
            c = (c + F.lit(r * OFF)).alias(f.name)
        cols.append(c)
    out = df.select(cols)
    if table == "documents":
        junk = F.array_join(
            F.transform(F.sequence(F.lit(1), F.lit(N_JUNK)),
                        lambda i: F.format_string(f"zz{r}_%d", i)), " ")
        out = (out.withColumn("text", F.concat_ws(" ", "text", junk))
               .withColumn("n_chars", F.length("text")))
    return out


def materialize(spark, tables: list[str], replicas: int, dest: str) -> None:
    os.makedirs(dest, exist_ok=True)
    for t in tables:
        path = f"{dest}/{t}.parquet"
        done = f"{path}.done"
        # a crashed run leaves a partial dir behind (cleanup only runs
        # on success) — reuse ONLY when the completion marker exists
        if os.path.exists(done):
            continue
        shutil.rmtree(path, ignore_errors=True)
        base = spark.read.parquet(f"{SRC}/{t}.parquet")
        parts = [_replica(base, t, r) for r in range(replicas)]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        df.repartition(32).write.mode("overwrite").parquet(path)
        open(done, "w").close()


def timed(build, reps: int = 2) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.time()
        build().write.format("noop").mode("overwrite").save()
        best = min(best, time.time() - t0)
    return best


def main() -> None:
    queries = sys.argv[1:] or DEFAULT_QUERIES
    unknown = [q for q in queries if q not in TABLES_FOR]
    if unknown:
        sys.exit(f"unknown quer{'y' if len(unknown) == 1 else 'ies'} "
                 f"{unknown} — supported: {sorted(TABLES_FOR)}")
    spark = get_spark("stress_decade")
    spark.sparkContext.setLogLevel("ERROR")
    one_dir, ten_dir = f"{SCRATCH}/x1", f"{SCRATCH}/x10"
    tables = sorted({t for q in queries for t in TABLES_FOR[q]})
    materialize(spark, tables, 1, one_dir)
    materialize(spark, tables, 10, ten_dir)

    import math
    rows = []
    for q in queries:
        fn = ALL_SPECS[q].fn
        t1 = timed(lambda: fn(spark, one_dir))
        t10 = timed(lambda: fn(spark, ten_dir))
        exp = math.log10(t10 / t1)
        rows.append({"query": q, "t_1x_s": round(t1, 2),
                     "t_10x_s": round(t10, 2), "exponent": round(exp, 2)})
        print(json.dumps(rows[-1]), flush=True)
    print(json.dumps({"decade": rows}))
    shutil.rmtree(SCRATCH, ignore_errors=True)


if __name__ == "__main__":
    main()
