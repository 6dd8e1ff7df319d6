"""Century stress: ONE 100× point for the three largest decade-exponent
queries (VERDICT r9 #6 — the brief's question is 100×, the decade table
only proves 10×).

Reuses stress_decade's replica machinery (key-namespace shifts, salted
document text) to materialize 1× and 100× legs of each query's input
tables, runs the declared plans unmodified (full materialization through
the noop sink, best-of-2), and records wall time, the per-century scaling
exponent log100(t_100x/t_1x), and shuffle metrics (peak single-stage and
total shuffle-write bytes, via the Spark UI REST API) so SCALE.md can
show a measured — not extrapolated — 100× row with spill evidence.

Usage: python tools/stress_century.py [query ...]
       (default: q_percentile q_join_setsim q_recommend)
       python tools/stress_century.py skewjoin
       (skew rehearsal: manufactures a zipfian key — one key owning
       ~40% of the fact rows — at 1x and 100x, forces the shuffle-join
       path a too-big-to-broadcast dim implies, and measures three
       legs: naive shuffle join with AQE skew-split disabled, the same
       join with AQE's OptimizeSkewedJoin, and the explicit
       operators.joins.salted_join(salt=64); per-leg wall time, total/
       peak shuffle bytes, spill, and the join stage's max-vs-median
       task duration from the REST taskSummary — the direct skew
       evidence — go to SCALE.md.)
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stress_decade import TABLES_FOR, materialize  # noqa: E402

from hippo_claim_crossover_spark.plans import ALL_SPECS  # noqa: E402
from hippo_claim_crossover_spark.session import (  # noqa: E402
    _SCRATCH_ROOTS,
    get_spark,
)

SCRATCH = os.path.join(_SCRATCH_ROOTS[0], "century")
DEFAULT_QUERIES = ["q_percentile", "q_join_setsim", "q_recommend"]


def _stage_metrics(spark) -> list[dict]:
    # uiWebUrl, not a hardcoded :4040 — Spark binds the next free port
    # when another app already holds 4040
    base = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    url = f"{base}/api/v1/applications/{app_id}/stages"
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def timed_with_shuffle(spark, build, reps: int = 2):
    """Best-of-N wall + the shuffle bytes of one (the first) execution.
    Only stages whose id is NEW relative to the pre-run snapshot count,
    so materialization / earlier-query shuffles never leak in."""
    before = {s["stageId"] for s in _stage_metrics(spark)}
    best = float("inf")
    shuffle_total = peak = 0
    for i in range(reps):
        t0 = time.time()
        build().write.format("noop").mode("overwrite").save()
        best = min(best, time.time() - t0)
        if i == 0:
            new = [s for s in _stage_metrics(spark)
                   if s["stageId"] not in before]
            writes = [s.get("shuffleWriteBytes", 0) for s in new]
            shuffle_total = sum(writes)
            peak = max(writes, default=0)
    return best, shuffle_total, peak


def _task_skew(spark, stage_ids) -> tuple[float, float]:
    """(median, max) task duration in seconds of the heaviest
    shuffle-read stage among ``stage_ids`` — the reducer-imbalance
    signal a skewed join leaves that totals can't show."""
    base = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    stages = [s for s in _stage_metrics(spark)
              if s["stageId"] in stage_ids]
    if not stages:
        return 0.0, 0.0
    hot = max(stages, key=lambda s: s.get("shuffleReadBytes", 0))
    url = (f"{base}/api/v1/applications/{app_id}/stages/"
           f"{hot['stageId']}/{hot.get('attemptId', 0)}/taskSummary"
           "?quantiles=0.5,1.0")
    with urllib.request.urlopen(url, timeout=10) as r:
        q = json.load(r)
    med, mx = q["duration"]
    return med / 1e3, mx / 1e3


def _skew_fixture(spark, mult: int, dest: str) -> None:
    """Fact table with a manufactured zipfian key: ~40% of rows land on
    key 0 (md5-deterministic), the rest spread over keys 1..99999 —
    disjoint from the hot key, so key 0's share is exactly the
    manufactured ~40% (r11 ADVICE: `% 100000` included 0 and mixed hot
    and tail rows on it); plus a 100k-row dim. Volume scales with
    ``mult`` via a replica fan-out. The hot/tail decision and the tail
    key come from INDEPENDENT digit ranges of the hash (h%10 vs h//10)
    — deriving both from h would correlate them (h%100000 shares its
    last digit with h%10), leaving 40% of the tail keyspace
    unreachable."""
    from pyspark.sql import functions as F

    from hippo_claim_crossover_spark.plans.base import hex2long, money_micros

    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    li = (spark.read.parquet(f"{src}/lineitem.parquet")
          .select("l_orderkey", "l_linenumber", "l_quantity"))
    fact = (li.crossJoin(spark.range(mult).select(F.col("id").alias("rep")))
            .select(hex2long(F.md5(F.concat_ws(
                "#", "l_orderkey", "l_linenumber", "rep"))).alias("h"),
                money_micros(F.col("l_quantity")).alias("v"))
            .select(F.when(F.col("h") % 10 < 4, F.lit(0))
                    # integer DIV: h is ~2^60, a double quotient would
                    # lose exactly the low digits the modulo reads
                    .otherwise(F.expr("1 + (h DIV 10) % 99999"))
                    .alias("skew_key"),
                    "v"))
    fact.write.mode("overwrite").parquet(f"{dest}/fact")
    (spark.range(100_000)
     .select(F.col("id").alias("skew_key"),
             F.md5(F.col("id").cast("string")).alias("attr"))
     .write.mode("overwrite").parquet(f"{dest}/dim"))


def run_skewjoin() -> None:
    """The three-leg skew rehearsal (see module docstring)."""
    from pyspark.sql import functions as F

    from hippo_claim_crossover_spark.operators.joins import salted_join

    spark = get_spark("stress_century_skew",
                      extra_conf={"spark.ui.enabled": "true"})
    spark.sparkContext.setLogLevel("ERROR")
    # the 100 TB premise: the dim does NOT fit the broadcast threshold
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

    def legs(spark, d):
        fact = spark.read.parquet(f"{d}/fact")
        dim = spark.read.parquet(f"{d}/dim")
        return {
            "unsalted_no_aqe_skew":
                lambda: fact.join(dim, "skew_key", "inner"),
            "unsalted_aqe_skew":
                lambda: fact.join(dim, "skew_key", "inner"),
            "salted_64":
                lambda: salted_join(fact, dim, on="skew_key", salt=64),
        }

    rows = []
    for mult, tag in [(1, "1x"), (100, "100x")]:
        d = f"{SCRATCH}/skew_{tag}"
        _skew_fixture(spark, mult, d)
        for leg, build in legs(spark, d).items():
            # AQE skew-split active ONLY on its own leg, so salted_64
            # isolates salting alone (r11 ADVICE: `!=` left skew-split
            # on during the salted leg, conflating the two mitigations)
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled",
                           str(leg == "unsalted_aqe_skew").lower())
            # reps=1: single execution so the stage-id window, the
            # taskSummary, and the spill sum all describe exactly one run
            before = {s["stageId"] for s in _stage_metrics(spark)}
            wall, sh_tot, sh_peak = timed_with_shuffle(spark, build, reps=1)
            new_ids = {s["stageId"] for s in _stage_metrics(spark)} - before
            med, mx = _task_skew(spark, new_ids)
            spill = sum(s.get("diskBytesSpilled", 0)
                        for s in _stage_metrics(spark)
                        if s["stageId"] in new_ids)
            rows.append({
                "leg": leg, "scale": tag, "wall_s": round(wall, 2),
                "shuffle_total_mb": round(sh_tot / 1e6, 1),
                "shuffle_peak_stage_mb": round(sh_peak / 1e6, 1),
                "spill_mb": round(spill / 1e6, 1),
                "task_median_s": round(med, 2),
                "task_max_s": round(mx, 2),
            })
            print(json.dumps(rows[-1]), flush=True)
    print(json.dumps({"skewjoin": rows}))
    shutil.rmtree(SCRATCH, ignore_errors=True)


def main() -> None:
    if sys.argv[1:] == ["skewjoin"]:
        run_skewjoin()
        return
    queries = sys.argv[1:] or DEFAULT_QUERIES
    unknown = [q for q in queries if q not in TABLES_FOR]
    if unknown:
        sys.exit(f"unknown queries {unknown} — supported: "
                 f"{sorted(TABLES_FOR)}")
    spark = get_spark("stress_century",
                      extra_conf={"spark.ui.enabled": "true"})
    spark.sparkContext.setLogLevel("ERROR")
    one_dir, c_dir = f"{SCRATCH}/x1", f"{SCRATCH}/x100"
    tables = sorted({t for q in queries for t in TABLES_FOR[q]})
    materialize(spark, tables, 1, one_dir)
    materialize(spark, tables, 100, c_dir)

    rows = []
    for q in queries:
        fn = ALL_SPECS[q].fn
        t1, sh1, pk1 = timed_with_shuffle(spark, lambda: fn(spark, one_dir))
        t100, sh100, pk100 = timed_with_shuffle(
            spark, lambda: fn(spark, c_dir))
        exp = math.log10(t100 / t1) / 2  # per-decade exponent over 2 decades
        rows.append({
            "query": q, "t_1x_s": round(t1, 2), "t_100x_s": round(t100, 2),
            "exponent_per_decade": round(exp, 2),
            "shuffle_total_100x_mb": round(sh100 / 1e6, 1),
            "shuffle_peak_stage_100x_mb": round(pk100 / 1e6, 1),
        })
        print(json.dumps(rows[-1]), flush=True)
    print(json.dumps({"century": rows}))
    shutil.rmtree(SCRATCH, ignore_errors=True)


if __name__ == "__main__":
    main()
