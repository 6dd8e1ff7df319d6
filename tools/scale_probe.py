"""Scale probe: declared queries on the fixture and on a K× copy of it,
with per-query stage metrics from the Spark UI REST API.

Usage: python tools/scale_probe.py [--factor K] [--json PATH] [QUERY ...]

Inputs come from ``io.DEFAULT_SF_DIR`` (``$SPARK_GRAFT_SF_DIR``, default
sf0.1); with no query names the probe runs every ``bench.HEADLINE`` query.
A query runs as ``bench.py`` runs it: ``ALL_SPECS[q].fn`` through the noop
sink, best-of-2, with ``fn()`` inside the timed window.

``--factor 1`` (default) runs each query on the fixture as it is and
reports ``t_1x_s`` plus the stage ledger of its first run.

``--factor K`` (K > 1) first writes two legs once per session through
``session.fixture_dir``: a 1× leg (one replica of every ``io.TABLES``
table) and a K× leg (the union of K replicas; ``nation`` and ``region``
are copied once). Both legs share file layout and compression. Key
columns shift by ``replica × 10_000_000``, so joins resolve within a
replica and never across replicas: orders, customers and baskets grow K×
in count, not in size. ``documents.text`` also gains 12 replica-tagged
tokens per doc: identical docs in different replicas would otherwise form
Jaccard-1.0 pairs and grow q_join_setsim's true output quadratically;
with the salt, cross-replica Jaccard for a 31-token doc tops out at
31/55 ≈ 0.56, under the 0.8 join threshold. Each query reports
``t_1x_s``, ``t_kx_s``, ``exponent_per_decade`` =
log10(t_kx / t_1x) / log10(K) and the stage ledger of the K× leg.

Stages are attributed by stage-id snapshot: only stages whose id is new
since the query started count, including work ``fn()`` does at plan-build
time (stream harnesses, AQE-materialized checkpoints). One JSON line per
query goes to stdout as it finishes; ``--json PATH`` also writes the whole
run. This application's scratch directory (legs and sink outputs) is
deleted on exit, whatever the outcome.

Exit codes, most severe first: 3 = a query raised, 4 = a stage FAILED
during a query (work retried or lost; its ledger is flagged), 1 = a query
spilled (row-proportional state somewhere), 2 = usage error, 0 = clean.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time
import urllib.request
from functools import partial, reduce

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from pyspark.sql import DataFrame, functions as F  # noqa: E402

import bench  # noqa: E402
from hippo_claim_crossover_spark import io, session  # noqa: E402
from hippo_claim_crossover_spark.plans import ALL_SPECS  # noqa: E402

USAGE = "usage: scale_probe.py [--factor K] [--json PATH] [QUERY ...]"
MB = 1024.0 * 1024.0

# Key namespaces: every *key* column shifts by replica × OFF so joins
# resolve within a replica and never across replicas.
OFF = 10_000_000
KEY_COLS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    # replicas duplicate the vectors under shifted ids — replica 0 keeps
    # the original ids, so QUERY_VEC_ID=0 still exists; the duplicated
    # geometry is exactly the near-dup-heavy corpus semdedup targets
    "embeddings": ["vec_id"],
}
COPY_ONCE = ("nation", "region")  # lookup dimensions: 1× in every leg
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


def _write_leg(spark, src: str, replicas: int, dest: str) -> None:
    for t in io.TABLES:
        base = io.load_table(spark, src, t)
        n = 1 if t in COPY_ONCE else replicas
        df = reduce(DataFrame.unionByName,
                    [_replica(base, t, r) for r in range(n)])
        df.repartition(32).write.parquet(f"{dest}/{t}.parquet")


def legs(spark, src: str, factor: int) -> tuple[str, str]:
    """The 1× and ``factor``× copies of ``src``, written once per session."""
    return tuple(session.fixture_dir(spark, f"scale_x{n}", src,
                                     partial(_write_leg, spark, src, n))
                 for n in (1, factor))


def _stages(spark) -> list[dict]:
    # No status filter: FAILED stages must be attributed too, else a
    # query whose job retried/errored gets a silently partial ledger
    # (undercounted shuffle/spill) instead of being flagged (r15).
    base = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    url = f"{base}/api/v1/applications/{app_id}/stages"
    with urllib.request.urlopen(url, timeout=15) as r:
        return json.load(r)


def _ledger(new: list[dict]) -> dict:
    """Aggregate one query's newly-appeared stage entries into the
    per-query ledger. The endpoint returns one entry per stage
    ATTEMPT; summing raw entries would double-count a retried stage
    (the failed attempt's partial shuffle plus the retry's full one)
    and would count SKIPPED exchange-reuse placeholders toward
    n_stages. Metrics therefore come from the LATEST attempt per
    stage, excluding SKIPPED; retries and reuse are flagged, not
    summed (r15)."""
    latest: dict[int, dict] = {}
    for s in new:
        k = s["stageId"]
        if k not in latest or s.get("attemptId", 0) \
                > latest[k].get("attemptId", 0):
            latest[k] = s
    live = [s for s in latest.values() if s.get("status") != "SKIPPED"]
    writes = [s.get("shuffleWriteBytes", 0) for s in live]
    return {
        "n_stages": len(live),
        "n_skipped_stages": sum(1 for s in latest.values()
                                if s.get("status") == "SKIPPED"),
        "n_failed_stages": sum(1 for s in new
                               if s.get("status") == "FAILED"),
        "n_tasks": sum(s.get("numCompleteTasks", 0) for s in live),
        "shuffle_write_mb": round(sum(writes) / MB, 2),
        "shuffle_read_mb": round(
            sum(s.get("shuffleReadBytes", 0) for s in live) / MB, 2),
        "spill_mem_mb": round(
            sum(s.get("memoryBytesSpilled", 0) for s in live) / MB, 2),
        "spill_disk_mb": round(
            sum(s.get("diskBytesSpilled", 0) for s in live) / MB, 2),
        "peak_stage_shuffle_write_mb": round(max(writes, default=0) / MB, 2),
    }


def probe(spark, name: str, sf_dir: str) -> tuple[float, dict]:
    """Best-of-2 wall time and the stage ledger of the first run."""
    before = {s["stageId"] for s in _stages(spark)}
    best, ledger = float("inf"), None
    for _ in range(2):
        t0 = time.time()
        ALL_SPECS[name].fn(spark, sf_dir).write.format("noop") \
            .mode("overwrite").save()
        best = min(best, time.time() - t0)
        if ledger is None:
            ledger = _ledger([s for s in _stages(spark)
                              if s["stageId"] not in before])
    return best, ledger


def _parse(argv: list[str]) -> tuple[int, str | None, list[str]]:
    opts: dict[str, str | None] = {"--factor": "1", "--json": None}
    names = []
    args = iter(argv)
    for a in args:
        if a in opts:
            opts[a] = next(args, None)
            if opts[a] is None:
                raise ValueError(f"{a} needs a value")
        else:
            names.append(a)
    factor = int(opts["--factor"])
    if factor < 1:
        raise ValueError("--factor must be >= 1")
    unknown = [n for n in names if n not in ALL_SPECS]
    if unknown:
        raise ValueError(f"unknown queries {unknown}")
    return factor, opts["--json"], names or list(bench.HEADLINE)


def main(argv: list[str]) -> int:
    try:
        factor, out_path, names = _parse(argv)
    except ValueError as e:
        print(f"{USAGE}\n{e}", file=sys.stderr)
        return 2
    src = io.DEFAULT_SF_DIR
    spark = session.get_spark("scale_probe",
                              extra_conf={"spark.ui.enabled": "true",
                                          "spark.ui.retainedStages": "20000"})
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId
    results: dict[str, dict] = {}
    try:
        one, many = (src, src) if factor == 1 else legs(spark, src, factor)
        for name in names:
            try:
                t1, row = probe(spark, name, one)
                if factor > 1:
                    tk, row = probe(spark, name, many)
                    row = {"t_kx_s": round(tk, 3), "exponent_per_decade":
                           round(math.log10(tk / t1) / math.log10(factor), 3),
                           **row}
                row = {"t_1x_s": round(t1, 3), **row}
            except Exception as e:  # keep the run complete on one failure
                row = {"error": f"{type(e).__name__}: {e}"}
            results[name] = row
            print(json.dumps({"query": name, **row}), flush=True)
    finally:
        shutil.rmtree(os.path.join(session._SCRATCH_ROOTS[0], app_id),
                      ignore_errors=True)
    if out_path:
        with open(out_path, "w") as f:
            json.dump({"sf_dir": src, "factor": factor, "app_id": app_id,
                       "n_queries": len(results), "queries": results},
                      f, indent=1, sort_keys=True)
            f.write("\n")

    ok = {k: v for k, v in results.items() if "error" not in v}
    errored = sorted(set(results) - set(ok))
    failed = sorted(k for k, v in ok.items() if v["n_failed_stages"])
    spilled = sorted(k for k, v in ok.items()
                     if v["spill_mem_mb"] or v["spill_disk_mb"])
    for label, qs in (("ERRORS", errored), ("FAILED STAGES", failed),
                      ("SPILLED", spilled)):
        if qs:
            print(f"{label} ({len(qs)}): {' '.join(qs)}", file=sys.stderr)
    return 3 if errored else 4 if failed else 1 if spilled else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
