"""Closed-loop benchmark of the engine's declared queries, one workload per run.

Usage, from the repository root::

    python3 perfbench/run.py --workload claims_single --seed 1 \
        --seconds 10 --trace 0

One client drives one SparkSession (``get_spark`` at ``local[<cores>]``)
through passes over the workload's query list, each pass in an order drawn
from ``--seed``. One query run is ``ALL_SPECS[q].fn(spark, sf_dir)``
followed by a noop write: the unit ``bench.py`` times. The inputs are the
engine's read-only fixture tables: ``sf<scale>/`` beside the engine's
default data directory (``io.DEFAULT_SF_DIR``).

A run launches the Spark JVM ``SETUPS`` times (``get_spark`` plus a tiny
warm-up query; each earlier JVM is stopped and waited for) and keeps the
last session. It then runs one timed cold pass, checks every query's
output once (untimed) against its DuckDB oracle, then runs timed warm
passes for ``--seconds`` (and at least the workload's minimum number). A query that raises or returns a
wrong answer is counted in ``failed``; the run goes on. With ``--trace 0``
the Spark UI is off, as the engine defaults, and the run reports the
end-to-end metrics. With ``--trace 1`` the UI is on, timed passes
alternate between traced and plain, and the run reports the per-layer
metrics of the traced passes (see ``trace.py``).

The engine's file sinks and stream sources write run-scoped entries,
tagged with the application id, under its scratch root. The benchmark
points that root at ``.bench_build/scratch`` and deletes its own entries
on exit. Queries that write under a fixed path instead are in no workload.

The second-to-last stdout line is the run record (workload, environment,
per-query times, failures); the last line is the result
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SCRATCH = os.path.join(BUILD, "scratch")
sys.path.insert(0, HERE)

import stats  # noqa: E402
import trace  # noqa: E402

MB = 1024 * 1024
SETUPS = 2
# Driver heap, sized for these scales; the engine's 24g default assumes
# a 128 GiB host.
HEAP = "1g"


@dataclass(frozen=True)
class Workload:
    sf: float
    queries: tuple[str, ...]
    min_passes: int  # timed passes run even when --seconds is up; at
    # least 2, so that a traced run, alternating plain and traced, has both

    @property
    def tail_percentile(self) -> int:
        """Fixed by the smallest sample a run takes, so every run of the
        workload reports the same percentile."""
        return stats.tail_percentile(len(self.queries) * self.min_passes)


CLAIMS = ("q_crossover", "q_parent_denorm", "q_join_inner", "q_agg_sum",
          "q_case_multi", "q_coalesce_pair", "q_parse_tree",
          "q_explode_nested", "q_large_orders", "q_ship_priority",
          "q_nation_profit", "q_market_share")
CURATION_SINK = (
    # dedup, Arrow and grouped-map UDFs
    "q_dedup_lshband", "q_udf_arrow", "q_udf_grouped",
    # a Z-order file sink, a merge, a checkpointed export, and a stream
    # from a Python data source into the memory sink
    "q_sink_zorder", "q_merge_upsert", "q_export_pipeline",
    "q_src_pyds_stream")

# Why each workload exists is recorded in BENCHMARK.json. The pass counts
# keep a run near a minute: the cold pass and two JVM launches take most
# of it.
WORKLOADS = {
    "claims_single": Workload(0.001, CLAIMS, 2),
    "curation_sink": Workload(0.01, CURATION_SINK, 3),
}


@dataclass
class Pass:
    number: int
    traced: bool
    wall: float
    start_epoch: float
    end_epoch: float
    times: dict[str, float]
    rss_mb: float = 0.0  # the JVM's resident set when the pass ended


@dataclass
class Runner:
    """What one query run needs."""
    spark: object
    specs: dict
    sf_dir: str
    save: object  # DataFrameWriter.save as it was before any patching
    tracer: trace.Tracer | None = None


def cores() -> int:
    return len(os.sched_getaffinity(0))


def session_conf(run_dir: str, traced: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": HEAP,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # The heap starts at its full size instead of growing from 1/64
        # of RAM as G1 sees fit, so its resident part repeats.
        "spark.driver.extraJavaOptions":
            f"-Xms{HEAP} -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
    }
    if traced:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    return conf


def launch_session(get_spark, conf: dict[str, str]):
    """One set-up: ``get_spark`` (launching the JVM) plus a tiny query."""
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark, t1 - t0, time.perf_counter() - t1


def stop_jvm(spark) -> None:
    """Stop the session, wait for the gateway JVM to exit and forget it,
    so the next ``get_spark`` launches a new one."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    SparkContext._gateway = SparkContext._jvm = None
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()  # the gateway exits at end of input
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - any wait failure: kill and reap
        proc.kill()
        proc.wait()


def jvm_memory_mb(field: str) -> float:
    """``VmRSS`` (resident now) or ``VmHWM`` (peak resident) of the
    gateway JVM, from its ``/proc`` status."""
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(f"{field}:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"{field} missing from /proc status")


def scratch_usage(roots: list[str]) -> tuple[int, int]:
    """(files, bytes) under ``roots``."""
    files = size = 0
    for root in roots:
        for dirpath, _, names in os.walk(root):
            for n in names:
                try:
                    size += os.path.getsize(os.path.join(dirpath, n))
                    files += 1
                except OSError:
                    continue
    return files, size


def remove_own_scratch(root: str, app_ids: list[str]) -> None:
    """Delete the entries under ``root`` tagged with one of this run's
    application ids (the engine tags run-scoped output that way)."""
    tags = app_ids + [a.replace("-", "_") for a in app_ids]
    try:
        names = os.listdir(root)
    except OSError:
        return
    for name in names:
        if any(t in name for t in tags):
            path = os.path.join(root, name)
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                os.remove(path)


def oracle_answers(sf_dir: str, queries, specs, tables) -> dict:
    """DuckDB oracle answer per query; a failing oracle maps to its
    exception, which the check counts as a failure."""
    import duckdb

    answers = {}
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')")
        for q in queries:
            try:
                answers[q] = con.execute(specs[q].oracle).fetchdf()
            except Exception as exc:  # noqa: BLE001 - counted by the check
                answers[q] = exc
    finally:
        con.close()
    return answers


def run_query(r: Runner, q: str):
    """One timed query run; returns (seconds, frame)."""
    spec, tracer = r.specs[q], r.tracer
    t0 = time.perf_counter()
    if tracer is None or tracer.run is None:
        df = spec.fn(r.spark, r.sf_dir)
        r.save(df.write.format("noop").mode("overwrite"))
        return time.perf_counter() - t0, df
    with tracer.span("query"):
        with tracer.span("plans.build"):
            df = spec.fn(r.spark, r.sf_dir)
        with tracer.span("spark.catalyst"):
            df._jdf.queryExecution().executedPlan()
        with tracer.span("spark.exec"):
            r.save(df.write.format("noop").mode("overwrite"))
    return time.perf_counter() - t0, df


def run_pass(r: Runner, order, number: int, traced: bool, failures):
    """Run every query once in ``order``; a query that raises is recorded
    in ``failures`` and the pass goes on."""
    times, frames = {}, {}
    start_epoch, t0 = time.time(), time.perf_counter()
    for q in order:
        if traced:
            r.tracer.run = (q, number)
        try:
            times[q], frames[q] = run_query(r, q)
        except Exception as exc:  # noqa: BLE001 - counted, pass continues
            failures.append({"query": q, "pass": number,
                             "error": repr(exc)[:500]})
        finally:
            if traced:
                r.tracer.run = None
    wall = time.perf_counter() - t0
    return Pass(number, traced, wall, start_epoch, time.time(), times), frames


def check_outputs(frames: dict, expected: dict, compare) -> list[dict]:
    """Untimed correctness check of each query's frame against its oracle
    answer: row count, column names and order-insensitive values."""
    bad = []
    for q, want in expected.items():
        if isinstance(want, Exception):
            bad.append({"query": q, "check": f"oracle raised {want!r}"[:500]})
            continue
        if q not in frames:
            bad.append({"query": q, "check": "no output: the run raised"})
            continue
        try:
            problems = compare(q, frames[q].toPandas(), want)
        except Exception as exc:  # noqa: BLE001 - a failed check, not a crash
            problems = [repr(exc)[:500]]
        if problems:
            bad.append({"query": q, "check": problems[:3]})
    return bad


def layer_metrics(tracer: trace.Tracer, payload: dict, events: list[dict],
                  workload: str, warm: list[Pass], plain: list[Pass],
                  n_cores: int) -> dict:
    """Per-layer metrics, as means per traced warm pass."""
    numbers = {p.number for p in warm}
    windows = [(p.start_epoch, p.end_epoch) for p in warm]
    n = len(warm)
    layers = trace.layer_totals(tracer.spans, numbers)
    spark_tot = trace.attribute_jobs(payload, workload, numbers, windows)
    phase_jobs = spark_tot.pop("phase_jobs")
    write_mb = spark_tot.pop("write_mb")

    def lay(name: str, key: str) -> float:
        return layers.get(name, {}).get(key, 0.0) / n

    def jobs(name: str) -> float:
        return phase_jobs.get(name, 0) / n

    query_s = lay("query", "s")
    wall = sum(p.wall for p in warm)
    m = {
        "io.load_calls": lay("io.load", "calls"),
        "io.load_s": lay("io.load", "s"),
        "io.load_jobs": jobs("io.load"),
        "plans.build_s": lay("plans.build", "s"),
        "plans.build_self_s": lay("plans.build", "self_s"),
        "plans.build_jobs": jobs("plans.build"),
        "operators.calls": lay("operators", "calls"),
        "operators.s": lay("operators", "s"),
        "spark.catalyst.plan_s": lay("spark.catalyst", "s"),
        "spark.exec.s": lay("spark.exec", "s"),
        "spark.exec.jobs": jobs("spark.exec"),
        "plans.sink_mb": write_mb / n,
    }
    for child in ("ckpt", "collect", "sink"):
        m[f"plans.{child}_calls"] = lay(f"plans.{child}", "calls")
        m[f"plans.{child}_s"] = lay(f"plans.{child}", "s")
        m[f"plans.{child}_jobs"] = jobs(f"plans.{child}")
    for key, value in trace.stream_totals(events, windows).items():
        m[f"streaming.{key}"] = value / n
    for key, value in spark_tot.items():
        m[f"spark.{key}"] = value / n if key != "peak_exec_mem_mb" else value
    m["spark.core_util"] = spark_tot["task_run_s"] / (wall * n_cores)
    traced_s = statistics.median(p.wall for p in warm)
    plain_s = statistics.median(p.wall for p in plain)
    attributed = sum(v["self_s"] for k, v in layers.items() if k != "query")
    m.update({
        "trace.pass_s": traced_s,
        "trace.plain_pass_s": plain_s,
        "trace.overhead_s": traced_s - plain_s,
        "trace.coverage": attributed / (query_s * n) if query_s else 0.0,
    })
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]
    traced = bool(args.trace)

    sys.path.insert(0, ROOT)
    try:
        import pyspark
        from pyspark.sql.readwriter import DataFrameWriter
        from hippo_claim_crossover_spark import session
        from hippo_claim_crossover_spark.io import DEFAULT_SF_DIR, TABLES
        from hippo_claim_crossover_spark.plans import ALL_SPECS, sources
        from tools.check_oracle import compare
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    missing = [q for q in wl.queries if q not in ALL_SPECS
               or ALL_SPECS[q].oracle is None]
    if missing:
        print(f"perfbench: no query or oracle for {missing}", file=sys.stderr)
        return 2
    sf_dir = os.path.join(os.path.dirname(DEFAULT_SF_DIR.rstrip("/")),
                          f"sf{wl.sf:g}")
    if not all(os.path.isfile(os.path.join(sf_dir, f"{t}.parquet"))
               for t in TABLES):
        print(f"perfbench: fixture tables missing under {sf_dir}",
              file=sys.stderr)
        return 2

    run_dir = os.path.join(BUILD, f"run-{os.getpid()}")
    for sub in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.makedirs(SCRATCH, exist_ok=True)
    sources._SCRATCH = SCRATCH
    session._SCRATCH_ROOTS = (SCRATCH,)
    n_cores = cores()
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(n_cores),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        # Python workers unpickle engine functions (UDFs, data sources).
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    conf = session_conf(run_dir, traced)
    scratch_at_start = scratch_usage([SCRATCH])

    spark, app_ids, setups = None, [], []
    try:
        imports_s = time.time() - PROCESS_START
        for _ in range(SETUPS):
            if spark is not None:
                stop_jvm(spark)
            spark, get_s, warm_s = launch_session(session.get_spark, conf)
            app_ids.append(spark.sparkContext.applicationId)
            setups.append((get_s, warm_s))
        sc = spark.sparkContext
        runner = Runner(spark, ALL_SPECS, sf_dir, DataFrameWriter.save)
        patches, events = None, []
        if traced:
            runner.tracer = trace.Tracer(sc, args.workload)
            patches = trace.Patches(runner.tracer, type(spark.range(1)),
                                    DataFrameWriter)
            spark.streams.addListener(trace.stream_listener(events))
            patches.apply()
        rng = random.Random(args.seed)
        failures: list[dict] = []
        cold, frames = run_pass(runner, rng.sample(wl.queries, len(wl.queries)),
                                0, traced, failures)
        phases = {"cold": cold.wall}
        t_phase = time.perf_counter()
        expected = oracle_answers(sf_dir, wl.queries, ALL_SPECS, TABLES)
        check_failures = check_outputs(frames, expected, compare)
        phases["check"] = time.perf_counter() - t_phase
        del frames, expected

        if patches is not None:
            patches.restore()

        warm: list[Pass] = []
        scratch_before = scratch_usage([SCRATCH])
        deadline = time.perf_counter() + args.seconds
        while len(warm) < wl.min_passes or time.perf_counter() < deadline:
            number = len(warm) + 1
            on = traced and number % 2 == 0
            if patches is not None:
                patches.apply() if on else patches.restore()
            p, _ = run_pass(runner, rng.sample(wl.queries, len(wl.queries)),
                            number, on, failures)
            p.rss_mb = jvm_memory_mb("VmRSS")
            warm.append(p)
        if patches is not None:
            patches.restore()
        scratch_after = scratch_usage([SCRATCH])
        phases["warm"] = sum(p.wall for p in warm)
        peak_rss_mb = jvm_memory_mb("VmHWM")

        timed_warm = [p for p in warm if p.traced == traced]
        samples = [t for p in timed_warm for t in p.times.values()]
        attempted = len(wl.queries) * (2 + len(warm))
        n_failed = len(failures) + len(check_failures)
        growth_mb = (scratch_after[1] - scratch_before[1]) / MB / len(warm)
        setup_s = imports_s + statistics.median(sum(s) for s in setups)
        if traced:
            payload = trace.fetch_rest(sc)
            metrics = layer_metrics(runner.tracer, payload, events,
                                    args.workload, timed_warm,
                                    [p for p in warm if not p.traced], n_cores)
            metrics.update({
                "session.imports_s": imports_s,
                "session.get_spark_s": statistics.median(s[0] for s in setups),
                "session.warmup_s": statistics.median(s[1] for s in setups),
                "jvm.peak_rss_mb": peak_rss_mb,
                "scratch.files":
                    (scratch_after[0] - scratch_before[0]) / len(warm),
                "scratch.growth_mb": growth_mb,
            })
        else:
            metrics = {
                "setup_s": setup_s,
                "cold_pass_s": cold.wall,
                "pass_s": statistics.median(p.wall for p in warm),
                "query_p50_s": statistics.median(samples),
                "query_tail_s": stats.percentile(samples, wl.tail_percentile),
                "ok_rate": 1.0 - n_failed / attempted,
                # The peak (VmHWM, jvm.peak_rss_mb when traced) also
                # holds transient spikes and spread by about a fifth
                # between runs; the resident set at pass ends repeats.
                "driver_rss_mb": statistics.median(p.rss_mb for p in warm),
            }
        env = {
            "cores": n_cores, "heap": conf["spark.driver.memory"],
            "pyspark": pyspark.__version__,
            "java": sc._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(), "sf": wl.sf,
            "fixture_bytes": {t: os.path.getsize(
                os.path.join(sf_dir, f"{t}.parquet")) for t in TABLES},
        }
        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "seconds": args.seconds, "env": env, "app_ids": app_ids,
            "metrics": metrics,
            "tail": {"percentile": wl.tail_percentile,
                     "samples": len(samples)},
            "error_rate": n_failed / attempted,
            "scratch_at_start": {"files": scratch_at_start[0],
                                 "mb": scratch_at_start[1] / MB},
            "scratch_growth_mb": growth_mb,
            "imports_s": imports_s, "setups": setups, "cold_pass": cold.times,
            "peak_rss_mb": peak_rss_mb,
            "warm_passes": [{"traced": p.traced, "wall": p.wall,
                             "rss_mb": p.rss_mb} for p in warm],
            "query_median_s": {
                q: statistics.median(p.times[q] for p in timed_warm
                                     if q in p.times)
                for q in wl.queries
                if any(q in p.times for p in timed_warm)},
            "failures": failures, "check_failures": check_failures,
            "phases": phases,
        }
        if traced:
            record["cold_spark"] = {
                k: v for k, v in trace.attribute_jobs(
                    payload, args.workload, {0},
                    [(cold.start_epoch, cold.end_epoch)]).items()
                if k != "phase_jobs"}
    finally:
        if spark is not None:
            stop_jvm(spark)
        remove_own_scratch(SCRATCH, app_ids)
        shutil.rmtree(run_dir, ignore_errors=True)

    result_metrics = {k: {"value": v, "unit": _unit(k)}
                      for k, v in metrics.items()}
    print(json.dumps(record))
    print(json.dumps({"correct": n_failed == 0, "attempted": attempted,
                      "failed": n_failed, "metrics": result_metrics}))
    return 0


def _unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith(("core_util", "coverage", "ok_rate")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
