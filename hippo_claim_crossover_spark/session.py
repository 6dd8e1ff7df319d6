"""SparkSession factory with scale-oriented defaults.

The reference has no execution engine at all (single-threaded Ruby,
``lib/hippo_claim_crossover.rb:10-13``); everything here is the Spark-native
replacement. Config choices follow SURVEY.md §4.2/§4.3: AQE for runtime
re-planning + skew-join splitting, nested-schema pruning for struct columns,
Arrow for the (rare) pandas-UDF paths, and a shuffle-partition count sized
for the local test harness — on a real cluster these are overridden by
spark-submit conf, which always wins over ``.config()`` defaults set here.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession

# Every scratch path the package writes goes through ``fixture_dir`` /
# ``run_dir`` below: ``<root>/<applicationId>/<name>-<sf>[/r<n>]``. The
# application id is one directory level, so concurrent runs never race —
# but nothing else ever deletes an application's directory, so repeated
# harness runs accumulate one per session. Prune any top-level entry
# carrying a different session's `local-<millis>` tag at startup,
# PROVIDED it has been idle past a safety margin: a tag-differs-only rule
# deletes the scratch of a session that is still running concurrently
# (observed: a check_oracle session pruned a live pytest session's
# bucketed tables mid-suite). The root is ``_SCRATCH_ROOTS[0]``, read at
# call time so a harness can redirect it by assignment.
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_SCRATCH_ROOTS = (os.path.join(_REPO, "_scratch"),
                  os.path.join(_REPO, "spark-warehouse", "bktest.db"))
_RUN_TAG = re.compile(r"local[-_](\d+)")
_PRUNED_FOR: set[str] = set()
_PRUNE_IDLE_SECS = 2 * 3600  # > any single harness session's lifetime


def _tree_is_idle(path: str, cutoff_ts: float) -> bool:
    """True iff nothing under ``path`` has an mtime at/after ``cutoff_ts``.

    Walk short-circuits on the first fresh entry, so the common live-session
    case (its newest shuffle/commit file is recent) costs a few stats, not a
    full tree scan. Unreadable entries count as idle (best-effort prune)."""
    try:
        if os.path.getmtime(path) >= cutoff_ts:
            return False
    except OSError:
        return True
    for dirpath, dirnames, filenames in os.walk(path):
        for n in dirnames + filenames:
            try:
                if os.path.getmtime(os.path.join(dirpath, n)) >= cutoff_ts:
                    return False
            except OSError:
                continue
    return True


def _prune_stale_scratch(app_id: str,
                         idle_secs: int = _PRUNE_IDLE_SECS) -> None:
    """Best-effort removal of scratch dirs left by finished sessions:
    every entry whose name embeds a run tag different from ``app_id``'s
    AND that is genuinely idle — its ``local-<epoch-millis>`` session
    start is older than the margin (a session younger than the margin
    cannot have been idle longer than its age) AND no file under it has
    been touched within the margin. The mtime check is what protects a
    live long-running concurrent session (pytest suite, tri-scale oracle
    sweep): its scratch keeps fresh mtimes as it writes, so even
    bench.py's shorter 30-min margin never deletes live state — the tag
    age alone could not guarantee that for a session >idle_secs old.
    Every scratch writer, tools included, nests its output under its
    application id; an entry without a run tag is not one of theirs and
    is left alone."""
    import time

    m = _RUN_TAG.search(app_id)
    if not m:
        return
    current = m.group(1)
    now = time.time()
    cutoff_ms = (now - idle_secs) * 1000.0
    for root in _SCRATCH_ROOTS:
        try:
            entries = os.listdir(root)
        except OSError:
            continue
        for name in entries:
            tag = _RUN_TAG.search(name)
            if not tag or tag.group(1) == current:
                continue
            if float(tag.group(1)) > cutoff_ms:
                continue  # started <margin ago: possibly still running
            path = os.path.join(root, name)
            if not _tree_is_idle(path, now - idle_secs):
                continue  # recently written: owner is live, keep
            try:
                if os.path.isdir(path):
                    shutil.rmtree(path, ignore_errors=True)
                else:
                    os.remove(path)
            except OSError:
                pass


# Fixture guard, written last; `_`-prefixed, so file sources skip it.
_FIXTURE_DONE = "_complete"
_RUN_NAME = re.compile(r"r(\d+)")


def _scratch_base(spark: SparkSession, name: str, sf_dir: str | None) -> str:
    if sf_dir is not None:
        name = f"{name}-{os.path.basename(sf_dir.rstrip('/'))}"
    return os.path.join(_SCRATCH_ROOTS[0],
                        spark.sparkContext.applicationId, name)


def _run_numbers(base: str) -> list[int]:
    try:
        names = os.listdir(base)
    except FileNotFoundError:
        return []
    return sorted(int(m.group(1)) for m in map(_RUN_NAME.fullmatch, names)
                  if m)


def fixture_dir(spark: SparkSession, name: str, sf_dir: str | None,
                write) -> str:
    """Exists-guarded INPUT setup (the stand-in for an upstream table or
    topic): ``write(path)`` runs once per (application, name, sf), and
    later calls return the same directory without writing. The guard is
    a ``_complete`` marker written after ``write`` returns, so a crashed
    half-write is cleared and rebuilt on the next call."""
    path = _scratch_base(spark, name, sf_dir)
    marker = os.path.join(path, _FIXTURE_DONE)
    if not os.path.exists(marker):
        shutil.rmtree(path, ignore_errors=True)
        write(path)
        os.makedirs(path, exist_ok=True)
        open(marker, "w").close()
    return path


def run_dir(spark: SparkSession, name: str, sf_dir: str | None = None) -> str:
    """A fresh, empty directory for one run of a query whose write IS the
    declared operator (sinks, stream checkpoints): run ``n`` of
    (application, name, sf) is ``.../<name>-<sf>/r<n>``. A run with one
    output writes the directory itself; a run with several parts puts
    them inside it as named children (``src/``, ``ckpt/``, ``out/``).

    Scratch stays bounded: once run ``n`` is handed out, the directories
    of earlier runs are deleted, so a DataFrame returned by run ``n-1``
    is invalid once run ``n`` starts — consume a result before calling
    its query again."""
    base = _scratch_base(spark, name, sf_dir)
    earlier = _run_numbers(base)
    path = os.path.join(base, f"r{earlier[-1] + 1 if earlier else 1}")
    os.makedirs(path)
    for n in earlier:
        shutil.rmtree(os.path.join(base, f"r{n}"), ignore_errors=True)
    return path


def last_output(spark: SparkSession, name: str,
                sf_dir: str | None = None) -> str:
    """The directory of the latest :func:`run_dir` run of (application,
    name, sf) — how tests inspect what a query wrote."""
    base = _scratch_base(spark, name, sf_dir)
    runs = _run_numbers(base)
    if not runs:
        raise FileNotFoundError(f"no run of {name!r} under {base}")
    return os.path.join(base, f"r{runs[-1]}")



def materialize(df: DataFrame, why: str) -> DataFrame:
    """``df`` cut from its lineage as executor-local blocks: the one way
    the package materializes an intermediate that has several consumers
    or ends a round of an iterative loop. ``why`` is a short slug naming
    the reason; every Spark job run beneath this call carries the job tag
    ``ckpt:<why>``.

    The checkpoint is lazy: the blocks are written by the consumer's
    first job, not by an extra blocking action. Building the checkpointed
    RDD still plans ``df``, and AQE runs the shuffle stages beneath it
    here, at plan-build time; those are the jobs the tag names.

    Executor-local blocks trade away fault tolerance: the lineage is cut,
    so losing an executor loses its blocks and fails the job. That is the
    right trade locally and for short jobs; a long many-round cluster run
    should use reliable ``checkpoint()`` against the cluster checkpoint
    dir instead, at the cost of a round-trip to storage per call."""
    sc = df.sparkSession.sparkContext
    tag = f"ckpt:{why}"
    sc.addJobTag(tag)
    try:
        return df.localCheckpoint(eager=False)
    finally:
        sc.removeJobTag(tag)

# Defaults tuned for the local[32] test harness. On a 1000-executor cluster
# the operative settings (shuffle partitions ~= 2-3x total cores, AQE
# coalescing on) come from the submit conf; AQE then re-sizes partitions at
# runtime so the static number only matters as an upper bound.
_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.session.timeZone": "UTC",
    # Local mode runs driver + all 32 executor threads in ONE JVM, so this
    # is the whole engine heap. 8g was measurably too small for the bench
    # session: ~40 queries of accumulated shuffle/broadcast state pushed
    # late queries into full-GC territory (q_sim_knn_blocked 19.7s at 8g
    # vs 5.3s at 32g, same plan). 24g leaves >100 GiB for page cache and
    # the 32 Python workers on the 128 GiB harness.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
    "spark.ui.enabled": "false",
}


def get_spark(app_name: str = "hippo_claim_crossover_spark",
              master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cpus}]")
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    app_id = spark.sparkContext.applicationId
    if app_id not in _PRUNED_FOR:  # once per session, not per call
        _PRUNED_FOR.add(app_id)
        _prune_stale_scratch(app_id)
    return spark
