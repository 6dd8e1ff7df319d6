"""Structured Streaming operators: the streaming counterparts of
``plans/timeseries.py`` (readStream → window/session agg → writeStream).

The reference has no streaming at all (single eager pipeline,
lib/hippo_claim_crossover.rb:15-20); this is the Spark-native extension
mandated by SURVEY.md §2b. The aggregation bodies are the *same
expressions* as the batch queries — Structured Streaming's contract — with
``withWatermark`` bounding state for late data.

At scale: state lives in the state store keyed by (window, group); the
watermark bounds both state size and late-data wait. Sink is normally a
parquet/kafka writeStream; tests use the memory sink with availableNow.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Default shuffle/state partition count for the pinned streaming-harness
# drains (r15). The stateful operators instantiate ONE state store per
# shuffle partition PER MICRO-BATCH (load, update, snapshot, commit), so
# a drain of K tiny fixture batches pays K × partitions state-store
# commits; at the session default of 32 that fixed cost dwarfs the
# handcrafted 3-6-row batches every pinned-fixture stream query
# processes — and the fixture size is pinned by the query semantics,
# NOT by the scale factor, so a small count is right at any sf.
# Production streams size this to their real state volume: override via
# SPARK_GRAFT_STREAM_SHUFFLE (read PER DRAIN, not at import — r16), or
# pass an explicit ``partitions`` (the real-table streams derive theirs
# from input bytes, :func:`sized_stream_partitions`). Declared outputs
# are partition-count-independent by design (row counts per batch are
# the pinned invariant; file counts are deliberately never emitted).
STREAM_SHUFFLE_DEFAULT = 4


def stream_shuffle_partitions() -> int:
    """The drain partition count: ``SPARK_GRAFT_STREAM_SHUFFLE`` when
    set (validated here so a bad override fails at the drain that uses
    it, with the variable named), else :data:`STREAM_SHUFFLE_DEFAULT`.
    Read at call time — a same-process override after import works."""
    raw = os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE")
    if raw is None:
        return STREAM_SHUFFLE_DEFAULT
    try:
        return int(raw)
    except ValueError:
        raise ValueError(
            "SPARK_GRAFT_STREAM_SHUFFLE must be an integer shuffle/state "
            f"partition count, got {raw!r}") from None


def sized_stream_partitions(src_dir: str,
                            target_bytes: int = 64 << 20) -> int:
    """Input-size-derived partition count for streams over REAL tables
    (r16, VERDICT r15 #2): the pinned-fixture default is harness-sized,
    but q_stream_state/q_stream_rocksdb drain the events table through
    their batches — at 100 TB a constant 4 state partitions is a wall.
    Derives ``ceil(total source bytes / target_bytes)`` from local file
    metadata (no job), floored at the fixture default so tiny inputs
    keep the cheap drain; an explicit SPARK_GRAFT_STREAM_SHUFFLE still
    wins (the production override path)."""
    if os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE") is not None:
        return stream_shuffle_partitions()
    total = 0
    for root, _dirs, files in os.walk(src_dir):
        for name in files:
            if not name.startswith(("_", ".")):
                try:
                    total += os.path.getsize(os.path.join(root, name))
                except OSError:
                    pass
    return max(STREAM_SHUFFLE_DEFAULT,
               -(-total // target_bytes))  # ceil div


@contextmanager
def stream_shuffle_scope(spark: SparkSession,
                         partitions: int | None = None):
    """Scope ``spark.sql.shuffle.partitions`` to the stream drain (set
    before ``start()``, restored after ``awaitTermination()``). The
    harness is single-threaded per session, so the temporary session
    conf cannot leak into a concurrently-planned batch query."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    n = partitions if partitions is not None else stream_shuffle_partitions()
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, prev)

# Schema of the event-stream parquet files: the ``events`` columns of
# io.SCHEMAS (µs timestamps), with ``ts`` read as TIMESTAMP, not _NTZ.
EVENT_STREAM_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])


def read_event_stream(spark: SparkSession, source_dir: str,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over a directory of event parquet files
    (schema must be explicit for streaming sources)."""
    reader = spark.readStream.schema(EVENT_STREAM_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def tumbling_agg(events: DataFrame, window: str = "10 minutes",
                 watermark: str = "30 minutes") -> DataFrame:
    """Watermarked tumbling-window aggregation — same expressions as the
    batch q_stream_tumble; on a stream, state for windows older than the
    watermark is evicted and late rows beyond it are dropped."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("window.start").alias("window_start"),
                F.col("window.end").alias("window_end"),
                "event_type", "n_events", "sum_value")
    )


def sessionized(events: DataFrame, gap: str = "30 minutes",
                watermark: str = "30 minutes") -> DataFrame:
    """Watermarked session-window aggregation (merging state per user)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("session_window.start").alias("session_start"),
                F.col("session_window.end").alias("session_end"),
                "user_id", "n_events")
    )


def stream_static_enrich(events: DataFrame, dim: DataFrame,
                         on: F.Column, how: str = "inner") -> DataFrame:
    """Stream-static enrichment join: every micro-batch joins against
    the (batch) dimension DataFrame — stateless, no watermark needed
    (unlike stream-stream joins, the static side is fully known each
    trigger; Spark re-evaluates the static plan per micro-batch, so a
    parquet-backed dim picks up new files between triggers).

    The dim is broadcast-hinted: at scale the stream side is unbounded
    and must never shuffle for an enrichment lookup — the classic
    dimension-join discipline (`lib/hippo_claim_crossover.rb:229-235`'s
    code-table lookups, streaming edition)."""
    return events.join(F.broadcast(dim), on, how)


def dedup_stream(events: DataFrame, keys: list[str],
                 watermark: str = "30 minutes") -> DataFrame:
    """Streaming exact dedup: drop re-deliveries of the same key within
    the watermark horizon (``dropDuplicatesWithinWatermark``) — the
    streaming counterpart of operators/dedup.exact_dedup for at-least-once
    sources (Kafka redeliveries, retried file loads).

    At scale the state store holds one entry per key seen within the
    watermark window, and — unlike plain ``dropDuplicates`` on a stream,
    whose state grows forever — eviction is bounded by the watermark, so
    state is O(keys per horizon), not O(stream lifetime)."""
    return (
        events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(keys)
    )


def interval_join(left: DataFrame, right: DataFrame,
                  key: str = "user_id",
                  upper: str = "4 hours",
                  watermark: str = "4 hours",
                  how: str = "inner") -> DataFrame:
    """Stream-stream interval join: pair each `left` event with the `right`
    events of the same ``key`` that occur within ``[left.ts, left.ts +
    upper]`` — the attribution shape (view → purchase within N hours).

    The SAME expression runs batch and streaming (Structured Streaming's
    contract). On two streams, Spark requires exactly what this builds —
    a watermark on BOTH sides plus a time-range join condition — and uses
    them to bound the join state: each side's state store retains only
    rows young enough to still find a match under the other side's
    watermark, so state is O(events per horizon), not O(stream lifetime).
    In batch the same plan is one hash-partition shuffle per side on
    ``key`` (SortMergeJoin) with the range condition as a post-filter —
    no range explosion, scale-safe.

    ``gap_us`` is exact BIGINT µs arithmetic (no float), so results are
    bit-comparable across engines. ``timestampdiff(MICROSECOND, ...)``
    operates directly on both TIMESTAMP and TIMESTAMP_NTZ (batch fixtures
    carry NTZ, the stream schema TIMESTAMP) with no timezone round-trip —
    the earlier cast-to-TIMESTAMP formulation relied on session-tz offsets
    cancelling, which breaks when a DST transition falls inside the
    interval in a non-UTC session timezone.

    ``how="left_outer"`` emits left rows with no match in their interval —
    on streams, only once the right watermark has passed the interval's
    end (the row is then provably matchless), which is why outer
    stream-stream joins REQUIRE the watermark+range bound: without it the
    "no match yet" state could never finalize. gap_us is NULL for the
    unmatched rows.
    """
    l = left.select(F.col("event_id").alias("left_id"),
                    F.col(key).alias("join_key"),
                    F.col("ts").alias("left_ts"))
    r = right.select(F.col("event_id").alias("right_id"),
                     F.col(key).alias("right_key"),
                     F.col("ts").alias("right_ts"))
    if l.isStreaming:
        l = l.withWatermark("left_ts", watermark)
    if r.isStreaming:
        r = r.withWatermark("right_ts", watermark)
    cond = ((F.col("join_key") == F.col("right_key"))
            & (F.col("right_ts") >= F.col("left_ts"))
            & (F.col("right_ts")
               <= F.col("left_ts") + F.expr(f"INTERVAL {upper}")))
    return (
        l.join(r, cond, how)
        .select(F.col("left_id"), F.col("right_id"),
                F.col("join_key"),
                F.expr("timestampdiff(MICROSECOND, left_ts, right_ts)")
                .alias("gap_us"))
    )


def write_foreach_batch(result: DataFrame, out_dir: str,
                        checkpoint_dir: str,
                        partitions: int | None = None) -> None:
    """Sink surface: ``foreachBatch`` writeStream — each micro-batch
    arrives as a *batch* DataFrame, so any batch writer (partitioned
    parquet here, MERGE INTO / JDBC upsert in production) becomes a
    streaming sink. The (batch_id, checkpoint) pair is what makes redelivery
    idempotent: a replayed batch id overwrites its own output. Drains with
    availableNow, same as run_to_memory."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        (batch_df.withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(out_dir))

    with stream_shuffle_scope(result.sparkSession, partitions):
        q = (result.writeStream.foreachBatch(_write)
             .option("checkpointLocation", checkpoint_dir)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()


def run_to_parquet(result: DataFrame, out_dir: str,
                   checkpoint: str,
                   partitions: int | None = None) -> None:
    """Drain the stream into a parquet FILE sink (availableNow) — the
    fault-tolerant sink whose commit log makes checkpoint RESTARTS
    exactly-once (the memory sink refuses to recover); q_stream_resume
    runs two of these against one checkpoint to pin the contract."""
    with stream_shuffle_scope(result.sparkSession, partitions):
        q = (result.writeStream.format("parquet")
             .option("path", out_dir)
             .option("checkpointLocation", checkpoint)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()


def run_to_memory(result: DataFrame, name: str,
                  output_mode: str = "complete",
                  checkpoint: str | None = None,
                  partitions: int | None = None) -> None:
    """Drain the stream into an in-memory table (tests/dev): availableNow
    processes everything currently in the source, then stops. Passing
    ``checkpoint`` persists source offsets + operator state across
    separate runs — the restart-recovery contract (q_stream_resume); the
    memory SINK itself is per-run, so a resumed run's table holds only
    the output its own batches emit."""
    w = (result.writeStream.format("memory").queryName(name)
         .outputMode(output_mode).trigger(availableNow=True))
    if checkpoint is not None:
        w = w.option("checkpointLocation", checkpoint)
    with stream_shuffle_scope(result.sparkSession, partitions):
        q = w.start()
        q.awaitTermination()


def land_batch_file(df: DataFrame, src_dir: str, batch_idx: int) -> None:
    """Materialize ONE single-file parquet micro-batch input under
    ``src_dir`` with its mtime forced monotone in ``batch_idx`` (the
    file source's modification-time ordering then never depends on
    write latency). Callable incrementally — a resume-style run lands
    the first splits, drains, then lands more against the same
    directory. Pinned-run streaming-harness setup — the single-file
    coalesce is NOT a production path; production feeds the same
    operators from Kafka."""
    import glob
    import os
    import shutil

    os.makedirs(src_dir, exist_ok=True)
    stage = f"{src_dir}.stage"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
    dst = os.path.join(src_dir, f"batch-{batch_idx}.parquet")
    shutil.copyfile(part, dst)
    os.utime(dst, (1_000_000_000 + batch_idx * 100,) * 2)
    shutil.rmtree(stage)


def ensure_event_batches(spark: SparkSession, df: DataFrame,
                         sf_dir: str, prefix: str = "evbatch",
                         key_col: str = "event_id",
                         n_batches: int = 3) -> str:
    """Exists-guarded SHARED source dir for the real-table 3-batch
    stream fixtures (r15): the batch files are a deterministic function
    of (sf_dir, key_col, n_batches), so q_stream_state/q_stream_rocksdb
    re-running ``fn()`` per timed bench run were re-writing identical
    input files every time. Source synthesis is input setup (the
    stand-in for a Kafka topic), not the measured operator — the same
    exists-guard discipline as the binaryFile and bucketed-table
    fixtures. CHECKPOINTS stay per-run (a reused checkpoint would turn
    a fresh run into a resume); only the source dir is shared, as a
    ``session.fixture_dir`` keyed by session app-id (so the
    stale-scratch pruner reclaims it) + sf tag."""
    import hashlib

    from hippo_claim_crossover_spark.session import fixture_dir

    # r16 (ADVICE): key the shared dir by the projected schema too — two
    # callers with identical defaults but different projections must
    # never read each other's fixture.
    schema_tag = hashlib.md5(
        df.schema.simpleString().encode()).hexdigest()[:8]
    return fixture_dir(
        spark, f"{prefix}-{key_col}-{n_batches}-{schema_tag}", sf_dir,
        lambda src: write_batch_files(df, src, key_col, n_batches))


def write_batch_files(df: DataFrame, src_dir: str, key_col: str,
                      n_batches: int = 3) -> None:
    """Materialize a DataFrame as ``n_batches`` single-file parquet
    micro-batch inputs under ``src_dir``, split deterministically by
    ``key_col % n_batches`` (see :func:`land_batch_file` for the
    mtime/production caveats)."""
    from pyspark.sql import functions as F

    for b in range(n_batches):
        land_batch_file(df.where(F.col(key_col) % n_batches == b),
                        src_dir, b)
