"""Structured Streaming tests: watermarked tumbling windows and session
windows over a file-source stream, drained with availableNow into the
memory sink, checked against the equivalent batch aggregation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hippo_claim_crossover_spark.io import load_table
from hippo_claim_crossover_spark.session import conf_scope
from hippo_claim_crossover_spark.streaming import (
    read_event_stream,
    run_to_memory,
    sessionized,
    tumbling_agg,
)

EVENT_SCHEMA = ("event_id long, ts timestamp, user_id long, "
                "event_type string, value double, props string")
ROCKSDB = {"spark.sql.streaming.stateStore.providerClass":
           "org.apache.spark.sql.execution.streaming.state."
           "RocksDBStateStoreProvider"}


@pytest.fixture(scope="module")
def stream_src(spark, sf_dir, tmp_path_factory):
    # Stage the (µs-converted) events as a streaming source directory.
    path = str(tmp_path_factory.mktemp("events_stream"))
    # repartition (not coalesce: that's only an upper bound and the local
    # fixture scan is a single partition) → exactly 2 part files, so
    # maxFilesPerTrigger=1 yields 2 micro-batches.
    load_table(spark, sf_dir, "events").repartition(2).write.mode(
        "overwrite").parquet(path)
    return path


def test_tumbling_stream_matches_batch(spark, sf_dir, stream_src):
    stream = read_event_stream(spark, stream_src)
    assert stream.isStreaming
    run_to_memory(tumbling_agg(stream), "tumble_out", "complete")
    got = {(r["window_start"], r["event_type"]): r["n_events"]
           for r in spark.table("tumble_out").collect()}

    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("window_start"),
                "event_type", "n_events")
    )
    want = {(r["window_start"], r["event_type"]): r["n_events"]
            for r in batch.collect()}
    assert got == want


def test_session_stream_runs(spark, stream_src):
    stream = read_event_stream(spark, stream_src)
    run_to_memory(sessionized(stream), "session_out", "complete")
    rows = spark.table("session_out").collect()
    assert rows
    # session invariant: end = last event + gap >= start + gap
    for r in rows:
        assert r["session_end"] > r["session_start"]
        assert r["n_events"] >= 1


def test_watermark_is_applied(spark, stream_src):
    stream = read_event_stream(spark, stream_src)
    plan = tumbling_agg(stream, watermark="42 minutes")
    assert "42 minutes" in plan._jdf.queryExecution().analyzed().toString()


def test_stateful_cumulative_profile_across_microbatches(spark, sf_dir,
                                                         stream_src):
    """applyInPandasWithState: state must carry across micro-batches —
    maxFilesPerTrigger=1 over the 2-file source forces 2 batches; the final
    update per user must equal the whole-table batch aggregate."""
    from hippo_claim_crossover_spark.streaming import cumulative_user_profile

    stream = read_event_stream(spark, stream_src, max_files_per_trigger=1)
    run_to_memory(cumulative_user_profile(stream), "profile_out", "update")
    out = spark.table("profile_out").collect()
    # update mode emits one row per user per touched batch; the cumulative
    # count is monotone, so the max per user is the final state.
    got = {}
    for r in out:
        prev = got.get(r["user_id"], (0, 0.0))
        got[r["user_id"]] = max(prev, (r["n_events"], r["sum_value"]))

    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 2)
             .alias("s"))
    )
    want = {r["user_id"]: (r["n"], r["s"]) for r in batch.collect()}
    assert got == want
    # and at least one user must have been emitted twice (two batches)
    from collections import Counter
    emits = Counter(r["user_id"] for r in out)
    assert max(emits.values()) == 2


def test_dedup_stream_drops_redeliveries(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicate event_ids delivered within
    the watermark horizon must come out once."""
    import datetime as dt

    from hippo_claim_crossover_spark.streaming import dedup_stream

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, 10, "click", 1.0, None),
        (1, t0, 10, "click", 1.0, None),           # exact redelivery
        (2, t0 + dt.timedelta(minutes=1), 11, "view", 2.0, None),
        (2, t0 + dt.timedelta(minutes=2), 11, "view", 2.0, None),  # same id
        (3, t0 + dt.timedelta(minutes=3), 12, "click", 3.0, None),
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, EVENT_SCHEMA).write.parquet(src)
    stream = read_event_stream(spark, src)
    run_to_memory(dedup_stream(stream, ["event_id"]), "dedup_out", "append")
    out = spark.table("dedup_out").collect()
    assert sorted(r["event_id"] for r in out) == [1, 2, 3]


def test_interval_join_stream_matches_batch(spark, sf_dir, stream_src):
    """Stream-stream interval join: the same interval_join expression over
    two streaming sides (forcing the multi-batch path with
    maxFilesPerTrigger=1) must emit exactly the batch join's pairs —
    inner-join results stream out as they match; watermarks only bound
    state, never drop on-time rows under availableNow."""
    from hippo_claim_crossover_spark.streaming import interval_join

    def sides(df):
        return (df.filter(F.col("event_type") == "view"),
                df.filter(F.col("event_type") == "purchase"))

    stream = read_event_stream(spark, stream_src, max_files_per_trigger=1)
    joined = interval_join(*sides(stream), upper="24 hours",
                           watermark="48 hours")
    assert joined.isStreaming
    run_to_memory(joined, "ivj_out", "append")
    got = {(r["left_id"], r["right_id"], r["gap_us"])
           for r in spark.table("ivj_out").collect()}

    batch = interval_join(*sides(load_table(spark, sf_dir, "events")),
                          upper="24 hours")
    want = {(r["left_id"], r["right_id"], r["gap_us"])
            for r in batch.collect()}
    assert got == want and want


def test_foreach_batch_sink_writes_batches(spark, stream_src, tmp_path):
    """foreachBatch sink: every micro-batch lands as parquet stamped with
    its batch_id; 2 source files + maxFilesPerTrigger=1 => 2 batch ids,
    and the union of batches equals the source row count."""
    from hippo_claim_crossover_spark.streaming import write_foreach_batch

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = read_event_stream(spark, stream_src, max_files_per_trigger=1)
    write_foreach_batch(stream.select("event_id", "ts", "user_id"),
                        out_dir, ckpt)
    got = spark.read.parquet(out_dir)
    n_src = spark.read.parquet(stream_src).count()
    assert got.count() == n_src
    batch_ids = {r["batch_id"] for r in got.select("batch_id").distinct().collect()}
    assert batch_ids == {0, 1}


def _protobuf_available() -> bool:
    # transformWithState's state-server protocol is protobuf-encoded; the
    # container ships no google.protobuf, so the TWS Python driver worker
    # cannot start here (ImportError inside StateMessage_pb2). The operator
    # itself is environment-gated, same policy as the multimodal codec stub.
    try:
        from google.protobuf import descriptor  # noqa: F401
        return True
    except ImportError:
        return False


@pytest.mark.skipif(not _protobuf_available(),
                    reason="transformWithState needs google.protobuf "
                           "(absent in this container)")
def test_transform_with_state_profile_topk(spark, sf_dir, stream_src):
    """transformWithStateInPandas (Spark 4 stateful-processor API): both
    state variables — the ValueState totals and the bounded ListState
    top-3 — must carry across micro-batches and end equal to the
    whole-table batch aggregate. Requires the RocksDB state store
    provider (the HDFS-backed default does not support TWS)."""
    from hippo_claim_crossover_spark.streaming import profile_with_topk

    with conf_scope(spark, ROCKSDB):
        stream = read_event_stream(spark, stream_src, max_files_per_trigger=1)
        run_to_memory(profile_with_topk(stream), "tws_out", "update")
    out = spark.table("tws_out").collect()
    got = {}
    for r in out:
        prev = got.get(r["user_id"])
        cur = (r["n_events"], r["sum_value"], r["top1"], r["top2"], r["top3"])
        if prev is None or cur[0] > prev[0]:
            got[r["user_id"]] = cur

    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc())
    tops = (e.where(F.col("value").isNotNull())
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 3)
            .groupBy("user_id")
            .agg(F.collect_list(F.struct("rk", "value")).alias("tv")))
    totals = (e.groupBy("user_id")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.round(F.sum(F.coalesce("value", F.lit(0.0))), 2)
                   .alias("s")))
    want = {}
    for r in totals.join(tops, "user_id", "left").collect():
        tv = sorted(r["tv"] or [], key=lambda x: x["rk"])
        vals = [x["value"] for x in tv] + [None] * 3
        want[r["user_id"]] = (r["n"], r["s"], vals[0], vals[1], vals[2])
    assert got == want
    # state really crossed batches: someone was emitted in both
    from collections import Counter
    assert max(Counter(r["user_id"] for r in out).values()) == 2


def test_checkpoint_restart_processes_only_new_files(spark, tmp_path):
    """Exactly-once resume: a foreachBatch query drained with availableNow,
    stopped, then restarted against the SAME checkpoint after a new file
    lands must process only the new file — the committed offsets in the
    checkpoint are the source of truth, so no event is written twice and
    none is lost. This is the operational contract that makes a 100 TB
    ingest pipeline safe to kill and resume."""
    import datetime as dt
    import glob
    import shutil

    from hippo_claim_crossover_spark.streaming import write_foreach_batch
    from hippo_claim_crossover_spark.streaming.ops import (
        EVENT_STREAM_SCHEMA,
        read_event_stream,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    base = dt.datetime(2024, 1, 1, 10, 0)

    def land(eids, fname):
        stage = str(tmp_path / "stage")
        rows = [(i, base + dt.timedelta(minutes=i), 1, "click", float(i),
                 None) for i in eids]
        (spark.createDataFrame(rows, EVENT_STREAM_SCHEMA)
         .coalesce(1).write.mode("overwrite").parquet(stage))
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        shutil.os.makedirs(src, exist_ok=True)
        shutil.copyfile(part, f"{src}/{fname}")
        shutil.rmtree(stage)

    passthrough = lambda s: s.select("event_id", "user_id", "value")  # noqa: E731

    land([1, 2, 3], "a.parquet")
    write_foreach_batch(passthrough(read_event_stream(spark, src)), out, ckpt)
    first = {r.event_id for r in spark.read.parquet(out).collect()}
    assert first == {1, 2, 3}

    land([4, 5], "b.parquet")
    write_foreach_batch(passthrough(read_event_stream(spark, src)), out, ckpt)
    rows = spark.read.parquet(out).collect()
    # every event exactly once across both runs, batch ids disjoint
    ids = sorted(r.event_id for r in rows)
    assert ids == [1, 2, 3, 4, 5]
    by_batch = {}
    for r in rows:
        by_batch.setdefault(r.batch_id, set()).add(r.event_id)
    assert by_batch.keys() == {0, 1}
    assert by_batch[1] == {4, 5}


def test_interval_join_left_outer_emits_unmatched_after_watermark(
        spark, tmp_path):
    """Left-outer stream-stream interval join: a view with no purchase in
    its interval is emitted (NULL-matched) only once the right watermark
    proves it matchless; a view whose deadline the watermark has not yet
    passed stays in state and is NOT emitted."""
    import datetime as dt
    import glob
    import shutil

    from hippo_claim_crossover_spark.streaming import interval_join
    from hippo_claim_crossover_spark.streaming.ops import (
        EVENT_STREAM_SCHEMA,
        read_event_stream,
        run_to_memory,
    )

    src = str(tmp_path / "src")
    shutil.os.makedirs(src)
    base = dt.datetime(2024, 1, 1, 10, 0)

    def land(rows, i):
        stage = str(tmp_path / "stage")
        (spark.createDataFrame(rows, EVENT_STREAM_SCHEMA)
         .coalesce(1).write.mode("overwrite").parquet(stage))
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        dst = f"{src}/batch-{i}.parquet"
        shutil.copyfile(part, dst)
        shutil.os.utime(dst, (1_000_000_000 + i * 100,) * 2)
        shutil.rmtree(stage)

    ev = lambda eid, minutes, uid, etype: (  # noqa: E731
        eid, base + dt.timedelta(minutes=minutes), uid, etype, 1.0, None)

    land([ev(1, 0, 1, "view"), ev(2, 30, 1, "purchase"),
          ev(3, 5, 2, "view")], 0)                        # u2: no purchase
    land([ev(4, 360, 3, "view"), ev(5, 360, 4, "purchase")], 1)  # wm → 15:00
    land([ev(6, 420, 9, "view")], 2)                      # drives eviction

    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    views = stream.where(F.col("event_type") == "view")
    buys = stream.where(F.col("event_type") == "purchase")
    out = interval_join(views, buys, key="user_id", upper="1 hour",
                        watermark="1 hour", how="left_outer")
    run_to_memory(out, "outer_join_out", "append")
    rows = {r.left_id: (r.right_id, r.gap_us)
            for r in spark.table("outer_join_out").collect()}
    assert rows[1] == (2, 30 * 60 * 1_000_000)   # matched pair
    assert rows[3] == (None, None)               # proven matchless, emitted
    # u3 (view 16:00, deadline 17:00 > final wm 16:00) must still be held
    assert 4 not in rows


def test_tumbling_agg_with_rocksdb_state_store(spark, sf_dir, stream_src):
    """The RocksDB state store provider — the 100 TB streaming-state
    backend (state lives off-heap on local disk with changelog
    checkpointing instead of on the JVM heap, so per-executor state is
    bounded by disk, not memory) — must run the same watermarked tumbling
    aggregation as the default HDFS-backed provider with identical
    results. Unlike transformWithStateInPandas (protobuf-gated in this
    container), plain stateful aggs exercise RocksDB with no extra
    dependency, so this pins the provider actually working here."""
    with conf_scope(spark, ROCKSDB):
        stream = read_event_stream(spark, stream_src)
        run_to_memory(tumbling_agg(stream), "tumble_rocks_out", "complete")
    got = {(r["window_start"], r["event_type"]): (r["n_events"],
                                                  r["sum_value"])
           for r in spark.table("tumble_rocks_out").collect()}
    run_to_memory(tumbling_agg(read_event_stream(spark, stream_src)),
                  "tumble_hdfs_out", "complete")
    want = {(r["window_start"], r["event_type"]): (r["n_events"],
                                                   r["sum_value"])
            for r in spark.table("tumble_hdfs_out").collect()}
    assert got == want and got


def test_stream_static_join_matches_batch(spark, sf_dir, stream_src):
    """Stream-static enrichment: the streaming form of q_stream_static
    (readStream ⋈ broadcast dim, per-segment rollup) must equal the
    batch result after draining both micro-batches — stateless on the
    stream side, no watermark required."""
    from hippo_claim_crossover_spark.plans import ALL_SPECS
    from hippo_claim_crossover_spark.streaming.ops import (
        read_event_stream, stream_static_enrich)

    stream = read_event_stream(spark, stream_src, max_files_per_trigger=1)
    dim = (load_table(spark, sf_dir, "customer")
           .select(F.col("c_custkey").alias("user_id"), "c_mktsegment"))
    agg = (stream_static_enrich(stream, dim, "user_id")
           .groupBy(F.col("c_mktsegment").alias("segment"), "event_type")
           .agg(F.count(F.lit(1)).alias("n_events")))
    run_to_memory(agg, "ss_out", "complete")
    got = {(r["segment"], r["event_type"]): r["n_events"]
           for r in spark.table("ss_out").collect()}
    want = {(r["segment"], r["event_type"]): r["n_events"]
            for r in ALL_SPECS["q_stream_static"].fn(spark, sf_dir)
            .collect()}
    assert got == want


def test_chained_stateful_operators_in_one_query(spark, stream_src):
    """Spark 4 supports multiple stateful operators in one streaming
    query (append mode): a watermarked 10-minute tumbling count
    re-aggregated into 30-minute buckets downstream — two stateful
    aggs chained, no intermediate sink. Verified against the same
    two-level batch aggregation."""
    from hippo_claim_crossover_spark.streaming.ops import read_event_stream

    stream = read_event_stream(spark, stream_src, max_files_per_trigger=1)

    def two_level(df):
        lvl1 = (df.withWatermark("ts", "30 minutes")
                .groupBy(F.window("ts", "10 minutes"), "event_type")
                .agg(F.count(F.lit(1)).alias("n10")))
        return (lvl1
                .groupBy(F.window(F.col("window"), "30 minutes"),
                         "event_type")
                .agg(F.sum("n10").alias("n30"))
                .select(F.col("window.start").alias("w30"),
                        "event_type", "n30"))

    run_to_memory(two_level(stream), "chain_out", "append")
    got = {(r["w30"], r["event_type"]): r["n30"]
           for r in spark.table("chain_out").collect()}

    batch = spark.read.schema(EVENT_SCHEMA).parquet(stream_src)
    want = {(r["w30"], r["event_type"]): r["n30"]
            for r in two_level(batch).collect()}
    # append mode only emits windows the watermark has closed; every
    # emitted window must match batch, and most windows must be emitted
    # (only the final open 30-min window may be withheld).
    assert got
    assert all(got[k] == v for k, v in want.items() if k in got)
    assert len(got) >= len(want) - 2


def test_stream_resume_state_survives_restart(spark, tmp_path):
    """The q_stream_resume contract, asserted directly with the sink
    snapshotted BETWEEN the two runs: run 1 finalizes nothing (zero
    parquet data files in the sink after it stops), run 2 shares only
    the checkpoint with run 1, its file-source offset log skips run
    1's files, yet the finalized windows carry run 1's counts —
    constructible only from recovered state."""
    import datetime as dt
    import glob

    from hippo_claim_crossover_spark.plans.timeseries import (
        _write_stream_batches)
    from hippo_claim_crossover_spark.streaming.ops import (
        read_event_stream, run_to_parquet, tumbling_agg)

    base = dt.datetime(2024, 1, 1, 10, 0)

    def ev(eid, minutes, etype, value):
        return (eid, base + dt.timedelta(minutes=minutes), 1, etype,
                value, None)

    run1 = [[ev(1, 0, "click", 1.0), ev(2, 4, "click", 2.0),
             ev(3, 9, "view", 3.0), ev(4, 15, "click", 10.0)]]
    run2 = [[ev(5, 90, "click", 4.0)], [ev(6, 91, "view", 5.0)]]

    src, ckpt, out = (str(tmp_path / d) for d in ("src", "ckpt", "out"))
    _write_stream_batches(spark, run1, src)
    run_to_parquet(tumbling_agg(read_event_stream(
        spark, src, max_files_per_trigger=1)), out, ckpt)
    # run 1's watermark (9:45) finalizes no window: the sink commits
    # only EMPTY part files before the restart (the property the pinned
    # VALUES oracle relies on — every output row postdates the restart)
    run1_files = set(glob.glob(f"{out}/part-*.parquet"))
    assert spark.read.parquet(out).count() == 0

    _write_stream_batches(spark, run2, src, start=1)
    run_to_parquet(tumbling_agg(read_event_stream(
        spark, src, max_files_per_trigger=1)), out, ckpt)
    run2_files = set(glob.glob(f"{out}/part-*.parquet")) - run1_files
    assert run2_files, "run 2 committed new sink files"

    rows = {(r["window_start"].minute, r["event_type"]):
            (r["n_events"], r["sum_value"])
            for r in spark.read.parquet(out).collect()}
    assert rows == {(0, "click"): (2, 3.0), (0, "view"): (1, 3.0),
                    (10, "click"): (1, 10.0)}
    # and every emitted row lives in a run-2 file: recovered state, not
    # a re-read of run 1's input, produced the finalized counts
    assert spark.read.parquet(*sorted(run2_files)).count() == len(rows)


def test_stream_drains_scope_shuffle_partitions(spark, tmp_path):
    """The drain helpers (r15) must plan the stream at the harness
    stream-partition count and RESTORE the session conf afterwards —
    a leaked value would silently re-plan every later batch query."""
    import datetime as dt

    from hippo_claim_crossover_spark.plans.timeseries import (
        _write_stream_batches)
    from hippo_claim_crossover_spark.streaming import ops

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    assert before != str(ops.STREAM_SHUFFLE_DEFAULT), \
        "fixture session must differ from the stream count for this test"
    base = dt.datetime(2024, 1, 1, 10, 0)
    batches = [[(1, base, 1, "click", 1.0, None),
                (2, base + dt.timedelta(minutes=90), 1, "view", 2.0, None)]]
    src, ckpt, out = (str(tmp_path / d) for d in ("src", "ckpt", "out"))
    _write_stream_batches(spark, batches, src)
    ops.run_to_parquet(ops.tumbling_agg(ops.read_event_stream(spark, src)),
                       out, ckpt)
    assert spark.conf.get(key) == before, "session conf must be restored"
    # the checkpoint's state operator really ran at the scoped count
    import glob as _g
    state_parts = _g.glob(f"{ckpt}/state/0/*")
    n_state = len([p for p in state_parts
                   if p.rsplit("/", 1)[-1].isdigit()])
    assert n_state == ops.STREAM_SHUFFLE_DEFAULT, state_parts


def test_sized_stream_partitions_scale_with_input_bytes(tmp_path):
    """The real-table sizing helper scales with input bytes, skips
    ``_``/``.``-prefixed metadata files and floors at the fixture
    default."""
    from hippo_claim_crossover_spark.streaming import ops

    src = tmp_path / "src"
    src.mkdir()
    (src / "batch-0.parquet").write_bytes(b"x" * 1024)
    (src / "_complete").write_bytes(b"ok")            # metadata: ignored
    (src / ".batch-0.parquet.crc").write_bytes(b"x" * 1024)  # ignored
    assert ops.sized_stream_partitions(str(src)) == ops.STREAM_SHUFFLE_DEFAULT
    assert ops.sized_stream_partitions(str(src), target_bytes=256) == 4
    assert ops.sized_stream_partitions(str(src), target_bytes=128) == 8
