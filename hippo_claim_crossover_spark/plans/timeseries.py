"""Time-window operators over events.ts (§2b "streaming-shaped" batch):
tumbling, sliding, and session windows + date_trunc rollups.

These use the exact API Structured Streaming uses (`window()`,
`session_window()`), so the same plan runs incrementally under
``readStream`` — see ``streaming/`` for the streaming wrappers with
watermarks. In batch they compile to one hash-partition shuffle on the
window/session key.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hippo_claim_crossover_spark.plans.base import (
    QuerySpec,
    duck_round,
    money_micros,
    money_sum,
    money_sum_sql,
    t,
)
from hippo_claim_crossover_spark.session import (
    fixture_dir,
    materialize,
    run_dir,
)

# DuckDB: naive timestamp from epoch seconds (events.ts is micro-precision;
# bucket starts are whole seconds so BIGINT arithmetic is exact).
_TS = "TIMESTAMP '1970-01-01 00:00:00' + to_seconds({expr})"


def q_stream_tumble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 10-minute window agg (groupBy(window(ts, '10 minutes'))) —
    identical API batch & streaming."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             money_sum(F.col("value")).alias("sum_value"))
        .select(F.col("window.start").alias("window_start"),
                F.col("window.end").alias("window_end"),
                "event_type", "n_events", "sum_value")
    )


ORACLE_STREAM_TUMBLE = f"""
WITH b AS (
  SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS ws, *
  FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events)
)
SELECT {_TS.format(expr="ws")} AS window_start,
       {_TS.format(expr="ws + 600")} AS window_end,
       event_type, count(*) AS n_events,
       {money_sum_sql("value")} AS sum_value
FROM b GROUP BY ws, event_type
"""


def q_stream_slide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (10-minute length, 5-minute slide): each event lands
    in exactly two windows."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             money_sum(F.col("value")).alias("sum_value"))
        .select(F.col("window.start").alias("window_start"),
                F.col("window.end").alias("window_end"),
                "n_events", "sum_value")
    )


ORACLE_STREAM_SLIDE = f"""
WITH b AS (
  SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS s0, *
  FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events)
), x AS (
  SELECT unnest([s0, s0 - 300]) AS ws, * FROM b
)
SELECT {_TS.format(expr="ws")} AS window_start,
       {_TS.format(expr="ws + 600")} AS window_end,
       count(*) AS n_events,
       {money_sum_sql("value")} AS sum_value
FROM x GROUP BY ws
"""


def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session window per user, 30-minute gap. Spark merges events whose
    timestamps are strictly less than gap apart; session_end = last event +
    gap. The oracle replicates with gaps-and-islands (lag + cumulative sum),
    new session when diff >= gap — matching session_window's strict-merge."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             money_sum(F.col("value")).alias("sum_value"))
        .select(F.col("session_window.start").alias("session_start"),
                F.col("session_window.end").alias("session_end"),
                "user_id", "n_events", "sum_value")
    )


ORACLE_STREAM_SESSION = f"""
WITH marked AS (
  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                 OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
            THEN 1 ELSE 0 END AS new_s
  FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events)
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked
)
SELECT min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       user_id, count(*) AS n_events,
       {money_sum_sql("value")} AS sum_value
FROM sess GROUP BY user_id, sid
"""


def _write_stream_batches(spark: SparkSession, batches, src: str,
                          start: int = 0) -> None:
    """Land a pinned micro-batch sequence under ``src`` for a file-source
    streaming run: one single-file parquet batch per element, mtimes
    forced monotone (``streaming.ops.land_batch_file``). Single-drain
    callers land their literal ``batches`` once per session through
    ``session.fixture_dir`` (input synthesis is the Kafka stand-in, not
    the operator) and keep checkpoints/outputs in a per-run
    ``session.run_dir`` — a reused checkpoint would turn a fresh run
    into a resume. q_stream_resume lands INCREMENTALLY into its own run
    dir instead: a pre-populated shared dir would leak later splits into
    the first drain."""
    from hippo_claim_crossover_spark.io import local_frame
    from hippo_claim_crossover_spark.streaming.ops import (
        EVENT_STREAM_SCHEMA,
        land_batch_file,
    )

    for i, rows in enumerate(batches, start=start):
        # local_frame (Arrow/pandas path): the plain-list
        # createDataFrame builds a 32-slice PYTHON RDD whose
        # coalesce(1) chains every pickled slice into one task — one
        # Python-worker round trip PER SLICE, measured ~4.4s per 2-row
        # batch write vs ~0.1s here (r15; was the dominant cost of
        # every streaming harness query in the sweep).
        land_batch_file(local_frame(spark, rows, EVENT_STREAM_SCHEMA),
                        src, i)


def _stream_fixture(spark: SparkSession, batches, name: str) -> str:
    """The session's shared source dir holding ``batches``."""
    return fixture_dir(spark, name, None,
                       lambda src: _write_stream_batches(spark, batches, src))


def q_stream_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark/late-data semantics as a declared query: a real
    two-micro-batch Structured Streaming run (file source,
    maxFilesPerTrigger=1) through the same ``tumbling_agg`` used by the
    streaming wrappers, drained with availableNow into a memory sink in
    APPEND mode (only watermark-finalized windows are emitted).

    Deterministic fixture (fixed timestamps, not wall clock), built around
    Spark's actual two-phase watermark semantics — late input is filtered
    with the *previous* batch's watermark while state eviction uses the
    current one, so a row must arrive ≥2 batches after the
    watermark-advancing data to be provably dropped:
    - batch 0: three rows in the 10:00–10:10 window plus one row at 11:00,
      which advances the watermark to 10:30 (30-minute delay);
    - batch 1: one on-time row at 11:01 — during this batch the 10:00
      window finalizes (end 10:10 ≤ watermark 10:30) and is emitted;
    - batch 2: a LATE row at 10:05 (now behind the filter watermark 10:30
      ⇒ dropped, numRowsDroppedByWatermark=1) and a row at 11:05 whose
      window never finalizes.

    Expected output is therefore exactly the finalized 10:00 window
    *without* the late row — hash-checked against a VALUES oracle, which
    pins the drop semantics harder than the rows-only check a streaming
    query would normally get. Unit tests in tests/test_streaming.py cover
    the incremental state machinery itself.
    """
    from hippo_claim_crossover_spark.streaming.ops import (
        read_event_stream,
        run_to_memory,
        tumbling_agg,
    )

    base = dt.datetime(2024, 1, 1, 10, 0)

    def ev(eid, minutes, etype, value):
        return (eid, base + dt.timedelta(minutes=minutes), 1, etype,
                value, None)

    batches = [
        [ev(1, 0, "click", 1.0), ev(2, 4, "click", 2.0),
         ev(3, 9, "view", 3.0), ev(4, 60, "click", 9.0)],
        [ev(5, 61, "click", 4.0)],
        [ev(6, 5, "click", 100.0),   # late: behind the 10:30 watermark
         ev(7, 65, "view", 5.0)],
    ]

    src = _stream_fixture(spark, batches, "late_src")
    run = run_dir(spark, "q_stream_late")
    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    out_name = f"late_out_{os.path.basename(run)}"
    run_to_memory(tumbling_agg(stream), out_name, output_mode="append",
                  checkpoint=f"{run}/ckpt")
    return spark.table(out_name)


ORACLE_STREAM_LATE = """
SELECT * FROM (VALUES
  (TIMESTAMP '2024-01-01 10:00:00', TIMESTAMP '2024-01-01 10:10:00',
   'click', CAST(2 AS BIGINT), CAST(3.0 AS DOUBLE)),
  (TIMESTAMP '2024-01-01 10:00:00', TIMESTAMP '2024-01-01 10:10:00',
   'view', CAST(1 AS BIGINT), CAST(3.0 AS DOUBLE))
) AS t(window_start, window_end, event_type, n_events, sum_value)
"""


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` as a declared, VALUES-pinned
    query (the q_stream_late recipe): a real 4-micro-batch availableNow
    run through ``streaming.dedup_stream`` — streaming exact dedup whose
    state is bounded by the watermark horizon, the property that
    separates it from plain ``dropDuplicates`` (whose stream state grows
    forever).

    The fixture exercises all three behaviors deterministically
    (delay = 30 min; the file source's batch order is mtime-pinned):
    - batch 0: event 1 delivered twice in one batch (identical rows) +
      event 2 → both emitted once;
    - batch 1: event 1 REdelivered at 10:10 (gap 10 min < horizon ⇒
      suppressed; the first copy's values survive) + event 3 at 12:00,
      which advances the watermark to 11:30;
    - batch 2: event 5 only — during it the state store evicts event 1's
      entry (expiry 10:00 + 30 min < 11:30; eviction runs one batch
      behind the watermark advance, the same two-phase asymmetry
      q_stream_late documents for the late filter);
    - batch 3: event 1 arrives again at 11:40 — after eviction and ahead
      of the 11:30 filter watermark, so it is emitted AGAIN (the
      "within watermark" bound, pinned as a second output row for the
      same key) + event 4.

    The VALUES oracle pins exactly which six rows survive — including
    which redelivery's payload won — which a rows-only streaming check
    never could. State-machinery unit tests live in
    tests/test_streaming.py; this query is the driver-checked face.
    """
    from hippo_claim_crossover_spark.streaming.ops import (
        dedup_stream,
        read_event_stream,
        run_to_memory,
    )

    base = dt.datetime(2024, 1, 1, 10, 0)

    def ev(eid, minutes, uid, etype, value):
        return (eid, base + dt.timedelta(minutes=minutes), uid, etype,
                value, None)

    batches = [
        [ev(1, 0, 10, "click", 1.0),
         ev(1, 0, 10, "click", 1.0),      # same-batch exact redelivery
         ev(2, 5, 11, "view", 2.0)],
        [ev(1, 10, 10, "click", 55.0),    # within horizon: suppressed
         ev(3, 120, 12, "purchase", 3.0)],  # advances watermark to 11:30
        [ev(5, 121, 14, "view", 9.0)],    # eviction batch (id 1 expires)
        [ev(1, 100, 10, "click", 7.0),    # state evicted: emitted again
         ev(4, 125, 13, "click", 4.0)],
    ]

    src = _stream_fixture(spark, batches, "dedup_src")
    run = run_dir(spark, "q_stream_dedup")
    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    out_name = f"stream_dedup_out_{os.path.basename(run)}"
    run_to_memory(dedup_stream(stream, ["event_id"], "30 minutes"),
                  out_name, output_mode="append", checkpoint=f"{run}/ckpt")
    return spark.table(out_name).select(
        "event_id", "ts", "user_id", "event_type", "value")


ORACLE_STREAM_DEDUP = """
SELECT * FROM (VALUES
  (CAST(1 AS BIGINT), TIMESTAMP '2024-01-01 10:00:00',
   CAST(10 AS BIGINT), 'click', CAST(1.0 AS DOUBLE)),
  (CAST(2 AS BIGINT), TIMESTAMP '2024-01-01 10:05:00',
   CAST(11 AS BIGINT), 'view', CAST(2.0 AS DOUBLE)),
  (CAST(3 AS BIGINT), TIMESTAMP '2024-01-01 12:00:00',
   CAST(12 AS BIGINT), 'purchase', CAST(3.0 AS DOUBLE)),
  (CAST(5 AS BIGINT), TIMESTAMP '2024-01-01 12:01:00',
   CAST(14 AS BIGINT), 'view', CAST(9.0 AS DOUBLE)),
  (CAST(1 AS BIGINT), TIMESTAMP '2024-01-01 11:40:00',
   CAST(10 AS BIGINT), 'click', CAST(7.0 AS DOUBLE)),
  (CAST(4 AS BIGINT), TIMESTAMP '2024-01-01 12:05:00',
   CAST(13 AS BIGINT), 'click', CAST(4.0 AS DOUBLE))
) AS t(event_id, ts, user_id, event_type, value)
"""


def q_stream_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join declared in batch: each `view` event
    paired with the same user's `purchase` events in the following 4 hours
    (attribution). The expression comes from ``streaming.interval_join`` —
    identical plan batch & streaming (on two streams the watermarks bound
    both state stores); in batch it is ONE shuffle per side on ``user_id``
    with the time range as a SortMergeJoin post-filter, no range explosion.
    ``gap_us`` is exact BIGINT µs arithmetic on both engines."""
    from hippo_claim_crossover_spark.streaming.ops import interval_join

    e = t(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view")
    buys = e.filter(F.col("event_type") == "purchase")
    return interval_join(views, buys, key="user_id", upper="4 hours")


ORACLE_STREAM_INTERVAL = """
WITH e AS (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
  FROM events
)
SELECT l.event_id AS left_id, r.event_id AS right_id,
       l.user_id AS join_key,
       epoch_us(r.ts) - epoch_us(l.ts) AS gap_us
FROM e l JOIN e r
  ON l.user_id = r.user_id
 AND l.event_type = 'view' AND r.event_type = 'purchase'
 AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 4 HOUR
"""


def q_stream_interval_lo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer interval join — q_stream_interval plus the matchless
    view events (NULL right_id/gap_us): the attribution query that also
    counts the views that did NOT convert. Same
    ``streaming.interval_join`` expression with ``how="left_outer"``; on
    two streams the unmatched rows emit only once the right watermark
    passes the interval end (provably matchless), which is exactly why
    outer stream-stream joins require the watermark + time-range bound.
    In batch: one shuffle per side on ``user_id``, NULL-extending
    SortMergeJoin — this oracle-checks the batch parity of the streaming
    left-outer shape (unit-proven in tests/test_streaming.py)."""
    from hippo_claim_crossover_spark.streaming.ops import interval_join

    e = t(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view")
    buys = e.filter(F.col("event_type") == "purchase")
    return interval_join(views, buys, key="user_id", upper="4 hours",
                         how="left_outer")


ORACLE_STREAM_INTERVAL_LO = """
WITH e AS (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
  FROM events
), l AS (SELECT * FROM e WHERE event_type = 'view'),
   r AS (SELECT * FROM e WHERE event_type = 'purchase')
SELECT l.event_id AS left_id, r.event_id AS right_id,
       l.user_id AS join_key,
       epoch_us(r.ts) - epoch_us(l.ts) AS gap_us
FROM l LEFT JOIN r
  ON l.user_id = r.user_id
 AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 4 HOUR
"""


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: users whose first ``view`` is followed by
    a ``click``, whose first such click is followed by a ``purchase`` —
    the product-analytics sequence query. Each stage is one grouped MIN
    plus an equi-join back on ``user_id``: every shuffle is on the same
    key, so at 100 TB the three stages are co-partitioned hash aggregates
    (AQE reuses the partitioning) — never a per-user self-join explosion
    or an ordered-row window over the whole stream."""
    e = t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (e.where(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("t_view")))
    c = (e.where(F.col("event_type") == "click")
         .join(v, "user_id")
         .where(F.col("ts") >= F.col("t_view"))
         .groupBy("user_id").agg(F.min("ts").alias("t_click")))
    p = (e.where(F.col("event_type") == "purchase")
         .join(c, "user_id")
         .where(F.col("ts") >= F.col("t_click"))
         .groupBy("user_id").agg(F.min("ts").alias("t_buy")))

    def stage(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(name).alias("stage"), "n_users")

    return (stage(v, "viewed")
            .unionByName(stage(c, "clicked_after_view"))
            .unionByName(stage(p, "purchased_after_click")))


ORACLE_FUNNEL = """
WITH e AS (
  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
), v AS (
  SELECT user_id, min(ts) AS t_view FROM e
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts >= v.t_view
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS t_buy
  FROM e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
  GROUP BY e.user_id
)
SELECT 'viewed' AS stage, count(*) AS n_users FROM v
UNION ALL SELECT 'clicked_after_view', count(*) FROM c
UNION ALL SELECT 'purchased_after_click', count(*) FROM p
"""


def q_time_trunc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar rollup: per-day event counts (date_trunc — partition-prune
    key at scale; a date-partitioned table would prune these scans)."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.countDistinct("user_id").alias("n_users"))
    )


ORACLE_TIME_TRUNC = """
SELECT date_trunc('day', ts) AS day, count(*) AS n_events,
       count(DISTINCT user_id) AS n_users
FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events) GROUP BY date_trunc('day', ts)
"""


def q_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-free calendar rollup via a RECURSIVE CTE (Spark 4 WITH
    RECURSIVE): generate the 1995 month spine, left-join per-month claim
    counts — empty months surface as 0 instead of vanishing (the
    difference between a groupBy rollup and a reporting calendar).

    The recursion is 12 driver-side rows; the work stays in the one
    hash-aggregated join against orders. The same pattern at 100 TB
    seeds a broadcast spine against a date-partitioned fact — the spine
    never shuffles."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql("""
      WITH RECURSIVE months(m) AS (
        SELECT TIMESTAMP '1995-01-01'
        UNION ALL
        SELECT m + INTERVAL 1 MONTH FROM months
        WHERE m < TIMESTAMP '1995-12-01'
      )
      SELECT m AS month_start,
             count(o_orderkey) AS n_claims
      FROM months LEFT JOIN orders
        ON date_trunc('MONTH', o_orderdate) = CAST(m AS TIMESTAMP_NTZ)
      GROUP BY m
    """)


ORACLE_DATE_SPINE = """
WITH RECURSIVE months(m) AS (
  SELECT TIMESTAMP '1995-01-01'
  UNION ALL
  SELECT m + INTERVAL 1 MONTH FROM months
  WHERE m < TIMESTAMP '1995-12-01'
)
SELECT m AS month_start, count(o_orderkey) AS n_claims
FROM months LEFT JOIN orders
  ON date_trunc('month', o_orderdate) = m
GROUP BY m
"""


def q_stream_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join (batch parity): the event stream
    joined against the broadcast customer dimension on user_id, rolled
    up per (market segment, event type). The streaming form is
    byte-identical (streaming/ops.py:stream_static_enrich — same
    expressions over readStream; proven equal across micro-batches in
    tests/test_streaming.py). Stateless on the stream side: unlike
    stream-stream joins there is no watermark and no join state — each
    micro-batch probes the broadcast dim, so the unbounded side never
    shuffles."""
    from hippo_claim_crossover_spark.streaming.ops import (
        stream_static_enrich,
    )

    e = t(spark, sf_dir, "events")
    dim = (t(spark, sf_dir, "customer")
           .select(F.col("c_custkey").alias("user_id"), "c_mktsegment"))
    return (
        stream_static_enrich(e, dim, "user_id")
        .groupBy(F.col("c_mktsegment").alias("segment"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.countDistinct("user_id").alias("n_users"),
             money_sum(F.col("value")).alias("sum_value"))
    )


ORACLE_STREAM_STATIC = f"""
SELECT c.c_mktsegment AS segment, e.event_type,
       count(*) AS n_events, count(DISTINCT e.user_id) AS n_users,
       {money_sum_sql("e.value")} AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment, e.event_type
"""


_DAY_US = 86_400_000_000
_EPOCH_US = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {c})"


def q_join_interval_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join at scale: user sessions (30-min-gap
    session windows) against calendar-day intervals — "which days did
    each session touch, and for how long" — via the BINNED equi-join
    rewrite (operators/joins.py binned_interval_join). The naive
    formulation is a theta join that plans as a nested-loop cross
    product (the q_join_range cliff); binning makes it a plain shuffle
    on a long bin key with a residual predicate and a canonical-bin
    dedup rule, O(intervals·bins-per-interval). Durations are integer
    micros end-to-end, so the rollup hash-matches the gaps-and-islands
    oracle."""
    from hippo_claim_crossover_spark.operators.joins import (
        binned_interval_join,
    )

    e = t(spark, sf_dir, "events")
    sess = (e.groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("user_id",
                    F.expr(_EPOCH_US.format(c="session_window.start"))
                    .alias("s_start"),
                    F.expr(_EPOCH_US.format(c="session_window.end"))
                    .alias("s_end")))
    days = (e.select(F.to_date("ts").alias("day")).distinct()
            .select("day",
                    (F.datediff(F.col("day"), F.lit("1970-01-01")
                                .cast("date")).cast("long") * _DAY_US)
                    .alias("d_start"))
            .withColumn("d_end", F.col("d_start") + _DAY_US))
    j = binned_interval_join(sess, days, "s_start", "s_end",
                             "d_start", "d_end", _DAY_US)
    overlap = (F.least(F.col("s_end"), F.col("d_end"))
               - F.greatest(F.col("s_start"), F.col("d_start")))
    return (j.groupBy("user_id", F.col("day").cast("string").alias("day"))
            .agg(F.count(F.lit(1)).alias("n_sessions"),
                 F.sum(overlap).alias("total_overlap_us")))


ORACLE_JOIN_INTERVAL_BINNED = """
WITH marked AS (
  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                 OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
            THEN 1 ELSE 0 END AS new_s
  FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id FROM events)
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id,
         date_diff('microsecond', TIMESTAMP '1970-01-01', min(ts))
           AS s_start,
         date_diff('microsecond', TIMESTAMP '1970-01-01',
                   max(ts) + INTERVAL 30 MINUTE) AS s_end
  FROM (SELECT *, sum(new_s) OVER (PARTITION BY user_id
              ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW) AS sid FROM marked)
  GROUP BY user_id, sid
), days AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day,
         date_diff('microsecond', TIMESTAMP '1970-01-01',
                   CAST(CAST(ts AS DATE) AS TIMESTAMP)) AS d_start
  FROM events
)
SELECT user_id, CAST(day AS VARCHAR) AS day,
       count(*) AS n_sessions,
       CAST(sum(least(s_end, d_start + 86400000000)
                - greatest(s_start, d_start)) AS BIGINT)
         AS total_overlap_us
FROM sess JOIN days
  ON s_start < d_start + 86400000000 AND d_start < s_end
GROUP BY user_id, day
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — the standard product-analytics rollup:
    users cohorted by first-signup day, purchase activity bucketed by
    whole weeks since cohort entry, counting distinct active users and
    purchase volume per (cohort, offset) cell.

    Two shuffles on user_id (cohort build + activity join — the join
    reuses the grouped side's partitioning) and one on the small
    (cohort, offset) key. Week offsets use integer-day arithmetic
    (``floor(datediff/7)``), not calendar ``date_trunc('week')``, so
    cohort boundaries are independent of ISO-week conventions and both
    engines bucket identically — including negative offsets for
    purchases that precede the user's first signup (kept: they're a
    data-quality signal of their own)."""
    e = t(spark, sf_dir, "events")
    first = (e.where(F.col("event_type") == "signup")
             .groupBy("user_id")
             .agg(F.to_date(F.min("ts")).alias("cohort_day")))
    act = e.where(F.col("event_type") == "purchase").join(first, "user_id")
    return (
        act.select(
            "user_id", "cohort_day",
            F.floor(F.datediff(F.to_date("ts"), F.col("cohort_day"))
                    / F.lit(7.0)).cast("long").alias("week_offset"))
        .groupBy(F.col("cohort_day").cast("string").alias("cohort_day"),
                 "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"),
             F.count(F.lit(1)).alias("n_purchases"))
    )


ORACLE_COHORT_RETENTION = """
WITH first AS (
  SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
  FROM events WHERE event_type = 'signup' GROUP BY user_id)
SELECT CAST(cohort_day AS VARCHAR) AS cohort_day,
       CAST(floor(date_diff('day', cohort_day, CAST(ts AS DATE)) / 7.0)
            AS BIGINT) AS week_offset,
       count(DISTINCT e.user_id) AS n_active,
       count(*) AS n_purchases
FROM events e JOIN first USING (user_id)
WHERE event_type = 'purchase'
GROUP BY 1, 2
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands): split each user's event
    stream into sessions at >4h inactivity gaps and emit one row per
    session with its ordinal, span, and size.

    This is the windows-function twin of ``q_stream_session``: that one
    exercises the ``session_window()`` aggregate API (which also runs
    incrementally under readStream); this one is the batch backfill
    formulation every warehouse uses — ``lag`` marks session starts,
    a running ``sum`` over the same window assigns ordinals, then one
    groupBy collapses the islands. Both windows and the final groupBy
    share the user_id partitioning, so the whole query is ONE shuffle +
    one in-partition sort at any scale.

    Gap arithmetic rides exact integer microseconds
    (``timestampdiff(MICROSECOND, ...)`` — works identically on
    TIMESTAMP and TIMESTAMP_NTZ, no timezone round-trip), so the
    session-break predicate is an exact int compare in both engines.
    """
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.expr(
        "timestampdiff(MICROSECOND, lag(ts) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id), ts)")
    is_new = F.when(gap_us.isNull() | (gap_us > F.lit(4 * 3600 * 1_000_000)),
                    F.lit(1)).otherwise(F.lit(0))
    return (
        e.withColumn("new_sess", is_new)
        .withColumn("session_id", F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("session_start"),
             F.max("ts").alias("session_end"),
             F.count(F.lit(1)).alias("n_events"))
        .withColumn("duration_us", F.expr(
            "timestampdiff(MICROSECOND, session_start, session_end)"))
    )


ORACLE_SESSIONIZE = """
WITH g AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
         epoch_us(CAST(ts AS TIMESTAMP))
           - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER
             (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
), s AS (
  SELECT user_id, ts,
         CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 14400000000
                       THEN 1 ELSE 0 END) OVER
           (PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM g
)
SELECT user_id, session_id,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events,
       epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
FROM s GROUP BY user_id, session_id
"""


def q_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill + LOCF + linear interpolation over a daily spine — the
    TimescaleDB `time_bucket_gapfill/locf/interpolate` feature set,
    built from a generated spine left-joined to the sparse actuals and
    two IGNORE NULLS windows (carry-forward below, next-observation
    above) per series.

    Scale shape: the spine is `sequence()`-generated (never a stored
    table), the join key is (series, day) so actuals shuffle once, and
    both windows plus the join share the series partitioning — one
    exchange end-to-end. The interpolation fraction rides exact integer
    day indexes, so the filled values hash-match the oracle despite
    being ratios."""
    lo, hi = "1995-01-01 00:00:00", "1995-02-28 00:00:00"
    o = t(spark, sf_dir, "orders")
    actual = (
        o.where((F.col("o_orderdate") >= lo.split(" ")[0])
                & (F.col("o_orderdate") < "1995-03-01"))
        .groupBy(F.col("o_orderpriority").alias("priority"),
                 F.date_trunc("day", F.col("o_orderdate")).alias("day"))
        .agg(F.count(F.lit(1)).alias("n_orders"),
             money_sum(F.col("o_totalprice")).alias("value"))
    )
    spine = (
        o.select("o_orderpriority").distinct()
        .select(F.col("o_orderpriority").alias("priority"))
        .crossJoin(spark.sql(
            f"SELECT explode(sequence(timestamp_ntz'{lo}', "
            f"timestamp_ntz'{hi}', interval 1 day)) AS day"))
    )
    di = F.expr(f"timestampdiff(DAY, timestamp_ntz'{lo}', day)")
    joined = (spine.join(actual, ["priority", "day"], "left")
              .withColumn("di", di))
    wb = Window.partitionBy("priority").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    wf = Window.partitionBy("priority").orderBy("day").rowsBetween(
        Window.currentRow, Window.unboundedFollowing)
    prev_v = F.last("value", ignorenulls=True).over(wb)
    prev_d = F.last(F.when(F.col("value").isNotNull(), F.col("di")),
                    ignorenulls=True).over(wb)
    next_v = F.first("value", ignorenulls=True).over(wf)
    next_d = F.first(F.when(F.col("value").isNotNull(), F.col("di")),
                     ignorenulls=True).over(wf)
    interp = (
        F.when(F.col("value").isNotNull(), F.col("value"))
        .when(prev_v.isNull() | next_v.isNull(), F.lit(None))
        .otherwise(prev_v + (next_v - prev_v)
                   * (F.col("di") - prev_d).cast("double")
                   / (next_d - prev_d).cast("double"))
    )
    return joined.select(
        "priority", "day",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        duck_round(prev_v, 6).alias("locf_value"),
        duck_round(interp, 6).alias("interp_value"))


ORACLE_GAPFILL = f"""
WITH actual AS (
  SELECT o_orderpriority AS priority,
         date_trunc('day', CAST(o_orderdate AS TIMESTAMP)) AS day,
         count(*) AS n_orders,
         {money_sum_sql("o_totalprice")} AS value
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
    AND o_orderdate <  TIMESTAMP '1995-03-01'
  GROUP BY 1, 2
), spine AS (
  SELECT p.priority, d.day
  FROM (SELECT DISTINCT o_orderpriority AS priority FROM orders) p,
       (SELECT unnest(generate_series(TIMESTAMP '1995-01-01',
               TIMESTAMP '1995-02-28', INTERVAL 1 DAY)) AS day) d
), j AS (
  SELECT s.priority, s.day, a.n_orders, a.value,
         date_diff('day', TIMESTAMP '1995-01-01', s.day) AS di
  FROM spine s LEFT JOIN actual a
    ON s.priority = a.priority AND s.day = a.day
), w AS (
  SELECT *,
    last_value(value IGNORE NULLS) OVER
      (PARTITION BY priority ORDER BY day ROWS UNBOUNDED PRECEDING)
      AS prev_v,
    last_value(CASE WHEN value IS NOT NULL THEN di END IGNORE NULLS) OVER
      (PARTITION BY priority ORDER BY day ROWS UNBOUNDED PRECEDING)
      AS prev_d,
    first_value(value IGNORE NULLS) OVER
      (PARTITION BY priority ORDER BY day
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
    first_value(CASE WHEN value IS NOT NULL THEN di END IGNORE NULLS) OVER
      (PARTITION BY priority ORDER BY day
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_d
  FROM j
)
SELECT priority, day, coalesce(n_orders, 0) AS n_orders,
       floor(prev_v * 1e6 + 0.5) / 1e6 AS locf_value,
       floor(CASE WHEN value IS NOT NULL THEN value
                  WHEN prev_v IS NULL OR next_v IS NULL THEN NULL
                  ELSE prev_v + (next_v - prev_v)
                       * CAST(di - prev_d AS DOUBLE)
                       / CAST(next_d - prev_d AS DOUBLE)
             END * 1e6 + 0.5) / 1e6 AS interp_value
FROM w
"""


def q_rolling_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day rolling revenue: per order day, that day's revenue
    plus the exact 7-day trailing window (RANGE frame on the day number,
    so calendar gaps are respected — a ROWS frame would silently span
    them).

    Scale shape: the raw fact table collapses to ONE row per calendar
    day FIRST (partial/final agg — the shuffle carries day keys, not
    orders).  The window then runs over the bounded daily series
    (≤ days-in-history rows — ~36.5k rows for a century), so the
    no-partition-key window is an Exchange over an already-tiny
    aggregate, not the fact cliff; the docstring-of-record for when a
    global window IS acceptable.  Revenue rides integer micros through
    both the daily and the rolling sums — exact at any accumulation
    order.  Reported for 1996 to keep output bounded; the window sees
    the prior year's tail so January totals are correct.
    """
    o = (t(spark, sf_dir, "orders")
         .where((F.col("o_orderdate") >= "1995-12-20")
                & (F.col("o_orderdate") < "1997-01-01")))
    daily = (o.groupBy(F.col("o_orderdate").cast("date").alias("d"))
             .agg(F.count(F.lit(1)).alias("n_orders"),
                  F.sum(money_micros(F.col("o_totalprice")))
                  .alias("rev_u"))
             .withColumn("dayno", F.datediff(F.col("d"),
                                             F.lit("1995-01-01"))))
    w = (Window.orderBy("dayno").rangeBetween(-6, 0))
    return (daily
            .withColumn("roll_rev_u", F.sum("rev_u").over(w))
            .withColumn("roll_orders", F.sum("n_orders").over(w))
            .where(F.col("d") >= "1996-01-01")
            .select(F.date_format("d", "yyyy-MM-dd").alias("day"),
                    "n_orders",
                    (F.col("rev_u").cast("double") / F.lit(1e6))
                    .alias("day_rev"),
                    "roll_orders",
                    (F.col("roll_rev_u").cast("double") / F.lit(1e6))
                    .alias("rolling_7d_rev"))
            .orderBy("day"))


ORACLE_ROLLING_7D = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         count(*) AS n_orders,
         sum(CAST(floor(o_totalprice * 1e6 + 0.5) AS BIGINT)) AS rev_u,
         datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
           AS dayno
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1995-12-20'
    AND o_orderdate <  TIMESTAMP '1997-01-01'
  GROUP BY 1, 4
), r AS (
  SELECT d, n_orders, rev_u,
         sum(rev_u) OVER (ORDER BY dayno
                          RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
           AS roll_rev_u,
         sum(n_orders) OVER (ORDER BY dayno
                             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
           AS roll_orders
  FROM daily
)
SELECT strftime(d, '%Y-%m-%d') AS day, n_orders,
       CAST(rev_u AS DOUBLE) / 1e6 AS day_rev,
       CAST(roll_orders AS BIGINT) AS roll_orders,
       CAST(roll_rev_u AS DOUBLE) / 1e6 AS rolling_7d_rev
FROM r WHERE d >= DATE '1996-01-01' ORDER BY day
"""


def q_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union coverage: give each event a 5-minute activity
    interval, merge overlaps per user (gaps-and-islands over the
    running max of interval ends), and report each user's merged island
    count and total covered time — the dwell/uptime/SLA primitive that
    naive ``sum(duration)`` double-counts.

    Everything rides exact integer microseconds (``unix_micros`` /
    ``epoch_us`` agree engine-for-engine), the island detector is the
    standard ``start > cummax(previous ends)`` flag + running flag sum,
    and both windows partition by user — per-user event history is the
    natural bound, and no global window exists.  One shuffle on user_id
    total: the windows and the final aggregate share it.
    """
    iv = (t(spark, sf_dir, "events")
          .select("user_id",
                  F.unix_micros(F.col("ts").cast("timestamp")).alias("s"))
          .withColumn("e", F.col("s") + F.lit(300_000_000)))
    wprev = (Window.partitionBy("user_id").orderBy("s", "e")
             .rowsBetween(Window.unboundedPreceding, -1))
    flagged = iv.withColumn(
        "new_island",
        F.when(F.col("s") > F.coalesce(F.max("e").over(wprev),
                                       F.lit(-1).cast("long")), 1)
        .otherwise(0))
    wrun = (Window.partitionBy("user_id").orderBy("s", "e")
            .rowsBetween(Window.unboundedPreceding, 0))
    islands = (flagged
               .withColumn("island", F.sum("new_island").over(wrun))
               .groupBy("user_id", "island")
               .agg(F.min("s").alias("i_start"),
                    F.max("e").alias("i_end"),
                    F.count(F.lit(1)).alias("n_events")))
    return (islands.groupBy("user_id")
            .agg(F.sum("n_events").alias("n_events"),
                 F.count(F.lit(1)).alias("n_islands"),
                 (F.sum(F.col("i_end") - F.col("i_start"))
                  .cast("double") / F.lit(1e6)).alias("covered_seconds"))
            .orderBy("user_id"))


ORACLE_INTERVAL_COVERAGE = """
WITH iv AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS s,
         epoch_us(CAST(ts AS TIMESTAMP)) + 300000000 AS e
  FROM events
), flagged AS (
  SELECT user_id, s, e,
         CASE WHEN s > coalesce(max(e) OVER (
                  PARTITION BY user_id ORDER BY s, e
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  -1)
              THEN 1 ELSE 0 END AS new_island
  FROM iv
), isl AS (
  SELECT user_id, s, e,
         sum(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS island
  FROM flagged
), merged AS (
  SELECT user_id, island, min(s) AS i_start, max(e) AS i_end,
         count(*) AS n_events
  FROM isl GROUP BY user_id, island
)
SELECT user_id, CAST(sum(n_events) AS BIGINT) AS n_events,
       count(*) AS n_islands,
       CAST(sum(i_end - i_start) AS DOUBLE) / 1e6 AS covered_seconds
FROM merged GROUP BY user_id ORDER BY user_id
"""


def q_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC resampling: per event type per 1-hour bucket, the open /
    high / low / close of the value stream plus the event count — the
    bar-building primitive of every metrics/financial downsampler, and
    the canonical use of FIRST/LAST-by-time aggregation (not a window:
    one partial/final ``min_by``/``max_by`` aggregate, so the shuffle
    carries one row per (type, hour) at any scale).

    Open/close ride ``min_by``/``max_by`` on the unique time-ordered
    ``event_id`` (same deterministic-tiebreak contract as
    q_attribution, so bars never depend on timestamp collisions);
    high/low/count are plain aggregates; values pass through RAW (no
    cross-engine arithmetic anywhere). The bucket id is exact BIGINT
    division of epoch-microseconds."""
    e = (t(spark, sf_dir, "events")
         .select("event_type", "event_id", "value",
                 F.expr("unix_micros(CAST(ts AS TIMESTAMP)) "
                        "div 3600000000").alias("hour_id")))
    return (e.groupBy("event_type", "hour_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min_by("value", "event_id").alias("open"),
                 F.max("value").alias("high"),
                 F.min("value").alias("low"),
                 F.max_by("value", "event_id").alias("close"))
            .orderBy("event_type", "hour_id"))


ORACLE_OHLC = """
SELECT event_type,
       epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hour_id,
       count(*) AS n_events,
       arg_min(value, event_id) AS open,
       max(value) AS high,
       min(value) AS low,
       arg_max(value, event_id) AS close
FROM events
GROUP BY event_type, hour_id
ORDER BY event_type, hour_id
"""


_ATTR_LOOKBACK_US = 7 * 86_400 * 1_000_000   # 7-day attribution window


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion attribution, first-touch AND last-touch models in one
    pass: each purchase is attributed to the earliest / latest
    click-or-view touch by the same user inside a 7-day lookback, then
    conversions and revenue roll up per (model, channel) — the
    marketing-analytics primitive behind every channel-ROI report.

    Shape at 100 TB: purchases ⋈ touches is an equi-join on ``user_id``
    (the natural partition key; per-user history is the bounded domain,
    same contract as sessionize/cohort) with the lookback as a residual
    range predicate; the join output collapses to ONE row per purchase
    via min_by/max_by on ``event_id`` (unique, time-ordered — the
    deterministic tiebreak both engines share, so attribution never
    depends on timestamp collisions), and the final rollup is a tiny
    (model × channel) partial/final aggregate over exploded
    two-model structs. Revenue rides exact integer micros; untouched
    purchases fall into the ``(none)`` channel through the left join.
    """
    e = (t(spark, sf_dir, "events")
         .select("user_id", "event_id", "event_type", "value",
                 F.unix_micros(F.col("ts").cast("timestamp")).alias("tsu")))
    touches = (e.where(F.col("event_type").isin("click", "view"))
               .select(F.col("user_id").alias("t_user"),
                       F.col("event_id").alias("t_id"),
                       F.col("tsu").alias("t_tsu"),
                       F.col("event_type").alias("channel")))
    purch = (e.where(F.col("event_type") == "purchase")
             .select("user_id", F.col("event_id").alias("p_id"),
                     F.col("tsu").alias("p_tsu"),
                     money_micros(F.col("value")).alias("val_u")))
    cond = ((F.col("user_id") == F.col("t_user"))
            & (F.col("t_tsu") <= F.col("p_tsu"))
            & (F.col("t_tsu") > F.col("p_tsu") - _ATTR_LOOKBACK_US))
    per = (purch.join(touches, cond, "left")
           .groupBy("p_id", "val_u")
           .agg(F.min_by("channel", "t_id").alias("first_ch"),
                F.max_by("channel", "t_id").alias("last_ch")))
    stacked = per.select(F.explode(F.array(
        F.struct(F.lit("first_touch").alias("model"),
                 F.coalesce("first_ch", F.lit("(none)")).alias("channel"),
                 F.col("val_u")),
        F.struct(F.lit("last_touch").alias("model"),
                 F.coalesce("last_ch", F.lit("(none)")).alias("channel"),
                 F.col("val_u")))).alias("s")).select("s.*")
    return (stacked.groupBy("model", "channel")
            .agg(F.count(F.lit(1)).alias("n_conversions"),
                 (F.sum("val_u").cast("double") / F.lit(1e6))
                 .alias("attributed_value"))
            .orderBy("model", "channel"))


ORACLE_ATTRIBUTION = f"""
WITH e AS (
  SELECT user_id, event_id, event_type, value,
         epoch_us(CAST(ts AS TIMESTAMP)) AS tsu
  FROM events
), touches AS (
  SELECT user_id AS t_user, event_id AS t_id, tsu AS t_tsu,
         event_type AS channel
  FROM e WHERE event_type IN ('click', 'view')
), purch AS (
  SELECT user_id, event_id AS p_id, tsu AS p_tsu,
         CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS val_u
  FROM e WHERE event_type = 'purchase'
), per AS (
  SELECT p.p_id, p.val_u,
         arg_min(t.channel, t.t_id) AS first_ch,
         arg_max(t.channel, t.t_id) AS last_ch
  FROM purch p LEFT JOIN touches t
    ON p.user_id = t.t_user AND t.t_tsu <= p.p_tsu
       AND t.t_tsu > p.p_tsu - {_ATTR_LOOKBACK_US}
  GROUP BY p.p_id, p.val_u
), stacked AS (
  SELECT 'first_touch' AS model, coalesce(first_ch, '(none)') AS channel,
         val_u FROM per
  UNION ALL
  SELECT 'last_touch', coalesce(last_ch, '(none)'), val_u FROM per
)
SELECT model, channel, count(*) AS n_conversions,
       CAST(sum(val_u) AS DOUBLE) / 1e6 AS attributed_value
FROM stacked GROUP BY model, channel ORDER BY model, channel
"""


# EWMA window: 8 taps, decay 0.75 per step. 0.75^j has mantissa 3^j < 2^53
# for every tap, so each weight is an EXACT double and the fixed
# left-associated multiply-add chain below evaluates bit-identically in
# Spark and DuckDB — no rounding wrapper needed until the final display.
EWMA_TAPS = 8
EWMA_DECAY = 0.75
_EWMA_W = [EWMA_DECAY ** j for j in range(EWMA_TAPS)]


def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of event values —
    the recency-weighted feature every behavioral model wants — with a
    TRUNCATED kernel (8 taps of 0.75-decay, ≥ 90% of the infinite
    kernel's mass) so the state per row is a fixed 8-value window
    frame, not an unbounded recurrence.

    The infinite EWMA recurrence is inherently sequential; the
    power-weight rewrite that parallelizes it overflows doubles past ~90
    steps. The truncated kernel is the scalable form: ``lag(value, j)``
    for j < 8 over the (user, event_id) window — ONE window node, one
    shuffle on user_id, O(taps) state — with missing taps (first rows of
    each user) renormalized out of the weight sum. Weights are exact
    binary doubles and both engines evaluate the same left-associated
    chain, so the quotient is bit-identical before the display round.
    The per-user rollup keeps the LAST row's EWMA via max_by on the
    unique time-ordered event_id (the repo's first/last discipline).
    """
    w = Window.partitionBy("user_id").orderBy("event_id")
    e = t(spark, sf_dir, "events").select("user_id", "event_id", "value")
    num = F.col("value") * F.lit(_EWMA_W[0])
    den = F.lit(_EWMA_W[0])
    for j in range(1, EWMA_TAPS):
        lj = F.lag("value", j).over(w)
        num = num + F.coalesce(lj, F.lit(0.0)) * F.lit(_EWMA_W[j])
        den = den + F.when(lj.isNull(), F.lit(0.0)) \
                     .otherwise(F.lit(_EWMA_W[j]))
    scored = e.withColumn("ewma", num / den)
    return (scored.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 duck_round(F.max_by("ewma", "event_id"), 4)
                 .alias("last_ewma"),
                 duck_round(F.max_by("value", "event_id"), 4)
                 .alias("last_value"))
            .orderBy("user_id"))


def _ewma_oracle() -> str:
    lags = ",\n         ".join(
        f"lag(value, {j}) OVER "
        f"(PARTITION BY user_id ORDER BY event_id) AS l{j}"
        for j in range(1, EWMA_TAPS))
    num = f"value * {_EWMA_W[0]!r}"
    den = f"{_EWMA_W[0]!r}"
    for j in range(1, EWMA_TAPS):
        num = f"({num} + coalesce(l{j}, 0.0) * {_EWMA_W[j]!r})"
        den = (f"({den} + CASE WHEN l{j} IS NULL THEN 0.0 "
               f"ELSE {_EWMA_W[j]!r} END)")
    return f"""
WITH lagged AS (
  SELECT user_id, event_id, value,
         {lags}
  FROM events
), scored AS (
  SELECT user_id, event_id, value, {num} / {den} AS ewma
  FROM lagged
)
SELECT user_id,
       count(*) AS n_events,
       floor(arg_max(ewma, event_id) * 1e4 + 0.5) / 1e4 AS last_ewma,
       floor(arg_max(value, event_id) * 1e4 + 0.5) / 1e4 AS last_value
FROM scored GROUP BY user_id ORDER BY user_id
"""


ORACLE_EWMA = _ewma_oracle()


def q_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / MAU per observed day — the most-asked product
    analytics metric family, and the one a trailing-sum window CANNOT
    compute (q_rolling_7d sums values; active users need a trailing
    COUNT DISTINCT, which has no partial/final window form).

    The scalable shape: collapse events to distinct (user, day) pairs
    FIRST (the only fact-sized shuffle), then fan each pair out to the
    trailing windows it serves — a user active on day a contributes to
    WAU(d) for d ∈ [a, a+6] (7 rows) and MAU(d) for d ∈ [a, a+27]
    (28 rows) — and count distinct users per covered day. The fan-out
    factor is the window length, a constant; the alternative (a
    per-day self-join with a BETWEEN range) re-scans the pair table
    per window. Early days carry partial windows by definition (a
    dashboard's first week shows WAU over the available history);
    covered days beyond the observed range drop via the semi join on
    observed days. All integers; day ids are exact epoch-day BIGINTs.
    """
    e = t(spark, sf_dir, "events").select(
        "user_id",
        F.datediff(F.col("ts").cast("date"),
                   F.to_date(F.lit("1970-01-01"))).cast("long")
        .alias("day"))
    ud = materialize(e.distinct(), "user_days")
    days = ud.select("day").distinct()
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))

    def trailing(n_days: int, out: str) -> DataFrame:
        cover = ud.select(
            F.explode(F.sequence(
                F.col("day"), F.col("day") + F.lit(n_days - 1)))
            .alias("day"), "user_id")
        return (cover.join(days, "day", "left_semi")
                .groupBy("day")
                .agg(F.countDistinct("user_id").alias(out)))

    return (dau.join(trailing(7, "wau"), "day")
            .join(trailing(28, "mau"), "day")
            .select(F.date_format(
                F.date_add(F.to_date(F.lit("1970-01-01")),
                           F.col("day").cast("int")),
                "yyyy-MM-dd").alias("d"),
                    "dau", "wau", "mau")
            .orderBy("d"))


ORACLE_ACTIVE_USERS = """
WITH ud AS (
  SELECT DISTINCT user_id,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS BIGINT) AS day
  FROM events
), days AS (
  SELECT DISTINCT day FROM ud
)
SELECT strftime(DATE '1970-01-01' + to_days(CAST(d.day AS INTEGER)), '%Y-%m-%d') AS d,
       CAST(count(DISTINCT CASE WHEN u.day = d.day
                  THEN u.user_id END) AS BIGINT) AS dau,
       CAST(count(DISTINCT CASE WHEN u.day >= d.day - 6
                  THEN u.user_id END) AS BIGINT) AS wau,
       CAST(count(DISTINCT u.user_id) AS BIGINT) AS mau
FROM days d
JOIN ud u ON u.day BETWEEN d.day - 27 AND d.day
GROUP BY d.day
ORDER BY d
"""


# Centered moving-average half-width for the trend (25-hour window).
SEASONAL_HALF = 12
_SEASONAL_N = 2 * SEASONAL_HALF + 1


def q_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition of the hourly value series —
    hour-of-day seasonality after removing a 25-hour centered
    moving-average trend — with every engine-divergent accumulation
    kept INTEGER (the money_micros discipline applied to a time-series
    decomposition, like q_text_entropy applies it to entropy).

    Stages: (1) hourly buckets aggregate value into exact micros — the
    partial/final aggregate crushes event volume to ≤ calendar-hours
    rows, so everything downstream is bounded by the TIME RANGE, not
    the data size (720 rows for the 30-day fixture; 8 760/year at any
    petabyte scale — broadcast-sized by construction, which is why the
    unpartitioned ordered window over the bucket series is safe);
    (2) the centered MA over ±12 hours stays a BIGINT frame sum, and
    only INTERIOR buckets (full 25-term frames, pinned by a count
    check) are decomposed, so the detrended value ``25·v_u − Σ_frame``
    is exact integer micros×25; (3) the hour-of-day seasonal profile
    sums those BIGINTs — order-insensitive — and divides once per
    output row. A full-window decomposition would average variable-n
    frames (doubles) and lose cross-engine exactness at the edges."""
    # Floor-division bucketing (not `div`, which truncates toward zero):
    # identical in both engines for NEGATIVE hour ids too, so pre-1970
    # timestamps bucket consistently (ADVICE r9). The double division is
    # exact here: |unix_micros| < 2^53 until year ~2255.
    e = t(spark, sf_dir, "events").select(
        F.floor(F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
                / F.lit(3600000000.0)).cast("long").alias("hour_id"),
        money_micros(F.col("value")).alias("v_u"))
    hourly = materialize(e.groupBy("hour_id").agg(F.sum("v_u").alias("v_u")),
                         "hourly_totals")
    w = Window.orderBy("hour_id").rowsBetween(-SEASONAL_HALF,
                                              SEASONAL_HALF)
    trended = (hourly
               .withColumn("frame_sum", F.sum("v_u").over(w))
               .withColumn("frame_n", F.count(F.lit(1)).over(w))
               .where(F.col("frame_n") == _SEASONAL_N)
               .withColumn("detr_u25",
                           F.lit(_SEASONAL_N) * F.col("v_u")
                           - F.col("frame_sum")))
    return (trended
            .groupBy(F.pmod(F.col("hour_id"), F.lit(24)).alias("hour"))
            .agg(F.count(F.lit(1)).alias("n_buckets"),
                 duck_round(F.sum("detr_u25").cast("double")
                            / F.count(F.lit(1)).cast("double")
                            / F.lit(float(_SEASONAL_N)) / F.lit(1e6), 4)
                 .alias("seasonal"),
                 duck_round(F.sum("v_u").cast("double")
                            / F.count(F.lit(1)).cast("double")
                            / F.lit(1e6), 4).alias("mean_hourly_value"))
            .orderBy("hour"))


ORACLE_SEASONAL = f"""
WITH hourly AS (
  SELECT CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 3600000000)
              AS BIGINT) AS hour_id,
         CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
           AS v_u
  FROM events GROUP BY hour_id
), trended AS (
  SELECT hour_id, v_u,
         CAST(sum(v_u) OVER w AS BIGINT) AS frame_sum,
         CAST(count(*) OVER w AS BIGINT) AS frame_n
  FROM hourly
  WINDOW w AS (ORDER BY hour_id
               ROWS BETWEEN {SEASONAL_HALF} PRECEDING
               AND {SEASONAL_HALF} FOLLOWING)
), interior AS (
  SELECT hour_id, v_u, {_SEASONAL_N} * v_u - frame_sum AS detr_u25
  FROM trended WHERE frame_n = {_SEASONAL_N}
)
SELECT ((hour_id % 24) + 24) % 24 AS hour,
       count(*) AS n_buckets,
       floor(CAST(sum(detr_u25) AS DOUBLE) / count(*)
             / {_SEASONAL_N}.0 / 1e6 * 1e4 + 0.5) / 1e4 AS seasonal,
       floor(CAST(sum(v_u) AS DOUBLE) / count(*) / 1e6 * 1e4 + 0.5)
         / 1e4 AS mean_hourly_value
FROM interior GROUP BY ((hour_id % 24) + 24) % 24 ORDER BY hour
"""


def q_stream_chained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED STATEFUL operators in ONE streaming query (Spark 4
    append-mode support): ``dropDuplicatesWithinWatermark`` feeding a
    watermarked tumbling aggregate, no intermediate sink — the
    at-least-once ingestion topology (dedup Kafka redeliveries, then
    window) that previously required two jobs and a staging table.

    The fixture proves BOTH states live in one query (VALUES-pinned):
    - batch 0: event 1 at 10:00 (value 1.0) plus its REdelivery at
      10:02 carrying a poisoned value (999.0) — the dedup state
      suppresses it, so the window's sum proves which copy survived —
      and event 2 (view) at 10:05;
    - batch 1: event 3 at 12:00 advances the watermark to 11:30;
    - batch 2: event 4 at 12:10 — during it the 10:00–10:10 window
      finalizes (the one-batch lag q_stream_late documents) with
      counts the dedup already cleaned: click n=1 sum=1.0 (NOT 2 /
      1000.0), view n=1 sum=3.0."""
    from hippo_claim_crossover_spark.streaming.ops import (
        dedup_stream,
        read_event_stream,
        run_to_memory,
    )

    base = dt.datetime(2024, 1, 1, 10, 0)

    def ev(eid, minutes, etype, value):
        return (eid, base + dt.timedelta(minutes=minutes), 1, etype,
                value, None)

    batches = [
        [ev(1, 0, "click", 1.0), ev(1, 2, "click", 999.0),
         ev(2, 5, "view", 3.0)],
        [ev(3, 120, "click", 4.0)],
        [ev(4, 130, "view", 5.0)],
    ]
    src = _stream_fixture(spark, batches, "chained_src")
    run = run_dir(spark, "q_stream_chained")
    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    # ONE watermark for the whole chain (set by dedup_stream; Spark
    # forbids redefining it between chained stateful operators), so the
    # downstream aggregate uses the carried event-time column directly
    # — tumbling_agg's expressions without its withWatermark.
    deduped = dedup_stream(stream, ["event_id"])
    agged = (deduped
             .groupBy(F.window("ts", "10 minutes"), "event_type")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.round(F.sum("value"), 2).alias("sum_value"))
             .select(F.col("window.start").alias("window_start"),
                     F.col("window.end").alias("window_end"),
                     "event_type", "n_events", "sum_value"))
    out_name = f"chained_out_{os.path.basename(run)}"
    run_to_memory(agged, out_name, output_mode="append",
                  checkpoint=f"{run}/ckpt")
    return spark.table(out_name)


ORACLE_STREAM_CHAINED = """
SELECT * FROM (VALUES
  (TIMESTAMP '2024-01-01 10:00:00', TIMESTAMP '2024-01-01 10:10:00',
   'click', CAST(1 AS BIGINT), CAST(1.0 AS DOUBLE)),
  (TIMESTAMP '2024-01-01 10:00:00', TIMESTAMP '2024-01-01 10:10:00',
   'view', CAST(1 AS BIGINT), CAST(3.0 AS DOUBLE))
) AS t(window_start, window_end, event_type, n_events, sum_value)
"""


def q_stream_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECKPOINT RECOVERY as a declared, VALUES-pinned query — the
    exactly-once restart contract every production stream relies on:
    run 1 ingests a batch of rows into windowed-aggregate STATE (no
    window finalizes, the memory sink stays empty), the query STOPS,
    new files arrive, and run 2 — a fresh query sharing only the
    checkpoint directory — emits windows whose counts include run 1's
    rows. The file source's offset log guarantees run 2 never re-reads
    run 1's files, so every emitted row is constructible only if the
    state store survived the restart; a recovery bug would emit zero
    or partial counts and flip the hash red.

    Layout (delay 30 min, 10-min tumbling windows, mtime-pinned batch
    order):
    - run 1 / batch 0: events 1-3 in the 10:00 window + event 4 at
      10:15 (watermark after run 1: 9:45 — nothing finalizes);
    - run 2 / batch 1: event 5 at 11:30 (advances the watermark to
      11:00), batch 2: event 6 at 11:31 (the advance is applied one
      batch later — the two-phase asymmetry q_stream_late documents) —
      during batch 2 the 10:00 and 10:10 windows finalize with run 1's
      counts."""
    from hippo_claim_crossover_spark.streaming.ops import (
        read_event_stream,
        run_to_parquet,
        tumbling_agg,
    )

    base = dt.datetime(2024, 1, 1, 10, 0)

    def ev(eid, minutes, etype, value):
        return (eid, base + dt.timedelta(minutes=minutes), 1, etype,
                value, None)

    run1 = [[ev(1, 0, "click", 1.0), ev(2, 4, "click", 2.0),
             ev(3, 9, "view", 3.0), ev(4, 15, "click", 10.0)]]
    run2 = [[ev(5, 90, "click", 4.0)], [ev(6, 91, "view", 5.0)]]

    run = run_dir(spark, "q_stream_resume")
    src, ckpt, out = f"{run}/src", f"{run}/ckpt", f"{run}/out"
    _write_stream_batches(spark, run1, src)
    run_to_parquet(tumbling_agg(read_event_stream(
        spark, src, max_files_per_trigger=1)), out, ckpt)
    # the restart: new files land, a FRESH query resumes from ckpt
    # into the same exactly-once file sink
    _write_stream_batches(spark, run2, src, start=1)
    run_to_parquet(tumbling_agg(read_event_stream(
        spark, src, max_files_per_trigger=1)), out, ckpt)
    return spark.read.parquet(out)


def q_stream_sink_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-ONCE SINK AUDIT — the operational reconciliation a
    production stream runs against its own transaction logs (the
    q_reconcile idea applied to a streaming sink): after a pinned
    4-batch run (q_stream_resume's event layout in one query: 3 data
    batches + the trailing no-data watermark-flush batch availableNow
    schedules), the audit reads the parquet sink's ``_spark_metadata``
    per-batch manifests, the checkpoint's ``offsets`` and ``commits``
    logs, and the sink directory itself, and reconciles all four. The
    batch universe is the UNION of all three logs — a batch present in
    the offsets log but missing from the sink manifest (a crash
    between offset write and sink commit, the classic in-flight
    residue) still surfaces as a row with ``has_manifest=false``
    instead of silently vanishing. Per batch: rows attributable to
    that batch's manifest files (pinned: the finalized windows land in
    batch 2, every other batch commits only empty part files),
    offset-log / commit-log / manifest presence booleans, every
    manifest file present on disk, and zero orphan part files outside
    any manifest (the exactly-once guarantee readers depend on:
    uncommitted task output must be invisible).

    100 TB shape: every leg is a distributed scan — manifests and
    offset/commit logs via ``wholeTextFiles`` (the DataFrame file
    sources hard-filter any path under a ``_``-prefixed segment, so
    ``_spark_metadata``/checkpoint internals are unreachable to them;
    the Hadoop glob honors explicit patterns, and commit-log files are
    metadata-sized by construction — one small file per batch — so the
    whole-file RDD read is bounded), JSON lines parsed with from_json,
    per-file row counts by grouping the sink read on input_file_name
    (the metadata-log-aware parquet read, so only COMMITTED files
    count), the disk listing via the binaryFile source projecting path
    only (no content I/O). No driver-side directory walk; file counts
    per batch are shuffle-partition-dependent and deliberately NOT
    emitted — row counts are the invariant."""
    from hippo_claim_crossover_spark.streaming.ops import (
        read_event_stream,
        run_to_parquet,
        tumbling_agg,
    )

    base = dt.datetime(2024, 1, 1, 10, 0)

    def ev(eid, minutes, etype, value):
        return (eid, base + dt.timedelta(minutes=minutes), 1, etype,
                value, None)

    batches = [[ev(1, 0, "click", 1.0), ev(2, 4, "click", 2.0),
                ev(3, 9, "view", 3.0), ev(4, 15, "click", 10.0)],
               [ev(5, 90, "click", 4.0)], [ev(6, 91, "view", 5.0)]]
    src = _stream_fixture(spark, batches, "sinkaudit_src")
    # ckpt/out stay PER-RUN: only the input dir is shared
    run = run_dir(spark, "q_stream_sink_audit")
    ckpt, out = f"{run}/ckpt", f"{run}/out"
    run_to_parquet(tumbling_agg(read_event_stream(
        spark, src, max_files_per_trigger=1)), out, ckpt)

    def _basename(col):
        return F.element_at(F.split(col, "/"), -1)

    def _log_files(glob_path):
        # wholeTextFiles: the only Spark source that can list inside a
        # _-prefixed directory (see docstring); one tiny file per batch
        rdd = spark.sparkContext.wholeTextFiles(glob_path)
        # metadata-log COMPACTION files ('9.compact', written every
        # compactInterval batches on longer runs) match the [0-9]* glob
        # but are rollups, not batches — casting them would yield a
        # NULL batch_id row, so admit fully-numeric basenames only
        return (spark.createDataFrame(rdd, "lpath string, content string")
                .withColumn("_base", _basename(F.col("lpath")))
                .where(F.col("_base").rlike("^[0-9]+$"))
                .select(F.col("_base").cast("long").alias("batch_id"),
                        "content"))

    def _log_batches(glob_path):
        return _log_files(glob_path).select("batch_id").distinct()

    manifest = (
        _log_files(f"{out}/_spark_metadata/[0-9]*")
        .select("batch_id", F.explode(F.split("content", "\n"))
                .alias("value"))
        .where(F.col("value").startswith("{"))
        .select("batch_id",
                _basename(F.from_json(
                    "value", "path string, size bigint, action string")
                    .getField("path")).alias("fname")))
    counts = (spark.read.parquet(out)
              .groupBy(_basename(F.input_file_name()).alias("fname"))
              .agg(F.count(F.lit(1)).alias("n")))
    # glob bypasses the sink log on purpose; its hasMetadata WARN is expected
    disk = (spark.read.format("binaryFile").load(f"{out}/part-*")
            .select(_basename(F.col("path")).alias("fname"),
                    F.lit(True).alias("on_disk")))
    n_orphans = (disk.join(manifest, "fname", "left_anti")
                 .agg(F.count(F.lit(1)).alias("n_orphans")))
    per_batch = (
        manifest.join(counts, "fname", "left")
        .join(disk, "fname", "left")
        .groupBy("batch_id")
        .agg(F.sum(F.coalesce(F.col("n"), F.lit(0))).alias("n_rows"),
             F.bool_and(F.coalesce(F.col("on_disk"), F.lit(False)))
             .alias("_files_ok")))
    offsets = _log_batches(f"{ckpt}/offsets/[0-9]*") \
        .withColumn("has_offset", F.lit(True))
    commits = _log_batches(f"{ckpt}/commits/[0-9]*") \
        .withColumn("has_commit", F.lit(True))
    # batch universe = union of ALL logs, so a batch that reached one
    # log but not another cannot vanish from the audit
    ids = (offsets.select("batch_id")
           .unionByName(commits.select("batch_id"))
           .unionByName(per_batch.select("batch_id"))
           .distinct())
    return (ids
            .join(F.broadcast(per_batch), "batch_id", "left")
            .join(F.broadcast(offsets), "batch_id", "left")
            .join(F.broadcast(commits), "batch_id", "left")
            .crossJoin(F.broadcast(n_orphans))
            .select("batch_id",
                    F.coalesce("n_rows", F.lit(0)).alias("n_rows"),
                    F.coalesce("has_offset", F.lit(False))
                    .alias("has_offset"),
                    F.coalesce("has_commit", F.lit(False))
                    .alias("has_commit"),
                    F.col("_files_ok").isNotNull().alias("has_manifest"),
                    (F.col("_files_ok").isNotNull() & F.col("_files_ok"))
                    .alias("files_committed"),
                    "n_orphans")
            .orderBy("batch_id"))


def q_stream_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """METADATA-LOG COMPACTION AUDIT — the ``_spark_metadata``
    ``.compact`` rollover a long-running file-sink stream performs
    every ``fileSink.log.compactInterval`` batches (q_stream_sink_audit
    covers a 4-batch run that never compacts; real streams run
    thousands of batches, and readers of the sink depend on the compact
    file carrying EVERY live entry — a dropped entry silently hides
    committed data from every downstream scan).

    Pinned run: 6 single-event data batches (events 30 min apart, 5 min
    watermark, 10 min tumbling windows) + the trailing watermark-flush
    batch = batch ids 0..6, with ``compactInterval=4`` (set for the run,
    restored after) so batch 3 writes ``3.compact`` — and batch 2 has
    already committed a sink file, so the compaction genuinely carries a
    prior batch's entry forward (not just its own). The audit reconciles
    four legs and emits the whole contract as one hash-checked row:
    numeric/compact manifest counts, the ROWS attributable to the
    compact file's entries (row counts, never file counts — per-batch
    file layout is shuffle-partition-dependent: every batch commits an
    empty part-00000 plus one file per non-empty partition), the
    checkpoint commit-log high-water mark, sink rows + exact value sum
    (metadata-aware read — only committed files count), and three
    booleans: the compact file covers every pre-compaction add, no
    on-disk part file escapes the live log (compact ∪ later manifests),
    and no live entry is missing from disk.

    100 TB shape: same distributed legs as q_stream_sink_audit
    (``wholeTextFiles`` for the ``_``-prefixed logs — one
    metadata-sized file per batch; binaryFile path-only disk listing;
    metadata-aware parquet read), set algebra as LEFT ANTI joins on the
    file name, 1-row broadcast aggregates crossJoined into the single
    verdict row. No driver-side directory walk."""
    from hippo_claim_crossover_spark.streaming.ops import (
        read_event_stream,
        run_to_parquet,
        tumbling_agg,
    )

    base = dt.datetime(2024, 1, 1, 10, 0)
    batches = [[(i + 1, base + dt.timedelta(minutes=30 * i), 1, "click",
                 float(i + 1), None)] for i in range(6)]
    src = _stream_fixture(spark, batches, "sinkcompact_src")
    # ckpt/out stay PER-RUN: only the input dir is shared
    run = run_dir(spark, "q_stream_compact")
    ckpt, out = f"{run}/ckpt", f"{run}/out"
    # compactInterval pinned for the run (default 10 would never compact
    # a 7-batch run), restored in `finally`; queries execute sequentially.
    # run_to_parquet scopes the shuffle partitions itself.
    key = "spark.sql.streaming.fileSink.log.compactInterval"
    prev = spark.conf.get(key)
    spark.conf.set(key, "4")
    try:
        run_to_parquet(tumbling_agg(read_event_stream(
            spark, src, max_files_per_trigger=1),
            watermark="5 minutes"), out, ckpt)
    finally:
        spark.conf.set(key, prev)

    def _basename(col):
        return F.element_at(F.split(col, "/"), -1)

    def _listing(glob_path):
        rdd = spark.sparkContext.wholeTextFiles(glob_path)
        return (spark.createDataFrame(rdd, "lpath string, content string")
                .select(_basename(F.col("lpath")).alias("fname"),
                        "content"))

    logs = materialize(_listing(f"{out}/_spark_metadata/*"), "sink_logs")
    numeric = (logs.where(F.col("fname").rlike("^[0-9]+$"))
               .withColumn("batch_id", F.col("fname").cast("long")))
    compact = (logs.where(F.col("fname").rlike("^[0-9]+\\.compact$"))
               .withColumn("batch_id", F.regexp_extract(
                   "fname", "^([0-9]+)", 1).cast("long")))

    def _adds(df):
        return (df.select("batch_id",
                          F.explode(F.split("content", "\n")).alias("v"))
                .where(F.col("v").startswith("{"))
                .select("batch_id", _basename(F.from_json(
                    "v", "path string, size bigint, action string")
                    .getField("path")).alias("part")))

    cid = compact.agg(F.max("batch_id").alias("cid"))
    n_adds = materialize(_adds(numeric), "manifest_adds")
    c_adds = materialize(_adds(compact), "compact_adds")
    pre = (n_adds.crossJoin(F.broadcast(cid))
           .where(F.col("batch_id") < F.col("cid")).select("part"))
    post = (n_adds.crossJoin(F.broadcast(cid))
            .where(F.col("batch_id") > F.col("cid")).select("part"))
    live = c_adds.select("part").unionByName(post)
    # glob bypasses the sink log on purpose; its hasMetadata WARN is expected
    disk = materialize(spark.read.format("binaryFile").load(f"{out}/part-*")
                       .select(_basename(F.col("path")).alias("part")),
                       "disk_listing")

    m_counts = (numeric.agg(F.count(F.lit(1)).alias("n_numeric_manifests"))
                .crossJoin(F.broadcast(compact.agg(
                    F.count(F.lit(1)).alias("n_compact_manifests"),
                    F.max("batch_id").alias("compact_batch_id")))))
    # rows attributable to the compact file's entries (= everything the
    # first 4 batches committed) — row-based, so shuffle-layout-immune
    per_file = (spark.read.parquet(out)
                .withColumn("_f", F.input_file_name())
                .groupBy(_basename(F.col("_f")).alias("part"))
                .agg(F.count(F.lit(1)).alias("n")))
    c_rows = (c_adds.join(per_file, "part", "left")
              .agg(F.sum(F.coalesce(F.col("n"), F.lit(0)))
                   .alias("n_rows_precompact")))
    commits_hi = (_listing(f"{ckpt}/commits/*")
                  .where(F.col("fname").rlike("^[0-9]+$"))
                  .agg(F.max(F.col("fname").cast("long"))
                       .alias("max_commit_batch")))
    sink = spark.read.parquet(out).agg(
        F.count(F.lit(1)).alias("n_rows_sink"),
        F.round(F.sum("sum_value"), 2).alias("sum_value_sink"))
    uncovered = (pre.join(c_adds, "part", "left_anti")
                 .agg(F.count(F.lit(1)).alias("_n_uncovered")))
    orphans = (disk.join(live, "part", "left_anti")
               .agg(F.count(F.lit(1)).alias("_n_orphans")))
    missing = (live.join(disk, "part", "left_anti")
               .agg(F.count(F.lit(1)).alias("_n_missing")))
    return (m_counts
            .crossJoin(F.broadcast(c_rows))
            .crossJoin(F.broadcast(commits_hi))
            .crossJoin(F.broadcast(sink))
            .crossJoin(F.broadcast(uncovered))
            .crossJoin(F.broadcast(orphans))
            .crossJoin(F.broadcast(missing))
            .select("n_numeric_manifests", "n_compact_manifests",
                    "compact_batch_id", "n_rows_precompact",
                    "max_commit_batch", "n_rows_sink", "sum_value_sink",
                    (F.col("_n_uncovered") == 0)
                    .alias("compact_covers_prior"),
                    (F.col("_n_orphans") == 0).alias("no_orphans"),
                    (F.col("_n_missing") == 0).alias("none_missing")))


# Pinned contract of the 7-batch compacting run (see docstring for the
# derivation): manifests 0,1,2,4,5,6 numeric + 3.compact; the compact
# file's entries carry exactly the rows batches 0-3 committed (windows
# 0 and 1, emitted in batches 2 and 3 → 2 rows); commits reach the
# trailing flush batch 6; windows of events 1..5 finalize (5 rows,
# value sum 15.0); all three set-algebra invariants hold.
ORACLE_STREAM_COMPACT = """
SELECT * FROM (VALUES
  (CAST(6 AS BIGINT), CAST(1 AS BIGINT), CAST(3 AS BIGINT),
   CAST(2 AS BIGINT), CAST(6 AS BIGINT), CAST(5 AS BIGINT),
   CAST(15.0 AS DOUBLE), TRUE, TRUE, TRUE)
) AS t(n_numeric_manifests, n_compact_manifests, compact_batch_id,
       n_rows_precompact, max_commit_batch, n_rows_sink, sum_value_sink,
       compact_covers_prior, no_orphans, none_missing)
"""


ORACLE_STREAM_SINK_AUDIT = """
SELECT * FROM (VALUES
  (CAST(0 AS BIGINT), CAST(0 AS BIGINT), TRUE, TRUE, TRUE, TRUE,
   CAST(0 AS BIGINT)),
  (CAST(1 AS BIGINT), CAST(0 AS BIGINT), TRUE, TRUE, TRUE, TRUE,
   CAST(0 AS BIGINT)),
  (CAST(2 AS BIGINT), CAST(3 AS BIGINT), TRUE, TRUE, TRUE, TRUE,
   CAST(0 AS BIGINT)),
  (CAST(3 AS BIGINT), CAST(0 AS BIGINT), TRUE, TRUE, TRUE, TRUE,
   CAST(0 AS BIGINT))
) AS t(batch_id, n_rows, has_offset, has_commit, has_manifest,
       files_committed, n_orphans)
ORDER BY batch_id
"""


ORACLE_STREAM_RESUME = """
SELECT * FROM (VALUES
  (TIMESTAMP '2024-01-01 10:00:00', TIMESTAMP '2024-01-01 10:10:00',
   'click', CAST(2 AS BIGINT), CAST(3.0 AS DOUBLE)),
  (TIMESTAMP '2024-01-01 10:00:00', TIMESTAMP '2024-01-01 10:10:00',
   'view', CAST(1 AS BIGINT), CAST(3.0 AS DOUBLE)),
  (TIMESTAMP '2024-01-01 10:10:00', TIMESTAMP '2024-01-01 10:20:00',
   'click', CAST(1 AS BIGINT), CAST(10.0 AS DOUBLE))
) AS t(window_start, window_end, event_type, n_events, sum_value)
"""


ACF_MAX_LAG = 7


def q_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily revenue series at lags
    1..7 — the seasonality screen (a weekly cycle shows as an ACF peak
    at lag 7) run before fitting any forecast model, and the lag-domain
    complement of ``q_seasonal``'s bucket profile.

    Exactness rides q_corr_matrix's moment discipline: daily revenue is
    an exact BIGINT micros sum, every pairwise first/second moment is a
    DECIMAL(38)/HUGEINT sum of int64 products (day totals reach ~1e15
    micros, so squares need 128-bit accumulation), and Pearson's ratio
    is one fixed double expression over identical operands in both
    engines, zero-variance-guarded to NULL.

    Shape: one partial/final agg to the daily series (|days| rows —
    KB-scale for years of data), a lag fan-out (explode over the
    constant lag list), and a self equi-join on the shifted date — all
    downstream stages run on the AGGREGATED series, so the fact scan
    happens once and nothing after it grows with row count."""
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("d"),
        money_micros(F.col("o_totalprice")).alias("r"))
    daily = o.groupBy("d").agg(F.sum("r").alias("r"))
    lags = F.explode(F.array(*[F.lit(k) for k in
                               range(1, ACF_MAX_LAG + 1)])).alias("lag")
    probes = daily.select(F.col("d").alias("da"), F.col("r").alias("x"),
                          lags)
    pairs = probes.join(
        daily.select(F.col("d").alias("db"), F.col("r").alias("y")),
        F.expr("date_add(da, lag) = db"))
    d38 = "decimal(38,0)"
    agg = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.sum(F.col("x").cast(d38)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(d38)).cast("double").alias("sy"),
        F.sum((F.col("x").cast(d38) * F.col("x"))).cast("double")
        .alias("sxx"),
        F.sum((F.col("y").cast(d38) * F.col("y"))).cast("double")
        .alias("syy"),
        F.sum((F.col("x").cast(d38) * F.col("y"))).cast("double")
        .alias("sxy"))
    num = F.col("nd") * F.col("sxy") - F.col("sx") * F.col("sy")
    va = F.col("nd") * F.col("sxx") - F.col("sx") * F.col("sx")
    vb = F.col("nd") * F.col("syy") - F.col("sy") * F.col("sy")
    return (agg.select(
        F.col("lag").cast("long").alias("lag"),
        F.col("nd").cast("long").alias("n_pairs"),
        duck_round(F.when(va * vb > 0, num / F.sqrt(va * vb)), 6)
        .alias("acf"))
        .orderBy("lag"))


ORACLE_ACF = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(sum(CAST(floor(o_totalprice * 1e6 + 0.5) AS BIGINT))
              AS BIGINT) AS r
  FROM orders GROUP BY 1
), lags AS (
  SELECT unnest(range(1, {ACF_MAX_LAG + 1})) AS lag
), pairs AS (
  SELECT l.lag, a.r AS x, b.r AS y
  FROM daily a
  CROSS JOIN lags l
  JOIN daily b ON b.d = a.d + CAST(l.lag AS INTEGER)
), a AS (
  SELECT lag,
         CAST(count(*) AS DOUBLE) AS nd,
         CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
         CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
         CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy,
         CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy
  FROM pairs GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag, CAST(nd AS BIGINT) AS n_pairs,
       CASE WHEN (nd * sxx - sx * sx) * (nd * syy - sy * sy) > 0
            THEN floor((nd * sxy - sx * sy)
                 / sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy))
                 * 1e6 + 0.5) / 1e6 END AS acf
FROM a ORDER BY lag
"""


TRAIN_MATRIX_LO = "1996-01-01 00:00:00"
TRAIN_MATRIX_HI = "1996-12-31 00:00:00"


def q_train_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped time-series TRAINING-FEATURE MATRIX export — the
    forecasting-model input a data pipeline materializes from raw
    events: per (returnflag, calendar day of 1996) the target (that
    day's revenue) alongside its lag-1, lag-7, and trailing-7-day-sum
    features plus the day-of-week covariate, gap-filled so calendar
    days with no sales contribute explicit zeros (a lag over observed
    rows only would silently mix horizons — the q_gapfill lesson
    composed with q_ewma's lag discipline).

    Exactness: daily revenue is an exact BIGINT micros sum; every lag /
    rolling-sum window moves those BIGINTs untouched; each output
    feature divides once to doubles on the 6dp grid. Rows before day 7
    of the spine are dropped so every emitted feature vector is
    complete (no NULL-feature training rows).

    100 TB shape: lineitem reduces to (flag, day) in ONE partial/final
    hash agg before anything else — the windows run over ≤366 rows per
    flag (calendar-bounded, like q_seasonal), partitioned by flag so
    spine join and all three window expressions share one exchange.
    The spine is sequence()-generated, never a stored table, and the
    shipdate range predicate pushes into the parquet scan."""
    lo_d, hi_excl = TRAIN_MATRIX_LO.split(" ")[0], "1997-01-01"
    li = t(spark, sf_dir, "lineitem")
    actual = (
        li.where((F.col("l_shipdate") >= lo_d)
                 & (F.col("l_shipdate") < hi_excl))
        .groupBy(F.col("l_returnflag").alias("flag"),
                 F.date_trunc("day", F.col("l_shipdate")).alias("day"))
        .agg(F.sum(money_micros(
            F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))))
            .alias("rev_u")))
    spine = (
        li.select(F.col("l_returnflag").alias("flag")).distinct()
        .crossJoin(spark.sql(
            f"SELECT explode(sequence(timestamp_ntz'{TRAIN_MATRIX_LO}', "
            f"timestamp_ntz'{TRAIN_MATRIX_HI}', interval 1 day)) AS day")))
    filled = (spine.join(actual, ["flag", "day"], "left")
              .select("flag", "day",
                      F.coalesce("rev_u", F.lit(0)).alias("rev_u")))
    w = Window.partitionBy("flag").orderBy("day")
    w7 = w.rowsBetween(-7, -1)
    di = F.expr(
        f"timestampdiff(DAY, timestamp_ntz'{TRAIN_MATRIX_LO}', day)")
    feat = filled.select(
        "flag", "day", di.alias("di"), "rev_u",
        F.lag("rev_u", 1).over(w).alias("lag1_u"),
        F.lag("rev_u", 7).over(w).alias("lag7_u"),
        F.sum("rev_u").over(w7).alias("roll7_u"))
    as_money = [duck_round(F.col(c).cast("double") / F.lit(1e6), 6)
                .alias(a) for c, a in [("rev_u", "target"),
                                       ("lag1_u", "lag_1"),
                                       ("lag7_u", "lag_7"),
                                       ("roll7_u", "roll7_sum")]]
    return (feat.where(F.col("di") >= 7)
            .select("flag", "day",
                    F.dayofweek("day").cast("long").alias("dow"),
                    *as_money))


ORACLE_TRAIN_MATRIX = f"""
WITH actual AS (
  SELECT l_returnflag AS flag,
         date_trunc('day', CAST(l_shipdate AS TIMESTAMP)) AS day,
         CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 1e6
                             + 0.5) AS BIGINT)) AS BIGINT) AS rev_u
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{TRAIN_MATRIX_LO}'
    AND l_shipdate <  TIMESTAMP '1997-01-01'
  GROUP BY 1, 2
), spine AS (
  SELECT f.flag, d.day
  FROM (SELECT DISTINCT l_returnflag AS flag FROM lineitem) f,
       (SELECT unnest(generate_series(TIMESTAMP '{TRAIN_MATRIX_LO}',
               TIMESTAMP '{TRAIN_MATRIX_HI}', INTERVAL 1 DAY)) AS day) d
), filled AS (
  SELECT s.flag, s.day,
         date_diff('day', TIMESTAMP '{TRAIN_MATRIX_LO}', s.day) AS di,
         coalesce(a.rev_u, 0) AS rev_u
  FROM spine s LEFT JOIN actual a ON s.flag = a.flag AND s.day = a.day
), feat AS (
  SELECT flag, day, di, rev_u,
         lag(rev_u, 1) OVER w AS lag1_u,
         lag(rev_u, 7) OVER w AS lag7_u,
         CAST(sum(rev_u) OVER (PARTITION BY flag ORDER BY day
              ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT)
           AS roll7_u
  FROM filled
  WINDOW w AS (PARTITION BY flag ORDER BY day)
)
SELECT flag, day, CAST(dayofweek(day) + 1 AS BIGINT) AS dow,
       floor(CAST(rev_u AS DOUBLE) / 1e6 * 1e6 + 0.5) / 1e6 AS target,
       floor(CAST(lag1_u AS DOUBLE) / 1e6 * 1e6 + 0.5) / 1e6 AS lag_1,
       floor(CAST(lag7_u AS DOUBLE) / 1e6 * 1e6 + 0.5) / 1e6 AS lag_7,
       floor(CAST(roll7_u AS DOUBLE) / 1e6 * 1e6 + 0.5) / 1e6
         AS roll7_sum
FROM feat WHERE di >= 7
"""


ROLLMED_FRAME = 6  # preceding rows: 7-row sliding frame


def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact sliding-window MEDIAN per user (7-row frame) — the robust
    rolling statistic dashboards use where a rolling MEAN chases
    outliers (the windowed sibling of q_outlier_mad's global median).
    Spark has no median window function; the exact composition is
    ``collect_list`` over the bounded ROWS frame → ``array_sort`` →
    middle element (LOWER median on even counts — deterministic, no
    cross-engine float averaging). The oracle mirrors it with DuckDB's
    ``list() OVER`` + ``list_sort`` — the identical elements, never a
    continuous-interpolation median.

    Scale shape: one per-user window sort (the same shuffle every
    rolling query pays), per-row state bounded by the CONSTANT frame
    width (7 doubles — collect_list over an unbounded frame would be
    the q_win_frame anti-pattern, this is the allowlisted
    bounded-frame form), map-side sort of a 7-element array. Output is
    the trailing row per user (deterministic single row each) to keep
    the gate result compact while still forcing every window row to
    compute.

    NULL portability: the frame feeds ``coalesce(value, 0.0)`` on BOTH
    sides — Spark's collect_list silently DROPS NULLs while DuckDB's
    ``list()`` keeps them, so a raw ``value`` would diverge in both the
    median element and ``n_in_frame`` the moment a NULL appears (the
    sibling convention: q_twap/q_stream_state coalesce the same
    column). Fixtures are NULL-free today, so values are unchanged;
    the coalesce just removes the cross-engine semantic cliff."""
    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts",
        F.coalesce(F.col("value"), F.lit(0.0)).alias("value"))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-ROLLMED_FRAME, Window.currentRow))
    wall = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id"))
    rolled = (ev.withColumn("_win", F.array_sort(
        F.collect_list("value").over(w)))
        .select("user_id", "event_id", "ts",
                # integer div, NOT `/`+cast: Spark's double cast
                # truncates 3.5 while DuckDB's CAST rounds it — `div`
                # and `//` agree exactly
                F.expr("element_at(_win, "
                       "cast((size(_win) + 1) div 2 as int))")
                .alias("roll_median"),
                F.size("_win").cast("long").alias("n_in_frame")))
    last = (rolled.withColumn("_rn", F.row_number().over(wall))
            .where(F.col("_rn") == 1)
            .select("user_id", "event_id", "roll_median", "n_in_frame"))
    return last.orderBy("user_id")


ORACLE_ROLLING_MEDIAN = f"""
WITH rolled AS (
  SELECT user_id, event_id, ts,
         list_sort(list(coalesce(value, 0.0)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN {ROLLMED_FRAME} PRECEDING AND CURRENT ROW)) AS w
  FROM events
), picked AS (
  SELECT user_id, event_id, ts,
         w[CAST((len(w) + 1) // 2 AS INTEGER)] AS roll_median,
         CAST(len(w) AS BIGINT) AS n_in_frame,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM rolled
)
SELECT user_id, event_id, roll_median, n_in_frame
FROM picked WHERE rn = 1 ORDER BY user_id
"""


def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP / TimescaleDB
    ``time_weighted_average``): per user, each event's value holds
    last-observation-carried-forward until the user's next event, so
    the mean weights every value by its holding DURATION — the correct
    average for irregularly-sampled series (a plain AVG over-weights
    bursts). The user's last event has no following observation and
    contributes no segment (the standard LOCF convention).

    Exactness: duration is the exact integer microsecond gap
    (``unix_micros``-equivalent via timestamp subtraction) floored to
    whole SECONDS with integer division — identical in both engines —
    and each segment's contribution is ``value_micros · dur_s``
    (BIGINT). Overflow headroom: the per-user sum is bounded by
    max_value_micros × total_duration_s — ~4×10^15 at the fixtures and
    safe in BIGINT while value·duration per key stays under ~2.9×10^5
    value-years; a larger deployment swaps the two sums to
    DECIMAL(38,0) (the money_sum note). The TWAP itself is emitted in
    integer micros via integer division, zero-duration users NULLed
    identically by both engines.

    Scale shape: one shuffle (the per-user window sort), one
    partial/final agg; the window's lead() is a 1-row lookahead, no
    unbounded frame."""
    ev = t(spark, sf_dir, "events").select("user_id", "event_id",
                                           "ts", "value")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = (ev.withColumn("_nxt", F.lead("ts").over(w))
           .where(F.col("_nxt").isNotNull())
           .select(
               "user_id",
               # exact integer microseconds (mirrors DuckDB
               # date_diff('microsecond', ...)), floored to whole seconds
               F.expr("timestampdiff(MICROSECOND, ts, _nxt) div 1000000")
               .alias("_dur_s"),
               money_micros(F.coalesce(F.col("value"), F.lit(0.0)))
               .alias("_vm")))
    per = (seg.groupBy("user_id")
           .agg(F.count(F.lit(1)).alias("n_segments"),
                F.sum("_dur_s").alias("dur_s"),
                F.sum(F.col("_vm") * F.col("_dur_s")).alias("wsum")))
    return (per.select(
        "user_id", "n_segments", "dur_s",
        F.col("wsum").alias("wsum_micros_s"),
        F.when(F.col("dur_s") > 0, F.expr("wsum div dur_s"))
        .alias("twap_micros"))
        .orderBy("user_id"))


ORACLE_TWAP = """
WITH seg AS (
  SELECT user_id,
         date_diff('microsecond', ts,
                   lead(ts) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id)) // 1000000
           AS dur_s,
         CAST(floor(coalesce(value, 0) * 1e6 + 0.5) AS BIGINT) AS vm
  FROM events
), seg2 AS (
  SELECT user_id, dur_s, vm FROM seg WHERE dur_s IS NOT NULL
), per AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_segments,
         CAST(sum(dur_s) AS BIGINT) AS dur_s,
         CAST(sum(vm * dur_s) AS BIGINT) AS wsum
  FROM seg2 GROUP BY user_id
)
SELECT user_id, n_segments, dur_s, wsum AS wsum_micros_s,
       CASE WHEN dur_s > 0 THEN wsum // dur_s END AS twap_micros
FROM per ORDER BY user_id
"""


def q_stream_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful streaming operator as a declared, REAL-SQL-checked
    query: ``applyInPandasWithState`` (streaming/stateful.py
    cumulative_profile_exact) folds per-user running totals across a
    3-micro-batch file-source run over the REAL events table — not a
    pinned VALUES fixture — so the DuckDB oracle recomputes every output
    value from ``events`` itself and the driver hash proves the
    cross-batch state carriage end to end:

    - the stream is the events table split into 3 batch files by
      ``event_id % 3`` (deterministic membership, mtime-ordered,
      maxFilesPerTrigger=1);
    - update mode emits one row per (user, batch-where-present), so
      ``n_updates = count(DISTINCT event_id % 3)`` per user — >1 for any
      user spanning batches proves state survived the batch boundary;
    - the final totals (``max_by`` the highest-n update row) must equal
      a plain GROUP BY over the table; the state carries the value sum
      as exact BIGINT micros, so no float-order drift exists.

    At scale: state is one (long, long) row per user sharded by the
    grouping key (O(distinct users), not O(events)); the per-batch
    single-file write below is pinned-run harness setup (same class as
    q_stream_compact's), not a production path — production feeds the
    identical operator from Kafka."""
    from hippo_claim_crossover_spark.streaming.ops import (
        ensure_event_batches,
        read_event_stream,
        run_to_memory,
        sized_stream_partitions,
    )
    from hippo_claim_crossover_spark.streaming.stateful import (
        cumulative_profile_exact,
    )

    ev = t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props")
    src = ensure_event_batches(spark, ev, sf_dir)
    run = run_dir(spark, "q_stream_state", sf_dir)
    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    prof = cumulative_profile_exact(stream)
    out_name = f"state_out_{os.path.basename(run)}"
    # real-table stream: partition count derives from the source bytes
    # (r16 — the pinned-fixture default is harness-sized; this stream's
    # state is data-proportional). Output is partition-count-independent.
    run_to_memory(prof, out_name, output_mode="update",
                  checkpoint=f"{run}/ckpt",
                  partitions=sized_stream_partitions(src))
    mem = spark.table(out_name)
    return (mem.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_updates"),
                 F.max("n_events").alias("n_events"),
                 F.max_by("sum_micros", "n_events").alias("sum_micros"))
            .orderBy("user_id"))


ORACLE_STREAM_STATE = """
SELECT user_id,
       CAST(count(DISTINCT event_id % 3) AS BIGINT) AS n_updates,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(coalesce(value, 0) * 1e6 + 0.5) AS BIGINT))
            AS BIGINT) AS sum_micros
FROM events
GROUP BY user_id
ORDER BY user_id
"""


def q_stream_foreach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``foreachBatch`` idempotent sink + exactly-once checkpoint RESUME
    as a declared, REAL-SQL-checked query (the r12 verdict's promotion
    of the unit-only behavior): the events table is split into 3
    micro-batch files by ``event_id % 3``; run 1 lands splits 0 and 1
    and drains them through ``write_foreach_batch`` (each micro-batch
    appended as parquet stamped with its batch_id — the (batch_id,
    checkpoint) pair that makes redelivery idempotent / MERGE-ready);
    split 2 then lands and a FRESH query resumes from the SAME
    checkpoint; a third run with nothing new must be a no-op. The
    read-back aggregates per split, so the driver hash proves all
    three contracts at once against a plain GROUP BY over the table:

    - exactly-once across the restart — a replayed or skipped file
      flips ``n_events``/``sum_micros`` red;
    - each split processed in exactly ONE micro-batch
      (``n_sink_batches = 1``: maxFilesPerTrigger=1 and the committed
      offsets in the checkpoint are the source of truth);
    - the no-op third run appended nothing.

    At scale: foreachBatch is the production escape hatch for sinks
    with no native streaming writer (JDBC, MERGE INTO); the batch
    writer inside runs as a normal distributed job. The per-split
    single-file landing is pinned-run harness setup (q_stream_state's
    class), not a production path."""
    from hippo_claim_crossover_spark.streaming.ops import (
        land_batch_file,
        read_event_stream,
        write_foreach_batch,
    )

    run = run_dir(spark, "q_stream_foreach", sf_dir)
    src, out, ckpt = f"{run}/src", f"{run}/out", f"{run}/ckpt"
    ev = t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props")
    for b in (0, 1):
        land_batch_file(ev.where(F.col("event_id") % 3 == b), src, b)
    for landing in (2, None):  # run 2 resumes on split 2; run 3 is a no-op
        if landing is not None:
            land_batch_file(ev.where(F.col("event_id") % 3 == landing),
                            src, landing)
        stream = read_event_stream(spark, src, max_files_per_trigger=1)
        write_foreach_batch(stream.select("event_id", "value"), out, ckpt)
    sunk = spark.read.parquet(out)
    return (sunk.groupBy((F.col("event_id") % 3).alias("split"))
            .agg(F.count_distinct("batch_id").alias("n_sink_batches"),
                 F.count(F.lit(1)).alias("n_events"),
                 F.sum(money_micros(F.coalesce(F.col("value"), F.lit(0.0))))
                 .alias("sum_micros"))
            .orderBy("split"))


ORACLE_STREAM_FOREACH = """
SELECT event_id % 3 AS split,
       CAST(1 AS BIGINT) AS n_sink_batches,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(coalesce(value, 0) * 1e6 + 0.5) AS BIGINT))
            AS BIGINT) AS sum_micros
FROM events
GROUP BY 1
ORDER BY 1
"""


def q_stream_rocksdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-free tumbling aggregation on the ROCKSDB state store
    provider as a declared, REAL-SQL-checked query (r12 verdict
    promotion): the 100 TB streaming-state backend — state lives
    off-heap on executor-local disk with changelog checkpointing, so
    per-executor state is bounded by disk rather than JVM heap — runs
    a 3-micro-batch file-source pass over the REAL events table
    (``event_id % 3`` splits, mtime-ordered, maxFilesPerTrigger=1) and
    must produce exactly the batch GROUP BY the DuckDB oracle computes.
    The splits interleave in time, so essentially every 10-minute
    window receives rows in all three batches — equality with the
    batch aggregate proves per-window state survived TWO RocksDB
    commit/restore cycles, with exact BIGINT-micros sums (no float
    order sensitivity across batch boundaries). The provider conf is
    scoped to the run and restored.

    Complete-mode memory sink: correct here because the oracle needs
    every window; production emits append-mode finalized windows under
    a watermark (q_stream_late pins those semantics) — the STATE
    BACKEND under test is identical either way. The per-split
    single-file landing is pinned-run harness setup, not a production
    path; production feeds the same operator from Kafka."""
    from hippo_claim_crossover_spark.streaming.ops import (
        ensure_event_batches,
        read_event_stream,
        run_to_memory,
        sized_stream_partitions,
    )

    ev = t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props")
    src = ensure_event_batches(spark, ev, sf_dir)
    run = run_dir(spark, "q_stream_rocksdb", sf_dir)
    key = "spark.sql.streaming.stateStore.providerClass"
    try:
        prev = spark.conf.get(key)
    except Exception:
        prev = None
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state."
                        "RocksDBStateStoreProvider")
    out_name = f"rocks_out_{os.path.basename(run)}"
    try:
        stream = read_event_stream(spark, src, max_files_per_trigger=1)
        agg = (stream
               .groupBy(F.window("ts", "10 minutes"), "event_type")
               .agg(F.count(F.lit(1)).alias("n_events"),
                    F.sum(money_micros(
                        F.coalesce(F.col("value"), F.lit(0.0))))
                    .alias("sum_micros"))
               .select(F.col("window.start").alias("window_start"),
                       F.col("window.end").alias("window_end"),
                       "event_type", "n_events", "sum_micros"))
        # real-table stream: size the state partitions from source bytes
        # (r16), same rationale as q_stream_state.
        run_to_memory(agg, out_name, output_mode="complete",
                      checkpoint=f"{run}/ckpt",
                      partitions=sized_stream_partitions(src))
    finally:
        spark.conf.set(key, prev) if prev is not None \
            else spark.conf.unset(key)
    return spark.table(out_name)


ORACLE_STREAM_ROCKSDB = f"""
WITH b AS (
  SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS ws, *
  FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
               event_type, value, props FROM events)
)
SELECT {_TS.format(expr="ws")} AS window_start,
       {_TS.format(expr="ws + 600")} AS window_end,
       event_type, count(*) AS n_events,
       CAST(sum(CAST(floor(coalesce(value, 0) * 1e6 + 0.5) AS BIGINT))
            AS BIGINT) AS sum_micros
FROM b GROUP BY ws, event_type ORDER BY ws, event_type
"""


SPECS: dict[str, QuerySpec] = {
    "q_ohlc": QuerySpec(
        q_ohlc, ORACLE_OHLC,
        "per-type hourly OHLC bars (min_by/max_by open-close, exact "
        "BIGINT bucket ids)"),
    "q_attribution": QuerySpec(
        q_attribution, ORACLE_ATTRIBUTION,
        "first/last-touch conversion attribution (per-user lookback "
        "join, event_id-deterministic tiebreak)"),
    "q_interval_coverage": QuerySpec(
        q_interval_coverage, ORACLE_INTERVAL_COVERAGE,
        "interval-union coverage (merged islands, exact integer "
        "microseconds)"),
    "q_rolling_7d": QuerySpec(
        q_rolling_7d, ORACLE_ROLLING_7D,
        "trailing 7-day RANGE-frame rolling revenue over the daily "
        "aggregate"),
    "q_train_matrix": QuerySpec(
        q_train_matrix, ORACLE_TRAIN_MATRIX,
        "grouped lag/rolling training-feature matrix over the "
        "gap-filled daily revenue series (exact BIGINT features)"),
    "q_gapfill": QuerySpec(q_gapfill, ORACLE_GAPFILL,
                           "daily spine gap-fill + LOCF + linear "
                           "interpolation"),
    "q_sessionize": QuerySpec(q_sessionize, ORACLE_SESSIONIZE,
                              "gap-based batch sessionization "
                              "(gaps-and-islands, one shuffle)"),
    "q_stream_tumble": QuerySpec(q_stream_tumble, ORACLE_STREAM_TUMBLE,
                                 "tumbling window"),
    "q_stream_slide": QuerySpec(q_stream_slide, ORACLE_STREAM_SLIDE,
                                "sliding window"),
    "q_stream_session": QuerySpec(q_stream_session, ORACLE_STREAM_SESSION,
                                  "session window (gaps-and-islands oracle)"),
    "q_stream_late": QuerySpec(q_stream_late, ORACLE_STREAM_LATE,
                               "watermarked late-data drop (real 2-batch "
                               "streaming run, VALUES oracle)"),
    "q_stream_foreach": QuerySpec(
        q_stream_foreach, ORACLE_STREAM_FOREACH,
        "foreachBatch idempotent sink + exactly-once checkpoint resume "
        "(3-split real-table run + no-op rerun, GROUP BY oracle)"),
    "q_stream_rocksdb": QuerySpec(
        q_stream_rocksdb, ORACLE_STREAM_ROCKSDB,
        "RocksDB state-store tumbling agg over the real events table "
        "(3-batch run, exact micros, batch-parity oracle)"),
    "q_stream_dedup": QuerySpec(q_stream_dedup, ORACLE_STREAM_DEDUP,
                                "dropDuplicatesWithinWatermark (3-batch "
                                "run: suppress, evict, re-emit — VALUES "
                                "oracle)"),
    "q_stream_interval": QuerySpec(q_stream_interval, ORACLE_STREAM_INTERVAL,
                                   "stream-stream interval join "
                                   "(attribution, batch parity)"),
    "q_stream_interval_lo": QuerySpec(
        q_stream_interval_lo, ORACLE_STREAM_INTERVAL_LO,
        "left-outer interval join (batch parity incl. matchless rows)"),
    "q_stream_static": QuerySpec(q_stream_static, ORACLE_STREAM_STATIC,
                                 "stream-static broadcast enrichment join"),
    "q_cohort_retention": QuerySpec(q_cohort_retention,
                                    ORACLE_COHORT_RETENTION,
                                    "signup-cohort weekly retention matrix"),
    "q_join_interval_binned": QuerySpec(
        q_join_interval_binned, ORACLE_JOIN_INTERVAL_BINNED,
        "binned interval-overlap join (sessions × days)"),
    "q_time_trunc": QuerySpec(q_time_trunc, ORACLE_TIME_TRUNC,
                              "calendar rollup"),
    "q_funnel": QuerySpec(q_funnel, ORACLE_FUNNEL,
                          "ordered conversion funnel (view→click→purchase)"),
    "q_date_spine": QuerySpec(q_date_spine, ORACLE_DATE_SPINE,
                              "recursive-CTE month spine, gap-free rollup"),
    "q_ewma": QuerySpec(q_ewma, ORACLE_EWMA,
                        "per-user truncated-kernel EWMA (8-tap lag chain, "
                        "bit-identical cross-engine)"),
    "q_seasonal": QuerySpec(
        q_seasonal, ORACLE_SEASONAL,
        "hour-of-day seasonal decomposition, integer-micros centered-MA "
        "detrending over the calendar-bounded bucket series"),
    "q_active_users": QuerySpec(
        q_active_users, ORACLE_ACTIVE_USERS,
        "DAU/WAU/MAU trailing distinct-user counts (fan-out distinct, "
        "never a sliding count-distinct window)"),
    "q_rolling_median": QuerySpec(
        q_rolling_median, ORACLE_ROLLING_MEDIAN,
        "exact sliding-window median (bounded 7-row frame, lower "
        "median, trailing row per user)"),
    "q_twap": QuerySpec(
        q_twap, ORACLE_TWAP,
        "time-weighted average (LOCF segments, exact integer "
        "micros x whole-second durations, integer-division TWAP)"),
    "q_stream_state": QuerySpec(
        q_stream_state, ORACLE_STREAM_STATE,
        "applyInPandasWithState cumulative per-user profile across 3 "
        "real micro-batches — REAL-SQL oracle over events, exact "
        "BIGINT-micros state, n_updates proves cross-batch carriage"),
    "q_stream_chained": QuerySpec(
        q_stream_chained, ORACLE_STREAM_CHAINED,
        "chained stateful streaming (dedup -> windowed agg in one "
        "query); the window sum proves which redelivery survived"),
    "q_stream_sink_audit": QuerySpec(
        q_stream_sink_audit, ORACLE_STREAM_SINK_AUDIT,
        "exactly-once sink audit: _spark_metadata manifests vs "
        "offset/commit logs vs disk, per-batch rows pinned"),
    "q_stream_compact": QuerySpec(
        q_stream_compact, ORACLE_STREAM_COMPACT,
        "metadata-log .compact rollover audit: compact file covers "
        "every pre-compaction add, live log == disk, pinned 7-batch "
        "compacting run"),
    "q_stream_resume": QuerySpec(
        q_stream_resume, ORACLE_STREAM_RESUME,
        "checkpoint restart recovery: run-2 emits windows whose counts "
        "are constructible only from run-1's recovered state"),
    "q_acf": QuerySpec(
        q_acf, ORACLE_ACF,
        "daily-revenue autocorrelation at lags 1..7, exact "
        "DECIMAL(38)/HUGEINT moments, self-join on the aggregated "
        "series"),
}
