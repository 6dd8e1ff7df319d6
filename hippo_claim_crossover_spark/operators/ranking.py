"""Distributed global-order ranking.

A ``Window.orderBy(...)`` with no partition key plans as an Exchange to a
SINGLE partition — the whole table sorts on one task, the classic hidden
scale cliff of global rank/ntile/percentile queries. The operators here
compute the same *exact* results with every stage distributed, the same way
a TeraSort distributes a global sort:

1. ``repartitionByRange`` on the order key (sampled range boundaries —
   Spark's distributed sort machinery; deterministic sampling seed);
2. a per-partition local ``row_number`` (window partitioned by the range
   partition id — each partition ranks independently);
3. partition-count prefix offsets turning local ranks into global ranks —
   computed with a window over the COUNTS table (one row per partition, a
   broadcast-sized side), never a driver collect;
4. closed-form bucket assignment from the global rank.

The order columns must form a unique key (add a tiebreaker id) — the same
requirement engine-deterministic ntile has anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def global_rank(df: DataFrame, order_cols: list[str],
                n_partitions: int | None = None,
                out_col: str = "_rank") -> DataFrame:
    """Append the exact 1-based global rank of each row under
    ``order_cols`` (ascending, unique key) with no single-partition
    stage: range-shuffle + per-partition window + broadcast prefix
    offsets. Adds ``out_col``; drops nothing."""
    parts = n_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = (df.repartitionByRange(parts, *[F.col(c) for c in order_cols])
              .withColumn("_pid", F.spark_partition_id()))
    local_w = Window.partitionBy("_pid").orderBy(*order_cols)
    local = ranged.withColumn("_lrn", F.row_number().over(local_w))
    counts = local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    # Prefix offsets over the tiny per-partition counts table (≤ parts
    # rows): a single-partition window HERE is over partition COUNTS,
    # not data — broadcast-sized by construction.
    off_w = (Window.orderBy("_pid")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = counts.select(
        "_pid",
        F.coalesce(F.sum("_cnt").over(off_w), F.lit(0)).alias("_off"))
    return (local.join(F.broadcast(offsets), "_pid")
            .withColumn(out_col, F.col("_lrn") + F.col("_off"))
            .drop("_pid", "_lrn", "_off"))


def grouped_global_rank(df: DataFrame, group_cols: list[str],
                        order_cols: list[str],
                        n_partitions: int | None = None,
                        out_col: str = "_rank",
                        broadcast_offsets: bool = True) -> DataFrame:
    """Append the exact 1-based rank of each row under ``order_cols``
    WITHIN its group, with every stage distributed — the per-group
    generalization of :func:`global_rank`, and the machinery that keeps
    exact grouped percentiles off the low-cardinality-key cliff (a
    ``Window.partitionBy(group).orderBy(v)`` puts each group's ENTIRE
    row set through one task; on a 3-value key at 100 TB that is 3 tasks
    each sorting a third of the table).

    1. range-shuffle on (group ++ order) — a group larger than one
       partition spans several CONSECUTIVE partition ids, each holding a
       contiguous value range (range partitioning is order-preserving
       across partition ids, and equal keys land in one partition);
    2. local row_number per (partition, group);
    3. per-group prefix offsets over the (partition × group) COUNTS
       table — tiny by construction (≤ partitions rows per group), and
       the offset window partitions by group, so no single-partition
       stage exists anywhere in the plan.

    Ranks among EQUAL order keys are arbitrary (they stay within one
    partition); use a unique key when that matters — rank-indexed value
    lookup (percentiles) is insensitive to tie order by definition.

    ``broadcast_offsets`` encodes the LOW-CARDINALITY GROUPING CONTRACT
    every in-repo caller satisfies (percentiles/Gini/NTILE over
    enum-like keys): the offsets table is ≤ partitions × |groups| rows,
    KBs for tens of groups but GBs for a 10 M-key grouping — pass
    ``False`` there and the offsets attach via a shuffle join on
    (_pid ++ group) instead (same plan, one more exchange over the
    already-aggregated counts table; never an OOM).
    """
    parts = n_partitions or df.sparkSession.sparkContext.defaultParallelism
    keys = [F.col(c) for c in group_cols + order_cols]
    ranged = (df.repartitionByRange(parts, *keys)
              .withColumn("_pid", F.spark_partition_id()))
    local_w = Window.partitionBy("_pid", *group_cols).orderBy(*order_cols)
    local = ranged.withColumn("_lrn", F.row_number().over(local_w))
    counts = (local.groupBy("_pid", *group_cols)
              .agg(F.count(F.lit(1)).alias("_cnt")))
    off_w = (Window.partitionBy(*group_cols).orderBy("_pid")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = counts.select(
        "_pid", *group_cols,
        F.coalesce(F.sum("_cnt").over(off_w), F.lit(0)).alias("_off"))
    if broadcast_offsets:
        offsets = F.broadcast(offsets)
    return (local.join(offsets, ["_pid", *group_cols])
            .withColumn(out_col, F.col("_lrn") + F.col("_off"))
            .drop("_pid", "_lrn", "_off"))


def grouped_histogram_cdf(hist: DataFrame, group_cols: list[str],
                          value_col: str, cnt_col: str = "_cnt",
                          n_partitions: int | None = None,
                          broadcast_offsets: bool = True) -> DataFrame:
    """Append the exact inclusive cumulative count ``_cum`` to a
    per-group value HISTOGRAM (one row per (group, value) with its
    multiplicity ``cnt_col``) — i.e. the grouped empirical CDF — with
    every stage distributed: the same range-shuffle + per-partition
    window + per-group prefix-offset discipline as
    :func:`grouped_global_rank`, but summing multiplicities instead of
    counting rows. Rows must be unique per (group, value); NULLs are
    the caller's problem."""
    parts = n_partitions or hist.sparkSession.sparkContext.defaultParallelism
    keys = [F.col(c) for c in group_cols + [value_col]]
    ranged = (hist.repartitionByRange(parts, *keys)
              .withColumn("_pid", F.spark_partition_id()))
    local_w = (Window.partitionBy("_pid", *group_cols).orderBy(value_col)
               .rowsBetween(Window.unboundedPreceding, 0))
    local = ranged.withColumn("_lcum", F.sum(cnt_col).over(local_w))
    totals = (local.groupBy("_pid", *group_cols)
              .agg(F.sum(cnt_col).alias("_tot")))
    off_w = (Window.partitionBy(*group_cols).orderBy("_pid")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = totals.select(
        "_pid", *group_cols,
        F.coalesce(F.sum("_tot").over(off_w), F.lit(0)).alias("_off"))
    if broadcast_offsets:
        offsets = F.broadcast(offsets)
    return (local.join(offsets, ["_pid", *group_cols])
            .withColumn("_cum", F.col("_lcum") + F.col("_off"))
            .drop("_pid", "_lcum", "_off"))


def grouped_exact_percentiles(df: DataFrame, group_cols: list[str],
                              value_col: str, ps: list[float],
                              n_partitions: int | None = None,
                              broadcast_offsets: bool = True) -> DataFrame:
    """EXACT linear-interpolation percentiles per group without
    buffering any group in one task: tie-compress the values into a
    (group, value, count) HISTOGRAM first (a partial/final hash
    aggregate — map-side combine crushes the row count before anything
    shuffles), walk the histogram's distributed CDF
    (:func:`grouped_histogram_cdf`), then fetch only the rows whose
    cumulative-count range covers each target rank and interpolate.

    Returns one row per (group, percentile): ``group_cols ++ [_p_idx,
    value]`` where ``_p_idx`` indexes into ``ps``. NULL values are
    excluded first (SQL percentile semantics).

    Interpolation follows the quantile_cont discipline exactly:
    ``rn = (n-1)*p`` in IEEE double, and the SYMMETRIC weighted form
    ``(1-frac)*v[floor(rn)] + frac*v[ceil(rn)]`` on 0-based sorted
    positions — NOT the algebraically-equal ``lo + frac*(hi-lo)``,
    which differs in the last ulp for some inputs (observed at sf0.1)
    and fails a bit-exact oracle compare. When ``rn`` is integral the
    fraction is exactly 0.0 and the value returns bit-identically.
    Rank-indexed value lookup is tie-insensitive, so compressing a
    tie-run into one histogram row with a rank RANGE changes nothing:
    the value at every rank inside the run IS the run's value.

    Scale shape: one partial/final hash agg over the raw rows, then a
    range shuffle + window + metadata joins over the HISTOGRAM only
    (|distinct values per group| rows — for the enum-and-price columns
    real fact tables take percentiles of, orders of magnitude below the
    row count; the r10 century stress measured the previous
    rank-every-row form spilling 9.1 GB sorting 120 M melted rows in
    the window stage at 100× sf0.1, while this form's window input is
    the ~KB histogram). Offsets (partitions×groups rows) and targets
    (groups×|ps| rows) broadcast by default; ``broadcast_offsets=False``
    is the high-cardinality contract (a 10M-key grouping makes both
    metadata tables GB-sized — shuffle joins there, and the histogram
    degenerates gracefully to ~the row count when values are unique).
    Reduce-side state is O(1) per row everywhere, so the plan survives
    a 3-value grouping key at 100 TB where the exact-percentile
    aggregate's O(rows/group) buffer is a guaranteed OOM.
    """
    vals = (df.select(*group_cols, value_col)
            .where(F.col(value_col).isNotNull()))
    # Three consumers read `hist`: the range-partitioner's sampling
    # pass, the CDF shuffle itself, and the group-totals aggregate.
    # Materializing the tie-compressed histogram once (lazy
    # localCheckpoint) replaces three full upstream scans — the
    # write-the-projection-once discipline for multi-consumer frames,
    # and the checkpoint is now histogram-sized, not row-sized.
    hist = (vals.groupBy(*group_cols, value_col)
            .agg(F.count(F.lit(1)).alias("_cnt"))
            .localCheckpoint(eager=False))
    return grouped_percentiles_from_hist(
        hist, group_cols, value_col, ps, "_cnt", n_partitions,
        broadcast_offsets=broadcast_offsets)


def grouped_percentiles_from_hist(hist: DataFrame, group_cols: list[str],
                                  value_col: str, ps: list[float],
                                  cnt_col: str = "_cnt",
                                  n_partitions: int | None = None,
                                  broadcast_offsets: bool = True
                                  ) -> DataFrame:
    """The rank-and-interpolate half of :func:`grouped_exact_percentiles`
    for callers that ALREADY hold a (group, value, count) histogram —
    r15: a derived histogram (|value − median| for MAD, a residual grid)
    is an aggregate over the *existing* histogram's few rows, so
    re-running the raw-row scan + partial/final agg just to build it is
    a full wasted pass. Same output contract and the identical
    quantile_cont interpolation, so swapping in a derived histogram
    moves no hashes. NULL ``value_col`` rows in ``hist`` are excluded
    here (SQL percentile semantics), so callers may pass histograms
    that still carry a NULL-value group for other consumers. The caller
    is responsible for materializing ``hist`` if its lineage is
    expensive (this function fans out into sampling + CDF + totals
    consumers, exactly like the parent)."""
    hist = hist.where(F.col(value_col).isNotNull())
    cdf = grouped_histogram_cdf(hist, group_cols, value_col, cnt_col,
                                n_partitions,
                                broadcast_offsets=broadcast_offsets)
    targets_per_p = F.array(*[
        F.struct(F.lit(i).alias("_p_idx"),
                 F.lit(float(p)).alias("_p")) for i, p in enumerate(ps)])
    rn = (F.col("_n") - F.lit(1)).cast("double") * F.col("_t._p")
    # Group totals come from HIST (tiny partial/final agg), not from
    # `cdf` — the range-shuffle branch is consumed exactly once, by the
    # straddle probe below.
    targets = (hist.groupBy(*group_cols)
               .agg(F.sum(cnt_col).alias("_n"))
               .select(*group_cols, "_n",
                       F.explode(targets_per_p).alias("_t"))
               .select(*group_cols,
                       F.col("_t._p_idx").alias("_p_idx"),
                       (F.floor(rn).cast("long") + 1).alias("_lo"),
                       (F.ceil(rn).cast("long") + 1).alias("_hi"),
                       (rn - F.floor(rn)).alias("_frac")))
    # same contract as the offsets table: targets is groups x |ps| rows
    # - KB-sized for enum-like keys, but a high-cardinality grouping
    # passes broadcast_offsets=False and gets a shuffle join here too
    targets_side = F.broadcast(targets) if broadcast_offsets else targets
    # A histogram row covers global ranks (_cum - _cnt, _cum]; it
    # straddles a target when _lo or _hi falls inside that range.
    hit_lo = ((F.col("_lo") > F.col("_cum") - F.col(cnt_col))
              & (F.col("_lo") <= F.col("_cum")))
    hit_hi = ((F.col("_hi") > F.col("_cum") - F.col(cnt_col))
              & (F.col("_hi") <= F.col("_cum")))
    straddle = cdf.join(targets_side, group_cols).where(hit_lo | hit_hi)
    return (straddle.groupBy(*group_cols, "_p_idx")
            .agg(F.max(F.when(hit_lo, F.col(value_col))).alias("_v_lo"),
                 F.max(F.when(hit_hi, F.col(value_col))).alias("_v_hi"),
                 F.min("_frac").alias("_frac"))
            .select(*group_cols, "_p_idx",
                    ((F.lit(1.0) - F.col("_frac")) * F.col("_v_lo")
                     + F.col("_frac") * F.col("_v_hi"))
                    .alias("value")))


def grouped_percentiles_from_bounded_hist(hist: DataFrame,
                                          group_cols: list[str],
                                          value_col: str, ps: list[float],
                                          cnt_col: str = "_cnt"
                                          ) -> DataFrame:
    """Percentile walk over a (group, value, count) histogram whose
    per-group row count the CALLER declares bounded — a static contract,
    not a plan-time cardinality guess (r16, VERDICT r15 #4): e.g. the
    MAD family's histograms over 2-decimal bounded-domain values, where
    |distinct values per group| is capped by the VALUE GRID (≲1e5 rows)
    independent of the table's row count, so one per-group window task
    always fits.

    Same output contract and bit-identical interpolation as
    :func:`grouped_percentiles_from_hist`; the difference is plan shape:
    the cumulative counts and group totals ride ONE hash exchange on the
    group key (two window aggregates over the same partitioning) and the
    straddle filter + final agg are map-side + one tiny exchange —
    replacing the range shuffle, per-partition windows, offset windows
    and metadata broadcast joins the scale-safe machinery needs when a
    group's histogram may NOT fit a task (callers without the bound stay
    on :func:`grouped_percentiles_from_hist`).

    PRECONDITION (as for :func:`grouped_histogram_cdf`): ``hist`` is
    already aggregated — rows are unique per (group, value), each
    carrying that value's multiplicity in ``cnt_col``. Rows with a NULL
    value are dropped before the walk."""
    hist = hist.where(F.col(value_col).isNotNull())
    w_cum = (Window.partitionBy(*group_cols).orderBy(value_col)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_all = Window.partitionBy(*group_cols)
    cdf = hist.select(
        *group_cols, value_col, F.col(cnt_col).alias("_c"),
        F.sum(cnt_col).over(w_cum).alias("_cum"),
        F.sum(cnt_col).over(w_all).alias("_n"))
    targets_per_p = F.array(*[
        F.struct(F.lit(i).alias("_p_idx"),
                 F.lit(float(p)).alias("_p")) for i, p in enumerate(ps)])
    rn = (F.col("_n") - F.lit(1)).cast("double") * F.col("_t._p")
    tg = (cdf.select(*group_cols, value_col, "_c", "_cum",
                     F.explode(targets_per_p).alias("_t"), "_n")
          .select(*group_cols, value_col, "_c", "_cum",
                  F.col("_t._p_idx").alias("_p_idx"),
                  (F.floor(rn).cast("long") + 1).alias("_lo"),
                  (F.ceil(rn).cast("long") + 1).alias("_hi"),
                  (rn - F.floor(rn)).alias("_frac")))
    hit_lo = ((F.col("_lo") > F.col("_cum") - F.col("_c"))
              & (F.col("_lo") <= F.col("_cum")))
    hit_hi = ((F.col("_hi") > F.col("_cum") - F.col("_c"))
              & (F.col("_hi") <= F.col("_cum")))
    return (tg.where(hit_lo | hit_hi)
            .groupBy(*group_cols, "_p_idx")
            .agg(F.max(F.when(hit_lo, F.col(value_col))).alias("_v_lo"),
                 F.max(F.when(hit_hi, F.col(value_col))).alias("_v_hi"),
                 F.min("_frac").alias("_frac"))
            .select(*group_cols, "_p_idx",
                    ((F.lit(1.0) - F.col("_frac")) * F.col("_v_lo")
                     + F.col("_frac") * F.col("_v_hi"))
                    .alias("value")))


def grouped_bounded_percentiles(df: DataFrame, group_cols: list[str],
                                value_col: str,
                                ps: list[float]) -> DataFrame:
    """EXACT linear-interpolation percentiles per group for frames that
    are BOUNDED BY CONSTRUCTION — the caller guarantees each group
    holds O(constant) rows (e.g. bootstrap replicate cells: B per
    group, B a compile-time constant), so a per-group window sort is a
    single small task and the heavyweight
    :func:`grouped_exact_percentiles` histogram-CDF machinery (range
    shuffle + prefix offsets + multi-consumer checkpoint) is pure
    overhead. Same output contract — one row per (group, percentile):
    ``group_cols ++ [_p_idx, value]`` — and the IDENTICAL quantile_cont
    interpolation discipline (``rn = (n-1)*p`` in IEEE double, the
    SYMMETRIC ``(1-frac)*v_lo + frac*v_hi`` form), so a caller can swap
    implementations without moving a hash. NULLs are excluded first
    (SQL percentile semantics).

    Scale shape: ONE hash shuffle on the group key, per-group window
    over the bounded frame, map-side filter to the ≤2 straddling rows
    per (group, p), tiny final agg. No checkpoint, no extra consumers:
    the upstream plan executes exactly once inside the action, never at
    plan-build (the r14 AQE/localCheckpoint gotcha — SCALE.md)."""
    vals = (df.select(*group_cols, value_col)
            .where(F.col(value_col).isNotNull()))
    w_rank = Window.partitionBy(*group_cols).orderBy(value_col)
    w_all = Window.partitionBy(*group_cols)
    ranked = vals.select(
        *group_cols, value_col,
        F.row_number().over(w_rank).alias("_rn"),
        F.count(F.lit(1)).over(w_all).alias("_n"))
    targets_per_p = F.array(*[
        F.struct(F.lit(i).alias("_p_idx"),
                 F.lit(float(p)).alias("_p")) for i, p in enumerate(ps)])
    rn = (F.col("_n") - F.lit(1)).cast("double") * F.col("_t._p")
    tg = (ranked.select(*group_cols, value_col, "_rn",
                        F.explode(targets_per_p).alias("_t"),
                        F.col("_n"))
          .select(*group_cols, value_col, "_rn",
                  F.col("_t._p_idx").alias("_p_idx"),
                  (F.floor(rn).cast("long") + 1).alias("_lo"),
                  (F.ceil(rn).cast("long") + 1).alias("_hi"),
                  (rn - F.floor(rn)).alias("_frac")))
    hit_lo = F.col("_rn") == F.col("_lo")
    hit_hi = F.col("_rn") == F.col("_hi")
    return (tg.where(hit_lo | hit_hi)
            .groupBy(*group_cols, "_p_idx")
            .agg(F.max(F.when(hit_lo, F.col(value_col))).alias("_v_lo"),
                 F.max(F.when(hit_hi, F.col(value_col))).alias("_v_hi"),
                 F.min("_frac").alias("_frac"))
            .select(*group_cols, "_p_idx",
                    ((F.lit(1.0) - F.col("_frac")) * F.col("_v_lo")
                     + F.col("_frac") * F.col("_v_hi"))
                    .alias("value")))


def ntile_bucket(rank: Column, total: Column, n: int) -> Column:
    """Exact ntile bucket from a 1-based global rank: the first
    ``total mod n`` buckets hold ``total div n + 1`` rows, the rest
    ``total div n`` — Spark's (and the SQL standard's) ntile fill rule,
    in closed form so it composes with :func:`global_rank` instead of a
    single-partition window."""
    small = F.floor(total / F.lit(n))       # total div n
    big = total % F.lit(n)                  # count of (small+1)-row buckets
    cutoff = big * (small + F.lit(1))       # rows living in the big buckets
    return (F.when(rank <= cutoff,
                   F.floor((rank - 1) / (small + F.lit(1))))
            .otherwise(big + F.floor((rank - cutoff - 1) / small))
            .cast("long") + F.lit(1))


def distributed_ntile(df: DataFrame, n: int, order_cols: list[str],
                      out_col: str = "bucket",
                      n_partitions: int | None = None) -> DataFrame:
    """Exact ``ntile(n) OVER (ORDER BY order_cols)`` without the
    single-partition sort: :func:`global_rank` + the closed-form
    :func:`ntile_bucket` (total row count rides a broadcast 1-row
    aggregate). Results are bit-identical to the window ntile for a
    unique order key — the declared query's DuckDB oracle stays the
    window formulation and hash-matches."""
    ranked = global_rank(df, order_cols, n_partitions)
    total = ranked.agg(F.count(F.lit(1)).alias("_total"))
    return (ranked.join(F.broadcast(total))
            .withColumn(out_col,
                        ntile_bucket(F.col("_rank"), F.col("_total"), n))
            .drop("_rank", "_total"))


def global_cumsum(df: DataFrame, order_cols: list[str],
                  sum_cols: list[str],
                  n_partitions: int | None = None,
                  prefix: str = "_cum_") -> DataFrame:
    """Append exact running totals of ``sum_cols`` under the global
    ``order_cols`` ordering (inclusive prefix sums) with no
    single-partition data stage — the distributed-CDF building block
    (KS statistics, Lorenz curves, exact quantile tables).

    Same TeraSort discipline as :func:`global_rank`: range-shuffle on
    the order key, per-partition window cumsums, then per-partition
    TOTAL offsets (a ≤-partitions-row side table, windowed and
    broadcast) lift local cumsums to global ones.  ``order_cols`` must
    be a unique key (aggregate to one row per key first — that is also
    what makes the prefix sums well-defined).  Sums must be integral
    (long) for the offsets to stay exact.
    """
    parts = n_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = (df.repartitionByRange(parts, *[F.col(c) for c in order_cols])
              .withColumn("_pid", F.spark_partition_id()))
    local_w = (Window.partitionBy("_pid").orderBy(*order_cols)
               .rowsBetween(Window.unboundedPreceding, 0))
    local = ranged
    for c in sum_cols:
        local = local.withColumn(f"_l{c}", F.sum(c).over(local_w))
    totals = local.groupBy("_pid").agg(
        *[F.sum(c).alias(f"_t{c}") for c in sum_cols])
    off_w = (Window.orderBy("_pid")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = totals.select(
        "_pid",
        *[F.coalesce(F.sum(f"_t{c}").over(off_w), F.lit(0))
          .alias(f"_o{c}") for c in sum_cols])
    out = local.join(F.broadcast(offsets), "_pid")
    for c in sum_cols:
        out = out.withColumn(prefix + c, F.col(f"_l{c}") + F.col(f"_o{c}"))
    return out.drop("_pid",
                    *[f"_l{c}" for c in sum_cols],
                    *[f"_o{c}" for c in sum_cols])


def grouped_quantile_summary(df: DataFrame, group_cols: list[str],
                             value_col: str, id_col: str,
                             n_buckets: int = 16,
                             keep: int = 64) -> DataFrame:
    """MERGEABLE rank-spaced quantile summary per group — the one-level
    Manku–Rajagopalan–Lindsay subsample, built shard-parallel and
    merged by pure weighted union (associative: shard→region→global
    rollups need no re-sketching).

    Each of ``n_buckets`` md5(id) shards keeps every s_b-th value of
    its sorted rows (s_b = max(1, ⌊n_b/keep⌋)) plus the shard max; a
    kept item's weight is the rank-gap to the previous kept item, so
    the cumulative kept weight at any kept value equals its true shard
    rank, and the merged CDF's rank error is < Σ_b(s_b−1) + n_buckets
    ≤ n/keep + n_buckets. The lower quantile rule ("smallest value
    whose merged cum ≥ p·n") therefore answers any quantile within
    that additive rank bound. Everything is deterministic (md5 shard
    membership, unique (value, id) within-shard order), so estimates
    are engine-portable and hash-checkable.

    Returns one row per (group, distinct kept value):
    ``group_cols…, value_col, _wv`` (merged weight at that value) and
    ``_cum_m`` (inclusive merged cumulative weight — Σ_wv per group
    equals the group's row count exactly).

    Scale shape: the build is a per-(group, shard) sort — parallel over
    group×n_buckets partitions; size n_buckets so a shard's rows fit a
    task (the adaptive-bucket rule). Post-build windows touch only the
    ≤ n_buckets·(keep+1) summary rows per group. ``id_col`` must be
    unique per row; ``value_col`` non-null."""
    from hippo_claim_crossover_spark.operators.hashing import hex2long

    b = hex2long(F.md5(F.col(id_col).cast("string"))) % n_buckets
    shard = df.select(*group_cols, value_col,
                      F.col(id_col).alias("_id"), b.alias("_b"))
    wb = Window.partitionBy(*group_cols, "_b")
    wbo = wb.orderBy(value_col, "_id")
    ranked = shard.select(
        *group_cols, "_b", value_col,
        F.row_number().over(wbo).alias("_rn"),
        F.count(F.lit(1)).over(wb).alias("_nb"))
    step = F.greatest(F.lit(1),
                      F.floor(F.col("_nb") / keep).cast("long"))
    kept = (ranked.withColumn("_s", step)
            .where((F.col("_rn") % F.col("_s") == 0)
                   | (F.col("_rn") == F.col("_nb"))))
    wk = Window.partitionBy(*group_cols, "_b").orderBy("_rn")
    kept_w = kept.select(
        *group_cols, value_col,
        (F.col("_rn") - F.coalesce(F.lag("_rn").over(wk), F.lit(0)))
        .alias("_w"))
    by_val = (kept_w.groupBy(*group_cols, value_col)
              .agg(F.sum("_w").alias("_wv")))
    wcum = (Window.partitionBy(*group_cols).orderBy(value_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return by_val.select(*group_cols, value_col, "_wv",
                         F.sum("_wv").over(wcum).alias("_cum_m"))
