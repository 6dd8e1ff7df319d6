"""Distributed global-order ranking, prefix sums and percentiles.

A ``Window.orderBy(...)`` with no partition key plans as an Exchange to a
SINGLE partition — the whole table sorts on one task, the classic hidden
scale cliff of global rank/ntile/percentile queries. The operators here
compute the same *exact* results with every stage distributed, the same way
a TeraSort distributes a global sort. One kernel, :func:`_prefix_sums`,
does it for all of them:

1. ``repartitionByRange`` on (group ++ order) keys (sampled range
   boundaries — Spark's distributed sort machinery; deterministic
   sampling seed);
2. per-partition running totals (window partitioned by the range
   partition id and the group — each partition sums independently);
3. per-partition-total prefix offsets turning local running totals into
   global ones — computed with a window over the TOTALS table (one row
   per partition and group, a broadcast-sized side), never a driver
   collect.

A rank is the running total of ``1`` (:func:`global_rank`,
:func:`grouped_global_rank`), a CDF the running total of a histogram's
counts (:func:`grouped_histogram_cdf`), and :func:`global_cumsum` the
running total of any integral columns. :func:`distributed_ntile` turns a
rank into a closed-form bucket, and :func:`grouped_percentiles` — the one
percentile entry point — walks a CDF to the rows straddling each target
rank.

The order columns must form a unique key (add a tiebreaker id) — the same
requirement engine-deterministic ntile has anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hippo_claim_crossover_spark.session import materialize


def _ranged(df: DataFrame, keys: list[str],
            n_partitions: int | None) -> DataFrame:
    """``df`` range-partitioned on ``keys``, with its partition id as
    ``_pid``. Every caller reads the result twice: the rows, and the
    per-partition counts or totals that become prefix offsets. Range
    bounds are sampled per exchange (Spark seeds the sample with the RDD
    id), so the offsets are only right if both reads share ONE exchange
    — q_curriculum ranked past its total at 4 partitions when they did
    not. Spark reuses an exchange only if both reads take the same
    columns from it, and column pruning would narrow the counts read to
    the keys. So ``_pid`` references every column of ``df`` in a branch
    that never runs (``spark_partition_id() >= 0`` always holds, but the
    optimizer cannot fold it): no read prunes below the exchange, and
    the second read reuses the first. Pass only the columns you need."""
    parts = n_partitions or df.sparkSession.sparkContext.defaultParallelism
    pid = F.spark_partition_id()
    every_col = F.length(F.to_json(F.struct(*df.columns)))
    return (df.repartitionByRange(parts, *[F.col(c) for c in keys])
            .withColumn("_pid", F.when(pid >= 0, pid).otherwise(every_col)))


def _prefix_sums(df: DataFrame, group_cols: list[str],
                 order_cols: list[str], sums: dict[str, Column],
                 n_partitions: int | None = None,
                 broadcast_offsets: bool = True,
                 total_col: str | None = None) -> DataFrame:
    """Append, for each ``name -> expr`` in ``sums``, the exact inclusive
    running total of ``expr`` under ``order_cols`` within each group as
    column ``name`` — and the group's total of the (single) sum as
    ``total_col``, if given. Drops nothing.

    1. range-shuffle on (group ++ order) — a group larger than one
       partition spans several CONSECUTIVE partition ids, each holding a
       contiguous value range (range partitioning is order-preserving
       across partition ids, and equal keys land in one partition);
    2. local running totals per (partition, group);
    3. per-group prefix offsets over the (partition × group) TOTALS
       table — tiny by construction (≤ partitions rows per group), and
       the offset window partitions by group, so no single-partition
       data stage exists anywhere in the plan. The offsets and the
       group total share one window spec, hence one Window node.

    Running totals among EQUAL order keys are arbitrary (they stay within
    one partition); use a unique key when that matters. Sums must be
    integral (long) for the offsets to stay exact.

    ``broadcast_offsets`` encodes the LOW-CARDINALITY GROUPING CONTRACT
    every in-repo grouped caller satisfies (percentiles/Gini/NTILE over
    enum-like keys): the offsets table is ≤ partitions × |groups| rows,
    KBs for tens of groups but GBs for a 10 M-key grouping — pass
    ``False`` there and the offsets attach via a shuffle join on
    (_pid ++ group) instead (same plan, one more exchange over the
    already-aggregated totals table; never an OOM)."""
    local_w = (Window.partitionBy("_pid", *group_cols).orderBy(*order_cols)
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    local = _ranged(df, group_cols + order_cols, n_partitions).select(
        "*", *[F.sum(e).over(local_w).alias(f"_l{n}")
               for n, e in sums.items()])
    totals = local.groupBy("_pid", *group_cols).agg(
        *[F.sum(e).alias(f"_t{n}") for n, e in sums.items()])
    pid_w = Window.partitionBy(*group_cols).orderBy("_pid")
    off_w = pid_w.rowsBetween(Window.unboundedPreceding, -1)
    cols = [F.coalesce(F.sum(f"_t{n}").over(off_w), F.lit(0)).alias(f"_o{n}")
            for n in sums]
    if total_col:
        (n,) = sums
        cols.append(F.sum(f"_t{n}").over(pid_w.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing))
            .alias(total_col))
    offsets = totals.select("_pid", *group_cols, *cols)
    if broadcast_offsets:
        offsets = F.broadcast(offsets)
    out = local.join(offsets, ["_pid", *group_cols])
    for n in sums:
        out = out.withColumn(n, F.col(f"_l{n}") + F.col(f"_o{n}"))
    return out.drop("_pid", *[f"_l{n}" for n in sums],
                    *[f"_o{n}" for n in sums])


def global_rank(df: DataFrame, order_cols: list[str],
                n_partitions: int | None = None,
                out_col: str = "_rank",
                total_col: str | None = None) -> DataFrame:
    """Append the exact 1-based global rank of each row under
    ``order_cols`` (ascending, unique key) with no single-partition
    stage: range-shuffle + per-partition window + broadcast prefix
    offsets. Adds ``out_col`` (and the total row count as ``total_col``,
    if given); drops nothing."""
    return _prefix_sums(df, [], order_cols, {out_col: F.lit(1)},
                        n_partitions, total_col=total_col)


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
    each sorting a third of the table). Ranks among EQUAL order keys are
    arbitrary; rank-indexed value lookup (percentiles) is insensitive to
    tie order by definition. ``broadcast_offsets``: see
    :func:`_prefix_sums`."""
    return _prefix_sums(df, group_cols, order_cols, {out_col: F.lit(1)},
                        n_partitions, broadcast_offsets)


def grouped_histogram_cdf(hist: DataFrame, group_cols: list[str],
                          value_col: str, cnt_col: str = "_cnt",
                          n_partitions: int | None = None,
                          broadcast_offsets: bool = True) -> DataFrame:
    """Append the exact inclusive cumulative count ``_cum`` to a
    per-group value HISTOGRAM (one row per (group, value) with its
    multiplicity ``cnt_col``) — i.e. the grouped empirical CDF — with
    every stage distributed: :func:`grouped_global_rank` summing
    multiplicities instead of counting rows. Rows must be unique per
    (group, value); NULLs are the caller's problem."""
    return _prefix_sums(hist, group_cols, [value_col],
                        {"_cum": F.col(cnt_col)}, n_partitions,
                        broadcast_offsets)


def grouped_percentiles(df: DataFrame, group_cols: list[str],
                        value_col: str, ps: list[float],
                        cnt_col: str | None = None, bounded: bool = False,
                        n_partitions: int | None = None,
                        broadcast_offsets: bool = True) -> DataFrame:
    """EXACT linear-interpolation percentiles per group: walk the
    group's CDF, fetch only the rows whose cumulative-count range covers
    each target rank, and interpolate. All ``ps`` share one CDF.

    Returns one row per (group, percentile): ``group_cols ++ [_p_idx,
    value]`` where ``_p_idx`` indexes into ``ps``. NULL values are
    excluded first (SQL percentile semantics), so a histogram may still
    carry a NULL-value group for other consumers.

    Input: raw rows by default; with ``cnt_col``, a (group, value,
    count) HISTOGRAM — rows unique per (group, value), each carrying
    that value's multiplicity in ``cnt_col``. A derived histogram
    (|value − median| for MAD, a residual grid) is an aggregate over an
    existing histogram's few rows, so passing it here skips a full
    raw-row scan + partial/final agg. The caller materializes ``df`` if
    its lineage is expensive: the scale-safe walk reads it three times.

    Interpolation follows the quantile_cont discipline exactly:
    ``rn = (n-1)*p`` in IEEE double, and the SYMMETRIC weighted form
    ``(1-frac)*v[floor(rn)] + frac*v[ceil(rn)]`` on 0-based sorted
    positions — NOT the algebraically-equal ``lo + frac*(hi-lo)``,
    which differs in the last ulp for some inputs (observed at sf0.1)
    and fails a bit-exact oracle compare. When ``rn`` is integral the
    fraction is exactly 0.0 and the value returns bit-identically.
    Rank-indexed value lookup is tie-insensitive, so compressing a
    tie-run into one histogram row with a rank RANGE changes nothing:
    the value at every rank inside the run IS the run's value. Every
    combination of input and walk returns bit-identical values.

    Scale-safe walk (default): raw rows are first tie-compressed into a
    (group, value, count) histogram (a partial/final hash aggregate —
    map-side combine crushes the row count before anything shuffles),
    then :func:`grouped_histogram_cdf` range-shuffles the HISTOGRAM only
    (|distinct values per group| rows — for the enum-and-price columns
    real fact tables take percentiles of, orders of magnitude below the
    row count; the r10 century stress measured the previous
    rank-every-row form spilling 9.1 GB sorting 120 M melted rows in the
    window stage at 100× sf0.1, while this form's window input is the
    ~KB histogram). Offsets (partitions×groups rows) and targets
    (groups×|ps| rows) broadcast by default; ``broadcast_offsets=False``
    is the high-cardinality contract (a 10M-key grouping makes both
    metadata tables GB-sized — shuffle joins there, and the histogram
    degenerates gracefully to ~the row count when values are unique).
    Reduce-side state is O(1) per row everywhere, so the plan survives a
    3-value grouping key at 100 TB where the exact-percentile
    aggregate's O(rows/group) buffer is a guaranteed OOM.

    ``bounded=True`` is a static caller-declared contract, not a
    plan-time cardinality guess: every group's input fits one window
    task — bootstrap cells (B per group, B a compile-time constant), or
    a histogram over a 2-decimal bounded-domain grid whose rows per
    group are capped by the VALUE DOMAIN (≲1e5) independent of the row
    count. The cumulative counts and group totals then ride ONE hash
    exchange on the group key (two window aggregates over the same
    partitioning), and the straddle filter + final agg are map-side +
    one tiny exchange — no range shuffle, prefix offsets, metadata
    joins or checkpoint (raw rows walk with count 1: no histogram), so
    the upstream plan executes exactly once inside the action, never at
    plan-build (the r14 AQE/localCheckpoint gotcha — SCALE.md).
    ``n_partitions`` and ``broadcast_offsets`` apply to the scale-safe
    walk only."""
    not_null = F.col(value_col).isNotNull()
    if cnt_col is None:
        cnt_col, df = "_cnt", df.select(*group_cols, value_col).where(not_null)
        if bounded:
            df = df.withColumn(cnt_col, F.lit(1))
        else:
            # Three consumers read the histogram: the range-partitioner's
            # sampling pass, the CDF shuffle itself, and the group-totals
            # aggregate. Materializing the tie-compressed histogram once
            # replaces three full upstream scans, and the checkpoint is
            # histogram-sized, not row-sized.
            df = materialize(df.groupBy(*group_cols, value_col)
                             .agg(F.count(F.lit(1)).alias(cnt_col)),
                             "percentile_hist")
    hist = df.where(not_null)
    targets_per_p = F.array(*[
        F.struct(F.lit(i).alias("_p_idx"),
                 F.lit(float(p)).alias("_p")) for i, p in enumerate(ps)])
    rn = (F.col("_n") - F.lit(1)).cast("double") * F.col("_t._p")

    def targets(frame: DataFrame, keep: list[str]) -> DataFrame:
        return (frame.select(*keep, "_n",
                             F.explode(targets_per_p).alias("_t"))
                .select(*keep, F.col("_t._p_idx").alias("_p_idx"),
                        (F.floor(rn).cast("long") + 1).alias("_lo"),
                        (F.ceil(rn).cast("long") + 1).alias("_hi"),
                        (rn - F.floor(rn)).alias("_frac")))

    if bounded:
        w_cum = (Window.partitionBy(*group_cols).orderBy(value_col)
                 .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        cdf = hist.select(
            *group_cols, value_col, cnt_col,
            F.sum(cnt_col).over(w_cum).alias("_cum"),
            F.sum(cnt_col).over(Window.partitionBy(*group_cols)).alias("_n"))
        walk = targets(cdf, [*group_cols, value_col, cnt_col, "_cum"])
    else:
        cdf = grouped_histogram_cdf(hist, group_cols, value_col, cnt_col,
                                    n_partitions, broadcast_offsets)
        # Group totals come from HIST (tiny partial/final agg), not from
        # `cdf` — the range-shuffle branch is consumed exactly once, by
        # the straddle probe below. Targets are groups x |ps| rows: the
        # same broadcast contract as the offsets table.
        tg = targets(hist.groupBy(*group_cols)
                     .agg(F.sum(cnt_col).alias("_n")), group_cols)
        walk = cdf.join(F.broadcast(tg) if broadcast_offsets else tg,
                        group_cols)
    # A histogram row covers ranks (_cum - cnt, _cum]; it straddles a
    # target when _lo or _hi falls inside that range.
    hit_lo = ((F.col("_lo") > F.col("_cum") - F.col(cnt_col))
              & (F.col("_lo") <= F.col("_cum")))
    hit_hi = ((F.col("_hi") > F.col("_cum") - F.col(cnt_col))
              & (F.col("_hi") <= F.col("_cum")))
    return (walk.where(hit_lo | hit_hi)
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
    :func:`ntile_bucket` (the total row count rides the broadcast
    offsets table). Results are bit-identical to the window ntile for a
    unique order key — the declared query's DuckDB oracle stays the
    window formulation and hash-matches."""
    return (global_rank(df, order_cols, n_partitions, total_col="_total")
            .withColumn(out_col,
                        ntile_bucket(F.col("_rank"), F.col("_total"), n))
            .drop("_rank", "_total"))


def global_cumsum(df: DataFrame, order_cols: list[str],
                  sum_cols: list[str],
                  n_partitions: int | None = None,
                  prefix: str = "_cum_") -> DataFrame:
    """Append exact running totals of ``sum_cols`` under the global
    ``order_cols`` ordering (inclusive prefix sums, as ``prefix + col``)
    with no single-partition data stage — the distributed-CDF building
    block (KS statistics, Lorenz curves, exact quantile tables).
    ``order_cols`` must be a unique key (aggregate to one row per key
    first — that is also what makes the prefix sums well-defined). Sums
    must be integral (long) for the offsets to stay exact.
    """
    return _prefix_sums(df, [], order_cols,
                        {prefix + c: F.col(c) for c in sum_cols},
                        n_partitions)


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
    from hippo_claim_crossover_spark.operators.hashing import md5_long

    b = md5_long(F.col(id_col).cast("string")) % n_buckets
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
