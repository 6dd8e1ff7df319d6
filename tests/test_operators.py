"""Unit tests for operators/joins.py: as-of join edge semantics and
salted-join equivalence."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from hippo_claim_crossover_spark.operators.joins import asof_join, salted_join


def _ts(day: int, hour: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, day, hour)


def _frames(spark):
    left = spark.createDataFrame(
        [(1, _ts(5), "a"), (1, _ts(10), "b"), (2, _ts(3), "c"),
         (3, _ts(7), "d")],
        "k int, ts timestamp, ev string")
    right = spark.createDataFrame(
        [(1, _ts(4), 100.0), (1, _ts(10), 200.0), (2, _ts(9), 300.0)],
        "k int, rts timestamp, val double")
    return left, right


def test_asof_backward_picks_latest_at_or_before(spark):
    left, right = _frames(spark)
    out = {(r["k"], r["ts"]): (r["rts"], r["val"])
           for r in asof_join(left, right, "k", "ts", "rts").collect()}
    assert out[(1, _ts(5))] == (_ts(4), 100.0)      # strictly before
    assert out[(1, _ts(10))] == (_ts(10), 200.0)    # equal ts → inclusive
    assert out[(2, _ts(3))] == (None, None)         # right is later → NULL
    assert out[(3, _ts(7))] == (None, None)         # key absent → NULL


def test_asof_tolerance_nulls_stale_matches(spark):
    left, right = _frames(spark)
    out = {(r["k"], r["ts"]): r["val"]
           for r in asof_join(left, right, "k", "ts", "rts",
                              tolerance="12 HOURS").collect()}
    assert out[(1, _ts(5))] is None       # match is 1 day old > 12h
    assert out[(1, _ts(10))] == 200.0     # exact-ts match survives
    assert len(out) == 4                  # left-outer: row count preserved


def test_asof_rejects_overlapping_columns(spark):
    left = spark.createDataFrame([(1, _ts(1), 1.0)],
                                 "k int, ts timestamp, val double")
    right = spark.createDataFrame([(1, _ts(1), 2.0)],
                                  "k int, rts timestamp, val double")
    try:
        asof_join(left, right, "k", "ts", "rts")
        raise AssertionError("expected ValueError")
    except ValueError as exc:
        assert "val" in str(exc)


def test_salted_join_matches_plain_join(spark):
    big = spark.range(0, 1000).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("payload"))
    dim = spark.createDataFrame(
        [(int(k), f"name_{k}") for k in range(7)], "k bigint, name string")
    plain = big.join(dim, "k").select("k", "payload", "name")
    salted = salted_join(big, dim, "k", salt=8).select("k", "payload", "name")
    assert sorted(map(tuple, plain.collect())) == \
        sorted(map(tuple, salted.collect()))


def test_salted_join_left_preserves_unmatched_big_rows(spark):
    big = spark.createDataFrame([(1, "a"), (9, "b")], "k int, payload string")
    dim = spark.createDataFrame([(1, "one")], "k int, name string")
    rows = sorted(map(tuple, salted_join(big, dim, "k", salt=4, how="left")
                      .select("k", "payload", "name").collect()))
    assert rows == [(1, "a", "one"), (9, "b", None)]


def test_salted_join_rejects_skew_side_preserving_how(spark):
    big = spark.createDataFrame([(1, "a")], "k int, payload string")
    dim = spark.createDataFrame([(1, "one")], "k int, name string")
    for how in ("right", "full", "outer", "full_outer"):
        try:
            salted_join(big, dim, "k", how=how)
            raise AssertionError(f"expected ValueError for {how}")
        except ValueError as exc:
            assert "salted_join supports" in str(exc)


def test_salted_join_spreads_fully_duplicate_hot_rows(spark):
    # 400 identical rows (one hot key, identical payload): a content-hash
    # salt would put them all in one sub-key; round-robin must not.
    big = spark.createDataFrame([(1, "same")] * 400, "k int, payload string")
    dim = spark.createDataFrame([(1, "one")], "k int, name string")
    salted = big.withColumn(
        "_salt", F.pmod(F.monotonically_increasing_id(), F.lit(8)).cast("int"))
    n_subkeys = salted.select("_salt").distinct().count()
    assert n_subkeys > 1
    out = salted_join(big, dim, "k", salt=8)
    assert out.count() == 400


def test_asof_rejects_shared_timestamp_name(spark):
    left = spark.createDataFrame([(1, _ts(1), "x")],
                                 "k int, ts timestamp, ev string")
    right = spark.createDataFrame([(1, _ts(1), 2.0)],
                                  "k int, ts timestamp, val double")
    try:
        asof_join(left, right, "k", "ts", "ts")
        raise AssertionError("expected ValueError")
    except ValueError as exc:
        assert "ts" in str(exc)


def test_asof_rejects_internal_name_collision(spark):
    left = spark.createDataFrame([(1, _ts(1), "x")],
                                 "k int, ts timestamp, _rts string")
    right = spark.createDataFrame([(1, _ts(2), 2.0)],
                                  "k int, rts timestamp, val double")
    try:
        asof_join(left, right, "k", "ts", "rts")
        raise AssertionError("expected ValueError")
    except ValueError as exc:
        assert "_rts" in str(exc)


def test_distributed_ntile_equals_window_ntile(spark):
    """distributed_ntile (range shuffle + prefix offsets + closed-form
    fill rule) must equal ntile() OVER a global window bit-for-bit on a
    unique order key — including the remainder buckets (first N mod n
    buckets one row larger) and the N < n edge (one row per bucket)."""
    import random

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from hippo_claim_crossover_spark.operators.ranking import (
        distributed_ntile,
    )

    rng = random.Random(11)
    for n_rows in (7, 23, 40, 101):
        rows = [(i, rng.randint(0, 50) + rng.random()) for i in range(n_rows)]
        df = spark.createDataFrame(rows, "id long, v double")
        got = {r["id"]: r["bucket"]
               for r in distributed_ntile(df, 10, ["v", "id"]).collect()}
        w = Window.orderBy("v", "id")
        want = {r["id"]: r["b"]
                for r in df.withColumn("b", F.ntile(10).over(w)).collect()}
        assert got == want, n_rows


def test_merge_apply_covers_all_four_branches(spark):
    from hippo_claim_crossover_spark.operators.cdc import merge_apply

    target = spark.createDataFrame(
        [(1, "old-a", 10.0), (2, "old-b", 20.0), (3, "old-c", 30.0)],
        "k int, v string, amt double")
    source = spark.createDataFrame(
        [(1, "new-a", 11.0),        # matched → update
         (3, "poison", 33.0),       # matched + delete_cond → dropped
         (4, "new-d", 44.0)],       # unmatched → insert
        "k int, v string, amt double")
    out = {r["k"]: (r["v"], r["amt"], r["action"])
           for r in merge_apply(target, source, "k",
                                delete_cond=F.col("sr.v") == "poison")
           .collect()}
    assert out == {
        1: ("new-a", 11.0, "update"),
        2: ("old-b", 20.0, "keep"),     # not matched by source
        4: ("new-d", 44.0, "insert"),
    }  # 3 deleted


def test_merge_apply_without_delete_cond_keeps_matches(spark):
    from hippo_claim_crossover_spark.operators.cdc import merge_apply

    target = spark.createDataFrame([(1, "a")], "k int, v string")
    source = spark.createDataFrame([(1, "b")], "k int, v string")
    [row] = merge_apply(target, source, "k").collect()
    assert (row["v"], row["action"]) == ("b", "update")


def test_scd2_intervals_collapse_and_chain(spark):
    from hippo_claim_crossover_spark.operators.cdc import scd2_intervals

    df = spark.createDataFrame(
        [(1, _ts(1), 1, "x"), (1, _ts(2), 2, "x"),   # repeat → collapsed
         (1, _ts(3), 3, "y"), (1, _ts(4), 4, "x"),   # back to x → new row
         (2, _ts(5), 5, "z")],
        "k int, ts timestamp, id int, attr string")
    rows = sorted(
        scd2_intervals(df, "k", "attr", ["ts", "id"]).collect(),
        key=lambda r: (r["k"], r["version"]))
    got = [(r["k"], r["attr"], r["valid_from"], r["valid_to"],
            r["version"], r["is_current"]) for r in rows]
    assert got == [
        (1, "x", _ts(1), _ts(3), 1, False),
        (1, "y", _ts(3), _ts(4), 2, False),
        (1, "x", _ts(4), None, 3, True),
        (2, "z", _ts(5), None, 1, True),
    ]


def test_bloom_semi_join_exact_and_pruning(spark):
    """Bloom pruning must be invisible in the result (exact semi join)
    while the candidate set between filter and verify actually shrinks;
    the tiny m=64 filter saturates every word (incl. the sign bit) and
    must still never drop an inserted key."""
    from hippo_claim_crossover_spark.operators.bloom import (
        bloom_build, bloom_may_contain, bloom_semi_join)

    build = spark.range(0, 100).withColumnRenamed("id", "bk")
    probe = spark.range(0, 10000).withColumnRenamed("id", "pk")
    got = {r["pk"] for r in
           bloom_semi_join(probe, "pk", build, "bk", 1 << 12, 5).collect()}
    assert got == set(range(100))

    filt = bloom_build(build, "bk", 1 << 12, 5)
    n_cand = (probe.join(F.broadcast(filt))
              .where(bloom_may_contain(F.col("words"), F.col("pk"),
                                       1 << 12, 5)).count())
    assert 100 <= n_cand < 1000  # pruned ≥90% of the 10k probe rows

    # m=64: every word saturates to -1 (bit 63 = sign bit exercised) and
    # membership still holds for all inserted keys.
    f64 = bloom_build(build, "bk", 64, 5)
    assert [r["words"] for r in f64.collect()] == [[-1]]
    n64 = (build.join(F.broadcast(f64))
           .where(bloom_may_contain(F.col("words"), F.col("bk"), 64, 5))
           .count())
    assert n64 == 100


def test_sorted_neighborhood_pairs_exact_window(spark):
    from hippo_claim_crossover_spark.operators.linkage import (
        sorted_neighborhood_pairs)

    df = spark.createDataFrame(
        [(10, "a"), (20, "b"), (30, "c"), (40, "d")], "id int, name string")
    got = {(r["id_a"], r["id_b"])
           for r in sorted_neighborhood_pairs(
               df, "id", ["name", "id"], window=3).collect()}
    # each row pairs with its next 2 successors in name order
    assert got == {(10, 20), (10, 30), (20, 30), (20, 40), (30, 40)}


def test_basket_pairs_matches_distinct_self_join(spark):
    """basket_pairs (collect_set + row-local expansion, r15) must be
    row-identical to the distinct + self-join formulation it replaced —
    including duplicate (basket, item) rows (dedup'd per basket), NULL
    items (never pair), and singleton/empty baskets (no pairs)."""
    from pyspark.sql import functions as F

    from hippo_claim_crossover_spark.operators.graph import basket_pairs

    rows = [(1, 10), (1, 20), (1, 30), (1, 20),      # dup item in basket
            (2, 20), (2, 30),
            (3, 40),                                  # singleton
            (4, None), (4, 50),                       # NULL item
            (5, 10), (5, 30),
            (None, 60), (None, 70)]                   # NULL basket key
    df = spark.createDataFrame(rows, "bk int, it int")
    got = {(r["u"], r["v"], r["_sup"])
           for r in basket_pairs(df, "bk", "it").collect()}
    li = df.select("bk", "it").distinct()
    a, b = li.alias("a"), li.alias("b")
    # the self-join's a.bk == b.bk never matches NULL baskets — the
    # r16 isNotNull filter pins basket_pairs to the same contract
    ref = {(r["u"], r["v"], r["_sup"]) for r in (
        a.join(b, (F.col("a.bk") == F.col("b.bk"))
               & (F.col("a.it") < F.col("b.it")))
        .groupBy(F.col("a.it").alias("u"), F.col("b.it").alias("v"))
        .agg(F.count(F.lit(1)).alias("_sup"))).collect()}
    assert got == ref
    assert got == {(10, 20, 1), (10, 30, 2), (20, 30, 2)}


def test_basket_pairs_max_items_guard(spark):
    """The optional defensive cap must pass bounded baskets through
    unchanged and fail LOUDLY (not OOM) on a violation."""
    from hippo_claim_crossover_spark.operators.graph import basket_pairs

    df = spark.createDataFrame(
        [(1, 10), (1, 20), (2, 30), (2, 40), (2, 50)], "bk int, it int")
    ok = {(r["u"], r["v"], r["_sup"])
          for r in basket_pairs(df, "bk", "it", max_items=3).collect()}
    assert ok == {(10, 20, 1), (30, 40, 1), (30, 50, 1), (40, 50, 1)}
    import pytest as _pytest
    with _pytest.raises(Exception, match="max_items"):
        basket_pairs(df, "bk", "it", max_items=2).collect()


def test_triangle_stats_on_known_graphs(spark):
    from hippo_claim_crossover_spark.operators.graph import triangle_stats

    # K4: 4 triangles, every vertex degree 3 → 4·C(3,2)=12 wedges,
    # clustering = 3·4/12 = 1.0
    k4 = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)], "u int, v int")
    [r] = triangle_stats(k4).collect()
    assert (r["n_triangles"], r["n_wedges"], r["clustering"]) == (4, 12, 1.0)

    # path 1-2-3: no triangle, one wedge at node 2
    path = spark.createDataFrame([(1, 2), (2, 3)], "u int, v int")
    [r] = triangle_stats(path).collect()
    assert (r["n_triangles"], r["n_wedges"], r["clustering"]) == (0, 1, 0.0)


def test_z_value_interleaves_bits(spark):
    from hippo_claim_crossover_spark.operators.zorder import z_value

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (3, 5), (65535, 65535)], "x long, y long")
    got = [r["z"] for r in
           df.select(z_value(F.col("x"), F.col("y")).alias("z"))
           .collect()]

    def ref(x, y):
        z = 0
        for i in range(16):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    assert got == [ref(x, y) for x, y in
                   [(0, 0), (1, 0), (0, 1), (3, 5), (65535, 65535)]]


def test_binned_interval_join_matches_bruteforce(spark):
    from hippo_claim_crossover_spark.operators.joins import (
        binned_interval_join)

    left = spark.createDataFrame(
        [(1, 0, 25), (2, 5, 8), (3, 40, 45), (4, 90, 130)],
        "lid int, ls long, le long")
    right = spark.createDataFrame(
        [(10, 3, 12), (11, 20, 60), (12, 100, 101), (13, 7, 8)],
        "rid int, rs long, re long")
    for bw in (1, 7, 10, 1000):
        got = {(r["lid"], r["rid"]) for r in binned_interval_join(
            left, right, "ls", "le", "rs", "re", bw).collect()}
        want = {(r["lid"], r["rid"]) for r in left.crossJoin(right)
                .where((F.col("ls") < F.col("re"))
                       & (F.col("rs") < F.col("le"))).collect()}
        assert got == want, bw  # incl. multi-bin overlaps deduped


def test_grouped_exact_percentiles_match_numpy(spark):
    """Distributed rank-and-interpolate equals numpy's linear quantile
    on adversarial group shapes: one-row groups, groups smaller than
    the partition count, heavy ties, and a group spanning many range
    partitions."""
    import random

    import numpy as np

    from hippo_claim_crossover_spark.operators.ranking import (
        grouped_percentiles)

    rng = random.Random(7)
    rows = [("solo", 42.0)]                      # n=1 group
    rows += [("tiny", float(v)) for v in (3, 1, 2)]
    rows += [("ties", float(v)) for v in [5] * 50 + [7] * 50]
    rows += [("big", round(rng.uniform(0, 1000), 2)) for _ in range(5000)]
    df = spark.createDataFrame(rows, "g string, v double").repartition(16)
    ps = [0.0, 0.25, 0.5, 0.95, 1.0]
    got = {(r["g"], r["_p_idx"]): r["value"]
           for r in grouped_percentiles(df, ["g"], "v", ps,
                                        n_partitions=8).collect()}
    by_g: dict[str, list[float]] = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    for g, vs in by_g.items():
        for i, p in enumerate(ps):
            want = float(np.quantile(np.array(vs), p, method="linear"))
            assert abs(got[(g, i)] - want) < 1e-9, (g, p, got[(g, i)], want)


def test_bounded_hist_percentiles_match_machinery_and_numpy(spark):
    """grouped_percentiles over (raw rows | histogram) × (bounded |
    scale-safe walk): all four combinations on one input must be
    BIT-IDENTICAL to each other, and equal numpy's linear quantile —
    including one-row groups, heavy ties, and exact-integral target
    ranks."""
    import random

    import numpy as np
    from pyspark.sql import functions as F

    from hippo_claim_crossover_spark.operators.ranking import (
        grouped_percentiles)

    rng = random.Random(11)
    rows = [("solo", 42.0)]
    rows += [("tiny", float(v)) for v in (3, 1, 2)]
    rows += [("ties", float(v)) for v in [5] * 50 + [7] * 50]
    rows += [("big", round(rng.uniform(0, 100), 1)) for _ in range(5000)]
    df = spark.createDataFrame(rows, "g string, v double").repartition(16)
    hist = df.groupBy("g", "v").agg(F.count(F.lit(1)).alias("_cnt"))
    ps = [0.0, 0.05, 0.25, 0.5, 0.95, 1.0]
    walks = {}
    for src, cnt_col in ((df, None), (hist, "_cnt")):
        for bounded in (True, False):
            walks[(cnt_col, bounded)] = {
                (r["g"], r["_p_idx"]): r["value"]
                for r in grouped_percentiles(
                    src, ["g"], "v", ps, cnt_col, bounded).collect()}
    got = walks[(None, False)]
    for key, walk in walks.items():
        assert walk == got, key  # bit-identical, not approximately equal
    by_g: dict[str, list[float]] = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    for g, vs in by_g.items():
        for i, p in enumerate(ps):
            want = float(np.quantile(np.array(vs), p, method="linear"))
            assert abs(got[(g, i)] - want) < 1e-9, (g, p, got[(g, i)], want)


def test_bounded_percentiles_plan_no_range_exchange(spark):
    """What ``bounded`` promises: the bounded walk plans no range
    exchange at all, while the default scale-safe walk executes exactly
    one (its group-totals read may reuse it) — for raw rows and for a
    histogram alike."""
    from pyspark.sql import functions as F

    from hippo_claim_crossover_spark.operators.ranking import (
        grouped_percentiles)

    df = (spark.range(600).repartition(3)
          .select((F.col("id") % 3).cast("string").alias("g"),
                  (F.col("id") * 7919 % 101).cast("double").alias("v")))
    hist = df.groupBy("g", "v").agg(F.count(F.lit(1)).alias("_cnt"))
    for src, cnt_col in ((df, None), (hist, "_cnt")):
        for bounded in (True, False):
            out = grouped_percentiles(src, ["g"], "v", [0.5, 0.9], cnt_col,
                                      bounded, n_partitions=4)
            assert len(out.collect()) == 6
            plan = out._jdf.queryExecution().executedPlan().toString()
            if bounded:
                assert "rangepartitioning" not in plan, (cnt_col, plan)
                continue
            final = plan.split("== Initial Plan ==")[0]
            # a reuse prints as "ReusedExchange [...], Exchange ...", so
            # only a planned exchange matches "- Exchange rangepart..."
            assert final.count("- Exchange rangepartitioning(") == 1, (
                cnt_col, final)


def test_salted_join_bounds_reducer_skew_zipfian(spark):
    """Measured (not just structural) skew protection: on a zipfian key
    where the hot key is ~40% of all rows, the UNSALTED hash shuffle
    lands the whole hot key on one reducer (max-partition >> mean) while
    the salted key distribution keeps every reducer within ~2x of the
    mean — the property that turns a straggler join into a balanced one
    at 100 TB. Placement is measured by repartitioning on exactly the
    keys the join's Exchange would use (deterministic: fixed hash, fixed
    row ids), and the salted join's ROWS are asserted identical to the
    plain join's."""
    from hippo_claim_crossover_spark.operators.joins import salted_join

    # salt must comfortably exceed the reducer count: with salt==parts
    # the hot key's sub-keys land ~1 per reducer ON AVERAGE but birthday
    # collisions stack several on one (measured 2.3x mean at 32/32);
    # salt = 8*parts makes each sub-key small enough that stacking
    # cannot breach 2x.
    n, parts, salt = 100_000, 32, 256
    big = spark.range(n).select(
        F.when(F.col("id") % 10 < 4, F.lit(0))
        .otherwise(F.pmod(F.hash("id"), F.lit(50)) + 1).alias("k"),
        F.col("id"))
    dim = spark.range(51).select(F.col("id").cast("int").alias("k"),
                                 (F.col("id") * 7).alias("payload"))

    def max_partition(df) -> int:
        sizes = (df.groupBy(F.spark_partition_id().alias("p")).count()
                 .collect())
        return max(r["count"] for r in sizes)

    mean = n / parts
    un = max_partition(big.repartition(parts, "k"))
    big_salted = big.withColumn(
        "_salt", F.pmod(F.monotonically_increasing_id(), F.lit(salt))
        .cast("int"))
    sa = max_partition(big_salted.repartition(parts, "k", "_salt"))
    assert un >= 4 * mean, (un, mean)   # hot key serializes one reducer
    assert sa <= 2 * mean, (sa, mean)   # salting bounds every reducer
    # and the operator's output is row-identical to the plain join
    want = sorted((r["k"], r["id"], r["payload"]) for r in
                  big.join(dim, "k").collect())
    got = sorted((r["k"], r["id"], r["payload"]) for r in
                 salted_join(big, dim, "k", salt=salt).collect())
    assert got == want


def test_global_cumsum_matches_python_prefix_sums(spark):
    """global_cumsum on randomized (key, a, b) rows equals the plain
    Python inclusive prefix sums under the same ordering, across an
    adversarial initial partitioning."""
    import random

    from hippo_claim_crossover_spark.operators.ranking import global_cumsum

    rng = random.Random(20260814)
    rows = [(float(rng.randint(0, 400)) + rng.choice([0.0, 0.5]),
             rng.randint(0, 9), rng.randint(-5, 5))
            for _ in range(3000)]
    # unique order key required: aggregate duplicates first, like the
    # KS plan does
    agg = {}
    for v, a, b in rows:
        pa, pb = agg.get(v, (0, 0))
        agg[v] = (pa + a, pb + b)
    expect = {}
    ca = cb = 0
    for v in sorted(agg):
        ca += agg[v][0]
        cb += agg[v][1]
        expect[v] = (ca, cb)

    df = (spark.createDataFrame(rows, "v double, a long, b long")
          .repartition(17)  # scramble the layout
          .groupBy("v").agg(F.sum("a").alias("a"), F.sum("b").alias("b")))
    out = global_cumsum(df, ["v"], ["a", "b"], n_partitions=7).collect()
    assert len(out) == len(expect)
    for r in out:
        assert (r["_cum_a"], r["_cum_b"]) == expect[r["v"]], r


def test_interval_coverage_matches_bruteforce_merge(spark, sf_dir):
    """The islands/coverage plan equals a brute-force Python interval
    merge on random point events."""
    import random

    from hippo_claim_crossover_spark.plans.timeseries import (
        q_interval_coverage,
    )

    # brute force over the real fixture: recompute per-user coverage
    rows = (spark.read.parquet(f"{sf_dir}/events.parquet")
            .select("user_id", "ts").collect())
    GAP = 300_000_000
    by_user = {}
    for r in rows:
        us = int(r["ts"].timestamp() * 1_000_000)
        by_user.setdefault(r["user_id"], []).append((us, us + GAP))
    expect = {}
    for u, ivs in by_user.items():
        ivs.sort()
        islands = 0
        covered = 0
        cur_s = cur_e = None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                islands += 1
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        covered += cur_e - cur_s
        expect[u] = (len(ivs), islands, covered / 1e6)

    out = q_interval_coverage(spark, sf_dir).collect()
    assert len(out) == len(expect)
    for r in out:
        n, isl, cov = expect[r["user_id"]]
        assert r["n_events"] == n
        assert r["n_islands"] == isl
        assert abs(r["covered_seconds"] - cov) < 1e-6, r


def test_gini_matches_numpy_formula(spark, sf_dir):
    """q_gini's closed form equals the straightforward numpy Gini on the
    same per-customer revenue micros."""
    import numpy as np

    from hippo_claim_crossover_spark.plans.stats import q_gini

    sf = sf_dir
    o = spark.read.parquet(f"{sf}/orders.parquet").collect()
    c = {r["c_custkey"]: r["c_mktsegment"]
         for r in spark.read.parquet(f"{sf}/customer.parquet").collect()}
    rev = {}
    for r in o:
        u = int(r["o_totalprice"] * 1e6 + 0.5)
        rev[r["o_custkey"]] = rev.get(r["o_custkey"], 0) + u
    by_seg = {}
    for cust, u in rev.items():
        by_seg.setdefault(c[cust], []).append(u)
    out = {r["c_mktsegment"]: r["gini"]
           for r in q_gini(spark, sf).collect()}
    for seg, xs in by_seg.items():
        x = np.sort(np.array(xs, dtype=np.float64))
        n = len(x)
        expected = float((2 * np.sum((np.arange(1, n + 1)) * x)
                          - (n + 1) * np.sum(x)) / (n * np.sum(x)))
        assert abs(out[seg] - expected) < 1e-4, (seg, out[seg], expected)


def test_grouped_global_rank_shuffle_offsets_path(spark):
    """broadcast_offsets=False (the high-cardinality-grouping escape
    hatch) must produce identical ranks via a shuffle join, with no
    broadcast of the offsets table in the plan."""
    import random

    from hippo_claim_crossover_spark.operators.ranking import (
        grouped_global_rank)

    rng = random.Random(11)
    rows = [(f"g{i % 7}", rng.randrange(10 ** 6), i) for i in range(3000)]
    df = spark.createDataFrame(rows, "g string, v long, uid long")

    def ranks(broadcast):
        out = grouped_global_rank(df, ["g"], ["v", "uid"],
                                  broadcast_offsets=broadcast)
        return {(r["g"], r["uid"]): r["_rank"] for r in out.collect()}

    assert ranks(True) == ranks(False)


def test_grouped_histogram_cdf_matches_python(spark):
    """grouped_histogram_cdf: the inclusive cumulative count per
    (group, value) equals a per-group python prefix sum over the sorted
    value domain — on groups smaller than, equal to, and larger than
    the partition count, with a group spanning many range partitions."""
    import random

    from hippo_claim_crossover_spark.operators.ranking import (
        grouped_histogram_cdf)

    rng = random.Random(11)
    rows = [("solo", 5.0, 3)]
    rows += [("pair", 1.0, 10), ("pair", 2.0, 1)]
    rows += [("wide", float(v), rng.randint(1, 9)) for v in range(500)]
    df = (spark.createDataFrame(rows, "g string, v double, _cnt long")
          .repartition(16))
    got = {(r["g"], r["v"]): r["_cum"]
           for r in grouped_histogram_cdf(df, ["g"], "v",
                                          n_partitions=8).collect()}
    by_g: dict[str, list[tuple[float, int]]] = {}
    for g, v, c in rows:
        by_g.setdefault(g, []).append((v, c))
    for g, vcs in by_g.items():
        cum = 0
        for v, c in sorted(vcs):
            cum += c
            assert got[(g, v)] == cum, (g, v, got[(g, v)], cum)


def test_asof_join_forward_matches_pandas_semantics(spark):
    """asof_join_forward equals a brute-force 'least right_ts >= left_ts
    per key' reference on adversarial shapes: equal-ts inclusivity,
    no-match keys, multiple candidates, and the tolerance horizon."""
    left = spark.createDataFrame(
        [("a", 10, "l1"), ("a", 20, "l2"), ("b", 5, "l3"),
         ("c", 1, "l4")],
        "k string, lt long, lv string")
    right = spark.createDataFrame(
        [("a", 10, "r10"), ("a", 15, "r15"), ("a", 40, "r40"),
         ("b", 4, "r4")],
        "k string, rt long, rv string")
    got = {(r["k"], r["lt"]): r["rv"] for r in
           __import__("hippo_claim_crossover_spark.operators.joins",
                      fromlist=["asof_join_forward"])
           .asof_join_forward(left, right, on="k", left_ts="lt",
                              right_ts="rt").collect()}
    # a@10 -> r10 (inclusive equal ts); a@20 -> r40; b@5 -> none
    # (4 < 5); c -> none
    assert got == {("a", 10): "r10", ("a", 20): "r40",
                   ("b", 5): None, ("c", 1): None}


def test_asof_carry_is_atomic_on_null_payload_fields(spark):
    """The code-review-found NULL-carry hazard: a NULL payload field in
    the MATCHED right row must stay NULL — never back-filled from a
    farther right row — in both directions, and tolerance must null the
    whole row atomically."""
    from hippo_claim_crossover_spark.operators.joins import (
        asof_join, asof_join_forward)

    left = spark.createDataFrame([("k", 8), ("k", 50)], "g string, lt long")
    right = spark.createDataFrame(
        [("k", 10, None, "x"), ("k", 99, 5, "y")],
        "g string, rt long, a int, b string")
    fwd = {r["lt"]: (r["a"], r["b"]) for r in asof_join_forward(
        left, right, on="g", left_ts="lt", right_ts="rt").collect()}
    # lt=8 matches rt=10 whose a IS NULL: a must stay NULL, b='x'
    assert fwd[8] == (None, "x")
    assert fwd[50] == (5, "y")
    bwd = {r["lt"]: (r["a"], r["b"]) for r in asof_join(
        left.selectExpr("g", "lt + 100 as lt"), right,
        on="g", left_ts="lt", right_ts="rt").collect()}
    assert bwd[108] == (5, "y")
    assert bwd[150] == (5, "y")


def test_asof_null_timestamps_never_match(spark):
    """NULL timestamps have no position on the as-of axis: a right row
    with NULL rts must never be carried as a match (it used to sort
    nulls-first and back-fill every early left row), and a left row
    with NULL ts must survive with a NULL match (left-outer
    cardinality) rather than grabbing the key's earliest/latest right
    row — in BOTH directions."""
    from hippo_claim_crossover_spark.operators.joins import (
        asof_join_forward)

    left = spark.createDataFrame(
        [(1, _ts(1), "early"), (1, None, "no-ts")],
        "k int, ts timestamp, ev string")
    right = spark.createDataFrame(
        [(1, None, 666.0), (1, _ts(5), 100.0)],
        "k int, rts timestamp, val double")
    for fn in (asof_join, asof_join_forward):
        rows = {r["ev"]: (r["rts"], r["val"])
                for r in fn(left, right, "k", "ts", "rts").collect()}
        assert len(rows) == 2, fn.__name__  # left-outer: both rows kept
        assert rows["no-ts"] == (None, None), fn.__name__
    back = {r["ev"]: r["val"]
            for r in asof_join(left, right, "k", "ts", "rts").collect()}
    assert back["early"] is None  # NULL-rts row must not back-fill
    fwd = {r["ev"]: r["val"]
           for r in asof_join_forward(left, right, "k", "ts",
                                      "rts").collect()}
    assert fwd["early"] == 100.0  # real forward match still found


def test_asof_nearest_picks_closer_side_and_breaks_ties_backward(spark):
    """asof_join_nearest: closer side wins in either direction; an exact
    |delta| tie and an equal-ts match both resolve to the backward
    (earlier) row; a key with only one side still matches; left rows
    with no right rows at all keep NULLs."""
    import datetime as dt

    from hippo_claim_crossover_spark.operators.joins import (
        asof_join_nearest,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    left = spark.createDataFrame(
        [(1, 100, ts(10)),   # back at 9 (d=1), fwd at 14 (d=4) -> back
         (1, 101, ts(12)),   # back at 9 (d=3), fwd at 14 (d=2) -> fwd
         (1, 102, ts(11.5)), # tie d=2.5 both sides -> backward (9)
         (1, 103, ts(9)),    # equal-ts right at 9 -> delta 0 backward
         (2, 200, ts(5)),    # only a forward right exists
         (3, 300, ts(5))],   # no rights at all
        "user_id long, event_id long, ts timestamp")
    right = spark.createDataFrame(
        [(1, ts(9), 1), (1, ts(14), 2), (2, ts(50), 3)],
        "user_id long, buy_ts timestamp, buy_id long")
    got = {r["event_id"]: r["buy_id"]
           for r in asof_join_nearest(
               left, right, on="user_id",
               left_ts="ts", right_ts="buy_ts").collect()}
    assert got == {100: 1, 101: 2, 102: 1, 103: 1, 200: 3, 300: None}


def test_asof_nearest_matches_pandas_merge_asof(spark):
    """asof_join_nearest equals pandas merge_asof(direction='nearest')
    — an independent reference implementation — on a seeded random
    fixture (6 keys × 300 left rows × 200 right rows, duplicate left
    timestamps, no-right keys). pandas breaks exact-distance ties
    backward, the same documented rule as the operator."""
    import datetime as dt
    import random

    import pandas as pd

    from hippo_claim_crossover_spark.operators.joins import (
        asof_join_nearest,
    )

    rng = random.Random(42)
    t0 = dt.datetime(2024, 1, 1)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    left_rows = [(rng.randrange(6), i, ts(rng.randrange(10_000)))
                 for i in range(300)]
    seen = set()
    right_rows = []
    for j in range(200):
        k, s = rng.randrange(5), rng.randrange(10_000)  # key 5: no rights
        if (k, s) in seen:
            continue
        seen.add((k, s))
        right_rows.append((k, ts(s), 1000 + j))
    left = spark.createDataFrame(
        left_rows, "k long, lid long, ts timestamp")
    right = spark.createDataFrame(
        right_rows, "k long, rts timestamp, rid long")
    got = {r["lid"]: r["rid"]
           for r in asof_join_nearest(left, right, on="k",
                                      left_ts="ts", right_ts="rts")
           .collect()}
    lpd = (pd.DataFrame(left_rows, columns=["k", "lid", "ts"])
           .sort_values("ts"))
    rpd = (pd.DataFrame(right_rows, columns=["k", "ts", "rid"])
           .sort_values("ts"))
    m = pd.merge_asof(lpd, rpd, on="ts", by="k", direction="nearest")
    want = {int(r.lid): (None if pd.isna(r.rid) else int(r.rid))
            for r in m.itertuples()}
    assert got == want


def test_distributed_ntile_reads_one_range_exchange(spark):
    """Range bounds are sampled per exchange, so the per-partition counts
    must come from the same exchange as the rows they offset: with 4
    partitions the executed plan has ONE range exchange on the order key
    and the counts side reuses it — also when the caller prunes every
    non-key column. The equal-count buckets pin the result."""
    from pyspark.sql import functions as F

    from hippo_claim_crossover_spark.operators.ranking import (
        distributed_ntile,
    )

    df = (spark.range(2000).repartition(5)
          .select("id", (F.col("id") * 7919 % 1000).alias("v"),
                  F.col("id").cast("string").alias("pad")))
    full = distributed_ntile(df, 4, ["v", "id"], n_partitions=4)
    pruned = full.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    for out in (full, pruned):
        rows = out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        # a planned exchange is a tree node "- Exchange ..."; a reuse
        # prints as "ReusedExchange [...], Exchange ..."
        assert final.count("- Exchange rangepartitioning(v") == 1, final
        assert "ReusedExchange" in final, final
    assert sorted((r["bucket"], r["n"]) for r in rows) == [
        (1, 500), (2, 500), (3, 500), (4, 500)]
