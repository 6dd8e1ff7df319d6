"""Property-based spot checks (SURVEY §5): the scalar expression helpers
vs plain-Python models of the reference semantics, over generated inputs.

Each hypothesis example builds ONE DataFrame from the generated list and
checks all rows vectorized (a Spark job per example — max_examples kept
small on purpose)."""

from __future__ import annotations

import string

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from hippo_claim_crossover_spark.functions.scalar import (
    fmt_diagnosis_code,
    fmt_postal_code,
    join_pointers,
)

_SETTINGS = dict(max_examples=8, deadline=None)

digits = st.text(alphabet=string.digits, min_size=0, max_size=12)
codes = st.text(alphabet=string.ascii_uppercase + string.digits,
                min_size=1, max_size=8)
maybe = lambda s: st.one_of(st.none(), s)  # noqa: E731


def _zip_model(z):
    if z is None:
        return None
    return f"{z[:5]}-{z[5:9]}" if len(z) == 9 else z[:5]


def _dx_model(c):
    if c is None:
        return None
    head = 4 if c.startswith("E") else 3
    if len(c) <= head:
        return c
    return c[:head] + "." + c[head:]


@settings(**_SETTINGS)
@given(st.lists(maybe(digits), min_size=1, max_size=30))
def test_postal_code_matches_model(spark, zips):
    df = spark.createDataFrame([(i, z) for i, z in enumerate(zips)],
                               "i int, z string")
    got = {r["i"]: r["out"]
           for r in df.select("i", fmt_postal_code(F.col("z")).alias("out"))
           .collect()}
    assert got == {i: _zip_model(z) for i, z in enumerate(zips)}


@settings(**_SETTINGS)
@given(st.lists(maybe(codes), min_size=1, max_size=30))
def test_diagnosis_code_matches_model(spark, cs):
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cs)],
                               "i int, c string")
    got = {r["i"]: r["out"]
           for r in df.select(
               "i", fmt_diagnosis_code(F.col("c")).alias("out")).collect()}
    assert got == {i: _dx_model(c) for i, c in enumerate(cs)}


@settings(**_SETTINGS)
@given(st.lists(st.tuples(maybe(codes), maybe(codes), maybe(codes),
                          maybe(codes)), min_size=1, max_size=20))
def test_join_pointers_matches_ruby_join(spark, rows):
    # Ruby [p1..p4].join renders nil as "" — concat_ws must match exactly.
    df = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(rows)],
        "i int, p1 string, p2 string, p3 string, p4 string")
    got = {r["i"]: r["out"] for r in df.select(
        "i", join_pointers(F.col("p1"), F.col("p2"), F.col("p3"),
                           F.col("p4")).alias("out")).collect()}
    want = {i: "".join(p or "" for p in r) for i, r in enumerate(rows)}
    assert got == want


# ---- pure-formula properties (no Spark session: these pin the shared
# arithmetic both the Spark plan and the DuckDB oracle evaluate) ----

@given(st.integers(min_value=0, max_value=10**12),
       st.integers(min_value=1, max_value=10**6))
@settings(max_examples=300, deadline=None)
def test_pack_bin_formula_matches_brute_force(start_tok, n_tokens):
    """q_pack_sequences' BIGINT div/mod bin math vs the brute-force
    definition: bin of the first token, offset inside it, and the number
    of distinct bins the [start, start+n) token span touches."""
    from hippo_claim_crossover_spark.plans.text import _PACK_BUDGET as B

    bin_id = start_tok // B
    offset = start_tok % B
    spans = (start_tok + n_tokens - 1) // B - bin_id + 1
    assert bin_id * B <= start_tok < (bin_id + 1) * B
    assert offset == start_tok - bin_id * B
    first, last = start_tok // B, (start_tok + n_tokens - 1) // B
    assert spans == last - first + 1 >= 1


@given(st.integers(min_value=1, max_value=2 * 10**9))
@settings(max_examples=300, deadline=None)
def test_histogram_float_division_bin_equals_exact_integer_bin(cents):
    """q_histogram computes bins as floor(x / 25000.0) on doubles; for
    every exact-2dp money value in range the result must equal the exact
    integer computation (x_cents // 2_500_000) — i.e. the IEEE division
    never lands a value on the wrong side of a bin edge."""
    from hippo_claim_crossover_spark.plans.relational import _HIST_WIDTH

    import math

    x = cents / 100.0  # nearest-double of a 2dp value, as in the fixtures
    float_bin = math.floor(x / float(_HIST_WIDTH))
    exact_bin = cents // (_HIST_WIDTH * 100)
    assert float_bin == exact_bin


@settings(max_examples=6, deadline=None)
@given(st.lists(
    st.lists(st.floats(min_value=-10, max_value=10,
                       allow_nan=False, allow_infinity=False,
                       width=32),
             min_size=6, max_size=6),
    min_size=2, max_size=20))
def test_pair_cosine_kernel_matches_python_fold(spark, vecs):
    """pair_cosine_arrow vs a plain-Python left fold over generated
    float32-ish vectors: the kernel's numpy accumulation must equal the
    scalar fold exactly (same order ⇒ same IEEE result), including the
    floor rounding."""
    import math

    from pyspark.sql import types as T

    from hippo_claim_crossover_spark.operators.similarity import (
        pair_cosine_arrow,
    )

    # normalize in python (the kernel consumes pre-normalized vectors)
    def norm(v):
        acc = 0.0
        for x in v:
            acc += x * x
        s = math.sqrt(acc)
        return [x / s for x in v] if s > 0 else None

    vn = [norm(v) for v in vecs]
    vn = [v for v in vn if v is not None]
    if len(vn) < 2:
        return
    pairs = [(i, j, vn[i], vn[j])
             for i in range(len(vn)) for j in range(i + 1, len(vn))]
    schema = T.StructType([
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("va", T.ArrayType(T.DoubleType())),
        T.StructField("vb", T.ArrayType(T.DoubleType())),
    ])
    df = spark.createDataFrame(pairs, schema)
    got = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in pair_cosine_arrow(df, nd=4).collect()}
    for i, j, va, vb in pairs:
        acc = 0.0
        for a, b in zip(va, vb):
            acc += a * b
        want = math.floor(acc * 1e4 + 0.5) / 1e4
        assert got[(i, j)] == want, (i, j)


@settings(max_examples=6, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 200), st.integers(1, 60)),
                min_size=1, max_size=25),
       st.lists(st.tuples(st.integers(0, 200), st.integers(1, 60)),
                min_size=1, max_size=25),
       st.sampled_from([1, 7, 13, 64, 500]))
def test_binned_interval_join_property(spark, ls, rs, bw):
    """binned_interval_join over arbitrary intervals and bin widths must
    equal the brute-force overlap predicate — exactly once per pair."""
    from hippo_claim_crossover_spark.operators.joins import (
        binned_interval_join)

    left = spark.createDataFrame(
        [(i, a, a + d) for i, (a, d) in enumerate(ls)],
        "lid int, ls long, le long")
    right = spark.createDataFrame(
        [(i, a, a + d) for i, (a, d) in enumerate(rs)],
        "rid int, rs long, re long")
    rows = binned_interval_join(left, right, "ls", "le", "rs", "re",
                                bw).collect()
    got = sorted((r["lid"], r["rid"]) for r in rows)
    assert len(got) == len(set(got)), "pair emitted more than once"
    want = sorted(
        (i, j)
        for i, (a, d) in enumerate(ls) for j, (b, e) in enumerate(rs)
        if a < b + e and b < a + d)
    assert got == want


@settings(max_examples=6, deadline=None)
@given(st.sets(st.integers(0, 10**9), min_size=1, max_size=60),
       st.sampled_from([64, 1 << 10, 1 << 14]))
def test_bloom_never_false_negative_property(spark, keys, m):
    from hippo_claim_crossover_spark.operators.bloom import (
        bloom_build, bloom_may_contain)

    build = spark.createDataFrame([(k,) for k in keys], "k long")
    filt = bloom_build(build, "k", m, 5)
    n = (build.join(F.broadcast(filt))
         .where(bloom_may_contain(F.col("words"), F.col("k"), m, 5))
         .count())
    assert n == len(keys)


@settings(max_examples=300, deadline=None)
@given(st.integers(0, 65535), st.integers(0, 65535))
def test_z_value_model_is_injective_and_bounded(x, y):
    """Pure-Python model of the z_value bit interleave (the Spark
    expression is checked against this model in test_operators):
    deinterleaving recovers (x, y) exactly — injective — and the code
    stays within 32 bits."""
    z = 0
    for i in range(16):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    rx = sum(((z >> (2 * i)) & 1) << i for i in range(16))
    ry = sum(((z >> (2 * i + 1)) & 1) << i for i in range(16))
    assert (rx, ry) == (x, y)
    assert 0 <= z < (1 << 32)


@settings(**_SETTINGS)
@given(st.lists(
    st.tuples(st.sampled_from(["a", "b", "c"]),
              st.floats(min_value=-1e6, max_value=1e6,
                        allow_nan=False, allow_infinity=False,
                        width=64)),
    min_size=1, max_size=60),
    st.lists(st.floats(min_value=0.0, max_value=1.0,
                       allow_nan=False, width=64),
             min_size=1, max_size=4, unique=True))
def test_grouped_exact_percentiles_property(spark, rows, ps):
    """grouped_percentiles over raw rows equals numpy's linear quantile on
    arbitrary grouped float data and arbitrary percentile lists —
    including p=0/p=1 endpoints, negative values, duplicate values,
    and groups with a single element."""
    import numpy as np

    from hippo_claim_crossover_spark.operators.ranking import (
        grouped_percentiles)

    df = spark.createDataFrame(rows, "g string, v double")
    got = {(r["g"], r["_p_idx"]): r["value"]
           for r in grouped_percentiles(df, ["g"], "v", ps,
                                        n_partitions=4).collect()}
    by_g: dict[str, list[float]] = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    for g, vs in by_g.items():
        for i, p in enumerate(ps):
            want = float(np.quantile(np.array(vs), p, method="linear"))
            assert abs(got[(g, i)] - want) <= 1e-9 * max(1.0, abs(want)), (
                g, p, got[(g, i)], want)


@settings(**_SETTINGS)
@given(st.lists(
    st.tuples(st.sampled_from(["a", "b", "c"]),
              st.floats(min_value=-1e6, max_value=1e6,
                        allow_nan=False, allow_infinity=False,
                        width=64)),
    min_size=1, max_size=60),
    st.lists(st.floats(min_value=0.0, max_value=1.0,
                       allow_nan=False, width=64),
             min_size=1, max_size=4, unique=True))
def test_grouped_bounded_percentiles_matches_exact_form(spark, rows, ps):
    """grouped_percentiles ``bounded=True`` (the r15 window walk for
    bounded-by-construction frames) must be BIT-IDENTICAL to the
    scale-safe walk on the same input — the swap-without-moving-a-hash
    contract its docstring promises — and equal numpy's linear
    quantile."""
    import numpy as np

    from hippo_claim_crossover_spark.operators.ranking import (
        grouped_percentiles)

    df = spark.createDataFrame(rows, "g string, v double")
    got = {(r["g"], r["_p_idx"]): r["value"]
           for r in grouped_percentiles(df, ["g"], "v", ps,
                                        bounded=True).collect()}
    ref = {(r["g"], r["_p_idx"]): r["value"]
           for r in grouped_percentiles(df, ["g"], "v", ps,
                                        n_partitions=4).collect()}
    assert got == ref  # bit-identical, not approximately equal
    by_g: dict[str, list[float]] = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    for g, vs in by_g.items():
        for i, p in enumerate(ps):
            want = float(np.quantile(np.array(vs), p, method="linear"))
            assert abs(got[(g, i)] - want) <= 1e-9 * max(1.0, abs(want)), (
                g, p, got[(g, i)], want)


@settings(max_examples=6, deadline=None)
@given(st.lists(
    st.tuples(st.sampled_from(["a", "b"]),
              st.integers(min_value=-50, max_value=50)),
    min_size=1, max_size=120))
def test_quantile_summary_rank_contract(spark, rows):
    """grouped_quantile_summary contract on arbitrary grouped ints
    (duplicates, tiny groups, all-equal values): per group the merged
    weights sum to the exact row count, the merged CDF is monotone,
    and the lower-quantile rule answers p50/p90 within the additive
    rank bound n/keep + n_buckets of the true rank."""
    import math

    from hippo_claim_crossover_spark.operators.ranking import (
        grouped_quantile_summary,
    )

    keep, buckets = 8, 4
    df = spark.createDataFrame(
        [(g, v, i) for i, (g, v) in enumerate(rows)],
        "g string, v long, id long")
    out = grouped_quantile_summary(df, ["g"], "v", "id",
                                   n_buckets=buckets, keep=keep).collect()
    by_group: dict = {}
    for r in out:
        by_group.setdefault(r["g"], []).append(r)
    data: dict = {}
    for g, v in rows:
        data.setdefault(g, []).append(v)
    assert set(by_group) == set(data)
    for g, recs in by_group.items():
        vals = sorted(data[g])
        n = len(vals)
        recs = sorted(recs, key=lambda r: r["v"])
        assert sum(r["_wv"] for r in recs) == n
        assert recs[-1]["_cum_m"] == n          # total weight exact
        assert recs[-1]["v"] == vals[-1]        # shard maxes kept
        cums = [r["_cum_m"] for r in recs]
        assert cums == sorted(cums)             # monotone CDF
        slack = n // keep + buckets
        for p_num, p_den in ((1, 2), (9, 10)):
            target = math.ceil(p_num * n / p_den)
            est = next(r["v"] for r in recs
                       if p_den * r["_cum_m"] >= p_num * n)
            true_rank = sum(1 for v in vals if v <= est)
            assert target <= true_rank <= target + slack, (
                g, n, est, true_rank, target, slack)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.tuples(st.integers(1, 3),
                       st.one_of(st.none(), st.integers(0, 40))),
             min_size=1, max_size=25),
    st.lists(st.tuples(st.integers(1, 3),
                       st.one_of(st.none(), st.integers(0, 40)),
                       st.integers(0, 999)),
             min_size=0, max_size=25),
    st.sampled_from([None, 5, 15]))
def test_asof_join_matches_python_model(spark, lrows, rrows, tol_days):
    """asof_join / asof_join_forward vs a brute-force Python model over
    random keyed timestamp sets — including NULL timestamps on both
    sides (never a match; left rows survive) and the tolerance horizon.
    Right-side (key, ts) pairs are deduplicated first (the documented
    determinism precondition)."""
    import datetime as dt

    from hippo_claim_crossover_spark.operators.joins import (
        asof_join,
        asof_join_forward,
    )

    def ts(d):
        return None if d is None else dt.datetime(2024, 1, 1) \
            + dt.timedelta(days=d)

    seen = set()
    rdedup = []
    for k, d, val in rrows:
        if (k, d) not in seen:
            seen.add((k, d))
            rdedup.append((k, d, float(val)))
    left = spark.createDataFrame(
        [(i, k, ts(d)) for i, (k, d) in enumerate(lrows)],
        "i long, k int, ts timestamp")
    right = spark.createDataFrame(
        [(k, ts(d), v) for k, d, v in rdedup],
        "k int, rts timestamp, val double")

    def model(forward):
        out = {}
        for i, (k, d) in enumerate(lrows):
            best = None
            if d is not None:
                for rk, rd, rv in rdedup:
                    if rk != k or rd is None:
                        continue
                    if forward:
                        ok = rd >= d and (tol_days is None
                                          or rd - d <= tol_days)
                        better = best is None or rd < best[0]
                    else:
                        ok = rd <= d and (tol_days is None
                                          or d - rd <= tol_days)
                        better = best is None or rd > best[0]
                    if ok and better:
                        best = (rd, rv)
            out[i] = best and best[1]
        return out

    tol = None if tol_days is None else f"{tol_days} DAYS"
    for fn, fwd in ((asof_join, False), (asof_join_forward, True)):
        out = fn(left, right, "k", "ts", "rts", tolerance=tol).collect()
        # left-outer cardinality BEFORE dict-collapsing (a duplicate-
        # emitting regression would otherwise dedup away silently)
        assert len(out) == len(lrows), (fn.__name__, tol_days)
        got = {r["i"]: r["val"] for r in out}
        assert got == model(fwd), (fn.__name__, tol_days)


@settings(max_examples=6, deadline=None)
@given(st.lists(
    st.tuples(st.sampled_from(["x", "y", "z"]),
              st.integers(-30, 30), st.integers(1, 9)),
    min_size=1, max_size=60))
def test_grouped_histogram_cdf_matches_python_cumsum(spark, rows):
    """grouped_histogram_cdf (the distributed-CDF building block under
    the whole percentile/quantile family) vs a plain-Python per-group
    cumulative sum over random (group, value, count) histograms —
    including duplicate (group, value) pairs, which the operator's
    unique-per-(group,value) precondition requires aggregating first."""
    from hippo_claim_crossover_spark.operators.ranking import (
        grouped_histogram_cdf,
    )

    agg: dict = {}
    for g, v, c in rows:
        agg[(g, v)] = agg.get((g, v), 0) + c
    df = spark.createDataFrame(
        [(g, v, c) for (g, v), c in agg.items()],
        "g string, v long, _c long")
    got = {(r["g"], r["v"]): r["_cum"]
           for r in grouped_histogram_cdf(df, ["g"], "v",
                                          cnt_col="_c").collect()}
    want = {}
    for g in {g for g, _ in agg}:
        run = 0
        for v in sorted(v for gg, v in agg if gg == g):
            run += agg[(g, v)]
            want[(g, v)] = run
    assert got == want


@settings(max_examples=6, deadline=None)
@given(st.lists(
    st.tuples(st.sampled_from(["x", "y"]), st.integers(-20, 20)),
    min_size=1, max_size=80, unique=True))
def test_grouped_global_rank_matches_window_rank(spark, rows):
    """grouped_global_rank (range shuffle + per-partition window +
    broadcast prefix offsets) must equal row_number() OVER the naive
    per-group global window bit-for-bit on a unique order key."""
    from pyspark.sql.window import Window as W

    from hippo_claim_crossover_spark.operators.ranking import (
        grouped_global_rank,
    )

    df = spark.createDataFrame(rows, "g string, v long")
    got = {(r["g"], r["v"]): r["_rank"]
           for r in grouped_global_rank(df, ["g"], ["v"]).collect()}
    w = W.partitionBy("g").orderBy("v")
    want = {(r["g"], r["v"]): r["rk"]
            for r in df.withColumn("rk", F.row_number().over(w)).collect()}
    assert got == want


@settings(max_examples=6, deadline=None)
@given(st.lists(st.tuples(st.integers(-20, 20), st.integers(-9, 9)),
                min_size=1, max_size=80))
def test_global_cumsum_matches_window_cumsum(spark, rows):
    """global_cumsum (range shuffle + per-partition cumsums + broadcast
    prefix offsets) vs the naive single-partition window running total,
    on a unique synthetic order key with positive and negative
    addends."""
    from pyspark.sql.window import Window as W

    from hippo_claim_crossover_spark.operators.ranking import (
        global_cumsum,
    )

    df = spark.createDataFrame(
        [(i, v, x) for i, (v, x) in enumerate(rows)],
        "i long, v long, x long")
    got = {r["i"]: r["_cum_x"]
           for r in global_cumsum(df, ["v", "i"], ["x"]).collect()}
    w = (W.orderBy("v", "i")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    want = {r["i"]: r["c"]
            for r in df.withColumn("c", F.sum("x").over(w)).collect()}
    assert got == want


@given(st.lists(st.integers(min_value=20, max_value=5000),
                min_size=1, max_size=40),
       st.integers(min_value=0, max_value=2**31))
@settings(max_examples=50, deadline=None)
def test_span_corruption_spans_partition_mask_budget(ns, doc_seed):
    """Pure-Python property over the q_span_corrupt derivation (the
    same arithmetic the Spark/DuckDB sides run): for ANY eligible token
    count, the placed spans are pairwise disjoint, stay inside the doc,
    their lengths sum exactly to n·15 div 100, every span length is in
    [1, 6] (the docstring's bound when n_spans >= 2, n_mask when 1),
    and placement is a pure function of (doc_id, i)."""
    import hashlib

    for off, n in enumerate(ns):
        doc_id = doc_seed + off
        n_mask = n * 15 // 100
        n_spans = max(1, n_mask // 3)
        seg = n // n_spans
        prev_end = -1
        lens = []
        for i in range(n_spans):
            len_i = n_mask // n_spans + (1 if i < n_mask % n_spans else 0)
            assert 1 <= len_i <= (6 if n_spans >= 2 else n_mask)
            assert len_i <= seg
            h = int(hashlib.md5(
                f"{doc_id}#{i}".encode()).hexdigest()[:15], 16)
            start = i * seg + h % (seg - len_i + 1)
            assert start > prev_end            # disjoint, ordered
            assert i * seg <= start
            assert start + len_i <= min((i + 1) * seg, n)
            prev_end = start + len_i - 1
            lens.append(len_i)
        assert sum(lens) == n_mask


@given(st.lists(st.tuples(st.integers(min_value=0, max_value=5),
                          st.integers(min_value=0, max_value=10**6),
                          st.floats(min_value=0, max_value=1000,
                                    allow_nan=False)),
                min_size=2, max_size=60))
@settings(max_examples=10, deadline=None)
def test_twap_matches_python_locf_model(spark, rows):
    """q_twap's operator core vs a plain-Python LOCF model on generated
    (user, second-offset, value) rows: identical segment counts,
    durations, weighted sums and integer-division TWAPs."""
    import collections
    import datetime as dt

    from pyspark.sql import functions as F, Window

    from hippo_claim_crossover_spark.plans.base import money_micros

    t0 = dt.datetime(2024, 1, 1)
    data = [(u, i, t0 + dt.timedelta(seconds=s), round(v, 2))
            for i, (u, s, v) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "user_id long, event_id long, ts timestamp, value double")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    got = {r["user_id"]: r for r in (
        df.withColumn("_nxt", F.lead("ts").over(w))
        .where(F.col("_nxt").isNotNull())
        .select("user_id",
                F.expr("timestampdiff(MICROSECOND, ts, _nxt) div 1000000")
                .alias("d"),
                money_micros(F.col("value")).alias("vm"))
        .groupBy("user_id")
        .agg(F.sum("d").alias("dur"),
             F.sum(F.col("vm") * F.col("d")).alias("wsum"))
        .collect())}
    per = collections.defaultdict(list)
    for u, i, ts_, v in data:
        per[u].append((ts_, i, v))
    for u, evs in per.items():
        evs.sort()
        if len(evs) < 2:
            assert u not in got
            continue
        dur = wsum = 0
        for a, b in zip(evs, evs[1:]):
            d = int((b[0] - a[0]).total_seconds())
            import math
            vm = math.floor(a[2] * 1e6 + 0.5)
            dur += d
            wsum += vm * d
        assert got[u]["dur"] == dur and got[u]["wsum"] == wsum, u


@settings(**_SETTINGS)
@given(st.lists(st.tuples(st.integers(0, 10 ** 19 - 1),
                          st.integers(0, (1 << 40) - 1)),
                min_size=2, max_size=30))
def test_keep_best_packed_key_orders_like_the_tuple(pairs):
    """q_host_dedup's keep-best arg-max key ``n_chars·2^40 − doc_id``
    (computed in DECIMAL(38,0), so exact — Python ints model that) must
    order exactly like the tuple (n_chars DESC → doc_id ASC) for any
    n_chars < 10^19 (the full DECIMAL(19,0) operand domain, far past
    the 2^23 point where a BIGINT key would silently wrap) and
    doc_id < 2^40 — i.e. the packing never lets a doc_id difference
    outweigh a n_chars difference, and within equal n_chars the SMALLER
    doc_id wins the max. Pure-integer property; no Spark session
    needed."""
    shift = 1 << 40
    key = lambda p: p[0] * shift - p[1]  # noqa: E731
    want = max(pairs, key=lambda p: (p[0], -p[1]))
    got = max(pairs, key=key)
    assert got == want
    # full ordering agreement, not just the argmax
    assert sorted(pairs, key=key) == \
        sorted(pairs, key=lambda p: (p[0], -p[1]))
