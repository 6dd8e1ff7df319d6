"""Graph operators for dedup clustering: distributed connected components.

Near-dup detection (LSH banding, n-gram Jaccard, SimHash) emits *pairs*;
deduplication needs *groups* — every document assigned to exactly one
cluster so one representative per cluster can be kept. That closure step
is connected components over the candidate-pair graph.

100 TB design: the alternating large-star/small-star algorithm (Kiveris
et al., "Connected Components in MapReduce and Beyond", SoCC'14 — public
algorithm, reimplemented here on DataFrames). Every round is two
groupBy-shuffles over the edge list, and the edge set contracts toward a
forest of stars in O(log n) rounds even for path-shaped graphs — unlike
naive min-label propagation whose round count is the component *diameter*
(adversarial near-dup chains of template documents can be arbitrarily
long). Each round materializes (``session.materialize``, which states
the fault-tolerance trade) so the iterative lineage never stacks up, and
convergence is detected with an order-insensitive edge-set fingerprint
(count + sum of pair hashes), one tiny action per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hippo_claim_crossover_spark.session import materialize


def _canon(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct undirected edges as (hi, lo) with hi > lo; self-loops
    dropped."""
    return (
        edges.select(F.greatest(F.col(src), F.col(dst)).alias("hi"),
                     F.least(F.col(src), F.col(dst)).alias("lo"))
        .where(F.col("hi") != F.col("lo"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """For each node u, link every strictly-larger neighbor to the minimum
    of N(u) ∪ {u}. Output edges stay canonical (hi > lo)."""
    sym = e.select(F.col("hi").alias("u"), F.col("lo").alias("v")).unionAll(
        e.select(F.col("lo").alias("u"), F.col("hi").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
    m = F.least(F.col("mv"), F.col("u"))
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("hi"), m.alias("lo"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """For each node u, link u and all its smaller neighbors to the
    minimum of those neighbors. Canonical input (hi > lo) already directs
    every edge at its smaller endpoint, so no symmetrization is needed."""
    mins = e.groupBy("hi").agg(F.min("lo").alias("m"))
    relink = (
        e.join(mins, "hi")
        .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
        .where(F.col("hi") != F.col("lo"))
    )
    root_link = mins.select("hi", F.col("m").alias("lo"))
    return relink.unionAll(root_link).distinct()


def _round(e: DataFrame) -> DataFrame:
    """One large-star + small-star contraction. The large-star output is
    materialized: small-star references its input three times
    (min-aggregation, relink join, root links), so without a
    materialization the whole large-star join+agg subtree is re-planned
    per reference — 11 live exchanges per round measured vs 7 with the
    checkpoint."""
    return _small_star(materialize(_large_star(e), "cc_large_star"))


def _fingerprint(e: DataFrame) -> tuple[int, int]:
    # bit_xor: order-insensitive and can't overflow under ANSI mode
    # (edges are distinct, so xor-cancellation of duplicates can't occur).
    row = e.agg(F.count(F.lit(1)).alias("n"),
                F.coalesce(F.bit_xor(F.xxhash64("hi", "lo")), F.lit(0))
                .alias("h")).head()
    return int(row["n"]), int(row["h"])


def connected_components(edges: DataFrame, src: str = "src",
                         dst: str = "dst", max_iter: int = 25,
                         stats: dict | None = None) -> DataFrame:
    """Component assignment (node, comp) for every node appearing in
    ``edges``; ``comp`` is the smallest node id in the component.

    Nodes with no edges don't appear — left-join the caller's node table
    and coalesce to the node's own id to keep singletons. Pass a dict as
    ``stats`` to receive ``{"rounds": k}`` — the O(log n) round bound is
    pinned by a test (tests/test_dedup.py) so a semantics change that
    silently degrades to diameter-bound propagation fails CI."""
    # The fingerprint action that follows each materialization writes its
    # blocks, so every round runs ONE job (r15 — halves the per-round
    # fixed cost of the loop).
    e = materialize(_canon(edges, src, dst), "cc_edges")
    fp = _fingerprint(e)
    rounds = 0
    for _ in range(max_iter):
        e2 = materialize(_round(e), "cc_round")
        fp2 = _fingerprint(e2)
        e = e2
        rounds += 1
        if fp2 == fp:
            break
        fp = fp2
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds")
    if stats is not None:
        stats["rounds"] = rounds
    # Fixpoint is a forest of stars: every edge points a node at its
    # component root, and roots appear only on the lo side.
    members = e.select(F.col("hi").alias("node"), F.col("lo").alias("comp"))
    roots = e.select(F.col("lo").alias("node"),
                     F.col("lo").alias("comp")).distinct()
    return members.unionAll(roots).distinct()


def basket_pairs(df: DataFrame, basket_col: str, item_col: str,
                 out_a: str = "u", out_b: str = "v",
                 sup_col: str = "_sup",
                 max_items: int | None = None) -> DataFrame:
    """Co-occurrence pair support — ``(a < b, #baskets containing both)``
    — via ONE basket aggregation and row-local pair expansion, replacing
    the distinct + self-join formulation (r15 optimization).

    The classic shape (``SELECT DISTINCT basket,item`` self-joined on the
    basket key with ``a.item < b.item``) plans as an exchange for the
    distinct plus a sort-merge self-join before the pair aggregate: two
    wide shuffles and two sorts of the item table. Because baskets are
    BOUNDED (order lines: ≤ tens of items — the same contract that makes
    the self-join "basket-bounded"), the pairs of one basket fit a row:
    ``collect_set`` dedups items per basket map-side (one exchange,
    set-sized records), ``array_sort`` fixes the a<b orientation, and a
    nested ``transform``/``slice`` expansion emits each basket's
    C(k,2) pairs without any join. Result is row-identical to the
    self-join form: collect_set ≡ DISTINCT per basket, i<j over the
    sorted set ≡ the a<b predicate, and the final (a, b) count is the
    same multiset. NULL items never pair in either form (the < predicate
    rejects NULL; collect_set drops it).

    Scale: shuffle 1 carries one set-record per basket (≡ the distinct's
    bytes), shuffle 2 carries C(k,2) pair rows per basket with map-side
    partial counts — the same bytes the self-join's aggregate shuffled —
    and no sort anywhere. A basket too large for a row would be the same
    basket that explodes the self-join quadratically; cap upstream, or
    pass ``max_items`` to fail loudly (``assert_true`` task error) on a
    contract violation instead of OOMing an executor.

    NULL basket keys are DROPPED (r16): the replaced self-join's
    ``a.bk == b.bk`` equi-predicate never matches NULL, while
    ``groupBy(basket_col)`` keeps a NULL-key group — without the filter
    a NULL basket's items would pair with each other. Every current
    caller groups by a non-null-by-schema key, so this pins the
    contract rather than changing any result (property test covers a
    NULL-basket row)."""
    baskets = (df.where(F.col(basket_col).isNotNull())
               .groupBy(basket_col)
               .agg(F.array_sort(F.collect_set(item_col)).alias("_items")))
    if max_items is not None:
        # assert_true returns NULL when the predicate holds and raises
        # otherwise; the .isNull() filter forces its evaluation without
        # changing any surviving row.
        baskets = baskets.where(F.assert_true(
            F.size("_items") <= F.lit(max_items),
            F.concat(F.lit(f"basket_pairs: basket exceeds max_items="
                           f"{max_items}: "),
                     F.col(basket_col).cast("string"))).isNull())
    items = F.col("_items")
    pair_structs = F.flatten(F.transform(
        items,
        lambda x, i: F.transform(
            F.slice(items, i + F.lit(2), F.size(items)),
            lambda y: F.struct(x.alias("_a"), y.alias("_b")))))
    return (baskets.select(F.explode(pair_structs).alias("_p"))
            .groupBy(F.col("_p._a").alias(out_a),
                     F.col("_p._b").alias(out_b))
            .agg(F.count(F.lit(1)).alias(sup_col)))


def triangle_stats(pairs: DataFrame) -> DataFrame:
    """Exact triangle count, wedge count, and global clustering
    coefficient of an undirected graph given as CANONICAL edges
    (u < v, no duplicates) — one row out.

    Oriented-join counting: a triangle u<v<w matches e1(u,v) ⋈ e2(v,w)
    ⋈ e3(u,w) exactly once, so two equi-joins count every triangle with
    no dedup and no all-pairs stage. Wedges are the exact integer fold
    Σ deg·(deg−1)/2 (the product is always even, so the /2 is exact);
    clustering = 3·T/W through the engine-portable floor rounding. The
    caller should materialize ``pairs`` once — it has
    four consumers here. 100 TB hardening: orient by (degree, id)
    instead of id so hub nodes never fan out on the e1.u side."""
    s4 = F.lit(1e4)
    e1, e2, e3 = pairs.alias("e1"), pairs.alias("e2"), pairs.alias("e3")
    tri = (e1.join(e2, F.col("e1.v") == F.col("e2.u"))
           .join(e3, (F.col("e3.u") == F.col("e1.u"))
                 & (F.col("e3.v") == F.col("e2.v")))
           .agg(F.count(F.lit(1)).alias("n_triangles")))
    deg = (pairs.select(F.col("u").alias("node"))
           .unionByName(pairs.select(F.col("v").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("deg")))
    wedges = deg.agg(
        F.sum((F.col("deg") * (F.col("deg") - 1) / 2).cast("long"))
        .alias("n_wedges"))
    clustering = (F.floor(F.lit(3.0) * F.col("n_triangles")
                          / F.col("n_wedges") * s4 + F.lit(0.5))
                  .cast("double") / s4)
    return (tri.join(F.broadcast(wedges))
            .select("n_triangles", "n_wedges",
                    clustering.alias("clustering")))
