"""Graph analytics over the part co-purchase graph (§2b training-pipeline
surface): distributed PageRank, hash-checked through the full iterative
computation like the k-means fit in ``plans/clustering.py``.

Graph: parts are nodes; an undirected edge joins two parts that appear on
the same order (distinct pairs — the same basket-bounded self-join as
q_assoc_rules). Connected components (plans/dedup.py) covers reachability;
PageRank covers importance — together the two canonical iterative graph
shapes.

Determinism across engines: per-edge contributions are rounded to the 6dp
grid and then summed as exact integer micros (order-insensitive), the
damping update runs on identical IEEE doubles (literals are inlined with
full repr into both plans), and each iteration re-rounds onto the grid —
so even after two Lloyd-style rounds the driver's value-hash matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hippo_claim_crossover_spark.plans.base import (
    QuerySpec, duck_round, hex2long, money_micros, t)
from hippo_claim_crossover_spark.session import materialize

DAMPING = 0.85
ITERS = 2
TOP = 25
# Keep only pairs co-purchased on ≥2 orders: the standard noise-edge
# threshold for co-occurrence graphs (a single shared order is mostly
# coincidence), and it shrinks the edge list the iterations chew on.
MIN_SUP = 2


def _pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (u < v) co-purchase edges with support ≥ MIN_SUP.

    r15: built by :func:`~..operators.graph.basket_pairs` (one basket
    collect_set + row-local expansion) instead of the distinct +
    self-join — row-identical output, two exchanges instead of three,
    no join, no sorts."""
    from hippo_claim_crossover_spark.operators.graph import basket_pairs

    return (basket_pairs(t(spark, sf_dir, "lineitem")
                         .select("l_orderkey", "l_partkey"),
                         "l_orderkey", "l_partkey")
            .where(F.col("_sup") >= MIN_SUP)
            .select("u", "v"))


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _pairs(spark, sf_dir)
    return (pairs.select(F.col("u").alias("src"), F.col("v").alias("dst"))
            .unionByName(pairs.select(F.col("v").alias("src"),
                                      F.col("u").alias("dst"))))


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two damped PageRank rounds over the co-purchase graph, top-25 by
    rank. Each round is ONE shuffle: edges ⋈ broadcast-sized (rank, deg)
    state on src — map-side contribution compute — then a partial/final
    sum grouped by dst. Undirected edges mean no dangling mass and every
    node keeps receiving, so no outer-join patch-up is needed. At 100 TB
    the state table is (node, rank, deg) — fixed-width rows co-partitioned
    with the edge list's src key across rounds; the O(log n)-round
    alternative for reachability lives in operators/graph.py.

    The edge build's ``distinct()`` and the plan-build ``count()`` follow
    the documented pattern (metadata-only for Parquet; the oracle needs
    the identical N). The edge list is materialized once — it has 3+
    consumers (deg + each round's join) and would otherwise re-run the
    basket self-join per consumer, the exact recompute pathology
    operators/dedup.py documents; at 100 TB the analogue is writing the
    edge list out once before iterating."""
    e = materialize(_edges(spark, sf_dir), "copurchase_edges")
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    n = deg.count()
    base = (1.0 - DAMPING) / n  # identical IEEE double inlined both sides
    pr = deg.select(F.col("src").alias("node"),
                    F.lit(1.0 / n).alias("pr"))
    for _ in range(ITERS):
        contrib = (
            e.join(pr, e.src == pr.node)
            .join(deg, "src")
            .select(F.col("dst").alias("node"),
                    F.floor(duck_round(F.col("pr") / F.col("deg"), 6)
                            * F.lit(1e6) + F.lit(0.5)).cast("long")
                    .alias("cmic"))
        )
        pr = (
            contrib.groupBy("node")
            .agg(duck_round(
                F.lit(base) + F.lit(DAMPING)
                * (F.sum("cmic").cast("double") / F.lit(1e6)), 6)
                .alias("pr"))
        )
    return (pr.select("node", "pr")
            .orderBy(F.col("pr").desc(), "node")
            .limit(TOP))


def _oracle() -> str:
    # Every numeric literal is CAST to DOUBLE (DuckDB parses bare 0.85 /
    # 1.0 as DECIMAL, whose arithmetic is not IEEE) and inlined with full
    # Python repr, so both engines evaluate bit-identical doubles; N
    # comes from the same deg relation the Spark plan counts.
    r6 = "floor(({x}) * 1e6 + 0.5) / 1e6"
    contrib = ("CAST(floor((" + r6.format(x="p.pr / d.deg")
               + ") * 1e6 + 0.5) AS BIGINT)")
    base = f"CAST({(1.0 - DAMPING)!r} AS DOUBLE) / nn.n"
    damp = f"CAST({DAMPING!r} AS DOUBLE)"

    def it(prev: str, out: str) -> str:
        return f"""{out} AS (
  SELECT e.dst AS node,
         {r6.format(x=f"{base} + {damp} * "
                      f"(CAST(sum({contrib}) AS DOUBLE) / 1e6)")} AS pr
  FROM edges e JOIN {prev} p ON e.src = p.node
  JOIN deg d ON e.src = d.src, nn
  GROUP BY e.dst, nn.n
)"""

    return f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {MIN_SUP}
),
edges AS (
  SELECT u AS src, v AS dst FROM pairs
  UNION ALL SELECT v, u FROM pairs
),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
nn AS (SELECT count(*) AS n FROM deg),
pr0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) / nn.n AS pr FROM deg, nn),
{it("pr0", "pr1")},
{it("pr1", "pr2")}
SELECT node, pr FROM pr2 ORDER BY pr DESC, node LIMIT {TOP}
"""


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle count + global clustering coefficient over
    the co-purchase graph — the third canonical graph shape next to
    reachability (connected components) and importance (PageRank).

    Triangles via the ORIENTED edge join: with every edge canonicalized
    u < v, a triangle u<v<w is found exactly once as e1(u,v) ⋈ e2(v,w)
    ⋈ e3(u,w) — two equi-joins, no candidate dedup, never all-pairs.
    Wedges (length-2 paths) come from the exact integer fold
    Σ deg·(deg−1)/2; clustering = 3·T / W rides duck_round. The
    canonical pair list is materialized once for its four consumers. At
    100 TB the standard hardening is degree-ordering instead of
    id-ordering (orient each edge from the lower-degree endpoint, breaking
    ties by id) so hub nodes never fan out as e1.u — same plan shape, one
    extra deg join to orient."""
    from hippo_claim_crossover_spark.operators.graph import triangle_stats

    return triangle_stats(materialize(_pairs(spark, sf_dir), "canon_pairs"))


ORACLE_GRAPH_TRIANGLES = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {MIN_SUP}
),
tri AS (
  SELECT count(*) AS n_triangles
  FROM pairs e1 JOIN pairs e2 ON e1.v = e2.u
  JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v
),
deg AS (
  SELECT node, count(*) AS deg FROM (
    SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs)
  GROUP BY node
),
w AS (SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges FROM deg)
SELECT n_triangles, n_wedges,
       floor((CAST(3.0 AS DOUBLE) * n_triangles / n_wedges) * 1e4 + 0.5)
         / 1e4 AS clustering
FROM tri, w
"""


BFS_HOPS = 3


def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source k-hop BFS over the co-purchase graph: hop distance
    (≤3) from the seed set (part ids ≡ 0 mod 17) to every reachable
    node — the fourth canonical graph shape (single/multi-source
    reachability with distances) next to components, PageRank, and
    triangles. The production uses: blast-radius queries ("what is
    within 3 hops of these recalled parts"), label propagation seeds,
    and graph-sampled negative mining.

    Frontier-relaxation shape: each round is ONE shuffle — edges join
    the current distance table on src, a min-aggregate per dst proposes
    distances, and a full-outer merge keeps the per-node minimum. State
    is O(nodes) fixed-width rows, checkpointed per round exactly like
    PageRank's rank table, so round k never re-derives rounds 1..k-1.
    The oracle closes the same relation with a depth-capped recursive
    CTE (UNION-dedup per (node, depth), so it terminates on cycles) —
    two independent traversal algorithms agreeing.
    """
    edges = materialize(_edges(spark, sf_dir), "copurchase_edges")
    dist = (edges.select(F.col("src").alias("node")).distinct()
            .withColumn("hops", F.when(F.col("node") % 17 == 0, 0)
                        .cast("int")))
    for _ in range(BFS_HOPS):
        cand = (edges.join(dist.where(F.col("hops").isNotNull()),
                           edges.src == F.col("node"))
                .groupBy(F.col("dst").alias("node2"))
                .agg((F.min("hops") + 1).cast("int").alias("nd")))
        dist = materialize(
            dist.join(cand, dist.node == cand.node2, "left")
            .select("node", F.least("hops", "nd").alias("_m"), "hops", "nd")
            .select("node", F.coalesce("_m", "hops", "nd").alias("hops")),
            "bfs_round")
    return (dist.where(F.col("hops").isNotNull())
            .select(F.col("node").alias("part_id"), "hops"))


ORACLE_GRAPH_BFS = f"""
WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {MIN_SUP}
),
edges AS (
  SELECT u AS src, v AS dst FROM pairs
  UNION ALL SELECT v, u FROM pairs
),
walk(node, d) AS (
  SELECT DISTINCT src, 0 FROM edges WHERE src % 17 = 0
  UNION
  SELECT e.dst, w.d + 1 FROM edges e JOIN walk w ON e.src = w.node
  WHERE w.d < {BFS_HOPS}
)
SELECT node AS part_id, CAST(min(d) AS INTEGER) AS hops
FROM walk GROUP BY node
"""


REC_K = 3


def q_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-based collaborative filtering over the co-purchase graph:
    for each sampled customer, the top-3 parts they do NOT own, scored
    by summed co-purchase support with the parts they DO own — the
    classic neighborhood recommender (the shape behind 'customers who
    bought X also bought Y').

    Plan: owned (customer, part) pairs join the weighted co-purchase
    edges on the owned part (shuffle on part id — the contraction
    dimension, exactly SpMM's shape: user-item matrix × item-item
    similarity), scores partial/final-aggregate per (customer,
    candidate), owned candidates drop via LEFT ANTI, and the top-3 is a
    per-customer WindowGroupLimit rank (score desc, part asc — exact
    integer scores, fully deterministic). Customers are sampled by key
    arithmetic (≡0 mod 50) purely to bound the demo output; the plan is
    identical unsampled."""
    from pyspark.sql.window import Window

    li = (t(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_partkey").distinct())
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    owned = materialize(
        li.join(o, li.l_orderkey == o.o_orderkey)
        .where(F.col("o_custkey") % 50 == 0)
        .select(F.col("o_custkey").alias("cust"),
                F.col("l_partkey").alias("part"))
        .distinct(),
        "owned_parts")
    from hippo_claim_crossover_spark.operators.graph import basket_pairs

    pairs = (basket_pairs(t(spark, sf_dir, "lineitem")
                          .select("l_orderkey", "l_partkey"),
                          "l_orderkey", "l_partkey", sup_col="sup")
             .where(F.col("sup") >= MIN_SUP))
    sim = (pairs.select("u", "v", "sup")
           .unionByName(pairs.select(F.col("v").alias("u"),
                                     F.col("u").alias("v"), "sup")))
    scores = (
        owned.join(sim, owned.part == sim.u)
        .groupBy("cust", F.col("v").alias("cand"))
        .agg(F.sum("sup").alias("score"))
    )
    fresh = scores.join(
        owned.withColumnsRenamed({"part": "cand"}),
        ["cust", "cand"], "left_anti")
    w = Window.partitionBy("cust").orderBy(F.desc("score"), F.asc("cand"))
    return (
        fresh.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= REC_K)
        .select(F.col("cust").alias("c_custkey"), "rk",
                F.col("cand").alias("part_id"), "score")
    )


ORACLE_RECOMMEND = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
owned AS (
  SELECT DISTINCT o.o_custkey AS cust, li.l_partkey AS part
  FROM li JOIN orders o ON li.l_orderkey = o.o_orderkey
  WHERE o.o_custkey % 50 = 0
),
pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS sup
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {MIN_SUP}
),
sim AS (
  SELECT u, v, sup FROM pairs UNION ALL SELECT v, u, sup FROM pairs
),
scores AS (
  SELECT o.cust, s.v AS cand, sum(s.sup) AS score
  FROM owned o JOIN sim s ON o.part = s.u
  GROUP BY o.cust, s.v
),
fresh AS (
  SELECT sc.* FROM scores sc
  LEFT JOIN owned ow ON sc.cust = ow.cust AND sc.cand = ow.part
  WHERE ow.part IS NULL
)
SELECT cust AS c_custkey, rk, cand AS part_id, CAST(score AS BIGINT) AS score
FROM (
  SELECT *, row_number() OVER (PARTITION BY cust
            ORDER BY score DESC, cand) AS rk
  FROM fresh
) WHERE rk <= {REC_K}
"""


def q_negative_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for recommender/contrastive
    training: for each customer, 3 parts they have NOT purchased, drawn
    content-addressed (md5) so the sample is identical across engines,
    runs, and cluster layouts.

    The all-pairs candidate space (users × items) is never materialized:
    users and items each hash into B md5 buckets and candidates come
    from the user's OWN bucket only — an equi-join producing
    |users|·|items|/B pairs in expectation.  B ADAPTS to the catalog:
    ``B = max(8, |items| div 40)`` keeps ~40 candidates per user at any
    scale (the same grows-with-the-table discipline as the adaptive SRP
    bucket count in dedup_embed) — a fixed B would re-grow the
    per-user candidate list linearly with the catalog (measured 33s at
    sf0.1 with B=8; 3.6s adaptive).  B itself is a 1-row broadcast
    aggregate in Spark and a scalar subquery in the oracle, so both
    engines derive the identical bucket count from the data.  Owned
    pairs are removed with LEFT ANTI (aggregate-distinct first, so the
    anti build side is the owned-pair set, not raw lineitems), and each
    user keeps its 3 md5-smallest candidates via WindowGroupLimit.  The
    md5 rank makes the negatives a uniform-without-replacement draw
    conditioned on the bucket — the standard trick for reproducible
    negatives at 100 TB.
    """
    items_raw = t(spark, sf_dir, "part").select("p_partkey")
    # separate scan for the scalar (a shared frame would be an ambiguous
    # self-join); it reads one count from parquet footers
    b_row = t(spark, sf_dir, "part").agg(F.greatest(
        F.lit(8).cast("long"),
        F.floor(F.count(F.lit(1)) / 40).cast("long")).alias("_B"))
    users = (t(spark, sf_dir, "orders").select("o_custkey").distinct()
             .crossJoin(F.broadcast(b_row))
             .withColumn("bkt", hex2long(
                 F.md5(F.col("o_custkey").cast("string"))) % F.col("_B"))
             .drop("_B"))
    items = (items_raw
             .crossJoin(F.broadcast(b_row))
             .withColumn("bkt", hex2long(
                 F.md5(F.col("p_partkey").cast("string"))) % F.col("_B"))
             .drop("_B"))
    owned = (t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
             .join(t(spark, sf_dir, "lineitem")
                   .select("l_orderkey", "l_partkey"),
                   F.col("o_orderkey") == F.col("l_orderkey"))
             .select("o_custkey", "l_partkey").distinct())
    cand = (users.join(items, "bkt")
            .join(owned, (users.o_custkey == owned.o_custkey)
                  & (items.p_partkey == owned.l_partkey), "left_anti")
            .withColumn("u", hex2long(
                F.md5(F.concat_ws(":", users.o_custkey.cast("string"),
                                  items.p_partkey.cast("string"))))))
    from pyspark.sql import Window
    w = Window.partitionBy(users.o_custkey).orderBy("u")
    return (cand.withColumn("neg_rank", F.row_number().over(w))
            .where(F.col("neg_rank") <= 3)
            .select(F.col("o_custkey").alias("custkey"), "neg_rank",
                    F.col("p_partkey").alias("neg_partkey"))
            .orderBy("custkey", "neg_rank"))


ORACLE_NEGATIVE_SAMPLE = """
WITH b AS (
  SELECT greatest(8, CAST(floor(count(*) / 40) AS BIGINT)) AS nb
  FROM part
), users AS (
  SELECT DISTINCT o_custkey,
         CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))
              AS BIGINT) % (SELECT nb FROM b) AS bkt
  FROM orders
), items AS (
  SELECT p_partkey,
         CAST(('0x' || substr(md5(CAST(p_partkey AS VARCHAR)), 1, 15))
              AS BIGINT) % (SELECT nb FROM b) AS bkt
  FROM part
), owned AS (
  SELECT DISTINCT o.o_custkey, l.l_partkey
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
), cand AS (
  SELECT u.o_custkey, i.p_partkey,
         CAST(('0x' || substr(md5(CAST(u.o_custkey AS VARCHAR) || ':'
                                  || CAST(i.p_partkey AS VARCHAR)), 1, 15))
              AS BIGINT) AS uh
  FROM users u
  JOIN items i ON u.bkt = i.bkt
  WHERE NOT EXISTS (SELECT 1 FROM owned w
                    WHERE w.o_custkey = u.o_custkey
                      AND w.l_partkey = i.p_partkey)
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY uh)
           AS neg_rank
  FROM cand
)
SELECT o_custkey AS custkey, neg_rank, p_partkey AS neg_partkey
FROM ranked WHERE neg_rank <= 3
ORDER BY custkey, neg_rank
"""


LPA_ROUNDS = 3


def q_graph_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (LPA) over
    the co-purchase graph — the clustering face of the graph family
    next to reachability (CC), importance (PageRank), distance (BFS)
    and local density (triangles).

    Determinism (LPA's classic weakness — random tie-breaks and async
    sweep order make vanilla LPA non-reproducible): labels start as the
    node's own id, every round is SYNCHRONOUS (all nodes update from
    the previous round's labels), and the update is "most frequent
    neighbor label, ties to the SMALLEST label" — a total order, so
    both engines converge identically and the driver can hash the
    communities. Fixed ``LPA_ROUNDS`` rounds (the iterative-algorithm
    contract q_pagerank/q_cluster_kmeans use; unrolled as CTE layers in
    the oracle).

    Scale shape per round: one equi-join shuffle of the checkpointed
    edge list against the ≤|nodes|-row label table, then two src-keyed
    partial/final aggregates (count per (node, label) → max → min
    label at max). Label tables never exceed |nodes| rows; the edge
    list is materialized once. Never all-pairs, no Pregel-style
    mutable state needed — each round is a plain dataflow."""
    e = materialize(_edges(spark, sf_dir), "copurchase_edges")
    labels = materialize(e.select(F.col("src").alias("node"))
                         .distinct()
                         .select("node", F.col("node").alias("label")),
                         "lpa_labels")
    for _ in range(LPA_ROUNDS):
        nbr = (e.join(labels, e.dst == labels.node)
               .select("src", "label"))
        counts = (nbr.groupBy("src", "label")
                  .agg(F.count(F.lit(1)).alias("c")))
        mx = counts.groupBy("src").agg(F.max("c").alias("mc"))
        labels = materialize(counts.join(mx, "src")
                             .where(F.col("c") == F.col("mc"))
                             .groupBy("src")
                             .agg(F.min("label").alias("label"))
                             .select(F.col("src").alias("node"), "label"),
                             "lpa_labels")
    return (labels.groupBy(F.col("label").alias("community"))
            .agg(F.count(F.lit(1)).alias("n_members"),
                 F.min("node").alias("min_member"),
                 F.max("node").alias("max_member"))
            .orderBy(F.col("n_members").desc(), "community"))


def _lpa_oracle() -> str:
    rounds = []
    prev = "l0"
    for i in range(1, LPA_ROUNDS + 1):
        rounds.append(f"""c{i} AS (
  SELECT e.src, l.label, CAST(count(*) AS BIGINT) AS c
  FROM edges e JOIN {prev} l ON e.dst = l.node GROUP BY e.src, l.label
), m{i} AS (
  SELECT src, max(c) AS mc FROM c{i} GROUP BY src
), l{i} AS (
  SELECT c{i}.src AS node, CAST(min(c{i}.label) AS BIGINT) AS label
  FROM c{i} JOIN m{i} ON c{i}.src = m{i}.src AND c{i}.c = m{i}.mc
  GROUP BY c{i}.src
)""")
        prev = f"l{i}"
    rounds_sql = ", ".join(rounds)
    return f"""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(*) >= {MIN_SUP}
), edges AS (
  SELECT u AS src, v AS dst FROM pairs
  UNION ALL
  SELECT v, u FROM pairs
), l0 AS (
  SELECT DISTINCT src AS node, src AS label FROM edges
), {rounds_sql}
SELECT label AS community, count(*) AS n_members,
       min(node) AS min_member, max(node) AS max_member
FROM {prev} GROUP BY label
ORDER BY n_members DESC, community
"""


ORACLE_GRAPH_LPA = _lpa_oracle()


def q_graph_sage_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GNN FEATURE AGGREGATION (the GraphSAGE "aggregate my neighbors"
    layer as pure relational ops — the preprocessing a graph-learning
    pipeline runs before any model sees data): for every node of the
    co-purchase graph, the mean/max of its neighbors' retail price and
    mean neighbor size, next to the node's own features. Deeper layers
    iterate exactly this shape (join state, aggregate by src — the
    q_pagerank round structure), so one layer declared + hash-checked
    pins the machinery.

    Exactness: sums ride integer micros; the two means are single
    double divisions over identical operands. Shape: the symmetrized
    edge list joins the feature table on dst (equi-join — broadcast
    when the feature table is dim-sized, shuffle otherwise; AQE
    decides), then ONE partial/final agg by src; at 100 TB the edge
    list stays co-partitioned on src across layers and features attach
    by the same join each layer."""
    e = _edges(spark, sf_dir)
    p = t(spark, sf_dir, "part").select(
        "p_partkey",
        money_micros(F.col("p_retailprice")).alias("price_u"),
        F.col("p_size").cast("long").alias("size"))
    nbr = (e.join(p, e.dst == p.p_partkey)
           .groupBy("src")
           .agg(F.count(F.lit(1)).alias("deg"),
                F.sum("price_u").alias("_sp"),
                F.max("price_u").alias("_mp"),
                F.sum("size").alias("_ss")))
    return (nbr.join(p, nbr.src == p.p_partkey)
            .select(F.col("src").alias("node"), "deg",
                    duck_round(F.col("price_u").cast("double")
                               / F.lit(1e6), 2).alias("self_price"),
                    duck_round(F.col("_sp").cast("double")
                               / F.col("deg").cast("double")
                               / F.lit(1e6), 4).alias("nbr_price_mean"),
                    duck_round(F.col("_mp").cast("double")
                               / F.lit(1e6), 2).alias("nbr_price_max"),
                    duck_round(F.col("_ss").cast("double")
                               / F.col("deg").cast("double"), 4)
                    .alias("nbr_size_mean"))
            .orderBy("node"))


ORACLE_GRAPH_SAGE_AGG = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {MIN_SUP}
),
edges AS (
  SELECT u AS src, v AS dst FROM pairs
  UNION ALL SELECT v, u FROM pairs
),
feat AS (
  SELECT p_partkey,
         CAST(floor(p_retailprice * 1e6 + 0.5) AS BIGINT) AS price_u,
         CAST(p_size AS BIGINT) AS size
  FROM part
),
nbr AS (
  SELECT e.src, CAST(count(*) AS BIGINT) AS deg,
         CAST(sum(f.price_u) AS BIGINT) AS sp,
         max(f.price_u) AS mp,
         CAST(sum(f.size) AS BIGINT) AS ss
  FROM edges e JOIN feat f ON e.dst = f.p_partkey
  GROUP BY e.src
)
SELECT n.src AS node, n.deg,
       floor(CAST(f.price_u AS DOUBLE) / 1e6 * 1e2 + 0.5) / 1e2
         AS self_price,
       floor(CAST(n.sp AS DOUBLE) / CAST(n.deg AS DOUBLE) / 1e6
             * 1e4 + 0.5) / 1e4 AS nbr_price_mean,
       floor(CAST(n.mp AS DOUBLE) / 1e6 * 1e2 + 0.5) / 1e2
         AS nbr_price_max,
       floor(CAST(n.ss AS DOUBLE) / CAST(n.deg AS DOUBLE)
             * 1e4 + 0.5) / 1e4 AS nbr_size_mean
FROM nbr n JOIN feat f ON n.src = f.p_partkey
ORDER BY node
"""


SPECS: dict[str, QuerySpec] = {
    "q_graph_lpa": QuerySpec(
        q_graph_lpa, ORACLE_GRAPH_LPA,
        "deterministic synchronous label propagation, 3 rounds, "
        "min-label tie-break"),
    "q_negative_sample": QuerySpec(
        q_negative_sample, ORACLE_NEGATIVE_SAMPLE,
        "deterministic bucketed negative sampling (md5 draw, anti-join "
        "owned, never all-pairs)"),
    "q_pagerank": QuerySpec(q_pagerank, _oracle(),
                            "damped PageRank, 2 rounds, exact-micros sums"),
    "q_recommend": QuerySpec(q_recommend, ORACLE_RECOMMEND,
                             "item-based collaborative-filtering top-3 "
                             "(co-purchase neighborhood scores)"),
    "q_graph_bfs": QuerySpec(q_graph_bfs, ORACLE_GRAPH_BFS,
                             "multi-source 3-hop BFS distances "
                             "(frontier relaxation)"),
    "q_graph_triangles": QuerySpec(q_graph_triangles,
                                   ORACLE_GRAPH_TRIANGLES,
                                   "oriented-join triangle count + "
                                   "clustering coefficient"),
    "q_graph_sage_agg": QuerySpec(
        q_graph_sage_agg, ORACLE_GRAPH_SAGE_AGG,
        "GraphSAGE-style 1-hop neighbor feature aggregation over the "
        "co-purchase graph, exact-micros means"),
}
