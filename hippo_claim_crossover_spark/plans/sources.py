"""Source-format queries (§2b sources axis): partition-pruned parquet
layout, CSV, and JSON-lines ingestion.

The reference reads exactly one format — a whole EDI file as a string
(lib/hippo_claim_crossover.rb:313). A Spark engine's source surface is a
family of formats behind one DataFrame API; each query here materializes a
fixture-derived file set once per (session, sf_dir) through
``session.fixture_dir`` (sinks: a fresh ``session.run_dir`` per run),
reads it back through the format under test with an **explicit schema**
(never inferSchema on a production path, SURVEY §1.4), and computes an
aggregate the DuckDB oracle reproduces straight from the parquet table —
so the gate proves the full write → list → parse → compute path, not
just the API call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hippo_claim_crossover_spark.operators.hashing import (
    md5_long, sql_md5_long)
from hippo_claim_crossover_spark.plans.base import (
    QuerySpec,
    money_micros,
    money_sum,
    money_sum_sql,
    t,
)
from hippo_claim_crossover_spark.session import fixture_dir, run_dir


def q_part_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned scan: events written ``partitionBy(event_type)``
    (hive-style directory layout), read back with a partition-column
    filter — the scan's PartitionFilters eliminate whole directories at
    file-listing time, before any parquet footer is opened.

    This is the single biggest lever at 100 TB: a layout partitioned on
    the dominant filter key turns a full-table scan into
    selected/total of the bytes (here 2 of 5 event types). Pinned by a
    plan test (tests/test_plans.py) asserting PartitionFilters is
    non-empty and the pruned type is absent from the scanned partitions.
    """
    def write(out: str) -> None:
        # 4 output files per partition dir (not one per input task):
        # write-side repartition discipline — see io.write_parquet.
        (t(spark, sf_dir, "events").repartition(4)
         .write.mode("overwrite").partitionBy("event_type").parquet(out))

    out = fixture_dir(spark, "partev", sf_dir, write)
    ev = spark.read.schema(
        # explicit schema: data columns + the string partition column
        T.StructType([
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
            T.StructField("event_type", T.StringType()),
        ])).parquet(out)
    return (
        ev.where(F.col("event_type").isin("purchase", "signup"))
        .groupBy("event_type",
                 F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             money_sum(F.col("value")).alias("sum_value"))
    )


ORACLE_PART_PRUNE = f"""
SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
       count(*) AS n_events, {money_sum_sql("value")} AS sum_value
FROM events
WHERE event_type IN ('purchase', 'signup')
GROUP BY event_type, date_trunc('day', CAST(ts AS TIMESTAMP))
"""


CSV_SCHEMA = T.StructType([
    T.StructField("c_custkey", T.LongType()),
    T.StructField("c_name", T.StringType()),
    T.StructField("c_nationkey", T.IntegerType()),
    T.StructField("c_acctbal", T.DoubleType()),
    T.StructField("c_mktsegment", T.StringType()),
])


def q_src_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV ingestion: customer round-tripped through headered CSV and
    aggregated per market segment. Doubles survive exactly — both the
    writer and DuckDB emit the shortest decimal repr that re-parses to
    the identical IEEE double — so the money sums hash-match the
    parquet-sourced oracle. PERMISSIVE parse mode with an explicit
    schema is the production posture: a malformed row nulls its columns
    instead of failing the 100 TB job."""
    def write(out: str) -> None:
        (t(spark, sf_dir, "customer").repartition(4)
         .write.mode("overwrite").option("header", True).csv(out))

    out = fixture_dir(spark, "csv", sf_dir, write)
    c = (spark.read.schema(CSV_SCHEMA).option("header", True)
         .option("mode", "PERMISSIVE").csv(out))
    return (
        c.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("n_customers"),
             money_sum(F.col("c_acctbal")).alias("total_balance"),
             F.min("c_custkey").alias("min_key"))
    )


ORACLE_SRC_CSV = f"""
SELECT c_mktsegment AS segment, count(*) AS n_customers,
       {money_sum_sql("c_acctbal")} AS total_balance,
       min(c_custkey) AS min_key
FROM customer GROUP BY c_mktsegment
"""


JSONL_SCHEMA = T.StructType([
    T.StructField("s_suppkey", T.LongType()),
    T.StructField("s_name", T.StringType()),
    T.StructField("s_nationkey", T.IntegerType()),
    T.StructField("s_acctbal", T.DoubleType()),
])


def q_src_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines ingestion: supplier written as one JSON object per line
    (the interchange format of most raw LLM training dumps), read back
    with an explicit schema — no sampling pass, no inferred types — and
    joined per nation. Jackson serializes doubles as the shortest
    round-trippable decimal, so values are bit-identical after the trip."""
    def write(out: str) -> None:
        (t(spark, sf_dir, "supplier").repartition(2)
         .write.mode("overwrite").json(out))

    out = fixture_dir(spark, "jsonl", sf_dir, write)
    s = spark.read.schema(JSONL_SCHEMA).json(out)
    n = t(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"),
             money_sum(F.col("s_acctbal")).alias("total_balance"))
    )


ORACLE_SRC_JSONL = f"""
SELECT n.n_name AS nation, count(*) AS n_suppliers,
       {money_sum_sql("s.s_acctbal")} AS total_balance
FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


ORC_SCHEMA = T.StructType([
    T.StructField("p_partkey", T.LongType()),
    T.StructField("p_name", T.StringType()),
    T.StructField("p_brand", T.StringType()),
    T.StructField("p_type", T.StringType()),
    T.StructField("p_size", T.IntegerType()),
    T.StructField("p_retailprice", T.DoubleType()),
])


def q_src_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC ingestion: part round-tripped through ORC (the other columnar
    format a lakehouse migration meets; Spark's reader is vectorized and
    pushes down predicates/column pruning just like parquet) and
    aggregated per brand for sizable parts only — the p_size predicate
    rides the ORC min/max stripe statistics at scale. Doubles survive
    exactly: ORC stores the IEEE bits, no text round-trip."""
    def write(out: str) -> None:
        (t(spark, sf_dir, "part").repartition(4)
         .write.mode("overwrite").orc(out))

    out = fixture_dir(spark, "orc", sf_dir, write)
    p = spark.read.schema(ORC_SCHEMA).orc(out)
    return (
        p.where(F.col("p_size") >= 25)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.count(F.lit(1)).alias("n_parts"),
             money_sum(F.col("p_retailprice")).alias("total_price"),
             F.min("p_partkey").alias("min_key"))
    )


ORACLE_SRC_ORC = f"""
SELECT p_brand AS brand, count(*) AS n_parts,
       {money_sum_sql("p_retailprice")} AS total_price,
       min(p_partkey) AS min_key
FROM part WHERE p_size >= 25 GROUP BY p_brand
"""


XML_SCHEMA = T.StructType([
    T.StructField("n_nationkey", T.IntegerType()),
    T.StructField("n_name", T.StringType()),
    T.StructField("n_regionkey", T.IntegerType()),
])


def q_src_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingestion (Spark 4 built-in ``xml`` datasource): nation
    round-tripped through row-tagged XML and re-joined to region. XML is
    the interchange format legacy feeds (EDI bridges, healthcare
    clearinghouses — the reference's own X12 world,
    lib/hippo_claim_crossover.rb:313) actually deliver; the explicit
    schema read keeps types deterministic exactly as the CSV/JSONL paths
    do. Integer/string columns only — XML is a text format, and unlike
    the CSV writer's shortest-repr doubles, exact float round-tripping
    is not part of its contract."""
    def write(out: str) -> None:
        (t(spark, sf_dir, "nation").coalesce(1)
         .write.mode("overwrite").option("rootTag", "nations")
         .option("rowTag", "nation").format("xml").save(out))

    out = fixture_dir(spark, "xml", sf_dir, write)
    x = (spark.read.schema(XML_SCHEMA).option("rowTag", "nation")
         .format("xml").load(out))
    r = t(spark, sf_dir, "region")
    return (
        x.join(F.broadcast(r), x.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(F.count(F.lit(1)).alias("n_nations"),
             F.min("n_name").alias("first_nation"))
    )


ORACLE_SRC_XML = """
SELECT r.r_name AS region, count(*) AS n_nations,
       min(n.n_name) AS first_nation
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
"""


PYDS_N = 200


def q_src_pyds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector via the Spark 4 Python DataSource API
    (hippo_claim_crossover_spark/datasource.py): partition planning
    driver-side, per-partition generation executor-side — the extension
    point for feeds no built-in reader speaks. The generator is
    deterministic (md5-derived), so the DuckDB oracle replays the exact
    rows from ``range()`` and the whole connector path — registration,
    partition plan, distributed read, scan — is hash-checked like any
    table. ``sf_dir`` is unused: the source IS the data."""
    from hippo_claim_crossover_spark import datasource

    datasource.register(spark)
    d = (spark.read.format("synthdocs")
         .option("n", str(PYDS_N)).option("parts", "8").load())
    return d.select(
        "doc_id", "token", "n_chars",
        F.substring("token", 1, 1).alias("bucket"))


ORACLE_SRC_PYDS = f"""
SELECT i AS doc_id, left(md5(CAST(i AS VARCHAR)), 8) AS token,
       CAST(8 AS INTEGER) AS n_chars,
       left(md5(CAST(i AS VARCHAR)), 1) AS bucket
FROM range(0, {PYDS_N}) t(i)
"""


def q_src_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden ``_metadata`` file columns (Spark 3.5+): per-partition-value
    row accounting read from the scan's own metadata — file path (the
    hive partition value is parsed back out of it) and per-file
    ``row_index`` — proving provenance tracking without any data-column
    cost. The aggregate (rows and distinct (file, row_index) pairs per
    event type) must equal a plain groupBy count of the source table,
    which is exactly what the oracle computes; ``n_rows = n_row_ids``
    additionally proves row_index is a unique in-file ordinal. At 100 TB
    this is the lineage/debugging surface: which file did a bad row come
    from, without a synthetic id column baked into the data."""
    def write(out: str) -> None:
        (t(spark, sf_dir, "events").repartition(4)
         .write.mode("overwrite").partitionBy("event_type").parquet(out))

    out = fixture_dir(spark, "metaev", sf_dir, write)
    ev = spark.read.schema(T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
        T.StructField("event_type", T.StringType()),
    ])).parquet(out)
    return (
        ev.select(
            F.regexp_extract(F.col("_metadata.file_path"),
                             r"event_type=([^/]+)/", 1).alias("event_type"),
            F.col("_metadata.file_path").alias("fp"),
            F.col("_metadata.row_index").alias("ri"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.countDistinct("fp", "ri").alias("n_row_ids"))
    )


ORACLE_SRC_METADATA = """
SELECT event_type, count(*) AS n_rows, count(*) AS n_row_ids
FROM events GROUP BY event_type
"""


def q_sink_pyds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE face of the custom connector: orders-derived rows go out
    through the Python DataSource writer (per-task tmp-file + atomic
    rename, driver-side _SUCCESS manifest in commit() — the two-phase
    protocol of the built-in file sinks, datasource.py
    _ScratchJsonWriter), come back through the built-in JSON reader
    with an explicit schema, and aggregate per priority. The oracle
    computes the same aggregate straight from the parquet table, so the
    gate proves the full custom-sink round trip: plan → distributed
    write → commit → list → parse → compute. JSON doubles survive
    exactly (shortest-repr round trip, q_src_csv notes)."""
    from hippo_claim_crossover_spark import datasource

    datasource.register(spark)

    out = run_dir(spark, "q_sink_pyds", sf_dir)
    (t(spark, sf_dir, "orders")
     .select("o_orderkey", "o_orderpriority", "o_totalprice")
     .repartition(4)
     .write.format("synthdocs").mode("overwrite")
     .option("path", out).save())
    back = spark.read.schema(T.StructType([
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_orderpriority", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
    ])).option("pathGlobFilter", "part-*.json").json(out)
    return (
        back.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count(F.lit(1)).alias("n_orders"),
             money_sum(F.col("o_totalprice")).alias("sum_total"))
    )


ORACLE_SINK_PYDS = f"""
SELECT o_orderpriority AS priority, count(*) AS n_orders,
       {money_sum_sql("o_totalprice")} AS sum_total
FROM orders
GROUP BY o_orderpriority
"""


def q_src_pyds_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same custom connector consumed as a STREAM
    (``SimpleDataSourceStreamReader``): row-position offsets make the
    source replayable, ``step`` rate-limits each micro-batch inside the
    source (the maxFilesPerTrigger analogue), and checkpoint recovery
    re-produces committed ranges via readBetweenOffsets. The drained
    memory-sink table must equal the batch face of the same source —
    proven here by the identical DuckDB oracle replaying the generator.
    ``processAllAvailable`` drains it: the source is finite, so the wait
    ends once every offset is committed, and a failing stream raises at
    once. (``availableNow`` would commit only the first rate-limited
    batch: PySpark's Python stream source does not support it.)"""
    from hippo_claim_crossover_spark import datasource

    datasource.register(spark)
    run_id = spark.sparkContext.applicationId.replace("-", "_")
    name = f"pyds_stream_{run_id}"
    s = (spark.readStream.format("synthdocs")
         .option("n", str(PYDS_N)).option("step", "50").load())
    q = (s.writeStream.format("memory").queryName(name)
         .outputMode("append").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


ORACLE_SRC_PYDS_STREAM = f"""
SELECT i AS doc_id, left(md5(CAST(i AS VARCHAR)), 8) AS token,
       CAST(8 AS INTEGER) AS n_chars
FROM range(0, {PYDS_N}) t(i)
"""


def q_sink_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-clustered sink: lineitem rewritten
    ``repartitionByRange(l_shipdate).sortWithinPartitions(l_shipdate)``
    — the layout lever for time-range scans at 100 TB. Randomly-laid-out
    data gives every parquet row group the full date span, so min/max
    stats prune nothing; range-clustered, a one-quarter filter skips all
    but the overlapping files/row-groups before any decode (the same
    reason tables get Z-ordered/clustered in lakehouse formats).
    tests/test_io.py asserts the written files' footer min/max ranges
    are pairwise disjoint. The readback query filters one quarter and
    aggregates; the oracle reproduces it from the raw table, proving the
    rewrite is lossless."""
    out = run_dir(spark, "q_sink_clustered", sf_dir)
    clustered = (t(spark, sf_dir, "lineitem")
                 .repartitionByRange(8, F.col("l_shipdate"))
                 .sortWithinPartitions("l_shipdate"))
    clustered.write.mode("overwrite").parquet(out)
    li = spark.read.schema(clustered.schema).parquet(out)
    return (
        li.where((F.col("l_shipdate") >= "1995-01-01")
                 & (F.col("l_shipdate") < "1995-04-01"))
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_lines"),
             money_sum(F.col("l_extendedprice")
                       * (F.lit(1.0) - F.col("l_discount")))
             .alias("revenue"))
    )


ORACLE_SINK_CLUSTERED = f"""
SELECT l_returnflag, count(*) AS n_lines,
       {money_sum_sql("l_extendedprice * (1.0 - l_discount)")} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
  AND l_shipdate < TIMESTAMP '1995-04-01'
GROUP BY l_returnflag
"""


def q_sink_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered sink: lineitem rewritten by the Morton
    interleave of (l_partkey, l_suppkey) — 2-D data skipping where
    q_sink_clustered's range layout is 1-D. Every written file gets a
    locality box in BOTH key dimensions (tests/test_io.py asserts the
    per-file spans of each dim shrink well below the domain), so a
    part ∧ supplier box predicate prunes most files on footer stats
    alone. The readback query applies exactly such a box and
    re-aggregates; the oracle reproduces it from the raw table, proving
    the rewrite is lossless. z_value is a pure codegen expression
    (operators/zorder.py); rank-normalization is the documented swap for
    skewed domains at 100 TB."""
    from hippo_claim_crossover_spark.operators.zorder import (
        minmax_norm,
        z_value,
    )

    out = run_dir(spark, "q_sink_zorder", sf_dir)
    li = t(spark, sf_dir, "lineitem")
    # Both keys must land on the same bit grid before interleaving —
    # raw partkey is ~4 bits wider than suppkey, and its high bits
    # would otherwise own the top of the code (leaving suppkey with
    # no locality). Domain bounds ride a broadcast 1-row aggregate.
    mm = li.agg(F.min("l_partkey").alias("plo"),
                F.max("l_partkey").alias("phi"),
                F.min("l_suppkey").alias("slo"),
                F.max("l_suppkey").alias("shi"))
    z = z_value(
        minmax_norm(F.col("l_partkey"), F.col("plo"), F.col("phi")),
        minmax_norm(F.col("l_suppkey"), F.col("slo"), F.col("shi")))
    zordered = (li.join(F.broadcast(mm))
                .withColumn("_z", z)
                .repartitionByRange(8, F.col("_z"))
                .sortWithinPartitions("_z")
                .drop("_z", "plo", "phi", "slo", "shi"))
    zordered.write.mode("overwrite").parquet(out)
    li = spark.read.schema(zordered.schema).parquet(out)
    return (
        li.where((F.col("l_partkey") < 400)
                 & (F.col("l_suppkey") < 40))
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_lines"),
             F.sum("l_quantity").cast("long").alias("total_qty"),
             money_sum(F.col("l_extendedprice")).alias("gross"))
    )


ORACLE_SINK_ZORDER = f"""
SELECT l_returnflag, count(*) AS n_lines,
       CAST(sum(l_quantity) AS BIGINT) AS total_qty,
       {money_sum_sql("l_extendedprice")} AS gross
FROM lineitem
WHERE l_partkey < 400 AND l_suppkey < 40
GROUP BY l_returnflag
"""


def q_src_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across parquet batches: an early batch written
    WITHOUT ``o_orderpriority`` (even keys) and a later batch WITH it
    (odd keys) land in one dataset; ``mergeSchema`` reconciles the
    footers at read time and the missing column surfaces as NULL for the
    old rows — the additive-column lifecycle every long-lived 100 TB
    table goes through (mergeSchema costs a footer read per file, so
    production tables pin the merged schema in a catalog instead; the
    read path is the same). The aggregate labels pre-schema rows
    explicitly, and the oracle derives the identical split straight from
    the raw table — proving no row was lost or mislabeled across the
    evolution boundary."""
    def write(out: str) -> None:
        o = t(spark, sf_dir, "orders")
        (o.where(F.col("o_orderkey") % 2 == 0)
         .select("o_orderkey", "o_totalprice")
         .repartition(2).write.mode("overwrite").parquet(f"{out}/b1"))
        (o.where(F.col("o_orderkey") % 2 == 1)
         .select("o_orderkey", "o_totalprice", "o_orderpriority")
         .repartition(2).write.mode("overwrite").parquet(f"{out}/b2"))

    out = fixture_dir(spark, "evolve", sf_dir, write)
    merged = (spark.read.option("mergeSchema", True)
              .parquet(f"{out}/b1", f"{out}/b2"))
    return (
        merged.groupBy(F.coalesce(F.col("o_orderpriority"),
                                  F.lit("(pre-schema)")).alias("priority"))
        .agg(F.count(F.lit(1)).alias("n_claims"),
             money_sum(F.col("o_totalprice")).alias("sum_total"))
    )


ORACLE_SRC_EVOLVE = f"""
SELECT CASE WHEN o_orderkey % 2 = 0 THEN '(pre-schema)'
            ELSE o_orderpriority END AS priority,
       count(*) AS n_claims,
       {money_sum_sql("o_totalprice")} AS sum_total
FROM orders GROUP BY 1
"""


COMPACT_FRAG_FILES = 64
COMPACT_TARGET_FILES = 4
_CKSUM_MOD = 1 << 62


def q_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMALL-FILES COMPACTION with a row-identity checksum — the
    lakehouse maintenance job (OPTIMIZE / rewrite_data_files) every
    streaming or frequently-appended table needs at 100 TB: thousands
    of per-batch files destroy scan throughput (one footer + open per
    file, undersized row groups, no skipping), so a periodic job
    rewrites them into few large files and must PROVE it lost nothing.

    Here lineitem's join keys + exact money micros are written as a
    64-file fragmented copy (the "many small appends" state), compacted
    to 4 files, and audited: file counts from a distinct-count over
    ``input_file_name()`` on each leg (distributed listing, no driver
    walk), row counts, and an order-insensitive row-identity checksum —
    sum over md5-prefix row hashes in DECIMAL(38,0) (no int64 overflow
    at any scale, duplicates COUNT — an XOR checksum would let a
    compaction that dropped a row an even number of times pass), folded
    mod 2^62 for the emitted BIGINT. The oracle recomputes both
    checksums straight from the source table, so frag == compact ==
    source is hash-proven end to end.

    The compaction itself is one ``repartition(4)`` rewrite (the
    re-clustering form real OPTIMIZE jobs use; ``coalesce`` is the
    zero-shuffle alternative when layout doesn't change, but its file
    count follows the read-combine of the input — config-dependent —
    so the pinned contract uses the shuffle form).

    PRECONDITION (pinned-contract validity): the fixture must have
    ≥64 rows per round-robin output partition in expectation — i.e.
    comfortably more than ``COMPACT_FRAG_FILES`` rows total — because
    an EMPTY repartition output partition writes no parquet file and
    the ``n_files_frag=64`` oracle constant would break. (Deriving
    ``least(64, n_rows)`` instead would still be wrong below 64 rows:
    round-robin target partitions can collide across input splits.)
    Every shipped fixture is ≥60k lineitem rows; guarded by the
    oracle's own hash-checked ``n_rows_frag`` column."""
    cols = ["l_orderkey", "l_linenumber", "qty_u", "price_u"]
    src = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber",
        money_micros(F.col("l_quantity")).alias("qty_u"),
        money_micros(F.col("l_extendedprice")).alias("price_u"))

    out = run_dir(spark, "q_compact_files", sf_dir)
    src.repartition(COMPACT_FRAG_FILES) \
        .write.mode("overwrite").parquet(f"{out}/frag")
    spark.read.schema(src.schema).parquet(f"{out}/frag") \
        .repartition(COMPACT_TARGET_FILES) \
        .write.mode("overwrite").parquet(f"{out}/compact")

    def audit(leg: str):
        # input_file_name() is non-deterministic to the optimizer, so it
        # must be projected into a column before aggregation.
        # Two-level shape (r12 VERDICT #5): per-FILE partials first —
        # groupBy(_f) partial-aggregates map-side, and a task only ever
        # holds 1-2 distinct files, so the exchange carries ONE ~100-byte
        # row per file instead of the Expand-doubled row stream a
        # count_distinct-with-other-aggs plan shuffles; the global agg
        # then folds the per-file rows (file count = count of partials,
        # rows/checksum = exact sums of sums). The rewrite legs above
        # remain linear by definition — compaction physically moves
        # every byte — but the audit leg is now metadata-sized.
        df = (spark.read.schema(src.schema).parquet(f"{out}/{leg}")
              .withColumn("_f", F.input_file_name()))
        h = md5_long(F.concat_ws("#", *cols))
        per_file = df.groupBy("_f").agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(h.cast("decimal(38,0)")).alias("_h"))
        return per_file.agg(
            F.count(F.lit(1)).alias(f"n_files_{leg}"),
            F.sum("_n").alias(f"n_rows_{leg}"),
            F.pmod(F.sum("_h"), F.lit(_CKSUM_MOD).cast("decimal(38,0)"))
            .cast("long").alias(f"checksum_{leg}"))

    return (audit("frag").crossJoin(audit("compact"))
            .withColumn("lossless",
                        (F.col("n_rows_frag") == F.col("n_rows_compact"))
                        & (F.col("checksum_frag")
                           == F.col("checksum_compact"))))


ORACLE_COMPACT_FILES = f"""
WITH h AS (
  SELECT {sql_md5_long(
      "CAST(l_orderkey AS VARCHAR) || '#' || "
      "CAST(l_linenumber AS VARCHAR) || '#' || "
      "CAST(CAST(floor(l_quantity * 1e6 + 0.5) AS BIGINT) AS VARCHAR) "
      "|| '#' || "
      "CAST(CAST(floor(l_extendedprice * 1e6 + 0.5) AS BIGINT) "
      "AS VARCHAR)")} AS hv
  FROM lineitem
), a AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CAST(hv AS HUGEINT)) % {_CKSUM_MOD} AS BIGINT) AS cksum
  FROM h
)
SELECT CAST({COMPACT_FRAG_FILES} AS BIGINT) AS n_files_frag,
       n_rows AS n_rows_frag, cksum AS checksum_frag,
       CAST({COMPACT_TARGET_FILES} AS BIGINT) AS n_files_compact,
       n_rows AS n_rows_compact, cksum AS checksum_compact,
       TRUE AS lossless
FROM a
"""


def q_backfill_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION BACKFILL via dynamic partition overwrite — the
    idempotent-reprocessing face every partitioned 100 TB table needs:
    a correction job recomputes ONE partition (here: the `purchase`
    events, revalued ×2 — a currency fix) and rewrites it with
    ``partitionOverwriteMode=dynamic``, which replaces exactly the
    partitions present in the incoming data and leaves every other
    directory byte-untouched (STATIC overwrite — the default — would
    silently truncate the whole table to the one partition: the
    classic backfill disaster this mode exists to prevent).

    The audit reads the table back and emits per-partition row counts
    and content checksums (the q_compact_files DECIMAL(38,0)
    sum-of-row-hashes mod 2^62); the oracle recomputes every checksum
    from the SOURCE table with the revision applied only to the
    backfilled partition — so the hash proves both sides at once:
    the target partition carries exactly the recomputed content, and
    the four untouched partitions still carry exactly the original
    content. The neighbor-files-byte-identical property is pinned by
    a snapshot test (tests/test_plans.py). The mode is set as a
    per-write option, never session-wide (a session-level dynamic
    default is a loaded gun for unrelated writes)."""
    out = run_dir(spark, "q_backfill_partition", sf_dir)
    base = t(spark, sf_dir, "events").select(
        "event_id", "value", "event_type")
    # run-idempotent: every invocation lays down the pristine base in a
    # fresh run dir, then backfills — the result never depends on prior runs
    (base.repartition(4).write.mode("overwrite")
     .partitionBy("event_type").parquet(out))
    revised = (base.where(F.col("event_type") == "purchase")
               .withColumn("value", F.col("value") * 2))
    (revised.repartition(2).write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("event_type").parquet(out))

    ev = spark.read.schema(T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("event_type", T.StringType()),
    ])).parquet(out)
    h = md5_long(F.concat_ws(
        "#", "event_id", money_micros(F.col("value"))))
    return (ev.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.pmod(F.sum(h.cast("decimal(38,0)")),
                        F.lit(_CKSUM_MOD).cast("decimal(38,0)"))
                 .cast("long").alias("checksum"))
            .withColumn("was_backfilled",
                        F.col("event_type") == "purchase")
            .orderBy("event_type"))


ORACLE_BACKFILL_PARTITION = f"""
WITH src AS (
  SELECT event_id, event_type,
         CASE WHEN event_type = 'purchase' THEN value * 2
              ELSE value END AS value
  FROM events
), h AS (
  SELECT event_type,
         {sql_md5_long(
      "CAST(event_id AS VARCHAR) || '#' || "
      "CAST(CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS VARCHAR)")}
           AS hv
  FROM src
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(hv AS HUGEINT)) % {_CKSUM_MOD} AS BIGINT)
         AS checksum,
       event_type = 'purchase' AS was_backfilled
FROM h GROUP BY event_type ORDER BY event_type
"""


def q_sink_pyds_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING write face of the custom Python connector
    (``DataSourceStreamWriter`` — datasource.py
    _ScratchJsonStreamWriter): a 3-micro-batch file-source stream over
    the REAL events table goes out through the custom sink's
    exactly-once protocol (per-task pending file → rename-at-commit to
    ``batch-<id>-part-*.json`` → per-batch ``_SUCCESS-<id>`` manifest;
    a replayed batch overwrites the same final names instead of
    duplicating), comes back through the built-in JSON reader over the
    committed finals, and aggregates per event_type. The oracle
    computes the identical aggregate straight from the parquet table,
    so the gate proves the full custom STREAM-sink round trip: stream →
    per-batch distributed write → commit/rename → seal → list → parse →
    compute; ``n_batches = count(DISTINCT event_id % 3)`` additionally
    pins that every micro-batch's files survived. Timestamps/props are
    projected out before the sink (the JSON writer round-trips
    long/double/string; doubles survive via shortest-repr, q_src_csv
    notes). Completes the connector's four declared faces: batch read
    (q_src_pyds), stream read (q_src_pyds_stream), batch write
    (q_sink_pyds), stream write (this)."""
    from hippo_claim_crossover_spark import datasource
    from hippo_claim_crossover_spark.streaming.ops import (
        read_event_stream,
        write_batch_files,
    )

    datasource.register(spark)
    ev = t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props")

    run = run_dir(spark, "q_sink_pyds_stream", sf_dir)
    src, out = f"{run}/src", f"{run}/out"
    write_batch_files(ev, src, "event_id", n_batches=3)
    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    q = (stream.select("event_id", "user_id", "event_type", "value")
         .writeStream.format("synthdocs")
         .option("path", out)
         .option("checkpointLocation", f"{run}/ckpt")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    back = spark.read.schema(T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])).option("pathGlobFilter", "batch-*.json").json(out)
    return (back.groupBy("event_type")
            .agg(F.count_distinct(F.col("event_id") % 3)
                 .alias("n_batches"),
                 F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.floor(F.coalesce(F.col("value"), F.lit(0.0))
                               * 1e6 + 0.5).cast("long"))
                 .alias("sum_micros"))
            .orderBy("event_type"))


ORACLE_SINK_PYDS_STREAM = """
SELECT event_type,
       CAST(count(DISTINCT event_id % 3) AS BIGINT) AS n_batches,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(coalesce(value, 0) * 1e6 + 0.5) AS BIGINT))
            AS BIGINT) AS sum_micros
FROM events
GROUP BY event_type
ORDER BY event_type
"""


SPECS: dict[str, QuerySpec] = {
    "q_backfill_partition": QuerySpec(
        q_backfill_partition, ORACLE_BACKFILL_PARTITION,
        "dynamic partition-overwrite backfill: one partition recomputed "
        "in place, per-partition checksums prove target revised and "
        "neighbors untouched"),
    "q_compact_files": QuerySpec(
        q_compact_files, ORACLE_COMPACT_FILES,
        "small-files compaction (64→4 rewrite) with hash-proven "
        "row-identity checksum and distributed file-count audit"),
    "q_part_prune": QuerySpec(q_part_prune, ORACLE_PART_PRUNE,
                              "partitionBy layout + pruned readback"),
    "q_sink_zorder": QuerySpec(q_sink_zorder, ORACLE_SINK_ZORDER,
                               "Z-order clustered sink, 2-D box readback"),
    "q_src_orc": QuerySpec(q_src_orc, ORACLE_SRC_ORC,
                           "ORC source, explicit schema"),
    "q_src_csv": QuerySpec(q_src_csv, ORACLE_SRC_CSV,
                           "CSV source, explicit schema"),
    "q_src_jsonl": QuerySpec(q_src_jsonl, ORACLE_SRC_JSONL,
                             "JSON-lines source, explicit schema"),
    "q_src_xml": QuerySpec(q_src_xml, ORACLE_SRC_XML,
                           "XML source (Spark 4 built-in), explicit schema"),
    "q_src_metadata": QuerySpec(q_src_metadata, ORACLE_SRC_METADATA,
                                "_metadata hidden columns (file_path + "
                                "row_index provenance)"),
    "q_sink_pyds_stream": QuerySpec(
        q_sink_pyds_stream, ORACLE_SINK_PYDS_STREAM,
        "custom Python DataSource STREAM sink round trip: 3 "
        "micro-batches, pending->rename-at-commit exactly-once, "
        "per-batch manifests, real-SQL oracle"),
    "q_sink_pyds": QuerySpec(q_sink_pyds, ORACLE_SINK_PYDS,
                             "custom-sink round trip (Python DataSource "
                             "writer, two-phase commit)"),
    "q_src_pyds": QuerySpec(q_src_pyds, ORACLE_SRC_PYDS,
                            "custom Python DataSource connector"),
    "q_src_pyds_stream": QuerySpec(
        q_src_pyds_stream, ORACLE_SRC_PYDS_STREAM,
        "custom Python streaming DataSource (offset replay)"),
    "q_sink_clustered": QuerySpec(q_sink_clustered, ORACLE_SINK_CLUSTERED,
                                  "range-clustered rewrite + pruned scan"),
    "q_src_evolve": QuerySpec(q_src_evolve, ORACLE_SRC_EVOLVE,
                              "mergeSchema additive-column evolution"),
}
