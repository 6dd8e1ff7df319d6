"""Parquet sources/sinks with explicit schemas.

The reference's only source is ``File.read`` of one EDI string
(``lib/hippo_claim_crossover.rb:313``) and its only sink a per-record PDF
render (``:316``). Our engine's canonical storage is columnar Parquet
(SURVEY.md §1.4): schema-carrying, splittable, predicate-pushdown-capable —
the properties a 100 TB scan actually needs.

Schemas are declared explicitly (never inferred on a production path,
SURVEY.md §1.4): every fixture read passes its ``SCHEMAS`` entry, so a load
launches no Spark job. tests/test_io.py asserts each fixture's footer
schema equals its entry, so a fixture drift fails a test instead of
silently changing types.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType([
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ]),
    "nation": T.StructType([
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]),
    "customer": T.StructType([
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]),
    "supplier": T.StructType([
        T.StructField("s_suppkey", T.LongType()),
        T.StructField("s_name", T.StringType()),
        T.StructField("s_nationkey", T.IntegerType()),
        T.StructField("s_acctbal", T.DoubleType()),
    ]),
    "part": T.StructType([
        T.StructField("p_partkey", T.LongType()),
        T.StructField("p_name", T.StringType()),
        T.StructField("p_brand", T.StringType()),
        T.StructField("p_type", T.StringType()),
        T.StructField("p_size", T.IntegerType()),
        T.StructField("p_retailprice", T.DoubleType()),
    ]),
    "orders": T.StructType([
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampNTZType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]),
    "lineitem": T.StructType([
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
        T.StructField("l_suppkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_discount", T.DoubleType()),
        T.StructField("l_tax", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("l_linestatus", T.StringType()),
        T.StructField("l_shipdate", T.TimestampNTZType()),
    ]),
    "events": T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]),
    "documents": T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]),
    "embeddings": T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]),
}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def local_frame(spark: SparkSession, rows: list, schema) -> DataFrame:
    """Small driver-side literal table as a DataFrame via the
    Arrow/pandas path. ``createDataFrame(list)`` builds a
    defaultParallelism-slice PYTHON RDD — every evaluation runs ~32
    pickled-partition tasks through Python workers, and a downstream
    ``coalesce(1)`` chains them into one task paying a worker round
    trip PER SLICE (measured ~4.4s for a 2-row frame, r15). Routing
    through pandas keeps the literal JVM-side. ``schema`` may be a DDL
    string (``"a long, b string"``) or a StructType; column order in
    ``rows`` must match it.

    Caveat (r15): pandas uses NaN as its null sentinel, so a
    ``float('nan')`` in a double column arrives as SQL NULL here,
    where the list path would preserve it as NaN. No call site passes
    NaN (fixture literals are ints/strings/timestamps); if one ever
    must, use ``createDataFrame(list)`` for that frame or an explicit
    ``pyarrow.Table`` with ``nan_as_null=False``."""
    import pandas as pd

    if isinstance(schema, str):
        names = [f.name for f in T.StructType.fromDDL(schema).fields]
    else:
        names = [f.name for f in schema.fields]
    return spark.createDataFrame(
        pd.DataFrame(list(rows), columns=names), schema)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table with its declared ``SCHEMAS`` entry. Passing
    the schema skips parquet schema inference, which would otherwise run
    a footer-reading Spark job on every load; Catalyst still prunes
    columns and pushes filters into the scan. A file whose footer does not
    match (e.g. a TIMESTAMP(NANOS) ``ts``) fails when the scan executes."""
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {sorted(SCHEMAS)}")
    return spark.read.schema(SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str,
                names: list[str] | None = None) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def register_views(spark: SparkSession, sf_dir: str,
                   names: list[str] | None = None) -> None:
    """Register fixture tables as temp views for spark.sql() paths."""
    for n, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(n)


def observed_write(df: DataFrame, path: str, name: str = "pipeline_metrics",
                   metrics: dict[str, "F.Column"] | None = None,
                   **write_kwargs) -> dict:
    """Write ``df`` to parquet while collecting data-quality metrics from
    ``df.observe()`` — row counts, null counts, value bounds — in the SAME
    job as the write. At 100 TB this is the difference between metered
    output and a second full scan just to count rows: ``observe`` attaches
    accumulator-style aggregates to the plan, so the metrics ride the
    write's own pass over the data (exactly how production pipelines
    record per-batch row counts and reject thresholds).

    Returns the metrics row as a dict. Default metrics: ``n_rows``.
    """
    from pyspark.sql.observation import Observation

    obs = Observation(name)
    metrics = metrics or {}
    cols = [F.count(F.lit(1)).alias("n_rows")] + [
        c.alias(k) for k, c in metrics.items()]
    observed = df.observe(obs, *cols)
    write_parquet(observed, path, **write_kwargs)
    return obs.get


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite",
                  partition_by: list[str] | None = None,
                  target_partitions: int | None = None) -> None:
    """Canonical sink (replaces the reference's per-record PDF render,
    ``lib/hippo_claim_crossover.rb:316``). ``partition_by`` gives
    partition-pruned reads at scale; ``target_partitions`` applies write-side
    coalesce discipline so small outputs don't fragment into 10k files."""
    if target_partitions:
        df = df.coalesce(target_partitions)
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
