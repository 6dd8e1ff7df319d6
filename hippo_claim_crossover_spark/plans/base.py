"""Shared plumbing for declared query plans.

Every query in ``plans/`` is registered as a :class:`QuerySpec` — a Spark
builder ``(spark, sf_dir) -> DataFrame`` plus (where SQL-expressible) the
equivalent ANSI SQL the DuckDB oracle runs on the same parquet tables. The
driver hash-compares the two (row-count + schema + order-insensitive
value-hash), so specs here obey three portability rules:

1. **Alias every computed column identically** in both the Spark plan and
   the oracle SQL (the driver sorts columns by name before hashing).
2. **Deterministic floats.** Double summation is order-sensitive in the
   last ulp; any commutative money/value SUM goes through
   :func:`money_sum` (round each term to 4dp → exact DECIMAL(18,4) sum →
   double → round 2dp). All fixture money columns are exact 2dp values
   (verified against sf0.001), so the per-term round is lossless and both
   engines produce bit-identical doubles.
3. **ANSI-safe.** PySpark 4 defaults ``spark.sql.ansi.enabled=true`` and
   the driver supplies its own session: use ``try_cast``-style guards, no
   out-of-bounds ``element_at``, no division by an unguarded zero.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hippo_claim_crossover_spark.functions.scalar import duck_round  # noqa: F401
from hippo_claim_crossover_spark.io import load_table
from hippo_claim_crossover_spark.operators.hashing import hex2long  # noqa: F401

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    """One declared query: Spark builder + optional DuckDB oracle SQL.

    ``oracle is None`` ⇒ non-SQL-expressible / approximate op; the driver
    records the weaker rows-only check (BASELINE.md notes).
    """

    fn: SparkQuery
    oracle: str | None = None
    doc: str = ""


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table (explicit-schema parquet scan)."""
    return load_table(spark, sf_dir, name)


def t_wide(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a table and spread it across all cores before CPU-heavy
    per-row work (shingling, hashing, vector math).

    The local fixtures are single small parquet files → one input split →
    one task, which serializes expression-heavy stages onto a single core.
    On a real cluster a 100 TB table has thousands of splits and this
    repartition is unnecessary (but harmless: one extra rebalance of the
    narrow scan output). Locally it is the difference between 1-core and
    32-core shingle computation (measured 2.8s → 0.5s on sf0.1 documents).
    """
    return load_table(spark, sf_dir, name).repartition(
        spark.sparkContext.defaultParallelism)


def money_micros(term: Column) -> Column:
    """Exact integer-micros representation of a ≤6dp-exact money term.

    All fixture money columns are exact 2dp values and every money
    expression in the plans multiplies at most three of them (e.g.
    ``price*(1-disc)*(1+tax)``), so the true value is exact at 6dp and
    ``term*1e6`` is within ~2e-5 of an integer — ``floor(y+0.5)`` recovers
    it exactly, for either sign. Both engines evaluate the *same* IEEE
    expression on the *same* doubles, so the long is bit-identical.
    """
    return F.floor(term * F.lit(1e6) + F.lit(0.5)).cast("long")


def money_sum(term: Column, out_scale: int = 6) -> Column:
    """Order-insensitive, engine-portable SUM of a money-valued term.

    Sums :func:`money_micros` longs — exact integer arithmetic with no
    float ordering sensitivity, and ~8× faster than a DECIMAL(25,6)
    accumulator (stays on the compact/codegen aggregation path; measured
    5.99s → 0.70s on the sf0.1 TPC-H-Q1-shaped aggregate). The final
    ``sum/1e6`` double is identical in Spark and DuckDB (same integer,
    same division).

    The result is ON the 6dp grid, so no half-way case exists and the
    6dp final round agrees across engines. Rounding any lower (e.g. 2dp)
    reintroduces exact ``.xx5`` halfway cases where Spark (HALF_UP on the
    shortest decimal repr) and DuckDB (scale the raw double) disagree —
    observed on sf0.01 claim totals ending in ``.425``.

    Scale note: long micros overflow past ~9.2e12 in a single group's sum
    (9.2e18 micros); per-key groups at 100 TB stay far below that, but a
    *global* sum over ~1e9 rows of 1e5-sized values would not — use
    ``sum(cast(term as decimal(38,6)))`` for whole-table totals at that
    scale (exactness there isn't oracle-gated, so the slow path is fine).

    Oracle-side equivalent: :func:`money_sum_sql`.
    """
    total = F.sum(money_micros(term)).cast("double") / F.lit(1e6)
    return F.round(total, out_scale)


def money_sum_sql(term_sql: str, out_scale: int = 6) -> str:
    """DuckDB SQL mirroring :func:`money_sum` exactly (DuckDB's sum(BIGINT)
    widens to HUGEINT — still exact; the double cast of the same integer
    matches Spark's)."""
    return (f"round(CAST(sum(CAST(floor(({term_sql}) * 1e6 + 0.5) "
            f"AS BIGINT)) AS DOUBLE) / 1e6, {out_scale})")


# hex2long is single-sourced in operators/hashing.py (operators sit below
# plans, and the quantile-summary operator shards on it); re-exported here
# so plan code keeps importing it from base alongside sql_hex2long.


def sql_hex2long(expr: str) -> str:
    """DuckDB SQL mirroring :func:`hex2long` exactly."""
    return f"CAST(('0x' || substr({expr}, 1, 15)) AS BIGINT)"


def aes_key(id_col: Column, weight: Column) -> Column:
    """Efraimidis–Spirakis A-ES sampling key ``u^(1/w)`` with a
    CONTENT-ADDRESSED uniform ``u = (md5_prefix + 1) / 16^15`` — the
    deterministic weighted-draw primitive shared by the weighted /
    balanced samplers and the export composite.  Rank descending and
    take K for a without-replacement weighted sample whose membership
    depends only on the key, never on partitioning, run, or engine."""
    h = hex2long(F.md5(id_col.cast("string"))).cast("double")
    u = (h + F.lit(1.0)) / F.lit(float(1 << 60))
    return F.pow(u, F.lit(1.0) / weight)


def within_rel_band(approx: Column, exact: Column, rel: float) -> Column:
    """Deterministic-verdict band predicate ``|approx − exact| ≤
    rel·|exact|`` — the r8 pattern that makes engine-specific estimates
    (sketches, approximate percentiles) driver-hash-checkable: the query
    emits the EXACT side plus this boolean, the oracle computes the
    exact side and asserts TRUE, and an out-of-band estimate flips the
    hash red. Single-sourced here so band-width/null semantics can't
    drift between the call sites."""
    a = approx.cast("double")
    e = exact.cast("double")
    return F.abs(a - e) <= F.lit(rel) * F.abs(e)


def money_avg(term: Column, count: Column | None = None,
              out_scale: int = 4) -> Column:
    """Portable AVG: exact long-micros sum / count → one double division (no
    accumulation-order sensitivity), then :func:`duck_round` so the rounding
    of true-halfway quotients (2dp sum over an even count) matches DuckDB."""
    total = F.sum(money_micros(term)).cast("double") / F.lit(1e6)
    n = count if count is not None else F.count(F.lit(1))
    return duck_round(total / n, out_scale)


def money_avg_sql(term_sql: str, out_scale: int = 4) -> str:
    """DuckDB SQL mirroring :func:`money_avg` (term parenthesized — a
    compound term like ``a - b`` must not bind as ``a - b*1e6``, the
    same precedence trap fixed in :func:`money_sum_sql`)."""
    return (f"round(CAST(sum(CAST(floor(({term_sql}) * 1e6 + 0.5) "
            f"AS BIGINT)) AS DOUBLE) / 1e6 / count(*), {out_scale})")
