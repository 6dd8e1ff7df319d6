"""Content-addressed hashing primitive shared across layers.

The engine samples, buckets, shards and feature-hashes by one key: the
first 15 hex chars of an md5, read as a non-negative BIGINT (< 2^60).
Every DuckDB oracle must rebuild that key bit for bit, so the key is
defined ONCE, here, in both engines: :func:`md5_long` (Spark) and
:func:`sql_md5_long` (DuckDB SQL). Operators sit below plans, so both
layers import the pair from this module.

Narrower hashes are derived from the key, never from a shorter prefix:
the top 28 bits (``md5_long(x) >> 32``) are exactly the 7-hex prefix.
``tests/test_hygiene.py`` fails on an ``F.conv`` call or a
``substr(md5(`` literal anywhere else in the package."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_long(col: Column | str) -> Column:
    """md5 of ``col`` (a string column) → first 15 hex chars → BIGINT in
    ``[0, 2^60)``. DuckDB mirror: :func:`sql_md5_long`."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def sql_md5_long(expr: str) -> str:
    """DuckDB SQL mirroring :func:`md5_long` exactly for the VARCHAR
    expression ``expr``."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"
