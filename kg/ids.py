"""Deterministic 64-bit IDs, identical across Spark and DuckDB.

The reference derives fallback IDs with Python ``hash()``
(``data/scripts/data_processor.py:84,95``), which is process-salted and
non-deterministic. We instead take the first 15 hex chars of md5 (60 bits,
fits a signed int64) — both Spark (``conv(substr(md5(x),1,15),16,10)``)
and DuckDB (``('0x'||substr(md5(x),1,15))::bigint``) compute the same
value, which makes every ID oracle-checkable.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F


def id64(col: Column | str) -> Column:
    """Deterministic 60-bit positive id from a string column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def spark_sql_id64(expr: str) -> str:
    """Spark SQL text of :func:`id64` over an expression string (for
    ``selectExpr`` projections built driver-side)."""
    return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def py_id64(s: str) -> int:
    """Python mirror of :func:`id64` (for oracles/fixtures)."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def sql_id64(expr: str) -> str:
    """DuckDB SQL mirror of :func:`id64` over an expression string."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::bigint)"
