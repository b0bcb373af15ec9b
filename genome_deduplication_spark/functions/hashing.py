"""Deterministic, engine-portable hashing.

Two hash tiers:

* ``xxhash64`` (Spark built-in, JVM-side) — the scale path for internal
  shuffles/bucketing where no external oracle needs to reproduce the value.
* ``md5``-derived 60-bit integer — the *portable* hash: the identical value
  is computable in Spark SQL, DuckDB SQL and pure Python, which is what lets
  the driver's DuckDB oracle value-hash our dedup outputs. 15 hex chars =
  60 bits, always fits in a signed int64 in every engine.

This replaces the reference's reversible 2-bit k-mer packing
(code/dedup2.py:58-63): at web-text alphabet sizes packing is impossible, so
the hash becomes the representation and collisions are accepted at 60 bits.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F


def hash60(col: Column) -> Column:
    """Portable 60-bit hash of a string column (Spark side)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def hash60_duckdb_sql(expr: str) -> str:
    """DuckDB form — identical value to :func:`hash60`."""
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


def hash60_py(s: str) -> int:
    """Pure-Python form — identical value (used by the local oracle)."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def hash128(col: Column) -> Column:
    """128-bit key as BINARY(16) (unhex'd md5).

    For identity keys at the 10^12-doc design point: a single 64-bit (or
    60-bit) key expects tens of thousands of birthday collisions there,
    silently merging unrelated documents; at 128 bits the expectation is
    ~1e-12. BINARY keys stay on the fast hash-aggregate path — struct
    <hi,lo> keys fall off it (measured ~18-170% slowdowns depending on
    the operator)."""
    return F.unhex(F.md5(col))
