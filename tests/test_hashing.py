"""Cross-engine hash parity: Spark == DuckDB == pure Python.

This parity is what makes the driver's DuckDB oracle able to value-hash the
dedup outputs (the analogue of the py<->cpp BED byte-diff,
reference run_memory_comparison.sh:78-89).
"""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from genome_deduplication_spark.functions.hashing import (
    hash60,
    hash60_duckdb_sql,
    hash60_py,
)


def test_hash60_three_way_parity(spark):
    samples = ["abc", "", "hello world", "unicode: éü漢", "x" * 500]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    spark_vals = [r[0] for r in df.select(hash60(F.col("s"))).collect()]
    duck_vals = [
        duckdb.sql(f"SELECT {hash60_duckdb_sql('?')}", params=[s]).fetchone()[0]
        for s in samples
    ]
    py_vals = [hash60_py(s) for s in samples]
    assert spark_vals == py_vals
    assert duck_vals == py_vals
