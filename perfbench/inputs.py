"""Seeded benchmark inputs, written as parquet under the run's work dir.

``mirror_pages`` writes the repo's ``fx_mixed`` fixture corpus for a seed;
the program under test only ever sees that file. The query suite reads the
sf0.01 test tables kept as-is under ``perfbench/data/sf0.01``.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq


def mirror_pages(seed: int, scale: float, out_path: str):
    """Write ``fx_mixed(seed, scale)`` to one parquet file; return the corpus
    (rows plus planted truth) for the output checks."""
    from genome_deduplication_spark.fixtures.pages import fx_mixed

    corpus = fx_mixed(seed=seed, scale=scale)
    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    table = pa.Table.from_pylist(corpus.rows, schema=schema)
    pq.write_table(table, out_path)
    return corpus
