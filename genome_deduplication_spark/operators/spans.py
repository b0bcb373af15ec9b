"""Within-document span operators — the masks/ignored/ambiguous table side
of the reference's output model (4 BED files per input,
code/dedup2.py:280-310).

The web-text output model (SURVEY.md §1.5) is a `spans` table
(url, start, end, kind) with kind in {sample, masked, ignored, ambiguous}
(:func:`build_spans_table` — the reference's full 4-way partition):

* `self_repeat_spans` — maximal repeated blocks *within* one document, the
  internal-repeat case the reference's v2 specifically distinguishes from
  global repeats (sample-local k-mer positions, code/dedup2.py:105,143,183).
  Found per-doc with the suffix-array/LCP kernel inside applyInPandas.
* `coverage_gaps` — the check-5 analogue (spans must tile [0, len),
  check_beds.sh:51-74): given a spans table, report the uncovered gaps per
  doc (empty result == full coverage).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from genome_deduplication_spark.operators.condense import merge_intervals
from genome_deduplication_spark.operators.suffix_array import suffix_array_and_lcp


def self_repeat_spans_py(text: str, min_len: int) -> list[tuple[int, int]]:
    """Spans [start, end) of blocks >= min_len that occur at least twice in
    `text`; both occurrences reported, overlaps merged.

    UNIT CONTRACT: all span offsets and min_len are UTF-8 BYTE offsets
    (octets), end-exclusive — matching the suffix-array kernel, the
    lcs_len/min_common_substring columns and coverage_gaps (octet_length).
    On pure-ASCII text bytes == chars.
    Sequential kernel — runs inside the vectorized map UDF."""
    if not text:
        return []
    data = np.frombuffer(text.encode("utf-8"), dtype=np.uint8).astype(np.int64)
    n = len(data)
    if n < min_len * 2:
        return []
    sa, lcp = suffix_array_and_lcp(data)
    spans: list[tuple[int, int]] = []
    for i in range(1, n):
        l = int(lcp[i])
        if l >= min_len:
            for start in (int(sa[i]), int(sa[i - 1])):
                spans.append((start, start + l))
    if not spans:
        return []
    # merge overlapping spans
    spans.sort()
    merged = [spans[0]]
    for s, e in spans[1:]:
        if s <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], e))
        else:
            merged.append((s, e))
    return merged


def self_repeat_spans(
    docs: DataFrame,
    min_len: int,
    id_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """(url, start, end) spans of internal repeats >= min_len bytes.

    Per-row kernel over mapInPandas: no group key, no shuffle, and
    parallelism scales with the input partitioning instead of a fixed
    bucket constant."""
    schema = T.StructType(
        [
            T.StructField(id_col, T.StringType()),
            T.StructField("start", T.LongType()),
            T.StructField("end", T.LongType()),
        ]
    )

    def _kernel(it):
        for pdf in it:
            out_id, out_s, out_e = [], [], []
            for u, t in zip(pdf[id_col], pdf[text_col]):
                for s, e in self_repeat_spans_py(t or "", min_len):
                    out_id.append(u)
                    out_s.append(s)
                    out_e.append(e)
            yield pd.DataFrame({id_col: out_id, "start": out_s, "end": out_e})

    return docs.select(id_col, text_col).mapInPandas(_kernel, schema)


def build_spans_table(
    normalized: DataFrame,
    clusters: DataFrame,
    ambiguous: DataFrame,
    min_repeat_len: int,
    id_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """The reference's 4-way output partition (code/dedup2.py:17-31,480-485
    writes samples/masks/ignored/ambiguous BED files per input): every byte
    of every document lands in exactly one span kind.

      sample     kept content of canonical docs (the training corpus)
      masked     internal-repeat blocks within canonical docs (D2 analogue)
      ignored    whole non-canonical cluster members — content suppressed
                 because its duplicate appeared earlier (first-occurrence-
                 wins), the reference's 'ignored' region class
      ambiguous  docs that failed normalization (null / below shingle width)

    Inputs are the pipeline's stage tables: `normalized` (url, text after
    normalize — span offsets are UTF-8 bytes of THIS text), `clusters`
    (url, cluster_id), `ambiguous` (url, text). Output:
    (url, start, end, kind) tiling [0, octet_length) of every doc.
    """
    def whole(df: DataFrame, kind: str) -> DataFrame:
        return df.select(
            F.col(id_col),
            F.lit(0).cast("long").alias("start"),
            F.octet_length(text_col).cast("long").alias("end"),
            F.lit(kind).alias("kind"),
        ).where(F.col("end") > 0)

    members = clusters.select(id_col, "cluster_id")
    noncanon = members.where(F.col(id_col) != F.col("cluster_id")).select(id_col)
    canon = members.where(F.col(id_col) == F.col("cluster_id")).select(id_col)

    docs = normalized.select(id_col, text_col)
    ignored = whole(docs.join(noncanon, id_col, "left_semi"), "ignored")
    amb = whole(ambiguous.select(id_col, text_col), "ambiguous")

    canon_docs = docs.join(canon, id_col, "left_semi")
    # reused by both the output union and the complement — don't run the
    # suffix-array kernel twice (eager: a lazy mark is not persisted under
    # AQE, PLANS.md round 4)
    masked = self_repeat_spans(
        canon_docs, min_repeat_len, id_col, text_col
    ).localCheckpoint(eager=True)
    sample = coverage_gaps(masked, canon_docs, id_col, text_col)
    return (
        masked.withColumn("kind", F.lit("masked"))
        .unionByName(sample.withColumn("kind", F.lit("sample")))
        .unionByName(ignored)
        .unionByName(amb)
    )


def coverage_gaps(
    spans: DataFrame,
    docs: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Uncovered [start, end) gaps per doc given a spans table — empty
    result means the spans tile every document (check-5 analogue).

    Offsets are UTF-8 byte offsets (the span unit contract), so document
    length is octet_length, not char length."""
    merged = merge_intervals(spans, key_col=id_col)
    lens = docs.select(id_col, F.octet_length(text_col).alias("_len"))
    from pyspark.sql import Window as W

    w = W.partitionBy(id_col).orderBy("start")
    with_prev = merged.withColumn(
        "_prev_end", F.lag("end").over(w)
    ).withColumn("_gap_start", F.coalesce(F.col("_prev_end"), F.lit(0)))
    inner_gaps = with_prev.where(F.col("start") > F.col("_gap_start")).select(
        id_col,
        F.col("_gap_start").alias("start"),
        F.col("start").alias("end"),
    )
    last = merged.groupBy(id_col).agg(F.max("end").alias("_max_end"))
    tail_gaps = (
        lens.join(last, id_col, "left")
        .withColumn("_max_end", F.coalesce("_max_end", F.lit(0)))
        .where(F.col("_max_end") < F.col("_len"))
        .select(id_col, F.col("_max_end").alias("start"), F.col("_len").alias("end"))
    )
    return inner_gaps.unionByName(tail_gaps)
