"""Exact long-common-substring pass over candidate pairs.

The masked-region analogue (reference: duplicate k-mer positions become
masked spans, code/dedup2.py:18,235-246): two documents that share one long
verbatim substring are duplicates-in-part even when whole-document Jaccard
is below threshold (a press release quoted inside distinct articles).

Physical shape: the candidate pair list joins back to text ONCE, then
``mapInPandas`` runs, per pair, an O(n log^2 n) suffix array
(prefix-doubling, pure numpy) over the concatenation of the two docs and
walks only the SA-adjacent suffix pairs from different docs for the
longest cross-document LCP.

The same kernel, run on a single document against itself, finds internal
repeats — the reference's internal-vs-global repeat discrimination
(code/dedup2.py:177-195).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _dense_ranks(s: np.ndarray) -> np.ndarray:
    """0-based dense ranks of a sorted array (equal values, equal rank)."""
    out = np.zeros(len(s), dtype=np.int64)
    np.cumsum(s[1:] != s[:-1], out=out[1:])
    return out


def _suffix_array_ranks(
    data: np.ndarray,
) -> tuple[np.ndarray, list[tuple[int, np.ndarray]]]:
    """Prefix-doubling suffix array (O(n log^2 n)) + rank history.

    Returns (sa, ranks) where ranks is [(width, r)], r has n + 1 entries and
    r[i] == r[j] for i != j iff data[i:i+width] == data[j:j+width] with both
    windows inside the data: a window that runs past the end ranks alone,
    and r[n] = -1 equals no rank. That is the sparse table the vectorized
    LCP walk consumes (no per-character Python loop anywhere). The sorts
    need no stability: ranks come from the sorted key values alone.
    """
    n = len(data)
    if n == 0:
        return np.empty(0, dtype=np.int64), []
    order = np.argsort(data)
    r = np.empty(n, dtype=np.int64)
    r[order] = _dense_ranks(data[order])
    ranks: list[tuple[int, np.ndarray]] = [(1, np.append(r, -1).astype(np.int32))]
    k = 1
    while k < n:
        # key (r[i], r[i+k]), with r[i+k] = -1 past the end, in one int64
        comp = r * (n + 1)
        comp[: n - k] += r[k:] + 1
        order = np.argsort(comp)
        r = np.empty(n, dtype=np.int64)
        r[order] = _dense_ranks(comp[order])
        k *= 2
        ranks.append((k, np.append(r, -1).astype(np.int32)))
        if r[order[-1]] == n - 1:
            break
    sa = np.empty(n, dtype=np.int64)
    sa[r] = np.arange(n)
    return sa, ranks


def _lcp_walk(
    i: np.ndarray, j: np.ndarray, ranks: list[tuple[int, np.ndarray]]
) -> np.ndarray:
    """Longest common prefix of the suffixes at i[t] != j[t], for every t.

    Classic sparse-table walk over the doubling rank table, batched over
    all pairs at once: descend widths; wherever rank_w[i] == rank_w[j] the
    pair shares a w-prefix — advance both cursors by w. The rank table's
    end rules make any bounds mask unnecessary. O(log n) numpy passes over
    the pairs, replacing the one-char-per-Python-iteration Kasai loop that
    dominated the substring stage at scale.
    """
    start = i
    i, j = i.copy(), j.copy()
    for w, r in reversed(ranks):
        step = (r[i] == r[j]) * w
        i += step
        j += step
    return i - start


def suffix_array_and_lcp(data: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(sa, lcp) from ONE prefix-doubling pass; lcp[t] is the common prefix
    of the suffixes at sa[t-1] and sa[t] (lcp[0] = 0)."""
    sa, ranks = _suffix_array_ranks(data)
    lcp = np.zeros(len(data), dtype=np.int64)
    lcp[1:] = _lcp_walk(sa[1:], sa[:-1], ranks)
    return sa, lcp


def longest_common_substring_len(a: str, b: str) -> int:
    """Longest verbatim substring shared by a and b (suffix array + LCP)."""
    if not a or not b:
        return 0
    xa = np.frombuffer(a.encode("utf-8"), dtype=np.uint8).astype(np.int64)
    xb = np.frombuffer(b.encode("utf-8"), dtype=np.uint8).astype(np.int64)
    sep = np.array([256], dtype=np.int64)  # out-of-alphabet separator
    data = np.concatenate([xa, sep, xb])
    na = len(xa)
    sa, ranks = _suffix_array_ranks(data)
    # the LCS is the longest LCP of SA-adjacent suffixes from different
    # docs (the separator belongs to neither): walk only those pairs
    from_a = sa < na
    from_b = sa > na
    cross = np.flatnonzero(
        (from_a[1:] & from_b[:-1]) | (from_b[1:] & from_a[:-1])
    )
    h = _lcp_walk(sa[cross + 1], sa[cross], ranks)
    return int(h.max()) if len(h) else 0


def pairs_from_anchor_rows(
    anchors: DataFrame,
    max_bucket_size: int,
    min_shared_anchors: int,
    id_col: str = "url",
) -> DataFrame:
    """(id, anchor) rows -> candidate (id_a < id_b) pairs.

    The reference catches shared substrings because *every* k-mer enters
    one global set (code/dedup2.py:142). Indexing every shingle is the full
    inverted index at web scale, so the signature kernel
    (functions/signatures.py) emits only *anchor* windows, winnowing-style:
    DedupConfig.anchor_width()-byte windows whose hash % anchor_modulus()
    == 0. A shared substring of min_common_substring bytes holds ~4 anchors
    in expectation (miss odds (1 - 1/m)^window ~ e^-4 < 2%), and the wide
    window keeps chance collisions on low-entropy text negligible — the
    reference's k=32 over a 4-letter alphabet (code/dedup2.py:576).

    Boilerplate prune: an anchor present in more than `max_bucket_size`
    documents is template text (headers/footers/navigation), not a quoted
    passage — its bucket is DROPPED, not sampled. Template anchors are
    all-or-nothing (every templated doc shares the identical windows), so
    rank-sampling them would still emit cap^2 useless pairs per anchor.
    This deliberately diverges from the reference (which masks every
    duplicate k-mer regardless of frequency, code/dedup2.py:142): at
    10^12 docs, frequency IS the boilerplate/quotation signal.
    """
    # Physical shape (rewritten in round 5 after the 640k profile): the old
    # a-join-b self-join exchanged the full (anchor, id) payload twice and
    # sort-merge-joined two 10M-row string-keyed sides — ~730 CPU-s at
    # local[8], amplified by this host's flat aggregate memory-bandwidth
    # cap (BENCH.md round 5). Now: count-first drop of template anchors
    # (map-side combinable, so mega-anchors never reach a reducer), ONE
    # exchange of the kept rows, capped member arrays, and pairs emitted
    # by array transforms (the lsh.py clique pattern — cap 50 bounds a row
    # to 1225 pair structs). Every row carries its id, so pass a
    # fixed-width key (the pipeline's doc_key), not a url string.
    # df >= 2: an anchor seen in one document cannot witness a shared
    # substring — pruning singletons here (the overwhelming majority of
    # anchors) keeps them out of the member join + collect_list entirely
    small = (
        anchors.groupBy("anchor")
        .agg(F.count(F.lit(1)).alias("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= max_bucket_size))
        .select("anchor")
    )
    members = (
        anchors.join(small, "anchor")
        .groupBy("anchor")
        .agg(F.sort_array(F.collect_list(id_col)).alias("m"))
        .where(F.size("m") >= 2)
    )
    clique = F.flatten(
        F.transform(
            F.col("m"),
            lambda x, i: F.transform(
                F.slice(F.col("m"), i + 2, max_bucket_size),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    # require >= min_shared_anchors distinct shared anchors: a true shared
    # substring of min_len yields ~4 expected anchors; a single chance anchor
    # collision (one common phrase) is pruned before any suffix-array work
    return (
        members.select(F.explode(clique).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        # duplicate (id, anchor) input rows (allowed by the public
        # contract) repeat a key inside the sorted member array, which
        # would emit self-pairs — filter them (ADVICE r5 #1); row-local,
        # runs before the aggregate so it costs nothing measurable
        .where(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_anchors"))
        .where(F.col("n_shared_anchors") >= min_shared_anchors)
        .select("id_a", "id_b")
    )


def exact_substring_pairs(
    pairs: DataFrame,
    pages: DataFrame,
    min_len: int,
    id_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Candidate (id_a, id_b) pairs -> those sharing a substring >= min_len.

    Output: id_a, id_b (of the input pairs' id type), lcs_len,
    is_substring_dup.
    """
    texts = pages.select(F.col(id_col), F.col(text_col))
    joined = (
        pairs.join(texts.withColumnRenamed(id_col, "id_a")
                   .withColumnRenamed(text_col, "text_a"), "id_a")
        .join(texts.withColumnRenamed(id_col, "id_b")
              .withColumnRenamed(text_col, "text_b"), "id_b")
    )

    schema = T.StructType(
        [
            T.StructField("id_a", pairs.schema["id_a"].dataType),
            T.StructField("id_b", pairs.schema["id_b"].dataType),
            T.StructField("lcs_len", T.LongType()),
        ]
    )

    def _kernel(it):
        for pdf in it:
            lens = [
                longest_common_substring_len(ta or "", tb or "")
                for ta, tb in zip(pdf["text_a"], pdf["text_b"])
            ]
            yield pd.DataFrame(
                {"id_a": pdf["id_a"], "id_b": pdf["id_b"], "lcs_len": lens}
            )

    # the kernel is per-ROW (each pair independent), so mapInPandas — no
    # group key, no shuffle, and parallelism scales with input partitions
    # instead of a fixed bucket constant. Arrow batches bound memory; the
    # upstream pair join already spread pairs across partitions.
    out = joined.mapInPandas(_kernel, schema)
    return out.withColumn("is_substring_dup", F.col("lcs_len") >= F.lit(min_len))
