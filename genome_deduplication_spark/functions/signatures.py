"""Fused signature kernel: one Arrow pass computing MinHash + SimHash, and
the one normalize -> signature builder every caller of it goes through
(``normalize_pages`` then ``sign_normalized``).

Running MinHash and SimHash as separate pandas UDFs deserializes the (large)
shingle column twice and boxes every output value into Python ints via
tolist(); fused, the shingle batch crosses the Arrow boundary once and all
outputs stay numpy until Arrow serialization. Same values as the
pure-Python twins functions.minhash.minhash_py and
functions.simhash.simhash_py (tests/test_kernels.py checks them equal):
MinHash reduces with one fold, SimHash counts two bits per reduceat.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from genome_deduplication_spark.config import MERSENNE31, DedupConfig
from genome_deduplication_spark.functions.hashing import hash128
from genome_deduplication_spark.functions.text import (
    extract_text_from_html,
    normalize_text,
)

_M31 = np.uint64(MERSENNE31)
_LANE_BITS = np.uint64(0x0000000100000001)  # bit 0 of each 32-bit lane
_LANE_MASK = np.uint64(0xFFFFFFFF)
# shingles per cache block (whole rows): keep a block's flat segment (8 B a
# shingle) plus two work buffers inside L2 so the 128-perm + 64-bit inner loops
# read cache, not DRAM (unblocked, the kernel is memory-bandwidth-bound and
# stops scaling past ~8 cores — measured 3.5s -> 9.1s per task at 32 workers)
_BLOCK_ELEMS = 32_768


def _splitmix64(x: np.ndarray) -> np.ndarray:
    # uint64 array arithmetic wraps mod 2**64, so no mask is needed
    x = x + np.uint64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _mersenne_mod_inplace(y: np.ndarray, out: np.ndarray) -> np.ndarray:
    """y mod (2**31-1) for y <= p*(p-1), overwriting y: the kernel's range,
    since a <= p-1, b <= p-1 and every shingle s <= p-1 bound a*s+b by
    p*(p-1). One shift/add fold leaves z = (y & p) + (y >> 31) <= 2p-2 and
    congruent to y (2**31 == 1 mod p), so one conditional subtract reduces
    it; bit-exact equal to `%` on that range (property-tested)."""
    np.right_shift(y, np.uint64(31), out=out)
    y &= _M31
    y += out
    # z - p wraps to a huge uint64 when z < p, so the minimum is the
    # reduced value either way (no boolean mask, no fancy index)
    np.subtract(y, _M31, out=out)
    np.minimum(out, y, out=out)
    return out


def minhash_simhash_blocked(
    flat: np.ndarray,
    starts: np.ndarray,
    lengths: np.ndarray,
    a: np.ndarray,
    b: np.ndarray,
    num_perm: int,
    bits: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Cache-blocked MinHash + SimHash over batch-flattened shingle sets.

    flat: uint64 shingle hashes (< 2**31-1) of all rows concatenated;
    starts/lengths: per-row offsets; bits <= 64. Returns (sigs[n_rows,
    num_perm] int32, simhash[n_rows] int64). Identical output to the naive
    per-perm, per-bit loop.
    """
    n_rows = len(starts)
    # int32 output: every value < 2**31-1 fits, and the signature matrix is
    # the dominant Arrow/shuffle/checkpoint payload (128 values/doc) — half
    # the bytes is half the memory traffic on a DRAM-bound kernel stage
    sigs = np.empty((n_rows, num_perm), dtype=np.int32)
    sims = np.zeros(n_rows, dtype=np.uint64)
    au = a.astype(np.uint64)
    bu = b.astype(np.uint64)
    r0 = 0
    prod = buf = None
    while r0 < n_rows:
        # grow the block until its flat segment exceeds _BLOCK_ELEMS
        r1 = r0
        f0 = starts[r0]
        while r1 < n_rows and (starts[r1] + lengths[r1] - f0) <= _BLOCK_ELEMS:
            r1 += 1
        if r1 == r0:  # single row larger than the block budget
            r1 = r0 + 1
        f1 = starts[r1 - 1] + lengths[r1 - 1]
        seg = flat[f0:f1]
        segstarts = (starts[r0:r1] - f0).astype(np.int64)
        if prod is None or len(prod) != len(seg):
            prod = np.empty(len(seg), dtype=np.uint64)
            buf = np.empty(len(seg), dtype=np.uint64)
        for j in range(num_perm):
            np.multiply(seg, au[j], out=prod)
            prod += bu[j]
            m = _mersenne_mod_inplace(prod, buf)
            sigs[r0:r1, j] = np.minimum.reduceat(m.view(np.int64), segstarts)
        # SimHash on the same (cache-hot) segment, bits `bit` and `bit+32`
        # summed in the two 32-bit lanes of one uint64 (a row has < 2**32
        # shingles, so a lane cannot carry into the other)
        fu = _splitmix64(seg)
        half = lengths[r0:r1].astype(np.uint64) >> np.uint64(1)
        sim = np.zeros(r1 - r0, dtype=np.uint64)
        for bit in range(min(bits, 32)):
            np.right_shift(fu, np.uint64(bit), out=prod)
            prod &= _LANE_BITS
            ones = np.add.reduceat(prod, segstarts)
            # ones * 2 > n  <=>  ones > n // 2
            sim |= ((ones & _LANE_MASK) > half).astype(np.uint64) << np.uint64(bit)
            if bit + 32 < bits:
                hi = (ones >> np.uint64(32)) > half
                sim |= hi.astype(np.uint64) << np.uint64(bit + 32)
        sims[r0:r1] = sim
        r0 = r1
    return sigs, sims.astype(np.int64)


def make_doc_signature_udf(cfg: DedupConfig):
    """The one-pass document kernel: normalized text -> struct(n_shingles,
    minhash, simhash, anchors).

    Everything per-document happens in a single Arrow round trip:
    * O(n) polynomial rolling shingle hashes (numpy, k vectorized passes)
      — replaces the O(n*k) JVM md5 path in the hot pipeline (the md5
      family remains the cross-engine-portable path for oracle queries);
    * distinct shingle set (np.unique);
    * 128-perm MinHash + 64-bit SimHash over the distinct set;
    * anchor hashes for the exact-substring index: anchor_k-byte windows
      whose hash % m == 0 (see operators/suffix_array.pairs_from_anchor_rows
      for the selectivity math).

    Differentially tested against the pure-Python twins
    (oracle.poly twins / functions.shingles.poly_shingles31_py).
    """
    from genome_deduplication_spark.functions.shingles import (
        poly_window_hashes_batched,
    )

    a_list, b_list = cfg.minhash_coefficients()
    a = np.array(a_list, dtype=np.int64)
    b = np.array(b_list, dtype=np.int64)
    num_perm = cfg.num_perm
    bits = cfg.simhash_bits
    k = cfg.shingle_k
    anchor_k = cfg.anchor_width()
    anchor_m = cfg.anchor_modulus()

    schema = T.StructType(
        [
            T.StructField("n_shingles", T.IntegerType()),
            T.StructField("minhash", T.ArrayType(T.IntegerType())),
            T.StructField("simhash", T.LongType()),
            T.StructField("anchors", T.ArrayType(T.LongType())),
        ]
    )

    @F.pandas_udf(schema)
    def doc_signature_udf(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for series in it:
            texts = series.to_numpy()
            n_rows = len(texts)
            # Chunked batch prefix rolling hash: docs are concatenated into
            # ~32KB L2-resident groups and BOTH window widths (shingle k +
            # anchor width) derive from one shared modular prefix sum per
            # group — O(n) vector passes total vs O(k_shingle + k_anchor)
            # per-doc passes, with every operand cache-resident (the
            # whole-batch flat variant was DRAM-streaming and collapsed
            # under host bandwidth contention — PLANS.md round 4). Values
            # are bit-identical to the per-doc kernel (property-tested +
            # diff-twin vs the pure-Python oracle).
            enc = [(t or "").encode("utf-8") for t in texts]
            per_doc = poly_window_hashes_batched(enc, (k, anchor_k))
            sh_rows_raw = per_doc[k]
            aw_rows_raw = per_doc[anchor_k]
            _empty = np.empty(0, dtype=np.int64)
            shingle_rows: list = []
            anchor_rows: list = []
            lengths = np.empty(n_rows, dtype=np.int64)
            for i in range(n_rows):
                sh = np.unique(sh_rows_raw[i])
                lengths[i] = len(sh)
                shingle_rows.append(sh)
                aw = aw_rows_raw[i]
                anchor_rows.append(
                    np.unique(aw[aw % anchor_m == 0]) if len(aw) else _empty
                )
            mh_out: list = [None] * n_rows
            sh_out: list = [None] * n_rows
            nonempty = np.flatnonzero(lengths > 0)
            if len(nonempty):
                flat = np.concatenate(
                    [shingle_rows[i] for i in nonempty]
                ).astype(np.uint64)
                ne_lengths = lengths[nonempty]
                starts = np.concatenate(([0], np.cumsum(ne_lengths)[:-1]))
                sigs, sim = minhash_simhash_blocked(
                    flat, starts, ne_lengths, a, b, num_perm, bits
                )
                for idx, i in enumerate(nonempty):
                    mh_out[i] = sigs[idx]
                    sh_out[i] = int(sim[idx])
            yield pd.DataFrame(
                {
                    "n_shingles": pd.Series(lengths, dtype="int32"),
                    "minhash": mh_out,
                    "simhash": pd.Series(sh_out, dtype="object"),
                    "anchors": anchor_rows,
                }
            )

    return doc_signature_udf


def normalize_pages(pages: DataFrame, cfg: DedupConfig) -> DataFrame:
    """pages -> (doc_key, url, warc_ts, text, lang, is_ambiguous): the
    pipeline's stage-1 normalize (reference parse+clean entry,
    code/dedup2.py:461-468).

    ``doc_key`` = hash128(url) is the document key of the near-dup core.
    When a page carries raw ``html`` and no text, the deterministic
    extractor produces it (same html bytes => same text for every url;
    functions/text.py EXTRACTOR_VERSION). ``is_ambiguous`` marks docs
    shorter than one shingle, the reference's N-region analogue."""
    text = normalize_text(F.col("text"))
    if "html" in pages.columns:
        text = F.coalesce(text, extract_text_from_html(F.col("html")))
    return pages.select(
        hash128(F.col("url")).alias("doc_key"),
        "url",
        "warc_ts",
        text.alias("text"),
        "lang",
    ).withColumn(
        "is_ambiguous",
        F.col("text").isNull() | (F.length("text") < cfg.shingle_k),
    )


def sign_normalized(
    docs: DataFrame, cfg: DedupConfig, keep: Sequence[str]
) -> DataFrame:
    """Rows whose ``text`` column is already normalized -> the ``keep``
    columns + content_hash, n_shingles, minhash, simhash, anchors.

    ``content_hash`` is hash128 of the normalized text, hashed here without
    running the normalize regexes a second time. The
    kernel's struct is unpacked right above the UDF (checkpointing a raw
    struct column is pathologically slow in the serializer)."""
    doc_signature_udf = make_doc_signature_udf(cfg)
    return docs.select(
        *keep,
        hash128(F.col("text")).alias("content_hash"),
        doc_signature_udf("text").alias("sig"),
    ).select(*keep, "content_hash", "sig.*")
