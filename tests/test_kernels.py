"""Unit tests for the signature kernels vs. their pure-Python twins."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from genome_deduplication_spark.config import DedupConfig, lsh_threshold_curve
from genome_deduplication_spark.functions.minhash import minhash_py
from genome_deduplication_spark.functions.simhash import simhash_py
from genome_deduplication_spark.oracle import normalize_py

CFG = DedupConfig()


def _blocked(sets):
    """Run the engine's cache-blocked MinHash + SimHash kernel over
    non-empty shingle sets; returns (sigs, sims) row-aligned with sets.
    (Empty sets never reach it: the document UDF emits null signatures for
    them, checked by test_doc_signature_udf_matches_python_twins.)"""
    import numpy as np

    from genome_deduplication_spark.functions.signatures import (
        minhash_simhash_blocked,
    )

    a_list, b_list = CFG.minhash_coefficients()
    lengths = np.array([len(s) for s in sets])
    flat = np.concatenate([np.array(s, dtype=np.uint64) for s in sets])
    starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    return minhash_simhash_blocked(
        flat, starts, lengths, np.array(a_list, dtype=np.int64),
        np.array(b_list, dtype=np.int64), CFG.num_perm, CFG.simhash_bits,
    )


def test_minhash_blocked_matches_python():
    rng = random.Random(7)
    sets = [sorted(rng.sample(range(1, 2**31 - 1), rng.randint(5, 200))) for _ in range(10)]
    sigs, _ = _blocked(sets)
    for s, sig in zip(sets, sigs):
        assert sig.tolist() == minhash_py(s, CFG)


def test_minhash_estimates_jaccard(spark):
    rng = random.Random(11)
    base = set(rng.sample(range(1, 2**31 - 1), 1000))
    # build a set with true jaccard ~0.8: |A∩B|/|A∪B| = 0.8
    keep = set(list(base)[:900])
    extra = set(rng.sample(range(1, 2**31 - 1), 125))
    other = keep | extra
    true_j = len(base & other) / len(base | other)
    sig_a = minhash_py(sorted(base), CFG)
    sig_b = minhash_py(sorted(other), CFG)
    est = sum(x == y for x, y in zip(sig_a, sig_b)) / CFG.num_perm
    assert abs(est - true_j) < 0.12  # ~3 sigma at 128 perms


def test_simhash_blocked_matches_python():
    rng = random.Random(13)
    sets = [sorted(rng.sample(range(1, 2**31 - 1), rng.randint(5, 100))) for _ in range(8)]
    _, sims = _blocked(sets)
    for s, sim in zip(sets, sims):
        assert int(sim) == simhash_py(s, 64)


def test_blocked_kernel_matches_both_twins():
    """MinHash and SimHash from the one blocked pass equal the two
    pure-Python twins on the same rows."""
    rng = random.Random(21)
    sets = [sorted(rng.sample(range(1, 2**31 - 1), rng.randint(5, 300))) for _ in range(12)]
    sigs, sims = _blocked(sets)
    for s, sig, sim in zip(sets, sigs, sims):
        assert sig.tolist() == minhash_py(s, CFG)
        assert int(sim) == simhash_py(s, 64)


def test_doc_signature_udf_matches_python_twins(spark):
    """The one-pass text kernel == pure-Python poly twins (shingles,
    MinHash, SimHash, anchors)."""
    import random as _r

    from pyspark.sql import functions as F2

    from genome_deduplication_spark.functions.shingles import poly_shingles31_py
    from genome_deduplication_spark.functions.signatures import (
        make_doc_signature_udf,
    )

    rng = _r.Random(5)
    words = "alpha beta gamma delta epsilon zeta".split()
    texts = [
        " ".join(rng.choice(words) for _ in range(rng.randint(3, 120)))
        for _ in range(10)
    ]
    texts += ["", "tiny", "x" * 200]  # empty / sub-k / min_len-scale
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    udf = make_doc_signature_udf(CFG)
    rows = df.select("text", udf("text").alias("sig")).select(
        "text",
        F2.col("sig.n_shingles").alias("n"),
        F2.col("sig.minhash").alias("mh"),
        F2.col("sig.simhash").alias("sh"),
        F2.col("sig.anchors").alias("an"),
    ).collect()
    anchor_k = CFG.anchor_width()
    anchor_m = CFG.anchor_modulus()
    for r in rows:
        t = r["text"]
        want_sh = poly_shingles31_py(t, CFG.shingle_k)
        assert r["n"] == len(want_sh), t[:30]
        if not want_sh:
            assert r["mh"] is None and r["sh"] is None
        else:
            s = sorted(want_sh)
            assert r["mh"] == minhash_py(s, CFG)
            assert r["sh"] == simhash_py(s, 64)
        want_anchors = {
            h for h in poly_shingles31_py(t, anchor_k) if h % anchor_m == 0
        }
        assert set(r["an"]) == want_anchors


def test_mersenne_mod_equals_modulo():
    """The one-fold reduction must be bit-exact vs `%` over the kernel's
    whole (a*s+b) range [0, p*(p-1)], including edge values."""
    import numpy as np

    from genome_deduplication_spark.config import MERSENNE31 as P
    from genome_deduplication_spark.functions.signatures import (
        _mersenne_mod_inplace,
    )

    rng = random.Random(31)
    top = P * (P - 1)  # a = p-1, s = p-1, b = p-1 gives exactly this
    edge = [0, 1, P - 2, P - 1, P, P + 1, 2 * P, 1 << 31, top - 1, top]
    # the fold leaves z in [0, 2p-2]: probe the wrap-around subtract at
    # neighbours of multiples of p across the range, up to the top one
    for k in (2, 3, 1 << 20, 1 << 30, P - 3, P - 2, P - 1):
        edge += [k * P - 1, k * P, k * P + 1]
    # largest 31-bit low half (y & p == p) and largest high half
    edge += [((P - 2) << 31) | P, ((P - 2) << 31) | (P - 1), (1 << 62) - (1 << 33)]
    edge = [y for y in edge if 0 <= y <= top]
    rand = [rng.randrange(0, top + 1) for _ in range(10000)]
    x = np.array(edge + rand, dtype=np.uint64)
    got = _mersenne_mod_inplace(x.copy(), np.empty_like(x))
    want = x % np.uint64(P)
    assert (got == want).all()
    assert (got < P).all()


def test_blocked_kernel_at_coefficient_and_shingle_edges():
    """The one-fold proof's edges: a = p-1, b = p-1 and s in {0, 1, p-2,
    p-1}, in rows that straddle a cache block, for MinHash and for SimHash
    at 64 bits and at widths whose high 32-bit lane is partly or wholly
    unused."""
    import numpy as np

    from genome_deduplication_spark.config import MERSENNE31 as P
    from genome_deduplication_spark.functions import signatures as S

    a_cfg, b_cfg = CFG.minhash_coefficients()
    a_edge = [1, 2, P - 2, P - 1]
    b_edge = [0, 1, P - 2, P - 1]
    a_list = [x for x in a_edge for _ in b_edge] + a_cfg[:16]
    b_list = [y for _ in a_edge for y in b_edge] + b_cfg[:16]

    class EdgeCfg(DedupConfig):
        def minhash_coefficients(self):
            return a_list, b_list

    cfg = EdgeCfg(num_perm=32, bands=8, rows_per_band=4)
    rng = random.Random(37)
    edge_s = [0, 1, P - 2, P - 1]
    rows = []
    for n in (3, S._BLOCK_ELEMS - 5, 10, S._BLOCK_ELEMS + 7, 1):
        body = rng.sample(range(2, P - 2), max(0, n - len(edge_s)))
        rows.append(sorted(set(body + edge_s[: min(n, len(edge_s))])))
    rows.append([P - 1])
    lengths = np.array([len(r) for r in rows])
    flat = np.concatenate([np.array(r, dtype=np.uint64) for r in rows])
    starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    for bits in (64, 40, 16):
        sigs, sims = S.minhash_simhash_blocked(
            flat, starts, lengths, np.array(a_list, dtype=np.int64),
            np.array(b_list, dtype=np.int64), cfg.num_perm, bits,
        )
        for i, r in enumerate(rows):
            if bits == 64:
                assert sigs[i].tolist() == minhash_py(r, cfg), i
            assert int(sims[i]) == simhash_py(r, bits), (i, bits)


def test_blocked_kernel_matches_python_across_block_boundaries():
    """Rows straddling cache-block boundaries must produce identical
    signatures (block size is an implementation detail)."""
    import numpy as np

    from genome_deduplication_spark.functions import signatures as S
    from genome_deduplication_spark.functions.minhash import minhash_py
    from genome_deduplication_spark.functions.simhash import simhash_py

    rng = random.Random(17)
    a_list, b_list = CFG.minhash_coefficients()
    a = np.array(a_list, dtype=np.int64)
    b = np.array(b_list, dtype=np.int64)
    # mix of tiny rows and one row larger than the block budget
    rows = [sorted(rng.sample(range(1, 2**31 - 1), n))
            for n in (3, 500, S._BLOCK_ELEMS + 1000, 7, 2000)]
    lengths = np.array([len(r) for r in rows])
    flat = np.concatenate([np.array(r, dtype=np.uint64) for r in rows])
    starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    sigs, sims = S.minhash_simhash_blocked(flat, starts, lengths, a, b,
                                           CFG.num_perm, 64)
    for i, r in enumerate(rows):
        assert sigs[i].tolist() == minhash_py(r, CFG), i
        assert int(sims[i]) == simhash_py(r, 64), i


def test_batched_shingle_kernel_matches_per_doc_multi_group():
    """ADVICE r4: differential guard for the chunked batch kernel's
    multi-group slicing path — docs totalling several group_bytes,
    including one doc larger than a group, empty docs, and sub-k docs,
    must be bit-identical to the per-doc kernel."""
    import numpy as np

    from genome_deduplication_spark.functions.shingles import (
        poly_window_hashes_batched,
        poly_window_hashes_np,
    )

    rng = random.Random(41)
    group = 4096  # small group so a handful of docs spans many groups
    sizes = [0, 3, 8, 700, group + 517, 1200, 0, 9, 2500, 3 * group + 11, 64]
    docs = [bytes(rng.randrange(256) for _ in range(n)) for n in sizes]
    widths = (9, 48)
    got = poly_window_hashes_batched(docs, widths, group_bytes=group)
    for k in widths:
        assert len(got[k]) == len(docs)
        for d, enc in enumerate(docs):
            want = poly_window_hashes_np(np.frombuffer(enc, dtype=np.uint8), k)
            assert np.array_equal(got[k][d], want), (k, d)


def test_batched_shingle_kernel_duplicate_widths():
    """ADVICE r4 (medium): widths=(k, k) is legal (anchor_width can equal
    shingle_k) — the batch kernel must not double-append rows."""
    import numpy as np

    from genome_deduplication_spark.functions.shingles import (
        poly_window_hashes_batched,
        poly_window_hashes_np,
    )

    rng = random.Random(43)
    docs = [bytes(rng.randrange(256) for _ in range(n))
            for n in (100, 0, 57, 9, 300)]
    got = poly_window_hashes_batched(docs, (9, 9), group_bytes=256)
    assert len(got[9]) == len(docs)  # was 2x before the dedupe fix
    for d, enc in enumerate(docs):
        want = poly_window_hashes_np(np.frombuffer(enc, dtype=np.uint8), 9)
        assert np.array_equal(got[9][d], want), d


def test_lsh_threshold_curve_sane():
    cfg = DedupConfig()
    # at j = threshold the curve should be steep and high
    assert lsh_threshold_curve(cfg, 0.8) > 0.999
    assert lsh_threshold_curve(cfg, 0.3) < 0.25


def test_normalize_twins(spark):
    from genome_deduplication_spark.functions.text import normalize_text

    texts = ["  A  B\t\nC  ", "Hello   WORLD", "", "x"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select(normalize_text(F.col("text")).alias("n")).collect()
    for t, r in zip(texts, rows):
        assert r["n"] == normalize_py(t)
