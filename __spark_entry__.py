"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's operator inventory (SURVEY.md §2) over the
driver's testdata tables; ``oracle_sql()`` gives the DuckDB-equivalent SQL.
Cross-engine value parity rests on three shared primitives computed
identically by Spark, DuckDB and pure Python: the md5-derived 60-bit hash
(functions/hashing.py) for identity keys, the polynomial byte-shingle
family (functions/shingles.poly_window_hashes_np; DuckDB recomputes it
from hex(encode(s)) with embedded power-of-base literals), and integer
MinHash arithmetic mod 2**31-1.

Operator-ID cross-references (SURVEY.md §2): each query's docstring names
the reference operator(s) it exercises.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from genome_deduplication_spark.config import MERSENNE31, DedupConfig
from genome_deduplication_spark.functions.hashing import (
    hash60,
    hash60_duckdb_sql,
)
from genome_deduplication_spark.functions.shingles import (
    _POLY_BASE,
    make_char_shingles31_pandas,
)
from genome_deduplication_spark.functions.text import normalize_text

CFG = DedupConfig()
K = CFG.shingle_k  # 9

# O(n) Arrow rolling-hash shingle kernel (polynomial family mod 2**31-1
# over UTF-8 bytes) — the same family the pipeline kernel uses; the DuckDB
# twin (_SHINGLES_CTE) recomputes it byte-for-byte via hex(encode(s)).
# Replaces the O(n*k) JVM md5-per-window path that dominated the shingle
# queries' bench time; hash60/md5 remains the portable path for identity
# hashes (content_hash, sampling keys).
char_shingles_poly = make_char_shingles31_pandas(K)

# --- portable SQL fragments (DuckDB side) -----------------------------------
_NORM_DUCK = "lower(trim(regexp_replace({c}, '\\s+', ' ', 'g')))"


def _h60_duck(expr: str) -> str:
    return hash60_duckdb_sql(expr)


def _h31_duck(expr: str) -> str:
    return f"({_h60_duck(expr)} % {MERSENNE31})"


def _read(
    spark: SparkSession, sf_dir: str, name: str, key: str | None = None
) -> DataFrame:
    """Read one driver testdata table; spread the scan only on ``key``.

    The rule: spread only where a heavy per-row kernel sits above an
    unsplittable scan. The testdata tables are single-file,
    single-row-group parquet, so the scan is one task and every kernel
    above it runs on one core unless the scan is hash-repartitioned;
    under a cheap plan that repartition is pure cost. A call site passes
    its table's key (deterministic, and same-key aggregates and windows
    above reuse the exchange) when its query is more than 10% slower
    without the spread, timed as bench.py times it at sf0.1, local[4].
    BENCH.md ("Scan spread per query") has the per-query table and how
    it was measured.

    The spread fires only while the file is too small to give one split
    per core (at real scale the scan already yields enough splits), with
    one partition per ~64 KB of parquet, capped at the core count.
    """
    import os

    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    if key is None:
        return df
    try:
        n_bytes = os.path.getsize(path)
    except OSError:
        return df
    par = spark.sparkContext.defaultParallelism
    try:
        max_split = int(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
            .rstrip("b")
        )
    except ValueError:  # suffixed forms like "128m": keep the default
        max_split = 128 * 1024 * 1024
    if n_bytes < par * max_split:
        n = max(2, min(par, n_bytes // (64 * 1024)))
        df = df.repartition(n, F.col(key))
    return df


def _h31(col):
    return hash60(col) % F.lit(MERSENNE31)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_exact_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate clustering [D4, S3]: content-hash groupBy + min-id
    canonical election (first-occurrence-wins, reference code/dedup2.py:420)."""
    docs = _read(spark, sf_dir, "documents", key="doc_id")
    keyed = docs.select(
        "doc_id", hash60(normalize_text(F.col("text"))).alias("content_hash")
    )
    canon = keyed.groupBy("content_hash").agg(
        F.min("doc_id").alias("cluster_id"), F.count(F.lit(1)).alias("cluster_size")
    )
    return keyed.join(canon, "content_hash").select(
        "doc_id", "content_hash", "cluster_id", "cluster_size"
    )


DF_CAP = 100  # ubiquitous shingles (df > cap) carry no similarity signal


def q_char_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (char-9 shingle) Jaccard near-dup pairs [D1, A3 pattern]:
    inverted-index self-join, exact set Jaccard >= 0.2 over *rare* shingles
    (document frequency <= DF_CAP). The DF cap is the standard
    hot-posting-list prune for all-pairs similarity: the self-join work is
    sum(df^2) over shingles, and one boilerplate shingle present in every
    doc makes that quadratic in corpus size."""
    docs = _read(spark, sf_dir, "documents", key="doc_id")
    sh_all = docs.select(
        "doc_id",
        F.explode(char_shingles_poly(normalize_text(F.col("text")))).alias("h"),
        # eager: reused by the DF filter and both join sides; a lazy mark is
        # not persisted under AQE (PLANS.md round 4) and recomputed the
        # Arrow shingle kernel three times. A round-6 rewrite to the
        # grouped-member-array shape (count-guarded collect_list, the
        # lsh.py pattern) measured 14.5s vs 8.5s for this plan in the
        # same host window — the mostly-singleton posting lists make
        # per-key array buffers more expensive than the broadcast-joined
        # inverted-index self-join at every tested scale — so the
        # self-join shape is kept deliberately (OPTIMIZATION_r06.md).
    ).localCheckpoint(eager=True)
    rare = (
        sh_all.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= DF_CAP)
        .select("h")
    )
    sh = sh_all.join(rare, "h")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "h")
    b = sh.select(F.col("doc_id").alias("doc_b"), "h")
    inter = (
        a.join(b, "h")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("c") / (F.col("n_a") + F.col("n_b") - F.col("c")), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= 0.2)
    )


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature (first 16 perms) via the shuffle-with-map-side-
    combine formulation [D1, P2, P4]: explode shingles, 16 min-aggregates of
    (a*h+b) mod p — arithmetic identical to the pandas-UDF kernel."""
    docs = _read(spark, sf_dir, "documents", key="doc_id")
    a, b = CFG.minhash_coefficients()
    sh = docs.select(
        "doc_id",
        F.explode(char_shingles_poly(normalize_text(F.col("text")))).alias("h"),
    )
    aggs = [
        F.min((F.lit(a[j]) * F.col("h") + F.lit(b[j])) % F.lit(MERSENNE31)).alias(
            f"mh_{j}"
        )
        for j in range(16)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def q_masked_word_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc repeated-token masking + gaps-and-islands condensation
    [D2, A1]: positions of tokens seen earlier in the doc, merged into
    maximal [start, end) spans widened by 1 (reference condense_masked_regions
    semantics, code/dedup2.py:235-246)."""
    docs = _read(spark, sf_dir, "documents", key="doc_id")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(normalize_text(F.col("text")), " ")).alias("pos0", "tok"),
    ).select("doc_id", (F.col("pos0") + 1).alias("ord"), "tok")
    # first occurrence via ONE window over (doc_id, tok) instead of the
    # old groupBy + self-join (guide §2.4: two same-keyed exchanges + a
    # join collapse into one exchange + sort; values identical — min(ord)
    # over the same key)
    wf = W.partitionBy("doc_id", "tok")
    masked = (
        toks.withColumn("f", F.min("ord").over(wf))
        .where(F.col("ord") > F.col("f"))
        .select("doc_id", "ord")
    )
    w = W.partitionBy("doc_id").orderBy("ord")
    flagged = masked.withColumn(
        "flag",
        F.when(F.col("ord") - F.lag("ord").over(w) == 1, F.lit(0)).otherwise(F.lit(1)),
    )
    isl = flagged.withColumn(
        "island", F.sum("flag").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return isl.groupBy("doc_id", "island").agg(
        F.min("ord").alias("span_start"), (F.max("ord") + 1).alias("span_end")
    ).drop("island")


def q_shingle_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-frequency histogram [A3, S7]: the KMC k-mer count histogram
    analogue (reference kmer_counter_dedup_files.sh)."""
    docs = _read(spark, sf_dir, "documents", key="doc_id")
    sh = docs.select(
        F.explode(char_shingles_poly(normalize_text(F.col("text")))).alias("h")
    )
    counts = sh.groupBy("h").agg(F.count(F.lit(1)).alias("occ"))
    return counts.groupBy("occ").agg(F.count(F.lit(1)).alias("n_shingles"))


def q_summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus stats [A4, A5]."""
    docs = _read(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        # Exact integer fixed-point mean, algebraically (sum*10000) DIV count
        # but computed as (sum DIV count)*10000 + ((sum % count)*10000) DIV
        # count so no intermediate exceeds sum*10000 — Spark's ANSI BIGINT
        # would overflow past ~9.2e14 total chars per group, while DuckDB
        # silently widens to HUGEINT (a scale-dependent divergence). A
        # rounded double can straddle a ULP boundary depending on summation
        # order, and DECIMAL hashes engine-specifically; integer math is
        # exact and representation-stable on both engines.
        F.expr(
            "CAST((sum(n_chars) DIV count(1)) * 10000"
            " + ((sum(n_chars) % count(1)) * 10000) DIV count(1) AS BIGINT)"
        ).alias("avg_chars_x10000"),
        F.countDistinct("source").alias("n_sources"),
    )


def q_event_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap statistics per user [A6]: lag window + aggregation
    (reference calculate_distance_between_dedups.sh semantics)."""
    ev = _read(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.withColumn(
        "gap", F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    )
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg("gap"), 4).alias("avg_gap_s"),
        F.max("gap").alias("max_gap_s"),
    )


def q_train_dev_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/dev split [R2]: dev iff hash60(doc_id) % 100 < 10 —
    key-derived, partitioning-invariant (reference partition_samples.sh)."""
    docs = _read(spark, sf_dir, "documents")
    bucket = F.pmod(hash60(F.col("doc_id").cast("string")), F.lit(100))
    return docs.select(
        "doc_id",
        F.when(bucket < 10, F.lit("dev")).otherwise(F.lit("train")).alias("split"),
    )


def q_sample_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded sample-without-replacement of 50 docs [R1, R3]: order by
    key-derived hash, take n (reference shuffle.py + get_control_lines)."""
    docs = _read(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", hash60(F.col("doc_id").cast("string")).alias("_o"))
        .orderBy("_o")
        .limit(50)
        .select("doc_id")
    )


def q_word_set_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference [R6]: distinct tokens of 'en' docs absent from 'de'
    docs (reference check_validity.py:74-77 symmetric-diff semantics)."""
    docs = _read(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(F.split(normalize_text(F.col("text")), " ")).alias("tok")
    )
    en = toks.where("lang = 'en'").select("tok").distinct()
    de = toks.where("lang = 'de'").select("tok").distinct()
    return en.join(de, "tok", "left_anti")


def q_merged_ship_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval merge per supplier [R7, R8 pattern]: lineitem ship windows
    [shipdate, shipdate+7d) merged when overlapping (reference
    check_beds.sh:51-74 coverage-merge semantics)."""
    li = _read(spark, sf_dir, "lineitem", key="l_suppkey")
    iv = li.select(
        "l_suppkey",
        F.unix_timestamp("l_shipdate").alias("s"),
        (F.unix_timestamp("l_shipdate") + F.lit(7 * 86400)).alias("e"),
    ).distinct()  # tied duplicate intervals make island ids order-dependent
    w = W.partitionBy("l_suppkey").orderBy("s", "e")
    run = iv.withColumn(
        "maxe", F.max("e").over(w.rowsBetween(W.unboundedPreceding, -1))
    ).withColumn(
        "flag",
        F.when(F.col("s") <= F.col("maxe"), F.lit(0)).otherwise(F.lit(1)),
    )
    isl = run.withColumn(
        "island", F.sum("flag").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return isl.groupBy("l_suppkey", "island").agg(
        F.min("s").alias("span_start"), F.max("e").alias("span_end")
    ).drop("island")


def q_token_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality features [text-analysis]: whitespace tokens,
    BPE-ish tokens, punct ratio, stopword ratio."""
    docs = _read(spark, sf_dir, "documents")
    norm = normalize_text(F.col("text"))
    toks = F.split(norm, " ")
    stop = F.array(*[F.lit(wd) for wd in ("the", "a", "of", "to", "and")])
    n_tok = F.size(toks)
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.size(F.regexp_extract_all(norm, F.lit("[a-z0-9]+|[^a-z0-9 ]"), 0)).alias(
            "n_bpe_tokens"
        ),
        F.round(
            (F.length(norm) - F.length(F.regexp_replace(norm, "[^a-z0-9 ]", "")))
            / F.greatest(F.length(norm), F.lit(1)),
            6,
        ).alias("punct_ratio"),
        F.round(
            F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
            / F.greatest(n_tok, F.lit(1)),
            6,
        ).alias("stop_ratio"),
    )


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style document fingerprint [rolling-hash fingerprinting]:
    min anchor shingle (hash % 32 == 0) per doc — the candidate index of the
    exact-substring pass (operators/suffix_array.pairs_from_anchor_rows)."""
    docs = _read(spark, sf_dir, "documents", key="doc_id")
    sh = docs.select(
        "doc_id",
        F.explode(char_shingles_poly(normalize_text(F.col("text")))).alias("h"),
    )
    return (
        sh.where(F.col("h") % 32 == 0)
        .groupBy("doc_id")
        .agg(F.min("h").alias("fingerprint"), F.count(F.lit(1)).alias("n_anchors"))
    )


def q_embedding_exact_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate vectors [dedup over embeddings]: group by the raw
    vector, min-id election."""
    emb = _read(spark, sf_dir, "embeddings", key="vec_id")
    canon = emb.groupBy("embedding").agg(
        F.min("vec_id").alias("cluster_id"), F.count(F.lit(1)).alias("cluster_size")
    )
    return emb.join(canon, "embedding").select("vec_id", "cluster_id", "cluster_size")


def q_embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 neighbors [similarity search] for query
    vectors vec_id < 100; JVM-side F.aggregate/zip_with dot products."""
    emb = _read(spark, sf_dir, "embeddings", key="vec_id")
    vec = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    norm = vec.select(
        "vec_id",
        "v",
        F.sqrt(
            F.aggregate(
                F.zip_with("v", "v", lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ).alias("nrm"),
    )
    q = norm.where("vec_id < 100").select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    c = norm.select(
        F.col("vec_id").alias("n_id"), F.col("v").alias("cv"), F.col("nrm").alias("cn")
    )
    dot = F.aggregate(
        F.zip_with("qv", "cv", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    scored = (
        q.join(c, F.col("q_id") != F.col("n_id"))
        .select(
            "q_id",
            "n_id",
            F.round(dot / (F.col("qn") * F.col("cn")), 5).alias("sim"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.desc("sim"), "n_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where("rank <= 3")
        .select("q_id", "n_id", "rank", "sim")
    )


def q_span_text_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence retrieval by region [S6]: project span coordinates back to
    text (the bedtools-getfasta analogue, reference
    aggregate_and_track_samples.sh:31-65) — here: the token run of each
    doc's first masked span."""
    spans = q_masked_word_spans(spark, sf_dir)
    first = spans.groupBy("doc_id").agg(
        F.min(F.struct("span_start", "span_end")).alias("s")
    ).select("doc_id", F.col("s.span_start").alias("a"), F.col("s.span_end").alias("b"))
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", F.split(normalize_text(F.col("text")), " ").alias("toks")
    )
    return first.join(docs, "doc_id").select(
        "doc_id",
        F.col("a").alias("span_start"),
        F.concat_ws(
            " ", F.slice("toks", F.col("a"), F.col("b") - F.col("a"))
        ).alias("span_text"),
    )


OVERLAP_BUCKET_S = 3 * 86400  # time-bucket width = interval width (3 days)


def q_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval range join [R7]: count overlapping ship windows per supplier
    (reference bedtools-intersect analogue, check_beds.sh:19-44), bounded to
    1996-H1 shipments.

    Skew-safe plan: each interval explodes to the fixed 3-day time buckets it
    covers (<= 2 per interval since width == bucket), the self-join key is
    (l_suppkey, bucket) — so a hot supplier's intervals spread over its time
    buckets instead of one quadratic task — and the exact range predicate is
    a residual filter. Each overlapping pair is attributed to exactly ONE
    bucket (the one containing the overlap start, max(sa, sb)), so no
    distinct/dedup shuffle is needed. The reference's own check partitions
    per-file before intersecting (check_beds.sh:19-44); this is the Spark
    analogue of partitioning by more than the supplier key."""
    li = _read(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-07-01")
    )
    w = F.lit(OVERLAP_BUCKET_S)
    iv = li.select(
        "l_suppkey",
        F.col("l_orderkey").alias("k"),
        F.col("l_linenumber").alias("ln"),
        F.unix_timestamp("l_shipdate").alias("s"),
        (F.unix_timestamp("l_shipdate") + F.lit(3 * 86400)).alias("e"),
    ).withColumn(
        "bucket",
        F.explode(F.sequence(F.floor(F.col("s") / w), F.floor((F.col("e") - 1) / w))),
    )
    a = iv.select("l_suppkey", "bucket", F.col("k").alias("ka"),
                  F.col("ln").alias("la"), F.col("s").alias("sa"),
                  F.col("e").alias("ea"))
    b = iv.select("l_suppkey", "bucket", F.col("k").alias("kb"),
                  F.col("ln").alias("lb"), F.col("s").alias("sb"),
                  F.col("e").alias("eb"))
    pairs = a.join(b, ["l_suppkey", "bucket"]).where(
        (F.col("sa") < F.col("eb"))
        & (F.col("sb") < F.col("ea"))
        & (
            (F.col("ka") < F.col("kb"))
            | ((F.col("ka") == F.col("kb")) & (F.col("la") < F.col("lb")))
        )
        # exactly-once attribution: count the pair only in the bucket where
        # the overlap starts
        & (F.floor(F.greatest("sa", "sb") / w) == F.col("bucket"))
    )
    return pairs.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_overlapping_pairs")
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic [text analysis]: marker-word votes, 'und' when
    none hit; argmax tie-break = lexicographically greatest language code
    (Spark's struct array_max ordering, mirrored by the oracle's CASE
    chain). Heuristic lives in functions/text.py."""
    from genome_deduplication_spark.functions.text import lang_id

    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id(F.col("text")).alias("lang_guess"))


ANN_N_PLANTED = 250   # vectors vec_id < this get a perturbed twin
ANN_ID_OFFSET = 1000  # planted twin id = vec_id + offset
ANN_NOISE_AMP = 0.02  # per-component noise amplitude (unit-norm corpus)


def _ann_noise_spark(vec_id, j1):
    """Deterministic perturbation, identical in Spark and DuckDB: a
    keyed-uniform in [-amp/2, amp/2) from the shared md5 hash60."""
    key = F.concat(
        F.lit("n"), vec_id.cast("string"), F.lit("_"), j1.cast("string")
    )
    u = (hash60(key) % F.lit(10007)) / F.lit(10007.0)
    return (u - F.lit(0.5)) * F.lit(ANN_NOISE_AMP)


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate near-dup retrieval [similarity search, scale path]:
    hyperplane-LSH bucketed cosine over the corpus plus planted perturbed
    twins (cos ~0.999 vs background <=0.5), emitting pairs with sim >= 0.9.
    The planted twins are derived deterministically from the shared md5
    hash60 so the DuckDB oracle reconstructs the identical corpus and checks
    the pair set brute-force; at this similarity gap the LSH pair set equals
    the exact one (miss prob per planted pair ~1e-12 at 8x2-bit bands, and
    the run is seed-deterministic). Integer-only output — hash-exact."""
    from genome_deduplication_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    emb = _read(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    planted = base.where(F.col("vec_id") < ANN_N_PLANTED).select(
        (F.col("vec_id") + ANN_ID_OFFSET).alias("vec_id"),
        F.transform(
            "v", lambda x, i: x + _ann_noise_spark(F.col("vec_id"), i + 1)
        ).alias("v"),
    )
    corpus = base.unionByName(planted)
    return embedding_near_dup_pairs(
        corpus, sim_threshold=0.9, id_col="vec_id", vec_col="v",
        dim=64, n_bits=16, bands=8, seed=CFG.seed,
    )


SEM_N_ANCHORS = 10    # vectors vec_id < this anchor a planted blob
SEM_N_MEMBERS = 5     # blob members per anchor
SEM_ID_OFFSET = 9_000_000  # member id = offset + anchor*members + j
SEM_NOISE_AMP = 0.004  # per-component noise (blob cos >= 0.9999)
SEM_EPS = 0.9


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup [dedup over embeddings, clustering
    path — Abbas et al. 2023]: spherical k-means cells as the candidate
    generator, exact cosine >= eps pruning within cells, min-id survivor
    election (operators/semantic.py). The corpus plants 10 tight blobs
    (anchor + 5 keyed-noise members, cos ~0.9999) over the random-unit
    background (pairwise cos <= ~0.52), so the eps-duplicate groups are
    exactly the blob cliques regardless of k-means internals — the DuckDB
    oracle therefore checks the pruning brute-force over the same
    reconstructed corpus, the ann_lsh_topk verification pattern. Integer +
    boolean output — hash-exact. Extends the reference's exact-identity
    dedup (code/dedup2.py:520-554) to the embedding modality."""
    from genome_deduplication_spark.operators.semantic import semantic_dedup

    emb = _read(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    mid = (
        F.lit(SEM_ID_OFFSET)
        + F.col("vec_id") * F.lit(SEM_N_MEMBERS)
        + F.col("m")
    )
    members = (
        base.where(F.col("vec_id") < SEM_N_ANCHORS)
        .select(
            "vec_id",
            "v",
            F.explode(
                F.sequence(F.lit(0), F.lit(SEM_N_MEMBERS - 1))
            ).alias("m"),
        )
        .select(
            mid.alias("vec_id"),
            F.transform(
                "v", lambda x, i: x + _sem_noise_spark(mid, i + 1)
            ).alias("v"),
        )
    )
    corpus = base.unionByName(members)
    # max_cell_size is pinned far above any driver scale factor so the
    # planted truth stays cap-independent: with the default 4096 cap, a
    # corpus over ~40k vectors could rank-truncate the planted members
    # (ids 9M+, last in rank order) out of the pair comparisons while the
    # DuckDB oracle still expects kept=false (ADVICE r5 #2).
    return semantic_dedup(
        corpus, k=SEM_N_ANCHORS, eps=SEM_EPS, n_iter=3,
        id_col="vec_id", vec_col="v", max_cell_size=1_000_000,
    ).select("vec_id", "rep_id", "kept")


def _sem_noise_spark(member_id, j1):
    """Deterministic blob-member perturbation, identical in Spark and
    DuckDB: keyed-uniform in [-amp/2, amp/2) from the shared md5 hash60
    ('s' key prefix keeps it independent of the ANN row's noise)."""
    key = F.concat(
        F.lit("s"), member_id.cast("string"), F.lit("_"), j1.cast("string")
    )
    u = (hash60(key) % F.lit(10007)) / F.lit(10007.0)
    return (u - F.lit(0.5)) * F.lit(SEM_NOISE_AMP)


# --- planted substring-dup construction (oracle row for the suffix-array
# pass, the ann_lsh_topk pattern) ------------------------------------------
# For each base doc (doc_id < _SUB_N, stripped text >= _SUB_MINSRC chars)
# build twins A=910000+id / B=920000+id sharing ONLY a ~707-char block:
# 600 chars of recycled base text with an ASCII '[docid|seg]' marker every
# 40 chars, framed by per-twin md5 fillers. The markers bound any CROSS-pair
# shared run at ~42 chars — below both the 48-char anchor width and the
# 120-byte min_common_substring — so, deterministically on BOTH engines,
# the truth graph is exactly the planted A-B matching. Whole-doc Jaccard of
# a planted pair is ~0.53 (< 0.8 threshold, 128-perm estimate is a 6-sigma
# miss), so the pair is reachable ONLY through the suffix-array substring
# pass (reference masked regions, code/dedup2.py:18,235-246).
_SUB_N = 40          # base docs considered
_SUB_BLOCK = 600     # chars of shared source block
_SUB_SEG = 40        # marker interval (bounds cross-pair runs)
_SUB_MINSRC = 150    # min stripped source length (150*5 repeats >= 600)
_SUB_SALTS_A = ([f"a{i}" for i in range(1, 6)], [f"a{i}" for i in range(6, 11)])
_SUB_SALTS_B = ([f"b{i}" for i in range(1, 6)], [f"b{i}" for i in range(6, 11)])


def _sub_strip(col):
    """ASCII-only normalized source: byte==char semantics end-to-end, so
    the Spark (byte-based) LCS and the DuckDB (char-based) gram oracle
    agree exactly."""
    s = normalize_text(col)
    s = F.regexp_replace(s, "[^a-z0-9 ]", "")
    return F.trim(F.regexp_replace(s, " +", " "))


def _sub_planted_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents").where(F.col("doc_id") < _SUB_N)
    elig = (
        docs.select("doc_id", _sub_strip(F.col("text")).alias("s"))
        .where(F.length("s") >= _SUB_MINSRC)
        .select(
            "doc_id",
            F.col("doc_id").cast("string").alias("d"),
            F.substring(F.repeat(F.col("s"), 5), 1, _SUB_BLOCK).alias("braw"),
        )
    )
    parts = []
    for c in range(_SUB_BLOCK // _SUB_SEG):
        parts.append(F.substring(F.col("braw"), c * _SUB_SEG + 1, _SUB_SEG))
        parts += [F.lit("["), F.col("d"), F.lit(f"|{c}]")]
    bm = elig.select("doc_id", "d", F.concat(*parts).alias("bm"))

    def filler(salts):
        return F.concat(
            *[F.md5(F.concat(F.col("d"), F.lit(s))) for s in salts]
        )

    def twin(offset, salts):
        pre, post = salts
        return bm.select(
            (F.col("doc_id") + offset).cast("string").alias("url"),
            F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
            F.concat(
                filler(pre), F.lit(" "), F.col("bm"), F.lit(" "), filler(post)
            ).alias("text"),
            F.lit("en").alias("lang"),
        )

    return twin(910000, _SUB_SALTS_A).unionByName(twin(920000, _SUB_SALTS_B))


def q_substring_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-array exact-substring pass, end to end through the pipeline
    [stage 5; D2 kernel at pair scope]: planted twins that share one long
    verbatim block but sit far below the whole-doc Jaccard threshold are
    linked ONLY by the substring pass (enable_substring_pass=True). Output:
    every multi-member cluster membership. Oracle: brute-force shared
    120-gram join over the identically reconstructed corpus in DuckDB."""
    from genome_deduplication_spark.plans.pipeline import dedup_pipeline

    # the planted corpus is <= 2*_SUB_N = 80 rows by construction — one
    # partition keeps every pipeline stage at one task instead of paying
    # 9-32 tasks of scheduling/sync per materialization (partitioning
    # derived from known data size, guide §1.2/§2)
    pages = _sub_planted_pages(spark, sf_dir).coalesce(1)
    tables = dedup_pipeline(pages, CFG, run_dir=None, enable_substring_pass=True)
    return (
        tables["clusters"]
        .where(F.col("cluster_size") > 1)
        .select(
            F.col("url").cast("bigint").alias("doc_id"),
            F.col("cluster_id").cast("bigint").alias("cluster_id"),
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
        )
    )


def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship pipeline [D1-D8]: MinHash/LSH/SimHash/CC over
    documents-as-pages. Oracle: planted-truth recursive-CTE connected
    components over exact-Jaccard/exact-text edges (valid because the
    corpus's dup pairs sit at J>=0.92 and background at J<=0.35 vs the
    0.8 threshold — measured); the substring pass has its own dedicated
    oracle row (substring_dup_clusters) and is off here. Full
    differential testing lives in tests/test_pipeline.py."""
    from genome_deduplication_spark.plans.pipeline import dedup_pipeline

    docs = _read(spark, sf_dir, "documents", key="doc_id")
    pages = docs.select(
        F.col("doc_id").cast("string").alias("url"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        F.col("text"),
        F.col("lang"),
    )
    tables = dedup_pipeline(pages, CFG, run_dir=None, enable_substring_pass=False)
    return tables["clusters"].select(
        F.col("url").cast("bigint").alias("doc_id"),
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        "cluster_size",
    )


def _media_fixture_rows() -> list:
    """Deterministic media payloads covering every decode tier: five real
    image codecs, WAV audio, MJPEG-AVI video, plus one fallback payload
    per kind (TIFF image, MP3-ish audio, MP4-ish video). Byte-for-byte
    reproducible (seeded numpy + deterministic encoders), so aggregate
    counts/sizes are frozen constants the DuckDB oracle can state
    literally (SQL cannot decode JPEG; the frozen table IS the oracle)."""
    import numpy as np

    from genome_deduplication_spark.operators.gif import encode_gif
    from genome_deduplication_spark.operators.jpeg import encode_jpeg
    from genome_deduplication_spark.operators.video import encode_avi_mjpeg

    def ppm(px):
        h, w, _ = px.shape
        return f"P6\n{w} {h}\n255\n".encode() + px.tobytes()

    def bmp(px):
        import struct as st

        h, w, _ = px.shape
        stride = ((w * 3 + 3) // 4) * 4
        rows = b"".join(
            px[y, :, ::-1].tobytes() + b"\x00" * (stride - w * 3)
            for y in range(h - 1, -1, -1)
        )
        off = 54
        return (
            b"BM" + st.pack("<IHHI", off + len(rows), 0, 0, off)
            + st.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows), 0, 0, 0, 0)
            + rows
        )

    def png(px):
        import struct as st
        import zlib as zl

        h, w, _ = px.shape
        raw = b"".join(b"\x00" + px[y].tobytes() for y in range(h))

        def chunk(t, d):
            return st.pack(">I", len(d)) + t + d + st.pack(">I", zl.crc32(t + d))

        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", st.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zl.compress(raw))
            + chunk(b"IEND", b"")
        )

    def wav(sig):
        import struct as st

        data = (np.clip(sig, -1, 1) * 32767).astype("<i2").tobytes()
        fmtc = st.pack("<HHIIHH", 1, 1, 16000, 32000, 2, 16)
        ch = (b"fmt " + st.pack("<I", len(fmtc)) + fmtc
              + b"data" + st.pack("<I", len(data)) + data
              + (b"\x00" if len(data) & 1 else b""))
        return b"RIFF" + st.pack("<I", 4 + len(ch)) + b"WAVE" + ch

    rng = np.random.default_rng(20260817)
    yy, xx = np.mgrid[0:24, 0:32]
    img = np.dstack(
        [(xx * 8) % 256, (yy * 10) % 256, ((xx + yy) * 4) % 256]
    ).astype(np.uint8)
    pal = np.unique(rng.integers(0, 256, (12, 3), dtype=np.uint8), axis=0)
    gif_img = pal[rng.integers(0, len(pal), (20, 30))]
    t = np.arange(4000) / 16000.0
    sig = np.clip(0.5 * np.sin(2 * np.pi * 440 * t), -0.99, 0.99)
    frames = [
        encode_jpeg(np.roll(img, 4 * i, axis=1), 92) for i in range(4)
    ]
    meta = (None, None, None, None, None)
    return [
        ("img-ppm", "image", ppm(img), meta),
        ("img-bmp", "image", bmp(img), meta),
        ("img-png", "image", png(img), meta),
        ("img-jpg", "image", encode_jpeg(img, 92), meta),
        ("img-gif", "image", encode_gif(gif_img), meta),
        ("img-tif", "image", b"II*\x00" + bytes(rng.integers(0, 256, 64, dtype=np.uint8)), meta),
        ("aud-wav", "audio", wav(sig), meta),
        ("aud-mp3", "audio", b"\xff\xfb" + bytes(rng.integers(0, 256, 96, dtype=np.uint8)), meta),
        ("vid-avi", "video", encode_avi_mjpeg(frames, 32, 24, fps=8), meta),
        ("vid-mp4", "video", b"\x00\x00\x00\x20ftypmp42" + bytes(rng.integers(0, 256, 128, dtype=np.uint8)), meta),
    ]


def q_media_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode tier end-to-end (operators/multimodal.py +
    jpeg/gif/video codecs): a deterministic 10-payload media table spanning
    all three modalities runs through decode_and_featurize, aggregated to
    per-(kind, decoded) counts and byte totals. The media table is
    synthesized (the driver's testdata has no binary-media table) and
    byte-reproducible, so the oracle is the frozen literal aggregate."""
    from genome_deduplication_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_and_featurize,
    )

    media = spark.createDataFrame(_media_fixture_rows(), MEDIA_SCHEMA)
    feats = decode_and_featurize(media)
    return (
        feats.groupBy("kind", "decoded")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum("n_bytes").alias("total_bytes"),
        )
        .orderBy("kind", "decoded")
    )


def q_boilerplate_cleaned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate phrase removal [LLM-pipeline cleaning
    tier; reference analogue: masking of previously-seen k-mer regions,
    code/dedup2.py:206-246, applied corpus-wide]: word 8-grams shared by
    >= 2 distinct documents are boilerplate; covered tokens are removed
    from the normalized text (operators/boilerplate.py)."""
    from genome_deduplication_spark.operators.boilerplate import (
        remove_boilerplate_phrases,
    )

    docs = _read(spark, sf_dir, "documents", key="doc_id")
    return remove_boilerplate_phrases(docs, n=8, min_df=2)


def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination [LLM-pipeline hygiene pass; GPT-3 13-gram
    convention; reference analogue: k-mer membership in the seen set,
    code/dedup2.py:418-443]: docs sharing any word 13-gram with the
    benchmark subset (doc_id % 50 == 0) are flagged
    (operators/decontaminate.py)."""
    from genome_deduplication_spark.operators.decontaminate import (
        flag_contaminated,
    )

    docs = _read(spark, sf_dir, "documents")
    benchmark = docs.where(F.col("doc_id") % 50 == 0)
    return flag_contaminated(docs, benchmark, n=13)


def q_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter [quality tier; reference analogue:
    internal-repeat discrimination D2, code/dedup2.py:273-296 — there a
    doc whose duplicate k-mers are self-repeats is retained, here a doc
    whose text is dominated by one repeated phrase is flagged]: chars
    covered by the most frequent word 2/3/4-gram, computed row-local with
    zero shuffle (functions/text.top_gram_run_chars), with the Gopher
    A1 thresholds (0.20/0.18/0.16) as integer cross-multiplications."""
    from genome_deduplication_spark.functions.text import top_gram_run_chars

    docs = _read(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        normalize_text(F.coalesce(F.col("text"), F.lit(""))).alias("_s"),
    ).select("doc_id", "_s", F.split(F.col("_s"), " ").alias("_toks"))
    n_chars = F.length("_s")
    t2, t3, t4 = (top_gram_run_chars("_toks", k) for k in (2, 3, 4))
    return base.select(
        "doc_id",
        F.size("_toks").alias("n_words"),
        F.size(F.array_distinct("_toks")).alias("n_distinct_words"),
        n_chars.alias("n_chars_norm"),
        t2.alias("top2_chars"),
        t3.alias("top3_chars"),
        t4.alias("top4_chars"),
        (
            (t2 * 100 > n_chars * 20)
            | (t3 * 100 > n_chars * 18)
            | (t4 * 100 > n_chars * 16)
        ).alias("repetition_flagged"),
    )


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction [pre-release hygiene tier; reference analogue:
    in-place masking of flagged subsequences, code/dedup2.py:497-520]:
    deterministic synthetic PII (email/IPv4/phone keyed on doc_id — the
    corpus itself is PII-free word salad) is planted, then counted and
    placeholder-redacted (operators/pii.py). The oracle plants and
    redacts with the identical RE2-safe patterns."""
    from genome_deduplication_spark.operators.pii import redact_pii

    docs = _read(spark, sf_dir, "documents")
    i = F.col("doc_id")
    t = F.coalesce(F.col("text"), F.lit(""))
    planted = F.concat(
        t,
        F.when(
            i % 7 == 0,
            F.concat(
                F.lit(" contact agent"),
                i.cast("string"),
                F.lit("@mail.example.com for details"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            i % 11 == 0,
            F.concat(
                F.lit(" served from 10."),
                (i % 200).cast("string"),
                F.lit(".0."),
                (i % 250).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            i % 13 == 0,
            F.concat(
                F.lit(" call +1 555 0"),
                F.lpad((i % 100).cast("string"), 3, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    return redact_pii(docs.select("doc_id", planted.alias("text")))


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified exact-count sampling [R2/R3 grouped generalization;
    reference: per-partition head after seeded shuffle,
    code/partition_samples.sh:16-35]: exactly min(3, |stratum|) docs per
    (lang, source) stratum, selected by normalized hash60 rank
    (operators/split.stratified_sample_exact — threshold-pruned, no
    corpus-wide window)."""
    from genome_deduplication_spark.operators.split import stratified_sample_exact

    docs = _read(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    order = hash60(F.col("doc_id").cast("string")) / F.lit(float(2**60))
    out = stratified_sample_exact(
        docs, 3, 0, ["lang", "source"], key_col="doc_id", order_col=order
    )
    return out.select("lang", "source", "doc_id", F.col("_rk").alias("rk"))


def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixing [training-data composition tier; reference analogue:
    stochastic retain lifted to a replication count, code/dedup2.py:283]:
    per-source epoch weights (src0 x2.5, src1 x0.25, src2 dropped,
    default x1.0) realized as deterministic copy counts
    (operators/mixing.py); normalized hash60 plays the uniform so the
    DuckDB oracle replicates bit-identically."""
    from genome_deduplication_spark.operators.mixing import mix_corpus

    docs = _read(spark, sf_dir, "documents").select("doc_id", "source")
    order = hash60(F.col("doc_id").cast("string")) / F.lit(float(2**60))
    return mix_corpus(
        docs,
        {"src0": 2.5, "src1": 0.25, "src2": 0.0},
        seed=0,
        order_col=order,
    )


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event sessionization [gaps-and-islands at event level — A1's
    condenser semantics over time instead of positions,
    code/dedup2.py:329-352]: 6-hour inactivity timeout, exact-microsecond
    gap arithmetic (operators/sessions.sessionize)."""
    from genome_deduplication_spark.operators.sessions import sessionize

    ev = _read(spark, sf_dir, "events", key="user_id")
    s = sessionize(ev, gap_seconds=21600)
    return s.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("event_id").alias("first_event_id"),
        F.expr("timestampdiff(MICROSECOND, min(ts), max(ts))").alias("dur_us"),
    )


def q_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join [backward-inclusive temporal attach; Spark has no native
    ASOF operator — composed as union + one running-window pass, one
    shuffle on the key (operators/sessions.asof_join); the DuckDB oracle
    uses its NATIVE ASOF LEFT JOIN, so parity checks our composition
    against a reference implementation]: each purchase attributed to the
    user's most recent at-or-before click."""
    from genome_deduplication_spark.operators.sessions import asof_join

    ev = _read(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase")
    clicks = ev.where(F.col("event_type") == "click")
    out = asof_join(
        purchases, clicks, by="user_id", value_cols=("event_id", "value")
    )
    return out.select(
        F.col("event_id").alias("purchase_event_id"),
        "user_id",
        F.col("asof_event_id").alias("click_event_id"),
        F.col("asof_value").alias("click_value"),
    )


def q_event_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction [JSON path into typed aggregate;
    reference analogue: typed fields parsed out of record lines, S2/P6
    path munging code/dedup2.py:452-466]: pull ``$.k`` from the props
    JSON string JVM-side (get_json_object — no Python, no UDF) and roll
    up per event_type."""
    ev = _read(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group [§2.7 aggregate breadth;
    reference analogue: the gap/length distribution stats, A6]: Spark's
    exact `percentile` vs DuckDB `quantile_cont` — same (n-1)*p linear
    interpolation definition; rounded to 4 places so a last-ulp
    difference in the interpolation arithmetic cannot flip the hash.
    Scale note (VERDICT r5 #7): exact `percentile` is a sort-heavy
    aggregate; at 100 TB use `approx_percentile` — exact is kept here
    because the oracle contract requires interpolation parity with
    DuckDB `quantile_cont`."""
    ev = _read(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.min("value"), 4).alias("vmin"),
        F.round(F.max("value"), 4).alias("vmax"),
    )


def q_incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup, driver-graded [D7/D8 cross-batch state; reference
    checkpoint-then-continue, code/dedup2.py:546-588]: the corpus split
    into two batches by doc_id parity, processed through
    operators/incremental.dedup_increment against a fresh state dir —
    the final clusters must equal the SAME planted-truth oracle as the
    one-shot pipeline row (near_dup_clusters); the truth is a property
    of the corpus, not of the execution strategy. Docs shorter than the
    shingle width are excluded exactly as the pipeline's normalize stage
    excludes them (the oracle's `ok` CTE). The temporary state dir is
    deleted only on a `local[...]` master; on a cluster it is left in
    place, because the result's localCheckpoint may be recomputed from
    it."""
    import tempfile

    from genome_deduplication_spark.operators.incremental import dedup_increment

    docs = _read(spark, sf_dir, "documents", key="doc_id")
    norm = normalize_text(F.col("text"))
    pages = docs.where(norm.isNotNull() & (F.length(norm) >= K)).select(
        F.col("doc_id").cast("string").alias("url"), F.col("text")
    )
    state = tempfile.mkdtemp(prefix="dedup_inc_state_")
    batch_a = pages.where(F.col("url").cast("bigint") % 2 == 0)
    batch_b = pages.where(F.col("url").cast("bigint") % 2 == 1)
    dedup_increment(batch_a, CFG, state)
    result = dedup_increment(batch_b, CFG, state)
    clusters = result["clusters"]
    sizes = clusters.groupBy("cluster_key").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    out = clusters.join(sizes, "cluster_key").select(
        F.col("url").cast("bigint").alias("doc_id"),
        F.col("cluster_key").cast("bigint").alias("cluster_id"),
        "cluster_size",
    )
    # materialize before deleting the state dir (the lazy plan reads the
    # state parquet): fixes the per-run /tmp litter (VERDICT r5 #6)
    out = out.localCheckpoint(eager=True)
    if spark.sparkContext.master.startswith("local"):
        # a localCheckpoint is not reliable storage: on a cluster a lost
        # executor recomputes its blocks from the state parquet, so the
        # dir is deleted only when the executors run in this process
        import shutil

        shutil.rmtree(state, ignore_errors=True)
    return out


def _planted_url_pages(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, url, text) pages with deterministic planted
    URL variants (case / fragment / default-port / tracker / duplicate-
    and trailing-slash noise, selector doc_id % 4) over a shared page id
    (docs with doc_id % 11 == 3 share their predecessor's page), PLUS
    planted exact-text duplicates: docs with doc_id % 13 == 5 carry their
    predecessor's text verbatim (the raw documents table has zero
    exact-text dup groups, so without this plant the EXACT tier never
    fires at driver scale and its first-match-wins precedence goes
    differentially unproven). The oracles construct both truths directly
    from the id schemes, so every query built on this frame proves
    canonicalize_url folding AND the url > exact > near precedence —
    including the interaction cases (a %13==5 doc that is also %11==3
    must land in the url tier; one whose predecessor was url-folded away
    becomes the sole holder of that text and must stay near/kept)."""
    pred = docs.select(
        (F.col("doc_id") + 1).alias("doc_id"),
        F.col("text").alias("_pred_text"),
    )
    docs = (
        docs.join(pred, "doc_id", "left")
        .withColumn(
            "text",
            F.when(
                (F.pmod(F.col("doc_id"), F.lit(13)) == 5)
                & F.col("_pred_text").isNotNull(),
                F.col("_pred_text"),
            ).otherwise(F.col("text")),
        )
        .drop("_pred_text")
    )
    pid = (
        F.col("doc_id")
        - F.when(F.pmod(F.col("doc_id"), F.lit(11)) == 3, F.lit(1)).otherwise(F.lit(0))
    ).cast("string")
    v = F.pmod(F.col("doc_id"), F.lit(4))
    raw_url = (
        F.when(v == 1, F.concat(F.lit("HTTPS://WWW.EXAMPLE.COM/p/"), pid,
                                F.lit("#frag")))
        .when(v == 2, F.concat(F.lit("https://www.example.com:443/p/"), pid,
                               F.lit("/?utm_source=feed&gclid=xyz")))
        .when(v == 3, F.concat(F.lit("https://www.example.com//p//"), pid,
                               F.lit("?ref=rss")))
        .otherwise(F.concat(F.lit("https://www.example.com/p/"), pid))
    )
    return docs.select("doc_id", raw_url.alias("url"), "text")


def q_dedup_tier_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tiered dedup attribution — the composed webtext tier stack
    [url fold + D4 exact + D1/D6/D8 near, first-match-wins; reference
    fixed pass order with first-occurrence-wins commit,
    code/dedup2.py:13-15,420-421] over the planted-URL frame
    (:func:`_planted_url_pages`). Output: one row per doc — (doc_id,
    tier in url/exact/near/kept, kept_by = numeric-min representative
    id)."""
    from genome_deduplication_spark.operators.tiers import tier_dedup_report

    docs = _read(spark, sf_dir, "documents")
    return tier_dedup_report(_planted_url_pages(docs), CFG)


# training_corpus gate constants — shared verbatim by the Spark plan call
# and the DuckDB oracle below
_TC_MIN_TOKENS = 30
_TC_MIN_DISTINCT_PCT = 40
_TC_ROWS_PER_SHARD = 64


def q_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus capstone [the full LLM-data
    composition: tier dedup -> quality gates -> decontamination ->
    deterministic shards; reference analogue: the dedup pass feeding the
    retained-sample dump, code/dedup2.py:420-443,513]: runs
    plans/training_corpus.build_training_corpus over the planted-URL
    frame with the doc_id%50 benchmark subset and the portable hash60
    uniform for shard assignment (so DuckDB replicates the bucketing
    bit-identically). Output: (doc_id, n_tokens, n_distinct_tokens,
    shard_id) — one row per training-ready doc."""
    from genome_deduplication_spark.plans.training_corpus import (
        build_training_corpus,
    )

    docs = _read(spark, sf_dir, "documents")
    benchmark = docs.where(F.pmod(F.col("doc_id"), F.lit(50)) == 0).select(
        "doc_id", "text"
    )
    u = hash60(F.col("doc_id").cast("string")) / F.lit(float(2**60))
    return build_training_corpus(
        _planted_url_pages(docs),
        CFG,
        benchmark=benchmark,
        min_tokens=_TC_MIN_TOKENS,
        min_distinct_pct=_TC_MIN_DISTINCT_PCT,
        rows_per_shard=_TC_ROWS_PER_SHARD,
        shard_uniform=u,
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "exact_dup_clusters": q_exact_dup_clusters,
        "char_jaccard_pairs": q_char_jaccard_pairs,
        "minhash_signatures": q_minhash_signatures,
        "masked_word_spans": q_masked_word_spans,
        "shingle_histogram": q_shingle_histogram,
        "summary_stats": q_summary_stats,
        "event_gap_stats": q_event_gap_stats,
        "train_dev_split": q_train_dev_split,
        "sample_n": q_sample_n,
        "word_set_difference": q_word_set_difference,
        "merged_ship_intervals": q_merged_ship_intervals,
        "token_quality": q_token_quality,
        "doc_fingerprints": q_doc_fingerprints,
        "embedding_exact_dup": q_embedding_exact_dup,
        "embedding_cosine_topk": q_embedding_cosine_topk,
        "span_text_retrieval": q_span_text_retrieval,
        "overlap_pairs": q_overlap_pairs,
        "lang_id": q_lang_id,
        "ann_lsh_topk": q_ann_lsh_topk,
        "semantic_dedup": q_semantic_dedup,
        "substring_dup_clusters": q_substring_dup_clusters,
        "near_dup_clusters": q_near_dup_clusters,
        "media_decode_stats": q_media_decode_stats,
        "boilerplate_cleaned": q_boilerplate_cleaned,
        "decontamination": q_decontamination,
        "repetition_metrics": q_repetition_metrics,
        "pii_redaction": q_pii_redaction,
        "stratified_sample": q_stratified_sample,
        "corpus_mix": q_corpus_mix,
        "user_sessions": q_user_sessions,
        "click_attribution": q_click_attribution,
        "event_props_rollup": q_event_props_rollup,
        "value_percentiles": q_value_percentiles,
        "incremental_near_dup": q_incremental_near_dup,
        "dedup_tier_report": q_dedup_tier_report,
        "training_corpus": q_training_corpus,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect; identical values by construction)
# ---------------------------------------------------------------------------

_NORM = _NORM_DUCK.format(c="text")

# DuckDB twin of the O(n) polynomial byte-shingle kernel
# (functions/shingles.poly_window_hashes_np): h(window at i) =
# sum_{o<K} byte[i+o] * base^(K-1-o) mod 2^31-1 over the UTF-8 bytes of
# normalized text. Bytes are recovered by hex-ing the encoded string; the
# K power-of-base weights are embedded as literals. Every per-window sum
# is < 256 * K * 2^31 — safely inside BIGINT.
_POLY_POWERS = ", ".join(
    f"({o}, {pow(_POLY_BASE % MERSENNE31, K - 1 - o, MERSENNE31)})"
    for o in range(K)
)

_SHINGLES_CTE = f"""
  nrm AS (SELECT doc_id, {_NORM} AS s FROM documents),
  raw AS (SELECT doc_id, hex(encode(s)) AS hx,
                 octet_length(encode(s)) AS n
          FROM nrm WHERE s IS NOT NULL),
  bt AS (SELECT doc_id, n, hx, unnest(range(1, n + 1)) AS j FROM raw),
  bv AS (SELECT doc_id, n, j,
                CAST(concat('0x', substr(hx, 2*j - 1, 2)) AS BIGINT) AS b
         FROM bt),
  pw(o, p) AS (SELECT * FROM (VALUES {_POLY_POWERS}) v(o, p)),
  sh AS (
    -- DuckDB SUM(BIGINT) returns HUGEINT (int128) and `%` preserves it;
    -- cast back to BIGINT so every h-derived output column matches Spark's
    -- int64 representation (round-2 hash regression: mh_*, fingerprint).
    SELECT DISTINCT doc_id,
           CAST(SUM(b * p) % {MERSENNE31} AS BIGINT) AS h
    FROM bv JOIN pw ON bv.j - pw.o >= 1 AND bv.j - pw.o <= bv.n - {K} + 1
    GROUP BY doc_id, bv.j - pw.o
  )
"""


def _substring_oracle_sql() -> str:
    """DuckDB twin of q_substring_dup_clusters: reconstruct the planted
    corpus with identical string algebra, then find pairs brute-force as
    'share at least one L-gram' (equivalent to LCS >= L) and emit the
    cluster memberships (the truth graph is a perfect matching by
    construction — markers bound cross-pair runs below L)."""
    L = CFG.min_common_substring  # 120 (ASCII corpus: bytes == chars)
    strip = (
        f"trim(regexp_replace(regexp_replace({_NORM},"
        " '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
    )
    bm = " || ".join(
        f"substr(braw, {c * _SUB_SEG + 1}, {_SUB_SEG}) || '[' || d || '|{c}]'"
        for c in range(_SUB_BLOCK // _SUB_SEG)
    )

    def filler(salts):
        return " || ".join(f"md5(d || '{s}')" for s in salts)

    def twin(offset, salts):
        pre, post = salts
        return (
            f"SELECT {offset} + doc_id AS id, "
            f"{filler(pre)} || ' ' || bm || ' ' || {filler(post)} AS t FROM bm"
        )

    return f"""
        WITH src AS (
          SELECT doc_id, {strip} AS s FROM documents WHERE doc_id < {_SUB_N}
        ),
        elig AS (
          SELECT doc_id, CAST(doc_id AS VARCHAR) AS d,
                 substr(repeat(s, 5), 1, {_SUB_BLOCK}) AS braw
          FROM src WHERE length(s) >= {_SUB_MINSRC}
        ),
        bm AS (SELECT doc_id, d, {bm} AS bm FROM elig),
        corpus AS (
          {twin(910000, _SUB_SALTS_A)}
          UNION ALL
          {twin(920000, _SUB_SALTS_B)}
        ),
        pos AS (
          SELECT id, t, unnest(range(1, length(t) - {L} + 2)) AS i FROM corpus
        ),
        grams AS (SELECT DISTINCT id, md5(substr(t, i, {L})) AS g FROM pos),
        p AS (
          SELECT DISTINCT a.id AS ia, b.id AS ib
          FROM grams a JOIN grams b ON a.g = b.g AND a.id < b.id
        )
        SELECT ia AS doc_id, ia AS cluster_id, CAST(2 AS BIGINT) AS cluster_size
        FROM p
        UNION ALL
        SELECT ib AS doc_id, ia AS cluster_id, CAST(2 AS BIGINT) AS cluster_size
        FROM p
    """


def oracle_sql() -> dict[str, str]:
    a, b = CFG.minhash_coefficients()
    mh_cols = ",\n    ".join(
        f"min(({a[j]} * h + {b[j]}) % {MERSENNE31}) AS mh_{j}" for j in range(16)
    )
    h60_docid = _h60_duck("CAST(doc_id AS VARCHAR)")
    # tier-stack removal chain (url -> exact -> near, first-match-wins),
    # shared by dedup_tier_report and the training_corpus capstone. The
    # canonical-URL truth comes DIRECTLY from the planted page-id scheme
    # (doc_id%11==3 folds with its predecessor) while Spark derives it
    # through canonicalize_url over noisy raw variants — a real
    # differential of the folding rules. near edges: same exact-Jaccard
    # planted-truth criterion as near_dup_clusters, restricted to
    # tier-1/2 survivors; `reach` is the recursive closure, so any
    # statement embedding this chain must open WITH RECURSIVE.
    tier_ctes = f"""base0 AS (SELECT doc_id, text,
                            doc_id - CASE WHEN doc_id % 11 = 3 THEN 1 ELSE 0 END AS pid
                     FROM documents),
            base AS (SELECT b.doc_id,
                            CASE WHEN b.doc_id % 13 = 5 AND p.text IS NOT NULL
                                 THEN p.text ELSE b.text END AS text,
                            b.pid
                     FROM base0 b
                     LEFT JOIN base0 p ON p.doc_id = b.doc_id - 1),
            u AS (SELECT pid, min(doc_id) AS rep FROM base GROUP BY pid),
            t_url AS (SELECT b.doc_id, u.rep
                      FROM base b JOIN u USING (pid) WHERE b.doc_id != u.rep),
            s1 AS (SELECT b.doc_id, {_NORM} AS s
                   FROM base b JOIN u USING (pid) WHERE b.doc_id = u.rep),
            e AS (SELECT s, min(doc_id) AS rep FROM s1
                  WHERE s IS NOT NULL AND s != '' GROUP BY s),
            t_exact AS (SELECT s1.doc_id, e.rep
                        FROM s1 JOIN e USING (s) WHERE s1.doc_id != e.rep),
            elig AS (SELECT doc_id, s FROM s1
                     WHERE s IS NOT NULL AND len(s) >= {K}
                       AND doc_id NOT IN (SELECT doc_id FROM t_exact)),
            pos AS (SELECT doc_id, s,
                           unnest(range(1, len(s) - {K} + 2)) AS i
                    FROM elig),
            tsh AS (SELECT DISTINCT doc_id,
                          ({_h31_duck(f"substr(s, i, {K})")}) AS h
                   FROM pos),
            tsz AS (SELECT doc_id, count(*) AS n FROM tsh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
              FROM tsh a JOIN tsh b ON a.h = b.h AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ),
            near AS (
              SELECT da AS a, db AS b
              FROM inter JOIN tsz x ON da = x.doc_id JOIN tsz y ON db = y.doc_id
              WHERE c * 1.0 / (x.n + y.n - c) >= 0.8
            ),
            sym AS (SELECT a, b FROM near UNION SELECT b AS a, a AS b FROM near),
            reach(src, dst) AS (
              SELECT doc_id, doc_id FROM elig
              UNION
              SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a
            ),
            cc AS (SELECT src AS doc_id, min(dst) AS rep
                   FROM reach GROUP BY src),
            t_near AS (SELECT doc_id, rep FROM cc WHERE doc_id != rep),
            removed AS (SELECT doc_id FROM t_url
                        UNION ALL SELECT doc_id FROM t_exact
                        UNION ALL SELECT doc_id FROM t_near)"""
    # planted-truth connected components over exact-Jaccard/exact-text
    # edges — shared by the one-shot pipeline row (near_dup_clusters) AND
    # the two-batch incremental row (incremental_near_dup): the truth is a
    # property of the corpus, not of the execution strategy
    near_dup_truth_sql = f"""
            WITH RECURSIVE
            nrm AS (SELECT doc_id, {_NORM} AS s FROM documents),
            ok AS (SELECT doc_id, s FROM nrm
                   WHERE s IS NOT NULL AND len(s) >= {K}),
            pos AS (SELECT doc_id, s,
                           unnest(range(1, len(s) - {K} + 2)) AS i
                    FROM ok),
            sh AS (SELECT DISTINCT doc_id,
                          ({_h31_duck(f"substr(s, i, {K})")}) AS h
                   FROM pos),
            sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
              FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ),
            near AS (
              SELECT da AS a, db AS b
              FROM inter JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
              WHERE c * 1.0 / (x.n + y.n - c) >= {CFG.jaccard_threshold}
            ),
            ex AS (
              SELECT x.doc_id AS a, y.doc_id AS b
              FROM ok x JOIN ok y ON x.s = y.s AND x.doc_id < y.doc_id
            ),
            edges AS (SELECT a, b FROM near UNION SELECT a, b FROM ex),
            sym AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
            reach(src, dst) AS (
              SELECT doc_id, doc_id FROM ok
              UNION
              SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a
            )
            SELECT src AS doc_id,
                   CAST(min(CAST(dst AS VARCHAR)) AS BIGINT) AS cluster_id,
                   count(DISTINCT dst) AS cluster_size
            FROM reach GROUP BY src
        """
    return {
        "exact_dup_clusters": f"""
            WITH keyed AS (
              SELECT doc_id, {_h60_duck(_NORM)} AS content_hash FROM documents
            ),
            canon AS (
              SELECT content_hash, min(doc_id) AS cluster_id,
                     count(*) AS cluster_size
              FROM keyed GROUP BY content_hash
            )
            SELECT k.doc_id, k.content_hash, c.cluster_id, c.cluster_size
            FROM keyed k JOIN canon c USING (content_hash)
        """,
        "char_jaccard_pairs": f"""
            WITH {_SHINGLES_CTE},
            rare AS (SELECT h FROM sh GROUP BY h HAVING count(*) <= {DF_CAP}),
            shr AS (SELECT sh.doc_id, sh.h FROM sh JOIN rare USING (h)),
            sizes AS (SELECT doc_id, count(*) AS n FROM shr GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
              FROM shr a JOIN shr b ON a.h = b.h AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT doc_a, doc_b,
                   round(c * 1.0 / (na.n + nb.n - c), 6) AS jaccard
            FROM inter
            JOIN sizes na ON na.doc_id = doc_a
            JOIN sizes nb ON nb.doc_id = doc_b
            WHERE round(c * 1.0 / (na.n + nb.n - c), 6) >= 0.2
        """,
        "minhash_signatures": f"""
            WITH {_SHINGLES_CTE}
            SELECT doc_id,
    {mh_cols}
            FROM sh GROUP BY doc_id
        """,
        "masked_word_spans": f"""
            WITH nrm AS (SELECT doc_id, {_NORM} AS s FROM documents),
            toks AS (
              SELECT doc_id,
                     unnest(string_split(s, ' ')) AS tok,
                     generate_subscripts(string_split(s, ' '), 1) AS ord
              FROM nrm
            ),
            firsts AS (SELECT doc_id, tok, min(ord) AS f FROM toks GROUP BY 1, 2),
            masked AS (
              SELECT t.doc_id, t.ord FROM toks t
              JOIN firsts f ON t.doc_id = f.doc_id AND t.tok = f.tok
              WHERE t.ord > f.f
            ),
            flags AS (
              SELECT doc_id, ord,
                     CASE WHEN ord - lag(ord) OVER (PARTITION BY doc_id ORDER BY ord) = 1
                          THEN 0 ELSE 1 END AS flag
              FROM masked
            ),
            isl AS (
              SELECT doc_id, ord,
                     sum(flag) OVER (PARTITION BY doc_id ORDER BY ord
                                     ROWS UNBOUNDED PRECEDING) AS island
              FROM flags
            )
            SELECT doc_id, min(ord) AS span_start, max(ord) + 1 AS span_end
            FROM isl GROUP BY doc_id, island
        """,
        "shingle_histogram": f"""
            WITH {_SHINGLES_CTE},
            counts AS (SELECT h, count(*) AS occ FROM sh GROUP BY h)
            SELECT occ, count(*) AS n_shingles FROM counts GROUP BY occ
        """,
        "summary_stats": """
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   CAST((sum(n_chars) // count(*)) * 10000
                        + ((sum(n_chars) % count(*)) * 10000) // count(*)
                        AS BIGINT) AS avg_chars_x10000,
                   count(DISTINCT source) AS n_sources
            FROM documents GROUP BY lang
        """,
        "event_gap_stats": """
            WITH g AS (
              SELECT user_id,
                     date_diff('second',
                               lag(ts) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id),
                               ts) AS gap
              FROM events
            )
            SELECT user_id, count(*) AS n_events,
                   round(avg(gap), 4) AS avg_gap_s,
                   max(gap) AS max_gap_s
            FROM g GROUP BY user_id
        """,
        "train_dev_split": f"""
            SELECT doc_id,
                   CASE WHEN {h60_docid} % 100 < 10
                        THEN 'dev' ELSE 'train' END AS split
            FROM documents
        """,
        "sample_n": f"""
            SELECT doc_id FROM (
              SELECT doc_id FROM documents
              ORDER BY {h60_docid} LIMIT 50
            )
        """,
        "word_set_difference": f"""
            WITH nrm AS (SELECT lang, {_NORM} AS s FROM documents),
            toks AS (SELECT lang, unnest(string_split(s, ' ')) AS tok FROM nrm)
            SELECT DISTINCT tok FROM toks WHERE lang = 'en'
            EXCEPT
            SELECT DISTINCT tok FROM toks WHERE lang = 'de'
        """,
        "merged_ship_intervals": """
            WITH iv AS (
              SELECT DISTINCT l_suppkey, epoch(l_shipdate)::BIGINT AS s,
                     epoch(l_shipdate)::BIGINT + 7 * 86400 AS e
              FROM lineitem
            ),
            run AS (
              SELECT l_suppkey, s, e,
                     max(e) OVER (PARTITION BY l_suppkey ORDER BY s, e
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS maxe
              FROM iv
            ),
            flags AS (
              SELECT l_suppkey, s, e,
                     CASE WHEN s <= maxe THEN 0 ELSE 1 END AS flag
              FROM run
            ),
            isl AS (
              SELECT l_suppkey, s, e,
                     sum(flag) OVER (PARTITION BY l_suppkey ORDER BY s, e
                                     ROWS UNBOUNDED PRECEDING) AS island
              FROM flags
            )
            SELECT l_suppkey, min(s) AS span_start, max(e) AS span_end
            FROM isl GROUP BY l_suppkey, island
        """,
        "token_quality": f"""
            WITH nrm AS (SELECT doc_id, {_NORM} AS s FROM documents)
            SELECT doc_id,
                   len(string_split(s, ' ')) AS n_tokens,
                   len(regexp_extract_all(s, '[a-z0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens,
                   round((len(s) - len(regexp_replace(s, '[^a-z0-9 ]', '', 'g')))
                         * 1.0 / greatest(len(s), 1), 6) AS punct_ratio,
                   round(len(list_filter(string_split(s, ' '),
                                         t -> list_contains(['the','a','of','to','and'], t)))
                         * 1.0 / greatest(len(string_split(s, ' ')), 1), 6)
                     AS stop_ratio
            FROM nrm
        """,
        "doc_fingerprints": f"""
            WITH {_SHINGLES_CTE}
            SELECT doc_id, min(h) AS fingerprint, count(*) AS n_anchors
            FROM sh WHERE h % 32 = 0 GROUP BY doc_id
        """,
        "embedding_exact_dup": """
            WITH canon AS (
              SELECT embedding, min(vec_id) AS cluster_id,
                     count(*) AS cluster_size
              FROM embeddings GROUP BY embedding
            )
            SELECT e.vec_id, c.cluster_id, c.cluster_size
            FROM embeddings e JOIN canon c ON e.embedding = c.embedding
        """,
        "embedding_cosine_topk": """
            WITH v AS (
              SELECT vec_id, embedding::DOUBLE[] AS v,
                     sqrt(list_dot_product(embedding::DOUBLE[],
                                           embedding::DOUBLE[])) AS nrm
              FROM embeddings
            ),
            scored AS (
              SELECT q.vec_id AS q_id, c.vec_id AS n_id,
                     round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 5) AS sim
              FROM v q JOIN v c ON q.vec_id <> c.vec_id
              WHERE q.vec_id < 100
            ),
            ranked AS (
              SELECT q_id, n_id, sim,
                     row_number() OVER (PARTITION BY q_id
                                        ORDER BY sim DESC, n_id) AS rank
              FROM scored
            )
            SELECT q_id, n_id, rank, sim FROM ranked WHERE rank <= 3
        """,
        "span_text_retrieval": f"""
            WITH nrm AS (SELECT doc_id, {_NORM} AS s FROM documents),
            toks AS (
              SELECT doc_id,
                     unnest(string_split(s, ' ')) AS tok,
                     generate_subscripts(string_split(s, ' '), 1) AS ord
              FROM nrm
            ),
            firsts AS (SELECT doc_id, tok, min(ord) AS f FROM toks GROUP BY 1, 2),
            masked AS (
              SELECT t.doc_id, t.ord FROM toks t
              JOIN firsts f ON t.doc_id = f.doc_id AND t.tok = f.tok
              WHERE t.ord > f.f
            ),
            flags AS (
              SELECT doc_id, ord,
                     CASE WHEN ord - lag(ord) OVER (PARTITION BY doc_id ORDER BY ord) = 1
                          THEN 0 ELSE 1 END AS flag
              FROM masked
            ),
            isl AS (
              SELECT doc_id, ord,
                     sum(flag) OVER (PARTITION BY doc_id ORDER BY ord
                                     ROWS UNBOUNDED PRECEDING) AS island
              FROM flags
            ),
            spans AS (
              SELECT doc_id, min(ord) AS a, max(ord) + 1 AS b
              FROM isl GROUP BY doc_id, island
            ),
            firstspan AS (
              SELECT doc_id, min(a) AS a, arg_min(b, a) AS b
              FROM spans GROUP BY doc_id
            )
            SELECT f.doc_id, f.a AS span_start,
                   array_to_string(string_split(n.s, ' ')[f.a:(f.b - 1)], ' ')
                     AS span_text
            FROM firstspan f JOIN nrm n ON f.doc_id = n.doc_id
        """,
        "overlap_pairs": """
            WITH iv AS (
              SELECT l_suppkey, l_orderkey AS k, l_linenumber AS ln,
                     epoch(l_shipdate)::BIGINT AS s,
                     epoch(l_shipdate)::BIGINT + 3 * 86400 AS e
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate < TIMESTAMP '1996-07-01'
            )
            SELECT a.l_suppkey, count(*) AS n_overlapping_pairs
            FROM iv a JOIN iv b
              ON a.l_suppkey = b.l_suppkey
             AND a.s < b.e AND b.s < a.e
             AND (a.k < b.k OR (a.k = b.k AND a.ln < b.ln))
            GROUP BY a.l_suppkey
        """,
        "lang_id": f"""
            WITH nrm AS (SELECT doc_id, {_NORM} AS s FROM documents),
            t AS (SELECT doc_id, string_split(s, ' ') AS toks FROM nrm),
            sc AS (
              SELECT doc_id,
                len(list_filter(['the','and','of','to','is'],
                                m -> list_contains(toks, m))) AS s_en,
                len(list_filter(['el','la','de','que','los'],
                                m -> list_contains(toks, m))) AS s_es,
                len(list_filter(['der','die','und','das','ist'],
                                m -> list_contains(toks, m))) AS s_de,
                len(list_filter(['le','la','les','des','est'],
                                m -> list_contains(toks, m))) AS s_fr
              FROM t
            )
            SELECT doc_id,
                   CASE WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'und'
                        WHEN s_fr = greatest(s_en, s_es, s_de, s_fr) THEN 'fr'
                        WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es'
                        WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
                        ELSE 'de' END AS lang_guess
            FROM sc
        """,
        "ann_lsh_topk": f"""
            WITH v0 AS (SELECT vec_id, embedding::DOUBLE[] AS v
                        FROM embeddings),
            flat AS (SELECT vec_id, unnest(v) AS x,
                            generate_subscripts(v, 1) AS j
                     FROM v0 WHERE vec_id < {ANN_N_PLANTED}),
            der0 AS (
              SELECT vec_id AS vid,
                     list(x + (({_h60_duck("concat('n', CAST(vec_id AS VARCHAR), '_', CAST(j AS VARCHAR))")} % 10007)
                               / 10007.0 - 0.5) * {ANN_NOISE_AMP} ORDER BY j)
                       AS v
              FROM flat GROUP BY 1
            ),
            der AS (SELECT vid + {ANN_ID_OFFSET} AS vec_id, v FROM der0),
            corpus AS (SELECT vec_id, v FROM v0
                       UNION ALL SELECT vec_id, v FROM der),
            n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
                  FROM corpus)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM n a JOIN n b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.9
        """,
        # semantic_dedup: planted-truth oracle, same verification pattern
        # as ann_lsh_topk — the k-means cells are a candidate generator,
        # and on this corpus the eps-duplicate groups are exactly the blob
        # cliques (members cos ~0.9999 to their anchor, everything else
        # <= ~0.52 vs eps 0.9), so the pruning the operator MUST produce
        # is checkable brute-force: rep = min id over {{self}} U
        # {{eps-neighbors}} (exact for cliques), kept = is own rep.
        "semantic_dedup": f"""
            WITH v0 AS (SELECT vec_id, embedding::DOUBLE[] AS v
                        FROM embeddings),
            flat AS (SELECT vec_id AS aid, unnest(v) AS x,
                            generate_subscripts(v, 1) AS j
                     FROM v0 WHERE vec_id < {SEM_N_ANCHORS}),
            mem AS (
              SELECT {SEM_ID_OFFSET} + aid * {SEM_N_MEMBERS} + mm.m AS vec_id,
                     list(x + (({_h60_duck(
                         "concat('s', CAST((" + str(SEM_ID_OFFSET)
                         + " + aid * " + str(SEM_N_MEMBERS)
                         + " + mm.m) AS VARCHAR), '_', CAST(j AS VARCHAR))"
                     )} % 10007)
                               / 10007.0 - 0.5) * {SEM_NOISE_AMP} ORDER BY j)
                       AS v
              FROM flat
              CROSS JOIN (SELECT unnest(range({SEM_N_MEMBERS})) AS m) mm
              GROUP BY 1
            ),
            corpus AS (SELECT vec_id, v FROM v0
                       UNION ALL SELECT vec_id, v FROM mem),
            n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
                  FROM corpus),
            nbr AS (SELECT a.vec_id AS vid, b.vec_id AS nid
                    FROM n a JOIN n b ON a.vec_id <> b.vec_id
                    WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm)
                          >= {SEM_EPS})
            SELECT c.vec_id,
                   LEAST(c.vec_id, COALESCE(MIN(nb.nid), c.vec_id))
                     AS rep_id,
                   LEAST(c.vec_id, COALESCE(MIN(nb.nid), c.vec_id))
                     = c.vec_id AS kept
            FROM corpus c LEFT JOIN nbr nb ON nb.vid = c.vec_id
            GROUP BY c.vec_id
        """,
        # near_dup_clusters: planted-truth oracle. The pipeline itself
        # (pandas-UDF MinHash + LSH + iterative CC) is not SQL-expressible,
        # but on this corpus the true pair structure is separable (measured:
        # every near-dup pair has exact char-9 Jaccard >= 0.92, every
        # non-dup pair <= 0.35, vs threshold 0.8), so the clusters the
        # pipeline MUST produce are exactly the connected components of
        # {{exact-text pairs}} U {{exact-Jaccard >= threshold pairs}} — which
        # DuckDB computes brute-force with a recursive-CTE closure. The
        # canonical id mirrors the pipeline's min(warc_ts, url)-as-string
        # election (constant warc_ts here -> lexicographic min url).
        "substring_dup_clusters": _substring_oracle_sql(),
        "near_dup_clusters": near_dup_truth_sql,
        "incremental_near_dup": near_dup_truth_sql,
        # tier stack, first-match-wins. The oracle builds the canonical-URL
        # truth DIRECTLY from the planted page-id scheme (doc_id%11==3 folds
        # with its predecessor), while the Spark side derives it through
        # canonicalize_url over noisy raw variants — a real differential of
        # the folding rules. near edges: same exact-Jaccard planted-truth
        # criterion as near_dup_clusters, restricted to tier-1/2 survivors.
        "dedup_tier_report": f"""
            WITH RECURSIVE
            {tier_ctes}
            SELECT doc_id, 'url' AS tier, rep AS kept_by FROM t_url
            UNION ALL
            SELECT doc_id, 'exact' AS tier, rep AS kept_by FROM t_exact
            UNION ALL
            SELECT doc_id, 'near' AS tier, rep AS kept_by FROM t_near
            UNION ALL
            SELECT d.doc_id, 'kept' AS tier, CAST(NULL AS BIGINT) AS kept_by
            FROM documents d
            WHERE d.doc_id NOT IN (SELECT doc_id FROM removed)
        """,
        # capstone composition: tier survivors -> integer quality gates ->
        # 13-gram decontamination vs the doc_id%50 benchmark -> hash60
        # uniform bucketed into ceil(n/rows_per_shard) shards. Every stage
        # reuses a CTE pattern a simpler green oracle already proved
        # (tiers / token_quality / decontamination / stratified_sample).
        "training_corpus": f"""
            WITH RECURSIVE
            {tier_ctes},
            -- planted text (base), NOT raw documents.text: a %13==5 doc
            -- whose predecessor was url-folded away survives the tiers
            -- carrying the predecessor's text, and the quality gates
            -- must see what the Spark side sees
            kept_docs AS (SELECT b.doc_id, b.text FROM base b
                          WHERE b.doc_id NOT IN (SELECT doc_id FROM removed)),
            kq AS (SELECT doc_id, {_NORM} AS s FROM kept_docs),
            qm AS (SELECT doc_id, s,
                          len(string_split(s, ' ')) AS n_tokens,
                          len(list_distinct(string_split(s, ' ')))
                            AS n_distinct_tokens
                   FROM kq),
            qual AS (SELECT * FROM qm
                     WHERE n_tokens >= {_TC_MIN_TOKENS}
                       AND n_distinct_tokens * 100
                           >= n_tokens * {_TC_MIN_DISTINCT_PCT}),
            bn AS (SELECT doc_id, {_NORM} AS s FROM documents
                   WHERE doc_id % 50 = 0),
            btoks AS (SELECT doc_id, unnest(string_split(s, ' ')) AS tok,
                             generate_subscripts(string_split(s, ' '), 1) AS ord
                      FROM bn),
            bwins AS (
              SELECT t.doc_id, string_agg(t2.tok, ' ' ORDER BY t2.ord) AS phrase
              FROM btoks t
              JOIN btoks t2 ON t2.doc_id = t.doc_id
                           AND t2.ord BETWEEN t.ord AND t.ord + 12
              GROUP BY t.doc_id, t.ord HAVING count(*) = 13
            ),
            bench AS (SELECT DISTINCT phrase FROM bwins),
            qtoks AS (SELECT doc_id, unnest(string_split(s, ' ')) AS tok,
                             generate_subscripts(string_split(s, ' '), 1) AS ord
                      FROM qual),
            qwins AS (
              SELECT t.doc_id, string_agg(t2.tok, ' ' ORDER BY t2.ord) AS phrase
              FROM qtoks t
              JOIN qtoks t2 ON t2.doc_id = t.doc_id
                           AND t2.ord BETWEEN t.ord AND t.ord + 12
              GROUP BY t.doc_id, t.ord HAVING count(*) = 13
            ),
            contam AS (SELECT DISTINCT q.doc_id
                       FROM qwins q JOIN bench USING (phrase)),
            clean AS (SELECT doc_id, n_tokens, n_distinct_tokens FROM qual
                      WHERE doc_id % 50 <> 0
                        AND doc_id NOT IN (SELECT doc_id FROM contam))
            SELECT doc_id, n_tokens, n_distinct_tokens,
                   CAST(floor(({h60_docid} / 1152921504606846976.0)
                              * ceil(count(*) OVER ()
                                     / {float(_TC_ROWS_PER_SHARD)}))
                        AS INTEGER) AS shard_id
            FROM clean
        """,
        # The media table is synthesized byte-reproducibly inside the query
        # (testdata ships no binary-media table) and SQL has no image/audio
        # codecs, so the oracle is the frozen expected aggregate of the
        # deterministic fixture — a literal table, pinning decode outcomes
        # and exact payload byte totals across all three modalities.
        "media_decode_stats": """
            SELECT kind, decoded, n_media, total_bytes
            FROM (VALUES
              ('audio', false, CAST(1 AS BIGINT), CAST(98 AS BIGINT)),
              ('audio', true,  CAST(1 AS BIGINT), CAST(8044 AS BIGINT)),
              ('image', false, CAST(1 AS BIGINT), CAST(68 AS BIGINT)),
              ('image', true,  CAST(5 AS BIGINT), CAST(7836 AS BIGINT)),
              ('video', false, CAST(1 AS BIGINT), CAST(140 AS BIGINT)),
              ('video', true,  CAST(1 AS BIGINT), CAST(3760 AS BIGINT))
            ) t(kind, decoded, n_media, total_bytes)
            ORDER BY kind, decoded
        """,
        # word 8-grams shared by >= 2 distinct docs; covered-token union
        # removed from the normalized text (operators/boilerplate.py twin)
        "boilerplate_cleaned": f"""
            WITH nrm AS (SELECT doc_id, {_NORM} AS s FROM documents),
            toks AS (
              SELECT doc_id,
                     unnest(string_split(s, ' ')) AS tok,
                     generate_subscripts(string_split(s, ' '), 1) AS ord
              FROM nrm
            ),
            wins AS (
              SELECT t.doc_id, t.ord AS start,
                     string_agg(t2.tok, ' ' ORDER BY t2.ord) AS phrase
              FROM toks t
              JOIN toks t2 ON t2.doc_id = t.doc_id
                          AND t2.ord BETWEEN t.ord AND t.ord + 7
              GROUP BY t.doc_id, t.ord HAVING count(*) = 8
            ),
            boiler AS (
              SELECT phrase FROM wins
              GROUP BY phrase HAVING count(DISTINCT doc_id) >= 2
            ),
            bwins AS (SELECT w.doc_id, w.start FROM wins w JOIN boiler b USING (phrase)),
            keep AS (
              SELECT t.doc_id, t.ord, t.tok FROM toks t
              WHERE NOT EXISTS (
                SELECT 1 FROM bwins w
                WHERE w.doc_id = t.doc_id AND t.ord BETWEEN w.start AND w.start + 7
              )
            ),
            kept AS (
              SELECT doc_id, count(*) AS n_keep,
                     string_agg(tok, ' ' ORDER BY ord) AS cleaned_text
              FROM keep GROUP BY doc_id
            ),
            nt AS (SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY doc_id)
            SELECT nt.doc_id,
                   nt.n_tokens,
                   nt.n_tokens - coalesce(kept.n_keep, 0) AS n_boiler_tokens,
                   coalesce(kept.cleaned_text, '') AS cleaned_text
            FROM nt LEFT JOIN kept USING (doc_id)
        """,
        # 13-gram overlap with the benchmark subset (doc_id % 50 == 0);
        # benchmark docs report clean (self-overlap is not contamination)
        "decontamination": f"""
            WITH nrm AS (SELECT doc_id, {_NORM} AS s FROM documents),
            toks AS (
              SELECT doc_id,
                     unnest(string_split(s, ' ')) AS tok,
                     generate_subscripts(string_split(s, ' '), 1) AS ord
              FROM nrm
            ),
            wins AS (
              SELECT t.doc_id, string_agg(t2.tok, ' ' ORDER BY t2.ord) AS phrase
              FROM toks t
              JOIN toks t2 ON t2.doc_id = t.doc_id
                          AND t2.ord BETWEEN t.ord AND t.ord + 12
              GROUP BY t.doc_id, t.ord HAVING count(*) = 13
            ),
            bench AS (SELECT DISTINCT phrase FROM wins WHERE doc_id % 50 = 0),
            hits AS (
              SELECT w.doc_id, count(*) AS n
              FROM wins w JOIN bench b USING (phrase)
              WHERE w.doc_id % 50 <> 0 GROUP BY w.doc_id
            )
            SELECT d.doc_id,
                   d.doc_id % 50 = 0 AS is_benchmark,
                   CASE WHEN d.doc_id % 50 = 0 THEN 0
                        ELSE coalesce(h.n, 0) END AS n_shared_ngrams,
                   (CASE WHEN d.doc_id % 50 = 0 THEN 0
                         ELSE coalesce(h.n, 0) END) > 0 AS contaminated
            FROM documents d LEFT JOIN hits h USING (doc_id)
        """,
        # most-frequent word k-gram per doc via the window-join CTE; ties
        # break (n DESC, phrase ASC) = Spark's sorted-scan strictly-greater
        "repetition_metrics": f"""
            WITH nrm AS (
              SELECT doc_id,
                     {_NORM_DUCK.format(c="coalesce(text, '')")} AS s
              FROM documents
            ),
            toks AS (
              SELECT doc_id,
                     unnest(string_split(s, ' ')) AS tok,
                     generate_subscripts(string_split(s, ' '), 1) AS ord
              FROM nrm
            ),
            gram AS (
              SELECT ks.k, t.doc_id, t.ord,
                     string_agg(t2.tok, ' ' ORDER BY t2.ord) AS phrase
              FROM (VALUES (2), (3), (4)) ks(k)
              CROSS JOIN toks t
              JOIN toks t2 ON t2.doc_id = t.doc_id
                          AND t2.ord BETWEEN t.ord AND t.ord + ks.k - 1
              GROUP BY ks.k, t.doc_id, t.ord HAVING count(*) = ks.k
            ),
            cnt AS (
              SELECT k, doc_id, phrase, count(*) AS n
              FROM gram GROUP BY 1, 2, 3
            ),
            top AS (
              SELECT k, doc_id, n * length(phrase) AS chars
              FROM (SELECT *, row_number() OVER (
                      PARTITION BY k, doc_id
                      ORDER BY n DESC, phrase ASC) AS rn FROM cnt)
              WHERE rn = 1
            ),
            base AS (
              SELECT doc_id, length(s) AS n_chars_norm,
                     len(string_split(s, ' ')) AS n_words,
                     len(list_distinct(string_split(s, ' '))) AS n_distinct_words
              FROM nrm
            )
            SELECT b.doc_id, b.n_words, b.n_distinct_words, b.n_chars_norm,
                   coalesce(t2.chars, 0) AS top2_chars,
                   coalesce(t3.chars, 0) AS top3_chars,
                   coalesce(t4.chars, 0) AS top4_chars,
                   (coalesce(t2.chars, 0) * 100 > b.n_chars_norm * 20
                    OR coalesce(t3.chars, 0) * 100 > b.n_chars_norm * 18
                    OR coalesce(t4.chars, 0) * 100 > b.n_chars_norm * 16)
                     AS repetition_flagged
            FROM base b
            LEFT JOIN top t2 ON t2.doc_id = b.doc_id AND t2.k = 2
            LEFT JOIN top t3 ON t3.doc_id = b.doc_id AND t3.k = 3
            LEFT JOIN top t4 ON t4.doc_id = b.doc_id AND t4.k = 4
        """,
        # identical planted PII + identical RE2-safe patterns + identical
        # replacement order (email -> ipv4 -> phone)
        "pii_redaction": """
            WITH planted AS (
              SELECT doc_id,
                coalesce(text, '')
                || CASE WHEN doc_id % 7 = 0
                     THEN ' contact agent' || CAST(doc_id AS VARCHAR)
                          || '@mail.example.com for details' ELSE '' END
                || CASE WHEN doc_id % 11 = 0
                     THEN ' served from 10.' || CAST(doc_id % 200 AS VARCHAR)
                          || '.0.' || CAST(doc_id % 250 AS VARCHAR) ELSE '' END
                || CASE WHEN doc_id % 13 = 0
                     THEN ' call +1 555 0'
                          || lpad(CAST(doc_id % 100 AS VARCHAR), 3, '0')
                     ELSE '' END
                AS text
              FROM documents
            )
            SELECT doc_id,
              len(regexp_extract_all(text,
                  '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}'))
                AS n_emails,
              len(regexp_extract_all(text,
                  '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b')) AS n_ipv4s,
              len(regexp_extract_all(text,
                  '\\+\\d{1,3} \\d{3} \\d{3,4}')) AS n_phones,
              regexp_replace(
                regexp_replace(
                  regexp_replace(text,
                      '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}',
                      '<EMAIL>', 'g'),
                  '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g'),
                '\\+\\d{1,3} \\d{3} \\d{3,4}', '<PHONE>', 'g')
                AS redacted_text
            FROM planted
        """,
        # same normalized-hash order + doc_id tie-break; the division by
        # 2^60 must appear in BOTH engines — double rounding can collapse
        # distinct hashes, and only the identical rounded value makes the
        # doc_id tie-break fire identically
        "stratified_sample": f"""
            SELECT lang, source, doc_id, rk FROM (
              SELECT lang, source, doc_id,
                     row_number() OVER (
                       PARTITION BY lang, source
                       ORDER BY {h60_docid} / 1152921504606846976.0, doc_id
                     ) AS rk
              FROM documents
              WHERE lang IS NOT NULL AND source IS NOT NULL
            ) WHERE rk <= 3
        """,
        # identical weight CASE + identical normalized-hash uniform; the
        # fractional parts (0.5, 0.25) are exact doubles, so the u < frac
        # comparison is bit-identical across engines
        "corpus_mix": f"""
            WITH w AS (
              SELECT doc_id, source,
                     CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 0.25
                                 WHEN 'src2' THEN 0.0 ELSE 1.0 END AS wt,
                     {h60_docid} / 1152921504606846976.0 AS u
              FROM documents
            ),
            c AS (
              SELECT doc_id, source,
                     CAST(floor(wt) AS INT)
                       + CASE WHEN u < wt - floor(wt) THEN 1 ELSE 0 END AS n
              FROM w
            )
            SELECT doc_id, source, unnest(range(0, n)) AS copy_id
            FROM c WHERE n >= 1
        """,
        # exact-microsecond gap DIFFERENCES (tz-independent, NTZ-safe:
        # date_diff('microsecond') == Spark timestampdiff(MICROSECOND));
        # CAST the running SUM to BIGINT (DuckDB sum(int) -> HUGEINT)
        "user_sessions": """
            WITH o AS (
              SELECT user_id, event_id, ts,
                     lag(ts) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS pts
              FROM events
            ),
            s AS (
              SELECT user_id, event_id, ts,
                     CAST(sum(CASE WHEN pts IS NULL
                              OR date_diff('microsecond', pts, ts) > 21600000000
                              THEN 1 ELSE 0 END) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
              FROM o
            )
            SELECT user_id, session_idx, count(*) AS n_events,
                   min(event_id) AS first_event_id,
                   date_diff('microsecond', min(ts), max(ts)) AS dur_us
            FROM s GROUP BY user_id, session_idx
        """,
        # DuckDB's NATIVE ASOF LEFT JOIN is the reference implementation
        # for the Spark union+window composition
        "click_attribution": """
            SELECT l.event_id AS purchase_event_id, l.user_id,
                   r.event_id AS click_event_id, r.value AS click_value
            FROM (SELECT * FROM events WHERE event_type = 'purchase') l
            ASOF LEFT JOIN
                 (SELECT * FROM events WHERE event_type = 'click') r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        # json_extract_string == get_json_object for scalar paths; CAST
        # the SUM (DuckDB sum(BIGINT) -> HUGEINT)
        "event_props_rollup": """
            SELECT event_type, count(*) AS n_events,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                        AS BIGINT) AS sum_k,
                   min(CAST(json_extract_string(props, '$.k') AS BIGINT))
                     AS min_k,
                   max(CAST(json_extract_string(props, '$.k') AS BIGINT))
                     AS max_k
            FROM events GROUP BY event_type
        """,
        # quantile_cont == Spark exact `percentile` (same (n-1)*p linear
        # interpolation); round(4) both sides
        "value_percentiles": """
            SELECT event_type, count(*) AS n,
                   round(quantile_cont(value, 0.5), 4) AS p50,
                   round(quantile_cont(value, 0.9), 4) AS p90,
                   round(min(value), 4) AS vmin,
                   round(max(value), 4) AS vmax
            FROM events GROUP BY event_type
        """,
    }


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: near-dup cluster table."""
    return q_near_dup_clusters(spark, "/root/testdata/sf0.001")
