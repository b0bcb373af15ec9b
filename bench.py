"""Benchmark harness.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus the flagship
near-dup pipeline over a deterministic synthetic bench corpus
(FIXTURES.md §5 — sized so the run is shuffle-bound, not startup-bound),
and prints ONE JSON line:

  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "pipeline_docs": N, "pipeline_docs_per_sec": r}

Env knobs:
  SPARK_GRAFT_SF_DIR   testdata dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[N] parallelism (default 32)
  BENCH_PIPELINE_DOCS  bench corpus target size (default 40000)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _build_bench_corpus(spark, n_docs: int):
    """Deterministic synthetic pages corpus, cached as parquet. Generated
    directly in Spark (not driver-side python) so corpus build scales too:
    seeds are a distributed range, text is derived per-seed with xxhash-based
    word selection. Composition: ~96.2% unique base docs, ~3% near-duplicate
    mutations of a base, ~0.5% docs with a planted internal repeat >= the
    mask threshold (exercises the `masked` span kind at bench scale), ~0.3%
    null/short docs (`ambiguous` kind) — so the 4-way span tiling invariant
    (reference tests/checks.txt:8-9) is evidenced on the bench corpus, not
    just in unit tests."""
    cache = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        ".bench_cache",
        f"pages_v2_{n_docs}",
    )
    # repartition after read: the cached corpus is one ~100MB parquet file,
    # which maxPartitionBytes turns into 1-2 scan partitions — every
    # downstream stage would inherit that and run on 2 tasks regardless of
    # core count (measured: signatures stage flat from 8 to 32 cores)
    par = spark.sparkContext.defaultParallelism * 2
    if os.path.exists(os.path.join(cache, "_SUCCESS")):
        return spark.read.parquet(cache).repartition(par, "url")

    from pyspark.sql import functions as F

    from genome_deduplication_spark.fixtures.pages import _WORDS

    words = F.array(*[F.lit(w) for w in _WORDS])
    n_dup = max(int(n_docs * 0.03), 1)
    n_rep = max(n_docs // 200, 1)   # planted internal-repeat docs (masked)
    n_amb = max(n_docs // 400, 1)   # null/short docs (ambiguous)
    n_base = n_docs - n_dup - n_rep - n_amb
    base = spark.range(n_base).select(
        F.concat(F.lit("https://bench.example/"), F.col("id")).alias("url"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(secs=F.col("id").cast("double"))
        ).alias("warc_ts"),
        F.col("id").alias("seed"),
    )
    # ~120-word deterministic texts: word i = WORDS[xxhash64(seed, i) % |W|]
    text = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(119)),
            lambda i: F.element_at(
                words, (F.pmod(F.xxhash64(F.col("seed"), i), F.size(words)) + 1).cast("int")
            ),
        ),
    )
    base = base.select(
        "url", "warc_ts", text.alias("text"), F.lit("en").alias("lang")
    )
    # near-dup copies of the first n_dup base docs: mutate one
    # word (position derived from seed) — Jaccard >> threshold
    dups = spark.range(n_dup).select(
        F.concat(F.lit("https://bench.example/dup/"), F.col("id")).alias("url"),
        (
            F.to_timestamp(F.lit("2024-06-01 00:00:00"))
            + F.make_interval(secs=F.col("id").cast("double"))
        ).alias("warc_ts"),
        F.col("id").alias("seed"),
    )
    dup_text = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(119)),
            lambda i: F.when(
                i == F.pmod(F.xxhash64(F.lit("mutpos"), F.col("seed")), F.lit(120)),
                F.lit("mutatedword"),
            ).otherwise(
                F.element_at(
                    words,
                    (F.pmod(F.xxhash64(F.col("seed"), i), F.size(words)) + 1).cast("int"),
                )
            ),
        ),
    )
    dups = dups.select(
        "url", "warc_ts", dup_text.alias("text"), F.lit("en").alias("lang")
    )
    # internal-repeat docs: a ~200-char block appears twice inside otherwise
    # unique text — canonical docs whose repeat exceeds the 120-byte mask
    # threshold, so the spans table gets real `masked` bytes at bench scale
    reps = spark.range(n_rep).select(
        F.concat(F.lit("https://bench.example/rep/"), F.col("id")).alias("url"),
        (
            F.to_timestamp(F.lit("2024-03-01 00:00:00"))
            + F.make_interval(secs=F.col("id").cast("double"))
        ).alias("warc_ts"),
        F.col("id").alias("seed"),
    )
    def _wordseq(salt: str, n_words: int):
        return F.transform(
            F.sequence(F.lit(0), F.lit(n_words - 1)),
            lambda i: F.element_at(
                words,
                (F.pmod(F.xxhash64(F.lit(salt), F.col("seed"), i), F.size(words)) + 1)
                .cast("int"),
            ),
        )
    block = F.concat_ws(" ", _wordseq("repblock", 28))  # ~200 bytes >= 120
    rep_text = F.concat_ws(
        " ",
        F.concat_ws(" ", _wordseq("reppre", 25)),
        block,
        F.concat_ws(" ", _wordseq("repmid", 25)),
        block,
        F.concat_ws(" ", _wordseq("reppost", 25)),
    )
    reps = reps.select(
        "url", "warc_ts", rep_text.alias("text"), F.lit("en").alias("lang")
    )
    # ambiguous docs: below-shingle-width text (odd seeds) or null (even) —
    # the normalize stage must split these off as the `ambiguous` span kind
    amb = spark.range(n_amb).select(
        F.concat(F.lit("https://bench.example/amb/"), F.col("id")).alias("url"),
        (
            F.to_timestamp(F.lit("2024-04-01 00:00:00"))
            + F.make_interval(secs=F.col("id").cast("double"))
        ).alias("warc_ts"),
        F.when(F.col("id") % 2 == 1, F.lit("tiny")).alias("text"),
        F.lit("en").alias("lang"),
    )
    pages = base.unionByName(dups).unionByName(reps).unionByName(amb)
    pages.write.mode("overwrite").parquet(cache)
    return spark.read.parquet(cache).repartition(par, "url")


def _probe_iters(secs: float) -> int:
    """One window of the host-speed kernel: the L2-resident blocked
    uint64 multiply-mod loop the signature kernel runs, one thread.
    Returns iterations completed in ``secs`` seconds."""
    import numpy as np

    x = np.arange(32768, dtype=np.uint64) * np.uint64(2654435761) % np.uint64(
        2**31 - 1
    )
    prod = np.empty_like(x)
    buf = np.empty_like(x)
    tmp = np.empty_like(x)
    n = 0
    t0 = time.time()
    while time.time() - t0 < secs:
        np.multiply(x, np.uint64(1103515245), out=prod)
        prod += np.uint64(12345)
        np.bitwise_and(prod, np.uint64(2**31 - 1), out=buf)
        np.right_shift(prod, np.uint64(31), out=tmp)
        buf += tmp
        n += 1
    return n


def _host_probe(secs: float = 5.0) -> float:
    """Single-core host-speed probe (mean iters/s over one window). A
    shared VM can alternate between quiet and degraded (hypervisor steal)
    phases — ~25-32k vs ~10-16k iters/s on 10-25 min timescales in
    BENCH.md round 5; embedding the probe makes every bench JSON carry
    its own weather context so cross-round comparisons can be normalized
    instead of argued."""
    return round(_probe_iters(secs) / secs, 1)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_docs = int(os.environ.get("BENCH_PIPELINE_DOCS", "40000"))

    hostspeed_pre = _host_probe()

    import __spark_entry__ as entrymod
    from genome_deduplication_spark.config import DedupConfig
    from genome_deduplication_spark.plans.pipeline import dedup_pipeline
    from genome_deduplication_spark.session import get_spark

    spark = get_spark(
        app_name="bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
    )

    # untimed warmup: JVM codegen paths, python workers, parquet footers —
    # steady-state per-query numbers, not first-query JVM startup
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    timings: dict[str, float] = {}
    headline = [
        "exact_dup_clusters",
        "char_jaccard_pairs",
        "minhash_signatures",
        "masked_word_spans",
        "shingle_histogram",
        "merged_ship_intervals",
        "token_quality",
        "repetition_metrics",
        "boilerplate_cleaned",
        "decontamination",
        "pii_redaction",
        "stratified_sample",
        "corpus_mix",
        "user_sessions",
        "click_attribution",
        "event_props_rollup",
        "value_percentiles",
        "embedding_cosine_topk",
        "substring_dup_clusters",
        "near_dup_clusters",
        "dedup_tier_report",
        "training_corpus",
    ]
    qs = entrymod.queries()
    for name in headline:
        t0 = time.time()
        df = qs[name](spark, sf_dir)
        n = df.count()  # force full execution
        timings[name] = round(time.time() - t0, 3)

    # Warm floors for the two pipeline-shaped queries (VERDICT r4 #1):
    # their one-shot numbers swing 2-3x with host weather + cold Catalyst
    # planning, so the comparable-across-rounds figure is the best-of-3
    # warm rep in the same JVM (the reference's back-to-back differential
    # standard, run_memory_comparison.sh:21-27). The one-shot stays in
    # `queries` (it includes each round's real cold cost); the floor is
    # the regression signal.
    floors: dict[str, float] = {}
    for name in ("substring_dup_clusters", "near_dup_clusters"):
        best = timings[name]
        for _ in range(2):
            t0 = time.time()
            qs[name](spark, sf_dir).count()
            best = min(best, round(time.time() - t0, 3))
        floors[name] = best

    # flagship pipeline at bench scale (the throughput metric)
    pages = _build_bench_corpus(spark, n_docs)
    pages = pages.localCheckpoint(eager=True)  # exclude gen cost from timing
    n_pages = pages.count()
    cfg = DedupConfig()
    t0 = time.time()
    tables = dedup_pipeline(pages, cfg, run_dir=None, enable_substring_pass=True)
    n_clusters = tables["clusters"].count()
    pipeline_sec = round(time.time() - t0, 3)
    timings["dedup_pipeline_bench"] = pipeline_sec

    # skew + coverage evidence over the bench corpus (not part of the
    # timed headline): LSH bucket-size skew and the 4-way span tiling
    from pyspark.sql import functions as F

    from genome_deduplication_spark.operators.lsh import bucket_stats
    from genome_deduplication_spark.operators.spans import build_spans_table

    hist = bucket_stats(tables["signatures"], cfg).collect()
    n_buckets = sum(r["n_buckets"] for r in hist)
    singles = sum(r["n_buckets"] for r in hist if r["bucket_size"] == 1)
    skew = {
        "n_buckets": n_buckets,
        "singleton_frac": round(singles / max(n_buckets, 1), 4),
        "max_bucket_size": max(r["bucket_size"] for r in hist),
    }
    norm_docs = tables["normalized"].where("NOT is_ambiguous").drop(
        "is_ambiguous"
    )
    spans = build_spans_table(
        norm_docs,
        tables["clusters"].select("url", "cluster_id"),
        tables["ambiguous"],
        min_repeat_len=cfg.min_common_substring,
    ).localCheckpoint(eager=True)
    span_rows = (
        spans.groupBy("kind")
        .agg(F.sum(F.col("end") - F.col("start")).alias("bytes"))
        .collect()
    )
    span_bytes = {r["kind"]: int(r["bytes"]) for r in span_rows}
    # 4-way tiling invariant at bench scale (reference check 5,
    # tests/checks.txt:8-9): every byte of every doc in exactly one kind —
    # all four kinds present, zero coverage gaps, and total span bytes ==
    # total corpus bytes (equality + no gaps rules out overlaps too)
    from genome_deduplication_spark.operators.spans import coverage_gaps

    all_docs = norm_docs.select("url", "text").unionByName(
        tables["ambiguous"].select("url", "text")
    )
    n_gaps = coverage_gaps(spans.select("url", "start", "end"), all_docs).count()
    total_doc_bytes = all_docs.agg(
        F.coalesce(F.sum(F.octet_length("text")), F.lit(0)).alias("b")
    ).collect()[0]["b"]
    tiling_ok = (
        set(span_bytes) == {"sample", "masked", "ignored", "ambiguous"}
        and all(v > 0 for v in span_bytes.values())
        and n_gaps == 0
        and sum(span_bytes.values()) == int(total_doc_bytes)
    )
    assert tiling_ok, {
        "span_bytes": span_bytes,
        "n_gaps": n_gaps,
        "total_doc_bytes": int(total_doc_bytes),
    }

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline query wall time (sum)",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "query_floors": floors,
                "sf": sf_dir,
                "cpus": cpus,
                "pipeline_docs": n_pages,
                "pipeline_clusters": n_clusters,
                "pipeline_docs_per_sec": round(n_pages / pipeline_sec, 1),
                "lsh_bucket_skew": skew,
                "span_kind_bytes": span_bytes,
                "span_tiling_ok": tiling_ok,
                "hostspeed_pre": hostspeed_pre,
                "hostspeed_post": _host_probe(),
                "hostspeed_quiet_baseline": [25000, 32000],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
