"""Profiling twin of bench.py: bench.py makes the measurement, this script
explains it.

Replicates bench.py's session config, warmup and per-query timing loop
(every column of each query written to the no-op sink, as bench.py does),
but additionally:
  * labels every query's jobs (setJobDescription) so the event log
    (enable via SPARK_CONF_DIR with spark.eventLog.enabled) attributes
    jobs and planning gaps to queries — tools/joblog.py summarizes;
  * optionally captures .explain("formatted") per query into
    plans/r06/<query>_<tag>.txt  (EXPLAIN_TAG=before|after env);
  * optionally repeats each query (BENCH_EXTRA_REPS) for warm floors.

Output: one JSON line, same shape as bench.py's `queries` dict, plus
``codegen_compiles``: the generated classes each rep of each query
compiled (a warm rep should compile none; see session.py). With
BENCH_EXTRA_PIPELINE=1 it also holds the pipeline run's report (the
metrics rows, see plans/pipeline.py) under ``pipeline_report``.
"""

from __future__ import annotations

import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    reps = int(os.environ.get("BENCH_EXTRA_REPS", "1"))
    tag = os.environ.get("EXPLAIN_TAG", "")
    only = os.environ.get("BENCH_EXTRA_ONLY", "")
    do_pipeline = os.environ.get("BENCH_EXTRA_PIPELINE", "0") == "1"

    import __spark_entry__ as entrymod
    from genome_deduplication_spark.session import get_spark

    spark = get_spark(
        app_name="bench_extra",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
    )
    sc = spark.sparkContext
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = codegen.METRIC_COMPILATION_TIME().getCount

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

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
    if only:
        keep = only.split(",")
        headline = [q for q in headline if q in keep]
    qs = entrymod.queries()
    timings: dict[str, list] = {}
    compiles: dict[str, list] = {}
    out: dict = {
        "queries": timings,
        "codegen_compiles": compiles,
        "app_id": sc.applicationId,
    }
    for name in headline:
        timings[name], compiles[name] = [], []
        for rep in range(reps):
            sc.setJobDescription(f"q:{name}:rep{rep}")
            c0, t0 = compiled(), time.time()
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            timings[name].append(round(time.time() - t0, 3))
            compiles[name].append(compiled() - c0)
            if rep == 0 and tag:
                os.makedirs("plans/r06", exist_ok=True)
                buf = io.StringIO()
                with redirect_stdout(buf):
                    df.explain("formatted")
                with open(f"plans/r06/{name}_{tag}.txt", "w") as fh:
                    fh.write(buf.getvalue())
        sc.setJobDescription(None)

    if do_pipeline:
        from bench import _build_bench_corpus
        from genome_deduplication_spark.config import DedupConfig
        from genome_deduplication_spark.plans.pipeline import dedup_pipeline

        n_docs = int(os.environ.get("BENCH_PIPELINE_DOCS", "40000"))
        pages = _build_bench_corpus(spark, n_docs)
        pages = pages.localCheckpoint(eager=True)
        pages.count()
        cfg = DedupConfig()
        timings["dedup_pipeline_bench"] = []
        compiles["dedup_pipeline_bench"] = []
        for rep in range(reps):
            sc.setJobDescription(f"q:dedup_pipeline_bench:rep{rep}")
            c0, t0 = compiled(), time.time()
            tables = dedup_pipeline(
                pages, cfg, run_dir=None, enable_substring_pass=True
            )
            tables["clusters"].count()
            timings["dedup_pipeline_bench"].append(
                round(time.time() - t0, 3)
            )
            compiles["dedup_pipeline_bench"].append(compiled() - c0)
            out["pipeline_report"] = tables["report"]
        sc.setJobDescription(None)

    if os.environ.get("BENCH_EXTRA_SKEW", "0") == "1":
        out["lsh_skew_stress"] = _skew_stress(spark)

    print(json.dumps(out))
    spark.stop()


def _skew_stress(spark, n_docs: int = 40000, hot_mod: int = 10):
    """Adversarial LSH skew stress (VERDICT r5 #4 / guide §2.5): plant a
    boilerplate band shared by 1/hot_mod of the corpus — one band bucket
    with n_docs/hot_mod members — and drive candidate_pairs with stats.
    Pass criteria reported: wall bounded, the cap machinery fires
    (buckets_capped >= 1), and the hot bucket emits O(cap) star pairs
    instead of the ~m^2/2 clique a naive bucket-join would produce."""
    import time as _t

    from pyspark.sql import functions as F

    from genome_deduplication_spark.config import DedupConfig
    from genome_deduplication_spark.functions.hashing import hash128
    from genome_deduplication_spark.operators.lsh import candidate_pairs

    cfg = DedupConfig()
    r = cfg.rows_per_band
    hot = F.pmod(F.col("id"), F.lit(hot_mod)) == 0
    vals = F.transform(
        F.sequence(F.lit(0), F.lit(cfg.num_perm - 1)),
        lambda j: F.when(hot & (j < r), j + 7)
        .otherwise(F.pmod(F.xxhash64(F.col("id"), j), F.lit(2**31 - 1)))
        .cast("int"),
    )
    # keyed like the pipeline's docs: doc_key = hash128(url)
    sigs = (
        spark.range(n_docs)
        .select(
            hash128(F.concat(F.lit("u"), F.col("id"))).alias("doc_key"),
            vals.alias("minhash"),
        )
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=True)
    )
    spark.sparkContext.setJobDescription("skew-stress: candidate_pairs")
    t0 = _t.time()
    pairs, stats = candidate_pairs(sigs, cfg, id_col="doc_key", with_stats=True)
    n_pairs = pairs.count()
    wall = round(_t.time() - t0, 3)
    spark.sparkContext.setJobDescription(None)
    m_hot = n_docs // hot_mod
    return {
        "n_docs": n_docs,
        "hot_bucket_members": m_hot,
        "naive_clique_pairs_hot_bucket": m_hot * (m_hot - 1) // 2,
        "max_bucket_size_cap": cfg.max_bucket_size,
        "wall_sec": wall,
        "n_candidate_pairs": n_pairs,
        **stats,
    }


if __name__ == "__main__":
    main()
