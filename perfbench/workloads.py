"""The benchmark's workloads.

Each workload builds its inputs from the seed (``prepare``), runs one
timed unit of work at a time (``op``, which returns that op's state), and
checks the op's output after the timer stops (``check``). Trace runs also
take the op's per-layer counts (``layer``) after its span has closed.
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

# the stages a recorded pipeline run writes a manifest for
_RECORDED_STAGES = (
    "normalize", "signatures", "exact_edges", "lsh_pairs",
    "verified", "substring", "components", "clusters",
)


class Workload:
    """Base: ``kinds`` are the distinct ops of one pass; the warm-up pass
    runs them on ``cold_threads`` threads so the JVM's one-time compilation
    overlaps; the timed passes are sequential."""

    cold_threads = 1
    min_reps = 2

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self.work = work

    def kinds(self) -> list[str]:
        raise NotImplementedError

    def items(self) -> int:
        """Input items one pass processes (docs, or queries)."""
        raise NotImplementedError

    def prepare(self) -> None:
        raise NotImplementedError

    def op(self, kind: str, idx: int):
        raise NotImplementedError

    def check(self, state) -> list[str]:
        raise NotImplementedError

    def layer(self, state) -> dict:
        return {}

    def release(self, state) -> None:
        pass


class MirrorCrawl(Workload):
    """fx_mixed pages through the recorded pipeline: every op writes every
    stage into a fresh, empty run dir (sources.checkpoint)."""

    scale = 3.0

    def kinds(self):
        return ["pipeline"]

    def items(self):
        return len(self.corpus.rows)

    def prepare(self):
        from genome_deduplication_spark.config import DedupConfig

        import inputs

        path = os.path.join(self.work, "pages.parquet")
        self.corpus = inputs.mirror_pages(self.seed, self.scale, path)
        self.input_bytes = os.path.getsize(path)
        self.cfg = DedupConfig()
        par = self.spark.sparkContext.defaultParallelism
        self.pages = (
            self.spark.read.parquet(path).repartition(par, "url")
        ).localCheckpoint(eager=True)

    def op(self, kind, idx):
        from genome_deduplication_spark.plans.pipeline import dedup_pipeline

        run_dir = os.path.join(self.work, f"run{idx}")
        if os.path.exists(run_dir):
            raise RuntimeError(f"run dir {run_dir} is not fresh")
        t0 = time.time()
        tables = dedup_pipeline(
            self.pages, self.cfg, run_dir=run_dir, enable_substring_pass=True
        )
        tables["clusters"].count()
        return {"run_dir": run_dir, "tables": tables, "t0": t0}

    def check(self, state):
        from genome_deduplication_spark.oracle import pair_recall

        tables = state["tables"]
        errors = []
        # a reused run dir resumes every stage and reads as a fake gain
        for stage in _RECORDED_STAGES:
            with open(os.path.join(state["run_dir"], f"_STAGE_{stage}.json")) as f:
                if json.load(f)["completed_at_unix"] < state["t0"]:
                    errors.append(f"stage {stage} was resumed, not run")
        rows = self.corpus.rows
        got = [(r["url"], r["cluster_id"]) for r in tables["clusters"].collect()]
        urls = [u for u, _ in got]
        n_amb = tables["ambiguous"].count()
        if len(set(urls)) != len(urls) or len(urls) + n_amb != len(rows):
            errors.append("docs not clustered exactly once")
        edges = {
            (a, b) if a < b else (b, a) for a, b in tables["dup_edges"].collect()
        }
        for kinds, floor in ((("exact", "near"), 0.99), (("substring",), 0.95)):
            truth = {
                (p["url_a"], p["url_b"])
                for p in self.corpus.truth_pairs
                if p["kind"] in kinds
            }
            recall = pair_recall(edges, truth)
            if recall < floor:
                errors.append(f"{'/'.join(kinds)} recall {recall:.3f} < {floor}")
        for u, cid in got:
            if u.startswith(("https://boiler.", "https://unique.")) and cid != u:
                errors.append(f"control {u} merged into {cid}")
                break
        ts = {r["url"]: r["warc_ts"] for r in rows}
        members: dict[str, list[str]] = {}
        for u, cid in got:
            members.setdefault(cid, []).append(u)
        for cid, us in members.items():
            if min(us, key=lambda u: (ts[u], u)) != cid:
                errors.append(f"canonical of {cid} is not min(warc_ts, url)")
                break
        state["multi_clusters"] = sum(1 for us in members.values() if len(us) > 1)
        return errors

    def layer(self, state):
        from pyspark.sql import functions as F

        from genome_deduplication_spark.sources.checkpoint import RunContext

        run_dir = state["run_dir"]
        ctx = RunContext(self.spark, run_dir, self.cfg.to_json())
        m = {r["stage"]: r for r in ctx.read_metrics()}
        cand, ver, sub = m["candidates"], m["verify"], m["substring"]
        shingles = int(
            state["tables"]["signatures"].agg(F.sum("n_shingles")).collect()[0][0]
        )
        written = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(run_dir)
            if d != run_dir
            for f in files
        )
        return {
            "signatures.shingles": shingles,
            "lsh.candidate_pairs": cand["lsh_candidate_pairs"],
            "lsh.buckets_capped": cand["lsh_buckets_capped"],
            "lsh.buckets_dropped": cand["lsh_buckets_dropped"],
            "verify.pairs_in": ver["pairs_in"],
            "verify.pairs_dup": ver["pairs_dup"],
            "verify.dup_ratio": ver["pairs_dup"] / max(ver["pairs_in"], 1),
            "substring.pairs_checked": sub["pairs_checked"],
            "substring.pairs_dup": sub["pairs_substring_dup"],
            "substring.hit_ratio": sub["pairs_substring_dup"]
            / max(sub["pairs_checked"], 1),
            "cc.edges_in": cand["exact_edges"]
            + ver["pairs_dup"]
            + sub["pairs_substring_dup"],
            "cc.multi_clusters": state["multi_clusters"],
            "checkpoint.written_mb": written / (1024.0 * 1024.0),
            "checkpoint.write_amp": written / self.input_bytes,
        }

    def release(self, state):
        shutil.rmtree(state["run_dir"], ignore_errors=True)


# Ten of the 22 headline queries bench.py times, chosen to fit the run
# budget (README.md, "Sizing"): the tier report with its many-Exchange
# union (ROADMAP D5), the two signature-kernel queries, and the seven small
# queries that pay the extra Exchange of `_read` (ROADMAP open item 1).
# The tier report goes first: it is the longest op of the concurrent cold
# pass.
QUERIES = [
    "dedup_tier_report",
    "exact_dup_clusters",
    "minhash_signatures",
    "token_quality",
    "repetition_metrics",
    "decontamination",
    "pii_redaction",
    "click_attribution",
    "event_props_rollup",
    "value_percentiles",
]


def _load_check_oracle():
    """tools/check_oracle.py's comparison rules, loaded from the checkout
    without keeping the import path it adds."""
    saved = list(sys.path)
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


class QuerySuite(Workload):
    """The headline entry-point queries over the sf0.01 test tables, one
    query at a time, each materialized to Arrow. The tables are fixed, so
    the seed does not change this workload's inputs."""

    cold_threads = 4

    def kinds(self):
        return QUERIES

    def items(self):
        return len(QUERIES)

    def prepare(self):
        import __spark_entry__ as entry

        self.sf_dir = os.path.join(BENCH_DIR, "data", "sf0.01")
        self.qs = entry.queries()
        self.rules = _load_check_oracle()
        self.digests: dict[str, tuple] = {}
        self.first: dict = {}

    def op(self, kind, idx):
        df = self.qs[kind](self.spark, self.sf_dir)
        return {"kind": kind, "df": df, "table": df.toArrow()}

    def check(self, state):
        kind, tbl = state["kind"], state["table"]
        cols, rows = self.rules.pdf_to_multiset(tbl.to_pandas())
        digest = (cols, self.rules.arrow_type_map(tbl), hash(tuple(rows)), len(rows))
        if self.digests.setdefault(kind, digest) != digest:
            return [f"{kind}: output differs from the oracle-matched output"]
        self.first.setdefault(kind, tbl)
        return []

    def oracle_check(self) -> list[str]:
        """Value match of each query's first output against oracle_sql()
        through DuckDB, by check_oracle's rules: column names, Arrow types
        and the row multiset."""
        import duckdb

        import __spark_entry__ as entry

        osql = entry.oracle_sql()
        con = duckdb.connect()
        for t in self.rules.TABLES:
            path = os.path.join(self.sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        errors = []
        for kind in QUERIES:
            tbl = self.first.get(kind)
            if tbl is None:
                errors.append(f"{kind}: no output to match against the oracle")
                continue
            con.execute(f"CREATE OR REPLACE TEMP TABLE _o AS {osql[kind]}")
            otbl = con.execute("SELECT * FROM _o").arrow()
            ocols, orows = self.rules.pdf_to_multiset(
                con.execute("SELECT * FROM _o").df()
            )
            scols, srows = self.rules.pdf_to_multiset(tbl.to_pandas())
            if scols != ocols:
                errors.append(f"{kind}: columns {scols} != {ocols}")
            elif self.rules.arrow_type_map(tbl) != self.rules.arrow_type_map(otbl):
                errors.append(f"{kind}: arrow types differ from the oracle")
            elif srows != orows:
                errors.append(f"{kind}: values differ from the oracle")
        con.close()
        return errors

    def layer(self, state):
        return {"exchanges": count_exchanges(state["df"])}


def count_exchanges(df) -> int:
    """Exchange nodes (shuffle, broadcast, reused) in the final adaptive
    plan of an executed DataFrame."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    n = 0
    for line in plan.treeString().splitlines():
        node = line.lstrip(" :+-").split(" ", 1)[0]
        if node.endswith("Exchange") or node == "ReusedExchange":
            n += 1
    return n


WORKLOADS = {"mirror_crawl": MirrorCrawl, "query_suite": QuerySuite}
