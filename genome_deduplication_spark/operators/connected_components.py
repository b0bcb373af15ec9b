"""Connected components over duplicate-pair edges (large-star/small-star).

Replaces the reference's sequential cross-file state threading — the global
``seen_kmers`` set carried file to file makes dedup transitive across the
corpus (code/dedup2.py:549-554). Set-wise, transitivity = connected
components of the verified-pair graph.

Algorithm: alternating large-star / small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC 2014) expressed as DataFrame
joins; converges in O(log^2 n) rounds on adversarial chains, ~3-5 rounds on
real dup clusters. Each round is two shuffles; lineage is cut with
localCheckpoint every round so the plan does not grow (SURVEY.md §4 item 2),
and the convergence check is observed on that same checkpoint job.

Nodes are whatever fixed-width orderable key the caller's edges carry: the
pipeline's and the incremental state's ``doc_key`` (BINARY(16), hash128 of
the url — no birthday collisions at 10^12 ids), the tier report's int64
doc ids. The component label is the minimum node key; callers that want a
different canonical member (the pipeline's min(warc_ts, url)) elect it by
grouping on that label.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor larger than min-neighbor to min(neigh ∪ self)."""
    und = edges.union(edges.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst")))
    mins = (
        und.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select("src", F.least("mn", "src").alias("m"))
    )
    # join neighbors v > u's min to m(u)
    return (
        und.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    # orient edges toward smaller id, connect all smaller-or-equal neighbors
    # of each node to the minimum
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    return (
        oriented.join(mins, "src")
        .select(
            F.col("dst").alias("src"), F.col("m").alias("dst")
        )
        .union(mins.select(F.col("src"), F.col("m").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _checkpoint(edges: DataFrame) -> tuple[DataFrame, tuple[int, int]]:
    """Eager localCheckpoint of an edge set plus its (count, hash-sum)
    fingerprint, observed on the checkpoint job itself (no second job).
    pmod keeps each summand < 1e9 so the sum stays in int64 under ANSI
    mode up to ~9e9 edges; xxhash64 hashes struct columns natively, so
    this works for int64, BINARY(16) and struct node ids."""
    obs = Observation()
    cut = edges.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.pmod(F.xxhash64("src", "dst"), F.lit(1_000_000_007))),
            F.lit(0),
        ).alias("h"),
    ).localCheckpoint(eager=True)
    fp = obs.get
    return cut, (int(fp["n"]), int(fp["h"]))


def connected_components(
    edges: DataFrame, max_iter: int = 20
) -> DataFrame:
    """(src, dst) edge list -> (node, component) with component = min node
    key of the component. Nodes appearing only as singletons are the
    caller's concern (left join + coalesce to self)."""
    cur = (
        edges.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    # Per-round materialization is EAGER. The lazy-checkpoint +
    # fingerprint-materializes design (rounds 1-3) turned out not to
    # persist under AQE: the fingerprint's adaptive plan computes the
    # marked RDD without caching it, so every subsequent round recomputed
    # the full lineage back to the last real materialization (event-log
    # profile, BENCH.md round 4: CC rounds 2-3 cost 18.6s/12.4s on a 160k
    # corpus whose live edge set was ~5k rows; eager rounds cost ~0.2s).
    # The convergence fingerprint rides on the checkpoint job itself
    # (_checkpoint), so a round is one job and each round's input is
    # genuinely persisted, which is what the O(log n)-rounds cost model
    # assumes.
    # Round-6 additions to the eager-localCheckpoint loop (the loop body
    # itself is unchanged — persist()-based variants were measured 8-20x
    # slower here; plan-level caches were not reliably reused across the
    # round closures, recomputing the full verify/substring lineage):
    #  * the INITIAL edge set is checkpointed too: round 1's large-star
    #    references its input twice (the und union), and without a cut
    #    that input is the whole verify/LSH (+ substring LCS) lineage —
    #    at the 40k bench that materialized the heaviest upstream stage
    #    more than once;
    #  * its fingerprint seeds prev_fp, so an edge set that is already a
    #    fixed point of small∘large — every pure pair/star graph, i.e.
    #    typical near-dup groups — converges after ONE round instead of
    #    needing a second full round to notice (fp(round1) == fp(cur0)).
    cur, prev_fp = _checkpoint(cur)
    for _ in range(max_iter):
        cur, fp = _checkpoint(_small_star(_large_star(cur)))
        if fp == prev_fp:
            break
        prev_fp = fp
    # after convergence every edge is (node -> component min)
    comp = cur.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    # ensure component roots map to themselves
    roots = comp.select(F.col("component").alias("node"),
                        F.col("component").alias("component")).distinct()
    return comp.union(roots).groupBy("node").agg(F.min("component").alias("component"))

