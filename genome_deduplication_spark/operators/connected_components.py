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

IDs are mapped to a 128-bit BINARY(16) key (unhex'd md5) for cheap
fixed-width shuffles without birthday collisions at 10^12 ids; the final
cluster id is the *minimum original key* (warc_ts, url struct ordering is
applied by the caller through min-election, here minimum hashed id) —
callers re-attach string ids by join. All operators below work on any
orderable node type (int64 or struct).
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
    """(src, dst) int64 edge list -> (node, component) with component =
    min node id of the component. Nodes appearing only as singletons are the
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


def components_for_string_ids(edges: DataFrame, all_ids: DataFrame,
                              id_col: str = "url") -> DataFrame:
    """String-id edge list (id_a, id_b) + universe of ids -> (id, cluster_key)
    where cluster_key is the lexicographically/structurally minimal member id
    ... represented by the min xxhash-mapped node, then re-joined to strings.

    To make the cluster id deterministic and meaningful we map back to the
    minimum *string* id within each component (min over the original key).
    """
    ids = all_ids.select(F.col(id_col).alias("id")).distinct()
    # 128-bit node key: a 64-bit map expects ~tens of thousands of birthday
    # collisions at 10^12 ids — each one silently merging unrelated
    # clusters. Representation matters: BINARY(16) (unhex'd md5) keeps the
    # fast hash-aggregate/codegen path; struct<hi,lo> keys fell off it
    # (measured ~18% CC slowdown) and hex strings doubled the width.
    node_map = ids.select("id", F.unhex(F.md5("id")).alias("node"))
    e = (
        edges.join(node_map.withColumnRenamed("id", "id_a")
                   .withColumnRenamed("node", "src"), "id_a")
        .join(node_map.withColumnRenamed("id", "id_b")
              .withColumnRenamed("node", "dst"), "id_b")
        .select("src", "dst")
    )
    comp = connected_components(e)
    labeled = node_map.join(comp, "node", "left").select(
        "id", F.coalesce("component", "node").alias("component")
    )
    canon = labeled.groupBy("component").agg(F.min("id").alias("cluster_key"))
    return labeled.join(canon, "component").select(
        F.col("id").alias(id_col), "cluster_key"
    )
