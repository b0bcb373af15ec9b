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

Small graphs finish on the driver. The initial cut already observes the
edge count (no extra job); at or under ``DRIVER_EDGES`` the cut is
collected with ``toArrow()`` (one job), a union-find with min-root
election (the rule ``oracle.UnionFind`` uses) labels every node, and the
labels go back through ``createDataFrame(pa.Table)``. That replaces the
loop's two shuffles and one checkpoint per round, which on a few hundred
edges are nearly all fixed per-job cost. Details that matter:

* The gate is 10^6 edges: at most ~32 MB of BINARY(16) keys. On random
  BINARY(16) graphs at local[4] (4 CPUs) the driver path beat the loop
  at every size tried (10^4 edges: ~3 s vs ~8 s; 10^6: 6-10 s vs ~39 s),
  and at 10^6 the Python driver's peak RSS rose from ~160 to ~360 MB.
  Past the gate driver memory and the single-threaded union-find keep
  growing with the graph, while the loop spreads its work over tasks.
* Arrow in and out, never Python rows: an Arrow table becomes a
  ``LocalTableScan``, while ``createDataFrame`` on tuples builds a pickled
  ``PythonRDD`` that starts a second pool of Python workers and adds a job.
* One output partition (``coalesce(1)``): Arrow batches would otherwise
  become ``defaultParallelism`` slices. Below the gate AQE already
  coalesces the loop's output to one partition, so callers that write
  the result keep their part-file layout.
* Only node types whose Arrow sort order is Spark's take the driver path:
  integral types, BINARY (unsigned bytes) and UTF8_BINARY strings
  (UTF-8 byte order is code-point order). Others (float, struct, collated
  strings) keep the loop, whose labels follow Spark's own comparison.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DataType,
    IntegralType,
    StringType,
    StructField,
    StructType,
)

# Largest initial edge count finished on the driver (see module docstring).
DRIVER_EDGES = 1_000_000


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


def _driver_order(t: DataType) -> bool:
    """Node types whose Arrow sort order equals Spark's comparison."""
    if isinstance(t, StringType):
        return t.collation == "UTF8_BINARY"
    return isinstance(t, (IntegralType, BinaryType))


def _driver_components(cut: DataFrame) -> DataFrame:
    """Label a checkpointed (src > dst) edge set on the driver: one Arrow
    collect, a union-find over the nodes' sort ranks with min-root
    election, and a one-partition (node, component) frame built from an
    Arrow table (a LocalTableScan: no job, no Python worker)."""
    edges = cut.toArrow()
    nodes = pa.chunked_array(
        edges["src"].chunks + edges["dst"].chunks, type=edges.schema.field("src").type
    ).combine_chunks()
    uniq = pc.unique(nodes)
    uniq = uniq.take(pc.array_sort_indices(uniq))  # rank order == node order
    rank = pc.index_in(nodes, value_set=uniq).to_numpy()
    parent = list(range(len(uniq)))
    n = edges.num_rows
    for a, b in zip(rank[:n].tolist(), rank[n:].tolist()):
        while parent[a] != a:  # path halving
            parent[a] = a = parent[parent[a]]
        while parent[b] != b:
            parent[b] = b = parent[parent[b]]
        if a != b:
            lo, hi = (a, b) if a < b else (b, a)
            parent[hi] = lo  # min root wins
    # parent[x] <= x throughout, so pointer jumping reaches every root
    root = np.asarray(parent, dtype=np.int64)
    while not np.array_equal(jumped := root[root], root):
        root = jumped
    t = cut.schema["src"].dataType
    schema = StructType([StructField("node", t), StructField("component", t)])
    labels = pa.table({"node": uniq, "component": uniq.take(pa.array(root))})
    return cut.sparkSession.createDataFrame(labels, schema).coalesce(1)


def connected_components(
    edges: DataFrame, max_iter: int = 20
) -> DataFrame:
    """(src, dst) edge list -> (node, component) with component = min node
    key of the component. Nodes appearing only as singletons are the
    caller's concern (left join + coalesce to self). Graphs of at most
    ``DRIVER_EDGES`` distinct edges between integral, binary or string
    nodes finish on the driver; the rest run the star loop, which raises
    if ``max_iter`` rounds reach no fixed point rather than return
    unconverged labels."""
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
    if prev_fp[0] <= DRIVER_EDGES and _driver_order(cur.schema["src"].dataType):
        return _driver_components(cur)
    for _ in range(max_iter):
        cur, fp = _checkpoint(_small_star(_large_star(cur)))
        if fp == prev_fp:
            break
        prev_fp = fp
    else:
        raise RuntimeError(
            f"connected_components reached no fixed point in {max_iter} rounds"
        )
    # after convergence every edge is (node -> component min)
    comp = cur.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    # ensure component roots map to themselves
    roots = comp.select(F.col("component").alias("node"),
                        F.col("component").alias("component")).distinct()
    return comp.union(roots).groupBy("node").agg(F.min("component").alias("component"))

