"""Connected components over duplicate-pair edges (large-star/small-star).

Replaces the reference's sequential cross-file state threading — the global
``seen_kmers`` set carried file to file makes dedup transitive across the
corpus (code/dedup2.py:549-554). Set-wise, transitivity = connected
components of the verified-pair graph.

Algorithm: alternating large-star / small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC 2014) expressed as DataFrame
joins; converges in O(log^2 n) rounds on adversarial chains, ~3-5 rounds on
real dup clusters. Each round is two shuffles; lineage is cut with
localCheckpoint every round so the plan does not grow (SURVEY.md §4 item 2).

Nodes are the ids themselves — int64 or string, any orderable type. The
caller passes the node universe with the edges and gets back one
``(node, component)`` row per universe node, where ``component`` is the
smallest node id in the component and a node without edges labels itself.
That label already is the ``min(id)`` representative callers want, so no
id -> key map, join-back or separate election sits around the loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
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


# Round cap of the large-star/small-star loop; dup graphs converge in a
# handful of rounds, adversarial chains in O(log^2 n).
MAX_ROUNDS = 20


def connected_components(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """(src, dst) edge list + ``node`` universe -> one (node, component) row
    per universe node, component = min node id of its component; a node
    without edges labels itself. Edge endpoints outside the universe still
    connect the graph but get no row. A NULL node keeps its row, labelled
    NULL."""
    cur = (
        edges.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    def _fingerprint(df: DataFrame) -> tuple[int, int]:
        # one cheap job instead of two exceptAll passes: (count, hash-sum)
        # pmod keeps each summand < 1e9 so the sum stays in int64 under ANSI
        # mode up to ~9e9 edges
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.pmod(F.xxhash64("src", "dst"), F.lit(1_000_000_007))),
                F.lit(0),
            ).alias("h"),
        ).collect()[0]
        return int(row["n"]), int(row["h"])

    # Per-round materialization is EAGER. The lazy-checkpoint +
    # fingerprint-materializes design (rounds 1-3) turned out not to
    # persist under AQE: the fingerprint's adaptive plan computes the
    # marked RDD without caching it, so every subsequent round recomputed
    # the full lineage back to the last real materialization (event-log
    # profile, BENCH.md round 4: CC rounds 2-3 cost 18.6s/12.4s on a 160k
    # corpus whose live edge set was ~5k rows; eager rounds cost ~0.2s).
    # Eager localCheckpoint is one extra tiny job per round but makes each
    # round's input genuinely persisted, which is what the O(log n)-rounds
    # cost model assumes.
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
    cur = cur.localCheckpoint(eager=True)
    prev_fp = _fingerprint(cur)
    for _ in range(MAX_ROUNDS):
        cur = _small_star(_large_star(cur)).localCheckpoint(eager=True)
        fp = _fingerprint(cur)
        if fp == prev_fp:
            break
        prev_fp = fp
    # after convergence every edge is (node -> component min); component
    # roots have no edge of their own and label themselves via coalesce
    comp = cur.groupBy(F.col("src").alias("node")).agg(
        F.min("dst").alias("component")
    )
    return nodes.join(comp, "node", "left").select(
        "node", F.coalesce("component", "node").alias("component")
    )


def components_for_string_ids(edges: DataFrame, all_ids: DataFrame,
                              id_col: str = "url") -> DataFrame:
    """(id_a, id_b) edge list + universe of ids -> one (id_col, cluster_key)
    row per distinct id, cluster_key = the minimum id of its component.
    A NULL id keeps its row with a NULL cluster_key."""
    comp = connected_components(
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        all_ids.select(F.col(id_col).alias("node")).distinct(),
    )
    return comp.select(
        F.col("node").alias(id_col), F.col("component").alias("cluster_key")
    )
