"""X4 — connected components over an edge DataFrame (union-find at scale).

Two distributed algorithms plus a size-gated driver path:

* **Min-label propagation** — every node repeatedly adopts the smallest
  component id among itself and its neighbors.  Converges in O(component
  diameter) rounds — similarity graphs from blocking have tiny diameters
  (near-cliques), so 3-5 rounds is typical.  Each round is one join + one
  aggregation; ``localCheckpoint`` cuts the lineage so plans don't grow
  across iterations (the classic iterative-DataFrame pitfall).
* **Alternating large-star/small-star** (:func:`star_components`; Kiveris et
  al., "Connected Components in MapReduce and Beyond", SoCC 2014) — each
  round rewires edges toward per-neighborhood minima, roughly halving
  component diameter, so a pathological chain converges in O(log d) rounds
  where min-label needs O(d).

``connected_components`` starts with min-label (cheaper per round, optimal
on the near-clique graphs blocking produces) and hands the contracted
(node, component) graph to the star algorithm if it hasn't converged after
``switch_after`` rounds — the handoff preserves components because every
(node, component) pair connects members of one component.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgist_spark.sources.local import local_frame


def star_components(edges: DataFrame, src: str = "a", dst: str = "b",
                    max_iter: int = 50, stats: dict | None = None) -> DataFrame:
    """``(node, component)`` via alternating large-star/small-star rounds.

    Each round: **small-star** points every node's smaller-id neighbors (and
    itself) at the minimum of that set; **large-star** points every node's
    larger-id neighbors at the minimum of the full closed neighborhood.
    Both are one aggregation + one join over the current edge set; the edge
    set only shrinks toward a star forest, reached in O(log diameter) rounds
    (Kiveris et al. 2014, Thm 3).  Convergence is a cheap (count, hash-sum)
    fingerprint comparison confirmed by an exact EXCEPT probe.

    :stats: optional dict; ``stats["rounds"]`` records the round count
        (used by tests to pin the O(log d) behavior).
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u").isNotNull() & F.col("v").isNotNull())
        .where(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
        .localCheckpoint()
    )
    all_nodes = (
        e.select(F.explode(F.array("u", "v")).alias("node")).distinct().localCheckpoint()
    )

    def fingerprint(df):
        row = df.agg(
            F.count("*").alias("n"), F.sum(F.hash("u", "v")).alias("h")
        ).first()
        return (row["n"], row["h"])

    def large_star(df):
        sym = df.select(
            F.explode(
                F.array(
                    F.struct(F.col("u").alias("u"), F.col("v").alias("v")),
                    F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
                )
            ).alias("p")
        ).select("p.u", "p.v")
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.withColumn("m", F.least("mn", F.col("u")))
        return (
            sym.join(mins.select("u", "m"), "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("m").alias("u"), F.col("v").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(df):
        # orient toward the smaller endpoint: rows (u, v) with v < u
        oriented = df.select(F.col("v").alias("u"), F.col("u").alias("v"))
        mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
        relinked = (
            oriented.join(mins, "u")
            .select(F.col("m").alias("u"), F.col("v").alias("v"))
            .unionByName(mins.select(F.col("m").alias("u"), F.col("u").alias("v")))
            .where(F.col("u") != F.col("v"))
            .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
            .distinct()
        )
        return relinked

    fp = fingerprint(e)
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        e2 = large_star(small_star(e)).localCheckpoint()
        fp2 = fingerprint(e2)
        if fp2 == fp and e2.exceptAll(e).isEmpty():
            e = e2
            break
        e, fp = e2, fp2
    if stats is not None:
        stats["rounds"] = rounds
    # converged edge set is a star forest: (v -> root u) rows; roots and
    # isolated nodes map to themselves
    members = e.select(F.col("v").alias("node"), F.col("u").alias("component"))
    roots = all_nodes.join(
        members.select("node"), "node", "left_anti"
    ).withColumn("component", F.col("node"))
    return members.unionByName(roots)


def connected_components(edges: DataFrame, src: str = "a", dst: str = "b",
                         max_iter: int = 50, driver_threshold: int = 200_000,
                         switch_after: int = 8) -> DataFrame:
    """``(node, component)`` where component = min node id in the component
    (a total order over the node id type is assumed: string or numeric).

    :edges: undirected edge list; self-loops/duplicates tolerated.
    :driver_threshold: pair sets at or below this size run classic union-find
        on the driver in one collect (the same size-based physical-strategy
        choice Catalyst makes for broadcast joins: a fixpoint of distributed
        jobs over a few thousand rows is pure scheduling overhead).  Larger
        inputs take the distributed min-label-propagation loop.  Both paths
        produce identical output and both are covered by tests.
    """
    sym = (
        # both directions from one exploded scan (a union of two projections
        # would execute the upstream pair computation twice)
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
                    F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
                )
            ).alias("p")
        )
        .select("p.u", "p.v")
        .where(F.col("u").isNotNull() & F.col("v").isNotNull())
        .distinct()
    )
    if driver_threshold:
        # one bounded collect decides AND feeds the driver path — a plain
        # count() would pay a full job, and persisting up front leaks the
        # cache for the session when the distributed path is taken
        head = sym.limit(driver_threshold + 1).collect()
        if len(head) <= driver_threshold:
            pairs = [(r["u"], r["v"]) for r in head]
            id_type = sym.schema["u"].dataType
            return _driver_components(edges.sparkSession, pairs, id_type)
    # the fixpoint loop re-reads sym every round — persist for its duration
    sym = sym.persist()
    try:
        comp = (
            sym.select(F.col("u").alias("node"))
            .distinct()
            .withColumn("component", F.col("node"))
        ).localCheckpoint()

        for i in range(max_iter):
            if switch_after and i >= switch_after:
                # still not converged after switch_after O(diameter) rounds —
                # a high-diameter graph.  Hand the ORIGINAL edges plus the
                # contracted (node, component) shortcuts to the O(log d)
                # star algorithm.  comp pairs alone could split components
                # (a node's label is only the min of its i-ball); the union
                # is safe because comp(x) always lies in x's component.
                handoff = sym.unionByName(
                    comp.select(
                        F.col("node").alias("u"), F.col("component").alias("v")
                    )
                )
                res = star_components(handoff, src="u", dst="v",
                                      max_iter=max_iter)
                # self-loop-only nodes have no non-loop edge for the star
                # algorithm to see — re-add them as their own components
                missing = (
                    comp.select("node")
                    .join(res.select("node"), "node", "left_anti")
                    .withColumn("component", F.col("node"))
                )
                return res.unionByName(missing)
            # every node pulls the min component over its neighborhood
            neighbor_comp = (
                sym.join(comp.withColumnRenamed("node", "v"), "v")
                .select(F.col("u").alias("node"), "component")
            )
            new_comp = (
                comp.unionByName(neighbor_comp)
                .groupBy("node")
                .agg(F.min("component").alias("component"))
            ).localCheckpoint()
            changed = (
                new_comp.alias("n")
                .join(comp.alias("o"), "node")
                .where(F.col("n.component") != F.col("o.component"))
                .count()
            )
            comp = new_comp
            if changed == 0:
                break
        return comp
    finally:
        sym.unpersist()


def _driver_components(spark, pairs, id_type):
    """Path-compressed union-find over a collected pair list; component id =
    min member (same contract as the distributed loop), returned as an
    Arrow local relation."""
    from pyspark.sql import types as T
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for u, v in pairs:
        ru, rv = find(u), find(v)
        if ru != rv:
            # keep the smaller id as the root so roots ARE the component ids
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    nodes = {n for p in pairs for n in p}
    rows = [(n, find(n)) for n in sorted(nodes)]
    schema = T.StructType(
        [T.StructField("node", id_type), T.StructField("component", id_type)]
    )
    return local_frame(spark, rows, schema)
