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
        # cheap bounded probe BEFORE deciding whether to persist — a plain
        # count() would pay a full job, and persisting up front leaks the
        # cache for the session when the distributed path is taken
        probe = sym.limit(driver_threshold + 1).count()
        if probe <= driver_threshold:
            pairs = [(r["u"], r["v"]) for r in sym.collect()]
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
    min member (same contract as the distributed loop)."""
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
    return spark.createDataFrame(rows, schema)


def minlabel_rounds(edges: DataFrame, src: str = "a", dst: str = "b",
                    rounds: int = 8, rows_per_partition: int = 200_000,
                    broadcast_max_nodes: int = 2_000_000) -> DataFrame:
    """``(node, component)`` after EXACTLY ``rounds`` synchronous min-label
    rounds — component(v) = min node id within v's ``rounds``-hop ball.

    The oracle-replayable face of :func:`connected_components`: a fixed
    round count (no convergence probe, no driver path, no star handoff)
    makes the computation a pure dataflow an ANSI-SQL oracle replays as
    ``rounds`` chained CTEs.
    When ``rounds`` ≥ the distance from each component's minimum-id node
    to its farthest member, the output IS connected components (tests pin
    round-R == round-R+1 on the target graph); either way the result is
    deterministic at any parallelism (min over ids commutes).

    Loop shape:

    * when the MEASURED node count fits ``broadcast_max_nodes`` the label
      table (the graph's node set — orders of magnitude narrower than the
      edge list) is BROADCAST into the per-round join, leaving the grouped
      min as the round's only shuffle, and that shuffle moves map-side
      partials (≤ one row per node per partition), never the exploded
      neighbor stream; the hint is size-GATED, never forced;
    * above the gate the loop falls back to a shuffle join with the
      symmetric edge list pre-partitioned (and persisted) on the join key
      ``v``, so only the narrow label table re-shuffles each round;
    * the loop's shuffle width is sized from the measured edge count and
      scoped to the loop (a fixed global width pays per-task scheduling
      overhead ~width×rounds times on small graphs);
    * ``localCheckpoint(eager=False)`` per round pins lineage at depth 1
      without forcing a job per round; the LAST round's checkpoint is
      eager and sweeps the whole chain in one job while the scoped width
      and the edge cache are still in effect."""
    spark = edges.sparkSession
    # canonical (least, greatest) distinct FIRST, symmetric explode AFTER:
    # the dedup shuffle moves half the rows of the explode-then-distinct
    # order (at web scale the distinct is the prep's dominant shuffle)
    sym = (
        edges.where(
            F.col(src).isNotNull() & F.col(dst).isNotNull()
            & (F.col(src) != F.col(dst))
        )
        .select(
            F.least(src, dst).alias("cu"), F.greatest(src, dst).alias("cv")
        )
        .distinct()
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("cu").alias("u"), F.col("cv").alias("v")),
                    F.struct(F.col("cv").alias("u"), F.col("cu").alias("v")),
                )
            ).alias("p")
        )
        .select("p.u", "p.v")
        .persist()
    )
    conf = spark.conf
    old_width = conf.get("spark.sql.shuffle.partitions")
    try:
        n_edges = sym.count()  # materializes the pin; sizes the loop width
        width = max(1, min(
            spark.sparkContext.defaultParallelism,
            -(-n_edges // rows_per_partition),
        ))
        conf.set("spark.sql.shuffle.partitions", str(width))
        comp = (
            sym.select(F.col("u").alias("node"))
            .distinct()
            .withColumn("component", F.col("node"))
            .localCheckpoint()
        )
        n_nodes = comp.count()  # cheap: reads the checkpoint
        bcast = n_nodes <= broadcast_max_nodes
        if not bcast:
            # huge-graph regime only: repartition the fat side ONCE so every
            # round's shuffle join reuses the layout edge-side-shuffle-free
            resym = sym.repartition("v").persist()
            resym.count()
            sym.unpersist()
            sym = resym
        for i in range(rounds):
            lab = comp.withColumnRenamed("node", "v")
            if bcast:
                lab = F.broadcast(lab)
            neighbor = (
                sym.join(lab, "v")
                .select(F.col("u").alias("node"), "component")
            )
            comp = (
                comp.unionByName(neighbor)
                .groupBy("node")
                .agg(F.min("component").alias("component"))
                # lineage pinned at depth 1; only the LAST round pays an
                # eager job, sweeping the lazy chain while caches hold
                .localCheckpoint(eager=i == rounds - 1)
            )
    finally:
        conf.set("spark.sql.shuffle.partitions", old_width)
        sym.unpersist()
    return comp


def minlabel_oracle_sql(edges_sql: str, rounds: int = 8,
                        src: str = "a", dst: str = "b") -> str:
    """ANSI-SQL replay of :func:`minlabel_rounds`: the same ``rounds``
    synchronous min-label rounds unrolled as chained CTEs over
    ``edges_sql`` (a query producing columns
    ``src, dst``).  Hash equality of the final (node, component) table
    proves the distributed loop round-for-round.

    Each round CTE references its predecessor exactly ONCE: the symmetric
    edge list carries a self-loop per node, so ``min(component) over
    neighbors-including-self`` is one join + one group-by (the first cut
    kept "self" as a second reference to ``r{{i-1}}`` — engines that
    inline CTEs re-evaluated the whole chain per reference, turning 8
    rounds into 2^8 evaluations; 360 s → 0.1 s at sf0.001)."""
    ctes = [
        f"""e_in AS ({edges_sql}),
    und AS (
        SELECT {src} AS u, {dst} AS v FROM e_in WHERE {src} != {dst}
        UNION
        SELECT {dst}, {src} FROM e_in WHERE {src} != {dst}
        UNION
        SELECT {src}, {src} FROM e_in WHERE {src} != {dst}
        UNION
        SELECT {dst}, {dst} FROM e_in WHERE {src} != {dst}
    ),
    r0 AS (SELECT DISTINCT u AS node, u AS component FROM und)"""
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""r{i} AS (
        SELECT e.u AS node, min(c.component) AS component
        FROM und e
        JOIN r{i - 1} c ON c.node = e.v
        GROUP BY e.u
    )"""
        )
    return "WITH " + ",\n    ".join(ctes) + f"\n    SELECT node, component FROM r{rounds}"
