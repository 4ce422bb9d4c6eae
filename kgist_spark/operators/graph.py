"""Whole-KG graph analytics: degree and path stats, triangle and
neighborhood measures, deterministic walks and negative samples, snapshot
churn, and the per-predicate schema profile.

None of these exists in the reference (GemsLab/KGist builds rules only).
``run_pipeline.py --schema-report`` calls :func:`predicate_schema` and
:func:`schema_violations`; the testdata query catalogue
(``plans/testdata_queries.py``) checks each operator against a DuckDB
replay, built by the ``*_oracle_sql`` next to it where one exists.

Shared discipline:

* output never depends on partitioning: scores are scaled int64 with
  truncating integer ``div`` (or one fixed-order float expression over
  integer sums), and sampling draws are md5 of the row, not RNG state — so
  results are bit-identical at any parallelism and hash-comparable with
  the SQL replay;
* hub skew is bounded by definition: pair and walk enumerations cap the
  junction/group degree as part of the operator's semantics (the oracle
  applies the same cap), and triangle enumeration orients edges by degree
  so wedges stay O(m^1.5) whatever the skew;
* broadcasts are gated on a measured count, never forced.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def path2_stats(triples: DataFrame) -> DataFrame:
    """Length-2 path counts per predicate pair: ``(pred1, pred2, n_paths)``
    where ``n_paths`` counts ordered edge pairs (e1, e2) with
    ``e1.obj == e2.subj``.

    The scale trick: the count NEVER enumerates paths.  A junction node
    with in-degree a (under pred1) and out-degree b (under pred2)
    contributes exactly ``a * b`` paths, so
    ``n_paths(p1, p2) = Σ_node in_deg_p1(node) * out_deg_p2(node)`` —
    two per-(node, pred) degree aggregations joined on the node and summed.
    The naive triples self-join materializes O(Σ a·b) rows (quadratic in
    junction-node degree — exactly the hub-skew blowup of a web KG, where
    one celebrity entity yields 10^10 pairs); this plan's join is over the
    DISTINCT (node, pred) degree tables, O(nodes·preds) rows, and the
    output is O(preds²).  The correctness gate runs the ENUMERATING
    self-join in DuckDB against this aggregation — hash equality proves
    the rewrite.

    int64 bound: ``n_paths`` per (pred1, pred2) must stay under 2^63 —
    ~9.2e18 length-2 paths, beyond any real KG's path count but reachable
    by adversarial hub constructions; the oracle's HUGEINT sum would
    surface such an overflow as a hash mismatch rather than silence it.
    """
    inn = triples.groupBy(
        F.col("obj").alias("node"), F.col("pred").alias("pred1")
    ).agg(F.count("*").alias("n_in"))
    out = triples.groupBy(
        F.col("subj").alias("node"), F.col("pred").alias("pred2")
    ).agg(F.count("*").alias("n_out"))
    return (
        inn.join(out, "node")
        .groupBy("pred1", "pred2")
        .agg(F.sum(F.col("n_in") * F.col("n_out")).alias("n_paths"))
    )


def pred_degree_stats(triples: DataFrame) -> DataFrame:
    """Per-(predicate, direction) degree stats: ``(pred, dir, n_edges,
    n_nodes, max_deg, avg_deg_x1000)`` — the planning table for skew
    handling (a pred with ``max_deg >> avg`` wants AQE skew hints before
    its join runs).

    One scan: both directions come from a single ``explode(array(...))``
    projection (a union of projections would re-execute the triples parent
    per direction — see the candidate-generation plan note), then two
    stacked aggregations, both with map-side partials.  ``avg_deg_x1000``
    is integer (milli-degree) so the row stays hash-exact."""
    both = triples.select(
        "pred",
        F.explode(
            F.array(
                F.struct(F.lit("out").alias("dir"), F.col("subj").alias("node")),
                F.struct(F.lit("in").alias("dir"), F.col("obj").alias("node")),
            )
        ).alias("x"),
    ).select("pred", F.col("x.dir").alias("dir"), F.col("x.node").alias("node"))
    per_node = both.groupBy("pred", "dir", "node").agg(F.count("*").alias("d"))
    return per_node.groupBy("pred", "dir").agg(
        F.sum("d").alias("n_edges"),
        F.count("*").alias("n_nodes"),
        F.max("d").alias("max_deg"),
        F.expr("cast(sum(d) * 1000 div count(*) as long)").alias("avg_deg_x1000"),
    )


def cooccur_edges(df: DataFrame, group_col: str, item_col: str,
                  max_group: int = 64, drop_stats=None) -> DataFrame:
    """Distinct undirected co-occurrence edges ``(a, b)`` between items
    sharing at least one group (parts co-ordered, entities co-mentioned,
    docs co-cited — the standard recsys/KG co-occurrence graph).

    A hot group contributes O(k²) pairs — the same quadratic blowup as a
    degenerate LSH bucket — so this delegates to
    :func:`kgist_spark.operators.minhash.candidate_pairs` with the group as
    the bucket: groups larger than ``max_group`` are sized and dropped
    BEFORE any per-group collection (spill-safe window count, single
    shuffle), and the drops ride an ``Observation`` on the result
    (``._drop_stats``) — never silent.  At web scale a celebrity group
    (one order/page/session touching 10⁶ items) would otherwise emit 10¹²
    pairs from one task."""
    items = df.select(
        F.col(item_col).alias("id"),
        F.lit(0).alias("band"),
        F.col(group_col).alias("bucket"),
    ).distinct()
    from kgist_spark.operators import minhash as MH

    return MH.candidate_pairs(items, max_bucket=max_group,
                              drop_stats=drop_stats)


def triangle_count(edges: DataFrame, a: str = "a", b: str = "b",
                   broadcast_max_edges: int = 5_000_000) -> DataFrame:
    """Exact triangle count of an undirected simple graph, as one row
    ``(n_nodes, n_edges, n_triangles)``.

    Degree orientation (the node-iterator bound): every edge is directed
    from its lower-(degree, id) endpoint to the higher one, wedges are
    enumerated by self-joining the ORIENTED edges on their source, and a
    wedge closes iff its two far endpoints are an edge (semi-join against
    the undirected edge set).  Out-degree under this orientation is
    O(√m), so wedge count is O(m^1.5) REGARDLESS of skew — a celebrity
    node of degree 10⁷ enumerates no wedges at all from its own
    adjacency (every neighbor orients INTO it); the naive neighbor
    self-join would emit 10¹⁴ wedge rows from that one key.  The oracle
    runs the naive enumeration at test scale — hash equality of the count
    proves the oriented rewrite.

    The closure join is the wedge stream's only wide op (|wedges| ≈ 30×
    |edges| on the sf0.1 co-order graph) — when the MEASURED edge count
    fits ``broadcast_max_edges`` the edge set broadcasts and the wedges
    never shuffle (size-gated,
    never forced — above the gate the join falls back to hash-shuffle,
    where AQE's skew split handles a hot wedge key)."""
    # normalize to id-ordered simple edges (callers may pass either
    # orientation; self-loops can't be in a triangle); the edge set is
    # consumed by FIVE plan branches (degree both endpoints, orientation,
    # the closure join, the edge count) — pin it once or an expensive
    # upstream (capped co-occurrence pair generation) re-executes per
    # branch; the count for the broadcast gate (and the output's n_edges)
    # reads the pinned data, not the upstream
    e = (
        edges.select(
            F.least(F.col(a), F.col(b)).alias("a"),
            F.greatest(F.col(a), F.col(b)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    m = e.count()
    # the degree table feeds THREE consumers (both orientation joins and
    # the node count) — pin it, or the 2|E|-row aggregation re-runs per
    # consumer; it is one row per node (narrower than the edges), so the
    # same measured gate that broadcasts e also lets the orientation joins
    # broadcast it, leaving the wedge self-join as the census's only
    # edge-scale shuffle
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
        .localCheckpoint()
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("degb"))
    if m <= broadcast_max_edges:
        da, db = F.broadcast(da), F.broadcast(db)
    a_first = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        e.join(da, "a").join(db, "b")
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        )
    )
    x, y = oriented.alias("x"), oriented.alias("y")
    wedges = (
        x.join(y, "src")
        .where(F.col("x.dst") < F.col("y.dst"))
        .select(F.col("x.dst").alias("a"), F.col("y.dst").alias("b"))
    )
    closure = F.broadcast(e) if m <= broadcast_max_edges else e
    tri = wedges.join(closure, ["a", "b"]).agg(
        F.count("*").alias("n_triangles")
    )
    return (
        deg.agg(F.count("*").alias("n_nodes"))
        .crossJoin(tri)
        .select("n_nodes", F.lit(m).cast("long").alias("n_edges"),
                "n_triangles")
    )


def clustering_coefficients(edges: DataFrame, a: str = "a", b: str = "b",
                            coeff_scale: int = 1_000_000,
                            broadcast_max_edges: int = 5_000_000) -> DataFrame:
    """Per-node triangle counts and local clustering coefficients of an
    undirected simple graph: ``(node, deg, n_tri, coeff_x1e6)`` with
    ``coeff = 2·T(v) / (deg(v)·(deg(v)−1))`` as an integer-DIV fixed-point
    (NULL when deg < 2 — the coefficient is undefined, no sentinels).

    The node-level refinement of :func:`triangle_count` (Watts & Strogatz
    1998's C_v): where the census answers "how clustered is the graph",
    this ranks individual entities — high-coefficient nodes in a KG
    co-occurrence graph sit inside cliquish communities (catalog
    families), low ones are bridges.  Same degree-oriented O(m^1.5) wedge
    enumeration, same size-gated broadcasts; the ONE extra cost vs the
    census is exploding each closed triangle to its 3 member rows before
    a grouped count (3 integer rows per triangle, map-side partials).
    Every closed wedge is one distinct triangle (exactly one triangle
    vertex sees both others oriented away), so no dedup pass is needed.
    The oracle ENUMERATES the naive 3-way self-join per node — hash
    equality proves both the oriented rewrite and the per-node explode.
    """
    e = (
        edges.select(
            F.least(F.col(a), F.col(b)).alias("a"),
            F.greatest(F.col(a), F.col(b)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    m = e.count()
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
        .localCheckpoint()
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("degb"))
    if m <= broadcast_max_edges:
        da, db = F.broadcast(da), F.broadcast(db)
    a_first = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        e.join(da, "a").join(db, "b")
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        )
    )
    x, y = oriented.alias("x"), oriented.alias("y")
    wedges = (
        x.join(y, "src")
        .where(F.col("x.dst") < F.col("y.dst"))
        .select("src", F.col("x.dst").alias("a"), F.col("y.dst").alias("b"))
    )
    closure = F.broadcast(e) if m <= broadcast_max_edges else e
    tri_members = (
        wedges.join(closure, ["a", "b"])
        .select(F.explode(F.array("src", "a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_tri"))
    )
    return (
        deg.join(tri_members, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce(F.col("n_tri"), F.lit(0)).alias("n_tri"),
            F.when(
                F.col("deg") >= 2,
                F.expr(
                    f"2 * coalesce(n_tri, 0) * {coeff_scale}"
                    " DIV (deg * (deg - 1))"
                ).cast("long"),
            ).alias("coeff_x1e6"),
        )
    )


def linkpred_ra(edges: DataFrame, a: str = "a", b: str = "b",
                max_junction_deg: int = 64, k: int = 50,
                scale: int = 1_000_000) -> DataFrame:
    """Resource-allocation link prediction (Zhou, Lü & Zhang 2009): for
    every NON-adjacent node pair sharing ≥1 common neighbor, score
    ``RA(a,b) = Σ_{z ∈ N(a)∩N(b)} 1/deg(z)`` — the top-``k`` rows
    ``(a, b, n_common, ra_x1e6)`` ordered by score (ties to the smaller
    pair).  The KG-completion companion to :func:`path2_stats`: path2
    counts what IS connected per predicate; this ranks which missing
    edges the neighborhood structure most strongly implies (candidate
    triples for a human-QA queue).

    Integer fixed-point: each junction contributes ``scale div deg(z)``
    (truncating div, positive operands — both engines agree), so the
    score SUM commutes and the row is hash-exact; RA is chosen over
    Adamic-Adar precisely because its hub discount is ``1/deg`` (exact in
    integers) rather than ``1/log deg`` (float, sum-order-sensitive).

    Scale shape: pairs are enumerated per JUNCTION ``z`` (wedge
    self-join on z's adjacency), so a degree-``d`` junction emits
    ``d(d-1)/2`` rows — the celebrity-hub quadratic.  Junctions with
    ``deg > max_junction_deg`` are excluded BY SEMANTICS (the filter is
    part of the operator's definition and the oracle applies it
    identically): a hub's per-pair contribution is ≤ ``scale/deg`` —
    vanishing exactly when the pair volume explodes — so the cutoff
    drops the quadratic cost where the signal is weakest.  Wedge volume
    is then ≤ ``max_junction_deg × m``; everything downstream is grouped
    map-side-partial sums, one anti-join against the (canonical) edge
    set, and a TakeOrderedAndProject top-k."""
    e = (
        edges.select(
            F.least(F.col(a), F.col(b)).alias("a"),
            F.greatest(F.col(a), F.col(b)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    junctions = deg.where(
        (F.col("deg") >= 2) & (F.col("deg") <= max_junction_deg)
    )
    # adjacency of junction nodes only: (z, nbr, deg_z)
    adj = (
        e.select(F.col("a").alias("z"), F.col("b").alias("nbr"))
        .unionAll(e.select(F.col("b").alias("z"), F.col("a").alias("nbr")))
        .join(junctions.withColumnRenamed("node", "z"), "z")
    )
    x, y = adj.alias("x"), adj.alias("y")
    wedges = (
        x.join(y, "z")
        .where(F.col("x.nbr") < F.col("y.nbr"))
        .select(
            F.col("x.nbr").alias("a"), F.col("y.nbr").alias("b"),
            F.expr(f"{scale} div x.deg").alias("c"),
        )
    )
    scored = (
        wedges.groupBy("a", "b")
        .agg(F.count("*").alias("n_common"), F.sum("c").alias("ra_x1e6"))
        .join(e, ["a", "b"], "left_anti")
    )
    return scored.orderBy(
        F.desc("ra_x1e6"), F.asc("a"), F.asc("b")
    ).limit(k)


def pred_reciprocity(triples: DataFrame) -> DataFrame:
    """Per-predicate reciprocity: ``(pred, n_pairs, n_reciprocal,
    reciprocity_x1e6)`` where ``n_pairs`` counts distinct directed
    (subj, obj) pairs and ``n_reciprocal`` those whose reverse pair also
    exists under the SAME predicate.

    The KG-QA companion to :func:`pred_degree_stats`: a predicate whose
    reciprocity is ~1 is symmetric in practice (sibling_of, borders) —
    candidate for canonicalizing to one direction before rule mining —
    while unexpected reciprocity in a functional predicate (capital_of
    both ways) is an extraction-bug signal worth a blame pass.

    One scan + one self-join ON THE DEDUPED pair set: pairs are distinct
    (pred, s, o) rows, the reverse probe is a flag-carrying left self-join
    keyed (pred, o, s), and the rollup is map-side-partial counts.  Join keys
    carry the predicate, so a hot predicate spreads over its pair space
    rather than one key; the fraction is integer DIV (hash-exact)."""
    pairs = (
        triples.select("pred", F.col("subj").alias("s"), F.col("obj").alias("o"))
        .where(F.col("s") != F.col("o"))
        .distinct()
        .localCheckpoint()
    )
    rev = pairs.select(
        "pred", F.col("o").alias("s"), F.col("s").alias("o"),
        F.lit(1).alias("has_rev"),
    )
    return (
        pairs.join(rev, ["pred", "s", "o"], "left")
        .groupBy("pred")
        .agg(
            F.count("*").alias("n_pairs"),
            F.coalesce(F.sum("has_rev"), F.lit(0)).alias("n_reciprocal"),
        )
        .select(
            "pred",
            "n_pairs",
            "n_reciprocal",
            F.expr("n_reciprocal * 1000000 DIV n_pairs")
            .cast("long")
            .alias("reciprocity_x1e6"),
        )
    )


def neighbor_jaccard(edges: DataFrame, a: str = "a", b: str = "b",
                     max_junction_deg: int = 64, k: int = 50,
                     scale: int = 1_000_000) -> DataFrame:
    """Neighborhood-Jaccard candidate pairs: for every NON-adjacent node
    pair sharing >= 1 common neighbor, ``jac = |N(a) & N(b)| / |N(a) | N(b)|``
    in integer fixed point (``n_common * scale div (deg_a + deg_b -
    n_common)`` — truncating div, positive operands), top-``k`` by
    ``(jac desc, a, b)``.  The structural entity-resolution signal for a
    constructed KG: two nodes whose neighborhoods almost coincide are
    duplicate-entity candidates for the canonicalization queue —
    complementary to :func:`linkpred_ra`, which ranks MISSING EDGES
    rather than MERGEABLE NODES.

    Common neighbors are counted through junctions with ``2 <= deg <=
    max_junction_deg`` BY SEMANTICS (identical in the oracle): a
    celebrity hub connecting everything to everything carries no
    resolution signal but emits d(d-1)/2 wedge rows, so the cap drops
    the quadratic cost exactly where the evidence is weakest.  The
    DENOMINATOR degrees are the full uncapped degrees, so the score is
    a conservative (lower-bound) Jaccard.

    Scale shape: identical to :func:`linkpred_ra` — wedge volume
    <= max_junction_deg x m, grouped map-side-partial counts, one
    anti-join against the canonical edge set, two broadcast-friendly
    degree joins, TakeOrderedAndProject top-k."""
    e = (
        edges.select(
            F.least(F.col(a), F.col(b)).alias("a"),
            F.greatest(F.col(a), F.col(b)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    junctions = deg.where(
        (F.col("deg") >= 2) & (F.col("deg") <= max_junction_deg)
    )
    adj = (
        e.select(F.col("a").alias("z"), F.col("b").alias("nbr"))
        .unionAll(e.select(F.col("b").alias("z"), F.col("a").alias("nbr")))
        .join(junctions.select("node").withColumnRenamed("node", "z"), "z")
    )
    x, y = adj.alias("x"), adj.alias("y")
    common = (
        x.join(y, "z")
        .where(F.col("x.nbr") < F.col("y.nbr"))
        .select(F.col("x.nbr").alias("a"), F.col("y.nbr").alias("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_common"))
        .join(e, ["a", "b"], "left_anti")
    )
    scored = (
        common.join(
            deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a")),
            "a",
        )
        .join(
            deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b")),
            "b",
        )
        .select(
            "a", "b", "n_common", "deg_a", "deg_b",
            F.expr(f"n_common * {scale} div (deg_a + deg_b - n_common)")
            .alias("jac_x1e6"),
        )
    )
    return scored.orderBy(
        F.desc("jac_x1e6"), F.asc("a"), F.asc("b")
    ).limit(k)


def neighbor_jaccard_oracle_sql(edges_sql: str, max_junction_deg: int = 64,
                                k: int = 50,
                                scale: int = 1_000_000) -> str:
    """DuckDB replay of :func:`neighbor_jaccard` — same canonical edge
    set, junction cap, uncapped denominator degrees, truncating div and
    ``(jac desc, a, b)`` cut."""
    return f"""
    WITH e AS (
        SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
        FROM ({edges_sql}) WHERE a != b
    ),
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
            SELECT a AS node FROM e UNION ALL SELECT b FROM e
        ) GROUP BY node
    ),
    adj AS (
        SELECT x.z, x.nbr FROM (
            SELECT a AS z, b AS nbr FROM e
            UNION ALL SELECT b, a FROM e
        ) x JOIN deg d ON d.node = x.z
        WHERE d.deg BETWEEN 2 AND {max_junction_deg}
    ),
    common AS (
        SELECT w.a, w.b, CAST(COUNT(*) AS BIGINT) AS n_common FROM (
            SELECT x.nbr AS a, y.nbr AS b
            FROM adj x JOIN adj y ON x.z = y.z AND x.nbr < y.nbr
        ) w
        LEFT JOIN e ON e.a = w.a AND e.b = w.b
        WHERE e.a IS NULL
        GROUP BY w.a, w.b
    )
    SELECT c.a, c.b, c.n_common,
           da.deg AS deg_a, db.deg AS deg_b,
           CAST(c.n_common * {scale}
                // (da.deg + db.deg - c.n_common) AS BIGINT) AS jac_x1e6
    FROM common c
    JOIN deg da ON da.node = c.a
    JOIN deg db ON db.node = c.b
    ORDER BY jac_x1e6 DESC, c.a ASC, c.b ASC
    LIMIT {k}
    """


def degree_assortativity(edges: DataFrame, a: str = "a", b: str = "b",
                         scale: int = 1_000_000) -> DataFrame:
    """Degree assortativity (Newman 2002) of the undirected simple graph:
    the Pearson correlation of endpoint degrees over edges, the
    one-number diagnostic that separates social-style graphs (hubs link
    to hubs, r > 0) from web/biology-style graphs (hubs link to leaves,
    r < 0) — on a constructed KG, a drift detector for the extraction
    mix (a crawl that suddenly yields assortative spam farms moves r).

    All per-edge work is INTEGER: canonical edge set, degree join on both
    endpoints, then four BIGINT sums (``m``, ``sum(da*db)``,
    ``sum(da+db)``, ``sum(da^2+db^2)``).  The correlation itself is ONE
    fixed-order double expression over those four scalars —
    ``r = (sjk/m - mu^2) / (ssq/2m - mu^2)`` with ``mu = ssum/2m`` —
    rounded to ``r_x1e6`` (same single-float-op discipline as
    event_drift: the sums commute exactly, the one float expression is
    evaluated once per ENGINE, not once per row).  A zero denominator
    (regular graph) yields a NULL score; callers filter like event_drift.
    Output: one row ``(m_edges, sjk, ssum, ssq, r_x1e6)`` — the raw sums
    ride along so the hash pins the integer substrate, not just the
    rounded float.

    Scale shape: two broadcast-friendly degree joins + one global
    4-column aggregate with map-side partials; no row explosion
    anywhere."""
    e = (
        edges.select(
            F.least(F.col(a), F.col(b)).alias("a"),
            F.greatest(F.col(a), F.col(b)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    j = (
        e.join(deg.select(F.col("node").alias("a"),
                          F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"),
                         F.col("deg").alias("db")), "b")
    )
    sums = j.agg(
        F.count("*").alias("m_edges"),
        F.sum(F.expr("da * db")).alias("sjk"),
        F.sum(F.expr("da + db")).alias("ssum"),
        F.sum(F.expr("da * da + db * db")).alias("ssq"),
    )
    r = (
        "(CAST(sjk AS DOUBLE) / m_edges"
        " - (CAST(ssum AS DOUBLE) / (2 * m_edges))"
        " * (CAST(ssum AS DOUBLE) / (2 * m_edges)))"
        " / (CAST(ssq AS DOUBLE) / (2 * m_edges)"
        " - (CAST(ssum AS DOUBLE) / (2 * m_edges))"
        " * (CAST(ssum AS DOUBLE) / (2 * m_edges)))"
    )
    den_pos = (
        "CAST(ssq AS DOUBLE) / (2 * m_edges)"
        " - (CAST(ssum AS DOUBLE) / (2 * m_edges))"
        " * (CAST(ssum AS DOUBLE) / (2 * m_edges)) > 0"
    )
    return sums.select(
        "m_edges", "sjk", "ssum", "ssq",
        F.expr(f"CASE WHEN {den_pos} THEN"
               f" CAST(round(({r}) * {scale}) AS BIGINT) END")
        .alias("r_x1e6"),
    )


def assortativity_oracle_sql(edges_sql: str,
                             scale: int = 1_000_000) -> str:
    """DuckDB replay of :func:`degree_assortativity` — identical integer
    sums and the IDENTICAL fixed-order float expression (same literal
    sequence, so both engines execute the same IEEE-754 op chain)."""
    r = (
        "(CAST(sjk AS DOUBLE) / m_edges"
        " - (CAST(ssum AS DOUBLE) / (2 * m_edges))"
        " * (CAST(ssum AS DOUBLE) / (2 * m_edges)))"
        " / (CAST(ssq AS DOUBLE) / (2 * m_edges)"
        " - (CAST(ssum AS DOUBLE) / (2 * m_edges))"
        " * (CAST(ssum AS DOUBLE) / (2 * m_edges)))"
    )
    den_pos = (
        "CAST(ssq AS DOUBLE) / (2 * m_edges)"
        " - (CAST(ssum AS DOUBLE) / (2 * m_edges))"
        " * (CAST(ssum AS DOUBLE) / (2 * m_edges)) > 0"
    )
    return f"""
    WITH e AS (
        SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
        FROM ({edges_sql}) WHERE a != b
    ),
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
            SELECT a AS node FROM e UNION ALL SELECT b FROM e
        ) GROUP BY node
    ),
    sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m_edges,
               CAST(SUM(da.deg * db.deg) AS BIGINT) AS sjk,
               CAST(SUM(da.deg + db.deg) AS BIGINT) AS ssum,
               CAST(SUM(da.deg * da.deg + db.deg * db.deg) AS BIGINT) AS ssq
        FROM e
        JOIN deg da ON da.node = e.a
        JOIN deg db ON db.node = e.b
    )
    SELECT m_edges, sjk, ssum, ssq,
           CASE WHEN {den_pos}
                THEN CAST(round(({r}) * {scale}) AS BIGINT) END AS r_x1e6
    FROM sums
    """


def random_walks(edges: DataFrame, src: str = "src", dst: str = "dst",
                 walk_len: int = 3, max_degree: int = 16,
                 salt: str = "walk",
                 broadcast_max_nodes: int = 2_000_000) -> DataFrame:
    """Deterministic random-walk corpus generation (DeepWalk, Perozzi et
    al. KDD 2014) — the KG -> embedding-training-data bridge: one walk per
    out-node, each step choosing the next hop by a seeded md5 draw, so the
    emitted corpus is BIT-REPLAYABLE in any engine with md5 (no RNG state,
    no order sensitivity — the draw depends only on ``(salt, start,
    step)``).  Output: ``(start, step, node)`` rows for steps
    ``0..walk_len`` (step 0 = the start itself); a walk reaching a node
    with no out-neighbors simply stops (no padding rows).

    Neighbor lists are capped at ``max_degree`` BY SEMANTICS in seeded md5
    order (hub adjacency is where walk corpora blow up; the md5 order is an
    unbiased fixed sample of each hub's neighbors, and the DuckDB oracle
    applies the identical cap) — the same semantic-cap discipline as
    `neighbor_jaccard`'s junction bound.

    Scale shape: adjacency is built ONCE (one grouped shuffle; arrays
    bounded at ``max_degree`` elements so a 10^8-degree hub stores 16
    neighbors, not 10^8), pinned with a localCheckpoint, and size-gate
    broadcast into every step join when the node count allows; each of the
    ``walk_len`` steps is one join of the (<= |out-nodes|-row) frontier
    against it — no corpus-scale window, no Python.  At 10^12 edges the
    frontier join shuffles on ``cur`` when the gate declines the
    broadcast; walk count scales by seeding MORE walks per node (vary
    ``salt``), each run an independent replayable corpus.
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")) \
        .where(F.col("s") != F.col("d")).distinct()
    h = F.md5(F.concat_ws("|", F.lit(salt), F.col("s"), F.col("d")))
    adj = (
        e.groupBy("s")
        .agg(F.array_sort(
            F.collect_list(F.struct(h.alias("h"), F.col("d").alias("d")))
        ).alias("sorted"))
        .select(
            F.col("s").alias("asrc"),
            F.transform(
                F.slice("sorted", 1, max_degree), lambda x: x["d"]
            ).alias("nbrs"),
        )
        .localCheckpoint()
    )
    adj_join = F.broadcast(adj) if adj.count() <= broadcast_max_nodes else adj
    frontier = adj.select(F.col("asrc").alias("start"),
                          F.col("asrc").alias("cur"))
    out = frontier.select(
        "start", F.lit(0).cast("long").alias("step"),
        F.col("cur").alias("node"),
    )
    for t in range(1, walk_len + 1):
        draw = F.conv(
            F.substring(
                F.md5(F.concat_ws("#", F.lit(salt), F.col("start"),
                                  F.lit(str(t)))),
                1, 8,
            ),
            16, 10,
        ).cast("long")
        frontier = (
            frontier.join(adj_join, frontier["cur"] == adj_join["asrc"])
            .select(
                "start",
                F.element_at(
                    "nbrs",
                    ((draw % F.size("nbrs")) + 1).cast("int"),
                ).alias("cur"),
            )
        )
        out = out.unionAll(frontier.select(
            "start", F.lit(t).cast("long").alias("step"),
            F.col("cur").alias("node"),
        ))
    return out


def random_walks_oracle_sql(edges_sql: str, walk_len: int = 3,
                            max_degree: int = 16,
                            salt: str = "walk") -> str:
    """DuckDB replay of :func:`random_walks`: identical md5-ordered capped
    adjacency lists, identical seeded per-step draw (first 8 md5 hex
    digits mod degree), steps chained as materialized CTEs."""
    parts = [f"""e AS MATERIALIZED (
        SELECT DISTINCT src AS s, dst AS d FROM ({edges_sql}) WHERE src != dst
    )""", f"""adj AS MATERIALIZED (
        SELECT s AS asrc,
               (list(d ORDER BY md5(concat('{salt}', '|', s, '|', d)), d))
                   [1:{max_degree}] AS nbrs
        FROM e GROUP BY s
    )""", "w0 AS (SELECT asrc AS start, asrc AS cur FROM adj)"]
    selects = ["SELECT start, CAST(0 AS BIGINT) AS step, cur AS node FROM w0"]
    for t in range(1, walk_len + 1):
        p = t - 1
        parts.append(f"""w{t} AS MATERIALIZED (
        SELECT w.start,
               a.nbrs[1 + CAST(CAST('0x' ||
                   substr(md5(concat('{salt}', '#', w.start, '#', '{t}')),
                          1, 8) AS BIGINT) % len(a.nbrs) AS INT)] AS cur
        FROM w{p} w JOIN adj a ON a.asrc = w.cur
    )""")
        selects.append(
            f"SELECT start, CAST({t} AS BIGINT) AS step, cur AS node FROM w{t}"
        )
    return (f"    WITH {', '.join(parts)}\n    "
            + "\n    UNION ALL ".join(selects))


def snapshot_diff(old: DataFrame, new: DataFrame,
                  churn_scale: int = 1_000_000) -> DataFrame:
    """Per-predicate churn between two KG snapshots (crawl N vs crawl
    N+1) — the monitoring table an incremental construction pipeline
    (streaming/construct.py) gets judged by: for each predicate,
    ``(pred, n_added, n_removed, n_kept, churn_x1e6)`` where churn is the
    integer-truncated ``(added + removed) * scale DIV old_size``
    (old_size = kept + removed; predicates NEW in this snapshot report
    the sentinel -1 — no base to divide by, and a NULL here would turn
    the int64 column float in pandas round-trips).

    Both inputs are ``(subj, pred, obj)`` triple sets.  Scale shape: one
    distinct per side (the snapshots may carry duplicates), ONE full outer
    join on the whole triple key (shuffle-partitioned on identical keys,
    so AQE coalesces; no broadcast assumption — both sides are
    corpus-scale), then a map-side-combining grouped count per predicate.
    Every output column is integer, hash-comparable."""
    o = old.select("subj", "pred", "obj").distinct() \
        .withColumn("_o", F.lit(1))
    n = new.select("subj", "pred", "obj").distinct() \
        .withColumn("_n", F.lit(1))
    j = o.join(n, ["subj", "pred", "obj"], "full_outer")
    agg = (
        j.groupBy("pred")
        .agg(
            F.sum(F.when(F.col("_o").isNull(), 1).otherwise(0))
            .alias("n_added"),
            F.sum(F.when(F.col("_n").isNull(), 1).otherwise(0))
            .alias("n_removed"),
            F.sum(F.when(F.col("_o").isNotNull() & F.col("_n").isNotNull(),
                         1).otherwise(0)).alias("n_kept"),
        )
    )
    return agg.select(
        "pred", "n_added", "n_removed", "n_kept",
        F.when(
            F.col("n_kept") + F.col("n_removed") > 0,
            F.expr(f"(n_added + n_removed) * {churn_scale}"
                   " DIV (n_kept + n_removed)"),
        ).otherwise(F.lit(-1)).cast("long").alias("churn_x1e6"),
    )


def snapshot_diff_oracle_sql(old_sql: str, new_sql: str,
                             churn_scale: int = 1_000_000) -> str:
    """DuckDB replay of :func:`snapshot_diff`: same distincts, same full
    outer join, same truncating-integer churn."""
    return f"""
    WITH o AS (SELECT DISTINCT subj, pred, obj FROM ({old_sql})),
    n AS (SELECT DISTINCT subj, pred, obj FROM ({new_sql})),
    j AS (
        SELECT COALESCE(o.pred, n.pred) AS pred,
               (o.subj IS NULL) AS added, (n.subj IS NULL) AS removed
        FROM o FULL OUTER JOIN n
          ON o.subj = n.subj AND o.pred = n.pred AND o.obj = n.obj
    ),
    agg AS (
        SELECT pred,
               CAST(SUM(CASE WHEN added THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_added,
               CAST(SUM(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_removed,
               CAST(SUM(CASE WHEN NOT added AND NOT removed THEN 1 ELSE 0
                        END) AS BIGINT) AS n_kept
        FROM j GROUP BY pred
    )
    SELECT pred, n_added, n_removed, n_kept,
           CAST(CASE WHEN n_kept + n_removed > 0
                     THEN (n_added + n_removed) * {churn_scale}
                          // (n_kept + n_removed)
                     ELSE -1 END AS BIGINT) AS churn_x1e6
    FROM agg
    """


def kg_sentences(triples: DataFrame, max_facts: int = 64) -> DataFrame:
    """Per-subject textual serialization of the KG — the "KG -> LLM
    training document" exporter (verbalized triples, the input format of
    KG-enhanced LM pretraining): for each subject, its facts as
    ``"subj pred obj"`` sentences joined in sorted order, capped at
    ``max_facts`` BY SEMANTICS (a 10^8-fact hub yields a readable
    document, not a gigabyte line; the cap keeps the lexicographically
    first sentences, replayed identically by the oracle).  Output:
    ``(subj, n_facts, n_facts_kept, text)`` — n_facts is the TRUE fact
    count so downstream weighting can see what the cap dropped.

    Scale shape: sentences are one projection; the cap is enforced with a
    rank-filter BEFORE any list materializes (`row_number` over the
    per-subject sort — sort-based and spillable, unlike `collect_list` on
    an unbounded group, the classic hub OOM), so `collect_list` only ever
    sees <= max_facts rows per subject; the true count rides the same
    window pass as a `count(*)` over the full frame."""
    from pyspark.sql.window import Window

    sent = triples.select(
        "subj",
        F.concat_ws(" ", "subj", "pred", "obj").alias("s"),
    ).distinct()
    w = Window.partitionBy("subj").orderBy("s")
    ranked = sent.select(
        "subj", "s",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(
            Window.partitionBy("subj")
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("n_facts"),
    )
    return (
        ranked.where(F.col("rn") <= max_facts)
        .groupBy("subj", "n_facts")
        .agg(
            F.count("*").alias("n_facts_kept"),
            F.concat_ws(". ", F.array_sort(F.collect_list("s")))
            .alias("text"),
        )
        .select("subj",
                F.col("n_facts").cast("long").alias("n_facts"),
                "n_facts_kept", "text")
    )


def kg_sentences_oracle_sql(triples_sql: str, max_facts: int = 64) -> str:
    """DuckDB replay of :func:`kg_sentences`: same distinct sentences,
    same rank cap, same sorted '. '-joined serialization."""
    return f"""
    WITH sent AS (
        SELECT DISTINCT subj, concat(subj, ' ', pred, ' ', obj) AS s
        FROM ({triples_sql})
    ),
    ranked AS (
        SELECT subj, s,
               row_number() OVER (PARTITION BY subj ORDER BY s) AS rn,
               COUNT(*) OVER (PARTITION BY subj) AS n_facts
        FROM sent
    )
    SELECT subj, CAST(n_facts AS BIGINT) AS n_facts,
           COUNT(*) AS n_facts_kept,
           string_agg(s, '. ' ORDER BY s) AS text
    FROM ranked WHERE rn <= {max_facts}
    GROUP BY subj, n_facts
    """


def predicate_schema(triples: DataFrame, labels: DataFrame) -> DataFrame:
    """Per-predicate domain/range type profile — the ontology-induction
    monitoring table a KG-construction pipeline reports after every crawl:
    for each ``(pred, side)`` (side ``'s'`` = subject/domain, ``'o'`` =
    object/range), the label distribution over that slot — total
    ``(triple, label)`` pairs, distinct types, the DOMINANT type and its
    share, and the Shannon entropy of the type distribution.  A predicate
    whose domain entropy jumps between snapshots is the classic signal of
    extractor drift (a pattern starting to fire on the wrong entity class);
    a near-zero entropy with a dominant share ≈ 1e6 is an induced schema
    constraint (``placed_by: order -> customer``).  Complements the
    (root_label, pred, dir, child_label) candidate_stats table (SURVEY J1):
    this is its single-slot MARGINAL plus concentration/entropy rollups —
    the report a human reads, not the rule-mining input.

    Determinism: entropy terms are fixed-point ints BEFORE summation
    (``round(1e6 * (c * log2(n/c)) / n)`` — ONE fixed-order float
    expression per (pred, side, label) row, the event_drift / lm_score
    discipline: the float runs once per vocabulary row, never per triple,
    and the cross-engine surface is a single log2+mul+div+round chain on
    exact-integer operands), so the per-slot sum is an order-free integer
    at any parallelism.  Dominance ties break to the lexicographically
    smallest label via an explicit (c DESC, label) row_number — replayed
    identically by the oracle.

    100 TB shape: the ONLY corpus-scale work is the explode (×2 rows) and
    the node-key join against ``labels`` (shuffle join, AQE-sized — labels
    are corpus-scale too, never broadcast); the grouped count collapses
    map-side to ≤ |preds| × 2 × |labels| rows, and every window/rollup
    after that runs on the vocabulary-sized table."""
    pairs = (
        triples.select(
            "pred",
            F.explode(
                F.array(
                    F.struct(F.lit("s").alias("side"), F.col("subj").alias("node")),
                    F.struct(F.lit("o").alias("side"), F.col("obj").alias("node")),
                )
            ).alias("sn"),
        )
        .select("pred", F.col("sn.side").alias("side"), F.col("sn.node").alias("node"))
        .join(labels, "node")
    )
    ct = pairs.groupBy("pred", "side", "label").agg(F.count("*").alias("c"))
    w = Window.partitionBy("pred", "side")
    wo = Window.partitionBy("pred", "side").orderBy(F.desc("c"), F.asc("label"))
    tot = ct.withColumn("n", F.sum("c").over(w)).withColumn(
        "rn", F.row_number().over(wo)
    )
    return tot.groupBy("pred", "side").agg(
        F.max("n").alias("n_pairs"),
        F.count("*").alias("n_types"),
        F.max(F.when(F.col("rn") == 1, F.col("label"))).alias("top_label"),
        F.expr(
            "CAST(max(CASE WHEN rn = 1 THEN c END) * 1000000 div max(n) AS BIGINT)"
        ).alias("top_share_x1e6"),
        F.expr(
            "SUM(CAST(round(1000000 * (c * log2(CAST(n AS DOUBLE) / c)) / n)"
            " AS BIGINT))"
        ).alias("entropy_x1e6"),
    )


def predicate_schema_oracle_sql(triples_sql: str, labels_sql: str) -> str:
    """DuckDB replay of :func:`predicate_schema`: identical pair
    construction, identical fixed-point entropy-term expression, identical
    (c DESC, label) dominance tie-break."""
    return f"""
    WITH t AS ({triples_sql}), l AS ({labels_sql}),
    pairs AS (
        SELECT t.pred, 's' AS side, l.label FROM t JOIN l ON t.subj = l.node
        UNION ALL
        SELECT t.pred, 'o' AS side, l.label FROM t JOIN l ON t.obj = l.node
    ),
    ct AS (
        SELECT pred, side, label, COUNT(*) AS c
        FROM pairs GROUP BY pred, side, label
    ),
    tot AS (
        SELECT pred, side, label, c,
               CAST(SUM(c) OVER (PARTITION BY pred, side) AS BIGINT) AS n,
               ROW_NUMBER() OVER (PARTITION BY pred, side
                                  ORDER BY c DESC, label) AS rn
        FROM ct
    )
    SELECT pred, side,
           MAX(n) AS n_pairs,
           COUNT(*) AS n_types,
           MAX(CASE WHEN rn = 1 THEN label END) AS top_label,
           CAST(MAX(CASE WHEN rn = 1 THEN c END) * 1000000 // MAX(n)
                AS BIGINT) AS top_share_x1e6,
           CAST(SUM(CAST(round(1000000 * (c * log2(CAST(n AS DOUBLE) / c)) / n)
                         AS BIGINT)) AS BIGINT) AS entropy_x1e6
    FROM tot GROUP BY pred, side
    """


#: dominance share above which a (pred, side) slot is treated as an
#: induced schema constraint (0.9 in fixed-point millionths)
SCHEMA_MIN_SHARE_X1E6 = 900_000


def schema_violations(triples: DataFrame, labels: DataFrame,
                      min_share_x1e6: int = SCHEMA_MIN_SHARE_X1E6) -> DataFrame:
    """Induced-constraint violation audit — the KG *cleaning* table the
    schema profile feeds: a (pred, side) slot whose dominant type COVERS
    ``min_share_x1e6`` of its labeled occurrences becomes an induced
    constraint (``placed_by``'s subject is an ``order``), and every
    triple-slot occurrence whose node is labeled but lacks the expected
    type counts as a violation — the schema-based complement of the MDL
    anomaly scorer (`operators/anomaly.py` ranks edges against learned
    rules; this ranks them against induced type signatures, no model fit
    needed).

    Coverage, not pair share: multi-label nodes dilute the
    :func:`predicate_schema` pair marginal (an ``order`` node carrying 3
    labels caps any label's pair share at ~1/3), so the constraint test
    here is "what fraction of labeled slot OCCURRENCES have this label"
    — 1.0 for ``placed_by -> order`` however many other labels orders
    carry.  Unlabeled slot nodes are excluded (no evidence either way);
    ``n_checked`` counts labeled occurrences only.  The gate compares
    multiplicatively (``c * 1e6 >= min_share * n``) so no truncating-div
    rounding sits on the threshold edge.

    Output: ``(pred, side, expected_label, n_checked, n_violations,
    viol_rate_x1e6)`` — all integer, truncating-div rate.

    100 TB shape: one grouped count per (pred, side, node) — corpus-scale
    with map-side combine — then a node-key label join; everything after
    runs on vocabulary-sized tables (per-label occurrence sums, a
    window over ≤ |preds|×2×|labels| rows)."""
    pairs = (
        triples.select(
            "pred",
            F.explode(
                F.array(
                    F.struct(F.lit("s").alias("side"), F.col("subj").alias("node")),
                    F.struct(F.lit("o").alias("side"), F.col("obj").alias("node")),
                )
            ).alias("sn"),
        )
        .select("pred", F.col("sn.side").alias("side"), F.col("sn.node").alias("node"))
    )
    occ = pairs.groupBy("pred", "side", "node").agg(F.count("*").alias("k"))
    per_label = (
        occ.join(labels, "node")
        .groupBy("pred", "side", "label")
        .agg(F.sum("k").alias("c_occ"))
    )
    totals = (
        occ.join(labels.select("node").distinct(), "node")
        .groupBy("pred", "side")
        .agg(F.sum("k").alias("n_checked"))
    )
    ranked = per_label.join(totals, ["pred", "side"]).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("pred", "side").orderBy(
                F.desc("c_occ"), F.asc("label")
            )
        ),
    )
    return (
        ranked.where(
            (F.col("rn") == 1)
            & (F.col("c_occ") * 1_000_000 >= min_share_x1e6 * F.col("n_checked"))
        )
        .select(
            "pred",
            "side",
            F.col("label").alias("expected_label"),
            F.col("n_checked").cast("long").alias("n_checked"),
            (F.col("n_checked") - F.col("c_occ")).cast("long").alias(
                "n_violations"
            ),
            F.expr(
                "CAST((n_checked - c_occ) * 1000000 div n_checked AS BIGINT)"
            ).alias("viol_rate_x1e6"),
        )
    )


def schema_violations_oracle_sql(triples_sql: str, labels_sql: str,
                                 min_share_x1e6: int = SCHEMA_MIN_SHARE_X1E6) -> str:
    """DuckDB replay of :func:`schema_violations`: identical occurrence
    counting, coverage ranking, multiplicative gate, and truncating rate."""
    return f"""
    WITH t AS ({triples_sql}), l AS ({labels_sql}),
    occ AS (
        SELECT pred, side, node, COUNT(*) AS k FROM (
            SELECT pred, 's' AS side, subj AS node FROM t
            UNION ALL
            SELECT pred, 'o' AS side, obj AS node FROM t
        ) GROUP BY pred, side, node
    ),
    per_label AS (
        SELECT o.pred, o.side, l.label, CAST(SUM(o.k) AS BIGINT) AS c_occ
        FROM occ o JOIN l ON o.node = l.node
        GROUP BY o.pred, o.side, l.label
    ),
    totals AS (
        SELECT o.pred, o.side, CAST(SUM(o.k) AS BIGINT) AS n_checked
        FROM occ o JOIN (SELECT DISTINCT node FROM l) ln ON o.node = ln.node
        GROUP BY o.pred, o.side
    ),
    ranked AS (
        SELECT p.pred, p.side, p.label, p.c_occ, t2.n_checked,
               ROW_NUMBER() OVER (PARTITION BY p.pred, p.side
                                  ORDER BY p.c_occ DESC, p.label) AS rn
        FROM per_label p JOIN totals t2
          ON p.pred = t2.pred AND p.side = t2.side
    )
    SELECT pred, side, label AS expected_label,
           n_checked,
           n_checked - c_occ AS n_violations,
           CAST((n_checked - c_occ) * 1000000 // n_checked AS BIGINT)
               AS viol_rate_x1e6
    FROM ranked
    WHERE rn = 1 AND c_occ * 1000000 >= {min_share_x1e6} * n_checked
    """


def _dense_node_index(nodes: DataFrame, salt: str,
                      bucket_hex: int = 2) -> DataFrame:
    """``(node, idx)`` with idx a dense 0..n-1 numbering in ``(md5(salt |
    node), node)`` order — the two-phase distributed prefix pattern of
    `operators/pack.py::pack_layout` applied to nodes: the md5-prefix
    buckets the total order into 16^k contiguous ranges, per-bucket
    counts get offsets from a parameter-bounded window, intra-bucket
    row_numbers run partitioned and spillable.  The oracle collapses to
    the ONE global ROW_NUMBER this must reproduce."""
    h = F.md5(F.concat(F.lit(salt), F.col("node")))
    # lazy lineage pin: `base` feeds BOTH the bucket-count branch and the
    # final intra-bucket numbering join — unpinned, the (corpus-scale)
    # upstream node derivation would recompute once per reference (the
    # kg_negatives plan showed 54 Exchanges before this pin)
    base = nodes.select("node", h.alias("h"),
                        F.substring(h, 1, bucket_hex).alias("bkt")
                        ).localCheckpoint(eager=False)
    per_bkt = base.groupBy("bkt").agg(F.count("*").alias("cnt"))
    offs = per_bkt.select(
        "bkt",
        (F.sum("cnt").over(
            Window.orderBy("bkt").rowsBetween(
                Window.unboundedPreceding, Window.currentRow)
        ) - F.col("cnt")).alias("off"),
    )
    wi = Window.partitionBy("bkt").orderBy("h", "node")
    return (
        base.join(F.broadcast(offs), "bkt")
        .select(
            "node",
            (F.col("off") + F.row_number().over(wi) - 1).cast("long").alias("idx"),
        )
    )


def negative_samples(triples: DataFrame, n_neg: int = 2,
                     salt: str = "neg", corrupt: str = "tail") -> DataFrame:
    """Filtered corrupt-tail negative sampling — the training-pair
    generator for KG-embedding losses (TransE/DistMult-style margin and
    NCE objectives need k corrupted triples per true triple): for each
    ``(subj, pred, obj)`` and ``k_idx in 1..n_neg``, replace the tail
    with a node drawn UNIFORMLY and DETERMINISTICALLY from the node set
    (md5 of ``(salt, triple, k_idx)`` mod n — no RNG state, replayable at
    any parallelism; more/other draws = other salts, the kg_walks
    convention), then FILTER drawn corruptions that are true edges (the
    "filtered" protocol — unfiltered negatives teach the model to score
    true facts low).  Dropped rows are visible as missing k_idx values,
    so a loader can re-draw with another salt rather than silently train
    on fewer negatives.

    The node set is indexed densely by the two-phase md5-prefix prefix
    sum (no single-partition global window — the pack_layout cliff
    dodge); the draw reaches its node through an AQE-sized equi-join on
    the index (corpus-scale both sides, never broadcast), and the
    filter is one anti-join on the triple key.

    ``corrupt`` picks the replaced slot — ``'tail'`` (the default;
    output column ``neg_obj``) or ``'head'`` (``neg_subj``; the filter
    then checks ``(neg_subj, pred, obj)``).  The standard protocol draws
    both 50/50; the head path derives its draws from a distinct salt so
    the two corruption streams are independent, and the tail path is
    byte-identical to the single-sided operator.

    Output: ``(subj, pred, obj, k_idx, neg_obj | neg_subj)``."""
    if corrupt not in ("tail", "head"):
        raise ValueError("corrupt must be 'tail' or 'head'")
    eff_salt = salt if corrupt == "tail" else salt + ":h"
    nodes = (
        triples.select(F.col("subj").alias("node"))
        .unionAll(triples.select(F.col("obj").alias("node")))
        .distinct()
    )
    # `idx` is read twice (the n_nodes count and the draw join) — pin it
    # so the index builds once per action
    idx = _dense_node_index(nodes, eff_salt).localCheckpoint(eager=False)
    n_nodes = idx.agg(F.count("*").alias("n_nodes"))
    drawn = (
        triples.crossJoin(F.broadcast(n_nodes))
        .select(
            "subj", "pred", "obj",
            F.explode(
                F.sequence(F.lit(1).cast("long"), F.lit(n_neg).cast("long"))
            ).alias("k_idx"),
            F.col("n_nodes"),
        )
        .withColumn(
            "draw",
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("|", F.lit(eff_salt), F.col("subj"),
                                      F.col("pred"), F.col("obj"),
                                      F.col("k_idx").cast("string"))),
                    1, 15,
                ), 16, 10,
            ).cast("long") % F.col("n_nodes"),
        )
    )
    neg_col = "neg_obj" if corrupt == "tail" else "neg_subj"
    withneg = (
        drawn.join(idx, drawn["draw"] == idx["idx"])
        .select("subj", "pred", "obj", "k_idx",
                F.col("node").alias(neg_col))
    )
    true_edges = triples.select(
        F.col("subj").alias("ts"), F.col("pred").alias("tp"),
        F.col("obj").alias("tn"),
    ).distinct()
    if corrupt == "tail":
        cond = (
            (F.col("subj") == F.col("ts")) & (F.col("pred") == F.col("tp"))
            & (F.col("neg_obj") == F.col("tn"))
        )
    else:
        cond = (
            (F.col("neg_subj") == F.col("ts"))
            & (F.col("pred") == F.col("tp"))
            & (F.col("obj") == F.col("tn"))
        )
    return withneg.join(true_edges, cond, "left_anti")


def negative_samples_oracle_sql(triples_sql: str, n_neg: int = 2,
                                salt: str = "neg",
                                corrupt: str = "tail") -> str:
    """DuckDB replay of :func:`negative_samples`: the dense index
    collapses to ONE global ROW_NUMBER over the identical ``(md5, node)``
    order (the two-phase plan must reproduce it), draws and the filtered
    anti-join replay verbatim."""
    eff_salt = salt if corrupt == "tail" else salt + ":h"
    neg_col = "neg_obj" if corrupt == "tail" else "neg_subj"
    if corrupt == "tail":
        notexists = ("t.subj = w.subj AND t.pred = w.pred"
                     " AND t.obj = w.neg_obj")
    else:
        notexists = ("t.subj = w.neg_subj AND t.pred = w.pred"
                     " AND t.obj = w.obj")
    return f"""
    WITH t AS ({triples_sql}),
    nodes AS (
        SELECT DISTINCT node FROM (
            SELECT subj AS node FROM t UNION ALL SELECT obj FROM t
        )
    ),
    idx AS (
        SELECT node,
               ROW_NUMBER() OVER (ORDER BY md5('{eff_salt}' || node), node) - 1
                   AS idx
        FROM nodes
    ),
    n AS (SELECT COUNT(*) AS n_nodes FROM idx),
    drawn AS (
        SELECT subj, pred, obj, k_idx,
               CAST(('0x' || substr(md5('{eff_salt}' || '|' || subj || '|' ||
                         pred || '|' || obj || '|' || CAST(k_idx AS STRING)),
                     1, 15)) AS BIGINT) % (SELECT n_nodes FROM n) AS draw
        FROM t CROSS JOIN
             (SELECT unnest(range(1, {n_neg} + 1)) AS k_idx) ks
    ),
    withneg AS (
        SELECT d.subj, d.pred, d.obj, d.k_idx, i.node AS {neg_col}
        FROM drawn d JOIN idx i ON d.draw = i.idx
    )
    SELECT w.* FROM withneg w
    WHERE NOT EXISTS (
        SELECT 1 FROM t WHERE {notexists}
    )
    """


def schema_drift(old_triples: DataFrame, new_triples: DataFrame,
                 labels: DataFrame) -> DataFrame:
    """Schema-profile drift between two KG snapshots — the alarm table
    :func:`predicate_schema`'s docstring promises ("a predicate whose
    domain entropy jumps between snapshots is the classic extractor
    -drift signal"), materialized: both snapshots profiled with the SAME
    label table, full-outer-joined per (pred, side), emitting the
    entropy delta and whether the dominant type CHANGED (the hard alarm:
    the slot's induced constraint flipped).

    ``status`` ∈ {'both', 'old_only', 'new_only'} keeps one-sided slots
    visible (a vanished predicate is itself drift); their numeric fields
    carry the sentinel ``-1`` / empty-string tops and ``d_entropy = 0``
    so every column stays NULL-free integer/string (a NULL int goes
    float through pandas — the funnel lesson, applied engine-wide).

    Scale shape: two runs of the schema profile (each one explode + one
    node join + vocabulary-sized rollups); the drift join itself runs on
    two ≤ |preds|×2 tables."""
    o = predicate_schema(old_triples, labels).select(
        "pred", "side",
        F.col("entropy_x1e6").alias("old_entropy_x1e6"),
        F.col("top_label").alias("old_top"),
    )
    n = predicate_schema(new_triples, labels).select(
        "pred", "side",
        F.col("entropy_x1e6").alias("new_entropy_x1e6"),
        F.col("top_label").alias("new_top"),
    )
    j = o.join(n, ["pred", "side"], "full_outer")
    both = F.col("old_entropy_x1e6").isNotNull() & F.col(
        "new_entropy_x1e6"
    ).isNotNull()
    return j.select(
        "pred", "side",
        F.when(both, F.lit("both"))
        .when(F.col("old_entropy_x1e6").isNotNull(), F.lit("old_only"))
        .otherwise(F.lit("new_only")).alias("status"),
        F.coalesce("old_entropy_x1e6", F.lit(-1)).cast("long").alias(
            "old_entropy_x1e6"),
        F.coalesce("new_entropy_x1e6", F.lit(-1)).cast("long").alias(
            "new_entropy_x1e6"),
        F.when(both, F.col("new_entropy_x1e6") - F.col("old_entropy_x1e6"))
        .otherwise(F.lit(0)).cast("long").alias("d_entropy_x1e6"),
        F.coalesce("old_top", F.lit("")).alias("old_top"),
        F.coalesce("new_top", F.lit("")).alias("new_top"),
        (both & (F.col("old_top") != F.col("new_top"))).alias("top_changed"),
    )


def schema_drift_oracle_sql(old_sql: str, new_sql: str,
                            labels_sql: str) -> str:
    """DuckDB replay of :func:`schema_drift`: two
    :func:`predicate_schema_oracle_sql` profiles full-outer-joined with
    the identical sentinel/COALESCE discipline."""
    o = predicate_schema_oracle_sql(old_sql, labels_sql)
    n = predicate_schema_oracle_sql(new_sql, labels_sql)
    return f"""
    WITH o AS ({o}), n AS ({n}),
    j AS (
        SELECT COALESCE(o.pred, n.pred) AS pred,
               COALESCE(o.side, n.side) AS side,
               o.entropy_x1e6 AS oe, n.entropy_x1e6 AS ne,
               o.top_label AS ot, n.top_label AS nt
        FROM o FULL OUTER JOIN n
          ON o.pred = n.pred AND o.side = n.side
    )
    SELECT pred, side,
           CASE WHEN oe IS NOT NULL AND ne IS NOT NULL THEN 'both'
                WHEN oe IS NOT NULL THEN 'old_only'
                ELSE 'new_only' END AS status,
           CAST(COALESCE(oe, -1) AS BIGINT) AS old_entropy_x1e6,
           CAST(COALESCE(ne, -1) AS BIGINT) AS new_entropy_x1e6,
           CAST(CASE WHEN oe IS NOT NULL AND ne IS NOT NULL
                     THEN ne - oe ELSE 0 END AS BIGINT) AS d_entropy_x1e6,
           COALESCE(ot, '') AS old_top,
           COALESCE(nt, '') AS new_top,
           (oe IS NOT NULL AND ne IS NOT NULL AND ot <> nt) AS top_changed
    FROM j
    """


def metapath_topk(triples: DataFrame, path: list, k: int = 50,
                  max_junction_deg: int = 1024) -> DataFrame:
    """Meta-path instance counting (PathSim, Sun et al. VLDB 2011 — the
    heterogeneous-network similarity primitive): count the instances of a
    typed relation path between its endpoint pairs and return the top-k
    — ``(start, end, n_paths)``.  ``path`` is an ordered list of
    ``(pred, 'fwd' | 'rev')`` steps; e.g. ``[('placed_by', 'rev'),
    ('contains_part', 'fwd'), ('supplied_by', 'fwd')]`` walks
    customer ← order → part → supplier: "which suppliers does this
    customer's order book depend on, how heavily" — the KG-analytics
    question a 2-hop pred-pair census (X10) can't answer because it
    forgets endpoints.

    Junction discipline (the linkpred/neighbor_jaccard semantics): at
    every join step, junction nodes whose step out-degree exceeds
    ``max_junction_deg`` are EXCLUDED — a 10^6-degree hub contributes
    quadratic path volume and no similarity signal; the oracle applies
    the identical cap, so the cap is part of the operator's semantics,
    not a silent truncation.  Top-k orders ``(n_paths DESC, start,
    end)`` — deterministic, TakeOrderedAndProject (bounded heaps, no
    global sort).

    Scale shape: each step is one equi-join whose volume is bounded by
    ``max_junction_deg × |previous frontier|``; the endpoint count
    collapses map-side; per-step degree tables aggregate from the
    step's OWN edges only."""
    def step_edges(pred, direction):
        e = triples.where(F.col("pred") == pred)
        if direction == "fwd":
            return e.select(F.col("subj").alias("u"), F.col("obj").alias("v"))
        return e.select(F.col("obj").alias("u"), F.col("subj").alias("v"))

    first = step_edges(*path[0])
    cur = first.select(F.col("u").alias("start"), F.col("v").alias("cur"))
    for pred, direction in path[1:]:
        e = step_edges(pred, direction)
        ok = (
            e.groupBy("u").agg(F.count("*").alias("d"))
            .where(F.col("d") <= max_junction_deg)
            .select("u")
        )
        e = e.join(ok, "u", "leftsemi")
        cur = (
            cur.join(e, cur["cur"] == e["u"])
            .select("start", F.col("v").alias("cur"))
        )
    return (
        cur.groupBy(F.col("start"), F.col("cur").alias("end"))
        .agg(F.count("*").alias("n_paths"))
        .orderBy(F.desc("n_paths"), F.asc("start"), F.asc("end"))
        .limit(k)
    )


def metapath_oracle_sql(triples_sql: str, path: list, k: int = 50,
                        max_junction_deg: int = 1024) -> str:
    """DuckDB replay of :func:`metapath_topk`: identical step edges,
    identical junction cap, identical (n DESC, start, end) top-k."""
    def step_sql(i, pred, direction):
        cols = ("subj AS u, obj AS v" if direction == "fwd"
                else "obj AS u, subj AS v")
        return (f"e{i} AS (SELECT {cols} FROM t WHERE pred = '{pred}')")

    ctes = [f"t AS MATERIALIZED ({triples_sql})"]
    for i, (pred, direction) in enumerate(path):
        ctes.append(step_sql(i, pred, direction))
        if i > 0:
            ctes.append(
                f"""ok{i} AS (
        SELECT u FROM e{i} GROUP BY u HAVING COUNT(*) <= {max_junction_deg}
    )"""
            )
    ctes.append("p0 AS (SELECT u AS start, v AS cur FROM e0)")
    for i in range(1, len(path)):
        ctes.append(
            f"""p{i} AS (
        SELECT p.start, e.v AS cur
        FROM p{i - 1} p
        JOIN e{i} e ON p.cur = e.u
        JOIN ok{i} o ON e.u = o.u
    )"""
        )
    last = len(path) - 1
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"""
    SELECT start, cur AS "end", CAST(COUNT(*) AS BIGINT) AS n_paths
    FROM p{last} GROUP BY start, cur
    ORDER BY n_paths DESC, start, "end" LIMIT {k}
    """
    )
