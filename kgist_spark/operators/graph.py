"""KG monitoring tables: per-predicate snapshot churn, the per-predicate
domain/range schema profile, the schema violations it induces and its
drift between snapshots, and top-k meta-path instance counts.

None of these exists in the reference (GemsLab/KGist builds rules only).
``run_pipeline.py --schema-report`` calls :func:`predicate_schema` and
:func:`schema_violations`; the testdata query catalogue
(``plans/testdata_queries.py``) checks each operator against the DuckDB
replay built by the ``*_oracle_sql`` next to it.

Output never depends on partitioning: rates are scaled int64 with
truncating integer ``div``, and the entropy is one fixed-order float
expression per vocabulary row, fixed-pointed before it is summed, so
results are bit-identical at any parallelism and hash-comparable with the
SQL replay.  :func:`metapath_topk` caps junction degree as part of its
semantics (the replay applies the same cap).  No join is forced to
broadcast; AQE sizes each one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


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
    question a 2-hop predicate-pair count can't answer because it
    forgets endpoints.

    Junction discipline: at
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
