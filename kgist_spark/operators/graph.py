"""KG schema report: the per-predicate domain/range schema profile and the
schema violations it induces.

Neither exists in the reference (GemsLab/KGist builds rules only).
``run_pipeline.py --schema-report`` calls :func:`predicate_schema` and
:func:`schema_violations`; the testdata query catalogue
(``plans/testdata_queries.py``) checks each against the DuckDB replay
built by the ``*_oracle_sql`` next to it.

Output never depends on partitioning: rates are scaled int64 with
truncating integer ``div``, and the entropy is one fixed-order float
expression per vocabulary row, fixed-pointed before it is summed, so
results are bit-identical at any parallelism and hash-comparable with the
SQL replay.  No join is forced to broadcast; AQE sizes each one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


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
    expression per (pred, side, label) row: the float runs once per
    vocabulary row, never per triple, and the cross-engine surface is a
    single log2+mul+div+round chain on exact-integer operands), so the
    per-slot sum is an order-free integer at any parallelism.  Dominance
    ties break to the lexicographically smallest label via an explicit
    (c DESC, label) row_number — replayed identically by the oracle.

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
