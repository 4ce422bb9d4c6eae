"""Distributed batch anomaly scoring (Q1/Q2 at scale).

Scores EVERY edge of a triples table against a fitted model in one shot,
reproducing the reference's per-edge semantics (GemsLab/KGist
``anomaly_detector.py:40-83``) as joins + one aggregation:

    score(s, p, o) = [eid not covered] · L(A-)/(m - |covered|)
                   + blame(s, p) + blame(o, p)

    blame(n, p) = Σ over rules g with root(g) ⊆ labels(n), p ∈ preds(g),
                  n ∉ heads(g) of  L_binom(assertions, exceptions)/exceptions

The model-side tables (rule roots / preds / heads / per-exception bits) are
tiny (O(|rules|·avg heads)) and broadcast; the applicability test
"root(g) ⊆ labels(n)" is a join + group-by-having count == |root| — the
powerset loop of the reference collapses into a subset check.  Ranking =
``orderBy(desc(score))``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgist_spark.functions.ir import RuleTree
from kgist_spark.oracle.anomaly import AnomalyScorer
from kgist_spark.oracle.engine import SummaryModel


def model_blame_tables(spark: SparkSession, model: SummaryModel):
    """Build the broadcastable model-side tables, in the source (string)
    vocabulary regardless of idify.  Returns (roots, preds, heads, stats)."""
    index = model.index
    scorer = AnomalyScorer(model)

    to_label = (lambda l: index.id_to_label[l]) if index.idify else (lambda l: l)
    to_pred = (lambda p: index.id_to_pred[p]) if index.idify else (lambda p: p)
    to_node = (lambda n: index.id_to_node[n]) if index.idify else (lambda n: n)

    roots, preds, heads, stats = [], [], [], []
    for rid, rule in enumerate(model.rules):
        root = rule.root if isinstance(rule, RuleTree) else rule[0]
        n_assert, n_exc, bits = scorer.rule_exception_bits(rule)
        stats.append((rid, len(root), bits / n_exc if n_exc else 0.0))
        for idx, label in enumerate(root):
            roots.append((rid, to_label(label), idx))
        for p in scorer._rule_preds(rule):
            preds.append((rid, to_pred(p)))
        for h in scorer._rule_heads(rule):
            heads.append((rid, to_node(h)))
    return (
        spark.createDataFrame(roots, "rid int, label string, root_idx int"),
        spark.createDataFrame(preds, "rid int, pred string"),
        spark.createDataFrame(stats, "rid int, root_size int, bits_per_exception double"),
        spark.createDataFrame(heads, "rid int, node string"),
    )


def node_labels_df(spark: SparkSession, model: SummaryModel) -> DataFrame:
    """(node, label, pos) rows from the fitted index (string vocabulary);
    ``pos`` preserves the node's label-tuple order, which the reference's
    blame applicability test depends on."""
    index = model.index
    to_label = (lambda l: index.id_to_label[l]) if index.idify else (lambda l: l)
    to_node = (lambda n: index.id_to_node[n]) if index.idify else (lambda n: n)
    rows = [
        (to_node(n), to_label(l), pos)
        for n, labels in index.node_to_labels.items()
        for pos, l in enumerate(labels)
    ]
    return spark.createDataFrame(rows, "node string, label string, pos int")


def blame_from_parts(roots: DataFrame, preds: DataFrame, stats: DataFrame,
                     heads: DataFrame, labels_flat: DataFrame) -> DataFrame:
    """(node, pred, blame) from the four model-side tables.  ``roots``,
    ``preds`` and ``stats`` are O(|rules|) and broadcast; ``heads`` may be a
    genuinely distributed DataFrame (delta mode derives it from the candidate
    tables), so its anti-join is left to AQE."""
    # applicability replicates the reference exactly (anomaly_detector.py:50):
    # the rule root tuple must be an *ordered subsequence* of the node's label
    # tuple (the reference enumerates order-preserving combinations of the
    # tuple, so a sorted qualified root only applies when its labels appear in
    # the node's tuple in the same relative order) — checked by requiring the
    # matched root_idx sequence, ordered by node label position, to be 0..k-1
    applicable = (
        labels_flat.join(F.broadcast(roots), "label")
        .groupBy("node", "rid")
        .agg(
            F.count("*").alias("k"),
            F.expr(
                "transform(array_sort(collect_list(struct(pos, root_idx))),"
                " x -> x.root_idx)"
            ).alias("order_seq"),
        )
        .join(F.broadcast(stats), "rid")
        .where(
            (F.col("k") == F.col("root_size"))
            & (F.col("order_seq") == F.expr("sequence(0, root_size - 1)"))
        )
        .select("node", "rid", "bits_per_exception")
    )
    # exclude heads (nodes that satisfy the rule)
    culpable = applicable.join(heads, ["rid", "node"], "left_anti")
    return (
        culpable.join(F.broadcast(preds), "rid")
        .groupBy("node", "pred")
        .agg(F.sum("bits_per_exception").alias("blame"))
    )


def blame_table(spark: SparkSession, model: SummaryModel,
                labels_flat: DataFrame | None = None) -> DataFrame:
    """(node, pred, blame) for every node/pred combination with blame > 0."""
    roots, preds, stats, heads = model_blame_tables(spark, model)
    if labels_flat is None:
        labels_flat = node_labels_df(spark, model)
    return blame_from_parts(roots, preds, stats, heads, labels_flat)


def covered_triples_for_model(spark: SparkSession, model: SummaryModel,
                              triples: DataFrame,
                              labels_flat: DataFrame) -> DataFrame | None:
    """Distributed reconstruction of the model's covered-edge set from the
    rule PATTERNS (no materialization of per-edge coverage on the driver).

    A level-0 rule ``((root_labels), ((pred, dir, ((child,), ())),))`` covers
    exactly the edges whose root endpoint carries every root label and whose
    child endpoint carries the child label (the candidate index is built from
    that same pattern scan, reference ``graph.py:127-148``; qualification
    preserves the edge set because all heads share the qualified labels).

    Depth-1 RuleTree rules (Rm merge products) decompose into their atoms
    (reference ``rule.py:146-151``): ``Rule.merge`` unions the constituent
    level-0 rules' realized assertions verbatim (``rule.py:65-76`` +
    ``correct_assertion.py:62-66``), so a merged rule's covered edges are
    exactly the union of its atoms' full pattern matches — the flat
    reconstruction applies atom by atom.

    Only O(Σ|atoms|) key rows ship to the cluster — the covered relation
    itself is computed by joins.  Returns ``None`` only for models holding
    NESTED rules (depth >= 2 Rn products): ``pin_to_leaf`` + ``filter_errant``
    restrict coverage to assertion trees that realize the full nested
    structure and compose leaf assertions in list order (reference
    ``rule.py:108-119,204-208``), which is not a per-atom pattern.
    """
    index = model.index
    to_label = (lambda l: index.id_to_label[l]) if index.idify else (lambda l: l)
    to_pred = (lambda p: index.id_to_pred[p]) if index.idify else (lambda p: p)

    meta_rows, root_rows = [], []
    aid = 0
    for rule in model.rules:
        if isinstance(rule, RuleTree):
            if rule.max_depth() > 1:
                return None
            atoms = rule.atoms()
        else:
            atoms = [rule]
        for atom in atoms:
            root, children = atom
            if len(children) != 1:
                return None
            pred, dirv, (child_labels, grand) = children[0]
            if grand != () or len(child_labels) != 1:
                return None
            meta_rows.append(
                (aid, to_pred(pred), dirv, to_label(child_labels[0]), len(root))
            )
            root_rows.extend((aid, to_label(l)) for l in root)
            aid += 1

    t = triples.select("subj", "pred", "obj")
    if not meta_rows:
        return t.where(F.lit(False))

    meta = spark.createDataFrame(
        meta_rows, "rid int, pred string, dir string, child_label string, root_size int"
    )
    roots = spark.createDataFrame(root_rows, "rid int, label string")

    node_labels = labels_flat.select("node", "label").distinct()
    root_ok = (
        node_labels.join(F.broadcast(roots), "label")
        .groupBy("rid", "node")
        .agg(F.countDistinct("label").alias("k"))
        .join(F.broadcast(meta.select("rid", "root_size")), "rid")
        .where(F.col("k") == F.col("root_size"))
        .select("rid", F.col("node").alias("rn"))
    )
    matched = (
        t.join(F.broadcast(meta), "pred")
        .select(
            "subj", "pred", "obj", "rid", "child_label",
            F.when(F.col("dir") == "out", F.col("subj")).otherwise(F.col("obj")).alias("rn"),
            F.when(F.col("dir") == "out", F.col("obj")).otherwise(F.col("subj")).alias("cn"),
        )
        .join(
            node_labels.select(F.col("node").alias("cn"), F.col("label").alias("child_label")),
            ["cn", "child_label"],
        )
        .join(root_ok, ["rid", "rn"])
    )
    return matched.select("subj", "pred", "obj").distinct()


def _covered_from_driver_model(spark: SparkSession, model: SummaryModel) -> DataFrame:
    """Fallback covered set materialized from the driver-resident model
    (exact-mode models keep coverage on the driver by construction); only
    used for NESTED (depth >= 2 Rn) models, whose coverage depends on the
    realized-assertion composition order (``pin_to_leaf``/``filter_errant``)
    and is not a per-atom pattern.  Flat AND merged (Rm) models route
    through :func:`covered_triples_for_model` instead.

    Scale note: this is NOT a new driver-memory ceiling.  A nested rule's
    coverage is order-dependent — ``pin_to_leaf`` composes leaf assertions
    sequentially (reference ``rule.py:86-103``), so a leaf assertion whose
    root was itself added by an EARLIER composition composes transitively,
    and ``filter_errant`` then prunes whole assertion trees
    (``rule.py:204-208``) — which is why nesting is a driver-side algorithm
    in the reference AND in this engine (``oracle/refine.py:nest_rules``).
    Any Rn model therefore already had its coverage materialized on the
    driver when it was built; replaying those edge ids back to the cluster
    adds no memory bound that nesting itself did not.  Making Rn models
    cluster-scale would mean distributing the nesting closure, which is
    beyond the reference's semantics surface."""
    index = model.index
    to_node = (lambda n: index.id_to_node[n]) if index.idify else (lambda n: n)
    to_pred = (lambda p: index.id_to_pred[p]) if index.idify else (lambda p: p)
    covered_rows = [
        (to_node(s), to_pred(p), to_node(o))
        for eid in model.covered_edges
        for (s, p, o) in [index.id_to_edge[eid]]
    ]
    return spark.createDataFrame(
        covered_rows or [("", "", "")], "subj string, pred string, obj string"
    ).distinct()


def _assemble_scores(triples: DataFrame, covered: DataFrame, blame: DataFrame,
                     unexplained: float) -> DataFrame:
    """score = [uncovered]*unexplained + blame(subj, pred) + blame(obj, pred).

    The uncovered flag is ONE left join against the (deduplicated) covered
    set with a null marker — not an anti-join followed by a join back, which
    would scan the big triples table twice.  The distinct runs on the small
    covered side only, guaranteeing the left join cannot fan out rows."""
    cov = (
        covered.select("subj", "pred", "obj").distinct()
        .withColumn("_cov", F.lit(1))
    )
    base = triples.join(cov, ["subj", "pred", "obj"], "left").withColumn(
        "base",
        F.when(F.col("_cov").isNull(), F.lit(float(unexplained))).otherwise(F.lit(0.0)),
    ).drop("_cov")

    b_subj = blame.select(
        F.col("node").alias("subj"), "pred", F.col("blame").alias("blame_s")
    )
    b_obj = blame.select(
        F.col("node").alias("obj"), "pred", F.col("blame").alias("blame_o")
    )
    return (
        base.join(b_subj, ["subj", "pred"], "left")
        .join(b_obj, ["obj", "pred"], "left")
        .withColumn(
            "score",
            F.col("base")
            + F.coalesce(F.col("blame_s"), F.lit(0.0))
            + F.coalesce(F.col("blame_o"), F.lit(0.0)),
        )
        .drop("base", "blame_s", "blame_o")
    )


def score_edges(spark: SparkSession, model: SummaryModel, triples: DataFrame,
                labels_flat: DataFrame | None = None,
                covered_triples: DataFrame | None = None) -> DataFrame:
    """Score a (subj, pred, obj[, eid]) table; returns the input columns +
    ``score`` (bits).  Edges outside the model's coverage get the shared
    unexplained-edge cost; ranking is a plain orderBy on the result.

    :covered_triples: optional distributed ``(subj, pred, obj)`` covered set
        (e.g. from :func:`score_edges_delta`'s pipeline).  When absent, the
        covered set is *reconstructed distributedly* from the rule (atom)
        patterns — the driver never materializes a per-edge relation — for
        flat AND Rm-merged models alike; only nested (depth >= 2 Rn) models
        fall back to the driver-resident coverage the exact-mode fit holds.
    """
    scorer = AnomalyScorer(model)
    unexplained = scorer.unexplained_edge_bits()
    if labels_flat is None:
        labels_flat = node_labels_df(spark, model)
    covered = covered_triples
    if covered is None:
        covered = covered_triples_for_model(spark, model, triples, labels_flat)
    if covered is None:
        covered = _covered_from_driver_model(spark, model)
    blame = blame_table(spark, model, labels_flat)
    return _assemble_scores(triples.select("subj", "pred", "obj"), covered,
                            blame, unexplained)


# ---------------------------------------------------------------------------
# delta-mode scoring: coverage AND rule heads stay fully distributed
# ---------------------------------------------------------------------------

def delta_blame_parts(delta, selected_rules):
    """Model-side blame tables for a delta-mode fit.  roots/preds/stats are
    O(|rules|) driver rows; ``heads`` is DERIVED ON THE CLUSTER from the
    persisted candidate-edge table (never collected — at web scale the head
    sets are the big side)."""
    from kgist_spark.functions.mdl import length_binomial

    spark = delta.spark
    root_rows, pred_rows, stat_rows, key_rows = [], [], [], []
    for rid, rule in enumerate(selected_rules):
        meta = delta.meta[rule]
        root = rule[0]
        n_assert = delta._num_assertions(meta)
        n_exc = n_assert - meta.n_cas
        bits = length_binomial(n_assert, n_exc)
        stat_rows.append((rid, len(root), bits / n_exc if n_exc else 0.0))
        root_rows.extend((rid, label, idx) for idx, label in enumerate(root))
        pred_rows.append((rid, rule[1][0][0]))
        key_rows.append((meta.df_key, rid))
    roots = spark.createDataFrame(root_rows, "rid int, label string, root_idx int")
    preds = spark.createDataFrame(pred_rows, "rid int, pred string")
    stats = spark.createDataFrame(
        stat_rows, "rid int, root_size int, bits_per_exception double"
    )
    key_map = spark.createDataFrame(key_rows, "key string, rid int")
    heads = (
        delta.cand_edges.join(F.broadcast(key_map), "key")
        .select("rid", F.col("root_node").alias("node"))
        .distinct()
    )
    return roots, preds, stats, heads


def score_edges_delta(delta, fit_result: dict, triples: DataFrame,
                      labels_flat: DataFrame | None = None) -> DataFrame:
    """Batch anomaly scoring wired to a delta-mode fit
    (:class:`kgist_spark.plans.greedy_delta.DeltaGreedy`): the covered-edge
    set is the fit's own distributed checkpointed DataFrame and rule heads
    come from the persisted candidate tables — nothing coverage-sized ever
    reaches the driver, unlike the exact-mode fallback."""
    from kgist_spark.functions.mdl import length_negative_edge_error

    spark = delta.spark
    rules = fit_result["rules"]
    if labels_flat is None:
        labels_flat = delta.labels_flat
    n_cov = fit_result["covered_edges"]
    neg = length_negative_edge_error(n_cov, delta.stats)
    remaining = delta.stats.m - n_cov
    unexplained = neg / remaining if remaining else 0.0
    covered = delta.covered_triples(triples)
    if rules:
        roots, preds, stats, heads = delta_blame_parts(delta, rules)
        blame = blame_from_parts(
            roots, preds, stats, heads, labels_flat.select("node", "label", "pos")
        )
    else:
        blame = spark.createDataFrame([], "node string, pred string, blame double")
    return _assemble_scores(triples.select("subj", "pred", "obj"), covered,
                            blame, unexplained)
