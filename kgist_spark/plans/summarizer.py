"""End-to-end Spark-backed KGist summarization.

Split of labor (SURVEY.md §3.1/§7):

* **cluster** — candidate generation (the O(|E|·labels²) part), per-rule
  aggregation, ranking inputs: all DataFrame jobs
  (:mod:`kgist_spark.operators.candidates`).
* **driver** — the greedy selection loop, which is inherently sequential
  (every accept changes the covered set) and consumes only per-rule
  aggregates.  The driver index below is built from the *collected*
  distributed aggregates; collection replays the single-threaded scan order,
  so the selected model is bit-identical to the oracle regardless of the
  cluster's partitioning.

At full web scale the exact per-rule edge-id sets stay on the cluster and the
greedy runs in delta mode (:mod:`kgist_spark.plans.greedy_delta`) — same
decisions, one Spark action per accepted batch of coverage-disjoint rules,
driver holds only counters.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgist_spark.functions.mdl import GraphStats
from kgist_spark.operators import candidates as C
from kgist_spark.oracle.engine import GreedySearcher, ModelEvaluator, SummaryModel
from kgist_spark.oracle.kg import CandRecord, LocalKG
from kgist_spark.session import run_concurrently


def _graph_aggregates(triples: DataFrame, labels_flat: DataFrame):
    """(:class:`GraphStats`, label -> #distinct nodes carrying it) from ONE
    collect over three tagged aggregates, so AQE runs their stages
    together: per label (``l``) the non-null label rows and distinct nodes,
    per predicate (``p``) the triples, and the distinct node count
    (``n``).  ``label``/``pred`` keep their input dtypes (idified KGs carry
    ints there)."""
    per_label = labels_flat.groupBy("label").agg(
        F.count("label").alias("cnt"), F.countDistinct("node").alias("n"),
    )
    per_pred = triples.groupBy("pred").agg(F.count("*").alias("cnt"))
    nodes = (
        # explode, not a union of two projections — a union would scan the
        # triples subtree twice
        triples.select(F.explode(F.array("subj", "obj")).alias("node"))
        .unionByName(labels_flat.select("node"))
        .distinct()
        .agg(F.count("*").alias("n"))
    )
    rows = (
        per_label.withColumn("kind", F.lit("l"))
        .unionByName(per_pred.withColumn("kind", F.lit("p")), allowMissingColumns=True)
        .unionByName(nodes.withColumn("kind", F.lit("n")), allowMissingColumns=True)
        .collect()
    )
    node_label_counts, edge_label_counts, label_node_counts = {}, {}, {}
    n = 0
    for r in rows:
        if r["kind"] == "l":
            label_node_counts[r["label"]] = r["n"]
            if r["label"] is not None:
                node_label_counts[r["label"]] = r["cnt"]
        elif r["kind"] == "p":
            edge_label_counts[r["pred"]] = r["cnt"]
        else:
            n = r["n"]
    stats = GraphStats(
        n=n,
        m=sum(edge_label_counts.values()),
        num_node_labels=len(node_label_counts),
        num_edge_labels=len(edge_label_counts),
        total_num_labels=sum(node_label_counts.values()),
        node_label_counts=node_label_counts,
        edge_label_counts=edge_label_counts,
    )
    return stats, label_node_counts


def graph_stats(triples: DataFrame, labels_flat: DataFrame) -> GraphStats:
    """Scalar graph aggregates, computed distributedly in one action."""
    return _graph_aggregates(triples, labels_flat)[0]


def build_driver_index(
    triples: DataFrame,
    labels: DataFrame,
    labels_flat: DataFrame,
    idify: bool = False,
    cand: DataFrame | None = None,
) -> LocalKG:
    """Materialize the distributed candidate aggregates into a driver-side
    index satisfying the ``CandidateIndex`` protocol.

    The collected contribution rows are replayed in ``(eid, subj-label pos,
    obj-label pos, direction)`` order — exactly the order a single-threaded
    scan would touch them — so dict insertion orders (and therefore greedy
    tie-breaks and float summation orders) are reproduced independently of
    cluster partitioning.

    Driver memory: O(#candidate contributions) — fine through NELL scale
    (~1M rows); beyond that use delta mode, which never collects edge sets.
    """
    kg = LocalKG(idify=idify)

    # small dimension: ordered label rows
    label_rows = labels.orderBy("line_no").collect()
    for r in label_rows:
        kg._add_label_row(r["node"], tuple(r["labels"]))

    if cand is None:
        cand = C.candidate_edges(triples, labels_flat)
    pdf = (
        cand.select(
            "root_label", "pred", "dir", "child_label", "eid", "root_node", "child_node",
            "ord",
        )
        .toPandas()
        .sort_values("ord", kind="stable")  # packed (eid, sl_pos, ol_pos, dir)
    )

    # edge dimension (drives id_to_edge, edge counts, and idify dictionaries)
    triple_rows = sorted(triples.collect(), key=lambda r: r["eid"])
    for r in triple_rows:
        sub, pred, obj = r["subj"], r["pred"], r["obj"]
        if kg.idify:
            sub = kg._encode_node(sub)
            obj = kg._encode_node(obj)
            if pred not in kg.pred_to_id:
                pid = len(kg.pred_to_id)
                kg.pred_to_id[pred] = pid
                kg.id_to_pred[pid] = pred
            pred = kg.pred_to_id[pred]
        kg.edge_label_counts[pred] = kg.edge_label_counts.get(pred, 0) + 1
        kg._node_set.add(sub)
        kg._node_set.add(obj)
        kg.id_to_edge[kg.m] = (sub, pred, obj)
        kg.m += 1

    # replay candidate contributions in scan order — vectorized: pdf is
    # ord-sorted, and every pandas groupby below uses sort=False, which
    # iterates groups in FIRST-APPEARANCE order.  That reproduces the
    # reference's dict insertion orders (candidates, ca_to_size) and hence
    # its float summation orders, same as the original row-at-a-time loop.
    if kg.idify:
        pdf = pdf.assign(
            root_label=pdf["root_label"].map(kg.label_to_id),
            child_label=pdf["child_label"].map(kg.label_to_id),
            pred=pdf["pred"].map(kg.pred_to_id),
            root_node=pdf["root_node"].map(kg.node_to_id),
            child_node=pdf["child_node"].map(kg.node_to_id),
        )
        # Series.map(dict) yields NaN (not KeyError) on a miss, and NaN != NaN
        # would silently split every row into its own CandRecord — fail loudly
        # if the distributed aggregates ever drift from the driver dictionaries
        if pdf.isna().any().any():
            bad = pdf.columns[pdf.isna().any()].tolist()
            raise AssertionError(
                f"idify dictionary miss while replaying candidates: {bad}"
            )
    candidates = kg.candidates
    if kg.idify:
        # pre-converting to Python-int lists keeps the replay loop free of
        # both dict-encode lookups and numpy-scalar boxing; per-group pandas
        # ops were tried and are slower (66k groups x pandas group overhead)
        cols = [
            pdf["root_label"].tolist(), pdf["pred"].tolist(), pdf["dir"].tolist(),
            pdf["child_label"].tolist(), pdf["eid"].tolist(),
            pdf["root_node"].tolist(), pdf["child_node"].tolist(),
        ]
    else:
        cols = [pdf[c].tolist() for c in
                ["root_label", "pred", "dir", "child_label", "eid",
                 "root_node", "child_node"]]
    for rl, pred, direction, cl, eid, root_node, child_node in zip(*cols):
        rule = ((rl,), ((pred, direction, ((cl,), ())),))
        rec = candidates.get(rule)
        if rec is None:
            rec = candidates[rule] = CandRecord()
        rec.label_coverage.add((cl, child_node))
        rec.edges.add(int(eid))
        rec.ca_to_size[root_node] = rec.ca_to_size.get(root_node, 0) + 1

    kg._finalize()
    return kg


class SparkSummarizer:
    """High-level API: load KG tables → distributed candidate gen →
    driver greedy → fitted :class:`SummaryModel`."""

    def __init__(self, triples: DataFrame, labels: DataFrame, idify: bool = True,
                 cand_edges: DataFrame | None = None):
        """:cand_edges: optional pre-computed candidate contribution table
        (e.g. reloaded via :mod:`kgist_spark.sources.candidates_io`) — skips
        the candidate-generation join entirely (S3, reference
        ``graph.py:166-168``)."""
        from kgist_spark.sources.edgelist import explode_labels

        # persist: index construction reads each table several times, and a
        # driver-created input otherwise re-ships its rows to every job that
        # reads it (inside the plan for an Arrow local relation, through
        # the Python workers for a list-fed createDataFrame)
        self.triples = triples.persist()
        self.labels = labels.persist()
        self.labels_flat = explode_labels(self.labels)
        self.index = build_driver_index(
            self.triples, self.labels, self.labels_flat, idify=idify,
            cand=cand_edges,
        )
        self.searcher = GreedySearcher(self.index)

    def fit(self, passes: int = 2, label_qualify: bool = True) -> SummaryModel:
        return self.searcher.build_model(passes=passes, label_qualify=label_qualify)

    def evaluator(self) -> ModelEvaluator:
        return ModelEvaluator(self.index)


#: contribution-row budget for the exact (driver-index) regime.  Each
#: collected contribution costs ~100 bytes in the driver index (CandRecord
#: edge/label sets + per-head counters), so the default budgets ~2 GB of
#: driver heap — full NELL (the reference's largest fixture) is ~1.6 M
#: contributions, two orders of magnitude under it.  Same size-gated
#: physical-strategy pattern as ``canonical_map``'s ``local_threshold``.
EXACT_CONTRIBUTION_THRESHOLD = 20_000_000


def fit_summary(triples: DataFrame, labels: DataFrame, passes: int = 2,
                label_qualify: bool = True, mode: str = "auto",
                exact_threshold: int = EXACT_CONTRIBUTION_THRESHOLD,
                cand_edges: DataFrame | None = None) -> dict:
    """ONE front door over the two greedy regimes (reference
    ``main.py:24-38`` — the reference has a single entry point; the regime
    split is this engine's scale addition and should not leak into the API).

    * **exact** — candidate contributions are collected into the driver
      index and the greedy runs entirely driver-side (bit-identical replay
      of the reference; ~27 s at full-NELL scale, see BENCH.md).
    * **delta** — contributions stay on the cluster; the greedy maintains
      distributed coverage with one action per accepted batch of
      coverage-disjoint rules.  Slower per accept but bounded driver
      memory — the beyond-driver-memory path.

    ``mode="auto"`` probes the candidate-contribution count with a plain
    ``count()`` — fully parallel, map-side combined (one long per task
    reaches the driver), and the scan is not wasted work: whichever regime
    wins must read the whole table anyway.  (A ``limit(threshold+1).count()``
    probe would look bounded but compiles to LocalLimit → single-partition
    GlobalLimit, funneling up to ``threshold`` rows per upstream partition
    through ONE reducer — the worst plan exactly on the beyond-driver-memory
    inputs auto mode exists for.)  Exact is picked iff the count fits the
    documented driver budget.
    Both regimes select the same rules (pinned by the delta-vs-exact parity
    suite); the returned dict is regime-independent:

    ``mode`` (``"exact"``/``"delta"``), ``rules`` (list of rule tuples),
    ``objective_bits`` (L(G,M) of the fitted model), ``covered_edges``,
    ``covered_labels`` — plus ``model``/``summarizer`` in exact mode and
    ``delta`` (the fitted :class:`DeltaGreedy`, for ``covered_triples`` /
    anomaly scoring) in delta mode.

    :triples: (subj, pred, obj, eid); :labels: grouped (node, labels) rows;
    :cand_edges: optional precomputed/reloaded contribution table (S3) —
    skips candidate generation in EITHER regime.
    """
    from kgist_spark.plans.greedy_delta import DeltaGreedy, candidate_meta
    from kgist_spark.sources.edgelist import explode_labels

    if mode not in ("auto", "exact", "delta"):
        raise ValueError(f"mode must be auto|exact|delta, got {mode!r}")

    labels_flat = explode_labels(labels)
    own_cand = cand_edges is None
    if own_cand:
        cand_edges = C.candidate_edges(triples, labels_flat).persist()
    try:
        if mode == "auto":
            probe = cand_edges.count()
            mode = "exact" if probe <= exact_threshold else "delta"

        if mode == "exact":
            summ = SparkSummarizer(triples, labels, idify=False,
                                   cand_edges=cand_edges)
            model = summ.fit(passes=passes, label_qualify=label_qualify)
            ev = summ.evaluator()
            return {
                "mode": "exact",
                "rules": list(model.rules.keys()),
                "objective_bits": ev.evaluate(model),
                "covered_edges": len(model.covered_edges),
                "covered_labels": len(model.covered_labels),
                "model": model,
                "summarizer": summ,
            }

        # the graph aggregates read only triples and labels, the metadata
        # only the candidate table: two independent collects, run together
        (stats, lnc), meta = run_concurrently(
            lambda: _graph_aggregates(triples, labels_flat),
            lambda: candidate_meta(cand_edges),
        )
        dg = DeltaGreedy(triples, labels_flat, stats, lnc, cand=cand_edges,
                         meta=meta)
        result = dg.fit(passes=passes, label_qualify=label_qualify)
        result["mode"] = "delta"
        result["delta"] = dg
        return result
    finally:
        if own_cand:
            # safe for the returned DeltaGreedy: it persists (and the fit
            # materializes) its OWN projections of the contribution table,
            # so later covered_triples/anomaly use read those caches — the
            # raw cand is only re-read by label_qualify, which ran inside
            # fit
            cand_edges.unpersist()
