"""Delta-mode (distributed-coverage) greedy == exact-mode greedy: same
selected rules and matching objective on the fixture graphs."""

import pytest
from pyspark.sql import functions as F

from kgist_spark.oracle.engine import GreedySearcher, ModelEvaluator
from tests.conftest import FIXTURES, fixture_kg

pytestmark = pytest.mark.spark


def build_delta(spark, name):
    from kgist_spark.plans.greedy_delta import DeltaGreedy
    from kgist_spark.plans.summarizer import graph_stats
    from kgist_spark.sources.edgelist import explode_labels, load_labels, load_triples

    triples = load_triples(spark, str(FIXTURES / f"{name}.txt"))
    labels = load_labels(spark, str(FIXTURES / f"{name}_labels.txt"))
    lf = explode_labels(labels)
    stats = graph_stats(triples, lf)
    label_node_counts = {
        r["label"]: r["n"]
        for r in lf.groupBy("label").agg(F.countDistinct("node").alias("n")).collect()
    }
    return DeltaGreedy(triples, lf, stats, label_node_counts)


@pytest.mark.parametrize("name,passes,qualify", [
    ("test", 2, True),
    ("test", 2, False),
    ("tiny", 2, True),
    ("tiny1", 2, True),
    ("repeated", 2, True),
    ("label_qualifier_1", 2, True),
    ("symmetric_tie", 2, True),
])
def test_delta_matches_exact(spark, name, passes, qualify):
    delta = build_delta(spark, name)
    result = delta.fit(passes=passes, label_qualify=qualify)

    kg = fixture_kg(name, idify=False)
    model = GreedySearcher(kg).build_model(passes=passes, label_qualify=qualify)
    ev = ModelEvaluator(kg)
    want_val = ev.evaluate(model)

    assert set(result["rules"]) == set(model.rules.keys())
    assert result["covered_edges"] == len(model.covered_edges)
    assert result["covered_labels"] == len(model.covered_labels)
    assert abs(result["objective_bits"] - want_val) < 1e-6


def test_symmetric_tie_resolved_by_per_head_order(spark):
    """The symmetric predicate's out/in candidate pair ties EXACTLY on every
    histogram-level quantity (same edges, labels covered, ca-size multiset);
    the reference's pick — the IN variant here, like full NELL's (24, 73, 24)
    — is decided by the per-head float summation order, which delta mode must
    replay (greedy_delta module docstring, "Float caveat").  Regression for
    the full-NELL nightly divergence: a histogram-only tie-break selects OUT."""
    delta = build_delta(spark, "symmetric_tie")
    result = delta.fit(passes=2, label_qualify=True)
    in_rule = (("A",), (("p", "in", (("A",), ())),))
    assert in_rule in set(result["rules"])


def test_fit_summary_front_door_reaches_both_regimes(spark):
    """ONE entry point picks the regime from a bounded contribution probe;
    both regimes produce the identical model on the fixture."""
    from kgist_spark.plans.summarizer import fit_summary
    from kgist_spark.sources.edgelist import load_labels, load_triples

    triples = load_triples(spark, str(FIXTURES / "test.txt"))
    labels = load_labels(spark, str(FIXTURES / "test_labels.txt"))

    auto = fit_summary(triples, labels)
    assert auto["mode"] == "exact"  # tiny fixture fits the driver budget

    # a 1-contribution budget forces auto into the distributed regime
    forced = fit_summary(triples, labels, exact_threshold=1)
    assert forced["mode"] == "delta"

    explicit = fit_summary(triples, labels, mode="delta")
    assert explicit["mode"] == "delta"

    for other in (forced, explicit):
        assert set(other["rules"]) == set(auto["rules"])
        assert abs(other["objective_bits"] - auto["objective_bits"]) < 1e-6
        assert other["covered_edges"] == auto["covered_edges"]
        assert other["covered_labels"] == auto["covered_labels"]

    with pytest.raises(ValueError):
        fit_summary(triples, labels, mode="bogus")


def test_fit_summary_delta_feeds_anomaly_scoring(spark):
    """The front door's delta handle drives batch anomaly scoring end to end
    AFTER fit_summary returned (i.e. after the raw contribution table was
    unpersisted) — the fit's own persisted projections must carry it."""
    from kgist_spark.operators.anomaly import score_edges, score_edges_delta
    from kgist_spark.plans.summarizer import fit_summary
    from kgist_spark.sources.edgelist import explode_labels, load_labels, load_triples

    triples = load_triples(spark, str(FIXTURES / "test.txt")).persist()
    labels = load_labels(spark, str(FIXTURES / "test_labels.txt")).persist()
    lf = explode_labels(labels)

    delta_fit = fit_summary(triples, labels, mode="delta")
    got = {
        (r["subj"], r["pred"], r["obj"]): r["score"]
        for r in score_edges_delta(
            delta_fit["delta"], delta_fit, triples, lf
        ).collect()
    }

    exact_fit = fit_summary(triples, labels, mode="exact")
    want = {
        (r["subj"], r["pred"], r["obj"]): r["score"]
        for r in score_edges(
            spark, exact_fit["model"], triples.select("subj", "pred", "obj"), lf
        ).collect()
    }
    assert set(got) == set(want)
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-6, (k, got[k], v)


def _group_jobs(sc, group):
    """Job ids run under ``group``, after the listener bus has delivered
    every event posted so far (the status store is fed asynchronously)."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _one_size_tie(spark):
    """Symmetric ``p`` where every head has exactly one edge: the out/in
    rules tie at 0.0 bits and both have the ca-size histogram {1: 4}."""
    edges = [("a", "p", "b"), ("b", "p", "a"), ("c", "p", "d"), ("d", "p", "c")]
    label_rows = [(n, ("A",)) for n in "abcd"]
    triples = spark.createDataFrame(
        [(s, p, o, i) for i, (s, p, o) in enumerate(edges)],
        "subj string, pred string, obj string, eid long",
    )
    labels = spark.createDataFrame(
        [(n, list(ls), i) for i, (n, ls) in enumerate(label_rows)],
        "node string, labels array<string>, line_no long",
    )
    return triples, labels, edges, label_rows


def test_one_size_tie_replays_without_a_spark_job(spark):
    """A knife-edge between rules whose ca-size histograms have one size
    is replayed on the driver (``[s] * h``), with the exact oracle's model
    and bits; a multi-size histogram (``symmetric_tie``) still fetches."""
    from kgist_spark.oracle.kg import LocalKG
    from kgist_spark.plans.greedy_delta import DeltaGreedy
    from kgist_spark.plans.summarizer import fit_summary, graph_stats
    from kgist_spark.sources.edgelist import explode_labels

    triples, labels, edges, label_rows = _one_size_tie(spark)
    result = fit_summary(triples, labels, mode="delta")
    kg = LocalKG.from_rows(label_rows, edges)
    model = GreedySearcher(kg).build_model(passes=2, label_qualify=True)
    assert set(result["rules"]) == set(model.rules.keys())
    assert result["covered_edges"] == len(model.covered_edges)
    assert result["covered_labels"] == len(model.covered_labels)
    assert abs(result["objective_bits"] - ModelEvaluator(kg).evaluate(model)) < 1e-6

    lf = explode_labels(labels)
    dg = DeltaGreedy(triples, lf, graph_stats(triples, lf), {"A": 4})
    out_meta = dg.meta[(("A",), (("p", "out", (("A",), ())),))]
    in_meta = dg.meta[(("A",), (("p", "in", (("A",), ())),))]
    sc = spark.sparkContext
    sc.setJobGroup("one_size_replay", "knife-edge replay")
    try:
        dg._ordered_sizes([out_meta, in_meta])
    finally:
        sc.setJobGroup("one_size_done", "done")
    assert _group_jobs(sc, "one_size_replay") == []
    assert dg._ordered_sizes_cache[out_meta.df_key] == [1] * 4
    assert dg._ordered_sizes_cache[in_meta.df_key] == [1] * 4

    multi = build_delta(spark, "symmetric_tie")
    metas = [multi.meta[(("A",), (("p", d, (("A",), ())),))] for d in ("out", "in")]
    assert all(len(m.ca_hist) > 1 for m in metas)
    sc.setJobGroup("multi_size_fetch", "knife-edge fetch")
    try:
        multi._ordered_sizes(metas)
    finally:
        sc.setJobGroup("multi_size_done", "done")
    assert _group_jobs(sc, "multi_size_fetch")
    for m in metas:
        sizes = multi._ordered_sizes_cache[m.df_key]
        assert sorted(sizes) == sorted(
            s for s, h in m.ca_hist.items() for _ in range(h)
        )


def _separate_aggregates(triples, lf):
    """The graph statistics and label-node counts as four queries plus one,
    the shape ``fit_summary`` used before they were fused."""
    m = triples.count()
    node_label_counts = {
        r["label"]: r["cnt"]
        for r in lf.where(F.col("label").isNotNull())
        .groupBy("label").agg(F.count("*").alias("cnt")).collect()
    }
    edge_label_counts = {
        r["pred"]: r["cnt"]
        for r in triples.groupBy("pred").agg(F.count("*").alias("cnt")).collect()
    }
    n = (
        triples.select(F.explode(F.array("subj", "obj")).alias("node"))
        .unionByName(lf.select("node")).distinct().count()
    )
    lnc = {
        r["label"]: r["n"]
        for r in lf.groupBy("label").agg(F.countDistinct("node").alias("n")).collect()
    }
    return m, node_label_counts, edge_label_counts, n, lnc


def test_fused_graph_aggregates_equal_separate_queries(spark):
    """One tagged collect == the separate count / per-label / per-predicate
    / distinct-node queries and the label-node counts, on a string KG with
    an unlabeled node (null label) and a repeated label (count(*) differs
    from the distinct-node count), and on its idified (int) twin."""
    from kgist_spark.plans.summarizer import _graph_aggregates
    from kgist_spark.sources.edgelist import explode_labels
    from kgist_spark.sources.idify import idify_tables

    triples = spark.createDataFrame(
        [("x", "p", "y", 0), ("y", "q", "z", 1), ("z", "p", "x", 2),
         ("x", "p", "w", 3), ("w", "r", "v", 4)],
        "subj string, pred string, obj string, eid long",
    )
    labels = spark.createDataFrame(
        [("x", ["A", "B"], 0), ("y", ["A", "A"], 1), ("z", [], 2),
         ("w", ["B"], 3), ("u", ["C"], 4)],
        "node string, labels array<string>, line_no long",
    )
    lf = explode_labels(labels)
    t_id, lf_id, _ = idify_tables(triples, labels, lf)
    assert dict(t_id.dtypes)["pred"] != "string"
    assert dict(lf_id.dtypes)["label"] != "string"

    for t, flat in ((triples, lf), (t_id, lf_id)):
        stats, lnc = _graph_aggregates(t, flat)
        m, nlc, elc, n, want_lnc = _separate_aggregates(t, flat)
        assert (stats.m, stats.n) == (m, n)
        assert stats.node_label_counts == nlc
        assert stats.edge_label_counts == elc
        assert stats.num_node_labels == len(nlc)
        assert stats.num_edge_labels == len(elc)
        assert stats.total_num_labels == sum(nlc.values())
        assert lnc == want_lnc
        assert any(nlc[k] != lnc[k] for k in nlc)  # the repeated label
    assert None in _graph_aggregates(triples, lf)[1]  # the unlabeled node


def test_fit_summary_delta_job_count(spark):
    """Guard on the Spark jobs one ``fit_summary(mode="delta")`` runs on the
    ``test`` fixture.  Before the one-size knife-edge replay and the fused
    metadata collects it ran 50 jobs in a fresh session (46 once the
    session had run one fit); since, 38 (34).  Letting AQE coalesce
    persisted plans and dropping the batch's redundant ``distinct()``s took
    it to 35 (the batch checkpoint's jobs fell 6 -> 3).  The bound is the
    fresh-session count.  Do not raise it to get a pass: a higher count is
    a regression."""
    from kgist_spark.plans.summarizer import fit_summary
    from kgist_spark.sources.edgelist import load_labels, load_triples

    triples = load_triples(spark, str(FIXTURES / "test.txt"))
    labels = load_labels(spark, str(FIXTURES / "test_labels.txt"))
    sc = spark.sparkContext
    sc.setJobGroup("fit_summary_delta", "delta front door")
    try:
        result = fit_summary(triples, labels, mode="delta")
    finally:
        sc.setJobGroup("fit_summary_done", "done")
    assert result["mode"] == "delta"
    jobs = _group_jobs(sc, "fit_summary_delta")
    assert len(jobs) <= 35, f"fit_summary(mode='delta') ran {len(jobs)} jobs"
