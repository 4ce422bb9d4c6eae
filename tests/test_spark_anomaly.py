"""Parity: distributed batch anomaly scoring == per-edge oracle scorer."""

import pytest

from kgist_spark.oracle.anomaly import AnomalyScorer
from kgist_spark.oracle.engine import GreedySearcher
from tests.conftest import fixture_kg

pytestmark = pytest.mark.spark


@pytest.mark.parametrize("idify", [False, True])
def test_batch_scores_match_oracle(spark, idify):
    from kgist_spark.operators.anomaly import score_edges

    kg = fixture_kg("test", idify=idify)
    model = GreedySearcher(kg).build_model(passes=2, label_qualify=True)
    scorer = AnomalyScorer(model)

    # string-vocabulary edges for the distributed path
    to_node = (lambda n: kg.id_to_node[n]) if idify else (lambda n: n)
    to_pred = (lambda p: kg.id_to_pred[p]) if idify else (lambda p: p)
    edges = [
        (to_node(s), to_pred(p), to_node(o)) for (s, p, o) in kg.id_to_edge.values()
    ]
    triples = spark.createDataFrame(edges, "subj string, pred string, obj string")
    got = {
        (r["subj"], r["pred"], r["obj"]): r["score"]
        for r in score_edges(spark, model, triples).collect()
    }
    assert len(got) == len(set(edges))
    for (s, p, o), score in got.items():
        want = scorer.score_edge((s, p, o))
        assert abs(score - want) < 1e-9, (s, p, o, score, want)


def test_ranking_consistent_and_scores_nonnegative(spark):
    from pyspark.sql import functions as F

    from kgist_spark.operators.anomaly import score_edges

    kg = fixture_kg("test")
    model = GreedySearcher(kg).build_model()
    edges = list(kg.id_to_edge.values())
    triples = spark.createDataFrame(edges, "subj string, pred string, obj string")
    ranked = (
        score_edges(spark, model, triples)
        .orderBy(F.desc("score"), "subj", "pred", "obj")
        .collect()
    )
    assert all(r["score"] >= 0 for r in ranked)
    scores = [r["score"] for r in ranked]
    assert scores == sorted(scores, reverse=True)


@pytest.mark.nell
def test_nell_batch_scoring_matches_oracle(spark):
    """Batch-score all 231k NELL edges distributed; sampled parity vs the
    per-edge oracle (which itself matches the reference exactly)."""
    import random
    import zipfile

    from kgist_spark.operators.anomaly import score_edges
    from kgist_spark.oracle import LocalKG
    from tests.conftest import NELL_ZIP

    if not NELL_ZIP.exists():
        pytest.skip("NELL dataset not available")
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        with zipfile.ZipFile(NELL_ZIP) as z:
            z.extractall(td)
        kg = LocalKG.from_files(f"{td}/nell.txt", f"{td}/nell_labels.txt", idify=True)
    model = GreedySearcher(kg).build_model(passes=2, label_qualify=True)
    scorer = AnomalyScorer(model)
    to_n, to_p = kg.id_to_node, kg.id_to_pred
    edges = [(to_n[s], to_p[p], to_n[o]) for (s, p, o) in kg.id_to_edge.values()]
    triples = spark.createDataFrame(edges, "subj string, pred string, obj string")
    got = {
        (r["subj"], r["pred"], r["obj"]): r["score"]
        for r in score_edges(spark, model, triples).collect()
    }
    assert len(got) == len(set(edges))
    random.seed(1)
    for e in random.sample(edges, 500):
        assert abs(got[e] - scorer.score_edge(e)) < 1e-6, e


@pytest.mark.parametrize("idify", [False, True])
def test_pattern_covered_set_matches_driver_model(spark, idify):
    """The distributed pattern-based covered-set reconstruction equals the
    exact-mode model's driver-resident coverage (so score_edges never needs
    to ship per-edge coverage for level-0 models)."""
    from kgist_spark.operators.anomaly import (
        covered_triples_for_model, node_labels_df)

    kg = fixture_kg("test", idify=idify)
    model = GreedySearcher(kg).build_model(passes=2, label_qualify=True)
    to_node = (lambda n: kg.id_to_node[n]) if idify else (lambda n: n)
    to_pred = (lambda p: kg.id_to_pred[p]) if idify else (lambda p: p)
    want = {
        (to_node(s), to_pred(p), to_node(o))
        for eid in model.covered_edges
        for (s, p, o) in [kg.id_to_edge[eid]]
    }
    edges = [
        (to_node(s), to_pred(p), to_node(o)) for (s, p, o) in kg.id_to_edge.values()
    ]
    triples = spark.createDataFrame(edges, "subj string, pred string, obj string")
    got_df = covered_triples_for_model(
        spark, model, triples, node_labels_df(spark, model)
    )
    assert got_df is not None
    got = {(r["subj"], r["pred"], r["obj"]) for r in got_df.collect()}
    assert got == want


@pytest.mark.nell
def test_pattern_covered_set_matches_driver_model_merged(spark):
    """Rm-merged models route through the SAME distributed pattern path:
    a depth-1 RuleTree's covered edges are exactly the union of its atoms'
    pattern matches (merge unions the constituent level-0 assertions), so
    the driver never ships a per-edge covered relation for merged models."""
    import zipfile
    import tempfile

    from kgist_spark.functions.ir import RuleTree
    from kgist_spark.operators.anomaly import (
        covered_triples_for_model, node_labels_df)
    from kgist_spark.oracle import LocalKG
    from kgist_spark.oracle.refine import merge_rules
    from tests.conftest import NELL_ZIP

    if not NELL_ZIP.exists():
        pytest.skip("NELL dataset not available")
    with tempfile.TemporaryDirectory() as td:
        with zipfile.ZipFile(NELL_ZIP) as z:
            z.extractall(td)
        with open(f"{td}/nell.txt") as f:
            lines = [next(f) for _ in range(3000)]
        with open(f"{td}/nell3k.txt", "w") as f:
            f.write("".join(lines))
        kg = LocalKG.from_files(f"{td}/nell3k.txt", f"{td}/nell_labels.txt", idify=True)
    model = GreedySearcher(kg).build_model(passes=2, label_qualify=True)
    merged = merge_rules(model)
    assert any(isinstance(r, RuleTree) for r in merged.rules)  # real Rm trees

    to_n, to_p = kg.id_to_node, kg.id_to_pred
    want = {
        (to_n[s], to_p[p], to_n[o])
        for eid in merged.covered_edges
        for (s, p, o) in [kg.id_to_edge[eid]]
    }
    edges = [(to_n[s], to_p[p], to_n[o]) for (s, p, o) in kg.id_to_edge.values()]
    triples = spark.createDataFrame(edges, "subj string, pred string, obj string")
    got_df = covered_triples_for_model(
        spark, merged, triples, node_labels_df(spark, merged)
    )
    assert got_df is not None  # no driver fallback for depth-1 trees
    got = {(r["subj"], r["pred"], r["obj"]) for r in got_df.collect()}
    assert got == want


@pytest.mark.parametrize("name", ["test", "tiny1", "label_qualifier_1"])
def test_delta_mode_scoring_matches_oracle(spark, name):
    """End-to-end delta-mode pipeline: distributed greedy fit -> distributed
    covered set + cluster-derived heads -> batch scores == per-edge oracle."""
    from kgist_spark.operators.anomaly import score_edges_delta
    from tests.test_greedy_delta import build_delta

    delta = build_delta(spark, name)
    result = delta.fit(passes=2, label_qualify=True)

    kg = fixture_kg(name, idify=False)
    model = GreedySearcher(kg).build_model(passes=2, label_qualify=True)
    assert set(result["rules"]) == set(model.rules.keys())
    scorer = AnomalyScorer(model)

    from kgist_spark.sources.edgelist import load_triples
    from tests.conftest import FIXTURES

    triples = load_triples(spark, str(FIXTURES / f"{name}.txt"))
    got = {
        (r["subj"], r["pred"], r["obj"]): r["score"]
        for r in score_edges_delta(delta, result, triples).collect()
    }
    for (s, p, o), score in got.items():
        want = scorer.score_edge((s, p, o))
        assert abs(score - want) < 1e-9, (s, p, o, score, want)


def test_delta_blame_parts_are_local_relations(spark):
    """The model-side tables a delta fit's scoring builds on the driver are
    Arrow ``LocalRelation``s, not Python-fed ``LogicalRDD``s whose every
    scan starts the Python workers."""
    from kgist_spark.operators.anomaly import delta_blame_parts
    from tests.conftest import python_rdds
    from tests.test_greedy_delta import build_delta

    delta = build_delta(spark, "test")
    result = delta.fit(passes=2, label_qualify=True)
    assert result["rules"]
    for table in delta_blame_parts(delta, result["rules"]):
        assert python_rdds(table) == []


def test_duck_fit_replays_spark_perturbed_fit(spark):
    """The JVM-free replay that generates the anomaly_topk oracle literals
    must reproduce the Spark perturbed-KG fit decision for decision."""
    from kgist_spark.oracle.duck_model import fit_testdata_model
    from kgist_spark.plans.testdata_queries import _fit_perturbed_model

    sf_dir = "/root/testdata/sf0.001"
    kg, duck_model = fit_testdata_model(sf_dir, perturbed=True)
    summ, spark_model = _fit_perturbed_model(spark, sf_dir)

    def tuplified(index, model):
        return sorted(repr(index.tuplify(r)) for r in model.rules)

    assert tuplified(kg, duck_model) == tuplified(summ.index, spark_model)
    assert len(duck_model.covered_edges) == len(spark_model.covered_edges)

    duck_scorer = AnomalyScorer(duck_model)
    spark_scorer = AnomalyScorer(spark_model)
    assert abs(
        duck_scorer.unexplained_edge_bits() - spark_scorer.unexplained_edge_bits()
    ) < 1e-12
