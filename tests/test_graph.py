"""KG monitoring tables: snapshot churn, the predicate schema profile, its
schema violations and drift, and meta-path counts, each pinned by
hand-computed values on tiny graphs.
"""

import pytest

pytestmark = pytest.mark.spark


# ------------------------------------------------------------ snapshot diff


def test_snapshot_diff_hand_computed(spark):
    from kgist_spark.operators.graph import snapshot_diff

    schema = "subj string, pred string, obj string"
    old = spark.createDataFrame(
        [("a", "p", "x"), ("a", "p", "y"), ("b", "p", "x"), ("b", "q", "x"),
         ("b", "q", "x")],  # duplicate collapses
        schema)
    new = spark.createDataFrame(
        [("a", "p", "x"), ("b", "p", "z"), ("c", "r", "x")], schema)
    got = {r["pred"]: (r["n_added"], r["n_removed"], r["n_kept"],
                       r["churn_x1e6"])
           for r in snapshot_diff(old, new).collect()}
    # p: old {apx,apy,bpx} new {apx,bpz}: +1 -2 =1; churn (1+2)*1e6 DIV 3
    # q: removed entirely; r: brand-new -> sentinel -1
    assert got == {
        "p": (1, 2, 1, 1000000),
        "q": (0, 1, 0, 1000000),
        "r": (1, 0, 0, -1),
    }


def test_snapshot_diff_identical_snapshots(spark):
    from kgist_spark.operators.graph import snapshot_diff

    schema = "subj string, pred string, obj string"
    kg = spark.createDataFrame([("a", "p", "x"), ("b", "p", "y")], schema)
    (row,) = snapshot_diff(kg, kg).collect()
    assert (row["n_added"], row["n_removed"], row["n_kept"],
            row["churn_x1e6"]) == (0, 0, 2, 0)


# ---------------------------------------------------------------------------
# predicate_schema (domain/range type profile with fixed-point entropy)
# ---------------------------------------------------------------------------


def test_predicate_schema_hand_computed(spark):
    import math

    from kgist_spark.operators.graph import predicate_schema

    triples = spark.createDataFrame(
        [("a", "p", "b"), ("c", "p", "b"), ("d", "p", "e")],
        "subj string, pred string, obj string",
    )
    labels = spark.createDataFrame(
        [("a", "T1"), ("c", "T1"), ("d", "T2"), ("b", "T3"), ("e", "T3")],
        "node string, label string",
    )
    rows = {(r["pred"], r["side"]): r
            for r in predicate_schema(triples, labels).collect()}
    s = rows[("p", "s")]
    # subject slot: T1 x2, T2 x1 over n=3
    assert s["n_pairs"] == 3 and s["n_types"] == 2
    assert s["top_label"] == "T1"
    assert s["top_share_x1e6"] == 2 * 1_000_000 // 3
    t1 = round(1_000_000 * (2 * math.log2(3 / 2)) / 3)
    t2 = round(1_000_000 * (1 * math.log2(3 / 1)) / 3)
    assert s["entropy_x1e6"] == t1 + t2
    # object slot: all T3 -> zero entropy, full dominance
    o = rows[("p", "o")]
    assert o["n_types"] == 1 and o["top_share_x1e6"] == 1_000_000
    assert o["entropy_x1e6"] == 0


def test_predicate_schema_tiebreak_and_multilabel(spark):
    from kgist_spark.operators.graph import predicate_schema

    # equal counts -> lexicographically smallest label wins dominance
    triples = spark.createDataFrame(
        [("a", "p", "x"), ("b", "p", "x")],
        "subj string, pred string, obj string",
    )
    labels = spark.createDataFrame(
        # 'a' carries TWO labels: each (triple, label) pair counts once
        [("a", "TB"), ("a", "TA"), ("b", "TB"), ("x", "TZ")],
        "node string, label string",
    )
    rows = {(r["pred"], r["side"]): r
            for r in predicate_schema(triples, labels).collect()}
    s = rows[("p", "s")]
    # subject pairs: TB x2 (a & b), TA x1 -> n=3; dominance TB
    assert s["n_pairs"] == 3 and s["n_types"] == 2 and s["top_label"] == "TB"
    # unlabeled nodes never contribute (inner join semantics)
    triples2 = spark.createDataFrame(
        [("ghost", "q", "x")], "subj string, pred string, obj string"
    )
    out = predicate_schema(triples2, labels).collect()
    assert {(r["pred"], r["side"]) for r in out} == {("q", "o")}


def test_schema_violations_hand_computed(spark):
    """Constraints induce on occurrence COVERAGE (multi-label nodes don't
    dilute), violations count labeled-but-wrong-typed slot occurrences,
    unlabeled nodes are excluded, sub-gate slots emit nothing."""
    from kgist_spark.operators.graph import schema_violations

    triples = spark.createDataFrame(
        # p: subjects o1, o1, o2 (all 'order'), one noise subject n1
        [("o1", "p", "c1"), ("o1", "p", "c2"), ("o2", "p", "c1"),
         ("n1", "p", "c2"),
         # q: objects split 50/50 -> no constraint at 0.9
         ("o1", "q", "c1"), ("o2", "q", "n1"),
         # r: subject is an unlabeled ghost -> excluded, no totals row
         ("ghost", "r", "c1")],
        "subj string, pred string, obj string",
    )
    labels = spark.createDataFrame(
        # orders carry a SECOND label (multi-label dilution trap)
        [("o1", "order"), ("o1", "thing"), ("o2", "order"), ("o2", "thing"),
         ("c1", "customer"), ("c2", "customer"), ("n1", "nation")],
        "node string, label string",
    )
    out = {(r["pred"], r["side"]): r
           for r in schema_violations(triples, labels).collect()}
    # p/s: 4 labeled occurrences, 3 covered by 'order' -> below 0.9? 3/4
    # = 0.75 < 0.9 -> NO constraint.  p/o: 4/4 'customer' -> constraint,
    # zero violations.
    assert ("p", "s") not in out
    po = out[("p", "o")]
    assert (po["expected_label"], po["n_checked"], po["n_violations"]) == (
        "customer", 4, 0)
    # q/o: c1 customer vs n1 nation -> 1/2 coverage, no constraint
    assert ("q", "o") not in out
    # r/s: ghost unlabeled -> no row at all; r/o is a clean constraint
    assert ("r", "s") not in out
    ro = out[("r", "o")]
    assert ro["n_checked"] == 1 and ro["n_violations"] == 0


def test_schema_violations_detects_noise(spark):
    from kgist_spark.operators.graph import schema_violations

    # 19 clean order subjects + 1 nation subject: coverage 19/20 = 0.95
    # >= 0.9 -> constraint induced, the noise edge IS the violation
    triples = spark.createDataFrame(
        [(f"o{i}", "p", "c1") for i in range(19)] + [("n1", "p", "c1")],
        "subj string, pred string, obj string",
    )
    labels = spark.createDataFrame(
        [(f"o{i}", "order") for i in range(19)]
        + [("n1", "nation"), ("c1", "customer")],
        "node string, label string",
    )
    out = {(r["pred"], r["side"]): r
           for r in schema_violations(triples, labels).collect()}
    ps = out[("p", "s")]
    assert ps["expected_label"] == "order"
    assert (ps["n_checked"], ps["n_violations"]) == (20, 1)
    assert ps["viol_rate_x1e6"] == 1_000_000 // 20


def test_schema_drift_hand_computed(spark):
    """Matched slots report the entropy delta and top flips; one-sided
    slots stay visible with NULL-free sentinels."""
    from kgist_spark.operators.graph import predicate_schema, schema_drift

    labels = spark.createDataFrame(
        [("a", "T1"), ("b", "T1"), ("c", "T2"), ("x", "TX")],
        "node string, label string",
    )
    old = spark.createDataFrame(
        [("a", "p", "x"), ("b", "p", "x"),       # p/s all T1 (entropy 0)
         ("a", "gone", "x")],                     # pred vanishes
        "subj string, pred string, obj string",
    )
    new = spark.createDataFrame(
        [("a", "p", "x"), ("c", "p", "x"),       # p/s now T1+T2 -> entropy>0
         ("c", "fresh", "x")],                    # new pred appears
        "subj string, pred string, obj string",
    )
    rows = {(r["pred"], r["side"]): r
            for r in schema_drift(old, new, labels).collect()}
    ps = rows[("p", "s")]
    assert ps["status"] == "both"
    assert ps["old_entropy_x1e6"] == 0 and ps["new_entropy_x1e6"] > 0
    assert ps["d_entropy_x1e6"] == ps["new_entropy_x1e6"]
    assert ps["top_changed"] is False  # T1 still dominant (tie -> T1)
    g = rows[("gone", "s")]
    assert g["status"] == "old_only" and g["new_entropy_x1e6"] == -1
    assert g["new_top"] == "" and g["d_entropy_x1e6"] == 0
    f = rows[("fresh", "s")]
    assert f["status"] == "new_only" and f["old_entropy_x1e6"] == -1
    # drift numbers agree with profiling each snapshot independently
    new_prof = {(r["pred"], r["side"]): r["entropy_x1e6"]
                for r in predicate_schema(new, labels).collect()}
    assert ps["new_entropy_x1e6"] == new_prof[("p", "s")]


def test_metapath_hand_computed_and_junction_cap(spark):
    from kgist_spark.operators.graph import metapath_topk

    triples = spark.createDataFrame(
        # customer c1 <- orders o1,o2; c2 <- o3
        [("o1", "placed_by", "c1"), ("o2", "placed_by", "c1"),
         ("o3", "placed_by", "c2"),
         # o1 -> p1, p2; o2 -> p1; o3 -> p1
         ("o1", "contains_part", "p1"), ("o1", "contains_part", "p2"),
         ("o2", "contains_part", "p1"), ("o3", "contains_part", "p1"),
         # p1 -> s1; p2 -> s1, s2
         ("p1", "supplied_by", "s1"), ("p2", "supplied_by", "s1"),
         ("p2", "supplied_by", "s2")],
        "subj string, pred string, obj string",
    )
    path = [("placed_by", "rev"), ("contains_part", "fwd"),
            ("supplied_by", "fwd")]
    rows = {(r["start"], r["end"]): r["n_paths"]
            for r in metapath_topk(triples, path, k=10).collect()}
    # c1->s1: o1p1, o1p2, o2p1 = 3; c1->s2: o1p2 = 1; c2->s1: o3p1 = 1
    assert rows == {("c1", "s1"): 3, ("c1", "s2"): 1, ("c2", "s1"): 1}
    # junction cap: capping order out-degree at 1 drops o1 (degree 2)
    capped = {(r["start"], r["end"]): r["n_paths"]
              for r in metapath_topk(triples, path, k=10,
                                     max_junction_deg=1).collect()}
    assert capped == {("c1", "s1"): 1, ("c2", "s1"): 1}
