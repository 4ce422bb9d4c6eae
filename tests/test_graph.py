"""Graph analytics operators over KG and co-occurrence edge lists.

Each operator is pinned by hand-computed values on tiny graphs, by
equality with an independent pure-Python replay on seeded random graphs,
and, where it has a size-gated broadcast, by identical output on both
join paths.
"""

import random

import pytest
from pyspark.sql import functions as F

from kgist_spark.operators.graph import path2_stats, pred_degree_stats

pytestmark = pytest.mark.spark


def test_degree_stats_hand_computed(spark):
    triples = spark.createDataFrame(
        [("a", "p", "x"), ("b", "p", "x"), ("b", "p", "y"), ("c", "q", "x")],
        "subj string, pred string, obj string",
    )
    rows = {(r["pred"], r["dir"]): r for r in pred_degree_stats(triples).collect()}
    p_out = rows[("p", "out")]
    assert (p_out["n_edges"], p_out["n_nodes"], p_out["max_deg"]) == (3, 2, 2)
    assert p_out["avg_deg_x1000"] == 1500
    p_in = rows[("p", "in")]
    assert (p_in["n_edges"], p_in["n_nodes"], p_in["max_deg"]) == (3, 2, 2)
    q_out = rows[("q", "out")]
    assert (q_out["n_edges"], q_out["n_nodes"], q_out["max_deg"]) == (1, 1, 1)


def test_path2_degree_product_equals_enumeration(spark):
    """The degree-product aggregation must count exactly what the naive
    self-join enumerates — on a random multigraph with junction hubs."""
    rng = random.Random(5)
    nodes = [f"n{i}" for i in range(12)]
    preds = ["p", "q", "r"]
    triples = [
        (rng.choice(nodes), rng.choice(preds), rng.choice(nodes))
        for _ in range(150)
    ]
    df = spark.createDataFrame(triples, "subj string, pred string, obj string")
    got = {(r["pred1"], r["pred2"]): r["n_paths"]
           for r in path2_stats(df).collect()}
    want = {}
    for s1, p1, o1 in triples:
        for s2, p2, o2 in triples:
            if o1 == s2:
                want[(p1, p2)] = want.get((p1, p2), 0) + 1
    assert got == want


def test_path2_plan_never_joins_triples_with_triples(spark):
    """The join must be over the (node, pred) degree aggregates — both join
    children carry an Aggregate below them, i.e. no raw self-join."""
    df = spark.createDataFrame(
        [("a", "p", "b"), ("b", "q", "c")], "subj string, pred string, obj string"
    )
    plan = path2_stats(df)._jdf.queryExecution().optimizedPlan().toString()
    join_pos = plan.find("Join")
    assert join_pos != -1
    below = plan[join_pos:]
    # the enumerating plan would have a Join whose children are plain scans;
    # here every scan sits under an Aggregate
    assert below.count("Aggregate") >= 2


def test_degree_stats_single_scan_plan(spark):
    """The two directions must come from ONE explode over the triples scan,
    not a union re-executing the parent per direction."""
    triples = spark.range(100).select(
        F.concat(F.lit("s"), F.col("id")).alias("subj"),
        F.lit("p").alias("pred"),
        F.concat(F.lit("o"), (F.col("id") % 10)).alias("obj"),
    )
    plan = pred_degree_stats(triples)._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan
    assert plan.count("Generate") == 1


# ---------------------------------------------------------------------------
# co-occurrence graph + degree-oriented triangle counting
# ---------------------------------------------------------------------------

def _edges_df(spark, pairs):
    return spark.createDataFrame(pairs, "a long, b long")


def _tri(spark, pairs):
    from kgist_spark.operators.graph import triangle_count

    row = triangle_count(_edges_df(spark, pairs)).collect()[0]
    return row["n_nodes"], row["n_edges"], row["n_triangles"]


def test_triangle_count_k4(spark):
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    assert _tri(spark, k4) == (4, 6, 4)


def test_triangle_count_path_and_bowtie(spark):
    assert _tri(spark, [(1, 2), (2, 3), (3, 4)]) == (4, 3, 0)
    bowtie = [(1, 2), (1, 3), (2, 3), (3, 4), (3, 5), (4, 5)]
    assert _tri(spark, bowtie) == (5, 6, 2)


def test_triangle_count_star_skew(spark):
    # hub of degree 9: orientation sends every spoke INTO the hub, so the
    # hub enumerates zero wedges from its own adjacency; the one closing
    # edge makes exactly one triangle
    star = [(100, i) for i in range(1, 10)] + [(1, 2)]
    assert _tri(spark, star) == (10, 10, 1)


def test_cooccur_edges_cap_and_triangles(spark):
    from kgist_spark.operators.graph import cooccur_edges, triangle_count
    from kgist_spark.operators.minhash import log_drop_stats

    rows = (
        [("g1", i) for i in (1, 2, 3)]          # triangle
        + [("hot", i) for i in range(10, 16)]    # 6 items > cap -> dropped
        + [("g2", 1), ("g2", 2)]                 # duplicate edge (1,2)
        + [("g1", 1)]                            # duplicate membership
    )
    df = spark.createDataFrame(rows, "g string, it long")
    edges = cooccur_edges(df, "g", "it", max_group=4)
    got = sorted(map(tuple, edges.collect()))
    assert got == [(1, 2), (1, 3), (2, 3)]
    drops = log_drop_stats(edges, "test_cooccur")
    assert drops == {"dropped_buckets": 1, "dropped_ids": 6}
    row = triangle_count(edges).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (3, 3, 1)


# ---------------------------------------------------------------------------
# resource-allocation link prediction (linkpred_ra)


def _py_linkpred(edges, max_junction_deg, k, scale=1_000_000):
    canon = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nbrs = {}
    for u, v in canon:
        nbrs.setdefault(u, set()).add(v)
        nbrs.setdefault(v, set()).add(u)
    deg = {n: len(s) for n, s in nbrs.items()}
    scores = {}
    for z, s in nbrs.items():
        if not (2 <= deg[z] <= max_junction_deg):
            continue
        ns = sorted(s)
        for i, a in enumerate(ns):
            for b in ns[i + 1:]:
                if (a, b) in canon:
                    continue
                n, r = scores.get((a, b), (0, 0))
                scores[(a, b)] = (n + 1, r + scale // deg[z])
    rows = [(a, b, n, r) for (a, b), (n, r) in scores.items()]
    rows.sort(key=lambda t: (-t[3], t[0], t[1]))
    return rows[:k]


def _linkpred_spark(spark, edges, **kw):
    from kgist_spark.operators.graph import linkpred_ra

    df = spark.createDataFrame(edges, "a string, b string")
    return [tuple(r) for r in linkpred_ra(df, **kw).collect()]


def test_linkpred_star_hand_computed(spark):
    # star z-{a,b,c}: z is the only junction (deg 3); every leaf pair is
    # non-adjacent with one common neighbor scoring 1e6 div 3
    edges = [("z", "a"), ("z", "b"), ("z", "c")]
    assert _linkpred_spark(spark, edges, k=10) == [
        ("a", "b", 1, 333333), ("a", "c", 1, 333333), ("b", "c", 1, 333333),
    ]


def test_linkpred_existing_edges_excluded(spark):
    # triangle + pendant: the only non-adjacent pairs run through the
    # triangle corners; adjacent pairs never appear
    edges = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
    got = _linkpred_spark(spark, edges, k=10)
    pairs = {(r[0], r[1]) for r in got}
    assert ("a", "b") not in pairs and ("a", "c") not in pairs
    assert ("a", "d") in pairs and ("b", "d") in pairs


def test_linkpred_junction_cap_is_semantics(spark):
    # with the cap below the hub degree the hub contributes nothing
    edges = [("z", "a"), ("z", "b"), ("z", "c")]
    assert _linkpred_spark(spark, edges, max_junction_deg=2, k=10) == []


def test_linkpred_matches_python_replay(spark):
    rng = random.Random(31)
    edges = [(f"n{rng.randrange(35)}", f"n{rng.randrange(35)}") for _ in range(80)]
    assert _linkpred_spark(spark, edges, max_junction_deg=8, k=25) == \
        _py_linkpred(edges, max_junction_deg=8, k=25)


# ---------------------------------------------------------------------------
# neighborhood Jaccard (neighbor_jaccard)


def _py_neighbor_jaccard(edges, max_junction_deg, k, scale=1_000_000):
    canon = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nbrs = {}
    for u, v in canon:
        nbrs.setdefault(u, set()).add(v)
        nbrs.setdefault(v, set()).add(u)
    deg = {n: len(s) for n, s in nbrs.items()}
    common = {}
    for z, s in nbrs.items():
        if not (2 <= deg[z] <= max_junction_deg):
            continue
        ns = sorted(s)
        for i, a in enumerate(ns):
            for b in ns[i + 1:]:
                if (a, b) in canon:
                    continue
                common[(a, b)] = common.get((a, b), 0) + 1
    rows = [
        (a, b, n, deg[a], deg[b], n * scale // (deg[a] + deg[b] - n))
        for (a, b), n in common.items()
    ]
    rows.sort(key=lambda t: (-t[5], t[0], t[1]))
    return rows[:k]


def _nj_spark(spark, edges, **kw):
    from kgist_spark.operators.graph import neighbor_jaccard

    df = spark.createDataFrame(edges, "a string, b string")
    return [tuple(r) for r in neighbor_jaccard(df, **kw).collect()]


def test_neighbor_jaccard_shared_pair_hand_computed(spark):
    # a and b both link to x and y (4-cycle): N(a)=N(b)={x,y} so jac=1;
    # x and y likewise mirror each other
    edges = [("a", "x"), ("a", "y"), ("b", "x"), ("b", "y")]
    got = _nj_spark(spark, edges, k=10)
    assert got == [
        ("a", "b", 2, 2, 2, 1_000_000),
        ("x", "y", 2, 2, 2, 1_000_000),
    ]


def test_neighbor_jaccard_denominator_uses_full_degrees(spark):
    # path a-z-b plus pendant b-c: pair (a,b) shares only z but b has an
    # extra neighbor, so jac = 1e6 div (1 + 2 - 1) = 500000
    edges = [("a", "z"), ("z", "b"), ("b", "c")]
    got = {(r[0], r[1]): r for r in _nj_spark(spark, edges, k=10)}
    assert got[("a", "b")] == ("a", "b", 1, 1, 2, 500_000)
    assert got[("c", "z")] == ("c", "z", 1, 1, 2, 500_000)


def test_neighbor_jaccard_junction_cap_is_semantics(spark):
    edges = [("z", "a"), ("z", "b"), ("z", "c")]
    assert _nj_spark(spark, edges, max_junction_deg=2, k=10) == []


def test_neighbor_jaccard_matches_python_replay(spark):
    rng = random.Random(47)
    edges = [(f"n{rng.randrange(30)}", f"n{rng.randrange(30)}")
             for _ in range(90)]
    assert _nj_spark(spark, edges, max_junction_deg=8, k=25) == \
        _py_neighbor_jaccard(edges, max_junction_deg=8, k=25)


# ---------------------------------------------------------------------------
# degree assortativity (degree_assortativity)


def _assort_spark(spark, edges):
    from kgist_spark.operators.graph import degree_assortativity

    df = spark.createDataFrame(edges, "a string, b string")
    rows = degree_assortativity(df).collect()
    assert len(rows) == 1
    return tuple(rows[0])


def test_assortativity_star_is_minus_one(spark):
    # star: every edge joins the deg-3 hub to a deg-1 leaf — perfectly
    # disassortative.  m=3, sjk=9, ssum=12, ssq=30 -> r = -1 exactly
    got = _assort_spark(spark, [("z", "a"), ("z", "b"), ("z", "c")])
    assert got == (3, 9, 12, 30, -1_000_000)


def test_assortativity_regular_graph_is_null(spark):
    # a cycle is 2-regular: zero degree variance, r undefined -> NULL
    got = _assort_spark(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    assert got == (3, 12, 12, 24, None)


def test_assortativity_matches_python_replay(spark):
    rng = random.Random(53)
    edges = [(f"n{rng.randrange(25)}", f"n{rng.randrange(25)}")
             for _ in range(70)]
    canon = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    deg = {}
    for u, v in canon:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    m = len(canon)
    sjk = sum(deg[u] * deg[v] for u, v in canon)
    ssum = sum(deg[u] + deg[v] for u, v in canon)
    ssq = sum(deg[u] ** 2 + deg[v] ** 2 for u, v in canon)
    mu = ssum / (2 * m)
    num, den = sjk / m - mu * mu, ssq / (2 * m) - mu * mu
    want = round(num / den * 1_000_000) if den > 0 else None
    assert _assort_spark(spark, edges) == (m, sjk, ssum, ssq, want)


# ----------------------------------------------------------- random walks


def _py_walks(edges, walk_len, max_degree, salt="walk"):
    """Independent driver-side replay of the seeded walk scheme."""
    import hashlib

    adj = {}
    for s, d in sorted(set((s, d) for s, d in edges if s != d)):
        adj.setdefault(s, []).append(d)
    for s, ds in adj.items():
        key = lambda d: (hashlib.md5(f"{salt}|{s}|{d}".encode()).hexdigest(), d)
        adj[s] = sorted(ds, key=key)[:max_degree]
    rows = set()
    for start in adj:
        cur = start
        rows.add((start, 0, start))
        for t in range(1, walk_len + 1):
            if cur not in adj:
                break
            nbrs = adj[cur]
            draw = int(hashlib.md5(
                f"{salt}#{start}#{t}".encode()).hexdigest()[:8], 16)
            cur = nbrs[draw % len(nbrs)]
            rows.add((start, t, cur))
    return rows


def _walks_spark(spark, edges, walk_len, max_degree, **kw):
    from kgist_spark.operators.graph import random_walks

    df = spark.createDataFrame(edges, "src string, dst string")
    out = random_walks(df, walk_len=walk_len, max_degree=max_degree, **kw)
    return {(r["start"], r["step"], r["node"]) for r in out.collect()}


def test_walks_dead_end_stops(spark):
    # b has no out-edges: the walk from a stops after step 1 (no padding)
    got = _walks_spark(spark, [("a", "b")], walk_len=3, max_degree=4)
    assert got == {("a", 0, "a"), ("a", 1, "b")}


def test_walks_match_python_replay(spark):
    rng = random.Random(31)
    edges = [(f"n{rng.randrange(20)}", f"n{rng.randrange(20)}")
             for _ in range(120)]
    for wl, md in ((3, 16), (4, 2)):
        assert _walks_spark(spark, edges, wl, md) == _py_walks(edges, wl, md)


def test_walks_degree_cap_is_md5_sample(spark):
    # hub with 6 neighbors capped at 2: the kept pair is the md5-order
    # prefix, and every draw lands inside it
    edges = [("h", f"x{i}") for i in range(6)]
    import hashlib
    keep = sorted(
        (f"x{i}" for i in range(6)),
        key=lambda d: (hashlib.md5(f"walk|h|{d}".encode()).hexdigest(), d),
    )[:2]
    got = _walks_spark(spark, edges, walk_len=1, max_degree=2)
    step1 = {n for s, t, n in got if t == 1}
    assert step1 <= set(keep) and ("h", 0, "h") in got


def test_walks_broadcast_and_shuffle_paths_identical(spark):
    rng = random.Random(37)
    edges = [(f"n{rng.randrange(12)}", f"n{rng.randrange(12)}")
             for _ in range(50)]
    a = _walks_spark(spark, edges, 3, 8)
    b = _walks_spark(spark, edges, 3, 8, broadcast_max_nodes=0)
    assert a == b


# --------------------------------------------- snapshot diff / serialization


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


def test_kg_sentences_serialization_and_cap(spark):
    from kgist_spark.operators.graph import kg_sentences

    schema = "subj string, pred string, obj string"
    t = spark.createDataFrame(
        [("a", "p", "x"), ("a", "q", "y"), ("a", "p", "x"),  # dup collapses
         ("h", "p", "n1"), ("h", "p", "n2"), ("h", "p", "n3")],
        schema)
    got = {r["subj"]: (r["n_facts"], r["n_facts_kept"], r["text"])
           for r in kg_sentences(t, max_facts=2).collect()}
    assert got["a"] == (2, 2, "a p x. a q y")
    # hub capped at 2: true count 3, kept 2, lexicographically first two
    assert got["h"] == (3, 2, "h p n1. h p n2")


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


def test_dense_node_index_matches_global_window(spark):
    """The two-phase md5-prefix index reproduces the single global
    ROW_NUMBER (pinned at several bucket granularities)."""
    import hashlib

    from kgist_spark.operators.graph import _dense_node_index

    names = [f"node{i:03d}" for i in range(300)]
    want = {
        n: i
        for i, n in enumerate(sorted(
            names, key=lambda n: (hashlib.md5(("s" + n).encode()).hexdigest(), n)
        ))
    }
    nodes = spark.createDataFrame([(n,) for n in names], "node string")
    for bh in (1, 2, 3):
        got = {r["node"]: r["idx"]
               for r in _dense_node_index(nodes, "s", bucket_hex=bh).collect()}
        assert got == want, bh


def test_negative_samples_properties(spark):
    """Draws are deterministic, tails come from the node set, true-edge
    corruptions are filtered, drops are visible as missing k_idx."""
    from kgist_spark.operators.graph import negative_samples

    triples = spark.createDataFrame(
        [("a", "p", "b"), ("a", "p", "c"), ("b", "q", "c"), ("c", "p", "d")],
        "subj string, pred string, obj string",
    )
    out1 = sorted(map(tuple, negative_samples(triples, n_neg=3).collect()))
    out2 = sorted(map(tuple, negative_samples(triples, n_neg=3).collect()))
    assert out1 == out2  # bit-deterministic
    nodes = {"a", "b", "c", "d"}
    true = {("a", "p", "b"), ("a", "p", "c"), ("b", "q", "c"), ("c", "p", "d")}
    assert out1, "some negatives must survive"
    for s, p, o, k, neg in out1:
        assert neg in nodes
        assert (s, p, neg) not in true  # filtered protocol
        assert 1 <= k <= 3
    # a different salt yields a different (still valid) draw sequence
    other = sorted(map(tuple,
                       negative_samples(triples, n_neg=3, salt="x").collect()))
    assert other != out1


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


def test_negative_samples_head_corruption(spark):
    from kgist_spark.operators.graph import negative_samples

    triples = spark.createDataFrame(
        [("a", "p", "b"), ("a", "p", "c"), ("b", "q", "c"), ("c", "p", "d")],
        "subj string, pred string, obj string",
    )
    head = negative_samples(triples, n_neg=3, corrupt="head").collect()
    assert head and "neg_subj" in head[0].asDict()
    true = {("a", "p", "b"), ("a", "p", "c"), ("b", "q", "c"), ("c", "p", "d")}
    for r in head:
        assert (r["neg_subj"], r["pred"], r["obj"]) not in true
    # independent streams: the head draws differ from the tail draws
    tail = {(r["subj"], r["pred"], r["obj"], r["k_idx"], r["neg_obj"])
            for r in negative_samples(triples, n_neg=3).collect()}
    headset = {(r["subj"], r["pred"], r["obj"], r["k_idx"], r["neg_subj"])
               for r in head}
    assert headset != tail
