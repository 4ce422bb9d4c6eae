"""End-to-end KG-construction pipeline tests: extraction P/R against the
independent corpus generator, the byte-identity invariant, canonicalization,
materialization + resume, and summarization over the constructed KG."""

import json

import pytest

from kgist_spark.pipeline import spec
from kgist_spark.sources import webpages as W

pytestmark = pytest.mark.spark

N_DOCS = 300
SEED = 42


@pytest.fixture(scope="module")
def world():
    return W.World(SEED)


@pytest.fixture(scope="module")
def pages(spark, world):
    df = W.generate_pages(spark, N_DOCS, seed=SEED, world=world).cache()
    df.count()
    return df


# ---------------------------------------------------------------------------
# spec oracle unit behavior
# ---------------------------------------------------------------------------

def test_spec_oracle_example():
    text = (
        "Alice Smith is the CEO of Acme Corp.  the quarterly report was filed on time. "
        "Acme Corp is located in Paris.\r\nAlice Smith was born in Berlin."
    )
    page = spec.extract_page(text)
    assert page["triples"] == [
        ("person:alice_smith", "ceo_of", "org:acme_corp"),
        ("org:acme_corp", "located_in", "place:paris"),
        ("person:alice_smith", "born_in", "place:berlin"),
    ]
    assert page["labels"]["org:acme_corp"] == ("org", "org_corp")
    assert page["labels"]["person:alice_smith"] == ("person",)
    # normalization is idempotent and pure
    assert spec.normalize_text(page["text"]) == page["text"]


def test_spec_decoys_yield_nothing():
    for noise in W.NOISE_SENTENCES:
        assert spec.extract_page(noise)["triples"] == []


# ---------------------------------------------------------------------------
# generator determinism
# ---------------------------------------------------------------------------

def test_world_rejects_sizes_past_its_name_space():
    """Names are drawn until distinct, so a world larger than its name
    space would never finish building; it is refused before any draw."""
    persons = len(W.FIRST_NAMES) * len(W.LAST_NAMES)
    orgs = len(W.ORG_CORES) * len(spec.ORG_SUFFIXES)
    assert len(W.World(SEED, n_persons=persons).persons) == persons
    assert len(W.World(SEED, n_orgs=orgs + 1, alias_rate=0.5).orgs) == orgs + 1
    for kw in (dict(n_persons=persons + 1), dict(n_orgs=orgs + 1),
               dict(n_orgs=orgs * len(W.ORG_CORES) + 1, alias_rate=0.5)):
        with pytest.raises(ValueError):
            W.World(SEED, **kw)


def test_generator_partitioning_independent(spark, world):
    a = W.generate_pages(spark, 50, seed=SEED, world=world, num_partitions=1).collect()
    b = W.generate_pages(spark, 50, seed=SEED, world=world, num_partitions=7).collect()
    key = lambda r: r["url"]
    assert sorted([r.asDict() for r in a], key=lambda d: d["url"]) == sorted(
        [r.asDict() for r in b], key=lambda d: d["url"]
    )


# ---------------------------------------------------------------------------
# stage 1: extraction
# ---------------------------------------------------------------------------

def test_byte_identical_extracted_text(spark, pages, world):
    from kgist_spark.pipeline.extract import extracted_text

    got = {r["url"]: r["text"] for r in extracted_text(pages).collect()}
    for r in pages.where("lang = 'en'").collect():
        assert got[r["url"]] == spec.normalize_text(r["text"]), r["url"]
    assert len(got) == pages.where("lang = 'en'").count()


def test_extraction_precision_recall(spark, pages, world):
    from kgist_spark.pipeline.extract import extract_triples

    got = {
        (r["url"], r["subj"], r["pred"], r["obj"])
        for r in extract_triples(pages).collect()
    }
    truth = {
        (r["url"], r["subj"], r["pred"], r["obj"])
        for r in W.ground_truth(spark, N_DOCS, seed=SEED, world=world).collect()
    }
    tp = len(got & truth)
    precision = tp / len(got)
    recall = tp / len(truth)
    assert precision >= 0.95, (precision, len(got), len(truth))
    assert recall >= 0.95, (recall, len(got), len(truth))


def test_fused_extraction_matches_single_purpose(spark, pages):
    """extract_facts (one tagged pass) row-matches extract_triples +
    extract_labels run separately."""
    from kgist_spark.pipeline.extract import (
        extract_facts,
        extract_labels,
        extract_triples,
    )

    facts = extract_facts(pages).collect()
    fused_t = {(r["url"], r["subj"], r["pred"], r["obj"])
               for r in facts if r["kind"] == "t"}
    fused_l = {(r["url"], r["node"], r["label"], r["pos"])
               for r in facts if r["kind"] == "l"}
    sep_t = {(r["url"], r["subj"], r["pred"], r["obj"])
             for r in extract_triples(pages).collect()}
    sep_l = {(r["url"], r["node"], r["label"], r["pos"])
             for r in extract_labels(pages).collect()}
    assert fused_t == sep_t and len(fused_t) > 0
    assert fused_l == sep_l and len(fused_l) > 0


def test_spark_extraction_matches_oracle(spark, pages):
    from kgist_spark.pipeline.extract import extract_triples

    got = sorted(
        (r["url"], r["subj"], r["pred"], r["obj"], r["span_start"], r["span_end"])
        for r in extract_triples(pages).collect()
    )
    want = []
    for r in pages.where("lang = 'en'").collect():
        page = spec.extract_page(r["text"])
        for s, st, pred, o, ot, a, b in page["relations"]:
            want.append((r["url"], spec.entity_id(s, st), pred, spec.entity_id(o, ot), a, b))
    assert got == sorted(want)


# ---------------------------------------------------------------------------
# stage 2: canonicalization
# ---------------------------------------------------------------------------

def test_canonical_map_merges_near_duplicates(spark):
    from kgist_spark.pipeline.canonicalize import canonical_map

    ents = spark.createDataFrame(
        [("org:acme_corp",), ("org:acme_corps",), ("org:zenith_labs",),
         ("person:alice_smith",), ("person:alice_smith",), ("place:paris",)],
        ["node"],
    ).distinct()
    got = {r["node"]: r["canonical"] for r in canonical_map(ents, threshold=0.6).collect()}
    assert got["org:acme_corp"] == got["org:acme_corps"] == "org:acme_corp"
    assert got["org:zenith_labs"] == "org:zenith_labs"
    assert got["place:paris"] == "place:paris"


def test_local_murmur_matches_spark_hash(spark):
    """The driver-local canonicalization replays F.hash bit for bit:
    (string, int-literal) seed chains and array<int> folds."""
    import numpy as np
    from pyspark.sql import functions as F

    from kgist_spark.oracle.duck_model import _hash_bytes
    from kgist_spark.pipeline.canonicalize_local import hash_int_vec

    strings = ["abc", "x", "é1", "per:alice", ""]
    rows = spark.createDataFrame([(s,) for s in strings], ["s"])
    for p in (0, 5, 31):
        got = {r["s"]: r["h"] for r in
               rows.select("s", F.hash("s", F.lit(p)).alias("h")).collect()}
        for s in strings:
            h = _hash_bytes(s.encode("utf-8"), 42) & 0xFFFFFFFF
            want = int(hash_int_vec(np.uint32(p), np.uint32(h)).view(np.int32))
            assert got[s] == want, (s, p)

    arrays = [[1, 2, 3, 4], [-5, 0, 7, 2**31 - 1]]
    got = [r["h"] for r in
           spark.createDataFrame([(a,) for a in arrays], "a: array<int>")
           .select(F.hash(F.col("a").cast("array<int>")).alias("h")).collect()]
    for a, g in zip(arrays, got):
        h = np.uint32(42)
        for e in a:
            h = hash_int_vec(np.int32(e).view(np.uint32), h)
        assert int(h.view(np.int32)) == g, a


@pytest.fixture(scope="module")
def adversarial_vocab(spark):
    """Corpus vocabulary + adversarial synthetic surfaces: dups, near-dups,
    short ids that shingle below k, multi-etype collisions, and a hot block
    of 80 ids that share almost every trigram (one 40-character stem, 2-letter
    suffixes), so at least one band bucket outgrows ``max_bucket=64``."""
    import random

    from kgist_spark.pipeline.canonicalize import entity_vocabulary
    from kgist_spark.pipeline.extract_jvm import extract_facts_jvm
    from kgist_spark.sources.webpages import World, generate_pages
    from pyspark.sql import functions as F

    pages = generate_pages(spark, 2000, seed=7, world=World(7))
    raw = (extract_facts_jvm(pages).where(F.col("kind") == "t")
           .groupBy("subj", "pred", "obj").agg(F.min("url").alias("url")))
    vocab = [r["node"] for r in entity_vocabulary(raw).collect()]
    rng = random.Random(13)
    extra = []
    for i in range(150):
        base = f"org:{''.join(rng.choices('abcdef_', k=rng.randint(1, 12)))}"
        extra.append(base)
        if rng.random() < 0.5:
            extra.append(base + rng.choice("sxy"))
        if rng.random() < 0.2:
            extra.append("person:" + base.split(":", 1)[1])
    stem = "org:northwestern_consolidated_widget_holding"
    extra += [stem + a + b for a in "abcdefghij" for b in "abcdefgh"]
    return list(set(vocab) | set(extra))


def test_canonical_map_local_equals_distributed(spark, adversarial_vocab,
                                                monkeypatch):
    """The size-gated driver path and the distributed LSH chain produce the
    IDENTICAL (node, canonical) map — same buckets, pairs, components —
    including the hot-bucket drops, which the distributed path makes where
    it verifies (inside the surviving buckets)."""
    import kgist_spark.operators.minhash as MH
    from kgist_spark.pipeline.canonicalize import canonical_map

    calls = []
    candidate_pairs = MH.candidate_pairs

    def spy(*a, **k):
        calls.append(candidate_pairs(*a, **k))
        return calls[-1]

    monkeypatch.setattr(MH, "candidate_pairs", spy)
    ents = spark.createDataFrame([(e,) for e in adversarial_vocab], ["node"])
    local = {r["node"]: r["canonical"]
             for r in canonical_map(ents, threshold=0.6).collect()}
    assert not calls  # below local_threshold: no Spark LSH chain
    dist = {r["node"]: r["canonical"]
            for r in canonical_map(ents, threshold=0.6,
                                   local_threshold=0).collect()}
    assert local == dist
    assert len(local) == ents.count()
    assert len(calls) == 1
    assert MH.log_drop_stats(calls[0], "hot block")["dropped_buckets"] >= 1


def test_canonical_map_distributed_job_count(spark, adversarial_vocab):
    """Guard on the Spark jobs one distributed ``canonical_map`` runs,
    the caller's collect included, on the adversarial vocabulary.  With a
    shingle-row table, a signature group-by and a shingle self-join to
    verify the candidate pairs it ran 29 jobs in a fresh session; with
    per-entity sketches, verification inside the LSH buckets and one
    bounded collect in ``connected_components``, 11.  The bound is
    the fresh-session count.  Do not raise it to get a pass: a higher
    count is a regression."""
    from kgist_spark.pipeline.canonicalize import canonical_map

    ents = spark.createDataFrame([(e,) for e in adversarial_vocab], ["node"])
    sc = spark.sparkContext
    sc.setJobGroup("canonical_map_distributed", "distributed canonical_map")
    try:
        n = len(canonical_map(ents, threshold=0.6, local_threshold=0).collect())
    finally:
        sc.setJobGroup("canonical_map_done", "done")
    assert n == len(adversarial_vocab)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = list(sc.statusTracker().getJobIdsForGroup("canonical_map_distributed"))
    assert len(jobs) <= 11, f"canonical_map ran {len(jobs)} jobs"


def test_canonical_map_tables_are_local_relations(spark, adversarial_vocab):
    """The driver-built tables ``canonical_map`` joins in — the local path's
    map and the driver union-find's components — are Arrow
    ``LocalRelation``s, not Python-fed ``LogicalRDD``s whose every scan
    starts the Python workers."""
    from kgist_spark.pipeline.canonicalize import canonical_map
    from tests.conftest import python_rdds

    ents = spark.createDataFrame([(e,) for e in adversarial_vocab], ["node"])
    for local_threshold in (8192, 0):
        out = canonical_map(ents, threshold=0.6, local_threshold=local_threshold)
        assert python_rdds(out) == [], local_threshold


def test_driver_components_is_a_local_relation(spark):
    from pyspark.sql.types import StringType

    from kgist_spark.operators.components import _driver_components
    from tests.conftest import python_rdds

    comp = _driver_components(spark, [("b", "a"), ("c", "b"), ("x", "y")],
                              StringType())
    assert python_rdds(comp) == []
    assert sorted(map(tuple, comp.collect())) == [
        ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")]


def test_connected_components_basic(spark):
    from kgist_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("x", "y"), ("z", "z")], ["a", "b"]
    )
    # driver_threshold picks the collect+union-find path here; threshold=0
    # forces the distributed min-label-propagation loop — both must agree
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert got["a"] == got["b"] == got["c"] == "a"
    assert got["x"] == got["y"] == "x"
    dist = {
        r["node"]: r["component"]
        for r in connected_components(edges, driver_threshold=0).collect()
    }
    assert dist == got


def test_connected_components_paths_agree_random(spark):
    """Driver union-find vs distributed propagation on a chain-heavy random
    graph (long diameters stress the iterative path)."""
    import random

    from kgist_spark.operators.components import connected_components

    rng = random.Random(7)
    nodes = [f"n{i:03d}" for i in range(120)]
    pairs = [(nodes[i], nodes[i + 1]) for i in range(0, 110, 2)]  # chains
    pairs += [(rng.choice(nodes), rng.choice(nodes)) for _ in range(40)]
    edges = spark.createDataFrame(pairs, ["a", "b"])
    drv = {r["node"]: r["component"]
           for r in connected_components(edges).collect()}
    dist = {r["node"]: r["component"]
            for r in connected_components(edges, driver_threshold=0).collect()}
    assert drv == dist and len(drv) > 0


def test_link_mentions(spark):
    from kgist_spark.pipeline.canonicalize import link_mentions

    mentions = spark.createDataFrame(
        [("org:acme_corp",), ("org:acme_corpz",), ("org:totally_unknown_thing",)],
        ["mention"],
    )
    dictionary = spark.createDataFrame(
        [("org:acme_corp",), ("org:zenith_labs",)], ["entity"]
    )
    got = {r["mention"]: (r["linked"], r["score"]) for r in link_mentions(mentions, dictionary).collect()}
    assert got["org:acme_corp"] == ("org:acme_corp", 1.0)
    assert got["org:acme_corpz"][0] == "org:acme_corp"
    assert 0.5 <= got["org:acme_corpz"][1] < 1.0
    assert "org:totally_unknown_thing" not in got


# ---------------------------------------------------------------------------
# stage 3: materialization + resume
# ---------------------------------------------------------------------------

def test_materialize_and_resume(spark, pages, tmp_path):
    from kgist_spark.pipeline.materialize import materialize_kg, read_kg, read_manifest
    from kgist_spark.pipeline.run import construct_kg

    triples, labels = construct_kg(spark, pages, canonicalize=False)
    out = str(tmp_path / "kg")
    res1 = materialize_kg(spark, triples, labels, out, n_buckets=4)
    assert res1["written"] == 12 and res1["skipped"] == 0
    manifest = read_manifest(out)
    assert len(manifest) == 12
    assert all(e["status"] == "done" for e in manifest)

    # resume: nothing left to write, nothing rewritten
    res2 = materialize_kg(spark, triples, labels, out, n_buckets=4)
    assert res2["written"] == 0 and res2["skipped"] == 12

    # partial-failure resume: drop two manifest rows -> exactly those rewritten
    entries = read_manifest(out)
    with open(f"{out}/_manifest.json", "w") as f:
        for e in entries[:-2]:
            f.write(json.dumps(e) + "\n")
    res3 = materialize_kg(spark, triples, labels, out, n_buckets=4)
    assert res3["written"] == 2 and res3["skipped"] == 10

    t2, l2 = read_kg(spark, out)
    assert t2.count() == triples.count()
    assert set(t2.columns) >= {"subj", "pred", "obj", "eid", "url"}
    # eids deterministic + dense
    eids = sorted(r["eid"] for r in t2.select("eid").collect())
    assert eids == list(range(len(eids)))


def test_materialize_failed_write_then_resume(spark, tmp_path):
    """A table write that fails inside the concurrent writes: the error
    surfaces only after the other two writes finished and recorded their
    buckets, the failed table gets no ``done`` row, a rerun writes just
    that table, and no persisted RDD is left behind either time."""
    from kgist_spark.pipeline.materialize import materialize_kg, read_kg, read_manifest

    triples = spark.createDataFrame(
        [(f"s{i % 7}", "p", f"o{i}", f"u{i}") for i in range(50)],
        "subj string, pred string, obj string, url string",
    )
    labels = spark.createDataFrame(
        [(f"s{i}", "thing", 0) for i in range(23)], "node string, label string, pos int"
    )
    out = tmp_path / "kg"
    out.mkdir()
    blocker = out / "kg_labels"
    blocker.write_text("not a directory")
    sc = spark.sparkContext
    cached_before = set(sc._jsc.getPersistentRDDs().keySet())

    with pytest.raises(Exception, match="Parent path is not a directory"):
        materialize_kg(spark, triples, labels, str(out), n_buckets=4)
    assert list(sc.statusTracker().getActiveJobsIds()) == []
    done = {(e["table"], e["bucket"]) for e in read_manifest(str(out))
            if e["status"] == "done"}
    assert done == {(t, b) for t in ("kg_triples", "kg_adjacency") for b in range(4)}
    assert set(sc._jsc.getPersistentRDDs().keySet()) == cached_before

    blocker.unlink()
    res = materialize_kg(spark, triples, labels, str(out), n_buckets=4)
    assert res["written"] == 4 and res["skipped"] == 8
    assert set(sc._jsc.getPersistentRDDs().keySet()) == cached_before
    t2, l2 = read_kg(spark, str(out))
    assert t2.count() == 50 and l2.count() == 23


def test_materialize_manifest_counts_ride_the_writes(spark, tmp_path):
    """Lineage row counts come from Observation metrics on the write jobs —
    no follow-up groupBy(bucket).count() job per table.  Pins (a) the counts
    are exact and (b) the whole materialize, including the jobs its
    concurrent writes submit from pool threads (they inherit the caller's
    job group), fires no more jobs than the three writes, the eid-offset
    collect and their AQE stage jobs: 9 here.  When the pool threads did
    not inherit the group, only 2 of the 12 jobs it then ran were counted."""
    from kgist_spark.pipeline.materialize import materialize_kg, read_manifest

    triples = spark.createDataFrame(
        [(f"s{i % 7}", "p", f"o{i}", f"u{i}") for i in range(50)],
        "subj string, pred string, obj string, url string",
    )
    labels = spark.createDataFrame(
        [(f"s{i}", "thing", 0) for i in range(23)], "node string, label string, pos int"
    )
    out = str(tmp_path / "kg")
    sc = spark.sparkContext
    sc.setJobGroup("mat_jobs", "materialize")
    try:
        materialize_kg(spark, triples, labels, out, n_buckets=4)
    finally:
        sc.setJobGroup("mat_done", "done")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = list(sc.statusTracker().getJobIdsForGroup("mat_jobs"))
    assert len(jobs) <= 9, f"materialize fired {len(jobs)} jobs"

    from pyspark.sql import functions as F

    per_table = {}
    for e in read_manifest(out):
        per_table.setdefault(e["table"], {})[e["bucket"]] = e["n_rows"]
    for name, want_total in (("kg_triples", 50), ("kg_labels", 23),
                             ("kg_adjacency", 100)):
        got = {
            r["bucket"]: r["n"]
            for r in spark.read.parquet(f"{out}/{name}")
            .groupBy("bucket").agg(F.count("*").alias("n")).collect()
        }
        assert sum(per_table[name].values()) == want_total
        for b in range(4):
            assert per_table[name].get(b, 0) == got.get(b, 0), (name, b)


# ---------------------------------------------------------------------------
# end-to-end: constructed KG → MDL summarization
# ---------------------------------------------------------------------------

def test_pipeline_then_summarize(spark, pages):
    from kgist_spark.oracle.engine import SummaryModel
    from kgist_spark.pipeline.run import construct_kg, summarize_constructed_kg

    triples, labels = construct_kg(spark, pages)
    summ, model = summarize_constructed_kg(triples, labels, passes=1)
    assert len(model.rules) > 0
    ev = summ.evaluator()
    assert ev.evaluate(model) < ev.evaluate(SummaryModel(summ.index))
    # the discovered rules speak the world's schema vocabulary
    tuplified = {summ.index.tuplify(r) for r in model.rules}
    seen_labels = set()
    for root, children in tuplified:
        seen_labels.update(root)
        for _, _, child in children:
            seen_labels.update(child[0])
    assert seen_labels & {"person", "org", "place"}


def test_star_components_path_graph_log_rounds(spark):
    """Large-star/small-star on a 512-node chain: identical output to driver
    union-find, converging in O(log d) rounds where min-label propagation
    needs O(d)."""
    from kgist_spark.operators.components import connected_components, star_components

    n = 512
    pairs = [(f"n{i:04d}", f"n{i + 1:04d}") for i in range(n - 1)]
    pairs += [("z0", "z1"), ("z1", "z2")]  # a second small component
    edges = spark.createDataFrame(pairs, ["a", "b"])

    want = {r["node"]: r["component"]
            for r in connected_components(edges).collect()}  # driver union-find
    stats: dict = {}
    got = {r["node"]: r["component"]
           for r in star_components(edges, stats=stats).collect()}
    assert got == want
    assert want["n0511"] == "n0000" and want["z2"] == "z0"
    # diameter 511 -> O(log d): a min-label loop would need ~256+ rounds
    assert stats["rounds"] <= 14, stats


def test_connected_components_auto_switch_matches_union_find(spark):
    """The distributed path hands off to the star algorithm after
    switch_after min-label rounds; output must still equal union-find."""
    from kgist_spark.operators.components import connected_components

    n = 200
    pairs = [(f"n{i:04d}", f"n{i + 1:04d}") for i in range(n - 1)]
    edges = spark.createDataFrame(pairs, ["a", "b"])
    want = {r["node"]: r["component"]
            for r in connected_components(edges).collect()}
    got = {r["node"]: r["component"]
           for r in connected_components(edges, driver_threshold=0,
                                         switch_after=3).collect()}
    assert got == want


def test_star_components_random_graph_matches_union_find(spark):
    import random

    from kgist_spark.operators.components import connected_components, star_components

    rng = random.Random(13)
    nodes = list(range(300))
    pairs = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(220)]
    edges = spark.createDataFrame(pairs, ["a", "b"])
    want = {r["node"]: r["component"]
            for r in connected_components(edges).collect()}
    got = {r["node"]: r["component"] for r in star_components(edges).collect()}
    # union-find includes self-loop-only nodes; star drops pure self-loops
    want = {k: v for k, v in want.items() if k in got}
    assert got == want


def test_auto_switch_keeps_selfloop_only_nodes(spark):
    from kgist_spark.operators.components import connected_components

    pairs = [(f"n{i}", f"n{i + 1}") for i in range(30)] + [("iso", "iso")]
    edges = spark.createDataFrame(pairs, ["a", "b"])
    got = {r["node"]: r["component"]
           for r in connected_components(edges, driver_threshold=0,
                                         switch_after=2).collect()}
    assert got["iso"] == "iso"
    assert got["n30"] == "n0"


def test_alias_corpus_canonicalization_ground_truth(spark):
    """With alias_rate on, the generator gives orgs near-duplicate surfaces
    (its own merge ground truth): canonicalization must merge EXACTLY the
    alias pairs — no misses, no false merges — and the constructed KG must
    contain only the group representatives."""
    from pyspark.sql import functions as F

    from kgist_spark.pipeline.canonicalize import canonical_map, entity_vocabulary
    from kgist_spark.pipeline.extract_jvm import extract_facts_jvm
    from kgist_spark.pipeline.run import construct_kg

    world = W.World(42, alias_rate=0.5)
    pages = W.generate_pages(spark, 2000, seed=42, world=world).cache()

    raw_triples = (
        extract_facts_jvm(pages).where("kind = 't'")
        .groupBy("subj", "pred", "obj").agg(F.min("url").alias("url"))
        .cache()
    )
    vocab = {r["node"] for r in entity_vocabulary(raw_triples).collect()}
    expected = {
        frozenset({spec.entity_id(o, "org"), spec.entity_id(a, "org")})
        for o, a in world.aliases.items()
        if spec.entity_id(o, "org") in vocab and spec.entity_id(a, "org") in vocab
    }
    assert len(expected) >= 5  # the corpus genuinely contains merge work

    groups = {}
    for r in canonical_map(entity_vocabulary(raw_triples)).collect():
        groups.setdefault(r["canonical"], set()).add(r["node"])
    merged = {frozenset(v) for v in groups.values() if len(v) > 1}
    assert merged == expected

    # constructed KG carries only the representatives (min of each group)
    triples, _ = construct_kg(spark, pages, out_dir=None)
    kg_ids = {r["subj"] for r in triples.collect()} | {
        r["obj"] for r in triples.collect()
    }
    for pair in expected:
        assert min(pair) in kg_ids or not (pair & vocab)
        assert max(pair) not in kg_ids

    # ground truth tracks RENDERED surfaces: raw extraction equals it exactly
    truth = {
        (r["url"], r["subj"], r["pred"], r["obj"])
        for r in W.ground_truth(spark, 2000, seed=42, world=world).collect()
    }
    got = {
        (r["url"], r["subj"], r["pred"], r["obj"])
        for r in extract_facts_jvm(pages).where("kind = 't'")
        .select("url", "subj", "pred", "obj").collect()
    }
    assert got == truth
    pages.unpersist(), raw_triples.unpersist()


def test_run_pipeline_schema_report(spark, tmp_path, capsys):
    """`--schema-report` writes the schema profile + violation audit next
    to the KG and surfaces constraint counts in the report JSON."""
    import json as _json
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import run_pipeline

    out = str(tmp_path / "kg")
    run_pipeline.main(
        ["--generate", "400", "--out", out, "--buckets", "2",
         "--schema-report"],
        spark=spark,
    )
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["n_triples"] > 0
    assert rep["n_schema_constraints"] >= 0
    assert "max_viol_rate_x1e6" in rep
    prof = spark.read.parquet(f"{out}/schema_profile")
    assert {"pred", "side", "entropy_x1e6"} <= set(prof.columns)
    assert prof.count() > 0
    viol = spark.read.parquet(f"{out}/schema_violations")
    assert {"expected_label", "viol_rate_x1e6"} <= set(viol.columns)
    assert viol.count() == rep["n_schema_constraints"]


def test_run_pipeline_score_anomalies(spark, tmp_path, capsys):
    """`--summarize --score-anomalies` scores every constructed triple once
    with a finite, non-negative bit cost."""
    import json as _json
    import math
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import run_pipeline

    out = str(tmp_path / "kg")
    run_pipeline.main(
        ["--generate", "300", "--out", out, "--summarize", "--score-anomalies"],
        spark=spark,
    )
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert {"n_rules", "objective_bits", "score_sec"} <= set(rep)
    scores = [r["score"] for r in
              spark.read.parquet(f"{out}/anomaly_scores").select("score").collect()]
    assert len(scores) == rep["n_triples"]
    assert all(math.isfinite(x) and x >= 0 for x in scores)


def test_run_pipeline_empty_corpus(spark, tmp_path, capsys):
    """`--generate 0` runs end to end: an empty KG, an empty model with a
    defined report, and an empty `anomaly_scores` table."""
    import json as _json
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import run_pipeline

    out = str(tmp_path / "kg")
    run_pipeline.main(
        ["--generate", "0", "--out", out, "--summarize", "--score-anomalies"],
        spark=spark,
    )
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["n_docs"] == 0
    assert rep["n_triples"] == 0
    assert rep["n_rules"] == 0
    assert rep["pct_edges_explained"] == 0.0
    assert spark.read.parquet(f"{out}/anomaly_scores").count() == 0


def test_run_pipeline_rejects_negative_generate(monkeypatch):
    """A negative `--generate` is an argparse error raised before any
    session is built."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import run_pipeline
    from kgist_spark import session

    def no_session(*a, **k):
        raise AssertionError("a session was built")

    monkeypatch.setattr(session, "entry_session", no_session)
    with pytest.raises(SystemExit) as exc:
        run_pipeline.main(["--generate", "-1", "--out", "/tmp/nowhere"])
    assert exc.value.code == 2
