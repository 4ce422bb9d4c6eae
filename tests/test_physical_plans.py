"""Physical-plan hygiene: the non-UDF path stays in whole-stage codegen with
broadcast joins; scans are pruned and filters pushed; the distributed MDL
ranking reproduces the oracle's exact candidate order."""

import pytest

from tests.conftest import FIXTURES, fixture_kg, plan_of

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def loaded(spark):
    from kgist_spark.sources.edgelist import explode_labels, load_labels, load_triples

    triples = load_triples(spark, str(FIXTURES / "test.txt"))
    labels = load_labels(spark, str(FIXTURES / "test_labels.txt"))
    return triples, explode_labels(labels)


def test_candidate_path_is_jvm_only(loaded):
    from kgist_spark.operators import candidates as C

    triples, lf = loaded
    stats_df = C.candidate_stats(C.candidate_edges(triples, lf))
    stats_df.collect()  # finalize the adaptive plan so codegen spans appear
    plan = plan_of(stats_df)
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python anywhere
    assert "BroadcastHashJoin" in plan  # labels side broadcast, big side unshuffled
    # "*(N)" prefixes mark whole-stage-codegen spans in the finalized plan
    assert "WholeStageCodegen" in plan or "*(" in plan
    assert "SortAggregate" not in plan  # packed first-seen keeps hash aggregation


def test_parquet_scan_pruned_and_filtered(spark, tmp_path):
    from kgist_spark.sources.webpages import World, generate_pages

    path = str(tmp_path / "pages")
    generate_pages(spark, 200, seed=42, world=World(42)).write.parquet(path)
    pages = spark.read.parquet(path)

    from kgist_spark.pipeline.extract_jvm import extract_facts_jvm

    plan = plan_of(extract_facts_jvm(pages))
    # column pruning: the wide html binary column never leaves the scan
    assert "html" not in plan.split("ReadSchema")[-1]
    # the lang predicate is pushed into the parquet scan
    assert "PushedFilters" in plan and "lang" in plan.split("PushedFilters")[-1][:200]


def test_text_ops_scan_only_needed_columns(spark):
    from kgist_spark.operators.text import english_char_score

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(english_char_score(docs))
    read_schema = plan.split("ReadSchema:")[-1]
    assert "text" in read_schema and "doc_id" in read_schema
    assert "source" not in read_schema and "n_chars" not in read_schema


def test_distributed_ranking_matches_oracle_order(spark, loaded):
    from kgist_spark.operators import candidates as C
    from kgist_spark.oracle.engine import GreedySearcher
    from kgist_spark.plans.summarizer import graph_stats

    triples, lf = loaded
    stats = graph_stats(triples, lf)
    ranked_df = C.rank_candidates(C.candidate_stats(C.candidate_edges(triples, lf)), stats)
    got = [
        ((r["root_label"],), ((r["pred"], r["dir"], ((r["child_label"],), ())),))
        for r in ranked_df.collect()
    ]
    kg = fixture_kg("test", idify=False)
    searcher = GreedySearcher(kg)
    searcher.rank()  # no qualification: compare raw candidate ranking
    assert got == searcher.cands


def test_topk_uses_bounded_heap_physical_op(spark):
    from kgist_spark.plans.testdata_queries import q_topk_rules_by_cas

    plan = plan_of(q_topk_rules_by_cas(spark, "/root/testdata/sf0.001"))
    assert "TakeOrderedAndProject" in plan


def test_lsh_banding_single_signature_pass(spark):
    """lsh_buckets must not re-run the signature aggregation per band: the
    physical plan contains exactly one scan of the source (regression for
    the union-of-per-band-projections rewrite)."""
    from kgist_spark.operators import minhash as MH

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sh = MH.word_shingles(docs, "doc_id", "text")
    buckets = MH.lsh_buckets(MH.minhash_signatures(sh, num_perm=32), bands=8,
                             rows_per_band=4)
    plan = plan_of(buckets)
    assert plan.count("Scan parquet") == 1, plan


def test_adjacency_single_scan(spark):
    from kgist_spark.pipeline.materialize import adjacency

    triples = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").selectExpr(
        "cast(l_orderkey as string) as subj", "'contains' as pred",
        "cast(l_partkey as string) as obj"
    )
    plan = plan_of(adjacency(triples))
    assert plan.count("Scan parquet") == 1, plan


def test_materialized_kg_partition_pruning(spark, tmp_path):
    """Reading one bucket of the materialized KG touches only that bucket's
    directory (partition pruning on the S7 layout)."""
    from kgist_spark.pipeline.materialize import materialize_kg

    triples = spark.createDataFrame(
        [(f"s{i}", "p", f"o{i}", f"u{i}") for i in range(40)],
        "subj string, pred string, obj string, url string",
    )
    labels = spark.createDataFrame(
        [(f"s{i}", "thing", 0) for i in range(40)], "node string, label string, pos int"
    )
    out = str(tmp_path / "kg")
    materialize_kg(spark, triples, labels, out, n_buckets=4)
    df = spark.read.parquet(out + "/kg_triples").where("bucket = 2")
    plan = plan_of(df)
    assert "PartitionFilters" in plan and "bucket" in plan.split("PartitionFilters")[-1][:120]
    assert df.count() > 0


def test_decontaminate_gram_construction_stays_below_generate(spark):
    """Regression: CollapseProject once pushed a size(grams) projection
    BELOW the corpus Generate, re-running the whole gram construction
    (split + n-gram transform + array_distinct) per exploded row (169 s at
    sf0.1).  The gram-construction expression must appear only as the two
    Generate inputs (corpus + benchmark) — never in a Project above one."""
    from kgist_spark.operators.text import ngram_decontaminate

    docs = spark.createDataFrame(
        [(1, "a b c d e f g", "x"), (2, "a b c d e h i", "y")],
        "doc_id long, text string, source string",
    )
    df = ngram_decontaminate(
        docs.where("source = 'x'"), docs.where("source = 'y'"), n=5
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("array_distinct") == 2
    # and the aggregate derives n_doc_grams from the flowing rows
    assert "count(gram" in plan


def test_ann_candidate_joins_are_not_force_broadcast(spark):
    """ivf_topk / ann_topk candidate sets are corpus FRACTIONS
    (n_probe/n_centroids ≈ 25% at the IVF defaults), so a forced broadcast
    hint would cap the operator at the broadcast limit on exactly the large
    inputs ANN exists for.  The logical plan must carry a plain left-semi
    join (AQE broadcasts while small, shuffles when not) — no ResolvedHint
    over the candidate subtree."""
    from kgist_spark.operators.similarity import ann_topk, ivf_topk

    emb = spark.createDataFrame(
        [(i, [float((i * 13 + d * 5) % 7 - 3) for d in range(8)])
         for i in range(64)],
        "vec_id long, embedding array<float>",
    )
    q = [1.0] * 8
    for df in (ivf_topk(emb, q, k=5, n_centroids=8, n_probe=2),
               ann_topk(emb, q, k=5, n_planes=4)):
        logical = df._jdf.queryExecution().analyzed().toString()
        assert "ResolvedHint" not in logical
        assert "LeftSemi" in logical
        assert df.count() > 0


def test_winnow_selection_stays_in_row(spark):
    """The winnowing density cut happens BEFORE the explode: no generator
    over unselected grams, no Python, and the fingerprint explode is the
    only generator node."""
    from kgist_spark.operators.dedup import winnow_fingerprints

    docs = spark.createDataFrame(
        [("a", " ".join(f"t{i}" for i in range(30)))],
        "doc_id string, text string",
    )
    df = winnow_fingerprints(docs)
    df.collect()
    plan = plan_of(df)
    assert "BatchEvalPython" not in plan
