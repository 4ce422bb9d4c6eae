"""Dedup operators, similarity search, model I/O."""

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.spark

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog in the park today"),
    (2, "the quick brown fox jumps over the lazy dog in the park tonight"),
    (3, "completely different text about spark engines and shuffle tuning"),
    (4, "completely different text about spark engines and shuffle tuning"),
    (5, "unrelated short note"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup(docs):
    from kgist_spark.operators.text import exact_dup_groups

    groups = exact_dup_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0]["n_docs"] == 2 and groups[0]["keep_id"] == 3


def test_ngram_jaccard_finds_neardups(docs):
    from kgist_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {(r["a"], r["b"]): r["jaccard"] for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert (1, 2) in pairs and 0.3 <= pairs[(1, 2)] < 1.0
    assert pairs[(3, 4)] == 1.0
    assert not any(5 in p for p in pairs)


def test_minhash_recall_vs_exact(docs):
    from kgist_spark.operators.dedup import minhash_neardup_pairs, ngram_jaccard_pairs

    exact = {(r["a"], r["b"]) for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    approx = {(r["a"], r["b"]) for r in minhash_neardup_pairs(docs, threshold=0.3).collect()}
    # LSH verifies with exact jaccard, so approx ⊆ exact; recall high on neardups
    assert approx <= exact
    assert (3, 4) in approx  # identical docs always collide


def test_minhash_drop_stats_reports_hot_buckets(spark):
    """No silent caps: a boilerplate cluster bigger than max_bucket is
    dropped from candidate generation, and the Observation passed as
    drop_stats reports exactly how much was dropped (zero extra Spark jobs —
    the metrics ride the bucket-size aggregate already in the plan)."""
    from pyspark.sql import Observation

    from kgist_spark.operators.dedup import minhash_neardup_pairs
    from kgist_spark.operators.minhash import log_drop_stats

    boiler = "identical boilerplate navigation footer text repeated on every page of the site"
    rows = [(i, boiler) for i in range(70)] + [
        (100, "a genuinely unique document about distributed join strategies"),
        (101, "a genuinely unique document about distributed join strategy"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    obs = Observation("drops")
    pairs = {(r["a"], r["b"])
             for r in minhash_neardup_pairs(docs, threshold=0.3, drop_stats=obs).collect()}
    got = log_drop_stats(obs, "minhash_neardup_pairs")
    # 70 identical docs land in ONE bucket per band (8 bands, all > 64)
    assert got["dropped_buckets"] == 8
    assert got["dropped_ids"] == 8 * 70
    assert (100, 101) in pairs          # non-hot near-dups still found
    assert not any(a < 70 and b < 70 for a, b in pairs)  # hot cluster dropped


def test_candidate_pairs_sizes_buckets_before_collecting(spark):
    """Degenerate-bucket memory safety: the per-bucket id collection happens
    only AFTER the size cap filters hot buckets out — in the optimized plan
    the Filter(n <= max_bucket) over the spill-safe Window count sits BELOW
    the collect_set aggregate, so a web-scale boilerplate bucket is never
    materialized in an aggregation buffer just to be discarded."""
    from kgist_spark.operators.minhash import candidate_pairs

    buckets = spark.createDataFrame(
        [("a", 0, 1), ("b", 0, 1), ("c", 1, 2)], "id string, band int, bucket int"
    )
    plan = (
        candidate_pairs(buckets, max_bucket=64)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    i = plan.find("collect_set")
    assert i >= 0, plan
    below = plan[i:]  # the tree prints root-first: below = the agg's inputs
    assert "<= 64" in below, plan        # the size cap feeds the aggregate
    assert "Window" in below, plan       # sized by a spill-safe window count
    assert "collect_set" not in below[len("collect_set"):], plan  # only one


def test_embedding_lsh_drop_stats_reports_hot_buckets(spark):
    """The LSH embedding path counts dropped hot groups via null-id marker
    rows observed (then filtered) downstream of the kernel — no second pass
    over the bucketed data."""
    import numpy as np
    from pyspark.sql import Observation

    from kgist_spark.operators.dedup import embedding_neardup_pairs_lsh
    from kgist_spark.operators.minhash import log_drop_stats

    rng = np.random.RandomState(13)
    hot = rng.randn(16)
    uniq = rng.randn(16)
    rows = [(int(i), [float(x) for x in hot]) for i in range(20)] + [
        (100, [float(x) for x in uniq]),
        (101, [float(x) for x in uniq + 0.001 * rng.randn(16)]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    obs = Observation("embdrops")
    got_pairs = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs_lsh(
            df, threshold=0.9, max_bucket=10, drop_stats=obs
        ).collect()
    }
    got = log_drop_stats(obs, "embedding_neardup_pairs_lsh")
    # 20 identical vectors share every band bucket: 16 bands x 20 ids dropped
    assert got["dropped_buckets"] == 16
    assert got["dropped_ids"] == 16 * 20
    assert (100, 101) in got_pairs
    assert not any(a < 20 and b < 20 for a, b in got_pairs)


def test_simhash_deterministic_and_close(docs, spark):
    from kgist_spark.operators.dedup import simhash64, simhash_candidates

    fp1 = {r["doc_id"]: r["simhash"] for r in simhash64(docs).collect()}
    fp2 = {r["doc_id"]: r["simhash"] for r in simhash64(docs).collect()}
    assert fp1 == fp2  # deterministic across runs/processes
    assert fp1[3] == fp1[4]  # identical text → identical fingerprint
    ham = bin((fp1[1] ^ fp1[2]) & ((1 << 64) - 1)).count("1")
    assert ham <= 16  # near-dup texts → close fingerprints
    cands = {(r["a"], r["b"]) for r in simhash_candidates(docs).collect()}
    assert (3, 4) in cands


def test_ann_recall_vs_exact(spark):
    from kgist_spark.operators.similarity import ann_topk, cosine_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    q = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    exact = [r["vec_id"] for r in cosine_topk(emb, q, k=10).collect()]
    # IVF (the scale path): high recall at ~25% scan
    ivf = [r["vec_id"] for r in ivf_topk(emb, q, k=10).collect()]
    assert 0 in ivf
    assert len(set(exact) & set(ivf)) / 10 >= 0.7, ivf
    # hyperplane LSH: coarser; the query itself must always survive
    lsh = [r["vec_id"] for r in ann_topk(emb, q, k=10).collect()]
    assert 0 in lsh
    assert len(set(exact) & set(lsh)) / 10 >= 0.3, lsh


def test_model_io_roundtrip(spark, tmp_path):
    from kgist_spark.oracle.engine import GreedySearcher
    from kgist_spark.sources.model_io import load_model_meta, load_rules, save_model
    from tests.conftest import fixture_kg

    kg = fixture_kg("test", idify=True)
    model = GreedySearcher(kg).build_model()
    out = str(tmp_path / "model")
    meta = save_model(model, out, spark=spark)
    assert meta["n_rules"] == len(model.rules)
    assert load_model_meta(out)["objective_bits"] == meta["objective_bits"]
    rules = load_rules(out)
    want = {kg.tuplify(r) for r in model.rules}
    assert set(rules) == want
    # rules.txt lines are the reference's parenthetical repr
    lines = (tmp_path / "model" / "rules.txt").read_text().strip().splitlines()
    assert len(lines) == len(model.rules)
    assert all(line.startswith("((") for line in lines)
    # blame tables reload
    heads = spark.read.parquet(str(tmp_path / "model" / "blame" / "heads"))
    assert heads.count() > 0


def _numpy_exact_pairs(ids, mat, threshold):
    import numpy as np

    norms = np.sqrt((mat * mat).sum(axis=1))
    sims = np.round((mat @ mat.T) / np.outer(norms, norms), 5)
    out = {}
    n = len(ids)
    ii, jj = np.nonzero(sims >= threshold)
    for i, j in zip(ii, jj):
        if ids[i] < ids[j]:
            out[(int(ids[i]), int(ids[j]))] = float(sims[i, j])
    return out


def test_embedding_neardup_exact_path_matches_numpy(spark):
    """Small inputs take the single-bucket exact kernel (no driver collect):
    result must equal the numpy all-pairs reference bit for bit."""
    import numpy as np

    from kgist_spark.operators.dedup import embedding_neardup_pairs

    rng = np.random.RandomState(11)
    mat = rng.randn(300, 16)
    mat[50] = mat[40] + 0.01 * rng.randn(16)  # one planted near-dup
    ids = np.arange(300)
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in mat[i]]) for i in ids], ["vec_id", "embedding"]
    )
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_neardup_pairs(df, threshold=0.6).collect()
    }
    want = _numpy_exact_pairs(ids, mat, 0.6)
    assert got == want
    assert (40, 50) in got


def test_embedding_neardup_lsh_recall(spark):
    """Scale path: >= 0.95 recall vs the exact kernel on a seeded 10k-vector
    set with planted near-duplicates; every reported pair's cosine is the
    exact value (in-bucket rescoring is exact, so precision is 1.0)."""
    import numpy as np

    from kgist_spark.operators.dedup import embedding_neardup_pairs_lsh

    rng = np.random.RandomState(7)
    n, dim, n_dups = 10_000, 32, 100
    mat = rng.randn(n, dim)
    for i in range(n_dups):  # planted dups: cosine ~0.95+
        mat[n - n_dups + i] = mat[i] + 0.15 * rng.randn(dim)
    ids = np.arange(n)
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in mat[i]]) for i in ids], ["vec_id", "embedding"]
    ).repartition(8)
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_neardup_pairs_lsh(df, threshold=0.8).collect()
    }
    want = _numpy_exact_pairs(ids, mat, 0.8)
    assert set(got) <= set(want)  # precision 1.0 (exact in-bucket cosines)
    for p, c in got.items():
        assert abs(c - want[p]) < 1e-9
    recall = len(got) / len(want)
    assert recall >= 0.95, f"recall {recall:.3f} over {len(want)} exact pairs"


def test_embedding_neardup_string_ids(spark):
    """Output schema follows the input id dtype (regression: int64 was
    hardcoded, so string ids failed at runtime)."""
    import numpy as np

    from kgist_spark.operators.dedup import embedding_neardup_pairs

    rng = np.random.RandomState(3)
    base = rng.randn(8)
    rows = [
        ("docA", [float(x) for x in base]),
        ("docB", [float(x) for x in base + 0.01]),
        ("docC", [float(x) for x in rng.randn(8)]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = embedding_neardup_pairs(df, threshold=0.9).collect()
    assert {(r["id_a"], r["id_b"]) for r in got} == {("docA", "docB")}
    assert dict(df.dtypes)["vec_id"] == "string"


def test_embedding_neardup_small_input_no_duplicate_pairs(spark):
    """Regression (round-2 review): the triangle block-pair kernel decided
    "cross-block-only" from the blocks PRESENT in the cell, so an off-diagonal
    cell whose partner block was empty re-emitted the populated block's
    internal pairs — once per empty partner.  Live repro was 6 vectors /
    threshold 0.9 -> 14 pair rows where 6 are correct.  The result must be
    multiset-equal to brute force: exactly len(want) rows, no duplicates."""
    import numpy as np

    from kgist_spark.operators.dedup import _exact_pairs_triangle

    rng = np.random.RandomState(5)
    a, b = rng.randn(16), rng.randn(16)
    mat = np.array([a + 0.001 * rng.randn(16) for _ in range(3)]
                   + [b + 0.001 * rng.randn(16) for _ in range(3)])
    ids = np.arange(6)
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in mat[i]]) for i in ids], ["vec_id", "embedding"]
    )
    rows = _exact_pairs_triangle(df, 0.9, "vec_id", "embedding").collect()
    want = _numpy_exact_pairs(ids, mat, 0.9)
    assert len(want) == 6  # two 3-cliques
    assert len(rows) == len(want), f"duplicate pair rows: {len(rows)} for {len(want)}"
    assert {(r["id_a"], r["id_b"]): r["cosine"] for r in rows} == want


def test_ngram_hot_shingle_cap(spark):
    """A ubiquitous boilerplate shingle shared by every doc must not explode
    the candidate self-join; true near-dups (sharing non-hot shingles) are
    still found with exact jaccard values, and pairs sharing ONLY the hot
    shingle are the documented loss."""
    from kgist_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "copyright acme corp all rights"
    rows = [(i, f"{boiler} reserved page number {i} unique tail {i * 7}")
            for i in range(40)]
    rows += [(100, f"{boiler} identical body of text here"),
             (101, f"{boiler} identical body of text here")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    capped = {(r["a"], r["b"]): r["jaccard"]
              for r in ngram_jaccard_pairs(docs, k=5, threshold=0.5, df_cap=10).collect()}
    uncapped = {(r["a"], r["b"]): r["jaccard"]
                for r in ngram_jaccard_pairs(docs, k=5, threshold=0.5, df_cap=None).collect()}
    assert (100, 101) in capped and capped[(100, 101)] == 1.0
    # jaccard values identical wherever both report the pair (verification
    # always uses full shingle sets)
    for p, j in capped.items():
        assert uncapped[p] == j


def test_ngram_cap_drop_accounting_is_zero_job(spark):
    """The hot-shingle cap must not pay a pre-action job: the whole capped
    query (candidate gen + verification) runs as ONE Spark action, and the
    drop counts ride an Observation on the rows already flowing through it."""
    from pyspark.sql import Observation

    from kgist_spark.operators.dedup import ngram_jaccard_pairs
    from kgist_spark.operators.minhash import log_drop_stats

    boiler = "copyright acme corp all rights"
    rows = [(i, f"{boiler} reserved page number {i} unique tail {i * 7}")
            for i in range(40)]
    rows += [(100, f"{boiler} identical body of text here"),
             (101, f"{boiler} identical body of text here")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    sc = spark.sparkContext
    obs = Observation("ngram_drops")
    sc.setJobGroup("ngram_build", "building the capped query must be lazy")
    try:
        q = ngram_jaccard_pairs(docs, k=5, threshold=0.5, df_cap=10, drop_stats=obs)
        built = list(sc.statusTracker().getJobIdsForGroup("ngram_build"))
    finally:
        sc.setJobGroup("ngram_run", "run")
    assert built == [], f"query construction fired eager jobs: {built}"
    got = {(r["a"], r["b"]) for r in q.collect()}
    assert (100, 101) in got
    stats = log_drop_stats(obs, "test")
    assert stats["dropped_buckets"] >= 1  # the boilerplate shingles
    assert stats["dropped_ids"] >= 40


def test_neardup_keep_table_transitive_clusters(spark):
    """Chained near-dups (A~B, B~C, A!~C) land in ONE cluster with the
    min-id representative; unique docs keep themselves."""
    from kgist_spark.operators.dedup import neardup_keep_table

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (10, base),
        (11, base + " extra"),                      # ~ 10
        (12, base + " extra words appended here"),  # ~ 11, farther from 10
        (50, "a completely different document about spark shuffle internals"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: (r["keep_id"], r["is_dup"])
           for r in neardup_keep_table(docs, threshold=0.5).collect()}
    assert got[10] == (10, False)
    assert got[11] == (10, True)
    assert got[12] == (10, True)   # transitive closure, min-id rep
    assert got[50] == (50, False)


def test_neardup_keep_best_prefers_heaviest_member(spark):
    """Keep-best keeps the cluster member with the LARGEST weight (here:
    the longest doc), not the min id — the decision a real pipeline wants;
    ties and singletons behave like keep_table."""
    from kgist_spark.operators.dedup import neardup_keep_best

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (10, base, len(base)),
        (11, base + " extra", len(base) + 6),                      # longest of 10/11
        (50, "a completely different document about spark shuffle internals", 62),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "n_chars"])
    got = {r["doc_id"]: (r["keep_id"], r["is_dup"])
           for r in neardup_keep_best(docs, "n_chars", threshold=0.5).collect()}
    assert got[11] == (11, False)   # heaviest member keeps itself
    assert got[10] == (11, True)    # min-id doc is the DUP here
    assert got[50] == (50, False)


def test_drop_accounting_survives_all_hot_buckets(spark):
    """Regression: AQE's empty-relation propagation used to DELETE the
    CollectMetrics node whenever every LSH bucket was hot (the capped join
    came back empty), so Observation.get threw and the drop counts were
    lost exactly when everything was dropped — a silent cap.  The session
    excludes AQEPropagateEmptyRelation (kgist_spark.session) so the
    metrics must survive the all-dropped case."""
    from pyspark.sql import Observation

    import kgist_spark.operators.minhash as MH

    docs = spark.createDataFrame(
        [(i, "the same exact text repeated verbatim for every document")
         for i in range(80)],
        ["doc_id", "text"],
    )
    buckets = MH.lsh_buckets(
        MH.minhash_signatures(MH.word_shingles(docs, "doc_id", "text")), 8, 4
    )
    obs = Observation()
    pairs = MH.candidate_pairs(buckets, max_bucket=5, drop_stats=obs)
    assert pairs.count() == 0  # every bucket over-cap -> nothing survives
    got = MH.log_drop_stats(obs, "test_all_hot")
    assert got["dropped_buckets"] == 8 and got["dropped_ids"] == 640
