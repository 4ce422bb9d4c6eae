"""Deterministic hash-gated sampling (operators/sampling.py).

Engine parity with DuckDB is pinned by tests/test_entry_contract.py
(stratified_sample / sample_mixture rows+schema+values); this file pins the
operator's own semantic guarantees: determinism, monotone rate nesting,
stratum isolation, rate accuracy, and salt independence.
"""

import hashlib

import pytest
from pyspark.sql import functions as F

from kgist_spark.operators.sampling import (
    hash_gate, mixture_report, rate_threshold, stratified_sample,
)

pytestmark = pytest.mark.spark


def test_rate_threshold_boundaries():
    assert rate_threshold(0.0) == "00000000"
    assert rate_threshold(1.0) == "g"  # sorts after every hex digit
    assert rate_threshold(-3.0) == "00000000"
    assert rate_threshold(7.0) == "g"
    assert rate_threshold(0.5) == format(16 ** 8 // 2, "08x")
    # every hex prefix is below 'g', none below '00000000'
    assert "ffffffff" < "g" and not ("00000000" < "00000000")


@pytest.fixture(scope="module")
def keys(spark):
    return spark.range(2000).select(F.col("id").alias("k")).cache()


def test_gate_deterministic_and_matches_reference_md5(spark, keys):
    kept = keys.where(hash_gate(F.col("k"), 0.3, salt="s1"))
    got = sorted(r["k"] for r in kept.collect())
    assert got == sorted(r["k"] for r in kept.collect())  # rerun identical
    thr = rate_threshold(0.3)
    want = [
        k for k in range(2000)
        if hashlib.md5(f"s1{k}".encode()).hexdigest()[:8] < thr
    ]
    assert got == want


def test_gate_rates_nest_monotonically(spark, keys):
    """A row kept at rate r stays kept at every rate above r — hash gates
    give nested samples for free (useful for train-subset ladders)."""
    small = {r["k"] for r in keys.where(hash_gate(F.col("k"), 0.1)).collect()}
    big = {r["k"] for r in keys.where(hash_gate(F.col("k"), 0.4)).collect()}
    assert small <= big
    # and the realized fractions are near the nominal rates
    assert abs(len(small) / 2000 - 0.1) < 0.03
    assert abs(len(big) / 2000 - 0.4) < 0.04


def test_gate_salt_draws_independent_sample(spark, keys):
    a = {r["k"] for r in keys.where(hash_gate(F.col("k"), 0.5, salt="a")).collect()}
    b = {r["k"] for r in keys.where(hash_gate(F.col("k"), 0.5, salt="b")).collect()}
    assert a != b
    # independent 0.5-samples overlap ~25% of the universe
    assert abs(len(a & b) / 2000 - 0.25) < 0.05


def test_stratified_sample_respects_strata(spark):
    rows = [(i, ["en", "zh", "de"][i % 3]) for i in range(900)]
    df = spark.createDataFrame(rows, "k long, lang string")
    out = stratified_sample(
        df, "k", "lang", {"zh": 1.0, "en": 0.0}, default_rate=0.5
    )
    got = out.groupBy("lang").count().collect()
    by_lang = {r["lang"]: r["count"] for r in got}
    assert by_lang.get("zh") == 300        # rate 1.0: everything
    assert "en" not in by_lang             # rate 0.0: nothing
    assert 0 < by_lang.get("de", 0) < 300  # default rate applies to unknowns


def test_stratified_sample_no_shuffle(spark):
    df = spark.range(100).select(
        F.col("id").alias("k"), F.lit("en").alias("lang")
    )
    out = stratified_sample(df, "k", "lang", {"en": 0.5})
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure scan+filter, codegen-fused


def test_mixture_report(spark):
    df = spark.createDataFrame(
        [("en", 10), ("en", 20), ("zh", 5)], "lang string, w long"
    )
    got = {r["lang"]: (r["n_rows"], r["total_weight"])
           for r in mixture_report(df, "lang", weight_col="w").collect()}
    assert got == {"en": (2, 30), "zh": (1, 5)}


def test_domain_cap_deterministic_and_capped(spark):
    import hashlib

    from kgist_spark.operators.sampling import domain_cap

    rows = [(i, f"d{i % 3}") for i in range(40)]
    df = spark.createDataFrame(rows, "k long, dom string")
    out1 = sorted(map(tuple, domain_cap(df.coalesce(1), "k", "dom", 4, salt="s").collect()))
    out2 = sorted(map(tuple, domain_cap(df.repartition(13), "k", "dom", 4, salt="s").collect()))
    assert out1 == out2
    # python replay of the md5 ranking
    want = []
    for dom in {"d0", "d1", "d2"}:
        ks = [k for k, d in rows if d == dom]
        ranked = sorted(ks, key=lambda k: (hashlib.md5(f"s{k}".encode()).hexdigest(), k))
        want += [(k, dom, i + 1) for i, k in enumerate(ranked[:4])]
    assert out1 == sorted(want)
    counts = {}
    for _, dom, _ in out1:
        counts[dom] = counts.get(dom, 0) + 1
    assert all(v == 4 for v in counts.values())


# ---------------------------------------------------------------------------
# distribution_report: exact percentiles via histogram + cumulative window
# ---------------------------------------------------------------------------

def test_distribution_report_hand_computed(spark):
    from kgist_spark.operators.sampling import distribution_report

    # stratum A: values [1,2,2,10] (n=4): r(p25)=0.75 -> 1 + 0.75*(2-1)=1.75;
    # r(p50)=1.5 -> 2.0 (both bracketing positions inside the value-2 run);
    # r(p75)=2.25 -> 2 + 0.25*(10-2)=4.0; r(p95)=2.85 -> 2+0.85*8=8.8
    # stratum B: single value
    rows = [("A", 1), ("A", 2), ("A", 2), ("A", 10), ("B", 7)]
    df = spark.createDataFrame(rows, "s string, v long")
    out = {r["stratum"]: r for r in distribution_report(df, "s", "v").collect()}
    a = out["A"]
    assert (a["n_rows"], a["p25"], a["p50"], a["p75"], a["p95"]) == (
        4, 1.75, 2.0, 4.0, 8.8)
    b = out["B"]
    assert (b["n_rows"], b["p25"], b["p50"], b["p75"], b["p95"]) == (
        1, 7.0, 7.0, 7.0, 7.0)


def test_distribution_report_matches_builtin_percentile(spark):
    # the histogram walk must reproduce Spark's exact percentile aggregate
    # (which buffers raw values — the thing this operator avoids)
    import random

    from pyspark.sql import functions as F

    from kgist_spark.operators.sampling import distribution_report

    rng = random.Random(7)
    rows = [(f"s{rng.randrange(3)}", rng.randrange(50)) for _ in range(500)]
    df = spark.createDataFrame(rows, "s string, v long")
    got = {r["stratum"]: r for r in distribution_report(df, "s", "v").collect()}
    want = {
        r["s"]: r
        for r in df.groupBy("s")
        .agg(*[
            F.round(F.expr(f"percentile(v, {p})"), 5).alias(f"p{int(p*100)}")
            for p in (0.25, 0.5, 0.75, 0.95)
        ])
        .collect()
    }
    assert set(got) == set(want)
    for s in want:
        for c in ("p25", "p50", "p75", "p95"):
            assert got[s][c] == want[s][c], (s, c, got[s][c], want[s][c])


def test_distribution_report_ignores_nulls(spark):
    """NULL values must not shift percentile positions: DuckDB's
    quantile_cont (the oracle function) ignores NULLs, while an unfiltered
    Spark window would order them FIRST and occupy the leading cumulative
    positions.  The report must equal the all-non-null report and count
    only non-null rows."""
    from kgist_spark.operators.sampling import distribution_report

    rows = [("A", 1), ("A", None), ("A", 2), ("A", 2), ("A", None), ("A", 10)]
    df = spark.createDataFrame(rows, "s string, v long")
    clean = df.where("v IS NOT NULL")
    got = distribution_report(df, "s", "v").collect()[0]
    want = distribution_report(clean, "s", "v").collect()[0]
    assert got == want
    assert got["n_rows"] == 4 and got["p50"] == 2.0

    import duckdb

    duck = duckdb.sql(
        "SELECT quantile_cont(v, 0.5) FROM (VALUES (1), (NULL), (2), (2), "
        "(NULL), (10)) t(v)"
    ).fetchone()[0]
    assert got["p50"] == duck


# ------------------------------------------------------- priority sampling


def _py_priority(keys_weights, salt=""):
    """Independent replay of the integer priority scheme."""
    out = {}
    for key, w in keys_weights:
        u = int(hashlib.md5((salt + str(key)).encode()).hexdigest()[:10],
                16) + 1
        out[key] = (w, w * (1 << 40) // u)
    return out


def _psample(spark, rows, k, salt=""):
    from kgist_spark.operators.sampling import priority_sample

    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    out = priority_sample(df, k=k, weight_col="n_chars",
                          key_col="doc_id", salt=salt)
    return {r["doc_id"]: (r["weight"], r["priority"], r["est_weight"])
            for r in out.collect()}


def test_priority_sample_exhaustive_case(spark):
    # <= k input rows: everything kept, no threshold, est == weight exactly
    rows = [(1, 10), (2, 700), (3, 3)]
    got = _psample(spark, rows, k=5)
    pri = _py_priority(rows)
    assert set(got) == {1, 2, 3}
    for key, (w, p, est) in got.items():
        assert (w, p) == pri[key]
        assert est == w


def test_priority_sample_matches_python_replay(spark):
    rows = [(i, (i * 37) % 900 + 1) for i in range(200)]
    k = 25
    pri = _py_priority(rows)
    order = sorted(pri, key=lambda d: (-pri[d][1], d))
    tau = pri[order[k]][1]
    want = {d: (pri[d][0], pri[d][1], max(pri[d][0], tau))
            for d in order[:k]}
    assert _psample(spark, rows, k=k) == want


def test_priority_sample_estimator_tracks_totals(spark):
    # Horvitz-Thompson property (statistical, so averaged over salts):
    # the mean over independent draws of sum(est_weight) approaches the
    # true total weight; a wide tolerance keeps this a smoke property,
    # the bit-level scheme itself is pinned by the replay test above
    rows = [(i, (i * 13) % 500 + 1) for i in range(300)]
    total = sum(w for _, w in rows)
    ests = []
    for salt in ("a", "b", "c", "d", "e", "f", "g", "h"):
        got = _psample(spark, rows, k=60, salt=salt)
        ests.append(sum(e for _, _, e in got.values()))
    mean = sum(ests) / len(ests)
    assert abs(mean - total) / total < 0.25
    # and every contribution is at least the row's own weight
    assert all(e >= w for w, _, e in got.values())


def test_priority_sample_weight_monotone(spark):
    # same key hash, larger weight -> never a smaller priority
    a = _py_priority([(7, 100)])[7][1]
    b = _py_priority([(7, 5000)])[7][1]
    assert b >= a


# --------------------------------------------------- hash splits


def test_hash_split_disjoint_complete_stable(spark):
    """Every row lands in exactly one split; fractions approximate; the
    assignment of old keys is unchanged when the corpus grows."""
    from kgist_spark.operators.sampling import hash_split

    df = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    out = hash_split(df, "doc_id", [("train", 0.8), ("val", 0.1),
                                    ("test", 0.1)], salt="s1")
    rows = {r["doc_id"]: r["split"] for r in out.collect()}
    assert len(rows) == 2000  # complete, one row each
    from collections import Counter

    c = Counter(rows.values())
    assert set(c) == {"train", "val", "test"}
    assert 1400 < c["train"] < 1850  # ~1600 expected, generous band
    # growth stability: the first 1000 keys keep their splits exactly
    small = hash_split(
        spark.createDataFrame([(i,) for i in range(1000)], "doc_id long"),
        "doc_id", [("train", 0.8), ("val", 0.1), ("test", 0.1)], salt="s1",
    )
    assert all(rows[r["doc_id"]] == r["split"] for r in small.collect())


def test_hash_split_salt_and_remainder(spark):
    from kgist_spark.operators.sampling import hash_split

    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    a = {r["doc_id"]: r["split"]
         for r in hash_split(df, "doc_id", salt="a").collect()}
    b = {r["doc_id"]: r["split"]
         for r in hash_split(df, "doc_id", salt="b").collect()}
    assert a != b  # salt reshuffles the assignment
    # degenerate fractions: last split absorbs the remainder
    only = hash_split(df, "doc_id", [("all", 1.0)], salt="x")
    assert {r["split"] for r in only.collect()} == {"all"}


def test_mixture_plan_rates_and_deficit(spark):
    from kgist_spark.operators.sampling import mixture_plan

    docs = spark.createDataFrame(
        [("1", "a b c d", "s1"),        # 4 tokens
         ("2", "a b c d e f", "s1"),    # 6 -> s1 has 10
         ("3", "x y", "s2"),            # s2 has 2
         ("4", "p q r", "s3")],         # s3 unweighted
        "doc_id string, text string, source string",
    )
    plan = {r["src"]: r for r in mixture_plan(
        docs, [("s1", 500_000), ("s2", 500_000)], token_budget=8
    ).collect()}
    s1 = plan["s1"]
    # target 4 of 10 available -> rate 0.4, planned 4, no deficit
    assert (s1["target_tokens"], s1["rate_x1e6"],
            s1["planned_tokens"], s1["deficit_tokens"]) == (4, 400_000, 4, 0)
    s2 = plan["s2"]
    # target 4 of only 2 -> rate caps at 1.0, deficit 2 REPORTED (no
    # silent upsampling)
    assert (s2["rate_x1e6"], s2["planned_tokens"],
            s2["deficit_tokens"]) == (1_000_000, 2, 2)
    s3 = plan["s3"]
    assert (s3["weight_x1e6"], s3["rate_x1e6"]) == (0, 0)  # listed, dropped
