"""Composite corpus-curation decision table — the end-to-end keep/drop
audit a training-data pipeline runs before tokenization.

No reference counterpart (`/root/reference/` has no text stage at all);
this chains the engine's own gates in the order a CCNet/Gopher-style
pipeline applies them, producing ONE row per document with every feature,
every flag, the final ``keep`` decision and the FIRST failing gate as
``drop_reason`` (lineage of WHY a document was dropped):

1. ``lang``          — target-language admission (one language per run);
2. ``too_short``     — minimum whitespace-token count;
3. ``low_diversity`` — unique-token ratio floor (spam/boilerplate);
4. ``repetitive``    — duplicate-bigram fraction cap (MassiveText gate);
5. ``exact_dup``     — non-minimal member of an ``md5(text)`` group;
6. ``near_dup``      — flagged by the MinHash-LSH near-dup decision table
                       (each cluster keeps its min-id representative).

Scale shape:

* The corpus is scanned ONCE: the fanned projection is eagerly
  localCheckpoint-ed and every gate (features, md5 groups, the LSH
  shingle substrate) reads the same materialized blocks — pinned by a
  scan-count plan test.
* Gates 1-4 are ONE zero-shuffle codegen projection over the corpus scan —
  the token and bigram arrays are let-bound once per row via the
  ``transform(array(struct(...)), ...)[0]`` trick (see
  :func:`kgist_spark.operators.text.repetition_stats` for why: a named
  intermediate projection gets inlined into every consumer by
  CollapseProject and the arrays would be rebuilt per use).
* Gate 5 aggregates ``md5(text) -> (min_id, n)`` (map-side partials absorb
  viral texts), keeps only ``n > 1`` groups — a near-dup-sparse table —
  and left-joins it back.  md5 is uniform, so the only key concentration
  is identical texts, which is exactly the group being measured.
* Gate 6 reuses the capped two-phase LSH pair substrate
  (:func:`kgist_spark.operators.dedup.neardup_keep_table`: hot buckets
  dropped BEFORE any collect, drops Observation-counted) and joins back
  only the SPARSE ``is_dup`` set.
* Both dup-flag joins are sparse-side left joins with
  ``coalesce(false)`` — AQE broadcasts them while small and falls back to
  shuffle joins when a pathological corpus makes them large; never forced.

Determinism: every feature is rounded before comparison, every threshold
is a module constant imported by the DuckDB oracle
(`plans/testdata_queries.py::_curate_oracle`), and the decision CASE chain
is replayed verbatim there — the two engines cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgist_spark.operators.text import tokens, word_ngrams

#: curation thresholds — shared with the DuckDB oracle as literals
KEEP_LANG = "en"
MIN_TOKENS = 15
MIN_UNIQUE_RATIO = 0.30
MAX_DUP_BIGRAM_FRAC = 0.10

#: gate order — the FIRST failing gate names the drop_reason
GATES = ("lang", "too_short", "low_diversity", "repetitive",
         "exact_dup", "near_dup")


def row_features(base: DataFrame) -> DataFrame:
    """Gates 1-4 features + ``text_md5`` as ONE zero-shuffle codegen
    projection over a ``(doc_id, lang, text)`` frame.  Stateless.  The
    token and bigram arrays are let-bound once per row via the
    ``transform(array(struct(...)), ...)[0]`` trick (see
    :func:`kgist_spark.operators.text.repetition_stats` for why)."""
    bound = F.transform(
        F.array(F.struct(tokens("text").alias("t"),
                         word_ngrams("text", 2).alias("bg"))),
        lambda r: F.struct(
            F.size(r["t"]).alias("n_tokens"),
            F.round(F.size(F.array_distinct(r["t"])) / F.size(r["t"]), 5)
            .alias("unique_ratio"),
            F.when(
                F.size(r["bg"]) > 0,
                F.round(1 - F.size(F.array_distinct(r["bg"])) / F.size(r["bg"]), 5),
            ).alias("dup_bigram_frac"),
        ),
    )[0]
    return base.select(
        "doc_id", "lang",
        bound["n_tokens"].alias("n_tokens"),
        bound["unique_ratio"].alias("unique_ratio"),
        bound["dup_bigram_frac"].alias("dup_bigram_frac"),
        F.md5(F.col("text")).alias("text_md5"),
    )


def gate_conditions(include=GATES):
    """The ordered ``(gate_name, failing_condition)`` chain over feature
    columns — the single definition both decision surfaces (and the DuckDB
    oracle's CASE chain, by constant import) replay."""
    all_gates = {
        "lang": F.col("lang") != F.lit(KEEP_LANG),
        "too_short": F.col("n_tokens") < MIN_TOKENS,
        "low_diversity": F.col("unique_ratio") < MIN_UNIQUE_RATIO,
        "repetitive": F.col("dup_bigram_frac") > MAX_DUP_BIGRAM_FRAC,
        "exact_dup": F.col("is_exact_dup"),
        "near_dup": F.col("is_near_dup"),
    }
    return [(g, all_gates[g]) for g in include]


def reason_expr(include=GATES):
    """FIRST-failing-gate CASE chain (NULL = kept) over the gates in
    ``include``."""
    conds = gate_conditions(include)
    reason = F.when(conds[0][1], F.lit(conds[0][0]))
    for name, cond in conds[1:]:
        reason = reason.when(cond, F.lit(name))
    return reason


def curate_table(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", lang_col: str = "lang",
                 threshold: float = 0.4, drop_stats=None) -> DataFrame:
    """``(doc_id, lang, n_tokens, unique_ratio, dup_bigram_frac,
    is_exact_dup, is_near_dup, keep, drop_reason)`` for every document.

    ``threshold`` is the near-dup jaccard threshold passed through to the
    MinHash decision table; ``drop_stats`` the optional ``Observation``
    that counts capped-bucket drops there (no silent caps).
    """
    from kgist_spark.operators.dedup import fan_out_scan, neardup_keep_table

    # ONE corpus scan feeds everything: the fanned projection is persisted
    # so the feature gates, the md5 group-by AND the near-dup shingle
    # substrate (gate 6) all read the same cached blocks — without it,
    # gate 6 re-ran fan_out_scan on the raw input and the 100-TB source
    # was scanned twice end-to-end.  persist(), NOT localCheckpoint():
    # localCheckpoint severs lineage, so one lost executor makes the whole
    # job unrecoverable — acceptable for the engine's SMALL iteration
    # tables (centroids, frontiers), not for a materialized full-corpus
    # projection; a persisted block that is lost or evicted is simply
    # recomputed from the parquet lineage.  The cache is session-managed
    # (LRU to disk, spilled past memory) and lives as long as its
    # consumers — callers doing repeated timing runs should clearCache
    # between repetitions.
    from pyspark import StorageLevel

    base = fan_out_scan(
        docs.select(F.col(id_col).alias("doc_id"),
                    F.col(lang_col).alias("lang"),
                    F.col(text_col).alias("text"))
    ).persist(StorageLevel.MEMORY_AND_DISK)

    # gates 1-4: one in-row projection (shared with the streaming surface)
    feats = row_features(base)

    # gate 5: sparse md5 duplicate groups (n > 1 only), joined back
    dup_groups = (
        feats.groupBy("text_md5")
        .agg(F.min("doc_id").alias("grp_keep_id"), F.count("*").alias("grp_n"))
        .where(F.col("grp_n") > 1)
        .select("text_md5", "grp_keep_id")
    )
    flagged = feats.join(dup_groups, "text_md5", "left").withColumn(
        "is_exact_dup",
        F.coalesce(F.col("doc_id") != F.col("grp_keep_id"), F.lit(False)),
    )

    # gate 6: sparse near-dup membership from the LSH decision table,
    # fed from the SAME checkpointed scan as the feature gates (its inner
    # fan_out_scan is a passthrough on the already-fanned base)
    nd = (
        neardup_keep_table(base, id_col="doc_id", text_col="text",
                           threshold=threshold, drop_stats=drop_stats)
        .where(F.col("is_dup"))
        .select("doc_id", F.lit(True).alias("is_near_dup"))
    )
    full = flagged.join(nd, "doc_id", "left").withColumn(
        "is_near_dup", F.coalesce(F.col("is_near_dup"), F.lit(False))
    )

    reason = reason_expr(GATES)
    return full.select(
        "doc_id", "lang", "n_tokens", "unique_ratio", "dup_bigram_frac",
        "is_exact_dup", "is_near_dup",
        reason.isNull().alias("keep"),
        reason.alias("drop_reason"),
    )


def curate_summary(decisions: DataFrame) -> DataFrame:
    """Per-reason audit rollup of a :func:`curate_table` result:
    ``(drop_reason, n_docs)`` with kept docs under reason ``'kept'`` —
    the one-page report a pipeline owner reads after a run."""
    return (
        decisions.groupBy(
            F.coalesce("drop_reason", F.lit("kept")).alias("drop_reason")
        )
        .agg(F.count("*").alias("n_docs"))
    )
