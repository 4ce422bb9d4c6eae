"""The end-to-end KG-construction pipeline (north-star lifecycle):

web pages → X1/X2 extraction → X3/X4/X5 canonicalization → S7 materialized
KG tables → KGist MDL summarization → anomaly ranking.

Every arrow is a DataFrame job; driver coordination appears only in the
union-find fixpoint and the greedy selection loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgist_spark.pipeline.canonicalize import (
    apply_canonical_labels,
    apply_canonical_triples,
    canonical_map,
    entity_vocabulary,
)
from kgist_spark.pipeline.extract_jvm import extract_facts_jvm
from kgist_spark.pipeline.materialize import materialize_kg, with_eids


def extract_facts_dedup(pages: DataFrame, extractor=extract_facts_jvm):
    """ONE extraction pass + ONE dedup shuffle for BOTH fact kinds, shared
    by the batch and incremental constructors (the group-key column list is
    a subtle invariant — keep it in exactly one place).

    Triple rows group on (t, subj, pred, obj) and label rows on
    (l, node, label); the null fact columns of the other kind ride along in
    the key, so the single groupBy is exactly the two per-kind distincts
    without persisting the raw pre-dedup extraction.  Returns
    ``(facts_dedup, raw_triples, raw_labels)`` — the raw tables are lazy
    filtered views over facts_dedup; the CALLER owns persisting facts_dedup
    before fanning out."""
    facts_dedup = (
        extractor(pages)
        .groupBy("kind", "subj", "pred", "obj", "node", "label")
        .agg(F.min("url").alias("url"), F.min("pos").alias("pos"))
    )
    raw_triples = facts_dedup.where(F.col("kind") == "t").select(
        "subj", "pred", "obj", "url"
    )
    raw_labels = facts_dedup.where(F.col("kind") == "l").select(
        "node", "label", "pos"
    )
    return facts_dedup, raw_triples, raw_labels


def construct_kg(spark: SparkSession, pages: DataFrame, out_dir: str | None = None,
                 n_buckets: int = 8, canonicalize: bool = True):
    """Stages 1-3.  Returns ``(triples, labels)``:

    * triples — (subj, pred, obj, url[, eid])
    * labels  — (node, label, pos) distinct
    """
    # distinct facts: the same (s, p, o) extracted from many pages (zipfian
    # head entities!) is ONE edge in the KG; lineage keeps the smallest
    # source url deterministically (evidence counts can be added as a weight
    # column later without changing the KG shape)
    from pyspark import StorageLevel

    # ONE extraction pass (normalization + mention detection are the
    # dominant per-doc cost) + ONE dedup shuffle — see extract_facts_dedup.
    # Downstream stages (vocabulary, canonical map, apply, materialize, the
    # caller's summarizer) read the persisted DEDUPED set — |facts| rows,
    # far smaller than |pages|.  Extraction runs on the all-Catalyst path
    # (extract_jvm): row-identical to the Python spec path (pinned in tests)
    # with no Python workers in stage 1.
    facts_dedup, raw_triples, raw_labels = extract_facts_dedup(pages)
    # persist() returns the SAME DataFrame object, so the helper's raw views
    # already read the persisted plan — never re-derive them here (the
    # group-key column list lives in exactly one place)
    facts_dedup.persist(StorageLevel.MEMORY_AND_DISK)
    facts_dedup.count()
    if canonicalize:
        canon = canonical_map(entity_vocabulary(raw_triples)).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        # broadcast the canonical map only while the vocabulary provably
        # fits (the count scans the just-persisted map); a corpus-scale
        # vocabulary leaves the join to AQE instead of forcing a broadcast
        # that would cap the pipeline at the broadcast size limit
        hint = canon.count() <= 2_000_000
        triples = apply_canonical_triples(
            raw_triples, canon, broadcast_hint=hint
        ).persist(StorageLevel.MEMORY_AND_DISK)
        labels = apply_canonical_labels(
            raw_labels, canon, broadcast_hint=hint
        ).persist(StorageLevel.MEMORY_AND_DISK)
    else:
        # the raw tables are filtered views over the persisted dedup set,
        # which is freed below — give the caller its own persisted copies
        triples = raw_triples.persist(StorageLevel.MEMORY_AND_DISK)
        labels = raw_labels.persist(StorageLevel.MEMORY_AND_DISK)

    if out_dir:
        materialize_kg(spark, triples, labels, out_dir, n_buckets=n_buckets)
    else:
        # force the output persists off the intermediate lineage (the
        # materialize writes do this when out_dir is set)
        triples.count(), labels.count()
    # free the intermediates: Spark's cache is keyed by plan equality,
    # so leaving them persisted makes every LATER identical construct
    # silently reuse them — a session-lifetime memory leak and a bench
    # distortion (a "cold" rerun that isn't)
    facts_dedup.unpersist()
    if canonicalize:
        canon.unpersist()
    return triples, labels


def kg_to_summarizer_inputs(triples: DataFrame, labels: DataFrame):
    """Reshape constructed-KG tables into the summarizer's input contract:
    triples (subj, pred, obj, eid) + labels (node, labels array, line_no),
    with deterministic ids/orderings."""
    t = with_eids(triples).select("subj", "pred", "obj", "eid")
    from kgist_spark.pipeline.materialize import deterministic_dense_ids

    lab = (
        labels.groupBy("node")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "label"))).alias("pl"))
        .withColumn("labels", F.expr("transform(pl, x -> x.label)"))
        .drop("pl")
    )
    lab = deterministic_dense_ids(lab, ["node"], "line_no")
    return t, lab


def summarize_constructed_kg(triples: DataFrame, labels: DataFrame,
                             passes: int = 2):
    """Run KGist MDL summarization over a constructed KG (idified ids,
    label-qualified rules)."""
    from kgist_spark.plans.summarizer import SparkSummarizer

    t, lab = kg_to_summarizer_inputs(triples, labels)
    summ = SparkSummarizer(t, lab, idify=True)
    model = summ.fit(passes=passes, label_qualify=True)
    return summ, model
