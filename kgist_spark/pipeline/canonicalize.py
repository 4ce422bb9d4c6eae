"""Stage 2 — entity canonicalization and mention linking.

* **Blocking** (X3): MinHash-LSH over character trigrams of entity surface
  ids, restricted to same-etype pairs (the etype prefix is part of the id).
* **Verification**: exact trigram Jaccard >= ``threshold``.
* **Union-find** (X4): connected components over verified pairs; canonical
  id = lexicographically smallest member (deterministic).
* **Linking** (X5): triples/labels re-keyed to canonical ids via a broadcast
  map join; out-of-dictionary mentions are linked against LSH candidates by
  the same JVM-side exact-trigram-jaccard join the dedup path uses.

All steps are DataFrame-native with zero Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgist_spark.operators import minhash as MH
from kgist_spark.operators.components import connected_components


def entity_vocabulary(raw_triples: DataFrame) -> DataFrame:
    """Distinct entity surface ids appearing in stage-1 output."""
    return (
        raw_triples.select(F.explode(F.array("subj", "obj")).alias("node"))
        .distinct()
    )


def canonical_map(entities: DataFrame, k: int = 3, num_perm: int = 32,
                  bands: int = 8, rows_per_band: int = 4,
                  threshold: float = 0.70,
                  local_threshold: int = 8192) -> DataFrame:
    """``(node, canonical)`` for every entity (identity rows included).

    Vocabularies at or below ``local_threshold`` take a driver-local path:
    the exact same hash family replayed bit for bit in numpy
    (:mod:`kgist_spark.pipeline.canonicalize_local`, equality pinned in
    tests) — ~10 shuffle stages of pure scheduling latency become one
    collect of a few thousand strings.  The same size-based physical-
    strategy choice Catalyst makes for broadcast joins; web-scale
    vocabularies keep the distributed chain below.

    Materialization points: ``connected_components`` issues several actions
    (convergence probes / the driver-path collect), and the final identity
    join re-reads ``entities`` — without a cut, EACH action would re-run the
    whole vocabulary-distinct → shingle → minhash → LSH → verify chain (and
    ``jaccard_verified_pairs`` scans the shingle lineage twice per job on its
    own).  ``localCheckpoint`` the two small frontier sets — the vocabulary
    (one row per distinct entity) and the verified pair list — so every
    downstream action reads materialized partitions; the shingle set is
    persisted only across the single checkpoint job that reads it 3x.
    The chain runs at the session's shuffle width; AQE coalesces each of
    its shuffles, the persisted shingles' included, to the vocabulary's
    size (see :mod:`kgist_spark.session`).
    """
    entities = entities.localCheckpoint()
    # the count is free: entities is checkpointed one line up
    n_entities = entities.count()
    spark = entities.sparkSession
    if local_threshold and n_entities <= local_threshold:
        from kgist_spark.pipeline.canonicalize_local import canonical_map_local

        mapping = canonical_map_local(
            [r["node"] for r in entities.collect()],
            k=k, num_perm=num_perm, bands=bands,
            rows_per_band=rows_per_band, threshold=threshold,
        )
        mdf = spark.createDataFrame(
            sorted(mapping.items()), "node string, canonical string"
        )
        # join back instead of returning the map directly: the distributed
        # path emits one output row PER INPUT ROW, so a (pathological)
        # non-distinct input must keep its multiplicity on this path too
        return (
            entities.join(F.broadcast(mdf), "node", "left")
            .select("node", F.coalesce("canonical", "node").alias("canonical"))
        )
    shingles = MH.char_shingles(entities, "node", "node", k=k).persist()
    try:
        sigs = MH.minhash_signatures(shingles, num_perm=num_perm)
        buckets = MH.lsh_buckets(sigs, bands=bands, rows_per_band=rows_per_band)
        pairs = MH.candidate_pairs(buckets)
        # same etype only: ids are "{etype}:{surface}"
        same_type = pairs.where(
            F.substring_index(F.col("a"), ":", 1)
            == F.substring_index(F.col("b"), ":", 1)
        )
        verified = (
            MH.jaccard_verified_pairs(same_type, shingles, threshold)
            .select("a", "b")
            .localCheckpoint()
        )
        # checkpoint was an action: surface any hot-bucket drop loss now
        # (candidate_pairs always observes; this adds no job)
        MH.log_drop_stats(pairs, "canonical_map")
    finally:
        shingles.unpersist()
    comp = connected_components(verified)
    canon = comp.select("node", F.col("component").alias("canonical"))
    return (
        entities.join(canon, "node", "left")
        .select("node", F.coalesce("canonical", "node").alias("canonical"))
    )


def apply_canonical_triples(raw_triples: DataFrame, canon: DataFrame,
                            broadcast_hint: bool = True) -> DataFrame:
    """Re-key subj/obj to canonical ids and drop degenerate self-loops
    created by the merge.

    ``broadcast_hint`` pins the map side as the broadcast build side; the
    canonical map grows with the ENTITY VOCABULARY, so callers that cannot
    bound it (a whole-corpus map at web scale) must pass False — the join
    then falls to AQE, which still broadcasts while the map actually fits
    and shuffle-joins once it doesn't.  :func:`construct_kg` gates the hint
    on the measured vocabulary size."""
    c = F.broadcast(canon) if broadcast_hint else canon
    return (
        raw_triples.join(c.withColumnRenamed("node", "subj"), "subj")
        .withColumnRenamed("canonical", "subj_c")
        .join(c.withColumnRenamed("node", "obj"), "obj")
        .withColumnRenamed("canonical", "obj_c")
        .select(
            F.col("subj_c").alias("subj"),
            "pred",
            F.col("obj_c").alias("obj"),
            "url",
        )
        .where(F.col("subj") != F.col("obj"))
    )


def apply_canonical_labels(labels: DataFrame, canon: DataFrame,
                           broadcast_hint: bool = True) -> DataFrame:
    """Labels twin of :func:`apply_canonical_triples` (same size contract
    on ``broadcast_hint``)."""
    c = F.broadcast(canon) if broadcast_hint else canon
    return (
        labels.join(c, "node")
        .groupBy(F.col("canonical").alias("node"), F.col("label"))
        .agg(F.min("pos").alias("pos"))
    )


# ---------------------------------------------------------------------------
# X5 — linking out-of-dictionary mentions against a canonical dictionary
# ---------------------------------------------------------------------------

def link_mentions(mentions: DataFrame, dictionary: DataFrame,
                  threshold: float = 0.5, num_perm: int = 32,
                  bands: int = 8, rows_per_band: int = 4,
                  same_prefix: bool = False) -> DataFrame:
    """``(mention, linked, score)``: exact dictionary hits score 1.0; misses
    are blocked via LSH against the dictionary and scored by the JVM-side
    exact trigram-jaccard join; best candidate above threshold wins.

    No broadcast hint on either side: mention-vs-dictionary relative size
    depends on the caller (batch X5 links a big mention table against a
    small dictionary; incremental linking the reverse, against a grow-only
    dictionary) — AQE broadcasts whichever side is small at runtime and
    falls back to shuffle join when neither is.

    :mentions: one column ``mention`` (canonical-form surface ids)
    :dictionary: one column ``entity``
    :same_prefix: restrict near-matches to pairs with equal etype prefixes
        (``substring_index(id, ':', 1)``), mirroring ``canonical_map`` —
        incremental linking passes True so a new surface can never adopt a
        different-etype surface's canonical.
    """
    exact = (
        mentions.join(
            dictionary.withColumnRenamed("entity", "mention"), "mention"
        )
        .select("mention", F.col("mention").alias("linked"), F.lit(1.0).alias("score"))
    )
    misses = mentions.join(
        dictionary.withColumnRenamed("entity", "mention"),
        "mention",
        "left_anti",
    )

    tagged = misses.select(F.concat(F.lit("m|"), "mention").alias("node")).unionByName(
        dictionary.select(F.concat(F.lit("d|"), "entity").alias("node"))
    )
    shingles = MH.char_shingles(
        tagged.withColumn("text", F.substring_index(F.col("node"), "|", -1)),
        "node",
        "text",
    )
    sigs = MH.minhash_signatures(shingles, num_perm=num_perm)
    buckets = MH.lsh_buckets(sigs, bands=bands, rows_per_band=rows_per_band)
    pairs = MH.candidate_pairs(buckets)
    cand = (
        pairs.select(
            F.when(F.col("a").startswith("m|"), F.col("a")).otherwise(F.col("b")).alias("m"),
            F.when(F.col("a").startswith("d|"), F.col("a")).otherwise(F.col("b")).alias("d"),
        )
        .where(F.col("m").startswith("m|") & F.col("d").startswith("d|"))
        .select(F.col("m").alias("a"), F.col("d").alias("b"))
    )
    if same_prefix:
        cand = cand.where(
            F.substring_index(F.expr("substring(a, 3)"), ":", 1)
            == F.substring_index(F.expr("substring(b, 3)"), ":", 1)
        )

    # score with the SAME JVM-side exact-jaccard join the dedup path uses —
    # the trigram sets are already materialized in `shingles`, so a pandas
    # UDF here would re-derive them per row (and an executor-lifetime gram
    # cache with it); this keeps the whole scorer in whole-stage codegen
    scored = MH.jaccard_verified_pairs(cand, shingles, threshold)
    best = (
        scored.select(
            F.expr("substring(a, 3)").alias("mention"),
            F.expr("substring(b, 3)").alias("linked_entity"),
            F.col("jaccard").alias("score"),
        )
        .groupBy("mention")
        .agg(F.max_by("linked_entity", F.struct("score", "linked_entity")).alias("linked"),
             F.max("score").alias("score"))
    )
    return exact.unionByName(best)
