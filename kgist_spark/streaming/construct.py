"""Incremental KG construction — the streaming twin of
:func:`kgist_spark.pipeline.run.construct_kg`.

The batch pipeline rebuilds the whole KG from the whole corpus; this module
maintains a KG as page batches ARRIVE (Structured Streaming file source,
``Trigger.AvailableNow`` so the same code runs as a scheduled incremental
job).  Per micro-batch:

1. **Extract** — the all-Catalyst stage-1 extractor (pure expressions, so it
   runs unchanged on the micro-batch DataFrame; no Python workers).
2. **Link** — batch entities are resolved against a **grow-only canonical
   dictionary** persisted with the KG: exact surface hits map directly; new
   surfaces are LSH-blocked + trigram-jaccard-scored against the known
   surfaces (the same JVM join the batch canonicalizer uses) and adopt the
   best match's canonical id; still-unmatched surfaces are canonicalized
   among themselves (the batch ``canonical_map``) and appended to the
   dictionary.
3. **Append** — only triples/labels NOT already in the KG (anti-join on the
   natural keys) are written, into ``batch=<id>/bucket=<b>`` partitions.
   Edge ids continue the existing sequence (max eid + dense ids within the
   batch).

**Exactly-once**: the file-source checkpoint makes batch replay the failure
mode; every write uses dynamic partition overwrite of the batch's own
``batch=<id>`` partitions, and all existing-state reads (dictionary, KG
anti-joins, eid offset) EXCLUDE the replayed batch's own partitions — so a
replayed batch recomputes exactly the original output and overwrites its
own partitions with it.  A manifest row per (table, batch, bucket) records
lineage + row counts, and a batch whose manifest rows are already present
is skipped wholesale (fast resume).

**Grow-only contract** (the documented divergence from batch rebuild): a
new surface that bridges TWO existing canonical groups links to its single
best-scoring match; the groups are not retroactively merged (merging would
rewrite already-materialized batches — the standard incremental-linking
trade-off).  A periodic batch rebuild reconciles.  On corpora without such
bridges the incremental KG's canonical partition is IDENTICAL to the batch
pipeline's (pinned in tests/test_streaming.py up to canonical-representative
renaming — incremental picks representatives by arrival order, batch by
global minimum).

100 TB shape: the dictionary is read once per batch and only its NEW rows
are written; the anti-join against existing triples is an equi-join on the
natural key (shuffle bounded by batch size on the probe side); all
extraction and scoring is JVM-side.  Dictionary LSH band hashes are
PERSISTED as an index (``canon_index``, batch-partitioned like the
dictionary) with a per-bucket size side table (``canon_index_sizes``, a few
rows per batch): per-batch linking joins the batch's band hashes against
the index — the index is scanned but never shuffled or re-hashed, and
dictionary shingles are recomputed only for matched candidate surfaces.
NO join in this module carries a FORCED broadcast hint on either side:
the dictionary grows without bound with the corpus, and a "batch" can be
a backfill of arbitrary size, so every join is left to AQE (broadcast
while a side actually fits, shuffle join once it doesn't).  Per-batch
linking work is the index scan plus O(batch + matches) shuffles; the
exact-hit and anti-joins against the dictionary/KG are equi-joins whose
shuffle AQE plans from runtime sizes.  Hot-bucket detection aggregates the
narrow size side table ONLY over the buckets the batch touches (semi-join
on the batch side), and the dictionary-size probe reads the lineage
manifest on the driver — no per-batch re-hash or full-index aggregate;
the residual per-batch term is the columnar scan of the sizes table
(O(distinct index buckets) narrow rows — compact it with a periodic
snapshot if it ever dominates).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgist_spark.pipeline.canonicalize import (
    apply_canonical_labels,
    apply_canonical_triples,
    canonical_map,
    entity_vocabulary,
    link_mentions,
)
from kgist_spark.pipeline.run import extract_facts_dedup
from kgist_spark.pipeline.materialize import (
    _append_manifest,
    adjacency,
    bucketed,
    deterministic_dense_ids,
    observed_bucket_counts,
    read_manifest,
)
from kgist_spark.operators import minhash as MH
from kgist_spark.session import run_concurrently

#: schema of the page files the stream picks up (the web-page table shape)
PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"
DICT_DIR = "canon_dict"
INDEX_DIR = "canon_index"
SIZES_DIR = "canon_index_sizes"
#: LSH family shared with canonical_map / link_mentions defaults — the
#: index MUST use the same hashes so indexed and unindexed linking see the
#: same candidate pairs
_NUM_PERM, _BANDS, _ROWS_PER_BAND = 32, 8, 4
#: target rows per dictionary/index append file — sizes the write width so a
#: huge backfill batch fans out while the usual trickle stays a single file
_DICT_ROWS_PER_FILE = 2_000_000


def _surface_lsh(surfaces: DataFrame):
    """``(sketch, buckets)`` for a one-column ``surface`` DataFrame, with
    the shared LSH family: the sketch ``(id, grams)`` holds each surface's
    trigram set, buckets ``(id, band, bucket, grams)``."""
    sk = MH.char_shingles(surfaces, "surface", "surface", k=3)
    sigs = MH.minhash_signatures(sk, num_perm=_NUM_PERM)
    return sk, MH.lsh_buckets(sigs, bands=_BANDS, rows_per_band=_ROWS_PER_BAND)


def read_index(spark: SparkSession, out_dir: str,
               exclude_batch: int | None = None) -> DataFrame | None:
    """The persisted dictionary LSH index ``(surface, band, bucket)``, or
    None if absent OR not covering every dictionary batch (a KG whose
    early batches predate the index would otherwise link against an index
    that is blind to the early surfaces — near-matches to them would
    silently become NEW canonical groups, diverging from unindexed
    linking).  Pre-/partial-index KGs fall back to unindexed linking."""
    path = os.path.join(out_dir, INDEX_DIR)
    dict_batches = _batch_ids(os.path.join(out_dir, DICT_DIR))
    index_batches = _batch_ids(path)
    if exclude_batch is not None:
        dict_batches.discard(exclude_batch)
        index_batches.discard(exclude_batch)
    if not index_batches or not dict_batches <= index_batches:
        return None
    df = spark.read.option("basePath", path).parquet(
        os.path.join(path, "batch=*")
    )
    if exclude_batch is not None:
        df = df.where(F.col("batch") != exclude_batch)
    return df.select("surface", "band", "bucket")


def _has_batches(path: str) -> bool:
    return os.path.isdir(path) and any(
        e.startswith("batch=") for e in os.listdir(path)
    )


def _batch_ids(path: str) -> set:
    """Batch ids present on disk under ``path`` (``batch=<id>`` dirs)."""
    if not os.path.isdir(path):
        return set()
    return {
        int(e.split("=", 1)[1])
        for e in os.listdir(path)
        if e.startswith("batch=")
    }


def read_index_sizes(spark: SparkSession, out_dir: str,
                     exclude_batch: int | None = None) -> DataFrame | None:
    """RAW per-batch bucket-size partials ``(band, bucket, n)`` from the
    ``canon_index_sizes`` side table, or None when the side table does not
    COVER the index — a KG whose early batches predate the table would
    otherwise yield silently-partial sums (hot buckets under-counted, the
    cap disabled on exactly the degenerate buckets it exists for).
    Consumers confine their aggregation to the buckets a batch actually
    touches (semi-join), so per-batch work is bounded by the narrow sizes
    scan, not a full-index re-hash."""
    path = os.path.join(out_dir, SIZES_DIR)
    index_batches = _batch_ids(os.path.join(out_dir, INDEX_DIR))
    sizes_batches = _batch_ids(path)
    if exclude_batch is not None:
        index_batches.discard(exclude_batch)
        sizes_batches.discard(exclude_batch)
    if not sizes_batches or not index_batches <= sizes_batches:
        return None  # absent or partial coverage: caller sizes the index
    df = spark.read.option("basePath", path).parquet(
        os.path.join(path, "batch=*")
    )
    if exclude_batch is not None:
        df = df.where(F.col("batch") != exclude_batch)
    return df.select("band", "bucket", "n")


def dict_size_from_manifest(out_dir: str,
                            exclude_batch: int | None = None) -> int | None:
    """Dictionary row count accumulated from the per-batch ``canon_dict``
    manifest rows — O(#batches) driver-side, no Spark job.  None when the
    manifest does not cover every dictionary batch on disk (pre-manifest
    KGs); replayed batches overwrite, so the LAST row per batch wins."""
    dict_batches = _batch_ids(os.path.join(out_dir, DICT_DIR))
    if exclude_batch is not None:
        dict_batches.discard(exclude_batch)
    by_batch: dict = {}
    for e in read_manifest(out_dir):
        if (e["table"] == "canon_dict" and e["status"] == "done"
                and e.get("batch") != exclude_batch):
            by_batch[e["batch"]] = e["n_rows"]
    if not dict_batches <= set(by_batch):
        return None
    return sum(by_batch[b] for b in dict_batches)


def compact_dictionary_state(spark: SparkSession, out_dir: str,
                             keep_last: int = 1) -> dict:
    """Offline maintenance: merge all but the newest ``keep_last`` batch
    partitions of the dictionary, its LSH index, and the size side table
    into ONE partition each (kept under the LARGEST compacted batch id).

    Why: each micro-batch appends a partition to all three tables, so after
    N batches every read opens N partitions and the sizes scan carries N
    partial rows per recurring bucket.  Compaction restores O(1) partitions
    and collapses size partials to one row per bucket — the periodic
    snapshot the module doc prescribes for long-running streams.

    Contracts preserved: readers see IDENTICAL content (sizes are summed,
    dictionary/index rows unioned); every table is compacted over the SAME
    batch set — a side table that does not COVER those batches (pre-sizes /
    pre-index KGs) has its old partials DROPPED instead of merged, so it
    stays visibly non-covering and the read guards keep falling back
    correctly (never a fabricated partial merge that would pass coverage).
    Replay-exclusion survives because only the newest ``keep_last >= 1``
    batches are ever replayable (the stream checkpoint has long committed
    the compacted ones) and those keep their own partitions.

    Crash safety (run OFFLINE, not concurrently with the stream): all
    merged data is written to non-destructive ``_compact_ready`` staging
    dirs first, then a write-ahead plan file is persisted, and only then
    are old partitions removed and the staged dirs swapped in.  A crash
    before the plan file leaves the KG untouched (stale staging dirs are
    overwritten by the next run); a crash after it is finished
    IDEMPOTENTLY by the next call (the plan records exactly which
    partitions to remove and swap)."""
    import json
    import shutil

    if keep_last < 1:
        raise ValueError(
            "keep_last must be >= 1: the newest batch can still be replayed "
            "by the stream checkpoint, and a replay's dynamic partition "
            "overwrite of a merged partition would wipe the compacted history"
        )

    plan_path = os.path.join(out_dir, "_compact_plan.json")

    def _finish(plan: dict) -> dict:
        for sub, entry in plan["tables"].items():
            path = os.path.join(out_dir, sub)
            ready = path + "._compact_ready"
            if entry["mode"] == "merge" and not os.path.isdir(ready):
                # this table's swap already completed on a previous attempt
                # (os.replace consumed the staging dir): batch=<target> now
                # HOLDS the merged data — remove only the other old
                # partitions, never the target
                for b in entry["old"]:
                    if b != plan["target"]:
                        shutil.rmtree(os.path.join(path, f"batch={b}"),
                                      ignore_errors=True)
                continue
            for b in entry["old"]:
                shutil.rmtree(os.path.join(path, f"batch={b}"),
                              ignore_errors=True)
            if entry["mode"] == "merge":
                os.replace(ready, os.path.join(path, f"batch={plan['target']}"))
        if plan.get("dict_rows") is not None:
            # last row per batch wins, so a duplicate append on recovery is
            # harmless; coverage checks disk dirs, which are gone
            _append_manifest(out_dir, {
                "table": "canon_dict", "batch": plan["target"],
                "n_rows": plan["dict_rows"], "status": "done",
            })
        os.remove(plan_path)
        return {"compacted": plan["n_old"], "into": plan["target"],
                "recovered": plan.get("recovered", False)}

    if os.path.exists(plan_path):
        with open(plan_path) as f:
            plan = json.load(f)
        plan["recovered"] = True
        return _finish(plan)

    batches = sorted(_batch_ids(os.path.join(out_dir, DICT_DIR)))
    old = batches[:max(0, len(batches) - keep_last)]
    if len(old) <= 1:
        return {"compacted": 0, "into": None}
    target = old[-1]

    # phase 1 — non-destructive: stage every merge, decide merge-vs-drop
    plan = {"target": target, "n_old": len(old), "tables": {},
            "dict_rows": None}
    for sub in (DICT_DIR, INDEX_DIR, SIZES_DIR):
        path = os.path.join(out_dir, sub)
        present = _batch_ids(path)
        if not present & set(old):
            continue
        if not set(old) <= present:
            # partial coverage (pre-sizes / pre-index KG): dropping the
            # partials keeps the table visibly non-covering for the guards
            plan["tables"][sub] = {"old": sorted(present & set(old)),
                                   "mode": "drop"}
            continue
        df = (
            spark.read.option("basePath", path)
            .parquet(os.path.join(path, "batch=*"))
            .where(F.col("batch").isin(list(old)))
            .drop("batch")
        )
        if sub == SIZES_DIR:
            df = df.groupBy("band", "bucket").agg(F.sum("n").alias("n"))
        ready = path + "._compact_ready"
        shutil.rmtree(ready, ignore_errors=True)
        df.coalesce(max(1, len(old) // 8)).write.mode("overwrite").parquet(ready)
        if sub == DICT_DIR:
            # row count from the parquet footers of the files just written —
            # no second Spark scan of the staged data
            import pyarrow.parquet as pq
            plan["dict_rows"] = sum(
                pq.ParquetFile(os.path.join(ready, f)).metadata.num_rows
                for f in os.listdir(ready) if f.endswith(".parquet")
            )
        plan["tables"][sub] = {"old": list(old), "mode": "merge"}

    # phase 2 — write-ahead plan (atomic: a crash mid-write must never
    # leave a truncated plan that bricks the next run), then the swap
    tmp_plan = plan_path + ".tmp"
    with open(tmp_plan, "w") as f:
        json.dump(plan, f)
    os.replace(tmp_plan, plan_path)
    return _finish(plan)


def read_incremental_kg(spark: SparkSession, out_dir: str):
    """Load the incremental KG (all batches); ``batch`` comes back as a
    lineage column.  ``(None, None)`` before the first non-empty batch."""
    t_path = os.path.join(out_dir, "kg_triples")
    l_path = os.path.join(out_dir, "kg_labels")
    if not (_has_batches(t_path) and _has_batches(l_path)):
        return None, None
    triples = spark.read.option("basePath", t_path).parquet(
        os.path.join(t_path, "batch=*", "bucket=*")
    )
    labels = spark.read.option("basePath", l_path).parquet(
        os.path.join(l_path, "batch=*", "bucket=*")
    )
    return triples, labels


def read_dictionary(spark: SparkSession, out_dir: str,
                    exclude_batch: int | None = None) -> DataFrame | None:
    """``(surface, canonical)`` over all batches, or None before batch 0.
    ``exclude_batch`` drops one batch's rows — the replay path must see the
    dictionary exactly as the original run did, not its own output."""
    path = os.path.join(out_dir, DICT_DIR)
    if not _has_batches(path):
        return None
    df = spark.read.option("basePath", path).parquet(
        os.path.join(path, "batch=*")
    )
    if exclude_batch is not None:
        df = df.where(F.col("batch") != exclude_batch)
    return df.select("surface", "canonical")


def _indexed_link(unknown: DataFrame, dict_index: DataFrame,
                  threshold: float,
                  dictionary: DataFrame | None = None,
                  stats: dict | None = None,
                  index_sizes: DataFrame | None = None) -> DataFrame:
    """``(mention, linked)`` best dictionary match per unknown surface via
    the persisted index: the (band, bucket) equi-join never shuffles or
    re-hashes the index (AQE broadcasts the tiny batch side), and
    dictionary shingles are recomputed only for candidate surfaces.
    Candidate pairs are restricted to equal etype prefixes
    (``substring_index(id, ':', 1)``), mirroring ``canonical_map`` — a new
    surface never adopts a different-etype group's canonical.

    Dict-side hot buckets (> 64 ids) are dropped with a logged count, sized
    from the ``index_sizes`` side table when given — O(touched buckets),
    not O(dictionary); the full-index group-by is only the fallback for
    pre-sizes KGs.  (The unindexed path caps on combined mention+dictionary
    bucket size instead; identical on non-degenerate data.)

    With ``dictionary`` and a ``stats`` dict, records
    ``stats["n_bridges"]``: the number of batch surfaces whose verified
    matches span MORE THAN ONE existing canonical group — exactly the
    cases where the grow-only contract diverges from a batch rebuild
    (the bridge links to its best-scoring group; the groups are not
    merged).  A climbing bridge count is the operational signal to
    schedule a periodic batch rebuild."""
    import logging

    m_sk, m_buckets = _surface_lsh(unknown.select(F.col("node").alias("surface")))
    # hot detection is confined to the buckets THIS batch touches (semi-
    # join on the tiny batch side): with the sizes side table the work is
    # one narrow columnar scan + an aggregate over touched buckets only;
    # the full-index group-by is just the fallback for pre-sizes KGs
    touched = m_buckets.select("band", "bucket").distinct()
    partials = (
        index_sizes
        if index_sizes is not None
        else dict_index.select("band", "bucket", F.lit(1).alias("n"))
    )
    hot = (
        partials.join(touched, ["band", "bucket"], "leftsemi")
        .groupBy("band", "bucket")
        .agg(F.sum("n").alias("n"))
        .where(F.col("n") > 64)
    )
    n_hot = hot.count()
    if n_hot:
        logging.getLogger(__name__).warning(
            "indexed_link: dropping %d hot index buckets (> 64 ids) — "
            "their members can only exact-match or form new groups", n_hot
        )
    cand = (
        m_buckets.select(F.col("id").alias("mention"), "band", "bucket")
        .join(hot.select("band", "bucket"), ["band", "bucket"], "left_anti")
        .join(
            dict_index.withColumnRenamed("surface", "dsurf"), ["band", "bucket"]
        )
        .where(
            F.substring_index(F.col("mention"), ":", 1)
            == F.substring_index(F.col("dsurf"), ":", 1)
        )
        .select("mention", "dsurf")
        .distinct()
    )
    d_sk = MH.char_shingles(
        cand.select(F.col("dsurf").alias("surface")).distinct(),
        "surface", "surface", k=3,
    )
    scored = MH.jaccard_verified_pairs(
        cand.select(F.col("mention").alias("a"), F.col("dsurf").alias("b")),
        m_sk.unionByName(d_sk),
        threshold,
    )
    if dictionary is not None and stats is not None:
        # no broadcast hint: 'scored' is bounded by the BATCH, but a
        # backfill-scale batch is exactly when a forced broadcast breaks —
        # AQE broadcasts it while it actually fits
        n_bridges = (
            scored
            .join(dictionary.withColumnRenamed("surface", "b"), "b")
            .groupBy("a")
            .agg(F.countDistinct("canonical").alias("k"))
            .where(F.col("k") > 1)
            .count()
        )
        stats["n_bridges"] = n_bridges
        if n_bridges:
            logging.getLogger(__name__).warning(
                "indexed_link: %d batch surface(s) bridge multiple existing "
                "canonical groups — each linked to its best-scoring group "
                "only (grow-only contract); schedule a batch rebuild to "
                "reconcile if this keeps climbing", n_bridges
            )
    return (
        scored.select(
            F.col("a").alias("mention"),
            F.col("b").alias("linked_entity"),
            F.col("jaccard").alias("score"),
        )
        .groupBy("mention")
        .agg(
            F.max_by(
                "linked_entity", F.struct("score", "linked_entity")
            ).alias("linked")
        )
    )


def link_entities_to_dictionary(entities: DataFrame, dictionary: DataFrame | None,
                                threshold: float = 0.70,
                                dict_index: DataFrame | None = None,
                                stats: dict | None = None,
                                index_sizes: DataFrame | None = None,
                                dict_size: int | None = None) -> DataFrame:
    """``(node, canonical, is_new)`` for every batch entity.

    Exact dictionary hits keep their canonical; near-matches (trigram
    jaccard >= threshold against any KNOWN surface of the SAME etype
    prefix, mirroring ``canonical_map``) adopt that surface's canonical;
    the rest form new intra-batch groups via the batch canonicalizer.
    ``is_new`` marks rows that must be appended to the dictionary (every
    previously-unseen surface, whatever it linked to).

    The dictionary side carries NO broadcast hint anywhere — it grows
    without bound, so forcing a broadcast would cap the module at the
    broadcast size limit.  The known-small sides (the per-batch ``best``
    link table) are hinted; the exact-hit join and the anti-join are left
    to AQE, which broadcasts the dictionary only while it actually fits
    and shuffle-joins once it doesn't.

    With ``dict_index`` (the persisted ``(surface, band, bucket)`` LSH
    index), candidate pairs come from joining the BATCH's band hashes
    against the index — per-batch shuffle work is O(batch + matches), and
    dictionary shingles are recomputed only for the matched candidate
    surfaces (semi-join-bounded).  The index uses the same hash family as
    the unindexed path, so both produce identical links.  Hot index
    buckets past ``max_bucket=64`` ids are dropped with a logged count,
    sized from ``index_sizes`` when given (no O(dictionary) aggregate),
    mirroring :func:`operators.minhash.candidate_pairs`.  ``dict_size``
    (from the manifest / size side table) skips the per-batch
    ``dictionary.count()`` job.
    """
    if dictionary is None:
        return canonical_map(entities, threshold=threshold).withColumn(
            "is_new", F.lit(True)
        )
    d = dictionary
    exact = (
        entities.join(d.withColumnRenamed("surface", "node"), "node")
        .select("node", "canonical", F.lit(False).alias("is_new"))
    )
    unknown = entities.join(
        d.select(F.col("surface").alias("node")), "node", "left_anti"
    ).localCheckpoint()
    # size-aware shuffle width for the linking LSH chain: per-batch linking
    # over a small dictionary is stage-scheduling latency at the session
    # width (the counts are cheap — unknown is checkpointed, and the
    # dictionary size comes from the size side table when available instead
    # of a per-batch count job)
    spark = entities.sparkSession
    if dict_size is None:
        dict_size = dictionary.count()
    n_small = unknown.count() + dict_size
    old_width = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(max(1, min(int(old_width), n_small // 50_000))),
    )
    try:
        if dict_index is not None:
            best = _indexed_link(unknown, dict_index, threshold,
                                 dictionary=dictionary, stats=stats,
                                 index_sizes=index_sizes)
        else:
            best = link_mentions(
                unknown.select(F.col("node").alias("mention")),
                dictionary.select(F.col("surface").alias("entity")),
                threshold=threshold,
                same_prefix=True,
            )
        linked = (
            # batch-side table, but batches can be backfill-scale: no forced
            # broadcast (AQE picks broadcast while it fits)
            best
            .join(d.withColumnRenamed("surface", "linked"), "linked")
            .select(
                F.col("mention").alias("node"), "canonical",
                F.lit(True).alias("is_new")
            )
            .localCheckpoint()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_width)
    leftover = unknown.join(linked.select("node"), "node", "left_anti")
    intra = canonical_map(leftover, threshold=threshold).withColumn(
        "is_new", F.lit(True)
    )
    return exact.unionByName(linked).unionByName(intra)


def construct_batch_incremental(spark: SparkSession, pages: DataFrame,
                                out_dir: str, batch_id: int,
                                n_buckets: int = 8,
                                threshold: float = 0.70) -> dict:
    """Fold one page batch into the KG at ``out_dir`` (see module doc)."""
    from pyspark import StorageLevel

    done = {
        (e["table"], e.get("batch"))
        for e in read_manifest(out_dir)
        if e["status"] == "done"
    }
    if {("kg_triples", batch_id), ("kg_labels", batch_id),
            ("kg_adjacency", batch_id)} <= done:
        return {"batch": batch_id, "skipped": True}

    # every persist is registered here and released in the finally block —
    # a mid-batch failure (e.g. a failed write before the stream retries)
    # must not leak cached blocks for the session, or replay retries
    # compound the leak
    persisted: list = []

    def _persist(df: DataFrame) -> DataFrame:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        persisted.append(df)
        return df

    try:
        # one extraction pass, one dedup shuffle for both fact kinds —
        # the SHARED helper with the batch pipeline (Spark's cache is
        # keyed by plan equality, so the lazy views hit the persisted set)
        facts_dedup, raw_triples, raw_labels = extract_facts_dedup(pages)
        facts_dedup = _persist(facts_dedup)
        facts_dedup.count()

        # every "existing state" read excludes THIS batch's own partitions: a
        # replayed batch (crash between table writes and the stream commit)
        # must see the KG exactly as the original attempt did, or the
        # anti-join would cancel its own half-written output and drop rows
        # for good
        dictionary = read_dictionary(spark, out_dir, exclude_batch=batch_id)
        dict_index = read_index(spark, out_dir, exclude_batch=batch_id)
        index_sizes = read_index_sizes(spark, out_dir, exclude_batch=batch_id)
        # dictionary size from the manifest's canon_dict rows — O(#batches)
        # on the driver, NO Spark job; falls back to a one-off sum over the
        # sizes partials for KGs whose manifests predate the rows
        dict_size = dict_size_from_manifest(out_dir, exclude_batch=batch_id)
        if dict_size is None and index_sizes is not None:
            total = index_sizes.agg(F.sum("n").alias("t")).collect()[0]["t"]
            dict_size = int(total or 0) // _BANDS
        link_stats: dict = {}
        canon = _persist(
            link_entities_to_dictionary(
                entity_vocabulary(raw_triples), dictionary, threshold=threshold,
                dict_index=dict_index, stats=link_stats,
                index_sizes=index_sizes, dict_size=dict_size,
            )
        )

        # the per-batch canonical map covers THIS batch's entities only
        # (batch-bounded), so the default broadcast hint is safe here —
        # unlike the grow-only dictionary, which is never hinted
        triples = apply_canonical_triples(raw_triples, canon.select("node", "canonical"))
        labels = apply_canonical_labels(raw_labels, canon.select("node", "canonical"))

        existing_triples, existing_labels = read_incremental_kg(spark, out_dir)
        if existing_triples is not None:
            existing_triples = existing_triples.where(F.col("batch") != batch_id)
            existing_labels = existing_labels.where(F.col("batch") != batch_id)
            triples = triples.join(
                existing_triples.select("subj", "pred", "obj"),
                ["subj", "pred", "obj"], "left_anti",
            )
            labels = labels.join(
                existing_labels.select("node", "label"), ["node", "label"], "left_anti"
            )
        # read by the eid numbering, the triples write and the adjacency write
        triples = _persist(triples)

        def _eid_triples() -> DataFrame:
            # edge ids continue the existing sequence
            eid_offset = 0
            if existing_triples is not None:
                max_eid = existing_triples.agg(F.max("eid").alias("m")).collect()[0]["m"]
                eid_offset = (max_eid if max_eid is not None else -1) + 1
            return (
                deterministic_dense_ids(triples, ["subj", "pred", "obj", "url"], "eid")
                .withColumn("eid", F.col("eid") + F.lit(eid_offset))
            )

        def _write_kg(name: str, df: DataFrame) -> dict:
            part = df.withColumn("batch", F.lit(batch_id)).repartition(
                n_buckets, F.col("bucket")
            )
            # per-bucket lineage counts ride the write itself as Observation
            # metrics — no follow-up count job / second scan per table
            return observed_bucket_counts(
                part, range(n_buckets),
                lambda obs_part: obs_part.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch", "bucket")
                .parquet(os.path.join(out_dir, name)),
            )

        def _append(df: DataFrame, table_dir: str, width: int) -> None:
            df.withColumn("batch", F.lit(batch_id)) \
                .repartition(width) \
                .write.mode("overwrite") \
                .option("partitionOverwriteMode", "dynamic") \
                .partitionBy("batch") \
                .parquet(os.path.join(out_dir, table_dir))

        # dictionary/index append width scales with the batch's NEW-surface
        # count: one file is right for today's incremental trickle, wrong for
        # a 10^8-entity backfill batch (a single write task + one giant
        # file).  The count materializes the persisted canon before the
        # concurrent writes below all read it.
        n_new_surfaces = canon.where("is_new").count()
        # uncapped by n_buckets: the KG bucket count is unrelated to append-
        # file sizing, and a 10^8-surface backfill batch NEEDS >8 files
        dict_width = max(1, n_new_surfaces // _DICT_ROWS_PER_FILE + 1)
        index_width = max(1, n_new_surfaces * _BANDS // _DICT_ROWS_PER_FILE + 1)
        new_dict = canon.where("is_new").select(
            F.col("node").alias("surface"), "canonical"
        )
        # extend the LSH index with the batch's new surfaces (same family),
        # so the NEXT batch's linking joins against it instead of re-hashing
        # the whole dictionary; the per-bucket size partials ride along so
        # later batches can size hot buckets (and the dictionary) without
        # scanning the index
        _, new_buckets = _surface_lsh(new_dict.select("surface"))
        new_buckets = _persist(
            new_buckets.select(F.col("id").alias("surface"), "band", "bucket")
        )
        new_sizes = new_buckets.groupBy("band", "bucket").agg(F.count("*").alias("n"))

        # the six writes share only persisted inputs, so they run as
        # concurrent jobs; the manifest rows below are appended only once
        # every write has finished, so a replay after any failure redoes
        # the whole batch
        kg_counts = run_concurrently(
            lambda: _write_kg("kg_triples", bucketed(_eid_triples(), "subj", n_buckets)),
            lambda: _write_kg("kg_labels", bucketed(labels, "node", n_buckets)),
            lambda: _write_kg("kg_adjacency",
                              bucketed(adjacency(triples), "node", n_buckets)),
            lambda: _append(new_dict, DICT_DIR, dict_width),
            lambda: _append(new_buckets, INDEX_DIR, index_width),
            lambda: _append(new_sizes, SIZES_DIR, index_width),
        )[:3]
        counts = dict(zip(("kg_triples", "kg_labels", "kg_adjacency"), kg_counts))

        for name in counts:
            for b in range(n_buckets):
                _append_manifest(out_dir, {
                    "table": name, "bucket": b, "batch": batch_id,
                    "n_rows": counts[name].get(b, 0), "status": "done",
                })
        # dictionary lineage: lets later batches derive the dictionary size
        # from the manifest alone (dict_size_from_manifest) — no Spark job
        _append_manifest(out_dir, {
            "table": "canon_dict", "batch": batch_id,
            "n_rows": n_new_surfaces, "status": "done",
        })
        n_new = sum(counts["kg_triples"].values())
        return {"batch": batch_id, "skipped": False, "new_triples": n_new,
                "n_bridges": link_stats.get("n_bridges", 0)}
    finally:
        for df in persisted:
            df.unpersist()


def run_incremental_construct(spark: SparkSession, input_dir: str, out_dir: str,
                              checkpoint_dir: str, n_buckets: int = 8,
                              threshold: float = 0.70,
                              max_files_per_trigger: int | None = None) -> list:
    """Fold all NEW page files into the KG once (AvailableNow) and stop.
    Returns the per-batch summaries."""
    results = []

    def sink(batch_df: DataFrame, batch_id: int):
        results.append(
            construct_batch_incremental(
                spark, batch_df, out_dir, int(batch_id),
                n_buckets=n_buckets, threshold=threshold,
            )
        )

    reader = spark.readStream.schema(PAGES_DDL)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    q = (
        reader.parquet(input_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return results
