"""MinHash-LSH blocking (X3) — generic near-duplicate candidate generation.

Used by stage-2 entity canonicalization (character shingles over surface
forms) and by document-level near-dedup (word shingles over document text).

Everything is JVM-side column expressions over one sketch row per id: the
shingle set as ``array_distinct(transform(sequence(...), substring))``, the
minhash signature as ``num_perm`` ``array_min`` folds of
``hash(shingle, seed)`` over that set (Murmur3 via ``hash`` with a
per-permutation int salt), banding via ``hash`` over signature slices.  No
Python in the hot path, deterministic across runs/partitionings.

Scale shape: the sketch is one ``distinct`` over (id, grams) rows, one per
id, and the signature is a projection of it.  One shuffle groups band
buckets; candidate pairs explode only within buckets (quadratic only in
bucket size, bounded by ``max_bucket`` to cap blowup from degenerate
buckets — the documented coverage loss is logged by callers).  Given a
``threshold``, :func:`candidate_pairs` verifies each pair's exact Jaccard
inside its bucket from the carried gram sets, so only verified pairs reach
the final ``distinct``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _sketch(df: DataFrame, id_col: str, grams: Column) -> DataFrame:
    """``(id, grams array<string>)``: one row per distinct id holding its
    distinct non-empty k-grams; ids without a gram are dropped.  The text
    is a function of the id in every caller, so ``distinct`` over the
    (id, grams) rows leaves one row per id."""
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.array_distinct(F.filter(grams, lambda g: F.length(g) > 0))
            .alias("grams"),
        )
        .where(F.size("grams") > 0)
        .distinct()
    )


def char_shingles(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """``(id, grams)``: the distinct character k-grams per id (JVM-side)."""
    grams = F.expr(
        f"transform(sequence(1, greatest(length({text_col}) - {k - 1}, 1)),"
        f" i -> substring({text_col}, i, {k}))"
    )
    return _sketch(df, id_col, grams)


def word_shingles(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """``(id, grams)``: the distinct lowercase word k-gram shingles per id."""
    grams = F.expr(
        f"transform(sequence(1, greatest(size(split(lower({text_col}), '\\\\s+')) - {k - 1}, 1)),"
        f" i -> concat_ws(' ', slice(split(lower({text_col}), '\\\\s+'), i, {k})))"
    )
    return _sketch(df, id_col, grams)


def minhash_signatures(sketch: DataFrame, num_perm: int = 32) -> DataFrame:
    """``(id, grams, sig array<int>)`` — a projection of the sketch:
    ``sig[p] = min(hash(g, p))`` over its grams, the same Murmur3 call with
    the same int salt per permutation."""
    sig = F.expr(
        f"transform(sequence(0, {num_perm - 1}),"
        " p -> array_min(transform(grams, g -> hash(g, p))))"
    )
    return sketch.select("id", "grams", sig.alias("sig"))


def lsh_buckets(signatures: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """``(id, band, bucket, ...)`` — one row per band; bucket = hash of the
    band's signature slice.  Every other column of ``signatures`` (the
    sketch's ``grams``) rides along; callers that do not read it get it
    pruned.

    All band hashes are computed in ONE projection and exploded — a union of
    per-band projections would make Catalyst re-execute the upstream
    sketch once per band (union children are independent
    subtrees; same pitfall as the pre-explode candidate generation)."""
    assert bands * rows_per_band <= 256
    entries = []
    for b in range(bands):
        lo = b * rows_per_band
        band_slice = F.slice(F.col("sig"), lo + 1, rows_per_band)
        entries.append(
            F.struct(
                F.lit(b).alias("band"),
                F.hash(band_slice.cast("array<int>")).alias("bucket"),
            )
        )
    rest = [c for c in signatures.columns if c not in ("id", "sig")]
    return (
        signatures.select("id", *rest, F.explode(F.array(*entries)).alias("bb"))
        .select("id", F.col("bb.band").alias("band"),
                F.col("bb.bucket").alias("bucket"), *rest)
    )


def candidate_pairs(buckets: DataFrame, max_bucket: int = 64,
                    drop_stats=None, threshold: float | None = None) -> DataFrame:
    """Distinct unordered id pairs ``(a, b)`` sharing any band bucket.
    Buckets larger than ``max_bucket`` are dropped (degenerate hot buckets).

    With a ``threshold``, ``buckets`` must carry each id's ``grams`` (as
    :func:`lsh_buckets` over :func:`minhash_signatures` does) and the result
    is the VERIFIED pairs ``(a, b, jaccard)`` with exact Jaccard >=
    ``threshold``: each pair is scored inside the bucket that proposes it,
    from the two gram sets the bucket already holds, so no candidate pair
    is shuffled to meet its shingles and the final ``distinct`` runs over
    verified pairs only.  The values equal :func:`jaccard_verified_pairs`'
    bit for bit (one shared :func:`_jaccard_where` expression).

    Hot buckets are sized and dropped BEFORE any per-bucket collection: a
    spill-safe window count over (band, bucket) tags every row with its
    bucket size (``WindowExec`` buffers partitions in a spillable row array),
    and only rows of surviving buckets reach ``collect_set`` — a
    ``collect_set``-then-filter would materialize a degenerate bucket's
    entire id set in one aggregation buffer first, which is exactly the
    executor-OOM this cap exists to prevent.  The window and the follow-up
    group-by share one hash partitioning on (band, bucket), so this is still
    a single shuffle.

    No silent caps: the drops are ALWAYS counted — pass a
    ``pyspark.sql.Observation`` as ``drop_stats`` (or read the one this
    function creates and attaches to the result as ``._drop_stats``) to get
    ``{"dropped_buckets": n, "dropped_ids": m}`` after the first action on
    the result.  The metrics ride the rows already flowing through the plan
    (``observe`` adds NO extra job or shuffle, unlike a second count, which
    would re-run the whole upstream pipeline at 100 TB).
    :func:`log_drop_stats` turns the observation (or the carrying
    DataFrame) into a log line once the query has run."""
    from pyspark.sql import Observation
    from pyspark.sql.window import Window

    if drop_stats is None:
        drop_stats = Observation()
    wp = Window.partitionBy("band", "bucket").orderBy("id")
    sized = buckets.select(
        "id", "band", "bucket", *(["grams"] if threshold is not None else []),
        F.count("*").over(
            wp.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("n"),
        F.row_number().over(wp).alias("rn"),
    )
    hot = F.col("n") > max_bucket
    sized = sized.observe(
        drop_stats,
        F.coalesce(
            F.sum((hot & (F.col("rn") == 1)).cast("long")), F.lit(0)
        ).alias("dropped_buckets"),
        F.coalesce(F.sum(hot.cast("long")), F.lit(0)).alias("dropped_ids"),
    )
    ok = (
        sized.where((F.col("n") >= 2) & (F.col("n") <= max_bucket))
        .groupBy("band", "bucket")
    )
    if threshold is None:
        members = ok.agg(F.collect_set("id").alias("ms"))
        pair = "struct(least(x, y) as a, greatest(x, y) as b)"
    else:
        members = ok.agg(F.collect_set(F.struct("id", "grams")).alias("ms"))
        pair = ("struct(least(x.id, y.id) as a, greatest(x.id, y.id) as b,"
                " x.grams as ga, y.grams as gb)")
    pairs = members.select(
        F.explode(
            F.expr(
                "flatten(transform(ms, (x, i) ->"
                f" transform(slice(ms, i + 2, size(ms)), y -> {pair})))"
            )
        ).alias("p")
    ).select("p.*")
    if threshold is not None:
        pairs = _jaccard_where(pairs, threshold)
    pairs = pairs.distinct()
    pairs._drop_stats = drop_stats
    return pairs


def log_drop_stats(observation, context: str) -> dict:
    """Log (and return) the drop metrics captured by an ``Observation``
    passed to a capped candidate-generation path — or by the DataFrame a
    capped path returned (every one carries its observation as
    ``._drop_stats``).  Call AFTER an action has run on the returned
    DataFrame (``Observation.get`` blocks until then)."""
    import logging

    observation = getattr(observation, "_drop_stats", observation)
    try:
        got = dict(observation.get)
    except Exception as exc:
        # a degenerate input can let AQE's empty-relation propagation prune
        # the CollectMetrics node — the observation row then never
        # materializes and PySpark's JVM-side fetch raises EXACTLY
        # "toPyRow ... java.lang.AssertionError: assertion failed"
        # (signature reproduced under spark 4.1.2 with the engine-wide
        # AQEPropagateEmptyRelation exclusion lifted).  Nothing flowed, so
        # nothing was dropped.  ONLY that signature stays at debug — a
        # looser match (any "assert"/"IllegalState" substring) would
        # swallow real failures like a stopped-SparkContext
        # IllegalStateException; anything else (py4j connection loss, get
        # before any action, ...) is a REAL failure of the drop-accounting
        # contract and must stay visible, so it logs at warning with the
        # exception text.
        msg = str(exc)
        collapsed = "toPyRow" in msg and "AssertionError" in msg
        log = logging.getLogger(__name__)
        if collapsed:
            log.debug(
                "%s: drop observation unavailable (plan collapsed on a "
                "degenerate input); treating as zero drops", context)
        else:
            log.warning(
                "%s: drop observation FAILED (%s: %s) — drop accounting "
                "for this run is unknown, not zero",
                context, type(exc).__name__, msg.splitlines()[0] if msg else "")
        return {}
    if got.get("dropped_buckets"):
        logging.getLogger(__name__).warning(
            "%s: dropped %d hot buckets (%d id occurrences) over max_bucket — "
            "pairs confined to those buckets are not reported",
            context, got["dropped_buckets"], got["dropped_ids"],
        )
    return got


def _jaccard_where(pairs: DataFrame, threshold: float) -> DataFrame:
    """``(a, b, jaccard)`` for the rows of ``pairs`` (columns ``a, b`` and
    the gram sets ``ga, gb``) that share a gram and reach ``threshold``.
    The counts are longs and the quotient a double division, as in a
    shingle-row ``count(*)`` join, so every value keeps its bits."""
    n_inter = F.size(F.array_intersect("ga", "gb")).cast("long")
    n_union = F.size("ga").cast("long") + F.size("gb").cast("long") - n_inter
    return (
        pairs.select("a", "b", n_inter.alias("n_inter"),
                     (n_inter / n_union).alias("jaccard"))
        .where((F.col("n_inter") > 0) & (F.col("jaccard") >= threshold))
        .select("a", "b", "jaccard")
    )


def jaccard_verified_pairs(pairs: DataFrame, sketch: DataFrame,
                           threshold: float) -> DataFrame:
    """Exact-Jaccard filter over candidate pairs: |∩|/|∪| >= threshold,
    ``(a, b, jaccard)``.  Each pair meets its two gram sets by an id join
    against the ``(id, grams)`` sketch — one row per id, not per shingle."""
    grams = sketch.select("id", "grams")
    return _jaccard_where(
        pairs.select("a", "b")
        .join(grams.select(F.col("id").alias("a"), F.col("grams").alias("ga")), "a")
        .join(grams.select(F.col("id").alias("b"), F.col("grams").alias("gb")), "b"),
        threshold,
    )
