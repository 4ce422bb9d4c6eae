"""Document-level deduplication operators (training-data pipeline ops).

* exact dedup — see :func:`kgist_spark.operators.text.exact_dup_groups`
* n-gram Jaccard near-dup — exact pairwise similarity over word shingles
  (SQL-expressible; quadratic only within shared-shingle groups)
* MinHash-LSH near-dup — :mod:`kgist_spark.operators.minhash` pipeline
* SimHash — 60-bit md5-based sign-sum fingerprints, pure JVM column
  expressions (SQL-oracle-able); near-dup candidates = identical band
  slices of the fingerprint
* embedding near-dup — cosine threshold over hyperplane-LSH buckets
  (:mod:`kgist_spark.operators.similarity`)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgist_spark.operators import minhash as MH
from kgist_spark.operators.text import tokens


def fan_out_scan(docs: DataFrame) -> DataFrame:
    """A small-file corpus arrives as ONE scan partition, serializing the
    per-document shingle/token explosion — the expensive stage of every
    dedup path — on a single core.  Fan the scan out to the session's
    parallelism first.  Conditional on the probe: a real (wide) corpus scan
    passes through untouched, so no shuffle is ever added at scale."""
    sc = docs.sparkSession.sparkContext
    target = sc.defaultParallelism
    if docs.rdd.getNumPartitions() >= target:
        return docs
    return docs.repartition(target)


def _shingle_rows(sketch: DataFrame) -> DataFrame:
    """``(id, shingle)``: one row per gram of a
    :func:`kgist_spark.operators.minhash.word_shingles` sketch, for the
    paths that join on individual shingles."""
    return sketch.select("id", F.explode("grams").alias("shingle"))


def ngram_jaccard_pairs(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                        k: int = 5, threshold: float = 0.4,
                        df_cap: int | None = 1000, drop_stats=None) -> DataFrame:
    """Exact word-k-gram Jaccard over all pairs sharing >= 1 shingle.

    ``df_cap`` bounds candidate generation: shingles appearing in more than
    ``df_cap`` documents are dropped from CANDIDATE GENERATION only (each
    contributes O(df^2) pair rows — the classic hot-key blowup of a skewed
    corpus boilerplate shingle).  Verification always uses the FULL shingle
    sets, so reported jaccard values are exact regardless; the only possible
    loss is a pair whose every shared shingle is hot.  ``None`` disables the
    cap (full shingle self-join; no grouped collection of a potentially
    unbounded posting list).

    Candidate generation with a cap reuses the size-capped
    :func:`kgist_spark.operators.minhash.candidate_pairs` with the shingle
    itself as the bucket key — hot shingles are sized and dropped by a
    spill-safe window count BEFORE any per-shingle collection, and the drop
    accounting rides an optional ``Observation`` (``drop_stats``) on the rows
    already flowing through the plan: NO eager pre-action job scans the
    shingle table just to log a count (at 100 TB that job re-reads the whole
    corpus).  Surface the loss with
    :func:`kgist_spark.operators.minhash.log_drop_stats` after an action."""
    sk = MH.word_shingles(fan_out_scan(docs.select(id_col, text_col)), id_col, text_col, k=k)
    sh = _shingle_rows(sk)
    if df_cap is not None:
        buckets = sh.select(
            "id", F.lit(0).alias("band"), F.col("shingle").alias("bucket")
        )
        pairs = MH.candidate_pairs(buckets, max_bucket=df_cap, drop_stats=drop_stats)
    else:
        pairs = (
            sh.alias("x")
            .join(sh.alias("y"), "shingle")
            .where(F.col("x.id") < F.col("y.id"))
            .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
            .distinct()
        )
    out = MH.jaccard_verified_pairs(pairs, sk, threshold)
    # drops are never silent: the capped path's observation travels with the
    # result (see candidate_pairs) for log_drop_stats after any action
    out._drop_stats = getattr(pairs, "_drop_stats", None)
    return out


def minhash_neardup_pairs(docs: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", k: int = 5, num_perm: int = 32,
                          bands: int = 8, threshold: float = 0.4,
                          drop_stats=None) -> DataFrame:
    """MinHash-LSH blocking + exact-Jaccard verification (the scale path —
    candidate pairs come from band buckets, not a full shingle self-join).
    ``drop_stats``: optional ``Observation`` counting hot-bucket drops (no
    silent caps — see :func:`kgist_spark.operators.minhash.candidate_pairs`)."""
    sk = MH.word_shingles(fan_out_scan(docs.select(id_col, text_col)), id_col, text_col, k=k)
    sigs = MH.minhash_signatures(sk, num_perm=num_perm)
    buckets = MH.lsh_buckets(sigs, bands=bands, rows_per_band=num_perm // bands)
    pairs = MH.candidate_pairs(buckets, drop_stats=drop_stats)
    out = MH.jaccard_verified_pairs(pairs, sk, threshold)
    out._drop_stats = getattr(pairs, "_drop_stats", None)
    return out


def neardup_keep_table(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", k: int = 5,
                       num_perm: int = 32, bands: int = 8,
                       threshold: float = 0.4, drop_stats=None) -> DataFrame:
    """The dedup DECISION table — ``(doc_id, keep_id, is_dup)`` for every
    document: near-duplicate pairs (MinHash-LSH blocked, exact-jaccard
    verified) are closed into clusters by distributed connected components,
    and each cluster keeps its minimum id.  ``is_dup`` rows are what a
    training-data pipeline filters out; ``keep_id`` gives the lineage of
    WHY (which retained document shadowed it).

    Scale shape: the pair graph is near-dup-sparse (|pairs| << |docs|), so
    the component computation runs on the tiny pair graph only; the final
    assembly is ONE left join of the corpus against the (node, component)
    table.  No driver collect beyond the components' convergence probes."""
    from kgist_spark.operators.components import connected_components

    # materialize the (near-dup-sparse) pair set ONCE: connected_components
    # issues several actions (size probe, driver collect / convergence
    # probes), and without the cut each would re-run the whole
    # shingle→minhash→bucket→verify pipeline
    raw_pairs = minhash_neardup_pairs(
        docs, id_col=id_col, text_col=text_col, k=k, num_perm=num_perm,
        bands=bands, threshold=threshold, drop_stats=drop_stats,
    )
    pairs = raw_pairs.localCheckpoint()
    # the checkpoint was an action, so the drop observation is ready —
    # surface any hot-bucket loss right here (no extra job)
    MH.log_drop_stats(raw_pairs, "neardup_keep_table")
    comp = connected_components(pairs.select("a", "b"), "a", "b")
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("keep_id"),
        )
        .withColumn("is_dup", F.col("keep_id") != F.col("doc_id"))
    )


#: hash bits per SimHash fingerprint.  60 (not 64) so the per-token hash is
#: the first 15 hex digits of md5 — a POSITIVE int64 in every engine, which
#: lets an ANSI-SQL oracle (DuckDB) reproduce the fingerprints exactly
#: without unsigned/wrapping arithmetic.  Fingerprints still ship as int64.
SIMHASH_BITS = 60


def simhash64(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """SimHash fingerprints (``SIMHASH_BITS`` sign-sum bits packed into an
    int64) — entirely JVM column expressions, no Python anywhere:

    * tokens: lowercase whitespace split (empty tokens dropped);
    * per-token 60-bit hash: ``conv(substr(md5(tok), 1, 15), 16, 10)`` —
      md5 is identical across engines, so a SQL oracle can replay it;
    * one grouped aggregation computes all 60 signed bit-sums map-side
      (exactly like the minhash signature aggregation), then the
      fingerprint is packed from the sum signs.

    Physical shape at scale: explode tokens -> hash -> partial+final hash
    aggregate on the doc key.  One shuffle, whole-stage codegen throughout.
    """
    tok = (
        fan_out_scan(docs).select(
            F.col(id_col),
            F.explode_outer(
                F.filter(
                    F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != ""
                )
            ).alias("tok"),
        )
        .withColumn(
            "hv", F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
        )
    )
    sums = [
        F.sum(
            F.when(F.col("hv").isNull(), F.lit(0)).otherwise(
                F.shiftrightunsigned(F.col("hv"), b).bitwiseAND(F.lit(1)) * 2 - 1
            )
        ).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = tok.groupBy(id_col).agg(*sums)
    fp = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return agg.select(F.col(id_col), fp.cast("long").alias("simhash"))


def simhash_candidates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                       bands: int = 4, drop_stats=None) -> DataFrame:
    """Near-dup candidate pairs: documents sharing any 15-bit band of their
    SimHash (classic rotate-and-block scheme).  ``drop_stats``: optional
    ``Observation`` counting hot-bucket drops (no silent caps)."""
    fp = simhash64(docs, id_col, text_col)
    width = SIMHASH_BITS // bands
    # one exploded projection — a per-band union of projections would
    # re-execute the whole SimHash aggregation once per band
    entries = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned(F.col("simhash"), b * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("bucket"),
        )
        for b in range(bands)
    ]
    buckets = (
        fp.select(F.col(id_col).alias("id"), F.explode(F.array(*entries)).alias("bb"))
        .select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    )
    return MH.candidate_pairs(buckets, drop_stats=drop_stats)


def _pair_schema(embeddings: DataFrame, id_col: str):
    """Output schema derived from the input id dtype (works for long AND
    string ids — the ids are only compared, never cast)."""
    from pyspark.sql import types as T

    id_type = embeddings.schema[id_col].dataType
    return T.StructType([
        T.StructField("id_a", id_type),
        T.StructField("id_b", id_type),
        T.StructField("cosine", T.DoubleType()),
    ])


def _bucket_pairs_kernel(id_col: str, vec_col: str, threshold: float,
                         max_bucket: int | None, block: int = 2048,
                         block_col: str | None = None,
                         cell_cols: tuple[str, str] | None = None):
    """applyInPandas kernel: exact pairwise cosine within ONE group, emitted
    as ``(id_a, id_b, cosine)`` with ``id_a < id_b``.  The group matrix is
    multiplied in row blocks (one BLAS GEMM per block) so peak memory is
    O(block x group), not O(group^2).  Groups over ``max_bucket`` rows are
    dropped (degenerate hot buckets; the documented coverage loss of the LSH
    path — ``None`` disables the cap for the exact path).

    :block_col: + :cell_cols: when set, the group is the (bi, bj) cell of a
        triangle block-pair decomposition, identified by the GROUP KEY columns
        ``cell_cols``.  Off-diagonal cells (bi != bj) emit only CROSS-block
        pairs — same-block pairs belong to the diagonal cell — so every pair
        is produced exactly once across the grid.  Diagonal-ness MUST come
        from the key, never from which blocks happen to be present: an
        off-diagonal cell whose partner block is empty contains rows from one
        block only, and treating it as a diagonal cell would re-emit that
        block's internal pairs once per empty partner."""
    import numpy as np

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        empty = pd.DataFrame({"id_a": pdf[id_col][:0], "id_b": pdf[id_col][:0],
                              "cosine": pd.Series([], dtype="float64")})
        if n < 2:
            return empty
        if max_bucket is not None and n > max_bucket:
            # no silent caps: a dropped hot group emits ONE null-id marker row
            # carrying its size, which the caller observes (zero extra jobs)
            # and filters out before returning pairs
            return pd.DataFrame({"id_a": pd.Series([None], dtype="object"),
                                 "id_b": pd.Series([None], dtype="object"),
                                 "cosine": pd.Series([float(n)], dtype="float64")})
        ids = pdf[id_col].to_numpy()
        mat = np.array(list(pdf[vec_col]), dtype=np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        cross_only = False
        if block_col is not None:
            blks = pdf[block_col].to_numpy()
            cross_only = pdf[cell_cols[0]].iat[0] != pdf[cell_cols[1]].iat[0]
        frames = []
        for lo in range(0, n, block):
            hi = min(lo + block, n)
            sims = np.round(
                (mat[lo:hi] @ mat.T) / np.outer(norms[lo:hi], norms), 5
            )
            mask = (sims >= threshold) & (ids[lo:hi, None] < ids[None, :])
            if cross_only:
                mask &= blks[lo:hi, None] != blks[None, :]
            ii, jj = np.nonzero(mask)
            if len(ii):
                frames.append(pd.DataFrame({
                    "id_a": ids[lo:hi][ii], "id_b": ids[jj],
                    "cosine": sims[ii, jj],
                }))
        return pd.concat(frames) if frames else empty

    return kernel


def embedding_neardup_pairs(embeddings: DataFrame, threshold: float = 0.4,
                            id_col: str = "vec_id", vec_col: str = "embedding",
                            exact_threshold: int = 100_000) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: ``(id_a, id_b, cosine)`` for
    ``id_a < id_b`` and cosine >= threshold.

    Physical strategy, chosen by a bounded row probe (the same size-based
    judgment Catalyst makes for broadcast joins):

    * **<= exact_threshold rows** — exact all-pairs via ONE grouped BLAS
      block-multiply on an executor (``applyInPandas`` with a constant
      group key).  Nothing is ever collected to the driver.
    * **larger** — :func:`embedding_neardup_pairs_lsh`: the identical kernel
      run WITHIN banded hyperplane-LSH buckets, so the self-join is blocked,
      not all-pairs O(N^2).  Candidate recall is tunable via
      (bits_per_band, bands); in-bucket cosines are exact, so reported pairs
      are always true positives.
    """
    probe = embeddings.limit(exact_threshold + 1).count()
    if probe <= exact_threshold:
        return _exact_pairs_triangle(embeddings, threshold, id_col, vec_col)
    return embedding_neardup_pairs_lsh(
        embeddings, threshold=threshold, id_col=id_col, vec_col=vec_col
    )


def _exact_pairs_triangle(embeddings: DataFrame, threshold: float,
                          id_col: str, vec_col: str,
                          n_blocks: int = 8) -> DataFrame:
    """Exact all-pairs cosine via the triangle block-pair decomposition: each
    vector hashes to one of ``n_blocks`` blocks and is replicated into the
    ``n_blocks`` grid cells its block participates in; each (bi <= bj) cell
    runs the BLAS kernel (cross-block pairs only off the diagonal), so every
    pair is computed exactly once across B(B+1)/2 parallel tasks.  The
    replication factor is B — the standard space/parallelism trade of a
    distributed self-join; no driver collect anywhere."""
    blk = F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks))
    tagged = embeddings.select(F.col(id_col), F.col(vec_col), blk.alias("_blk"))
    cells = tagged.select(
        id_col, vec_col, "_blk",
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("_other"),
    ).select(
        id_col, vec_col, "_blk",
        F.least("_blk", "_other").alias("_bi"),
        F.greatest("_blk", "_other").alias("_bj"),
    )
    kernel = _bucket_pairs_kernel(id_col, vec_col, threshold,
                                  max_bucket=None, block_col="_blk",
                                  cell_cols=("_bi", "_bj"))
    return (
        cells.groupBy("_bi", "_bj")
        .applyInPandas(kernel, _pair_schema(embeddings, id_col))
    )


def embedding_neardup_pairs_lsh(embeddings: DataFrame, threshold: float = 0.4,
                                id_col: str = "vec_id", vec_col: str = "embedding",
                                bits_per_band: int = 8, bands: int = 16,
                                seed: int = 7, max_bucket: int = 4096,
                                drop_stats=None) -> DataFrame:
    """Scale path: exact-cosine pairs within banded hyperplane-LSH buckets.

    Each vector lands in ``bands`` buckets (one per band of ``bits_per_band``
    sign bits); the exact BLAS kernel runs per (band, bucket) group and the
    per-band results are deduplicated.  A pair is found iff its signatures
    agree on at least one full band: recall for cosine s is
    ``1 - (1 - p^r)^L`` with ``p = 1 - acos(s)/pi`` — at the defaults
    (r=8, L=16) that is ~0.98 for s=0.85 and falls off toward the threshold;
    raise ``bands`` (more shuffle volume) or lower ``bits_per_band`` (bigger
    buckets) for recall closer to the decision boundary.  Buckets larger
    than ``max_bucket`` are dropped (hot-bucket cap — same policy as
    :func:`kgist_spark.operators.minhash.candidate_pairs`); pass an
    ``Observation`` as ``drop_stats`` to count the loss with no extra job
    (:func:`kgist_spark.operators.minhash.log_drop_stats` logs it after the
    first action on the result).

    No driver collect and no all-pairs product anywhere: one pandas-UDF
    projection for signatures, one explode (vector duplicated ``bands``
    times into the shuffle — the standard LSH space/recall trade), one
    grouped kernel, one distinct.
    """
    from kgist_spark.operators.similarity import banded_hyperplane_buckets

    bucketed = banded_hyperplane_buckets(
        embeddings, id_col=id_col, vec_col=vec_col,
        bits_per_band=bits_per_band, bands=bands, seed=seed,
    )
    kernel = _bucket_pairs_kernel(id_col, vec_col, threshold, max_bucket=max_bucket)
    out = bucketed.groupBy("band", "bucket").applyInPandas(
        kernel, _pair_schema(embeddings, id_col)
    )
    # no silent caps: each dropped hot group emitted one null-id marker row
    # carrying its size; observe them ALWAYS (zero extra jobs — the metrics
    # ride the rows already flowing past this node), then filter before
    # distinct; the observation travels on the result as ._drop_stats
    from pyspark.sql import Observation

    if drop_stats is None:
        drop_stats = Observation()
    dropped = F.col("id_a").isNull()
    out = out.observe(
        drop_stats,
        F.coalesce(F.sum(dropped.cast("long")), F.lit(0)).alias("dropped_buckets"),
        F.coalesce(
            F.sum(F.when(dropped, F.col("cosine")).otherwise(0.0)).cast("long"),
            F.lit(0),
        ).alias("dropped_ids"),
    )
    out = out.where(F.col("id_a").isNotNull()).distinct()
    out._drop_stats = drop_stats
    return out


def neardup_keep_best(docs: DataFrame, weight_col: str, id_col: str = "doc_id",
                      text_col: str = "text", k: int = 5,
                      num_perm: int = 32, bands: int = 8,
                      threshold: float = 0.4, drop_stats=None) -> DataFrame:
    """Dedup decision table that keeps the BEST copy per near-dup cluster —
    highest ``weight_col`` (e.g. length or a quality score), ties broken by
    minimum id — instead of :func:`neardup_keep_table`'s min-id keeper.
    Real pipelines keep the longest/cleanest duplicate, not an arbitrary
    one; the weight must be deterministic for the decision to replay.

    Scale shape: identical to :func:`neardup_keep_table` (the pair graph is
    near-dup-sparse, components run on pairs only) plus ONE window pass
    over cluster MEMBERS — O(clustered docs), a vanishing fraction of the
    corpus — to pick each cluster's argmax; the final assembly is one left
    join of the corpus against the (doc, keeper) table."""
    from pyspark.sql.window import Window

    from kgist_spark.operators.components import connected_components

    raw_pairs = minhash_neardup_pairs(
        docs, id_col=id_col, text_col=text_col, k=k, num_perm=num_perm,
        bands=bands, threshold=threshold, drop_stats=drop_stats,
    )
    pairs = raw_pairs.localCheckpoint()
    MH.log_drop_stats(raw_pairs, "neardup_keep_best")
    comp = connected_components(pairs.select("a", "b"), "a", "b")
    members = comp.withColumnRenamed("node", "doc_id").join(
        docs.select(F.col(id_col).alias("doc_id"), F.col(weight_col).alias("_w")),
        "doc_id",
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("_w"), F.asc("doc_id")
    )
    keeper = (
        members.withColumn("_rn", F.row_number().over(w))
        .where("_rn = 1")
        .select("component", F.col("doc_id").alias("best_id"))
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .join(keeper, "component", "left")
        .select(
            "doc_id",
            F.coalesce("best_id", "doc_id").alias("keep_id"),
        )
        .withColumn("is_dup", F.col("keep_id") != F.col("doc_id"))
    )


def dup_ngram_stats(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", n: int = 5,
                    frac_scale: int = 1_000_000) -> DataFrame:
    """Per-document repeated-n-gram statistics (Lee et al., ACL 2022,
    "Deduplicating Training Data Makes Language Models Better", the ExactSubstr
    signal re-expressed over word n-grams): for every document, how many of
    its n-gram windows also occur in at least one OTHER document.

    ``(id_col, n_grams, n_dup_grams, dup_frac_x1e6)`` — one row per document
    that has at least one window (>= n tokens); ``dup_frac_x1e6`` is the
    integer-truncated fraction ``n_dup_grams * frac_scale / n_grams`` (both
    engines truncate positive integer division identically, so the row is
    hash-comparable without float-order risk).

    100 TB shape: windows are built IN-ROW (one ``transform`` over a token
    index sequence — no self-join, no Python), keyed by their md5 so the
    gram shuffle moves 32-byte keys instead of n-word strings.  Two
    aggregations: (1) distinct (gram, doc) pairs -> per-gram distinct-doc
    counts (map-side partials; the distinct collapses a document's internal
    repetitions BEFORE the global shuffle), (2) the per-document rollup.
    The gram->count join is AQE-sized, never forced broadcast (the gram
    table is corpus-scale).  Suffix-array ExactSubstr finds arbitrary-length
    matches; the fixed-n window trades that generality for an all-JVM
    two-shuffle plan, the standard scale approximation.
    """
    t = tokens(text_col)
    grams = F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.md5(F.concat_ws(" ", F.slice(t, i, n))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = fan_out_scan(docs).select(
        F.col(id_col), F.explode(grams).alias("g")
    )
    # distinct-doc count per gram; the (g, doc) distinct is the map-side
    # collapse that keeps a million-fold internal repetition from shuffling
    gcnt = (
        exploded.select("g", id_col).distinct()
        .groupBy("g")
        .agg(F.count("*").alias("nd"))
    )
    return (
        exploded.join(gcnt, "g")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum((F.col("nd") > 1).cast("long")).alias("n_dup_grams"),
        )
        .select(
            id_col,
            "n_grams",
            "n_dup_grams",
            # integer DIV: truncating on these (non-negative) operands in
            # both engines, so no float ever enters the row
            F.expr(f"n_dup_grams * {frac_scale} DIV n_grams")
            .cast("long")
            .alias("dup_frac_x1e6"),
        )
    )


def dup_spans(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text", n: int = 5,
              min_docs: int = 2) -> DataFrame:
    """Maximal duplicated-substring spans — the CUT LIST of Lee et al.
    (ACL 2022) ExactSubstr deduplication, the step :func:`dup_ngram_stats`
    stops short of: not "how duplicated is this document" but WHERE the
    duplicated substrings sit, so a curation pass can excise the spans and
    keep the unique remainder (the paper's finding: cutting substrings
    beats dropping whole documents).

    A window = ``n`` consecutive whitespace tokens; a window is duplicated
    when its gram occurs in at least ``min_docs`` DISTINCT documents (the
    cross-document semantics of :func:`dup_ngram_stats` — in-document
    repetition alone never marks a span).  Overlapping or token-adjacent
    duplicated windows (consecutive start positions ``<= n`` apart) merge
    into one maximal span.  Output: one row per span,
    ``(id_col, span_start, span_end, n_windows)`` with 1-based inclusive
    token positions — every column integer, so the row is hash-comparable
    without float risk.

    100 TB shape: windows are built IN-ROW (one ``transform`` over a token
    index sequence, md5 keys so the gram shuffle moves 32-byte keys); the
    duplicated-gram set comes from the same distinct-(gram, doc) collapse +
    grouped count as `dup_ngram_stats` (map-side partials) and reaches the
    position table through an AQE-sized inner join (never forced broadcast
    — the gram table is corpus-scale); span merging is ONE window pass
    partitioned by document (state bounded by a document's own window
    count, never corpus size).  Suffix arrays find arbitrary-length
    matches; the fixed-n window trades that generality for an all-JVM
    three-shuffle plan — the standard scale approximation.
    """
    from pyspark.sql.window import Window

    t = tokens(text_col)
    grams = F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.md5(F.concat_ws(" ", F.slice(t, i, n))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pos = (
        fan_out_scan(docs)
        .select(F.col(id_col), F.posexplode(grams).alias("p0", "g"))
        # posexplode is 0-based; spans report the 1-based slice positions
        .select(id_col, (F.col("p0") + 1).cast("long").alias("p"), "g")
    )
    dup_grams = (
        pos.select("g", id_col).distinct()
        .groupBy("g")
        .agg(F.count("*").alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("g")
    )
    dup = pos.join(dup_grams, "g").select(id_col, "p")
    w = Window.partitionBy(id_col).orderBy("p")
    isl = (
        dup
        # first window of a doc has NULL lag -> NOT <= n -> opens island 1
        .withColumn(
            "brk",
            F.when(F.col("p") - F.lag("p").over(w) <= n, F.lit(0))
            .otherwise(F.lit(1)),
        )
        .withColumn(
            "island",
            F.sum("brk").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    return (
        isl.groupBy(id_col, "island")
        .agg(
            F.min("p").alias("span_start"),
            (F.max("p") + (n - 1)).cast("long").alias("span_end"),
            F.count("*").alias("n_windows"),
        )
        .select(id_col, "span_start", "span_end", "n_windows")
    )


def containment_pairs(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", k: int = 5,
                      threshold_x1e6: int = 800_000,
                      df_cap: int | None = 1000, drop_stats=None) -> DataFrame:
    """Shingle CONTAINMENT pairs — the asymmetric near-dup signal Jaccard
    misses (Broder 1997's other resemblance measure): a short document
    quoted whole inside a long one has containment ~1 but Jaccard
    ~|short|/|long| ~ 0, so quote/boilerplate/wrapper detection needs
    ``|A∩B| / min(|A|, |B|)``, not intersection-over-union.  Emits
    ``(a, b, contained_id, n_inter, na, nb, cont_x1e6)`` for pairs at or
    above ``threshold_x1e6`` (integer fixed-point — truncating DIV of
    non-negative counts, hash-comparable); ``contained_id`` is the
    smaller-set side (ties to ``a``), the document a curation pass would
    drop as subsumed.

    Same substrate and discipline as :func:`ngram_jaccard_pairs`:
    candidates from the df-capped shingle table (hot boilerplate shingles
    sized and dropped spill-safely BEFORE any collection, drops riding the
    optional ``drop_stats`` Observation), verification over the FULL
    shingle sets so reported containment is exact regardless of the cap."""
    sh = _shingle_rows(MH.word_shingles(
        fan_out_scan(docs.select(id_col, text_col)), id_col, text_col, k=k
    ))
    if df_cap is not None:
        buckets = sh.select(
            "id", F.lit(0).alias("band"), F.col("shingle").alias("bucket")
        )
        pairs = MH.candidate_pairs(buckets, max_bucket=df_cap,
                                   drop_stats=drop_stats)
    else:
        pairs = (
            sh.alias("x")
            .join(sh.alias("y"), "shingle")
            .where(F.col("x.id") < F.col("y.id"))
            .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
            .distinct()
        )
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    inter = (
        pairs.join(sh.select(F.col("id").alias("a"), "shingle"), "a")
        .join(sh.select(F.col("id").alias("b"), "shingle"), ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_inter"))
    )
    na = sizes.select(F.col("id").alias("a"), F.col("n_sh").alias("na"))
    nb = sizes.select(F.col("id").alias("b"), F.col("n_sh").alias("nb"))
    out = (
        inter.join(na, "a")
        .join(nb, "b")
        .withColumn(
            "cont_x1e6",
            F.expr("n_inter * 1000000 DIV least(na, nb)").cast("long"),
        )
        .where(F.col("cont_x1e6") >= threshold_x1e6)
        .select(
            "a", "b",
            F.when(F.col("na") <= F.col("nb"), F.col("a"))
            .otherwise(F.col("b")).alias("contained_id"),
            "n_inter", "na", "nb", "cont_x1e6",
        )
    )
    out._drop_stats = getattr(pairs, "_drop_stats", None)
    return out


#: winnowing defaults: k-token grams, window of w consecutive gram hashes.
#: The guarantee (Schleimer et al., SIGMOD 2003): any token run of length
#: >= WIN_W + WIN_K - 1 shared by two documents shares at least one
#: selected fingerprint — pinned by test.
WIN_K = 5
WIN_W = 4


def _winnow_select_expr(w: int) -> str:
    """The in-row winnowing selection over a ``hs`` (array<long> gram-hash)
    column: for each window of ``w`` consecutive hashes pick the MINIMUM,
    ties to the RIGHTMOST position (the paper's rule — it maximizes the
    chance adjacent windows reselect the same fingerprint, shrinking the
    density), emitted as distinct ``(pos, fp)`` structs.  Documents with
    fewer than ``w`` grams get ONE window covering all of them."""
    wl = f"least({w}, size(hs))"
    m = f"array_min(slice(hs, i, {wl}))"
    return (
        "CASE WHEN size(hs) >= 1 THEN array_distinct(transform("
        f"  sequence(1, greatest(size(hs) - {w} + 1, 1)),"
        f"  i -> CAST(i - 1 + array_max(filter(sequence(1, {wl}),"
        f"         j -> element_at(hs, i + j - 1) = {m})) AS BIGINT)"
        f"       * 4294967296 + {m}"
        ")) ELSE CAST(array() AS array<bigint>) END"
    )


def winnow_fingerprints(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = WIN_K,
                        w: int = WIN_W, min_docs: int = 2) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): per document, hash every ``k``-token
    gram, slide a window of ``w`` consecutive hashes, and select each
    window's rightmost minimum (packed as ``pos * 2^32 + hash`` — the
    hash is 32-bit, so the pair rides one int64 and stays
    list-distinct-able in both engines) — a position-aware fingerprint
    SAMPLE with
    a hard guarantee the random samples behind MinHash lack: any shared
    token run of length ≥ ``w + k - 1`` is DETECTED (the two documents
    share a selected fingerprint), while only ~2/(w+1) of grams are kept.
    This is the local-plagiarism/attribution signal between the whole-doc
    families (minhash/simhash estimate global resemblance) and the
    span-cut list (`dup_spans` needs every duplicated window; winnowing
    keeps a guaranteed sample) — what a copy-tracing pass over a crawl
    actually stores.

    Output: ``(id, n_grams, n_fp, n_shared_fp)`` — grams in the document,
    fingerprints selected, and selected fingerprints whose HASH occurs in
    ≥ ``min_docs`` distinct documents (the cross-document overlap signal;
    in-document repetition alone never counts, the dup_spans semantics).
    Every column integer.  Documents shorter than ``k`` tokens emit
    ``(0, 0, 0)``.

    Determinism: gram hash = first 8 md5 hex digits as int64 (the
    engine's one cross-engine hash); selection is pure integer argmin
    with an explicit rightmost tie rule — bit-replayable in SQL.

    100 TB shape: selection runs IN-ROW (one generated expression over
    the token array — no explode of unselected grams, the ~2/(w+1)
    density cut happens before anything leaves the row); the exploded
    fingerprint table is the only corpus-scale intermediate, its
    cross-document counts collapse to distinct-(fp, doc) map-side
    partials, and the shared set reaches the per-document rollup through
    an AQE-sized join (never forced broadcast — at web scale the shared
    set is itself corpus-scale)."""
    t = tokens(text_col)
    grams = F.when(
        F.size(t) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (k - 1)),
            lambda i: F.conv(
                F.substring(F.md5(F.concat_ws(" ", F.slice(t, i, k))), 1, 8),
                16, 10,
            ).cast("long"),
        ),
    ).otherwise(F.array().cast("array<long>"))
    base = fan_out_scan(docs).select(
        F.col(id_col), grams.alias("hs")
    ).select(
        id_col,
        F.size("hs").cast("long").alias("n_grams"),
        F.expr(_winnow_select_expr(w)).alias("sel"),
    ).localCheckpoint(eager=False)
    # ^ lazy lineage pin: the fingerprint table below is read twice (the
    # shared-hash aggregate and the per-document rollup) — without the pin
    # each action re-runs the full scan + in-row selection
    fp = base.select(id_col, F.explode("sel").alias("enc")).select(
        id_col,
        F.expr("enc div 4294967296").alias("pos"),
        F.expr("enc % 4294967296").alias("fp"),
    )
    shared = (
        fp.select("fp", id_col).distinct()
        .groupBy("fp")
        .agg(F.count("*").alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("fp")
    )
    per_doc = (
        fp.join(shared.withColumn("is_shared", F.lit(1)), "fp", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_fp"),
            F.coalesce(F.sum("is_shared"), F.lit(0)).cast("long").alias(
                "n_shared_fp"
            ),
        )
    )
    return (
        base.select(id_col, "n_grams")
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_grams",
            F.coalesce("n_fp", F.lit(0)).cast("long").alias("n_fp"),
            F.coalesce("n_shared_fp", F.lit(0)).cast("long").alias(
                "n_shared_fp"
            ),
        )
    )


def winnow_oracle_sql(k: int = WIN_K, w: int = WIN_W,
                      min_docs: int = 2) -> str:
    """DuckDB replay of :func:`winnow_fingerprints` over the standard
    ``documents`` view: identical gram hashes, identical rightmost-min
    window selection, identical cross-document shared-hash semantics."""
    wl = f"least({w}, len(hs))"
    m = f"list_min(hs[i:i + {wl} - 1])"
    return f"""
    WITH base AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
        FROM documents
    ),
    hashed AS (
        SELECT doc_id,
               CASE WHEN len(t) >= {k} THEN
                   list_transform(range(1, len(t) - {k} + 2),
                       i -> CAST(('0x' || substr(md5(
                                array_to_string(t[i:i + {k} - 1], ' ')),
                            1, 8)) AS BIGINT))
               ELSE CAST([] AS BIGINT[]) END AS hs
        FROM base
    ),
    sel AS (
        SELECT doc_id, len(hs) AS n_grams,
               CASE WHEN len(hs) >= 1 THEN
                   list_distinct(list_transform(
                       range(1, greatest(len(hs) - {w} + 1, 1) + 1),
                       i -> CAST(i - 1 + list_max(list_filter(
                                range(1, {wl} + 1),
                                j -> hs[i + j - 1] = {m})) AS BIGINT)
                            * 4294967296 + {m}))
               ELSE CAST([] AS BIGINT[]) END AS fps
        FROM hashed
    ),
    fp AS (
        SELECT doc_id, enc // 4294967296 AS pos, enc % 4294967296 AS fp
        FROM (SELECT doc_id, unnest(fps) AS enc FROM sel)
    ),
    shared AS (
        SELECT fp FROM (SELECT DISTINCT fp, doc_id FROM fp)
        GROUP BY fp HAVING COUNT(*) >= {min_docs}
    ),
    per_doc AS (
        SELECT f.doc_id, COUNT(*) AS n_fp,
               COUNT(s.fp) AS n_shared_fp
        FROM fp f LEFT JOIN shared s ON f.fp = s.fp
        GROUP BY f.doc_id
    )
    SELECT b.doc_id,
           CAST(b.n_grams AS BIGINT) AS n_grams,
           CAST(COALESCE(p.n_fp, 0) AS BIGINT) AS n_fp,
           CAST(COALESCE(p.n_shared_fp, 0) AS BIGINT) AS n_shared_fp
    FROM sel b LEFT JOIN per_doc p USING (doc_id)
    """


#: tfidf_pairs quantization caps — part of the operator's SEMANTICS (the
#: q8 lesson applied to sparse lexical vectors): sub-linear tf saturates
#: at 15, linear idf (x10 fixed point) saturates at 1000 (= idf 100.0).
#: With docs ≤ ~2e3 distinct capped terms, every intermediate (w², dot,
#: norm²) stays safely inside int64.
TP_TF_CAP = 15
TP_IDF_X10_CAP = 1_000


def tfidf_pairs(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", max_df: int = 1_000,
                threshold_x1e6: int = 300_000) -> DataFrame:
    """TF-IDF-weighted cosine document pairs — the WEIGHTED lexical
    similarity the unweighted families miss (`ngram_jaccard_pairs`
    treats every shingle equally; embedding cosine needs vectors): two
    documents sharing three rare technical terms score high even when
    their boilerplate differs, and shared stopwords score nothing.

    Vector space semantics (all replayed by the oracle): terms with
    ``df > max_df`` are EXCLUDED everywhere — from the dot products AND
    the norms — which is simultaneously the stopword strip and the
    candidate-volume bound (pair generation joins on shared terms, so
    per-term pair volume is ≤ df² ≤ max_df²); weights are QUANTIZED
    integers, ``w = least(tf, 15) * least((n_docs*10) div df, 1000)`` —
    sub-linear tf saturation and capped linear idf keep every w², dot,
    and norm² inside int64 (the engine's integer-sum discipline: dot
    products and norms are order-free integer aggregations; exactly ONE
    float chain per surviving pair computes
    ``round(1e6 * dot / sqrt(na2 * nb2))``).

    Output: ``(a, b, n_shared_terms, cosine_x1e6)`` with ``a < b`` and
    cosine ≥ ``threshold_x1e6``.

    100 TB shape: the (doc, term) table collapses map-side; the df table
    is an AQE-sized join (vocabulary-scale, never forced broadcast); the
    pair join's volume is df-capped BY SEMANTICS; per-pair dot sums
    aggregate map-side."""
    t = tokens(text_col)
    tf = (
        fan_out_scan(docs)
        .select(F.col(id_col).alias("doc"), F.explode(t).alias("term"))
        .groupBy("doc", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df")).where(
        F.col("df") <= max_df
    )
    n_docs = docs.select(F.countDistinct(id_col).alias("n_docs"))
    w = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc", "term",
            F.expr(
                f"least(tf, {TP_TF_CAP})"
                f" * least((n_docs * 10) div df, {TP_IDF_X10_CAP})"
            ).cast("long").alias("w"),
        )
        .localCheckpoint(eager=False)
    )
    norms = w.groupBy("doc").agg(
        F.sum(F.col("w") * F.col("w")).alias("n2")
    )
    a = w.select(F.col("doc").alias("a"), "term", F.col("w").alias("wa"))
    b = w.select(F.col("doc").alias("b"), F.col("term").alias("term_b"),
                 F.col("w").alias("wb"))
    dots = (
        a.join(b, (F.col("term") == F.col("term_b")) & (F.col("a") < F.col("b")))
        .groupBy("a", "b")
        .agg(
            F.count("*").alias("n_shared_terms"),
            F.sum(F.col("wa") * F.col("wb")).alias("dot"),
        )
    )
    return (
        dots.join(norms.withColumnRenamed("doc", "a")
                  .withColumnRenamed("n2", "na2"), "a")
        .join(norms.withColumnRenamed("doc", "b")
              .withColumnRenamed("n2", "nb2"), "b")
        .select(
            "a", "b", "n_shared_terms",
            F.expr(
                "CAST(round(1000000 * dot /"
                " sqrt(CAST(na2 AS DOUBLE) * nb2)) AS BIGINT)"
            ).alias("cosine_x1e6"),
        )
        .where(F.col("cosine_x1e6") >= threshold_x1e6)
    )


def tfidf_pairs_oracle_sql(table: str = "documents", max_df: int = 1_000,
                           threshold_x1e6: int = 300_000) -> str:
    """DuckDB replay of :func:`tfidf_pairs`: identical df strip,
    identical quantized weights, identical integer dot/norm sums and the
    single float cosine chain."""
    return rf"""
    WITH tf AS (
        SELECT doc, term, COUNT(*) AS tf FROM (
            SELECT doc_id AS doc,
                   unnest(regexp_split_to_array(trim(text), '\s+')) AS term
            FROM {table}
        ) GROUP BY doc, term
    ),
    dfreq AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY term
        HAVING COUNT(*) <= {max_df}
    ),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
          FROM {table}),
    w AS (
        SELECT tf.doc, tf.term,
               CAST(least(tf.tf, {TP_TF_CAP})
                    * least((n.n_docs * 10) // dfreq.df, {TP_IDF_X10_CAP})
                    AS BIGINT) AS w
        FROM tf JOIN dfreq USING (term), n
    ),
    norms AS (SELECT doc, CAST(SUM(w * w) AS BIGINT) AS n2
              FROM w GROUP BY doc),
    dots AS (
        SELECT x.doc AS a, y.doc AS b, COUNT(*) AS n_shared_terms,
               CAST(SUM(x.w * y.w) AS BIGINT) AS dot
        FROM w x JOIN w y ON x.term = y.term AND x.doc < y.doc
        GROUP BY x.doc, y.doc
    )
    SELECT d.a, d.b, d.n_shared_terms,
           CAST(round(1000000 * d.dot /
                sqrt(CAST(na.n2 AS DOUBLE) * nb.n2)) AS BIGINT)
               AS cosine_x1e6
    FROM dots d
    JOIN norms na ON d.a = na.doc
    JOIN norms nb ON d.b = nb.doc
    WHERE round(1000000 * d.dot / sqrt(CAST(na.n2 AS DOUBLE) * nb.n2))
          >= {threshold_x1e6}
    """


def editdist_pairs(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", k: int = 5,
                   df_cap: int | None = 1000, max_chars: int = 4_096,
                   min_ratio_x1e6: int = 600_000,
                   drop_stats=None) -> DataFrame:
    """Exact edit-distance verification over shared-shingle candidates —
    the CHARACTER-level near-dup check the token families can't give
    (Jaccard is blind to within-token edits: ``colour``/``color``
    documents share few shingles per edit but are one letter apart):
    ``(a, b, dist, ratio_x1e6)`` where ``ratio = 1 −
    dist/greatest(len_a, len_b)`` and both engines compute the SAME
    integer Levenshtein (a built-in in Spark and ANSI-ish SQL alike —
    an exact integer metric, so the row hashes with no float care
    beyond one truncating div).

    Candidates = pairs sharing ≥ 1 word-``k``-gram shingle, the
    :func:`ngram_jaccard_pairs` substrate with the same ``df_cap``
    hot-shingle guard (drops Observation-counted, zero at test scales so
    the cap-free oracle matches — the established capped-substrate
    contract); ``max_chars`` is a SEMANTIC cap, not a truncation:
    Levenshtein is O(len²) per pair, so longer documents are excluded
    from this verifier entirely (they stay covered by the token-level
    families; a 1 MB crawl-artifact pair would cost 10¹² cell updates
    here).  The oracle applies the identical length cap.

    100 TB shape: candidate volume is df-capped; the quadratic kernel
    runs only on len-capped candidate rows, each one JVM builtin call."""
    capped = docs.where(F.length(text_col) <= max_chars)
    sh = _shingle_rows(MH.word_shingles(
        fan_out_scan(capped.select(id_col, text_col)), id_col, text_col, k=k
    ))
    if df_cap is not None:
        buckets = sh.select(
            "id", F.lit(0).alias("band"), F.col("shingle").alias("bucket")
        )
        pairs = MH.candidate_pairs(buckets, max_bucket=df_cap,
                                   drop_stats=drop_stats)
    else:
        pairs = (
            sh.alias("x").join(sh.alias("y"), "shingle")
            .where(F.col("x.id") < F.col("y.id"))
            .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
            .distinct()
        )
    texts = capped.select(
        F.col(id_col).alias("_tid"), F.col(text_col).alias("_t"),
        F.length(text_col).alias("_len"),
    )
    return (
        pairs
        .join(texts.select(F.col("_tid").alias("a"),
                           F.col("_t").alias("ta"),
                           F.col("_len").alias("la")), "a")
        .join(texts.select(F.col("_tid").alias("b"),
                           F.col("_t").alias("tb"),
                           F.col("_len").alias("lb")), "b")
        .select(
            "a", "b",
            F.levenshtein("ta", "tb").cast("long").alias("dist"),
            F.expr(
                "CAST((greatest(la, lb) - levenshtein(ta, tb)) * 1000000"
                " div greatest(la, lb) AS BIGINT)"
            ).alias("ratio_x1e6"),
        )
        .where(F.col("ratio_x1e6") >= min_ratio_x1e6)
    )


def editdist_pairs_oracle_sql(table: str = "documents", k: int = 5,
                              max_chars: int = 4_096,
                              min_ratio_x1e6: int = 600_000) -> str:
    """DuckDB replay of :func:`editdist_pairs`: the identical
    shared-shingle candidate space (cap-free — the capped substrate
    drops nothing at oracle scales, the ngram_jaccard contract), the
    identical length cap, the identical integer Levenshtein + ratio."""
    return rf"""
    WITH t AS (
        SELECT doc_id, text, length(text) AS len FROM {table}
        WHERE length(text) <= {max_chars}
    ),
    toks AS (
        SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
        FROM t
    ),
    sh AS (
        SELECT DISTINCT doc_id AS id, shingle FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, greatest(len(w) - {k - 1}, 1)),
                       i -> array_to_string(w[i:i + {k - 1}], ' '))) AS shingle
            FROM toks
        ) WHERE length(shingle) > 0
    ),
    cand AS (
        SELECT DISTINCT x.id AS a, y.id AS b
        FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.id < y.id
    )
    SELECT c.a, c.b,
           CAST(levenshtein(xa.text, xb.text) AS BIGINT) AS dist,
           CAST((greatest(xa.len, xb.len) - levenshtein(xa.text, xb.text))
                * 1000000 // greatest(xa.len, xb.len) AS BIGINT)
               AS ratio_x1e6
    FROM cand c
    JOIN t xa ON c.a = xa.doc_id
    JOIN t xb ON c.b = xb.doc_id
    WHERE (greatest(xa.len, xb.len) - levenshtein(xa.text, xb.text))
          * 1000000 // greatest(xa.len, xb.len) >= {min_ratio_x1e6}
    """
