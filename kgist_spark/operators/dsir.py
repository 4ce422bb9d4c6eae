"""DSIR-style hashed n-gram importance weighting for data selection.

DSIR (Xie et al., NeurIPS 2023, "Data Selection for Language Models via
Importance Resampling") scores every raw document by how much more likely
its hashed n-gram bag is under a TARGET distribution (a small trusted
corpus — Wikipedia, textbooks) than under the RAW distribution (the corpus
itself):

    log w(doc) = Σ_{gram g in doc} [ log p_target(b(g)) − log p_raw(b(g)) ]

where ``b(g)`` hashes unigrams AND bigrams into ``n_buckets`` buckets and
each bucket distribution is add-one smoothed.  Selection keeps the
top-weight tail (the paper Gumbel-resamples; the engine contract here is
deterministic, so downstream selection ranks by the integer weight with
doc_id ties — same effect, replayable).

Engine discipline:

* **Cross-engine bucket hash**: ``int(md5(gram)[:8], 16) % n_buckets`` —
  Spark's ``conv(substring(md5(g),1,8),16,10)`` and DuckDB's
  ``CAST('0x' || substr(md5(g),1,8) AS BIGINT)`` produce the identical
  int, so the oracle replays bucketing exactly (murmur ``F.hash`` would
  not — no DuckDB twin).
* **Fixed-point log-ratios**: each bucket's ``log2 p − log2 q`` rounds to
  an int (×1e6) BEFORE per-document summation, so every aggregate is
  integer arithmetic — order-free at any parallelism, hash-comparable.

100 TB shape: TWO pipelined corpus passes, no giant shuffle.  Pass 1
projects only the text column and aggregates hashed grams to ≤ n_buckets
rows map-side (the raw distribution q).  The target distribution p comes
from the small trusted slice.  The ≤ n_buckets-row log-ratio table is
broadcast (size-gated: it is bounded by the n_buckets PARAMETER, not the
data) into pass 2, whose per-document aggregation collapses map-side to
one row per doc before the only O(docs) shuffle.  Persisting the exploded
gram table instead would materialize ~10× the corpus to avoid one
column-pruned re-scan — the wrong trade at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kgist_spark.operators.text import tokens

#: fixed-point scale for per-bucket log2 ratios
LOGR_SCALE = 1_000_000
#: default feature-space size (the paper uses 10^4; a power of two keeps
#: the modulo cheap).  Collisions are part of the method, not an error.
N_BUCKETS = 8192
#: broadcast the log-ratio table only while provably small
_BROADCAST_MAX_BUCKETS = 1_000_000


def hashed_grams(text_col: str, n_buckets: int = N_BUCKETS) -> Column:
    """``array<long>`` of hashed unigram+bigram bucket ids for one text
    value — a single in-row expression (no explode, no UDF)."""
    t = tokens(text_col)
    bigrams = F.when(
        F.size(t) > 1,
        F.zip_with(
            F.slice(t, 1, F.size(t) - 1),
            F.slice(t, 2, F.size(t) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.transform(
        F.concat(t, bigrams),
        lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long")
        % n_buckets,
    )


def dsir_weights(corpus: DataFrame, target: DataFrame,
                 id_col: str = "doc_id", text_col: str = "text",
                 n_buckets: int = N_BUCKETS) -> DataFrame:
    """``(id_col, n_grams, importance_x1e6)`` for every corpus document:
    the DSIR importance log-weight (×1e6, integer) of its hashed-gram bag
    under target-vs-raw add-one-smoothed bucket distributions.  HIGHER is
    more target-like (the keep side)."""
    def gram_rows(df, with_id):
        cols = [F.col(id_col)] if with_id else []
        return df.select(
            *cols,
            F.explode(hashed_grams(text_col, n_buckets)).alias("bucket"),
        )

    # raw distribution q over the corpus: text column only (pass 1)
    q = gram_rows(corpus, with_id=False).groupBy("bucket").agg(
        F.count("*").alias("q_cnt")
    )
    # target distribution p over the trusted slice (small side)
    p = gram_rows(target, with_id=False).groupBy("bucket").agg(
        F.count("*").alias("p_cnt")
    )
    q_tot = q.agg(F.coalesce(F.sum("q_cnt"), F.lit(0)).alias("q_tot"))
    p_tot = p.agg(F.coalesce(F.sum("p_cnt"), F.lit(0)).alias("p_tot"))

    # every bucket a corpus gram can hit has a q row by construction, so
    # the ratio table is keyed on q; p joins sparse (absent => count 0)
    ratio = (
        q.join(p, "bucket", "left")
        .crossJoin(q_tot)
        .crossJoin(p_tot)
        .select(
            "bucket",
            F.round(
                (
                    F.log2(F.coalesce(F.col("p_cnt"), F.lit(0)) + 1.0)
                    - F.log2(F.col("p_tot") + float(n_buckets))
                    - F.log2(F.col("q_cnt") + 1.0)
                    + F.log2(F.col("q_tot") + float(n_buckets))
                )
                * LOGR_SCALE
            )
            .cast("long")
            .alias("logr"),
        )
    )
    if n_buckets <= _BROADCAST_MAX_BUCKETS:
        ratio = F.broadcast(ratio)

    return (
        gram_rows(corpus, with_id=True)
        .join(ratio, "bucket")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum("logr").alias("importance_x1e6"),
        )
    )
