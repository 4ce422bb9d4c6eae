"""BM25 keyword search over the document corpus.

No reference counterpart (GemsLab/KGist has no text stage); this is the
lexical retrieval complement to the embedding ANN operators
(:mod:`kgist_spark.operators.similarity`) — a training-data pipeline uses
it for corpus QA ("show me the documents about X") and for building
retrieval eval sets.

Scale + determinism shape:

* ONE pass over the corpus: the per-document token length and the per-term
  term frequencies for ALL query terms come out of a single grouped
  aggregation (conditional integer sums — the query is a handful of
  literal terms, so the tf columns are a fixed narrow projection, not an
  exploded join against a term table);
* corpus statistics (N, total length, per-term document frequencies) are a
  ONE-ROW aggregate broadcast into the scoring projection — no second
  shuffle, no driver round-trip baked into the plan;
* the score is a FIXED-ORDER column expression (term 0 + term 1 + ...),
  never a float ``sum()`` aggregation, so there is no partition-order
  float drift; DuckDB replays the identical expression text, and the
  top-k orders by the ROUNDED score (then doc id)
  so a sub-rounding ulp difference can't flip the k boundary between
  engines;
* top-k is ``orderBy(...).limit(k)`` — Spark's TakeOrderedAndProject
  (bounded per-partition heaps + driver merge of k rows, never a global
  sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _score_expr(terms: list[str], k1: float, b: float) -> str:
    """The BM25 score as one expression string over columns
    ``tf{i}, df{i}, dl, n_docs, total_len`` — shared verbatim with the SQL
    oracle so both engines evaluate the identical fixed-order arithmetic.
    ``dl/avgdl`` is computed as ``dl * n_docs / total_len`` (integer
    products first) to keep the only float inputs exact."""
    parts = []
    for i in range(len(terms)):
        idf = f"ln(1 + (n_docs - df{i} + 0.5) / (df{i} + 0.5))"
        tf_norm = (
            f"(tf{i} * ({k1} + 1)) / "
            f"(tf{i} + {k1} * (1 - {b} + {b} * dl * n_docs / total_len))"
        )
        parts.append(f"{idf} * {tf_norm}")
    return " + ".join(parts)


def bm25_topk(docs: DataFrame, terms: list[str], k: int = 10,
              k1: float = 1.2, b: float = 0.75,
              id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Top-k documents by BM25 for literal query ``terms`` (lowercase,
    whitespace tokenization — same convention as ``operators/text.py``):
    ``(doc_id, bm25)``, score rounded to 5 decimals, ties broken by doc id.
    Documents matching no term are filtered BEFORE scoring (a zero-score
    doc never reaches the heap)."""
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.filter(
                F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
                lambda x: x != "",
            )
        ).alias("tok"),
    )
    per_doc = tok.groupBy("doc_id").agg(
        F.count("*").alias("dl"),
        *[
            F.sum((F.col("tok") == t).cast("long")).alias(f"tf{i}")
            for i, t in enumerate(terms)
        ],
    )
    stats = per_doc.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("total_len"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(terms))
        ],
    )
    any_tf = " + ".join(f"tf{i}" for i in range(len(terms)))
    return (
        per_doc.where(F.expr(f"({any_tf}) > 0"))
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(F.expr(_score_expr(terms, k1, b)), 5).alias("bm25"),
        )
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(k)
    )


def tfidf_top_terms(docs: DataFrame, per_doc_k: int = 3,
                    scale: int = 1_000_000, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Per-document keyword extraction: the ``per_doc_k`` highest-scoring
    terms of every document — ``(doc_id, term, tf, df, score_x1e6)``,
    ties to the lexicographically smaller term.  The corpus-wide
    companion to :func:`bm25_topk`: BM25 ranks docs for a given query;
    this labels every doc with its most distinctive terms (dedup
    explanations, topic spot-checks, mixture audits over a 100 TB crawl).

    The score is an integer fixed-point tf-idf with a LINEAR rarity
    weight: ``score = tf * ((n_docs * scale) div df)``.  Linear idf is
    deliberate — the engine's hash-exact discipline: ``log(N/df)`` is
    float and its per-term evaluation would have to round identically in
    both engines to survive the value-hash gate, while the truncating
    integer div is bit-identical by construction (positive operands).
    Within one document df is the only varying rarity input, and both
    weights are strictly decreasing in df, so the top-k membership
    differs only where log-idf ties linear-idf breaks — acceptable for a
    QA/labeling surface, and exactly replayable.

    One corpus pass (explode → (doc, term) counts), one vocab-sized df
    aggregation joined back on ``term`` (AQE broadcasts it while it
    fits), and a per-doc ROW_NUMBER window for the top-k — spill-safe for
    pathological documents (no per-doc collect_list: a single 10⁹-token
    crawl artifact must not become one driver-sized array row).
    int64 bound: ``n_docs * scale < 2^63`` holds past 9×10^12 documents."""
    from pyspark.sql import Window

    tf = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.filter(
                    F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
                    lambda x: x != "",
                )
            ).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_tbl = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.select(F.countDistinct(id_col).alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_x1e6"), F.asc("term")
    )
    return (
        tf.join(df_tbl, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score_x1e6",
            F.expr(f"tf * ((n_docs * {scale}) div df)").cast("long"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= per_doc_k)
        .select("doc_id", "term", "tf", "df", "score_x1e6")
    )


def tfidf_oracle_sql(per_doc_k: int = 3, scale: int = 1_000_000,
                     table: str = "documents") -> str:
    """DuckDB replay of :func:`tfidf_top_terms` — same tokenization, same
    truncating integer div, same (score DESC, term ASC) pick."""
    return f"""
    WITH tok AS (
        SELECT doc_id, t.term FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
            FROM {table}
        ) t WHERE t.term <> ''
    ),
    tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tok GROUP BY doc_id, term
    ),
    dfreq AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM {table})
    SELECT doc_id, term, tf, df, score_x1e6 FROM (
        SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
               CAST(tf.tf * ((n.n_docs * {scale}) // dfreq.df) AS BIGINT) AS score_x1e6,
               ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                  ORDER BY tf.tf * ((n.n_docs * {scale}) // dfreq.df) DESC,
                                           tf.term ASC) AS rn
        FROM tf JOIN dfreq USING (term), n
    ) WHERE rn <= {per_doc_k}
    """


def bm25_topk_oracle_sql(terms: list[str], k: int = 10,
                         k1: float = 1.2, b: float = 0.75,
                         table: str = "documents") -> str:
    """DuckDB replay of :func:`bm25_topk` — same tokenization, same one-row
    stats, and the IDENTICAL fixed-order score expression string."""
    tf_cols = ",\n               ".join(
        f"CAST(SUM(CASE WHEN tok = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS tf{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ",\n               ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(terms))
    )
    any_tf = " + ".join(f"tf{i}" for i in range(len(terms)))
    return f"""
    WITH tok AS (
        SELECT doc_id, t.tok FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
            FROM {table}
        ) t WHERE t.tok <> ''
    ),
    per_doc AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl,
               {tf_cols}
        FROM tok GROUP BY doc_id
    ),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS BIGINT) AS total_len,
               {df_cols}
        FROM per_doc
    )
    SELECT doc_id, round({_score_expr(terms, k1, b)}, 5) AS bm25
    FROM per_doc, stats
    WHERE ({any_tf}) > 0
    ORDER BY bm25 DESC, doc_id ASC
    LIMIT {k}
    """


def build_postings(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", max_postings: int = 64,
                   min_df: int = 2) -> DataFrame:
    """Inverted-index postings materialization — the artifact a search
    engine actually BUILDS (BM25 above scores against corpus stats on the
    fly; a served index stores per-term posting lists): one row per term
    with its true document frequency ``df``, collection frequency ``cf``
    (total occurrences), and a doc-id posting list CAPPED at
    ``max_postings`` entries ('|'-joined ascending ids).  ``n_kept``
    rides beside ``df`` so a reader always sees when the cap truncated
    (the no-silent-caps contract); ``min_df`` drops hapax terms, the
    standard index-size guard.

    Determinism: the cap keeps the ``max_postings`` SMALLEST doc ids
    (explicit rank order, ties impossible on distinct ids) and the list
    serializes in that same order — byte-replayable by ``string_agg``.

    100 TB shape: the (term, doc) table distinct-collapses map-side
    (same as every df computation in this package); the cap is a
    rank-filter BEFORE any list materializes (`row_number` is sort-based
    and spillable, so a stopword's corpus-sized partition streams through
    the sort rather than buffering) and
    ``collect_list`` only ever sees ≤ ``max_postings`` rows per term."""
    from pyspark.sql.window import Window

    from kgist_spark.operators.text import tokens

    td = (
        docs.select(F.col(id_col).alias("doc"),
                    F.explode(tokens(text_col)).alias("term"))
        .groupBy("term", "doc")
        .agg(F.count("*").alias("tf"))
    )
    stats = td.groupBy("term").agg(
        F.count("*").alias("df"),
        F.sum("tf").alias("cf"),
    ).where(F.col("df") >= min_df)
    w = Window.partitionBy("term").orderBy(F.asc("doc"))
    kept = (
        td.join(stats.select("term"), "term", "leftsemi")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= max_postings)
    )
    lists = kept.groupBy("term").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(doc))),"
            " s -> CAST(s.doc AS STRING)), '|')"
        ).alias("postings"),
    )
    return stats.join(lists, "term").select(
        "term", "df", "cf", "n_kept", "postings"
    )


def postings_oracle_sql(table: str = "documents", id_col: str = "doc_id",
                        max_postings: int = 64, min_df: int = 2) -> str:
    """DuckDB replay of :func:`build_postings`: identical whitespace
    tokens, identical smallest-ids cap, identical '|' serialization."""
    return rf"""
    WITH td AS (
        SELECT term, doc, COUNT(*) AS tf FROM (
            SELECT {id_col} AS doc,
                   unnest(regexp_split_to_array(trim(text), '\s+')) AS term
            FROM {table}
        ) GROUP BY term, doc
    ),
    stats AS (
        SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS cf
        FROM td GROUP BY term HAVING COUNT(*) >= {min_df}
    ),
    ranked AS (
        SELECT t.term, t.doc,
               ROW_NUMBER() OVER (PARTITION BY t.term ORDER BY t.doc) AS rn
        FROM td t JOIN stats s ON t.term = s.term
    ),
    lists AS (
        SELECT term, COUNT(*) AS n_kept,
               string_agg(CAST(doc AS VARCHAR), '|' ORDER BY doc) AS postings
        FROM ranked WHERE rn <= {max_postings} GROUP BY term
    )
    SELECT s.term, s.df, s.cf, l.n_kept, l.postings
    FROM stats s JOIN lists l ON s.term = l.term
    """
