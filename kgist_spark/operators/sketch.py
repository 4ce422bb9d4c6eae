"""Cross-engine-replayable HyperLogLog distinct-count sketch.

No reference counterpart (GemsLab/KGist never estimates cardinalities), but
a 100 TB corpus pipeline needs grouped distinct counts constantly (users per
event class, entities per predicate, domains per language) and the exact
answer is a full shuffle of every distinct (group, value) pair — the one
aggregation shape that does NOT map-side-combine.  HyperLogLog (Flajolet et
al. 2007) replaces it with a bounded ``m``-register state per group, so the
shuffle carries at most ``m`` rows per group no matter how many distinct
values exist.

Spark's own ``approx_count_distinct`` IS HyperLogLog++, but its hash is
engine-private (no DuckDB twin), so its estimates can never pass the
value-hash gate.  This module rebuilds the sketch on the engine's only
cross-engine hash — ``conv(substr(md5(v),1,15),16,10)`` on the Spark side,
``CAST('0x'||substr(md5(v),1,15) AS BIGINT)`` in DuckDB (same convention as
``operators/dsir.py`` / ``operators/dedup.py``) — so the ENTIRE sketch,
registers and estimate both, replays bit-for-bit:

* 60-bit hash → register index = low ``p`` bits, remainder ``w`` = top
  ``60-p`` bits;
* ``rho(w)`` = leading zeros of ``w`` within its ``60-p``-bit width + 1 =
  ``(61-p) - bitlen(w)``, with ``bitlen`` computed as ``length(bin(w))``
  (both engines render bigints to minimal binary strings; the ``w = 0``
  case is an explicit CASE because both render ``bin(0) = '0'``);
* register value ``M_j = max(rho)`` — an integer MAX, map-side partial,
  order-free;
* the harmonic denominator ``sum(2^-M_j)`` is scaled to the INTEGER
  ``S = sum(1 << (maxrho - M_j))`` over all m registers (empty registers
  contribute ``1 << maxrho``); at the default p=10, ``S ≤ 2^61`` — int64
  exact, so the one aggregate that decides the estimate is integer;
* the estimate ``alpha_m * m^2 / sum(2^-M)`` needs ONE float step:
  ``floor(NUM / S)`` where ``NUM = alpha_m * m^2 * 2^maxrho`` is
  pre-computed in Python and embedded as the same shortest-repr double
  literal in both engines — one IEEE division + one floor of identical
  operands is bit-identical everywhere (the BM25 fixed-order-expression
  discipline, ``operators/search.py``).

Small-range correction WITHOUT a cross-engine ``ln``: linear counting
(``m * ln(m / V)`` for ``V`` empty registers, applied when the raw estimate
is ≤ 2.5m and ``V > 0``) is mandatory — the raw estimator reads ~5× high at
tiny cardinalities — but ``ln`` is a libm call whose low bits differ across
engines.  ``V`` only takes ``m`` possible values, so the correction is
PRE-COMPUTED in Python once (``_lc_table``) and shipped to BOTH engines as
the identical literal table: a broadcast-joined m-row DataFrame on the
Spark side, a VALUES CTE in the oracle — never an m-branch CASE expression
(the k-means literal-expression lesson: plan size must stay O(1) in m).
Standard error of the corrected sketch is the usual ``1.04/sqrt(m)``
≈ 3.3 % at p=10.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: register-index bits: m = 2^p registers per group.  p=10 → 1024 registers,
#: ~3.3 % standard error, S ≤ 2^61 (int64-exact harmonic sum).
HLL_P = 10


def _consts(p: int) -> tuple[int, int, float]:
    """(m, maxrho, NUM) for a given precision.  NUM is the full float
    numerator ``alpha_m * m^2 * 2^maxrho`` — embedding it as ONE literal
    leaves a single cross-engine float op (the division)."""
    if not 4 <= p <= 12:
        # p < 4 has no published alpha; p > 12 pushes S past int64
        raise ValueError(f"hll precision p={p} outside the supported 4..12")
    m = 1 << p
    maxrho = 60 - p + 1
    alpha = {4: 0.673, 5: 0.697, 6: 0.709}.get(p, 0.7213 / (1 + 1.079 / m))
    return m, maxrho, alpha * m * m * float(1 << maxrho)


def _lc_table(p: int) -> list[tuple[int, int]]:
    """Linear-counting lookup ``[(V, floor(m * ln(m / V)))]`` for every
    possible empty-register count ``V`` in 1..m — computed ONCE in Python
    so both engines consume byte-identical integers (no libm in either
    engine's plan)."""
    import math

    m = 1 << p
    return [(v, int(math.floor(m * math.log(m / v)))) for v in range(1, m + 1)]


def hll_distinct(df: DataFrame, group_cols: list[str], value_col: str,
                 p: int = HLL_P) -> DataFrame:
    """Grouped approximate distinct count: one row per group with
    ``(<group_cols>, register_sum, n_registers_hit, n_distinct_hll)``.

    Plan shape: ONE shuffle that matters — the (group, register) MAX, which
    map-side-combines to ≤ m rows per group per task regardless of input
    size; the per-group rollup over ≤ m rows and the broadcast join against
    the static m-row linear-counting table are negligible.  Nothing is
    collected; the estimate is a projection."""
    m, maxrho, num = _consts(p)
    h = F.conv(
        F.substring(F.md5(F.col(value_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    w = F.expr(f"h div {m}")
    rho = F.lit(maxrho) - F.when(w == 0, F.lit(0)).otherwise(
        F.length(F.bin(w))
    )
    regs = (
        df.select(*group_cols, h.alias("h"))
        .select(*group_cols, F.pmod("h", F.lit(m)).alias("j"), rho.alias("rho"))
        .groupBy(*group_cols, "j")
        .agg(F.max("rho").alias("mj"))
    )
    lc = F.broadcast(
        df.sparkSession.createDataFrame(_lc_table(p), "v_empty long, lc long")
    )
    rolled = (
        regs.groupBy(*group_cols)
        .agg(
            F.sum(F.expr(f"shiftleft(cast(1 as bigint), {maxrho} - mj)"))
            .alias("s_hit"),
            F.count("*").alias("n_registers_hit"),
        )
        .select(
            *group_cols,
            (
                F.col("s_hit")
                + (F.lit(m) - F.col("n_registers_hit"))
                * F.lit(1 << maxrho).cast("long")
            ).alias("register_sum"),
            F.col("n_registers_hit"),
        )
        .withColumn(
            "raw_est",
            F.expr(f"cast(floor({num!r} / cast(register_sum as double)) as long)"),
        )
        .withColumn("v_empty", F.lit(m) - F.col("n_registers_hit"))
    )
    return (
        rolled.join(lc, "v_empty", "left")
        .select(
            *group_cols,
            "register_sum",
            "n_registers_hit",
            F.when(
                (F.col("v_empty") > 0) & (F.col("raw_est") <= (5 * m) // 2),
                F.col("lc"),
            )
            .otherwise(F.col("raw_est"))
            .alias("n_distinct_hll"),
        )
    )


def hll_oracle_sql(source_sql: str, group_cols: list[str], value_col: str,
                   p: int = HLL_P) -> str:
    """DuckDB replay of :func:`hll_distinct`: identical md5-derived 60-bit
    hash, identical register/rho arithmetic, identical single-division
    estimate (the numerator literal is the same shortest-repr double), and
    the identical Python-precomputed linear-counting VALUES table."""
    m, maxrho, num = _consts(p)
    g = ", ".join(group_cols)
    lc_values = ", ".join(f"({v}, {e})" for v, e in _lc_table(p))
    return f"""
    WITH src AS ({source_sql}),
    hashed AS (
        SELECT {g},
               CAST(('0x' || substr(md5(CAST({value_col} AS VARCHAR)), 1, 15))
                    AS BIGINT) AS h
        FROM src
    ),
    regs AS (
        SELECT {g}, h % {m} AS j,
               MAX({maxrho} - CASE WHEN h // {m} = 0 THEN 0
                                   ELSE length(bin(h // {m})) END) AS mj
        FROM hashed GROUP BY {g}, j
    ),
    rolled AS (
        SELECT {g},
               CAST(SUM(CAST(1 AS BIGINT) << ({maxrho} - mj)) AS BIGINT)
                   AS s_hit,
               CAST(COUNT(*) AS BIGINT) AS n_registers_hit
        FROM regs GROUP BY {g}
    ),
    lc(v_empty, lc) AS (VALUES {lc_values}),
    est AS (
        SELECT {g},
               CAST(s_hit + ({m} - n_registers_hit)
                    * (CAST(1 AS BIGINT) << {maxrho}) AS BIGINT)
                   AS register_sum,
               n_registers_hit,
               CAST(floor({num!r} / CAST(s_hit + ({m} - n_registers_hit)
                    * (CAST(1 AS BIGINT) << {maxrho}) AS DOUBLE)) AS BIGINT)
                   AS raw_est,
               {m} - n_registers_hit AS v_empty
        FROM rolled
    )
    SELECT {g}, register_sum, n_registers_hit,
           CAST(CASE WHEN e.v_empty > 0 AND e.raw_est <= {(5 * m) // 2}
                     THEN l.lc ELSE e.raw_est END AS BIGINT) AS n_distinct_hll
    FROM est e LEFT JOIN lc l ON l.v_empty = e.v_empty
    """


def estimate_from_registers(regs, p: int = HLL_P) -> int:
    """Pure-Python estimate from an m-length register array — the EXACT
    arithmetic of :func:`hll_distinct`'s projection (integer harmonic sum,
    one float division of the same numerator, the same precomputed
    linear-counting table), shared by the batch operator and the tests so batch and oracle can
    never drift."""
    m, maxrho, num = _consts(p)
    if len(regs) != m:
        raise ValueError(f"expected {m} registers, got {len(regs)}")
    s = sum(1 << (maxrho - int(r)) for r in regs)
    raw = int(num / s)
    v_empty = sum(1 for r in regs if r == 0)
    if v_empty > 0 and raw <= (5 * m) // 2:
        return dict(_lc_table(p))[v_empty]
    return raw


# ---------------------------------------------------------------------------
# Count-min sketch: cross-engine-replayable frequency estimation
# ---------------------------------------------------------------------------

#: depth (independent hash rows) × width (counters per row).  d=4/w=1024
#: gives overcount ≤ e·n/w with prob 1-e^-4 per probe; the whole sketch is
#: ≤ 4096 int64 counters per group regardless of input size.
CMS_D = 4
CMS_W = 1024


def _cms_cell(value_col, r: int, w: int):
    """Row-``r`` counter index for a value: the engine's one cross-engine
    hash (md5 → 60-bit int, the HLL/DSIR convention) seeded by prefixing
    the row number — ``pmod`` because both engines' ``%`` agree only on
    non-negative operands (the 60-bit hash is always non-negative, but
    pmod documents the invariant)."""
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(str(r)), F.col(value_col).cast("string"))),
            1, 15,
        ),
        16, 10,
    ).cast("long")
    return F.pmod(h, F.lit(w))


def cms_build(df: DataFrame, value_col: str, d: int = CMS_D,
              w: int = CMS_W, group_cols: list[str] | None = None) -> DataFrame:
    """Count-min sketch as a DataFrame: one row per non-empty counter
    ``(<group_cols>, r, c, cnt)``.  Plan shape: the explode fans each input
    row into ``d`` (row, cell) pairs, then ONE grouped count that
    map-side-combines to ≤ d·w rows per group per task — the shuffle is
    bounded by the sketch size, never the data.  Merging two sketches is
    ``cnt`` addition on (r, c)."""
    gc = list(group_cols or [])
    cells = F.explode(F.array(*[
        F.struct(F.lit(r).alias("r"), _cms_cell(value_col, r, w).alias("c"))
        for r in range(d)
    ])).alias("rc")
    return (
        df.where(F.col(value_col).isNotNull())
        .select(*gc, cells)
        .select(*gc, "rc.r", "rc.c")
        .groupBy(*gc, "r", "c")
        .agg(F.count("*").alias("cnt"))
    )


def cms_probe(sketch: DataFrame, probes: DataFrame, value_col: str,
              d: int = CMS_D, w: int = CMS_W) -> DataFrame:
    """Point estimates for a probe set: ``min`` over the ``d`` counters each
    probe hashes to (the classic CMS upper bound — never undercounts).
    The join keys on (r, c) against a ≤ d·w-row sketch, so AQE broadcasts
    the sketch side; unseen probes estimate 0 via the left join."""
    exp = probes.select(
        value_col,
        F.explode(F.array(*[
            F.struct(F.lit(r).alias("r"), _cms_cell(value_col, r, w).alias("c"))
            for r in range(d)
        ])).alias("rc"),
    ).select(value_col, "rc.r", "rc.c")
    return (
        exp.join(sketch, ["r", "c"], "left")
        .groupBy(value_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("n_cms"))
    )


def cms_oracle_sql(source_sql: str, value_col: str, d: int = CMS_D,
                   w: int = CMS_W, top_n: int = 16) -> str:
    """DuckDB replay of the build→probe pipeline over the exact top-``top_n``
    values (ties broken by the value): identical seeded md5 cell hashes,
    integer counters, min-over-rows estimate."""
    rows_vals = ", ".join(f"({r})" for r in range(d))
    cell = (f"CAST(('0x' || substr(md5(CAST(rs.r AS VARCHAR) || ':' || "
            f"CAST({value_col} AS VARCHAR)), 1, 15)) AS BIGINT) % {w}")
    return f"""
    WITH src AS ({source_sql}),
    ev AS (SELECT {value_col} FROM src WHERE {value_col} IS NOT NULL),
    exact AS (
        SELECT {value_col}, CAST(COUNT(*) AS BIGINT) AS n_exact
        FROM ev GROUP BY {value_col}
    ),
    probes AS (
        SELECT {value_col}, n_exact FROM exact
        ORDER BY n_exact DESC, {value_col} LIMIT {top_n}
    ),
    rs(r) AS (VALUES {rows_vals}),
    cells AS (
        SELECT rs.r, {cell} AS c, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM ev CROSS JOIN rs GROUP BY rs.r, c
    ),
    est AS (
        SELECT p.{value_col},
               MIN(COALESCE(ce.cnt, 0)) AS n_cms
        FROM probes p
        CROSS JOIN rs
        LEFT JOIN cells ce
          ON ce.r = rs.r
         AND ce.c = CAST(('0x' || substr(md5(CAST(rs.r AS VARCHAR) || ':' ||
                     CAST(p.{value_col} AS VARCHAR)), 1, 15)) AS BIGINT) % {w}
        GROUP BY p.{value_col}
    )
    SELECT p.{value_col}, p.n_exact, e.n_cms,
           e.n_cms - p.n_exact AS overcount
    FROM probes p JOIN est e USING ({value_col})
    """


# ---------------------------------------------------------------------------
# Bloom filter membership sketch

#: Bloom geometry: m = 2^18 bits packed into 32-bit words (8,192 BIGINT rows
#: — a broadcast-trivial table whose size is FIXED regardless of how many
#: values were inserted), k = 4 seeded hashes.  At n = 20k inserted values
#: the false-positive rate is (1 - e^(-kn/m))^k ~ 3e-5.
BLOOM_M = 1 << 18
BLOOM_K = 4
BLOOM_WORD = 32


def _bloom_pos(value_col: str, r: int, m: int) -> str:
    """Seeded bit position for hash ``r`` as a Spark SQL fragment — the
    engine's one cross-engine hash (md5 → 60-bit int), seed-prefixed like
    the CMS cells but under a distinct ``bloom`` namespace so the two
    sketches never share cells.  A SQL string (not a Column) because the
    variable-amount shifts downstream only exist in the SQL surface
    (``F.shiftleft`` takes a literal int)."""
    return (f"pmod(cast(conv(substring(md5(concat_ws(':', 'bloom{r}',"
            f" cast({value_col} as string))), 1, 15), 16, 10) as bigint),"
            f" {m})")


def bloom_build(df: DataFrame, value_col: str, m: int = BLOOM_M,
                k: int = BLOOM_K) -> DataFrame:
    """Build a Bloom filter over ``value_col`` as a DataFrame of packed
    words ``(word_idx, bits)``: each value sets ``k`` seeded bit
    positions; words aggregate with ``bit_or`` — an order-free, map-side
    partial, MERGEABLE reduction (two filters over disjoint slices OR
    together into the filter of the union, which is what a streaming fold
    or a per-partition pre-build would ship).  Only non-empty words are
    materialized; probes read absent words as 0 through a left join.

    100 TB shape: the output is ≤ m/32 rows NO MATTER how many values
    were inserted — the shuffle is bounded by the sketch geometry.  The
    k positions are built IN-ROW (a k-element array explode inside the
    task), so the only movement is the grouped bit_or."""
    cells = F.explode(F.array(*[
        F.struct(
            F.expr(f"{_bloom_pos(value_col, r, m)} div {BLOOM_WORD}")
            .alias("word_idx"),
            F.expr(f"shiftleft(cast(1 as bigint),"
                   f" cast({_bloom_pos(value_col, r, m)} % {BLOOM_WORD}"
                   f" as int))").alias("bit"),
        )
        for r in range(k)
    ])).alias("wb")
    return (
        df.where(F.col(value_col).isNotNull())
        .select(cells)
        .select("wb.word_idx", "wb.bit")
        .groupBy("word_idx")
        .agg(F.expr("bit_or(bit)").alias("bits"))
    )


def bloom_maybe_contains(bloom: DataFrame, probes: DataFrame,
                         value_col: str, m: int = BLOOM_M,
                         k: int = BLOOM_K) -> DataFrame:
    """Tag each probe row with ``maybe_hit`` — true iff ALL ``k`` of the
    value's bits are set (the classic no-false-negative membership test).

    The k tests run as k BROADCAST hash joins against the ≤ m/32-row word
    table (one join per seed, each on its own ``word_idx`` key), so the
    verdict lands IN-ROW: downstream aggregations keep their own shuffle
    discipline — a per-document rollup still moves O(documents) rows,
    exactly like the exact-set decontaminate path, but the build side
    that must reach every executor is the FIXED 64 KiB sketch instead of
    an unbounded benchmark gram table."""
    out = probes
    hit_cols = []
    for r in range(k):
        w = bloom.select(
            F.col("word_idx").alias(f"_bw{r}"),
            F.col("bits").alias(f"_bb{r}"),
        )
        out = (
            out.withColumn(
                f"_bw{r}",
                F.expr(f"{_bloom_pos(value_col, r, m)} div {BLOOM_WORD}"),
            )
            .join(F.broadcast(w), f"_bw{r}", "left")
            .withColumn(
                f"_bh{r}",
                F.expr(
                    f"(coalesce(_bb{r}, cast(0 as bigint))"
                    f" & shiftleft(cast(1 as bigint),"
                    f" cast({_bloom_pos(value_col, r, m)} % {BLOOM_WORD}"
                    f" as int))) != 0"
                ),
            )
        )
        hit_cols.append(f"_bh{r}")
    maybe = hit_cols[0]
    expr = F.col(maybe)
    for c in hit_cols[1:]:
        expr = expr & F.col(c)
    return out.withColumn("maybe_hit", expr).drop(
        *[f"_bw{r}" for r in range(k)],
        *[f"_bb{r}" for r in range(k)],
        *[f"_bh{r}" for r in range(k)],
    )


def bloom_ngram_decontaminate(corpus: DataFrame, benchmark: DataFrame,
                              n: int = 5, id_col: str = "doc_id",
                              text_col: str = "text", m: int = BLOOM_M,
                              k: int = BLOOM_K) -> DataFrame:
    """Benchmark decontamination through the Bloom sketch: same distinct
    word-``n``-gram semantics as :func:`~kgist_spark.operators.text.
    ngram_decontaminate`, but the structure shipped to every executor is
    the FIXED ≤ m/32-row word table instead of the benchmark's unbounded
    distinct-gram set — the shape that still works when the "benchmark"
    is itself web-scale (e.g. decontaminating against an earlier training
    corpus, where the exact-set broadcast would be terabytes).  Output:
    ``(doc_id, n_doc_grams, n_maybe_hits, flagged)`` — ``maybe`` because
    Bloom admits (deterministic, oracle-replayed) false positives, never
    false negatives.

    Plan shape: k broadcast word-table joins tag each gram in-row, the
    per-document rollup is the only shuffle and moves O(documents) rows
    (same discipline as the exact path; grams dedupe inside the row via
    array_distinct)."""
    from kgist_spark.operators.dedup import fan_out_scan
    from kgist_spark.operators.text import word_ngrams

    grams = F.array_distinct(word_ngrams(text_col, n))
    bench_grams = benchmark.select(F.explode(grams).alias("gram")).distinct()
    bloom = bloom_build(bench_grams, "gram", m=m, k=k)
    cg = fan_out_scan(corpus.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.explode_outer(grams).alias("gram")
    )
    tagged = bloom_maybe_contains(bloom, cg, "gram", m=m, k=k)
    return (
        tagged.groupBy(id_col)
        .agg(
            F.count("gram").alias("n_doc_grams"),
            F.sum(
                F.when(F.col("gram").isNotNull() & F.col("maybe_hit"), 1)
                .otherwise(0)
            ).cast("long").alias("n_maybe_hits"),
        )
        .select(
            id_col, "n_doc_grams", "n_maybe_hits",
            (F.col("n_maybe_hits") > 0).alias("flagged"),
        )
    )


def _bloom_pos_sql(value_expr: str, r: int, m: int) -> str:
    return (f"CAST(('0x' || substr(md5('bloom{r}' || ':' || "
            f"CAST({value_expr} AS VARCHAR)), 1, 15)) AS BIGINT) % {m}")


def bloom_decontaminate_oracle_sql(n: int = 5, m: int = BLOOM_M,
                                   k: int = BLOOM_K,
                                   table: str = "documents",
                                   bench_source: str = "src0") -> str:
    """DuckDB replay of :func:`bloom_ngram_decontaminate` — identical
    seeded bit positions, 32-bit word packing, bit_or words, all-k-bits
    test (false positives and all), per-document distinct grams, and
    gram-less documents restored with zero counts (the exact-path
    oracle's structure)."""
    word = BLOOM_WORD
    build_unions = "\n            UNION ALL ".join(
        f"SELECT {_bloom_pos_sql('gram', r, m)} // {word} AS word_idx,"
        f" (CAST(1 AS BIGINT) << ({_bloom_pos_sql('gram', r, m)} % {word}))"
        f" AS bit FROM bgrams"
        for r in range(k)
    )
    hit_tests = " AND ".join(
        f"(COALESCE(w{r}.bits, 0)"
        f" & (CAST(1 AS BIGINT) << ({_bloom_pos_sql('cg.gram', r, m)}"
        f" % {word}))) != 0"
        for r in range(k)
    )
    hit_joins = "\n        ".join(
        f"LEFT JOIN words w{r} ON w{r}.word_idx ="
        f" {_bloom_pos_sql('cg.gram', r, m)} // {word}"
        for r in range(k)
    )
    return rf"""
    WITH d AS (
        SELECT doc_id, source,
               regexp_split_to_array(trim(text), '\s+') AS toks
        FROM {table}
    ),
    g AS (
        SELECT doc_id, source,
               array_to_string(toks[i : i + {n - 1}], ' ') AS gram
        FROM d, LATERAL (SELECT unnest(generate_series(1, len(toks) - {n - 1}))
                         AS i)
    ),
    bgrams AS (SELECT DISTINCT gram FROM g WHERE source = '{bench_source}'),
    corpus AS (
        SELECT doc_id, gram FROM g WHERE source <> '{bench_source}'
        GROUP BY doc_id, gram
    ),
    words AS (
        SELECT word_idx, CAST(bit_or(bit) AS BIGINT) AS bits FROM (
            {build_unions}
        ) GROUP BY word_idx
    ),
    tagged AS (
        SELECT cg.doc_id,
               CASE WHEN {hit_tests} THEN 1 ELSE 0 END AS maybe
        FROM corpus cg
        {hit_joins}
    ),
    stats AS (
        SELECT doc_id, COUNT(*) AS n_doc_grams, SUM(maybe) AS n_maybe
        FROM tagged GROUP BY doc_id
    )
    SELECT d0.doc_id,
           CAST(COALESCE(s.n_doc_grams, 0) AS BIGINT) AS n_doc_grams,
           CAST(COALESCE(s.n_maybe, 0) AS BIGINT) AS n_maybe_hits,
           COALESCE(s.n_maybe, 0) > 0 AS flagged
    FROM (SELECT doc_id FROM {table} WHERE source <> '{bench_source}') d0
    LEFT JOIN stats s USING (doc_id)
    """
