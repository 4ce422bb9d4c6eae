"""Fixed-point Lloyd k-means over embedding columns + SemDeDup-style
semantic dedup (intra-cluster cosine pruning).

No reference counterpart (`/root/reference/` has no vector stage); this is
the clustering leg of the dedup/ANN family: k-means buckets the corpus into
semantically coherent cells, and near-duplicate PAIRS are then searched
only WITHIN a cell — the SemDeDup recipe (Abbas et al. 2023): at web scale
``k`` grows with the corpus (k ≈ n / target_cell_size), so per-cell work
stays O((n/k)²) bounded and the all-pairs O(n²) never materializes.

Determinism discipline (bit-identical at any parallelism AND replayable in
ANSI SQL):

* Every centroid coordinate lives in **positive fixed-point offset space**:
  ``fp(x) = cast(round(x * 1e6) as long) + 2^21``.  The offset keeps every
  operand positive, so Spark's truncating ``div`` and DuckDB's ``//`` agree
  (floor == trunc for positives), and it cancels in every distance:
  (a+o)-(b+o) = a-b.
* Assignment = argmin of INTEGER squared distances, ties to the smaller
  cluster id (lexicographic ``struct(dist, cid)`` min) — no float order
  anywhere, so reassignment is reproducible row-by-row.
* Centroid update = per-dimension ``sum div count`` on longs — integer
  addition commutes, so partition order cannot change the result (a float
  mean here would drift between engines and between runs).
* Iteration count is FIXED (no convergence float test); the DuckDB oracle
  unrolls it as chained CTEs like ``components.minlabel_oracle_sql``.

Scale shape — TWO gated assignment strategies, same arithmetic:

* ``k ≤ large_k_gate`` (**literal path**): each assignment pass is ONE
  in-row projection against k literal centroid arrays (zero shuffle — the
  IVF pattern) and the update collects the k × dim grouped means to the
  driver.  Cheapest at small k; the expression tree and the per-iteration
  driver transfer both grow with k × dim, which is exactly what breaks at
  the SemDeDup-realistic k ≈ n / cell_size (10⁴-10⁵ on a web corpus:
  ~10⁷ literals in one SQL expression — parser/codegen/driver blowup).
* ``k > large_k_gate`` (**table path**): centroids live in a k-row
  DataFrame ``(cid, c: array<long>)`` that is packed into ONE array-of-
  structs row and broadcast; assignment is the SAME
  ``array_min(transform(...))`` integer argmin, but over the broadcast
  column instead of literals — the plan is O(1) in k, centroids travel as
  DATA.  The update never leaves the cluster: grouped integer means are
  re-assembled into the next centroid table (k rows) and
  ``localCheckpoint``-ed; the driver transfers O(k) rows ONCE at the end
  (the returned centroid list), never per iteration.

Both paths share the seed rule, the offset-space arithmetic, and the
struct-min tie-break, so they are bit-identical on the same input
(pinned by a test) and the DuckDB oracle replays either.  Bounds:
``KM_MIN_X ≤ x ≤ sqrt(KM_DIST_HEADROOM / dim)`` pre-scale (offset
positivity below; a DIM-AWARE int64 ceiling above, because the
assignment distance sums ``dim`` squared operand differences — a flat
per-element cap that ignores dim admits inputs whose distance SUM wraps
int64 silently on Spark while DuckDB raises) — ENFORCED in :func:`_fp`,
because a violation silently de-syncs Spark's truncating ``div`` from
DuckDB's flooring ``//`` on negative operands (below) or wraps the
distance accumulator (above).  Per-cluster mean sums stay safe for
clusters up to ``int64_max / max_operand`` rows (≥3.6e10 at dim=64).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: micro-units per 1.0 of embedding value
KM_SCALE = 1_000_000
#: added to every scaled component so all fixed-point operands are positive
KM_OFFSET = 1 << 21
#: pre-scale input bounds enforced by :func:`_fp`.  The LOWER bound is the
#: one that guards cross-engine parity: x < -OFFSET/SCALE makes the scaled
#: operand negative, where Spark's truncating ``div`` and DuckDB's flooring
#: ``//`` disagree.  The UPPER bound is dim-aware: the assignment sums dim
#: squared diffs, each ≤ max_operand², so max_operand = sqrt(HEADROOM/dim)
#: keeps the whole distance inside int64 (HEADROOM = 4e18 leaves >2× margin
#: under int64_max ≈ 9.22e18).  At dim=2 that allows |x| ≲ 1412; at dim=64,
#: |x| ≲ 248; at dim=1024, |x| ≲ 60 — embeddings are unit-ish scaled, so
#: real inputs sit orders of magnitude below the bound.
KM_MIN_X = -(KM_OFFSET / KM_SCALE)  # ≈ -2.097152
KM_DIST_HEADROOM = 4_000_000_000_000_000_000  # int64 budget for one distance
#: above this k, assignment switches from k literal arrays in the plan to a
#: broadcast centroid TABLE (plan size O(1) in k, update stays distributed)
LARGE_K_GATE = 256


def _fp(vec_col: str):
    """array<float> -> array<long> in positive fixed-point offset space.

    Enforces ``KM_MIN_X ≤ x`` and ``operand ≤ sqrt(KM_DIST_HEADROOM /
    dim)``: below the lower bound the scaled value overruns the offset,
    operands go negative, and Spark ``div`` (truncate) diverges from
    DuckDB ``//`` (floor) — a silent cross-engine parity break; above the
    dim-aware upper bound the SUM of dim squared diffs wraps int64 on
    Spark (non-ANSI long arithmetic is silent) while DuckDB raises — the
    other silent de-sync.  The guard is a JVM-side ``assert_true`` folded
    into the arithmetic as ``+ 0`` (coalesce of its NULL-on-success), so
    the checked plan stays one codegen projection; the bound is computed
    from ``size(vec)`` per row (an outer-column reference inside the
    ``transform`` lambda), so mixed-dim inputs are each held to their own
    safe ceiling."""
    max_op = F.floor(
        F.sqrt(F.lit(float(KM_DIST_HEADROOM)) / F.size(F.col(vec_col)).cast("double"))
    ).cast("long")
    guard_msg = F.concat(
        F.lit(
            f"kmeans fixed-point input out of range: x must be >= {KM_MIN_X} "
            f"(offset-space positivity) and the scaled operand <= "
        ),
        max_op.cast("string"),
        F.lit(
            " = sqrt(KM_DIST_HEADROOM/dim) (int64 distance headroom); "
            "rescale embeddings before kmeans_fit"
        ),
    )
    return F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * KM_SCALE).cast("long")
        + F.lit(KM_OFFSET).cast("long")
        + F.coalesce(
            F.assert_true(
                (x.cast("double") >= KM_MIN_X)
                & (
                    F.round(x.cast("double") * KM_SCALE).cast("long")
                    + F.lit(KM_OFFSET).cast("long")
                    <= max_op
                ),
                guard_msg,
            ).cast("long"),
            F.lit(0).cast("long"),
        ),
    )


def _assign(fp_df: DataFrame, cents: list) -> DataFrame:
    """Add ``cluster`` = argmin integer squared distance to the literal
    centroids (ties to the smaller cid — lexicographic struct min).  One
    in-row projection, built as a SINGLE generated SQL expression: the
    equivalent Column-algebra construction costs one py4j round trip per
    literal (k × dim of them) and measured ~2 s PER ITERATION at k=8,
    dim=64 before any row was touched; one expr string parses JVM-side in
    milliseconds.  Small-k only — the expression tree grows with k × dim;
    :func:`_assign_table` is the same argmin over a broadcast TABLE."""
    parts = []
    for cid, c in enumerate(cents):
        arr = ",".join(f"{int(v)}L" for v in c)
        parts.append(
            f"named_struct('dist', aggregate(zip_with(e, array({arr}),"
            f" (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x),"
            f" 'cid', {cid})"
        )
    return fp_df.withColumn(
        "cluster", F.expr(f"array_min(array({','.join(parts)})).cid")
    )


#: the table-path argmin: identical struct-min/tie-break semantics to
#: :func:`_assign`, but iterating a broadcast ``cents`` column (array of
#: ``(cid, c)`` structs, sorted by cid) instead of k inlined literals —
#: the parsed plan is O(1) in k.
_ASSIGN_TABLE_EXPR = (
    "array_min(transform(cents, ct -> named_struct("
    "'dist', aggregate(zip_with(e, ct.c, (a, b) -> (a - b) * (a - b)),"
    " 0L, (acc, x) -> acc + x),"
    " 'cid', ct.cid))).cid"
)


def _pack_cents(cent_df: DataFrame) -> DataFrame:
    """k-row ``(cid, c)`` table -> ONE row ``cents: array<struct<cid,c>>``
    sorted by cid (array_sort on structs orders by the first field, so the
    argmin's first-wins tie-break sees ascending cids — same order the
    literal path enumerates)."""
    return cent_df.agg(
        F.array_sort(F.collect_list(F.struct("cid", "c"))).alias("cents")
    )


def _assign_table(fp_df: DataFrame, cent_df: DataFrame) -> DataFrame:
    """Large-k assignment: broadcast the packed centroid row into a
    nested-loop join (1 row — no shuffle of ``fp_df``) and run the shared
    integer argmin over it.  Centroids travel as DATA, so the plan neither
    re-parses nor re-compiles as k grows."""
    return (
        fp_df.join(F.broadcast(_pack_cents(cent_df)))
        .withColumn("cluster", F.expr(_ASSIGN_TABLE_EXPR))
        .drop("cents")
    )


def _update_table(assigned: DataFrame, cent_df: DataFrame) -> DataFrame:
    """Distributed Lloyd update: grouped integer means re-assembled into
    the next ``(cid, c)`` table.  Empty clusters keep their previous
    centroid via the left join — nothing is collected to the driver."""
    new = (
        assigned.select("cluster", F.posexplode("e").alias("d", "v"))
        .groupBy("cluster", "d")
        .agg(F.expr("sum(v) div count(*)").alias("m"))
        .groupBy("cluster")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(d, m))), s -> s.m)"
            ).alias("c_new")
        )
        .withColumnRenamed("cluster", "cid")
    )
    return cent_df.join(new, "cid", "left").select(
        "cid", F.coalesce("c_new", "c").alias("c")
    )


def kmeans_fit(embeddings: DataFrame, k: int = 8, n_iter: int = 3,
               id_col: str = "vec_id", vec_col: str = "embedding",
               large_k_gate: int = LARGE_K_GATE,
               centroids: list | None = None):
    """Run ``n_iter`` fixed-point Lloyd iterations; returns
    ``(assignments_df, centroids)`` where assignments are
    ``(id_col, cluster)`` under the FINAL centroids and ``centroids`` is a
    ``k × dim`` list of offset-space longs.

    Init: the embeddings of the ``k`` smallest ``md5(id)`` values (ties by
    id) — a deterministic HASH-SPREAD draw, so seeds come from all over
    the table instead of its head: a front-of-table degenerate region
    (constant boilerplate embeddings with the smallest ids) would hand a
    first-k init k identical seeds and collapse every cell into one.
    md5-order is engine-portable (one expression in both Spark and the
    DuckDB oracle) and independent of row order.  kmeans++ is deliberately
    EXCLUDED: its seed choice consumes an RNG stream ordered by float
    distances, which is neither cross-engine replayable nor stable under
    re-partitioning — the engine contract here is bit-reproducibility;
    quality-sensitive users pass more iterations or a larger k.

    ``k > large_k_gate`` switches to the table path (see module
    docstring): same seeds, same integer arithmetic, same tie-break —
    bit-identical assignments (pinned by ``test_kmeans.py``) — but the
    centroids stay in a k-row DataFrame end to end; the only driver
    transfer is the final returned centroid list (k rows, once).

    ``centroids`` short-circuits the fit: when a previously returned
    centroid list is passed back, no iterations run — the call is ONE
    assignment pass under those exact centroids (identical output to the
    fit that produced them, since the returned assignment is always the
    argmin under the FINAL centroids).  This is the production shape for
    a pipeline with several downstream consumers of one fit (assignment
    table, SemDeDup pairs, keeper metric): fit once, reuse everywhere —
    the offset-space longs are engine- and session-independent data."""
    if centroids is not None:
        fp = embeddings.select(F.col(id_col), _fp(vec_col).alias("e"))
        cents = [[int(v) for v in c] for c in centroids]
        if len(cents) <= large_k_gate:
            return _assign(fp, cents).select(F.col(id_col), "cluster"), cents
        cent_df = embeddings.sparkSession.createDataFrame(
            [(cid, c) for cid, c in enumerate(cents)], "cid int, c array<long>"
        )
        return (
            _assign_table(fp, cent_df).select(F.col(id_col), "cluster"),
            cents,
        )
    fp = embeddings.select(F.col(id_col), _fp(vec_col).alias("e")).localCheckpoint()
    seed_key = [F.md5(F.col(id_col).cast("string")), F.col(id_col)]
    if k <= large_k_gate:
        cents = [
            [int(v) for v in r["e"]]
            for r in fp.orderBy(*seed_key).limit(k).collect()
        ]
        k = len(cents)  # a corpus smaller than k seeds fewer cells
        for _ in range(n_iter):
            assigned = _assign(fp, cents)
            rows = (
                assigned.select("cluster", F.posexplode("e").alias("d", "v"))
                .groupBy("cluster", "d")
                .agg(F.expr("sum(v) div count(*)").alias("m"))
                .collect()
            )
            by_cluster: dict = {}
            for r in rows:
                by_cluster.setdefault(r["cluster"], {})[r["d"]] = r["m"]
            cents = [
                [dims[d] for d in sorted(dims)] if (dims := by_cluster.get(cid))
                else cents[cid]  # empty cluster keeps its previous centroid
                for cid in range(k)
            ]
        return _assign(fp, cents).select(F.col(id_col), "cluster"), cents
    # ---- table path: centroids never touch the driver until the end ----
    # seeds = k smallest md5(id), numbered 0..k-1 in md5 order (the window
    # runs over the k LIMIT-ed rows only, so the single-partition sort is
    # k rows, not n)
    cent_df = (
        fp.orderBy(*seed_key).limit(k)
        .select(
            (F.row_number().over(Window.orderBy(*seed_key)) - 1).alias("cid"),
            F.col("e").alias("c"),
        )
        .localCheckpoint()
    )
    for _ in range(n_iter):
        assigned = _assign_table(fp, cent_df)
        # k-row eager checkpoint per iteration: truncates the otherwise
        # exponentially nesting plan and materializes the update ONCE
        cent_df = _update_table(assigned, cent_df).localCheckpoint()
    final = _assign_table(fp, cent_df).select(F.col(id_col), "cluster")
    cents = [
        [int(v) for v in r["c"]] for r in cent_df.orderBy("cid").collect()
    ]
    return final, cents


def semdedup_pairs(embeddings: DataFrame, k: int = 8, n_iter: int = 3,
                   threshold: float = 0.4, id_col: str = "vec_id",
                   vec_col: str = "embedding", max_cell: int = 100_000,
                   drop_stats=None,
                   large_k_gate: int = LARGE_K_GATE,
                   centroids: list | None = None) -> DataFrame:
    """SemDeDup: exact-cosine near-duplicate pairs restricted to k-means
    cells — ``(a, b, cluster, cosine)`` with cosine rounded to 5 decimals
    and ``a < b``.  The cell equi-join is the blocking structure: per-cell
    candidate volume is O((n/k)²) and the cosine runs JVM-side on the
    joined rows (same expression class as ``cosine_topk``, whose oracle
    parity pins the rounding).

    ``max_cell`` guards the same quadratic hazard every capped LSH path
    guards: a degenerate cell (a near-constant embedding region, or a k
    chosen far too small for the corpus) would make the self-join emit
    O(cell²) rows from one key.  Over-cap cells are excluded BEFORE the
    join (two-phase — sizes first, never a collect of members) and the
    loss is counted on ``drop_stats`` (an ``Observation``; readable after
    the first action with zero extra jobs — no silent caps)."""
    assigned, _ = kmeans_fit(embeddings, k=k, n_iter=n_iter,
                             id_col=id_col, vec_col=vec_col,
                             large_k_gate=large_k_gate, centroids=centroids)
    return _cell_pairs(embeddings, assigned, threshold, id_col, vec_col,
                       max_cell, drop_stats)


def _cell_pairs(embeddings: DataFrame, assigned: DataFrame, threshold: float,
                id_col: str, vec_col: str, max_cell: int,
                drop_stats) -> DataFrame:
    """The cell-restricted exact-cosine pair kernel shared by
    :func:`semdedup_pairs` and :func:`semdedup_keep_best` (one k-means fit
    feeds both the pairs and the keeper choice)."""
    from kgist_spark.operators.similarity import _dot, _norm

    sizes = assigned.groupBy("cluster").agg(F.count("*").alias("cell_n"))
    if drop_stats is not None:
        # one row per cell here, so plain sums count the drops (observed
        # metrics reject distinct aggregates)
        over = F.col("cell_n") > max_cell
        sizes = sizes.observe(
            drop_stats,
            F.coalesce(F.sum(over.cast("long")), F.lit(0)).alias("dropped_cells"),
            F.coalesce(
                F.sum(F.when(over, F.col("cell_n")).otherwise(0)), F.lit(0)
            ).alias("dropped_ids"),
        ).localCheckpoint()
        # ^ the eager checkpoint (a k-row job) fires the observation
        # unconditionally: left inside the pair query, AQE's empty-relation
        # propagation ELIMINATES the observe node whenever the capped join
        # comes back empty — losing the metric exactly when everything was
        # dropped.  The join below reuses the materialized sizes.
    assigned = assigned.join(sizes, "cluster").where(F.col("cell_n") <= max_cell)
    # norms are per-VECTOR, so compute them on the O(n) side BEFORE the
    # pair join, not per pair: higher-order array folds are interpreted
    # (no codegen), and paying 3 of them per O(cell²) pair row instead of
    # 1 measured 4.8 s vs 1.8 s on 250k pairs.  Same expression, same fold
    # order, same double — the hoist is bit-identical (pinned: 0 rounded
    # mismatches over the full pair set), only the row count it runs at
    # changes.
    side = embeddings.join(assigned, id_col).select(
        F.col(id_col), F.col("cluster"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    side = side.withColumn("nrm", _norm(F.col("v")))
    a = side.select(F.col(id_col).alias("a"), "cluster",
                    F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = side.select(F.col(id_col).alias("b"),
                    F.col("cluster").alias("cluster_b"),
                    F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    cos = F.round(
        _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
        5,
    )
    return (
        a.join(b, (F.col("cluster") == F.col("cluster_b")) & (F.col("a") < F.col("b")))
        .select("a", "b", "cluster", cos.alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def semdedup_keep_table(embeddings: DataFrame, k: int = 8, n_iter: int = 3,
                        threshold: float = 0.4, id_col: str = "vec_id",
                        vec_col: str = "embedding", max_cell: int = 100_000,
                        drop_stats=None,
                        large_k_gate: int = LARGE_K_GATE,
                        centroids: list | None = None) -> DataFrame:
    """The semantic-dedup DECISION table — ``(id, keep_id, is_dup)`` for
    every vector: :func:`semdedup_pairs` closed into clusters by
    distributed connected components, each cluster keeping its minimum id.
    This is what a pipeline actually APPLIES (filter ``is_dup``), the
    SemDeDup analogue of the near-dup families' decision tables
    (``kgist_spark.operators.dedup.neardup_keep_table``), and it reuses
    their component/closure machinery and oracle pattern verbatim.

    Scale shape: the pair graph is dedup-sparse (|pairs| << |vectors| at a
    meaningful threshold), so components run on the pair graph only; the
    final assembly is ONE left join of the corpus against the
    (node, component) table."""
    from kgist_spark.operators.components import connected_components

    # materialize the sparse pair set ONCE: connected_components issues
    # several actions (size probe + convergence probes) and each would
    # otherwise re-run the whole kmeans + cell-join pipeline
    pairs = semdedup_pairs(
        embeddings, k=k, n_iter=n_iter, threshold=threshold, id_col=id_col,
        vec_col=vec_col, max_cell=max_cell, drop_stats=drop_stats,
        large_k_gate=large_k_gate, centroids=centroids,
    ).localCheckpoint()
    comp = connected_components(pairs.select("a", "b"), "a", "b")
    return (
        embeddings.select(F.col(id_col))
        .join(comp.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("component", id_col).alias("keep_id"),
        )
        .withColumn("is_dup", F.col("keep_id") != F.col(id_col))
    )


def semdedup_keep_best(embeddings: DataFrame, k: int = 8, n_iter: int = 3,
                       threshold: float = 0.4, id_col: str = "vec_id",
                       vec_col: str = "embedding", max_cell: int = 100_000,
                       drop_stats=None,
                       large_k_gate: int = LARGE_K_GATE,
                       centroids: list | None = None) -> DataFrame:
    """Keep-BEST semantic dedup: each duplicate cluster keeps the member
    FARTHEST from its k-means cell centroid — SemDeDup's published keeper
    rule (Abbas et al. 2023 keep the lowest-centroid-similarity example:
    near-dup groups sit in a tight ball, and retaining the edge member
    preserves more diversity than the min-id representative).  Distance is
    the SAME integer offset-space metric the assignment uses (ties to the
    smaller id), so the keeper choice is bit-deterministic and replayed by
    the oracle from the unrolled centroid CTEs.

    Scale shape mirrors :func:`semdedup_keep_table`: one k-means fit feeds
    both the pair kernel and the keeper metric; components run on the
    sparse pair graph; the distance computation touches only component
    MEMBERS (semi-joined) against a k-row centroid table; final assembly
    is one left join of the corpus."""
    from kgist_spark.operators.components import connected_components

    assigned, cents = kmeans_fit(embeddings, k=k, n_iter=n_iter,
                                 id_col=id_col, vec_col=vec_col,
                                 large_k_gate=large_k_gate,
                                 centroids=centroids)
    assigned = assigned.localCheckpoint()  # reused by pairs AND keeper metric
    pairs = _cell_pairs(embeddings, assigned, threshold, id_col, vec_col,
                        max_cell, drop_stats).localCheckpoint()
    comp = connected_components(pairs.select("a", "b"), "a", "b")

    spark = embeddings.sparkSession
    cent_df = spark.createDataFrame(
        [(cid, [int(v) for v in c]) for cid, c in enumerate(cents)],
        "cid int, c array<long>",
    )
    # members only: fixed-point vectors + their cell centroid + distance
    members = (
        comp.withColumnRenamed("node", id_col)
        .join(assigned, id_col)
        .join(embeddings.select(F.col(id_col), _fp(vec_col).alias("e")), id_col)
        .join(F.broadcast(cent_df), F.col("cluster") == F.col("cid"))
        .select(
            id_col, "component",
            F.expr(
                "aggregate(zip_with(e, c, (a, b) -> (a - b) * (a - b)),"
                " 0L, (acc, x) -> acc + x)"
            ).alias("cdist"),
        )
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("cdist"), F.asc(id_col)
    )
    keeper = (
        members.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(F.col("component"), F.col(id_col).alias("best_id"))
    )
    resolved = (
        comp.withColumnRenamed("node", id_col)
        .join(keeper, "component")
        .select(id_col, F.col("best_id").alias("keep_id"))
    )
    return (
        embeddings.select(F.col(id_col))
        .join(resolved, id_col, "left")
        .select(
            id_col,
            F.coalesce("keep_id", F.col(id_col)).alias("keep_id"),
        )
        .withColumn("is_dup", F.col("keep_id") != F.col(id_col))
    )
