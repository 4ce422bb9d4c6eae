"""A5 — distributed label qualification support.

``shared_head_labels``: for every candidate rule, the labels carried by ALL
of its assertion heads (the reference intersects head label sets in a Python
loop, ``searcher.py:137-147``; here it is heads ⋈ labels → group-by-having
count == #heads — no per-row Python).

``nodes_with_all_labels``: batch multi-label intersection counts (the
``nodes_with_type`` the qualification MDL test needs for its proposed
multi-label roots), one job for all proposed label sets.
"""

from __future__ import annotations

from typing import Dict, Iterable, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgist_spark.operators.candidates import KEY
from kgist_spark.sources.local import local_frame


def shared_head_labels(cand_edges: DataFrame, labels_flat: DataFrame) -> DataFrame:
    """``(root_label, pred, dir, child_label, shared_labels array<string>)``
    for candidates whose heads share more labels than the root alone.

    ``shared_labels`` is sorted (the reference emits ``tuple(sorted(...))``)."""
    heads = cand_edges.select(*KEY, F.col("root_node").alias("node")).distinct()
    n_heads = heads.groupBy(*KEY).agg(F.count("*").alias("n_cas"))
    per_label = (
        heads.join(labels_flat.select("node", "label"), "node")
        .groupBy(*KEY, "label")
        .agg(F.count("*").alias("n_with"))
    )
    shared = (
        per_label.join(n_heads, KEY)
        .where(F.col("n_with") == F.col("n_cas"))
        .groupBy(*KEY)
        .agg(F.array_sort(F.collect_list("label")).alias("shared_labels"))
    )
    # keep only rules where the shared set is more than just the root label
    return shared.where(
        ~((F.size("shared_labels") == 1) & (F.col("shared_labels")[0] == F.col("root_label")))
    )


def nodes_with_all_labels(labels_flat: DataFrame,
                          label_sets: Iterable[Tuple[str, ...]]) -> Dict[tuple, int]:
    """Count nodes carrying ALL labels of each set — one distributed job for
    every proposed set (P2 at batch scale)."""
    label_sets = [tuple(s) for s in label_sets]
    if not label_sets:
        return {}
    spark = labels_flat.sparkSession
    rows = [
        (i, label, len(s)) for i, s in enumerate(label_sets) for label in set(s)
    ]
    # label dtype follows the input (string vocabulary or idified ints)
    label_type = dict(labels_flat.dtypes)["label"]
    sets_df = F.broadcast(
        local_frame(spark, rows, f"set_id int, label {label_type}, set_size int")
    )
    counts = (
        labels_flat.select("node", "label").distinct()
        .join(sets_df, "label")
        .groupBy("node", "set_id", "set_size")
        .agg(F.count("*").alias("k"))
        .where(F.col("k") == F.col("set_size"))
        .groupBy("set_id")
        .agg(F.count("*").alias("n_nodes"))
    )
    got = {r["set_id"]: r["n_nodes"] for r in counts.collect()}
    return {s: got.get(i, 0) for i, s in enumerate(label_sets)}
