"""Stage 3 — KG materialization with per-partition lineage and resumability.

Writes the constructed KG as partitioned tables (parquet locally; the same
layout maps 1:1 onto Iceberg ``writeTo(...).partitionedBy(bucket(N, subj))``
on a cluster):

* ``kg_triples``  — (subj, pred, obj, url, eid, bucket)
* ``kg_labels``   — (node, label, pos, bucket)
* ``kg_adjacency``— (node, dir, pred, neighbor, bucket) adjacency-list view
* ``_manifest.json`` — (table, bucket, n_rows, status, wrote_at) lineage rows

Each table is written by one write action covering all of its missing
buckets, and the three writes are submitted concurrently
(:func:`kgist_spark.session.run_concurrently`); the per-bucket row counts
ride the writes as ``Observation`` metrics.

Resumability: a bucket is recorded in the manifest only after its table's
write is durable.  A restart calls the same ``materialize_kg`` and skips
buckets whose manifest rows are ``done``, so a killed or failed run resumes
idempotently without rewriting finished partitions.

Edge ids: dense and deterministic over (subj, pred, obj, url) — NOT
``monotonically_increasing_id`` (partition-dependent).
:func:`deterministic_dense_ids` numbers rows within hash buckets of that key
and adds each bucket's offset (one small collect of bucket sizes), so no
total sort runs.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import threading
from typing import List

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kgist_spark.session import run_concurrently

MANIFEST = "_manifest.json"


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, MANIFEST)


def read_manifest(out_dir: str) -> List[dict]:
    path = _manifest_path(out_dir)
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _append_manifest(out_dir: str, entry: dict):
    os.makedirs(out_dir, exist_ok=True)
    with open(_manifest_path(out_dir), "a") as f:
        f.write(json.dumps(entry, separators=(",", ":")) + "\n")


def deterministic_dense_ids(df: DataFrame, sort_cols, id_col: str,
                            n_buckets: int = 64) -> DataFrame:
    """Dense ids 0..N-1, deterministic and partitioning-independent, WITHOUT
    a global single-partition sort: rows are hash-bucketed on the sort key,
    numbered per bucket (parallel windows), and offset by the exclusive
    prefix-sum of bucket sizes (one tiny collect).  Never
    ``monotonically_increasing_id`` — that is partition-dependent."""
    bucket = F.pmod(F.hash(*[F.col(c) for c in sort_cols]), F.lit(n_buckets))
    tagged = df.withColumn("_b", bucket)
    sizes = {r["_b"]: r["n"] for r in tagged.groupBy("_b").agg(F.count("*").alias("n")).collect()}
    offsets, acc = {}, 0
    for b in range(n_buckets):
        offsets[b] = acc
        acc += sizes.get(b, 0)
    offset_col = F.coalesce(
        *[F.when(F.col("_b") == b, F.lit(off)) for b, off in offsets.items()]
    ) if offsets else F.lit(0)
    w = Window.partitionBy("_b").orderBy(*sort_cols)
    return (
        tagged.withColumn(id_col, (F.row_number().over(w) - 1 + offset_col).cast("long"))
        .drop("_b")
    )


def observed_bucket_counts(df: DataFrame, buckets, write_action) -> dict:
    """Run ``write_action(df_with_observe)`` and return ``{bucket: n_rows}``
    for the given bucket ids, measured by ``Observation`` metrics riding the
    write's own rows — zero extra jobs, no second scan of the written data.
    One conditional-sum aggregate per bucket: cheap map-side arithmetic even
    at hundreds of buckets, vs. a whole follow-up count job.

    Past ~1024 buckets the per-row expression list stops being cheap (every
    row evaluates every bucket predicate), so very wide layouts fall back to
    one post-write groupBy-count job — one extra scan beats a 10^4-term
    projection on every written row."""
    from pyspark.sql import Observation

    buckets = list(buckets)
    if len(buckets) > 1024:
        write_action(df)
        got = {
            r["bucket"]: r["n"]
            for r in df.groupBy("bucket").agg(F.count("*").alias("n")).collect()
        }
        return {b: int(got.get(b, 0)) for b in buckets}

    obs = Observation()
    df = df.observe(
        obs,
        *[
            F.coalesce(
                F.sum((F.col("bucket") == b).cast("long")), F.lit(0)
            ).alias(f"b{b}")
            for b in buckets
        ],
    )
    write_action(df)
    got = obs.get
    return {b: int(got[f"b{b}"]) for b in buckets}


def with_eids(triples: DataFrame) -> DataFrame:
    """Deterministic sequential edge ids (duplicates keep distinct ids, all
    count toward m — reference loader semantics)."""
    return deterministic_dense_ids(triples, ["subj", "pred", "obj", "url"], "eid")


def bucketed(df: DataFrame, key: str, n_buckets: int) -> DataFrame:
    return df.withColumn("bucket", F.pmod(F.hash(F.col(key)), F.lit(n_buckets)))


def adjacency(triples: DataFrame) -> DataFrame:
    """Adjacency-list view: one row per (node, direction, pred, neighbor);
    both directions come from one exploded scan of the triples."""
    entries = F.array(
        F.struct(
            F.col("subj").alias("node"), F.lit("out").alias("dir"),
            F.col("pred").alias("pred"), F.col("obj").alias("neighbor"),
        ),
        F.struct(
            F.col("obj").alias("node"), F.lit("in").alias("dir"),
            F.col("pred").alias("pred"), F.col("subj").alias("neighbor"),
        ),
    )
    return triples.select(F.explode(entries).alias("a")).select(
        "a.node", "a.dir", "a.pred", "a.neighbor"
    )


def materialize_kg(spark: SparkSession, triples: DataFrame, labels: DataFrame,
                   out_dir: str, n_buckets: int = 8) -> dict:
    """Write the three KG tables bucket-by-bucket with manifest lineage;
    resumes past buckets already marked done.  Returns a summary dict."""
    done = {
        (e["table"], e["bucket"]) for e in read_manifest(out_dir) if e["status"] == "done"
    }
    manifest_lock = threading.Lock()

    def _write_table(name: str, build) -> int:
        missing = [b for b in range(n_buckets) if (name, b) not in done]
        if not missing:
            return 0
        # Cluster by the bucket column before the partitioned write: without
        # it every upstream task writes a file per bucket it holds
        # (tasks × buckets files — a small-file explosion at scale and slow
        # commits even locally).  After the repartition each task holds
        # O(1) buckets, so files-per-bucket is bounded.  If single buckets
        # outgrow a task at extreme scale, salt the repartition key with
        # pmod(hash(<row key>), files_per_bucket) — the write layout is
        # unchanged, only the file count per bucket directory grows.
        part = (
            build().where(F.col("bucket").isin(missing))
            .repartition(len(missing), F.col("bucket"))
        )
        # ONE write job for all missing buckets (dynamic partition overwrite
        # touches only those directories); the per-bucket lineage counts ride
        # the write itself as Observation metrics — a follow-up
        # groupBy(bucket).count() would be a second full scan of the written
        # data and one more job in the driver-latency tail per table
        counts = observed_bucket_counts(
            part, missing,
            lambda obs_part: obs_part.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(os.path.join(out_dir, name)),
        )
        now = _dt.datetime.now(_dt.timezone.utc).isoformat()
        with manifest_lock:
            for b in missing:
                _append_manifest(
                    out_dir,
                    {
                        "table": name,
                        "bucket": b,
                        "n_rows": counts.get(b, 0),
                        "status": "done",
                        "wrote_at": now,
                    },
                )
        return len(missing)

    # the three tables share no intermediate (the adjacency view does not
    # read eids), so their writes run as concurrent jobs.  Each frame is
    # built inside its thunk, only when the table has buckets to write, so
    # with_eids' offset collect overlaps the other writes and a resume past
    # a finished kg_triples skips it
    written = sum(run_concurrently(
        lambda: _write_table(
            "kg_triples", lambda: bucketed(with_eids(triples), "subj", n_buckets)),
        lambda: _write_table(
            "kg_labels", lambda: bucketed(labels, "node", n_buckets)),
        lambda: _write_table(
            "kg_adjacency", lambda: bucketed(adjacency(triples), "node", n_buckets)),
    ))
    return {"written": written, "skipped": 3 * n_buckets - written,
            "n_buckets": n_buckets}


def read_kg(spark: SparkSession, out_dir: str):
    """Load the materialized KG back (all buckets)."""
    triples = spark.read.option("basePath", os.path.join(out_dir, "kg_triples")).parquet(
        os.path.join(out_dir, "kg_triples", "bucket=*")
    )
    labels = spark.read.option("basePath", os.path.join(out_dir, "kg_labels")).parquet(
        os.path.join(out_dir, "kg_labels", "bucket=*")
    )
    return triples, labels
