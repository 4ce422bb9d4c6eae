#!/usr/bin/env python
"""spark-submit entry point for the full KG-construction pipeline.

Cluster:
    zip -r kgist_spark.zip kgist_spark
    spark-submit --py-files kgist_spark.zip run_pipeline.py \
        --input <pages table/parquet path> --out /path/kg_out \
        [--summarize] [--score-anomalies] [--buckets 64]

Local smoke (no cluster):
    python run_pipeline.py --generate 10000 --out /tmp/kg_out --summarize

Under spark-submit the launcher's session is used, so its conf (master,
executors, memory) applies untouched; a plain ``python run_pipeline.py``
starts the engine's default session (``kgist_spark.session.get_spark``).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv=None, spark=None):
    ap = argparse.ArgumentParser()
    src = ap.add_mutually_exclusive_group()
    src.add_argument("--input", help="web-pages parquet path or table (url, warc_ts, html, text, lang)")
    src.add_argument("--generate", type=int, metavar="N_DOCS",
                     help="generate a synthetic corpus of N docs instead")
    ap.add_argument("--out", required=True, help="output directory for KG tables + model")
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--no-canonicalize", action="store_true")
    ap.add_argument("--summarize", action="store_true", help="run KGist MDL summarization")
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--score-anomalies", action="store_true",
                    help="write per-edge anomaly scores (implies --summarize)")
    ap.add_argument("--schema-report", action="store_true",
                    help="after construction, write the per-predicate "
                         "domain/range schema profile and the induced-"
                         "constraint violation audit to <out>/schema_*")
    ap.add_argument("--incremental", action="store_true",
                    help="fold NEW page files under --input into the KG at --out "
                         "(AvailableNow stream; exactly-once per batch, grow-only "
                         "canonical dictionary, per-batch lineage)")
    ap.add_argument("--checkpoint", default=None,
                    help="stream checkpoint dir (default <out>/_checkpoint)")
    ap.add_argument("--compact", action="store_true",
                    help="offline maintenance: merge old dictionary/index/"
                         "size batch partitions at --out into one partition "
                         "each, then exit (run while the stream is stopped)")
    args = ap.parse_args(argv)
    if args.compact and (args.input is not None or args.generate is not None
                         or args.incremental or args.summarize
                         or args.score_anomalies or args.no_canonicalize
                         or args.schema_report
                         or args.checkpoint is not None
                         or args.buckets != ap.get_default("buckets")
                         or args.seed != ap.get_default("seed")
                         or args.passes != ap.get_default("passes")):
        ap.error("--compact is a standalone maintenance mode: run it with "
                 "--out only (it would silently ignore the other flags)")
    if not args.compact and args.input is None and args.generate is None:
        ap.error("one of --input / --generate is required (unless --compact)")
    if args.generate is not None and args.generate < 0:
        ap.error("--generate N_DOCS must be >= 0")
    if args.incremental and not args.input:
        ap.error("--incremental requires --input (a directory new page files land in)")
    if args.incremental and args.no_canonicalize:
        ap.error("--incremental always canonicalizes against the grow-only "
                 "dictionary: --no-canonicalize would be silently ignored")
    if args.checkpoint is not None and not args.incremental:
        ap.error("--checkpoint is the stream checkpoint of --incremental: "
                 "without it the flag would be silently ignored")

    owns_session = spark is None
    if owns_session:
        from kgist_spark.session import entry_session

        spark = entry_session("kgist-pipeline")
        spark.sparkContext.setLogLevel("WARN")

    if args.compact:
        from kgist_spark.streaming.construct import compact_dictionary_state

        t0 = time.time()
        report = compact_dictionary_state(spark, args.out)
        report["compact_sec"] = round(time.time() - t0, 2)
        print(json.dumps(report))
        if owns_session:
            spark.stop()
        return

    from kgist_spark.pipeline.run import construct_kg, summarize_constructed_kg

    def maybe_schema_report(report, triples, labels):
        if not args.schema_report:
            return
        from pyspark.sql import functions as F

        from kgist_spark.operators.graph import (
            predicate_schema,
            schema_violations,
        )

        t3 = time.time()
        lab = labels.select("node", "label")
        prof = predicate_schema(triples.select("subj", "pred", "obj"), lab)
        prof.write.mode("overwrite").parquet(f"{args.out}/schema_profile")
        viol = schema_violations(triples.select("subj", "pred", "obj"), lab)
        viol.write.mode("overwrite").parquet(f"{args.out}/schema_violations")
        agg = viol.agg(
            F.count("*").alias("nc"),
            F.coalesce(F.max("viol_rate_x1e6"), F.lit(0)).alias("mx"),
        ).collect()[0]
        report.update(
            n_schema_constraints=agg["nc"],
            max_viol_rate_x1e6=int(agg["mx"]),
            schema_report_sec=round(time.time() - t3, 2),
        )

    def maybe_summarize(report, triples, labels):
        if not (args.summarize or args.score_anomalies):
            return
        t1 = time.time()
        summ, model = summarize_constructed_kg(triples, labels, passes=args.passes)
        from kgist_spark.sources.model_io import save_model

        meta = save_model(model, f"{args.out}/model", spark=spark)
        report.update(
            n_rules=meta["n_rules"],
            objective_bits=round(meta["objective_bits"], 2),
            pct_edges_explained=round(meta["pct_edges_explained"], 2),
            summarize_sec=round(time.time() - t1, 2),
        )
        if args.score_anomalies:
            from kgist_spark.operators.anomaly import score_edges

            t2 = time.time()
            scored = score_edges(spark, model, triples.select("subj", "pred", "obj"))
            scored.write.mode("overwrite").parquet(f"{args.out}/anomaly_scores")
            report["score_sec"] = round(time.time() - t2, 2)

    t0 = time.time()
    if args.incremental:
        from kgist_spark.streaming.construct import (
            read_incremental_kg,
            run_incremental_construct,
        )

        batches = run_incremental_construct(
            spark, args.input, args.out,
            args.checkpoint or f"{args.out}/_checkpoint",
            n_buckets=args.buckets,
        )
        triples, labels = read_incremental_kg(spark, args.out)
        n_triples = triples.count() if triples is not None else 0
        report = {
            "mode": "incremental",
            "batches": batches,
            "n_triples": n_triples,
            "construct_sec": round(time.time() - t0, 2),
            "out": args.out,
        }
        if triples is not None:
            maybe_summarize(report, triples, labels)
            maybe_schema_report(report, triples, labels)
        print(json.dumps(report))
        if owns_session:
            spark.stop()
        return
    if args.generate is not None:
        from kgist_spark.sources.webpages import generate_pages

        pages = generate_pages(spark, args.generate, seed=args.seed)
        n_docs = args.generate
    else:
        pages = spark.read.parquet(args.input) if "/" in args.input else spark.read.table(args.input)
        n_docs = pages.count()

    triples, labels = construct_kg(
        spark, pages, out_dir=args.out, n_buckets=args.buckets,
        canonicalize=not args.no_canonicalize,
    )
    n_triples = triples.count()
    t_construct = time.time() - t0
    report = {
        "n_docs": n_docs,
        "n_triples": n_triples,
        "construct_sec": round(t_construct, 2),
        "docs_per_sec": round(n_docs / t_construct, 1),
        "out": args.out,
    }

    maybe_summarize(report, triples, labels)
    maybe_schema_report(report, triples, labels)

    print(json.dumps(report))
    if owns_session:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
