#!/usr/bin/env python
"""Two-parallelism scaling benchmark (the sandbox proxy for N vs 4N
executors): run the identical stage-1 extraction job over the identical
parquet web-page corpus at local[N] and local[4N] and report throughput at
both plus scaling efficiency = throughput(4N) / (4 * throughput(N)).

Shape matches production: the corpus is written to parquet once (setup, not
timed); the timed job is scan -> extract -> count, with column pruning
keeping the html bytes out of the scan.  Each parallelism level runs in a
fresh subprocess (own JVM) with 3 timed repetitions, best-of reported.

Engines (``SPARK_GRAFT_SCALING_ENGINE``): ``jvm`` (default) times the
all-Catalyst extractor, ``extract_facts_jvm``'s triples, with no Python
workers; ``pipeline`` times the whole 3-stage ``construct_kg``, bucketed
table writes included.

N defaults to a quarter of the host's cores (``local_cpus() // 4``, at
least 1), so the 4N run fits the host: on a host with fewer than 4N cores
the 4N run oversubscribes and the efficiency measures that, not Spark.
The corpus is generated on a session of the host's own cores
(``get_spark``'s default).  Override with SPARK_GRAFT_SCALING_N /
SPARK_GRAFT_SCALING_DOCS / SPARK_GRAFT_SCALING_CORPUS.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

from kgist_spark.session import local_cpus

GEN = """
import sys
n_docs = int(sys.argv[1]); out = sys.argv[2]
from kgist_spark.session import get_spark
from kgist_spark.sources.webpages import World, generate_pages
spark = get_spark(app_name="scaling-gen")
spark.sparkContext.setLogLevel("ERROR")
generate_pages(spark, n_docs, seed=42, world=World(42),
               num_partitions=256).write.mode("overwrite").parquet(out)
spark.stop()
"""

WORKER = """
import json, os, shutil, sys, tempfile, time
cpus = int(sys.argv[1]); corpus = sys.argv[2]
engine = os.environ.get("SPARK_GRAFT_SCALING_ENGINE", "jvm")
from kgist_spark.session import get_spark
if engine == "jvm":
    from kgist_spark.pipeline.extract_jvm import extract_facts_jvm
    def extract(df):
        return extract_facts_jvm(df).where("kind = 't'")
elif engine == "pipeline":
    from kgist_spark.pipeline.run import construct_kg
else:
    sys.exit(f"SPARK_GRAFT_SCALING_ENGINE must be jvm or pipeline, not {engine!r}")
spark = get_spark(app_name=f"scaling-{cpus}", cpus=cpus)
spark.sparkContext.setLogLevel("ERROR")
pages = spark.read.parquet(corpus)
n_docs = pages.count()
runs = []
if engine == "pipeline":
    # full 3-stage construct incl. bucketed-table materialization — the
    # north rule's "whole pipeline at N and 4N" criterion, not just stage 1
    construct_kg(spark, pages.limit(20000), out_dir=None)   # warm-up
    for _ in range(3):
        out = tempfile.mkdtemp(prefix="scaling_kg_")
        t0 = time.perf_counter()
        triples, labels = construct_kg(spark, pages, out_dir=out)
        runs.append(time.perf_counter() - t0)
        n = triples.count()
        triples.unpersist(); labels.unpersist()
        spark.catalog.clearCache()   # each rep fully cold (plan-equality cache)
        shutil.rmtree(out, ignore_errors=True)
else:
    extract(pages.limit(20000)).count()   # warm-up
    for _ in range(3):
        t0 = time.perf_counter()
        n = extract(pages).count()
        runs.append(time.perf_counter() - t0)
best = min(runs)
print(json.dumps({"cpus": cpus, "engine": engine, "n_docs": n_docs,
                  "sec": round(best, 3),
                  "docs_per_sec": round(n_docs / best, 1), "n_triples": n,
                  "runs": [round(r, 3) for r in runs]}))
spark.stop()
"""


def _sub(code: str, *args: str) -> str:
    out = subprocess.run(
        [sys.executable, "-c", code, *args],
        capture_output=True, text=True, check=True,
        cwd=os.path.dirname(os.path.abspath(__file__)),
    )
    return out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""


def main():
    n_docs = int(os.environ.get("SPARK_GRAFT_SCALING_DOCS", "1000000"))
    n_low = int(os.environ.get("SPARK_GRAFT_SCALING_N") or max(1, local_cpus() // 4))
    corpus = os.environ.get(
        "SPARK_GRAFT_SCALING_CORPUS",
        os.path.join(tempfile.gettempdir(), f"kgist_scaling_corpus_{n_docs}"),
    )
    if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
        _sub(GEN, str(n_docs), corpus)

    lo = json.loads(_sub(WORKER, str(n_low), corpus))
    hi = json.loads(_sub(WORKER, str(4 * n_low), corpus))
    efficiency = hi["docs_per_sec"] / (4 * lo["docs_per_sec"])
    print(json.dumps({
        "metric": f"scaling_efficiency_{n_low}_to_{4 * n_low}",
        "value": round(efficiency, 4),
        "unit": "ratio",
        "low": lo,
        "high": hi,
    }))


if __name__ == "__main__":
    main()
