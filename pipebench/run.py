#!/usr/bin/env python3
"""Pipeline benchmark of record.

One run (what ``BENCHMARK.json`` names):

    python3 pipebench/run.py --workload pipeline_large_vocab --seed 1 \\
        --seconds 40 --trace 0

starts a Spark session sized to the machine, prepares the workload's inputs
from ``--seed`` (set-up), then runs the workload's operation a fixed number
of times (``OPS``), one at a time (closed loop, one client).
Every operation's outputs are checked; the last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones (see
``spans.py``).

Whole suite (every workload, several seeds, untraced and traced, medians and
the tracing overhead):

    python3 pipebench/run.py --suite --runs 3

Smoke check of all four workloads at a tiny size:

    python3 pipebench/run.py --smoke

See ``NOTES.md`` for why each workload exists and which layer each metric
should move.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".pipebench_work")
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import kgist_spark  # noqa: E402,F401  (fails fast outside a checkout of the program)

import checks  # noqa: E402
from corpus import Corpus  # noqa: E402

END_TO_END = {"setup_s": "s", "wall_s": "s", "docs_per_s": "docs/s"}
#: only on incremental_refresh, whose operation is nothing but batch folds
BATCH_METRIC = {"batch_p50_s": "s"}

#: per workload: sizes at full and smoke scale.  ``base_docs`` /
#: ``batches`` x ``batch_docs`` are the pages of an incremental fold.
SIZES = {
    "pipeline_small_vocab": {"full": {"docs": 4000}, "smoke": {"docs": 300}},
    "pipeline_large_vocab": {"full": {"docs": 15000, "subjects": 13000, "base_docs": 0,
                                      "batches": 1, "batch_docs": 300},
                             "smoke": {"docs": 2000, "subjects": 1500, "base_docs": 0,
                                       "batches": 1, "batch_docs": 100}},
    "summarize_delta": {"full": {"docs": 500, "subjects": 300},
                        "smoke": {"docs": 300, "subjects": 200}},
    "incremental_refresh": {"full": {"docs": 0, "subjects": 1200, "base_docs": 2000,
                                     "batches": 2, "batch_docs": 300},
                            "smoke": {"docs": 0, "subjects": 300, "base_docs": 300,
                                      "batches": 2, "batch_docs": 100}},
}
#: operations per run.  Fixed, so a change that speeds the program up times
#: the same operations as its parent.  One each: the median of two
#: summarize_delta operations did not spread less over ten seeds on a shared
#: host (IQR/median 0.166 against 0.144-0.146) and cost ~15 s more per run
OPS = {"pipeline_small_vocab": 1, "pipeline_large_vocab": 1, "summarize_delta": 1,
       "incremental_refresh": 1}
#: KG buckets of the KGs the benchmark builds in set-up
N_BUCKETS = 4


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------

def _mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def start_session(work: str, trace: bool):
    """A session sized to this machine: ``local[nproc]`` and a driver heap of
    half the physical RAM.  Temporary files stay under ``work``."""
    from kgist_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    cpus = len(os.sched_getaffinity(0))
    mem_mb = _mem_total_mb() // 2
    jvm_opts = f"-XX:+UseParallelGC -Djava.io.tmpdir={tmp}"
    conf = {
        "spark.driver.memory": f"{mem_mb}m",
        "spark.driver.extraJavaOptions": jvm_opts,
        "spark.executor.extraJavaOptions": jvm_opts,
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": log_dir,
                     "spark.eventLog.compress": "false"})
    spark = get_spark(app_name="pipebench", cpus=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, {"cpus": cpus, "driver_memory_mb": mem_mb}


def stop_session(spark):
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


class Rss:
    """High-water RSS of the Python driver plus the driver JVM, reset at the
    start of each timed region (``/proc/<pid>/clear_refs``)."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self.pids = [os.getpid(), int(jvm.java.lang.ProcessHandle.current().pid())]

    def reset(self):
        for pid in self.pids:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")

    def peak_mb(self) -> float:
        total = 0
        for pid in self.pids:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        return total / 1024.0


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

class IncrementalFold:
    """Incremental construction over the pages of ``corpus`` from ``lo`` on:
    set-up builds pages ``[lo, lo + base_docs)`` into a base KG with
    ``construct_batch_incremental`` (none when ``base_docs`` is 0); an
    operation folds the next ``batches`` x ``batch_docs`` pages, one batch at
    a time, into a copy of that base (or into an empty KG) at
    ``<out>/incremental``."""

    def __init__(self, corpus, lo: int, size: dict, work: str):
        self.corpus, self.lo, self.size, self.work = corpus, lo, size, work
        self.docs = size["batches"] * size["batch_docs"]

    def prepare(self, spark):
        import kgist_spark.streaming.construct as SC

        s, pages = self.size, os.path.join(self.work, "fold_pages")
        self.base_dir = None
        if s["base_docs"]:
            base = os.path.join(pages, "base")
            self.corpus.write(base, self.lo, self.lo + s["base_docs"])
            self.base_dir = os.path.join(self.work, "base_kg")
            SC.construct_batch_incremental(spark, spark.read.parquet(base), self.base_dir, 0,
                                           n_buckets=N_BUCKETS)
        self.batch_dirs = []
        for b in range(s["batches"]):
            lo = self.lo + s["base_docs"] + b * s["batch_docs"]
            d = os.path.join(pages, f"batch{b}")
            self.corpus.write(d, lo, lo + s["batch_docs"])
            self.batch_dirs.append(d)
        hi = self.lo + s["base_docs"] + self.docs
        self.reference = checks.batch_reference(self.corpus.pages[self.lo:hi])

    def stage(self, out: str):
        if self.base_dir:
            shutil.copytree(self.base_dir, os.path.join(out, "incremental"))

    def run(self, spark, out: str) -> tuple:
        """Per-batch fold walls and the bridges the folds reported."""
        import kgist_spark.streaming.construct as SC

        walls, bridges = [], 0
        first = 1 if self.base_dir else 0
        for b, d in enumerate(self.batch_dirs, start=first):
            t0 = time.perf_counter()
            res = SC.construct_batch_incremental(
                spark, spark.read.parquet(d), os.path.join(out, "incremental"), b,
                n_buckets=N_BUCKETS)
            walls.append(time.perf_counter() - t0)
            bridges += res.get("n_bridges", 0)
        return walls, bridges

    def check(self, out: str, bridges: int) -> list:
        return checks.check_incremental(os.path.join(out, "incremental"), bridges,
                                        self.reference)


class PipelineWorkload:
    """``run_pipeline.main --input <pages> --out <dir> [flags]``, then, when
    the size names an incremental fold, that fold (see
    :class:`IncrementalFold`) over pages that follow the construct's."""

    def __init__(self, kind: str, seed: int, size: dict, work: str, flags: list):
        self.kind, self.seed, self.size, self.work = kind, seed, size, work
        self.flags = flags

    def prepare(self, spark):
        s = self.size
        fold_docs = s.get("base_docs", 0) + s.get("batches", 0) * s.get("batch_docs", 0)
        self.corpus = Corpus(self.kind, self.seed, s["docs"] + fold_docs,
                             s.get("subjects", 0))
        self.pages = os.path.join(self.work, "pages")
        if s["docs"]:
            self.corpus.write(self.pages, 0, s["docs"])
        self.truth = self.corpus.truth_triples(0, s["docs"])
        self.fold = IncrementalFold(self.corpus, s["docs"], s, self.work) if fold_docs else None
        if self.fold:
            self.fold.prepare(spark)

    def stage(self, out: str):
        if self.fold:
            self.fold.stage(out)

    def run(self, spark, out: str) -> dict:
        import run_pipeline

        # the program's own report line must not precede the result line
        with contextlib.redirect_stdout(io.StringIO()):
            run_pipeline.main(["--input", self.pages, "--out", out] + self.flags,
                              spark=spark)
        walls, bridges = self.fold.run(spark, out) if self.fold else ([], 0)
        return {"docs": self.size["docs"] + (self.fold.docs if self.fold else 0),
                "batches": walls, "bridges": bridges}

    def check(self, out: str, result: dict) -> list:
        problems = checks.check_pipeline(out, self.truth, self.corpus.aliases,
                                         scored="--score-anomalies" in self.flags)
        if self.fold:
            problems += self.fold.check(out, result["bridges"])
        return problems


class IncrementalWorkload(PipelineWorkload):
    """Only the incremental fold: ``batches`` page batches folded one at a
    time into a copy of a base KG."""

    def __init__(self, seed: int, size: dict, work: str):
        super().__init__("large", seed, size, work, [])

    def run(self, spark, out: str) -> dict:
        walls, bridges = self.fold.run(spark, out)
        return {"docs": self.fold.docs, "batches": walls, "bridges": bridges}

    def check(self, out: str, result: dict) -> list:
        return self.fold.check(out, result["bridges"])


class SummarizeDeltaWorkload:
    """``fit_summary(mode="delta")`` + ``score_edges_delta`` + write, over the
    generator's ground-truth KG, written in set-up with ``materialize_kg``
    and read back with ``read_kg``."""

    def __init__(self, seed: int, size: dict, work: str):
        self.seed, self.size, self.work = seed, size, work

    def prepare(self, spark):
        from kgist_spark.pipeline.materialize import materialize_kg

        corpus = Corpus("large", self.seed, self.size["docs"], self.size["subjects"])
        self.n_docs = corpus.n_docs
        self.kg_dir = os.path.join(self.work, "kg")
        triples, labels = corpus.truth_kg()
        materialize_kg(
            spark,
            spark.createDataFrame(triples, "subj string, pred string, obj string, url string"),
            spark.createDataFrame(labels, "node string, label string, pos int"),
            self.kg_dir, n_buckets=N_BUCKETS)
        self.reference = checks.exact_reference(spark, self.kg_dir)

    def stage(self, out: str):
        pass

    def run(self, spark, out: str) -> dict:
        import kgist_spark.operators.anomaly as A
        import kgist_spark.pipeline.materialize as M
        import kgist_spark.pipeline.run as prun
        import kgist_spark.plans.summarizer as S

        t, lab = prun.kg_to_summarizer_inputs(*M.read_kg(spark, self.kg_dir))
        res = S.fit_summary(t, lab, mode="delta")
        scored = A.score_edges_delta(res["delta"], res, t)
        scored.write.mode("overwrite").parquet(os.path.join(out, "anomaly_scores"))
        with open(os.path.join(out, "model.json"), "w") as fh:
            json.dump({"rules": [repr(r) for r in res["rules"]],
                       "objective_bits": res["objective_bits"]}, fh)
        return {"docs": self.n_docs, "batches": [], "fit": res}

    def check(self, out: str, result: dict) -> list:
        return checks.check_delta(out, result["fit"], self.reference)


def make_workload(name: str, seed: int, size: dict, work: str):
    if name == "pipeline_small_vocab":
        return PipelineWorkload("small", seed, size, work,
                                ["--summarize", "--score-anomalies"])
    if name == "pipeline_large_vocab":
        return PipelineWorkload("large", seed, size, work, [])
    if name == "summarize_delta":
        return SummarizeDeltaWorkload(seed, size, work)
    if name == "incremental_refresh":
        return IncrementalWorkload(seed, size, work)
    raise SystemExit(f"unknown workload {name!r}; choose from {sorted(SIZES)}")


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------

def run_once(name: str, seed: int, trace: bool, scale: str) -> dict:
    work = os.path.join(WORK, f"{name}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t_setup = time.perf_counter()
    spark, session_info = start_session(work, trace)
    try:
        wl = make_workload(name, seed, SIZES[name][scale], work)
        wl.prepare(spark)
        spark.catalog.clearCache()
        setup_s = time.perf_counter() - t_setup
        rss = Rss(spark)
        tracer = None
        if trace:
            from spans import Tracer
            tracer = Tracer(spark)
            tracer.install()
        walls, batch_walls, docs, peaks = [], [], 0, []
        failed = 0
        digests = set()
        for op in range(OPS[name]):
            out = os.path.join(work, f"out{op}")
            wl.stage(out)
            rss.reset()
            t0 = time.perf_counter()
            try:
                with tracer.operation() if tracer else contextlib.nullcontext():
                    result = wl.run(spark, out)
                wall = time.perf_counter() - t0
                peaks.append(rss.peak_mb())
                problems = wl.check(out, result)
                digests.add(checks.digest(out))
            except Exception as exc:  # a failed operation counts; keep running
                problems = [f"{type(exc).__name__}: {exc}"]
            if problems:
                failed += 1
                print(f"operation {op + 1} failed: {problems[:5]}", file=sys.stderr)
            else:
                walls.append(wall)
                batch_walls.extend(result["batches"])
                docs += result["docs"]
            spark.catalog.clearCache()
            shutil.rmtree(out, ignore_errors=True)
        if tracer:
            tracer.uninstall()
        digest_path = os.path.join(WORK, "digests", checks.program_fingerprint(ROOT),
                                   f"{name}-{seed}-{scale}.txt")
        digests_ok = checks.same_digest(digest_path, digests)
    finally:
        stop_session(spark)
    attempted = OPS[name]
    if not digests_ok:
        failed = attempted
        print("output digest differs from another run of this seed", file=sys.stderr)
    metrics = {}
    if trace:
        from spans import layer_metrics
        values = layer_metrics(tracer, os.path.join(work, "eventlog"))
        # memory is reported with the per-layer figures: on a shared host the
        # JVM's heap growth spreads it by more than an end-to-end bound allows
        values["peak_rss_mb"] = statistics.median(peaks) if peaks else 0.0
        metrics = {k: {"value": v, "unit": _layer_unit(k)} for k, v in values.items()}
    elif walls:
        metrics = {
            "setup_s": setup_s,
            "wall_s": statistics.median(walls),
            "docs_per_s": docs / sum(walls),
        }
        if name == "incremental_refresh":
            metrics["batch_p50_s"] = statistics.median(batch_walls)
        units = {**END_TO_END, **BATCH_METRIC}
        metrics = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    shutil.rmtree(work, ignore_errors=True)
    return {"correct": failed == 0 and bool(metrics), "attempted": attempted,
            "failed": failed, "metrics": metrics, "session": session_info}


def _layer_unit(name: str) -> str:
    suffix = name.rsplit(".", 1)[-1]
    if suffix == "accepts_per_s":
        return "1/s"
    if suffix == "peak_rss_mb":
        return "MiB"
    if suffix.endswith("_s"):
        return "s"
    if suffix.endswith("_b") or suffix == "bytes_written":
        return "B"
    if suffix in ("skew", "dedup_ratio", "verified_ratio", "covered_ratio",
                  "bucket_skew", "distributed"):
        return "ratio"
    return "count"


# ---------------------------------------------------------------------------
# suite and smoke
# ---------------------------------------------------------------------------

def _subrun(name: str, seed: int, trace: int, smoke: bool) -> dict:
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
           "--seed", str(seed), "--trace", str(trace)]
    if smoke:
        cmd.append("--smoke")
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    return json.loads(lines[-1])


def _upper(values: list):
    """The highest percentile with at least ten samples above it."""
    n = len(values)
    if n < 20:
        return None, None
    p = int(100 * (1 - 10 / n))
    return p, statistics.quantiles(values, n=100)[p - 1]


def suite(workloads: list, runs: int, smoke: bool):
    """Every workload ``runs`` times untraced and ``runs`` times traced, one
    seed per run; prints medians, the supported upper percentile and sample
    counts, per-layer medians, and the tracing overhead."""
    report = {}
    for name in workloads:
        plain = [_subrun(name, seed, 0, smoke) for seed in range(1, runs + 1)]
        traced = [_subrun(name, seed, 1, smoke) for seed in range(1, runs + 1)]
        attempted = sum(r["attempted"] for r in plain + traced)
        failed = sum(r["failed"] for r in plain + traced)
        rows = {}
        for metric, unit in {**END_TO_END, **BATCH_METRIC}.items():
            vals = [r["metrics"][metric]["value"] for r in plain if metric in r["metrics"]]
            if not vals:
                continue
            p, pv = _upper(vals)
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [vals[0]] * 3
            rows[metric] = {"unit": unit, "median": statistics.median(vals), "n": len(vals),
                            "iqr_over_median": (q[2] - q[0]) / statistics.median(vals),
                            "upper_percentile": p, "upper_value": pv}
        layers = {}
        for k in (traced[0]["metrics"] if traced and traced[0]["metrics"] else {}):
            vals = [r["metrics"][k]["value"] for r in traced if k in r["metrics"]]
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [vals[0]] * 3
            layers[k] = {"median": statistics.median(vals), "iqr": q[2] - q[0]}
        overhead = None
        if "traced_wall_s" in layers and "wall_s" in rows:
            overhead = layers["traced_wall_s"]["median"] - rows["wall_s"]["median"]
        report[name] = {"fail_ratio": failed / attempted if attempted else 1.0,
                        "end_to_end": rows, "tracing_overhead_s": overhead,
                        "per_layer": layers}
        print(json.dumps({name: report[name]}, indent=1), file=sys.stderr)
    return report


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=40,
                    help="nominal measured time; each workload runs a fixed number "
                         "of operations (OPS), sized to about this long")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs (with --workload: one run; alone: all four)")
    ap.add_argument("--suite", action="store_true",
                    help="every workload, --runs seeds each, untraced and traced")
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args(argv)

    if args.suite or (args.smoke and not args.workload):
        names = [args.workload] if args.workload else sorted(SIZES)
        runs = 1 if args.smoke and not args.suite else args.runs
        report = suite(names, runs, args.smoke)
        ok = all(r["fail_ratio"] == 0 for r in report.values())
        print(json.dumps({"correct": ok, "workloads": report}))
        return 0 if ok else 1
    if not args.workload:
        ap.error("--workload is required (or --suite / --smoke)")
    res = run_once(args.workload, args.seed, bool(args.trace),
                   "smoke" if args.smoke else "full")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    print(json.dumps({"session": res["session"]}), file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
