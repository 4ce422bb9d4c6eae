"""Span recorder and Spark event-log attribution for the traced run.

Spans are opened from the benchmark's side, around calls into each layer's
public functions (the module attributes are swapped for wrappers while a
:class:`Tracer` is installed).  Each span sets a Spark job group; a job is
charged to the span named by its group, or, for jobs submitted from threads
that do not inherit the group (``materialize_kg`` writes from a thread pool),
to the innermost span open at its submission time.

Lazy work is charged to the span whose action forces it.  Where the shipped
caller persists a layer's output and forces it later, the wrapper persists
and counts it inside the layer's own span (same storage level), so the
caller's action reads the cache; this adds one cheap action per layer, which
shows in the tracing overhead.  Spans stay in memory; :func:`layer_metrics`
turns them and the event log into per-layer numbers once the run ends.
"""

from __future__ import annotations

import glob
import json
import statistics
import time
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import Observation
from pyspark.sql import functions as F

LAYERS = ("extract", "canonicalize", "apply", "materialize", "reshape",
          "candidates", "greedy", "anomaly", "incremental")
#: no ``task_retries``: in local mode a task is retried only after it failed,
#: which fails the operation and shows in the result line's ``failed``; no
#: ``spill_b``: every workload's data fits in memory, so it read 0 in every
#: layer of every workload
GENERIC = ("wall_s", "self_s", "calls", "rows_in", "rows_out", "jobs", "task_s",
           "shuffle_b", "gc_s", "skew")
EXTRAS = {
    "extract": ("dedup_ratio",),
    "canonicalize": ("distributed", "verified_ratio", "lsh_dropped_ids",
                     "merged_entities"),
    "apply": ("self_loops_dropped",),
    "materialize": ("bytes_written", "bucket_skew"),
    "reshape": (),
    "candidates": ("contributions", "rules"),
    "greedy": ("rules_selected", "accepts_per_s", "jobs_per_accept"),
    "anomaly": ("edges_scored", "covered_ratio"),
    "incremental": ("new_triples", "bridges", "dict_rows"),
}
#: metrics of the whole traced operation rather than of one layer
#: (``peak_rss_mb`` is filled in by the runner)
RUN_METRICS = ("unattributed_s", "traced_wall_s", "peak_rss_mb")


def per_layer_names() -> list:
    names = [f"{layer}.{m}" for layer in LAYERS for m in GENERIC + EXTRAS[layer]]
    return names + list(RUN_METRICS)


class Tracer:
    """Records spans and layer counters for the operations of one run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list = []
        self.stack: list = []
        self.counters: dict = {}
        self.ops: list = []  # (start, end) of each traced operation
        self._persisted: list = []
        self._saved: list = []
        self._drop_obs: list = []
        self._verify_obs: list = []

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, layer: str):
        rec = {"id": len(self.spans), "layer": layer,
               "parent": self.stack[-1]["id"] if self.stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self.stack.append(rec)
        self.sc.setJobGroup(f"pipebench-{rec['id']}", layer)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.stack.pop()
            if self.stack:
                self.sc.setJobGroup(f"pipebench-{self.stack[-1]['id']}",
                                    self.stack[-1]["layer"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def add(self, layer: str, name: str, value: float):
        key = f"{layer}.{name}"
        self.counters[key] = self.counters.get(key, 0) + value

    def force(self, df):
        """Persist (the level shipped callers use) and count ``df``."""
        df.persist(StorageLevel.MEMORY_AND_DISK)
        self._persisted.append(df)
        return df.count()

    def release(self):
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    # -- installation --------------------------------------------------------
    def _patch(self, obj, attr, wrapper):
        orig = getattr(obj, attr)
        self._saved.append((obj, attr, orig))
        setattr(obj, attr, wrapper(orig))

    def install(self):
        import kgist_spark.operators.anomaly as anomaly
        import kgist_spark.operators.candidates as candidates
        import kgist_spark.operators.minhash as minhash
        import kgist_spark.pipeline.canonicalize as canonicalize
        import kgist_spark.pipeline.extract_jvm as extract_jvm
        import kgist_spark.pipeline.materialize as materialize
        import kgist_spark.pipeline.run as run
        import kgist_spark.plans.summarizer as summarizer
        import kgist_spark.streaming.construct as construct

        t = self

        def w_extract(orig):
            def f(pages, extractor=None):
                raw = {}
                base = extractor or extract_jvm.extract_facts_jvm

                def observed(p):
                    raw["obs"] = Observation()
                    return base(p).observe(raw["obs"], F.count(F.lit(1)).alias("n"))

                with t.span("extract"):
                    out = orig(pages, observed)
                    n = t.force(out[0])
                    t.add("extract", "_distinct", n)
                    t.add("extract", "_raw", raw["obs"].get["n"])
                return out
            return f

        def w_canon(orig):
            def f(*a, **k):
                with t.span("canonicalize") as sp:
                    out = orig(*a, **k)
                    t.force(out)
                    t.add("canonicalize", "merged_entities",
                          out.where(F.col("node") != F.col("canonical")).count())
                    t.add("canonicalize", "distributed",
                          int(any(s["layer"] == "minhash" and s["parent"] == sp["id"]
                                  for s in t.spans)))
                return out
            return f

        def w_lazy(layer):
            def wrap(orig):
                def f(*a, **k):
                    with t.span(layer):
                        return orig(*a, **k)
                return f
            return wrap

        def in_canonical_map():
            # observations are read only where canonical_map's own action is
            # known to run them (reading an unexecuted one blocks forever)
            return bool(t.stack) and t.stack[-1]["layer"] == "canonicalize"

        def w_pairs(orig):
            def f(*a, **k):
                with t.span("minhash"):
                    out = orig(*a, **k)
                if in_canonical_map():
                    t._drop_obs.append(out._drop_stats)
                return out
            return f

        def w_verify(orig):
            def f(pairs, shingles, threshold, *a, **k):
                if not in_canonical_map():
                    with t.span("minhash"):
                        return orig(pairs, shingles, threshold, *a, **k)
                o_in, o_out = Observation(), Observation()
                with t.span("minhash"):
                    out = orig(pairs.observe(o_in, F.count(F.lit(1)).alias("n")),
                               shingles, threshold, *a, **k)
                t._verify_obs.append((o_in, o_out))
                return out.observe(o_out, F.count(F.lit(1)).alias("n"))
            return f

        def w_apply(orig):
            def f(raw, canon, *a, **k):
                with t.span("apply"):
                    out = orig(raw, canon, *a, **k)
                    n_out = t.force(out)
                    if "subj" in raw.columns:
                        t.add("apply", "self_loops_dropped", raw.count() - n_out)
                return out
            return f

        def w_materialize(orig):
            def f(spark, triples, labels, out_dir, *a, **k):
                with t.span("materialize"):
                    res = orig(spark, triples, labels, out_dir, *a, **k)
                rows = sorted(e["n_rows"] for e in materialize.read_manifest(out_dir)
                              if e.get("table") == "kg_triples")
                med = statistics.median(rows) if rows else 0
                t.add("materialize", "bucket_skew", max(rows) / med if med else 0.0)
                return res
            return f

        def w_reshape(orig):
            def f(*a, **k):
                with t.span("reshape"):
                    tr, lab = orig(*a, **k)
                    t.force(tr)
                    t.force(lab)
                return tr, lab
            return f

        def w_cand(orig):
            def f(*a, **k):
                with t.span("candidates"):
                    out = orig(*a, **k)
                    t.add("candidates", "contributions", t.force(out))
                    t.add("candidates", "rules", out.select(
                        "root_label", "pred", "dir", "child_label").distinct().count())
                return out
            return f

        def w_summarize(orig):
            def f(*a, **k):
                with t.span("greedy"):
                    summ, model = orig(*a, **k)
                t.add("greedy", "rules_selected", len(model.rules))
                t.add("anomaly", "_covered", len(model.covered_edges))
                t.add("anomaly", "_m", summ.index.m)
                return summ, model
            return f

        def w_fit(orig):
            def f(*a, **k):
                with t.span("greedy"):
                    res = orig(*a, **k)
                t.add("greedy", "rules_selected", len(res["rules"]))
                if res["mode"] == "delta":
                    t.add("anomaly", "_covered", res["covered_edges"])
                    t.add("anomaly", "_m", res["delta"].stats.m)
                return res
            return f

        def w_score(orig):
            def f(*a, **k):
                with t.span("anomaly"):
                    out = orig(*a, **k)
                    t.add("anomaly", "edges_scored", t.force(out))
                return out
            return f

        def w_incremental(orig):
            def f(spark, pages, out_dir, *a, **k):
                with t.span("incremental"):
                    res = orig(spark, pages, out_dir, *a, **k)
                t.add("incremental", "new_triples", res.get("new_triples", 0))
                t.add("incremental", "bridges", res.get("n_bridges", 0))
                # a level, not a sum: dictionary rows after this fold
                t.counters["incremental.dict_rows"] = sum(
                    e["n_rows"] for e in materialize.read_manifest(out_dir)
                    if e.get("table") == "canon_dict")
                return res
            return f

        for mod in (run, construct):
            self._patch(mod, "extract_facts_dedup", w_extract)
            self._patch(mod, "canonical_map", w_canon)
            self._patch(mod, "apply_canonical_triples", w_apply)
            self._patch(mod, "apply_canonical_labels", w_apply)
        self._patch(minhash, "candidate_pairs", w_pairs)
        self._patch(minhash, "jaccard_verified_pairs", w_verify)
        self._patch(minhash, "minhash_signatures", w_lazy("minhash"))
        self._patch(canonicalize, "connected_components", w_lazy("components"))
        self._patch(run, "materialize_kg", w_materialize)
        self._patch(run, "kg_to_summarizer_inputs", w_reshape)
        self._patch(run, "summarize_constructed_kg", w_summarize)
        self._patch(candidates, "candidate_edges", w_cand)
        self._patch(summarizer, "fit_summary", w_fit)
        self._patch(anomaly, "score_edges", w_score)
        self._patch(anomaly, "score_edges_delta", w_score)
        self._patch(construct, "construct_batch_incremental", w_incremental)

    def uninstall(self):
        for obj, attr, orig in reversed(self._saved):
            setattr(obj, attr, orig)
        self._saved.clear()

    @contextmanager
    def operation(self):
        """One traced operation; spans opened inside it are charged to it."""
        self._drop_obs, self._verify_obs = [], []
        start = time.time()
        try:
            yield
        finally:
            self.ops.append((start, time.time()))
            for obs in self._drop_obs:
                self.add("canonicalize", "lsh_dropped_ids", obs.get.get("dropped_ids", 0))
            for o_in, o_out in self._verify_obs:
                self.add("canonicalize", "_pairs_in", o_in.get.get("n", 0))
                self.add("canonicalize", "_pairs_out", o_out.get.get("n", 0))
            self.release()


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def read_event_log(log_dir: str) -> tuple:
    """``(jobs, stage_job, tasks)`` from the uncompressed (rolling or
    single-file) event log under ``log_dir``: jobs as ``{id: {group,
    submit_ms}}``, stage id -> job id, and every ``SparkListenerTaskEnd``."""
    files = sorted(glob.glob(f"{log_dir}/eventlog_v2_*/events_*")) or sorted(
        f for f in glob.glob(f"{log_dir}/*") if not f.endswith(".inprogress"))
    jobs, stage_job, tasks = {}, {}, []
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submit_ms": ev["Submission Time"],
                    }
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    return jobs, stage_job, tasks


def _owner(spans_by_id: dict, spans: list, job: dict):
    """The span a job is charged to: the one its job group names, else the
    innermost span open when it was submitted."""
    g = job["group"]
    if g and g.startswith("pipebench-"):
        return spans_by_id.get(int(g.split("-", 1)[1]))
    t = job["submit_ms"] / 1000.0
    inner = None
    for s in spans:
        if s["start"] <= t <= (s["end"] or t):
            if inner is None or s["start"] >= inner["start"]:
                inner = s
    return inner


def layer_metrics(tracer: Tracer, log_dir: str) -> dict:
    """Every per-layer metric, per traced operation of the run."""
    spans = tracer.spans
    by_id = {s["id"]: s for s in spans}
    # the layer a span is charged to: helper spans (minhash, components)
    # count toward the layer that called them
    def layer_of(s):
        while s is not None and s["layer"] not in LAYERS:
            s = by_id.get(s["parent"])
        return s["layer"] if s else None

    out = {name: 0.0 for name in per_layer_names()}
    for s in spans:
        layer = s["layer"]
        if layer not in LAYERS:
            continue
        dur = s["end"] - s["start"]
        child = sum(c["end"] - c["start"] for c in spans
                    if c["parent"] == s["id"] and c["layer"] in LAYERS)
        out[f"{layer}.wall_s"] += dur
        out[f"{layer}.self_s"] += dur - child
        out[f"{layer}.calls"] += 1
    jobs, stage_job, tasks = read_event_log(log_dir)
    job_layer = {}
    for jid, job in jobs.items():
        owner = _owner(by_id, spans, job)
        layer = layer_of(owner) if owner else None
        if layer:
            job_layer[jid] = layer
            out[f"{layer}.jobs"] += 1
    run_times: dict = {}
    for ev in tasks:
        layer = job_layer.get(stage_job.get(ev["Stage ID"]))
        if layer is None:
            continue
        m = ev.get("Task Metrics") or {}
        rt = m.get("Executor Run Time", 0)
        run_times.setdefault(layer, []).append(rt)
        sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
        inp, outp = m.get("Input Metrics", {}), m.get("Output Metrics", {})
        out[f"{layer}.task_s"] += rt / 1000.0
        out[f"{layer}.gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        out[f"{layer}.shuffle_b"] += sw.get("Shuffle Bytes Written", 0)
        out[f"{layer}.rows_in"] += inp.get("Records Read", 0) + sr.get("Total Records Read", 0)
        out[f"{layer}.rows_out"] += (outp.get("Records Written", 0)
                                     + sw.get("Shuffle Records Written", 0))
        if layer == "materialize":
            out["materialize.bytes_written"] += outp.get("Bytes Written", 0)
    for layer, rts in run_times.items():
        med = statistics.median(rts)
        out[f"{layer}.skew"] = max(rts) / med if med else 0.0

    c = tracer.counters
    out.update({k: v for k, v in c.items() if k in out})
    # sums become per-operation figures, so runs with different operation
    # counts compare; ratios and levels below are not summed
    n_ops = max(1, len(tracer.ops))
    not_summed = {f"{layer}.skew" for layer in LAYERS} | {
        "canonicalize.distributed", "incremental.dict_rows"}
    for k in out:
        if k not in not_summed:
            out[k] /= n_ops
    out["canonicalize.distributed"] = min(1, out["canonicalize.distributed"])
    if c.get("extract._raw"):
        out["extract.dedup_ratio"] = c["extract._distinct"] / c["extract._raw"]
    if c.get("canonicalize._pairs_in"):
        out["canonicalize.verified_ratio"] = (c["canonicalize._pairs_out"]
                                              / c["canonicalize._pairs_in"])
    if c.get("anomaly._m"):
        out["anomaly.covered_ratio"] = c["anomaly._covered"] / c["anomaly._m"]
    if out["greedy.rules_selected"]:
        out["greedy.accepts_per_s"] = out["greedy.rules_selected"] / out["greedy.wall_s"]
        out["greedy.jobs_per_accept"] = out["greedy.jobs"] / out["greedy.rules_selected"]
    out["traced_wall_s"] = sum(e - s for s, e in tracer.ops) / n_ops
    out["unattributed_s"] = out["traced_wall_s"] - sum(
        out[f"{layer}.self_s"] for layer in LAYERS)
    return out
