"""M2 — greedy rule selection at scale (delta mode).

The exact-mode summarizer collects per-rule edge-id sets to the driver; that
caps out around NELL scale.  Delta mode keeps ALL edge/label-coverage data on
the cluster and the driver holds only O(#candidates) counters:

* per-candidate scalars (n_edges, n_labels_cov, n_cas, ca-size histogram,
  first-seen order) collected once from the distributed aggregates;
* two running overlap counters per candidate: |edges(g) ∩ covered| and
  |labels(g) ∩ covered|.

The key identity making this exact: when rule r is accepted, the newly
covered set Δ = edges(r) − covered is disjoint from the old covered set, so
for every candidate g the overlap increment is |edges(g) ∩ Δ| — additive.
Trials are pure driver float math; one covered-state checkpoint plus one
broadcast-join + group-by collect per accepted BATCH (not per accept, not per
trial) maintains every counter — under AQE that is ~6-7 Spark jobs a batch
(see ``_apply_batch``).
Accepts are batched as long as each subsequent trial's rule has a predicate
and child label provably disjoint from every pending accept (different
predicate ⇒ disjoint edge sets; different child label ⇒ disjoint label
coverage), which keeps every decision identical to the sequential schedule
while collapsing the per-accept job chain — O(batches) Spark jobs total,
independent of candidate count (reference semantics from
``searcher.py:168-244`` preserved decision-for-decision).

Float caveat: L(alpha(g)) is computed from the ca-size histogram (count ×
term) rather than the reference's per-head summation order; the two differ
by < 1e-9 bits, which can only matter on knife-edge MDL comparisons.  Those
are real, not hypothetical: a symmetric predicate yields an out-rule and an
in-rule with IDENTICAL edges, label coverage and ca-size multisets (full
NELL has one — (24, 73, 24) — where the reference's pick is decided by a
6.5e-10-bit difference between the two per-head summation orders).  Every
decision therefore runs on cheap histogram counters UNLESS its margin falls
under ``_EDGE_TOL``, in which case it is re-run on the reference's floats
reconstructed bitwise: per-head size sequences in candidate insertion order
(ascending first-seen eid — fetched only for the rules the knife-edge
touches, the only per-head data that ever reaches the driver; a rule whose
ca-size histogram has one size ``{s: h}`` replays on the driver as
``[s] * h`` without a fetch), summed head-by-head (``evaluator.py:226-232``),
with the accumulated model length refolded over the accept log in the
reference's own association order (``evaluate_change``).  Guarded sites:
rule-vs-reverse choice, the accept threshold, and qualification cost
comparison.  The exact-mode path remains the bit-parity reference; tests
assert both modes select the same model on the fixtures, a seeded fuzz
sweeps random KG-shaped graphs, and the nightly pins full NELL (1,115
rules, one decided at 6.5e-10 bits).
"""

from __future__ import annotations

from typing import Dict, List

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgist_spark.functions import mdl
from kgist_spark.functions.ir import reverse_of
from kgist_spark.operators import candidates as C
from kgist_spark.operators.qualify import nodes_with_all_labels, shared_head_labels

_SEP = "\x1f"


def _df_key_col():
    return F.concat_ws(_SEP, "root_label", "pred", "dir", "child_label").alias("key")


def _key(r) -> str:
    """Driver-side mirror of ``_df_key_col`` — stringifies components so the
    idified (integer) vocabulary produces identical keys to concat_ws."""
    return _SEP.join(
        str(x) for x in (r["root_label"], r["pred"], r["dir"], r["child_label"])
    )


class CandidateMeta:
    __slots__ = (
        "rule", "df_key", "n_edges", "n_labels", "n_cas", "ca_hist",
        "first_seen", "num_assertions",
    )

    def __init__(self, rule, df_key, n_edges, n_labels, n_cas, ca_hist, first_seen):
        self.rule = rule
        self.df_key = df_key
        self.n_edges = n_edges
        self.n_labels = n_labels
        self.n_cas = n_cas
        self.ca_hist = ca_hist  # {ca_size: n_heads}, iterated sorted
        self.first_seen = first_seen
        self.num_assertions = None  # nodes_with_type(root); filled lazily


class DeltaGreedy:
    """Distributed-coverage greedy selection over candidate tables."""

    def __init__(self, triples: DataFrame, labels_flat: DataFrame,
                 stats: mdl.GraphStats, label_node_counts: Dict[str, int],
                 cand: DataFrame | None = None):
        """:triples: (subj, pred, obj, eid); :labels_flat: (node, label, pos);
        :label_node_counts: label -> #distinct nodes carrying it (the
        ``nodes_with_type`` map for single-label roots);
        :cand: optional pre-computed/reloaded candidate contribution table
        (S3 — :mod:`kgist_spark.sources.candidates_io`), making repeat
        delta-greedy runs restartable without re-running candidate
        generation."""
        self.spark = triples.sparkSession
        self.stats = stats
        self.label_node_counts = label_node_counts
        self.labels_flat = labels_flat

        if cand is None:
            cand = C.candidate_edges(triples, labels_flat)
        # (key, eid) is unique by construction (candidate_edges dedupes
        # labels; candidate_stats' count(*) relies on the same), so no distinct
        self.cand_edges = cand.select(_df_key_col(), "eid", "root_node").persist()
        self.cand_labels = (
            cand.select(_df_key_col(), "child_label", "child_node").distinct().persist()
        )
        self._cand_raw = cand

        # one-time driver metadata: per-rule stats ('s') and ca-size
        # histogram ('h') rows, tagged, in ONE collect
        meta_rows = (
            C.candidate_stats(cand).withColumn("kind", F.lit("s"))
            .unionByName(C.ca_size_histogram(cand).withColumn("kind", F.lit("h")),
                         allowMissingColumns=True)
            .collect()
        )
        stats_rows = []
        hist: Dict[str, Dict[int, int]] = {}
        for r in meta_rows:
            if r["kind"] == "s":
                stats_rows.append(r)
            else:
                hist.setdefault(_key(r), {})[r["ca_size"]] = r["n_heads"]
        self.meta: Dict[tuple, CandidateMeta] = {}
        order = []
        for r in stats_rows:
            k = _key(r)
            rule = ((r["root_label"],), ((r["pred"], r["dir"], ((r["child_label"],), ())),))
            m = CandidateMeta(
                rule, k, r["n_edges"], r["n_labels_cov"], r["n_cas"], hist.get(k, {}),
                r["first_seen"],  # packed scan-order long
            )
            order.append(m)
        order.sort(key=lambda m: m.first_seen)
        for m in order:
            self.meta[m.rule] = m

        # coverage state: ONE tagged DataFrame (kind 'e'|'l') so each accept
        # needs a single delta checkpoint and a single covered checkpoint
        self.covered: DataFrame | None = None
        self._batch_no = 0
        self.n_covered_e = 0
        self.n_covered_l = 0
        self.overlap_e: Dict[tuple, int] = {}
        self.overlap_l: Dict[tuple, int] = {}
        self._assert_len_cache: Dict[tuple, float] = {}
        self._assert_len_ordered_cache: Dict[tuple, float] = {}
        self._ordered_sizes_cache: Dict[str, List[int]] = {}
        # (meta, covered_e after accept, covered_l after accept), in accept
        # order — enough to refold the reference's exact float state
        self._accept_log: List[tuple] = []

    # -- MDL terms ---------------------------------------------------------
    def _num_assertions(self, meta: CandidateMeta) -> int:
        if meta.num_assertions is None:
            root = meta.rule[0]
            assert len(root) == 1
            meta.num_assertions = self.label_node_counts[root[0]]
        return meta.num_assertions

    def _assert_len(self, meta: CandidateMeta) -> float:
        rule = meta.rule
        if rule in self._assert_len_cache:
            return self._assert_len_cache[rule]
        hist = dict(sorted(meta.ca_hist.items()))
        bits = mdl.length_assertions_from_histogram(
            self._num_assertions(meta), hist, self.stats
        )
        self._assert_len_cache[rule] = bits
        return bits

    def _rule_len(self, rule) -> float:
        return mdl.length_rule(rule, self.stats)

    # -- knife-edge decisions: the reference's floats, reconstructed --------
    #
    # All regular decisions run on histogram-based driver math (see module
    # docstring "Float caveat").  Whenever a decision margin falls under
    # ``_EDGE_TOL`` — within the histogram-vs-per-head-order drift — the
    # decision is re-run with the reference's floats reconstructed BITWISE:
    # per-head size sequences in candidate insertion order (ascending
    # first-seen eid ≡ ``ca_to_size`` insertion, ``graph.py:140,148``),
    # summed head-by-head (``evaluator.py:226-232``), accumulated over the
    # accept log in the reference's own ``prev + L(g) + L(alpha) + A- + L-``
    # association order (``evaluator.py:evaluate_change``).  Per-head sizes
    # ship to the driver only when a knife-edge fires, and only for the
    # trialed pair plus the ACCEPTED rules (the summary — small by
    # definition), never for the full candidate set; rules with a one-size
    # histogram replay on the driver with no fetch at all.

    _EDGE_TOL = 1e-6  # >> accumulated drift (~1e-9/rule), << any real gap

    def _ordered_sizes(self, metas: List[CandidateMeta]) -> None:
        """Cache per-head ca-size sequences in first-seen order for every
        rule in ``metas`` not already cached (sizes are
        qualification-invariant, so keyed by df_key).  A one-size histogram
        ``{s: h}`` fixes the sequence as ``[s] * h`` — any order sums the
        same ``h`` equal terms — so it is filled on the driver; the rest
        share ONE filtered aggregate."""
        missing = set()
        for m in metas:
            if m.df_key in self._ordered_sizes_cache:
                continue
            if len(m.ca_hist) == 1:
                ((size, heads),) = m.ca_hist.items()
                self._ordered_sizes_cache[m.df_key] = [size] * heads
            else:
                missing.add(m.df_key)
        if not missing:
            return
        rows = (
            self.cand_edges.where(F.col("key").isin(list(missing)))
            .groupBy("key", "root_node")
            .agg(F.count("*").alias("ca_size"), F.min("eid").alias("first_eid"))
            .collect()
        )
        for k in missing:
            self._ordered_sizes_cache[k] = []
        for r in sorted(rows, key=lambda r: r["first_eid"]):
            self._ordered_sizes_cache[r["key"]].append(r["ca_size"])

    def _assert_len_ordered(self, meta: CandidateMeta) -> float:
        """L(alpha(g)) summed per-head in the reference's insertion order
        (requires :meth:`_ordered_sizes` to have fetched ``meta``)."""
        if meta.rule in self._assert_len_ordered_cache:
            return self._assert_len_ordered_cache[meta.rule]
        bits = mdl.length_assertions_flat(
            self._num_assertions(meta),
            self._ordered_sizes_cache[meta.df_key],
            self.stats,
        )
        self._assert_len_ordered_cache[meta.rule] = bits
        return bits

    def _exact_state(self) -> tuple:
        """(model_len, objective) exactly as the reference holds them after
        this fit's accept log: fold ``prev = prev + L(g) + L(alpha(g))`` with
        ordered assertion sums, objective = ``prev + A- + L-`` at the logged
        post-accept covered counts (``searcher.py:204-222`` +
        ``evaluator.py:evaluate_change``)."""
        self._ordered_sizes([m for m, _, _ in self._accept_log])
        prev = mdl.length_model_header(self.stats)
        ne = mdl.length_negative_edge_error(0, self.stats)
        nn = mdl.length_negative_label_error(0, self.stats)
        best = prev + ne + nn
        for m, n_e, n_l in self._accept_log:
            prev = prev + self._rule_len(m.rule) + self._assert_len_ordered(m)
            ne = mdl.length_negative_edge_error(n_e, self.stats)
            nn = mdl.length_negative_label_error(n_l, self.stats)
            best = prev + ne + nn
        return prev, best

    def _exact_trial(self, meta: CandidateMeta, prev_ref: float) -> float:
        """The reference's ``evaluate_change`` float for trialing ``meta``
        on top of the exact accumulated model length."""
        new_e = meta.n_edges - self.overlap_e.get(meta.rule, 0)
        new_l = meta.n_labels - self.overlap_l.get(meta.rule, 0)
        model_len = prev_ref + self._rule_len(meta.rule) + self._assert_len_ordered(meta)
        ne = mdl.length_negative_edge_error(self.n_covered_e + new_e, self.stats)
        nn = mdl.length_negative_label_error(self.n_covered_l + new_l, self.stats)
        return model_len + ne + nn

    # -- qualification (A5 distributed) ------------------------------------
    def label_qualify(self) -> int:
        shared_rows = shared_head_labels(self._cand_raw, self.labels_flat).collect()
        shared = {}
        for r in shared_rows:
            k = _key(r)
            shared[k] = tuple(r["shared_labels"])
        proposals = [
            (m, shared[m.df_key]) for m in self.meta.values() if m.df_key in shared
        ]
        new_counts = nodes_with_all_labels(
            self.labels_flat, [labels for _, labels in proposals]
        )
        qual_cache: Dict[tuple, float] = {}

        def cost(rule, num_assertions, hist):
            if rule in qual_cache:
                alen = qual_cache[rule]
            else:
                alen = mdl.length_assertions_from_histogram(
                    num_assertions, dict(sorted(hist.items())), self.stats
                )
                qual_cache[rule] = alen
            return self._rule_len(rule) + alen

        n_qualified = 0
        for m, new_labels in proposals:
            old_rule = m.rule
            new_rule = (new_labels, old_rule[1])
            old_cost = cost(old_rule, self._num_assertions(m), m.ca_hist)
            new_cost = cost(new_rule, new_counts[new_labels], m.ca_hist)
            if abs(new_cost - old_cost) < self._EDGE_TOL:
                # knife-edge: the reference compares per-head-order sums
                # (``searcher.py:109-118``); replay its exact floats
                self._ordered_sizes([m])
                sizes = self._ordered_sizes_cache[m.df_key]
                old_cost = self._rule_len(old_rule) + mdl.length_assertions_flat(
                    self._num_assertions(m), sizes, self.stats
                )
                new_cost = self._rule_len(new_rule) + mdl.length_assertions_flat(
                    new_counts[new_labels], sizes, self.stats
                )
            if new_cost < old_cost:
                # rekey: dict-overwrite semantics (existing key keeps position)
                del self.meta[old_rule]
                m.rule = new_rule
                m.num_assertions = new_counts[new_labels]
                self.meta[new_rule] = m
                n_qualified += 1
        return n_qualified

    # -- ranking (W1 driver-side over counts) ------------------------------
    def rank(self) -> List[CandidateMeta]:
        null_err = mdl.length_error(0, 0, self.stats)

        def key(m: CandidateMeta):
            err = mdl.length_error(m.n_edges, m.n_labels, self.stats)
            return (null_err - err, m.n_cas, m.rule[0])

        return sorted(self.meta.values(), key=key, reverse=True)

    # -- accept bookkeeping (one checkpoint + one collect per BATCH) --------
    def _apply_batch(self, metas: List[CandidateMeta]):
        """Run the delta/overlap/covered maintenance for a batch of accepted
        rules whose coverage footprints are pairwise disjoint (guaranteed by
        the caller: distinct predicates ⇒ disjoint edge sets, distinct child
        labels ⇒ disjoint label-coverage sets).  Disjointness makes the
        batched delta Δ = (∪ edges(rᵢ)) − covered the disjoint union of the
        per-rule deltas, so one pass yields exactly the overlap increments a
        sequential per-rule application would.  ``n_covered_e/l`` are NOT
        updated here — the caller already advanced them at accept time from
        the counter identity |Δᵢ| = n_edges(rᵢ) − overlap_e(rᵢ).

        Physical shape — one checkpoint and one collect per batch: the new
        covered state ``covered ∪ Δ`` (delta rows tagged with this batch's
        serial) is a LAZY local checkpoint, and the single overlap-counter
        collect joins the candidate tables against the just-tagged slice of
        it, so that collect both maintains every counter AND materializes
        the flat checkpointed coverage.  "Lazy" covers only the final write:
        under AQE, ``localCheckpoint(eager=False)`` already runs the delta's
        shuffle and broadcast stages when it is called — measured 2-3 jobs
        at the checkpoint line and 4 at the collect per batch on the seed-1
        ``summarize_delta`` benchmark KG (5 + 8 over its 2 batches).  This
        replaced a 3-job schedule (delta checkpoint, counter collect,
        covered-union checkpoint); lineage depth stays pinned at 1 and rows
        never leave the cluster.  (An even earlier design collected each
        delta and re-broadcast it as a local relation; that caps coverage at
        driver memory, and the growing union-of-local-relations lineage made
        accept latency climb 2.8 -> 15 s between periodic checkpoints.)"""
        keys = [m.df_key for m in metas]
        in_batch = F.col("key").isin(keys) if len(keys) > 1 else F.col("key") == keys[0]
        # no distinct: the batch's rules have pairwise distinct predicates
        # and child labels, so no eid and no (child_label, child_node) row
        # repeats across them, and within one rule both tables are distinct
        # on the key
        r_edges = self.cand_edges.where(in_batch).select("eid")
        r_labels = self.cand_labels.where(in_batch).select("child_label", "child_node")
        if self.covered is not None:
            cov_e = self.covered.where(F.col("kind") == "e").select("eid")
            cov_l = self.covered.where(F.col("kind") == "l").select(
                "child_label", "child_node"
            )
            delta_e = r_edges.join(cov_e, "eid", "left_anti")
            delta_l = r_labels.join(cov_l, ["child_label", "child_node"], "left_anti")
        else:
            delta_e, delta_l = r_edges, r_labels
        self._batch_no += 1
        cur = self._batch_no
        eid_type = dict(self.cand_edges.dtypes)["eid"]
        delta = (
            delta_e.select(
                F.lit("e").alias("kind"), "eid",
                F.lit(None).cast("string").alias("child_label"),
                F.lit(None).cast("string").alias("child_node"),
            )
            .unionByName(
                delta_l.select(
                    F.lit("l").alias("kind"),
                    F.lit(None).cast(eid_type).alias("eid"),
                    "child_label", "child_node",
                )
            )
            .select("*", F.lit(cur).alias("batch"))
        )
        new_covered = (
            delta if self.covered is None else self.covered.unionByName(delta)
        ).localCheckpoint(eager=False)
        d_e = new_covered.where(
            (F.col("batch") == cur) & (F.col("kind") == "e")
        ).select("eid")
        d_l = new_covered.where(
            (F.col("batch") == cur) & (F.col("kind") == "l")
        ).select("child_label", "child_node")

        # The ONE action: per-(key, kind) match counts against the tagged
        # delta slice.  (key, eid) and (key, label, node) rows are distinct
        # by construction → count(*).  No broadcast hint: AQE picks broadcast
        # while deltas are small and falls back to shuffle join when not.
        incs = (
            self.cand_edges.join(d_e, "eid")
            .select("key", F.lit("e").alias("kind"))
            .unionByName(
                self.cand_labels.join(
                    d_l, ["child_label", "child_node"]
                ).select("key", F.lit("l").alias("kind"))
            )
            .groupBy("key", "kind")
            .agg(F.count("*").alias("n"))
            .collect()
        )
        by_key = {m.df_key: m.rule for m in self.meta.values()}
        for r in incs:
            if r["kind"] == "e":
                target = self.overlap_e
            else:
                target = self.overlap_l
            rule = by_key.get(r["key"])
            if rule is not None:
                target[rule] = target.get(rule, 0) + r["n"]

        # the collect above materialized the lazy checkpoint; dropping the
        # old `covered` reference lets Spark's ContextCleaner reclaim the
        # superseded checkpoint blocks
        self.covered = new_covered

    # -- distributed coverage accessors (consumed by the batch anomaly
    # scorer, kgist_spark.operators.anomaly.score_edges_delta) --------------
    def covered_edges_df(self) -> DataFrame:
        """Distinct covered edge ids as a DataFrame — the fit's own
        checkpointed coverage state; never collected."""
        if self.covered is None:
            return self.cand_edges.select("eid").where(F.lit(False))
        return self.covered.where(F.col("kind") == "e").select("eid")

    def covered_triples(self, triples: DataFrame) -> DataFrame:
        """Covered ``(subj, pred, obj)`` rows via an eid join against the
        input triples (which must carry the same ``eid`` column the candidate
        tables were built from)."""
        return (
            triples.join(self.covered_edges_df(), "eid")
            .select("subj", "pred", "obj")
            .distinct()
        )

    # -- the greedy loop ----------------------------------------------------
    def fit(self, passes: int = 2, label_qualify: bool = True):
        if label_qualify:
            self.label_qualify()
        ranked = self.rank()

        stats = self.stats
        selected: Dict[tuple, CandidateMeta] = {}
        best_model_len = mdl.length_model_header(stats)
        best_val = best_model_len + mdl.length_error(0, 0, stats)

        # Batched accepts.  A trial only reads (a) the candidate's two overlap
        # counters and (b) the global covered counts, so a just-accepted rule
        # can stay "pending" — its delta job deferred — as long as every
        # subsequent trial is provably unaffected by the pending deltas:
        #   * edge sets of candidate rules with different PREDICATES are
        #     disjoint (every covered edge of (root, p, dir, child) has
        #     predicate p; the same eid can reappear only under the same p);
        #   * label-coverage sets with different CHILD LABELS are disjoint
        #     (covered labels are (child_label, child_node) pairs).
        # Before trialing a rule (and its reverse) whose predicate or child
        # label intersects the pending footprint, flush: ONE delta job for
        # the whole batch (see _apply_batch).  The global covered counts
        # advance at accept time from the exact counter identity
        # |Δ| = n_edges − overlap_e, so decisions are identical to the
        # sequential schedule, job count drops from O(accepts) to O(batches).
        pending: List[CandidateMeta] = []
        pending_preds: set = set()
        pending_labels: set = set()
        batch_sizes: List[int] = []

        def footprint(meta: CandidateMeta):
            pred, _dir, child = meta.rule[1][0]
            return {pred}, set(child[0])

        def flush():
            if pending:
                batch_sizes.append(len(pending))
                self._apply_batch(pending)
                pending.clear()
                pending_preds.clear()
                pending_labels.clear()

        def pend(meta: CandidateMeta):
            self.n_covered_e += meta.n_edges - self.overlap_e.get(meta.rule, 0)
            self.n_covered_l += meta.n_labels - self.overlap_l.get(meta.rule, 0)
            self._accept_log.append((meta, self.n_covered_e, self.n_covered_l))
            preds, labels = footprint(meta)
            pending.append(meta)
            pending_preds.update(preds)
            pending_labels.update(labels)

        def trial_val(meta: CandidateMeta):
            new_e = meta.n_edges - self.overlap_e.get(meta.rule, 0)
            new_l = meta.n_labels - self.overlap_l.get(meta.rule, 0)
            m_len = best_model_len + self._rule_len(meta.rule) + self._assert_len(meta)
            err = mdl.length_error(
                self.n_covered_e + new_e, self.n_covered_l + new_l, stats
            )
            return m_len + err, m_len

        for _ in range(passes):
            for meta in ranked:
                rule = meta.rule
                reverse_rule = reverse_of(rule)
                rev_meta = self.meta.get(reverse_rule)
                if rev_meta is not None:
                    if rule in selected or reverse_rule in selected:
                        continue
                if rev_meta is None and rule in selected:
                    continue
                if pending:
                    preds, labels = footprint(meta)
                    if rev_meta is not None:
                        p2, l2 = footprint(rev_meta)
                        preds |= p2
                        labels |= l2
                    if (preds & pending_preds) or (labels & pending_labels):
                        flush()
                if rev_meta is not None:
                    val, m_len = trial_val(meta)
                    rev_val, rev_m_len = trial_val(rev_meta)
                    take_rule = val <= rev_val
                    accept = rev_val < best_val  # reference's quirk: BOTH
                    # branches gate on rev_val (`searcher.py:211,217`)
                    if (
                        abs(val - rev_val) < self._EDGE_TOL
                        or abs(rev_val - best_val) < self._EDGE_TOL
                    ):
                        # knife-edge: decide with the reference's exact
                        # floats (symmetric predicates tie val/rev_val down
                        # to per-head summation-order noise)
                        self._ordered_sizes([meta, rev_meta])
                        prev_ref, best_ref = self._exact_state()
                        va = self._exact_trial(meta, prev_ref)
                        vb = self._exact_trial(rev_meta, prev_ref)
                        take_rule = va <= vb
                        accept = vb < best_ref
                    if accept:
                        if take_rule:
                            selected[rule] = meta
                            pend(meta)
                            best_val, best_model_len = val, m_len
                        else:
                            selected[reverse_rule] = rev_meta
                            pend(rev_meta)
                            best_val, best_model_len = rev_val, rev_m_len
                else:
                    val, m_len = trial_val(meta)
                    accept = val < best_val
                    if abs(val - best_val) < self._EDGE_TOL:
                        self._ordered_sizes([meta])
                        prev_ref, best_ref = self._exact_state()
                        accept = self._exact_trial(meta, prev_ref) < best_ref
                    if accept:
                        selected[rule] = meta
                        pend(meta)
                        best_val, best_model_len = val, m_len
        flush()
        return {
            "rules": list(selected.keys()),
            "objective_bits": best_val,
            "model_bits": best_model_len,
            "covered_edges": self.n_covered_e,
            "covered_labels": self.n_covered_l,
            "n_delta_jobs": len(batch_sizes),
            "batch_sizes": batch_sizes,
        }
