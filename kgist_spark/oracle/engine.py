"""Model state, MDL evaluation and greedy rule selection (driver-side).

This module is shared by the oracle and the Spark engine: the distributed
plans aggregate the graph into a ``CandidateIndex``-shaped object (see
``kgist_spark.oracle.kg.LocalKG`` for the protocol) and then run the exact
same selection loop, so both paths produce bit-identical models.

Semantics follow the reference (GemsLab/KGist): coverage bookkeeping
``model.py:81-108``, greedy search ``searcher.py:168-244``, ranking
``searcher.py:22-41``, label qualification ``searcher.py:89-166``,
incremental objective ``evaluator.py:37-62``.
"""

from __future__ import annotations

from typing import Dict, List, Optional

from kgist_spark.functions import mdl
from kgist_spark.functions.ir import Assertion, RuleTree, length_assertions_tree, reverse_of


class ModelEvaluator:
    """MDL objective over an index's aggregates, with the reference's
    memoization discipline (``evaluator.py:21-24,173-174,212-213``)."""

    def __init__(self, index):
        self.index = index
        self.stats = index.stats
        # tuplified rule -> L(alpha(g)); safe to memoize because assertions
        # derive from the immutable candidate index, not from model state
        self._assertion_len_cache: Dict[tuple, float] = {}

    # -- per-rule terms ----------------------------------------------------
    def rule_len(self, rule) -> float:
        if isinstance(rule, RuleTree):
            rule = rule.tuplify()
        return mdl.length_rule(rule, self.stats)

    def assertions_len(self, rule, model: "SummaryModel" = None,
                       ca_sizes: Optional[List[int]] = None) -> float:
        if isinstance(rule, RuleTree):
            key = rule.tuplify()
            if key in self._assertion_len_cache:
                return self._assertion_len_cache[key]
            num_assertions = self.index.nodes_with_type(rule.root)
            bits = length_assertions_tree(rule, num_assertions, self.stats)
            self._assertion_len_cache[key] = bits
            return bits
        if rule in self._assertion_len_cache:
            return self._assertion_len_cache[rule]
        if ca_sizes is None:
            ca_sizes = model.rules[rule]
        num_assertions = self.index.nodes_with_type(rule[0])
        bits = mdl.length_assertions_flat(num_assertions, ca_sizes, self.stats)
        self._assertion_len_cache[rule] = bits
        return bits

    # -- whole-model terms -------------------------------------------------
    def model_len(self, model: "SummaryModel") -> float:
        bits = mdl.length_model_header(self.stats)
        bits += sum(
            self.rule_len(rule) + self.assertions_len(rule, model)
            for rule in model.rules
        )
        return bits

    def error_len(self, model: "SummaryModel") -> float:
        return mdl.length_error(
            len(model.covered_edges), len(model.covered_labels), self.stats
        )

    def evaluate(self, model: "SummaryModel", with_lengths: bool = False):
        """L(M) + L(G|M)."""
        length_model = self.model_len(model)
        neg_edge = mdl.length_negative_edge_error(len(model.covered_edges), self.stats)
        neg_node = mdl.length_negative_label_error(len(model.covered_labels), self.stats)
        val = length_model + neg_edge + neg_node
        if with_lengths:
            return val, length_model, neg_edge, neg_node
        return val

    def evaluate_change(self, model: "SummaryModel", rule, prev_model_len: float):
        """Objective after ``rule`` was just added, incrementally:
        new model length = previous + L(g) + L(alpha(g)); errors recomputed
        from the (already-updated) covered counts (``evaluator.py:37-62``)."""
        neg_edge = mdl.length_negative_edge_error(len(model.covered_edges), self.stats)
        neg_node = mdl.length_negative_label_error(len(model.covered_labels), self.stats)
        model_len = prev_model_len + self.rule_len(rule) + self.assertions_len(rule, model)
        return model_len + neg_edge + neg_node, model_len, neg_edge, neg_node


class SummaryModel:
    """A set of selected rules plus the exact edge/label coverage they explain."""

    def __init__(self, index):
        self.index = index
        self.rules: Dict[object, object] = {}  # rule tuple -> ca-size list | RuleTree -> 'tree'
        self.covered_edges = set()
        self.covered_labels = set()
        self._undo = {"rule": None}
        self.subject_to_rules: Dict[tuple, set] = {}

    # -- mutation ----------------------------------------------------------
    def add_rule(self, rule):
        if rule in self.rules:
            return
        if isinstance(rule, RuleTree):
            self.rules[rule] = "tree"
            root = rule.root
            new_edges = rule.edges_covered() - self.covered_edges
            new_labels = rule.labels_covered() - self.covered_labels
        else:
            rec = self.index.record(rule)
            self.rules[rule] = list(rec.ca_to_size.values())
            root = rule[0]
            new_edges = rec.edges - self.covered_edges
            new_labels = rec.label_coverage - self.covered_labels
        self.subject_to_rules.setdefault(root, set()).add(rule)
        self._undo = {"rule": rule, "edges": new_edges, "labels": new_labels}
        self.covered_edges |= new_edges
        self.covered_labels |= new_labels

    def remove_rule(self, rule):
        """Only the most recently added rule can be removed (the greedy
        trial/rollback protocol depends on exactly this, ``model.py:59-79``)."""
        if rule != self._undo["rule"] or rule not in self.rules:
            return
        del self.rules[rule]
        root = rule.root if isinstance(rule, RuleTree) else rule[0]
        self.subject_to_rules[root].discard(rule)
        if not self.subject_to_rules[root]:
            del self.subject_to_rules[root]
        self.covered_edges -= self._undo["edges"]
        self.covered_labels -= self._undo["labels"]

    # -- assertion forests (for refinements / nested rules) ----------------
    def plant_forest(self, tree: RuleTree):
        """Instantiate a level-0 rule tree's star assertions from the candidate
        index (``model.py:208-235``).  Edge iteration is sorted by edge id for
        determinism (the reference iterates a set)."""
        if tree.instantiated():
            return
        rec = self.index.record(tree.tuplify())
        direction = tree.children[0][1]
        child_root = tree.children[0][2].root
        forest: Dict[object, Assertion] = {}
        for eid in sorted(rec.edges):
            sub, pred, obj = self.index.id_to_edge[eid]
            head = sub if direction == "out" else obj
            spoke = obj if direction == "out" else sub
            if head not in forest:
                forest[head] = Assertion(head)
            forest[head].add_edge(
                (head, tree.root, pred, direction, spoke, child_root),
                eid=eid,
                track_labels=True,
            )
        for real in forest.values():
            tree.assertions.append(real)

    # -- reporting ---------------------------------------------------------
    def percent_edges_explained(self) -> float:
        m = self.index.stats.m
        return len(self.covered_edges) / m * 100 if m else 0.0


class GreedySearcher:
    """Label qualification + MDL ranking + greedy selection."""

    def __init__(self, index):
        self.index = index
        self.evaluator = ModelEvaluator(index)
        self.cands = index.ordered_rules()

    # -- Section 4.1.1: label qualification --------------------------------
    def label_qualify(self):
        rule_to_new_labels = {}
        for rule in self.cands:
            root = rule[0][0]
            heads = list(self.index.record(rule).ca_to_size.keys())
            shared = set(self.index.labels(heads[0]))
            for head in heads[1:]:
                shared &= set(self.index.labels(head))
                if shared == {root}:
                    break
            if shared != {root}:
                rule_to_new_labels[rule] = tuple(sorted(shared))

        # a fresh evaluator (and cache) per qualification pass, as in the
        # reference (searcher.py:153) — rejected trials must not pollute the
        # main evaluator's memo
        qual_ev = ModelEvaluator(self.index)
        num_qualified = 0
        for old_rule, new_labels in rule_to_new_labels.items():
            new_rule = (new_labels, old_rule[1])
            ca_sizes = list(self.index.record(old_rule).ca_to_size.values())
            # L(G|M) is unchanged by qualification (every head carries the new
            # labels), so only L(g) + L(alpha(g)) need comparing
            cost_old = qual_ev.rule_len(old_rule) + qual_ev.assertions_len(
                old_rule, ca_sizes=ca_sizes
            )
            cost_new = qual_ev.rule_len(new_rule) + qual_ev.assertions_len(
                new_rule, ca_sizes=ca_sizes
            )
            if cost_new < cost_old:
                self.index.rekey(old_rule, new_rule)
                num_qualified += 1
        self.cands = self.index.ordered_rules()
        return num_qualified

    # -- Section 4.1.3: ranking --------------------------------------------
    def rank(self):
        stats = self.index.stats
        null_err = mdl.length_error(0, 0, stats)

        def sort_key(rule):
            rec = self.index.record(rule)
            err = mdl.length_error(len(rec.edges), len(rec.label_coverage), stats)
            return (null_err - err, len(rec.ca_to_size), rule[0])

        self.cands = sorted(self.cands, reverse=True, key=sort_key)

    # -- Sections 4.1.2 / 4.2.1: greedy selection --------------------------
    def build_model(self, passes: int = 2, label_qualify: bool = True,
                    rank: bool = True) -> SummaryModel:
        if label_qualify:
            self.label_qualify()
        if rank:
            self.rank()

        ev = self.evaluator
        model = SummaryModel(self.index)
        best_val, best_model_len, _, _ = ev.evaluate(model, with_lengths=True)

        for _ in range(passes):
            for rule in self.cands:
                reverse_rule = reverse_of(rule)
                if self.index.has(reverse_rule):
                    if rule in model.rules or reverse_rule in model.rules:
                        continue
                    model.add_rule(rule)
                    val, m_len, _, _ = ev.evaluate_change(model, rule, best_model_len)
                    model.remove_rule(rule)
                    model.add_rule(reverse_rule)
                    rev_val, rev_m_len, _, _ = ev.evaluate_change(
                        model, reverse_rule, best_model_len
                    )
                    model.remove_rule(reverse_rule)
                    # NB: the reference's chained comparison `val <= rev_val <
                    # best_val` requires BOTH the forward-accept and rev_val <
                    # best_val — when val < best_val <= rev_val neither rule is
                    # added (searcher.py:211-222); replicated exactly
                    if val <= rev_val and rev_val < best_val:
                        model.add_rule(rule)
                        best_val, best_model_len = val, m_len
                    elif rev_val < best_val:
                        model.add_rule(reverse_rule)
                        best_val, best_model_len = rev_val, rev_m_len
                else:
                    if rule in model.rules:
                        continue
                    model.add_rule(rule)
                    val, m_len, _, _ = ev.evaluate_change(model, rule, best_model_len)
                    if val < best_val:
                        best_val, best_model_len = val, m_len
                    else:
                        model.remove_rule(rule)
        return model
