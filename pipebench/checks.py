"""Correctness gates for the benchmark's operations.

Each ``check_*`` returns a list of problems (empty when the output is
correct).  Outputs are read with pyarrow, outside the timed region.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from collections import Counter

import pyarrow.parquet as pq

MIN_PRECISION = MIN_RECALL = 0.95


def _table(path: str, columns: list) -> list:
    t = pq.read_table(path, columns=columns)
    return list(zip(*(t.column(c).to_pylist() for c in columns)))


def _rep(aliases: dict) -> dict:
    """Both members of a ground-truth alias pair -> the smaller one."""
    rep = {}
    for a, b in aliases.items():
        rep[a] = rep[b] = min(a, b)
    return rep


def _scores_ok(scores: list, kg: list) -> list:
    problems = []
    if Counter((s, p, o) for s, p, o, _ in scores) != Counter(kg):
        problems.append("anomaly scores do not cover every KG edge exactly once")
    bad = [x for *_, x in scores if x is None or not math.isfinite(x) or x < 0]
    if bad:
        problems.append(f"{len(bad)} anomaly scores are not finite non-negative bits")
    return problems


def check_pipeline(out: str, truth: set, aliases: dict, scored: bool) -> list:
    """Extraction P/R against the generator, alias merges, and (when the
    operation scores anomalies) scoring."""
    problems = []
    kg = _table(f"{out}/kg_triples", ["subj", "pred", "obj"])
    rep = _rep(aliases)
    norm = lambda t: (rep.get(t[0], t[0]), t[1], rep.get(t[2], t[2]))  # noqa: E731
    got = {norm(t) for t in kg}
    want = {norm(t) for t in truth}
    hit = len(got & want)
    precision, recall = hit / max(1, len(got)), hit / max(1, len(want))
    if precision < MIN_PRECISION or recall < MIN_RECALL:
        problems.append(f"extraction P/R {precision:.4f}/{recall:.4f} below {MIN_RECALL}")
    nodes = {x for s, _, o in kg for x in (s, o)}
    nodes |= {n for (n,) in _table(f"{out}/kg_labels", ["node"])}
    mentioned = {x for s, _, o in truth for x in (s, o)}
    split = [(a, b) for a, b in aliases.items()
             if a in mentioned and b in mentioned and a in nodes and b in nodes]
    if split:
        problems.append(f"{len(split)} alias pairs not merged, e.g. {split[:3]}")
    if scored:
        problems += _scores_ok(
            _table(f"{out}/anomaly_scores", ["subj", "pred", "obj", "score"]), kg)
    return problems


def exact_reference(spark, kg_dir: str) -> dict:
    """The exact-regime KGist model of the KG at ``kg_dir``: the pure-Python
    reference searcher over the summarizer's own input rows and order (the
    oracle the delta-vs-exact parity suite compares against)."""
    from kgist_spark.oracle import GreedySearcher, LocalKG, ModelEvaluator
    from kgist_spark.pipeline.materialize import read_kg
    from kgist_spark.pipeline.run import kg_to_summarizer_inputs

    t, lab = kg_to_summarizer_inputs(*read_kg(spark, kg_dir))
    edges = [(r["subj"], r["pred"], r["obj"]) for r in t.orderBy("eid").collect()]
    labels = [(r["node"], tuple(r["labels"])) for r in lab.orderBy("line_no").collect()]
    kg = LocalKG.from_rows(labels, edges, idify=False)
    model = GreedySearcher(kg).build_model(passes=2, label_qualify=True)
    return {"rules": set(model.rules), "bits": ModelEvaluator(kg).evaluate(model),
            "triples": Counter(edges)}


def check_delta(out: str, fit: dict, ref: dict) -> list:
    problems = []
    if set(fit["rules"]) != ref["rules"]:
        problems.append(f"delta rules differ from exact: {len(fit['rules'])} vs "
                        f"{len(ref['rules'])}")
    if abs(fit["objective_bits"] - ref["bits"]) > 1e-6:
        problems.append(f"delta bits {fit['objective_bits']} != exact {ref['bits']}")
    scores = _table(f"{out}/anomaly_scores", ["subj", "pred", "obj", "score"])
    problems += _scores_ok(scores, list(ref["triples"].elements()))
    return problems


def batch_reference(pages: list) -> set:
    """Triples of one batch construct over ``pages`` (every page an
    incremental fold sees, base and batches), built by the program's
    driver-side twins of the batch path: the spec extractor
    (``spec.extract_page``, row-identical to the JVM extractor) and
    ``canonical_map_local`` (the path ``canonical_map`` itself takes below
    its 8,192-entity gate).  No Spark job, so it costs set-up no scheduling
    latency."""
    from kgist_spark.pipeline.canonicalize_local import canonical_map_local
    from kgist_spark.pipeline.extract import EXTRACT_LANGS
    from kgist_spark.pipeline.spec import extract_page

    raw = {t for p in pages if p["lang"] in EXTRACT_LANGS
           for t in extract_page(p["text"])["triples"]}
    canon = canonical_map_local(sorted({x for s, _, o in raw for x in (s, o)}))
    return {(canon[s], p, canon[o]) for s, p, o in raw if canon[s] != canon[o]}


def check_incremental(out: str, bridges: int, ref: set) -> list:
    """Equal to the batch construct up to representative renaming (when no
    new surface bridged two groups), and edge ids unique and dense."""
    problems = []
    kg = _table(f"{out}/kg_triples", ["subj", "pred", "obj", "eid"])
    eids = sorted(e for *_, e in kg)
    if eids != list(range(len(eids))):
        problems.append("incremental edge ids are not unique and dense from 0")
    if bridges == 0:
        groups = {}
        for surface, canonical in _table(f"{out}/canon_dict", ["surface", "canonical"]):
            groups.setdefault(canonical, set()).add(surface)
        rep = {c: min(m) for c, m in groups.items()}
        got = {(rep.get(s, s), p, rep.get(o, o)) for s, p, o, _ in kg}
        if got != ref:
            problems.append(f"incremental KG != batch construct: {len(got - ref)} extra, "
                            f"{len(ref - got)} missing")
    return problems


def digest(out: str) -> str:
    """sha256 of (triples, rules, bits, top-100 anomalies) of one output."""
    h = hashlib.sha256()
    for kg in (f"{out}/kg_triples", f"{out}/incremental/kg_triples"):
        if os.path.isdir(kg):
            h.update(repr(sorted(_table(kg, ["subj", "pred", "obj"]))).encode())
    for model in (f"{out}/model/model.json", f"{out}/model.json"):
        if os.path.exists(model):
            with open(model) as fh:
                meta = json.load(fh)
            h.update(repr((meta["rules"], round(meta["objective_bits"], 6))).encode())
    if os.path.isdir(f"{out}/anomaly_scores"):
        scores = _table(f"{out}/anomaly_scores", ["subj", "pred", "obj", "score"])
        top = sorted(scores, key=lambda r: (-r[3], r[0], r[1], r[2]))[:100]
        h.update(repr([(s, p, o, round(x, 6)) for s, p, o, x in top]).encode())
    return h.hexdigest()


def program_fingerprint(root: str) -> str:
    """sha256 of the program's and the benchmark's sources
    (``kgist_spark/``, ``run_pipeline.py``, ``pipebench/``): stored digests
    are compared only between runs of the same code, so a change that alters
    the output on purpose starts from a clean slate instead of failing
    against an older commit's."""
    h = hashlib.sha256()
    paths = [os.path.join(root, "run_pipeline.py")]
    for sub in ("kgist_spark", "pipebench"):
        for d, _, files in os.walk(os.path.join(root, sub)):
            paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    for path in sorted(paths):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def same_digest(path: str, digests: set) -> bool:
    """One digest across this run's operations, equal to the one an earlier
    run recorded at ``path`` (keyed by program, workload, seed and scale)."""
    if len(digests) > 1:
        return False
    if not digests:
        return True
    (d,) = digests
    os.makedirs(os.path.dirname(path), exist_ok=True)
    if os.path.exists(path):
        with open(path) as fh:
            return fh.read().strip() == d
    with open(path, "w") as fh:
        fh.write(d)
    return True
