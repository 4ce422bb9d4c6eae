"""Reference-format CLI: ``python -m kgist_spark --graph <name-or-path>``.

Mirrors GemsLab/KGist ``main.py:7-51`` — same flags (``-Rm``, ``-Rn``,
``--idify``, ``--output_path``), same defaults (idify=True, passes=2,
label_qualify) and the same on-disk input convention: ``{graph}.txt`` +
``{graph}_labels.txt``.  ``--graph`` accepts either a bare name resolved
under ``--data_dir`` (the reference's ``../data/`` layout) or a direct path
to the edge-list file.

By default the summarization runs on the single-node oracle engine (the
reference is single-node; same results, no JVM startup).  ``--spark`` routes
candidate generation through the distributed engine instead — identical
output, tested in ``tests/test_cli.py``.  ``--save_candidates PATH`` /
``--load_candidates PATH`` persist/reload the candidate contribution table
(S3, reference ``graph.py:166-168``) so repeat runs skip the generation join.
"""

from __future__ import annotations

import argparse
import os
import sys


def _str2bool(v: str) -> bool:
    if v.lower() in ("yes", "true", "t", "y", "1"):
        return True
    if v.lower() in ("no", "false", "f", "n", "0"):
        return False
    raise argparse.ArgumentTypeError("Boolean value expected.")


def parse_args(argv=None):
    p = argparse.ArgumentParser(prog="kgist_spark")
    p.add_argument("--graph", "-g", required=True,
                   help="graph name (resolved under --data_dir) or a path to "
                        "the {name}.txt edge list; {name}_labels.txt must sit "
                        "beside it")
    p.add_argument("--rule_merging", "-Rm", type=_str2bool, default=False,
                   nargs="?", const=True,
                   help="run the merging refinement (Rm)")
    p.add_argument("--rule_nesting", "-Rn", type=_str2bool, default=False,
                   nargs="?", const=True,
                   help="run the nesting refinement (Rn)")
    p.add_argument("--idify", "-i", type=_str2bool, default=True,
                   help="dictionary-encode to integer ids (reference default)")
    p.add_argument("--passes", type=int, default=2)
    p.add_argument("--no_label_qualify", action="store_true")
    p.add_argument("--verbosity", "-v", type=int, default=1)
    p.add_argument("--output_path", "-o", default="output")
    p.add_argument("--data_dir", default="data")
    p.add_argument("--spark", action="store_true",
                   help="run candidate generation on the distributed engine")
    p.add_argument("--save_candidates", default=None, metavar="PATH",
                   help="persist the candidate contribution table as parquet "
                        "after generation (S3; implies --spark)")
    p.add_argument("--load_candidates", default=None, metavar="PATH",
                   help="reload a persisted candidate table instead of "
                        "re-running the candidate-generation join (S3; "
                        "implies --spark)")
    return p.parse_args(argv)


def _resolve_paths(args):
    g = args.graph
    if g.endswith(".txt") or os.path.sep in g:
        edge_path = g if g.endswith(".txt") else f"{g}.txt"
        base = edge_path[:-4]
    else:
        base = os.path.join(args.data_dir, g)
        edge_path = f"{base}.txt"
    return edge_path, f"{base}_labels.txt"


def main(argv=None) -> int:
    args = parse_args(argv)
    edge_path, labels_path = _resolve_paths(args)
    say = print if args.verbosity > 0 else (lambda *a, **k: None)

    if args.spark or args.save_candidates or args.load_candidates:
        from kgist_spark.plans.summarizer import SparkSummarizer
        from kgist_spark.session import entry_session
        from kgist_spark.sources.candidates_io import (
            load_candidates, save_candidates)
        from kgist_spark.sources.edgelist import load_labels, load_triples

        spark = entry_session("kgist_spark")
        triples = load_triples(spark, edge_path)
        labels = load_labels(spark, labels_path)
        cand = None
        if args.load_candidates:
            cand = load_candidates(spark, args.load_candidates)
            say(f"Candidates reloaded from {args.load_candidates}.")
        elif args.save_candidates:
            from kgist_spark.operators.candidates import candidate_edges
            from kgist_spark.sources.edgelist import explode_labels

            cand = candidate_edges(triples, explode_labels(labels))
            save_candidates(cand, args.save_candidates)
            cand = load_candidates(spark, args.save_candidates)
            say(f"Candidates saved to {args.save_candidates}.")
        summ = SparkSummarizer(triples, labels, idify=args.idify,
                               cand_edges=cand)
        say("Graph loaded (Spark candidate generation).")
        model = summ.fit(passes=args.passes,
                         label_qualify=not args.no_label_qualify)
    else:
        from kgist_spark.oracle import GreedySearcher, LocalKG

        kg = LocalKG.from_files(edge_path, labels_path, idify=args.idify)
        say("Graph loaded.")
        say("Creating model.")
        model = GreedySearcher(kg).build_model(
            passes=args.passes, label_qualify=not args.no_label_qualify
        )

    if args.rule_merging:
        from kgist_spark.oracle.refine import merge_rules

        say("Merging rules (Rm).")
        model = merge_rules(model)
    if args.rule_nesting:
        from kgist_spark.oracle.refine import nest_rules

        say("Nesting rules (Rn).")
        model = nest_rules(model)

    from kgist_spark.sources.model_io import save_model

    meta = save_model(model, args.output_path)
    say(f"{meta['n_rules']} rules, L(G,M) = {meta['objective_bits']:.4f} bits, "
        f"{meta['pct_edges_explained']:.2f}% of edges explained")
    say(f"Saved to {args.output_path}/ (rules.txt, model.json)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
