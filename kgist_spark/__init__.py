"""kgist_spark — a PySpark-native knowledge-graph construction + MDL
summarization engine.

Capabilities (see SURVEY.md for the full inventory):

* KG construction pipeline over web-page tables: triple extraction
  (all-Catalyst expressions, row-identical to an Arrow-UDF spec twin),
  entity canonicalization (MinHash-LSH blocking + connected components),
  mention linking, partitioned materialization with per-partition lineage
  and checkpointed resumability.
* KGist-style MDL summarization (rule mining, greedy selection, rule
  merging/nesting refinements) re-expressed as DataFrame aggregations plus
  driver-side arithmetic over counts, matching the reference semantics of
  GemsLab/KGist (WWW 2020) to the bit.
* Anomaly scoring of triples in bits against a fitted model.
* A per-predicate schema report (type profiles + induced-constraint
  violations) over the constructed KG, and incremental construction as
  page batches arrive (``streaming/construct.py``).
* Corpus operators over document tables: dedup (exact/MinHash/SimHash/
  n-gram/embedding), similarity search, text quality, DSIR importance
  weights, sketches and curation.
"""

__version__ = "0.1.0"
