"""Stage 1 — the languages the triple extractor reads.

The extraction rules are the frozen spec of :mod:`kgist_spark.pipeline.spec`;
the distributed extractor that applies them is the all-Catalyst
:mod:`kgist_spark.pipeline.extract_jvm`.  Both read only pages whose
``lang`` is listed here; the filter is a plain column predicate, pushed into
the scan.
"""

#: languages the stage-1 extractor understands
EXTRACT_LANGS = ("en",)
