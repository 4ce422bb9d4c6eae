"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship candidate-generation aggregation on sf0.001;
``queries``/``oracle_sql`` expose the operator inventory over the testdata
tables — the KG pipeline's stages (candidate generation, MDL model fit and
refinement, anomaly ranking, near-dup blocking, the schema report) plus
the dedup, text and similarity operators
(see ``kgist_spark/plans/testdata_queries.py``), each checked against its
DuckDB oracle SQL by the driver at sf0.01.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: KGist candidate-rule generation over the KG derived
    from /root/testdata/sf0.001 (3-way join + both-direction union + grouped
    aggregation)."""
    from kgist_spark.plans.testdata_queries import q_candidate_stats

    return q_candidate_stats(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from kgist_spark.plans.testdata_queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from kgist_spark.plans.testdata_queries import oracle_sql_dict

    return oracle_sql_dict()
