"""Driver-built tables as Arrow local relations.

``spark.createDataFrame(<python list>)`` plans a Python ``LogicalRDD``: every
job that reads the table starts the ``pyspark.daemon`` worker pool and ships
the rows through Python serialization.  A ``pyarrow.Table`` handed to
``createDataFrame`` becomes a ``LocalRelation`` instead — the rows travel
once, inside the plan, and are read by the JVM alone.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """``rows`` (tuples in ``schema``'s field order) as a ``LocalRelation``
    with exactly ``schema``'s types; ``schema`` is a DDL string or a
    ``StructType``.  Empty ``rows`` give an empty table of that schema."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table)
