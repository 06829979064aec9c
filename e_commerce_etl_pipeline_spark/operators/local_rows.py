"""A few driver-side rows as a DataFrame that needs no Python worker.

``spark.createDataFrame([tuple, ...], schema)`` plans the rows as a
``LogicalRDD`` over a pickled Python RDD, so writing even one audit row
starts Python workers (4 tasks on a 4-core host, ~1 CPU s). An Arrow
table is shipped to the JVM once and planned as a ``LocalRelation``: the
rows live in the plan itself and every action on it stays in the JVM.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def local_rows(
    spark: SparkSession,
    rows: Iterable[Sequence],
    schema: T.StructType | str,
) -> DataFrame:
    """``rows`` are tuples in ``schema``'s field order (None for NULL);
    ``schema`` is a StructType or a DDL string. Meant for control-plane
    rows (audits, tokens) with string, numeric and boolean columns."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table)
