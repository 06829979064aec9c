"""Exact grouped median two ways: the JVM-native ``median`` aggregate
(the fast path — whole-stage codegen, partial aggregation, no Python in
the loop) and the same computation via ``applyInPandas`` (the sanctioned
slow path for group-at-a-time semantics the built-ins can't express —
kept oracle-checked here so the Arrow/grouped-Pandas plumbing is
continuously verified against DuckDB).

``applyInPandas`` ships each group to one task as an Arrow batch —
per-group memory, partition-parallel across groups, no driver
involvement. Reach for it only when a built-in aggregate genuinely can't
express the semantics; for exact median Spark's ``median`` exists and is
~10× faster, which is why the headline bench runs the native form.

This is one of two modules that still import pandas, on purpose: every
other Python kernel runs through ``arrow_kernel.arrow_map``, but
``user_value_median_pandas`` exists to keep the grouped-pandas plumbing
oracle-checked, and perfbench's ``queries`` workload runs it under that
registry name.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.queries import load_table

MEDIAN_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("median_value", T.DoubleType()),
])


def _median_fn(pdf: pd.DataFrame) -> pd.DataFrame:
    # Called once per GROUP, so per-call overhead multiplies by the
    # group count (guide §4.2): np.median over the raw ndarray is an
    # O(n) introselect — the former sort_values() pre-sort was wasted
    # work (median() partitions internally) plus a full Series copy.
    vals = pdf["value"].to_numpy()
    return pd.DataFrame({
        "user_id": [pdf["user_id"].iat[0]],
        "n_events": [len(vals)],
        # nanmedian, not median: Series.median() skips NaN (Spark NULLs
        # arrive as NaN), and the SQL twin's median ignores NULLs — the
        # NaN-skipping semantics are part of the operator's contract
        "median_value": [float(np.nanmedian(vals))],
    })


def user_value_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-user event-value median, JVM-side (native ``median``)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.median("value").alias("median_value"),
    )


def user_value_median_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result via grouped Pandas (operator-shape demonstration)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    return ev.groupBy("user_id").applyInPandas(_median_fn, MEDIAN_SCHEMA)


USER_VALUE_MEDIAN_SQL = """
SELECT user_id, COUNT(*) AS n_events, median(value) AS median_value
FROM events GROUP BY user_id
"""


EXT_QUERIES = {
    "user_value_median": (user_value_median, USER_VALUE_MEDIAN_SQL),
    "user_value_median_pandas": (user_value_median_pandas, USER_VALUE_MEDIAN_SQL),
}
