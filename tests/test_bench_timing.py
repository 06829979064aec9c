"""bench.count_pruned: which registry entries count() cannot time.

Catalyst prunes every computed column of a map-only frame under count(),
so the count() plan scans parquet with ``ReadSchema: struct<>``. The
bench times exactly those entries again with the noop sink.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bench import count_pruned

# The entries the bench timed with the noop sink before the list was
# derived from plans (a hand-kept list, checked against r12 plans).
MAP_ONLY = [
    "text_stats", "lang_id_docs", "simhash_docs", "redact_pii_docs",
    "coercion_kernel_events", "load_statistics", "row_count_report",
    "schema_aligned_events", "asof_last_purchase",
    "user_running_totals", "training_shards", "funnel_conversion",
    "gopher_quality_flags", "repetition_flags", "unicode_clean_docs",
]


@pytest.fixture(scope="module")
def scan(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pruned") / "t.parquet")
    spark.range(100).selectExpr("id", "id % 7 AS k", "repeat('x', 5) AS s") \
        .write.parquet(path)
    return spark.read.parquet(path)


def test_projection_over_scan_is_pruned(scan):
    assert count_pruned(scan.select(F.length("s").alias("n"), F.col("k") * 2))


def test_aggregate_over_scan_is_not_pruned(scan):
    assert not count_pruned(scan.groupBy("k").agg(F.sum("id")))


def test_frames_without_file_scan_are_not_pruned(spark):
    assert not count_pruned(spark.range(10).selectExpr("id * 2 AS x"))
    assert not count_pruned(spark.createDataFrame([(1, "a")], "i int, s string"))


def test_registry_map_only_entries_are_derived(spark, sf_dir):
    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    for name in MAP_ONLY:
        assert count_pruned(queries[name](spark, sf_dir)), name
    for name in ("q1_pricing_summary", "sales_rollup"):
        assert not count_pruned(queries[name](spark, sf_dir)), name
