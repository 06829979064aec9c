"""bench.count_pruned: which registry entries count() cannot time.

Catalyst prunes every computed column of a map-only frame under count(),
so the count() plan scans parquet with ``ReadSchema: struct<>``. The
bench times exactly those entries again with the noop sink.

bench.calib_series: the warm series over ``calib_sec``, and the
headline's geometric mean beside it.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bench import Timings, calib_series, count_pruned

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


def test_calib_series_divides_warm_seconds_by_calib():
    head = Timings(warm={"a": 0.5, "b": 2.0})
    tail = Timings(warm={"c": 0.25})
    out = calib_series(head, tail, calib=0.25)
    assert out["queries_warm_calib"] == {"a": 2.0, "b": 8.0}
    assert out["registry_tail_warm_calib"] == {"c": 1.0}
    assert out["geomean_warm"] == pytest.approx(1.0)
    assert out["geomean_warm_calib"] == pytest.approx(4.0)


def test_calib_series_geomean_floors_zero_and_drops_partial_headline():
    zero = calib_series(Timings(warm={"a": 0.0, "b": 1000.0}), Timings(), 0.1)
    assert zero["geomean_warm"] == pytest.approx(1.0)
    partial = calib_series(Timings(warm={"a": 1.0}, errors={"b": "boom"}),
                           Timings(), 0.1)
    assert partial["geomean_warm"] is None
    assert partial["geomean_warm_calib"] is None
    assert partial["queries_warm_calib"] == {"a": 10.0}
