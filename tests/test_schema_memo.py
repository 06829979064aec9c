"""load_table declares a memoized schema (index_store.parquet_schema).

Without a declared schema every ``spark.read.parquet`` starts a
schema-inference job. The memo serves the schema Spark inferred for the
table's current content fingerprint and inference settings, so a repeat
load starts no job, while a rewrite, a settings change or a missing path
behaves exactly as an inferring read would.
"""

from __future__ import annotations

import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from e_commerce_etl_pipeline_spark.operators import index_store
from e_commerce_etl_pipeline_spark.plans.queries import load_table

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _load_jobs(spark, sf, name):
    """(DataFrame, ids of the Spark jobs building it started)."""
    group = f"test-{uuid.uuid4().hex}"
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        df = load_table(spark, sf, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return df, list(sc.statusTracker().getJobIdsForGroup(group))


def test_repeat_load_starts_no_job(spark, tmp_path):
    sf = str(tmp_path)
    pq.write_table(pa.table({"k": [1, 2, 3]}), f"{sf}/t.parquet")
    builds = dict(index_store.BUILD_COUNTS)

    _, jobs = _load_jobs(spark, sf, "t")
    assert jobs, "the first load infers the schema in a job"
    a, jobs = _load_jobs(spark, sf, "t")
    assert jobs == []
    b, _ = _load_jobs(spark, sf, "t")
    # each call is a fresh relation: a self-join keeps its sides apart
    assert a.join(b, a["k"] == b["k"]).count() == 3
    assert index_store.BUILD_COUNTS == builds, "a schema is not an index build"

    index_store.invalidate(index_store.table_dir(sf, "t"), spark)
    _, jobs = _load_jobs(spark, sf, "t")
    assert jobs, "invalidate drops the memoized schema"


def test_rewrite_reinfers_schema(spark, tmp_path):
    sf = str(tmp_path)
    path = f"{sf}/t.parquet"
    pq.write_table(pa.table({"k": [1]}), path)
    assert load_table(spark, sf, "t").columns == ["k"]

    pq.write_table(pa.table({"k": [1, 2], "extra": ["x", "y"]}), path)
    df = load_table(spark, sf, "t")
    assert df.columns == ["k", "extra"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "x"), (2, "y")]


def test_inference_settings_are_part_of_the_key(spark, tmp_path):
    """A TIMESTAMP(NANOS) column reads as long nanos only under
    nanosAsLong; with it off Spark rejects the file. A schema memoized
    with it on must not be served with it off — declared to the reader,
    that schema would silently return the nanosecond longs. (The table
    is not named ``events``: load_table forces the setting on for it.)"""
    sf = str(tmp_path)
    ns = 1_700_000_000_123_456_789
    pq.write_table(pa.table({"ts": pa.array([ns], pa.timestamp("ns"))}),
                   f"{sf}/ticks.parquet")
    saved = spark.conf.get(NANOS_AS_LONG)
    try:
        spark.conf.set(NANOS_AS_LONG, "true")
        df = load_table(spark, sf, "ticks")
        assert df.schema["ts"].dataType.simpleString() == "timestamp"
        assert df.selectExpr("unix_micros(ts)").first()[0] == ns // 1000

        spark.conf.set(NANOS_AS_LONG, "false")
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            load_table(spark, sf, "ticks")

        spark.conf.set(NANOS_AS_LONG, "true")
        _, jobs = _load_jobs(spark, sf, "ticks")
        assert jobs == [], "each setting keeps its own memo entry"
    finally:
        spark.conf.set(NANOS_AS_LONG, saved)


def test_missing_table_raises_as_a_plain_read(spark, tmp_path):
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        spark.read.parquet(f"{tmp_path}/nope.parquet")
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        load_table(spark, str(tmp_path), "nope")
