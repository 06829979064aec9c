"""Layout operators through the Hadoop FileSystem API (r4 finding #5).

The dated-retention and bucket-marker paths used POSIX calls, which on
HDFS/S3A would silently see an empty directory. Everything now routes
through ``fsops`` → ``org.apache.hadoop.fs.FileSystem``; these tests
drive the SAME code over explicit ``file:`` URIs — the URI form a
cluster would use — and pin the loud-failure fallback for remote
schemes without a session.
"""

from __future__ import annotations

import datetime
import json

import pytest

from e_commerce_etl_pipeline_spark.operators import fsops
from e_commerce_etl_pipeline_spark.operators.retention import (
    drop_expired_partitions,
    list_partitions,
    write_dated,
)
from e_commerce_etl_pipeline_spark.operators.upsert import (
    compact_buckets,
    read_upsert_table,
    upsert,
    write_table,
)


def _day(s):
    return datetime.date.fromisoformat(s)


def test_retention_through_file_uri(spark, tmp_path):
    uri = f"file://{tmp_path}/events"
    df = spark.createDataFrame(
        [("a", datetime.datetime(2024, 1, 1)),
         ("b", datetime.datetime(2024, 1, 5)),
         ("c", datetime.datetime(2024, 2, 1))],
        "v string, ts timestamp",
    )
    write_dated(df, uri, "ts")

    assert list_partitions(uri, spark) == [
        _day("2024-01-01"), _day("2024-01-05"), _day("2024-02-01"),
    ]
    dropped = drop_expired_partitions(
        uri, retention_days=30, now=_day("2024-02-10"), spark=spark
    )
    assert dropped == [_day("2024-01-01"), _day("2024-01-05")]
    assert list_partitions(uri, spark) == [_day("2024-02-01")]
    # the surviving day still reads back
    assert spark.read.parquet(uri).count() == 1


def test_bucket_marker_and_upsert_through_file_uri(spark, tmp_path):
    uri = f"file://{tmp_path}/orders"
    target = spark.createDataFrame(
        [(1, "OPEN", 10), (2, "OPEN", 20)],
        "order_id int, status string, update_time int",
    )
    write_table(spark, target, uri, keys=["order_id"], order_col="update_time",
                num_buckets=4)
    # the bucket count is recorded through the FS API and readable back
    assert json.loads(fsops.read_text(f"{uri}/_table", spark))["num_buckets"] == 4

    batch = spark.createDataFrame(
        [(1, "SHIPPED", 11), (3, "NEW", 5)],
        "order_id int, status string, update_time int",
    )
    # wrong num_buckets on purpose: the recorded count must win through the URI path
    upsert(spark, batch, uri, ["order_id"], "update_time",
           guard_cols=["status"], num_buckets=64)
    got = {(r["order_id"], r["status"]) for r in read_upsert_table(spark, uri).collect()}
    assert got == {(1, "SHIPPED"), (2, "OPEN"), (3, "NEW")}


def test_compaction_through_file_uri(spark, tmp_path):
    uri = f"file://{tmp_path}/t"
    base = spark.createDataFrame(
        [(i, i * 10) for i in range(50)], "k int, v int"
    )
    write_table(spark, base, uri, keys=["k"], order_col="v", num_buckets=2)
    # append-mode accretion: extra files per bucket
    for _ in range(5):
        base.withColumn(
            "__bucket",
            (base.k % 2).cast("int"),
        ).write.partitionBy("__bucket").mode("append").parquet(uri)
    compacted = compact_buckets(spark, uri, max_files_per_bucket=3)
    assert sorted(compacted) == [0, 1]
    for b in (0, 1):
        assert fsops.count_files_with_suffix(
            f"{uri}/__bucket={b}", ".parquet", spark
        ) <= 2


def test_remote_scheme_without_session_fails_loudly():
    with pytest.raises(RuntimeError, match="Hadoop FileSystem API"):
        fsops._local_path("s3a://bucket/table")


def test_exists_resolves_path_class_in_one_round_trip(spark, tmp_path, monkeypatch):
    """``fsops.exists`` makes 5 py4j gateway round trips: the Path class
    (one fully qualified lookup), its constructor, the session's Hadoop
    configuration, ``getFileSystem`` and ``exists``. Naming the class
    segment by segment (``jvm.org.apache.hadoop.fs.Path``) made 5
    lookups alone."""
    client = spark._sc._gateway._gateway_client
    sent = []
    send = client.send_command

    def counted(command, *a, **k):
        sent.append(command)
        return send(command, *a, **k)

    monkeypatch.setattr(client, "send_command", counted)
    assert fsops.exists(str(tmp_path), spark)
    assert not fsops.exists(str(tmp_path / "missing"), spark)
    monkeypatch.undo()
    assert len(sent) == 2 * 5, sent
