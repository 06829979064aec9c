"""Bucketed co-located joins (shuffle elimination) and physical
partition isolation of the bucketed upsert — the two 100 TB levers
docs/SCALE.md claims, asserted against real plans and real files."""

from __future__ import annotations

import datetime
import hashlib
import os
import uuid

import pytest
from pyspark.sql import functions as F

from e_commerce_etl_pipeline_spark.operators.bucketing import (
    colocated_join,
    count_exchanges,
    write_bucketed,
)
from e_commerce_etl_pipeline_spark.operators.upsert import (
    _bucket_expr,
    read_upsert_table,
    resolve_upsert,
    upsert,
)

N_BUCKETS = 4


def _orders(spark, n=200):
    return spark.range(n).select(
        F.col("id").alias("order_id"),
        (F.col("id") % 7).alias("custkey"),
        (F.col("id") * 10).cast("double").alias("total"),
    )


def _items(spark, n=600):
    return spark.range(n).select(
        (F.col("id") % 200).alias("order_id"),
        F.col("id").alias("item_id"),
        (F.col("id") % 5 + 1).cast("double").alias("qty"),
    )


def test_colocated_join_no_exchange(spark, tmp_path):
    write_bucketed(_orders(spark), "b_orders", ["order_id"], N_BUCKETS,
                   path=str(tmp_path / "orders"))
    write_bucketed(_items(spark), "b_items", ["order_id"], N_BUCKETS,
                   path=str(tmp_path / "items"))
    try:
        joined = colocated_join(spark, "b_orders", "b_items", ["order_id"])
        assert count_exchanges(joined) == 0, "bucketed join must not shuffle"
        assert joined.count() == 600
        # same join WITHOUT bucketing shuffles both sides
        plain = _orders(spark).hint("merge").join(_items(spark), "order_id")
        assert count_exchanges(plain) >= 2
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_items")


def test_bucketed_groupby_no_exchange(spark, tmp_path):
    write_bucketed(_items(spark), "b_items_agg", ["order_id"], N_BUCKETS,
                   path=str(tmp_path / "items_agg"))
    try:
        agg = (
            spark.table("b_items_agg")
            .groupBy("order_id")
            .agg(F.sum("qty").alias("total_qty"))
        )
        assert count_exchanges(agg) == 0, "groupBy on bucket key must not shuffle"
        assert agg.count() == 200
    finally:
        spark.sql("DROP TABLE IF EXISTS b_items_agg")


def _bucket_files(path):
    """{bucket_dir_name: {file_name: (size, mtime)}} for a bucketed table."""
    out = {}
    for d in os.listdir(path):
        if not d.startswith("__bucket="):
            continue
        full = os.path.join(path, d)
        out[d] = {
            f: (os.path.getsize(os.path.join(full, f)),
                os.path.getmtime(os.path.join(full, f)))
            for f in os.listdir(full)
            if f.endswith(".parquet")
        }
    return out


_SCHEMA = "order_id string, item_id string, status string, update_time timestamp"
_KEYS = ["order_id", "item_id"]


def _listing_jobs(spark, group):
    """Spark's distributed "Listing leaf files" jobs run in ``group`` —
    what a read listing more than 32 paths starts."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    out = []
    for j in sc.statusTracker().getJobIdsForGroup(group):
        d = store.job(j).description()
        if d.isDefined() and d.get().startswith("Listing leaf files"):
            out.append(d.get())
    return out


def _in_group(spark, fn):
    group = f"test-{uuid.uuid4().hex}"
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return group


def _check_touched_only(spark, path, rows, batch_rows, num_buckets):
    upsert(spark, spark.createDataFrame(rows, _SCHEMA), path, _KEYS,
           "update_time", ["status"], num_buckets=num_buckets)
    before = _bucket_files(path)
    assert len(before) > 1, "need multiple buckets for the isolation claim"

    batch = spark.createDataFrame(batch_rows, _SCHEMA)
    expected = sorted(resolve_upsert(read_upsert_table(spark, path), batch, _KEYS,
                                     "update_time", ["status"]).collect())
    group = _in_group(spark, lambda: upsert(
        spark, batch, path, _KEYS, "update_time", ["status"],
        num_buckets=num_buckets))
    after = _bucket_files(path)

    touched = {f"__bucket={r[0]}" for r in
               batch.select(_bucket_expr(_KEYS, num_buckets)).collect()}
    for d in touched:
        assert after[d] != before.get(d), f"touched bucket {d} was not rewritten"
    for d, files in before.items():
        if d not in touched:
            assert after[d] == files, f"untouched bucket {d} was rewritten"
    assert set(after) == set(before) | touched
    assert sorted(read_upsert_table(spark, path).collect()) == expected
    assert _listing_jobs(spark, group) == [], "upsert listed every bucket"
    return before


def test_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """The scale contract of the bucketed upsert: a batch touching a few
    keys must leave every other bucket's parquet files byte-identical on
    disk (same names, sizes, mtimes) and must not list them — per-batch
    work scales with the batch, not the table. The table must equal
    ``resolve_upsert`` over the whole old table."""
    ts = datetime.datetime(2024, 1, 1)
    rows = [(f"o{i}", "i1", "created", ts) for i in range(64)]
    _check_touched_only(spark, str(tmp_path / "tbl"), rows,
                        [("o3", "i1", "shipped", datetime.datetime(2024, 1, 2))], 8)

    # More than 32 bucket directories, so a whole-table read would list
    # them in a distributed job; the batch updates one key and inserts
    # one whose bucket has no directory yet.
    rows = [(f"o{i}", "i1", "created", ts) for i in range(60)]
    written = {r[0] for r in spark.createDataFrame(rows, _SCHEMA)
               .select(_bucket_expr(_KEYS, 64)).collect()}
    new_key = next(
        r.order_id for r in spark.createDataFrame(
            [(f"n{i}", "i1", "new", ts) for i in range(200)], _SCHEMA)
        .select("order_id", _bucket_expr(_KEYS, 64).alias("b")).collect()
        if r.b not in written)
    path = str(tmp_path / "wide")
    before = _check_touched_only(
        spark, path, rows,
        [("o5", "i1", "shipped", datetime.datetime(2024, 1, 2)),
         (new_key, "i1", "new", ts)], 64)
    assert len(before) > 32
    # the detector is not vacuous: a whole-table read does list in a job
    group = _in_group(spark, lambda: spark.read.parquet(path).count())
    assert _listing_jobs(spark, group)


def test_compact_buckets(spark, tmp_path):
    """Small-file accretion comes from append-mode ingestion (K1) and
    multi-task bulk loads — each append drops one more file into every
    bucket it touches. (Upsert batches do NOT accrete: dynamic partition
    overwrite replaces the touched bucket wholesale — proven above.)
    Compaction rewrites only buckets over the file threshold, preserves
    rows, leaves slim buckets' files untouched."""
    from e_commerce_etl_pipeline_spark.operators.upsert import compact_buckets

    path = str(tmp_path / "tbl")
    base_ts = datetime.datetime(2024, 1, 1)
    # 6 append slices of 2 keys each — per-bucket file counts end up
    # uneven (hash-dependent but deterministic for fixed keys)
    for j in range(6):
        part = spark.createDataFrame(
            [(f"o{2 * j}", "i1", "created", base_ts),
             (f"o{2 * j + 1}", "i1", "created", base_ts)],
            "order_id string, item_id string, status string, update_time timestamp",
        ).withColumn("__bucket", _bucket_expr(["order_id", "item_id"], 8))
        part.coalesce(1).write.mode("append").partitionBy("__bucket").parquet(path)

    before = _bucket_files(path)
    threshold = 1
    bloated = sorted(
        int(d.split("=", 1)[1]) for d in before if len(before[d]) > threshold
    )
    slim = [d for d in before if len(before[d]) <= threshold]
    assert bloated, "fixture must produce at least one multi-file bucket"
    assert slim, "fixture must produce at least one slim bucket"

    rows_before = sorted(
        (r.order_id, r.status) for r in read_upsert_table(spark, path).collect()
    )
    assert compact_buckets(spark, path, max_files_per_bucket=threshold) == bloated

    after = _bucket_files(path)
    for d in before:
        if d in slim:
            assert after[d] == before[d], f"slim bucket {d} was rewritten"
        else:
            assert len(after[d]) == 1
    rows_after = sorted(
        (r.order_id, r.status) for r in read_upsert_table(spark, path).collect()
    )
    assert rows_after == rows_before
    # idempotent: nothing left to compact
    assert compact_buckets(spark, path, max_files_per_bucket=threshold) == []


def _content_hash(spark, path):
    rows = sorted(tuple(r) for r in read_upsert_table(spark, path).collect())
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def test_failed_upsert_leaves_table_unchanged_and_replay_converges(spark, tmp_path):
    """The rewrite is one job that reads the buckets it replaces; dynamic
    partition overwrite swaps them in only at job commit. A batch whose
    payload raises only when a full row is evaluated — after the bucket
    collect, inside the write job — must leave the table's files and
    rows as they were, and replaying the corrected batch must reach the
    content hash of a clean run (ST3)."""
    ts = datetime.datetime(2024, 1, 1)
    schema = _SCHEMA + ", payload string"
    rows = [(f"o{i}", "i1", "created", ts, "v0") for i in range(40)]
    newer = datetime.datetime(2024, 1, 2)
    fixed = [(f"o{i}", "i1", "shipped", newer, "v1") for i in range(0, 40, 3)]
    fixed.append(("o99", "i1", "created", ts, "v1"))

    def load(path):
        upsert(spark, spark.createDataFrame(rows, schema), path, _KEYS,
               "update_time", ["status"], num_buckets=8)

    def apply(path, batch):
        upsert(spark, batch, path, _KEYS, "update_time", ["status"], num_buckets=8)

    clean = str(tmp_path / "clean")
    load(clean)
    apply(clean, spark.createDataFrame(fixed, schema))
    clean_hash = _content_hash(spark, clean)

    path = str(tmp_path / "tbl")
    load(path)
    before_files = _bucket_files(path)
    before_children = sorted(os.listdir(path))
    before_hash = _content_hash(spark, path)
    poisoned = spark.createDataFrame(fixed, schema).withColumn(
        "payload",
        F.when(F.col("order_id") == "o9", F.raise_error(F.lit("poisoned payload")))
        .otherwise(F.col("payload")),
    )
    with pytest.raises(Exception, match="poisoned payload"):
        apply(path, poisoned)
    assert _bucket_files(path) == before_files
    assert sorted(os.listdir(path)) == before_children  # no staging left
    assert _content_hash(spark, path) == before_hash

    apply(path, spark.createDataFrame(fixed, schema))
    assert _content_hash(spark, path) == clean_hash
    apply(path, spark.createDataFrame(fixed, schema))
    assert _content_hash(spark, path) == clean_hash


def test_upsert_into_table_without_rows(spark, tmp_path):
    """A full load of zero rows leaves no bucket directory to read a
    schema from; the next upsert loads its batch like a first write."""
    path = str(tmp_path / "tbl")
    ts = datetime.datetime(2024, 1, 1)
    upsert(spark, spark.createDataFrame([], _SCHEMA), path, _KEYS,
           "update_time", ["status"], num_buckets=8)
    assert not _bucket_files(path)
    upsert(spark, spark.createDataFrame([("o1", "i1", "created", ts)], _SCHEMA),
           path, _KEYS, "update_time", ["status"], num_buckets=8)
    assert [tuple(r) for r in read_upsert_table(spark, path).collect()] == [
        ("o1", "i1", "created", ts)]
