"""Incremental micro-batch semantics (SURVEY §2.8 ST1-ST6): lookback
window batches, replay idempotence, and a real Structured Streaming
file-source run through foreachBatch keyed upsert."""

import datetime
import time

from pyspark.sql import functions as F
from pyspark.sql import types as T

from e_commerce_etl_pipeline_spark.operators.upsert import read_upsert_table, upsert
from e_commerce_etl_pipeline_spark.streaming import (
    incremental_upsert_stream,
    run_incremental_batch,
)

SCHEMA = T.StructType([
    T.StructField("order_id", T.StringType()),
    T.StructField("status", T.StringType()),
    T.StructField("update_time", T.TimestampType()),
])


def ts(s):
    return datetime.datetime.fromisoformat(s)


def test_run_incremental_batch_with_lookback(spark, tmp_path):
    path = str(tmp_path / "tbl")
    src = spark.createDataFrame(
        [("o1", "old", ts("2024-01-01T00:00:00")),
         ("o2", "recent", ts("2024-06-01T00:00:00"))],
        SCHEMA,
    )
    n = run_incremental_batch(
        spark, src, path, ["order_id"], "update_time",
        lookback=datetime.timedelta(days=30), now=ts("2024-06-15T00:00:00"),
    )
    assert n == 1  # only the in-window row
    rows = read_upsert_table(spark, path).collect()
    assert [r.order_id for r in rows] == ["o2"]
    # replay: same window, no change
    n2 = run_incremental_batch(
        spark, src, path, ["order_id"], "update_time",
        lookback=datetime.timedelta(days=30), now=ts("2024-06-15T00:00:00"),
    )
    assert n2 == 1
    assert read_upsert_table(spark, path).count() == 1


def test_incremental_batch_scans_source_once(spark, tmp_path):
    """r4 finding #1: the count-then-act pattern read the lookback-filtered
    source twice per micro-batch. The rows considered are now counted on
    the upsert's own write, so the source is read once and nothing is
    pinned: the accumulator in the source RDD's map sees each row once."""
    acc = spark.sparkContext.accumulator(0)

    def bump(row):
        acc.add(1)
        return row

    rows = [("o1", "s", ts("2024-06-01T00:00:00")),
            ("o2", "old", ts("2024-01-01T00:00:00"))]
    src = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2).map(bump), SCHEMA)
    n = run_incremental_batch(
        spark, src, str(tmp_path / "tbl"), ["order_id"], "update_time",
        lookback=datetime.timedelta(days=30), now=ts("2024-06-15T00:00:00"),
    )
    assert n == 1
    assert acc.value == len(rows)


def test_structured_streaming_foreachbatch_upsert(spark, tmp_path):
    src_dir = tmp_path / "incoming"
    src_dir.mkdir()
    table = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")

    batch1 = spark.createDataFrame(
        [("o1", "created", ts("2024-01-01T00:00:00")),
         ("o2", "created", ts("2024-01-01T00:00:00"))],
        SCHEMA,
    )
    batch1.write.mode("overwrite").parquet(str(src_dir / "b1"))

    stream = spark.readStream.schema(SCHEMA).option(
        "recursiveFileLookup", "true"
    ).parquet(str(src_dir))
    q = incremental_upsert_stream(
        spark, stream, table, ["order_id"], "update_time",
        guard_cols=["status"], checkpoint_dir=ckpt,
    )
    q.awaitTermination(120)
    out = {r.order_id: r.status for r in read_upsert_table(spark, table).collect()}
    assert out == {"o1": "created", "o2": "created"}

    # second micro-batch: newer update + replayed old row
    batch2 = spark.createDataFrame(
        [("o1", "shipped", ts("2024-01-02T00:00:00")),
         ("o2", "stale", ts("2023-12-01T00:00:00"))],
        SCHEMA,
    )
    batch2.write.mode("overwrite").parquet(str(src_dir / "b2"))
    q2 = incremental_upsert_stream(
        spark, stream, table, ["order_id"], "update_time",
        guard_cols=["status"], checkpoint_dir=ckpt,
    )
    q2.awaitTermination(120)
    time.sleep(0.5)
    out2 = {r.order_id: r.status for r in read_upsert_table(spark, table).collect()}
    assert out2 == {"o1": "shipped", "o2": "created"}  # no regression on o2


def test_empty_micro_batch_is_skipped(spark, tmp_path):
    """The stream runner never hands a zero-row micro-batch to the
    driver: a zero-row file drained through incremental_upsert_stream
    runs a batch but creates no table."""
    src_dir = tmp_path / "incoming"
    spark.createDataFrame([], SCHEMA).coalesce(1).write.parquet(str(src_dir / "b0"))
    table = tmp_path / "tbl"

    stream = spark.readStream.schema(SCHEMA).option(
        "recursiveFileLookup", "true"
    ).parquet(str(src_dir))
    q = incremental_upsert_stream(
        spark, stream, str(table), ["order_id"], "update_time",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    assert [p["batchId"] for p in q.recentProgress] == [0]
    assert q.recentProgress[0]["numInputRows"] == 0
    assert not table.exists()


def test_stream_batch_scans_source_once(spark, tmp_path):
    """Progress ``numInputRows`` counts every scan of the source. The
    runner persists the micro-batch around its emptiness check and the
    upsert, so a 100-row batch reads as 100 rows, not once per action,
    and leaves the table a one-shot upsert of the same rows leaves."""
    src_dir = tmp_path / "incoming"
    rows = [(f"o{i}", "created" if i % 3 else "paid",
             ts("2024-01-01T00:00:00") + datetime.timedelta(minutes=i % 7))
            for i in range(100)]
    seed = [(f"o{i}", "old", ts("2024-01-01T00:03:00")) for i in range(0, 100, 2)]
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(str(src_dir / "b1"))
    table, oneshot = str(tmp_path / "tbl"), str(tmp_path / "oneshot")
    for path in (table, oneshot):
        upsert(spark, spark.createDataFrame(seed, SCHEMA), path, ["order_id"],
               "update_time", ["status"])

    stream = spark.readStream.schema(SCHEMA).option(
        "recursiveFileLookup", "true").parquet(str(src_dir))
    q = incremental_upsert_stream(spark, stream, table, ["order_id"], "update_time",
                                  guard_cols=["status"],
                                  checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert [p.numInputRows for p in q.recentProgress if p.numInputRows] == [100]

    upsert(spark, spark.createDataFrame(rows, SCHEMA), oneshot, ["order_id"],
           "update_time", ["status"])
    assert sorted(read_upsert_table(spark, table).collect()) == sorted(
        read_upsert_table(spark, oneshot).collect())


def test_drained_stream_entry_removes_its_work_dir_at_exit(spark, sf_dir, tmp_path, monkeypatch):
    """A drained-stream registry entry returns a frame that reads its work
    directory lazily: the directory stays while the process runs, and
    its removal is registered for interpreter exit, so repeated runs
    leave no directory behind."""
    import atexit
    import os
    import shutil
    import tempfile

    from e_commerce_etl_pipeline_spark.streaming.state_queries import stream_upsert_state

    made, at_exit = [], []
    mkdtemp, register = tempfile.mkdtemp, atexit.register

    def mkdtemp_in_tmp_path(suffix=None, prefix=None, dir=None):
        if not (prefix or "").startswith("stream_upsert_state_"):
            return mkdtemp(suffix, prefix, dir)
        made.append(mkdtemp(suffix, prefix, tmp_path))
        return made[-1]

    def register_rmtree(fn, *args, **kwargs):
        # other exit hooks registered meanwhile go to the real atexit
        if fn is not shutil.rmtree:
            return register(fn, *args, **kwargs)
        at_exit.append((args, kwargs))
        return fn

    monkeypatch.setattr(tempfile, "mkdtemp", mkdtemp_in_tmp_path)
    monkeypatch.setattr(atexit, "register", register_rmtree)
    assert stream_upsert_state(spark, sf_dir).count() > 0
    assert made and all(os.path.isdir(d) for d in made)
    for args, kwargs in at_exit:
        shutil.rmtree(*args, **kwargs)
    assert not [d for d in made if os.path.exists(d)]
