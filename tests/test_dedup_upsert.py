"""D1/D2/D3 dedup modes and the guarded keyed upsert (K4-K6 semantics),
including the replay/no-regression invariants from FIXTURES.md §5."""

import datetime

import pytest
from pyspark.sql import functions as F

from e_commerce_etl_pipeline_spark.operators import (
    drop_all_duplicates,
    drop_null_keys,
    keep_last,
    keep_newest,
)
from e_commerce_etl_pipeline_spark.operators.upsert import (
    read_upsert_table,
    resolve_upsert,
    stamp_etl_metadata,
    upsert,
    write_table,
)


def ts(s):
    return datetime.datetime.fromisoformat(s)


SCHEMA = "order_id string, item_id string, status string, update_time timestamp"


@pytest.fixture()
def batch(spark):
    return spark.createDataFrame(
        [
            ("o1", "i1", "created", ts("2024-01-01T00:00:00")),
            ("o1", "i1", "shipped", ts("2024-01-02T00:00:00")),
            ("o2", "i1", "created", ts("2024-01-01T00:00:00")),
            (None, "i1", "created", ts("2024-01-01T00:00:00")),
        ],
        SCHEMA,
    )


def test_keep_newest(batch):
    out = keep_newest(batch, ["order_id", "item_id"], "update_time")
    rows = {(r.order_id, r.item_id): r.status for r in out.collect()}
    assert rows[("o1", "i1")] == "shipped"
    assert len(rows) == 3  # null key kept by dedup; filtered separately


def test_drop_all_duplicates(batch):
    out = drop_all_duplicates(batch, ["order_id", "item_id"])
    keys = {(r.order_id, r.item_id) for r in out.collect()}
    assert ("o1", "i1") not in keys  # ALL copies of duplicated key removed
    assert ("o2", "i1") in keys


def test_keep_last_arrival(spark):
    df = spark.createDataFrame(
        [("k1", "first", 1), ("k1", "second", 2), ("k2", "only", 3)],
        "k string, v string, seq long",
    )
    out = keep_last(df, ["k"], arrival_col="seq")
    rows = {r.k: r.v for r in out.collect()}
    assert rows == {"k1": "second", "k2": "only"}


def test_drop_null_keys(batch):
    out = drop_null_keys(batch, ["order_id", "item_id"])
    assert out.filter(F.col("order_id").isNull()).count() == 0


def _mk(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_resolve_upsert_merge_semantics(spark):
    target = _mk(spark, [
        ("o1", "i1", "created", ts("2024-01-02T00:00:00")),
        ("o2", "i1", "created", ts("2024-01-01T00:00:00")),
    ])
    source = _mk(spark, [
        ("o1", "i1", "stale", ts("2024-01-01T00:00:00")),   # older -> ignored
        ("o2", "i1", "shipped", ts("2024-01-03T00:00:00")),  # newer -> update
        ("o3", "i1", "created", ts("2024-01-01T00:00:00")),  # new -> insert
    ])
    out = resolve_upsert(target, source, ["order_id", "item_id"], "update_time")
    rows = {(r.order_id): r.status for r in out.collect()}
    assert rows == {"o1": "created", "o2": "shipped", "o3": "created"}


def test_resolve_upsert_guard_columns(spark):
    # same update_time but status changed -> guard forces the update
    target = _mk(spark, [("o1", "i1", "created", ts("2024-01-01T00:00:00"))])
    source = _mk(spark, [("o1", "i1", "cancelled", ts("2024-01-01T00:00:00"))])
    no_guard = resolve_upsert(target, source, ["order_id", "item_id"], "update_time")
    assert no_guard.collect()[0].status == "created"
    guarded = resolve_upsert(
        target, source, ["order_id", "item_id"], "update_time", guard_cols=["status"]
    )
    assert guarded.collect()[0].status == "cancelled"


def test_resolve_upsert_replay_idempotent(spark):
    target = _mk(spark, [("o1", "i1", "shipped", ts("2024-01-02T00:00:00"))])
    replay = resolve_upsert(target, target, ["order_id", "item_id"], "update_time",
                            guard_cols=["status"])
    assert replay.collect() == target.collect()


def test_upsert_parquet_bucketed(spark, tmp_path):
    path = str(tmp_path / "tbl")
    b1 = _mk(spark, [
        ("o1", "i1", "created", ts("2024-01-01T00:00:00")),
        ("o2", "i1", "created", ts("2024-01-01T00:00:00")),
    ])
    upsert(spark, b1, path, ["order_id", "item_id"], "update_time", ["status"])
    b2 = _mk(spark, [
        ("o1", "i1", "shipped", ts("2024-01-02T00:00:00")),
        ("o3", "i1", "created", ts("2024-01-01T00:00:00")),
    ])
    upsert(spark, b2, path, ["order_id", "item_id"], "update_time", ["status"])
    out = {r.order_id: r.status for r in read_upsert_table(spark, path).collect()}
    assert out == {"o1": "shipped", "o2": "created", "o3": "created"}
    # replay b2: no change
    upsert(spark, b2, path, ["order_id", "item_id"], "update_time", ["status"])
    out2 = {r.order_id: r.status for r in read_upsert_table(spark, path).collect()}
    assert out2 == out


def _stamped(spark, rows, vn_naive):
    return stamp_etl_metadata(_mk(spark, rows), "src", vn_naive=vn_naive)


@pytest.mark.parametrize("vn_naive", [True, False])
def test_update_stamp_matches_created_stamp_convention(spark, tmp_path, vn_naive):
    """An applied update stamps ``etl_updated_at`` in the convention
    ``etl_created_at`` was stamped in, through ``upsert`` and
    ``resolve_upsert``: +07 wall-clock time for a ``timestamp_ntz``
    (MISA/Shopee) table, the instant for a ``timestamp`` (TikTok) one.
    So the update is never before the creation, and it lies within 60 s
    of the clock it is read against."""
    keys = ["order_id", "item_id"]
    base = _stamped(spark, [("o1", "i1", "created", ts("2024-01-01T00:00:00"))], vn_naive)
    batch = _stamped(spark, [("o1", "i1", "shipped", ts("2024-01-02T00:00:00"))], vn_naive)
    path = str(tmp_path / "tbl")
    write_table(spark, base, path, keys, "update_time")
    upsert(spark, batch, path, keys, "update_time", ["status"])
    target = read_upsert_table(spark, path)
    now = datetime.datetime.now(datetime.timezone.utc)
    # a timestamp_ntz reads back as its wall-clock time, a timestamp in
    # this process's local time
    clock = (now + datetime.timedelta(hours=7)).replace(tzinfo=None) if vn_naive \
        else now.astimezone().replace(tzinfo=None)
    kind = "timestamp_ntz" if vn_naive else "timestamp"
    assert dict(target.dtypes)["etl_updated_at"] == kind
    for out in (target, resolve_upsert(base, batch, keys, "update_time", ["status"])):
        [r] = out.collect()
        assert r.status == "shipped"
        assert r.etl_updated_at >= r.etl_created_at
        assert abs((r.etl_updated_at - clock).total_seconds()) < 60
