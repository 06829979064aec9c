"""Bucketed co-located joins (shuffle elimination) and physical
partition isolation of the bucketed upsert — the two 100 TB levers
docs/SCALE.md claims, asserted against real plans and real files."""

from __future__ import annotations

import datetime
import hashlib
import importlib
import json
import os
import re
import uuid

import pytest
from pyspark.sql import functions as F

from e_commerce_etl_pipeline_spark.operators.bucketing import (
    colocated_join,
    count_exchanges,
    write_bucketed,
)
from e_commerce_etl_pipeline_spark.operators import fsops
from e_commerce_etl_pipeline_spark.operators.upsert import (
    _bucket_expr,
    read_upsert_table,
    resolve_upsert,
    upsert,
    write_table,
)

# the module, not the function operators/__init__ re-exports
upsert_mod = importlib.import_module("e_commerce_etl_pipeline_spark.operators.upsert")
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


def _delta_files(path):
    """{delta_dir_name: [parquet file names]} of an upsert table."""
    return {d: sorted(f for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet"))
            for d in os.listdir(path) if d.startswith(".s=")}


def _check_append_only(spark, path, rows, batch_rows, num_buckets):
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
    assert _bucket_files(path) == before, "an upsert batch rewrote a bucket"
    [(delta, files)] = _delta_files(path).items()
    assert delta == ".s=1" and len(files) == 1, (delta, files)
    # raw parquet readers see the base only
    assert spark.read.parquet(path).count() == len(rows)
    assert sorted(read_upsert_table(spark, path).collect()) == expected
    assert _listing_jobs(spark, group) == [], "upsert listed every bucket"
    return before


def test_upsert_appends_one_delta_and_rewrites_no_bucket(spark, tmp_path):
    """The scale contract of the merge-on-read upsert: a batch is written
    as one delta file, and every bucket's parquet files stay byte-identical
    on disk (same names, sizes, mtimes) — per-batch work scales with the
    batch, not the table, and no bucket is listed. The table must equal
    ``resolve_upsert`` over the whole old table."""
    ts = datetime.datetime(2024, 1, 1)
    rows = [(f"o{i}", "i1", "created", ts) for i in range(64)]
    _check_append_only(spark, str(tmp_path / "tbl"), rows,
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
    before = _check_append_only(
        spark, path, rows,
        [("o5", "i1", "shipped", datetime.datetime(2024, 1, 2)),
         (new_key, "i1", "new", ts)], 64)
    assert len(before) > 32
    # the detector is not vacuous: a whole-table read does list in a job
    group = _in_group(spark, lambda: read_upsert_table(spark, path).count())
    assert _listing_jobs(spark, group)


def test_compaction_folds_deltas_into_touched_buckets(spark, tmp_path, monkeypatch):
    """The batch that brings the live deltas to ``COMPACT_AT`` (4 here)
    folds them into the buckets they touch: those buckets are rewritten,
    every other bucket keeps its files, no delta is left, and the table
    equals the batches applied one by one with ``resolve_upsert``."""
    COMPACT_AT = 4
    monkeypatch.setattr(upsert_mod, "COMPACT_AT", COMPACT_AT)
    path = str(tmp_path / "tbl")
    ts = datetime.datetime(2024, 1, 1)
    rows = [(f"o{i}", "i1", "created", ts) for i in range(64)]
    upsert(spark, spark.createDataFrame(rows, _SCHEMA), path, _KEYS,
           "update_time", ["status"], num_buckets=16)
    expected = spark.createDataFrame(rows, _SCHEMA)
    before = _bucket_files(path)
    batches = [
        spark.createDataFrame(
            [(f"o{j}", "i1", f"s{j}", datetime.datetime(2024, 1, 2)),
             (f"n{j}", "i1", "new", ts)], _SCHEMA)
        for j in range(COMPACT_AT)
    ]
    for j, batch in enumerate(batches):
        expected = resolve_upsert(expected, batch, _KEYS, "update_time", ["status"])
        expected = spark.createDataFrame(expected.collect(), _SCHEMA)
        upsert(spark, batch, path, _KEYS, "update_time", ["status"])
        assert len(_delta_files(path)) == (j + 1) % COMPACT_AT
        if j >= COMPACT_AT - 2:  # folded from live deltas, then compacted
            assert sorted(read_upsert_table(spark, path).collect()) == sorted(expected.collect())
    touched = {f"__bucket={r[0]}" for b in batches
               for r in b.select(_bucket_expr(_KEYS, 16)).collect()}
    after = _bucket_files(path)
    assert set(before) - touched, "need an untouched bucket"
    assert set(after) == set(before) | touched
    for d, files in after.items():
        if d in touched:
            assert len(files) == 1 and files != before.get(d), d
        else:
            assert files == before[d], f"untouched bucket {d} was rewritten"
    assert not [c for c in os.listdir(path) if c.startswith((".compact", "_compaction"))]


def test_compact_buckets(spark, tmp_path):
    """Small-file accretion comes from append-mode ingestion (K1) and
    multi-task bulk loads — each append drops one more file into every
    bucket it touches. (Upsert batches do NOT accrete in the buckets:
    they append deltas, which compaction folds — proven above.)
    Compaction rewrites only buckets over the file threshold, preserves
    rows, leaves slim buckets' files untouched."""
    from e_commerce_etl_pipeline_spark.operators.upsert import compact_buckets

    path = str(tmp_path / "tbl")
    base_ts = datetime.datetime(2024, 1, 1)
    # a full load of zero rows records the table, then 6 append slices of
    # 2 keys each — per-bucket file counts end up uneven (hash-dependent
    # but deterministic for fixed keys)
    write_table(spark, spark.createDataFrame([], _SCHEMA), path, _KEYS, "update_time",
                num_buckets=8)
    for j in range(6):
        part = spark.createDataFrame(
            [(f"o{2 * j}", "i1", "created", base_ts),
             (f"o{2 * j + 1}", "i1", "created", base_ts)],
            _SCHEMA,
        ).withColumn("__bucket", _bucket_expr(_KEYS, 8))
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
    """A batch is one job writing its delta. A batch whose payload
    raises only when a full row is evaluated — inside that job — must
    leave the table's files and rows as they were, with no delta
    directory behind, and replaying the corrected batch must reach the
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
    """An upsert of zero rows into a missing table creates no table. A
    full load of zero rows leaves no bucket directory to read a schema
    from; the next upsert loads its batch like a first write."""
    path = str(tmp_path / "tbl")
    ts = datetime.datetime(2024, 1, 1)
    empty = spark.createDataFrame([], _SCHEMA)
    upsert(spark, empty, path, _KEYS, "update_time", ["status"], num_buckets=8)
    assert not os.path.exists(path)
    write_table(spark, empty, path, _KEYS, "update_time", num_buckets=8)
    assert not _bucket_files(path)
    upsert(spark, spark.createDataFrame([("o1", "i1", "created", ts)], _SCHEMA),
           path, _KEYS, "update_time", ["status"], num_buckets=8)
    assert [tuple(r) for r in read_upsert_table(spark, path).collect()] == [
        ("o1", "i1", "created", ts)]


def _jobs(spark, group):
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def test_read_declares_recorded_schema(spark, tmp_path):
    """``write_table`` records the table schema and ``read_upsert_table``
    declares it, so building the read — base alone, or base and live
    deltas — starts no Spark job; inferring a parquet schema starts one.
    Four buckets keep the root listing on the driver."""
    path = str(tmp_path / "tbl")
    ts = datetime.datetime(2024, 1, 1)
    upsert(spark, spark.createDataFrame([(f"o{i}", "i1", "created", ts) for i in range(20)],
                                        _SCHEMA), path, _KEYS, "update_time", ["status"],
           num_buckets=4)
    assert _jobs(spark, _in_group(spark, lambda: read_upsert_table(spark, path))) == []
    upsert(spark, spark.createDataFrame([("o1", "i1", "shipped", ts)], _SCHEMA),
           path, _KEYS, "update_time", ["status"])
    group = _in_group(spark, lambda: read_upsert_table(spark, path))
    assert _jobs(spark, group) == []
    assert read_upsert_table(spark, path).schema == spark.createDataFrame([], _SCHEMA).schema
    # the detector is not vacuous: an inferring read does start a job
    assert _jobs(spark, _in_group(spark, lambda: spark.read.parquet(path)))


def test_compaction_crash_inside_swap_stays_readable_and_converges(
        spark, tmp_path, monkeypatch):
    """The compaction commit swaps each staged bucket in by a delete and a
    rename. A process that stops between one bucket's delete and its
    rename leaves the table readable, with the contents of the finished
    compaction, and both a re-run of the compaction and a replay of the
    batch that ran it converge to the uncrashed table."""
    import shutil

    from e_commerce_etl_pipeline_spark.operators import fsops

    monkeypatch.setattr(upsert_mod, "COMPACT_AT", 3)
    schema = _SCHEMA + ", payload string"
    ts = datetime.datetime(2024, 1, 1)
    rows = [(f"o{i}", "i1", "created", ts, "v0") for i in range(40)]
    batches = [[(f"o{i}", "i1", "shipped", datetime.datetime(2024, 1, 2 + j), f"v{j}")
                for i in range(j, 40, 5)] + [(f"n{j}", "i1", "new", ts, "v0")]
               for j in range(3)]

    def apply(path, batch):
        upsert(spark, spark.createDataFrame(batch, schema), path, _KEYS,
               "update_time", ["status"], num_buckets=8)

    clean = str(tmp_path / "clean")
    for b in [rows, *batches]:
        apply(clean, b)
    clean_hash = _content_hash(spark, clean)

    path = str(tmp_path / "tbl")
    for b in [rows, *batches[:-1]]:
        apply(path, b)
    rename, calls = fsops.rename, []

    def rename_once(src, dst, spark_=None):
        calls.append(dst)
        if len(calls) == 2:
            raise RuntimeError("stopped inside the swap")
        rename(src, dst, spark_)

    monkeypatch.setattr(fsops, "rename", rename_once)
    with pytest.raises(RuntimeError, match="stopped inside the swap"):
        apply(path, batches[-1])
    monkeypatch.setattr(fsops, "rename", rename)
    lost = os.path.basename(calls[1])
    assert lost not in os.listdir(path), "the crash must fall between delete and rename"
    assert "_compaction" in os.listdir(path)
    assert _content_hash(spark, path) == clean_hash

    rerun = str(tmp_path / "rerun")
    shutil.copytree(path, rerun)
    spark.catalog.refreshByPath(rerun)
    upsert_mod.compact_buckets(spark, rerun)
    apply(path, batches[-1])  # the replayed batch
    for p in (rerun, path):
        assert _content_hash(spark, p) == clean_hash
        assert lost in os.listdir(p)
        assert not {"_compaction", ".compact"} & set(os.listdir(p))


def _recorded_buckets(path):
    with open(os.path.join(path, "_table")) as f:
        return json.load(f)["num_buckets"]


def _file_backed(spark, tmp_path, rows):
    """``rows`` as a parquet-backed frame, which the optimizer sizes
    from its files."""
    src = str(tmp_path / f"src-{uuid.uuid4().hex}")
    spark.createDataFrame(rows, _SCHEMA).write.parquet(src)
    return spark.read.schema(_SCHEMA).parquet(src)


_ROWS = [(f"o{i}", "i1", "created", datetime.datetime(2024, 1, 1)) for i in range(200)]


def test_full_load_sizes_bucket_count_from_data(spark, tmp_path):
    """A full load with no bucket count sizes it from the optimizer's
    estimate of its input: a small file-backed input is one bucket (one
    directory), recorded in ``_table``. An explicit count wins, and an
    input Spark cannot size (a Python list, planned over an RDD) gets
    ``MAX_BUCKETS``."""
    path = str(tmp_path / "sized")
    write_table(spark, _file_backed(spark, tmp_path, _ROWS), path, _KEYS, "update_time")
    assert _recorded_buckets(path) == 1
    assert list(_bucket_files(path)) == ["__bucket=0"]
    assert read_upsert_table(spark, path).count() == len(_ROWS)

    path = str(tmp_path / "explicit")
    write_table(spark, _file_backed(spark, tmp_path, _ROWS), path, _KEYS, "update_time",
                num_buckets=4)
    assert _recorded_buckets(path) == 4
    assert len(_bucket_files(path)) == 4

    path = str(tmp_path / "unsized")
    write_table(spark, spark.createDataFrame(_ROWS, _SCHEMA), path, _KEYS, "update_time")
    assert _recorded_buckets(path) == upsert_mod.MAX_BUCKETS == 64
    assert len(_bucket_files(path)) > 32


def test_bucket_sizing_caps_an_inflated_estimate(spark, tmp_path):
    """An estimate Spark derives from an unsized plan is not the
    unsized default: a projection scales it down a little, and a join
    multiplies its inputs' sizes. Both are capped at ``MAX_BUCKETS``,
    so the bucket column stays an int and a key never gets its own
    directory. The JSON frame is how the API extract path lands
    records."""
    projected = spark.createDataFrame(_ROWS, _SCHEMA).select(*_KEYS, "update_time")
    lines = [json.dumps({"order_id": k, "item_id": i, "status": s, "update_time": str(t)})
             for k, i, s, t in _ROWS]
    landed = (spark.read.json(spark.sparkContext.parallelize(lines))
              .select(*_KEYS, F.col("update_time").cast("timestamp").alias("update_time")))
    wide = [(uuid.uuid4().hex, "i1", uuid.uuid4().hex, datetime.datetime(2024, 1, 1))
            for _ in range(4000)]  # the join's estimate passes 8 GiB
    joined = _file_backed(spark, tmp_path, wide).join(
        _file_backed(spark, tmp_path, wide).select("order_id", F.col("status").alias("s2")),
        "order_id")
    for name, df in [("projected", projected), ("landed", landed), ("joined", joined)]:
        path = str(tmp_path / name)
        write_table(spark, df, path, _KEYS, "update_time")
        assert _recorded_buckets(path) == upsert_mod.MAX_BUCKETS, name
        assert 1 < len(_bucket_files(path)) <= upsert_mod.MAX_BUCKETS, name
        with open(os.path.join(path, "_table")) as f:
            fields = {c["name"]: c["type"] for c in json.load(f)["schema"]["fields"]}
        assert fields["__bucket"] == "integer", name


def test_bucket_sizing_starts_no_job(spark, tmp_path, jobs_of, monkeypatch):
    """The count comes from the optimized plan's statistics, which start
    no Spark job, and is the estimate over ``BUCKET_TARGET_BYTES``
    rounded up."""
    df = _file_backed(spark, tmp_path, _ROWS)
    counts = []
    assert jobs_of(lambda: counts.append(upsert_mod._sized_buckets(df))) == []
    assert counts == [1]
    estimate = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    monkeypatch.setattr(upsert_mod, "BUCKET_TARGET_BYTES", estimate // 3 + 1)
    assert upsert_mod._sized_buckets(df) == 3


def test_upsert_keeps_recorded_bucket_count(spark, tmp_path):
    """An upsert that passes another count routes its rows by the count
    ``_table`` records, so keys stay in the table's own buckets."""
    path = str(tmp_path / "tbl")
    upsert(spark, _file_backed(spark, tmp_path, _ROWS[:20]), path, _KEYS, "update_time",
           ["status"])
    assert _recorded_buckets(path) == 1
    upsert(spark, spark.createDataFrame(
        [(f"o{i}", "i1", "shipped", datetime.datetime(2024, 1, 2)) for i in range(20)],
        _SCHEMA), path, _KEYS, "update_time", ["status"], num_buckets=64)
    upsert_mod.compact_buckets(spark, path)
    assert _recorded_buckets(path) == 1
    assert list(_bucket_files(path)) == ["__bucket=0"]
    assert sorted(r.status for r in read_upsert_table(spark, path).collect()) == ["shipped"] * 20


def test_sized_table_lists_no_bucket_in_a_job(spark, tmp_path):
    """On a sized table, a full load, three appends, a read and a
    compaction run no distributed listing job (64 buckets, more than
    Spark's 32-path threshold, did)."""
    path = str(tmp_path / "tbl")
    df = _file_backed(spark, tmp_path, _ROWS)
    groups = [_in_group(spark, lambda: write_table(spark, df, path, _KEYS, "update_time"))]
    for j in range(3):
        batch = spark.createDataFrame(
            [(f"o{i}", "i1", f"s{j}", datetime.datetime(2024, 1, 2 + j))
             for i in range(j, 200, 7)], _SCHEMA)
        groups.append(_in_group(spark, lambda: upsert(
            spark, batch, path, _KEYS, "update_time", ["status"])))
    groups.append(_in_group(spark, lambda: read_upsert_table(spark, path).count()))
    groups.append(_in_group(spark, lambda: upsert_mod.compact_buckets(spark, path)))
    assert _recorded_buckets(path) == 1
    assert not _delta_files(path)
    assert [_listing_jobs(spark, g) for g in groups] == [[]] * len(groups)


def test_directory_without_table_record_raises(spark, tmp_path):
    """A directory without ``_table`` was not written by ``write_table``:
    reading or upserting it raises an error that names it, instead of
    guessing its schema and bucket count."""
    path = str(tmp_path / "tbl")
    write_table(spark, spark.createDataFrame(_ROWS[:20], _SCHEMA), path, _KEYS,
                "update_time", num_buckets=4)
    os.remove(os.path.join(path, "_table"))
    with pytest.raises(FileNotFoundError, match=re.escape(path)):
        read_upsert_table(spark, path)
    with pytest.raises(FileNotFoundError, match=re.escape(path)):
        upsert(spark, spark.createDataFrame(_ROWS[:1], _SCHEMA), path, _KEYS, "update_time")


def _sql_plans(spark, group):
    """Physical plans of the SQL executions run in job group ``group``
    (``_in_group`` describes each with the group name)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    recent = store.executionsList(max(0, n - 16), 16)
    return [e.physicalPlanDescription() for e in
            (recent.apply(i) for i in range(recent.size()))
            if e.description() == group]


def test_appending_batch_is_one_narrow_job(spark, tmp_path):
    """A batch Spark can size, into an existing table and with several
    rows per key, is written by one Spark job of one stage: scan,
    project, write, with no Exchange. Its newest rows are picked by the
    read's fold."""
    path = str(tmp_path / "tbl")
    write_table(spark, _file_backed(spark, tmp_path, _ROWS), path, _KEYS, "update_time")
    batch = _file_backed(
        spark, tmp_path,
        [(f"o{i % 5}", "i1", f"s{i}", datetime.datetime(2024, 1, 2, i)) for i in range(12)])
    group = _in_group(spark, lambda: upsert(spark, batch, path, _KEYS, "update_time",
                                            ["status"]))
    [job] = _jobs(spark, group)
    info = spark.sparkContext.statusTracker().getJobInfo(job)
    assert len(info.stageIds) == 1
    [plan] = _sql_plans(spark, group)
    assert "Exchange" not in plan and "Scan" in plan, plan
    got = {r.order_id: r.status for r in read_upsert_table(spark, path).collect()}
    assert {k: got[k] for k in ("o0", "o1", "o2", "o3", "o4")} == {
        "o0": "s10", "o1": "s11", "o2": "s7", "o3": "s8", "o4": "s9"}


_TB_SCHEMA = "order_id string, item_id string, status string, update_time timestamp, v int"


def _newest(rows):
    """Pure-Python keep_newest: per (order_id, item_id), the last row in
    (update_time, status, v) order with NULLs lowest."""
    def rank(r):
        return tuple((r[i] is not None, r[i]) for i in (3, 2, 4))
    best = {}
    for r in rows:
        k = r[:2]
        if k not in best or rank(r) > rank(best[k]):
            best[k] = r
    return best


def _apply(table, batch):
    """The guarded MERGE of one keep-newest batch, guard column
    ``status``: a NULL current order, a stale one, or equal orders with a
    changed status."""
    for k, r in _newest(batch).items():
        cur = table.get(k)
        if cur is None or cur[3] is None or (
                r[3] is not None and (cur[3] < r[3] or (cur[3] == r[3] and cur[2] != r[2]))):
            table[k] = r


def test_batches_with_many_rows_per_key_match_keep_newest_model(spark, tmp_path):
    """Batches holding several rows per key read back equal to a
    pure-Python keep-newest-then-guard model, before and after
    ``compact_buckets``: ties on ``update_time`` broken only by the
    ``tiebreak`` columns, NULL orders losing, and a NULL key."""
    t = [datetime.datetime(2024, 1, d) for d in range(1, 5)]
    base = [(f"o{i}", "i1", "created", t[1], 0) for i in range(6)]
    batches = [
        [("o0", "i1", "a", t[2], 1), ("o0", "i1", "b", t[2], 0),      # tie: status wins
         ("o1", "i1", "x", None, 5), ("o1", "i1", "y", t[3], 1),      # NULL order loses
         ("o2", "i1", "n", None, 1),                                   # NULL order only
         ("o3", "i1", "created", t[1], 1), ("o3", "i1", "shipped", t[1], 1),  # guard tie
         ("o4", "i1", "z", t[2], 1), ("o4", "i1", "z", t[2], 2),      # tie: v wins
         ("n1", "i1", "a", t[1], 1), ("n1", "i1", "b", t[2], 1), ("n1", "i1", "c", None, 9),
         (None, "i1", "a", t[1], 1), (None, "i1", "b", t[2], 1)],     # NULL key
        [("o0", "i1", "a", t[2], 7), ("o0", "i1", "c", t[1], 9),
         (None, "i1", "a", t[2], 1), (None, "i1", None, t[2], 3),
         ("o5", "i1", "late", t[0], 1), ("n1", "i1", "d", t[2], 0)],
    ]
    path = str(tmp_path / "tbl")
    write_table(spark, spark.createDataFrame(base, _TB_SCHEMA), path, _KEYS, "update_time",
                num_buckets=4)
    model = {r[:2]: r for r in base}
    for b in batches:
        upsert(spark, spark.createDataFrame(b, _TB_SCHEMA), path, _KEYS, "update_time",
               ["status"], tiebreak=["status", "v"])
        _apply(model, b)
    expected = sorted(model.values(), key=lambda r: tuple((x is None, x) for x in r))

    def table():
        return sorted((tuple(r) for r in read_upsert_table(spark, path).collect()),
                      key=lambda r: tuple((x is None, x) for x in r))
    assert len(_delta_files(path)) == 2
    assert table() == expected
    upsert_mod.compact_buckets(spark, path)
    assert not _delta_files(path)
    assert table() == expected


def test_merge_spec_without_tiebreak_appends_without_compaction(spark, tmp_path):
    """A table whose ``_table`` merge spec was recorded before the spec
    carried ``tiebreak`` reads it as no tiebreak: an upsert without one
    appends a delta (no forced compaction, no spec rewrite) and the read
    folds every delta."""
    path = str(tmp_path / "tbl")
    write_table(spark, spark.createDataFrame(_ROWS[:20], _SCHEMA), path, _KEYS,
                "update_time", num_buckets=4)
    upsert(spark, spark.createDataFrame([("o1", "i1", "shipped",
                                          datetime.datetime(2024, 1, 2))], _SCHEMA),
           path, _KEYS, "update_time", ["status"])
    meta_path = os.path.join(path, "_table")
    with open(meta_path) as f:
        meta = json.load(f)
    del meta["merge"]["tiebreak"]
    fsops.write_text_atomic(meta_path, json.dumps(meta), spark)  # keeps the .crc right
    upsert(spark, spark.createDataFrame([("o2", "i1", "shipped",
                                          datetime.datetime(2024, 1, 2))], _SCHEMA),
           path, _KEYS, "update_time", ["status"])
    assert sorted(_delta_files(path)) == [".s=1", ".s=2"]
    with open(meta_path) as f:
        assert json.load(f) == meta
    got = {r.order_id: r.status for r in read_upsert_table(spark, path).collect()}
    assert len(got) == 20 and got["o1"] == got["o2"] == "shipped"


def test_delta_layout_coalesces_sized_and_rebalances_unsized_batches(
        spark, tmp_path, monkeypatch):
    """A batch read from two small parquet files (sized: far below
    ``BUCKET_TARGET_BYTES``) is coalesced to one partition, with no
    Exchange; a batch of Python rows (a plan Spark cannot size) is
    rebalanced, and AQE sizes it to one partition. Each writes its delta
    as one file, though each is scanned in more than one partition. A
    sized estimate of n targets is coalesced to n partitions, and one
    over ``MAX_BUCKETS`` targets is rebalanced."""
    path = str(tmp_path / "tbl")
    write_table(spark, _file_backed(spark, tmp_path, _ROWS), path, _KEYS, "update_time")
    rows = [(f"o{i}", "i1", "shipped", datetime.datetime(2024, 1, 2)) for i in range(40)]
    src = str(tmp_path / "two-files")
    spark.createDataFrame(rows, _SCHEMA).repartition(2).write.parquet(src)
    sized = spark.read.schema(_SCHEMA).parquet(src)
    unsized = spark.createDataFrame(rows[::-1], _SCHEMA)
    assert sized.rdd.getNumPartitions() == 2 and unsized.rdd.getNumPartitions() > 1

    def plan(df):
        return upsert_mod._delta_layout(df)._jdf.queryExecution().optimizedPlan().toString()
    # a coalesce is "Repartition <n>, false" in a logical plan
    assert "Rebalance" not in plan(sized) and "Repartition 1, false" in plan(sized)
    assert "RebalancePartitions" in plan(unsized)
    for batch in (sized, unsized):
        upsert(spark, batch, path, _KEYS, "update_time", ["status"])
    assert {d: len(f) for d, f in _delta_files(path).items()} == {".s=1": 1, ".s=2": 1}

    estimate = upsert_mod._estimate(sized)
    monkeypatch.setattr(upsert_mod, "BUCKET_TARGET_BYTES", estimate // 3 + 1)
    assert "Repartition 3, false" in plan(sized)
    monkeypatch.setattr(upsert_mod, "BUCKET_TARGET_BYTES",
                        estimate // (upsert_mod.MAX_BUCKETS + 1))
    assert "RebalancePartitions" in plan(sized)


def _two_file_batch(spark, tmp_path, first, second):
    """A file-backed batch of two parquet files, ``first`` and ``second``."""
    src = str(tmp_path / f"src-{uuid.uuid4().hex}")
    for rows in (first, second):
        spark.createDataFrame(rows, _TB_SCHEMA).coalesce(1).write.mode("append").parquet(src)
    return spark.read.schema(_TB_SCHEMA).parquet(src)


def test_tie_across_delta_files_is_picked_by_remaining_columns(spark, tmp_path, monkeypatch):
    """Rows of one key tied on ``update_time`` in one delta, with no
    tiebreak, written to two delta files: whichever file holds which
    row, every read and the compaction pick the row with the greater
    remaining columns (``status``, then ``v``, NULLs lowest), the
    pure-Python model's pick."""
    # write each scan partition, one per file, to its own delta file
    monkeypatch.setattr(upsert_mod, "_delta_layout", lambda df: df)
    t = datetime.datetime(2024, 1, 2)
    base = [(f"o{i}", "i1", "created", datetime.datetime(2024, 1, 1), 0) for i in range(4)]
    tied = [[("o0", "i1", "a", t, 9), ("o1", "i1", None, t, 9), ("o2", "i1", "s", t, 1)],
            [("o0", "i1", "b", t, 1), ("o1", "i1", "a", t, 0), ("o2", "i1", "s", t, None)]]
    expected = sorted([("o0", "i1", "b", t, 1), ("o1", "i1", "a", t, 0),
                       ("o2", "i1", "s", t, 1), base[3]])
    for name, files in (("ab", tied), ("ba", tied[::-1])):
        path = str(tmp_path / name)
        write_table(spark, spark.createDataFrame(base, _TB_SCHEMA), path, _KEYS,
                    "update_time")
        upsert(spark, _two_file_batch(spark, tmp_path, *files), path, _KEYS, "update_time")
        assert [len(f) for f in _delta_files(path).values()] == [2], name
        for _ in range(3):
            assert sorted(map(tuple, read_upsert_table(spark, path).collect())) == expected, name
        upsert_mod.compact_buckets(spark, path)
        assert sorted(map(tuple, read_upsert_table(spark, path).collect())) == expected, name


def test_tie_order_leaves_out_a_map_column(spark):
    """A column Spark cannot compare (a map) is left out of the order
    that breaks a tie; the others still decide it, and the map comes
    along with its row."""
    schema = "k string, ord int, s string, m map<string, int>"
    base = spark.createDataFrame([("a", 0, "x", {"p": 1})], schema)
    batch = spark.createDataFrame([("a", 1, "c", {"r": 3}), ("a", 1, "b", {"q": 2})], schema)
    [r] = resolve_upsert(base, batch, ["k"], "ord").collect()
    assert (r.s, r.m) == ("c", {"r": 3})
