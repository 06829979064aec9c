"""Index-artifact store: content-fingerprint keying, table-adjacent
placement, cross-session reuse, and writer-driven invalidation.

The two production properties under test (VERDICT r5 items #1/#2):
1. MUTATION SAFETY — an upsert/rewrite of a table followed by an
   index-reading query in the same process must serve the NEW contents
   (pre-r6, path-keyed memos served a stale index).
2. ARTIFACT LIFECYCLE — index artifacts live next to the table
   (``<table>/_index/<artifact>/fp=...``), survive the process (a fresh
   session reuses them without rebuilding), and superseded generations
   are garbage-collected.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from e_commerce_etl_pipeline_spark.operators import fsops, index_store
from e_commerce_etl_pipeline_spark.operators.upsert import (
    read_upsert_table,
    upsert as run_upsert,
    write_table,
)
from e_commerce_etl_pipeline_spark.extensions import similarity

SRC_SF = "/root/testdata/sf0.001"


@pytest.fixture()
def emb_sf_dir(spark, tmp_path):
    """A writable copy of the sf0.001 corpus dir (embeddings only),
    re-written as a directory-layout table so appends / adjacent _index
    placement work like a production table."""
    d = str(tmp_path / "sf")
    os.makedirs(d)
    spark.read.parquet(f"{SRC_SF}/embeddings.parquet").write.parquet(
        f"{d}/embeddings.parquet"
    )
    return d


def _build_count(artifact: str) -> int:
    return index_store.BUILD_COUNTS.get(artifact, 0)


def test_fingerprint_changes_on_rewrite(spark, tmp_path):
    t = str(tmp_path / "t.parquet")
    spark.range(10).write.parquet(t)
    fp1 = index_store.table_fingerprint(t, spark)
    assert fp1 == index_store.table_fingerprint(t, spark)  # stable on reads
    spark.range(20).write.mode("overwrite").parquet(t)
    assert index_store.table_fingerprint(t, spark) != fp1


def test_fingerprint_ignores_index_artifacts(spark, tmp_path):
    t = str(tmp_path / "t.parquet")
    spark.range(10).write.parquet(t)
    fp1 = index_store.table_fingerprint(t, spark)
    fsops.write_text(f"{t}/_index/foo/marker", "x", spark)
    assert index_store.table_fingerprint(t, spark) == fp1


def test_cached_df_rebuilds_on_mutation(spark, tmp_path):
    t = str(tmp_path / "t.parquet")
    spark.range(5).write.parquet(t)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.read.parquet(t)

    a = index_store.cached_df(spark, t, "test_cached", build)
    b = index_store.cached_df(spark, t, "test_cached", build)
    assert a is b and calls["n"] == 1
    spark.range(7).write.mode("overwrite").parquet(t)
    c = index_store.cached_df(spark, t, "test_cached", build)
    assert calls["n"] == 2 and c.count() == 7


def test_stored_df_table_adjacent_and_cross_session_reuse(spark, tmp_path):
    t = str(tmp_path / "t.parquet")
    spark.range(5).select(F.col("id").alias("k")).write.parquet(t)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.read.parquet(t).withColumn("v", F.col("k") * 2)

    out = index_store.stored_df(spark, t, "test_stored", build)
    assert out.count() == 5 and calls["n"] == 1
    # artifact landed NEXT TO the table, invisible to Spark's own scan
    fp = index_store.table_fingerprint(t, spark)
    assert fsops.exists(f"{t}/_index/test_stored/fp={fp}/data.parquet/_SUCCESS",
                        spark)
    assert spark.read.parquet(t).columns == ["k"]
    # fresh process (in-memory state gone, disk artifact remains): reuse
    index_store.reset_session_state()
    out2 = index_store.stored_df(spark, t, "test_stored", build)
    assert out2.count() == 5
    assert calls["n"] == 1, "second session must reuse the stored artifact"


def test_stored_df_gc_stale_generations(spark, tmp_path):
    t = str(tmp_path / "t.parquet")
    spark.range(5).write.parquet(t)
    index_store.stored_df(spark, t, "test_gc", lambda: spark.read.parquet(t))
    spark.range(6).write.mode("overwrite").parquet(t)
    index_store.stored_df(spark, t, "test_gc", lambda: spark.read.parquet(t))
    gens = [d for d in fsops.list_child_names(f"{t}/_index/test_gc", spark)
            if d.startswith("fp=")]
    assert len(gens) == 1, "superseded fingerprint generations must be GC'd"


def test_readonly_roots_use_fallback(spark, monkeypatch, tmp_path):
    monkeypatch.setenv(index_store.FALLBACK_ROOT_ENV, str(tmp_path / "fb"))
    t = f"{SRC_SF}/embeddings.parquet"
    root = index_store.index_root(t, spark)
    assert str(tmp_path / "fb") in root
    assert not root.startswith("/root/testdata")


def test_ivf_index_reflects_table_mutation(spark, emb_sf_dir):
    """End-to-end mutation safety (VERDICT r6 done-criterion): upsert new
    rows into the embeddings table, re-run the IVF index read — the new
    vectors must appear."""
    before = similarity.ivf_assignment(spark, emb_sf_dir)
    n_before = before.count()
    max_id = before.agg(F.max("vec_id")).collect()[0][0]

    # append 5 new vectors by adding a data file to the table dir (the
    # plain-parquet analog of an insert batch landing)
    emb_path = f"{emb_sf_dir}/embeddings.parquet"
    new = (
        spark.range(max_id + 1, max_id + 6)
        .select(
            F.col("id").cast("long").alias("vec_id"),
            F.array(*[F.lit(0.25) for _ in range(similarity.DIM)])
            .cast("array<float>").alias("embedding"),
        )
    )
    new.write.mode("append").parquet(emb_path)

    after = similarity.ivf_assignment(spark, emb_sf_dir)
    assert after.count() == n_before + 5
    assert after.filter(F.col("vec_id") > max_id).count() == 5
    # corpus_count (planning statistic) must also re-count
    assert similarity.corpus_count(spark, emb_sf_dir) == n_before + 5


def test_upsert_invalidates_index(spark, tmp_path):
    t = str(tmp_path / "orders_t")
    df = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b")], "k long, ord long, val string"
    )
    write_table(spark, df, t, ["k"], "ord", num_buckets=4)
    index_store.stored_df(
        spark, t, "test_inv",
        lambda: spark.read.parquet(t).select("k"),
    )
    assert fsops.exists(f"{t}/_index/test_inv", spark)
    batch = spark.createDataFrame([(3, 30, "c")], "k long, ord long, val string")
    fp = index_store.table_fingerprint(t, spark)
    run_upsert(spark, batch, t, ["k"], "ord")
    # the batch is a hidden delta directory, but table content all the same
    assert index_store.table_fingerprint(t, spark) != fp
    assert not fsops.exists(f"{t}/_index/test_inv", spark), (
        "mutating upsert must drop derived index artifacts"
    )
    # and a rebuilt artifact sees the post-upsert contents
    out = index_store.stored_df(
        spark, t, "test_inv",
        lambda: read_upsert_table(spark, t).select("k"),
    )
    assert out.count() == 3
