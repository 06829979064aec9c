"""Warehouse egress: the JDBC-shaped guarded-upsert sink must produce the
same table state as the in-lake ``resolve_upsert`` (the MERGE semantics
contract, K4-K6), including replay-safety and the etl_created_at
carve-out. The executed guard matrix on DuckDB is in
``tests/test_lakehouse_duckdb_exec.py``.

Reference semantics under test: the guarded SQL MERGE of
src/loaders/misa_crm_loader.py:292-501 and
tiktok_shop_staging_loader.py:453-468.
"""

from __future__ import annotations

import re
import sqlite3

import duckdb
import pytest
from pyspark.sql import functions as F

from e_commerce_etl_pipeline_spark.operators.lakehouse import (
    TSQL_DIALECT,
    merge_matched_condition,
)
from e_commerce_etl_pipeline_spark.operators.upsert import resolve_upsert
from e_commerce_etl_pipeline_spark.operators.warehouse import (
    foreach_batch_writer,
    jdbc_upsert_egress,
    tsql_merge_statement,
    upsert_statement,
)

SCHEMA = ("order_id string, status string, tracking string, update_time long, "
          "etl_created_at long, etl_updated_at long")
COLS = ["order_id", "status", "tracking", "update_time",
        "etl_created_at", "etl_updated_at"]
KEYS, ORDER, GUARDS = ["order_id"], "update_time", ["status", "tracking"]

TARGET = [
    ("T1", "CREATED", "tk1", 100, 10, 10),
    ("T2", "SHIPPED", "tk2", 500, 10, 10),
    ("T3", "DONE", None, 300, 10, 10),
]
SOURCE = [
    ("T1", "SHIPPED", "tk1", 200, 99, 20),   # newer -> update
    ("T1", "CANCEL", "tk0", 50, 99, 20),     # stale dup in batch -> deduped
    ("T2", "SHIPPED", "tk2", 500, 99, 20),   # tie, no guard diff -> no-op
    ("T3", "DONE", "tk3", 300, 99, 20),      # tie, tracking NULL -> set: update
    ("T4", "NEW", None, 700, 99, 20),        # insert
    (None, "NOKEY", None, 900, 99, 20),      # NULL key -> dropped at egress
]

def _connect_fn(path):
    def connect():
        return duckdb.connect(path)
    return connect


def _mk_sink(path):
    con = duckdb.connect(path)
    con.execute(
        "CREATE TABLE orders_sink (order_id VARCHAR PRIMARY KEY, status VARCHAR,"
        " tracking VARCHAR, update_time BIGINT, etl_created_at BIGINT,"
        " etl_updated_at BIGINT)"
    )
    con.close()


def _read_sink(path):
    con = duckdb.connect(path)
    rows = sorted(con.sql("SELECT * FROM orders_sink").fetchall())
    con.close()
    return rows


@pytest.fixture()
def dbpath(tmp_path):
    p = str(tmp_path / "wh.duckdb")
    _mk_sink(p)
    return p


def _expected(spark):
    """The in-lake resolve_upsert result on the same target/source —
    batch_time pinned to the batch's own etl_updated_at stamp so both
    paths bump the audit column identically."""
    t = spark.createDataFrame(TARGET, SCHEMA)
    s = spark.createDataFrame(SOURCE, SCHEMA)
    out = resolve_upsert(t, s, KEYS, ORDER, GUARDS, batch_time=F.lit(20),
                         drop_null_key_rows=True)
    return sorted(tuple(r) for r in out.collect())


def test_roundtrip_matches_resolve_upsert(spark, dbpath):
    jdbc_upsert_egress(spark.createDataFrame(TARGET, SCHEMA), "orders_sink",
                       KEYS, ORDER, GUARDS, _connect_fn(dbpath), num_writers=1)
    jdbc_upsert_egress(spark.createDataFrame(SOURCE, SCHEMA), "orders_sink",
                       KEYS, ORDER, GUARDS, _connect_fn(dbpath), num_writers=1)
    assert _read_sink(dbpath) == _expected(spark)


def test_replay_and_stale_batches_are_noops(spark, dbpath):
    src = spark.createDataFrame(SOURCE, SCHEMA)
    jdbc_upsert_egress(spark.createDataFrame(TARGET, SCHEMA), "orders_sink",
                       KEYS, ORDER, GUARDS, _connect_fn(dbpath), num_writers=1)
    for _ in range(2):  # replay the same batch (ST3)
        jdbc_upsert_egress(src, "orders_sink", KEYS, ORDER, GUARDS,
                           _connect_fn(dbpath), num_writers=1)
    after_replay = _read_sink(dbpath)
    assert after_replay == _expected(spark)
    # an entirely-stale batch (older order col, different guards) no-ops
    stale = spark.createDataFrame(
        [("T1", "REGRESS", "x", 1, 0, 0), ("T4", "REGRESS", "x", 1, 0, 0)], SCHEMA
    )
    jdbc_upsert_egress(stale, "orders_sink", KEYS, ORDER, GUARDS,
                       _connect_fn(dbpath), num_writers=1)
    assert _read_sink(dbpath) == after_replay


def test_foreach_batch_writer_applies_micro_batches(spark, dbpath):
    writer = foreach_batch_writer("orders_sink", KEYS, ORDER, GUARDS,
                                  _connect_fn(dbpath), num_writers=1)
    writer(spark.createDataFrame(TARGET, SCHEMA), 0)
    writer(spark.createDataFrame(SOURCE, SCHEMA), 1)
    writer(spark.createDataFrame(SOURCE, SCHEMA), 1)  # redelivery
    assert _read_sink(dbpath) == _expected(spark)


def test_sqlite_egress_matches_resolve_upsert(spark, tmp_path):
    """The sqlite dialect (``IS`` as null-safe equality) executes the
    same contract, including the NULL -> value guard change."""
    path = str(tmp_path / "wh.sqlite")
    con = sqlite3.connect(path)
    con.execute(
        "CREATE TABLE orders_sink (order_id TEXT PRIMARY KEY, status TEXT,"
        " tracking TEXT, update_time INTEGER, etl_created_at INTEGER,"
        " etl_updated_at INTEGER)"
    )
    con.close()
    for rows in (TARGET, SOURCE, SOURCE):
        jdbc_upsert_egress(spark.createDataFrame(rows, SCHEMA), "orders_sink",
                           KEYS, ORDER, GUARDS, lambda: sqlite3.connect(path),
                           dialect="sqlite", num_writers=1)
    con = sqlite3.connect(path)
    got = sorted(con.execute("SELECT * FROM orders_sink").fetchall())
    con.close()
    assert got == _expected(spark)


def test_tsql_guard_selects_resolve_upsert_updates():
    """The T-SQL rendering of the key match and guard picks exactly the
    rows the contract updates. SQLite accepts ``[...]`` identifiers and
    the ANSI predicates the T-SQL dialect uses, so it evaluates the
    rendered text; a NULL -> value guard change must count as a change
    (a three-valued equality would make its negation UNKNOWN)."""
    d = TSQL_DIALECT
    on = d.nse(a="tgt.[order_id]", b="src.[order_id]")
    guard = merge_matched_condition(ORDER, GUARDS, d)
    con = sqlite3.connect(":memory:")
    for t in ("tgt_t", "src_t"):
        con.execute(f"CREATE TABLE {t} ({', '.join(COLS)})")
    con.executemany("INSERT INTO tgt_t VALUES (?,?,?,?,?,?)",
                    TARGET + [("T5", "OPEN", None, None, 10, 10)])
    con.executemany("INSERT INTO src_t VALUES (?,?,?,?,?,?)",
                    SOURCE + [("T5", "OPEN", None, 1, 99, 20)])
    got = {r[0] for r in con.execute(
        f"SELECT tgt.order_id FROM tgt_t AS tgt JOIN src_t AS src ON {on} "
        f"WHERE {guard}"
    )}
    con.close()
    # T1 newer, T3 tracking NULL -> 'tk3' at a tie, T5 NULL target order
    assert got == {"T1", "T3", "T5"}


def test_statement_shapes():
    up = upsert_statement("t", COLS, KEYS, ORDER, GUARDS, dialect="sqlite")
    assert 'ON CONFLICT ("order_id")' in up
    assert 'NOT (tgt."tracking" IS excluded."tracking")' in up
    assert '"etl_created_at" = excluded' not in up  # carve-out
    merge = tsql_merge_statement("t", COLS, KEYS, ORDER, GUARDS)
    assert merge.startswith("MERGE [t] AS tgt") and "WHEN NOT MATCHED" in merge
    assert "[etl_created_at] = src" not in merge
    # the NULL-target stale clause, and no predicate compared as a value
    assert "tgt.[update_time] IS NULL OR tgt.[update_time] < src.[update_time]" in merge
    assert ") <> (" not in merge
    # every identifier is bracketed: no column name is left once the
    # bracketed names are removed
    bare = re.sub(r"\[[^\]]*\]", "", merge)
    assert not any(c in bare for c in COLS)
    assert tsql_merge_statement(
        "dbo.a]b", ["k", "o"], ["k"], "o"
    ).startswith("MERGE [dbo].[a]]b] AS tgt")
