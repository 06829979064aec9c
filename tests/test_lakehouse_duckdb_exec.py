"""Executed guard matrix for the lakehouse MERGE binding.

``tests/test_lakehouse_delta_exec.py`` skips wherever delta-spark is
absent, so the ``MERGE INTO`` branch does not execute there. This module
runs the same contract on an engine that is present: the warehouse
egress statement (``INSERT .. ON CONFLICT .. DO UPDATE .. WHERE``) is
rendered by the lakehouse guarded-MERGE builder, so executing it on
DuckDB through ``jdbc_upsert_egress`` executes the binding's guard
matrix — insert / stale-keep / newer-update / null-order-update /
guard-tie-update / tie-identical-keep — with the end state compared
cell-for-cell against ``resolve_upsert`` run by Spark on the same data.

Reference semantics under test: the guarded SQL MERGE of
src/loaders/misa_crm_loader.py:292-501 and
tiktok_shop_staging_loader.py:453-468.
"""

from __future__ import annotations

import duckdb
import pytest

from e_commerce_etl_pipeline_spark.operators.lakehouse import merge_into_statement
from e_commerce_etl_pipeline_spark.operators.upsert import resolve_upsert
from e_commerce_etl_pipeline_spark.operators.warehouse import (
    jdbc_upsert_egress,
    upsert_statement,
)

# the full match matrix, with a NULL order_col in the target
SCHEMA = "order_id int, status string, update_time int"
DDL = ("CREATE TABLE m (order_id INT PRIMARY KEY, status VARCHAR,"
       " update_time INT)")
TARGET = [
    (1, "OPEN", 10),   # newer source -> update
    (2, "OPEN", 20),   # older source -> keep
    (3, "OPEN", 30),   # tie + guard change -> update
    (4, "OPEN", 40),   # tie + identical -> keep
    (5, None, None),   # null order in target -> update
]
SOURCE = [
    (1, "SHIPPED", 11),
    (2, "STALE", 19),
    (3, "SHIPPED", 30),
    (4, "OPEN", 40),
    (5, "SHIPPED", 1),
    (6, "NEW", 5),     # not matched -> insert
]
EXPECT = {
    (1, "SHIPPED", 11),
    (2, "OPEN", 20),
    (3, "SHIPPED", 30),
    (4, "OPEN", 40),
    (5, "SHIPPED", 1),
    (6, "NEW", 5),
}


def _egress_batches(spark, path, ddl, table, schema, batches, keys, order,
                    guards=()):
    """Create ``table`` from ``ddl`` in a fresh DuckDB file, egress each
    batch into it, and return the final rows as a set."""
    con = duckdb.connect(path)
    con.execute(ddl)
    con.close()
    for rows in batches:
        jdbc_upsert_egress(spark.createDataFrame(rows, schema), table, keys,
                           order, guards, lambda: duckdb.connect(path),
                           num_writers=1)
    con = duckdb.connect(path)
    got = set(con.execute(f'SELECT * FROM "{table}"').fetchall())
    con.close()
    return got


def _run_matrix(spark, tmp_path, batches):
    return _egress_batches(
        spark, str(tmp_path / "m.duckdb"), DDL, "m", SCHEMA, batches,
        ["order_id"], "update_time", ["status"],
    )


def test_duckdb_executes_full_guard_matrix(spark, tmp_path):
    assert _run_matrix(spark, tmp_path, [TARGET, SOURCE]) == EXPECT


def test_duckdb_twin_matches_resolve_upsert(spark, tmp_path):
    """End-state equality with the DataFrame resolve on the same data —
    the executed statement and the parquet path share one contract."""
    resolved = resolve_upsert(
        spark.createDataFrame(TARGET, SCHEMA),
        spark.createDataFrame(SOURCE, SCHEMA),
        ["order_id"], "update_time", guard_cols=["status"],
    )
    spark_rows = {tuple(r) for r in resolved.collect()}
    got = _run_matrix(spark, tmp_path, [TARGET, SOURCE])
    assert got == spark_rows == EXPECT


def test_duckdb_replay_idempotent(spark, tmp_path):
    """ST3: applying the identical batch twice is a no-op — the guard
    must evaluate false for every re-delivered row."""
    assert _run_matrix(spark, tmp_path, [TARGET, SOURCE, SOURCE]) == EXPECT


def test_duckdb_hostile_identifiers(spark, tmp_path):
    """A reserved-word table and reserved-word / spaced column names
    survive the quoted DuckDB rendering."""
    got = _egress_batches(
        spark, str(tmp_path / "h.duckdb"),
        'CREATE TABLE "order" ("key" INT PRIMARY KEY, "select" VARCHAR,'
        ' "update time" INT)',
        "order", "`key` int, `select` string, `update time` int",
        [[(1, "OPEN", 10)], [(1, "SHIPPED", 11), (2, "NEW", 5)]],
        ["key"], "update time", ["select"],
    )
    assert got == {(1, "SHIPPED", 11), (2, "NEW", 5)}


def test_both_emissions_share_one_predicate():
    """The egress statement and the Spark MERGE must render the same
    logical guard and SET list: identical text after normalizing
    quoting, null-safe equality and the source alias — drift between
    the emissions would quietly fork the contract."""
    args = (["order_id", "status", "update_time"], ["order_id"],
            "update_time", ["status"])
    spark_stmt = merge_into_statement("t", "s", *args)
    egress_stmt = upsert_statement("t", *args)
    s_guard, s_sets = spark_stmt.split("WHEN MATCHED AND (")[1].split(
        ") THEN UPDATE SET "
    )
    s_sets = s_sets.split(" WHEN NOT MATCHED")[0]
    e_sets, e_guard = egress_stmt.split("DO UPDATE SET ")[1].split(" WHERE ")
    norm_s = s_guard.replace("`", "").replace(
        " <=> ", " IS NOT DISTINCT FROM "
    )
    norm_e = e_guard.replace('"', "").replace("excluded.", "src.")
    assert norm_s == norm_e
    assert (s_sets.replace("`", "").replace("tgt.", "")
            == e_sets.replace('"', "").replace("excluded.", "src."))


def test_etl_audit_carveouts_execute(spark, tmp_path):
    """etl_created_at keeps the target value on UPDATE; etl_updated_at
    takes the batch row's stamp; an INSERT takes the source values."""
    got = _egress_batches(
        spark, str(tmp_path / "c.duckdb"),
        "CREATE TABLE c (k INT PRIMARY KEY, v VARCHAR, o INT,"
        " etl_created_at INT, etl_updated_at INT)",
        "c", "k int, v string, o int, etl_created_at int, etl_updated_at int",
        [[(1, "a", 10, 100, 100)], [(1, "b", 11, 999, 777), (2, "c", 5, 888, 888)]],
        ["k"], "o",
    )
    assert got == {(1, "b", 11, 100, 777), (2, "c", 5, 888, 888)}


def test_delta_skip_is_still_the_only_skip():
    """The executed matrix must not replace the real-Delta exec test —
    it keeps skipping (with its reason) wherever delta-spark is absent."""
    import importlib.util

    if importlib.util.find_spec("delta") is not None:
        pytest.skip("delta-spark present: the real exec test runs")
    from tests import test_lakehouse_delta_exec as t

    assert t.pytestmark.args[0] is True  # skipif condition active


def test_duckdb_alias_literal_column_names_execute(spark, tmp_path):
    """Columns whose NAMES contain the alias text 'src.', 'tgt.' or
    'excluded.' are quoted whole, so the alias prefixes never corrupt
    them (ADVICE r11 #1)."""
    got = _egress_batches(
        spark, str(tmp_path / "a.duckdb"),
        'CREATE TABLE t (k INT PRIMARY KEY, "src.note" VARCHAR,'
        ' "tgt.flag" INT, "excluded.x" INT, o INT)',
        "t", "k int, `src.note` string, `tgt.flag` int, `excluded.x` int, o int",
        [[(1, "old", 0, 0, 10), (3, "same", 3, 3, 30)],
         [(1, "new", 1, 1, 11), (2, "ins", 2, 2, 5), (3, "same", 3, 9, 30)]],
        ["k"], "o", ["src.note", "excluded.x"],
    )
    assert got == {(1, "new", 1, 1, 11), (2, "ins", 2, 2, 5),
                   (3, "same", 3, 9, 30)}
