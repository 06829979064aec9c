"""Lakehouse MERGE adapter: the emitted ``MERGE INTO`` must encode exactly
the resolve_upsert contract (insert / stale-update / guard-tie cases).

No Delta/Iceberg catalog ships in this container, so the statement is
verified two ways without executing a real MERGE:

1. structurally — clause-by-clause assertions on the emitted SQL;
2. semantically — the WHEN MATCHED predicate is parsed by Spark itself
   (``F.expr``) and evaluated over a tgt/src-joined frame; the rows it
   selects must be exactly the rows ``resolve_upsert`` takes from source.

Plus the fallback path: on a plain session ``lakehouse_upsert`` must land
in the bucketed-parquet writer and produce resolve_upsert's output.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from e_commerce_etl_pipeline_spark.operators.lakehouse import (
    lakehouse_upsert,
    merge_capable,
    merge_into_statement,
    merge_matched_condition,
)
from e_commerce_etl_pipeline_spark.operators.upsert import (
    read_upsert_table,
    resolve_upsert,
    write_table,
)

COLS = ["order_id", "status", "update_time", "etl_created_at", "etl_updated_at"]


def test_statement_structure():
    stmt = merge_into_statement(
        "lake.orders", "batch_src", COLS, keys=["order_id"],
        order_col="update_time", guard_cols=["status"],
    )
    # multi-part table name quoted per part; every identifier backticked
    assert "MERGE INTO `lake`.`orders` AS tgt" in stmt
    # null-safe key match, like resolve_upsert's eqNullSafe join
    assert "ON tgt.`order_id` <=> src.`order_id`" in stmt
    # stale-or-guard-tie update condition
    assert "tgt.`update_time` IS NULL OR tgt.`update_time` < src.`update_time`" in stmt
    assert "tgt.`update_time` <=> src.`update_time` AND (NOT (tgt.`status` <=> src.`status`))" in stmt
    # created_at carve-out: never in UPDATE SET; updated_at bumped to batch time
    update_set = stmt.split("UPDATE SET", 1)[1].split("WHEN NOT MATCHED", 1)[0]
    assert "etl_created_at" not in update_set
    assert "tgt.`etl_updated_at` = current_timestamp()" in update_set
    # keys immutable under match
    assert "tgt.`order_id` = src.`order_id`" not in update_set
    # insert covers every column from the source row
    assert f"THEN INSERT ({', '.join('`' + c + '`' for c in COLS)})" in stmt
    assert f"VALUES ({', '.join('src.`' + c + '`' for c in COLS)})" in stmt


def test_statement_quoting_hostile_identifiers(spark):
    """r4 finding #3: reserved words and hyphenated names must survive.
    Spark itself parses the emitted statement (parse-only via EXPLAIN
    would need the tables to exist, so assert the plan parser accepts the
    WHEN MATCHED expression and the statement quotes every identifier)."""
    cols = ["select", "order-date", "status update", "etl_updated_at"]
    stmt = merge_into_statement(
        "lake.some-table", "batch_src", cols, keys=["select"],
        order_col="order-date", guard_cols=["status update"],
    )
    assert "tgt.`select` <=> src.`select`" in stmt
    assert "`lake`.`some-table`" in stmt
    # the matched-condition must be parseable by Spark's expression parser
    cond = merge_matched_condition("order-date", ["status update"])
    F.expr(cond)  # raises ParseException if quoting is wrong
    # and evaluable over a frame with those exact column names
    df = spark.createDataFrame(
        [(1, 2, "a", "b")], ["k", "x", "y", "z"]
    ).selectExpr(
        "k as `order-date`", "x as `status update`"
    )
    joined = df.alias("tgt").join(df.alias("src"),
                                  F.lit(True))
    assert joined.filter(F.expr(cond)).count() == 0  # identical rows: no update


def test_statement_empty_update_set_raises():
    import pytest

    with pytest.raises(ValueError, match="no updatable columns"):
        merge_into_statement(
            "lake.orders", "src_view", ["order_id", "etl_created_at"],
            keys=["order_id"], order_col="order_id",
        )


def test_lakehouse_tiebreak_propagates_to_fallback(spark, tmp_path):
    """Equal (key, order_col) rows with different guard values must pick
    a deterministic survivor on the fallback path when tiebreak is given
    (the ST3 guard-tie hazard the tiebreak param exists for)."""
    path = str(tmp_path / "orders")
    target = spark.createDataFrame(
        [(1, "OPEN", 10)], "order_id int, status string, update_time int",
    )
    write_table(spark, target, path, keys=["order_id"], order_col="update_time",
                num_buckets=4)
    # two source rows tie on (key, order_col); tiebreak on status makes
    # the survivor deterministic: max(status) = "ZZZ"
    batch = spark.createDataFrame(
        [(1, "AAA", 11), (1, "ZZZ", 11)],
        "order_id int, status string, update_time int",
    )
    for _ in range(3):  # replays must agree
        backend = lakehouse_upsert(
            spark, batch, "ignored.table", keys=["order_id"],
            order_col="update_time", guard_cols=["status"],
            fallback_path=path, tiebreak=["status"],
        )
        assert backend == "parquet"
        got = {(r["order_id"], r["status"], r["update_time"])
               for r in read_upsert_table(spark, path).collect()}
        assert got == {(1, "ZZZ", 11)}


def test_matched_condition_matches_resolve_upsert(spark):
    """Spark parses the emitted WHEN MATCHED predicate; it must select
    exactly the rows resolve_upsert updates, on all four match cases:
    newer source, older source, tie + guard change, tie + no change."""
    target = spark.createDataFrame(
        [
            (1, "OPEN", 10),   # newer source below -> update
            (2, "OPEN", 20),   # older source below -> keep
            (3, "OPEN", 30),   # tie, status differs -> update
            (4, "OPEN", 40),   # tie, identical -> keep
            (5, None, None),   # null order in target -> update
        ],
        "order_id int, status string, update_time int",
    )
    source = spark.createDataFrame(
        [
            (1, "SHIPPED", 11),
            (2, "STALE", 19),
            (3, "SHIPPED", 30),
            (4, "OPEN", 40),
            (5, "SHIPPED", 1),
        ],
        "order_id int, status string, update_time int",
    )

    cond = merge_matched_condition("update_time", ["status"])
    joined = target.alias("tgt").join(source.alias("src"), "order_id")
    sql_updates = {
        r["order_id"]
        for r in joined.filter(F.expr(cond)).select("order_id").collect()
    }

    resolved = resolve_upsert(target, source, ["order_id"], "update_time",
                              guard_cols=["status"])
    before = {r["order_id"]: (r["status"], r["update_time"])
              for r in target.collect()}
    after = {r["order_id"]: (r["status"], r["update_time"])
             for r in resolved.collect()}
    df_updates = {k for k in before if after[k] != before[k]}
    assert sql_updates == {1, 3, 5}
    assert df_updates == sql_updates


def test_fallback_parquet_path(spark, tmp_path):
    assert not merge_capable(spark)
    path = str(tmp_path / "orders")
    target = spark.createDataFrame(
        [(1, "OPEN", 10), (2, "OPEN", 20)],
        "order_id int, status string, update_time int",
    )
    write_table(spark, target, path, keys=["order_id"], order_col="update_time",
                num_buckets=4)
    batch = spark.createDataFrame(
        [(1, "SHIPPED", 11), (3, "NEW", 5)],
        "order_id int, status string, update_time int",
    )
    backend = lakehouse_upsert(
        spark, batch, "ignored.table", keys=["order_id"],
        order_col="update_time", guard_cols=["status"], fallback_path=path,
        # deliberately NOT the table's bucket count (4): the count
        # recorded in the layout's _table must win, else keys duplicate
        num_buckets=64,
    )
    assert backend == "parquet"
    got = {
        (r["order_id"], r["status"], r["update_time"])
        for r in read_upsert_table(spark, path).collect()
    }
    assert got == {(1, "SHIPPED", 11), (2, "OPEN", 20), (3, "NEW", 5)}
