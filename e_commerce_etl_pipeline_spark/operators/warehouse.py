"""Warehouse (JDBC-shaped) egress: bind the engine's guarded MERGE
semantics to an external SQL store.

The reference's actual sink is SQL Server: batched T-SQL ``MERGE ...
WHEN MATCHED AND (target.update_time < source.update_time OR guard
changed) THEN UPDATE ... WHEN NOT MATCHED THEN INSERT`` executed over
pyodbc (tiktok_shop_staging_loader.py:339-480, misa_crm_loader.py:
292-501). The parquet-bucket upsert writer replicates those semantics
in-lake; this module is the OUT-OF-LAKE half: the same guarded-upsert
contract executed against any DB-API target, so a user of the reference
can point the engine at their warehouse and keep the MERGE behavior.

Shape (idiomatic Spark JDBC sink):
- ``jdbc_upsert_egress(df, ...)`` — dedups the batch keep-newest by key
  (the reference's D1 pre-MERGE dedup), then ``foreachPartition``:
  every executor opens its own connection and executes batched
  ``INSERT ... ON CONFLICT (keys) DO UPDATE ... WHERE <guard>``
  statements. No driver collect; per-partition batching mirrors the
  reference's parameter-limit batches (MERGE batch 20/40/100).
- ``foreach_batch_writer(...)`` — the same egress wrapped as a
  ``foreachBatch(batch_df, batch_id)`` callable for Structured
  Streaming incremental loads (ST1-ST3: replays are no-ops because the
  guard never lets an older row overwrite a newer one).

Both statements are rendered by ``operators/lakehouse``'s guarded-MERGE
builder — the same key match, guard, SET list and INSERT lists as the
Spark ``MERGE INTO`` and ``resolve_upsert`` — so the warehouse inherits
the contract instead of restating it. ``dialect`` picks the quoting and
null-safe equality: ``duckdb``/``postgres`` (``"..."``, IS NOT DISTINCT
FROM) or ``sqlite`` (``"..."``, IS). ``etl_updated_at`` takes the
batch row's own stamp on update. SQL Server needs MERGE instead of ON
CONFLICT — ``tsql_merge_statement`` emits the reference-equivalent
T-SQL (``[...]`` quoting) for documentation/ops use. NULL natural keys
don't participate in SQL unique conflicts (NULLs compare distinct), so
rows with NULL keys are dropped before egress — the MISA loader does
exactly this (D5, misa_crm_loader.py:161-171).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

from pyspark.sql import DataFrame

from .dedup import drop_null_keys, keep_newest
from .lakehouse import (
    DUCKDB_DIALECT,
    ETL_UPDATED,
    SQLITE_DIALECT,
    TSQL_DIALECT,
    _merge_parts,
)

_DIALECTS = {
    "duckdb": DUCKDB_DIALECT,
    "postgres": DUCKDB_DIALECT,
    "sqlite": SQLITE_DIALECT,
}


def upsert_statement(
    table: str,
    cols: Sequence[str],
    keys: Sequence[str],
    order_col: str,
    guard_cols: Sequence[str] = (),
    dialect: str = "duckdb",
) -> str:
    """Parameterized guarded-upsert statement (one placeholder per col)."""
    d = _DIALECTS[dialect]
    _on, guard, sets, col_list, _src_vals = _merge_parts(
        cols, keys, order_col, guard_cols,
        f"excluded.{d.q(ETL_UPDATED)}", d, src="excluded",
    )
    return (
        f"INSERT INTO {d.q_table(table)} AS tgt ({col_list}) "
        f"VALUES ({', '.join('?' for _ in cols)}) "
        f"ON CONFLICT ({', '.join(d.q(k) for k in keys)}) DO UPDATE SET "
        + ", ".join(f"{c} = {v}" for c, v in sets)
        + f" WHERE {guard}"
    )


def tsql_merge_statement(
    table: str,
    cols: Sequence[str],
    keys: Sequence[str],
    order_col: str,
    guard_cols: Sequence[str] = (),
) -> str:
    """The same contract as SQL Server T-SQL MERGE (reference parity:
    tiktok_shop_staging_loader.py:453-468). Emitted for deployments whose
    warehouse lacks ON CONFLICT; the tests check its structure and
    evaluate its guard on SQLite rather than execute it."""
    d = TSQL_DIALECT
    on, guard, sets, col_list, src_vals = _merge_parts(
        cols, keys, order_col, guard_cols, f"src.{d.q(ETL_UPDATED)}", d
    )
    return (
        f"MERGE {d.q_table(table)} AS tgt "
        f"USING (VALUES ({', '.join('?' for _ in cols)})) AS src ({col_list}) "
        f"ON {on} "
        f"WHEN MATCHED AND ({guard}) THEN UPDATE SET "
        + ", ".join(f"{c} = {v}" for c, v in sets)
        + f" WHEN NOT MATCHED THEN INSERT ({col_list}) VALUES ({src_vals});"
    )


def _write_partition(
    rows: Iterator,
    connect_fn: Callable,
    statement: str,
    cols: Sequence[str],
    batch_size: int,
) -> None:
    con = connect_fn()
    try:
        batch = []
        for row in rows:
            batch.append(tuple(row[c] for c in cols))
            if len(batch) >= batch_size:
                con.executemany(statement, batch)
                batch = []
        if batch:
            con.executemany(statement, batch)
        if hasattr(con, "commit"):
            con.commit()
    finally:
        con.close()


def jdbc_upsert_egress(
    df: DataFrame,
    table: str,
    keys: Sequence[str],
    order_col: str,
    guard_cols: Sequence[str] = (),
    connect_fn: Callable | None = None,
    dialect: str = "duckdb",
    batch_size: int = 500,
    num_writers: int | None = None,
) -> None:
    """Apply a guarded keyed-upsert batch to an external SQL table.

    ``connect_fn`` runs ON THE EXECUTOR (one connection per partition) —
    pass a picklable zero-arg factory (DB-API for duckdb/sqlite/odbc).
    The target table must exist with a PRIMARY KEY/UNIQUE constraint on
    ``keys``. ``num_writers`` caps write parallelism (coalesce) for
    targets with connection or single-writer limits — embedded engines
    (duckdb/sqlite files) need 1; server warehouses take partition-
    parallel writers, which is the scale path."""
    statement = upsert_statement(table, df.columns, keys, order_col,
                                 guard_cols, dialect)
    cols = list(df.columns)
    out = drop_null_keys(keep_newest(df, keys, order_col), keys)
    if num_writers is not None:
        out = out.coalesce(num_writers)
    out.foreachPartition(
        lambda rows: _write_partition(rows, connect_fn, statement, cols, batch_size)
    )


def foreach_batch_writer(
    table: str,
    keys: Sequence[str],
    order_col: str,
    guard_cols: Sequence[str] = (),
    connect_fn: Callable | None = None,
    dialect: str = "duckdb",
    batch_size: int = 500,
    num_writers: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """Structured-Streaming adapter: the batch function to hand to
    ``streaming.runner.start_batches``.
    Replay-safe by construction — re-delivered micro-batches hit the
    order/guard WHERE clause and no-op (ST3/ST6)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        jdbc_upsert_egress(batch_df, table, keys, order_col, guard_cols,
                           connect_fn, dialect, batch_size, num_writers)

    return write
