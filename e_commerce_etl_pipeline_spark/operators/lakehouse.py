"""The guarded-MERGE contract and its one renderer, plus the lakehouse
binding that executes it as ``MERGE INTO`` on Delta/Iceberg-capable
sessions.

The reference's production sink is an actual SQL MERGE (SQL Server,
misa_crm_loader.py:292-501, tiktok_shop_staging_loader.py:453-468). The
in-lake replication here is ``operators/upsert.py`` (bucketed parquet +
``resolve_upsert``); when the session has a v2 catalog that understands
row-level MERGE (Delta Lake, Iceberg, or Spark's own v2 sources), this
module emits and executes the SAME contract as one ``MERGE INTO``
statement and lets the table format do copy-on-write / merge-on-read —
at 100 TB that is strictly better than rewriting touched buckets
ourselves, because the format maintains file-level statistics and
deletion vectors we'd otherwise rebuild.

The contract (``resolve_upsert`` is the semantic source of truth; its
pytest + oracle coverage is what every rendering is tested against):

- match on null-safe key equality, like the full-outer join;
- UPDATE iff target order_col is NULL, older than source, or ties while
  any guard column differs (null-safely);
- ``etl_created_at`` keeps the target value on UPDATE (carve-out);
- ``etl_updated_at`` takes the batch stamp on UPDATE, source value on
  INSERT;
- INSERT when not matched;
- the source is deduped keep-newest per key first (MERGE requires a
  unique source key; the reference dedups pre-MERGE the same way, D1).

One renderer (``merge_matched_condition`` + ``_merge_parts``) builds
every SQL form of it, in four dialects that differ only in identifier
quoting and null-safe equality: Spark (``resolve_upsert``'s update rule
and ``merge_into_statement``), DuckDB/Postgres and SQLite
(``warehouse.upsert_statement``, INSERT .. ON CONFLICT) and T-SQL
(``warehouse.tsql_merge_statement``).

``lakehouse_upsert`` falls back to the parquet-bucket writer when no
MERGE-capable catalog is detected. Without delta-spark the Spark
statement is tested structurally and by Spark evaluating its
WHEN-MATCHED predicate over a joined frame; the same guard executes on
DuckDB through the warehouse egress.
"""

from __future__ import annotations

import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from .dedup import drop_null_keys, keep_newest

ETL_CREATED = "etl_created_at"
ETL_UPDATED = "etl_updated_at"


class _Dialect:
    """The two rendering choices that differ between engines executing
    the guarded-MERGE contract: identifier quoting and null-safe
    equality. One condition builder serves every target — Spark ``MERGE
    INTO``, the warehouse ``ON CONFLICT`` upsert and the T-SQL ``MERGE``
    render the SAME logical predicate, so the guard matrix cannot drift
    between them. ``nse`` must be two-valued (never UNKNOWN): the guard
    negates it."""

    def __init__(self, quote: str, nse: str, close: str | None = None):
        self._open = quote
        self._close = close or quote
        self._nse = nse  # null-safe-equals template with {a} {b}

    def q(self, name: str) -> str:
        return self._open + name.replace(
            self._close, self._close * 2
        ) + self._close

    def q_table(self, name: str) -> str:
        """Quote a possibly multi-part table name (catalog.schema.table):
        each dot-separated part is quoted on its own."""
        return ".".join(self.q(p) for p in name.split("."))

    def nse(self, a: str, b: str) -> str:
        return self._nse.format(a=a, b=b)


SPARK_DIALECT = _Dialect("`", "{a} <=> {b}")
# DuckDB and Postgres
DUCKDB_DIALECT = _Dialect('"', "{a} IS NOT DISTINCT FROM {b}")
SQLITE_DIALECT = _Dialect('"', "{a} IS {b}")
# SQL Server before 2022 has no IS [NOT] DISTINCT FROM, and a bare
# ``a = b OR (a IS NULL AND b IS NULL)`` is UNKNOWN when one side is
# NULL — its negation would then miss a NULL -> value guard change
TSQL_DIALECT = _Dialect(
    "[",
    "(({a} = {b} AND {a} IS NOT NULL AND {b} IS NOT NULL)"
    " OR ({a} IS NULL AND {b} IS NULL))",
    close="]",
)


def merge_matched_condition(
    order_col: str,
    guard_cols: Sequence[str] = (),
    dialect: _Dialect = SPARK_DIALECT,
    tgt: str = "tgt",
    src: str = "src",
) -> str:
    """The WHEN MATCHED guard as a SQL boolean expression over the
    given target/source alias prefixes: stale target, or same version
    with a changed guard column. The one definition of the guard —
    ``resolve_upsert``'s update rule, ``MERGE INTO`` and the warehouse
    statements all render it."""
    oc = dialect.q(order_col)
    stale = f"{tgt}.{oc} IS NULL OR {tgt}.{oc} < {src}.{oc}"
    if not guard_cols:
        return stale
    diffs = " OR ".join(
        "NOT (" + dialect.nse(a=f"{tgt}.{dialect.q(g)}", b=f"{src}.{dialect.q(g)}") + ")"
        for g in guard_cols
    )
    return (
        f"{stale} OR ("
        + dialect.nse(a=f"{tgt}.{oc}", b=f"{src}.{oc}")
        + f" AND ({diffs}))"
    )


def merge_into_statement(
    target_table: str,
    source_view: str,
    cols: Sequence[str],
    keys: Sequence[str],
    order_col: str,
    guard_cols: Sequence[str] = (),
    batch_time_expr: str = "current_timestamp()",
) -> str:
    """Emit the Spark-dialect ``MERGE INTO`` equivalent of
    ``resolve_upsert`` for a Delta/Iceberg target table. All identifiers
    are backtick-quoted; raises ValueError when no updatable column
    exists (every column a key or the created_at carve-out) rather than
    emitting a malformed empty UPDATE SET."""
    on, guard, sets, col_list, src_vals = _merge_parts(
        cols, keys, order_col, guard_cols, batch_time_expr, SPARK_DIALECT
    )
    return (
        f"MERGE INTO {SPARK_DIALECT.q_table(target_table)} AS tgt "
        f"USING {SPARK_DIALECT.q_table(source_view)} AS src "
        f"ON {on} "
        f"WHEN MATCHED AND ({guard}) THEN UPDATE SET "
        + ", ".join(f"tgt.{c} = {v}" for c, v in sets)
        + f" WHEN NOT MATCHED THEN INSERT ({col_list}) VALUES ({src_vals})"
    )


def _merge_parts(
    cols: Sequence[str],
    keys: Sequence[str],
    order_col: str,
    guard_cols: Sequence[str],
    batch_time_expr: str,
    d: _Dialect,
    src: str = "src",
) -> tuple[str, str, list[tuple[str, str]], str, str]:
    """The guarded-MERGE contract in dialect ``d``, with the target
    aliased ``tgt`` and the source referenced through the ``src``
    prefix (``excluded`` for ON CONFLICT): the null-safe key match, the
    WHEN MATCHED guard, the UPDATE SET items as (quoted column, value)
    pairs — keys and ``etl_created_at`` never updated,
    ``etl_updated_at`` set to ``batch_time_expr`` — the quoted INSERT
    column list and the source values it inserts."""
    on = " AND ".join(
        d.nse(a=f"tgt.{d.q(k)}", b=f"{src}.{d.q(k)}") for k in keys
    )
    guard = merge_matched_condition(order_col, guard_cols, d, src=src)
    sets = []
    for c in cols:
        if c in keys or c == ETL_CREATED:
            continue  # keys immutable under match; created_at carve-out
        value = batch_time_expr if c == ETL_UPDATED else f"{src}.{d.q(c)}"
        sets.append((d.q(c), value))
    if not sets:
        raise ValueError(
            "MERGE has no updatable columns (every column is a key or "
            f"{ETL_CREATED}); an insert-only load should use append, not MERGE"
        )
    col_list = ", ".join(d.q(c) for c in cols)
    src_vals = ", ".join(f"{src}.{d.q(c)}" for c in cols)
    return on, guard, sets, col_list, src_vals


def merge_capable(spark: SparkSession) -> bool:
    """True when the session is configured with a MERGE-capable v2
    extension (Delta/Iceberg). Detection is by session extension config —
    the formats register their SQL rules there; a plain parquet session
    has none and must take the bucketed-parquet path."""
    try:
        ext = spark.conf.get("spark.sql.extensions", "") or ""
    except Exception:
        return False
    return "DeltaSparkSessionExtension" in ext or "IcebergSparkSessionExtensions" in ext


def lakehouse_upsert(
    spark: SparkSession,
    source: DataFrame,
    target_table: str,
    keys: Sequence[str],
    order_col: str,
    guard_cols: Sequence[str] = (),
    drop_null_key_rows: bool = False,
    fallback_path: str | None = None,
    num_buckets: int = 64,
    tiebreak: Sequence[str] = (),
) -> str:
    """Apply a guarded keyed-upsert batch through the best available
    backend. Returns the backend used: ``"merge"`` or ``"parquet"``.

    ``target_table`` is a catalog table name for the MERGE path;
    ``fallback_path`` is the bucketed-parquet table directory used when
    the session has no MERGE-capable catalog (this container).

    ``tiebreak`` completes the source dedup's total order exactly as in
    ``resolve_upsert``: without it, a batch holding two rows with equal
    (key, order_col) but different guard values picks a nondeterministic
    survivor and replay idempotence (ST3) fails in the guard-tie case —
    on BOTH backends, since the MERGE path dedups the source the same way.
    """
    if merge_capable(spark):
        batch = keep_newest(source, keys, order_col, tiebreak)
        if drop_null_key_rows:
            batch = drop_null_keys(batch, keys)
        view = f"__merge_src_{uuid.uuid4().hex}"
        batch.createOrReplaceTempView(view)
        try:
            stmt = merge_into_statement(
                target_table, view, spark.table(target_table).columns,
                keys, order_col, guard_cols,
            )
            spark.sql(stmt)
        finally:
            spark.catalog.dropTempView(view)
        return "merge"

    if fallback_path is None:
        raise ValueError(
            "session has no MERGE-capable catalog and no fallback_path given"
        )
    from .upsert import upsert

    # upsert dedups the batch itself (resolve_upsert / write_table)
    upsert(spark, source, fallback_path, keys, order_col, guard_cols,
           num_buckets=num_buckets, drop_null_key_rows=drop_null_key_rows,
           tiebreak=tiebreak)
    return "parquet"
