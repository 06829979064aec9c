"""Guarded keyed upsert — the reference's MERGE semantics on plain Spark.

Replicates SURVEY.md §2.2 K4-K6 (T-SQL ``MERGE ... WHEN MATCHED AND
(target.order < source.order OR any guard column changed) THEN UPDATE``,
``WHEN NOT MATCHED THEN INSERT``) as a pure DataFrame program:

1. dedup incoming batch by key (one of the three modes in ``dedup.py``);
2. full-outer join target vs source on the natural key;
3. per-row resolve: source wins iff target missing, target stale
   (``target.order_col < source.order_col``), or any guard column differs;
4. ETL-metadata carve-out: ``etl_created_at`` keeps the target's value on
   update; ``etl_updated_at`` is bumped to the batch time on every applied
   update (tiktok_shop_staging_loader.py:382-468).

Idempotence / replay-safety (SURVEY §2.8 ST3): re-applying a batch is a
no-op; an older order_col never regresses a newer row.

Scale note (100 TB): a naive full-outer join rewrites the whole table per
batch. ``upsert`` therefore hash-buckets the table by key and joins only
the buckets the batch touches (dynamic partition overwrite) — work
proportional to the batch's key spread, not table size. The
incremental batch is tiny relative to the table, so the join side of the
touched partitions is broadcast-eligible and AQE will pick that.
"""

from __future__ import annotations

import uuid
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fsops, index_store
from .dedup import drop_null_keys, keep_newest
from .lakehouse import SPARK_DIALECT, merge_matched_condition

ETL_COLS = ("etl_batch_id", "etl_created_at", "etl_updated_at", "etl_source")


def _bucket_expr(keys: Sequence[str], num_buckets: int) -> Column:
    return F.pmod(F.hash(*[F.col(k) for k in keys]), F.lit(num_buckets)).alias("__bucket")


_BUCKET_MARKER = "_bucket_count"


def _write_bucket_marker(
    table_path: str, num_buckets: int, spark: SparkSession | None = None
) -> None:
    fsops.write_text(f"{table_path}/{_BUCKET_MARKER}", str(num_buckets), spark)


def _read_bucket_marker(
    table_path: str, spark: SparkSession | None = None
) -> int | None:
    """The table's actual bucket count, recorded at creation. A caller
    upserting with a different num_buckets than the layout was written
    with would route batch keys to the wrong bucket partitions and
    silently DUPLICATE keys — the marker makes the layout authoritative,
    exactly like a lakehouse table's bucket spec living in its metadata
    rather than in every writer's config. Read/written through the
    Hadoop FileSystem API so the layout works on HDFS/S3A, not just
    local disk."""
    text = fsops.read_text(f"{table_path}/{_BUCKET_MARKER}", spark)
    try:
        return int(text.strip()) if text is not None else None
    except ValueError:
        return None


def write_table(
    spark: SparkSession,
    df: DataFrame,
    table_path: str,
    keys: Sequence[str],
    order_col: str,
    num_buckets: int = 64,
    drop_null_key_rows: bool = False,
    tiebreak: Sequence[str] = (),
) -> None:
    """Full-load (truncate+insert, K2) writer in the upsert-compatible
    hash-bucketed layout: dedup keep-newest, optional null-key drop (D5,
    MISA parity), bucket by key hash, overwrite."""
    out = keep_newest(df, keys, order_col, tiebreak)
    if drop_null_key_rows:
        out = drop_null_keys(out, keys)
    out = out.withColumn("__bucket", _bucket_expr(keys, num_buckets))
    out.write.partitionBy("__bucket").mode("overwrite").parquet(table_path)
    _write_bucket_marker(table_path, num_buckets, spark)
    # Derived index artifacts (IVF lists, cluster assignments, TF/basket
    # intermediates) are now stale — drop them eagerly. The fingerprint
    # keys in index_store already prevent stale READS; this reclaims the
    # persisted blocks and on-disk generations immediately.
    index_store.invalidate(table_path, spark)


def resolve_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    order_col: str,
    guard_cols: Sequence[str] = (),
    batch_time: Column | None = None,
    drop_null_key_rows: bool = False,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Pure (no I/O) MERGE resolve: returns the post-upsert table contents.

    Both inputs must share the same schema. ``guard_cols``: update also
    applies when target/source differ on any of these even if order_col
    ties (the reference's "status/tracking changed" OR-guard,
    tiktok_shop_staging_loader.py:382-404).

    ``drop_null_key_rows``: the MISA loader drops rows missing any key
    before load (misa_crm_loader.py:161-171); other sources keep them
    (itemless orders carry NULL item_id by design) — the key join here is
    null-safe, so replays still match.

    ``tiebreak``: extra columns completing the source's keep-newest total
    order. Without it, a batch holding two rows with the same key AND the
    same order_col picks the survivor nondeterministically — and replay
    idempotence (ST3) then fails in the guard-tie case, because a replay
    may pick the other row and the changed-guard clause applies it.
    Batches with a genuinely total (key, order) order don't need it;
    pytest's property suite (test_upsert_property.py) exercises the
    ambiguous case with it set.

    The join condition and the per-column projection are SQL text, so
    the driver hands Catalyst one plan in a handful of calls instead of
    building one Column per sub-expression.
    """
    cols = target.columns
    source = keep_newest(source, keys, order_col, tiebreak)
    if drop_null_key_rows:
        source = drop_null_keys(source, keys)

    q = SPARK_DIALECT.q
    on = " AND ".join(f"t.{q(k)} <=> s.{q(k)}" for k in keys)
    joined = target.alias("t").join(source.alias("s"), F.expr(on), "full_outer")
    if "etl_updated_at" in cols:
        # match the column's type (MISA/Shopee stamp +07 timestamp_ntz)
        stamp = F.current_timestamp() if batch_time is None else batch_time
        joined = joined.withColumn(
            "__batch_time", stamp.cast(target.schema["etl_updated_at"].dataType)
        )

    t_exists = f"t.{q(keys[0])} IS NOT NULL"
    s_exists = f"s.{q(keys[0])} IS NOT NULL"
    # The reference's OR-guard ("update_time newer OR status/tracking
    # changed", tiktok_shop_staging_loader.py:382-404) constrained by the
    # replay invariant (FIXTURES.md §5.4: an older record never overwrites
    # a newer one): the changed-columns guard only fires when the source is
    # not older — i.e. equal order_col but different guard values.
    guard = merge_matched_condition(order_col, guard_cols, tgt="t", src="s")
    update_applies = f"{s_exists} AND {t_exists} AND ({guard})"
    take_source = f"(t.{q(keys[0])} IS NULL AND {s_exists}) OR ({update_applies})"

    out_cols = []
    for c in cols:
        src, tgt = f"s.{q(c)}", f"t.{q(c)}"
        if c == "etl_created_at":
            # insert: source's; update: target's original creation time
            expr = f"CASE WHEN {t_exists} THEN {tgt} ELSE {src} END"
        elif c == "etl_updated_at":
            expr = (f"CASE WHEN {update_applies} THEN __batch_time "
                    f"WHEN {take_source} THEN {src} ELSE {tgt} END")
        else:
            expr = f"CASE WHEN {take_source} THEN {src} ELSE {tgt} END"
        out_cols.append(f"{expr} AS {q(c)}")
    return joined.selectExpr(*out_cols)


def _read_buckets(
    spark: SparkSession, table_path: str, buckets: Sequence[int]
) -> DataFrame | None:
    """The table's rows in ``buckets``, listing only those directories.

    ``spark.read.parquet(table_path)`` lists every bucket directory before
    the bucket filter prunes anything, and past Spark's 32-path threshold
    (``spark.sql.sources.parallelPartitionDiscovery.threshold``) that
    listing is a distributed job of one task per directory. Naming the
    bucket directories that exist, with ``basePath`` for partition
    discovery, lists only them — on the driver for up to 32. When none
    of ``buckets`` exists yet, one other directory supplies the schema
    and the filter reads nothing from it. None when the table has no
    bucket directory at all (a full load of zero rows)."""
    existing = {d for d in fsops.list_child_names(table_path, spark)
                if d.startswith("__bucket=")}
    if not existing:
        return None
    dirs = [d for d in (f"__bucket={b}" for b in buckets) if d in existing]
    paths = [f"{table_path}/{d}" for d in dirs or [min(existing)]]
    return (
        spark.read.option("basePath", table_path).parquet(*paths)
        .filter(F.col("__bucket").isin(list(buckets)))
    )


def _overwrite_buckets(spark: SparkSession, df: DataFrame, table_path: str) -> None:
    """Replace the bucket partitions ``df`` has rows for, in one write job;
    every other bucket keeps its files byte-identical.

    ``df`` may read the very buckets it replaces. Dynamic partition
    overwrite stages the job's output under
    ``table_path/.spark-staging-<job id>`` and swaps partitions only at
    job commit: after every task — and so every read of the old files —
    has finished, it deletes each written bucket directory and renames
    the staged one into place. A job that fails aborts before the swap,
    discards the staging directory and leaves the table as it was; a
    replay of the batch then converges (ST3)."""
    with_dyn = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        df.write.partitionBy("__bucket").mode("overwrite").parquet(table_path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", with_dyn)
    # The rewrite replaced files under paths the session may hold cached
    # listings for (FileStatusCache has no TTL by default) — invalidate,
    # or the next read of an overwritten bucket hits FILE_NOT_EXIST.
    spark.catalog.refreshByPath(table_path)
    # Dynamic partition overwrite leaves sibling dirs (incl. _index)
    # intact — stale derived artifacts must be dropped explicitly.
    index_store.invalidate(table_path, spark)


def upsert(
    spark: SparkSession,
    source: DataFrame,
    table_path: str,
    keys: Sequence[str],
    order_col: str,
    guard_cols: Sequence[str] = (),
    num_buckets: int = 64,
    drop_null_key_rows: bool = False,
    tiebreak: Sequence[str] = (),
) -> None:
    """Apply a guarded keyed upsert batch to a parquet table at ``table_path``.

    The table is stored hash-bucketed on the key (``bucket=pmod(hash(keys),
    num_buckets)`` as a partition column). Only the directories of buckets
    containing batch keys are listed, read and rewritten, in one write
    job, so per-batch work scales with batch size, not table size. At
    100 TB a second partition level (e.g. etl_date) would bound file
    counts further.
    """
    if not fsops.exists(table_path, spark):
        write_table(spark, source, table_path, keys, order_col, num_buckets,
                    drop_null_key_rows, tiebreak)
        return
    # The existing layout's bucket count wins over the caller's argument
    # (see _read_bucket_marker — a mismatch would silently duplicate keys).
    num_buckets = _read_bucket_marker(table_path, spark) or num_buckets
    source_b = source.withColumn("__bucket", _bucket_expr(keys, num_buckets))

    touched = [r["__bucket"] for r in source_b.select("__bucket").distinct().collect()]
    target = _read_buckets(spark, table_path, touched)
    if target is None:
        write_table(spark, source, table_path, keys, order_col, num_buckets,
                    drop_null_key_rows, tiebreak)
        return
    resolved = resolve_upsert(target, source_b, keys, order_col, guard_cols,
                              drop_null_key_rows=drop_null_key_rows,
                              tiebreak=tiebreak)
    _overwrite_buckets(spark, resolved, table_path)


def read_upsert_table(spark: SparkSession, table_path: str) -> DataFrame:
    df = spark.read.parquet(table_path)
    return df.drop("__bucket") if "__bucket" in df.columns else df


def compact_buckets(
    spark: SparkSession,
    table_path: str,
    max_files_per_bucket: int = 4,
) -> list[int]:
    """Small-file compaction for the bucketed table layout.

    Upsert batches do NOT accrete files (dynamic partition overwrite
    replaces the touched bucket wholesale); accretion comes from
    append-mode ingestion (K1) and multi-task bulk loads, where every
    append/task drops one more file into each bucket it touches — the
    classic small-file problem that at 100 TB degrades listing and task
    bookkeeping long before I/O. Compaction rewrites only buckets whose
    file count exceeds ``max_files_per_bucket`` down to one file per
    bucket, via the same dynamic-partition-overwrite path the upsert
    uses — slim buckets keep their files byte-identical.

    Returns the bucket ids compacted. Run it opportunistically (e.g.
    after a burst of appends), exactly like lakehouse OPTIMIZE."""
    bloated: list[int] = []
    for d in fsops.list_child_names(table_path, spark):
        if not d.startswith("__bucket="):
            continue
        n = fsops.count_files_with_suffix(
            f"{table_path}/{d}", ".parquet", spark
        )
        if n > max_files_per_bucket:
            bloated.append(int(d.split("=", 1)[1]))
    if not bloated:
        return bloated

    # One job reads the bloated buckets and writes their replacements;
    # _overwrite_buckets' commit-time swap makes that safe.
    target = _read_buckets(spark, table_path, bloated)
    _overwrite_buckets(spark, target.repartition("__bucket"), table_path)
    return bloated


def stamp_etl_metadata(
    df: DataFrame,
    source_name: str,
    batch_id: str | None = None,
    vn_naive: bool = False,
) -> DataFrame:
    """T12: add the ETL-metadata quartet (tiktok_shop_transformer.py:368-377).

    TikTok stamps UTC; MISA/Shopee stamp +07-naive at transform
    (misa_crm_transformer.py:41-60) — ``vn_naive`` selects the convention.
    """
    ts = F.current_timestamp()
    if vn_naive:
        ts = F.from_utc_timestamp(F.current_timestamp(), "Asia/Ho_Chi_Minh").cast(
            "timestamp_ntz"
        )
    return (
        df.withColumn("etl_batch_id", F.lit(batch_id or str(uuid.uuid4())))
        .withColumn("etl_created_at", ts)
        .withColumn("etl_updated_at", ts)
        .withColumn("etl_source", F.lit(source_name))
    )
