"""Guarded keyed upsert — the reference's MERGE semantics on plain Spark.

Replicates SURVEY.md §2.2 K4-K6 (T-SQL ``MERGE ... WHEN MATCHED AND
(target.order < source.order OR any guard column changed) THEN UPDATE``,
``WHEN NOT MATCHED THEN INSERT``) as a pure DataFrame program:

1. dedup incoming batch by key (one of the three modes in ``dedup.py``);
2. per key, fold the versions in batch order: a version wins iff the key
   is new, the current version is stale (``current.order_col <
   version.order_col``, or a NULL current order), or the order ties and
   a guard column differs;
3. ETL-metadata carve-out: ``etl_created_at`` keeps the first version's
   value on update; ``etl_updated_at`` is bumped to the batch time on
   every applied update (tiktok_shop_staging_loader.py:382-468).

``fold_versions`` is that fold, written once: ``resolve_upsert`` is the
fold of one batch, ``read_upsert_table`` the fold of the stored base and
its deltas, ``compact_buckets`` the fold written back into the base.

Idempotence / replay-safety (SURVEY §2.8 ST3): re-applying a batch is a
no-op; an older order_col never regresses a newer row.

Layout (merge-on-read)::

    _table            JSON: the table schema and bucket count, recorded
                      at creation so no read infers a schema and no
                      writer routes keys to the wrong bucket, and the
                      keys, order and guard columns the deltas fold with,
                      recorded by the upsert that writes the first delta
    __bucket=<n>/     the base: one row per key, hash-bucketed on the key
    .s=<seq>/         one delta per upsert batch: the batch's deduped rows
                      with ``__bucket``, ``__seq`` and ``__batch_time``,
                      one parquet file for a small batch; its ``_SUCCESS``
                      is the completeness marker, written last, and a
                      delta without one is invisible
    _compaction       a compaction's commit point, present while its swap
                      is unfinished: the staged buckets and the last seq
                      folded into them
    .compact/         the compaction's staged buckets

Spark's file index skips ``.``- and ``_``-prefixed names (``_`` unless
the name holds ``=``), so a raw ``spark.read.parquet(table)`` reads the
base only; ``read_upsert_table`` is the table.

Scale note: an upsert batch costs its own rows. It dedups the batch and
appends it as one delta: no read of the table, no join, no bucket
rewrite. A read folds base and live deltas in one aggregate over the key
(one shuffle); with no live delta it is a plain scan. Once a table holds
``COMPACT_AT`` live deltas, the upsert that wrote the last one folds them
into the buckets they touch, so the fold a reader pays stays bounded. At
100 TB the lakehouse MERGE (``operators/lakehouse.py``) is preferred:
the table format keeps file statistics and deletion vectors.
"""

from __future__ import annotations

import json
import uuid
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructType

from . import fsops, index_store
from .dedup import drop_null_keys, keep_newest
from .lakehouse import ETL_CREATED, ETL_UPDATED, SPARK_DIALECT, merge_matched_condition

ETL_COLS = ("etl_batch_id", "etl_created_at", "etl_updated_at", "etl_source")

# Live deltas at which an upsert folds them into the base. A read folds
# every live delta and a compaction rewrites every bucket they touch.
# Measured on the perfbench TikTok table (2,000 rows, 64 buckets, 18
# changes a batch, 4 cores): a read's fold costs 0.1-0.9 s CPU over the
# 2.1 s plain read whether 1 or 31 deltas are live, while a compaction
# costs 3.4-5.5 s (most buckets are touched by 8 batches). So the bound
# is the largest that keeps the deltas' listing on the driver: Spark
# lists more than 32 paths in a distributed job of one task per path
# (spark.sql.sources.parallelPartitionDiscovery.threshold).
COMPACT_AT = 32

q = SPARK_DIALECT.q

_META = "_table"
_COMMIT = "_compaction"
_STAGE = ".compact"
_SEQ = fsops.DELTA_PREFIX


def _bucket_sql(keys: Sequence[str], num_buckets: int) -> str:
    return f"pmod(hash({', '.join(q(k) for k in keys)}), {num_buckets})"


def _bucket_expr(keys: Sequence[str], num_buckets: int) -> Column:
    return F.expr(_bucket_sql(keys, num_buckets)).alias("__bucket")


def observe_rows(df: DataFrame) -> tuple[DataFrame, Callable[[], int]]:
    """``df`` with its row count observed, and a function returning that
    count. The count rides the first action on the returned frame
    (``DataFrame.observe``) and starts no job of its own; the function
    waits for that action. Only the first action counts, and a ``limit``
    or ``first()`` stops it early, so hand the frame to the one action
    that reads all of it."""
    seen = Observation()
    return df.observe(seen, F.count(F.lit(1)).alias("rows")), lambda: seen.get["rows"]


def _read_json(spark: SparkSession, path: str) -> dict | None:
    text = fsops.read_text(path, spark)
    return json.loads(text) if text else None


def _write_meta(spark: SparkSession, table_path: str, schema: StructType,
                num_buckets: int, merge: dict | None = None) -> None:
    meta = {"schema": schema.jsonValue(), "num_buckets": num_buckets}
    if merge is not None:
        meta["merge"] = merge
    # atomic: an upsert may rewrite it, and every read needs it whole
    fsops.write_text_atomic(f"{table_path}/{_META}", json.dumps(meta), spark)


def _merge_spec(keys: Sequence[str], order_col: str, guard_cols: Sequence[str]) -> dict:
    return {"keys": list(keys), "order_col": order_col, "guard_cols": list(guard_cols)}


def _table_meta(
    spark: SparkSession, table_path: str
) -> tuple[StructType, int | None, dict | None]:
    """The table schema (``__bucket`` included), bucket count and merge
    spec recorded in ``_table``, read through the Hadoop FileSystem API.

    The recorded bucket count wins over an upserting caller's: a batch
    bucketed with another count would route keys to the wrong bucket
    partitions and silently DUPLICATE them, so the layout is
    authoritative, like a lakehouse table's bucket spec living in its
    metadata rather than in every writer's config. A table without the
    record (plain appends, or written before it existed) has its schema
    inferred and its count read from the older ``_bucket_count`` marker."""
    meta = _read_json(spark, f"{table_path}/{_META}")
    if meta is None:
        text = fsops.read_text(f"{table_path}/_bucket_count", spark)
        count = int(text) if text and text.strip().isdigit() else None
        return spark.read.parquet(table_path).schema, count, None
    return StructType.fromJson(meta["schema"]), meta["num_buckets"], meta.get("merge")


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
    MISA parity), bucket by key hash, overwrite, and record the schema
    and bucket count in ``_table``. The overwrite removes any deltas and
    compaction state with the old base."""
    out = keep_newest(df, keys, order_col, tiebreak)
    if drop_null_key_rows:
        out = drop_null_keys(out, keys)
    out = out.withColumn("__bucket", _bucket_expr(keys, num_buckets))
    out.write.partitionBy("__bucket").mode("overwrite").parquet(table_path)
    _write_meta(spark, table_path, out.schema, num_buckets)
    # Derived index artifacts (IVF lists, cluster assignments, TF/basket
    # intermediates) are now stale — drop them eagerly. The fingerprint
    # keys in index_store already prevent stale READS; this reclaims the
    # persisted blocks and on-disk generations immediately.
    index_store.invalidate(table_path, spark)


def fold_versions(
    base: DataFrame,
    deltas: DataFrame,
    keys: Sequence[str],
    order_col: str,
    guard_cols: Sequence[str] = (),
) -> DataFrame:
    """The guarded MERGE of ``deltas`` into ``base``: an exact left fold
    per key, in ``__seq`` order, of ``merge_matched_condition``.

    ``base`` holds at most one row per key (null-safe: NULL key values
    match each other, like the MERGE's ``<=>`` join). ``deltas`` holds the
    base's columns plus ``__seq`` (> 0, at most one row per key and seq)
    and, when the table has ``etl_updated_at``, ``__batch_time`` of the
    same type. Returns ``base``'s columns. A key's first version is its
    base row, or else its first delta row taken as an insert. Each later
    version replaces the current one when the guard applies, keeping the
    current ``etl_created_at`` and stamping ``etl_updated_at`` with the
    version's ``__batch_time``.

    One SQL aggregate over the union: ``collect_list`` of each key's
    versions, sorted by ``__seq``, folded with ``aggregate`` — one shuffle
    on the key, no join."""
    cols = base.columns
    fields = ["__seq", *(["__batch_time"] if "__batch_time" in deltas.columns else []), *cols]
    versions = base.selectExpr(*map(q, cols), "0 AS __seq").unionByName(
        deltas.select(*fields), allowMissingColumns=True)
    if ETL_CREATED in cols or ETL_UPDATED in cols:
        def value(f):
            return {ETL_CREATED: f"acc.{q(f)}", ETL_UPDATED: "x.__batch_time"}.get(f, f"x.{q(f)}")
        updated = f"struct({', '.join(f'{value(f)} AS {q(f)}' for f in fields)})"
    else:
        updated = "x"
    guard = merge_matched_condition(order_col, guard_cols, tgt="acc", src="x")
    by_seq = ("(a, b) -> CASE WHEN a.__seq < b.__seq THEN -1 "
              "WHEN a.__seq > b.__seq THEN 1 ELSE 0 END")
    history = f"array_sort(collect_list(struct({', '.join(map(q, fields))})), {by_seq})"
    return (
        versions.groupBy(*keys)
        .agg(F.expr(history).alias("__v"))
        .selectExpr(f"aggregate(slice(__v, 2, size(__v)), __v[0], "
                    f"(acc, x) -> IF({guard}, {updated}, acc)) AS __r")
        .selectExpr(*[f"__r.{q(c)} AS {q(c)}" for c in cols])
    )


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
    """Pure (no I/O) MERGE resolve: returns the post-upsert table contents,
    ``fold_versions`` of the deduped ``source`` as one delta.

    Both inputs must share the same schema. ``guard_cols``: update also
    applies when target/source differ on any of these even if order_col
    ties (the reference's "status/tracking changed" OR-guard,
    tiktok_shop_staging_loader.py:382-404).

    ``drop_null_key_rows``: the MISA loader drops rows missing any key
    before load (misa_crm_loader.py:161-171); other sources keep them
    (itemless orders carry NULL item_id by design) — the key match here
    is null-safe, so replays still match.

    ``tiebreak``: extra columns completing the source's keep-newest total
    order. Without it, a batch holding two rows with the same key AND the
    same order_col picks the survivor nondeterministically — and replay
    idempotence (ST3) then fails in the guard-tie case, because a replay
    may pick the other row and the changed-guard clause applies it.
    Batches with a genuinely total (key, order) order don't need it;
    pytest's property suite (test_upsert_property.py) exercises the
    ambiguous case with it set.
    """
    source = keep_newest(source, keys, order_col, tiebreak)
    if drop_null_key_rows:
        source = drop_null_keys(source, keys)
    delta = {"__seq": F.lit(1)}
    if ETL_UPDATED in target.columns:
        # match the column's type (MISA/Shopee stamp +07 timestamp_ntz)
        stamp = F.current_timestamp() if batch_time is None else batch_time
        delta["__batch_time"] = stamp.cast(target.schema[ETL_UPDATED].dataType)
    return fold_versions(target, source.withColumns(delta), keys, order_col, guard_cols)


def bucket_dirs(spark: SparkSession, table_path: str) -> set[str]:
    """Names of the table's ``__bucket=<n>`` directories — none after a
    full load of zero rows, which writes no partition."""
    return {d for d in fsops.list_child_names(table_path, spark)
            if d.startswith("__bucket=")}


def _seq_dir(table_path: str, seq: int) -> str:
    return f"{table_path}/{_SEQ}{seq}"


def _live_seqs(spark: SparkSession, table_path: str, after: int = 0) -> list[int]:
    """Seqs of the complete deltas above ``after``, ascending."""
    names = fsops.glob_parent_names(f"{table_path}/{_SEQ}*/_SUCCESS", spark)
    return sorted(s for s in (int(n[len(_SEQ):]) for n in names) if s > after)


def _delta_schema(schema: StructType) -> StructType:
    out = StructType(list(schema.fields)).add("__seq", IntegerType())
    if ETL_UPDATED in schema.fieldNames():
        out = out.add("__batch_time", schema[ETL_UPDATED].dataType)
    return out


def _read_deltas(
    spark: SparkSession, table_path: str, schema: StructType, seqs: Sequence[int]
) -> DataFrame:
    return spark.read.schema(_delta_schema(schema)).parquet(
        *[_seq_dir(table_path, s) for s in seqs])


def _read_base(
    spark: SparkSession,
    table_path: str,
    schema: StructType,
    pending: dict | None = None,
    buckets: Sequence[int] | None = None,
) -> DataFrame:
    """The base rows, of ``buckets`` only when given.

    The whole base, with no compaction swap in progress, is a read of the
    table root. A list of buckets names their directories, with
    ``basePath`` for partition discovery: a read of the root lists every
    bucket before the bucket filter prunes any, and past Spark's 32-path
    threshold (``spark.sql.sources.parallelPartitionDiscovery.threshold``)
    that listing is a distributed job of one task per directory. During
    an unfinished swap (``pending``) a bucket whose staged copy is still
    in ``.compact`` reads that copy: the swap may already have deleted
    the bucket's old directory."""
    reader = spark.read.schema(schema)
    staged = _staged(spark, table_path) if pending else set()
    if buckets is None and not staged:
        return reader.parquet(table_path)
    final = bucket_dirs(spark, table_path)
    want = final | staged if buckets is None else {f"__bucket={b}" for b in buckets}
    parts = [
        reader.option("basePath", root).parquet(*[f"{root}/{d}" for d in sorted(dirs)])
        for root, dirs in ((table_path, want & final - staged),
                           (f"{table_path}/{_STAGE}", want & staged)) if dirs
    ]
    if not parts:
        return spark.createDataFrame([], schema)
    return parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])


def _staged(spark: SparkSession, table_path: str) -> set[str]:
    stage = f"{table_path}/{_STAGE}"
    return bucket_dirs(spark, stage) if fsops.exists(stage, spark) else set()


def _overwrite_buckets(
    spark: SparkSession, df: DataFrame, table_path: str, upto: int = 0
) -> None:
    """Replace the bucket partitions ``df`` has rows for; every other
    bucket keeps its files byte-identical. ``upto``: the last delta seq
    folded into ``df``, dropped once the swap is done.

    ``df`` may read the very buckets it replaces. One job writes its
    buckets to ``.compact``; a job that fails leaves the table as it was.
    Then the commit point, ``_compaction``, records the staged buckets
    and ``upto``, and the swap deletes each old bucket directory and
    renames the staged one into place. A process that stops inside the
    swap leaves the commit point behind: readers take the staged copy of
    each bucket not yet swapped, and the next writer finishes the swap
    (``_finish_swap``), so a re-run or a replayed batch converges (ST3)."""
    stage = f"{table_path}/{_STAGE}"
    try:
        df.write.partitionBy("__bucket").mode("overwrite").parquet(stage)
    except Exception:
        fsops.delete(stage, spark)
        raise
    commit = {"upto": upto, "buckets": sorted(bucket_dirs(spark, stage))}
    fsops.write_text_atomic(f"{table_path}/{_COMMIT}", json.dumps(commit), spark)
    _finish_swap(spark, table_path, commit)


def _finish_swap(spark: SparkSession, table_path: str, commit: dict) -> None:
    """Complete a committed swap; every step can run again."""
    stage = f"{table_path}/{_STAGE}"
    for d in sorted(_staged(spark, table_path) & set(commit["buckets"])):
        fsops.delete(f"{table_path}/{d}", spark)
        fsops.rename(f"{stage}/{d}", f"{table_path}/{d}", spark)
    for name in fsops.list_child_names(table_path, spark):
        if name.startswith(_SEQ) and int(name[len(_SEQ):]) <= commit["upto"]:
            fsops.delete(f"{table_path}/{name}", spark)
    fsops.delete(stage, spark)
    fsops.delete(f"{table_path}/{_COMMIT}", spark)
    # The swap replaced files under paths the session may hold cached
    # listings for (FileStatusCache has no TTL by default) — invalidate,
    # or the next read of a swapped bucket hits FILE_NOT_EXIST.
    spark.catalog.refreshByPath(table_path)
    index_store.invalidate(table_path, spark)


def _recover(spark: SparkSession, table_path: str) -> None:
    """Finish a swap a stopped compaction left behind."""
    commit = _read_json(spark, f"{table_path}/{_COMMIT}")
    if commit is not None:
        _finish_swap(spark, table_path, commit)


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
    """Apply a guarded keyed upsert batch to the table at ``table_path``.

    The batch is deduped keep-newest, bucketed, and written as the next
    delta (``.s=<seq>``) with its seq and batch time: no read of the
    table, no join, no bucket rewrite. The batch that brings the live
    deltas to ``COMPACT_AT`` then folds them into the buckets
    (``compact_buckets``). A first batch into a missing table is a full
    load (``write_table``).

    A batch with no rows to write is a no-op: it leaves no live delta,
    and into a missing table it creates no table. That is found on the
    write itself (an empty delta is deleted, an empty full load removed),
    so the batch is not counted in a job of its own."""
    if not fsops.exists(table_path, spark):
        write_table(spark, source, table_path, keys, order_col, num_buckets,
                    drop_null_key_rows, tiebreak)
        if not bucket_dirs(spark, table_path):
            fsops.delete(table_path, spark)
        return
    _recover(spark, table_path)
    # the table's recorded bucket count wins over the argument (_table_meta)
    schema, recorded, merge = _table_meta(spark, table_path)
    num_buckets = recorded or num_buckets
    seqs = _live_seqs(spark, table_path)
    spec = _merge_spec(keys, order_col, guard_cols)
    if merge != spec:
        if seqs:  # the live deltas fold under the spec they were written with
            compact_buckets(spark, table_path)
            seqs = []
        _write_meta(spark, table_path, schema, num_buckets, spec)
    seq = (seqs[-1] if seqs else 0) + 1

    rows = keep_newest(source, keys, order_col, tiebreak)
    if drop_null_key_rows:
        rows = drop_null_keys(rows, keys)
    types = dict(rows.dtypes)
    cols = [
        q(f.name) if types.get(f.name) == f.dataType.simpleString()
        else f"CAST({q(f.name)} AS {f.dataType.simpleString()}) AS {q(f.name)}"
        for f in schema.fields if f.name != "__bucket"
    ]
    cols += [f"{_bucket_sql(keys, num_buckets)} AS __bucket", f"{seq} AS __seq"]
    if ETL_UPDATED in schema.fieldNames():
        cols.append(f"CAST(current_timestamp() AS "
                    f"{schema[ETL_UPDATED].dataType.simpleString()}) AS __batch_time")
    path = _seq_dir(table_path, seq)
    delta, written = observe_rows(rows.selectExpr(*cols))
    try:
        # _SUCCESS, written by the job commit after every data file, is
        # the delta's completeness marker: pin it on for this write
        delta.write.mode("overwrite").option(
            "mapreduce.fileoutputcommitter.marksuccessfuljobs", "true").parquet(path)
    except Exception:
        fsops.delete(path, spark)
        raise
    if not written():
        fsops.delete(path, spark)
        return
    if len(seqs) + 1 >= COMPACT_AT:
        compact_buckets(spark, table_path)
    else:
        index_store.invalidate(table_path, spark)


def read_upsert_table(spark: SparkSession, table_path: str) -> DataFrame:
    """The table's rows: the base folded with its live deltas, read with
    the recorded schema. With no live delta this is a scan of the base."""
    schema, _, merge = _table_meta(spark, table_path)
    commit = _read_json(spark, f"{table_path}/{_COMMIT}")
    df = _read_base(spark, table_path, schema, commit)
    seqs = _live_seqs(spark, table_path, commit["upto"] if commit else 0)
    if seqs:
        df = fold_versions(df, _read_deltas(spark, table_path, schema, seqs), **merge)
    return df.drop("__bucket")


def compact_buckets(
    spark: SparkSession,
    table_path: str,
    max_files_per_bucket: int = 4,
) -> list[int]:
    """Fold the live deltas into the buckets they touch, and rewrite
    buckets holding more than ``max_files_per_bucket`` files as one file
    each, through ``_overwrite_buckets``' swap. Untouched slim buckets
    keep their files byte-identical.

    File accretion comes from append-mode ingestion (K1) and multi-task
    bulk loads, where every append/task drops one more file into each
    bucket it touches — the classic small-file problem that at 100 TB
    degrades listing and task bookkeeping long before I/O. ``upsert``
    runs this itself every ``COMPACT_AT`` deltas; run it after a burst
    of appends, exactly like lakehouse OPTIMIZE.

    Returns the bucket ids rewritten."""
    _recover(spark, table_path)
    seqs = _live_seqs(spark, table_path)
    bloated = {
        int(d.split("=", 1)[1]) for d in bucket_dirs(spark, table_path)
        if fsops.count_files_with_suffix(f"{table_path}/{d}", ".parquet", spark)
        > max_files_per_bucket
    }
    if not (seqs or bloated):
        return []
    schema, _, merge = _table_meta(spark, table_path)
    touched: set[int] = set()
    if seqs:
        deltas = _read_deltas(spark, table_path, schema, seqs)
        touched = {r[0] for r in deltas.select("__bucket").distinct().collect()}
    rewrite = sorted(bloated | touched)
    out = _read_base(spark, table_path, schema, buckets=rewrite)
    if seqs:
        out = fold_versions(out, deltas, **merge)
    # One job reads the buckets and writes their replacements;
    # _overwrite_buckets' staged swap makes that safe.
    _overwrite_buckets(spark, out.repartition("__bucket"), table_path,
                       seqs[-1] if seqs else 0)
    return rewrite


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
    return df.withColumns({
        "etl_batch_id": F.lit(batch_id or str(uuid.uuid4())),
        "etl_created_at": ts,
        "etl_updated_at": ts,
        "etl_source": F.lit(source_name),
    })
