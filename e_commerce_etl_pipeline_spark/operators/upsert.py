"""Guarded keyed upsert — the reference's MERGE semantics on plain Spark.

Replicates SURVEY.md §2.2 K4-K6 (T-SQL ``MERGE ... WHEN MATCHED AND
(target.order < source.order OR any guard column changed) THEN UPDATE``,
``WHEN NOT MATCHED THEN INSERT``) as a pure DataFrame program:

1. per key and batch, keep the newest row (``dedup.keep_newest``'s
   pick, made inside the fold);
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

    _table            JSON, the table's one commit point, replaced
                      atomically: the table schema and bucket count,
                      recorded at creation so no read infers a schema and
                      no writer routes keys to the wrong bucket; each
                      bucket's live base generation (``base``) and the
                      last delta seq folded into the base (``upto``); and
                      the keys, order, guard and tiebreak columns the
                      deltas fold with, recorded by the upsert that
                      writes the first delta
    __bucket=<n>/__g=<gen>/
                      the base: one row per key, hash-bucketed on the
                      key; only the generation ``_table`` names is read
    .s=<seq>/         one delta per upsert batch: the batch's rows as
                      offered (any number per key; the fold keeps the
                      newest), cast to the table schema, with
                      ``__bucket``, ``__seq`` and ``__batch_time``, one
                      parquet file for a small batch; its ``_SUCCESS``
                      is the completeness marker, written last, and a
                      delta without one, or at or below ``upto``, is
                      invisible

An upsert or compaction stopped at any point leaves the old ``_table``
or the new one, and each names only complete files; a full load
truncates the table first, so one stopped before it wrote ``_table``
leaves a directory that raises until the load is re-run. Spark's file
index skips ``.``- and ``_``-prefixed names (``_`` unless the name holds
``=``), so a raw ``spark.read.parquet(table)`` reads the base only, with
``__g`` as one more partition column (and any generation a stopped
compaction left, until the next one deletes it); ``read_upsert_table``
is the table.

Scale note: an upsert batch costs its own rows. It appends them as one
delta, in one narrow job (scan, project, write) when Spark can size the
batch: no read of the table, no join, no shuffle, no bucket rewrite. A
read folds base and live deltas in one aggregate over the key (one
shuffle); with no live delta it is a plain scan. Once a table holds
``COMPACT_AT`` live deltas, the upsert that wrote the last one folds them
into the buckets they touch, so the fold a reader pays stays bounded. A
new table's bucket count is sized from its first load, one bucket per
``BUCKET_TARGET_BYTES`` of estimated input up to ``MAX_BUCKETS``, so a
small table is one; a large one passes its own count. At
100 TB the lakehouse MERGE (``operators/lakehouse.py``) is preferred:
the table format keeps file statistics and deletion vectors.
"""

from __future__ import annotations

import json
import uuid
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    CalendarIntervalType,
    DataType,
    IntegerType,
    MapType,
    StructType,
    VariantType,
)

from . import fsops, index_store
from .dedup import drop_null_keys, keep_newest
from .lakehouse import (
    ETL_CREATED,
    ETL_UPDATED,
    SPARK_DIALECT,
    batch_stamp,
    merge_matched_condition,
)

ETL_COLS = ("etl_batch_id", "etl_created_at", "etl_updated_at", "etl_source")

# Live deltas at which an upsert folds them into the base. A read folds
# every live delta and a compaction rewrites every bucket they touch.
# Measured in-process on the perfbench TikTok table (1,984 rows sized to
# one bucket, 18 changes a batch, 4 cores): a read costs 0.12-0.14 s CPU
# with no live delta and 0.4-0.8 s whether 1 or 31 are live, while the
# compacting batch costs 3.2 s against 0.5-0.7 s for an appending one.
# So the bound is the largest that keeps the deltas' listing on the
# driver: Spark lists more than 32 paths in a distributed job of one
# task per path (spark.sql.sources.parallelPartitionDiscovery.threshold).
COMPACT_AT = 32

# Estimated input bytes per bucket when write_table sizes a new table,
# and per write task of an upsert's delta: one scan split (the
# spark.sql.files.maxPartitionBytes default). A bucket that fits a split
# is read by one task and compacted into one file, so the bucketing adds
# no task a plain parquet table of that size would not run, and a table
# below the target is one bucket: one file, and one directory for a read
# to list on the driver. The estimate is of the input's plan (a JSON
# source's text bytes), so it overstates parquet.
BUCKET_TARGET_BYTES = 128 * 1024 * 1024
# The most buckets the sizing gives (the fixed count it replaced), and
# the most write tasks an upsert's delta takes from an estimate. An
# estimate is not a measurement: a plan Spark cannot size reports
# spark.sql.defaultSizeInBytes, a projection over it scales that down
# only a little, and a join multiplies its inputs' sizes.
MAX_BUCKETS = 64

# Files a bucket's live generation may hold before ``compact_buckets``
# rewrites it as one file.
MAX_FILES_PER_BUCKET = 4

q = SPARK_DIALECT.q

_META = "_table"
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


def _write_meta(spark: SparkSession, table_path: str, meta: dict) -> None:
    # atomic: it commits every change of the base or merge spec, and
    # every read needs it whole
    fsops.write_text_atomic(f"{table_path}/{_META}", json.dumps(meta), spark)


def _merge_spec(keys: Sequence[str], order_col: str, guard_cols: Sequence[str],
                tiebreak: Sequence[str]) -> dict:
    return {"keys": list(keys), "order_col": order_col, "guard_cols": list(guard_cols),
            "tiebreak": list(tiebreak)}


def _table_meta(spark: SparkSession, table_path: str) -> tuple[StructType, dict]:
    """The table schema (``__bucket`` included) and the whole ``_table``
    record, read through the Hadoop FileSystem API.

    The recorded bucket count wins over an upserting caller's: a batch
    bucketed with another count would route keys to the wrong bucket
    partitions and silently DUPLICATE them, so the layout is
    authoritative, like a lakehouse table's bucket spec living in its
    metadata rather than in every writer's config. A directory without
    the record was not written by ``write_table``; routing into it would
    guess the count, so it raises. So does a record without ``base``:
    its table was written in the layout before base generations."""
    meta = _read_json(spark, f"{table_path}/{_META}")
    if meta is None:
        raise FileNotFoundError(
            f"{table_path} has no {_META} record: not a table written by write_table")
    if "base" not in meta:
        raise FileNotFoundError(
            f"{table_path}/{_META} names no base generation: the table was written in an "
            "older layout; re-run its full load")
    return StructType.fromJson(meta["schema"]), meta


def _estimate(df: DataFrame) -> int:
    """The optimizer's size estimate of ``df``'s plan, in bytes (no job)."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def _per_target(estimate: int) -> int:
    """One per ``BUCKET_TARGET_BYTES`` of ``estimate``, at least one and
    at most ``MAX_BUCKETS``."""
    return max(1, min(MAX_BUCKETS, -(-estimate // BUCKET_TARGET_BYTES)))


def _sized_buckets(df: DataFrame) -> int:
    """The bucket count for a new table holding ``df``: ``_per_target``
    of its estimate, so a plan Spark cannot size gets ``MAX_BUCKETS``."""
    return _per_target(_estimate(df))


def _delta_layout(df: DataFrame) -> DataFrame:
    """``df`` partitioned for its delta write (no job). An estimate of at
    most ``MAX_BUCKETS`` targets is coalesced to ``_per_target`` of it:
    narrow, so the write stays one stage. A larger estimate is not
    trusted, and it is what every plan Spark cannot size gives (rows from
    a Python list or an RDD): the write rebalances, and AQE sizes its
    partitions from the bytes the shuffle measures."""
    estimate = _estimate(df)
    if estimate > MAX_BUCKETS * BUCKET_TARGET_BYTES:
        return df.hint("rebalance")
    return df.coalesce(_per_target(estimate))


def write_table(
    spark: SparkSession,
    df: DataFrame,
    table_path: str,
    keys: Sequence[str],
    order_col: str,
    num_buckets: int | None = None,
    drop_null_key_rows: bool = False,
    tiebreak: Sequence[str] = (),
) -> None:
    """Full-load (truncate+insert, K2) writer in the upsert-compatible
    hash-bucketed layout: dedup keep-newest, optional null-key drop (D5,
    MISA parity), bucket by key hash, overwrite as base generation 0,
    and record the schema, bucket count and written buckets in
    ``_table``. The overwrite removes any deltas and generations with the
    old base.

    ``num_buckets`` defaults to ``_sized_buckets(df)``, so a small load
    is one bucket. The table keeps the count: one that grows is not
    re-bucketed."""
    if num_buckets is None:
        num_buckets = _sized_buckets(df)
    out = keep_newest(df, keys, order_col, tiebreak)
    if drop_null_key_rows:
        out = drop_null_keys(out, keys)
    out = out.withColumn("__bucket", _bucket_expr(keys, num_buckets))
    (out.withColumn("__g", F.lit(0))
     .write.partitionBy("__bucket", "__g").mode("overwrite").parquet(table_path))
    written = fsops.glob_parent_names(f"{table_path}/__bucket=*/__g=0", spark)
    _write_meta(spark, table_path, {
        "schema": out.schema.jsonValue(), "num_buckets": num_buckets,
        "base": {d.split("=", 1)[1]: 0 for d in written}, "upto": 0})
    # Derived index artifacts (IVF lists, cluster assignments, TF/basket
    # intermediates) are now stale — drop them eagerly. The fingerprint
    # keys in index_store already prevent stale READS; this reclaims the
    # persisted blocks and on-disk generations immediately.
    index_store.invalidate(table_path, spark)


def _orderable(t: DataType) -> bool:
    """Whether Spark can compare values of ``t``: no map, variant or
    interval inside it."""
    if isinstance(t, StructType):
        return all(_orderable(f.dataType) for f in t.fields)
    if isinstance(t, ArrayType):
        return _orderable(t.elementType)
    return not isinstance(t, (MapType, VariantType, CalendarIntervalType))


def fold_versions(
    base: DataFrame,
    deltas: DataFrame,
    keys: Sequence[str],
    order_col: str,
    guard_cols: Sequence[str] = (),
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """The guarded MERGE of ``deltas`` into ``base``: per key, each
    ``__seq``'s newest row, then an exact left fold of
    ``merge_matched_condition`` over them in ``__seq`` order.

    ``base`` holds at most one row per key (null-safe: NULL key values
    match each other, like the MERGE's ``<=>`` join). ``deltas`` holds the
    base's columns plus ``__seq`` (> 0, any number of rows per key and
    seq) and, when the table has ``etl_updated_at``, ``__batch_time`` of
    the same type. Returns ``base``'s columns. Of a key's rows in one
    seq, the fold takes the last in ``(order_col, *tiebreak)`` order with
    NULLs lowest: ``keep_newest``'s pick (``tiebreak``: columns of
    ``base``). Rows tied on those are ordered by their remaining
    columns (those Spark can compare), so every read and compaction of
    the same files picks the same row. A key's first version is its
    base row, or else its first kept delta row taken as an insert. Each
    later version replaces the current one when the guard applies,
    keeping the current ``etl_created_at`` and stamping
    ``etl_updated_at`` with the version's ``__batch_time``.

    One SQL aggregate over the union: ``collect_list`` of each key's
    versions, sorted by ``(__seq, order_col, *tiebreak)``, filtered to
    the last of each seq, folded with ``aggregate`` — one shuffle on the
    key, no join."""
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
    # Rows equal on the sort columns are ordered by their other columns,
    # so the pick depends on the stored rows, not on the order the
    # shuffle fetched a multi-file delta in. Whole rows compare with the
    # shortest lambda (it is analyzed on every read); a column Spark
    # cannot compare is left out.
    types = dict(zip(versions.columns, (f.dataType for f in versions.schema.fields)))
    comparable = [f for f in fields if _orderable(types[f])]
    a, b = ("a", "b") if len(comparable) == len(fields) else (
        f"struct({', '.join(f'{v}.{q(f)}' for f in comparable)})" for v in "ab")
    cmp = f"CASE WHEN {a} < {b} THEN -1 WHEN {a} > {b} THEN 1 ELSE 0 END"
    for f in reversed(["__seq", order_col, *tiebreak]):  # ascending, NULLs lowest
        a, b = f"a.{q(f)}", f"b.{q(f)}"
        cmp = f"CASE WHEN {a} <=> {b} THEN {cmp} WHEN {a} IS NULL OR {a} < {b} THEN -1 ELSE 1 END"
    history = f"array_sort(collect_list(struct({', '.join(map(q, fields))})), (a, b) -> {cmp})"
    # a row is its seq's newest when the next row is of another seq
    newest = "filter(__v, (x, i) -> NOT (try_element_at(__v, i + 2).__seq <=> x.__seq))"
    return (
        versions.groupBy(*keys)
        .agg(F.expr(history).alias("__v"))
        .selectExpr(f"{newest} AS __v")
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
    ``fold_versions`` of ``source`` as one delta, which keeps each key's
    newest source row.

    Both inputs must share the same schema. ``guard_cols``: update also
    applies when target/source differ on any of these even if order_col
    ties (the reference's "status/tracking changed" OR-guard,
    tiktok_shop_staging_loader.py:382-404).

    ``drop_null_key_rows``: the MISA loader drops rows missing any key
    before load (misa_crm_loader.py:161-171); other sources keep them
    (itemless orders carry NULL item_id by design) — the key match here
    is null-safe, so replays still match.

    ``batch_time``: the ``etl_updated_at`` an applied update sets;
    ``batch_stamp`` of the column's type by default.

    ``tiebreak``: extra columns of the table completing the source's
    keep-newest total order. Without it, a batch holding two rows with
    the same key AND the same order_col picks the survivor
    nondeterministically — and replay idempotence (ST3) then fails in
    the guard-tie case, because a replay may pick the other row and the
    changed-guard clause applies it.
    Batches with a genuinely total (key, order) order don't need it;
    pytest's property suite (test_upsert_property.py) exercises the
    ambiguous case with it set.
    """
    if drop_null_key_rows:
        source = drop_null_keys(source, keys)
    delta = {"__seq": F.lit(1)}
    if ETL_UPDATED in target.columns:
        kind = target.schema[ETL_UPDATED].dataType
        stamp = F.expr(batch_stamp(kind.simpleString())) if batch_time is None else batch_time
        delta["__batch_time"] = stamp.cast(kind)
    return fold_versions(target, source.withColumns(delta), keys, order_col, guard_cols,
                         tiebreak)


def _gen_dir(table_path: str, bucket: int | str, gen: int) -> str:
    return f"{table_path}/__bucket={bucket}/__g={gen}"


def _seq_dir(table_path: str, seq: int) -> str:
    return f"{table_path}/{_SEQ}{seq}"


def _live_seqs(spark: SparkSession, table_path: str, upto: int) -> list[int]:
    """Seqs of the complete deltas above ``upto``, ascending."""
    names = fsops.glob_parent_names(f"{table_path}/{_SEQ}*/_SUCCESS", spark)
    return sorted(s for s in (int(n[len(_SEQ):]) for n in names) if s > upto)


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
    meta: dict,
    buckets: Sequence[int] | None = None,
) -> DataFrame:
    """The base rows, of ``buckets`` only when given: the generation
    ``_table`` names for each bucket, read by naming its directory, with
    ``basePath`` for partition discovery. A generation no committed
    ``_table`` names is never read. Past Spark's 32-path threshold
    (``spark.sql.sources.parallelPartitionDiscovery.threshold``) the
    listing is a distributed job of one task per directory, so a
    compaction names only the buckets it rewrites."""
    paths = [_gen_dir(table_path, b, g) for b, g in meta["base"].items()
             if buckets is None or int(b) in buckets]
    if not paths:
        return spark.createDataFrame([], schema)
    return (spark.read.schema(schema).option("basePath", table_path)
            .parquet(*paths).drop("__g"))


def upsert(
    spark: SparkSession,
    source: DataFrame,
    table_path: str,
    keys: Sequence[str],
    order_col: str,
    guard_cols: Sequence[str] = (),
    num_buckets: int | None = None,
    drop_null_key_rows: bool = False,
    tiebreak: Sequence[str] = (),
) -> None:
    """Apply a guarded keyed upsert batch to the table at ``table_path``.

    The batch's rows, cast to the table schema and bucketed, are written
    as the next delta (``.s=<seq>``) with its seq and batch time: no read
    of the table, no join, no bucket rewrite. A key's newest row in the
    batch is picked by the fold (``fold_versions``), not before the
    write. A batch Spark can size below ``MAX_BUCKETS`` targets is
    written in one narrow job; any other is rebalanced first
    (``_delta_layout``). The batch that brings the live deltas to
    ``COMPACT_AT`` then folds them into the buckets
    (``compact_buckets``). A first batch into a missing table is a full
    load (``write_table``), bucketed by ``num_buckets`` or, without it,
    sized from the batch; into an existing table the batch takes the
    table's recorded count, whatever ``num_buckets`` says.

    A batch with no rows to write is a no-op: it leaves no live delta,
    and into a missing table it creates no table. That is found on the
    write itself (an empty delta is deleted, an empty full load removed),
    so the batch is not counted in a job of its own."""
    if not fsops.exists(table_path, spark):
        write_table(spark, source, table_path, keys, order_col, num_buckets,
                    drop_null_key_rows, tiebreak)
        if not _table_meta(spark, table_path)[1]["base"]:
            fsops.delete(table_path, spark)
        return
    schema, meta = _table_meta(spark, table_path)
    seqs = _live_seqs(spark, table_path, meta["upto"])
    spec = _merge_spec(keys, order_col, guard_cols, tiebreak)
    if meta.get("merge") != spec:
        if seqs:  # the live deltas fold under the spec they were written with
            compact_buckets(spark, table_path)
            schema, meta = _table_meta(spark, table_path)
            seqs = []
        _write_meta(spark, table_path, {**meta, "merge": spec})
    # above upto: a folded delta a stopped compaction left is never reused
    seq = (seqs[-1] if seqs else meta["upto"]) + 1
    # the table's recorded bucket count wins over the argument (_table_meta)
    num_buckets = meta["num_buckets"]

    rows = drop_null_keys(source, keys) if drop_null_key_rows else source
    types = dict(rows.dtypes)
    cols = [
        q(f.name) if types.get(f.name) == f.dataType.simpleString()
        else f"CAST({q(f.name)} AS {f.dataType.simpleString()}) AS {q(f.name)}"
        for f in schema.fields if f.name != "__bucket"
    ]
    cols += [f"{_bucket_sql(keys, num_buckets)} AS __bucket", f"{seq} AS __seq"]
    if ETL_UPDATED in schema.fieldNames():
        cols.append(f"{batch_stamp(schema[ETL_UPDATED].dataType.simpleString())} AS __batch_time")
    path = _seq_dir(table_path, seq)
    delta, written = observe_rows(_delta_layout(rows.selectExpr(*cols)))
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
    """The table's rows: the base generations ``_table`` names folded with
    the live deltas above its ``upto``, read with the recorded schema.
    With no live delta this is a scan of the base."""
    schema, meta = _table_meta(spark, table_path)
    df = _read_base(spark, table_path, schema, meta)
    seqs = _live_seqs(spark, table_path, meta["upto"])
    if seqs:
        df = fold_versions(df, _read_deltas(spark, table_path, schema, seqs), **meta["merge"])
    return df.drop("__bucket")


def compact_buckets(spark: SparkSession, table_path: str) -> list[int]:
    """Fold the live deltas into the buckets they touch, and rewrite
    buckets whose live generation holds more than
    ``MAX_FILES_PER_BUCKET`` files as one file each. Untouched slim
    buckets keep their files byte-identical.

    One job reads the buckets and writes their replacements as the next
    generation, ``max(live) + 1``, by a dynamic partition overwrite: it
    replaces only directories of that generation, which no committed
    ``_table`` names, so a job that fails or stops leaves the table as it
    was. One ``_table`` write then commits the new generations and the
    last folded seq as ``upto``, and the generations and deltas it no
    longer names are deleted, with any a stopped compaction left. A
    process stopped at any point leaves the old ``_table`` or the new
    one, so a re-run or a replayed batch converges (ST3).

    File accretion comes from append-mode ingestion (K1) and multi-task
    bulk loads, where every append/task drops one more file into each
    bucket it touches — the classic small-file problem that at 100 TB
    degrades listing and task bookkeeping long before I/O. ``upsert``
    runs this itself every ``COMPACT_AT`` deltas; run it after a burst
    of appends, exactly like lakehouse OPTIMIZE.

    Returns the bucket ids rewritten."""
    schema, meta = _table_meta(spark, table_path)
    base = meta["base"]
    seqs = _live_seqs(spark, table_path, meta["upto"])
    bloated = {
        int(b) for b, g in base.items()
        if fsops.count_files_with_suffix(_gen_dir(table_path, b, g), ".parquet", spark)
        > MAX_FILES_PER_BUCKET
    }
    if not (seqs or bloated):
        return []
    touched: set[int] = set()
    if seqs:
        deltas = _read_deltas(spark, table_path, schema, seqs)
        touched = {r[0] for r in deltas.select("__bucket").distinct().collect()}
    rewrite = sorted(bloated | touched)
    out = _read_base(spark, table_path, schema, meta, rewrite)
    if seqs:
        out = fold_versions(out, deltas, **meta["merge"])
    gen = max(base.values(), default=0) + 1
    (out.repartition("__bucket").withColumn("__g", F.lit(gen))
     .write.partitionBy("__bucket", "__g").mode("overwrite")
     .option("partitionOverwriteMode", "dynamic").parquet(table_path))
    meta = {**meta, "base": {**base, **{str(b): gen for b in rewrite}},
            "upto": seqs[-1] if seqs else meta["upto"]}
    _write_meta(spark, table_path, meta)
    live = {f"__bucket={b}/__g={g}" for b, g in meta["base"].items()}
    for path in fsops.glob_paths(f"{table_path}/__bucket=*/__g=*", spark):
        if "/".join(path.rsplit("/", 2)[1:]) not in live:
            fsops.delete(path, spark)
    for name in fsops.list_child_names(table_path, spark):
        if name.startswith(_SEQ) and int(name[len(_SEQ):]) <= meta["upto"]:
            fsops.delete(f"{table_path}/{name}", spark)
    # drop cached plans over the deleted files
    spark.catalog.refreshByPath(table_path)
    index_store.invalidate(table_path, spark)
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
    ts = F.expr(batch_stamp("timestamp_ntz" if vn_naive else "timestamp"))
    return df.withColumns({
        "etl_batch_id": F.lit(batch_id or str(uuid.uuid4())),
        "etl_created_at": ts,
        "etl_updated_at": ts,
        "etl_source": F.lit(source_name),
    })
