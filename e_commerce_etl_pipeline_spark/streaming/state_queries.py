"""Oracle-checkable END STATES of the streaming operators (r10 —
VERDICT r9 #6).

The streaming suites (span dedup, quality scoring, token accounting,
keyed upsert) were pytest-verified but their FINAL table states never
met DuckDB. Each registry entry here drives the real Structured
Streaming path over a deterministic batch split of the sf tables —
file source, ``maxFilesPerTrigger=1``, availableNow drain — and
returns the drained stream's final state, which an ANSI-SQL oracle can
compute independently because the split is chosen so the end state is
batch-invariant (or, for keep-first span dedup, because ascending
doc-id batches make the cross-batch keep-first identical to the
global keep-first):

- ``stream_span_dedup_state``: ascending doc-id ranges → the streamed
  store's keep-first winner per segment is the GLOBAL minimum
  (doc_id·PACK + seg_idx), i.e. exactly segment_dedup_docs — oracle =
  the existing SEGMENT_DEDUP_SQL.
- ``stream_quality_state``: per-doc scoring with corpus-trained
  weights is split-invariant — oracle = the quality classifier SQL.
- ``stream_token_state``: the SQL-expressible projection of the token
  accounting store (word/char counts; the BPE token column rides the
  same row but is the documented iterative-training carve-out).
- ``stream_upsert_state``: the guarded keyed upsert stream over
  key-disjoint change batches — oracle = the batch MERGE SQL
  (sequential upserts of key-disjoint batches compose to one MERGE).

Batch ORDER is forced where it matters: the file source processes by
modification time (latestFirst=false), so each batch file gets an
explicit ascending mtime. Work dirs are per-invocation tempdirs, removed
at interpreter exit — the entries are pure functions of the sf tables.
"""

from __future__ import annotations

import atexit
import glob
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..plans.queries import MERGE_UPSERT_SQL, load_table, _dec


def _work_dir(prefix: str) -> str:
    """A fresh temp directory, removed at interpreter exit: the returned
    frame reads it lazily, so it cannot go when the entry returns."""
    root = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def _one_file_batches(dfs: list[DataFrame], src_dir: str) -> None:
    """Write each frame as ONE parquet file with ascending mtimes so
    the file stream source delivers them in list order."""
    os.makedirs(src_dir, exist_ok=True)
    base = 1_000_000_000  # fixed epoch; only the ORDER matters
    for i, df in enumerate(dfs):
        stage = f"{src_dir}/_stage{i}"
        df.coalesce(1).write.parquet(stage)
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        dst = f"{src_dir}/batch_{i:02d}.parquet"
        shutil.move(part, dst)
        shutil.rmtree(stage)
        os.utime(dst, (base + i, base + i))


def _drain(spark: SparkSession, schema, src_dir: str, start, ckpt: str):
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src_dir)
    )
    q = start(stream, ckpt)
    q.awaitTermination()


def _id_ranges(df: DataFrame, col: str, n: int) -> list[DataFrame]:
    hi = df.agg(F.max(col)).first()[0]
    step = (hi + n) // n
    return [
        df.filter(
            (F.col(col) >= i * step) & (F.col(col) < (i + 1) * step)
        )
        for i in range(n)
    ]


def stream_span_dedup_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain documents through span_dedup_stream in three ascending
    doc-id batches; return the landed (rewritten) corpus."""
    from .span_dedup import read_deduped_docs, span_dedup_stream

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    root = _work_dir("stream_span_state_")
    _one_file_batches(_id_ranges(docs, "doc_id", 3), f"{root}/src")
    _drain(
        spark, docs.schema, f"{root}/src",
        lambda s, ck: span_dedup_stream(
            spark, s, f"{root}/work", checkpoint_dir=ck
        ),
        f"{root}/ckpt",
    )
    return read_deduped_docs(spark, f"{root}/work").select(
        "doc_id", "n_segments", "kept_segments", "removed_segments",
        "deduped_text",
    )


def stream_quality_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain documents through quality_score_stream (weights trained on
    the same corpus) in three hash-split batches; return the scored
    rows (the split-invariant classifier columns)."""
    from .scoring import quality_score_stream, read_stream_scores

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    root = _work_dir("stream_quality_state_")
    _one_file_batches(
        [docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == i) for i in range(3)],
        f"{root}/src",
    )
    _drain(
        spark, docs.schema, f"{root}/src",
        lambda s, ck: quality_score_stream(
            spark, s, sf_dir, f"{root}/work", checkpoint_dir=ck
        ),
        f"{root}/ckpt",
    )
    return read_stream_scores(spark, f"{root}/work").select(
        "doc_id", "lang", "n_words", "score_fp", "quality_ml",
        "predicted_keep",
    )


def stream_token_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain documents through bpe_token_stream in three hash-split
    batches; return the store's SQL-expressible projection (per-doc
    word/char counts — the BPE column is the iterative-training
    carve-out and is graded by the verbatim-replay tests instead)."""
    from .token_accounting import bpe_token_stream, read_stream_token_counts

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    root = _work_dir("stream_token_state_")
    _one_file_batches(
        [docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == i) for i in range(3)],
        f"{root}/src",
    )
    _drain(
        spark, docs.schema, f"{root}/src",
        lambda s, ck: bpe_token_stream(
            spark, s, sf_dir, f"{root}/work", checkpoint_dir=ck
        ),
        f"{root}/ckpt",
    )
    return read_stream_token_counts(spark, f"{root}/work").select(
        "doc_id", "n_words", "n_chars"
    )


def stream_upsert_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed a table with orders, drain the merge_upsert_orders change
    set through incremental_upsert_stream as two KEY-DISJOINT batches,
    and return the final table — sequential guarded upserts of
    key-disjoint batches compose to exactly the one-shot MERGE the
    batch oracle expresses."""
    from ..operators.upsert import read_upsert_table, write_table
    from .incremental import incremental_upsert_stream

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        _dec("o_totalprice").alias("o_totalprice"), "o_orderdate",
        "o_orderpriority",
    )
    source = (
        orders.filter((F.col("o_orderkey") % 10 == 0) & (F.col("o_orderkey") > 0))
        .withColumn(
            "o_totalprice",
            (F.col("o_totalprice") + F.lit(1).cast("decimal(18,2)"))
            .cast("decimal(18,2)"),
        )
        .withColumn("o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 1 DAY"))
        .withColumn("o_orderstatus", F.lit("U"))
    )
    src = source.unionByName(
        source.withColumn("o_orderkey", -F.col("o_orderkey"))
    )
    root = _work_dir("stream_upsert_state_")
    table = f"{root}/orders_table"
    write_table(
        spark, orders, table, ["o_orderkey"], "o_orderdate",
    )
    # key-disjoint split that actually SPLITS: every change key is a
    # multiple of 10 (and its negation), so pmod(key, 2) would put the
    # whole set in batch 0 and never exercise the cross-batch
    # composition this entry exists to verify (ADVICE r10 #2) — split
    # on the tens digit's parity instead, and refuse an empty batch
    batches = [
        src.filter(
            F.pmod((F.abs(F.col("o_orderkey")) / 10).cast("bigint"), F.lit(2))
            == i
        )
        for i in range(2)
    ]
    for i, b in enumerate(batches):
        # explicit raise, not assert: `python -O` compiles asserts out,
        # which would silently revert to the degenerate one-sided split
        # this guard exists to prevent (ADVICE r11 #2)
        if b.isEmpty():
            raise RuntimeError(f"stream_upsert_state: batch {i} is empty")
    _one_file_batches(batches, f"{root}/src")
    _drain(
        spark, src.schema, f"{root}/src",
        lambda s, ck: incremental_upsert_stream(
            spark, s, table, ["o_orderkey"], "o_orderdate",
            guard_cols=["o_orderstatus"], checkpoint_dir=ck,
        ),
        f"{root}/ckpt",
    )
    return (
        read_upsert_table(spark, table)
        .select(
            "o_orderkey", "o_custkey", "o_orderstatus",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "o_orderdate", "o_orderpriority",
        )
    )


_TOKEN_STATE_SQL = r"""
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(len(w)) AS BIGINT) AS n_chars
FROM (
  SELECT doc_id,
         UNNEST(string_split_regex(trim(lower(text)), '\s+')) AS w
  FROM documents
)
WHERE w <> ''
GROUP BY doc_id
"""


def _quality_sql() -> str:
    from ..extensions.quality_model import _quality_classifier_sql

    return _quality_classifier_sql()


def _span_sql() -> str:
    from ..extensions.chunking import SEGMENT_DEDUP_SQL

    return SEGMENT_DEDUP_SQL


STREAM_STATE_QUERIES = {
    "stream_span_dedup_state": (stream_span_dedup_state, _span_sql()),
    "stream_quality_state": (stream_quality_state, _quality_sql()),
    "stream_token_state": (stream_token_state, _TOKEN_STATE_SQL),
    "stream_upsert_state": (stream_upsert_state, MERGE_UPSERT_SQL),
}
