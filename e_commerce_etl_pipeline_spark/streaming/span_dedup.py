"""Streaming exact-span dedup: the ingestion-time form of
extensions.chunking.segment_dedup_docs — each micro-batch of new
documents loses every SEG_W-token segment that already occurred in ANY
earlier batch (or earlier in the same batch), and each document is
reassembled from its surviving segments before landing.

This is the published dedup recipe applied where production applies
it: at crawl-snapshot ingestion, so duplicated boilerplate never enters
the training corpus at all, instead of periodic full-corpus rewrites.

Layout under ``work_dir``:
- ``segment_store.parquet/batch=<id>/`` — md5 hashes of every segment
  FIRST seen in that batch (32-hex rows — the store carries hashes,
  not texts, exactly like text.duplicate_chunk_spans' chunk identity;
  md5-collision tolerance is the same accepted trade);
- ``deduped_docs.parquet/batch=<id>/`` — the rewritten documents of
  that batch: (doc_id, n_segments, kept_segments, removed_segments,
  deduped_text). A document whose every segment was already seen
  does not land (the batch operator's contract).

Replay contract (checkpointed foreachBatch is at-least-once): a batch
whose BOTH directories are already complete is a replay of a fully-
applied batch — skipped (loudly, stderr). Otherwise the batch
recomputes against the store EXCLUDING its own ``batch=<id>``
partition (so a crash between the two writes replays deterministically
— the half-written state never feeds back into its own dedup) and
overwrites its own two directories. One work_dir pairs with one
checkpoint lineage; re-pointing a FRESH checkpoint at a used work_dir
relies on the skip-if-complete guard, i.e. assumes the source is
unchanged — the same operator contract as quality_score_stream.

Scale shape (100 TB ingestion): per batch — one segment explode (map),
one keep-first hash aggregate WITHIN the batch (shuffle ∝ batch
segments), one left-anti hash join against the store partitioned on
the hash (shuffle ∝ batch segments + pruned store side; at cluster
scale the store side would be bucketed on the hash so only the store
shuffle amortizes), one reassembly aggregate. The store only ever
APPENDS (new hashes per batch); nothing rewrites history.
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .runner import (
    batch_dir,
    batch_root,
    read_batches,
    start_batches,
    write_batch,
)

STORE, DOCS = "segment_store", "deduped_docs"


def read_deduped_docs(spark: SparkSession, work_dir: str) -> DataFrame:
    """All landed (rewritten) documents so far, with their batch ids."""
    return read_batches(spark, work_dir, DOCS)


def read_segment_store(spark: SparkSession, work_dir: str) -> DataFrame:
    """Every segment hash the stream has ever landed (seg_h, batch)."""
    return read_batches(spark, work_dir, STORE)


def span_dedup_stream(
    spark: SparkSession,
    stream: DataFrame,
    work_dir: str,
    checkpoint_dir: str | None = None,
):
    """Land a document stream (doc_id, text, ...) with cross-batch
    exact-span dedup (module docstring)."""
    from ..extensions.chunking import (
        keep_first_segments,
        reassemble_docs,
        segment_rows,
        tokenized_docs,
    )
    from ..operators import fsops

    def _complete(name: str, batch_id: int) -> bool:
        return fsops.exists(f"{batch_dir(work_dir, name, batch_id)}/_SUCCESS",
                            spark)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if _complete(DOCS, batch_id) and _complete(STORE, batch_id):
            print(
                f"span_dedup_stream: batch {batch_id} already applied "
                f"(both directories complete) — skipped",
                file=sys.stderr,
            )
            return
        # in-batch keep-first, then drop everything the store has seen
        # in OTHER batches (own partition excluded: a replay must not
        # dedup a batch against its own half-written previous attempt)
        kept = keep_first_segments(segment_rows(tokenized_docs(batch_df)))
        kept = kept.withColumn("seg_h", F.md5(F.col("seg_text")))
        if fsops.exists(batch_root(work_dir, STORE), spark):
            store = read_segment_store(spark, work_dir).filter(
                F.col("batch") != batch_id
            )
            kept = kept.join(store, kept["seg_h"] == store["seg_h"],
                             "left_anti")
        kept = kept.localCheckpoint()  # one compute feeds both writes
        write_batch(
            reassemble_docs(kept.select("doc_id", "seg_idx", "seg_text", "n_seg")),
            work_dir, DOCS, batch_id,
        )
        write_batch(kept.select("seg_h"), work_dir, STORE, batch_id)

    return start_batches(stream, apply_batch, checkpoint_dir)
