"""Streaming BPE token accounting: encode each micro-batch of incoming
documents through the TRAINED tokenizer state (extensions.tokenizer)
and audit the tokens actually flowing toward the trainer.

The production pattern mirrors streaming.scoring: the tokenizer is
TRAINED per corpus snapshot (the fingerprint-keyed ``bpe_word_tokens``
artifact — one offline training job), then APPLIED in-stream. The
stream never retrains: a mid-stream merge-table swap would make token
counts incomparable across batches (the budget accounting and packing
downstream assume one vocabulary). Words the trained vocab has never
seen take the documented fallback — character tokens — and every
batch's fallback share is measured; batches past ``fallback_alarm``
are FLAGGED (``retrain_due``) in the per-batch audit, the same drift
discipline as the quality stream's OOV alarm. This is also the one
place the encode fallback path runs against genuinely unseen text
(the batch operator always encodes the corpus it was trained on).

Layout under ``work_dir``:
- ``token_counts.parquet/batch=<id>/`` — per-doc encoding stats;
- ``token_stream_audit.parquet/batch=<id>/`` — one row per batch
  (n_docs, tokens_bpe, tokens_char, unseen_word_frac, retrain_due).

Replay contract (checkpointed foreachBatch is at-least-once): a
replayed batch id rewrites ITS OWN two ``batch=<id>`` directories
(mode=overwrite) — stored vocab + the batch are deterministic, so
replays converge byte-identically instead of duplicating.

Scale shape (100 TB stream): per batch, one explode over the batch's
words, one vocabulary-bounded broadcast join, one per-doc hash
aggregate — the historical corpus is never touched (the vocab artifact
distilled it); the audit aggregate is one extra 1-row job on the
batch's stats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.local_rows import local_rows
from .runner import read_batches, start_batches, write_batch

# Unseen-word share past which a batch flags retrain_due: above this,
# the tokenizer is char-splitting so much of the stream that its
# compression (and any token-budget math downstream) no longer reflects
# the trained vocabulary.
DEFAULT_FALLBACK_ALARM = 0.5

COUNTS, AUDIT = "token_counts", "token_stream_audit"


def read_stream_token_counts(spark: SparkSession, work_dir: str) -> DataFrame:
    """All per-doc encoding stats written so far, with batch ids."""
    return read_batches(spark, work_dir, COUNTS)


def read_token_stream_audit(spark: SparkSession, work_dir: str) -> DataFrame:
    """One row per applied batch: n_docs, tokens_bpe, tokens_char,
    unseen_word_frac, retrain_due."""
    return read_batches(spark, work_dir, AUDIT)


def _encode_batch(batch_df: DataFrame, vocab: DataFrame) -> DataFrame:
    """The batch-operator encode join (tokenizer.bpe_encode_stats),
    plus the unseen-word count the drift audit needs."""
    from ..extensions.text import words_col

    words = batch_df.select(
        "doc_id", F.explode(words_col(F.col("text"))).alias("w")
    ).filter(F.length("w") >= 1)
    return (
        words.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("w")).alias("n_chars"),
            F.sum(F.coalesce(F.col("n_tokens"), F.length("w")))
            .alias("n_tokens_bpe"),
            F.sum(F.col("n_tokens").isNull().cast("long"))
            .alias("n_unseen_words"),
        )
    )


def bpe_token_stream(
    spark: SparkSession,
    stream: DataFrame,
    corpus_dir: str,
    work_dir: str,
    checkpoint_dir: str | None = None,
    fallback_alarm: float = DEFAULT_FALLBACK_ALARM,
):
    """Encode a document stream (doc_id, text, ...) with the BPE state
    trained on ``corpus_dir``'s documents table; write per-batch token
    counts and a drift audit under ``work_dir`` (module docstring).
    Training happens once, BEFORE the first batch — a training failure
    fails the START, not batch N."""
    from ..extensions.tokenizer import _trained

    _, vocab = _trained(spark, corpus_dir)
    vocab.count()  # force the training job at stream start

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        counts = _encode_batch(batch_df, vocab).localCheckpoint()
        write_batch(counts, work_dir, COUNTS, batch_id)
        stats = counts.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens_bpe").alias("tokens_bpe"),
            F.sum("n_chars").alias("tokens_char"),
            F.sum("n_unseen_words").alias("unseen"),
            F.sum("n_words").alias("words"),
        ).collect()[0]
        # A non-empty batch can still yield ZERO words (whitespace-only or
        # null texts explode to no rows) — the sums come back NULL and the
        # divide / int() below would kill the stream on one bad batch.
        # Audit it as an explicit zero-token row instead.
        words = stats["words"] or 0
        unseen_frac = (stats["unseen"] or 0) / words if words else 0.0
        audit = local_rows(
            spark,
            [(
                stats["n_docs"],
                int(stats["tokens_bpe"] or 0),
                int(stats["tokens_char"] or 0),
                unseen_frac,
                bool(words) and unseen_frac > fallback_alarm,
            )],
            "n_docs long, tokens_bpe long, tokens_char long, "
            "unseen_word_frac double, retrain_due boolean",
        )
        write_batch(audit.coalesce(1), work_dir, AUDIT, batch_id)

    return start_batches(stream, apply_batch, checkpoint_dir)
