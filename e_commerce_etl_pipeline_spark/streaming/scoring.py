"""Streaming quality scoring: apply the corpus-trained quality
classifier (extensions.quality_model) to each micro-batch of incoming
documents, with a model-drift alarm.

The production pattern this realizes: the classifier is TRAINED per
corpus snapshot (fingerprint-keyed weights artifact — one training job,
audited offline), then APPLIED in-stream to everything that arrives
afterwards. The stream never retrains: a mid-stream weight swap would
make scores incomparable across batches (the fixed-point thresholds
are calibrated against one model) and would hide training-data bugs
behind silent refits. Instead every batch's out-of-vocabulary token
fraction is measured — OOV tokens score the uninformative 1/2 prior,
so a rising OOV share means the model no longer describes the incoming
text — and batches past ``oov_alarm`` are FLAGGED (``retrain_due``) in
a per-batch audit table the operator (or a cron rebuild) acts on. Same
no-silent-caps discipline as near_dup_index_stream's lsh_bits refusal,
softened to an alarm because stale scores are still valid scores of
the OLD model, while a stale LSH tier silently corrupts the index.

Layout under ``work_dir``:
- ``quality_scores.parquet/batch=<id>/`` — scored rows per batch;
- ``quality_stream_audit.parquet/batch=<id>/`` — one audit row per
  batch (n_docs, keep_frac, oov_frac, retrain_due).

Replay contract (checkpointed foreachBatch is at-least-once): a
replayed batch id rewrites ITS OWN two ``batch=<id>`` directories
(mode=overwrite) — deterministic inputs (stored weights + the batch)
give byte-identical outputs, so replays converge instead of
duplicating. Readers see only complete batch directories (Spark's
_SUCCESS-committed writes).

Scale shape (100 TB stream): per batch this is ONE explode+aggregate
over the batch's tokens, a vocabulary-bounded broadcast join, and a
per-doc hash aggregate — the batch never touches the historical corpus
(the weights artifact already distilled it); the audit aggregate rides
the scored rows (one extra 1-row job).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.local_rows import local_rows
from .runner import read_batches, start_batches, write_batch

# OOV token share past which a batch flags retrain_due. 0.5 = the
# majority of incoming tokens score the uninformative prior — the
# model's verdicts on such batches are closer to coin flips than to
# the trained posterior.
DEFAULT_OOV_ALARM = 0.5

SCORES, AUDIT = "quality_scores", "quality_stream_audit"


def read_stream_scores(spark: SparkSession, work_dir: str) -> DataFrame:
    """All scored rows written so far, with their batch ids."""
    return read_batches(spark, work_dir, SCORES)


def read_stream_audit(spark: SparkSession, work_dir: str) -> DataFrame:
    """One row per applied batch: n_docs, keep_frac, oov_frac,
    retrain_due."""
    return read_batches(spark, work_dir, AUDIT)


def quality_score_stream(
    spark: SparkSession,
    stream: DataFrame,
    corpus_dir: str,
    work_dir: str,
    checkpoint_dir: str | None = None,
    oov_alarm: float = DEFAULT_OOV_ALARM,
):
    """Score a document stream (doc_id, text, lang) with the classifier
    trained on ``corpus_dir``'s documents table; write per-batch scores
    and a drift audit under ``work_dir`` (module docstring). The
    weights train once (fingerprint-cached artifact) — before the first
    batch, so a training failure fails the START, not batch N."""
    from ..extensions.quality_model import (
        batch_term_frequencies,
        quality_classifier_weights,
        score_tf,
    )

    weights = quality_classifier_weights(spark, corpus_dir)
    weights.count()  # force the training job at stream start

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        scored = score_tf(
            batch_term_frequencies(batch_df), weights, batch_df
        ).localCheckpoint()  # one compute; scores + audit read the result
        write_batch(scored, work_dir, SCORES, batch_id)
        stats = scored.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("predicted_keep").cast("long")).alias("n_keep"),
            F.sum("n_oov").alias("oov_tokens"),
            F.sum("n_words").alias("tokens"),
        ).collect()[0]
        # A non-empty batch can still yield ZERO tokens (whitespace-only or
        # null texts): score_tf drops token-less docs, so every sum comes
        # back NULL. Audit it as an explicit zero row, as bpe_token_stream
        # does, instead of dividing by NULL and killing the stream.
        n_docs, tokens = stats["n_docs"], stats["tokens"] or 0
        oov_frac = stats["oov_tokens"] / tokens if tokens else 0.0
        audit = local_rows(
            spark,
            [(
                n_docs,
                stats["n_keep"] / n_docs if n_docs else 0.0,
                oov_frac,
                bool(tokens) and oov_frac > oov_alarm,
            )],
            "n_docs long, keep_frac double, oov_frac double, "
            "retrain_due boolean",
        )
        write_batch(audit.coalesce(1), work_dir, AUDIT, batch_id)

    return start_batches(stream, apply_batch, checkpoint_dir)
