"""Streaming quality scoring (streaming.quality_score_stream): the
stored classifier scores file-source micro-batches exactly as the batch
kernel would, the drift audit flags an OOV-heavy batch, and a
checkpoint replay converges instead of duplicating."""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import functions as F

from e_commerce_etl_pipeline_spark.extensions.quality_model import (
    OOV_W,
    quality_classifier_weights,
)
from e_commerce_etl_pipeline_spark.streaming.scoring import (
    quality_score_stream,
    read_stream_audit,
    read_stream_scores,
)
from tests.test_quality_model import NEG_TEXT, POS_TEXT, _ids


def _write_corpus(spark, root):
    t_pos, t_neg = _ids("train", 2)
    corpus_dir = str(root / "corpus")
    spark.createDataFrame(
        [(t_pos, POS_TEXT, "en"), (t_neg, NEG_TEXT, "en")],
        "doc_id long, text string, lang string",
    ).write.parquet(corpus_dir + "/documents.parquet")
    return corpus_dir


def _stage_batches(spark, root, batches):
    source_dir = str(root / "source")
    os.makedirs(source_dir)
    for i, rows in enumerate(batches):
        stage = str(root / f"stage{i}")
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string"
        ).coalesce(1).write.parquet(stage)
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        shutil.move(part, f"{source_dir}/batch_{i}.parquet")
    return source_dir


def _run(spark, source_dir, corpus_dir, work_dir, ckpt):
    stream = (
        spark.readStream.schema("doc_id long, text string, lang string")
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    q = quality_score_stream(
        spark, stream, corpus_dir, work_dir, checkpoint_dir=ckpt
    )
    q.awaitTermination(300)


def test_stream_scores_match_batch_kernel_and_drift_flags(spark, tmp_path):
    corpus_dir = _write_corpus(spark, tmp_path)
    v1, v2 = _ids("val", 2)
    # batch 0: in-vocabulary docs; batch 1: all-OOV (drift)
    source_dir = _stage_batches(spark, tmp_path, [
        [(v1, "the the the", "en"), (v2, "xxx. xxx.", "en")],
        [(1000, "zzzz zzzz zzzz wwww", "en")],
    ])
    work_dir = str(tmp_path / "work")
    _run(spark, source_dir, corpus_dir, work_dir, str(tmp_path / "ckpt"))

    scores = {r["doc_id"]: r for r in read_stream_scores(spark, work_dir).collect()}
    assert sorted(scores) == [v1, v2, 1000]
    # exact fixed-point parity with the batch kernel's hand-computed
    # weights (see test_quality_model)
    assert scores[v1]["score_fp"] == 3 * int(1e9 * (6 / 7))
    assert scores[v1]["predicted_keep"] and scores[v1]["n_oov"] == 0
    assert scores[v2]["score_fp"] == 2 * int(1e9 * (1 / 3))
    assert not scores[v2]["predicted_keep"]
    assert scores[1000]["score_fp"] == 4 * OOV_W
    assert scores[1000]["n_oov"] == 4

    audit = {r["batch"]: r for r in read_stream_audit(spark, work_dir).collect()}
    assert sorted(audit) == [0, 1]
    assert audit[0]["n_docs"] == 2 and audit[0]["oov_frac"] == 0.0
    assert not audit[0]["retrain_due"]
    assert audit[1]["oov_frac"] == 1.0 and audit[1]["retrain_due"]


def test_zero_token_batch_audited_not_fatal(spark, tmp_path):
    """A non-empty batch whose documents have ZERO tokens (whitespace-only
    / null texts) must write an explicit zero audit row instead of
    killing the stream on NULL sums — and the stream must keep
    processing later batches."""
    corpus_dir = _write_corpus(spark, tmp_path)
    (v1,) = _ids("val", 1)
    source_dir = _stage_batches(spark, tmp_path, [
        [(300, "   ", "en"), (301, None, "en")],   # zero tokens
        [(v1, "the the the", "en")],               # normal batch after it
    ])
    work_dir = str(tmp_path / "work")
    _run(spark, source_dir, corpus_dir, work_dir, str(tmp_path / "ckpt"))

    audit = {r["batch"]: r for r in read_stream_audit(spark, work_dir).collect()}
    assert sorted(audit) == [0, 1], "stream died on the zero-token batch"
    z = audit[0]
    assert (z["n_docs"], z["keep_frac"], z["oov_frac"]) == (0, 0.0, 0.0)
    assert not z["retrain_due"]
    assert audit[1]["n_docs"] == 1 and audit[1]["keep_frac"] == 1.0
    assert not audit[1]["retrain_due"]
    assert [r["doc_id"] for r in read_stream_scores(spark, work_dir).collect()] == [v1]


def test_stream_replay_converges(spark, tmp_path):
    """Restarting the stream on the same checkpoint must process
    nothing new (exactly-once effect) — and a wiped checkpoint replays
    every batch into the SAME directories, converging byte-identically
    rather than duplicating rows."""
    corpus_dir = _write_corpus(spark, tmp_path)
    (v1,) = _ids("val", 1)
    source_dir = _stage_batches(spark, tmp_path, [
        [(v1, "the the the", "en")],
    ])
    work_dir = str(tmp_path / "work")
    ckpt = str(tmp_path / "ckpt")
    _run(spark, source_dir, corpus_dir, work_dir, ckpt)
    first = sorted(map(tuple, read_stream_scores(spark, work_dir).collect()))

    # same checkpoint: no-op restart
    _run(spark, source_dir, corpus_dir, work_dir, ckpt)
    assert sorted(map(tuple, read_stream_scores(spark, work_dir).collect())) == first

    # wiped checkpoint: at-least-once replay rewrites batch dirs in place
    shutil.rmtree(ckpt)
    _run(spark, source_dir, corpus_dir, work_dir, str(tmp_path / "ckpt2"))
    assert sorted(map(tuple, read_stream_scores(spark, work_dir).collect())) == first
    assert read_stream_audit(spark, work_dir).count() == 1


def test_weights_train_once_at_stream_start(spark, tmp_path):
    """The weights artifact must exist after stream start even when the
    source delivers zero batches — training is a start-time job, not a
    batch side effect."""
    corpus_dir = _write_corpus(spark, tmp_path)
    source_dir = str(tmp_path / "source")
    os.makedirs(source_dir)
    work_dir = str(tmp_path / "work")
    stream = (
        spark.readStream.schema("doc_id long, text string, lang string")
        .parquet(source_dir)
    )
    q = quality_score_stream(spark, stream, corpus_dir, work_dir,
                             checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    w = {r["term"] for r in quality_classifier_weights(spark, corpus_dir).collect()}
    assert "the" in w and "xxx." in w
