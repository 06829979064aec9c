"""Streaming BPE token accounting at scale: cost of encoding
micro-batches through the stored tokenizer state.

Setup: the tokenizer trains once on the SF_DIR corpus (timed — that is
the stream-start cost), then the whole corpus streams through
``bpe_token_stream`` as one bulk batch, then one steady-state
micro-batch of BATCH_DOCS documents (half in-vocabulary clones, half
fresh unseen-word text exercising the char-token fallback) follows on
the same checkpoint. The steady-state number is the one that matters:
per batch the stream pays one explode + one vocabulary-bounded
broadcast join + one per-doc aggregate, independent of how much has
already streamed.

Prints ONE JSON line; optional argv[2] writes it to a file.

Usage: python tools/bench_token_stream.py [SF_DIR] [OUT_JSON]
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile

os.environ.setdefault("SPARK_GRAFT_AQE_INIT_PARTS", "256")
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import calib_sec, jvm_warmup  # noqa: E402
from e_commerce_etl_pipeline_spark.extensions.tokenizer import (  # noqa: E402
    _trained,
)
from e_commerce_etl_pipeline_spark.session import get_spark  # noqa: E402
from e_commerce_etl_pipeline_spark.streaming.token_accounting import (  # noqa: E402
    bpe_token_stream,
    read_stream_token_counts,
    read_token_stream_audit,
)

BATCH_DOCS = 5_000


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("bench-token-stream")
    jvm_warmup(spark)

    root = tempfile.mkdtemp(prefix="token_stream_bench_")
    try:
        docs = spark.read.parquet(f"{sf_dir.rstrip('/')}/documents.parquet")
        n_docs = docs.count()
        max_id = docs.agg(F.max("doc_id")).first()[0]

        out: dict = {
            "metric": "bpe_token_stream_scale",
            "unit": "sec",
            "sf_dir": sf_dir,
            "calib_sec": calib_sec(spark),
            "corpus_docs": n_docs,
        }

        # stream-start cost: the one-off training job (warm if the
        # corpus artifact already exists — report which by timing)
        t0 = time.time()
        _, vocab = _trained(spark, sf_dir)
        out["train_at_start_sec"] = round(time.time() - t0, 3)
        out["vocab_rows"] = vocab.count()

        source_dir = f"{root}/source"
        os.makedirs(source_dir)

        def stage(df, name):
            stagedir = f"{root}/stage_{name}"
            df.coalesce(4).write.parquet(stagedir)
            for i, part in enumerate(
                sorted(glob.glob(f"{stagedir}/part-*.parquet"))
            ):
                shutil.move(part, f"{source_dir}/{name}_{i}.parquet")

        def run_stream(ckpt):
            stream = (
                spark.readStream.schema("doc_id long, text string, lang string")
                .option("maxFilesPerTrigger", 4)
                .parquet(source_dir)
            )
            q = bpe_token_stream(
                spark, stream, sf_dir, f"{root}/work", checkpoint_dir=ckpt
            )
            q.awaitTermination(1800)

        # phase 1: bulk backfill — the whole corpus as batch 0
        stage(docs.select("doc_id", "text", "lang"), "seed")
        t0 = time.time()
        run_stream(f"{root}/ckpt")
        out["seed"] = {
            "sec": round(time.time() - t0, 3),
            "docs": read_stream_token_counts(spark, f"{root}/work").count(),
            "tokens_bpe": int(
                read_token_stream_audit(spark, f"{root}/work")
                .agg(F.sum("tokens_bpe")).first()[0]
            ),
        }

        # phase 2: one steady-state micro-batch — half in-vocab clones,
        # half fresh unseen-word text (fallback path)
        clones = (
            docs.orderBy("doc_id").limit(BATCH_DOCS // 2)
            .select((F.col("doc_id") + max_id + 1).alias("doc_id"),
                    "text", "lang")
        )
        fresh = spark.range(BATCH_DOCS // 2).select(
            (F.col("id") + 2 * (max_id + 1)).alias("doc_id"),
            F.concat(
                F.lit("zq"), F.col("id").cast("string"),
                F.lit(" " + " ".join(f"zzq{i}x" for i in range(40))),
            ).alias("text"),
            F.lit("en").alias("lang"),
        )
        stage(clones.unionByName(fresh), "batch")
        t0 = time.time()
        run_stream(f"{root}/ckpt")  # same checkpoint: only new files run
        batch_sec = time.time() - t0
        audit = (
            read_token_stream_audit(spark, f"{root}/work")
            .filter(F.col("batch") >= 1)
        )
        a = audit.agg(
            F.sum("n_docs").alias("docs"),
            F.sum("tokens_bpe").alias("tokens"),
            F.max("unseen_word_frac").alias("max_unseen_frac"),
        ).first()
        out["micro_batch"] = {
            "sec": round(batch_sec, 3),
            "batch_docs": int(a["docs"]),
            "tokens_bpe": int(a["tokens"]),
            "max_unseen_frac": round(float(a["max_unseen_frac"]), 4),
        }

        line = json.dumps(out)
        print(line)
        if len(sys.argv) > 2:
            with open(sys.argv[2], "w") as f:
                f.write(line + "\n")
    finally:
        shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
