"""Streaming exact-span dedup at scale: cost of ONE ingestion
micro-batch against an already-populated segment store.

Setup: batch 0 lands the WHOLE corpus at SF_DIR (seeding the store —
also timed: that is the bulk-backfill path), then a second batch of
BATCH_DOCS fresh documents (half of them exact clones of stored docs,
half new text) streams in. Reported per phase: wall time, docs landed,
segments stored, clone segments dropped. The interesting number is the
second one: at steady state every micro-batch pays (batch explode +
in-batch keep-first + anti-join against the store + reassembly), with
the store side pruned to the hash partitions the batch touches only on
a bucketed cluster layout — locally it is a full store scan, so this
measures the WORST-case store-side cost.

Prints ONE JSON line; optional argv[2] writes it to a file.

Usage: python tools/bench_span_stream.py [SF_DIR] [OUT_JSON]
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
from e_commerce_etl_pipeline_spark.session import get_spark  # noqa: E402
from e_commerce_etl_pipeline_spark.streaming.span_dedup import (  # noqa: E402
    read_deduped_docs,
    read_segment_store,
    span_dedup_stream,
)

BATCH_DOCS = 5_000


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("bench-span-stream")
    jvm_warmup(spark)

    root = tempfile.mkdtemp(prefix="span_stream_bench_")
    try:
        docs = spark.read.parquet(f"{sf_dir.rstrip('/')}/documents.parquet")
        n_docs = docs.count()
        max_id = docs.agg(F.max("doc_id")).first()[0]

        source_dir = f"{root}/source"
        os.makedirs(source_dir)

        def stage(df, name):
            stagedir = f"{root}/stage_{name}"
            df.coalesce(4).write.parquet(stagedir)
            for i, part in enumerate(sorted(glob.glob(f"{stagedir}/part-*.parquet"))):
                shutil.move(part, f"{source_dir}/{name}_{i}.parquet")

        def run_stream(ckpt):
            stream = (
                spark.readStream.schema("doc_id long, text string, lang string")
                .option("maxFilesPerTrigger", 4)
                .parquet(source_dir)
            )
            q = span_dedup_stream(
                spark, stream, f"{root}/work", checkpoint_dir=ckpt
            )
            q.awaitTermination(1800)

        out: dict = {
            "metric": "span_dedup_stream_scale",
            "unit": "sec",
            "sf_dir": sf_dir,
            "calib_sec": calib_sec(spark),
            "corpus_docs": n_docs,
        }

        # phase 1: bulk backfill — the whole corpus as batch 0
        stage(docs.select("doc_id", "text", "lang"), "seed")
        t0 = time.time()
        run_stream(f"{root}/ckpt1")
        seed_sec = time.time() - t0
        stored = read_segment_store(spark, f"{root}/work").count()
        out["seed"] = {
            "sec": round(seed_sec, 3),
            "segments_stored": stored,
            "docs_landed": read_deduped_docs(spark, f"{root}/work").count(),
        }

        # phase 2: one steady-state micro-batch — half exact clones of
        # stored docs (every segment must drop), half fresh text
        clones = (
            docs.orderBy("doc_id").limit(BATCH_DOCS // 2)
            .select((F.col("doc_id") + max_id + 1).alias("doc_id"),
                    "text", "lang")
        )
        fresh = spark.range(BATCH_DOCS // 2).select(
            (F.col("id") + 2 * (max_id + 1)).alias("doc_id"),
            F.concat(
                F.lit("fresh "),
                F.col("id").cast("string"),
                F.lit(" " + " ".join(f"tok{i}" for i in range(40))),
            ).alias("text"),
            F.lit("en").alias("lang"),
        )
        stage(clones.unionByName(fresh), "batch")
        t0 = time.time()
        run_stream(f"{root}/ckpt1")  # same checkpoint: only the new files
        batch_sec = time.time() - t0
        landed = read_deduped_docs(spark, f"{root}/work").filter(
            F.col("batch") >= 1
        )
        out["micro_batch"] = {
            "sec": round(batch_sec, 3),
            "batch_docs": BATCH_DOCS,
            "docs_landed": landed.count(),
            "segments_added": read_segment_store(spark, f"{root}/work").count()
            - stored,
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)

    line = json.dumps(out)
    print(line)
    if len(sys.argv) > 2:
        with open(sys.argv[2], "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
