"""End-to-end CURATION pipeline benchmark — the training-data twin of
tools/pipeline_e2e_bench.py (which prices the ETL side): raw corpus →
model quality gate → exact-span dedup with rewrite → leakage-safe
split → training shards → BPE train + encode, each stage LANDING its
output as a parquet documents table the next stage reads (the real
pipeline shape — per-stage cost includes the write, as production
would pay it).

  quality    train-or-reuse the stored classifier; keep predicted_keep
             docs, land them.
  span_dedup segment_dedup_docs over the kept table; land the rewritten
             texts (fully-duplicate docs drop out).
  split      leakage_safe_splits over the deduped table; land the train
             split (eval splits are the held-out remainder).
  shards     training_shards over the train table (shard + position
             assignment; landed partitioned by shard).
  tokenize   BPE train on the train table (stored artifacts) + encode:
             the token count the trainer would actually receive.

Prints ONE JSON line with per-stage seconds, rows in/out, and the final
token accounting; optional argv[2] writes it to a file.

Usage: python tools/bench_curation_e2e.py [SF_DIR] [OUT_JSON]
"""

from __future__ import annotations

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
from e_commerce_etl_pipeline_spark.extensions.chunking import (  # noqa: E402
    segment_dedup_docs,
)
from e_commerce_etl_pipeline_spark.extensions.curation import (  # noqa: E402
    leakage_safe_splits,
    training_shards,
)
from e_commerce_etl_pipeline_spark.extensions.quality_model import (  # noqa: E402
    quality_classifier_scores,
)
from e_commerce_etl_pipeline_spark.extensions.tokenizer import (  # noqa: E402
    bpe_encode_stats,
    bpe_train_merges,
)
from e_commerce_etl_pipeline_spark.plans.queries import load_table  # noqa: E402
from e_commerce_etl_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("bench-curation-e2e")
    jvm_warmup(spark)

    root = tempfile.mkdtemp(prefix="curation_e2e_")
    stages: dict = {}
    try:
        raw = load_table(spark, sf_dir, "documents")
        n_raw = raw.count()

        def land(df, name):
            d = f"{root}/{name}"
            df.write.parquet(f"{d}/documents.parquet")
            return d

        # 1. quality gate (includes classifier training on first touch)
        t0 = time.time()
        keep = quality_classifier_scores(spark, sf_dir).filter(
            F.col("predicted_keep")
        ).select("doc_id")
        kept = raw.join(F.broadcast(keep) if n_raw < 1_000_000 else keep,
                        "doc_id")
        d1 = land(kept, "quality")
        n1 = load_table(spark, d1, "documents").count()
        stages["quality"] = {"sec": round(time.time() - t0, 3),
                             "rows_in": n_raw, "rows_out": n1}

        # 2. exact-span dedup with rewrite
        t0 = time.time()
        deduped = segment_dedup_docs(spark, d1).select(
            "doc_id", F.col("deduped_text").alias("text"),
        ).join(load_table(spark, d1, "documents").select("doc_id", "lang"),
               "doc_id")
        d2 = land(deduped, "deduped")
        n2 = load_table(spark, d2, "documents").count()
        stages["span_dedup"] = {"sec": round(time.time() - t0, 3),
                                "rows_in": n1, "rows_out": n2}

        # 3. leakage-safe split; land the train side
        t0 = time.time()
        splits = leakage_safe_splits(spark, d2)
        train_ids = splits.filter(F.col("split") == "train").select("doc_id")
        train = load_table(spark, d2, "documents").join(train_ids, "doc_id")
        d3 = land(train, "train")
        n3 = load_table(spark, d3, "documents").count()
        stages["split"] = {"sec": round(time.time() - t0, 3),
                           "rows_in": n2, "rows_out": n3}

        # 4. shard assignment, landed partitioned by shard
        t0 = time.time()
        training_shards(spark, d3).write.partitionBy("shard").parquet(
            f"{root}/shards.parquet"
        )
        sh = spark.read.parquet(f"{root}/shards.parquet")
        stages["shards"] = {
            "sec": round(time.time() - t0, 3),
            "rows_out": sh.count(),
            "n_shards": sh.select("shard").distinct().count(),
        }

        # 5. tokenizer train + encode on the train table
        t0 = time.time()
        n_merges = bpe_train_merges(spark, d3).count()
        enc = bpe_encode_stats(spark, d3).agg(
            F.sum("n_tokens_bpe").alias("tokens"),
            F.sum("n_chars").alias("chars"),
        ).collect()[0]
        stages["tokenize"] = {
            "sec": round(time.time() - t0, 3),
            "merges": n_merges,
            "tokens_bpe": int(enc["tokens"]),
            "compression": round(enc["chars"] / enc["tokens"], 4),
        }

        out = {
            "metric": "curation_e2e",
            "unit": "sec",
            "sf_dir": sf_dir,
            "calib_sec": calib_sec(spark),
            "total_sec": round(sum(s["sec"] for s in stages.values()), 3),
            "stages": stages,
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
