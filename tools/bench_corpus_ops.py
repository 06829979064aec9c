"""Late-r8 corpus operators at scale: token-window chunking, exact-span
dedup-with-rewrite, and the corpus-trained quality classifier.

All three are linear by construction (map+explode / two hash-aggregate
shuffles / TF-join + per-doc aggregate); this tool turns that claim
into numbers at any corpus size:

- chunk_documents: wall time, chunk count, duplicate-chunk-hash count
  (the content-id reuse downstream dedup would join on);
- segment_dedup_docs: COLD wall time, docs in/out, segments total vs
  kept (corpus-wide span-dedup pressure);
- quality_classifier_scores: COLD (retrain: _index invalidated first)
  and WARM (stored weights artifact) wall time, scored docs, keep rate,
  vocabulary size of the trained model.

Prints ONE JSON line; optional argv[2] writes it to a file.

Usage: python tools/bench_corpus_ops.py [SF_DIR] [OUT_JSON]
       (default SF_DIR /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os

# Big-corpus tools: spill-proof shuffle sizing unless the caller chose.
os.environ.setdefault("SPARK_GRAFT_AQE_INIT_PARTS", "256")
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import calib_sec, jvm_warmup  # noqa: E402
from e_commerce_etl_pipeline_spark.extensions.chunking import (  # noqa: E402
    chunk_documents,
    segment_dedup_docs,
)
from e_commerce_etl_pipeline_spark.extensions.quality_model import (  # noqa: E402
    quality_classifier_scores,
    quality_classifier_weights,
)
from e_commerce_etl_pipeline_spark.operators import index_store  # noqa: E402
from e_commerce_etl_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("bench-corpus-ops")
    jvm_warmup(spark)

    out: dict = {
        "metric": "corpus_ops_scale",
        "unit": "sec",
        "sf_dir": sf_dir,
        "calib_sec": calib_sec(spark),
        "n_docs": spark.read.parquet(
            index_store.table_dir(sf_dir, "documents")
        ).count(),
    }

    # chunking: pure map — `sec` times ONE full pass (the md5 is forced
    # by summing hash lengths; a bare count() would let Spark prune the
    # chunk columns and time an empty explode). The distinct-hash stat
    # is a real downstream workload (content-id dedup join) but a WIDE
    # shuffle the operator itself doesn't have — timed separately so it
    # can't masquerade as operator cost (it did, in the first sf100 cut
    # of this tool).
    t0 = time.time()
    stats = (
        chunk_documents(spark, sf_dir)
        .agg(
            F.count(F.lit(1)).alias("chunks"),
            F.sum("n_tokens").alias("tokens"),
            F.sum(F.length("chunk_hash")).alias("__force_md5"),
        )
        .collect()[0]
    )
    sec = round(time.time() - t0, 3)
    t0 = time.time()
    distinct = (
        chunk_documents(spark, sf_dir)
        .agg(F.countDistinct("chunk_hash").alias("d"))
        .collect()[0]["d"]
    )
    out["chunk"] = {
        "sec": sec,
        "distinct_stat_sec": round(time.time() - t0, 3),
        "chunks": stats["chunks"],
        "duplicate_hash_chunks": stats["chunks"] - distinct,
        "tokens": int(stats["tokens"]),
    }

    # exact-span dedup + rewrite
    t0 = time.time()
    seg = (
        segment_dedup_docs(spark, sf_dir)
        .agg(
            F.count(F.lit(1)).alias("docs_out"),
            F.sum("n_segments").alias("segments"),
            F.sum("kept_segments").alias("kept"),
        )
        .collect()[0]
    )
    out["segment_dedup"] = {
        "sec": round(time.time() - t0, 3),
        "docs_out": seg["docs_out"],
        "segments": int(seg["segments"]),
        "kept_segments": int(seg["kept"]),
        "removed_frac": round(1 - seg["kept"] / seg["segments"], 4),
    }

    # quality classifier: cold-from-scratch (every stored artifact for
    # the corpus dropped — TF table AND weights retrain), then warm
    # (stored-artifact) run
    index_store.invalidate(index_store.table_dir(sf_dir, "documents"), spark)
    index_store.reset_session_state()

    def run_scores() -> dict:
        t0 = time.time()
        r = (
            quality_classifier_scores(spark, sf_dir)
            .agg(
                F.count(F.lit(1)).alias("docs"),
                F.sum(F.col("predicted_keep").cast("long")).alias("keeps"),
            )
            .collect()[0]
        )
        return {
            "sec": round(time.time() - t0, 3),
            "docs": r["docs"],
            "keep_frac": round(r["keeps"] / r["docs"], 4),
        }

    cold = run_scores()
    # min-of-2 warm: single-shot warm timings on this box carry the
    # documented ~40% ambient drift (docs/SCALE.md "Bench drift control")
    warm = min((run_scores() for _ in range(2)), key=lambda r: r["sec"])
    cold["vocab"] = quality_classifier_weights(spark, sf_dir).count()
    out["quality_classifier"] = {"cold": cold, "warm": warm}

    from tools.provenance import sf_provenance
    out["provenance"] = sf_provenance(sf_dir)
    line = json.dumps(out)
    print(line)
    if len(sys.argv) > 2:
        with open(sys.argv[2], "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
