"""Near-duplicate family at scale (r8 — VERDICT r7 next-round #1).

The fenced pair path and the chain-link cluster hybrid exist because of
an sf10 pathology (71% of vectors fenced out of pair enumeration at
sf10, `BENCH_sf10_r6.json`), yet every committed recall/runtime number
was sf0.1. This tool measures the whole family at any corpus:

- corpus size, fence drop count (standalone counter);
- fenced pair enumeration: wall time + pair count;
- chain-link clusters: COLD build time (stored index invalidated
  first), cluster/member counts, connected-components iteration count
  and convergence, then WARM (stored-artifact scan) time;
- recall gate: exact ground truth on the hash-ranked sample vs both
  paths (near_dup_recall_eval — fenced and hybrid recall).

Prints ONE JSON line; optional argv[2] writes it to a file.

Usage: python tools/bench_near_dup.py [SF_DIR] [OUT_JSON]
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

from bench import host_stamps  # noqa: E402
from e_commerce_etl_pipeline_spark.extensions import components  # noqa: E402
from e_commerce_etl_pipeline_spark.extensions.semantic_dedup import (  # noqa: E402
    SEM_CHAIN_W,
    semantic_dedup_cells,
)
from e_commerce_etl_pipeline_spark.extensions.similarity import (  # noqa: E402
    MAX_LSH_BUCKET_VECS,
    N_TABLES,
    NEAR_DUP_CHAIN_W,
    TWIN_OFFSET,
    _emb_table,
    corpus_count,
    embedding_near_dup_pairs,
    lsh_fence_dropped,
    near_dup_clusters,
    near_dup_recall_eval,
    trained_centroids,
)
from e_commerce_etl_pipeline_spark.operators import index_store  # noqa: E402
from e_commerce_etl_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_file = sys.argv[2] if len(sys.argv) > 2 else None
    spark = get_spark("bench_near_dup")

    n = corpus_count(spark, sf_dir)
    dropped = lsh_fence_dropped(spark, sf_dir)

    t0 = time.time()
    n_pairs = embedding_near_dup_pairs(spark, sf_dir).count()
    fenced_pairs_s = time.time() - t0

    # COLD cluster build: wipe the stored artifact so the measured time
    # is the full chain-rank + W-successor join + component propagation,
    # not a cached parquet scan.
    index_store.invalidate(_emb_table(sf_dir), spark)
    t0 = time.time()
    clusters = near_dup_clusters(spark, sf_dir)
    n_members = clusters.count()
    n_clusters = clusters.select("canonical_id").distinct().count()
    cold_s = time.time() - t0
    cc_stats = dict(components.LAST_RUN_STATS)

    # WARM: a fresh logical read of the same stored artifact.
    index_store.reset_session_state()
    t0 = time.time()
    assert near_dup_clusters(spark, sf_dir).count() == n_members
    warm_s = time.time() - t0

    t0 = time.time()
    recall = {
        r["method"]: {
            "n_exact": r["n_exact"], "n_recovered": r["n_recovered"],
            "recall": r["recall"],
        }
        for r in near_dup_recall_eval(spark, sf_dir).collect()
    }
    recall_s = time.time() - t0

    # SemDeDup-on-trained-cells (r8, third method). The earlier
    # invalidate() wiped every artifact for this table, so both stages
    # here are COLD: centroid training is timed separately (it is the
    # shared IVF artifact, not a semantic-dedup cost), then the verdict
    # build (assignment + per-cell chain join). Twin capture = flagged
    # twins / planted twins — the method's recall on the guaranteed
    # ground truth.
    from pyspark.sql import functions as F

    t0 = time.time()
    n_cells = trained_centroids(spark, sf_dir).count()
    cents_s = time.time() - t0
    t0 = time.time()
    verdict = semantic_dedup_cells(spark, sf_dir)
    n_verdicts = verdict.count()
    sem_cold_s = time.time() - t0
    n_dup = verdict.filter(F.col("is_semantic_dup")).count()
    twins_flagged = verdict.filter(
        (F.col("vec_id") >= TWIN_OFFSET) & F.col("is_semantic_dup")
    ).count()

    out = {
        "metric": "near_dup_family",
        "sf_dir": sf_dir,
        **host_stamps(spark),
        "corpus_vecs": n,
        "params": {
            "max_lsh_bucket_vecs": MAX_LSH_BUCKET_VECS,
            "n_tables": N_TABLES,
            "chain_w": NEAR_DUP_CHAIN_W,
        },
        "lsh_fence_dropped_vecs": dropped,
        "fenced_pairs": {"n_pairs": n_pairs,
                         "seconds": round(fenced_pairs_s, 3)},
        "hybrid_clusters": {
            "n_members": n_members, "n_clusters": n_clusters,
            "cold_build_seconds": round(cold_s, 3),
            "warm_read_seconds": round(warm_s, 3),
            "cc_iterations": cc_stats.get("iterations"),
            "cc_converged": cc_stats.get("converged"),
        },
        "recall": recall,
        "recall_eval_seconds": round(recall_s, 3),
        "semantic_cells": {
            "chain_w": SEM_CHAIN_W,
            "n_cells": n_cells,
            "centroids_cold_seconds": round(cents_s, 3),
            "cold_build_seconds": round(sem_cold_s, 3),
            "n_verdicts": n_verdicts,
            "n_dup": n_dup,
            "twin_capture": round(twins_flagged / float(n), 6),
        },
    }
    from tools.provenance import sf_provenance
    out["provenance"] = sf_provenance(sf_dir)
    line = json.dumps(out)
    if out_file:
        with open(out_file, "w") as f:
            f.write(line + "\n")
    print(line)


if __name__ == "__main__":
    main()
