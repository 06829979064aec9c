"""Split/shard assignment at scale: leakage_safe_splits (exact-dedup
shuffle + digest join) and training_shards (one exchange + per-shard
sort) across corpus decades. Both must stay linear — each is a fixed
number of corpus passes with no fan-out. near_dup_safe_splits is not
re-timed here: its only scale-bearing stage is the stored cluster
artifact already measured in BENCH_near_dup_sf{1,10}_r8.json; the split
itself is a broadcast join against that artifact (docs/PLANS.md:
0 exchanges).

Prints ONE JSON line; optional argv[2] writes it to a file.

Usage: python tools/bench_splits.py [SF_DIR] [OUT_JSON]
"""

from __future__ import annotations

import json
import os

os.environ.setdefault("SPARK_GRAFT_AQE_INIT_PARTS", "256")
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import host_stamps, jvm_warmup  # noqa: E402
from e_commerce_etl_pipeline_spark.extensions.curation import (  # noqa: E402
    leakage_safe_splits,
    training_shards,
)
from e_commerce_etl_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("bench-splits")
    jvm_warmup(spark)

    out: dict = {
        "metric": "splits_scale",
        "unit": "sec",
        "sf_dir": sf_dir,
        **host_stamps(spark),
    }

    # leakage-safe splits: force the full assignment (count per split so
    # column pruning can't skip the canonical hash)
    t0 = time.time()
    rows = (
        leakage_safe_splits(spark, sf_dir)
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"),
             F.countDistinct("canonical_id").alias("families"))
        .collect()
    )
    out["leakage_safe_splits"] = {
        "sec": round(time.time() - t0, 3),
        "per_split": {r["split"]: r["n"] for r in rows},
        "families": sum(r["families"] for r in rows),
    }

    # training shards: force shard+pos for every row (max pos per shard
    # = shard length, so the window must fully evaluate)
    t0 = time.time()
    rows = (
        training_shards(spark, sf_dir)
        .groupBy("shard")
        .agg(F.max("pos").alias("len"), F.sum("n_tokens").alias("tokens"))
        .collect()
    )
    out["training_shards"] = {
        "sec": round(time.time() - t0, 3),
        "shards": len(rows),
        "max_shard_len": max(r["len"] for r in rows),
        "min_shard_len": min(r["len"] for r in rows),
        "tokens": int(sum(r["tokens"] for r in rows)),
    }

    from tools.provenance import sf_provenance
    out["provenance"] = sf_provenance(sf_dir)
    line = json.dumps(out)
    print(line)
    if len(sys.argv) > 2:
        with open(sys.argv[2], "w") as f:
            f.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
