"""Core-scaling probe: time a subset of registry entries at
$SPARK_GRAFT_CPUS and write one JSON artifact, so two runs (e.g. 8 vs 32
cores) at a real scale factor (sf10; sf0.1 is overhead-bound) give
per-query core-scaling ratios.

The protocol is bench.py's (``prepare`` + ``time_entries``): calibration
stamp, Python worker fork and artifact prebuilds outside the timed
region, then a cold run and the min of $SPARK_GRAFT_BENCH_WARM_RUNS
(default 3) warm runs per entry. Entries whose count() plan reads no
column (``bench.count_pruned``) are timed with the noop sink instead and
listed in ``noop_timed``: a core-scaling ratio of a row-count scan would
measure nothing.

Usage:
  SPARK_GRAFT_CPUS=32 python tools/bench_core_scaling.py SF_DIR OUT.json [query ...]
  SPARK_GRAFT_CPUS=8  python tools/bench_core_scaling.py SF_DIR OUT2.json [query ...]
  compare the two artifacts with tools/core_scaling_report.py
  (tools/scaling_report.py is the sf-vs-sf twin).

A cold-plus-one-warm probe of a few entries (the sf100 worst-alpha probe):
  SPARK_GRAFT_BENCH_WARM_RUNS=1 python tools/bench_core_scaling.py SF_DIR OUT.json \\
      duplicate_chunk_spans copurchase_pairs basket_lift
"""

from __future__ import annotations

import json
import os
import sys

# spill-proof shuffle sizing for big-corpus runs unless the caller chose
os.environ.setdefault("SPARK_GRAFT_AQE_INIT_PARTS", "256")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from bench import prepare, time_entries, warm_runs  # noqa: E402
from e_commerce_etl_pipeline_spark.session import get_spark  # noqa: E402
from tools.provenance import sf_provenance  # noqa: E402

# Default probe set: the heaviest warm registry entries at sf0.1 (r13
# baseline) that do real data-parallel work, plus four heavy map-only
# entries (noop-timed). Deliberately excludes the untimed stream drains.
DEFAULT_QUERIES = [
    "near_dup_incremental_update", "user_value_median_pandas",
    "ann_recall_eval", "near_dup_recall_eval", "basket_lift",
    "duplicate_chunk_spans", "minhash_lsh_pairs", "exact_dedup",
    "benchmark_contamination", "quality_classifier_scores",
    "tfidf_top_terms", "copurchase_pairs", "customer_spend_deciles",
    "q1_pricing_summary", "q3_top_unshipped", "lm_rarity_docs",
    "brute_force_topk", "cross_source_overlap",
    "repetition_flags", "simhash_docs", "lang_id_docs", "text_stats",
]


def main() -> None:
    sf_dir, out_path = sys.argv[1], sys.argv[2]
    spark = get_spark("core-scaling")
    stamps = prepare(spark, sf_dir)
    t = time_entries(spark, entrymod.queries(), sf_dir,
                     sys.argv[3:] or DEFAULT_QUERIES, action="auto")
    out = {
        "metric": "core_scaling_probe",
        "sf_dir": sf_dir,
        **stamps,
        "warm_runs": warm_runs(),
        "queries_cold": t.cold,
        "queries_warm": t.warm,
        "noop_timed": sorted(t.pruned),
        "errors": t.errors or None,
        "provenance": sf_provenance(sf_dir),
    }
    with open(out_path, "w") as f:
        f.write(json.dumps(out) + "\n")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
