"""Capture .explain('formatted') for registry queries into plans/<round>/.

Usage: python tools/capture_plans.py <suffix> [query ...]
  suffix: 'before' or 'after' (file becomes plans/<round>/<query>_<suffix>.txt;
  round from $SPARK_GRAFT_PLANS_ROUND, default r13)
  queries: default = every registry entry except the drained-stream
  lifecycle entries (each of which runs a full stream drain / store
  lifecycle on CONSTRUCTION — their cost story lives in the maintenance
  benches, not a query plan).

The judge reads these files to check plan-shape claims (Exchange count,
join strategy, PushedFilters, Python-eval nodes) against the code. The
index-artifact root (``$SPARK_GRAFT_INDEX_DIR``) is written as
``<index_dir>``, so a before/after pair captured with separate index
directories differs only where the plan's shape does.
"""

from __future__ import annotations

import os
import sys
import time

# resolve the repo from the script location, NOT a hardcoded path: the
# r13 before-plan capture ran this script from a worktree pinned at the
# r12-close commit and the hardcoded "/root/repo" silently imported the
# CURRENT code — every "before" plan was actually an "after" plan until
# the near_dup file's impossible shape exposed it.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Lifecycle entries whose *construction* runs a full stream drain or
# store seed/delete/compact; explain() output exists but costs minutes.
SKIP_DEFAULT = {
    "stream_span_dedup_state", "stream_quality_state", "stream_token_state",
    "stream_upsert_state", "near_dup_tombstone_state",
}


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from e_commerce_etl_pipeline_spark.operators.index_store import (
        DEFAULT_FALLBACK_ROOT,
        FALLBACK_ROOT_ENV,
    )
    from e_commerce_etl_pipeline_spark.session import get_spark
    import __spark_entry__ as entrymod

    index_dir = os.path.abspath(
        os.environ.get(FALLBACK_ROOT_ENV, DEFAULT_FALLBACK_ROOT)) + "/"

    spark = get_spark("capture_plans")
    queries = entrymod.queries()
    names = sys.argv[2:] or [n for n in queries if n not in SKIP_DEFAULT]
    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans",
        os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r13"))
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        t0 = time.time()
        try:
            df = queries[name](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"))
        except Exception as exc:  # noqa: BLE001 — capture the error as evidence
            plan = f"ERROR during construction/explain: {type(exc).__name__}: {exc}"
        plan = plan.replace(index_dir, "<index_dir>/")
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"# {name}: {time.time() - t0:.2f}s, {len(plan)} chars",
              file=sys.stderr)


if __name__ == "__main__":
    main()
