"""Regenerate docs/PLANS.md: physical-plan evidence for the headline
queries — scan pushdown (PushedFilters/ReadSchema), join strategies, and
exchange counts from .explain('formatted').

Usage: python tools/plan_report.py [sf_dir] [query ...]   (default: the
bench HEADLINE set at /root/testdata/sf0.1, writes docs/PLANS.md)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

KEEP_DETAIL = ("PushedFilters", "ReadSchema")


def summarize(plan: str) -> tuple[str, dict[str, int]]:
    """Condense a formatted plan: operator lines + pushdown evidence."""
    lines = []
    counts = {"exchanges": 0, "broadcast_joins": 0, "sortmerge_joins": 0,
              "hash_joins": 0}
    ops = {}
    cur = None
    for raw in plan.splitlines():
        line = raw.strip()
        m = re.match(r"^\((\d+)\)\s+(.*)$", line)
        if m:
            cur = m.group(2)
            ops[m.group(1)] = cur
            if cur.startswith("Exchange"):
                counts["exchanges"] += 1
            if cur.startswith("BroadcastHashJoin"):
                counts["broadcast_joins"] += 1
            if cur.startswith("SortMergeJoin"):
                counts["sortmerge_joins"] += 1
            if cur.startswith("ShuffledHashJoin"):
                counts["hash_joins"] += 1
            keep = ("Scan", "Join", "HashAggregate", "Exchange", "Window",
                    "Sort", "Expand", "Generate", "Project")
            if any(cur.startswith(k) for k in keep) and not cur.startswith("Project"):
                lines.append(f"({m.group(1)}) {cur}")
        elif cur and line.split(":")[0] in KEEP_DETAIL:
            txt = line if len(line) <= 150 else line[:150]
            lines.append(txt)
        elif line.startswith("Join type:") and cur and "Join" in cur:
            lines.append(line)
    return "\n".join(lines), counts


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    import bench
    import __spark_entry__ as entrymod
    from e_commerce_etl_pipeline_spark.session import get_spark

    from e_commerce_etl_pipeline_spark.extensions import similarity

    names = sys.argv[2:] or bench.HEADLINE + [
        "near_dup_chain_edges", "near_dup_rep_edges", "near_dup_recall_eval"
    ]
    spark = get_spark("plan_report", cpus=8)
    queries = entrymod.queries()
    # near_dup_clusters resolves to its stored artifact (a two-node
    # parquet scan — no evidence); the interesting plan is the edge
    # BUILD stage, exposed as near_dup_chain_edges.
    queries["near_dup_chain_edges"] = similarity.near_dup_chain_edges
    # pass 2's plan: boundary selection (two windows over the keyed
    # corpus + the pass-1 artifact join) feeding the wide capped kernel
    queries["near_dup_rep_edges"] = similarity.near_dup_rep_edges

    out = [
        "# Physical-plan evidence (sf0.1, local[8])",
        "",
        "Generated by `python tools/plan_report.py` — for each headline query,",
        "the scan pushdown, read schema, join strategies, and exchange count",
        "from `.explain('formatted')`. Regenerate after plan-affecting changes.",
        "",
    ]
    for name in names:
        df = queries[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        body, counts = summarize(plan)
        out.append(f"## {name}")
        out.append(
            f"exchanges={counts['exchanges']} broadcast_joins={counts['broadcast_joins']}"
            f" sortmerge_joins={counts['sortmerge_joins']} hash_joins={counts['hash_joins']}"
        )
        out.append("```")
        out.append(body)
        out.append("```")
        out.append("")
        print(f"{name}: exchanges={counts['exchanges']}", file=sys.stderr)

    with open("/root/repo/docs/PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote docs/PLANS.md", file=sys.stderr)


if __name__ == "__main__":
    main()
