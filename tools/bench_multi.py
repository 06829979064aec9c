"""Cross-session bench aggregator: run bench.py N times in SEPARATE
JVMs (fresh SparkSession each — the unit over which the r5 verdict
observed ~21% same-code drift), take per-query best-of across sessions,
and emit a cross-session noise floor.

Within-session warm repeats (bench.py's warm_runs/noise_pct) bound GC /
ContextCleaner jitter; only separated sessions bound JIT state, page
cache, and ambient machine load — the components that made round-over-
round headline drift unadjudicable from single-session artifacts
(VERDICT r5 "what's wrong" #3).

Usage: python tools/bench_multi.py [N_SESSIONS] [OUT_JSON]
Env passthrough: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
SPARK_GRAFT_BENCH_WARM_RUNS, SPARK_GRAFT_BENCH_TAIL.

Output: one JSON line {metric, sessions, value (best-of total),
queries_warm (per-query best-of), cross_session_noise_pct (median over
queries of (max-min)/min across sessions), per_session_totals}.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(i: int) -> dict:
    env = dict(os.environ)
    env["SPARK_GRAFT_BENCH_OUT"] = f".bench_session_{i}.json"
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=7200,
    )
    path = os.path.join(REPO, f".bench_session_{i}.json")
    try:
        with open(path) as f:
            data = json.loads(f.read())
    finally:
        if os.path.exists(path):
            os.remove(path)
    if not data.get("valid", False):
        print(f"# session {i}: INVALID run: {data.get('errors')}",
              file=sys.stderr)
    print(f"# session {i}: headline warm {data.get('total_warm')}s "
          f"registry warm {data.get('registry_total_warm')}s",
          file=sys.stderr)
    if proc.returncode != 0:
        print(f"# session {i}: exit {proc.returncode}: "
              f"{proc.stderr[-500:]}", file=sys.stderr)
    return data


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    out_path = sys.argv[2] if len(sys.argv) > 2 else None
    runs = [run_once(i) for i in range(n)]
    runs = [r for r in runs if r.get("valid")]
    if not runs:
        print(json.dumps({"metric": "bench_multi", "sessions": 0,
                          "valid": False}))
        return

    def merged(field: str) -> dict[str, list[float]]:
        names: dict[str, list[float]] = {}
        for r in runs:
            for k, v in (r.get(field) or {}).items():
                names.setdefault(k, []).append(v)
        return names

    per_query = {**merged("queries_warm"), **merged("registry_tail_warm")}
    best = {k: round(min(v), 3) for k, v in per_query.items()}
    spreads = sorted(
        (max(v) - min(v)) / max(min(v), 1e-9)
        for v in per_query.values() if len(v) > 1
    )
    noise_pct = round(100 * spreads[len(spreads) // 2], 1) if spreads else None

    headline = [k for k in (runs[0].get("queries_warm") or {})]
    out = {
        "metric": "headline_queries_total_time_multisession",
        "unit": "sec",
        "sessions": len(runs),
        "valid": True,
        "value": round(sum(best[k] for k in headline if k in best), 3),
        "registry_total_best": round(sum(best.values()), 3),
        "cross_session_noise_pct": noise_pct,
        "per_session_headline_warm": [r.get("total_warm") for r in runs],
        "per_session_registry_warm": [
            r.get("registry_total_warm") for r in runs
        ],
        "queries_warm_best": best,
        "sf": runs[0].get("sf"),
        # each session's bench.host_stamps, taken in its own JVM
        "per_session_host_stamps": [
            {k: r.get(k) for k in ("calib_sec", "cpus", "nproc")} for r in runs
        ],
        "warm_runs": runs[0].get("warm_runs"),
    }
    line = json.dumps(out)
    if out_path:
        with open(out_path, "w") as f:
            f.write(line + "\n")
    print(line)


if __name__ == "__main__":
    main()
