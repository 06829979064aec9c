"""Pipeline benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload cdc|queries --seed N \
        --seconds S --trace 0|1

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
package's layer entry points, turns on Spark's event log and prints the
per-layer metrics. A JSON report line (named figures, host stamp, errors)
precedes the last line, which is the result object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# run as a script from the checkout root: import the benchmark as a package
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402


def _process_start() -> float:
    """Wall-clock start of this process, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def _loop(wl, seconds: float) -> float:
    """Closed loop: the next operation starts when the previous one ends."""
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        wl.step()
    return time.perf_counter() - t0


def _m(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("cdc", "queries"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(harness.ROOT, "e_commerce_etl_pipeline_spark")):
        print("perfbench: the package is not in this checkout", file=sys.stderr)
        return 2

    t_proc = _process_start()
    cpus = harness.host_cpus()
    work = harness.Workdir()
    spark = None
    try:
        harness.configure_env(work, cpus, event_log=bool(args.trace))
        calib = harness.calibrate()

        from perfbench import trace, workloads

        t = time.perf_counter()
        spark = harness.start_session()
        start_s = time.perf_counter() - t
        wl_cls = workloads.WORKLOADS[args.workload]
        fork_s = 0.0
        if wl_cls.uses_python_workers:
            t = time.perf_counter()
            harness.fork_workers(spark, cpus)
            fork_s = time.perf_counter() - t

        tracer = trace.Tracer(spark, work) if args.trace else trace.NullTracer()
        wl = wl_cls(spark, work, tracer, args.seed)
        wl.setup()
        setup_s = time.time() - t_proc

        untraced: list[float] = []
        if args.trace:  # the same loop untraced first: the overhead baseline
            _loop(wl, args.seconds)
            untraced = wl.summary()["lat"]
            wl.reset_samples()
        with tracer.phase("loop"):
            loop_s = _loop(wl, args.seconds)
        wl.check()
        summary = wl.summary()
        rss = harness.peak_rss()
        harness.stop_session(spark)
        spark = None
        layers = tracer.finish() if args.trace else None
    finally:
        if spark is not None:
            harness.stop_session(spark)
        work.close()

    ledger = wl.ledger
    from perfbench.stats import median, tail

    tl = tail(summary["lat"])
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "cpus_used": cpus,
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "calib_s": round(calib, 4), "commit": harness.git_commit(),
        "source_digest": harness.source_digest(),
        "session_start_s": start_s, "worker_fork_s": fork_s, "loop_s": loop_s,
        "ops": len(summary["lat"]), "op_p50_s": median(summary["lat"]), "op_tail": tl,
        "op_lat_s": summary["lat"], "op_cpu_s": summary["cpu"], "peak_rss_mb_by_process": rss,
        "failed_ops_ratio": ledger.ratio, "errors": ledger.errors[:10],
        "named": summary["named"],
    }
    if args.trace:
        report["layers_detail"] = layers.pop("_detail")
        layers["session.start_s"] = (start_s, "s")
        layers["session.worker_fork_s"] = (fork_s, "s")
        layers["ops.failed_ratio"] = (ledger.ratio, "ratio")
        # traced minus untraced median operation of this run
        base = median(untraced)
        layers["tracing.overhead_s"] = (median(summary["lat"]) - base, "s")
        layers["tracing.overhead_ratio"] = (median(summary["lat"]) / base - 1, "ratio")
        metrics = {k: _m(v, u) for k, (v, u) in sorted(layers.items())}
    else:
        metrics = {
            "setup_s": _m(setup_s, "s"),
            "peak_rss_mb": _m(sum(rss.values()), "MB"),
            "op_cpu_s": _m(median(summary["cpu"]), "s"),
        }
    print(json.dumps(report, default=str))
    print(json.dumps({"correct": ledger.failed == 0, "attempted": ledger.attempted,
                      "failed": ledger.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
