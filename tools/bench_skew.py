"""Measure the engine's skew mitigations against a planted hot key.

Input: an events table with join-key skew (gen_scale.py HOT_PCT > 0 —
e.g. 30% of rows on user_id 0). Three join configurations over
events ⋈ users-dim on the skewed key, broadcast disabled (the 100 TB
scenario: the dim outgrew the broadcast threshold):

  plain_aqe_skew_off — sort-merge join with AQE's skew splitting
      disabled: the hot key's rows land in ONE task; its runtime is the
      straggler floor every other config is judged against.
  plain_aqe_skew_on  — Spark's own mitigation at DEFAULT thresholds
      (skewedPartitionThresholdInBytes=256m — a 3M-row hot partition at
      test scale sits under it, so the split never triggers; measured to
      document exactly that).
  plain_aqe_skew_tuned — AQE skew split with thresholds lowered to the
      data (factor=2, threshold=8m): what a tuned cluster config buys.
  salted_join        — the engine's operators/skew.salted_join:
      row-hash salt on the fact side × explode-replicated dim, so the
      hot key spreads over n_salts shuffle partitions REGARDLESS of
      runtime statistics (also covers shuffled-hash joins and
      known-ahead skew, which AQE's detector does not).

Plus the aggregation pair on the same hot key: plain
groupBy(user_id).sum vs operators/skew.salted_sum_count. Expected
result (and the honest story): ~parity — hash aggregation already does
map-side partial aggregation, so each task emits ONE row per (key)
before the shuffle and the hot key never concentrates rows. The salt
earns its keep on JOINS (and on aggregates partial-agg can't collapse,
e.g. exact collect/distinct states); the measurement documents that
boundary instead of asserting a blanket win.

Each timing is min-of-N warm runs (N=SPARK_GRAFT_BENCH_WARM_RUNS,
default 3). Prints one JSON line; optional argv[2] writes it to a file.

Usage: python tools/bench_skew.py [EVENTS_SF_DIR] [OUT_JSON]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import host_stamps  # noqa: E402
from e_commerce_etl_pipeline_spark.operators.skew import (  # noqa: E402
    auto_salted_join,
    hot_keys,
    salt_decision,
    salted_join,
    salted_join_targeted,
    salted_sum_count,
)
from e_commerce_etl_pipeline_spark.plans.queries import load_table  # noqa: E402
from e_commerce_etl_pipeline_spark.session import get_spark  # noqa: E402

N_SALTS = 32


def timed(fn, runs: int) -> float:
    best = None
    for _ in range(runs):
        t0 = time.time()
        fn()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 3)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else ".localdata/sf1skew"
    out_path = sys.argv[2] if len(sys.argv) > 2 else None
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_WARM_RUNS", "3")))
    spark = get_spark("bench-skew")

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    ).persist()
    n = events.count()

    top = (
        events.groupBy("user_id").count()
        .orderBy(F.col("count").desc()).limit(1).collect()[0]
    )
    hot_share = round(top["count"] / n, 3)

    # users dim: every distinct user + a derived attribute; in the 100 TB
    # scenario this is the dimension that just outgrew broadcast
    users = events.select("user_id").distinct().withColumn(
        "user_tag", F.md5(F.col("user_id").cast("string"))
    ).persist()
    n_users = users.count()

    def run_plain():
        joined = events.join(users, "user_id")
        return joined.agg(F.count(F.lit(1)), F.min("user_tag")).collect()

    def run_salted():
        joined = salted_join(events, users, "user_id", n_salts=N_SALTS)
        return joined.agg(F.count(F.lit(1)), F.min("user_tag")).collect()

    hot = hot_keys(events, "user_id", min_share=0.05)

    def run_salted_targeted():
        joined = salted_join_targeted(
            events, users, "user_id", hot, n_salts=N_SALTS
        )
        return joined.agg(F.count(F.lit(1)), F.min("user_tag")).collect()

    def run_auto():
        # end-to-end INCLUDING the decision aggregate — the honest cost
        # of "decide from data, then join" at default thresholds
        joined = auto_salted_join(events, users, "user_id", n_salts=N_SALTS)
        return joined.agg(F.count(F.lit(1)), F.min("user_tag")).collect()

    events_path = f"{sf_dir.rstrip('/')}/events.parquet"

    def run_auto_memoized():
        # the production shape (r7): decision memoized per corpus
        # snapshot through index_store — after the first call, auto
        # costs the same as targeted (the decision is a dict lookup)
        joined = auto_salted_join(
            events, users, "user_id", n_salts=N_SALTS,
            table_path=events_path,
        )
        return joined.agg(F.count(F.lit(1)), F.min("user_tag")).collect()

    timings: dict[str, float] = {}
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_skew = spark.conf.get("spark.sql.adaptive.skewJoin.enabled")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        timings["join_plain_aqe_skew_off"] = timed(run_plain, runs)
        timings["join_salted"] = timed(run_salted, runs)
        timings["join_salted_targeted"] = timed(run_salted_targeted, runs)
        timings["join_auto"] = timed(run_auto, runs)
        run_auto_memoized()  # warm the snapshot memo (the one-time cost)
        timings["join_auto_memoized"] = timed(run_auto_memoized, runs)

        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        timings["join_plain_aqe_skew_on"] = timed(run_plain, runs)

        prev_factor = spark.conf.get(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor")
        prev_thresh = spark.conf.get(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
        try:
            spark.conf.set(
                "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
            spark.conf.set(
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
                "8m")
            timings["join_plain_aqe_skew_tuned"] = timed(run_plain, runs)
        finally:
            spark.conf.set(
                "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
                prev_factor)
            spark.conf.set(
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
                prev_thresh)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", prev_skew)

    # what branch does the auto decision take at this corpus?
    decision = salt_decision(events, "user_id")

    # correctness cross-check: identical join cardinality either way
    n_plain = events.join(users, "user_id").count()
    n_salted = salted_join(events, users, "user_id", n_salts=N_SALTS).count()
    n_targeted = salted_join_targeted(
        events, users, "user_id", hot, n_salts=N_SALTS
    ).count()
    assert n_plain == n_salted == n_targeted == n, (
        n, n_plain, n_salted, n_targeted
    )

    dec = F.col("value").cast("decimal(18,2)")

    def run_agg_plain():
        return events.groupBy("user_id").agg(
            F.sum(dec).alias("t"), F.count(F.lit(1)).alias("c")
        ).agg(F.count(F.lit(1))).collect()

    def run_agg_salted():
        return salted_sum_count(events, ["user_id"], dec, n_salts=N_SALTS).agg(
            F.count(F.lit(1))
        ).collect()

    timings["agg_plain"] = timed(run_agg_plain, runs)
    timings["agg_salted"] = timed(run_agg_salted, runs)

    # Structural skew metric: rows per shuffle partition (hash(join key)
    # mod shuffle.partitions), max/mean ratio. Local[32] wall-clock
    # understates the straggler (32 threads share one memory bus and the
    # scan phase is common to all configs); the partition imbalance is
    # the quantity a 1000-executor cluster actually serializes on, and
    # it is deterministic — immune to the bench noise floor.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def max_over_mean(df_keyed) -> float:
        counts = df_keyed.groupBy(
            F.pmod(F.hash("user_id", "__salt")
                   if "__salt" in df_keyed.columns else F.hash("user_id"),
                   F.lit(n_part)).alias("p")
        ).count()
        row = counts.agg(
            F.max("count").alias("mx"),
            (F.sum("count") / F.lit(n_part)).alias("mean"),
        ).collect()[0]
        return round(row["mx"] / row["mean"], 2)

    hot_arr = F.array(*[F.lit(h) for h in hot])
    salted_fact = events.withColumn(
        "__salt", F.pmod(F.hash(*[F.col(c) for c in events.columns]),
                         F.lit(N_SALTS)),
    )
    targeted_fact = events.withColumn(
        "__salt",
        F.when(
            F.array_contains(hot_arr, F.col("user_id")),
            F.pmod(F.hash(*[F.col(c) for c in events.columns]),
                   F.lit(N_SALTS)),
        ).otherwise(F.lit(0)),
    )
    balance = {
        "plain_max_over_mean": max_over_mean(events),
        "salted_max_over_mean": max_over_mean(salted_fact),
        "targeted_max_over_mean": max_over_mean(targeted_fact),
    }

    out = {
        "metric": "skew_mitigation_bench",
        "unit": "sec",
        "sf_dir": sf_dir,
        **host_stamps(spark),
        "n_events": n,
        "n_users": n_users,
        "hot_user": int(top["user_id"]),
        "hot_share": hot_share,
        "n_salts": N_SALTS,
        "warm_runs": runs,
        "timings": timings,
        "hot_keys_detected": [int(h) for h in hot],
        "auto_decision": {
            "use_salt": bool(decision["use_salt"]),
            "hot": [int(h) for h in decision["hot"]],
        },
        "shuffle_partition_balance": balance,
        "join_speedup_vs_straggler": round(
            timings["join_plain_aqe_skew_off"] / timings["join_salted"], 2
        ),
        "targeted_speedup_vs_straggler": round(
            timings["join_plain_aqe_skew_off"]
            / timings["join_salted_targeted"], 2
        ),
    }
    line = json.dumps(out)
    if out_path:
        with open(out_path, "w") as f:
            f.write(line + "\n")
    print(line)


if __name__ == "__main__":
    main()
