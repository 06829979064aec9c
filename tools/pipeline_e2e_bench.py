"""End-to-end pipeline benchmark (r8 — VERDICT r6 #5 / r7 #5): ingest →
transform → guarded keyed upsert → replay → streaming drain → analytics,
through the REAL production drivers (`pipelines.etl.full_load_pipeline`,
`streaming.incremental.run_incremental_batch`,
`incremental_upsert_stream`), per-stage wall time against the
reference's 12-minute incremental execution budget
(reference `config/production.py:24`; here `RunAudit.budget_s = 720`).

Workload: the sf events table plays the landed source.

  full_load     whole table -> coercion-kernel transform -> bucketed
                staging overwrite (K2 semantics) via full_load_pipeline,
                audit-recorded.
  incremental   the newest 2% of the ts range re-extracted with
                run_incremental_batch (ST1-ST3 lookback path) -> guarded
                upsert into staging.
  replay        the SAME window again — the ST3 idempotency guarantee
                priced: every row re-delivered, zero rows may change.
  streaming     the window landed as parquet and drained by
                incremental_upsert_stream (Trigger.AvailableNow
                foreachBatch upsert) — the Structured Streaming cadence.
                Its rows are the rows of the files the stream's source
                log committed; draining none while the window file holds
                rows fails the run.
  analytics     keep-newest dedup + hourly rollup aggregate OVER THE
                STAGED TABLE (reads the engine's own bucketed layout,
                not the source parquet).

Prints ONE JSON line with per-stage seconds, rows, rows/sec, and
over_budget flags, stamped with bench.py's ``calib_sec``, ``cpus`` and
``nproc``; optional argv[2] writes it to a file. The audit table
is included so the run itself demonstrates ST5 bookkeeping: one row for
each of the full-load, incremental, replay and streaming stages with
the stage's rows, and the run fails unless it holds those 4 rows.

Usage: python tools/pipeline_e2e_bench.py [SF_DIR] [OUT_JSON]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import uuid
from datetime import timedelta
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import host_stamps  # noqa: E402

from e_commerce_etl_pipeline_spark.pipelines.etl import (  # noqa: E402
    RunAudit,
    SourcePipeline,
    full_load_pipeline,
)
from e_commerce_etl_pipeline_spark.plans.queries import load_table  # noqa: E402
from e_commerce_etl_pipeline_spark.session import get_spark  # noqa: E402
from e_commerce_etl_pipeline_spark.streaming.incremental import (  # noqa: E402
    incremental_upsert_stream,
    run_incremental_batch,
)

BUDGET_S = 720.0  # reference: 12-minute incremental execution timeout


def transform_events(raw):
    """The coercion kernel as the pipeline's transform stage (F2/F5/F7/
    F10/F11 shapes over the event payload): JSON prop extraction,
    epoch-heuristic normalization of a derived ms/s column, null-scrub,
    decimal parse. All JVM expressions — no Python in the row path."""
    from e_commerce_etl_pipeline_spark.functions.coercions import (
        epoch_to_ts,
        null_scrub,
        safe_decimal,
    )

    epoch = ("CASE WHEN event_id % 2 = 0 THEN CAST(unix_timestamp(ts) AS DOUBLE)"
             " ELSE CAST(unix_timestamp(ts) AS DOUBLE) * 1000 END")
    return raw.select(
        "event_id", "user_id", "ts",
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
        epoch_to_ts(epoch).alias("ts_normalized"),
        null_scrub(
            "CASE WHEN event_type = 'error' THEN 'N/A' ELSE event_type END"
        ).alias("etype_clean"),
        safe_decimal("value", 18, 2).cast("double").alias("value_dec"),
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_file = sys.argv[2] if len(sys.argv) > 2 else None
    spark = get_spark("pipeline_e2e")
    work = tempfile.mkdtemp(prefix="e2e_bench_")
    staging_root = f"{work}/staging"
    table_path = f"{staging_root}/events_staged"
    audit = RunAudit(spark, f"{work}/audit", budget_s=BUDGET_S)
    stages: dict[str, dict] = {}

    def record(stage: str, seconds: float, rows: int | None) -> None:
        stages[stage] = {
            "seconds": round(seconds, 3),
            "rows": rows,
            "rows_per_sec": (round(rows / seconds) if rows and seconds > 0
                             else None),
            "over_budget": seconds > BUDGET_S,
        }

    def audit_stage(stage: str, started_at: float, finished_at: float,
                    rows: int) -> None:
        audit.record({"batch_id": str(uuid.uuid4()),
                      "source_name": f"events_staged:{stage}",
                      "status": "SUCCESS", "records_extracted": rows,
                      "records_loaded": rows, "started_at": started_at,
                      "finished_at": finished_at})

    source = load_table(spark, sf_dir, "events")
    keys, order_col = ["event_id"], "ts"

    # ---- stage 1: full load (ingest + transform + overwrite staging)
    pipe = SourcePipeline(
        name="events_staged",
        extract=lambda s, window=None: load_table(s, sf_dir, "events"),
        transform=transform_events,
        keys=keys, order_col=order_col,
    )
    t0 = time.time()
    counts = full_load_pipeline(spark, pipe, staging_root, audit=audit)
    record("full_load", time.time() - t0, counts["events_staged"])

    # ---- stage 2: incremental lookback window (newest 2% of ts range)
    from e_commerce_etl_pipeline_spark.operators.upsert import (
        stamp_etl_metadata,
    )

    lo, hi = source.agg(F.min("ts"), F.max("ts")).first()
    span = hi - lo
    lookback = timedelta(seconds=max(1.0, span.total_seconds() * 0.02))
    # the staged table carries ETL metadata columns (stamped by the full
    # load); incremental batches stamp theirs exactly as
    # incremental_pipeline does
    batch_src = stamp_etl_metadata(
        transform_events(source), "events_staged", str(uuid.uuid4())
    )
    t0 = time.time()
    n_inc = run_incremental_batch(
        spark, batch_src, table_path, keys, order_col,
        lookback=lookback, now=hi,
    )
    t1 = time.time()
    record("incremental", t1 - t0, n_inc)
    audit_stage("incremental", t0, t1, n_inc)

    # ---- stage 3: replay of the identical window (ST3: priced no-op)
    t0 = time.time()
    n_rep = run_incremental_batch(
        spark, batch_src, table_path, keys, order_col,
        lookback=lookback, now=hi,
    )
    t1 = time.time()
    record("replay", t1 - t0, n_rep)
    audit_stage("replay", t0, t1, n_rep)
    assert n_rep == n_inc, "replay must consider the same window"

    # ---- stage 4: the same window via Structured Streaming
    stream_in = f"{work}/stream_in"
    window_df = batch_src.filter(F.col(order_col) >= F.lit(hi - lookback))
    window_df.write.mode("overwrite").parquet(stream_in)
    stream = spark.readStream.schema(window_df.schema).parquet(stream_in)
    t0 = time.time()
    q = incremental_upsert_stream(
        spark, stream, table_path, keys, order_col,
        checkpoint_dir=f"{work}/ckpt",
    )
    q.awaitTermination()
    t1 = time.time()
    # the rows of the files the stream's source log committed: progress
    # numInputRows counts every scan of a micro-batch (its empty check
    # and each upsert action), three times the window here
    drained_files = {
        json.loads(line)["path"]
        for log in Path(f"{work}/ckpt/sources/0").glob("[0-9]*")
        for line in log.read_text().splitlines()[1:]
    }
    drained = spark.read.parquet(*drained_files).count() if drained_files else 0
    n_window = spark.read.parquet(stream_in).count()
    if drained == 0 and n_window:
        raise RuntimeError(
            f"streaming_drain processed 0 rows; the window file holds {n_window}"
        )
    record("streaming_drain", t1 - t0, drained)
    audit_stage("streaming_drain", t0, t1, drained)

    # ---- stage 5: analytics over the STAGED table (bucketed layout)
    staged = spark.read.parquet(table_path)
    t0 = time.time()
    newest = staged.groupBy("user_id").agg(
        F.max_by("etype_clean", F.col("ts")).alias("last_type"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value_dec").alias("total_value"),
    )
    n_users = newest.count()
    hourly = staged.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "etype_clean"
    ).agg(F.count(F.lit(1)).alias("n"), F.avg("value_dec").alias("avg_value"))
    n_hours = hourly.count()
    record("analytics", time.time() - t0, n_users + n_hours)

    audit_rows = [r.asDict() for r in
                  audit.runs().orderBy("started_at").collect()]
    if len(audit_rows) != 4:
        raise RuntimeError(
            f"the run's audit holds {len(audit_rows)} rows; want 4, one for "
            "each of full_load, incremental, replay and streaming_drain")
    out = {
        "metric": "pipeline_e2e",
        "sf_dir": sf_dir,
        "budget_s": BUDGET_S,
        # measured after the timed stages, so they stay cold-start timings
        **host_stamps(spark),
        "stages": stages,
        "total_seconds": round(sum(s["seconds"] for s in stages.values()), 3),
        "any_over_budget": any(s["over_budget"] for s in stages.values()),
        "audit_runs": [
            {k: (str(v) if k in ("started_at", "finished_at") else v)
             for k, v in r.items()
             if k in ("source_name", "status", "records_loaded",
                      "duration_s", "over_budget")}
            for r in audit_rows
        ],
    }
    shutil.rmtree(work, ignore_errors=True)
    line = json.dumps(out)
    if out_file:
        with open(out_file, "w") as f:
            f.write(line + "\n")
    print(line)


if __name__ == "__main__":
    main()
