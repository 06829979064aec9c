"""The one micro-batch skeleton every stream in this package starts through.

``start_batches`` is the only place a stream is bound to
``foreachBatch``, checkpointed and triggered. The trigger is always
``availableNow``: drain what has arrived, then stop. The reference's
15-minute cadence (dags/incremental_etl_dag.py's cron) is the scheduler
re-running that drain, so no stream function carries a trigger option.

The streams that land per-batch outputs (quality scores, token counts,
span dedup) share one layout: ``<work_dir>/<name>.parquet/batch=<id>/``,
overwritten whole by a replayed batch id and read back with
``basePath`` so ``batch`` comes back as a column.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def start_batches(
    stream: DataFrame,
    apply_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str | None = None,
):
    """Start ``stream`` with ``apply_batch(batch_df, batch_id)`` run on
    every non-empty micro-batch; returns the StreamingQuery."""

    def run(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            apply_batch(batch_df, batch_id)

    writer = stream.writeStream.foreachBatch(run).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.trigger(availableNow=True).start()


def batch_root(work_dir: str, name: str) -> str:
    return f"{work_dir.rstrip('/')}/{name}.parquet"


def batch_dir(work_dir: str, name: str, batch_id: int) -> str:
    return f"{batch_root(work_dir, name)}/batch={batch_id}"


def write_batch(df: DataFrame, work_dir: str, name: str, batch_id: int) -> None:
    df.write.mode("overwrite").parquet(batch_dir(work_dir, name, batch_id))


def read_batches(spark: SparkSession, work_dir: str, name: str) -> DataFrame:
    """Every batch directory of ``name`` written so far, with ``batch``."""
    root = batch_root(work_dir, name)
    return spark.read.option("basePath", root).parquet(f"{root}/batch=*")
