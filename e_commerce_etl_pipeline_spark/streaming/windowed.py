"""Event-time streaming aggregation with watermarks, and a custom
stateful operator via applyInPandasWithState.

The reference has no event-time windows (SURVEY §2.8: its only stateful
op is keyed upsert); these are the engine's streaming-native additions:

- ``windowed_counts``: watermarked tumbling-window counts — late data
  beyond the watermark is dropped, state is evicted by the watermark
  (bounded state at any scale).
- ``running_dedup_stream``: first-seen dedup across micro-batches with
  explicit per-key state (the streaming twin of exact_dedup): emits only
  keys never seen before; state = one flag per key, partitioned by key
  so state shards scale with executors.
- ``session_counts``: native session windows (``F.session_window``) —
  gap-based sessionization with watermark-evicted state, the streaming
  twin of the batch ``sessionize_events`` query.
- ``enrich_with_dim``: stream-static broadcast join — per-micro-batch
  dimension enrichment, the streaming form of the batch broadcast-dim
  joins (the static side is re-resolved each micro-batch, so a slowly
  refreshed dim table is picked up without restarting the query).
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def windowed_counts(stream: DataFrame, ts_col: str = "ts",
                    window: str = "1 hour", watermark: str = "2 hours",
                    group_col: str | None = "event_type") -> DataFrame:
    """Watermarked tumbling-window aggregation (append-mode compatible)."""
    groups = [F.window(ts_col, window).alias("w")]
    if group_col:
        groups.append(F.col(group_col))
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(*groups)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"),
                *([group_col] if group_col else []),
                "n_events")
    )


def session_counts(stream: DataFrame, ts_col: str = "ts",
                   gap: str = "30 minutes", watermark: str = "2 hours",
                   key_col: str = "user_id") -> DataFrame:
    """Watermarked session-window aggregation: one row per (key, session),
    where a session closes after ``gap`` of key inactivity. State per key
    is the open session only, evicted once the watermark passes its end —
    bounded regardless of stream length."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("s"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(key_col),
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
        )
    )


def enrich_with_dim(stream: DataFrame, dim: DataFrame,
                    on: str) -> DataFrame:
    """Stream-static join: enrich each micro-batch with a (small) static
    dimension via broadcast hash join — no shuffle of the stream side,
    no streaming state."""
    return stream.join(F.broadcast(dim), on, "left")


DEDUP_OUT_SCHEMA = T.StructType([
    T.StructField("key", T.StringType()),
    T.StructField("first_batch_ts", T.DoubleType()),
])
DEDUP_STATE_SCHEMA = T.StructType([T.StructField("seen", T.BooleanType())])


def _dedup_fn(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
    if state.exists:
        return iter(())
    state.update((True,))
    first_ts = None
    for pdf in pdfs:
        if len(pdf) and first_ts is None:
            first_ts = float(pdf["batch_ts"].iloc[0])
    yield pd.DataFrame({"key": [key[0]], "first_batch_ts": [first_ts]})


def join_streams_interval(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "r_ts",
    within: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream interval join — the attribution shape
    (impression stream ⨝ conversion stream where the conversion lands in
    [impression_ts, impression_ts + ``within``]).

    Both sides carry a watermark and the join condition bounds the event
    times against each other, so Spark derives a state-retention horizon
    for BOTH sides: an impression is dropped from state once no
    in-interval conversion can still arrive (watermark past
    impression_ts + within), a conversion once its candidate impressions
    have aged out. State is bounded at any stream length — the
    requirement for running this on an unbounded 100 TB/day event feed.

    The two inputs must use distinct column names apart from ``key``
    (rename before calling); the join itself is a shuffled equi-join on
    ``key`` with the time bound as a post-filter Spark folds into the
    state lookup."""
    l_wm = left.withWatermark(left_ts, watermark)
    r_wm = right.withWatermark(right_ts, watermark)
    cond = (
        (l_wm[key] == r_wm[key])
        & (r_wm[right_ts] >= l_wm[left_ts])
        & (r_wm[right_ts] <= F.expr(f"{left_ts} + INTERVAL {within}"))
    )
    return l_wm.join(r_wm, cond, "inner").drop(r_wm[key])


def running_dedup_stream(stream: DataFrame, key_col: str) -> DataFrame:
    """Custom stateful operator: emit each key once across the stream's
    lifetime (applyInPandasWithState; update mode). It stays on pandas
    while the other Python kernels run through
    ``extensions.arrow_kernel``: the installed PySpark has no Arrow-batch
    form of a stateful grouped operator (no ``applyInArrowWithState``)."""
    keyed = stream.select(
        F.col(key_col).cast("string").alias("key"),
        F.lit(0.0).alias("batch_ts"),
    ).groupBy("key")
    return keyed.applyInPandasWithState(
        _dedup_fn,
        outputStructType=DEDUP_OUT_SCHEMA,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
