"""Watermarked event-time window aggregation over streams.

The findings-ingest layer deliberately has NO watermark (a late finding
must still lose the latest-per-node comparison — see
``streaming/ingest.py``). Metric rollups are the opposite trade: a
window must CLOSE so results can ship downstream, so lateness needs a
bound. Windows are maintained incrementally by Structured Streaming
state instead of a batch scan.

* ``stream_windowed_stats`` — tumbling or sliding event-time windows
  with a watermark; rows later than the watermark are dropped and the
  window emits exactly once (append mode) when the watermark passes
  its end.

Scale: state per (group x open window) only — the watermark bounds
open windows, so state size is (groups x watermark/slide), independent
of stream length. The aggregate itself is the usual partial-merge hash
agg per micro-batch.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_windowed_stats(
    events: DataFrame,
    ts_col: str = "ts",
    group_cols: Sequence[str] = ("event_type",),
    value_col: str | None = "value",
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming DataFrame (``ts_col`` must be a timestamp) ->
    windowed per-group stats: window_start/window_end, n_events, and
    sum/min/max of ``value_col`` when given. Works identically on a
    batch DataFrame (withWatermark is a no-op there) — the batch twin
    used by the stream/batch agreement test."""
    group_cols = list(group_cols)
    wm = events.withWatermark(ts_col, watermark)
    win = (
        F.window(ts_col, window, slide)
        if slide is not None
        else F.window(ts_col, window)
    )
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value_col is not None:
        aggs += [
            F.sum(F.col(value_col).cast("double")).alias("value_sum"),
            F.min(F.col(value_col).cast("double")).alias("value_min"),
            F.max(F.col(value_col).cast("double")).alias("value_max"),
        ]
    out = wm.groupBy(*group_cols, win.alias("win")).agg(*aggs)
    return out.select(
        *group_cols,
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        *[c for c in out.columns if c not in group_cols + ["win"]],
    )
