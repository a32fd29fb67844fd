"""Tumbling-window throughput/rate monitoring — batch and streaming forms.

The ingest-rate dashboard every production pipeline hangs off its stream:
events (or token batches) per fixed wall-clock window, per key.  One
operator body serves both engines: ``F.window`` is the native tumbling
window, identical in batch and Structured Streaming; the streaming form
adds a watermark so state for closed windows is evicted (bounded state —
windows close once the watermark passes their end).

Scale shape: groupBy((key, window)) is a plain hash agg with map-side
partials; window ids are derived map-side from the timestamp (no explode,
no join).  Hot windows (everything in the last 5 min is ONE window key
per event-type) are exactly the partial-agg-friendly shape: combiners
collapse per-partition before the shuffle.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from esa_pfa_spark.functions.time import seconds


def _width_str(width) -> str:
    return f"{int(seconds(width))} seconds"


def tumbling_rate(
    df: DataFrame,
    ts: str = "ts",
    key: str | None = None,
    width=_dt.timedelta(minutes=5),
    value: str | None = None,
) -> DataFrame:
    """Events per tumbling window (per key): window bounds, count, and
    optional value sum.  Windows align to the UTC epoch (session tz is
    UTC — session.py)."""
    keys = ([key] if key else []) + [F.window(F.col(ts), _width_str(width)).alias("w")]
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value is not None:
        aggs.append(F.round(F.sum(value), 6).alias("sum_value"))
    out = df.groupBy(*keys).agg(*aggs)
    return out.select(
        *([key] if key else []),
        F.col("w.start").alias("w_start"),
        F.col("w.end").alias("w_end"),
        *[c for c in out.columns if c not in (key, "w")],
    )


def stream_tumbling_rate(
    stream_df: DataFrame,
    ts: str = "ts",
    key: str | None = None,
    width=_dt.timedelta(minutes=5),
    value: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming form: the watermark bounds how late an event may arrive
    AND evicts window state once no on-time event can still land in it.
    Append-mode emits each window exactly once, when it closes."""
    return tumbling_rate(
        stream_df.withWatermark(ts, watermark), ts=ts, key=key, width=width, value=value
    )
