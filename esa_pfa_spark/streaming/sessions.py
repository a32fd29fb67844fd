"""Session windows — batch and streaming forms of gap-based sessionization.

``F.session_window(ts, gap)`` is Spark's native dynamic-gap session
operator; in batch it must agree with the engine's explicit window-spec
``sessionize`` (cross-checked in tests), and in streaming it composes with
a watermark for late-data handling (the reference's tolerance bounds,
FindPatchPairs.java:148-150, are the batch ancestor of this watermark)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from esa_pfa_spark.functions.time import seconds


def _gap_str(gap) -> str:
    return f"{int(seconds(gap))} seconds"


def session_window_agg(df: DataFrame, key: str, ts: str, gap, value: str | None = None) -> DataFrame:
    """One row per (key, session window): bounds + count (+ value stats).
    Works identically on batch DataFrames and streams."""
    aggs = [F.count(F.lit(1)).cast("int").alias("session_len")]
    if value is not None:
        aggs += [F.avg(value).alias("session_mean"), F.sum(value).alias("session_sum")]
    out = df.groupBy(key, F.session_window(F.col(ts), _gap_str(gap)).alias("w")).agg(*aggs)
    return out.select(
        key,
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        *[c for c in out.columns if c not in (key, "w")],
    )


def stream_session_counts(stream_df: DataFrame, key: str, ts: str, gap,
                          watermark: str = "1 hour") -> DataFrame:
    """Streaming sessionization: watermark bounds state retention, session
    windows close once the watermark passes gap after the last event."""
    return session_window_agg(
        stream_df.withWatermark(ts, watermark), key, ts, gap
    )
