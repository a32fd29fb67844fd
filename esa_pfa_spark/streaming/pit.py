"""Streaming point-in-time window aggregation: for EVERY incoming event,
emit the key's count / exact-ish sum / mean / last over the half-open
window ``(ts - window, ts]`` — the ingest-time form of
``operators.pit.pit_window_agg`` (feature serving at event time).

State per key: the observations inside the trailing window of the
newest timestamp seen — bounded by events-per-window, pruned on every
batch, and evicted entirely by EventTimeTimeout once the watermark
passes ``last_ts + window`` (an idle key's state can never again serve a
non-late event).

Late-data semantics (state-limited, same division of labor as
streaming/stateful.py): a row within the watermark but older than the
pruned state computes its aggregate over WHAT REMAINS of its window in
state — a lower bound, never a leak (no future row enters: rows later
than the probe's own ts are excluded per row).  Exact history-complete
aggregates are the batch path's job.

Batch parity (tested): a single-batch stream equals pit_window_agg with
probes = the observation rows themselves.
"""

from __future__ import annotations

import datetime as _dt
from typing import Any, Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from esa_pfa_spark.functions.time import seconds

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("n_win", T.LongType(), False),
        T.StructField("sum_win", T.DoubleType(), True),
        T.StructField("mean_win", T.DoubleType(), True),
        T.StructField("last_val", T.DoubleType(), True),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("ts_us", T.ArrayType(T.LongType()), True),
        T.StructField("vals", T.ArrayType(T.DoubleType()), True),
    ]
)


def make_pit_fn(window) -> Any:
    win_us = int(seconds(window) * 1e6)

    def update(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            ts_us, vals = state.get
            hist = list(zip(ts_us, vals))
        else:
            hist = []
        for pdf in pdfs:
            pdf = pdf.sort_values("ts", kind="mergesort")
            out_rows = []
            for ts, val in zip(pdf["ts"], pdf["value"]):
                t_us = int(pd.Timestamp(ts).value // 1000)
                if not pd.isna(val):
                    hist.append((t_us, float(val)))
                    # keep insertion sorted under late arrivals
                    if len(hist) > 1 and hist[-2][0] > t_us:
                        hist.sort(key=lambda p: p[0])
                in_win = [
                    (u, v) for u, v in hist if t_us - win_us < u <= t_us
                ]
                n = len(in_win)
                s = sum(v for _, v in in_win) if n else None
                out_rows.append(
                    (
                        key[0], ts, None if pd.isna(val) else float(val),
                        n, s, (s / n) if n else None,
                        in_win[-1][1] if n else None,
                    )
                )
            yield pd.DataFrame(
                out_rows,
                columns=["key", "ts", "value", "n_win", "sum_win", "mean_win", "last_val"],
            )
        # prune: only rows inside the newest timestamp's window can serve
        # a future non-late event
        if hist:
            newest = max(u for u, _ in hist)
            hist = [(u, v) for u, v in hist if newest - win_us < u]
            state.update(([u for u, _ in hist], [v for _, v in hist]))
            target_ms = (newest + win_us) // 1000
            state.setTimeoutTimestamp(
                max(target_ms, state.getCurrentWatermarkMs() + 1)
            )

    return update


def stream_pit_window_agg(
    stream_df: DataFrame,
    key: str = "key",
    ts: str = "ts",
    value: str = "value",
    window=_dt.timedelta(hours=1),
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-event PIT window aggregates over a stream (see module
    docstring).  Rows with null ``value`` are probes — they read the
    window without entering it."""
    renamed = stream_df.selectExpr(
        f"{key} as key", f"{ts} as ts", f"cast({value} as double) as value"
    ).withWatermark("ts", watermark)
    return renamed.groupBy("key").applyInPandasWithState(
        make_pit_fn(window),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
