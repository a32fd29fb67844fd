"""Streaming exponential time-decay entity state: for EVERY incoming
event, emit the key's recency-weighted (decay_sum, decay_wt, decay_mean)
INCLUDING that event — the ingest-time form of
``operators.pit.decayed_pit_features`` (feature serving at event time,
e.g. "decayed purchase volume as of this click").

Why this is the one aggregate that makes streaming strictly EASIER than
batch: the decayed sum obeys an O(1) recurrence

    s := s * exp(-(t - t_prev)/tau) + v
    w := w * exp(-(t - t_prev)/tau) + 1

so the state per key is THREE scalars (last_ts, s, w) — no window buffer
at all, unlike stream_pit_window_agg's trailing-window list.  The batch
operator must bound its support window to keep the interval join finite;
the stream carries full history exactly (up to float association).

Late-data semantics (state-limited, same division of labor as the other
streaming modules): a row older than the key's newest seen timestamp
contributes ``v * exp(-(t_new - t_late)/tau)`` to the state (its correctly
decayed weight — totals stay exact) and its own EMITTED row reads the
state at the newest timestamp, not at its own (a momentary upper bound;
exact per-event history ordering is the batch path's job).

Eviction: EventTimeTimeout at ``last_ts + cutoff*tau`` — an idle key's
surviving contribution is below e^-cutoff (default e^-40 ~ 4e-18, under
double epsilon), so dropping the state is numerically invisible.
"""

from __future__ import annotations

import datetime as _dt
import math
from typing import Any, Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from esa_pfa_spark.functions.time import seconds

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("n_seen", T.LongType(), False),
        T.StructField("decay_sum", T.DoubleType(), False),
        T.StructField("decay_wt", T.DoubleType(), False),
        T.StructField("decay_mean", T.DoubleType(), False),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_us", T.LongType(), True),
        T.StructField("s", T.DoubleType(), True),
        T.StructField("w", T.DoubleType(), True),
        T.StructField("n", T.LongType(), True),
    ]
)


def make_decay_fn(tau, cutoff: float = 40.0) -> Any:
    tau_s = seconds(tau)
    if tau_s <= 0:
        raise ValueError("tau must be positive")
    timeout_us = int(cutoff * tau_s * 1e6)

    def update(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        last_us, s, w, n = state.get if state.exists else (None, 0.0, 0.0, 0)
        for pdf in pdfs:
            pdf = pdf.sort_values("ts", kind="mergesort")
            out = []
            for ts, val in zip(pdf["ts"], pdf["value"]):
                t_us = int(pd.Timestamp(ts).value // 1000)
                v = 0.0 if pd.isna(val) else float(val)
                if last_us is None or t_us >= last_us:
                    d = 0.0 if last_us is None else (t_us - last_us) / 1e6 / tau_s
                    f = math.exp(-d)
                    s, w = s * f + v, w * f + 1.0
                    last_us = t_us
                else:
                    # late row: fold in with ITS decayed weight at last_us
                    f = math.exp(-(last_us - t_us) / 1e6 / tau_s)
                    s, w = s + v * f, w + f
                n += 1
                out.append(
                    (key[0], ts, None if pd.isna(val) else float(val),
                     n, s, w, s / w)
                )
            yield pd.DataFrame(
                out,
                columns=["key", "ts", "value", "n_seen",
                         "decay_sum", "decay_wt", "decay_mean"],
            )
        state.update((last_us, s, w, n))
        target_ms = (last_us + timeout_us) // 1000
        state.setTimeoutTimestamp(max(target_ms, state.getCurrentWatermarkMs() + 1))

    return update


def stream_decayed_state(
    stream_df: DataFrame,
    key: str = "key",
    ts: str = "ts",
    value: str = "value",
    tau=_dt.timedelta(days=1),
    cutoff: float = 40.0,
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-event decayed entity aggregates over a stream (module
    docstring).  O(1) state per key; EventTimeTimeout eviction once the
    surviving contribution is below e^-cutoff."""
    renamed = stream_df.selectExpr(
        f"{key} as key", f"{ts} as ts", f"cast({value} as double) as value"
    ).withWatermark("ts", watermark)
    return renamed.groupBy("key").applyInPandasWithState(
        make_decay_fn(tau, cutoff=cutoff),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
