"""Custom stateful streaming operator: streaming forward-fill / last-value
carry via ``applyInPandasWithState``.

This is the streaming form of the engine's as-of core (W4 / J1 backward
direction): per key, remember the latest observation's (ts, value) in
state; for every incoming micro-batch row emit the last value at or
before it within tolerance — the reference's tolerance-bounded pairing
lateness analog (pfa-bitemp-fex/.../FindPatchPairs.java:148-150).

State lifetime: the WATERMARK bounds late *input*, not state.  State is
one (ts, value) row per key; with ``tolerance=None`` it is O(all keys
ever seen) and never evicted (NoTimeout).  With a tolerance set, idle
keys are evicted via EventTimeTimeout once the watermark passes
``last_ts + tolerance`` — a key whose carried value can no longer satisfy
the tolerance for any non-late row holds no state.

Late-data approximation (state-limited, documented): rows within the
watermark but OLDER than the key's retained last observation cannot be
matched exactly (only the newest observation is kept, not the history);
they emit null rather than a FUTURE value — 'last value at or before'
is never violated.  Exact late handling is the batch path's job
(deterministic re-runs from the checkpoint manifest).

Batch parity: on a static frame the same semantics are ``windows.ffill``
(tested side by side).
"""

from __future__ import annotations

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
        T.StructField("last_value", T.DoubleType(), True),
        T.StructField("last_ts", T.TimestampType(), True),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_ts_us", T.LongType(), True),
        T.StructField("last_value", T.DoubleType(), True),
    ]
)


def make_ffill_fn(tolerance=None):
    """Build the (key, batches, state) -> batches function for
    ``applyInPandasWithState``.  Kept module-level and closure-light so it
    pickles cleanly to executors."""
    tol_us = None if tolerance is None else int(seconds(tolerance) * 1e6)

    def ffill_state(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        if state.hasTimedOut:
            # EventTimeTimeout fired: the watermark passed last_ts+tolerance,
            # so no future non-late row can match this key's carried value
            state.remove()
            return
        if state.exists:
            last_ts_us, last_value = state.get
        else:
            last_ts_us, last_value = None, None
        for pdf in pdfs:
            pdf = pdf.sort_values("ts", kind="mergesort")
            out_last_v, out_last_ts = [], []
            for ts, val in zip(pdf["ts"], pdf["value"]):
                ts_us = int(pd.Timestamp(ts).value // 1000)
                if not pd.isna(val):
                    last_ts_us, last_value = ts_us, float(val)
                # 'last value AT OR BEFORE ts': a late row older than the
                # retained state (ts_us < last_ts_us, possible across
                # micro-batches under the watermark) must NOT be filled
                # with that future value — emit null (state keeps only the
                # newest observation; see module docstring)
                in_tol = (
                    last_ts_us is not None
                    and last_ts_us <= ts_us
                    and (tol_us is None or ts_us - last_ts_us <= tol_us)
                )
                out_last_v.append(last_value if in_tol else None)
                out_last_ts.append(
                    pd.Timestamp(last_ts_us * 1000) if in_tol else pd.NaT
                )
            yield pd.DataFrame(
                {
                    "key": key[0],
                    "ts": pdf["ts"],
                    "value": pdf["value"],
                    "last_value": out_last_v,
                    "last_ts": out_last_ts,
                }
            )
        state.update((last_ts_us, last_value))
        if tol_us is not None and last_ts_us is not None:
            # evict once the watermark passes the last point this key's
            # state could still answer within tolerance; clamped 1ms past
            # the current watermark (Spark rejects timeouts at or before
            # it — possible when a probe-only batch leaves last_ts stale)
            target_ms = (last_ts_us + tol_us) // 1000
            state.setTimeoutTimestamp(max(target_ms, state.getCurrentWatermarkMs() + 1))

    return ffill_state


def stream_ffill(
    stream_df: DataFrame,
    key: str = "key",
    ts: str = "ts",
    value: str = "value",
    tolerance=None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming last-value carry-forward per key.  Input stream needs
    (key, ts, value); value rows with null are probes (carry only).
    With a tolerance, idle-key state is evicted by EventTimeTimeout when
    the watermark passes last_ts + tolerance; without one, state is
    O(all keys ever seen) — see module docstring."""
    renamed = stream_df.selectExpr(
        f"{key} as key", f"{ts} as ts", f"cast({value} as double) as value"
    ).withWatermark("ts", watermark)
    timeout = (
        GroupStateTimeout.NoTimeout
        if tolerance is None
        else GroupStateTimeout.EventTimeTimeout
    )
    return (
        renamed.groupBy("key")
        .applyInPandasWithState(
            make_ffill_fn(tolerance),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=timeout,
        )
    )
