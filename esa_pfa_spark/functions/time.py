"""Timestamp arithmetic that works for both TIMESTAMP (LTZ) and
TIMESTAMP_NTZ columns.

Parquet written by other engines typically loads as TIMESTAMP_NTZ in
Spark 4, which cannot be cast to double.  ``ts_diff_us`` uses
``timestampdiff`` — exact to the microsecond and timezone-independent
(wall-clock diff for NTZ, instant diff for LTZ), so tolerance and gap
comparisons never depend on the session timezone.  ``epoch_s`` is for
*bucketing only* (absolute epoch; for NTZ it interprets wall time in the
session TZ — fine for grouping boundaries, not for cross-engine deltas).
``seconds`` is the one reading of a duration argument.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Column
from pyspark.sql import functions as F


def ts_diff_us(end_col: str, start_col: str) -> Column:
    """Microseconds from start to end (column NAMES, not Column objects)."""
    return F.expr(f"timestampdiff(MICROSECOND, {start_col}, {end_col})")


def epoch_s(col: Column) -> Column:
    """Epoch seconds as double (session-TZ-dependent for NTZ; bucketing only)."""
    return col.cast("timestamp_ltz").cast("double")


def seconds(d) -> float:
    """A duration argument (a ``timedelta`` or a number of seconds) in seconds."""
    return d.total_seconds() if isinstance(d, _dt.timedelta) else float(d)
