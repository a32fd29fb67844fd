"""Tolerance-bounded temporal pairing with non-reuse semantics, plus
n-sphere pair features.

Parity target: FindPatchPairs.java:57-76 — a two-pointer sweep over the
time-sorted observations of one key: advance the right pointer while
``dt < min_tol``, stop the window when ``dt > max_tol``, and on a match
emit the pair and CONSUME BOTH elements (the scan resumes after the right
element).  "Consume both" makes this stateful-sequential per key — not
expressible as a SQL join — so it runs as a per-entity numpy sweep inside
``applyInPandas`` (SURVEY.md §2.3 J1, §7 step 4).

The secondary predicate (J2: mask-overlap ratio >= 0.2,
FindPatchPairs.java:93-130 / MaskStats.java:43-65) is reproduced over
token arrays: the fraction of aligned positions where BOTH tokens are
nonzero mod 7.  Pair features are the n-sphere decomposition of a
4-component difference vector (SpectralFeaturesOp.java:86-141):
magnitude = sqrt(sum d_i^2); angle_i = acos(d_i / sqrt(sum_{j>=i} d_j^2));
the last angle is reflected to 2*pi - angle when the final component is
negative (SpectralFeaturesOp.java:129-135 semantics).

``interval_pairs`` is the SQL-expressible *with-reuse* variant (a plain
conditional self-join) used for oracle cross-checking.
"""

from __future__ import annotations

import datetime as _dt
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from esa_pfa_spark.functions.time import epoch_s, seconds, ts_diff_us
from esa_pfa_spark.schema import PAIRS_SCHEMA


def two_pointer_pairs(ts_us: np.ndarray, min_tol_us: int, max_tol_us: int) -> list[tuple[int, int]]:
    """The non-reuse sweep over a sorted int64 timestamp array.
    Returns (i1, i2) index pairs."""
    out: list[tuple[int, int]] = []
    n = len(ts_us)
    i1 = 0
    while i1 < n - 1:
        i2 = i1 + 1
        matched = False
        while i2 < n:
            dt = ts_us[i2] - ts_us[i1]
            if dt < min_tol_us:
                i2 += 1
                continue
            if dt > max_tol_us:
                break
            out.append((i1, i2))
            matched = True
            break
        i1 = i2 + 1 if matched else i1 + 1
    return out


def overlap_ratio(a: np.ndarray, b: np.ndarray) -> float:
    """Fraction of aligned positions (over the shorter array) where both
    tokens are nonzero mod 7 — the MaskStats.countPixels(roi1, roi2) analog."""
    m = min(a.size, b.size)
    if m == 0:
        return 0.0
    return float(np.count_nonzero((a[:m] % 7 != 0) & (b[:m] % 7 != 0)) / m)


def nsphere(d: np.ndarray) -> tuple[float, list[float]]:
    """n-sphere decomposition of vector d (len n) -> (magnitude, n-1 angles)."""
    sq = d.astype(np.float64) ** 2
    # tail sums: sum_{j>=i} d_j^2
    tail = np.sqrt(np.cumsum(sq[::-1])[::-1])
    mag = float(tail[0])
    angles = []
    for i in range(len(d) - 1):
        denom = tail[i]
        ang = float(np.arccos(np.clip(d[i] / denom, -1.0, 1.0))) if denom > 0 else 0.0
        angles.append(ang)
    if len(d) >= 2 and d[-1] < 0:
        angles[-1] = 2 * np.pi - angles[-1]
    return mag, angles


def pair_feature_row(t1: np.ndarray, t2: np.ndarray, n1: int, n2: int, ov: float) -> tuple:
    """4-component pair difference vector -> (magnitude, angle_1..3)."""
    a1 = t1.astype(np.float64)
    a2 = t2.astype(np.float64)
    d = np.array(
        [
            a2.mean() - a1.mean(),
            (a2.std(ddof=1) if a2.size > 1 else 0.0) - (a1.std(ddof=1) if a1.size > 1 else 0.0),
            float(n2 - n1),
            ov - 0.5,
        ]
    )
    mag, angles = nsphere(d)
    return mag, angles[0], angles[1], angles[2]


def find_pairs(
    observations: DataFrame,
    key: str = "entity_id",
    ts: str = "ts",
    min_tol=_dt.timedelta(days=1),
    max_tol=_dt.timedelta(days=7),
    min_overlap: float = 0.2,
    chunk=None,
) -> DataFrame:
    """Distributed FindPatchPairs: per-entity two-pointer sweep + overlap
    filter + n-sphere pair features.

    Hot-key splitting (``chunk``):
      * ``chunk="session"`` — EXACT parallel decomposition.  The sweep's
        pointer state resets whenever a gap exceeds ``max_tol`` (the
        window-reset branch, FindPatchPairs.java:148-150): no pair crosses
        such a gap and the left pointer enters the next run fresh.  So
        slicing each entity at >``max_tol`` gaps (sessionization) yields
        independent groups whose concatenated output is identical to the
        global sweep.  A single dense run is irreducibly sequential — the
        consume-both state makes that inherent to the semantics.
      * ``chunk=<timedelta>`` (must be >= max_tol) — APPROXIMATE fixed
        time-window slicing with one-window overlap for unbounded dense
        runs: every emitted pair satisfies all pair invariants (dt within
        tolerance, non-reuse within its slice) but the non-reuse *phase*
        after a slice boundary may differ from the global sweep.
    """
    min_us = int(seconds(min_tol) * 1e6)
    max_us = int(seconds(max_tol) * 1e6)

    obs = observations.select(key, ts, "doc_id", "tokens", "n_tok")

    def sweep(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts, kind="mergesort").reset_index(drop=True)
        ts_us = pdf[ts].to_numpy(dtype="datetime64[us]").astype("int64")
        rows = []
        for i1, i2 in two_pointer_pairs(ts_us, min_us, max_us):
            t1 = np.asarray(pdf["tokens"].iloc[i1], dtype=np.int64)
            t2 = np.asarray(pdf["tokens"].iloc[i2], dtype=np.int64)
            ov = overlap_ratio(t1, t2)
            if ov < min_overlap:
                continue
            mag, a1, a2, a3 = pair_feature_row(
                t1, t2, int(pdf["n_tok"].iloc[i1]), int(pdf["n_tok"].iloc[i2]), ov
            )
            rows.append(
                (
                    pdf[key].iloc[0],
                    pdf[ts].iloc[i1],
                    pdf[ts].iloc[i2],
                    pdf["doc_id"].iloc[i1],
                    pdf["doc_id"].iloc[i2],
                    ov,
                    mag,
                    a1,
                    a2,
                    a3,
                )
            )
        return pd.DataFrame(rows, columns=[f.name for f in PAIRS_SCHEMA.fields])

    if chunk is None:
        return obs.groupBy(key).applyInPandas(sweep, schema=PAIRS_SCHEMA)

    if chunk == "session":
        # exact: split at gaps > max_tol (window-reset boundaries)
        from esa_pfa_spark.operators.windows import sessionize

        sess = sessionize(
            obs, key=key, ts=ts, gap=max_tol, session_col="__sess", with_stats=False
        )

        def sweep_sess(pdf: pd.DataFrame) -> pd.DataFrame:
            return sweep(pdf.drop(columns=["__sess"]))

        return sess.groupBy(key, "__sess").applyInPandas(sweep_sess, schema=PAIRS_SCHEMA)

    chunk_s = seconds(chunk)
    if chunk_s < seconds(max_tol):
        raise ValueError("chunk must be >= max_tol")
    chunk_us = int(chunk_s * 1e6)
    base = F.floor(epoch_s(F.col(ts)) * 1e6 / chunk_us).cast("long")
    # each row carries its OWN chunk id so the pandas side never recomputes
    # epoch (keeps slice ownership consistent with the Spark-side bucketing)
    sliced = obs.withColumn("__own", base).withColumn(
        "__chunk", F.explode(F.array(base, base - F.lit(1)))
    )

    def sweep_sliced(keys: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        chunk_id = int(keys[1])
        own = pdf["__own"].to_numpy()
        pdf2 = pdf.drop(columns=["__own", "__chunk"]).reset_index(drop=True)
        order = pdf2[ts].argsort(kind="stable").to_numpy()
        own_sorted = own[order]
        res = sweep(pdf2)
        if len(res) == 0:
            return res
        # left element must belong to the owning slice (no duplicate emission)
        ts_sorted = pdf2[ts].iloc[order].reset_index(drop=True)
        pos = {v: i for i, v in enumerate(ts_sorted)}
        keep = [own_sorted[pos[t]] == chunk_id for t in res["ts1"]]
        return res[pd.Series(keep, index=res.index)]

    return sliced.groupBy(key, "__chunk").applyInPandas(sweep_sliced, schema=PAIRS_SCHEMA)


def interval_pairs(
    observations: DataFrame,
    key: str = "entity_id",
    ts: str = "ts",
    id_col: str = "doc_id",
    min_tol=_dt.timedelta(days=1),
    max_tol=_dt.timedelta(days=7),
) -> DataFrame:
    """SQL-expressible *with-reuse* interval pairing: every (earlier, later)
    pair with dt in [min_tol, max_tol] — a conditional self-join Catalyst
    plans as a range join.  Superset of the two-pointer output; used for
    cross-checks and as the DuckDB-oracle-comparable variant."""
    min_s, max_s = seconds(min_tol), seconds(max_tol)
    l = observations.select(
        F.col(key), F.col(ts).alias("ts1"), F.col(id_col).alias(f"{id_col}1")
    )
    r = observations.select(
        F.col(key).alias("__k2"), F.col(ts).alias("ts2"), F.col(id_col).alias(f"{id_col}2")
    )
    dt = ts_diff_us("ts2", "ts1")
    return (
        l.join(
            r,
            (F.col(key) == F.col("__k2"))
            & (dt >= int(min_s * 1e6))
            & (dt <= int(max_s * 1e6)),
        )
        .drop("__k2")
        .select(key, "ts1", "ts2", f"{id_col}1", f"{id_col}2")
    )


def interval_pairs_bucketed(
    observations: DataFrame,
    key: str = "entity_id",
    ts: str = "ts",
    id_col: str = "doc_id",
    min_tol=_dt.timedelta(days=1),
    max_tol=_dt.timedelta(days=7),
) -> DataFrame:
    """``interval_pairs`` with time-bucketed join keys — the band-join
    scale path.  Joining only on ``key`` makes a hot key's task O(n_k²);
    bucketing both sides by ``floor(epoch/max_tol)`` and exploding the
    RIGHT side into (bucket, bucket-1) turns the band join into an
    equi-join on (key, bucket): any in-band pair spans at most one bucket
    boundary, each pair meets on exactly one tag (the two tags differ),
    and per-task work drops to O(rows-per-bucket²).  Output is identical
    to ``interval_pairs`` (tested)."""
    min_s, max_s = seconds(min_tol), seconds(max_tol)
    # ceil, not truncate: with a fractional max_tol (e.g. 1.5s) a truncated
    # width w < max_s lets an in-band pair span TWO bucket boundaries, so
    # neither of the right side's {b, b-1} tags meets it — silent drops.
    # Negative min_tol (ts2 < ts1) would likewise need extra bucket tags;
    # the plain band join supports it, this decomposition does not.
    if min_s < 0:
        raise ValueError(
            "interval_pairs_bucketed requires min_tol >= 0 (only buckets "
            "{b, b-1} are exploded); use interval_pairs for negative bounds"
        )
    w = max(math.ceil(max_s), 1)
    l = observations.select(
        F.col(key), F.col(ts).alias("ts1"), F.col(id_col).alias(f"{id_col}1"),
        F.floor(epoch_s(F.col(ts)) / w).alias("__bk1"),
    )
    b2 = F.floor(epoch_s(F.col(ts)) / w)
    r = observations.select(
        F.col(key).alias("__k2"), F.col(ts).alias("ts2"), F.col(id_col).alias(f"{id_col}2"),
        F.explode(F.array(b2, b2 - 1)).alias("__bk2"),
    )
    dt = ts_diff_us("ts2", "ts1")
    return (
        l.join(
            r,
            (F.col(key) == F.col("__k2"))
            & (F.col("__bk1") == F.col("__bk2"))
            & (dt >= int(min_s * 1e6))
            & (dt <= int(max_s * 1e6)),
        )
        .select(key, "ts1", "ts2", f"{id_col}1", f"{id_col}2")
    )
