"""Point-in-time windowed aggregation features ("aggregation features" in
feature-store terms): for each probe (key, query_ts), aggregate the
observations in the half-open window ``(query_ts - window, query_ts]`` —
count / exact sum / mean / last value, or exponentially time-decayed
sums — with zero temporal leakage.

This extends the engine's as-of core (operators/asof.py, the reference's
tolerance-bounded pairing FindPatchPairs.java:57-76) from "latest single
observation" to "window aggregate at probe time".

Two plans, one per pattern; each single-window / single-tau operator is
the one-entry case of its multi form:

* ``_cum_fill`` — difference of cumulatives over ONE fused fill
  (``pit_multi_window_agg``; ``pit_window_agg`` is it over one window,
  reading the last-value carry as well).
* ``decayed_pit_features_multi`` — one bucketed band join
  (``decayed_pit_features`` is it over one tau); ``decayed_pit_auto``
  sends hot keys to the prefix-sum ``decayed_pit_pandas`` through
  ``skew.route_hot_keys``.

Difference of cumulatives:

  A naive interval join materializes O(|probes| x obs-per-window) pairs
  before aggregating; at 10^12 observations with dense windows that is the
  dominant cost.  Instead each probe is numbered once and exploded into
  one start boundary row per window (kind i at ``query_ts - window_i``)
  plus ONE shared end row (at ``query_ts``), unioned with the observation
  stream, and a single cumulative window per key (``order by ts, tag,
  tiebreak rows unbounded preceding``) computes the running (count,
  decimal-exact sum) that each boundary row reads off.
  ``agg_at(end) - agg_at(start_i)`` is window i's aggregate.  Cost: ONE
  Exchange total (plan-asserted) — the fill hash-partitions by the key,
  and the closing per-probe hash aggregation groups by the key and the
  probe's number, so its ClusteredDistribution is satisfied without a
  re-shuffle.  Independent of window density and of the window count:
  the same shape at any scale.

  Sums accumulate as decimal(18,6) (order-independent exact addition) so
  the difference-of-cumulatives is bit-equal to a direct sum over the
  window set — double cumsums would make the result depend on out-of-window
  history.

  "last value in window" rides the same fill: the as-of struct carry
  (asof.py's atomic-payload pattern) evaluated at the end row, valid when
  the window count is positive (count arithmetic, not a ts comparison,
  so collided timestamps at the start boundary stay exact).  A caller
  that does not read it pays nothing: column pruning drops the unread
  window expression and its payload struct.

Boundary/tie semantics (mirrored by the oracle SQL):
  * window is ``(query_ts - window, query_ts]`` — inclusive end, exclusive
    start; an observation at exactly ``query_ts`` counts.
  * observations tie-break by ``tiebreak`` (required for a deterministic
    "last" when timestamps collide); boundary rows sort AFTER equal-ts
    observations (tag order), giving the inclusive-end / exclusive-start
    arithmetic above.

Min/max are NOT subtractable aggregates — they cannot ride this plan; use
``pairing.interval_pairs_bucketed`` + groupBy for those (documented trade:
O(pairs) work, bucket-bounded tasks).  Neither are per-term-rounded
decayed sums, hence the band join.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from esa_pfa_spark.functions.time import epoch_s, seconds, ts_diff_us
from esa_pfa_spark.skew import route_hot_keys


def _cum_fill(probes, observations, windows, on, probe_ts, obs_ts, value, tiebreak):
    """The one difference-of-cumulatives plan.  Returns the per-probe
    rows (keys, probe_ts, probe columns, ``n_<name>``, ``__s_<name>``,
    ``__last`` = the latest struct(mts, mval) at or before ``probe_ts``)
    and the public output columns ``(on, probe-cols, probe_ts, n_<name>,
    sum_<name>, mean_<name> ...)``."""
    if not windows:
        raise ValueError("windows must be non-empty")
    names = list(windows)
    w_us = {}
    for nme, w in windows.items():
        s = seconds(w)
        if s <= 0:
            raise ValueError(f"window {nme} must be positive")
        w_us[nme] = int(s * 1e6)
    keys = [on] if isinstance(on, str) else list(on)
    probe_cols = [c for c in probes.columns if c not in keys + [probe_ts]]

    _TS, _TAG, _TIE = "__pit_ts", "__pit_tag", "__pit_tie"
    _N, _S, _PAY, _K, _Q = "__pit_n", "__pit_s", "__pit_pay", "__pit_kind", "__pit_qts"
    _ID = "__pit_id"

    tie_col = (
        F.col(tiebreak).cast("double") if tiebreak else F.col(value).cast("double")
    )
    # a NULL key joins nothing (the oracle's equi-join), so NULL-key
    # observations must not share a fill partition with NULL-key probes
    obs_side = observations.dropna(subset=keys).select(
        *keys,
        F.col(obs_ts).alias(_TS),
        F.lit(0).alias(_TAG),
        tie_col.alias(_TIE),
        F.lit(1).cast("long").alias(_N),
        F.col(value).cast("decimal(18,6)").alias(_S),
        F.struct(
            F.col(obs_ts).alias("mts"), F.col(value).cast("double").alias("mval")
        ).alias(_PAY),
    )

    # kind i = start boundary of windows[names[i]]; kind len(names) = the
    # SHARED end boundary (cum at query_ts serves every horizon).  Every
    # kind comes from ONE read of the numbered probes, so all of a probe's
    # boundary rows carry the same id and identical probe rows stay apart.
    # The id gets its own projection: beside the generator it would be
    # drawn once per boundary row instead of once per probe.
    end_k = len(names)
    bounds = [
        F.struct(
            F.lit(i).alias(_K),
            (F.col(probe_ts) - F.expr(f"INTERVAL {w_us[nme]} MICROSECOND")).alias(_TS),
        )
        for i, nme in enumerate(names)
    ] + [F.struct(F.lit(end_k).alias(_K), F.col(probe_ts).alias(_TS))]
    boundaries = probes.withColumn(_ID, F.monotonically_increasing_id()).select(
        *keys,
        _ID,
        *[F.col(c).alias(f"__p_{c}") for c in probe_cols],
        F.col(probe_ts).alias(_Q),
        F.lit(1).alias(_TAG),
        F.lit(0).cast("long").alias(_N),
        F.lit("0").cast("decimal(18,6)").alias(_S),
        F.inline(F.array(*bounds)),
    )
    # the columns one side lacks are NULL on it (no tiebreak or payload
    # on boundary rows, no kind or probe columns on observations)
    unioned = obs_side.unionByName(boundaries, allowMissingColumns=True)

    # one cumulative pass: equal-ts observations sort before boundary rows
    # (tag), so the end boundary reads an INCLUSIVE cum and a start
    # boundary's cum still contains an obs at exactly (query_ts - window),
    # which the difference then removes — the half-open window.
    w_cum = (
        Window.partitionBy(*keys)
        .orderBy(F.col(_TS).asc(), F.col(_TAG).asc(), F.col(_TIE).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = (
        unioned.select(
            *keys,
            F.col(_K),
            F.col(_ID),
            F.col(_Q),
            F.sum(_N).over(w_cum).alias("__cn"),
            F.sum(_S).over(w_cum).alias("__cs"),
            F.last(_PAY, ignorenulls=True).over(w_cum).alias("__last"),
            *[F.col(f"__p_{c}") for c in probe_cols],
        )
        .filter(F.col(_K).isNotNull())
    )

    def at(kind: int, c: str):
        return F.max(F.when(F.col(_K) == kind, F.col(c)))

    aggs = [F.first(F.when(F.col(_K) == end_k, F.col("__last")), ignorenulls=True).alias("__last")]
    for i, nme in enumerate(names):
        aggs.append((at(end_k, "__cn") - at(i, "__cn")).alias(f"n_{nme}"))
        aggs.append((at(end_k, "__cs") - at(i, "__cs")).alias(f"__s_{nme}"))
    picked = filled.groupBy(
        *keys, _ID, F.col(_Q).alias(probe_ts),
        *[F.col(f"__p_{c}").alias(c) for c in probe_cols],
    ).agg(*aggs)

    out_cols = [*keys, *probe_cols, probe_ts]
    for nme in names:
        n_c = F.col(f"n_{nme}")
        s_c = F.col(f"__s_{nme}").cast("double")
        out_cols.append(n_c.alias(f"n_{nme}"))
        out_cols.append(F.when(n_c > 0, s_c).alias(f"sum_{nme}"))
        out_cols.append(F.when(n_c > 0, s_c / n_c).alias(f"mean_{nme}"))
    return picked, out_cols


def pit_window_agg(
    probes: DataFrame,
    observations: DataFrame,
    on: str = "entity_id",
    probe_ts: str = "query_ts",
    obs_ts: str = "ts",
    value: str = "value",
    tiebreak: str | None = None,
    window=_dt.timedelta(days=7),
) -> DataFrame:
    """Windowed PIT aggregates per probe row: ``pit_multi_window_agg``
    over the one window ``{"win": window}``, plus the last value.

    Returns one row per probe: ``(on, probe-cols, probe_ts, n_win, sum_win,
    mean_win, last_val, last_ts)`` where the aggregates cover observations
    with ``probe_ts - window < obs_ts <= probe_ts``.  ``tiebreak`` (an
    observation column, e.g. its event id) makes ``last_val`` deterministic
    under timestamp collisions; without it, equal-ts observations are
    ordered by value (still deterministic, but not arrival order).
    Identical probe rows each get their own output row.
    """
    picked, cols = _cum_fill(
        probes, observations, {"win": window}, on, probe_ts, obs_ts, value, tiebreak
    )
    # the carry at the end row is in the window iff the window is non-empty
    found = F.col("n_win") > 0
    return picked.select(
        *cols,
        F.when(found, F.col("__last")["mval"]).alias("last_val"),
        F.when(found, F.col("__last")["mts"]).alias("last_ts"),
    )


def pit_multi_window_agg(
    probes: DataFrame,
    observations: DataFrame,
    windows: dict[str, _dt.timedelta],
    on: str = "entity_id",
    probe_ts: str = "query_ts",
    obs_ts: str = "ts",
    value: str = "value",
    tiebreak: str | None = None,
) -> DataFrame:
    """Multi-horizon PIT aggregates — count / exact sum / mean per named
    window (e.g. {"1d": ..., "7d": ..., "30d": ...}) for every probe, from
    one fill + one hash agg whatever the horizon count (module docstring).

    Output: ``(on, probe-cols, probe_ts, n_<name>, sum_<name>,
    mean_<name> ...)``, half-open ``(query_ts - w, query_ts]`` windows."""
    picked, cols = _cum_fill(
        probes, observations, windows, on, probe_ts, obs_ts, value, tiebreak
    )
    return picked.select(*cols)


def _horizon_us(tau, cutoff: float) -> tuple[float, int]:
    """``tau`` in seconds and its support horizon ``cutoff * tau`` in
    whole microseconds; a horizon that rounds to 0 µs would silently
    empty every window, so it is an error."""
    tau_s = seconds(tau)
    if tau_s <= 0:
        raise ValueError("tau must be positive")
    horizon_us = int(round(cutoff * tau_s * 1e6))
    if horizon_us <= 0:
        raise ValueError("cutoff*tau must be positive")
    return tau_s, horizon_us


def decayed_pit_features(
    probes: DataFrame,
    observations: DataFrame,
    on: str = "entity_id",
    probe_ts: str = "query_ts",
    obs_ts: str = "ts",
    value: str = "value",
    tau=_dt.timedelta(days=7),
    cutoff: float = 30.0,
    round_to: int = 6,
) -> DataFrame:
    """Exponential time-decay PIT aggregates: for each probe row,

        decay_sum  = sum_j  exp(-(query_ts - ts_j)/tau) * value_j
        decay_wt   = sum_j  exp(-(query_ts - ts_j)/tau)
        decay_mean = decay_sum / decay_wt

    over observations in the half-open support window
    ``(query_ts - cutoff*tau, query_ts]`` — recency-weighted feature-store
    aggregates ("time-decayed counts/sums") with zero temporal leakage.
    It is ``decayed_pit_features_multi`` over the one tau, with the
    columns named ``n_win, decay_sum, decay_wt, decay_mean``."""
    out = decayed_pit_features_multi(
        probes, observations, {"t": tau}, on=on, probe_ts=probe_ts,
        obs_ts=obs_ts, value=value, cutoff=cutoff, round_to=round_to,
    )
    return out.withColumnsRenamed(
        {f"{c}_t": c for c in ("decay_sum", "decay_wt", "decay_mean")}
    )


def decayed_pit_features_multi(
    probes: DataFrame,
    observations: DataFrame,
    taus: dict,
    on: str = "entity_id",
    probe_ts: str = "query_ts",
    obs_ts: str = "ts",
    value: str = "value",
    cutoff: float = 30.0,
    round_to: int = 6,
) -> DataFrame:
    """Multi-horizon decayed PIT aggregates — the feature-store norm of
    serving SEVERAL decay constants per probe (fast/medium/slow recency,
    e.g. taus={'1d':…,'7d':…,'30d':…}) — from ONE bucketed band join.
    Output per probe: ``n_win`` (pairs within the largest horizon) and,
    per named tau, ``decay_sum_<name> / decay_wt_<name> /
    decay_mean_<name>`` over ``(query_ts - cutoff*tau, query_ts]``.

    Truncating at ``cutoff`` tau (default 30 => relative truncation error
    < e^-30 ~ 1e-13, below the published rounding) is what bounds both the
    numerics and the join: unlike plain windowed sums, per-term-rounded
    decayed sums are NOT subtractable aggregates, so the
    difference-of-cumulatives fill cannot carry them exactly; the honest
    plan is the bounded interval join.

    Physical plan — bucketed band join (pairing.interval_pairs_bucketed's
    decomposition): the pair set is bounded by the LARGEST horizon; both
    sides bucket by ``floor(epoch/horizon)``; the probe side explodes into
    (b, b-1) so every in-horizon pair meets on exactly one equi-key (on,
    bucket).  Per-task work is O(rows-per-bucket^2) regardless of hot
    keys; no BroadcastNestedLoop.  A faster tau's terms zero out beyond
    its own horizon, so adding one costs two decimal aggregates, not
    another join.  The join is a left join from the numbered probes, and
    the closing aggregation groups by that number, so every probe row
    comes back once: one with no in-horizon observation reads count 0 and
    null sums.

    Exactness contract (the oracle witness): each pair term is rounded to
    ``round_to`` decimals and accumulated as decimal(18,6) — an
    order-independent exact sum, bit-reproducible across engines (same
    trick as textstats.unigram_logprob), so the result hash-matches a
    direct per-probe SQL sum at any parallelism."""
    if not taus:
        raise ValueError("taus must be non-empty")
    spans = {name: _horizon_us(tau, cutoff) for name, tau in taus.items()}
    max_h_us = max(h for _, h in spans.values())
    w = max(int(-(-max_h_us // 1_000_000)), 1)  # ceil seconds

    keys = [on] if isinstance(on, str) else list(on)
    probe_cols = [c for c in probes.columns if c not in keys + [probe_ts]]

    # numbered before the explode, so both bucket rows carry one id
    bp = F.floor(epoch_s(F.col(probe_ts)) / w)
    p = probes.withColumn("__pid", F.monotonically_increasing_id()).select(
        *keys, probe_ts, *probe_cols, "__pid",
        F.explode(F.array(bp, bp - 1)).alias("__bk"),
    )
    o = observations.select(
        *[F.col(k).alias(f"__ok_{k}") for k in keys],
        F.col(obs_ts).alias("__ots"),
        F.col(value).cast("double").alias("__ov"),
        F.floor(epoch_s(F.col(obs_ts)) / w).alias("__obk"),
    )
    dt_us = ts_diff_us(probe_ts, "__ots")
    cond = F.col("__bk") == F.col("__obk")
    for k in keys:
        cond = cond & (F.col(k) == F.col(f"__ok_{k}"))
    pairs = p.join(o, cond & (dt_us >= 0) & (dt_us < max_h_us), "left")

    aggs = [F.count("__ots").alias("n_win")]
    for name, (tau_s, h_us) in spans.items():
        decay = F.exp(-(dt_us.cast("double") / F.lit(1e6)) / F.lit(tau_s))
        t_sum = F.round(decay * F.col("__ov"), round_to)
        t_wt = F.round(decay, round_to)
        if h_us < max_h_us:  # every joined pair is inside the largest horizon
            # past this tau's horizon a pair adds 0; an unmatched row adds NULL
            t_sum = F.when(dt_us < h_us, t_sum).when(dt_us >= h_us, F.lit(0.0))
            t_wt = F.when(dt_us < h_us, t_wt).when(dt_us >= h_us, F.lit(0.0))
        aggs.append(F.sum(t_sum.cast("decimal(18,6)")).alias(f"__ds_{name}"))
        aggs.append(F.sum(t_wt.cast("decimal(18,6)")).alias(f"__dw_{name}"))
    out = pairs.groupBy(*keys, "__pid", probe_ts, *probe_cols).agg(*aggs)
    cols = [*keys, *probe_cols, probe_ts, "n_win"]
    for name in spans:
        ds = F.col(f"__ds_{name}").cast("double")
        dw = F.col(f"__dw_{name}").cast("double")
        cols.append(F.round(ds, round_to).alias(f"decay_sum_{name}"))
        cols.append(F.round(dw, round_to).alias(f"decay_wt_{name}"))
        cols.append(
            F.round(F.when(dw > 0, ds / dw), round_to).alias(f"decay_mean_{name}")
        )
    return out.select(*cols)


def decayed_pit_pandas(
    probes: DataFrame,
    observations: DataFrame,
    on: str = "entity_id",
    probe_ts: str = "query_ts",
    obs_ts: str = "ts",
    value: str = "value",
    tau=_dt.timedelta(days=7),
    cutoff: float = 30.0,
    round_to: int = 6,
) -> DataFrame:
    """Hot-key decayed PIT aggregates via per-key PREFIX SUMS —
    O((n_obs + n_probes) log n_obs) per key instead of the band join's
    O(n_probes x obs-per-horizon) pair materialization.

    Why it exists: ``decayed_pit_features``'s bucketed band join is
    per-PAIR work.  A hot entity with m observations dense inside one
    horizon and p probes produces p*m join rows before aggregating — at a
    Zipf-head key that is quadratic blow-up no AQE skew split can remove
    (the pairs are genuine work, not scheduling; measured in
    BENCH/SKEW_DECAY.md).  This path never materializes pairs:

      decay_sum(pt) = exp(-(pt - bL)/tau) * sum_{ots in window, block b}
                      v * exp((ots - bL)/tau)

    so per (key, horizon-block) a single cumulative of the REBASED terms
    ``v * exp((ots - block_start)/tau)`` answers every probe with two
    ``searchsorted`` lookups.  Rebasing per block of length L = cutoff*tau
    bounds every exponent in [0, cutoff] (no overflow at any timeline
    span); a probe's half-open support window ``(pt - L, pt]`` intersects
    at most two blocks, and observations are replicated into (block,
    block+1) groups so both segments are group-local.  Numerics: the
    block-(b-1) suffix is total-minus-prefix where the excluded prefix
    holds only SMALLER rebased terms, so cancellation is bounded by
    eps * n * (max decayed term) — orders below the published 6dp
    rounding; the block-b segment is a pure prefix (no subtraction).

    Trade vs the exact band join (documented, tested): terms are
    accumulated UNROUNDED in float64 and rounded once at the end, whereas
    the band join rounds every term at 6dp into decimal(18,6) (its
    order-independent exactness witness).  The two agree within
    ~5e-7 * n_win per probe.  Corner parity notes: observations with a
    NULL ``value`` still count toward ``n_win``/``decay_wt`` (as in the
    band join) but contribute 0.0 (not SQL-NULL) to ``decay_sum``; a
    probe whose window holds only sub-1e-13 weights gets a tiny positive
    ``decay_wt`` where per-term rounding would give exactly 0.  Null join
    keys / null probe timestamps return ``n_win=0`` null aggregates
    (probes are never dropped); null-key or null-ts observations match
    nothing — identical to the band join's join-condition semantics.

    Use ``decayed_pit_auto`` to route only Zipf-head keys here and keep
    the exact decimal contract everywhere else.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if not isinstance(on, str):
        raise ValueError("decayed_pit_pandas takes a single join key")
    if not (0 < cutoff <= 200):
        # exp(cutoff) must stay far from double overflow AND leave the
        # suffix-minus-prefix cancellation bound (eps * e^cutoff * n)
        # below the rounding granularity; beyond that use the band join.
        raise ValueError("cutoff must be in (0, 200] for the prefix-sum path")
    tau_s, horizon_us = _horizon_us(tau, cutoff)
    L = horizon_us

    probe_cols = [c for c in probes.columns if c not in (on, probe_ts)]

    p_bad = probes.filter(F.col(on).isNull() | F.col(probe_ts).isNull())
    p_ok = probes.filter(F.col(on).isNotNull() & F.col(probe_ts).isNotNull())
    o_ok = observations.filter(F.col(on).isNotNull() & F.col(obs_ts).isNotNull())

    def _blk(col):
        # exact long block id with floor semantics (um - pmod is the block
        # start, an exact multiple of L — no double-division boundary flips);
        # timestamp_ltz cast accepts both TIMESTAMP and TIMESTAMP_NTZ inputs
        # (parquet sources commonly carry NTZ)
        um = F.unix_micros(col.cast("timestamp_ltz"))
        return ((um - F.pmod(um, F.lit(L))) / F.lit(L)).cast("long")

    p = p_ok.select(
        on, *probe_cols, probe_ts,
        _blk(F.col(probe_ts)).alias("__bk"),
    )
    tb = _blk(F.col(obs_ts))
    o = o_ok.select(
        F.col(on),
        F.unix_micros(F.col(obs_ts).cast("timestamp_ltz")).alias("__ots"),
        F.col(value).cast("double").alias("__ov"),
        tb.alias("__tb"),
        F.explode(F.array(tb, tb + 1)).alias("__bk"),
    )

    out_fields = (
        [probes.schema[on]]
        + [probes.schema[c] for c in probe_cols]
        + [probes.schema[probe_ts]]
        + [
            T.StructField("n_win", T.LongType(), False),
            T.StructField("__ds", T.DoubleType(), True),
            T.StructField("__dw", T.DoubleType(), True),
        ]
    )
    out_schema = T.StructType(out_fields)
    out_names = [f.name for f in out_fields]

    def _prefix(cs, i1):
        # sum over [0, i1) of the array behind cumsum cs
        if len(cs) == 0:
            return np.zeros(len(i1), dtype="float64")
        return np.where(i1 > 0, cs[np.maximum(i1, 1) - 1], 0.0)

    def _suffix(cs, i0):
        # sum over [i0, len) — total minus an all-smaller-terms prefix
        if len(cs) == 0:
            return np.zeros(len(i0), dtype="float64")
        base = np.where(i0 > 0, cs[np.maximum(i0, 1) - 1], 0.0)
        return np.where(i0 < len(cs), cs[-1] - base, 0.0)

    def kern(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0:
            return pd.DataFrame(columns=out_names)
        res = left[[on, *probe_cols, probe_ts]].copy()
        pt = left[probe_ts].to_numpy(dtype="datetime64[us]").astype("int64")
        c = int(left["__bk"].iloc[0])
        if len(right) == 0:
            res["n_win"] = np.zeros(len(left), dtype="int64")
            res["__ds"] = np.nan
            res["__dw"] = np.nan
            return res
        right = right.sort_values("__ots", kind="mergesort")
        ots = right["__ots"].to_numpy(dtype="int64")
        v = np.nan_to_num(right["__ov"].to_numpy(dtype="float64"), nan=0.0)
        tblk = right["__tb"].to_numpy(dtype="int64")
        s = int(np.searchsorted(tblk, c, side="left"))
        otsA, otsB = ots[:s], ots[s:]
        ewA = np.exp((otsA - (c - 1) * L) / 1e6 / tau_s)
        ewB = np.exp((otsB - c * L) / 1e6 / tau_s)
        csA_w, csA_v = np.cumsum(ewA), np.cumsum(ewA * v[:s])
        csB_w, csB_v = np.cumsum(ewB), np.cumsum(ewB * v[s:])
        iA0 = np.searchsorted(otsA, pt - horizon_us, side="right")
        iB1 = np.searchsorted(otsB, pt, side="right")
        n = (len(otsA) - iA0) + iB1
        fA = np.exp(-((pt - (c - 1) * L) / 1e6) / tau_s)
        fB = np.exp(-((pt - c * L) / 1e6) / tau_s)
        ds = fA * _suffix(csA_v, iA0) + fB * _prefix(csB_v, iB1)
        dw = fA * _suffix(csA_w, iA0) + fB * _prefix(csB_w, iB1)
        res["n_win"] = n
        res["__ds"] = np.where(n > 0, ds, np.nan)
        res["__dw"] = np.where(n > 0, dw, np.nan)
        return res

    core = (
        p.groupBy(on, "__bk")
        .cogroup(o.groupBy(on, "__bk"))
        .applyInPandas(kern, schema=out_schema)
    )
    ds = F.col("__ds")
    dw = F.col("__dw")
    n_c = F.col("n_win")
    core_out = core.select(
        on, *probe_cols, probe_ts,
        n_c.cast("long").alias("n_win"),
        F.when(n_c > 0, F.round(ds, round_to)).alias("decay_sum"),
        F.when(n_c > 0, F.round(dw, round_to)).alias("decay_wt"),
        F.round(F.when(dw > 0, ds / dw), round_to).alias("decay_mean"),
    )
    bad_out = p_bad.select(
        on, *probe_cols, probe_ts,
        F.lit(0).cast("long").alias("n_win"),
        F.lit(None).cast("double").alias("decay_sum"),
        F.lit(None).cast("double").alias("decay_wt"),
        F.lit(None).cast("double").alias("decay_mean"),
    )
    return core_out.unionByName(bad_out)


def decayed_pit_auto(
    probes: DataFrame,
    observations: DataFrame,
    on: str = "entity_id",
    probe_ts: str = "query_ts",
    obs_ts: str = "ts",
    value: str = "value",
    tau=_dt.timedelta(days=7),
    cutoff: float = 30.0,
    round_to: int = 6,
    hot_rows: int = 1_000_000,
    key_counts: DataFrame | None = None,
) -> DataFrame:
    """Decayed PIT aggregates with AUTOMATIC hot-key dispatch (the decay
    analog of ``asof_join_auto``): ``skew.route_hot_keys`` over two plans.
    One partial-agg census over ``observations`` (or a precomputed
    ``key_counts`` table — no job over ``observations``) finds keys with
    more than ``hot_rows`` observations; hot keys route through
    ``decayed_pit_pandas`` (prefix sums, zero pair materialization),
    everything else — NULL keys included, so probes are never dropped —
    through the exact band join ``decayed_pit_features`` (per-term 6dp
    decimal accumulation, the order-independent oracle contract).
    Results union by name.

    The band join's per-task cost is O(probes-per-(key,bucket) x
    obs-per-(key,bucket)) — genuine pair work, invisible to AQE's skew
    split because the pairs must exist before the aggregate (measured:
    BENCH/SKEW_DECAY.md, a 0.7-hot-frac corpus is >100x slower than a
    uniform control of the same size).  The prefix-sum path removes the
    quadratic term but gives up per-term rounding: hot-key sums are
    unrounded float64 accumulations that agree with the exact path within
    ~5e-7 * n_win.

    ``hot_rows`` default: 1M observations under one key is the point
    where a dense horizon makes the band join's pair output (probes x
    obs) dwarf both inputs; tune per probe density.
    """
    kw = dict(
        on=on, probe_ts=probe_ts, obs_ts=obs_ts, value=value,
        tau=tau, cutoff=cutoff, round_to=round_to,
    )
    return route_hot_keys(
        probes, observations, on, hot_rows,
        cold=lambda p, o: decayed_pit_features(p, o, **kw),
        hot=lambda p, o: decayed_pit_pandas(p, o, **kw),
        key_counts=key_counts,
    )
