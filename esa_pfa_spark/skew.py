"""Hot-key (skew) handling: salted repartitioning + two-phase aggregation
+ AQE configuration.

The reference never handles skew — its grid keys are uniform by
construction (PatchCS.java:57-61).  Real entity keys are Zipfian, so the
engine ships explicit remedies (SURVEY.md §4 custom-work item 2):

* ``with_salt`` — deterministic salt from row content (never rand()).
* ``salted_agg`` — two-phase algebraic aggregation: partial on
  (key, salt) then final merge on key; turns one giant reduce group into
  n_salt bounded ones.  Supported: count/sum/min/max/avg.
* AQE skew-join splitting is enabled session-wide in session.py
  (spark.sql.adaptive.skewJoin.enabled) for join-side skew.
* For order-sensitive per-key scans (pairing) salting is invalid; the
  non-reuse pairing slices time instead (find_pairs(chunk="session")).
  The as-of join keeps one JVM window plan for every key: its
  time-sliced pandas variant lost to it on a 2M-row hot key at
  local[4] (BENCH/SKEW_ASOF.md).
* ``route_hot_keys`` — the one hot-key router: a per-key census (or a
  precomputed count table) picks the keys above a row threshold, the
  input splits null-safely into hot and cold halves, each half runs its
  own plan, and the results union by name.  ``decayed_pit_auto`` is
  this router over its cold/hot operator pair.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"


def with_salt(df: DataFrame, n_salt: int, from_cols: list[str] | None = None) -> DataFrame:
    """Deterministic salt in [0, n_salt): hash of ``from_cols`` (default:
    all columns).  Deterministic => re-runs produce identical partitions."""
    cols = from_cols or df.columns
    return df.withColumn(
        SALT_COL, F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(n_salt)).cast("int")
    )


def salted_agg(
    df: DataFrame,
    key: str,
    aggs: dict[str, tuple[str, str]],
    n_salt: int = 32,
) -> DataFrame:
    """Two-phase aggregation for skewed keys.

    ``aggs``: output_name -> (function, column); function in
    {count,sum,min,max,avg}.  Example::

        salted_agg(df, "entity_id", {"n": ("count", "*"),
                                     "total": ("sum", "value"),
                                     "mean": ("avg", "value")})
    """
    salted = with_salt(df, n_salt)
    partial_cols, final_cols = [], []
    needs_count = any(fn == "avg" for fn, _ in aggs.values())
    for name, (fn, col) in aggs.items():
        if fn == "count":
            partial_cols.append(F.count(F.lit(1)).alias(f"__p_{name}"))
            final_cols.append(F.sum(f"__p_{name}").alias(name))
        elif fn == "sum":
            partial_cols.append(F.sum(col).alias(f"__p_{name}"))
            final_cols.append(F.sum(f"__p_{name}").alias(name))
        elif fn == "min":
            partial_cols.append(F.min(col).alias(f"__p_{name}"))
            final_cols.append(F.min(f"__p_{name}").alias(name))
        elif fn == "max":
            partial_cols.append(F.max(col).alias(f"__p_{name}"))
            final_cols.append(F.max(f"__p_{name}").alias(name))
        elif fn == "avg":
            partial_cols.append(F.sum(col).alias(f"__ps_{name}"))
            partial_cols.append(F.count(col).alias(f"__pc_{name}"))
            final_cols.append(
                (F.sum(f"__ps_{name}") / F.sum(f"__pc_{name}")).alias(name)
            )
        else:
            raise ValueError(f"unsupported aggregate: {fn}")
    del needs_count
    partial = salted.groupBy(key, SALT_COL).agg(*partial_cols)
    return partial.groupBy(key).agg(*final_cols)


def explain_skew(df: DataFrame, key: str, top: int = 10) -> DataFrame:
    """Key-frequency diagnostic: the top-N heaviest keys and their share."""
    total = df.count()
    return (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("share", F.round(F.col("n") / F.lit(float(total)), 6))
        .orderBy(F.col("n").desc())
        .limit(top)
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    n_salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-remedy equi-join: salt the (big, skewed) left side with a
    deterministic content hash and EXPLODE-replicate every right row
    across all ``n_salt`` salts, joining on (key, salt) — a hot key's
    left rows spread over ``n_salt`` tasks instead of one straggler.
    Output is row-identical to the plain join (property-tested).

    When to use: the right side is too large (or itself hot) to
    broadcast, and AQE skew-split can't help — e.g. a single key holding
    >2 GB where even a split task pairs the full right group.  Cost is
    deliberate: right side shuffles n_salt copies; pick n_salt ~= the
    straggler factor, not larger.  ``how`` supports inner/left — the
    replicated-right construction preserves unmatched LEFT rows (each
    left row still meets exactly one replica set), but NOT right/full
    outer (an unmatched right row would surface n_salt times)."""
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports how in {inner, left}")
    keys = [on] if isinstance(on, str) else list(on)
    l = with_salt(left, n_salt, from_cols=list(left.columns))
    r = right.withColumn(
        SALT_COL, F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    return l.join(r, keys + [SALT_COL], how).drop(SALT_COL)


def route_hot_keys(
    probes: DataFrame,
    observations: DataFrame,
    on: str,
    hot_rows: int,
    cold: Callable[[DataFrame, DataFrame], DataFrame],
    hot: Callable[[DataFrame, DataFrame], DataFrame],
    key_counts: DataFrame | None = None,
    census_sample: float | None = None,
    census_safety: float = 2.0,
) -> DataFrame:
    """Run ``hot(probes, observations)`` on the keys with more than
    ``hot_rows`` observations and ``cold(...)`` on the rest; union the
    two by name (the cold output's column order).  With no hot key it is
    ``cold`` on the whole input.

    The census is one column-pruned partial-agg pass over
    ``observations``, unless ``key_counts`` — a precomputed (key, count)
    table — is given, in which case NO job touches ``observations`` at
    plan time; ``census_sample`` (a fraction) counts a sample instead,
    with the threshold lowered by ``census_safety`` so borderline-hot
    keys that under-sample still route hot (routing a cold key hot is
    merely slower; missing a hot key recreates the straggler).

    The hot keys (at most |observations| / hot_rows of them) are
    collected to the driver and shipped back as an ``isin`` literal, so
    both branch filters push down to the scan.  NULL keys always take
    the cold branch: ``isin`` is three-valued (NULL for a NULL key), so
    bare ``isin``/``~isin`` filters would drop null-key probes from BOTH
    branches.  The cold filter is ``isNull() | ~isin(hot)`` and the hot
    filter ``isNotNull() & isin(hot)``, an exact partition."""
    if key_counts is not None:
        cnt = [c for c in key_counts.columns if c != on]
        if len(cnt) != 1:
            raise ValueError(
                f"key_counts must have exactly ({on}, <count>) columns, "
                f"got {key_counts.columns}"
            )
        hot_src = key_counts.filter(F.col(cnt[0]) > hot_rows)
    else:
        src, threshold = observations.select(on), hot_rows
        if census_sample is not None:
            src = src.sample(fraction=census_sample, seed=7)
            threshold = hot_rows * census_sample / census_safety
        hot_src = (
            src.groupBy(on)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > threshold)
        )
    keys = [r[0] for r in hot_src.select(on).filter(F.col(on).isNotNull()).collect()]
    if not keys:
        return cold(probes, observations)
    is_hot = F.col(on).isNotNull() & F.col(on).isin(keys)
    is_cold = F.col(on).isNull() | ~F.col(on).isin(keys)
    cold_out = cold(probes.filter(is_cold), observations.filter(is_cold))
    hot_out = hot(probes.filter(is_hot), observations.filter(is_hot))
    return cold_out.unionByName(hot_out.select(*cold_out.columns))
