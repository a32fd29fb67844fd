"""STX feature vector: hand-computed goldens + kernel/aggregate agreement."""

import numpy as np
import pandas as pd
import pytest

from esa_pfa_spark.operators import features as FT


def test_stats_kernel_golden():
    """Hand-computed on [1..9]: mean 5, p10..p90 by linear interpolation."""
    m, s, cv, lo, hi, p10, p50, p90, skew, n = FT.stats_kernel(np.arange(1.0, 10.0))
    assert m == 5.0
    assert s == pytest.approx(np.std(np.arange(1.0, 10.0), ddof=1))
    assert cv == pytest.approx(s / 5.0)
    assert (lo, hi, n) == (1.0, 9.0, 9)
    assert p10 == pytest.approx(1.8)
    assert p50 == pytest.approx(5.0)
    assert p90 == pytest.approx(8.2)
    # symmetric distribution -> skewness 0 (FeatureWriter.java:370 formula)
    assert skew == pytest.approx(0.0)


def test_stats_kernel_skewed():
    arr = np.array([1.0, 1.0, 1.0, 10.0])
    *_, p10, p50, p90, skew, n = FT.stats_kernel(arr)
    expect = (p90 - 2 * p50 + p10) / (p90 - p10)
    assert skew == pytest.approx(expect)


def test_stats_kernel_empty_and_single():
    assert FT.stats_kernel(np.array([])) == (None,) * 9 + (0,)
    m, s, cv, lo, hi, p10, p50, p90, skew, n = FT.stats_kernel(np.array([7.0]))
    assert (m, s, lo, hi, n) == (7.0, 0.0, 7.0, 7.0, 1)


def test_token_stats_matches_kernel(spark):
    """token_stats_arrow == the per-row kernel; an empty array gets null
    stats with count 0, a null array null stats and a null count."""
    rows = [(1, [1, 2, 3, 4]), (2, [10, 20, 60]), (3, []), (4, None)]
    df = spark.createDataFrame(rows, "id int, tokens array<int>")
    out = FT.token_stats_arrow(df, "tokens").orderBy("id").toPandas()
    assert list(out.columns) == ["id", "tokens", *FT.STAT_NAMES]
    for i, (_, toks) in enumerate(rows[:2]):
        golden = FT.stats_kernel(np.array(toks, dtype=np.float64))
        got = tuple(out.iloc[i][FT.STAT_NAMES])
        np.testing.assert_allclose(
            np.array(got, dtype=np.float64), np.array(golden, dtype=np.float64), rtol=1e-12
        )
    assert out.iloc[2][FT.STAT_NAMES[:-1]].isna().all() and out.iloc[2]["count"] == 0
    assert out.iloc[3][FT.STAT_NAMES].isna().all()


def test_stx_aggregate_matches_kernel(spark):
    rng = np.random.default_rng(42)
    vals = rng.integers(0, 1000, size=200).astype(np.float64)
    pdf = pd.DataFrame({"k": ["g"] * 200, "v": vals})
    out = FT.stx_aggregate(spark.createDataFrame(pdf), ["k"], "v").toPandas().iloc[0]
    golden = FT.stats_kernel(vals)
    np.testing.assert_allclose(
        np.array(tuple(out[FT.STAT_NAMES]), dtype=np.float64),
        np.array(golden, dtype=np.float64),
        rtol=1e-9,
    )


def test_normalize_and_rescale(spark):
    pdf = pd.DataFrame({"a": [0.0, 5.0, 10.0], "b": [2.0, 2.0, 4.0]})
    df = spark.createDataFrame(pdf)
    bounds = FT.normalize_bounds(df, ["a", "b"]).collect()[0].asDict()
    assert bounds == {"a_min": 0.0, "a_max": 10.0, "b_min": 2.0, "b_max": 4.0}
    out = FT.rescale_unit(df, ["a", "b"], bounds).toPandas()
    assert list(out["a"]) == [0.0, 0.5, 1.0]
    assert list(out["b"]) == [0.0, 0.0, 1.0]


def test_batch_stats_matches_kernel_vectorized():
    """Segmented vectorized path == per-row kernel on ragged random arrays."""
    rng = np.random.default_rng(7)
    arrs = [rng.integers(0, 50257, size=rng.integers(1, 200)).astype(np.int32) for _ in range(500)]
    arrs.insert(3, np.array([42], dtype=np.int32))  # single-element edge
    got = FT.batch_stats(arrs)
    for i, a in enumerate(arrs):
        want = FT.stats_kernel(np.asarray(a, dtype=np.float64))
        gv = got.iloc[i][FT.STAT_NAMES].to_numpy(dtype=np.float64)
        np.testing.assert_allclose(gv, np.array(want, dtype=np.float64), rtol=1e-7, atol=1e-12)


def test_segmented_stats_batch_offset_invariant():
    """A row's stats must be BIT-identical regardless of where the row sits
    inside the Arrow batch (regression: the percentile interpolation once
    computed its fraction at the magnitude of the batch offset, so the same
    tokens gave different last-ulp p10/p90 under different partitionings)."""
    rng = np.random.default_rng(11)
    arrs = [rng.integers(0, 50257, size=rng.integers(2, 99)).astype(np.int32) for _ in range(200)]
    full = FT.batch_stats(arrs)
    # same rows, different batch boundaries: singletons and a shifted split
    for split in (1, 7, 123):
        parts = [FT.batch_stats(arrs[i:i + split]) for i in range(0, len(arrs), split)]
        rebuilt = pd.concat(parts, ignore_index=True)
        pd.testing.assert_frame_equal(rebuilt, full, check_exact=True)


def test_segmented_stats_int_path_matches_numpy_percentile():
    """Integer fast path must equal np.percentile bit-for-bit."""
    rng = np.random.default_rng(3)
    a = rng.integers(-1000, 1000, size=57).astype(np.int32)
    got = FT.batch_stats([a]).iloc[0]
    f = a.astype(np.float64)
    assert got["p10"] == np.percentile(f, 10)
    assert got["p50"] == np.percentile(f, 50)
    assert got["p90"] == np.percentile(f, 90)


def test_segmented_stats_int64_wide_values_no_overflow():
    """Regression: int64 tokens with |v| >= 2^31 must NOT take the packed
    int32 fast path (value bits would overflow into the row-index bits and
    silently corrupt percentiles) — the lexsort path must produce values
    identical to float64 numpy."""
    import numpy as np

    from esa_pfa_spark.operators.features import segmented_stats

    big = np.array(
        [3_000_000_000, -3_000_000_000, 5_000_000_000, 1, -2, 7_000_000_000],
        dtype=np.int64,
    )
    lengths = np.array([4, 2], dtype=np.int64)
    got = segmented_stats(big, lengths)
    a, b = big[:4].astype(np.float64), big[4:].astype(np.float64)
    assert got["p50"][0] == pytest.approx(np.percentile(a, 50))
    assert got["p10"][1] == pytest.approx(np.percentile(b, 10))
    assert got["min"][0] == pytest.approx(a.min()) and got["max"][0] == pytest.approx(a.max())


def test_segmented_stats_uint32_wide_values_no_overflow():
    """uint32 can hold 2^32-1: the +2^31 shift would overflow the low 32
    bits, so unsigned dtypes must also use the lexsort path."""
    import numpy as np

    from esa_pfa_spark.operators.features import segmented_stats

    u = np.array([4_000_000_000, 10, 4_294_967_295, 7], dtype=np.uint32)
    lengths = np.array([4], dtype=np.int64)
    got = segmented_stats(u, lengths)
    f = u.astype(np.float64)
    assert got["p50"][0] == pytest.approx(np.percentile(f, 50))
    assert got["max"][0] == pytest.approx(f.max())
