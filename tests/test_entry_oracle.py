"""Local mirror of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB at sf0.01, compare row count, column
names, and order-insensitive values."""

from __future__ import annotations

import datetime as dt
import math
import struct
from decimal import Decimal
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        p = Path(SF_DIR) / f"{t}.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    yield con
    con.close()


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if math.isnan(f):
            return None
        # Bit-faithful float canon, mirroring the driver's value hash: the
        # driver hashes IEEE bit patterns, where -0.0 != +0.0 (the r4
        # cyclical_time_features FAIL: DuckDB round() is sign-preserving,
        # Spark's BigDecimal round is not).  Python's `==` treats them as
        # equal, so compare the bytes of the round-9-normalized double
        # instead of the float itself.
        return struct.pack(">d", round(f, 9))
    if isinstance(v, (np.integer, int)):
        return int(v)
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        if pd.isna(v):
            return None
        return pd.Timestamp(v).isoformat()
    if isinstance(v, np.bool_):
        return bool(v)
    if v is pd.NaT:
        return None
    try:
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    return v


def _canon(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(_norm_cell(v) for v in row) for row in df[cols].itertuples(index=False, name=None)]
    return sorted(rows, key=lambda r: tuple((x is None, str(x)) for x in r))


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, ddb, name):
    got = QUERIES[name](spark, SF_DIR).toPandas()
    want = ddb.execute(ORACLES[name]).df()
    assert sorted(got.columns) == sorted(want.columns), (
        f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: rows {len(got)} != {len(want)}"
    bad = _neg_zero_cols(got)
    assert not bad, f"{name}: Spark emitted -0.0 in {bad} (latent hash FAIL)"
    cg, cw = _canon(got), _canon(want)
    mismatches = [i for i, (a, b) in enumerate(zip(cg, cw)) if a != b]
    assert not mismatches, (
        f"{name}: {len(mismatches)} row mismatches; first: "
        f"{cg[mismatches[0]]} != {cw[mismatches[0]]}"
    )


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_signed_zero_is_caught_by_the_mirror(ddb):
    """Regression for the r4 driver FAIL (cyclical_time_features): DuckDB's
    round() preserves IEEE sign (-1.84e-16 -> -0.0) while Spark's BigDecimal
    round returns +0.0.  The mirror must distinguish the two bit patterns —
    Python `==` does not (-0.0 == 0.0) — and the pre-fix oracle expression
    must demonstrably produce -0.0 so the `+ 0.0` device is load-bearing."""
    assert _norm_cell(-0.0) != _norm_cell(0.0)
    # pre-fix expression (no `+ 0.0`): DuckDB emits -0.0 at hour=18
    raw = ddb.execute("SELECT round(cos(18 * (2 * pi() / 24)), 6)").fetchone()[0]
    assert math.copysign(1.0, raw) == -1.0 and raw == 0.0, (
        "expected DuckDB round() to preserve -0.0; the regression premise moved"
    )
    # fixed expression: +0.0 normalizes to +0.0 (IEEE: -0.0 + 0.0 = +0.0)
    fixed = ddb.execute(
        "SELECT round(cos(18 * (2 * pi() / 24)), 6) + 0.0"
    ).fetchone()[0]
    assert math.copysign(1.0, fixed) == 1.0 and fixed == 0.0
    assert _norm_cell(raw) != _norm_cell(fixed)


def _neg_zero_cols(df: pd.DataFrame) -> list[str]:
    """Columns containing a -0.0 double cell — a latent driver-hash
    mismatch (engines disagree on zero sign through round()); fix the
    producing site with `+ 0.0` (SQL) / `+ F.lit(0.0)` (engine)."""
    bad = []
    for col in df.columns:
        s = df[col]
        if s.dtype.kind != "f":
            continue
        vals = s.to_numpy()
        if ((vals == 0.0) & np.signbit(vals)).any():
            bad.append(col)
    return bad


def test_no_negative_zero_in_any_oracle(ddb):
    """Repo-wide signed-zero sweep, DuckDB side (institutionalized like the
    vacuous-oracle audit): no oracle may emit a -0.0 double cell at sf0.01.
    The Spark side of the same sweep runs inside test_query_matches_oracle
    (which already materializes every query's output)."""
    offenders = [
        f"{name}.{col}"
        for name, sql in sorted(ORACLES.items())
        for col in _neg_zero_cols(ddb.execute(sql).df())
    ]
    assert not offenders, f"-0.0 oracle cells found: {offenders}"


def test_no_vacuous_oracles(ddb):
    """Every oracle must return at least one row at sf0.01 — a 0-row
    oracle match is a vacuous pass (curation_v2_survivors was green for
    two rounds on the empty set before this was institutionalized)."""
    empty = [
        name for name, sql in ORACLES.items()
        if len(ddb.execute(sql).fetchall()) == 0
    ]
    assert not empty, f"vacuous (0-row) oracles: {empty}"


def _mirror(spark, tmp_path, events: pd.DataFrame, names: list[str]) -> None:
    """Write ``events`` as the only table and check each named query
    against its oracle the way ``test_query_matches_oracle`` does."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pq.read_schema(Path(SF_DIR) / "events.parquet").remove_metadata()
    pq.write_table(pa.Table.from_pandas(events, schema=schema, preserve_index=False),
                   tmp_path / "events.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{tmp_path / 'events.parquet'}'")
    try:
        for name in names:
            got = QUERIES[name](spark, str(tmp_path)).toPandas()
            want = con.execute(ORACLES[name]).df()
            assert len(got) == len(want), f"{name}: rows {len(got)} != {len(want)}"
            assert _canon(got) == _canon(want), name
    finally:
        con.close()


def _events(rows) -> pd.DataFrame:
    t0 = pd.Timestamp("2024-01-10")
    return pd.DataFrame(
        [(i, t0 + pd.Timedelta(hours=h), u, et, v, "")
         for i, (h, u, et, v) in enumerate(rows)],
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )


def test_asof_oracles_agree_on_planted_tie(spark, tmp_path):
    """Observations tied on (user, ts): Spark and every oracle give one
    row per click, the greatest value (NULL lowest)."""
    rows = [
        (0, 1, "purchase", 5.0), (0, 1, "purchase", 9.0), (0, 1, "purchase", None),
        (2, 1, "error", 3.0), (2, 1, "error", 7.0),
        (0, 1, "click", 0.0), (1, 1, "click", 0.0), (-1, 1, "click", 0.0),
        (0, 2, "purchase", None), (0, 2, "purchase", 1.5), (3, 2, "click", 0.0),
    ]
    _mirror(spark, tmp_path, _events(rows),
            ["asof_backward_7d", "asof_forward_1d", "asof_nearest_12h"])


def test_percentile_oracles_tie_block_at_edge(spark, tmp_path):
    """Four purchases tie on the value at the 0.8 decile/quintile edge,
    where DuckDB's quantile_cont lands an ulp above the tied value
    (99.98000000000002) and would drop the block a bin; the oracles read
    Spark's exact percentile instead."""
    vals = [99.98, 99.98, 99.98, 99.98, 5.3, 58.83, 17.39, 76.78,
            93.76, 53.83, 0.9, 6.43]
    rows = [(i, 100 + i, "purchase", v) for i, v in enumerate(vals)]
    _mirror(spark, tmp_path, _events(rows), ["quantile_bins_10", "rfm_scores_5"])
