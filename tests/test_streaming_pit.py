"""stream_pit_window_agg: batch parity vs pit_window_agg, cross-batch
state carry, window pruning, probe rows."""

from __future__ import annotations

import datetime as dt

import pandas as pd

from esa_pfa_spark.streaming.pit import stream_pit_window_agg

T0 = dt.datetime(2024, 1, 1)


def _write(spark, path, rows):
    pdf = pd.DataFrame(rows, columns=["k", "ts", "v"])
    spark.createDataFrame(
        pdf, schema="k string, ts timestamp, v double"
    ).repartition(1).write.mode("append").parquet(str(path))


def _run(spark, src, name, window, per_file=False):
    reader = spark.readStream.schema("k string, ts timestamp, v double")
    if per_file:
        reader = reader.option("maxFilesPerTrigger", 1)
    stream = reader.parquet(str(src))
    out = stream_pit_window_agg(stream, key="k", ts="ts", value="v", window=window)
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    return spark.sql(f"select * from {name}").toPandas()


def test_single_batch_matches_batch_pit(spark, tmp_path):
    import datetime as dtm

    from esa_pfa_spark.operators.pit import pit_window_agg
    from pyspark.sql import functions as F

    rows = [
        ("a", T0 + dt.timedelta(minutes=m), float(m)) for m in (0, 10, 45, 80, 200)
    ] + [("b", T0, 5.0)]
    src = tmp_path / "pit1"
    _write(spark, src, rows)
    w = dt.timedelta(hours=1)
    res = _run(spark, src, "pit_t1", w)
    got = {
        (r.key, pd.Timestamp(r.ts)): (r.n_win, r.sum_win, r.last_val)
        for r in res.itertuples()
    }

    sdf = spark.createDataFrame(
        pd.DataFrame(rows, columns=["k", "ts", "v"]),
        schema="k string, ts timestamp, v double",
    )
    probes = sdf.select("k", F.col("ts").alias("query_ts"), F.col("v").alias("pid"))
    obs = sdf.select("k", "ts", F.col("v").alias("value"))
    want_rows = pit_window_agg(
        probes, obs, on="k", probe_ts="query_ts", obs_ts="ts",
        value="value", window=w,
    ).collect()
    for r in want_rows:
        kts = (r["k"], pd.Timestamp(r["query_ts"]))
        n, s, lv = got[kts]
        assert n == r["n_win"]
        assert (s is None and r["sum_win"] is None) or abs(s - r["sum_win"]) < 1e-6
        assert (lv is None and r["last_val"] is None) or lv == r["last_val"]


def test_state_carries_and_prunes_across_batches(spark, tmp_path):
    src = tmp_path / "pit2"
    w = dt.timedelta(minutes=30)
    _write(spark, src, [("a", T0, 1.0), ("a", T0 + dt.timedelta(minutes=10), 2.0)])
    _write(spark, src, [
        ("a", T0 + dt.timedelta(minutes=20), 4.0),    # window: all three
        ("a", T0 + dt.timedelta(minutes=50), 8.0),    # 10m+20m pruned out? 20m in, 50m in
    ])
    res = _run(spark, src, "pit_t2", w, per_file=True)
    by_ts = {pd.Timestamp(r.ts): r for r in res.itertuples()}
    r20 = by_ts[pd.Timestamp(T0 + dt.timedelta(minutes=20))]
    assert r20.n_win == 3 and r20.sum_win == 7.0      # batch-1 state visible
    r50 = by_ts[pd.Timestamp(T0 + dt.timedelta(minutes=50))]
    # window (20m, 50m]: only the 4.0@20m... exclusive start -> excluded;
    # events at 30m < u <= 50m: none except 8.0 itself
    assert r50.n_win == 1 and r50.last_val == 8.0


def test_probe_rows_read_without_entering(spark, tmp_path):
    src = tmp_path / "pit3"
    _write(spark, src, [
        ("a", T0, 10.0),
        ("a", T0 + dt.timedelta(minutes=5), None),    # probe
    ])
    res = _run(spark, src, "pit_t3", dt.timedelta(hours=1))
    probe = [r for r in res.itertuples() if pd.isna(r.value)][0]
    assert probe.n_win == 1 and probe.last_val == 10.0
