"""Physical-plan audits: the 100 TB story, asserted.

These tests pin the *shape* of the plans Catalyst produces, not their
results — the properties that decide whether a query survives a 100x
scale-up:

  * filters reach the parquet scan (PushedFilters) and column pruning
    reaches ReadSchema;
  * small dimensions broadcast (BroadcastHashJoin, never SortMergeJoin
    for region/nation-sized sides);
  * partial (map-side) aggregation exists before the shuffle;
  * top-k compiles to TakeOrderedAndProject (no global sort);
  * the fused flagship pipeline runs on exactly ONE exchange — every
    window spec and the as-of fill reuse the same hash partitioning
    (the PatchCS grid-alignment analog, SURVEY.md §4) — in two Window
    passes over one sort, with no per-row-recomputed following frame;
  * the as-of union+window plan also needs exactly ONE exchange.

A plan regression that re-introduces a shuffle or loses a pushdown fails
here long before it would melt a real cluster.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def n_exchanges(plan: str) -> int:
    """Count shuffle exchanges (broadcast exchanges excluded).  Handles both
    simple mode (``Exchange hashpartitioning(...)``) and formatted mode
    (``Exchange (5)`` nodes; ``BroadcastExchange`` must not count)."""
    return len(re.findall(r"(?<![A-Za-z])Exchange (?:\(\d+\)|hashpartitioning|rangepartitioning)", plan))


def assert_no_following_frame(plan: str) -> None:
    """No row frame reaching to the partition's end except the whole
    partition: a frame that starts at the current row or later and ends
    at ``unbounded following`` is recomputed per row (quadratic on a hot
    key); ``lead(..., 1) IGNORE NULLS`` is the linear form."""
    starts = re.findall(
        r"specifiedwindowframe\(RowFrame, ([^,]+), unboundedfollowing\$\(\)\)", plan
    )
    assert set(starts) <= {"unboundedpreceding$()"}, plan


def test_tpch_q1_pushdown_and_partial_agg(spark):
    plan = plan_of(entry_mod.q_tpch_q1(spark, SF_DIR))
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters", 1)[1][:200], (
        "l_shipdate filter must reach the parquet scan"
    )
    assert plan.count("HashAggregate") >= 2, "expected partial+final aggregation"
    assert n_exchanges(plan) == 1, "Q1 is one shuffle: scan -> partial agg -> exchange -> final agg"


def test_tpch_q3_broadcasts_customer(spark):
    plan = plan_of(entry_mod.q_tpch_q3(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, "customer side must broadcast"
    assert "TakeOrderedAndProject" in plan, "top-10 must not globally sort"


def test_region_counts_all_broadcast(spark):
    # simple mode: formatted repeats each node name in the details section
    plan = plan_of(entry_mod.q_region_counts(spark, SF_DIR), mode="simple")
    assert plan.count("BroadcastHashJoin") == 2, "both dims broadcast"
    assert "SortMergeJoin" not in plan


def test_column_pruning_reaches_scan(spark):
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select("l_orderkey", "l_quantity")
    plan = plan_of(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"l_orderkey", "l_quantity"}, f"scan reads extra columns: {cols}"


def test_topk_is_take_ordered(spark):
    plan = plan_of(entry_mod.q_topk(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_asof_join_single_exchange(spark):
    df = entry_mod.q_asof_backward(spark, SF_DIR)
    plan = plan_of(df)
    assert n_exchanges(plan) == 1, (
        f"as-of union+window must reuse one hash partitioning, got "
        f"{n_exchanges(plan)} exchanges:\n{plan}"
    )
    assert "filechannel" not in plan.lower()


def test_fused_pipeline_single_exchange(spark):
    from esa_pfa_spark import synth
    from esa_pfa_spark.plans.pipeline import feature_table_fused

    obs = synth.observations_df(spark, seed=42, n_entities=10, mean_obs=5, mean_tok=8)
    probes = synth.queries_df(spark, seed=42, n_entities=10, mean_obs=5)
    plan = plan_of(feature_table_fused(obs, probes), mode="simple")
    assert n_exchanges(plan) == 1, (
        f"fused flagship must be a single-shuffle plan, got {n_exchanges(plan)}:\n{plan}"
    )
    # one Window operator per dependency level, over the one sort; the
    # stats UDF sees the token column only (no whole-row MapInArrow)
    assert len(re.findall(r"(?<![A-Za-z])Window \[", plan)) == 2, plan
    assert plan.count("Sort [") == 1, plan
    assert "MapInArrow" not in plan and plan.count("ArrowEvalPython") == 1, plan
    assert_no_following_frame(plan)


def test_fills_have_no_following_frame(spark):
    """The incremental fill and the forward/nearest as-of fills look
    forward with a linear lead, not a (k, unbounded following) frame."""
    import datetime as dtm

    from pyspark.sql import functions as F

    from esa_pfa_spark import synth
    from esa_pfa_spark.operators.asof import asof_join
    from esa_pfa_spark.operators.features import token_stats_arrow
    from esa_pfa_spark.plans.incremental import entity_state, incremental_fill

    obs = token_stats_arrow(
        synth.observations_df(spark, seed=3, n_entities=6, mean_obs=5, mean_tok=8)
    )
    probes = synth.queries_df(spark, seed=3, n_entities=6, mean_obs=5)
    cut = dtm.datetime(2024, 2, 1)
    state = entity_state(obs, cut)
    inc = incremental_fill(obs.filter(F.col("ts") >= F.lit(cut)), probes, state)
    assert_no_following_frame(plan_of(inc, mode="simple"))
    for direction in ("forward", "nearest"):
        j = asof_join(probes, obs.select("entity_id", "ts", "mean"),
                      direction=direction, tolerance=dtm.timedelta(days=3))
        assert_no_following_frame(plan_of(j, mode="simple"))


def test_enrichment_windows_share_exchange(spark):
    """lag/lead + sessionize + session_len over one repartition: the window
    specs on (entity_id) and (entity_id, session_id) must both be satisfied
    by the same hashpartitioning(entity_id) — no second shuffle."""
    from esa_pfa_spark import synth
    from esa_pfa_spark.operators.features import token_stats_arrow
    from esa_pfa_spark.operators.windows import lag_lead, sessionize
    from esa_pfa_spark.plans.pipeline import DEFAULT_SESSION_GAP

    obs = synth.observations_df(spark, seed=1, n_entities=10, mean_obs=5, mean_tok=8)
    # stats FIRST (map-side): a mapInArrow after the exchange would force
    # the window sort to re-exchange
    enriched = token_stats_arrow(obs, "tokens")
    enriched = lag_lead(enriched, "mean", key="entity_id", ts="ts")
    enriched = sessionize(enriched, key="entity_id", ts="ts", gap=DEFAULT_SESSION_GAP)
    plan = plan_of(enriched)
    assert n_exchanges(plan) == 1, plan


def test_sessionize_no_extra_shuffle_for_stats(spark):
    """session_len's (key, session_id) window must reuse the (key) hash."""
    import datetime as dt

    from esa_pfa_spark.operators.windows import sessionize

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    plan = plan_of(sessionize(ev, key="user_id", ts="ts", gap=dt.timedelta(minutes=30)))
    assert n_exchanges(plan) == 1, plan


def test_flagship_scan_prunes_for_count(spark):
    """count() over the feature table output must not read token arrays."""
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    plan = plan_of(ev.groupBy("event_type").count())
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and "props" not in m.group(1), "count-by-type must prune the wide props column"


def test_dense_ids_matches_dense_rank_and_avoids_global_window(spark):
    """A10 scalable dictionary: identical mapping to dense_rank() OVER
    (ORDER BY col) - 1, with NO SinglePartition exchange in the plan
    (the naive global window funnels every distinct value into one task)."""
    from pyspark.sql import Window, functions as F

    from esa_pfa_spark.operators.dictionary import dense_ids

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    got = dense_ids(ev, "user_id").toPandas().sort_values("user_id").reset_index(drop=True)
    want = (
        ev.select("user_id").distinct()
        .select("user_id", (F.dense_rank().over(Window.orderBy("user_id")) - 1).alias("dict_id"))
        .toPandas().sort_values("user_id").reset_index(drop=True)
    )
    import pandas as pd

    pd.testing.assert_frame_equal(got, want.astype({"dict_id": "int64"}))
    plan = plan_of(dense_ids(ev, "user_id"))
    assert "SinglePartition" not in plan


def test_pack_offsets_avoids_global_window(spark):
    """Sequence packing must never plan the naive global-window cumsum:
    no SinglePartition exchange; the order comes from ONE range partition
    + within-partition sort, materialized through the persisted
    (InMemoryTableScan) relation so the numbering pass reads the SAME
    sampled partitioning as the offsets pass (determinism fix — the
    cached plan's single range exchange prints once per reference)."""
    df = entry_mod.queries()["token_pack_capacity"](spark, SF_DIR)
    plan = plan_of(df)
    assert "SinglePartition" not in plan
    assert "InMemoryTableScan" in plan  # both passes read the pinned cache
    assert len(re.findall(r"rangepartitioning", plan)) >= 1


def test_token_topk_is_take_ordered(spark):
    """Vocab/bigram top-k compile to TakeOrderedAndProject — per-partition
    k-heaps, never a global sort of the count table."""
    for q in ("token_vocab_topk", "token_bigrams_topk"):
        plan = plan_of(entry_mod.queries()[q](spark, SF_DIR))
        assert "TakeOrderedAndProject" in plan, q
        assert "SinglePartition" not in plan, q


def test_bucketed_tables_join_and_agg_without_exchange(spark, tmp_path):
    """Co-located joins via bucketing: two tables bucketed by the same key
    sort-merge-join with ZERO shuffle exchanges, and groupBy on the bucket
    key aggregates without one — the write-once/shuffle-never layout for
    a 100 TB fact table."""
    from pyspark.sql import functions as F

    from esa_pfa_spark.sources.sinks import write_bucketed_table

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    write_bucketed_table(
        ev, "ev_bucketed", "user_id", n_buckets=4,
        sort_cols="ts", data_path=str(tmp_path / "ev"),
    )
    agg = ev.groupBy("user_id").agg(F.sum("value").alias("total"))
    write_bucketed_table(
        agg, "agg_bucketed", "user_id", n_buckets=4, data_path=str(tmp_path / "agg"),
    )
    a = spark.table("ev_bucketed")
    b = spark.table("agg_bucketed")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = a.join(b, "user_id")
        jplan = plan_of(joined)
        assert "SortMergeJoin" in jplan
        assert n_exchanges(jplan) == 0, jplan
        assert joined.count() == ev.count()

        gplan = plan_of(a.groupBy("user_id").count())
        assert n_exchanges(gplan) == 0, gplan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS ev_bucketed")
        spark.sql("DROP TABLE IF EXISTS agg_bucketed")


def test_bucketed_asof_cogroup_no_exchange(spark, tmp_path):
    """Probes AND observations pre-bucketed by entity (the write-once
    layout) give the as-of join the same rows as the un-bucketed input."""
    import datetime as dt

    from esa_pfa_spark.operators.asof import asof_join
    from esa_pfa_spark.sources.sinks import write_bucketed_table

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    from pyspark.sql import functions as F

    obs = ev.select("user_id", "ts", "value")
    probes = ev.select("user_id", (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("query_ts"))
    write_bucketed_table(obs, "asof_obs_b", "user_id", n_buckets=4,
                         sort_cols="ts", data_path=str(tmp_path / "obs"))
    write_bucketed_table(probes, "asof_probe_b", "user_id", n_buckets=4,
                         sort_cols="query_ts", data_path=str(tmp_path / "probes"))
    try:
        bp, bo = spark.table("asof_probe_b"), spark.table("asof_obs_b")
        joined = asof_join(bp, bo, on="user_id", tolerance=dt.timedelta(days=7))
        got = joined.toPandas().sort_values(["user_id", "query_ts"]).reset_index(drop=True)
        want = (
            asof_join(probes, obs, on="user_id", tolerance=dt.timedelta(days=7))
            .toPandas().sort_values(["user_id", "query_ts"]).reset_index(drop=True)
        )
        import pandas as pd

        pd.testing.assert_frame_equal(got[sorted(got.columns)], want[sorted(want.columns)])
    finally:
        spark.sql("DROP TABLE IF EXISTS asof_obs_b")
        spark.sql("DROP TABLE IF EXISTS asof_probe_b")


def test_shuffle_order_avoids_global_window(spark):
    """The export shuffle order must not plan row_number() OVER (ORDER BY)
    — no SinglePartition exchange, ONE bucket-hash exchange; split and
    mixture-sample plan as pure map stages (zero exchanges)."""
    plan = plan_of(entry_mod.queries()["shuffle_order"](spark, SF_DIR))
    assert "SinglePartition" not in plan
    assert n_exchanges(plan) == 1, plan

    from esa_pfa_spark.operators.dataset import hash_split, mixture_sample

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sp = plan_of(hash_split(docs, {"train": 0.9, "val": 0.1}))
    assert n_exchanges(sp) == 0, sp
    mp = plan_of(mixture_sample(docs, {"web": 0.5}))
    assert n_exchanges(mp) == 0, mp


def test_dup_ngram_no_single_partition(spark):
    """The n-gram span dedup (skew-safe default) keeps every stage hash-
    or doc-partitioned: no SinglePartition exchange, and the frequency
    filter aggregates partially (map-side combine) before its shuffle."""
    plan = plan_of(entry_mod.queries()["token_dup_ngram_spans"](spark, SF_DIR))
    assert "SinglePartition" not in plan
    assert re.search(r"partial_count|HashAggregate.*partial", plan, re.I | re.S)


def test_pit_multi_join_exchange_bound(spark):
    """Two chained PIT feature groups: each union+window stage costs one
    Exchange of the obs side + the accumulating probe side; the plan must
    stay at <= 2 non-broadcast Exchanges (one per stage — no extra
    re-shuffle of the probe side between stages beyond its union) and no
    single-partition Exchange."""
    df = entry_mod.q_pit_two_table(spark, SF_DIR)
    plan = plan_of(df)
    assert n_exchanges(plan) <= 2, (
        f"PIT multi-join should cost one Exchange per feature group:\n{plan}"
    )
    assert "SinglePartition" not in plan


def test_length_buckets_partial_agg_no_join(spark):
    """Bucketed padding stats: map-side bucket id -> partial agg; exactly
    one Exchange (the final hash agg), no joins, no windows."""
    from esa_pfa_spark.operators.tokens import length_bucket_stats, tokenize

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(length_bucket_stats(tokenize(docs)))
    assert n_exchanges(plan) == 1, plan
    assert "Join" not in plan and "Window" not in plan
    assert "partial" in plan.lower()


def test_oov_vocab_take_ordered_and_broadcast(spark):
    """OOV rate: the top-V vocabulary must be TakeOrderedAndProject (not a
    global window) and must reach the membership join as a broadcast —
    the corpus side never shuffles for the join."""
    plan = plan_of(entry_mod.q_oov_rate(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_zipf_ranking_window_is_partitioned(spark):
    """Zipf slope: ranking must run in a source-partitioned window — no
    partition-less (SinglePartition) stage anywhere."""
    plan = plan_of(entry_mod.q_zipf_slope(spark, SF_DIR))
    assert "SinglePartition" not in plan, plan
    assert "Window" in plan


def test_minhash_signatures_partial_agg_and_parity(spark):
    """The grouped signature form must partial-aggregate map-side (shuffle
    volume |docs|, not |shingles|) and must equal the map-side column form
    value-for-value (the streaming path's signatures)."""
    from esa_pfa_spark.operators.dedup import minhash_signature_cols, minhash_signatures
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(minhash_signatures(docs))
    assert "partial" in plan.lower(), plan
    a = sorted(map(tuple, minhash_signatures(docs).collect()))
    b = sorted(map(tuple,
        docs.select("doc_id", *minhash_signature_cols())
        .filter(F.col("mh0").isNotNull()).collect()))
    assert a == b


def test_r4_wave_plan_shapes(spark):
    """Plan assertions for the round-4 operator wave: purged folds stay
    map-only after the broadcast bounds; temperature mixture broadcasts
    its rate table (no corpus sort-merge); the decayed PIT band join is an
    equi-hash join, not a BroadcastNestedLoop; lag-k's obs join is an
    equi-join on (key, rank)."""
    import datetime as dtm

    from pyspark.sql import functions as F

    from esa_pfa_spark.operators.asof import asof_lagk_join
    from esa_pfa_spark.operators.dataset import (
        purged_time_folds,
        temperature_mixture_sample,
    )
    from esa_pfa_spark.operators.pit import decayed_pit_features

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    # purged folds: the only exchange feeds the 2-scalar bounds aggregate;
    # the row-side path is a broadcast nested-loop of ONE row + explode
    p = plan_of(purged_time_folds(ev.select("event_id", "ts"), ts="ts", k=5,
                                  embargo=dtm.timedelta(days=1)))
    assert n_exchanges(p) <= 1, p
    assert "SortMergeJoin" not in p

    # temperature mixture: rate table joins via broadcast, corpus never sorts
    t = plan_of(temperature_mixture_sample(
        docs.select("doc_id", "lang"), alpha=0.5, keep_frac=0.5, group_col="lang"))
    assert "BroadcastHashJoin" in t and "SortMergeJoin" not in t

    probes = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", F.col("ts").alias("query_ts"))
    obs = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")

    d = plan_of(decayed_pit_features(
        probes, obs, on="user_id", probe_ts="query_ts", obs_ts="ts",
        value="value", tau=dtm.timedelta(days=1)))
    assert "BroadcastNestedLoop" not in d, d

    l = plan_of(asof_lagk_join(
        probes, obs.withColumn("oid", F.monotonically_increasing_id()),
        k=3, on="user_id", probe_ts="query_ts", obs_ts="ts",
        value="value", tiebreak="oid"))
    assert "BroadcastNestedLoop" not in l and "CartesianProduct" not in l, l


def test_r4_late_wave_plan_shapes(spark):
    """Plan assertions for the r4 late wave: block_dedup's keeper
    selection partial-aggregates map-side (min(struct) before the
    fingerprint exchange) and joins the keeper table by hash, never a
    nested loop; pq_adc_topk keeps ADC scoring JVM-side — exactly ONE
    Python/Arrow eval (the encode pass), the broadcast probe table, and
    a TakeOrderedAndProject top-k with no range shuffle."""
    import numpy as np

    from pyspark.sql import functions as F

    from esa_pfa_spark.operators.dedup import block_dedup
    from esa_pfa_spark.operators.similarity import pq_adc_topk

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    b = plan_of(block_dedup(docs))
    assert "partial_min" in b, b
    assert "BroadcastNestedLoop" not in b, b

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    probe = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    rng = np.random.default_rng(13)
    C = rng.integers(-600_000, 600_001, size=(8, 16, 8), dtype=np.int64)
    p = plan_of(
        pq_adc_topk(emb.filter(F.col("vec_id") != 0), probe, C, k=10),
        mode="simple",
    )
    # exactly TWO Arrow passes: the candidate encode and the tiny
    # probe-table kernel; never per-candidate Python
    assert p.count("ArrowEvalPython") + p.count("MapInArrow") == 2, p
    assert "BatchEvalPython" not in p, p
    assert "TakeOrderedAndProject" in p, p
    assert "rangepartitioning" not in p, p
    assert "BroadcastExchange" in p, p


def test_gap_stats_single_exchange(spark):
    """gap_stats_by_key: the lag window hash-partitions on the key and the
    follow-up groupBy must REUSE that partitioning — one shuffle total
    (the final orderBy's range exchange is presentation, tolerated)."""
    from esa_pfa_spark.operators.signal import gap_stats_by_key

    df = entry_mod._ld(spark, SF_DIR, "events")
    core = gap_stats_by_key(df)
    plan = plan_of(core)
    hash_ex = len(re.findall(r"Exchange hashpartitioning", plan_of(core, "simple")))
    assert hash_ex == 1, f"expected exactly one hash Exchange (window+agg fused):\n{plan}"


def test_ks_drift_two_exchanges(spark):
    """ks_drift: distinct-value agg (one Exchange on (group, value)) +
    per-group window/agg (one Exchange on group) — never more."""
    from esa_pfa_spark.operators.features import ks_drift
    from pyspark.sql import functions as F

    ev = entry_mod._ld(spark, SF_DIR, "events").withColumn(
        "period", F.when(F.col("value") < 50, "base").otherwise("cur")
    )
    plan = plan_of(ks_drift(ev), "simple")
    hash_ex = len(re.findall(r"Exchange hashpartitioning", plan))
    assert hash_ex <= 2, f"KS drift should shuffle twice (values agg + group window):\n{plan}"


def test_acf_single_exchange(spark):
    """acf_by_key: the (key, lag) hash agg is satisfied by the window's
    hashpartitioning(key) (subset clustering) — one shuffle for the whole
    multi-lag computation."""
    from esa_pfa_spark.operators.signal import acf_by_key

    df = entry_mod._ld(spark, SF_DIR, "events")
    plan = plan_of(acf_by_key(df, lags=(1, 2, 3)), "simple")
    hash_ex = len(re.findall(r"Exchange hashpartitioning", plan))
    assert hash_ex == 1, f"expected one hash Exchange (window reused by agg):\n{plan}"


def test_bitemporal_asof_single_exchange(spark):
    """asof_join_bitemporal keeps the flagship as-of plan shape: ONE hash
    Exchange on the key for the union+window fill."""
    from pyspark.sql import functions as F
    import datetime as dtm

    from esa_pfa_spark.operators.asof import asof_join_bitemporal

    ev = entry_mod._ld(spark, SF_DIR, "events")
    obs = ev.select("user_id", "ts", F.col("ts").alias("knowledge_ts"), "value")
    probes = ev.select("event_id", "user_id", F.col("ts").alias("query_ts"))
    plan = plan_of(
        asof_join_bitemporal(probes, obs, on="user_id", tolerance=dtm.timedelta(days=3)),
        "simple",
    )
    hash_ex = len(re.findall(r"Exchange hashpartitioning", plan))
    assert hash_ex == 1, f"bitemporal as-of must stay a 1-Exchange plan:\n{plan}"


def test_sketch_plans_bounded_shuffles(spark):
    """The mergeable sketches must keep their scale contracts in the
    plan: cms_build is ONE partial-agg exchange; hll_distinct is two
    (register agg, then per-group fold), both carrying bounded rows;
    WoE is one category exchange plus the scalar-totals agg."""
    from pyspark.sql import functions as F

    from esa_pfa_spark.operators.encode import woe_encode
    from esa_pfa_spark.operators.profile import cms_build, hll_distinct

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    cms_plan = plan_of(cms_build(ev, "user_id", width=64, depth=3), "simple")
    assert n_exchanges(cms_plan) == 1, cms_plan
    assert "partial_count" in cms_plan or "HashAggregate" in cms_plan

    hll_plan = plan_of(hll_distinct(ev, "user_id", "event_type"), "simple")
    # 2 hash exchanges (register agg, per-group fold); the display
    # orderBy adds one rangepartitioning
    assert len(re.findall(r"Exchange hashpartitioning", hll_plan)) == 2, hll_plan

    woe_plan = plan_of(
        woe_encode(ev, "event_type", F.col("value") > 50), "simple"
    )
    assert len(re.findall(r"Exchange hashpartitioning", woe_plan)) == 1, woe_plan


def test_global_cumsum_row_index_stays_in_the_jvm(spark):
    """The row index is one projection over the pinned range
    partitioning; only the weighted running sum crosses to Python."""
    from esa_pfa_spark.operators.dictionary import global_cumsum, release_pin

    df = spark.createDataFrame([(3, 5), (1, 2), (2, 7)], "k long, w long")
    index = global_cumsum(df, ["k"], "i", n_partitions=2)
    running = global_cumsum(df, ["k"], "s", weight="w", n_partitions=2)
    assert "MapInArrow" not in plan_of(index, mode="simple")
    assert plan_of(running, mode="simple").count("MapInArrow") == 1
    assert not index.schema["i"].nullable and not running.schema["s"].nullable
    release_pin(index)
    release_pin(running)


def test_suffix_ranks_single_hash_exchange(spark, monkeypatch):
    """The initial key-local suffix ranks (tie count per packed key) plan
    exactly one exchange, hash-partitioned on the packed key, and read no
    cached relation: no numbering pin, no count aggregate, no join back."""
    from esa_pfa_spark.operators import suffix

    plans = []
    real = suffix._checkpoint_observed

    def spy(df, **aggs):
        plans.append(plan_of(df, mode="simple"))
        return real(df, **aggs)

    monkeypatch.setattr(suffix, "_checkpoint_observed", spy)
    docs = spark.createDataFrame(
        [(1, [3, 1, 2, 1]), (2, [1, 2, 1])], "doc_id long, tokens array<int>"
    )
    assert suffix.suffix_order(docs).count() == 7
    assert re.findall(r"Exchange (\w+)\((\w+)#", plans[0]) == [
        ("hashpartitioning", "__g")
    ], plans[0]
    assert "InMemoryRelation" not in plans[0], plans[0]
