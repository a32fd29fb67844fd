"""Ingest-time curation for document streams: streaming exact
deduplication (the stream form of ``operators.dedup.exact_dedup``) and
map-only streaming decontamination against a static eval corpus.

Native Structured Streaming: ``dropDuplicatesWithinWatermark`` on the
content digest keeps ONE state row per distinct digest inside the
watermark horizon and evicts it once the watermark passes — state is
O(distinct digests per horizon), not O(stream).  This is the idiomatic
scale path (no custom stateful operator needed); the batch operator
remains the exact global dedup for reprocessing runs.

Semantics note: within-watermark dedup is windowed — a duplicate arriving
AFTER its first occurrence left the state horizon is re-emitted.  Global
exactness over history is the batch path's job (the same division of
labor as stream_ffill vs the batch as-of, streaming/stateful.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from esa_pfa_spark.operators.dedup import minhash_signature_cols  # noqa: F401  (re-export; shared map-side form)


def stream_decontaminate(
    stream_df: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    keep: str = "clean",
) -> DataFrame:
    """Ingest-time benchmark decontamination: filter a stream of tokenized
    documents against a STATIC eval corpus's n-gram fingerprint set.

    The eval set is a static DataFrame (benchmarks change rarely); its
    DISTINCT fingerprints are collected ONCE at plan-build time and
    embedded as an array literal the stream tests with ``arrays_overlap``
    — a purely MAP-ONLY, stateless filter (no stream join, no
    aggregation, no state store), so it composes with any downstream
    streaming operator and any output mode.  Fingerprints are the same
    md5 n-gram form as the batch ``tokens.decontaminate`` (shared
    ``ngram_fps`` semantics; batch/stream parity tested).

    Scale bound (documented, not silent): the literal carries the whole
    eval fingerprint set through the plan — right for benchmark-sized
    eval corpora (<= ~10^6 n-grams).  Beyond that, run the batch
    ``decontaminate`` pass over accumulated micro-batch output instead.

    ``keep="clean"`` passes uncontaminated docs (docs shorter than ``n``
    tokens cannot contain an eval n-gram and pass); ``keep="flagged"``
    inverts, emitting only offenders for quarantine sinks."""
    from esa_pfa_spark.operators.tokens import ngram_fps

    if keep not in ("clean", "flagged"):
        raise ValueError(f"keep must be clean|flagged, got {keep}")
    ev = [
        r["fp"]
        for r in ngram_fps(eval_docs, n=n, tokens_col=tokens_col, id_col=id_col)
        .select("fp")
        .distinct()
        .collect()
    ]
    toks = F.col(tokens_col)
    if ev:
        starts = F.sequence(F.lit(0), F.size(toks) - n)
        fps = F.transform(
            starts,
            lambda s: F.md5(
                F.array_join(
                    F.transform(F.slice(toks, s + 1, n), lambda x: x.cast("string")),
                    ",",
                )
            ),
        )
        flag = F.when(
            F.size(toks) >= n, F.arrays_overlap(fps, F.lit(ev))
        ).otherwise(F.lit(False))
    else:
        flag = F.lit(False)
    return stream_df.where(~flag if keep == "clean" else flag)


def stream_exact_dedup(
    stream_df: DataFrame,
    text_col: str = "text",
    ts: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Emit only the first occurrence of each content digest within the
    watermark horizon.  Input needs an event-time column ``ts``."""
    with_digest = stream_df.withColumn("__digest", F.md5(F.col(text_col)))
    return (
        with_digest.withWatermark(ts, watermark)
        .dropDuplicatesWithinWatermark(["__digest"])
        .drop("__digest")
    )


def make_bucket_pairs_fn(tolerance=None, max_per_bucket: int = 100):
    """(key, batches, state) -> batches for ``applyInPandasWithState``:
    per LSH bucket, remember the member doc ids; each NEW member emits a
    candidate pair against every existing member.  Module-level +
    closure-light so it pickles cleanly to executors."""
    from esa_pfa_spark.functions.time import seconds

    tol_us = None if tolerance is None else int(seconds(tolerance) * 1e6)

    def bucket_pairs(key, pdfs, state):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            ids, last_ts = state.get
            ids = list(ids)
        else:
            ids, last_ts = [], None
        out_a, out_b = [], []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "doc_id"], kind="mergesort")
            for did, ts in zip(pdf["doc_id"], pdf["ts"]):
                ts_us = int(pd.Timestamp(ts).value // 1000)
                last_ts = ts_us if last_ts is None else max(last_ts, ts_us)
                did = int(did)
                if did in ids:
                    continue
                if len(ids) >= max_per_bucket:
                    # hot-bucket cap (documented; the batch pair builder
                    # runs uncapped and batch survivors read star edges):
                    # a saturated bucket stops emitting — route
                    # exact-duplicate floods to stream_exact_dedup upstream
                    continue
                for e in ids:
                    a, b = (e, did) if e < did else (did, e)
                    out_a.append(a)
                    out_b.append(b)
                ids.append(did)
        if out_a:
            yield pd.DataFrame({"doc_id_a": out_a, "doc_id_b": out_b})
        state.update((ids, last_ts))
        if tol_us is not None and last_ts is not None:
            state.setTimeoutTimestamp(
                max((last_ts + tol_us) // 1000, state.getCurrentWatermarkMs() + 1)
            )

    return bucket_pairs


def stream_neardup_candidates(
    stream_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts: str = "ts",
    watermark: str = "1 hour",
    tolerance=None,
    max_per_bucket: int = 100,
) -> DataFrame:
    """Ingest-time NEAR-duplicate candidate detection — the streaming form
    of ``operators.dedup.minhash_band_candidates``: map-side MinHash
    signature -> two LSH band keys per doc -> a custom stateful operator
    (``applyInPandasWithState``) keyed by band bucket whose state is the
    bucket's member ids; every new member emits candidate pairs against
    the existing members, ACROSS micro-batches.

    Emits (doc_id_a, doc_id_b) with a < b; a pair whose docs agree on
    BOTH bands is emitted once per band — downstream consumers needing
    set semantics dedupe (the batch operator's DISTINCT), e.g. with
    ``dropDuplicatesWithinWatermark`` or in the sink.

    State: O(member ids per live bucket), bounded by ``max_per_bucket``
    (saturated buckets stop emitting; the batch operator has no cap —
    its survivor path reads ``minhash_band_edges``, n - 1 star edges per
    bucket, instead) and, with ``tolerance`` set, evicted by EventTimeTimeout once
    the watermark passes the bucket's last activity + tolerance (idle
    buckets hold no state; pairs then form only within the tolerance
    horizon — the same windowed-semantics division of labor as
    ``stream_exact_dedup``)."""
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    sig = stream_df.select(
        F.col(id_col).alias("doc_id"),
        F.col(ts).alias("ts"),
        *minhash_signature_cols(text_col),
    ).filter(F.col("mh0").isNotNull())
    bands = sig.select(
        "doc_id",
        "ts",
        F.explode(
            F.array(
                F.concat_ws("|", F.lit("b0"), "mh0", "mh1", "mh2"),
                F.concat_ws("|", F.lit("b1"), "mh3", "mh4", "mh5"),
            )
        ).alias("bk"),
    )
    out_schema = T.StructType(
        [
            T.StructField("doc_id_a", T.LongType(), False),
            T.StructField("doc_id_b", T.LongType(), False),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("ids", T.ArrayType(T.LongType()), True),
            T.StructField("last_ts", T.LongType(), True),
        ]
    )
    timeout = (
        GroupStateTimeout.EventTimeTimeout
        if tolerance is not None
        else GroupStateTimeout.NoTimeout
    )
    return (
        bands.withWatermark("ts", watermark)
        .groupBy("bk")
        .applyInPandasWithState(
            make_bucket_pairs_fn(tolerance, max_per_bucket),
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=timeout,
        )
    )
