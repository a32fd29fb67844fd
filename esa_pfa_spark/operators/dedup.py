"""Deduplication operators for training-data pipelines.

Exact dedup (hash-groupBy), n-gram Jaccard near-dup, MinHash signatures +
LSH banding, SimHash.  Everything is built-in DataFrame functions; the
hashing primitive is md5 (bit-identical across Spark / DuckDB / Python,
so every operator here has an exact SQL oracle).

One blocking primitive (``_blocks``: block size + least id per key, a
size bound) serves every pair builder here and ``tokens.winnow_dup_pairs``.
Pairs (``_block_pairs``) are its one a < b self equi-join, quadratic ONLY
within a block; star edges (``_block_star``, least id -> member) need no
self-join and have the same connected components (Kiveris et al., SoCC
2014), so survivor selection reads ``minhash_band_edges``: n - 1 edges
for an exact-duplicate cluster of n docs, not n(n-1)/2 pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

N_MINHASH = 6  # two bands of three
SHINGLE_K = 3


def exact_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct content digest."""
    return df.groupBy(F.md5(F.col(text_col)).alias("text_hash")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("canonical_doc_id"),
    )


def shingles(df: DataFrame, text_col: str = "text", k: int = SHINGLE_K) -> DataFrame:
    """Distinct k-word shingles per doc: (doc_id, shingle).
    Word split: single space (portability contract with the SQL oracle).

    The split is materialized ONCE per row before the shingle transform —
    a lambda that re-splits the text per shingle index is O(words²) string
    work per document (measured ~25% of the whole near-dup query)."""
    ws = F.split(F.col(text_col), " ")
    sh = F.transform(
        F.sequence(F.lit(0), F.size(F.col("__ws")) - k),
        lambda i: F.concat_ws(" ", F.slice(F.col("__ws"), i + F.lit(1), k)),
    )
    return (
        df.withColumn("__ws", ws)
        .filter(F.size(F.col("__ws")) >= k)
        .select("doc_id", F.explode(F.array_distinct(sh)).alias("shingle"))
    )


def _blocks(members: DataFrame, id_col: str, key_col: str, max_size: int | None = None) -> DataFrame:
    """The blocking primitive: ``(id_col, key_col)`` member rows -> the
    members of every block (rows sharing a key) with at most ``max_size``
    members, each tagged with its block's size ``__n`` and least id
    ``__lo``.  One groupBy(key) with map-side partial count/min, joined
    back: a hot key is counted map-side and streams through the join probe
    (AQE-skew-splittable, no per-key sort)."""
    stats = members.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("__n"), F.min(id_col).alias("__lo")
    )
    if max_size is not None:
        stats = stats.filter(F.col("__n") <= max_size)
    return members.select(id_col, key_col).join(stats, key_col)


def _block_pairs(blocks: DataFrame, id_col: str, key_col: str, a: str, b: str) -> DataFrame:
    """Every pair of ``_blocks`` members sharing a block, ``a < b``, with
    ``n_shared`` = the number of blocks they share.  Singleton blocks
    cannot pair, so they are pruned before the self equi-join."""
    core = blocks.filter(F.col("__n") >= 2)
    l = core.select(F.col(id_col).alias(a), key_col)
    r = core.select(F.col(id_col).alias(b), key_col)
    return (
        l.join(r, key_col)
        .filter(F.col(a) < F.col(b))
        .groupBy(a, b)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def _block_star(blocks: DataFrame, id_col: str, a: str, b: str) -> DataFrame:
    """Star edges ``(least id, member)`` of every ``_blocks`` block: n - 1
    per block, each with ``a < b``; same connected components as the
    block's pairs, without the self-join."""
    return blocks.filter(F.col(id_col) != F.col("__lo")).select(
        F.col("__lo").alias(a), F.col(id_col).alias(b)
    )


MAX_SHINGLE_FREQ = 1000


def _shingle_overlap(df: DataFrame, text_col: str, max_shingle_freq: int | None) -> DataFrame:
    """``(doc_id_a, doc_id_b, i, sa, sb)`` for every doc pair sharing a
    k-shingle: ``i`` shared shingles, ``sa``/``sb`` the per-doc shingle
    counts.  Shingles in more than ``max_shingle_freq`` docs are dropped
    from the intersection AND the sizes; df=1 shingles count in the sizes
    but never reach the self-join."""
    blocks = _blocks(shingles(df, text_col), "doc_id", "shingle", max_shingle_freq)
    sizes = blocks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("s"))
    inter = _block_pairs(blocks, "doc_id", "shingle", "doc_id_a", "doc_id_b")
    sa = sizes.select(F.col("doc_id").alias("doc_id_a"), F.col("s").alias("sa"))
    sb = sizes.select(F.col("doc_id").alias("doc_id_b"), F.col("s").alias("sb"))
    return (
        inter.withColumnRenamed("n_shared", "i")
        .join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    threshold: float = 0.2,
    max_shingle_freq: int | None = MAX_SHINGLE_FREQ,
) -> DataFrame:
    """Near-duplicate pairs by k-shingle Jaccard >= threshold.

    Plan shape: ``_shingle_overlap`` (the blocking primitive over
    shingles: ONE doc-frequency pass fusing the stop-shingle cap AND the
    singleton prune -> shingle self equi-join -> per-doc sizes) -> ratio
    filter.  The cap bounds per-bucket fan-out, so the plan scales
    linearly in total shingle count.

    NOT a silent cap: shingles appearing in more than ``max_shingle_freq``
    docs ("of the and"-style stop-shingles) are EXCLUDED from both the
    intersection AND the per-doc sizes — the Jaccard is computed over the
    capped shingle sets, a deliberate, documented semantic (the SQL oracle
    applies the identical cap).  Without it a hot shingle's bucket emits
    O(df^2) pairs — at web scale a single stop-shingle with df=10^8 would
    attempt 10^16 pairs.  Pass ``max_shingle_freq=None`` to uncap (only
    sane for small oracle runs)."""
    jac = F.col("i") * 1.0 / (F.col("sa") + F.col("sb") - F.col("i"))
    return (
        _shingle_overlap(df, text_col, max_shingle_freq)
        .filter(jac >= threshold)
        .select("doc_id_a", "doc_id_b", F.round(jac, 6).alias("jaccard"))
    )


def minhash_signature_cols(
    text_col: str = "text", n_hashes: int = N_MINHASH, k: int = SHINGLE_K
):
    """MAP-SIDE MinHash signature expressions: ``mh_j = array_min(md5('sj:'
    || shingle))`` over the row's distinct k-shingles.  Pure column math —
    no explode, no aggregation — so they cost ZERO shuffles in batch and
    compose directly with streams (streaming/dedup.py).  Docs with fewer
    than ``k`` words have no shingles -> NULL signature (callers filter).
    Returns the column list."""
    ws = F.split(F.col(text_col), " ")
    # total expression: greatest(size-k, 0) keeps the sequence ascending for
    # docs shorter than k words (a descending sequence(0,-1,...) would be a
    # runtime error if Spark ever hoisted this out of the size>=k CaseWhen
    # guard below — don't rely on lazy branch evaluation)
    sh = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(ws) - k, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(ws, i + 1, k)),
        )
    )

    def hasher(prefix):
        # one-arg lambda only: pyspark treats a second lambda parameter as
        # the ARRAY INDEX argument (element, index), which would shadow a
        # `j=j` default and hash garbage prefixes
        return lambda s: F.md5(F.concat(F.lit(prefix), s))

    cols = []
    for j in range(n_hashes):
        mh = F.array_min(F.transform(sh, hasher(f"s{j}:")))
        cols.append(
            F.when(F.size(ws) >= k, mh).otherwise(F.lit(None)).alias(f"mh{j}")
        )
    return cols


def minhash_signatures(df: DataFrame, text_col: str = "text", n_hashes: int = N_MINHASH) -> DataFrame:
    """MinHash signature per doc: the j-th hash function is
    ``min(md5('s<j>:' || shingle))`` — min over hex digests is a valid
    permutation-min and is engine-portable (md5 is bit-identical).

    Two equivalent forms exist (value-parity tested):
      * THIS explode+groupBy form — the batch default.  Measured 1.3s vs
        3.4s for the map-side-array form at sf0.1: exploded scalar md5 is
        whole-stage-codegen'd, while ``transform()`` lambdas are
        interpreted per element; and the shuffle is NOT shingle-sized —
        map-side partial aggregation collapses each doc's mins to one row
        before the exchange (a doc's shingles are row-local by
        construction), so shuffle volume is |docs| regardless of scale.
      * ``minhash_signature_cols`` — map-side column math with no
        aggregation at all; required where aggregation can't precede the
        consumer (the streaming LSH-bucket operator), and the right form
        when the engine ever codegens higher-order lambdas."""
    sh = shingles(df, text_col)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"s{j}:"), F.col("shingle")))).alias(f"mh{j}")
        for j in range(n_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _band_blocks(df: DataFrame, text_col: str) -> DataFrame:
    """LSH band blocks over the 6-hash signature (2 bands x 3 rows): one
    ``(doc_id, bk)`` member row per doc and band.  The key carries its band
    tag (``"0|…"``, ``"1|…"``) so that equal hash triples in DIFFERENT
    bands never share a block."""
    sig = minhash_signatures(df, text_col)
    bands = [["mh0", "mh1", "mh2"], ["mh3", "mh4", "mh5"]]
    keys = F.array(
        *[F.concat_ws("|", F.lit(str(i)), *cols) for i, cols in enumerate(bands)]
    )
    return _blocks(sig.select("doc_id", F.explode(keys).alias("bk")), "doc_id", "bk")


def minhash_band_candidates(df: DataFrame, text_col: str = "text") -> DataFrame:
    """LSH banding over the 6-hash signature (2 bands x 3 rows): candidate
    pairs agree on ALL hashes of at least one band.  One self equi-join
    over the band-tagged block keys — the bucket-join scale path; a pair
    agreeing on both bands is emitted once.

    An EXACT-duplicate cluster of n docs shares every band, so it emits
    n(n-1)/2 pairs.  Callers that need real pairs (exact verification,
    Jaccard estimates, leakage audits) pay that; callers that only need
    the duplicate clusters read ``minhash_band_edges`` instead."""
    pairs = _block_pairs(_band_blocks(df, text_col), "doc_id", "bk", "doc_id_a", "doc_id_b")
    return pairs.select("doc_id_a", "doc_id_b")


def minhash_band_edges(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Star edges ``(doc_id_a, doc_id_b)`` of the same LSH band blocks as
    ``minhash_band_candidates``: each block's least doc id joined to every
    other member, distinct across the two bands.  Their connected
    components equal the candidate pairs' (a block's star and its clique
    connect the same docs), so ``dedup_survivors`` /
    ``dedup_survivors_by_score`` give the same survivors from either — but
    an exact-duplicate cluster of n docs is n - 1 edges here, not
    n(n-1)/2 pairs, and no self-join runs."""
    return _block_star(_band_blocks(df, text_col), "doc_id", "doc_id_a", "doc_id_b").distinct()


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round: every node u connects its strictly-larger
    neighbors to ``m = min(N(u) ∪ {u})``."""
    bid = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = bid.groupBy("u").agg(F.min("v").alias("__mn"))
    m = m.select("u", F.least(F.col("u"), F.col("__mn")).alias("__m"))
    return (
        bid.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("__m").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round: orient every edge (larger, smaller); every
    node u connects its smaller neighbors (and itself) to their minimum."""
    o = (
        e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    m = o.groupBy("u").agg(F.min("v").alias("__m"))
    leaves = o.join(m, "u").select(F.col("v").alias("u"), F.col("__m").alias("v"))
    centers = m.select("u", F.col("__m").alias("v"))
    return (
        leaves.unionByName(centers).filter(F.col("u") != F.col("v")).distinct()
    )


def graph_components(
    pairs: DataFrame,
    src: str = "doc_id_a",
    dst: str = "doc_id_b",
    max_iter: int = 25,
    local_finish_edges: int = 200_000,
) -> DataFrame:
    """Connected components of an arbitrary pair graph by alternating
    large-star / small-star contraction (Kiveris, Lattanzi, Mirrokni,
    Rastogi, Vassilvitskii — "Connected Components in MapReduce and
    Beyond", SoCC 2014).  Returns (id, component) for every node that
    appears in ``pairs``; the component label is the minimum node id of
    the component (deterministic).

    Why not plain min-label propagation: propagation needs O(graph
    diameter) joins — pathological both on a web-scale duplicate graph
    (long transitive near-dup chains) and on a dense raster (one blob
    spanning the grid measured ~90 rounds; spatial.connected_components
    now delegates here for exactly that reason).  Star contraction
    converges in
    O(log n) rounds regardless of diameter, each round two
    groupBy-min + equi-join passes over the shrinking edge list —
    the published MapReduce-scale shape.  Every round localCheckpoints
    (truncates the doubling lineage) and the fixpoint test is one tiny
    agg (count + order-insensitive hash) per round, not a full compare.

    Local endgame: once the (shrinking) edge list fits under
    ``local_finish_edges`` rows it is collected and finished with
    driver-side union-find — the standard recursion bottom-out for
    contraction algorithms.  Each distributed round costs several
    shuffles + an eager checkpoint job; on a nearly-converged list that
    fixed cost dwarfs the work, while union-find on <=200k bounded-size
    edges is milliseconds and exact (same min-id labels).  The bound is
    checked BEFORE any collect (the count rides the fixpoint agg), so a
    web-scale graph runs contraction rounds until it has shrunk under
    the cap — driver memory stays bounded by the parameter, never by
    the input."""
    # Materialize the edge list ONCE (eager localCheckpoint): ``pairs`` is
    # typically an expensive upstream plan (LSH banding = shingles +
    # signatures + band join) and is otherwise re-evaluated three times —
    # as the initial edges and as both node projections (measured 7.1s ->
    # 3.4s on the sf0.1 survivor query).  Self-pairs are dropped: a node
    # appearing ONLY in self-pairs is its own component, which the
    # consumer's left-join-coalesce form (dedup_survivors) preserves.
    e = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        e.select(F.col("u").alias("id"))
        .unionByName(e.select(F.col("v").alias("id")))
        .distinct()
    )
    n_edges = e.count()  # free: e is checkpointed; bounds the endgame check
    prev_sig = None
    for _ in range(max_iter):
        if n_edges <= local_finish_edges:
            return _finish_components_local(e, nodes)
        e = _small_star(_large_star(e)).localCheckpoint()
        sig = tuple(
            e.agg(
                F.count(F.lit(1)),
                # exact order-insensitive fingerprint; decimal(38,0) so the
                # sum of int64 hashes can't overflow under ANSI mode
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
            ).first()
        )
        if sig == prev_sig:
            break
        prev_sig = sig
        n_edges = sig[0]
    return nodes.join(e, nodes["id"] == e["u"], "left").select(
        "id", F.coalesce(F.col("v"), F.col("id")).alias("component")
    )


def _finish_components_local(e: DataFrame, nodes: DataFrame) -> DataFrame:
    """Union-find endgame for ``graph_components``: exact min-id labels
    over a driver-collected edge list already proven <= local_finish_edges
    rows.  Star rounds preserve connectivity over the surviving node set,
    so components of any intermediate edge list equal the remaining
    components of the original graph; nodes absent from it are their own
    component (the left-join-coalesce recovers them)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    rows = e.collect()
    for r in rows:
        ru, rv = find(r[0]), find(r[1])
        if ru != rv:
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo  # larger root under smaller -> min-id labels

    seen = {x for r in rows for x in (r[0], r[1])}
    id_t = e.schema["u"].dataType
    spark = e.sparkSession
    comp = spark.createDataFrame(
        [(x, find(x)) for x in seen] or [],
        T.StructType(
            [T.StructField("u", id_t), T.StructField("v", id_t)]
        ),
    )
    return nodes.join(comp, nodes["id"] == comp["u"], "left").select(
        "id", F.coalesce(F.col("v"), F.col("id")).alias("component")
    )


def dedup_survivors(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Survivor selection — the stage that turns candidate PAIRS into a
    deduplicated corpus: near-dup pairs are unioned into clusters
    (``graph_components``) and each cluster keeps its minimum id as
    canonical.  Returns every doc with (canonical id, survives flag);
    docs in no pair survive as their own canonical.  Filter on
    ``survives`` for the deduplicated corpus.

    Scale shape: CC over the pair list (already bucketed/capped upstream)
    + one left join of the full corpus against the cluster map — the map
    is |docs-in-pairs| rows, typically a small fraction of the corpus, so
    AQE broadcasts it; no shuffle of the corpus table otherwise."""
    comp = graph_components(pairs, src=f"{id_col}_a", dst=f"{id_col}_b")
    comp = comp.select(
        F.col("id").alias(id_col), F.col("component").alias("canonical_doc_id")
    )
    return (
        docs.select(id_col)
        .join(comp, id_col, "left")
        .select(
            id_col,
            F.coalesce("canonical_doc_id", F.col(id_col)).alias("canonical_doc_id"),
        )
        .withColumn("survives", F.col(id_col) == F.col("canonical_doc_id"))
    )


def simhash16(df: DataFrame, text_col: str = "text") -> DataFrame:
    """16-bit SimHash over distinct words: bit b is the sign of
    sum(+1/-1 for bit b of md5(word)[0:4]).  Portable: hex->int via
    conv(), bit ops via shiftright/&."""
    words = df.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("w"),
    )
    h = F.conv(F.substring(F.md5(F.col("w")), 1, 4), 16, 10).cast("int")
    sums = words.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(16)
        ]
    )
    sim = None
    for b in range(16):
        term = F.when(F.col(f"b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return sums.select("doc_id", sim.cast("int").alias("simhash"))


def minhash_jaccard_estimates(
    df: DataFrame, text_col: str = "text", n_hashes: int = N_MINHASH
) -> DataFrame:
    """Jaccard ESTIMATE for every LSH candidate pair: the fraction of the
    ``n_hashes`` signature positions that agree — the unbiased MinHash
    estimator (E[match fraction] = J), computed over only the banded
    candidates so no all-pairs work happens.  This is the cheap re-rank
    between candidate generation and an (expensive) exact verification:
    at web scale the exact shingle-set Jaccard of every candidate is a
    second heavy join, while the estimate is a column comparison on two
    already-joined signature rows.

    Deterministic (the signatures are), so it carries an EXACT value
    oracle despite being an approximation of the true Jaccard; its
    accuracy band vs the exact Jaccard is contract-tested separately."""
    sig = minhash_signatures(df, text_col, n_hashes)
    cand = minhash_band_candidates(df, text_col)
    a = sig.select(
        F.col("doc_id").alias("doc_id_a"),
        *[F.col(f"mh{j}").alias(f"a{j}") for j in range(n_hashes)],
    )
    b = sig.select(
        F.col("doc_id").alias("doc_id_b"),
        *[F.col(f"mh{j}").alias(f"b{j}") for j in range(n_hashes)],
    )
    matches = sum(
        F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
        for j in range(n_hashes)
    )
    return (
        cand.join(a, "doc_id_a")
        .join(b, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            F.round(matches * 1.0 / n_hashes, 6).alias("est_jaccard"),
        )
    )


def dedup_survivors_by_score(
    docs: DataFrame,
    pairs: DataFrame,
    score: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware survivor selection: like ``dedup_survivors`` but each
    duplicate cluster keeps its BEST-``score`` member (ties broken by min
    id) instead of the min id — what a production curation pipeline
    actually ships, since the lowest doc id is rarely the best copy of the
    boilerplate.  ``docs`` must carry ``score`` (any orderable numeric:
    quality_scores output, token entropy, a model score...).  Returns
    every doc with (canonical id, survives); docs in no pair survive as
    themselves.

    Scale shape: CC labels only the docs that appear in pairs; the argmax
    per component is a struct-max aggregation over that same small set
    (max of (score, -id) picks highest score then lowest id — one
    partial-aggregated groupBy, no window/sort); the corpus-wide left
    join against the |docs-in-pairs|-row map broadcasts under AQE."""
    comp = graph_components(pairs, src=f"{id_col}_a", dst=f"{id_col}_b").select(
        F.col("id").alias(id_col), F.col("component").alias("__comp")
    )
    scored = comp.join(docs.select(id_col, score), id_col, "left")
    best = (
        scored.groupBy("__comp")
        .agg(
            F.max(
                F.struct(
                    F.coalesce(F.col(score).cast("double"), F.lit(float("-inf"))).alias("s"),
                    (-F.col(id_col)).alias("negid"),
                )
            ).alias("__b")
        )
        .select("__comp", (-F.col("__b.negid")).alias("__canon"))
    )
    mapped = comp.join(best, "__comp").select(
        id_col, F.col("__canon").alias("canonical_doc_id")
    )
    return (
        docs.select(id_col, score)
        .join(mapped, id_col, "left")
        .select(
            id_col,
            score,
            F.coalesce("canonical_doc_id", F.col(id_col)).alias("canonical_doc_id"),
        )
        .withColumn("survives", F.col(id_col) == F.col("canonical_doc_id"))
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    max_shingle_freq: int | None = MAX_SHINGLE_FREQ,
) -> DataFrame:
    """ASYMMETRIC near-duplication: directed containment
    ``|S_a ∩ S_b| / |S_a|`` over k-shingle sets — the measure that catches
    quote-inclusion and page-wrapping (a press release embedded in a news
    page scores Jaccard ~ |A|/|B| << 1 but containment(A→B) ~ 1, so
    symmetric Jaccard dedup misses it; Broder 1997 distinguishes exactly
    these two resemblance measures).  Emits BOTH directions of every
    shingle-sharing pair that clears ``threshold``:
    ``(doc_id_small, doc_id_big, containment, jaccard)`` where containment
    is of the SMALL (capped-set) side in the big one — the direction that
    detects inclusion; ties in size keep doc_id_small < doc_id_big.

    Same ``_shingle_overlap`` and stop-shingle cap semantics as
    ``ngram_jaccard_pairs``: the cap applies to both the intersection and
    the denominators, documented not silent."""
    j = _shingle_overlap(df, text_col, max_shingle_freq)
    small_is_a = (F.col("sa") < F.col("sb")) | (
        (F.col("sa") == F.col("sb")) & (F.col("doc_id_a") < F.col("doc_id_b"))
    )
    small_id = F.when(small_is_a, F.col("doc_id_a")).otherwise(F.col("doc_id_b"))
    big_id = F.when(small_is_a, F.col("doc_id_b")).otherwise(F.col("doc_id_a"))
    small_s = F.least(F.col("sa"), F.col("sb"))
    containment = F.col("i") * 1.0 / small_s
    jac = F.col("i") * 1.0 / (F.col("sa") + F.col("sb") - F.col("i"))
    return (
        j.filter(containment >= threshold)
        .select(
            small_id.alias("doc_id_small"),
            big_id.alias("doc_id_big"),
            F.round(containment, 6).alias("containment"),
            F.round(jac, 6).alias("jaccard"),
        )
    )


def block_dedup(
    df: DataFrame,
    block_words: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sub-document (paragraph-level) exact dedup, the CCNet/Dolma line-
    dedup shape: segment each document into fixed ``block_words``-word
    blocks (the line/paragraph analog for a newline-free corpus),
    fingerprint each block, keep exactly ONE copy of every distinct
    block corpus-wide — the occurrence with the smallest (doc_id,
    block_idx) — and reassemble each document from its surviving blocks
    in order.  Boilerplate repeated across thousands of pages (headers,
    nav bars, license blurbs) disappears from all but one document while
    unique prose is untouched.

    Returns (id, n_blocks, n_kept, clean_text); clean_text is NULL when
    every block of the document was a repeat.

    Scale shape (100 TB): segmentation is map-only built-ins (split +
    transform over an index sequence — no UDF, no explode of words);
    one groupBy(fingerprint) with map-side partial min(struct) picks
    the keeper; one equi-join back tags survivors; one groupBy(id)
    reassembles.  Two shuffles on bounded-width rows — fingerprints are
    16-byte md5 prefixes, never the block text — plus the final id agg.
    Block-hash skew (one blurb on half the web) is benign: min() partial
    aggregation collapses duplicates map-side before the exchange.

    Reference parity: the reference dedups at whole-product granularity
    only (pfa-database ProductDedup); sub-document granularity is the
    training-pipeline extension (CCNet sec 3.1, Dolma appendix C).
    """
    if block_words <= 0:
        raise ValueError("block_words must be positive")
    words = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    n_blocks = F.ceil(F.size(words) / F.lit(block_words)).cast("int")
    blocks = F.transform(
        F.sequence(F.lit(0), n_blocks - 1),
        lambda i: F.array_join(
            F.slice(words, i * block_words + 1, block_words), " "
        ),
    )
    seg = df.select(
        F.col(id_col),
        F.posexplode(blocks).alias("block_idx", "__btxt"),
    ).select(
        id_col, "block_idx", "__btxt",
        F.substring(F.md5(F.col("__btxt")), 1, 16).alias("__fp"),
    )
    keeper = seg.groupBy("__fp").agg(
        F.min(F.struct(F.col(id_col), F.col("block_idx"))).alias("__k")
    )
    kept = seg.join(keeper, "__fp").filter(
        (F.col("__k")[id_col] == F.col(id_col))
        & (F.col("__k.block_idx") == F.col("block_idx"))
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.count("*").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("block_idx", "__btxt"))
                    ),
                    lambda s: s["__btxt"],
                ),
                " ",
            ).alias("clean_text"),
        )
        .join(
            df.select(
                id_col,
                F.ceil(
                    F.size(F.split(F.coalesce(F.col(text_col), F.lit("")), " "))
                    / F.lit(block_words)
                ).cast("int").alias("n_blocks"),
            ),
            id_col,
            "right",
        )
        .select(
            id_col,
            "n_blocks",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            "clean_text",
        )
    )


def editdist_rerank(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    a_col: str = "doc_id_a",
    b_col: str = "doc_id_b",
) -> DataFrame:
    """Exact edit-distance verification of candidate near-dup pairs:
    Levenshtein distance + the normalized similarity
    ``1 - dist / max(len_a, len_b)`` per pair.

    Scale contract: Levenshtein is O(len_a * len_b) PER PAIR — this
    stage exists to run on the LSH-banded candidate set ONLY (the
    MinHash/SimHash funnels prune the quadratic pair space first; this
    is the final exact check before a merge decision, the standard
    candidate→verify funnel).  Both engines implement the identical DP
    (tested 'kitten'→'sitting' = 3), so the stage is exactly oracled.
    The two text fetches are equi-joins on the id — at scale the pair
    list is small relative to the corpus, so both joins broadcast the
    pair side or shuffle only the candidate ids, never all texts.
    """
    a = docs.select(
        F.col(id_col).alias(a_col),
        F.col(text_col).alias("__ta"),
        F.length(text_col).alias("__la"),
    )
    b = docs.select(
        F.col(id_col).alias(b_col),
        F.col(text_col).alias("__tb"),
        F.length(text_col).alias("__lb"),
    )
    j = pairs.join(a, a_col).join(b, b_col)
    dist = F.levenshtein("__ta", "__tb")
    sim = F.round(
        F.lit(1.0) - dist.cast("double") / F.greatest("__la", "__lb"), 6
    )
    return j.select(
        a_col, b_col, dist.alias("edit_dist"), sim.alias("edit_sim")
    )
