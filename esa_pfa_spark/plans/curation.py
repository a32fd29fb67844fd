"""End-to-end training-data curation over a documents table — the
composed pipeline a 100 TB pretraining corpus actually runs, built
entirely from this engine's operators:

  1. quality gate        (textstats.quality_scores thresholds)
  2. exact dedup         (dedup.exact_dedup, keep the min doc_id per digest)
  3. near-dup removal    (dedup.ngram_jaccard_pairs; drop the greater doc
                          of every pair — keeps the minimal elements of
                          the pair graph, deterministic)
  4. decontamination     (optional: tokens.decontaminate vs a held-out
                          eval corpus; drop any-hit docs)

Order matters at scale and is the production order: the quality gate
prunes before any join; exact dedup collapses identical docs BEFORE the
shingle self-join, whose pairs are quadratic inside a shingle block, so
duplicate clusters cannot blow up near-dup buckets; decontamination —
the most token-expensive stage — runs LAST, over only the survivors.
(``curate_documents_v2`` needs no exact-dedup stage: it reads clusters
from ``dedup.minhash_band_edges``, linear in cluster size.)

Every stage is a hash-partitioned groupBy/join — no global windows, no
driver-side loops; the whole pipeline is one lazy DataFrame program.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from esa_pfa_spark.operators import dedup as DD
from esa_pfa_spark.operators import textstats as TS


def curate_documents(
    docs: DataFrame,
    min_words: int = 5,
    max_stopword_ratio: float = 0.7,
    jaccard_threshold: float = 0.2,
    eval_docs: DataFrame | None = None,
    decontaminate_n: int = 8,
    max_contamination: float = 0.0,
) -> DataFrame:
    """Surviving documents after the quality -> exact-dedup -> near-dup
    (-> decontamination) chain.  Returns (doc_id, source); deterministic
    for fixed thresholds.

    With ``eval_docs``, survivors sharing more than ``max_contamination``
    (fraction of their ``decontaminate_n``-gram windows; default: ANY
    window) with the eval corpus are dropped — the benchmark-hygiene pass,
    run last over the smallest set.  The eval fingerprints are broadcast
    (see tokens.decontaminate); docs shorter than ``decontaminate_n``
    tokens cannot contain an eval n-gram and pass through."""
    q = TS.quality_scores(docs)
    good_ids = q.filter(
        (F.col("n_words") >= min_words)
        & (F.col("stopword_ratio") <= max_stopword_ratio)
    ).select("doc_id")
    good = docs.join(good_ids, "doc_id")

    canonical = DD.exact_dedup(good).select(
        F.col("canonical_doc_id").alias("doc_id")
    )
    kept = good.join(canonical, "doc_id")

    pairs = DD.ngram_jaccard_pairs(kept, threshold=jaccard_threshold)
    near_dups = pairs.select(F.col("doc_id_b").alias("doc_id")).distinct()
    surv = kept.join(near_dups, "doc_id", "left_anti")
    if eval_docs is not None:
        from esa_pfa_spark.operators.tokens import decontaminate, tokenize

        contaminated = (
            decontaminate(tokenize(surv), tokenize(eval_docs), n=decontaminate_n)
            .filter(F.col("contamination_frac") > max_contamination)
            .select("doc_id")
        )
        surv = surv.join(contaminated, "doc_id", "left_anti")
    return surv.select("doc_id", "source")


def training_windows(
    docs: DataFrame,
    capacity: int = 128,
    **curate_kwargs,
) -> DataFrame:
    """The full corpus-to-context-windows pipeline: curate (quality gate ->
    exact dedup -> near-dup removal) -> portable tokenization -> pack the
    survivors into fixed ``capacity`` training windows in deterministic
    (source, doc_id) order.  One lazy DataFrame program from raw documents
    to the rows a training loader reads; every stage keeps its scalable
    shape (the packing offsets pass is the only driver interaction —
    n_partitions scalars)."""
    from esa_pfa_spark.operators.tokens import pack_offsets, tokenize

    kept = curate_documents(docs, **curate_kwargs)
    survivors = docs.join(kept.select("doc_id"), "doc_id")
    return pack_offsets(tokenize(survivors), capacity=capacity)


def curate_documents_v2(
    docs: DataFrame,
    min_words: int = 20,
    keep_frac: float = 0.6,
    alpha: float = 0.5,
    min_stop_hits: int = 0,
) -> DataFrame:
    """The 2023-era curation chain, composed from the round-4 operator
    wave — Gopher document-shape gates -> CCNet perplexity tiers (drop the
    per-source tail) -> MinHash near-dup clusters keeping the BEST copy ->
    temperature-flattened source mixture:

      1. `textstats.gopher_rules` (word-count bound relaxed to
         ``min_words`` for the synthetic corpus): keep == structurally
         publishable documents.  Map-only.
      2. `textstats.ccnet_ppl_buckets` over the survivors: drop each
         source's 'tail' third by LM score — a per-source bar, so one hard
         domain isn't wholly condemned.  Vocab-bounded broadcast + tiny
         edge agg.
      3. `dedup.dedup_survivors_by_score(score=n_chars)` over
         `minhash_band_edges`: duplicate clusters keep the longest
         member, not the lowest id.  Star edges make an exact-duplicate
         cluster of n docs n - 1 edges, not n(n-1)/2 candidate pairs.
      4. `dataset.temperature_mixture_sample(alpha, keep_frac)` by source:
         the final corpus mix flattened toward p^alpha.

    Returns ``(doc_id, source, ppl_bucket, rate)``.  Each stage runs over
    the previous stage's (strictly smaller) survivor set — the expensive
    shingle join sees only gated, tiered docs."""
    # min_stop_hits=0 by default HERE (not in gopher_rules itself): the
    # synthetic corpus has no English function words, and a stopword
    # gate that rejects 100% of input reduces the whole chain to a
    # 0-row no-op — every downstream stage would go untested.
    gated = docs.join(
        TS.gopher_rules(docs, min_words=min_words, min_stop_hits=min_stop_hits)
        .filter(F.col("keep") == 1)
        .select("doc_id"),
        "doc_id",
    )
    tiered = gated.join(
        TS.ccnet_ppl_buckets(gated)
        .filter(F.col("ppl_bucket") != "tail")
        .select("doc_id", "ppl_bucket"),
        "doc_id",
    )
    surv = tiered.join(
        DD.dedup_survivors_by_score(
            tiered, DD.minhash_band_edges(tiered), score="n_chars"
        )
        .filter(F.col("survives"))
        .select("doc_id"),
        "doc_id",
    )
    from esa_pfa_spark.operators.dataset import temperature_mixture_sample

    mixed = temperature_mixture_sample(
        surv.select("doc_id", "source", "ppl_bucket"),
        alpha=alpha, keep_frac=keep_frac, group_col="source",
    )
    return mixed.select("doc_id", "source", "ppl_bucket", F.round("rate", 6).alias("rate"))


def curate_documents_v3(
    docs: DataFrame,
    emb: DataFrame,
    min_words: int = 20,
    sim_thresh: float = 0.9,
    pr_iters: int = 3,
    topn: int = 50,
) -> DataFrame:
    """The verified-and-weighted curation chain, composed from the
    round-4 final operator wave:

      1. `textstats.gopher_rules` structural gates (map-only).
      2. Near-dup with EXACT VERIFICATION: `minhash_band_candidates`
         over the gated docs, then `dedup.editdist_rerank` confirms each
         candidate by Levenshtein similarity >= ``sim_thresh`` — v2
         trusted the bands; v3 only merges verified duplicates (the
         candidate->verify funnel).  `dedup_survivors_by_score` keeps
         each cluster's longest copy.
      3. `graph.pagerank` over the deterministic doc link graph — the
         centrality weight a web pipeline takes from the host graph.
      4. A trained quality gate: `scoring.logreg_fit` on the embeddings
         table (vec_id is the doc's embedding id; label = the learnable
         sign(x0+x1)), keep p >= 0.5.
      5. Export the top ``topn`` by ``pagerank x p`` (the combined
         authority x quality weight), rank deterministic.

    Every stage is an independently-oracled operator; the registry
    query proves the CHAIN against one assembled SQL program (the
    entity_feature_snapshot precedent).
    """
    from esa_pfa_spark.operators import dedup as DD
    from esa_pfa_spark.operators import textstats as TS
    from esa_pfa_spark.operators.graph import demo_link_graph, pagerank
    from esa_pfa_spark.operators.scoring import logreg_fit
    from pyspark.sql import Window

    gated = docs.join(
        TS.gopher_rules(docs, min_words=min_words, min_stop_hits=0)
        .filter(F.col("keep") == 1)
        .select("doc_id"),
        "doc_id",
    )
    cand = DD.minhash_band_candidates(gated)
    verified = (
        DD.editdist_rerank(gated, cand)
        .filter(F.col("edit_sim") >= sim_thresh)
        .select("doc_id_a", "doc_id_b")
    )
    surv = gated.join(
        DD.dedup_survivors_by_score(gated, verified, score="n_chars")
        .filter(F.col("survives"))
        .select("doc_id"),
        "doc_id",
    )

    # demo link graph (production takes the host graph as an input);
    # the modulus is computed in-plan so the builder stays lazy — no
    # Spark action hides inside this function.
    pr = pagerank(demo_link_graph(docs), iters=pr_iters)

    sig = F.when(
        F.element_at("embedding", 1).cast("double")
        + F.element_at("embedding", 2).cast("double")
        > 0,
        1,
    ).otherwise(0)
    data = emb.select("vec_id", "embedding", sig.alias("sig"))
    w, b, _ = logreg_fit(
        data, vec_col="embedding", label_col="sig", positive=1,
        dims=4, lr=5.0, iters=4,
    )
    x = [F.col("embedding").getItem(j).cast("double") for j in range(4)]
    z = F.lit(w[0]) * x[0]
    for j in range(1, 4):
        z = z + F.lit(w[j]) * x[j]
    z = z + F.lit(b)
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    quality = data.select(F.col("vec_id").alias("doc_id"), p.alias("__p"))

    out = (
        surv.select("doc_id", "source")
        .join(pr.select(F.col("v").alias("doc_id"), F.col("r").alias("__pr")), "doc_id")
        .join(quality, "doc_id")
        .filter(F.col("__p") >= 0.5)
    )
    score = F.round(F.col("__pr") * F.col("__p"), 9)
    ranked = out.select(
        "doc_id", "source",
        F.round("__pr", 6).alias("pr"),
        F.round("__p", 6).alias("p_quality"),
        score.alias("export_score"),
    ).withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("export_score").desc(), F.col("doc_id").asc())
        ).cast("int"),
    )
    return ranked.filter(F.col("rank") <= topn)
