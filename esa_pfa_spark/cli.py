"""spark-submit entry point.

Usage (the --py-files flow the north rule requires)::

    # package the engine
    python -m esa_pfa_spark.cli package --out /tmp/esa_pfa_spark.zip

    # spark-submit takes a primary .py file; the 3-line launcher below
    # dispatches into the zipped package that --py-files put on the path
    # (tests/test_spark_submit.py runs this exact flow end-to-end):
    #   # launch.py
    #   import sys
    #   from esa_pfa_spark.cli import main
    #   main(sys.argv[1:])

    # generate a synthetic tokens table (distributed)
    spark-submit --master yarn --py-files /tmp/esa_pfa_spark.zip launch.py \\
        synth --entities 100000 --out /data/tokens

    # run the flagship as-of + window feature build
    spark-submit --master yarn --py-files /tmp/esa_pfa_spark.zip launch.py \\
        run --tokens /data/tokens --probes /data/probes --out /data/features \\
        --resume --partitions 64

Local-mode equivalents work by calling this module directly with python.
"""

from __future__ import annotations

import argparse
import os
import sys
import zipfile
from pathlib import Path


def cmd_package(args) -> None:
    pkg_root = Path(__file__).resolve().parent
    out = Path(args.out)
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for py in sorted(pkg_root.rglob("*.py")):
            z.write(py, arcname=str(Path("esa_pfa_spark") / py.relative_to(pkg_root)))
    print(f"wrote {out} ({out.stat().st_size} bytes)")


def cmd_synth(args) -> None:
    from esa_pfa_spark import synth
    from esa_pfa_spark.session import get_spark

    spark = get_spark(app_name="esa_pfa_synth")
    obs = synth.observations_df(
        spark, seed=args.seed, n_entities=args.entities,
        mean_obs=args.mean_obs, mean_tok=args.mean_tok,
        hot_factor=args.hot_factor, distributed=True,
    )
    obs.write.mode("overwrite").parquet(args.out)
    probes = synth.queries_df(spark, seed=args.seed, n_entities=args.entities, mean_obs=args.mean_obs)
    probes.write.mode("overwrite").parquet(args.out + "_probes")
    print(f"wrote {args.out} and {args.out}_probes")


def cmd_run(args) -> None:
    from esa_pfa_spark.manifest import ManifestedRun
    from esa_pfa_spark.plans.pipeline import feature_table_fused
    from esa_pfa_spark.session import get_spark

    spark = get_spark(app_name="esa_pfa_run")
    obs = spark.read.parquet(args.tokens)
    probes = spark.read.parquet(args.probes)
    if args.resume:
        from esa_pfa_spark.manifest import partition_id_col

        run = ManifestedRun(args.out, key="entity_id", n_partitions=args.partitions)

        def transform(obs_slice, pid):
            # probes are co-partitioned by the SAME deterministic key hash
            # as observations — a semi-join against the slice's keys would
            # drop probes of entities that have no observations (those must
            # still emit null-match rows, exactly like the straight run)
            pr = probes.filter(
                partition_id_col("entity_id", args.partitions) == pid
            )
            return feature_table_fused(obs_slice, pr)

        n = run.run(obs, transform)
        print(f"processed {n} partitions -> {args.out} (manifest: {run.manifest_path})")
    else:
        feature_table_fused(obs, probes).write.mode("overwrite").parquet(args.out)
        print(f"wrote {args.out}")


def cmd_run_incremental(args) -> None:
    """The steady-state production loop: consume the per-entity state +
    this window's observation delta + probe batch, emit features and
    (optionally) the advanced state for the next run — history is never
    rescanned.  First run: ``--bootstrap-from <history> --cut <ISO>``
    builds the state; later runs pass ``--state`` from the previous
    ``--state-out``.  Features are row-identical to a full-history
    recompute at the same horizon (plans/incremental.py contract)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from esa_pfa_spark.plans.incremental import (
        feature_table_incremental,
        flagship_entity_state,
        roll_flagship_state,
    )
    from esa_pfa_spark.session import get_spark

    spark = get_spark(app_name="esa_pfa_run_incremental")
    delta = spark.read.parquet(args.tokens)
    probes = spark.read.parquet(args.probes)
    if args.state:
        state = spark.read.parquet(args.state)
    elif args.bootstrap_from and args.cut:
        hist = spark.read.parquet(args.bootstrap_from)
        state = flagship_entity_state(hist, dt.datetime.fromisoformat(args.cut))
    else:
        raise SystemExit("need --state, or --bootstrap-from with --cut")

    feature_table_incremental(delta, probes, state).write.mode("overwrite").parquet(args.out)
    print(f"wrote {args.out}")

    if args.state_out:
        window = delta
        if args.next_cut:
            window = window.filter(
                F.col("ts") < F.lit(dt.datetime.fromisoformat(args.next_cut))
            )
        roll_flagship_state(state, window).write.mode("overwrite").parquet(args.state_out)
        print(f"advanced state -> {args.state_out}")


def cmd_dataset(args) -> None:
    """Dataset assembly: deterministic split + seeded export-shuffle order
    over a documents/tokens table, written partitioned by split.  Input
    needs ``doc_id`` plus either ``tokens`` (pre-tokenized, the input-hint
    shape) or ``text`` (tokenized here with the portable hash tokenizer)."""
    from esa_pfa_spark.operators.dataset import deterministic_shuffle, hash_split
    from esa_pfa_spark.session import get_spark

    spark = get_spark(app_name="esa_pfa_dataset")
    df = spark.read.parquet(args.input)
    if "tokens" not in df.columns and "text" in df.columns:
        from esa_pfa_spark.operators.tokens import tokenize

        df = tokenize(df)
    names = ("train", "val", "test")
    ws = [float(x) for x in args.split.split(",")]
    if len(ws) != 3:
        raise SystemExit("--split needs three comma-separated weights")
    d = hash_split(df, dict(zip(names, ws)), seed=args.seed)
    d = deterministic_shuffle(d, seed=args.seed)
    d.write.mode("overwrite").partitionBy("split").parquet(args.out)
    print(f"wrote {args.out} (partitioned by split; order column shuffle_pos)")


def cmd_curate(args) -> None:
    """Corpus curation: quality gate -> exact dedup -> near-dup removal
    (-> decontamination vs --eval) over a documents table; writes the
    surviving (doc_id, source) list plus a per-source survival report."""
    from esa_pfa_spark.plans.curation import curate_documents
    from esa_pfa_spark.session import get_spark

    spark = get_spark(app_name="esa_pfa_curate")
    docs = spark.read.parquet(args.input)
    if args.recipe == "v3":
        # verified near-dup + PageRank x trained-quality export weighting
        from esa_pfa_spark.plans.curation import curate_documents_v3

        emb = spark.read.parquet(args.embeddings) if args.embeddings else None
        if emb is None:
            raise SystemExit("--recipe v3 needs --embeddings <parquet>")
        surv = curate_documents_v3(
            docs, emb, min_words=args.min_words, topn=args.topn,
        )
    elif args.recipe == "v2":
        # Gopher gates -> CCNet tiers -> best-copy dedup -> temperature mix
        from esa_pfa_spark.plans.curation import curate_documents_v2

        surv = curate_documents_v2(
            docs, min_words=args.min_words,
            keep_frac=args.keep_frac, alpha=args.alpha,
        )
    else:
        eval_docs = spark.read.parquet(args.eval) if args.eval else None
        surv = curate_documents(
            docs,
            min_words=args.min_words,
            jaccard_threshold=args.jaccard,
            eval_docs=eval_docs,
        )
    surv.write.mode("overwrite").parquet(args.out)
    from pyspark.sql import functions as F

    report = (
        docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_in"))
        .join(
            spark.read.parquet(args.out)
            .groupBy("source").agg(F.count(F.lit(1)).alias("n_out")),
            "source", "left",
        )
        .select("source", "n_in", F.coalesce("n_out", F.lit(0)).alias("n_out"))
        .orderBy("source")
    )
    for r in report.collect():
        print(f"{r.source}: {r.n_out}/{r.n_in} survived")
    print(f"wrote {args.out}")


def cmd_dedup_exact(args) -> None:
    """Exact-substring duplicate audit (Lee et al. 2022 ExactSubstr):
    per-document duplicate-token coverage at --min-len over a documents/
    tokens table, via the distributed generalized suffix array.  Writes
    the per-doc (doc_id, n_tok, dup_tokens, dup_frac) table and prints a
    corpus summary plus the single longest duplicated substring."""
    from esa_pfa_spark.operators.suffix import exact_substring_audit
    from esa_pfa_spark.session import get_spark

    spark = get_spark(app_name="esa_pfa_dedup_exact")
    df = spark.read.parquet(args.input)
    if "tokens" not in df.columns and "text" in df.columns:
        from esa_pfa_spark.operators.tokens import DEFAULT_VOCAB, tokenize

        df = tokenize(df)
        max_token = DEFAULT_VOCAB - 1
    else:
        max_token = args.max_token
    cov, longest = exact_substring_audit(df, min_len=args.min_len, max_token=max_token)
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    # the summary is observed on the write itself: no read-back job
    summary = Observation("dedup_exact_summary")
    cov.observe(
        summary,
        F.count(F.lit(1)).alias("docs"), F.sum("n_tok").alias("n_tok"),
        F.sum("dup_tokens").alias("dup_tokens"),
        F.sum((F.col("dup_frac") > 0).cast("long")).alias("affected"),
    ).write.mode("overwrite").parquet(args.out)
    s = summary.get
    top = longest.first()
    print(
        f"{s['docs']} docs, {s['dup_tokens']}/{s['n_tok']} tokens inside >= "
        f"{args.min_len}-token duplicated substrings ({s['affected']} docs "
        f"affected); longest duplicated substring: "
        f"{top['dup_len'] if top else 0} tokens"
    )
    print(f"wrote {args.out}")


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(prog="esa_pfa_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("package", help="zip the engine for --py-files")
    p.add_argument("--out", default="/tmp/esa_pfa_spark.zip")
    p.set_defaults(fn=cmd_package)

    p = sub.add_parser("synth", help="generate synthetic tokens+probes tables")
    p.add_argument("--entities", type=int, default=10000)
    p.add_argument("--mean-obs", type=int, default=40)
    p.add_argument("--mean-tok", type=int, default=64)
    p.add_argument("--hot-factor", type=int, default=1)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--out", required=True)
    p.set_defaults(fn=cmd_synth)

    p = sub.add_parser("run", help="flagship as-of + window feature build")
    p.add_argument("--tokens", required=True)
    p.add_argument("--probes", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--resume", action="store_true", help="manifest-checkpointed run")
    p.add_argument("--partitions", type=int, default=64)
    p.set_defaults(fn=cmd_run)

    p = sub.add_parser(
        "run-incremental",
        help="state + delta feature build (never rescans history); "
             "emits features and optionally the advanced state",
    )
    p.add_argument("--tokens", required=True, help="this window's observation delta")
    p.add_argument("--probes", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--state", default=None, help="state parquet from the previous run's --state-out")
    p.add_argument("--bootstrap-from", default=None, help="history parquet (first run only)")
    p.add_argument("--cut", default=None, help="ISO ts the bootstrap state summarizes up to")
    p.add_argument("--state-out", default=None, help="write the advanced state here")
    p.add_argument("--next-cut", default=None, help="ISO ts the advanced state should stop at")
    p.set_defaults(fn=cmd_run_incremental)

    p = sub.add_parser("curate", help="quality/dedup/decontamination curation over a documents table")
    p.add_argument("--input", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--eval", default=None, help="held-out eval corpus parquet for decontamination")
    p.add_argument("--min-words", type=int, default=5)
    p.add_argument("--jaccard", type=float, default=0.2)
    p.add_argument("--embeddings", default=None,
                   help="embeddings parquet for --recipe v3's quality gate")
    p.add_argument("--topn", type=int, default=1000,
                   help="v3 export size (top-N by authority x quality)")
    p.add_argument("--recipe", choices=["v1", "v2", "v3"], default="v1",
                   help="v1: quality/exact-dedup/near-dup(/decontam); "
                        "v2: Gopher gates -> CCNet tiers -> best-copy dedup -> temperature mix")
    p.add_argument("--keep-frac", type=float, default=0.6, help="v2 mixture budget")
    p.add_argument("--alpha", type=float, default=0.5, help="v2 temperature exponent")
    p.set_defaults(fn=cmd_curate)

    p = sub.add_parser(
        "dedup-exact",
        help="exact-substring duplicate audit via the distributed suffix array",
    )
    p.add_argument("--input", required=True, help="documents/tokens parquet")
    p.add_argument("--out", required=True)
    p.add_argument("--min-len", type=int, default=50,
                   help="duplicate-substring token threshold (Lee et al.: 50)")
    p.add_argument("--max-token", type=int, default=2**31 - 1,
                   help="vocabulary bound for pre-tokenized input (tighter "
                        "bounds pack more tokens per initial sort key)")
    p.set_defaults(fn=cmd_dedup_exact)

    p = sub.add_parser("dataset", help="split + shuffle a documents/tokens table for training export")
    p.add_argument("--input", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--split", default="0.9,0.05,0.05", help="train,val,test weights")
    p.add_argument("--seed", type=int, default=0)
    p.set_defaults(fn=cmd_dataset)

    args = ap.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
