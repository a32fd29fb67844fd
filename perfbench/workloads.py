"""The benchmark workloads: input generation, the CLI call a pass makes,
an independent reference for its output, the output check, and the traced
spans around the program's public functions.

Each workload drives one CLI subcommand in-process:

* ``flagship``    ``run``: the as-of + window feature build (data-heavy,
  4 jobs a pass, crosses the Arrow/Python boundary);
* ``dedup_exact`` ``dedup-exact``: exact-substring duplicate coverage via
  the distributed suffix array (job-heavy, barely touches Arrow);
* ``curate``      ``curate --recipe v2``: Gopher gates, CCNet tiers, MinHash
  best-copy dedup and temperature mixing (JVM-only text kernels).

``GATED`` holds the workloads ``BENCHMARK.json`` lists.  ``curate`` runs by
hand only: a run costs as much as a ``dedup_exact`` one, and three
workloads' runs do not fit the time the benchmark's checks are allowed.
"""

from __future__ import annotations

import datetime as dt
import re
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen

TOLERANCE = dt.timedelta(days=7)


@dataclass
class Inputs:
    paths: dict[str, str]
    n_seq: int  # input sequences a pass completes
    n_tok: int  # tokens (words for text) in those sequences
    info: dict = field(default_factory=dict)


def write_parts(table: pa.Table, path: Path, n_files: int) -> str:
    """Write ``table`` as ``n_files`` parquet files so the scan plans one
    task per file."""
    path.mkdir(parents=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), path / f"part-{i:05d}.parquet")
    return str(path)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _ts_us(values) -> np.ndarray:
    """Timestamps (an arrow array or a pandas series, tz-aware or naive UTC,
    with nulls) as int64 microseconds; null -> INT64_MIN."""
    arr = values if isinstance(values, (pa.Array, pa.ChunkedArray)) else pa.Array.from_pandas(values)
    if pa.types.is_timestamp(arr.type) and arr.type.tz is not None:
        arr = arr.cast(pa.timestamp(arr.type.unit))
    us = arr.cast(pa.timestamp("us")).cast(pa.int64())
    return np.asarray(us.fill_null(np.iinfo(np.int64).min))


def _floats(values) -> np.ndarray:
    return np.array([np.nan if v is None else float(v) for v in values], dtype=np.float64)


class Workload:
    name = ""
    warmups = 0  # untimed passes after the first (cold) one
    # the spans a traced pass records, with the metrics each reports on
    # top of the ones every span has
    spans: dict[str, list[str]] = {}

    def generate(self, seed: int, data: Path, n_files: int) -> Inputs:
        raise NotImplementedError

    def argv(self, inp: Inputs, out: str) -> list[str]:
        raise NotImplementedError

    def reference(self, inp: Inputs):
        raise NotImplementedError

    def check(self, out: str, stdout: str, ref) -> str | None:
        """None when the pass output matches the reference, else why not."""
        raise NotImplementedError

    def trace_pass(self, tracer, spark, inp: Inputs, out: str, run_cli, ref) -> str | None:
        """One traced pass.  None when the spans' own results agree with
        the program's, else why not."""
        raise NotImplementedError


# ---------------------------------------------------------------------------

class Flagship(Workload):
    name = "flagship"
    # passes keep speeding up for about twenty passes, steeply for the
    # first six (16.1 s cold, then 4.9, 4.1, 3.7, 3.0, 2.9, then 2.3-2.9 s
    # in one long run); runs timed from the fourth pass still fell within
    # their three timed passes
    warmups = 4
    spans = {
        "sources.scan": ["input_mb"],
        "operators.features.token_stats_arrow": ["python_s", "python_in_mb"],
        "plans.pipeline.feature_table_fused": [],
        "cli": ["output_mb"],
    }
    n_entities, mean_obs, mean_tok = 5000, 20, 32
    sample_entities = 24

    def generate(self, seed, data, n_files):
        obs, probes = gen.flagship_tables(seed, self.n_entities, self.mean_obs, self.mean_tok)
        rng = np.random.default_rng([seed, 9])
        ents = pc.unique(probes["entity_id"]).to_numpy(zero_copy_only=False)
        # the last entities have probes only (null-match rows): keep one in the sample
        sample = np.concatenate([
            rng.choice(ents[: self.n_entities], self.sample_entities - 1, replace=False),
            ents[self.n_entities:][:1],
        ])
        return Inputs(
            paths={
                "obs": write_parts(obs, data / "obs", n_files),
                "probes": write_parts(probes, data / "probes", n_files),
            },
            n_seq=obs.num_rows,
            n_tok=int(pc.sum(obs["n_tok"]).as_py()),
            info={"probes": probes.num_rows, "sample": sample.tolist()},
        )

    def argv(self, inp, out):
        return ["run", "--tokens", inp.paths["obs"], "--probes", inp.paths["probes"], "--out", out]

    def reference(self, inp):
        from esa_pfa_spark.oracle.pandas_oracle import oracle_feature_table
        from esa_pfa_spark.plans.pipeline import FEATURE_PAYLOAD

        obs = pq.read_table(inp.paths["obs"])
        probes = pq.read_table(inp.paths["probes"])
        sample = pa.array(inp.info["sample"])
        want = oracle_feature_table(
            obs.filter(pc.is_in(obs["entity_id"], sample)).to_pandas(),
            probes.filter(pc.is_in(probes["entity_id"], sample)).to_pandas(),
            TOLERANCE, FEATURE_PAYLOAD,
        )
        keys = probes.sort_by([("entity_id", "ascending"), ("query_ts", "ascending")])
        return {
            "want": want,
            "payload": FEATURE_PAYLOAD,
            "key_ent": keys["entity_id"].to_numpy(),
            "key_ts": _ts_us(keys["query_ts"]),
        }

    def check(self, out, stdout, ref):
        got = pq.read_table(out)
        if got.num_rows != len(ref["key_ent"]):
            return f"{got.num_rows} rows for {len(ref['key_ent'])} probes"
        keys = got.select(["entity_id", "query_ts"]).sort_by(
            [("entity_id", "ascending"), ("query_ts", "ascending")]
        )
        if not (np.array_equal(keys["entity_id"].to_numpy(), ref["key_ent"])
                and np.array_equal(_ts_us(keys["query_ts"]), ref["key_ts"])):
            return "output keys are not one row per probe"
        want = ref["want"]
        part = got.filter(pc.is_in(got["entity_id"], pa.array(want["entity_id"].unique())))
        part = part.sort_by([("entity_id", "ascending"), ("query_ts", "ascending")]).to_pydict()
        if part["entity_id"] != want["entity_id"].tolist():
            return "sampled entities differ from the oracle"
        for c in ("query_ts", "matched_ts"):
            if not np.array_equal(_ts_us(pa.array(part[c])), _ts_us(want[c])):
                return f"{c} differs from the oracle"
        for c in ref["payload"]:
            g, w = part[c], want[c].tolist()
            if c == "tokens":
                if [None if x is None else list(x) for x in g] != \
                        [None if x is None else [int(v) for v in x] for x in w]:
                    return "tokens differ from the oracle"
            elif not np.allclose(_floats(g), _floats(w), rtol=1e-7, atol=1e-12, equal_nan=True):
                return f"{c} differs from the oracle"
        return None

    def trace_pass(self, tracer, spark, inp, out, run_cli, ref):
        from esa_pfa_spark.operators.features import token_stats_arrow
        from esa_pfa_spark.plans.pipeline import feature_table_fused

        read = spark.read.parquet
        with tracer.span("sources.scan", "operators.features.token_stats_arrow"):
            noop(read(inp.paths["obs"]))
        with tracer.span("operators.features.token_stats_arrow", "plans.pipeline.feature_table_fused"):
            noop(token_stats_arrow(read(inp.paths["obs"]), "tokens"))
        with tracer.span("plans.pipeline.feature_table_fused", "cli"):
            noop(feature_table_fused(read(inp.paths["obs"]), read(inp.paths["probes"])))
        with tracer.span("cli"):
            run_cli(self.argv(inp, out))
        return None


# ---------------------------------------------------------------------------

def lgram_coverage(flat: np.ndarray, lengths: np.ndarray, L: int) -> np.ndarray:
    """Per document, the number of token positions inside some L-gram that
    occurs at two or more (document, offset) positions of the corpus.  A
    position is inside a duplicated substring of length >= L exactly when
    it is inside a duplicated L-gram, so this equals ExactSubstr coverage.
    L-grams are keyed by two independent 64-bit polynomial hashes."""
    starts = _lgram_starts(lengths, L)
    covered = np.zeros(len(flat) + 1, dtype=np.int64)
    if len(starts):
        dup = starts[_repeated(_lgram_keys(flat, starts, L))]
        np.add.at(covered, dup, 1)
        np.add.at(covered, dup + L, -1)
    inside = np.concatenate([[0], np.cumsum(np.cumsum(covered)[:-1] > 0)])
    offs = np.concatenate([[0], np.cumsum(lengths)])
    return inside[offs[1:]] - inside[offs[:-1]]


def longest_repeat(flat: np.ndarray, lengths: np.ndarray) -> int:
    """Length of the longest substring occurring at two or more positions
    (binary search: a repeat of length L implies one of every shorter L)."""
    lo, hi = 0, int(lengths.max()) if len(lengths) else 0
    while lo < hi:
        mid = (lo + hi + 1) // 2
        starts = _lgram_starts(lengths, mid)
        if len(starts) and _repeated(_lgram_keys(flat, starts, mid)).any():
            lo = mid
        else:
            hi = mid - 1
    return lo


def frac_half_up(num: np.ndarray, den: np.ndarray) -> np.ndarray:
    """``num / den`` rounded half up at 6 decimals, as the program's
    ``F.round(..., 6)`` does, in exact integer arithmetic (numpy's
    ``round`` is half to even, so 65/128 = 0.5078125 would read 0.507812
    against Spark's 0.507813)."""
    return ((2 * num.astype(np.int64) * 10**6 + den) // (2 * den)) / 10**6


def _lgram_starts(lengths: np.ndarray, L: int) -> np.ndarray:
    offs = np.concatenate([[0], np.cumsum(lengths)])[:-1]
    n = np.maximum(lengths - L + 1, 0)
    return np.repeat(offs, n) + (np.arange(n.sum()) - np.repeat(np.cumsum(n) - n, n))


def _inverse_mod_2_64(b: int) -> int:
    inv = b
    for _ in range(6):  # Newton: each step doubles the correct low bits
        inv = inv * (2 - b * inv) % (1 << 64)
    return inv


def _lgram_keys(flat: np.ndarray, starts: np.ndarray, L: int) -> np.ndarray:
    x = flat.astype(np.uint64) + np.uint64(1)
    keys = []
    for b in (0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F):
        inv = np.uint64(_inverse_mod_2_64(b))
        pw = np.cumprod(np.full(len(x), b, dtype=np.uint64)) * inv
        ipw = np.cumprod(np.full(len(x), inv, dtype=np.uint64)) * np.uint64(b)
        # pw[j] = b^j, ipw[j] = b^-j (mod 2^64): H(p) = b^-p * sum_{j<L} x[p+j] b^(p+j)
        q = np.concatenate([[np.uint64(0)], np.cumsum(x * pw, dtype=np.uint64)])
        keys.append((q[starts + L] - q[starts]) * ipw[starts])
    return np.stack(keys, axis=1)


def _repeated(keys: np.ndarray) -> np.ndarray:
    """Mask of rows whose key occurs more than once."""
    order = np.lexsort((keys[:, 1], keys[:, 0]))
    k = keys[order]
    same = np.all(k[1:] == k[:-1], axis=1)
    dup_sorted = np.zeros(len(k), dtype=bool)
    dup_sorted[1:] |= same
    dup_sorted[:-1] |= same
    out = np.zeros(len(k), dtype=bool)
    out[order] = dup_sorted
    return out


class DedupExact(Workload):
    name = "dedup_exact"
    # the second pass still compiles (13.4 s and 39 CPU-s against 10.4 s
    # and 28 CPU-s for the third, at 300 documents)
    warmups = 1
    spans = {
        "sources.scan": ["input_mb"],
        "operators.suffix.suffix_order": ["python_s"],
        "operators.suffix.duplicate_coverage": [],
        "operators.suffix.longest_duplicate_span": [],
        "cli": ["output_mb"],
    }
    n_docs, mean_tok = 120, 100
    n_clusters, span_lo, span_hi, copies = 12, 60, 120, 2
    min_len = 50

    def generate(self, seed, data, n_files):
        table, info = gen.dedup_corpus(seed, self.n_docs, self.mean_tok, self.n_clusters,
                                       self.span_lo, self.span_hi, self.copies)
        return Inputs(
            paths={"docs": write_parts(table, data / "docs", n_files)},
            n_seq=table.num_rows,
            n_tok=int(pc.sum(table["n_tok"]).as_py()),
            info=info,
        )

    def argv(self, inp, out):
        return ["dedup-exact", "--input", inp.paths["docs"], "--out", out,
                "--min-len", str(self.min_len), "--max-token", str(gen.VOCAB - 1)]

    def reference(self, inp):
        t = pq.read_table(inp.paths["docs"]).sort_by("doc_id")
        flat = t["tokens"].combine_chunks().flatten().to_numpy()
        lengths = t["n_tok"].to_numpy().astype(np.int64)
        return {
            "doc_id": t["doc_id"].to_numpy(),
            "n_tok": lengths,
            "dup": lgram_coverage(flat, lengths, self.min_len),
            "longest": longest_repeat(flat, lengths),
        }

    def check(self, out, stdout, ref):
        got = pq.read_table(out).sort_by("doc_id")
        if not np.array_equal(got["doc_id"].to_numpy(), ref["doc_id"]):
            return "documents differ from the input"
        if not np.array_equal(got["n_tok"].to_numpy(), ref["n_tok"]):
            return "n_tok differs from the reference"
        if not np.array_equal(got["dup_tokens"].to_numpy(), ref["dup"]):
            return "dup_tokens differs from the reference"
        frac = frac_half_up(ref["dup"], ref["n_tok"])
        if not np.allclose(got["dup_frac"].to_numpy(), frac, rtol=0, atol=1e-12):
            return "dup_frac differs from the reference"
        m = re.search(r"longest duplicated substring: (\d+) tokens", stdout)
        if m is None or int(m.group(1)) != ref["longest"]:
            return f"longest duplicated substring is not {ref['longest']} tokens"
        return None

    def trace_pass(self, tracer, spark, inp, out, run_cli, ref):
        from esa_pfa_spark.operators.suffix import (
            duplicate_coverage,
            longest_duplicate_span,
            suffix_order,
        )

        docs = lambda: spark.read.parquet(inp.paths["docs"])  # noqa: E731
        kw = {"max_token": gen.VOCAB - 1}
        with tracer.span("sources.scan", "operators.suffix.suffix_order"):
            noop(docs())
        with tracer.span("operators.suffix.suffix_order",
                         ("operators.suffix.duplicate_coverage",
                          "operators.suffix.longest_duplicate_span")):
            noop(suffix_order(docs(), **kw))
        with tracer.span("operators.suffix.duplicate_coverage", "cli"):
            noop(duplicate_coverage(docs(), min_len=self.min_len, **kw))
        with tracer.span("operators.suffix.longest_duplicate_span", "cli"):
            noop(longest_duplicate_span(docs(), **kw))
        with tracer.span("cli"):
            run_cli(self.argv(inp, out))
        return None


# ---------------------------------------------------------------------------

def survivors_differ(got: pa.Table, want: pa.Table, rate_atol: float) -> str | None:
    """None when the survivor table ``got`` (sorted by doc_id) equals the
    reference, ``rate`` to within ``rate_atol``, else why not."""
    if got.num_rows != want.num_rows:
        return f"{got.num_rows} survivors, the reference keeps {want.num_rows}"
    for c in ("doc_id", "source", "ppl_bucket"):
        if got[c].to_pylist() != want[c].to_pylist():
            return f"{c} differs from the reference"
    if not np.allclose(got["rate"].to_numpy(), want["rate"].to_numpy(), rtol=0, atol=rate_atol):
        return "rate differs from the reference"
    return None


class Curate(Workload):
    name = "curate"
    warmups = 1
    spans = {
        "sources.scan": ["input_mb"],
        "operators.textstats.gopher_rules": ["rows_out"],
        "operators.textstats.ccnet_ppl_buckets": ["rows_out"],
        "operators.dedup.minhash_band_candidates": ["rows_out", "useful_frac"],
        "operators.dedup.dedup_survivors_by_score": ["rows_out"],
        "operators.dataset.temperature_mixture_sample": ["rows_out"],
        "plans.curation.curate_documents_v2": [],
        "cli": ["output_mb"],
    }
    n_single, mean_words = 1000, 40
    cluster_sizes = [2, 3, 4, 5] * 10
    cluster_words = (30, 72)
    edits, bad_share = 1, 0.05
    min_words = 20

    def generate(self, seed, data, n_files):
        table = gen.curate_corpus(seed, self.n_single, self.mean_words, self.cluster_sizes,
                                  self.cluster_words, self.edits, self.bad_share)
        n_words = pc.list_value_length(pc.split_pattern(table["text"], " "))
        return Inputs(
            paths={"docs": write_parts(table, data / "docs", n_files)},
            n_seq=table.num_rows,
            n_tok=int(pc.sum(n_words).as_py()),
        )

    def argv(self, inp, out):
        return ["curate", "--recipe", "v2", "--min-words", str(self.min_words),
                "--input", inp.paths["docs"], "--out", out]

    def reference(self, inp):
        import duckdb

        from __spark_entry__ import SQL_CURATION_V2

        if f"n_words < {self.min_words} " not in SQL_CURATION_V2:
            raise ValueError("the reference SQL does not gate at --min-words")
        # DuckDB 1.0 inlines a CTE at every reference, and the chain below
        # the recursive component CTE is referenced along several paths, so
        # the plan grows exponentially; materializing each CTE once keeps
        # the same result in well under a second
        sql = re.sub(r"^(\w+) AS \(", r"\1 AS MATERIALIZED (", SQL_CURATION_V2, flags=re.M)
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{inp.paths['docs']}/*.parquet')")
            want = con.execute(sql).arrow().sort_by("doc_id")
            n_in = dict(con.execute("SELECT source, count(*) FROM documents GROUP BY 1").fetchall())
        finally:
            con.close()
        n_out = dict(zip(*np.unique(want["source"].to_numpy(zero_copy_only=False), return_counts=True)))
        return {"want": want, "report": {s: (int(n_out.get(s, 0)), n) for s, n in n_in.items()}}

    def check(self, out, stdout, ref):
        err = survivors_differ(pq.read_table(out).sort_by("doc_id"), ref["want"], 1e-9)
        if err is not None:
            return err
        for src, (n_out, n_in) in ref["report"].items():
            if f"{src}: {n_out}/{n_in} survived" not in stdout:
                return f"survival report for {src} is not {n_out}/{n_in}"
        return None

    def trace_pass(self, tracer, spark, inp, out, run_cli, ref):
        from pyspark.sql import functions as F

        from esa_pfa_spark.operators import dedup as DD
        from esa_pfa_spark.operators import textstats as TS
        from esa_pfa_spark.operators.dataset import temperature_mixture_sample
        from esa_pfa_spark.plans.curation import curate_documents_v2

        def forced(span, df):
            # stage outputs are at most a few thousand rows: collecting
            # them costs what a noop sink does and counts rows without
            # extra jobs
            rows = df.collect()
            span.extra["rows_out"] = float(len(rows))
            return rows

        # the stage inputs are composed exactly as curate_documents_v2 does,
        # so each span is the chain up to and including that stage; stages
        # that run jobs when called (the components of the survivors) are
        # called inside their span
        docs = spark.read.parquet(inp.paths["docs"])
        gopher = lambda d: TS.gopher_rules(d, min_words=self.min_words, min_stop_hits=0)  # noqa: E731
        gated = docs.join(gopher(docs).filter(F.col("keep") == 1).select("doc_id"), "doc_id")
        tiered = gated.join(
            TS.ccnet_ppl_buckets(gated).filter(F.col("ppl_bucket") != "tail")
            .select("doc_id", "ppl_bucket"), "doc_id")
        cand = DD.minhash_band_candidates(tiered)

        def survivors():
            return DD.dedup_survivors_by_score(tiered, cand, score="n_chars")

        def mixed():
            surv = tiered.join(survivors().filter(F.col("survives")).select("doc_id"), "doc_id")
            return temperature_mixture_sample(
                surv.select("doc_id", "source", "ppl_bucket"), alpha=0.5, keep_frac=0.6,
                group_col="source")

        stages = [
            ("sources.scan", lambda: spark.read.parquet(inp.paths["docs"])),
            ("operators.textstats.gopher_rules", lambda: gopher(docs)),
            ("operators.textstats.ccnet_ppl_buckets", lambda: TS.ccnet_ppl_buckets(gated)),
            ("operators.dedup.minhash_band_candidates", lambda: cand),
            ("operators.dedup.dedup_survivors_by_score", survivors),
            ("operators.dataset.temperature_mixture_sample", mixed),
        ]
        chain = [name for name, _ in stages] + ["plans.curation.curate_documents_v2", "cli"]
        parent = dict(zip(chain, chain[1:]))
        opened, rows = {}, {}
        for name, build in stages:
            with tracer.span(name, parent[name]) as opened[name]:
                rows[name] = forced(opened[name], build())
        with tracer.span("plans.curation.curate_documents_v2", "cli"):
            noop(curate_documents_v2(spark.read.parquet(inp.paths["docs"]), min_words=self.min_words))
        with tracer.span("cli"):
            run_cli(self.argv(inp, out))

        # useful share of the candidate pairs: those whose doc_id_b is
        # removed as a duplicate
        removed = {r["doc_id"] for r in rows["operators.dedup.dedup_survivors_by_score"]
                   if not r["survives"]}
        pairs = rows["operators.dedup.minhash_band_candidates"]
        opened["operators.dedup.minhash_band_candidates"].extra["useful_frac"] = (
            sum(r["doc_id_b"] in removed for r in pairs) / len(pairs) if pairs else 0.0
        )
        return self.chain_check(rows["operators.dataset.temperature_mixture_sample"], ref)

    @staticmethod
    def chain_check(mixed, ref) -> str | None:
        """None when the rows of the traced chain's last stage are the
        reference survivors, so the spans measure the plan the program
        runs, else why not.  The program rounds ``rate`` to 6 places after
        that stage, so the unrounded rate is within 5e-7 of the reference."""
        got = pa.table({c: [r[c] for r in mixed] for c in ("doc_id", "source", "ppl_bucket", "rate")})
        err = survivors_differ(got.sort_by("doc_id"), ref["want"], 5e-7 + 1e-12)
        return None if err is None else f"the traced chain is not curate_documents_v2: {err}"


GATED = (Flagship(), DedupExact())
WORKLOADS = {w.name: w for w in (*GATED, Curate())}
