"""Curation-pipeline stage semantics on hand-checkable inputs.  The oracle
mirror (test_entry_oracle.py: curation_survivors / curation_decontaminated /
training_windows_e2e) proves DuckDB parity at sf0.01; these pin each
stage's behavior on tiny frames."""

from __future__ import annotations

import pytest

from esa_pfa_spark.plans.curation import curate_documents

EVAL_RUN = "alpha beta gamma delta epsilon zeta eta theta"  # 8 words


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        # contaminated: contains the eval corpus's 8-gram verbatim
        (1, "x " + EVAL_RUN + " tail", "s1"),
        # clean survivor
        (2, "one two three four five six seven eight nine", "s1"),
        # exact duplicate of 2 -> collapsed to min doc_id
        (3, "one two three four five six seven eight nine", "s1"),
        # too short for the quality gate (< 5 words)
        (4, "tiny doc here", "s2"),
        # clean and shorter than the 8-gram window: passes decontamination
        (5, "red green blue cyan magenta yellow", "s2"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


@pytest.fixture(scope="module")
def eval_docs(spark):
    return spark.createDataFrame(
        [(100, "prefix " + EVAL_RUN + " suffix", "eval")],
        "doc_id long, text string, source string",
    )


def test_chain_without_decontamination(docs):
    kept = {r["doc_id"] for r in curate_documents(docs).collect()}
    # 4 fails quality; 3 is an exact dup of 2; 1, 2, 5 survive
    assert kept == {1, 2, 5}


def test_decontamination_drops_eval_overlap(docs, eval_docs):
    kept = {r["doc_id"] for r in curate_documents(docs, eval_docs=eval_docs).collect()}
    # doc 1 shares an 8-gram with the eval set -> dropped; doc 5 is shorter
    # than the window and passes through
    assert kept == {2, 5}


def test_curation_v3_chain_properties(spark):
    """The v3 chain must actually exercise every stage: gated docs
    nonempty, verified-duplicate merging strictly reduces (or keeps) the
    gated set, every export passed the quality gate, ranks are dense,
    and the chain never invents doc ids."""
    from pyspark.sql import functions as F

    from esa_pfa_spark.plans.curation import curate_documents_v3

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    out = curate_documents_v3(docs, emb, topn=50).collect()
    assert 0 < len(out) <= 50
    assert [r["rank"] for r in sorted(out, key=lambda r: r["rank"])] == list(
        range(1, len(out) + 1)
    )
    assert all(r["p_quality"] >= 0.5 for r in out)
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert all(r["doc_id"] in all_ids for r in out)
    # export order follows the combined weight
    ranked = sorted(out, key=lambda r: r["rank"])
    scores = [r["export_score"] for r in ranked]
    assert scores == sorted(scores, reverse=True)


def test_curation_v2_matches_duckdb_on_planted_duplicate_cluster(spark, tmp_path, monkeypatch):
    """A synthetic corpus with 300 exact copies of one gated document:
    curate_documents_v2 equals SQL_CURATION_V2 row for row, and the
    301-doc cluster (the copies and their original) reaches survivor
    selection as 300 star edges, not 45,150 pairs."""
    import re

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from __spark_entry__ import SQL_CURATION_V2
    from esa_pfa_spark.operators import dedup as DD
    from esa_pfa_spark.plans.curation import curate_documents_v2
    from perfbench import gen

    t = gen.curate_corpus(11, 300, 40, [2, 3, 4, 5] * 3, (30, 72), 1, 0.05)
    n, k = t.num_rows, 300
    base = next(r for r in t.to_pylist()
                if len(r["text"].split(" ")) >= 30 and "#" not in r["text"]
                and "1024" not in r["text"])
    planted = pa.table({
        "doc_id": pa.array(range(n, n + k), pa.int64()),
        "text": [base["text"]] * k,
        "lang": ["en"] * k,
        "source": [f"src{i % 4}" for i in range(k)],
        "n_chars": pa.array([base["n_chars"]] * k, pa.int64()),
    })
    path = str(tmp_path / "docs.parquet")
    pq.write_table(pa.concat_tables([t, planted]), path)

    seen = []
    components = DD.graph_components

    def spy(edge_list, *args, **kwargs):
        seen.append(edge_list.filter(edge_list["doc_id_b"] >= n).count())
        return components(edge_list, *args, **kwargs)

    monkeypatch.setattr(DD, "graph_components", spy)
    got = sorted(
        (r["doc_id"], r["source"], r["ppl_bucket"], r["rate"])
        for r in curate_documents_v2(spark.read.parquet(path)).collect()
    )
    assert seen == [k]  # star edges from the original to each copy

    # DuckDB inlines every CTE reference; materializing each once keeps
    # the recursive component CTE's plan small (as perfbench's reference)
    sql = re.sub(r"^(\w+) AS \(", r"\1 AS MATERIALIZED (", SQL_CURATION_V2, flags=re.M)
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        want = sorted(map(tuple, con.execute(sql).fetchall()))
    finally:
        con.close()
    assert [r[:3] for r in got] == [r[:3] for r in want] and len(got) > 0
    assert sum(r[0] == base["doc_id"] or r[0] >= n for r in got) <= 1
    assert all(abs(g[3] - w[3]) < 1e-9 for g, w in zip(got, want))
