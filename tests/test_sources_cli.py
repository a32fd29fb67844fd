"""Sinks (dated layout partition pruning), sources, scoring, cli packaging."""

import zipfile

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from esa_pfa_spark.operators.scoring import classify_threshold, score_linear
from esa_pfa_spark.sources import sinks, tables


def test_dated_sink_prunes(spark, tmp_path):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = str(tmp_path / "dated")
    sinks.write_dated(ev, out, ts_col="ts")
    back = spark.read.parquet(out)
    # partition pruning: filtering on the partition column reads a subset
    one_day = back.filter((F.col("y") == "2024") & (F.col("m") == "01") & (F.col("d") == "05"))
    n = one_day.count()
    assert 0 < n < ev.count()
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan


def test_sink_registry_dispatch(spark, tmp_path):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").limit(10)
    sinks.write(ev.select("event_id", "value"), "csv", str(tmp_path / "c"))
    sinks.write(ev.select("event_id", "value"), "json", str(tmp_path / "j"))
    assert spark.read.option("header", True).csv(str(tmp_path / "c")).count() == 10
    assert spark.read.json(str(tmp_path / "j")).count() == 10
    try:
        sinks.write(ev, "bogus", "/tmp/x")
        assert False
    except ValueError as e:
        assert "unknown sink" in str(e)


def test_load_sf_tables(spark):
    t = tables.load_sf_tables(spark, "/root/testdata/sf0.001")
    assert set(t) == set(tables.TPCH_TABLES)
    assert t["region"].count() == 5


def test_score_linear_golden(spark):
    pdf = pd.DataFrame(
        {"vec_id": [0, 1, 2], "embedding": [[1.0, 2.0], [0.0, 0.0], [float("nan"), 1.0]]}
    )
    df = spark.createDataFrame(pdf)
    out = (
        classify_threshold(score_linear(df, np.array([0.5, -1.0]), bias=0.25, vec_col="embedding"))
        .orderBy("vec_id").toPandas()
    )
    # 0: 0.5*1 - 1*2 + 0.25 = -1.25 -> label 0; 1: 0.25 -> 1; 2: NaN -> -1
    assert out["decision"][0] == -1.25 and out["label"][0] == 0
    assert out["decision"][1] == 0.25 and out["label"][1] == 1
    assert np.isnan(out["decision"][2]) and out["label"][2] == -1


def test_cli_package(tmp_path):
    from esa_pfa_spark import cli

    out = tmp_path / "pkg.zip"
    cli.main(["package", "--out", str(out)])
    names = zipfile.ZipFile(out).namelist()
    assert "esa_pfa_spark/__init__.py" in names
    assert "esa_pfa_spark/plans/pipeline.py" in names
    assert len(names) > 15


def test_cli_dataset_split_and_shuffle(spark, tmp_path):
    """dataset subcommand end-to-end: tokenizes text input, writes parquet
    partitioned by split, and shuffle_pos is a total permutation that is
    identical on a re-run (deterministic export)."""
    import pandas as pd

    from esa_pfa_spark import cli

    src = tmp_path / "docs"
    pdf = pd.DataFrame(
        {
            "doc_id": [f"d{i}" for i in range(300)],
            "text": [f"alpha beta w{i} gamma" for i in range(300)],
        }
    )
    spark.createDataFrame(pdf).write.parquet(str(src))
    out = tmp_path / "ds"
    cli.main(["dataset", "--input", str(src), "--out", str(out), "--seed", "5"])

    back = spark.read.parquet(str(out))
    assert {"doc_id", "tokens", "n_tok", "shuffle_pos", "split"} <= set(back.columns)
    rows = back.select("doc_id", "split", "shuffle_pos").collect()
    assert sorted(r["shuffle_pos"] for r in rows) == list(range(300))
    splits = {r["split"] for r in rows}
    assert splits == {"train", "val", "test"}
    first = {r["doc_id"]: (r["split"], r["shuffle_pos"]) for r in rows}

    out2 = tmp_path / "ds2"
    cli.main(["dataset", "--input", str(src), "--out", str(out2), "--seed", "5"])
    again = {
        r["doc_id"]: (r["split"], r["shuffle_pos"])
        for r in spark.read.parquet(str(out2)).select("doc_id", "split", "shuffle_pos").collect()
    }
    assert again == first


def _read_text_sorted(spark, path):
    return sorted(r["value"] for r in spark.read.text(path).collect())


def test_xml_sink_golden(spark, tmp_path):
    pdf = pd.DataFrame({"pid": ["a<1", "b&2"], "v": ["1.5", None]})
    df = spark.createDataFrame(pdf)
    sinks.write(df, "xml", str(tmp_path / "x"), row_tag="patch")
    lines = _read_text_sorted(spark, str(tmp_path / "x"))
    assert lines == [
        "<patch><pid>a&lt;1</pid><v>1.5</v></patch>",
        "<patch><pid>b&amp;2</pid><v></v></patch>",
    ]


def test_kml_sink_golden(spark, tmp_path):
    pdf = pd.DataFrame({"name": ["p1"], "lat": [10.5], "lon": [-3.25]})
    sinks.write(spark.createDataFrame(pdf), "kml", str(tmp_path / "k"))
    lines = _read_text_sorted(spark, str(tmp_path / "k"))
    assert lines == [
        "<Placemark><name>p1</name><Point><coordinates>-3.25,10.5"
        "</coordinates></Point></Placemark>"
    ]


def test_html_sink_golden(spark, tmp_path):
    pdf = pd.DataFrame({"a": ["x>y"], "n": [3]})
    sinks.write(spark.createDataFrame(pdf), "html", str(tmp_path / "h"))
    lines = _read_text_sorted(spark, str(tmp_path / "h"))
    assert lines == ["<tr><td>x&gt;y</td><td>3</td></tr>"]


def test_cli_curate_end_to_end(spark, tmp_path, capsys):
    """curate subcommand: survivors parquet + per-source report; a pure
    duplicate must be collapsed and a too-short doc gated out."""
    import pandas as pd
    from esa_pfa_spark import cli

    texts = {
        0: "the quick brown fox jumps over the lazy dog again and again",
        1: "the quick brown fox jumps over the lazy dog again and again",  # exact dup
        2: "tiny",                                                         # quality-gated
        3: "a completely different document with plenty of distinct words inside",
    }
    src = tmp_path / "docs"
    spark.createDataFrame(
        pd.DataFrame({
            "doc_id": list(texts), "text": list(texts.values()),
            "source": ["s0"] * 4,
        }),
        schema="doc_id long, text string, source string",
    ).write.parquet(str(src))
    out = tmp_path / "curated"
    cli.main(["curate", "--input", str(src), "--out", str(out)])
    kept = {r.doc_id for r in spark.read.parquet(str(out)).collect()}
    assert kept == {0, 3}
    assert "s0: 2/4 survived" in capsys.readouterr().out


def test_cli_curate_v2(spark, tmp_path):
    """curate --recipe v2 runs the composed modern chain end-to-end and
    writes survivors matching a direct curate_documents_v2 call."""
    from esa_pfa_spark import cli
    from esa_pfa_spark.plans.curation import curate_documents_v2

    src = str(tmp_path / "docs")
    out = str(tmp_path / "curated")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.write.parquet(src)
    cli.main(["curate", "--input", src, "--out", out, "--recipe", "v2",
              "--min-words", "20", "--keep-frac", "0.6", "--alpha", "0.5"])
    got = spark.read.parquet(out)
    want = curate_documents_v2(docs, min_words=20, keep_frac=0.6, alpha=0.5)
    assert sorted(r["doc_id"] for r in got.collect()) == \
        sorted(r["doc_id"] for r in want.collect())
    assert set(got.columns) >= {"doc_id", "source", "ppl_bucket", "rate"}


def _write_texts(spark, path, texts):
    spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())}),
        schema="doc_id long, text string",
    ).write.parquet(str(path))


def test_cli_dedup_exact_end_to_end(spark, tmp_path, capsys, monkeypatch):
    """dedup-exact subcommand: per-doc ExactSubstr coverage parquet +
    corpus summary; a planted 6-token shared run is found at
    --min-len 6 and ignored at --min-len 7.  Coverage and the longest
    duplicate come from ONE suffix rank build."""
    from esa_pfa_spark import cli
    from esa_pfa_spark.operators import suffix

    shared = "alpha beta gamma delta epsilon zeta"
    texts = {
        0: f"one two {shared} three",
        1: f"{shared} four five six",
        2: "seven eight nine ten eleven twelve",
    }
    src = tmp_path / "docs"
    _write_texts(spark, src, texts)

    builds = []
    real_ranks = suffix._suffix_ranks

    def counting_ranks(*a, **kw):
        builds.append(1)
        return real_ranks(*a, **kw)

    monkeypatch.setattr(suffix, "_suffix_ranks", counting_ranks)
    out = tmp_path / "cov6"
    cli.main(["dedup-exact", "--input", str(src), "--out", str(out),
              "--min-len", "6"])
    assert len(builds) == 1
    cov = {r.doc_id: r for r in spark.read.parquet(str(out)).collect()}
    assert cov[0].dup_tokens == 6 and cov[1].dup_tokens == 6
    assert cov[2].dup_tokens == 0
    assert "12/24 tokens" in capsys.readouterr().out

    out7 = tmp_path / "cov7"
    cli.main(["dedup-exact", "--input", str(src), "--out", str(out7),
              "--min-len", "7"])
    assert all(
        r.dup_tokens == 0 for r in spark.read.parquet(str(out7)).collect()
    )


def test_cli_dedup_exact_single_token_corpus(spark, tmp_path, capsys):
    """One document of one token: no adjacent suffix pair, so the
    longest-duplicate frame is empty and the summary reports 0 tokens."""
    from esa_pfa_spark import cli

    src = tmp_path / "docs"
    _write_texts(spark, src, {0: "solitary"})
    out = tmp_path / "cov"
    cli.main(["dedup-exact", "--input", str(src), "--out", str(out)])
    printed = capsys.readouterr().out
    assert "1 docs, 0/1 tokens" in printed
    assert "longest duplicated substring: 0 tokens" in printed
