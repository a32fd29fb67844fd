"""The tuned session: the generated-class cache holds a whole CLI pass.

Spark's whole-stage codegen cache is LRU; at its default of 100 entries
one ``dedup-exact`` pass builds more classes than it holds, so every warm
pass evicted each class before the next pass asked for it and compiled
them all again.  ``session.DEFAULT_CONFS`` sizes the cache above that.
"""

from __future__ import annotations

import numpy as np

from esa_pfa_spark.session import DEFAULT_CONFS

CACHE = "spark.sql.codegen.cache.maxEntries"


def _compiles(spark) -> int:
    """Janino compiles in this JVM so far (one per generated class built)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_session_carries_codegen_cache_size(spark):
    assert int(spark.conf.get(CACHE)) == int(DEFAULT_CONFS[CACHE]) >= 1000


def test_warm_dedup_exact_pass_compiles_nothing(spark, tmp_path, capsys, monkeypatch):
    """A second identical ``dedup-exact`` pass reuses every class the
    first one generated: the JVM's compile count does not move.  Two
    documents share a 40-token run, longer than the 32 tokens the first
    refinement round compares, so the suffix array needs 2 rounds."""
    from esa_pfa_spark import cli
    from esa_pfa_spark.operators import suffix

    rng = np.random.default_rng(11)
    shared = rng.integers(0, 50_000, 40).tolist()
    docs = [
        rng.integers(0, 50_000, 12).tolist() + shared + rng.integers(0, 50_000, 9).tolist(),
        shared + rng.integers(0, 50_000, 20).tolist(),
        rng.integers(0, 50_000, 30).tolist(),
    ]
    src = tmp_path / "docs"
    spark.createDataFrame(
        list(enumerate(docs)), schema="doc_id long, tokens array<int>"
    ).write.parquet(str(src))
    argv = ["dedup-exact", "--input", str(src), "--out", str(tmp_path / "cov"),
            "--min-len", "30", "--max-token", "50256"]

    checkpoints = []
    real = suffix._checkpoint_observed

    def counting(*a, **kw):
        checkpoints.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(suffix, "_checkpoint_observed", counting)
    cli.main(argv)
    # the initial ranking, 2 refinement rounds and the adjacent-LCP pairs
    assert len(checkpoints) == 4
    before = _compiles(spark)
    cli.main(argv)
    assert _compiles(spark) - before == 0
    out = capsys.readouterr().out
    assert "longest duplicated substring: 40 tokens" in out
