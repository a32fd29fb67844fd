"""SparkSession factory with scale-oriented defaults.

The reference pinned one JAI thread per Spark task and a 512 MB tile
cache for bounded executor memory (pfa-spark/ExtractFexApp.java:88-90);
the Spark-native analog is AQE + sized shuffle partitions + Arrow batch
limits, set here once so every entry point (tests, bench, spark-submit)
gets the same tuned session.

The session also keeps every whole-stage class it generates: a repeated
query in one JVM (a benchmark loop, a notebook, the test session) reuses
its compiled code instead of compiling it again with Janino.  The codegen
cache is a static conf, so it only takes effect when ``get_spark``
creates the session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that matter at 100 TB scale but are safe on local[N]:
#  - AQE coalesces post-shuffle partitions and splits skewed ones at runtime.
#  - shuffle.partitions is a static ceiling; AQE coalesces below it.
#  - Arrow batches bound Python-worker memory for applyInPandas stages.
#  - maxPartitionBytes keeps scan tasks ~128MB so a 100 TB table maps to
#    ~800k balanced tasks rather than a few huge ones.
#  - codegen.cache.maxEntries: the generated-class cache is LRU with 100
#    entries by default, below what one CLI pass builds (measured at
#    local[4]: dedup-exact 110 classes a warm pass, curate ~155, flagship
#    ~35; mean bytecode 1.6-3.1 KB a class), so a warm dedup-exact or
#    curate pass evicted each class before the next pass asked for it and
#    compiled them all again.  1000 holds ~6 of the largest passes.
DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.codegen.cache.maxEntries": "1000",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(
    master: str | None = None,
    app_name: str = "esa_pfa_spark",
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's tuned defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (32 if unset) so the
    same code path serves pytest, bench.py and spark-submit.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        # explicit caller choice (tests, bench) always wins
        builder = builder.master(master)
    elif "PYSPARK_GATEWAY_PORT" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    # else: the driver was launched by spark-submit (its PythonRunner sets
    # PYSPARK_GATEWAY_PORT/SECRET for the driver process) and the cluster
    # manager was chosen on the command line (--master yarn/k8s/...);
    # forcing local[N] here would silently turn a cluster job into a
    # driver-local one.  Leave master to the submit-time JVM conf.
    for k, v in DEFAULT_CONFS.items():
        builder = builder.config(k, v)
    nshuffle = shuffle_partitions if shuffle_partitions is not None else cpus
    builder = builder.config("spark.sql.shuffle.partitions", str(nshuffle))
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
