"""Distributed dense-id dictionary build — A10, the scalable form — and
the engine's one global-order numbering primitive, ``global_cumsum``.

The reference builds a name->index map single-threaded while writing its
binary store (pfa-database/.../db/Lucene2Simple.java:64-91).  The naive
Spark translation, ``dense_rank() OVER (ORDER BY name)``, funnels every
distinct value through ONE task (partition-less window) — fine for 20
sources, a straggler for 10^8 distinct names.

``dense_ids`` produces the identical mapping with no global window: it
numbers the distinct values with ``global_cumsum`` (plan shape in its
docstring).  For DISTINCT inputs row-position == dense_rank, so the
result is bit-identical to the SQL oracle's
``dense_rank() OVER (ORDER BY col) - 1``.  The same primitive places
documents in a packed token stream (``tokens.pack_offsets``, a weighted
sum) and numbers the explicit suffix array in final-rank order
(``suffix.suffix_order``, a row index); the exact-substring statistics
rank suffixes key-locally and number nothing.  The row index is one JVM
projection; only the weighted sum crosses to Python.
See ``dataset.deterministic_shuffle`` for the content-defined-bucket
variant used when the key distribution is known-uniform.
"""

from __future__ import annotations

import numpy as np
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def global_cumsum(
    df: DataFrame,
    order_cols,
    out_col: str,
    weight: str | None = None,
    n_partitions: int | None = None,
) -> DataFrame:
    """Exclusive running sum of ``weight`` in the global ``order_cols``
    order, appended to every row of ``df`` as the non-null long
    ``out_col``; with ``weight=None`` every row weighs 1, so ``out_col``
    is the 0-based row index.  The SQL form, ``sum(w) OVER (ORDER BY
    ...)``, funnels all rows through one task; this plan keeps every task
    at O(rows/n_partitions):

      1. range-partition by ``order_cols`` + sort within partitions
         (partition p holds a contiguous slice of the global order);
      2. one tiny action collects per-partition weight sums -> cumulative
         start offsets (n_partitions scalars to the driver, not the data);
      3. the numbering pass over the same partitions, from partition p's
         offset:
         * ``weight=None``: one JVM projection, ``offsets[p] +
           (monotonically_increasing_id() - (p << 33))`` — the id is
           (p << 33) + the row's index in the partition, so no running
           sum is needed and no row leaves the JVM;
         * weighted: a zero-copy ``mapInArrow`` running sum per
           partition.  No JVM expression carries a sum from row to row
           without a window, and a window keyed on the partition id
           would plan a second exchange.

    ``weight`` must be non-null and integral.  Ties in ``order_cols`` are
    numbered in an unspecified order, so callers order by a unique key
    (or weight tied rows identically).

    Determinism: the ranged DataFrame is ``persist()``-ed and
    materialized by the sums action, so the numbering pass reads the SAME
    physical partitioning instead of re-executing ``repartitionByRange``.
    Without the pin, RangePartitioner seeds its reservoir sample with the
    runtime rdd.id — two separate jobs can sample DIFFERENT boundaries
    even on fully deterministic input once partitions exceed the ~100-row
    sample, silently shifting offsets near boundaries (invisible at test
    scale, where partitions are sampled exhaustively).  Eviction is safe:
    a recomputed cached partition replays the one captured RDD lineage
    (same rdd.id, same sample).  The cache holds ``df`` as given, so
    project it first; sessions running many unrelated jobs call
    ``release_pin(result)`` once the result is materialized."""
    if n_partitions is None:
        n_partitions = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    order_cols = list(order_cols)
    ranged = (
        df.repartitionByRange(n_partitions, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .persist()  # pin ONE sampled partitioning for both passes (docstring)
    )

    w = F.lit(1) if weight is None else F.col(weight)
    sums = (
        ranged.groupBy(F.spark_partition_id().alias("__pid"))
        .agg(F.sum(w).alias("__s"))
        .collect()
    )
    totals = np.zeros(n_partitions, dtype=np.int64)
    for r in sums:
        totals[r["__pid"]] = r["__s"]
    offsets = np.concatenate([[0], np.cumsum(totals)[:-1]])

    if weight is None:
        # the row index needs no running sum: monotonically_increasing_id
        # is (partition id << 33) + the row's index within its partition,
        # counted in the sorted order the cache replays.  element_at never
        # misses (ANSI raises if it did); the coalesce only declares the
        # column non-null
        pid = F.spark_partition_id()
        start = F.element_at(F.lit(offsets.tolist()).cast("array<bigint>"), pid + 1)
        local = F.monotonically_increasing_id() - F.shiftleft(pid.cast("long"), 33)
        out = ranged.select("*", F.coalesce(start + local, F.lit(0).cast("long")).alias(out_col))
    else:
        names = ranged.columns + [out_col]
        out_schema = T.StructType(
            ranged.schema.fields + [T.StructField(out_col, T.LongType(), False)]
        )
        wi = ranged.columns.index(weight)

        def number(batches):
            import pyarrow as pa

            running = int(offsets[TaskContext.get().partitionId()])
            for b in batches:
                w = b.column(wi).to_numpy(zero_copy_only=False).astype(np.int64)
                starts = running + np.cumsum(w) - w
                running += int(w.sum())
                yield pa.RecordBatch.from_arrays(
                    b.columns + [pa.array(starts, type=pa.int64())], names
                )

        out = ranged.mapInArrow(number, schema=out_schema)
    out._pinned_cache = ranged  # release with release_pin(out)
    return out


def release_pin(df: DataFrame, blocking: bool = False) -> bool:
    """Unpersist the partitioning pin ``global_cumsum`` attaches to its
    result (and that ``dense_ids`` / ``tokens.pack_offsets`` /
    ``tokens.pack_attention_stats`` pass on).  Call AFTER the result is
    materialized (written / collected): the pin exists so two jobs read
    one sampled range partitioning — once the numbers are on disk nothing
    re-reads it.  Targeted alternative to ``spark.catalog.clearCache()``,
    which would evict unrelated caches.  Returns True if a pin was found
    and released."""
    pinned = getattr(df, "_pinned_cache", None)
    if pinned is None:
        return False
    pinned.unpersist(blocking=blocking)
    return True


def dense_ids(
    df: DataFrame,
    col: str,
    out_col: str = "dict_id",
    n_partitions: int | None = None,
) -> DataFrame:
    """0-based dense ids over the distinct values of ``col``, ordered by
    value — ``dense_rank() OVER (ORDER BY col) - 1`` without the global
    window: the row index ``global_cumsum`` gives the distinct values.
    The result carries ``global_cumsum``'s pin (``release_pin``)."""
    return global_cumsum(
        df.select(col).distinct(), [col], out_col, n_partitions=n_partitions
    )
