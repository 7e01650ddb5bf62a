"""Deterministic docID assignment — the one global ordering in the build.

Reference semantics: items are renumbered in descending static-score
order at build time so docID order IS rank order
(reference/oscar-create/OsmKeyValueObjectStore.cpp:1339-1399 applySort).

Two interchangeable strategies, both producing the identical mapping
(asserted equal in tests/test_docids.py):

- assign_doc_ids_window: row_number over a global orderBy.  Simple, but
  the window is a single-partition sort — fine at test scale, a wall at
  10^12 docs.
- assign_doc_ids_ranged: the scale path.  repartitionByRange on the
  order key gives globally range-ordered partitions, cached once;
  per-partition counts (one tiny collect = the "committed partition
  manifest") give each partition a contiguous base offset; a doc's id
  is its partition's base plus its row index within the sorted
  partition, computed in the JVM.  No single-partition stage and no
  Python task; the only driver data is #partitions rows.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _order():
    # built lazily — F.desc needs an active SparkContext
    return [F.desc("quality"), F.asc("url")]


def assign_doc_ids_window(doc_lens: DataFrame) -> DataFrame:
    """(url, doc_len, quality) → + doc_id via global row_number."""
    w = Window.orderBy(*_order())
    return doc_lens.withColumn(
        "doc_id", F.row_number().over(w).cast("long") - 1)


def assign_doc_ids_ranged(doc_lens: DataFrame,
                          num_partitions: int = 32,
                          stats_col: str | None = None):
    """Same mapping, no global window: range partitions + base offsets.

    stats_col: when given, the manifest collect ALSO aggregates
    count/sum of that column and the function returns
    (df, {"n": int, "sum": float, "cached": DataFrame}) — corpus stats
    ride along on the job that had to run anyway instead of costing
    their own job (per-job launch latency is a fixed cost that eats
    N→4N scaling efficiency at bench scale).  `cached` is the persisted
    range-partitioned relation `df` reads: unpersist it after the last
    action over `df`."""
    ranged = (doc_lens
              .repartitionByRange(num_partitions, *_order())
              .sortWithinPartitions(*_order())
              .withColumn("_pid", F.spark_partition_id()))
    # PIN the computed partitions: repartitionByRange samples its
    # boundaries per query, so the manifest job below and the id
    # projection would otherwise each draw their OWN boundaries —
    # overlapping / gapped offsets and duplicate doc_ids (caught by the
    # strict-monotone block invariant at 40k docs).  Both consumers read
    # this ONE cached relation, whose plan holds one RangePartitioner:
    # a block lost with an executor is recomputed through that same
    # partitioner (the shuffle is re-read, or re-run with the same
    # bounds), never re-sampled.  Lazy: the manifest collect is the
    # first action and materializes every partition, since it
    # aggregates all rows.
    ranged = ranged.persist(StorageLevel.MEMORY_AND_DISK)
    # the committed partition manifest: pid → row count (tiny collect)
    aggs = [F.count("*").alias("n")]
    if stats_col is not None:
        aggs.append(F.sum(stats_col).alias("s"))
    man = ranged.groupBy("_pid").agg(*aggs).collect()
    counts = {r["_pid"]: r["n"] for r in man}
    # base offset per partition: one flat CASE over the manifest's pids
    base, acc = None, 0
    for pid in sorted(counts):
        hit = F.col("_pid") == pid
        base = F.when(hit, acc) if base is None else base.when(hit, acc)
        acc += counts[pid]
    base = F.lit(0) if base is None else base.otherwise(0)
    # monotonically_increasing_id() is (partition id << 33) + the row's
    # index within the partition, and a projection over the cached
    # relation keeps both its partitions and their sort order: ids are
    # sequential in (quality DESC, url ASC) order partition by partition
    row = F.monotonically_increasing_id() - \
        F.shiftleft(F.spark_partition_id().cast("long"), 33)
    out = ranged.select(*[c for c in ranged.columns if c != "_pid"],
                        (base + row).alias("doc_id"))
    if stats_col is not None:
        total = sum((r["s"] or 0) for r in man)
        return out, {"n": acc, "sum": float(total), "cached": ranged}
    return out
