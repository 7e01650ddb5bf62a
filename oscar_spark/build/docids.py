"""Deterministic docID assignment — the one global ordering in the build.

Reference semantics: items are renumbered in descending static-score
order at build time so docID order IS rank order
(reference/oscar-create/OsmKeyValueObjectStore.cpp:1339-1399 applySort).

Two interchangeable strategies, both producing the identical mapping
(asserted equal in tests/test_docids.py):

- assign_doc_ids_window: row_number over a global orderBy.  Simple, but
  the window is a single-partition sort — fine at test scale, a wall at
  10^12 docs.
- assign_doc_ids_ranged: the scale path.  Range bounds on the order key
  are cut from one hashed sample (build/ranges.py); one aggregate
  counts the docs per range (the committed partition manifest), which
  gives each range a contiguous base offset; a doc's id is its range's
  base plus its row index within the sorted range, computed in the JVM.
  No single-partition stage, no Python task and no cached relation: the
  bounds are literals, so the count and the id projection see the same
  ranges in separate queries.  Driver data: the sample and one row per
  range.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from oscar_spark.build.ranges import (SAMPLE_PER_RANGE, partition_by_ranges,
                                      range_bounds, range_index,
                                      sample_by_hash)


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

    Three passes over doc_lens: the sample (one job), the per-range
    counts (one aggregate) and the id projection, which the caller
    writes.  stats_col: when given, the count aggregate ALSO sums that
    column and the function returns (df, {"n": int, "sum": float}) —
    corpus stats ride along on the aggregate that had to run anyway."""
    order = [("quality", False), ("url", True)]
    sample = sample_by_hash(doc_lens, ["quality", "url"], "url",
                            SAMPLE_PER_RANGE * num_partitions)
    bounds = range_bounds(sample, num_partitions, order)
    aggs = [F.count("*").alias("n")]
    if stats_col is not None:
        aggs.append(F.sum(stats_col).alias("s"))
    man = (doc_lens.groupBy(range_index(order, bounds).alias("_rid"))
           .agg(*aggs).collect())
    counts = {r["_rid"]: r["n"] for r in man}
    # shuffle partition i holds range i, sorted: a doc's id is the count
    # of all earlier ranges plus its row index in the partition, which
    # is monotonically_increasing_id() minus (partition id << 33).  One
    # SQL expression (see ranges.sql_literal); a CASE with an ELSE keeps
    # doc_id non-nullable.
    base, acc = [], 0
    for rid in sorted(counts):
        base.append(f"WHEN {rid} THEN {acc}L")
        acc += counts[rid]
    pid = "spark_partition_id()"
    doc_id = F.expr(
        (f"CASE {pid} {' '.join(base)} ELSE 0L END + " if base else "")
        + f"monotonically_increasing_id() - shiftleft(CAST({pid} AS BIGINT), 33)")
    ranged = partition_by_ranges(doc_lens, order, bounds).drop("_p") \
        .sortWithinPartitions(*_order())
    out = ranged.select(*doc_lens.columns, doc_id.alias("doc_id"))
    if stats_col is not None:
        total = sum((r["s"] or 0) for r in man)
        return out, {"n": acc, "sum": float(total)}
    return out
