"""Range partitioning from one driver-side sample.

`repartitionByRange` draws its bounds inside the query that uses them:
every query planned over it runs its own sampling job(s), and two
queries over the same input may cut different ranges.  The build needs
range-partitioned output three times (doc ids and the two wildcard
mirrors of the term dictionary), and for doc ids it must also know each
range's row count before the first id is written.  So the sample is
taken once, the bounds are cut on the driver, and a row's range is a
comparison tree over literal bounds (SQL text, parsed once) — the same
in every query that uses them:

- `sample_by_hash`: the rows with the smallest xxhash64 of one column,
  a deterministic uniform sample in one job (each input partition
  sends its own n smallest, the driver keeps n); the mirrors take
  theirs from an aggregate they need anyway (indexer._dictionary_stats);
- `range_bounds`: up to n-1 cut points at the sample's n-quantiles;
- `range_index`: the row's range, 0 … len(bounds);
- `partition_key`: an int column that `repartition(n, <it>)` (hash
  partitioning) sends to shuffle partition `index` exactly, via one
  int key per partition (spark_hash.partition_keys);
- `partition_by_ranges`: shuffle partition i holds exactly range i.

Range i holds the keys k with bounds[i-1] < k <= bounds[i] in the given
sort order, so after `sortWithinPartitions` in that order partition i
is the i-th slice of the globally sorted table.  Keys must not be null.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from oscar_spark.functions.spark_hash import partition_keys

# sample rows per range (Spark's RangePartitioner samples ~20 per
# partition, ×3 oversampled)
SAMPLE_PER_RANGE = 60

Order = list[tuple[str, bool]]  # (column, ascending)


def sample_by_hash(df: DataFrame, cols: list[str], hash_col: str,
                   n: int) -> list[tuple]:
    """The `cols` of the n rows with the smallest xxhash64(hash_col)."""
    rows = (df.select(*cols, F.xxhash64(hash_col).alias("_h"))
            .orderBy("_h").limit(n).collect())
    return [tuple(r[:len(cols)]) for r in rows]


def _key(order: Order):
    if all(asc for _, asc in order):
        return tuple

    def cmp(a: tuple, b: tuple) -> int:
        for (_, asc), x, y in zip(order, a, b):
            if x != y:
                return (1 if x > y else -1) * (1 if asc else -1)
        return 0
    return functools.cmp_to_key(cmp)


def range_bounds(keys: list[tuple], n: int, order: Order) -> list[tuple]:
    """Up to n-1 increasing cut points at the n-quantiles of `keys`."""
    key = _key(order)
    ks = sorted(keys, key=key)
    out: list[tuple] = []
    for i in range(1, n):
        if not ks:
            break
        b = ks[i * len(ks) // n]
        if not out or key(b) > key(out[-1]):
            out.append(b)
    return out


def sql_literal(v) -> str:
    """A Spark SQL literal for a str, int or float key value.  Range
    expressions are built as SQL text and parsed once: built from
    Column objects, each operator is a Py4J round trip, and a tree
    over a few bounds costs hundreds of them."""
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, float):
        return f"CAST('{v!r}' AS DOUBLE)"
    return f"{int(v)}L"


def _le(order: Order, bound: tuple) -> str:
    """SQL: the row's key <= bound, lexicographically in `order`."""
    expr = None
    for (c, asc), v in reversed(list(zip(order, bound))):
        col, lit = f"`{c}`", sql_literal(v)
        if expr is None:
            expr = f"{col} {'<=' if asc else '>='} {lit}"
        else:
            expr = (f"{col} {'<' if asc else '>'} {lit} OR "
                    f"({col} = {lit} AND ({expr}))")
    return expr


def _tree(order: Order, bounds: list[tuple], lo: int, hi: int) -> str:
    # binary search: a row compares its key with log2(#ranges) bounds
    if lo == hi:
        return str(lo)
    mid = (lo + hi) // 2
    return (f"CASE WHEN {_le(order, bounds[mid])} "
            f"THEN {_tree(order, bounds, lo, mid)} "
            f"ELSE {_tree(order, bounds, mid + 1, hi)} END")


def range_index(order: Order, bounds: list[tuple]) -> Column:
    return F.expr(_tree(order, bounds, 0, len(bounds)))


def partition_key(index_sql: str, n: int) -> Column:
    """The int that hash partitioning into n partitions sends to
    partition `index_sql` (SQL, 0 <= index < n)."""
    keys = ", ".join(map(str, partition_keys(n)))
    return F.expr(f"element_at(array({keys}), ({index_sql}) + 1)")


def partition_by_ranges(df: DataFrame, order: Order,
                        bounds: list[tuple]) -> DataFrame:
    """df plus its range's partition key `_p`, shuffled so partition i
    holds exactly range i.  Grouping by `_p` and the key columns needs
    no further exchange; drop `_p` before writing.  The partition count
    is explicit, so adaptive execution neither coalesces nor splits the
    partitions."""
    n = len(bounds) + 1
    return df.withColumn(
        "_p", partition_key(_tree(order, bounds, 0, len(bounds)), n)) \
        .repartition(n, "_p")
