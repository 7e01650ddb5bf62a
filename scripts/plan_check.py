"""Physical-plan audit: assert the plans we rely on at 100 TB actually
materialize — filter/projection pushdown to parquet, broadcast joins for
small dims, whole-stage codegen on hot expressions, no payload read in
the metadata phase.  Writes PLANS.md with the evidence.

Run: python scripts/plan_check.py  (exits 1 on any failed expectation)
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"


from oscar_spark.plans.audit import check_plan


def main() -> int:
    from oscar_spark.session import get_spark
    from oscar_spark.build.indexer import build_index
    from oscar_spark.fixtures.pages import pages_spark_df
    from oscar_spark.serve.executor import SearchEngine, _META_COLS
    from oscar_spark.operators import relational
    from pyspark.sql import functions as F

    spark = get_spark(cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    checks = []  # (name, ok, evidence)
    sections = []

    def check(name, df, expect_all=(), expect_none=()):
        r = check_plan(name, df, expect_all, expect_none)
        checks.append((name, r.ok))
        sections.append(f"## {name}\n\n" + "\n".join(f"- {n}" for n in r.notes)
                        + "\n\n```\n"
                        + "\n".join(r.plan.splitlines()[:40]) + "\n```\n")
        print(("PASS " if r.ok else "FAIL ") + name + "  " + "; ".join(r.notes))

    # 1. broadcast dim join stays broadcast
    check("revenue_by_nation (J5 broadcast join)",
          relational.revenue_by_nation(spark, SF),
          expect_all=[r"BroadcastHashJoin", r"HashAggregate"],
          expect_none=[r"SortMergeJoin", r"BatchEvalPython"])

    # 2. filter + projection pushdown reach the lineitem scan
    check("filtered_projection (P1 pushdown)",
          relational.filtered_projection(spark, SF),
          expect_all=[r"PushedFilters: \[.*IsNotNull\(l_quantity\)",
                      r"GreaterThan\(l_quantity,40\.0\)",
                      r"ReadSchema: struct<l_orderkey:bigint,l_quantity:double,l_returnflag:string>"])

    # 3. top-k is TakeOrderedAndProject (no global sort)
    check("top_revenue_orders (O4 top-k)",
          relational.top_revenue_orders(spark, SF, 20),
          expect_all=[r"TakeOrderedAndProject"],
          expect_none=[r"\bSort\b.*global"])

    with tempfile.TemporaryDirectory() as d:
        pages = pages_spark_df(spark, 300)
        build_index(spark, pages, d)
        eng = SearchEngine(spark, d)

        # 4. serve metadata phase: term filter pushed down, payload NOT read
        meta = eng._blocks(["the", "city"], meta_only=True)
        check("postings metadata scan (term pushdown, no payload column)",
              meta,
              expect_all=[r"PushedFilters: \[.*In\(term",
                          r"PartitionFilters: \[.*bucket"],
              expect_none=[r"payload"])

        # 5. full block fetch still pushes term filter
        blk = eng._blocks(["the", "city"], meta_only=False)
        check("postings block fetch (pushdown incl. payload)",
              blk, expect_all=[r"PushedFilters: \[.*In\(term"])

        # 6. BM25 score expression is codegen'd (no Python in scoring join)
        from oscar_spark.operators import fulltext_sql as fts
        # NOTE: AQE formatted plans omit WholeStageCodegen markers
        # pre-execution; the meaningful assertion is that no Python
        # evaluation node appears anywhere in the scoring plan
        check("bm25_topk (JVM-side scoring)",
              fts.bm25_topk(spark, SF, ["data", "spark"], 10),
              expect_all=[r"HashAggregate", r"TakeOrderedAndProject"],
              expect_none=[r"BatchEvalPython", r"PythonUDF"])

        # 7. the build's postings pipeline has NO single-partition
        # exchange at ANY scale (round 1's term-dictionary row_number
        # window was exactly that; gone — terms shuffle as strings, ids
        # stay local).  The phase-2 window IS present but partitioned
        # by (bucket, term), which the bucket repartition already
        # satisfies — asserted by requiring a partitioned Window spec
        # and banning both SinglePartition and any window without
        # PARTITION BY.
        # (a finished build keeps no tokens table: tokenize the pages)
        from oscar_spark.build.indexer import _final_blocks, _tokenize
        from oscar_spark.sources.tables import IndexStore
        st = IndexStore(d)
        fb = _final_blocks(spark, _tokenize(pages, False, ()),
                           st.read(spark, "doc_stats"),
                           300, 300, 50.0, "varint")
        check("index build postings pipeline (no single-partition stage)",
              fb,
              expect_all=[r"ArrowEvalPython|MapInPandas|MapInArrow|mapInPandas",
                          r"Window.*partitionBy|windowspecdefinition\(bucket"],
              expect_none=[r"Exchange SinglePartition"])

        # 8. positional build: positions ride the SAME single shuffle —
        # no extra exchange, still no single-partition stage
        fbp = _final_blocks(spark, _tokenize(pages, True, ()),
                            st.read(spark, "doc_stats"),
                            300, 300, 50.0, "varint", positions=True)
        check("positional build pipeline (positions add no exchange)",
              fbp,
              expect_all=[r"ArrowEvalPython|MapInPandas|MapInArrow|mapInPandas"],
              expect_none=[r"Exchange SinglePartition"])

        # 9. IVF probe fetch over a materialized index is a
        # cid-partition-pruned read (the 10^12-vector serve path)
        from oscar_spark.operators import similarity
        ivf_dir = os.path.join(d, "ivf")
        similarity.ivf_build(spark, SF, ivf_dir, stride=32)
        probe = spark.read.parquet(os.path.join(ivf_dir, "assign")) \
            .filter(F.col("cid").isin([0, 32]))
        check("ivf probe fetch (cid partition pruning)",
              probe,
              expect_all=[r"PartitionFilters: \[.*cid"])

        # 10. two-level IVF: ONLY the n^(1/4) super-centroid table is
        # broadcast (explicit hint); the vector→centroid resolution is a
        # shuffle equi-join on scid.  Auto-broadcast disabled so the
        # tiny test-scale centroid table can't be silently broadcast —
        # at 10^12 vectors it wouldn't fit, and this asserts the plan
        # already has the shape that survives that.
        old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            iv2 = similarity.ivf2_assign(spark, SF, stride=32, stride0=4)
            check("ivf2 assign (supers broadcast; centroids shuffle-join)",
                  iv2,
                  expect_all=[r"BroadcastNestedLoopJoin",
                              r"SortMergeJoin|ShuffledHashJoin"],
                  expect_none=[r"BroadcastHashJoin", r"BatchEvalPython"])
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)

        # 11. 64-bit simhash near-dup pairs: the bit arithmetic (64
        # CASE sums + packing + bit_count hamming) is all JVM-side and
        # the candidate join is a banded EQUI-join on (band, key) —
        # never a cartesian / nested-loop product over the corpus
        from oscar_spark.operators import dedup
        check("simhash64 pairs (banded equi-join, JVM bit arithmetic)",
              dedup.simhash64_pairs(spark, SF),
              expect_all=[r"HashAggregate"],
              expect_none=[r"BatchEvalPython", r"PythonUDF",
                           r"CartesianProduct",
                           r"BroadcastNestedLoopJoin"])

    n_fail = sum(1 for _, ok in checks if not ok)
    with open("PLANS.md", "w") as f:
        f.write("# PLANS — physical-plan audit (generated by "
                "scripts/plan_check.py)\n\nSummary: "
                f"{len(checks) - n_fail}/{len(checks)} expectations hold.\n\n"
                + "\n".join(sections))
    print(f"\n{len(checks) - n_fail}/{len(checks)} plan expectations hold; "
          "details in PLANS.md")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
