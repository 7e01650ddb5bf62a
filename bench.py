"""Benchmark runner (driver contract: ONE JSON line on stdout).

Shaped like the reference's harness (reference/oscar-cmd/Benchmark.cpp:
per-query timings + summary; build timed separately like
reference/scripts/bench.sh): times the headline catalog queries at
$SPARK_GRAFT_SF_DIR plus the real engine path — index build over the
deterministic pages fixture and block-max-pruned BM25 top-k serve.

Env knobs:
  SPARK_GRAFT_SF_DIR  (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    (default 32)
  BENCH_PAGES         (default 100000) pages-fixture size for build/serve
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver Python process plus the JVM
    (perfbench's `peak_rss_mb`: ru_maxrss plus the JVM's VmHWM)."""
    import resource
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return round((py_kb + jvm_kb) / 1024.0, 1)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_pages = int(os.environ.get("BENCH_PAGES", "100000"))
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from oscar_spark.session import get_spark
    spark = get_spark(app="oscar-spark-bench", cores=cpus,
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    headline = [
        "fts_term_df", "fts_bm25_and", "fts_bm25_or", "fts_doc_stats",
        "dedup_minhash_lsh", "dedup_simhash", "sim_cosine_topk",
        "text_quality", "rel_pricing_summary", "rel_revenue_by_nation",
        "rel_ranked_parts",
        # round-5 additions — timed and reported, but EXCLUDED from the
        # headline total so the total stays apples-to-apples with
        # BENCH_r04 (see EXTRA_KEYS below)
        "dedup_simhash64_pairs",
    ]
    # keys reported in `queries` but excluded from the cross-round
    # comparable total (new operators added after r04, plus rates)
    EXTRA_KEYS = {"dedup_simhash64_pairs", "serve_batch_5q",
                  "build_docs_per_sec"}
    qs = entrymod.queries()
    timings: dict[str, float] = {}
    cold_timings: dict[str, float] = {}
    # Each query runs twice and the WARM (second) run counts, like the
    # reference's harness (reference/oscar-cmd/Benchmark.cpp:158): the
    # first run of a heavy path in a fresh JVM pays JIT/codegen
    # compilation that a standing cluster's executors do not, and a
    # single-shot sample whipsaws with host state (round-3 driver bench
    # moved 2.2x on unchanged code).  Cold runs are reported alongside.
    for name in headline:
        t0 = time.time()
        df = qs[name](spark, sf_dir)
        n = df.count()  # materialize the full plan
        cold_timings[name] = round(time.time() - t0, 3)
        t0 = time.time()
        qs[name](spark, sf_dir).count()
        timings[name] = round(time.time() - t0, 3)
        print(f"# {name}: warm {timings[name]}s / cold "
              f"{cold_timings[name]}s ({n} rows)", file=sys.stderr)

    # --- the real engine: build + pruned serve over the pages fixture ---
    from oscar_spark.build.indexer import build_index
    from oscar_spark.serve.executor import SearchEngine

    tmp_base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    with tempfile.TemporaryDirectory(dir=tmp_base) as d:
        t0 = time.time()
        from oscar_spark.fixtures.pages import pages_spark_df_dist
        pages_path = os.path.join(d, "pages")
        pages_spark_df_dist(spark, n_pages, chunk=10000) \
            .write.mode("overwrite").parquet(pages_path)
        pages = spark.read.parquet(pages_path)
        timings["pages_gen"] = round(time.time() - t0, 3)
        d = os.path.join(d, "idx")

        # pre-warm one Python UDF worker per core outside the timed
        # region, like cli.py build — a standing cluster's executors
        # have warm workers; interpreter spawn is not build throughput
        from oscar_spark.build.indexer import prewarm_workers
        prewarm_workers(spark)
        # round-5: index_build joins the warm-run methodology every
        # catalog query already uses (r04 change, accepted with the
        # requirement that cold stays reported for separability): the
        # first build in a fresh JVM pays Catalyst/codegen JIT a
        # standing cluster's executors do not; the SECOND build is the
        # steady state.  Cold lands in queries_cold, exactly like the
        # per-query numbers; the warm build's output serves below.
        import shutil
        t0 = time.time()
        build_index(spark, pages, d + "_cold")
        cold_timings["index_build"] = round(time.time() - t0, 3)
        shutil.rmtree(d + "_cold", ignore_errors=True)
        t0 = time.time()
        res = build_index(spark, pages, d)
        timings["index_build"] = round(time.time() - t0, 3)
        print(f"# index_build: warm {timings['index_build']}s / cold "
              f"{cold_timings['index_build']}s "
              f"({res.n_docs} docs, {res.docs_per_sec:.0f} docs/s warm)",
              file=sys.stderr)

        eng = SearchEngine(spark, d)
        serve_queries = ["the", "city + state", "war history world",
                         "house + music + river", "wd0042"]
        from oscar_spark.serve.executor import SERVE_STAGES
        stage_acc: dict[str, list] = {s: [] for s in SERVE_STAGES}
        # warm serve pass counts (each query runs twice; the second
        # run's wall time and stage split are recorded)
        cold_serve = 0.0
        warm_serve = 0.0
        for q in serve_queries:
            t0 = time.time()
            eng.search(q, k=10)
            cold_serve += time.time() - t0
            t0 = time.time()
            eng.search(q, k=10)
            warm_serve += time.time() - t0
            for s, v in (eng.last_stage_times or {}).items():
                stage_acc[s].append(v)
        timings["serve_topk_5q"] = round(warm_serve, 3)
        cold_timings["serve_topk_5q"] = round(cold_serve, 3)
        # batch API over the same queries (warm): all driver-local-
        # eligible queries share ONE fetch job — the amortization
        # search_many exists for; answers pinned identical in tests
        t0 = time.time()
        eng.search_many(serve_queries, k=10)
        timings["serve_batch_5q"] = round(time.time() - t0, 3)
        timings["build_docs_per_sec"] = round(res.docs_per_sec, 1)
        # per-stage serve split (reference Benchmark.cpp:227-304 analog)
        serve_stages = {
            s: {"min": round(min(v), 4), "max": round(max(v), 4),
                "mean": round(sum(v) / len(v), 4),
                "median": round(sorted(v)[len(v) // 2], 4)}
            for s, v in stage_acc.items() if v}

    total = round(sum(v for k, v in timings.items()
                      if k not in EXTRA_KEYS), 3)
    print(json.dumps({
        "metric": "headline_queries_plus_index_build_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_cold": cold_timings,
        "serve_stages": serve_stages,
        "sf": sf,
        "cpus": cpus,
        "bench_pages": n_pages,
        "peak_rss_mb": peak_rss_mb(spark),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
