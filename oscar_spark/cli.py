"""spark-submit entry point (BASELINE.json: "run via spark-submit
--py-files on a multi-executor cluster").

    zip -r oscar_spark.zip oscar_spark
    spark-submit --py-files oscar_spark.zip -m oscar_spark.cli ...   # or:
    spark-submit --py-files oscar_spark.zip oscar_spark/cli.py \\
        build  --pages <parquet-or-iceberg-path> --index <dir> [--resume]
        search --index <dir> --query "city + state" [-k 10] [--mode auto]
        bench  --index <dir> --queries <file>  # one query per line, like
                                               # oscar-cmd --benchmark
                                               # (Benchmark.cpp:311-319)

Under spark-submit the cluster master/executors come from the submit
command (session.get_spark only defaults to local[N] when no master is
configured).  Locally: `python -m oscar_spark.cli ...`.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="oscar_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build")
    b.add_argument("--pages", required=True,
                   help="parquet path of the pages table")
    b.add_argument("--index", required=True, help="index output dir")
    b.add_argument("--resume", action="store_true")
    b.add_argument("--compact-after", type=int, default=None,
                   metavar="N",
                   help="after an append, merge segments once more than"
                        " N postings segments have accumulated"
                        " (amortized maintenance; see compact)")
    # build-mode knobs: DEFAULT None = unspecified, so --resume inherits
    # the store's recorded modes (build_index's None contract) instead
    # of silently flipping a positional/fielded/pfor store to plain
    b.add_argument("--positions", action="store_true", default=None,
                   help="store per-posting token positions (enables true"
                        ' phrase search, "..." queries)')
    b.add_argument("--codec", default=None,
                   choices=["varint", "pfor"],
                   help="posting-block codec (default: config/manifest)")
    b.add_argument("--fields", default=None, metavar="COL[,COL...]",
                   help="page columns indexed as key:value composite "
                        "tokens (fielded terms, e.g. lang:en)")

    s = sub.add_parser("search")
    s.add_argument("--index", required=True)
    s.add_argument("--query", required=True)
    s.add_argument("-k", type=int, default=10)
    s.add_argument("--offset", type=int, default=0,
                   help="skip the first N results (seek/pagination)")
    s.add_argument("--mode", default="auto",
                   choices=["auto", "brute", "pruned", "local"])

    ck = sub.add_parser("check",
                        help="store/index consistency checks "
                             "(ConsistencyCheckers.cpp analog)")
    ck.add_argument("--index", required=True)

    c = sub.add_parser("compact",
                       help="merge all committed index segments into one "
                            "(store→store re-import analog, "
                            "oscarcreate.cpp:86-116)")
    c.add_argument("--index", required=True)

    be = sub.add_parser("bench")
    be.add_argument("--index", required=True)
    be.add_argument("--queries", required=True,
                    help="file with one query per line")
    be.add_argument("-k", type=int, default=10)
    be.add_argument("--out", default=None,
                    help="write per-query CSV here (like <out>.raw)")
    be.add_argument("--cold", action="store_true",
                    help="drop engine/Spark caches before each query "
                         "— the reference's per-query cache purge, "
                         "oscar-cmd/Benchmark.cpp:117-123")

    args = ap.parse_args(argv)

    from oscar_spark.session import get_spark
    spark = get_spark(app=f"oscar-{args.cmd}")

    if args.cmd == "build":
        from oscar_spark.build.indexer import build_index, prewarm_workers
        pages = spark.read.parquet(args.pages)
        # pay the per-worker interpreter/import cost (~1.5s/core) before
        # the build, like a standing cluster's warm executors — this was
        # previously only in the bench child, not the production path
        prewarm_workers(spark)
        res = build_index(
            spark, pages, args.index, resume=args.resume,
            codec=args.codec,
            positions=args.positions,
            fields=(tuple(f for f in args.fields.split(",") if f)
                    if args.fields is not None else None))
        out = {
            "n_docs": res.n_docs, "n_terms": res.n_terms,
            "n_blocks": res.n_blocks, "elapsed_sec": round(res.elapsed_sec, 2),
            "docs_per_sec": round(res.docs_per_sec, 1),
            "resumed_stages": res.resumed_stages,
            "stage_secs": res.stage_secs}
        if args.compact_after is not None:
            from oscar_spark.build.indexer import maybe_compact
            out["compaction"] = maybe_compact(
                spark, args.index, args.compact_after)
        print(json.dumps(out))
        return 0

    if args.cmd == "compact":
        from oscar_spark.build.indexer import compact_index
        print(json.dumps(compact_index(spark, args.index)))
        return 0

    if args.cmd == "check":
        from oscar_spark.build.check import check_index
        res = check_index(spark, args.index)
        print(json.dumps(res))
        return 0 if res["ok"] else 1

    from oscar_spark.serve.executor import SearchEngine
    eng = SearchEngine(spark, args.index)

    if args.cmd == "search":
        for doc_id, score in eng.search_page(args.query, k=args.k,
                                             offset=args.offset,
                                             mode=args.mode):
            print(f"{doc_id}\t{score:.6f}")
        return 0

    # bench: each query run twice.  Default (warm) mode: the second run
    # counts (reference/oscar-cmd/Benchmark.cpp:158).  --cold: caches
    # are purged before the pair, so the FIRST run is a true cold
    # number — what a 100 TB cluster's first touch of a term actually
    # pays — and both columns are reported.
    def _purge_caches() -> None:
        nonlocal eng
        spark.catalog.clearCache()
        # fresh engine: driver-side term-dict preload and cached plans
        # count as cold-path work, like the reference re-reading its
        # mmap'd trie after the page-cache purge
        eng = SearchEngine(spark, args.index)

    # per-stage split of the WARM run (parse / expand / term-lookup /
    # metadata-prune / seed-score / rest-score+topk) — the analog of
    # the reference's cqr-calc / subSet / toGlobalIds / flaten columns
    # with min/max/mean/median per stage
    # (reference/oscar-cmd/Benchmark.cpp:227-304)
    from oscar_spark.serve.executor import SERVE_STAGES
    rows = []
    for line in open(args.queries):
        q = line.rstrip("\n")
        if not q:
            continue
        if args.cold:
            _purge_caches()
        t0 = time.time()
        r = eng.search(q, k=args.k)
        cold = time.time() - t0
        t0 = time.time()
        r = eng.search(q, k=args.k)
        warm = time.time() - t0
        stages = eng.last_stage_times or {}
        rows.append((q, cold, warm, len(r),
                     *(stages.get(s, 0.0) for s in SERVE_STAGES)))
    times = sorted(x[2] for x in rows)
    colds = sorted(x[1] for x in rows)
    if args.out:
        import csv
        with open(args.out, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(["query", "cold_sec", "warm_sec", "rows",
                        *SERVE_STAGES])
            w.writerows(rows)

    def _summary(vals: list[float]) -> dict:
        vals = sorted(vals)
        return {"min": round(vals[0], 4), "max": round(vals[-1], 4),
                "mean": round(sum(vals) / len(vals), 4),
                "median": round(vals[len(vals) // 2], 4)}

    print(json.dumps({
        "queries": len(rows),
        "mode": "cold" if args.cold else "warm",
        "cold_min": round(colds[0], 4), "cold_max": round(colds[-1], 4),
        "cold_median": round(colds[len(colds) // 2], 4),
        "warm_min": round(times[0], 4), "warm_max": round(times[-1], 4),
        "warm_mean": round(sum(times) / len(times), 4),
        "warm_median": round(times[len(times) // 2], 4),
        "stages": {s: _summary([r[4 + i] for r in rows])
                   for i, s in enumerate(SERVE_STAGES)}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
