"""Store consistency checks — the oscar-cmd ConsistencyCheckers analog
(reference/oscar-cmd/ConsistencyCheckers.cpp: store/index cross checks
run as a CLI action, not only inside the test suite).

Every check is a declarative Spark aggregation over the committed
tables (scale shape: one pass per table, one slim join for the
terms↔postings cross check); payload decode verification samples a
bounded number of blocks through the store's own codec dispatch.

Usage: check_index(spark, dir) → {"ok": bool, "checks": {...}} or via
`python -m oscar_spark.cli check --index <dir>`.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from oscar_spark.config import NUM_TERM_BUCKETS, RANGE_SIZE
from oscar_spark.functions.codec import decode_position_block, store_decoder
from oscar_spark.sources.tables import IndexStore

DECODE_SAMPLE = 2000  # payload-decode spot check, bounded at any scale


def check_index(spark: SparkSession, index_dir: str,
                decode_sample: int = DECODE_SAMPLE) -> dict:
    store = IndexStore(index_dir)
    out: dict[str, dict] = {}

    def record(name: str, ok: bool, detail) -> None:
        out[name] = {"ok": bool(ok), "detail": detail}

    man = store.manifest()
    meta = man.get("meta", {})
    # a store its own engine cannot read is rejected, not reported on
    decode = store_decoder(meta)
    committed = set(man.get("snapshots", {}))
    record("stages_committed",
           {"doc_stats", "postings", "terms"} <= committed,
           sorted(committed))
    # a listed segment whose directory is gone: an engine opened before
    # the deletion fails its queries (FILE_NOT_EXIST), and the fresh
    # scans below would just see fewer rows
    missing = [f"{t}/seg={s}"
               for t, segs in sorted(man.get("segments", {}).items())
               for s in segs
               if not os.path.isdir(os.path.join(store.path(t), f"seg={s}"))]
    record("segments_present", not missing, {"missing": missing})

    ds = store.read(spark, "doc_stats", manifest=man)
    n_docs_meta = meta.get("n_docs")
    avgdl_meta = meta.get("avgdl")
    row = ds.agg(
        F.count("*").alias("n"),
        F.count_distinct("url").alias("nu"),
        F.count_distinct("doc_id").alias("nd"),
        F.min("doc_id").alias("lo"),
        F.max("doc_id").alias("hi"),
        F.avg("doc_len").alias("avgdl")).collect()[0]
    record("doc_stats_keys_unique",
           row["n"] == row["nu"] == row["nd"],
           {"rows": row["n"], "urls": row["nu"], "ids": row["nd"]})
    record("doc_ids_contiguous",
           row["lo"] == 0 and row["hi"] == row["n"] - 1,
           {"min": row["lo"], "max": row["hi"], "n": row["n"]})
    record("meta_counts_match",
           (n_docs_meta is None or int(n_docs_meta) == row["n"]) and
           (avgdl_meta is None or row["avgdl"] is None or
            abs(float(avgdl_meta) - float(row["avgdl"])) < 1e-6),
           {"meta_n_docs": n_docs_meta, "n": row["n"],
            "meta_avgdl": avgdl_meta, "avgdl": row["avgdl"]})

    # terms ↔ postings cross check (FIXTURES.md invariant 2: the stored
    # df provably equals the posting contents)
    post = store.read(spark, "postings", manifest=man)
    agg = post.groupBy("bucket", "term").agg(
        F.sum("doc_count").cast("long").alias("p_df"),
        F.count("*").cast("long").alias("p_blocks"))
    terms = store.read(spark, "terms", manifest=man)
    joined = terms.join(agg, ["bucket", "term"], "full_outer")
    bad_df = joined.filter(
        F.col("df").isNull() | F.col("p_df").isNull() |
        (F.col("df") != F.col("p_df")) |
        (F.col("n_blocks") != F.col("p_blocks"))).count()
    record("terms_df_equals_postings", bad_df == 0,
           {"mismatched_terms": int(bad_df)})

    # bucket = pmod(hash(term)) — both tables, JVM-side
    for tbl, df in (("terms", terms), ("postings", post)):
        bad = df.filter(
            F.col("bucket") != F.pmod(F.hash("term"),
                                      F.lit(NUM_TERM_BUCKETS))).count()
        record(f"{tbl}_bucket_is_hash", bad == 0, {"bad_rows": int(bad)})

    # per-term block ranges strictly increasing in block_id order, and
    # block doc range inside its range_id window
    from pyspark.sql import Window
    w = Window.partitionBy("bucket", "term").orderBy("block_id")
    blk = post.select(
        "bucket", "term", "block_id", "range_id", "first_doc",
        "last_doc", "doc_count",
        F.lag("last_doc").over(w).alias("prev_last"),
        F.lag("block_id").over(w).alias("prev_bid"))
    bad_blocks = blk.filter(
        (F.col("first_doc") > F.col("last_doc")) |
        (F.col("doc_count") <= 0) |
        (F.col("first_doc") < F.col("range_id") * RANGE_SIZE) |
        (F.col("last_doc") >= (F.col("range_id") + 1) * RANGE_SIZE) |
        (F.col("prev_last").isNotNull() &
         (F.col("first_doc") <= F.col("prev_last"))) |
        (F.col("prev_bid").isNotNull() &
         (F.col("block_id") != F.col("prev_bid") + 1))).count()
    record("block_ranges_strictly_increasing", bad_blocks == 0,
           {"bad_blocks": int(bad_blocks)})

    # payload decode spot check through the store's own codec dispatch
    cols = ["range_id", "doc_count", "first_doc", "last_doc", "payload"]
    has_pos = bool(meta.get("positions", False))
    if has_pos:
        cols.append("pos_payload")
    sample = post.select(*cols).limit(decode_sample).collect()
    bad_payload = 0
    for r in sample:
        try:
            ids, tfs, dls = decode(bytes(r["payload"]),
                                   int(r["doc_count"]),
                                   int(r["range_id"]) * RANGE_SIZE)
            ok = (len(ids) == r["doc_count"]
                  and ids[0] == r["first_doc"]
                  and ids[-1] == r["last_doc"]
                  and bool((np.diff(ids) > 0).all())
                  and bool((tfs > 0).all()) and bool((dls > 0).all()))
            if ok and has_pos:
                flat, offs = decode_position_block(
                    bytes(r["pos_payload"]), tfs)
                ok = offs[-1] == int(tfs.sum())
            if not ok:
                bad_payload += 1
        except Exception:
            bad_payload += 1
    record("payload_decode_sample", bad_payload == 0,
           {"sampled": len(sample), "bad": bad_payload})

    return {"ok": all(c["ok"] for c in out.values()), "checks": out}
