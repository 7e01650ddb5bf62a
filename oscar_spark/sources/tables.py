"""Index store: partitioned tables + snapshot manifest + lineage.

Role-parity with oscar's ItemIndexStore/KV-store writers
(reference/oscar-create/oscarcreate.cpp:146-164 index flush;
reference/oscar-create/OsmKeyValueObjectStore.cpp:1545-1568 store
serialize; store→store re-import resume path
reference/oscar-create/oscarcreate.cpp:86-116).

Target layout is Iceberg (`writeTo(...).createOrReplace()` partitioned by
`bucket(term)`); this sandbox has no Iceberg runtime jar, so the store
writes partitioned parquet plus an explicit `_manifest.json` that mimics
the snapshot/commit semantics we rely on:

    <index_dir>/
      doc_stats/, terms/bucket=*/, terms_rev/, terms_ngram/,
      postings/bucket=*/  (parquet, under seg=*/; columns: the *_SCHEMA
                          constants below; each posting block carries its
                          own payload bytes)
      tokens/             the build's resume checkpoint, present only
                          while a build or append runs: dropped once
                          postings (its last reader) commit
      lineage/            partition_id, input_fingerprint, rows_in,
                          terms_out, docs_per_sec, snapshot_id, ts
      _manifest.json      stage snapshots {fingerprint, snapshot_id, ts},
                          segment lists, and store meta (n_docs, avgdl,
                          codec, payload_format, positions, fields,
                          input_files)

A stage directory is only readable through the store if the manifest has
committed it (write-then-commit, so a killed build never exposes a
partial stage — the resumability contract of BASELINE.json).
"""

from __future__ import annotations

import json
import os
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

STAGES = ("doc_stats", "postings", "terms")

# Every committed table's columns (DDL: data columns in write order,
# then the `bucket` partition column where the table has one).  Reads
# hand them to Spark, which otherwise runs a one-task job per read to
# infer the schema from parquet footers.
TOKENS_SCHEMA = "url string, term string, tf int, dl int"
# positional build: per-(doc, term) occurrence positions in the
# FILTERED token stream (short tokens dropped before numbering — the
# same rule tokens_pos/the oracle use, so adjacency agrees everywhere)
TOKENS_POS_SCHEMA = TOKENS_SCHEMA + ", pos array<int>"
DOC_STATS_SCHEMA = "doc_id long, url string, doc_len int, quality double"
TERMS_SCHEMA = "term string, df long, n_blocks long, bucket int"
TERMS_REV_SCHEMA = "rev string, term string, df long"
TERMS_NGRAM_SCHEMA = "gram string, term string"
POSTINGS_SCHEMA = (
    "term string, block_id int, range_id long, first_doc long, "
    "last_doc long, doc_count int, max_tf int, min_dl int, "
    "max_score double, payload binary")


def table_schema(table: str, meta: dict) -> str | None:
    """The committed table's DDL under the store's recorded modes; None
    for a table this module does not know."""
    positions = bool(meta.get("positions", False))
    if table == "tokens":
        return TOKENS_POS_SCHEMA if positions else TOKENS_SCHEMA
    if table == "postings":
        return (POSTINGS_SCHEMA + (", pos_payload binary" if positions
                                   else "") + ", bucket int")
    return {"doc_stats": DOC_STATS_SCHEMA, "terms": TERMS_SCHEMA,
            "terms_rev": TERMS_REV_SCHEMA,
            "terms_ngram": TERMS_NGRAM_SCHEMA}.get(table)

# serializes manifest read-modify-write across in-process threads (the
# build submits independent table writes concurrently); cross-process
# writers are excluded by the single-writer build contract
_MANIFEST_LOCK = threading.Lock()


class IndexStore:
    def __init__(self, index_dir: str):
        self.dir = index_dir
        os.makedirs(index_dir, exist_ok=True)
        self.manifest_path = os.path.join(index_dir, "_manifest.json")

    # --- manifest / snapshots ---
    def manifest(self) -> dict:
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                return json.load(f)
        return {"snapshots": {}, "next_snapshot_id": 1}

    def committed(self, stage: str, fingerprint: str) -> bool:
        snap = self.manifest()["snapshots"].get(stage)
        return bool(snap) and snap["fingerprint"] == fingerprint

    def _mutate(self, fn):
        """Locked read-modify-write of the manifest, atomically
        replaced on disk."""
        with _MANIFEST_LOCK:
            m = self.manifest()
            out = fn(m)
            tmp = self.manifest_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(m, f, indent=1)
            os.replace(tmp, self.manifest_path)  # atomic commit
            return out

    def commit(self, stage: str, fingerprint: str) -> int:
        def fn(m):
            sid = m["next_snapshot_id"]
            m["snapshots"][stage] = {
                "fingerprint": fingerprint,
                "snapshot_id": sid,
                "ts": time.time(),
            }
            m["next_snapshot_id"] = sid + 1
            return sid
        return self._mutate(fn)

    def snapshot_id(self, stage: str,
                    manifest: dict | None = None) -> int | None:
        m = self.manifest() if manifest is None else manifest
        snap = m["snapshots"].get(stage)
        return snap["snapshot_id"] if snap else None

    # --- store-level metadata (e.g. posting codec) ---
    def set_meta(self, key: str, value) -> None:
        self._mutate(lambda m: m.setdefault("meta", {})
                     .__setitem__(key, value))

    def get_meta(self, key: str, default=None):
        return self.manifest().get("meta", {}).get(key, default)

    def clear_meta(self) -> None:
        self._mutate(lambda m: m.pop("meta", None))

    # --- table IO ---
    # Every table is written under an outer `seg=<name>` partition level
    # (the base build is seg=base; each incremental append adds one) and
    # reads filter to the MANIFEST-LISTED segments — the sandbox analog
    # of Iceberg snapshot isolation: a crashed append's half-written
    # segment directory is simply never listed, so it is invisible, and
    # "commit" is one atomic manifest replace.  Spark prunes the seg
    # partition, so the filter costs file-listing only.  A reader that
    # must see ONE snapshot across several reads (an engine open) reads
    # the manifest once and passes it to each call.

    def path(self, table: str) -> str:
        return os.path.join(self.dir, table)

    def segments(self, table: str,
                 manifest: dict | None = None) -> list[str]:
        m = self.manifest() if manifest is None else manifest
        return m.get("segments", {}).get(table, ["base"])

    def drop(self, table: str) -> None:
        """Retire a table: ONE manifest commit removes its snapshot and
        lists it with no segments (an unlisted table would default to
        ["base"]), then its files are deleted.  A kill between the two
        leaves only unlisted bytes, which the next full write() of the
        table clears."""
        import shutil

        def fn(m):
            m["snapshots"].pop(table, None)
            m.setdefault("segments", {})[table] = []
        self._mutate(fn)
        shutil.rmtree(self.path(table), ignore_errors=True)

    def _set_segments(self, table: str, segs: list[str]) -> None:
        self._mutate(lambda m: m.setdefault("segments", {})
                     .__setitem__(table, segs))

    def write(self, df: DataFrame, table: str,
              partition_by: list[str] | None = None) -> None:
        """Full (re)write of a table as its `base` segment.

        The seg value comes from the DIRECTORY NAME (seg=base/), not a
        data column: partitionBy("seg") on a constant column routed the
        biggest write of the build through Spark's dynamic-partition
        sort path and measurably halved tokenize-stage scaling."""
        import shutil
        shutil.rmtree(self.path(table), ignore_errors=True)
        self.write_segment(df, table, "base", partition_by)
        self._set_segments(table, ["base"])

    def write_segment(self, df: DataFrame, table: str, segment: str,
                      partition_by: list[str] | None = None) -> None:
        """Write one NEW segment of a table; invisible to read() until
        a commit (commit_append) lists it in the manifest.  Files go directly
        into the table's seg=<name> directory (same layout partitionBy
        would produce for that one seg value)."""
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(os.path.join(self.path(table), f"seg={segment}"))

    def commit_append(self, add: dict[str, list[str]] | None = None,
                      replace: dict[str, list[str]] | None = None,
                      meta: dict | None = None,
                      stage_fingerprints: dict[str, str] | None = None) -> None:
        """ONE atomic manifest replace covering an entire incremental
        append: segment additions, segment swaps (e.g. the merged terms
        table replacing its predecessor), metadata updates, and stage
        fingerprint bumps.  All segment DIRECTORIES must already be
        fully written; a crash before this call leaves the old snapshot
        intact, a crash after it the new one — never a mix."""
        def fn(m):
            for t, segs in (add or {}).items():
                cur = m.setdefault("segments", {}).setdefault(t, ["base"])
                for s in segs:
                    if s not in cur:
                        cur.append(s)
            for t, segs in (replace or {}).items():
                m.setdefault("segments", {})[t] = segs
            for k, v in (meta or {}).items():
                m.setdefault("meta", {})[k] = v
            sid = m["next_snapshot_id"]
            for stage, fpv in (stage_fingerprints or {}).items():
                m["snapshots"][stage] = {"fingerprint": fpv,
                                         "snapshot_id": sid,
                                         "ts": time.time()}
                sid += 1
            m["next_snapshot_id"] = sid
        self._mutate(fn)

    def _reader(self, spark: SparkSession, table: str,
                schema: str | None, m: dict) -> DataFrame:
        """The table with its `seg` column, read with the given schema
        (DDL) or else the table's known one (table_schema); only an
        unknown table pays Spark's schema-inference job."""
        schema = schema or table_schema(table, m.get("meta", {}))
        r = spark.read.option("basePath", self.path(table))
        if schema is not None:
            r = r.schema(f"{schema}, seg string")
        return r.parquet(self.path(table))

    def read(self, spark: SparkSession, table: str,
             schema: str | None = None,
             manifest: dict | None = None) -> DataFrame:
        m = self.manifest() if manifest is None else manifest
        return self._reader(spark, table, schema, m) \
            .filter(F.col("seg").isin(self.segments(table, m))).drop("seg")

    def read_segment(self, spark: SparkSession, table: str,
                     segment: str, schema: str | None = None) -> DataFrame:
        return self._reader(spark, table, schema, self.manifest()) \
            .filter(F.col("seg") == segment).drop("seg")
