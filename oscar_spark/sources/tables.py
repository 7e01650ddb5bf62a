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
      tokens/             the ingest's resume checkpoint, present only
                          while a build or append runs: dropped once
                          postings (its last reader) commit
      lineage/            partition_id, input_fingerprint, rows_in,
                          terms_out, docs_per_sec, snapshot_id, ts
      _manifest.json      stage snapshots {fingerprint, snapshot_id, ts},
                          segment lists, store meta (n_docs, avgdl,
                          codec, payload_format, positions, fields,
                          input_files) and the pending segment

Every write is one segment (`seg=base` for a build, `a<crc>` an
append, `e<epoch>` a streaming epoch, `c<crc>` a compaction).  Each
stage of a pending segment records a stage commit in the manifest's
`pending` entry, which no reader looks at; one publish (commit_append)
lists the segment and moves its fingerprints into `snapshots`, in one
atomic manifest replace, then removes the directories it unlisted — a
killed append or epoch is never seen half done (the resumability
contract of BASELINE.json).  A rebuild that rewrites the listed
`seg=base` in place first publishes a snapshot without the tables it
rewrites and without the store meta, so until it is resumed the store
refuses to open instead of pairing new tables with old ones.
"""

from __future__ import annotations

import json
import os
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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

    def commit_stage(self, segment: str, stage: str, fingerprint: str,
                     meta: dict) -> None:
        """Record that `stage` of the pending `segment` is written under
        `fingerprint`, with the meta it was written under (modes, corpus
        counts); a stage commit of another segment starts a new pending
        entry, and the abandoned one's directories are removed."""
        def fn(m):
            p = m.get("pending")
            gone = [("*", p["segment"])] if p and p["segment"] != segment \
                else []
            if gone or not p:
                p = m["pending"] = {"segment": segment, "stages": {},
                                    "meta": {}}
            p["stages"][stage] = fingerprint
            p["meta"].update(meta)
            return gone
        self._remove(self._mutate(fn))

    def snapshot_id(self, stage: str,
                    manifest: dict | None = None) -> int | None:
        m = self.manifest() if manifest is None else manifest
        snap = m["snapshots"].get(stage)
        return snap["snapshot_id"] if snap else None

    # --- store-level metadata (e.g. posting codec) ---
    def get_meta(self, key: str, default=None):
        return self.manifest().get("meta", {}).get(key, default)

    # --- table IO ---
    # Every table is written under an outer `seg=<name>` partition level
    # and reads filter to the MANIFEST-LISTED segments — the sandbox
    # analog of Iceberg snapshot isolation: a pending or crashed
    # ingest's segment directory is simply never listed, so it is
    # invisible, and "publish" is one atomic manifest replace.  Spark
    # prunes the seg partition, so the filter costs file-listing only.
    # A reader that must see ONE snapshot across several reads (an
    # engine open) reads the manifest once and passes it to each call.

    def path(self, table: str) -> str:
        return os.path.join(self.dir, table)

    def segments(self, table: str,
                 manifest: dict | None = None) -> list[str]:
        m = self.manifest() if manifest is None else manifest
        return m.get("segments", {}).get(table, [])

    def drop(self, table: str) -> None:
        """Retire a table: ONE manifest commit removes its snapshot, its
        pending stage commit and its segment list, then its files are
        deleted.  A kill between the two leaves only unlisted bytes,
        which the next drop clears."""
        import shutil

        def fn(m):
            m["snapshots"].pop(table, None)
            m.get("pending", {}).get("stages", {}).pop(table, None)
            m.get("segments", {}).pop(table, None)
        self._mutate(fn)
        shutil.rmtree(self.path(table), ignore_errors=True)

    def write_segment(self, df: DataFrame, table: str, segment: str,
                      partition_by: list[str] | None = None) -> None:
        """Write one segment of a table; invisible to read() until a
        publish (commit_append) lists it in the manifest.  Files go
        directly into the table's seg=<name> directory, the layout
        partitionBy would produce for that one seg value.  The seg value
        comes from the DIRECTORY NAME, not a data column: partitionBy
        ("seg") on a constant column routed the biggest write of the
        build through Spark's dynamic-partition sort path and measurably
        halved tokenize-stage scaling."""
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(os.path.join(self.path(table), f"seg={segment}"))

    def commit_append(self, add: dict[str, list[str]] | None = None,
                      replace: dict[str, list[str]] | None = None,
                      meta: dict | None = None,
                      stage_fingerprints: dict[str, str | None] | None = None
                      ) -> None:
        """The publish: ONE atomic manifest replace covering a whole
        segment — segment additions, segment swaps (a build's segment,
        or the merged terms table, replacing its predecessors), the
        store's new metadata and stage fingerprint bumps (None drops the
        stage's snapshot); the pending entry is cleared.  All segment
        DIRECTORIES must already be fully written; a crash before this
        call leaves the old snapshot intact, a crash after it the new
        one — never a mix.  Then the directories of the segments it
        unlisted, and of a pending segment it did not list, are
        removed; a kill before that leaves only unlisted bytes."""
        def fn(m):
            p = m.pop("pending", None)
            gone = [("*", p["segment"])] if p else []
            listed = m.setdefault("segments", {})
            for t, segs in (add or {}).items():
                cur = listed.setdefault(t, [])
                cur += [s for s in segs if s not in cur]
            for t, segs in (replace or {}).items():
                gone += [(t, s) for s in listed.get(t, []) if s not in segs]
                listed[t] = segs
            if meta is not None:
                m["meta"] = meta
            sid = m["next_snapshot_id"]
            for stage, fpv in (stage_fingerprints or {}).items():
                m["snapshots"].pop(stage, None)
                if fpv is not None:
                    m["snapshots"][stage] = {"fingerprint": fpv,
                                             "snapshot_id": sid,
                                             "ts": time.time()}
                    sid += 1
            m["next_snapshot_id"] = sid
            return gone
        self._remove(self._mutate(fn))

    def _remove(self, gone: list[tuple[str, str]]) -> None:
        """Delete the given segment directories that the manifest does
        not list (table "*": every table's)."""
        import glob
        import shutil
        m = self.manifest() if gone else {}
        for t, seg in gone:
            for d in glob.glob(os.path.join(self.dir, t, f"seg={seg}")):
                if seg not in self.segments(os.path.basename(
                        os.path.dirname(d)), m):
                    shutil.rmtree(d, ignore_errors=True)

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
