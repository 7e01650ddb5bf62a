"""Structured Streaming index ingest (beyond-reference extension; §2.8
is 'none' in the reference — this exists to make incremental ingest
possible, not to mirror oscar).

Every micro-batch runs the same ingest pipeline as a batch build or
append (build/indexer.py), as one segment of the store."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def stream_index_ingest(spark: SparkSession, pages_dir: str,
                        index_dir: str, checkpoint_dir: str,
                        codec: str | None = None) -> None:
    """Continuously index a growing pages directory: each micro-batch of
    new files becomes one committed index segment.

    readStream(pages_dir) → foreachBatch: every batch, the first one
    included, runs indexer.ingest_segment as segment e<epoch> (doc ids
    appended after the committed space — none for the first — postings
    as a new segment, terms merged, ONE atomic manifest commit).  The
    streaming checkpoint tracks which files were consumed, so a crashed
    driver resumes without re-ingesting.

    foreachBatch is at-least-once: a crash BETWEEN the store's atomic
    publish and the streaming checkpoint advance replays the epoch.  On
    replay every url is already indexed, so re-running the ingest would
    overwrite the manifest-listed seg=e<epoch> directories with EMPTY
    data while n_docs/df still count them — so a replayed epoch whose
    segment is already committed is a true no-op here (the composition
    with the store's snapshot isolation: half-written uncommitted
    segments get rewritten, committed ones are skipped).
    trigger(availableNow) drains what exists and stops; drop it for a
    long-running daemon."""
    schema = spark.read.parquet(pages_dir).schema
    q = (spark.readStream.schema(schema).parquet(pages_dir)
         .writeStream.foreachBatch(
             make_batch_ingestor(spark, index_dir, codec))
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


def make_batch_ingestor(spark: SparkSession, index_dir: str,
                        codec: str | None = None):
    """The foreachBatch callback of stream_index_ingest (module-level so
    the replay-skip contract is directly testable): every epoch is
    ingest_segment(..., f"e{epoch}"), the first one on an empty store;
    a REPLAYED epoch whose segment is already committed is a no-op (see
    stream_index_ingest's at-least-once note)."""
    from oscar_spark.build.indexer import ingest_segment
    from oscar_spark.config import POSTINGS_CODEC
    from oscar_spark.sources.tables import IndexStore

    def _batch(batch_df: DataFrame, epoch_id: int) -> None:
        store = IndexStore(index_dir)
        seg = f"e{epoch_id}"
        if seg in store.segments("postings"):
            return  # replayed epoch, already committed (see docstring)
        ingest_segment(spark, batch_df, store, seg,
                       codec or POSTINGS_CODEC, fp=f"stream-{seg}")

    return _batch
