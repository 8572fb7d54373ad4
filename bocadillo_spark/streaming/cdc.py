"""Streaming CDC → MERGE sink: the UPDATE_ROWS consumption loop.

The reference's consumer applies row-image events to downstream state one
event at a time (/root/reference/binlog/event_rows.go:92-133 +
reader/enhanced_reader.go:109-147). Here the same loop is micro-batched:
each batch parses the update events out of the raw pages, extracts their
before/after images, and MERGEs the after-images into a snapshot table
(plans/merge.py) keyed by doc_id.

Exactly-once: the streaming epoch id is used as the merge batch_id, and
merge_upsert is a committed-batch no-op on replay — a crash between the
merge commit and the checkpoint commit replays the epoch, which the merge
skips. Last-writer-wins inside a batch is deterministic on (seq, …), so
the surviving after-image per key is the max-seq one — the same answer
the analytic oracle computes. The sink has one commit protocol
(partition-scoped copy-on-write), and an epoch without CDC rows commits
no table version.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.parse import parse_events, with_attrs, with_host
from ..plans.merge import merge_upsert
from ..sources.pages import stream_pages


def extract_update_images(pages: DataFrame) -> DataFrame:
    """pages → (doc_id, seq, old_img, new_img) update rows, all native."""
    ev = with_attrs(parse_events(with_host(pages))).where(
        F.col("event_type") == "update"
    )
    return ev.select(
        F.col("attrs")["k1"].cast("long").alias("doc_id"),
        F.col("seq").cast("long").alias("seq"),
        F.col("attrs")["old"].cast("long").alias("old_img"),
        F.col("attrs")["new"].cast("long").alias("new_img"),
    )


def extract_cdc_rows(pages: DataFrame) -> DataFrame:
    """Full CRUD feed: update rows carry their after-image, delete rows a
    tombstone flag — the WRITE/UPDATE/DELETE_ROWS consumption set."""
    ev = with_attrs(parse_events(with_host(pages))).where(
        F.col("event_type").isin("update", "delete")
    )
    return ev.select(
        F.col("attrs")["k1"].cast("long").alias("doc_id"),
        F.col("seq").cast("long").alias("seq"),
        F.col("attrs")["new"].cast("long").alias("new_img"),
        F.col("attrs")["old"].cast("long").alias("old_img"),
        (F.col("event_type") == "delete").alias("deleted"),
    )


def start_cdc_stream(
    spark: SparkSession,
    pages_path: str,
    table_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 2,
    apply_deletes: bool = False,
) -> StreamingQuery:
    pages = stream_pages(spark, pages_path, max_files_per_trigger)

    def process_batch(batch_df, batch_id: int) -> None:
        # column order matters: _dedupe_updates breaks intra-batch key ties
        # by max struct(non-key cols), so seq leads → max-seq image wins
        # (a key's latest event decides: update upserts, delete tombstones)
        if apply_deletes:
            rows = extract_cdc_rows(batch_df).select(
                "doc_id", "seq", "deleted", "new_img", "old_img"
            )
            merge_upsert(
                batch_df.sparkSession, table_dir, rows, ["doc_id"],
                batch_id=int(batch_id), delete_col="deleted",
            )
        else:
            upd = extract_update_images(batch_df).select(
                "doc_id", "seq", "new_img", "old_img"
            )
            merge_upsert(
                batch_df.sparkSession, table_dir, upd, ["doc_id"],
                batch_id=int(batch_id),
            )

    return (
        pages.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_cdc_stream_to_completion(
    spark: SparkSession,
    pages_path: str,
    table_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 2,
    apply_deletes: bool = False,
) -> None:
    q = start_cdc_stream(
        spark, pages_path, table_dir, checkpoint_dir, max_files_per_trigger,
        apply_deletes=apply_deletes,
    )
    q.awaitTermination()
