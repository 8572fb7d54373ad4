"""Structured-Streaming assembly: resumable parse→route→fan-out.

State model mapped from the reference (SURVEY.md §2.7):
- T1 position (file, offset)   → checkpoint offset log (file-source offsets)
- T2 safepoint                 → committed micro-batch: foreachBatch writes
  each batch to its own overwrite-mode subtree + atomic manifest, so replay
  after a kill is idempotent (exactly-once effect)
- T3 rotate                    → new files discovered by the file source
- T5 state eviction            → the broadcast dim is reloaded per batch
  inside foreachBatch (no unbounded executor state)
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.parse import parse_events, with_host
from ..operators.route import build_routing_dim, route
from ..plans.sinks import write_fanout
from ..sources.pages import stream_pages


def start_pipeline_stream(
    spark: SparkSession,
    pages_path: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 2,
    processing_time: str | None = None,
) -> StreamingQuery:
    """processing_time=None → availableNow (bounded snapshot run, the test
    default); processing_time='1 second' → long-lived micro-batch trigger
    (T6 liveness: keeps polling for new files, empty batches are normal,
    late-arriving files are processed without a restart)."""
    pages = stream_pages(spark, pages_path, max_files_per_trigger)

    def process_batch(batch_df, batch_id: int) -> None:
        # dim reload per batch = the reference's schema-refresh analog
        # (reader/schema/manager.go:34-42); the reload is a JVM-only range
        # scan and starts no Python worker
        dim = build_routing_dim(batch_df.sparkSession)
        routed = route(parse_events(with_host(batch_df)), dim)
        write_fanout(routed, out_dir, batch_id=batch_id)

    writer = pages.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_stream_to_completion(
    spark: SparkSession,
    pages_path: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 2,
) -> None:
    q = start_pipeline_stream(
        spark, pages_path, out_dir, checkpoint_dir, max_files_per_trigger
    )
    q.awaitTermination()


def run_dedup_stream(
    spark: SparkSession,
    pages_path: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 3,
    watermark_delay: str = "3650 days",
) -> None:
    """Ingest-time streaming dedup with BOUNDED state: recrawl duplicates
    of a url arriving across micro-batches are dropped by
    dropDuplicatesWithinWatermark — the key's dedup state is evicted once
    the watermark passes it by `watermark_delay`, so state size is
    O(urls per horizon window), not O(all urls ever seen). This is the
    streaming-state eviction story (SURVEY.md §2.7 T5/T7) on the dedup
    operator itself, complementing the per-batch dim reload.

    CAUTION — the delay must cover the full EVENT-TIME DISORDER of
    arrival, not just the recrawl gap: a file source delivers files in
    discovery order, so batch 1 may carry near-max warc_ts and advance
    the watermark past older rows still waiting in later files — those
    would then be dropped as late data entirely (rows lost, not just
    duplicates). For a backfill over an unordered historical corpus that
    means the whole corpus's warc_ts span (hence the deliberately huge
    default); only a LIVE ingest whose arrival order tracks event time
    can shrink it to the recrawl horizon and reap the state bound —
    exactly the trade a production crawler tunes."""
    schema = spark.read.parquet(pages_path).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(pages_path)
    )
    deduped = (
        src.withWatermark("warc_ts", watermark_delay)
        .dropDuplicatesWithinWatermark(["url"])
        .select("url", "lang", "warc_ts")
    )
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
