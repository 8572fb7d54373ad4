"""Per-sink aggregate counts (north_rule).

The reference has no aggregation (SURVEY.md §2.4); the target requires
per-sink routed-row counts that equal the scalar oracle's exactly. Counts
use Spark's built-in hash aggregate (partial map-side + final — already a
two-phase combine). A hot key (the Zipf host fixture, ~60% of rows on 2
hosts) needs no salt: the map-side partial aggregate collapses it to one
row per task before the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def sink_counts(routed: DataFrame) -> DataFrame:
    """groupBy(sink, event_type) → n. Map-side partial agg makes the
    shuffle carry ~|sinks|×|types| rows per task regardless of input size —
    this is the plan that survives 100 TB."""
    return (
        routed.groupBy("sink_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def global_rank_two_pass(
    df: DataFrame, order_cols: list[str], n_parts: int = 32
) -> tuple[DataFrame, int]:
    """Scale-safe GLOBAL ranking without a single-task window.

    An unpartitioned `row_number()/percent_rank()` window funnels the whole
    table through ONE task — fine for small aggregates, fatal for a
    billion-row ranked table. The classic two-pass plan instead:

      pass 1: range-repartition on the order columns (so partition i holds
              strictly smaller values than partition i+1), count rows per
              partition — n_parts numbers collected to the driver (bounded,
              the only collect);
      pass 2: global rank = partition offset + per-partition row_number
              (the window now partitions by spark_partition_id, so every
              task ranks only its own slice).

    Requires the ordering to be total (callers append a unique tiebreak
    column), which also makes rank == dense rank == row_number. Returns
    (df + `rank` 1-based long, total row count). The frame is persisted via
    persist_evicting (pass 1 and pass 2 share the range shuffle)."""
    from .dedup import persist_evicting

    parts = persist_evicting(
        df.repartitionByRange(n_parts, *[F.asc(c) for c in order_cols]).withColumn(
            "__pid", F.spark_partition_id()
        )
    )
    counts = {
        r["__pid"]: r["cnt"]
        for r in parts.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    spark = df.sparkSession
    odf = spark.createDataFrame(offsets or [(0, 0)], "__pid int, __off long")
    w = W.partitionBy("__pid").orderBy(*[F.asc(c) for c in order_cols])
    ranked = (
        parts.join(F.broadcast(odf), "__pid")
        .withColumn("rank", (F.col("__off") + F.row_number().over(w)).cast("long"))
        .drop("__pid", "__off")
    )
    return ranked, acc


def route_metrics(routed: DataFrame) -> DataFrame:
    """Parse/route/error observability counts (north_rule metrics)."""
    return routed.groupBy("route_reason").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("url").alias("n_urls"),
    )
