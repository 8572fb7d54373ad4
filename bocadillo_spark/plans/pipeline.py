"""Batch pipeline assembly: pages → parse → route → aggregate.

One Catalyst plan end-to-end (the §3.3 EnhancedReader loop re-expressed
declaratively): the host projection first, the native regex parse in the
middle, broadcast join against the range-built dim + hash aggregate after.
See the reference's reader/enhanced_reader.go:80-127 for the scalar
original.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.aggregate import sink_counts, sink_counts_salted
from ..operators.parse import parse_events, with_host
from ..operators.route import build_routing_dim, route
from ..synth import synth_pages


def routed_events(spark: SparkSession, pages: DataFrame) -> DataFrame:
    dim = build_routing_dim(spark)
    return route(parse_events(with_host(pages)), dim)


def routed_events_observed(
    spark: SparkSession, pages: DataFrame
) -> tuple[DataFrame, Observation]:
    """Routed events + an Observation carrying parse/route/error counters
    (the north_rule metrics) — collected for free on whatever action the
    caller runs, no extra pass over the data."""
    obs = Observation("route_metrics")

    def flag(reason):
        return F.sum(F.when(F.col("route_reason") == reason, 1).otherwise(0))

    routed = routed_events(spark, pages).observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        flag("ok").alias("n_ok"),
        flag("parse_error").alias("n_parse_error"),
        flag("unmatched_dim").alias("n_unmatched"),
    )
    return routed, obs


def pipeline_counts(spark: SparkSession, pages: DataFrame, salted: bool = False) -> DataFrame:
    routed = routed_events(spark, pages)
    return sink_counts_salted(routed) if salted else sink_counts(routed)


def pages_from_sf(spark: SparkSession, sf_dir: str, num_partitions: int | None = None) -> DataFrame:
    return synth_pages(spark, sf_dir, num_partitions)


def pages_from_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)
