"""Training-data export: pack the curated corpus into token-budgeted
JSONL shards — the last step before a training run consumes the data.

Shard assignment is doc_id % n_shards with n_shards = ceil(total_tokens /
budget): deterministic, SQL-derivable (so the written artifact can be
graded EXACTLY by reading it back against a DuckDB twin), and
`partitionBy("shard")` gives one directory per shard. At 100 TB the same
two passes hold: pass 1 is a map-side-combined global token sum (one
scalar), pass 2 writes with shard-hash partitioning — no global sort, no
driver bottleneck; a production packer would swap doc_id % n for
round-robin-by-cumulative-tokens ONLY if tight shard-size variance
mattered more than determinism.

Sink lineage mirrors plans/sinks.py: the reference's sink is a logging
loop (cmd/main.go:41-73); the fan-out + manifest pattern generalizes it.
"""

from __future__ import annotations

import glob
import hashlib
import math
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.textops import _words_col

TOKENS_PER_SHARD_DEFAULT = 20_000


def _tokens_col():
    # the ONE canonical tokenizer — shard budgets must count tokens the
    # same way every other operator (and the export oracle) does
    return F.size(_words_col())


def write_training_shards(
    docs: DataFrame, out_dir: str, tokens_per_shard: int = TOKENS_PER_SHARD_DEFAULT
) -> int:
    """Write (doc_id, lang, text, n_tokens, shard) as JSONL partitioned by
    shard; returns n_shards. Pass 1 computes the global token total (one
    map-side-combined aggregate); pass 2 writes."""
    with_t = docs.select(
        "doc_id", "lang", "text", _tokens_col().cast("long").alias("n_tokens")
    )
    total = with_t.agg(F.sum("n_tokens").alias("t")).first()["t"] or 0
    n_shards = max(1, math.ceil(total / tokens_per_shard))
    (
        with_t.withColumn("shard", (F.col("doc_id") % n_shards).cast("long"))
        .repartition("shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .json(out_dir)
    )
    return n_shards


def read_shard_stats(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-shard stats FROM THE WRITTEN ARTIFACT (not the plan that made
    it) — what the export grading and a pre-training sanity check read."""
    if not glob.glob(os.path.join(glob.escape(out_dir), "shard=*")):
        # a zero-row export writes no shard=* directory
        return spark.createDataFrame([], "shard long, n_docs long, shard_tokens long")
    df = spark.read.schema(
        "doc_id bigint, lang string, text string, n_tokens bigint"
    ).option("basePath", out_dir).json(f"{out_dir}/shard=*")
    return df.groupBy(F.col("shard").cast("long").alias("shard")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("shard_tokens"),
    )


def export_shards_workspace(sf_dir: str) -> str:
    # Key the shared workspace on the FULL resolved path, not just the
    # basename — two sf dirs named "sf0.01" under different roots (or a
    # concurrent session pointed elsewhere) must not collide on one output
    # dir, or read_shard_stats would grade another run's artifact.
    resolved = os.path.realpath(sf_dir.rstrip("/"))
    base = os.path.basename(resolved) or "sf"
    fp = hashlib.md5(resolved.encode("utf-8")).hexdigest()[:10]
    return os.path.join(tempfile.gettempdir(), f"bocadillo_export_{base}_{fp}")
