"""Fan-out sinks + per-file lineage manifests.

Routing fan-out (S6 analog, reference cmd/main.go:41-73) lands each
event in its sink's directory via ONE partitioned write — not one job per
sink — so the 100 TB case stays a single pass. One AQE rebalance on the
output directory (sink_id, event_type) feeds the write: files per batch
are bounded by data size (a small micro-batch writes one file per
directory), and a hot directory is split at runtime, not by a fixed salt.
Idempotency under replay (safepoint analog T2, reference
reader/enhanced_reader.go:129-136): each micro-batch writes to its own
batch_id=N subtree with overwrite, so a re-run of a batch after crash
replaces rather than duplicates.

Manifests are the lineage record the north_rule asks for: one row per
written file with (file, sink, first_url, last_url, n), plus per-sink
counts for reconciliation, written as JSON next to the data.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _spread(routed: DataFrame) -> DataFrame:
    # AQE coalesces the batch to one writer per small directory and splits
    # a directory that outgrows the advisory partition size (Zipf hosts)
    return routed.hint("rebalance", "sink_id", "event_type")


def _footer_lineage(data_dir: str) -> list[dict] | None:
    """Per-file (first_url, last_url, n) from parquet FOOTER statistics —
    metadata-only, no data scan (the same trick Iceberg manifests use:
    per-file column bounds come from footers). Returns None if any file
    lacks url min/max stats (caller falls back to the scan path)."""
    import pyarrow.parquet as pq

    out = []
    for root, _dirs, names in os.walk(data_dir):
        for name in sorted(names):
            if not name.endswith(".parquet"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, data_dir)
            parts = dict(
                p.split("=", 1) for p in rel.split(os.sep) if "=" in p
            )
            if "sink_id" not in parts or "event_type" not in parts:
                return None
            md = pq.ParquetFile(path).metadata
            url_idx = next(
                (
                    i
                    for i in range(md.num_columns)
                    if md.row_group(0).column(i).path_in_schema == "url"
                ),
                None,
            ) if md.num_row_groups else None
            if url_idx is None:
                return None
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(url_idx).statistics
                if st is None or not st.has_min_max:
                    return None
                mins.append(st.min)
                maxs.append(st.max)
            out.append(
                {
                    "file": rel,
                    "sink": f"{parts['sink_id']}/{parts['event_type']}",
                    "first_url": min(mins),
                    "last_url": max(maxs),
                    "n": int(md.num_rows),
                }
            )
    return out


def write_fanout(routed: DataFrame, out_dir: str, batch_id: int = 0) -> dict:
    """Write one (micro-)batch fan-out + manifest. Returns the manifest.

    The pipeline executes ONCE (the write); per-file lineage comes from
    parquet FOOTER statistics (metadata-only — no second pass over the
    batch's data), with a read-back scan as the fallback when stats are
    unavailable. Lineage is file-granular: files are the unit of
    recovery/commit, the honest analog of the reference's (file, offset)
    position (/root/reference/binlog/event_rotate.go:7-10)."""
    data_dir = os.path.join(out_dir, "data", f"batch_id={batch_id}")
    spark = routed.sparkSession
    (
        _spread(routed).write.mode("overwrite")
        .partitionBy("sink_id", "event_type")
        .parquet(data_dir)
    )

    files = _footer_lineage(data_dir)
    if files is None:  # fallback: one column-pruned read-back pass
        written = spark.read.parquet(data_dir).select(
            F.input_file_name().alias("file"), "url", "sink_id", "event_type"
        )
        per_file = (
            written.groupBy("file", "sink_id", "event_type")
            .agg(
                F.min("url").alias("first_url"),
                F.max("url").alias("last_url"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        files = [
            {
                "file": r["file"].rsplit("/batch_id=", 1)[-1].split("/", 1)[-1],
                "sink": f"{r['sink_id']}/{r['event_type']}",
                "first_url": r["first_url"],
                "last_url": r["last_url"],
                "n": r["n"],
            }
            for r in per_file
        ]
    counts: dict[str, int] = {}
    for f in files:
        counts[f["sink"]] = counts.get(f["sink"], 0) + f["n"]
    manifest = {
        "batch_id": batch_id,
        "files": sorted(files, key=lambda f: f["file"]),
        "sink_counts": counts,
        "total": int(sum(counts.values())),
    }
    mdir = os.path.join(out_dir, "_manifests")
    os.makedirs(mdir, exist_ok=True)
    tmp = os.path.join(mdir, f".batch_{batch_id}.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(mdir, f"batch_{batch_id}.json"))  # atomic commit
    return manifest


def read_sink_counts(spark, out_dir: str) -> DataFrame:
    """Reconciliation read-back over the batches whose manifest committed;
    data a crash left without a manifest is not counted."""
    data = os.path.join(out_dir, "data")
    paths = [
        os.path.join(data, f"batch_id={m['batch_id']}")
        for m in read_manifests(out_dir)
        if m["total"]
    ]
    if not paths:
        return spark.createDataFrame([], "sink_id string, event_type string, n long")
    df = spark.read.option("basePath", data).parquet(*paths)
    return df.groupBy("sink_id", "event_type").agg(F.count(F.lit(1)).alias("n"))


def read_manifests(out_dir: str) -> list[dict]:
    mdir = os.path.join(out_dir, "_manifests")
    if not os.path.isdir(mdir):
        return []
    out = []
    for name in sorted(os.listdir(mdir)):
        if name.startswith("batch_") and name.endswith(".json"):
            with open(os.path.join(mdir, name)) as f:
                out.append(json.load(f))
    return out
