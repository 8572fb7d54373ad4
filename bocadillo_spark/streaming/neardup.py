"""Streaming NEAR-duplicate dedup: MinHash-LSH over Structured Streaming
with bounded per-bucket keyed state.

The batch dedup layer (operators/dedup.py) answers "which docs in this
corpus are near-dups"; a continuous crawl needs the ingest-time question
"is this NEW doc a near-dup of anything seen so far" — the fuzzy
counterpart of `run_dedup_stream`'s exact dropDuplicatesWithinWatermark
(streaming/stream.py). Reference parity: the reference has no streaming
near-dup (its only long-lived state is the table registry,
/root/reference/reader/reader.go:16,128-133); this extends the
training-data layer along the same axis as the batch MinHash operator.

Shape (all stages map-side until the single band shuffle):

  doc stream ─ fused Arrow signature (the SAME minhash_sig_fast_pandas
  kernel and xxhash64 band keys as batch, so batch and stream agree on
  the LSH family) ─ explode to (band_key, doc_id, sig) ─ groupBy(band_key)
  applyInPandasWithState ─ append (doc_id, rep_id, est_jaccard) matches.

Per band bucket the state holds up to `max_reps` representative
signatures (rep_ids + a flat 64·k sig array — flat because nested
array<array<long>> state round-trips are the fragile path). A new doc is
compared against the bucket's reps on the MinHash ESTIMATE (fraction of
agreeing permutation minima — E[est] = true Jaccard, sd ≈
sqrt(J(1-J)/64) ≈ 0.05 at J=0.8; the default emit threshold 0.6 leaves
a 4-sigma margin below the 0.8 dedup bar, binomial tail
P(est < 0.6 | J = 0.8) ≈ 3e-5 — and with pinned permutation seeds each
pair's outcome is deterministic, not sampled): best rep ≥ threshold →
emit a match and do NOT promote the doc to rep (a duplicate must not
become the thing later docs dedup against); otherwise the doc joins the
rep set if the
bucket is under `max_reps` (the MAX_BUCKET analog — a degenerate hot
bucket, e.g. empty texts, caps its state at max_reps signatures and every
later member simply matches, so state stays bounded per key by
construction). Rows inside one micro-batch group are processed in doc_id
order, making single-stream runs deterministic; across batches the
semantics are first-arrival-wins, exactly like the exact streaming dedup.

Why the sig travels with every band row (16× duplication, ~8.5 KB/doc
shuffled): the verify step must see the full signature inside the
band-keyed state operator. The batch path instead joins candidates back
to texts — a second full-corpus shuffle a stream cannot do. At a recrawl
horizon the TTL (`ttl_ms`, ProcessingTimeTimeout eviction — same contract
as stateful.make_tracker) bounds total state to the horizon window, the
same story as dropDuplicatesWithinWatermark's watermark eviction.

Exactly-once: the emitted matches flow through the normal checkpointed
sink commit, so a crash between state update and sink commit replays the
micro-batch (test_streaming_neardup.py drives a two-phase restart on one
checkpoint).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..operators.dedup import (
    N_BANDS,
    N_PERM,
    minhash_band_keys,
    minhash_sig_fast_pandas,
)

# band_key rides along so "one row per (band, doc, rep)" is assertable —
# a replayed-but-recommitted micro-batch would surface as an exact
# duplicate row, distinguishable from the by-design multi-band emissions
MATCH_SCHEMA = StructType(
    [
        StructField("band_key", LongType()),
        StructField("doc_id", LongType()),
        StructField("rep_id", LongType()),
        StructField("est_jaccard", DoubleType()),
    ]
)

# rep_sigs is the row-major flat concatenation of k signatures (64·k longs)
STATE_SCHEMA = StructType(
    [
        StructField("rep_ids", ArrayType(LongType())),
        StructField("rep_sigs", ArrayType(LongType())),
    ]
)

DEFAULT_EST_THRESHOLD = 0.6
DEFAULT_MAX_REPS = 50  # the batch MAX_BUCKET analog


def greedy_bucket_matches(
    doc_ids: np.ndarray,
    sig_mat: np.ndarray,
    rep_ids: np.ndarray,
    rep_mat: np.ndarray,
    threshold: float,
    max_reps: int,
) -> tuple[list[tuple[int, int, float]], np.ndarray, np.ndarray]:
    """Sequential-greedy bucket pass — the SINGLE implementation both the
    streaming operator and the batch twin run, so their equivalence is
    structural, not coincidental. Buckets are small by construction
    (|reps| ≤ max_reps), so the per-member python loop is O(members·reps)
    over tiny arrays; the signature equality test is a vectorized numpy
    compare per member."""
    out: list[tuple[int, int, float]] = []
    for i in range(len(doc_ids)):
        s = sig_mat[i]
        if len(rep_ids):
            est = (rep_mat == s).mean(axis=1)
            j = int(est.argmax())
            if est[j] >= threshold:
                out.append((int(doc_ids[i]), int(rep_ids[j]), float(est[j])))
                continue
        if len(rep_ids) < max_reps:
            rep_ids = np.append(rep_ids, np.int64(doc_ids[i]))
            rep_mat = (
                np.concatenate([rep_mat, s[None, :]])
                if rep_mat.size
                else s[None, :].copy()
            )
    return out, rep_ids, rep_mat


def make_neardup_op(
    threshold: float = DEFAULT_EST_THRESHOLD,
    max_reps: int = DEFAULT_MAX_REPS,
    ttl_ms: int | None = None,
):
    """Per-band-bucket stateful matcher. ttl_ms None → NoTimeout (required
    for bounded availableNow runs — a pending processing-time timeout
    keeps the query alive servicing empty epochs); a live deployment sets
    the recrawl horizon here for state eviction."""

    def match_bucket(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (band_key,) = key
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            st_rep_ids, st_rep_sigs = state.get
            rep_ids = np.asarray(st_rep_ids, dtype=np.int64)
            rep_mat = np.asarray(st_rep_sigs, dtype=np.int64).reshape(-1, N_PERM)
        else:
            rep_ids = np.empty(0, dtype=np.int64)
            rep_mat = np.empty((0, N_PERM), dtype=np.int64)
        matches: list[tuple[int, int, float]] = []
        for pdf in pdfs:
            if not len(pdf):
                continue
            order = np.argsort(pdf["doc_id"].to_numpy(), kind="stable")
            doc_ids = pdf["doc_id"].to_numpy()[order]
            sig_mat = np.stack(pdf["sig"].to_numpy()[order]).astype(np.int64)
            out, rep_ids, rep_mat = greedy_bucket_matches(
                doc_ids, sig_mat, rep_ids, rep_mat, threshold, max_reps
            )
            matches.extend(out)
        state.update(
            ([int(x) for x in rep_ids], [int(x) for x in rep_mat.ravel()])
        )
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if matches:
            out = pd.DataFrame(matches, columns=["doc_id", "rep_id", "est_jaccard"])
            out.insert(0, "band_key", np.int64(band_key))
            yield out

    return match_bucket


def sig_band_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, sig, band_key) — one row per (doc, band), batch or stream.
    Identical hash family to the batch operator: the fused signature
    kernel plus dedup.minhash_band_keys, so a doc lands in the same
    buckets whichever path processes it."""
    sigs = docs.select(
        "doc_id",
        minhash_sig_fast_pandas()(F.coalesce(F.col("text"), F.lit(""))).alias("sig"),
    )
    return sigs.select(
        "doc_id", "sig", F.explode(minhash_band_keys(F.col("sig"))).alias("band_key")
    )


def neardup_match_stream(
    doc_stream: DataFrame,
    threshold: float = DEFAULT_EST_THRESHOLD,
    max_reps: int = DEFAULT_MAX_REPS,
    ttl_ms: int | None = None,
) -> DataFrame:
    """doc stream (doc_id, text) → append stream of per-band matches
    (doc_id, rep_id, est_jaccard). A doc sharing several bands with its
    rep emits up to N_BANDS match rows — consumers normalize with
    pair_verdicts() (or any distinct over LEAST/GREATEST)."""
    return (
        sig_band_rows(doc_stream)
        .groupBy("band_key")
        .applyInPandasWithState(
            make_neardup_op(threshold, max_reps, ttl_ms),
            outputStructType=MATCH_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if ttl_ms is not None
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


def run_neardup_stream(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 3,
    threshold: float = DEFAULT_EST_THRESHOLD,
    max_reps: int = DEFAULT_MAX_REPS,
) -> None:
    """File-source availableNow run (the bounded-ingest harness every
    streaming query here uses): input parquet (doc_id, text) → parquet
    sink of match rows, checkpointed."""
    schema = spark.read.parquet(input_path).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )
    q = (
        neardup_match_stream(
            src.select("doc_id", "text"), threshold=threshold, max_reps=max_reps
        )
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def batch_neardup_matches(
    docs: DataFrame,
    threshold: float = DEFAULT_EST_THRESHOLD,
    max_reps: int = DEFAULT_MAX_REPS,
) -> DataFrame:
    """Batch twin: the same greedy core over doc_id-ordered bucket members
    via applyInPandas — equals a single-batch doc_id-ordered streaming run
    row-for-row (pytest-asserted). Exists for that equivalence test and
    for backfills that want streaming-identical semantics."""

    def run_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["doc_id"].to_numpy(), kind="stable")
        doc_ids = pdf["doc_id"].to_numpy()[order]
        sig_mat = np.stack(pdf["sig"].to_numpy()[order]).astype(np.int64)
        out, _, _ = greedy_bucket_matches(
            doc_ids,
            sig_mat,
            np.empty(0, dtype=np.int64),
            np.empty((0, N_PERM), dtype=np.int64),
            threshold,
            max_reps,
        )
        res = pd.DataFrame(out, columns=["doc_id", "rep_id", "est_jaccard"])
        res.insert(0, "band_key", pdf["band_key"].iloc[0] if len(pdf) else 0)
        return res

    return (
        sig_band_rows(docs)
        .groupBy("band_key")
        .applyInPandas(run_bucket, schema=MATCH_SCHEMA)
    )


def pair_verdicts(matches: DataFrame) -> DataFrame:
    """Normalize per-band match rows to one row per unordered doc pair:
    (doc_id_a < doc_id_b, max est across bands)."""
    return (
        matches.select(
            F.least("doc_id", "rep_id").alias("doc_id_a"),
            F.greatest("doc_id", "rep_id").alias("doc_id_b"),
            "est_jaccard",
        )
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.max("est_jaccard").alias("est_jaccard"))
    )
