"""Multimodal columns: opaque binary payloads + typed metadata.

Images/audio/video are `binary` columns with a metadata struct; all Spark
plumbing (schema, batching, partition shape) is real and tested, while the
actual codec step is stubbed (no image/audio libs in this container):
- decode_image / sample_frames raise NotImplementedError behind a clearly
  marked seam, exactly where PIL/ffmpeg would slot in;
- byte_histogram is a deterministic REAL feature extractor (16-bucket byte
  histogram via numpy bincount) so the end-to-end path is exercisable.

Batch shape note: mapInPandas streams Arrow record batches, so one 100 MB
video row never materializes the whole partition — the right shape for
multimodal payloads at scale.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HIST_BUCKETS = 16
HIST_SCHEMA = f"url string, n_bytes long, hist array<long>"
META_SCHEMA = "url string, media_type string, n_bytes long, is_valid boolean"


def decode_image(payload: bytes) -> "np.ndarray":
    """STUB: real impl would be PIL.Image.open(BytesIO(payload)). The
    container ships no imaging libs; the Spark-side plumbing around this
    seam is what's real and tested."""
    raise NotImplementedError("image decode requires PIL/opencv — not in this container")


def sample_frames(payload: bytes, every_n: int = 10) -> list[bytes]:
    """STUB: real impl would shell to ffmpeg / use pyav."""
    raise NotImplementedError("video frame sampling requires ffmpeg — not in this container")


def resize_image(payload: bytes, width: int, height: int) -> bytes:
    """STUB: real impl is PIL Image.resize after decode_image. The
    Spark-side plumbing is exercised with thumbnail_fake below."""
    raise NotImplementedError("image resize requires PIL/opencv — not in this container")


def thumbnail_fake(payload: bytes, stride: int = 16) -> bytes:
    """Deterministic stand-in for decode→resize→re-encode: every
    `stride`-th byte. Keeps the resize PLUMBING (batch shape, output
    column typing, size accounting) real and testable where the codec
    seam above would slot in."""
    return payload[::stride]


THUMB_SCHEMA = "url string, n_bytes long, thumb binary"


def _thumb_batches(stride: int):
    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            thumbs = [
                thumbnail_fake(p, stride) if p else b"" for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {"url": pdf["url"], "n_bytes": [len(t) for t in thumbs], "thumb": thumbs}
            )

    return fn


def thumbnails(df: DataFrame, payload_col: str = "html", stride: int = 16) -> DataFrame:
    """Resize plumbing over an opaque binary column (fake codec)."""
    return df.select("url", F.col(payload_col).alias("payload")).mapInPandas(
        _thumb_batches(stride), THUMB_SCHEMA
    )


def _hist_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        hists, sizes = [], []
        for payload in pdf["payload"]:
            if payload is None or len(payload) == 0:
                sizes.append(0)
                hists.append([0] * HIST_BUCKETS)
                continue
            arr = np.frombuffer(payload, dtype=np.uint8)
            h = np.bincount(arr >> 4, minlength=HIST_BUCKETS)
            sizes.append(len(payload))
            hists.append(h.astype("int64").tolist())
        yield pd.DataFrame({"url": pdf["url"], "n_bytes": sizes, "hist": hists})


def byte_histogram(df: DataFrame, payload_col: str = "html") -> DataFrame:
    """Deterministic fake 'feature extraction' over an opaque binary column:
    16-bucket histogram of high nibbles. Real numpy work, Arrow-batched."""
    return df.select("url", F.col(payload_col).alias("payload")).mapInPandas(
        _hist_batches, HIST_SCHEMA
    )


FRAME_SCHEMA = "url string, frame_idx int, frame_off long, frame_fp long"
FRAME_BYTES = 64  # fake "frame" granularity


def frame_fp(chunk: bytes) -> int:
    """Frame fingerprint: polynomial byte-fold mod 2^31-1 (same constants
    as the document fingerprint). Chosen over md5 deliberately: DuckDB 1.0
    can't md5 raw bytes, but it CAN reproduce this fold from the hex-domain
    html reconstruction — which is what upgrades frame_sample from a
    rows-only check to an exact value-level oracle."""
    from ..functions import hashing as H

    acc = 0
    for b in chunk:
        acc = (acc * H.FP_BASE + b) % H.MERSENNE31
    return acc


def _frame_batches(every_n: int):
    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            urls, idxs, offs, fps = [], [], [], []
            for url, payload in zip(pdf["url"], pdf["payload"]):
                if not payload:
                    continue
                n_frames = (len(payload) + FRAME_BYTES - 1) // FRAME_BYTES
                for k, f in enumerate(range(0, n_frames, every_n)):
                    off = f * FRAME_BYTES
                    chunk = payload[off : off + FRAME_BYTES]
                    urls.append(url)
                    idxs.append(k)
                    offs.append(off)
                    fps.append(frame_fp(chunk))
            yield pd.DataFrame(
                {"url": urls, "frame_idx": pd.array(idxs, dtype="int32"),
                 "frame_off": offs, "frame_fp": fps}
            )

    return fn


def sample_frames_df(df: DataFrame, payload_col: str = "html", every_n: int = 4) -> DataFrame:
    """Frame-sampling PLUMBING over an opaque binary column: one payload →
    N sampled-frame rows (every_n-th fixed-size block, fingerprinted) —
    the mapInPandas fan-out shape a real video pipeline uses, with a
    deterministic fake in place of the ffmpeg decode (sample_frames above
    is the clearly-marked codec seam). Arrow batches stream, so one huge
    payload never pins a whole partition in memory."""
    return df.select("url", F.col(payload_col).alias("payload")).mapInPandas(
        _frame_batches(every_n), FRAME_SCHEMA
    )


def byte_histogram_oracle_sql() -> str:
    """Exact DuckDB oracle for the exploded byte_histogram output
    (url, bucket, n): reconstruct the html bytes as hex (html_hex_cte_sql),
    keep the odd-position hex chars (= high nibbles = the bucket of each
    byte), then count each hex digit via length-difference — all string
    kernels, no per-byte list materialization. Empty html → 16 zero rows,
    matching the kernel's [0]*16."""
    from ..synth import html_hex_cte_sql, pages_cte_sql

    return f"""WITH {pages_cte_sql()}, {html_hex_cte_sql()},
odd AS (
  SELECT url, regexp_replace(hexs, '(.)(.)', '\\1', 'g') AS hi FROM html_hex
)
SELECT url, CAST(b.bucket AS INT) AS bucket,
       CAST(length(hi) - length(replace(hi,
            substr('0123456789ABCDEF', CAST(b.bucket AS INT) + 1, 1), '')) AS BIGINT) AS n
FROM odd CROSS JOIN (SELECT unnest(generate_series(0, {HIST_BUCKETS - 1})) AS bucket) b"""


def frame_sample_oracle_sql(every_n: int = 4) -> str:
    """Exact DuckDB oracle for sample_frames_df: frame offsets/indices are
    analytic in the byte length, and the chunk fingerprint is the same
    polynomial fold evaluated over hex-domain byte values."""
    from ..functions.hashing import FP_BASE, MERSENNE31
    from ..synth import html_hex_cte_sql, pages_cte_sql

    hexd = "0123456789ABCDEF"
    return f"""WITH {pages_cte_sql()}, {html_hex_cte_sql()},
fr AS (
  SELECT url, hexs,
         (length(hexs) // 2 + {FRAME_BYTES - 1}) // {FRAME_BYTES} AS n_frames
  FROM html_hex WHERE length(hexs) > 0
), idx AS (
  SELECT url, hexs, unnest(range(0, (n_frames + {every_n - 1}) // {every_n})) AS k
  FROM fr
), ch AS (
  SELECT url, CAST(k AS INT) AS frame_idx,
         CAST(k * {every_n * FRAME_BYTES} AS BIGINT) AS frame_off,
         substr(hexs, CAST(k * {every_n * FRAME_BYTES * 2} + 1 AS BIGINT),
                {FRAME_BYTES * 2}) AS chex
  FROM idx
)
SELECT url, frame_idx, frame_off,
  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
    list_transform(range(1, length(chex) // 2 + 1), i ->
      CAST((strpos('{hexd}', substr(chex, 2 * i - 1, 1)) - 1) * 16
           + strpos('{hexd}', substr(chex, 2 * i, 1)) - 1 AS BIGINT))),
    (acc, v) -> (acc * {FP_BASE} + v) % {MERSENNE31}) AS BIGINT) AS frame_fp
FROM ch"""


def media_metadata(df: DataFrame, payload_col: str = "html", media_type: str = "text/html") -> DataFrame:
    """Typed metadata projection over a binary column — native only. A
    NULL payload counts as empty: n_bytes 0, is_valid False (never NULL,
    so a 'WHERE NOT is_valid' filter keeps it)."""
    n_bytes = F.coalesce(F.length(F.col(payload_col)), F.lit(0))
    return df.select(
        "url",
        F.lit(media_type).alias("media_type"),
        n_bytes.cast("long").alias("n_bytes"),
        (n_bytes > 0).alias("is_valid"),
    )
