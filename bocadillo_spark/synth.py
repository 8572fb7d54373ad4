"""Deterministic synthesis of the `pages` input table (FIXTURES.md §1).

The authoritative input shape (BASELINE.json input_hint) is
    pages(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)
No such table ships in /root/testdata, so we derive it *deterministically*
from the driver-provided `documents` parquet (doc_id, text, lang, source,
n_chars). Every derived field is a pure function of the document row, which
buys us two things:

1. the whole parse→route→aggregate pipeline has an *analytic* DuckDB oracle
   (see PAGES_CTE / pages_cte_sql below): routed per-sink counts can be
   computed in plain SQL from `documents` without ever building html;
2. byte-identity: the html builder here is the same pure-Python function the
   scalar reference parser (refparser.py) inverts, so "extracted text must be
   byte-identical per url" is a meaningful, testable invariant — the analog
   of the reference's insert→decode→compare round-trip
   (/root/reference/tests/suite_test.go:190-236).

Event records are embedded as marker-delimited segments
    \xc2\xa7EVT|{event_type}|k1={doc_id};k2={seq}\xc2\xa7
mirroring the reference's framed events (19-byte header + payload,
/root/reference/binlog/event_header.go:27-48) in a regex-extractable form.
`update` events additionally carry a CDC before/after image pair
    ;old={cdc_old_of(doc_id,seq)};new={cdc_new_of(doc_id,seq)}
— the two-image UPDATE_ROWS analog (/root/reference/binlog/event_rows.go:92-98),
pure functions of (doc_id, seq) so state reconstruction has an analytic
SQL oracle.

Edge fixtures (FIXTURES.md §1), each a pure doc_id predicate:
- doc_id % 37 == 0  → lang 'unknown'   (unmatched-dimension error path;
  reference errors hard on unknown table id, /root/reference/reader/reader.go:122-125)
- doc_id % 101 == 7 → empty html (0 bytes) → parse-error row
  (never throw: /root/reference/binlog/event_rows.go:43-59 recover precedent)
- doc_id % 103 == 11 → invalid UTF-8 bytes injected into the text body
  (blobs stay raw bytes: /root/reference/binlog/event_rows.go:212-223)
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Iterator
from typing import Any

import pandas as pd

# ---------------------------------------------------------------- constants

LANG_UNKNOWN_MOD = 37  # doc_id % 37 == 0 → lang 'unknown'
EMPTY_HTML_MOD = 101  # doc_id % 101 == 7 → html = b""
EMPTY_HTML_REM = 7
INVALID_UTF8_MOD = 103  # doc_id % 103 == 11 → invalid bytes injected
INVALID_UTF8_REM = 11
INVALID_BYTES = b"\xff\xfe\xfd"
HOST_TAIL_MOD = 97  # cold hosts: (doc_id % 97) + 2 → h002..h098
MAX_EVENTS = 5  # n_events = 1 + doc_id % 5
EVENT_TYPES = ("write", "update", "delete", "rotate")  # dispatch set analog of
# /root/reference/binlog/event_types.go:69-115 (WRITE/UPDATE/DELETE_ROWS, ROTATE)

EPOCH = dt.datetime(2024, 1, 1, 0, 0, 0)

MARK = b"\xc2\xa7"  # U+00A7 as UTF-8; never appears in payload or text pool

# zh traffic to hosts h090..h098 is deliberately absent from the routing
# dimension → composite-key unmatched path (J1 analog, SURVEY.md §2.3).
ZH_DARK_HOST_MIN = 90

KNOWN_LANGS = ("en", "de", "fr", "es", "ja", "zh")

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)

# bump when the html grammar changes (invalidates materialized-pages caches)
SYNTH_VERSION = 2


# ------------------------------------------------------- pure-row functions


def host_id_of(doc_id: int) -> int:
    """Zipf-ish host skew: h000 ~40%, h001 ~20%, rest spread over 97 hosts.

    The hot-host skew fixture (FIXTURES.md §4).
    """
    m = doc_id % 5
    if m < 2:
        return 0
    if m == 2:
        return 1
    return (doc_id % HOST_TAIL_MOD) + 2


def lang_of(doc_id: int, lang: str) -> str:
    return "unknown" if doc_id % LANG_UNKNOWN_MOD == 0 else lang


def n_events_of(doc_id: int) -> int:
    return 1 + (doc_id % MAX_EVENTS)


def event_type_of(doc_id: int, seq: int) -> str:
    return EVENT_TYPES[(doc_id + seq) % 4]


CDC_MOD = 1000


def cdc_old_of(doc_id: int, seq: int) -> int:
    """Before-image of an update event — pure, nonnegative for seq ≥ 0."""
    return (doc_id * 31 + seq * 7) % CDC_MOD


def cdc_new_of(doc_id: int, seq: int) -> int:
    """After-image: cdc_old_of of the NEXT seq, so images chain."""
    return (doc_id * 31 + (seq + 1) * 7) % CDC_MOD


def is_empty_html(doc_id: int) -> bool:
    return doc_id % EMPTY_HTML_MOD == EMPTY_HTML_REM


def has_invalid_utf8(doc_id: int) -> bool:
    return doc_id % INVALID_UTF8_MOD == INVALID_UTF8_REM


def url_of(doc_id: int, source: str) -> str:
    return f"https://h{host_id_of(doc_id):03d}.example.com/{source}/{doc_id}"


def warc_ts_of(doc_id: int) -> dt.datetime:
    return EPOCH + dt.timedelta(seconds=doc_id)


def text_bytes_of(doc_id: int, text: str | None) -> bytes:
    """The byte-equality payload. Invalid-UTF8 fixture injects raw bytes.
    NULL text → empty payload (the NULL round-trip analog,
    /root/reference/tests/type_null_test.go:10-24)."""
    b = (text or "").encode("utf-8")
    if has_invalid_utf8(doc_id):
        b = b[:10] + INVALID_BYTES + b[10:]
    return b


def build_html(doc_id: int, text: str, lang: str) -> bytes:
    """Assemble the html:binary payload for one page. Pure, deterministic."""
    if is_empty_html(doc_id):
        return b""
    lang_p = lang_of(doc_id, lang)
    parts = [b'<html><head><meta lang="', lang_p.encode("ascii"), b'"></head><body>']
    for seq in range(n_events_of(doc_id)):
        et = event_type_of(doc_id, seq)
        payload = f"k1={doc_id};k2={seq}"
        if et == "update":  # CDC before/after image pair
            payload += f";old={cdc_old_of(doc_id, seq)};new={cdc_new_of(doc_id, seq)}"
        parts.append(MARK + b"EVT|" + et.encode("ascii") + b"|" +
                     payload.encode("ascii") + MARK)
    parts.append(text_bytes_of(doc_id, text))
    parts.append(b"</body></html>")
    return b"".join(parts)


def synth_page_row(doc_id: int, text: str, lang: str, source: str) -> dict[str, Any]:
    return {
        "url": url_of(doc_id, source),
        "warc_ts": warc_ts_of(doc_id),
        "html": build_html(doc_id, text, lang),
        "text": text,
        "lang": lang_of(doc_id, lang),
    }


# ---------------------------------------------------------------- Spark side


def _synth_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        rows = [
            synth_page_row(int(d), t, l, s)
            for d, t, l, s in zip(pdf["doc_id"], pdf["text"], pdf["lang"], pdf["source"])
        ]
        yield pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])


def synth_pages(spark, sf_dir: str, num_partitions: int | None = None):
    """documents.parquet → pages DataFrame (deterministic, seedless).

    html assembly is Python-side by design: it is the *test fixture
    generator*, not the graded hot path. At real scale the pages table is
    the pre-existing Iceberg input.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )
    if num_partitions:
        docs = docs.repartition(num_partitions)
    return docs.mapInPandas(_synth_batches, schema=PAGES_SCHEMA)


def write_pages(spark, sf_dir: str, out_dir: str, num_partitions: int = 32) -> str:
    """Materialize pages once to parquet (bench + streaming input)."""
    synth_pages(spark, sf_dir, num_partitions).write.mode("overwrite").parquet(out_dir)
    return out_dir


REPLICA_STRIDE = 10_000_000


def synth_pages_scaled(spark, sf_dir: str, replicas: int, num_partitions: int = 64):
    """Bench-scale pages: replicate documents `replicas`× with disjoint
    doc_id ranges (doc_id + r*stride) — still fully deterministic, urls
    stay unique, fixture predicates keep firing at the same rates. This is
    how the sandbox stands in for the 10^12-document table."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )
    r = spark.range(replicas).select(F.col("id").alias("replica"))
    scaled = docs.crossJoin(r).select(
        (F.col("doc_id") + F.col("replica") * F.lit(REPLICA_STRIDE)).alias("doc_id"),
        "text",
        "lang",
        "source",
    )
    return scaled.repartition(num_partitions).mapInPandas(
        _synth_batches, schema=PAGES_SCHEMA
    )


# ------------------------------------------------------------- oracle SQL


def pages_cte_sql() -> str:
    """DuckDB CTE reproducing the *analytic* page/event structure from
    `documents` — host, routed lang, event fan-out — without building html.
    Keep in lockstep with the pure-row functions above (tested by
    tests/test_oracle_parity.py)."""
    return f"""
pages AS (
  SELECT
    doc_id,
    'https://h' || printf('%03d',
        CAST(CASE WHEN doc_id % 5 < 2 THEN 0
                  WHEN doc_id % 5 = 2 THEN 1
                  ELSE (doc_id % {HOST_TAIL_MOD}) + 2 END AS INT))
        || '.example.com/' || source || '/' || doc_id AS url,
    TIMESTAMP '2024-01-01' + doc_id * INTERVAL 1 SECOND AS warc_ts,
    CASE WHEN doc_id % {LANG_UNKNOWN_MOD} = 0 THEN 'unknown' ELSE lang END AS lang,
    CAST(CASE WHEN doc_id % 5 < 2 THEN 0
              WHEN doc_id % 5 = 2 THEN 1
              ELSE (doc_id % {HOST_TAIL_MOD}) + 2 END AS INT) AS host_id,
    doc_id % {EMPTY_HTML_MOD} = {EMPTY_HTML_REM} AS empty_html,
    1 + (doc_id % {MAX_EVENTS}) AS n_events,
    text
  FROM documents
),
page_events AS (
  SELECT p.*, CAST(s.seq AS INT) AS seq,
    CASE ((p.doc_id + s.seq) % 4)
      WHEN 0 THEN 'write' WHEN 1 THEN 'update'
      WHEN 2 THEN 'delete' ELSE 'rotate' END AS event_type
  FROM pages p
  CROSS JOIN (SELECT unnest(generate_series(0, {MAX_EVENTS - 1})) AS seq) s
  WHERE NOT p.empty_html AND s.seq < p.n_events
)
""".strip()


def html_hex_cte_sql() -> str:
    """DuckDB CTE `html_hex(doc_id, url, hexs)`: the EXACT html byte stream
    reconstructed in SQL, as an uppercase hex string (composes after
    pages_cte_sql). DuckDB 1.0 has no blob slicing/md5, so all byte-level
    oracles (byte histograms, frame fingerprints) work in the hex domain —
    2 chars per byte, sliced with plain substr. The invalid-UTF8 fixture is
    spliced in as hex (a VARCHAR can't carry those bytes; a BLOB via unhex
    can). Byte-for-byte parity with build_html is pytest-asserted
    (tests/test_byte_equality.py)."""
    inv_hex = INVALID_BYTES.hex().upper()
    return f"""
html_hex AS (
  SELECT doc_id, url,
    hex(CASE WHEN empty_html THEN ''::BLOB
         ELSE encode('<html><head><meta lang="' || lang || '"></head><body>' ||
              array_to_string(list_transform(range(0, CAST(n_events AS BIGINT)), s ->
                '§EVT|' ||
                CASE ((doc_id + s) % 4) WHEN 0 THEN 'write' WHEN 1 THEN 'update'
                     WHEN 2 THEN 'delete' ELSE 'rotate' END ||
                '|k1=' || CAST(doc_id AS VARCHAR) || ';k2=' || CAST(s AS VARCHAR) ||
                CASE WHEN ((doc_id + s) % 4) = 1
                     THEN ';old=' || CAST((doc_id * 31 + s * 7) % {CDC_MOD} AS VARCHAR)
                          || ';new=' || CAST((doc_id * 31 + (s + 1) * 7) % {CDC_MOD} AS VARCHAR)
                     ELSE '' END ||
                '§'), ''))
           || CASE WHEN doc_id % {INVALID_UTF8_MOD} = {INVALID_UTF8_REM}
                   THEN unhex(substr(hex(encode(coalesce(text, ''))), 1, 20)
                        || '{inv_hex}' || substr(hex(encode(coalesce(text, ''))), 21))
                   ELSE encode(coalesce(text, '')) END
           || encode('</body></html>')
    END) AS hexs
  FROM pages
)
""".strip()


def routed_cte_sql() -> str:
    """Routing semantics in SQL: parse-error rows and dimension-unmatched
    rows go to the 'error' sink; everything else to sink_{lang}."""
    return f"""
routed AS (
  SELECT
    CASE WHEN lang = 'unknown' THEN 'error'
         WHEN lang = 'zh' AND host_id >= {ZH_DARK_HOST_MIN} THEN 'error'
         ELSE 'sink_' || lang END AS sink_id,
    event_type,
    CASE WHEN lang = 'unknown' THEN 'unmatched_dim'
         WHEN lang = 'zh' AND host_id >= {ZH_DARK_HOST_MIN} THEN 'unmatched_dim'
         ELSE 'ok' END AS route_reason,
    url, warc_ts, lang, seq
  FROM page_events
  UNION ALL
  SELECT 'error' AS sink_id, 'parse_error' AS event_type,
         'parse_error' AS route_reason, url, warc_ts, lang, 0 AS seq
  FROM pages WHERE empty_html
)
""".strip()
