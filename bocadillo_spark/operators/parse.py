"""Page parse — one JVM-side implementation (parse_events).

The reference decodes one event at a time off a byte cursor
(reader/reader.go:66-143, binlog/event_rows.go:106-133). Here the same
header-framing + type-dispatch + payload-decode computation is
set-oriented: Java regex over the latin-1 view of html:binary (a
bijective byte<->codepoint mapping, so extraction is byte-exact — the
reference's blob-stays-bytes precedent, binlog/event_rows.go:212-223)
inside whole-stage codegen, and one page fans out to N typed event rows
(the reference's DecodeRows one-event-to-N-rows expansion,
binlog/event_rows.go:84-103).

The reference it is tested against is the scalar refparser.parse_page:
tests/test_byte_equality.py compares every output column row for row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..refparser import ERR_NO_BODY, PARSE_ERROR, PARSE_OK

HOST_RE = r"https://([^/]+)\.example\.com/"


# ------------------------------------------------------------------- parse
#
# decode(html,'ISO-8859-1') maps bytes 1:1 to codepoints (lossless), so
# Java regex over that string is byte-exact, and encode(...,'ISO-8859-1')
# restores the original bytes. Everything stays inside whole-stage codegen
# — measured at local[32] (BENCH/BASELINE.md) a Python-worker parse stopped
# scaling past ~8 concurrent workers, while this plan scales with cores.
#
# Body extraction is ONE regex pass: two regexp_extract calls (group 1 for
# the matched/empty distinction, group 2 for the content) would each compile
# into their own full scan of the page — no CSE across different group
# indexes. regexp_extract_all over group 2 of a pattern whose OUTER group
# includes the literal tags yields at most one element (the greedy (.*)
# consumes through the LAST </body>, so a second match is impossible) and
# distinguishes no-match ([]) from empty-body ([""]) for free. NULL html is
# not ok (refparser's `if not html`), so it dead-letters like a page with no
# body; get() returns NULL out-of-bounds under ANSI where element_at errors.
#
# seg layout is fixed ('§EVT|type|payload§'), so cheap substring ops replace
# two more regex scans: type = 2nd '|' field, payload = the rest minus the
# trailing 2-byte marker.
#
# The plan is built by one SQL statement on the pages' own session (so it
# works inside foreachBatch): one call into the JVM instead of one per
# expression node.

_MARK_J = "Â§"  # 'Â§' — the latin-1 view of b'\xc2\xa7'
_EVENT_PAT_J = f"(?s){_MARK_J}EVT\\|([a-z]+)\\|(.*?){_MARK_J}"
_BODY_OUTER_PAT_J = "(?s)(<body>(.*)</body>)"
_META_PAT_J = '<meta lang="([a-z]+)"'

_PARSE_SQL = """
WITH framed AS (
  SELECT url, warc_ts, lang, host, s,
         regexp_extract_all(s, :body_pat, 2) AS body_arr,
         regexp_extract(s, :meta_pat, 1) AS meta_lang_raw
  FROM (SELECT url, warc_ts, lang, host, decode(html, 'ISO-8859-1') AS s
        FROM {pages})
), segs AS (
  SELECT url, warc_ts, lang, host, ok, body, meta_lang_raw,
         posexplode_outer(CASE WHEN ok THEN regexp_extract_all(body, :event_pat, 0) END)
           AS (pos, seg)
  FROM (SELECT *, s IS NOT NULL AND size(body_arr) > 0 AS ok,
               get(body_arr, 0) AS body
        FROM framed)
)
SELECT url, warc_ts, lang, host,
       CAST(coalesce(pos, 0) AS INT) AS seq,
       CASE WHEN NOT ok THEN 'parse_error'
            WHEN seg IS NULL THEN 'none'
            ELSE element_at(split(seg, :field_sep, 3), 2) END AS event_type,
       CASE WHEN ok AND seg IS NOT NULL
            THEN substr(element_at(split(seg, :field_sep, 3), 3), 1,
                        length(element_at(split(seg, :field_sep, 3), 3)) - 2) END AS payload,
       CASE WHEN ok AND meta_lang_raw != '' THEN meta_lang_raw END AS meta_lang,
       CASE WHEN ok AND coalesce(pos, 0) = 0
            THEN encode(regexp_replace(body, :event_pat, ''), 'ISO-8859-1') END AS text_bytes,
       CASE WHEN ok THEN :parse_ok ELSE :parse_error END AS parse_status,
       CASE WHEN NOT ok THEN :no_body END AS error_msg
FROM segs
"""


def parse_events(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, lang[, host]) → typed event rows.

    One output row per embedded event record; pages that fail to frame
    (no <body>…</body>, empty or NULL html) yield exactly one parse_error
    row routed to the error sink downstream.
    """
    if "host" not in pages.columns:
        pages = with_host(pages)
    return pages.sparkSession.sql(
        _PARSE_SQL,
        args={
            "body_pat": _BODY_OUTER_PAT_J,
            "meta_pat": _META_PAT_J,
            "event_pat": _EVENT_PAT_J,
            "field_sep": "\\|",
            "parse_ok": PARSE_OK,
            "parse_error": PARSE_ERROR,
            "no_body": ERR_NO_BODY,
        },
        pages=pages,
    )


def with_host(pages: DataFrame) -> DataFrame:
    """Native (codegen'd) host projection — the peek-before-decode pattern
    (/root/reference/binlog/event_rows.go:34-39): cheap metadata first,
    expensive payload decode later."""
    return pages.withColumn("host", F.regexp_extract("url", HOST_RE, 1))


def server_version_number_col(v):
    """F10 analog: '5.7.19-log' → 50719 — the mysql_get_server_version
    canonicalization (/root/reference/binlog/event_format_description.go:109-134)
    as a native expression: three regexp_extracts + arithmetic, no UDF.
    Missing components count as 0 (matches functions/binary.parse_version_number)."""

    def num(c):
        return F.when(c == "", F.lit(0).cast("long")).otherwise(c.cast("long"))

    major = num(F.regexp_extract(v, r"^(\d+)", 1))
    minor = num(F.regexp_extract(v, r"^\d+\.(\d+)", 1))
    patch = num(F.regexp_extract(v, r"^\d+\.\d+\.(\d+)", 1))
    return major * F.lit(10000) + minor * F.lit(100) + patch


def with_attrs(events: DataFrame) -> DataFrame:
    """payload 'k1=..;k2=..' → map<string,string> — native str_to_map,
    JVM-side (the positional-row-to-named-row enrichment analog,
    /root/reference/reader/enhanced_reader.go:109-123)."""
    return events.withColumn(
        "attrs",
        F.when(F.col("payload").isNotNull(), F.expr("str_to_map(payload, ';', '=')")),
    )
