"""Page parse — the hot path runs JVM-side (parse_events_native).

The reference decodes one event at a time off a byte cursor
(/root/reference/reader/reader.go:66-143, binlog/event_rows.go:106-133).
Here the same header-framing + type-dispatch + payload-decode computation is
set-oriented: the default engine runs Java regex over the latin-1 view of
html:binary (a bijective byte<->codepoint mapping, so extraction is
byte-exact — the reference's blob-stays-bytes precedent,
binlog/event_rows.go:212-223) inside whole-stage codegen, and one page fans
out to N typed event rows (the reference's DecodeRows one-event-to-N-rows
expansion, binlog/event_rows.go:84-103).

parse_events_pandas is the Arrow-batched twin of the same computation in
pandas vectorized .str operations, kept as the reference the equality tests
compare the native engine against. Catalyst will not push predicates through
its opaque Python, so cheap native columns (host, lang, length(html)) are
projected/filtered BEFORE it (SURVEY.md §4).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..refparser import ERR_NO_BODY, PARSE_ERROR, PARSE_OK

# latin-1-domain twins of refparser's byte regexes (same semantics, str domain)
EVENT_RE_L1 = re.compile("\xc2\xa7EVT\\|([a-z]+)\\|(.*?)\xc2\xa7", re.DOTALL)
BODY_RE_L1 = re.compile("<body>(.*)</body>", re.DOTALL)
META_LANG_RE_L1 = re.compile('<meta lang="([a-z]+)"')

HOST_RE = r"https://([^/]+)\.example\.com/"

EVENTS_SCHEMA = (
    "url string, warc_ts timestamp, lang string, host string, "
    "seq int, event_type string, payload string, meta_lang string, "
    "text_bytes binary, parse_status string, error_msg string"
)

_PAGE_COLS = ["url", "warc_ts", "lang", "host"]
_OUT_COLS = _PAGE_COLS + [
    "seq", "event_type", "payload", "meta_lang",
    "text_bytes", "parse_status", "error_msg",
]


def _parse_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    n = len(pdf)
    if n == 0:
        return pd.DataFrame(columns=_OUT_COLS)
    pdf = pdf.reset_index(drop=True)
    html = pdf["html"]
    # bytes -> latin-1 str (vectorized, lossless)
    s = html.str.decode("latin-1")
    body = s.str.extract(BODY_RE_L1, expand=False)
    meta_lang = s.str.extract(META_LANG_RE_L1, expand=False)
    ok = body.notna()

    frames = []
    if ok.any():
        body_ok = body[ok]
        text_b = body_ok.str.replace(EVENT_RE_L1, "", regex=True).str.encode("latin-1")
        ev = body_ok.str.extractall(EVENT_RE_L1)
        if len(ev):
            ev = ev.reset_index()  # columns: level_0 (page idx), match, 0, 1
            page_idx = ev["level_0"].to_numpy()
            seq = ev["match"].to_numpy().astype("int32")
            out = pd.DataFrame({c: pdf[c].take(page_idx).to_numpy() for c in _PAGE_COLS})
            out["seq"] = seq
            out["event_type"] = ev[0].to_numpy()
            # pandas extractall yields NaN for empty captures; the scalar
            # oracle and the JVM engine both say empty string
            out["payload"] = ev[1].fillna("").to_numpy()
            out["meta_lang"] = meta_lang.take(page_idx).to_numpy()
            # text payload carried once per page (seq 0), not duplicated per event
            tb = pd.Series(text_b.reindex(page_idx).to_numpy(), dtype=object)
            out["text_bytes"] = tb.where(pd.Series(seq == 0), None)
            out["parse_status"] = PARSE_OK
            out["error_msg"] = None
            frames.append(out)
            no_ev = ok.index[ok] .difference(pd.Index(page_idx))
        else:
            no_ev = ok.index[ok]
        if len(no_ev):  # well-formed page, zero event records
            idx = no_ev.to_numpy()
            out0 = pd.DataFrame({c: pdf[c].take(idx).to_numpy() for c in _PAGE_COLS})
            out0["seq"] = np.int32(0)
            out0["event_type"] = "none"
            out0["payload"] = None
            out0["meta_lang"] = meta_lang.take(idx).to_numpy()
            out0["text_bytes"] = text_b.reindex(idx).to_numpy()
            out0["parse_status"] = PARSE_OK
            out0["error_msg"] = None
            frames.append(out0)
    if (~ok).any():  # dead-letter rows, never an exception (T8 analog)
        idx = ok.index[~ok].to_numpy()
        err = pd.DataFrame({c: pdf[c].take(idx).to_numpy() for c in _PAGE_COLS})
        err["seq"] = np.int32(0)
        err["event_type"] = "parse_error"
        err["payload"] = None
        err["meta_lang"] = None
        err["text_bytes"] = None
        err["parse_status"] = PARSE_ERROR
        err["error_msg"] = ERR_NO_BODY
        frames.append(err)
    res = pd.concat(frames, ignore_index=True) if frames else pd.DataFrame(columns=_OUT_COLS)
    res["seq"] = res["seq"].astype("int32")
    return res[_OUT_COLS]


def _parse_iter(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        yield _parse_batch(pdf)


# ------------------------------------------------------------ native parse
#
# The same extraction, fully JVM-side: decode(html,'ISO-8859-1') maps bytes
# 1:1 to codepoints (lossless, like the pandas latin-1 path), so Java regex
# over that string is byte-exact, and encode(...,'ISO-8859-1') restores the
# original bytes. Everything stays inside whole-stage codegen — measured at
# local[32] (BENCH/BASELINE.md) the Python-worker path stops scaling past ~8
# concurrent workers, while this plan scales with cores.
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


def parse_events_native(pages: DataFrame) -> DataFrame:
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


def parse_events_pandas(pages: DataFrame) -> DataFrame:
    """Arrow-batched pandas twin of parse_events_native (same output rows)."""
    if "host" not in pages.columns:
        pages = with_host(pages)
    cols = ["url", "warc_ts", "lang", "host", "html"]
    return pages.select(*cols).mapInPandas(_parse_iter, schema=EVENTS_SCHEMA)


def parse_events(pages: DataFrame, engine: str = "native") -> DataFrame:
    """pages(url, warc_ts, html, lang[, host]) → typed event rows.

    One output row per embedded event record; pages that fail to frame
    (no <body>…</body>, empty or NULL html) yield exactly one parse_error
    row routed to the error sink downstream.

    engine: 'native' (default — JVM regex, whole-stage codegen) or 'pandas'
    (the Arrow-batched UDF twin the equality tests compare against).
    """
    if engine == "pandas":
        return parse_events_pandas(pages)
    return parse_events_native(pages)


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
