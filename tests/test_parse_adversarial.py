"""Adversarial/malformed-input parsing: the parser must never throw, and the
Spark parse must agree with the scalar refparser on arbitrary garbage — the
recover-with-hexdump precedent (the reference's
binlog/event_rows.go:43-59) as a property."""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings
from hypothesis import strategies as st

from bocadillo_spark import refparser as rp
from bocadillo_spark.operators.parse import parse_events

MARK = b"\xc2\xa7"

ADVERSARIAL = [
    b"",  # empty
    b"garbage no body at all",
    b"<body>",  # unterminated
    b"</body><body>",  # reversed — regex finds no body>…</body? actually matches nothing before
    b"<body></body>",  # empty body, no events
    b"<body>" + MARK + b"EVT|write|" + MARK + b"</body>",  # empty payload
    b"<body>" + MARK + b"EVT|write|k=v" + b"</body>",  # unterminated marker
    b"<body>" + MARK + b"EVT||k=v" + MARK + b"</body>",  # empty type (no [a-z]+ match)
    b"<body>" + MARK + b"EVT|write|a" + MARK + MARK + b"EVT|delete|b" + MARK + b"tail</body>",
    b"<body>text with " + MARK + b" stray marker bytes</body>",
    b"<body>\xff\xfe\x00\x01 binary soup " + MARK + b"EVT|rotate|x" + MARK + b"</body>",
    b"<html><body>nested <body>inner</body> outer</body></html>",  # greedy body
    MARK * 50,
    b"<body>" + b"A" * 100_000 + b"</body>",  # large body no events
]


def test_refparser_never_throws_on_adversarial():
    for html in ADVERSARIAL:
        p = rp.parse_page(html)
        assert p.parse_status in (rp.PARSE_OK, rp.PARSE_ERROR)
        if p.parse_status == rp.PARSE_OK:
            assert isinstance(p.text_bytes, bytes)


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=512))
def test_refparser_total_on_random_bytes(data):
    p = rp.parse_page(data)
    assert p.parse_status in (rp.PARSE_OK, rp.PARSE_ERROR)


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.tuples(st.sampled_from(["write", "update", "delete", "rotate"]), st.text(
            alphabet=st.characters(codec="ascii", exclude_characters="|\xa7"), max_size=20
        )),
        max_size=5,
    ),
    st.binary(max_size=200).filter(lambda b: MARK not in b and b"</body>" not in b),
)
def test_refparser_roundtrip_random_events(events, text_bytes):
    """Synthesized page with arbitrary payloads/text round-trips exactly."""
    body = b"".join(
        MARK + b"EVT|" + t.encode() + b"|" + p.encode() + MARK for t, p in events
    ) + text_bytes
    p = rp.parse_page(b"<body>" + body + b"</body>")
    assert p.parse_status == rp.PARSE_OK
    assert p.text_bytes == text_bytes
    assert [(t, pl) for _, t, pl in p.events] == events


def test_spark_engines_agree_with_refparser_on_adversarial(spark):
    rows = [
        (f"https://h000.example.com/adv/{i}", dt.datetime(2024, 1, 1), html, None, "en")
        for i, html in enumerate(ADVERSARIAL)
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    ).withColumn("host", __import__("pyspark").sql.functions.lit("h000"))

    def norm(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["url"], []).append(
                (
                    r["seq"],
                    r["event_type"],
                    r["payload"],
                    r["meta_lang"],
                    bytes(r["text_bytes"]) if r["text_bytes"] is not None else None,
                    r["parse_status"],
                )
            )
        return {k: sorted(v) for k, v in out.items()}

    parsed = norm(parse_events(pages))
    for i, html in enumerate(ADVERSARIAL):
        url = f"https://h000.example.com/adv/{i}"
        ref = rp.parse_page(html)
        got = parsed[url]
        if ref.parse_status == rp.PARSE_ERROR:
            assert got == [(0, "parse_error", None, None, None, "error")], (i, got)
        elif not ref.events:
            assert got == [
                (0, "none", None, ref.meta_lang, ref.text_bytes, "ok")
            ], (i, got)
        else:
            want = [
                (seq, t, pl, ref.meta_lang,
                 ref.text_bytes if seq == 0 else None, "ok")
                for seq, t, pl in ref.events
            ]
            assert got == sorted(want), (i, got, want)


def test_parse_null_html_dead_letter(spark):
    """REVIEW_r06 fourth pass #1: a NULL html cell must yield one
    parse_error/no_body dead-letter row, as refparser does (`if not
    html`), never an 'ok' row routed to a real sink."""
    rows = [("https://h000.example.com/n/0", dt.datetime(2024, 1, 1), None, None, "en")]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    ).withColumn("host", __import__("pyspark").sql.functions.lit("h000"))
    want = [(0, "parse_error", None, None, rp.PARSE_ERROR, rp.ERR_NO_BODY)]
    got = [
        (r["seq"], r["event_type"], r["payload"], r["text_bytes"],
         r["parse_status"], r["error_msg"])
        for r in parse_events(pages).collect()
    ]
    assert got == want
    assert rp.parse_page(None).parse_status == rp.PARSE_ERROR


def test_sink_counts_match_refparser_with_zero_event_pages(spark):
    """End-to-end count-equality oracle (FIXTURES.md §6) over a corpus the
    synth generator cannot produce: zero-event ok pages (n_events >= 1 in
    synth), alongside parse-error and dim-hole rows. Pins the r06 review
    finding that refparser.sink_counts skipped event-less pages while the
    Spark pipeline routes and counts a ('sink','none') row for them."""
    from bocadillo_spark.operators.aggregate import sink_counts
    from bocadillo_spark.operators.parse import parse_events, with_host
    from bocadillo_spark.operators.route import build_routing_dim, route

    corpus = [
        # zero-event, matched dim → (sink_en, 'none')
        ("https://h000.example.com/z/0", "en",
         b'<html><head><meta lang="en"></head><body>plain</body></html>'),
        # zero-event, dim hole (zh dark host) → (error, 'none')
        ("https://h095.example.com/z/1", "zh", b"<body>dark</body>"),
        # parse error → (error, 'parse_error')
        ("https://h001.example.com/z/2", "de", b""),
        # normal evented page → (sink_fr, write/delete)
        ("https://h002.example.com/z/3", "fr",
         b"<body>" + MARK + b"EVT|write|k1=3;k2=0" + MARK
         + MARK + b"EVT|delete|k1=3;k2=1" + MARK + b"tail</body>"),
    ]
    rows = [(u, dt.datetime(2024, 1, 1), h, None, l) for u, l, h in corpus]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    routed = route(parse_events(with_host(pages)), build_routing_dim(spark))
    got = {
        (r["sink_id"], r["event_type"]): r["n"]
        for r in sink_counts(routed).collect()
    }

    dim_rows = build_routing_dim(spark).collect()
    dim = {(r["lang"], r["host"]): r["sink_id"] for r in dim_rows}
    want = rp.sink_counts(
        [{"url": u, "lang": l, "html": h} for u, l, h in corpus], dim
    )
    assert got == want
    assert got[("sink_en", "none")] == 1 and got[("error", "none")] == 1


def test_fingerprint_bounded_fold_on_megadoc(spark):
    """doc_fingerprints must handle a >1 MB document (the memory-envelope
    fixture for the two-stage chunked fold) and agree exactly with the
    pure-Python rolling kernel, chunk boundaries included."""
    from bocadillo_spark.functions import hashing as H
    from bocadillo_spark.operators.textops import FP_FOLD_CHUNK, doc_fingerprints

    mega = "lorem ipsum dolor sit amet " * 45_000  # ~1.2 MB
    edge_cases = [
        (0, mega),
        (1, "x" * (FP_FOLD_CHUNK - 1)),
        (2, "y" * FP_FOLD_CHUNK),
        (3, "z" * (FP_FOLD_CHUNK + 1)),
        (4, ""),
        (5, None),
    ]
    df = spark.createDataFrame(edge_cases, "doc_id long, text string")
    got = {r["doc_id"]: r["fingerprint"] for r in doc_fingerprints(df).collect()}
    for i, t in edge_cases:
        assert got[i] == H.rolling_fingerprint(t or ""), i
