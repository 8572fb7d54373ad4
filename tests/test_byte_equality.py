"""The north_rule per-row invariant: the vectorized Spark parse must
reproduce the scalar reference parser's extracted bytes exactly, per url —
including the invalid-UTF8 and empty-html fixtures. Analog of the
reference's insert→decode→compare round-trip
(/root/reference/tests/suite_test.go:190-279)."""

from __future__ import annotations

from pyspark.sql import functions as F

from bocadillo_spark import refparser as rp
from bocadillo_spark import synth
from bocadillo_spark.operators.parse import parse_events, with_attrs, with_host
from bocadillo_spark.operators.route import build_routing_dim, route
from bocadillo_spark.synth import synth_pages


def _collect_parsed(spark, sf_dir):
    pages = synth_pages(spark, sf_dir)
    return pages, parse_events(with_host(pages))


def test_parse_rows_equal_refparser(spark, sf_dir):
    """Every output row of parse_events equals the row the scalar
    refparser implies for its page — all eight per-event columns (url,
    seq, event_type, payload, meta_lang, text_bytes, parse_status,
    error_msg), compared as multisets: a parse_error page is one
    dead-letter row, an ok page without events is one 'none' row, and an
    ok page with events is one row per event, text_bytes on seq 0 only."""
    pages, parsed = _collect_parsed(spark, sf_dir)
    cols = ["url", "seq", "event_type", "payload", "meta_lang",
            "text_bytes", "parse_status", "error_msg"]
    got = sorted(
        tuple(bytes(x) if isinstance(x, (bytes, bytearray)) else x for x in r)
        for r in parsed.select(*cols).collect()
    )
    want = []
    for r in pages.select("url", "html").collect():
        ref = rp.parse_page(r["html"])
        if ref.parse_status == rp.PARSE_ERROR:
            want.append((r["url"], 0, "parse_error", None, None, None,
                         rp.PARSE_ERROR, rp.ERR_NO_BODY))
        elif not ref.events:
            want.append((r["url"], 0, "none", None, ref.meta_lang,
                         ref.text_bytes, rp.PARSE_OK, None))
        else:
            want.extend(
                (r["url"], seq, t, pl, ref.meta_lang,
                 ref.text_bytes if seq == 0 else None, rp.PARSE_OK, None)
                for seq, t, pl in ref.events
            )
    assert got == sorted(want)
    assert len(got) > 1000  # sf0.001: 500 pages fan out to ~1.5k rows


def test_text_bytes_identical_per_url(spark, sf_dir):
    pages, parsed = _collect_parsed(spark, sf_dir)
    got = {
        r["url"]: r["text_bytes"]
        for r in parsed.filter(
            (F.col("parse_status") == "ok") & (F.col("seq") == 0)
        ).select("url", "text_bytes").collect()
    }
    page_rows = pages.select("url", "html").collect()
    n_ok = 0
    for r in page_rows:
        ref = rp.parse_page(r["html"])
        if ref.parse_status == rp.PARSE_ERROR:
            assert r["url"] not in got
            continue
        assert got[r["url"]] == ref.text_bytes, f"byte mismatch at {r['url']}"
        n_ok += 1
    assert n_ok > 400  # sf0.001 has 500 docs, ~5 empty-html


def test_events_identical_per_url(spark, sf_dir):
    pages, parsed = _collect_parsed(spark, sf_dir)
    got: dict[str, list] = {}
    for r in parsed.filter(F.col("parse_status") == "ok").select(
        "url", "seq", "event_type", "payload"
    ).collect():
        got.setdefault(r["url"], []).append((r["seq"], r["event_type"], r["payload"]))
    for r in pages.select("url", "html").collect():
        ref = rp.parse_page(r["html"])
        if ref.parse_status == rp.PARSE_OK:
            assert sorted(got[r["url"]]) == ref.events, f"event mismatch at {r['url']}"


def test_invalid_utf8_fixture_survives_spark(spark, sf_dir):
    _, parsed = _collect_parsed(spark, sf_dir)
    bad = with_attrs(parsed.filter((F.col("seq") == 0) & (F.col("parse_status") == "ok")))
    bad = bad.filter(
        F.col("attrs")["k1"].cast("long") % synth.INVALID_UTF8_MOD
        == synth.INVALID_UTF8_REM
    ).select("text_bytes").collect()
    assert len(bad) > 0
    for r in bad:
        assert synth.INVALID_BYTES in r["text_bytes"]


def test_count_equality_vs_scalar_oracle(spark, sf_dir):
    """Per-sink routed-row counts: Spark pipeline == pure-Python oracle."""
    pages, parsed = _collect_parsed(spark, sf_dir)
    dim_rows = build_routing_dim(spark).collect()
    dim = {(r["lang"], r["host"]): r["sink_id"] for r in dim_rows}
    golden = rp.sink_counts([r.asDict() for r in pages.collect()], dim)

    routed = route(parsed, build_routing_dim(spark))
    got = {
        (r["sink_id"], r["event_type"]): r["n"]
        for r in routed.groupBy("sink_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == golden
