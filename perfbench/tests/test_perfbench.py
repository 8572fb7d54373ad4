"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import gen  # noqa: E402
import oracle  # noqa: E402
import tracing  # noqa: E402
from workloads import BatchWorkload, Lander, latencies  # noqa: E402

from bocadillo_spark import refparser  # noqa: E402


def test_generator_is_deterministic_per_seed():
    a_pages, a_spec = gen.gen_pages(gen.rng_for(5, "batch_counts"), 300)
    b_pages, b_spec = gen.gen_pages(gen.rng_for(5, "batch_counts"), 300)
    c_pages, _ = gen.gen_pages(gen.rng_for(6, "batch_counts"), 300)
    d_pages, _ = gen.gen_pages(gen.rng_for(5, "stream_fanout"), 300)
    assert a_pages.equals(b_pages) and a_spec.equals(b_spec)
    assert not a_pages.equals(c_pages)
    assert not a_pages.equals(d_pages)
    docs1 = gen.gen_documents(gen.rng_for(5, "curation_export"), 200, 2)
    docs2 = gen.gen_documents(gen.rng_for(5, "curation_export"), 200, 2)
    assert docs1.equals(docs2)


def test_generator_plants_every_fixture():
    pages, spec = gen.gen_pages(gen.rng_for(3, "batch_counts"), 3000)
    d = spec.to_pydict()
    assert any(d["empty_html"])
    assert "unknown" in d["lang"]
    assert any(l == "zh" and h >= gen.ZH_DARK_HOST_MIN for l, h in zip(d["lang"], d["host_id"]))
    assert any(gen.INVALID_BYTES in h for h in pages.column("html").to_pylist())


def test_replicas_keep_eval_split_and_stopwords():
    docs = gen.gen_documents(gen.rng_for(1, "curation_export"), 100, 3).to_pydict()
    n = 100
    base_text = docs["text"][:n]
    stride = docs["doc_id"][n]
    assert stride % gen.DECONTAM_EVAL_MOD == 0
    for i in range(n):
        rep = docs["text"][n + i].split(" ")
        assert [w if w in gen.STOPWORDS else w + "1" for w in base_text[i].split(" ")] == rep


def _scalar_counts(pages: pa.Table) -> dict:
    """The program's scalar oracle over the generated html."""
    dim = {
        (lang, f"h{h:03d}"): f"sink_{lang}"
        for lang in gen.KNOWN_LANGS
        for h in range(gen.N_HOSTS)
        if not (lang == "zh" and h >= gen.ZH_DARK_HOST_MIN)
    }
    got = refparser.sink_counts(pages.to_pylist(), dim)
    return {f"{s}/{e}": n for (s, e), n in got.items()}


def test_spec_oracle_matches_scalar_parse_on_tiny_seed():
    pages, spec = gen.gen_pages(gen.rng_for(2, "batch_counts"), 1500)
    assert oracle.expected_counts(spec) == _scalar_counts(pages)


def test_per_file_oracle_sums_to_whole():
    _pages, spec = gen.gen_pages(gen.rng_for(4, "stream_fanout"), 400)
    spec = spec.append_column("file", pa.array([i // 100 for i in range(400)], pa.int32()))
    total: dict = {}
    for c in oracle.expected_counts_by_file(spec).values():
        oracle.add_counts(total, c)
    assert total == oracle.expected_counts(spec.drop_columns(["file"]))


def test_text_bytes_check_reads_written_files(tmp_path):
    pages, _spec = gen.gen_pages(gen.rng_for(7, "batch_counts"), 50)
    rows = [
        {"url": u, "seq": 0, "text_bytes": refparser.parse_page(h).text_bytes}
        for u, h in zip(pages.column("url").to_pylist(), pages.column("html").to_pylist())
        if h
    ]
    d = tmp_path / "data" / "batch_id=0" / "sink_id=sink_en" / "event_type=write"
    d.mkdir(parents=True)
    pq.write_table(pa.Table.from_pylist(rows), d / "part-0.parquet")
    html = {r["url"]: h for r, h in zip(rows, [h for h in pages.column("html").to_pylist() if h])}
    assert oracle.text_bytes_mismatches(str(tmp_path / "data"), html) == []
    first = rows[0]["url"]
    bad = dict(html)
    bad[first] = html[first].replace(b"</body>", b"x</body>")
    assert oracle.text_bytes_mismatches(str(tmp_path / "data"), bad) == [first]


def test_prefix_self_times_telescope():
    walls = [("sources", 0.5), ("parse", 2.0), ("route", 2.75), ("aggregate", 3.0)]
    st = tracing.prefix_self_times(walls)
    assert st == {"sources": 0.5, "parse": 1.5, "route": 0.75, "aggregate": 0.25}
    assert sum(st.values()) == pytest.approx(walls[-1][1])


def test_quantile_interpolates():
    assert tracing.quantile([3.0], 0.9) == 3.0
    assert tracing.quantile([1.0, 2.0, 3.0, 4.0, 5.0], 0.5) == 3.0
    assert tracing.quantile(list(map(float, range(11))), 0.9) == pytest.approx(9.0)


def test_latency_counts_from_scheduled_time_and_flags_uncommitted():
    scheduled = {"a": 100.0, "b": 100.5, "c": 101.0}
    file_batch = {"a": 3, "b": 4, "c": 5}
    commits = {3: 102.0, 4: 102.0}  # batch 5 never committed
    lat, missing = latencies(scheduled, file_batch, commits)
    assert lat == {"a": 2.0, "b": 1.5}
    assert missing == ["c"]


def test_lander_lands_on_schedule_and_reports_lateness(tmp_path):
    staged = []
    for i in range(4):
        p = tmp_path / f"part-{i:04d}.parquet"
        p.write_bytes(b"x" * 10)
        staged.append(str(p))
    landing, tmp = tmp_path / "landing", tmp_path / "tmp"
    landing.mkdir()
    tmp.mkdir()
    t0 = time.time() + 0.05
    lander = Lander(staged, str(landing), str(tmp), t0, rate=20.0)
    lander.start()
    lander.join(timeout=10)
    assert not lander.is_alive()
    assert sorted(os.listdir(landing)) == [os.path.basename(s) for s in staged]
    assert list(lander.scheduled.values()) == pytest.approx([t0 + i / 20.0 for i in range(4)])
    assert all(late >= 0 for late in lander.late)


def test_parse_size_mb():
    assert tracing.parse_size_mb("3.1 KiB") == pytest.approx(3.1 * 1024 / 1e6)
    assert tracing.parse_size_mb("total (min, med, max)\n64.0 MiB (1 MiB, 2 MiB, 3 MiB)") == pytest.approx(
        64 * 2**20 / 1e6
    )
    assert tracing.parse_size_mb("n/a") == 0.0


def test_fixed_cost_share_from_subset_and_full_pass():
    # T(n) = 2 + 0.001 n: a 1000-doc pass takes 3 s, an 8000-doc pass 10 s
    assert tracing.fixed_cost_share(3.0, 1000, 10.0, 8000) == pytest.approx(0.2)
    # wall proportional to input: no fixed share
    assert tracing.fixed_cost_share(1.0, 1000, 8.0, 8000) == pytest.approx(0.0)


def test_every_batch_pass_is_checked_warm_up_included():
    class Fake(BatchWorkload):
        warmup_full_passes = 2
        subset_path = "one-file"
        expected, subset_expected = "all", "one"
        props, docs, subset_docs = {}, 8, 1
        calls = 0

        def one_pass(self, spark, path=None):
            self.calls += 1
            if self.calls == 2:  # the first full warm-up pass is wrong
                return 0.01, "wrong"
            if self.calls == 3:  # the second raises
                raise RuntimeError("boom")
            return 0.01, "one" if path else "all"

        def mismatch(self, got, want):
            return f"{got} != {want}"

    out = Fake(1, "unused").run(None, 0.0, False, time.perf_counter(), tracing.Tracer(), tracing.ProcTree())
    assert out.attempted == 3 + 2  # subset + two full warm-up passes, then the two timed passes
    assert out.failed == 2
    assert out.failures == ["warm-up pass 1: wrong != all", "warm-up pass 2 raised: RuntimeError('boom')"]
