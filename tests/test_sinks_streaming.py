"""Fan-out sinks, lineage manifests, streaming checkpoint resume.

The resume test is the safepoint round-trip analog
(/root/reference/reader/enhanced_reader.go:129-147): kill after a partial
run, restart from checkpoint, end state identical — no loss, no dup."""

from __future__ import annotations

import os
import re
import tempfile

from pyspark.sql import functions as F

from bocadillo_spark.operators.aggregate import sink_counts
from bocadillo_spark.operators.parse import parse_events, with_host
from bocadillo_spark.operators.route import build_routing_dim, route
from bocadillo_spark.plans.sinks import read_manifests, read_sink_counts, write_fanout
from bocadillo_spark.streaming.stream import start_pipeline_stream
from bocadillo_spark.synth import synth_pages, write_pages


def _counts_dict(df):
    return {(r["sink_id"], r["event_type"]): r["n"] for r in df.collect()}


def _expected_counts(spark, sf_dir):
    routed = route(
        parse_events(with_host(synth_pages(spark, sf_dir))), build_routing_dim(spark)
    )
    return _counts_dict(sink_counts(routed))


def test_batch_fanout_and_manifest(spark, sf_dir):
    routed = route(
        parse_events(with_host(synth_pages(spark, sf_dir))), build_routing_dim(spark)
    )
    with tempfile.TemporaryDirectory() as out:
        manifest = write_fanout(routed, out, batch_id=0)
        # manifest totals reconcile with data read-back
        got = _counts_dict(read_sink_counts(spark, out))
        assert got == _expected_counts(spark, sf_dir)
        assert manifest["total"] == sum(got.values())
        files = manifest["files"]
        assert sum(f["n"] for f in files) == manifest["total"]
        assert all(f["first_url"] <= f["last_url"] for f in files)
        assert all(f["sink"] in manifest["sink_counts"] for f in files)
        # written data preserves bytes (binary column round-trip)
        df = spark.read.parquet(f"{out}/data/batch_id=0")
        assert df.filter(F.col("text_bytes").isNotNull()).count() > 0


def test_footer_lineage_matches_scan(spark, sf_dir):
    """Per-file lineage from parquet footer statistics must equal the
    read-back scan exactly (counts AND url bounds) — proves the
    metadata-only path is safe to use as the default."""
    from bocadillo_spark.plans.sinks import _footer_lineage

    routed = route(
        parse_events(with_host(synth_pages(spark, sf_dir))), build_routing_dim(spark)
    )
    with tempfile.TemporaryDirectory() as out:
        write_fanout(routed, out, batch_id=0)
        data_dir = f"{out}/data/batch_id=0"
        foot = _footer_lineage(data_dir)
        assert foot is not None and len(foot) > 0
        scan = (
            spark.read.parquet(data_dir)
            .groupBy(F.input_file_name().alias("f"), "sink_id", "event_type")
            .agg(F.min("url").alias("lo"), F.max("url").alias("hi"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        want = {
            r["f"].rsplit("/batch_id=0/", 1)[-1]: (r["lo"], r["hi"], r["n"]) for r in scan
        }
        got = {f["file"]: (f["first_url"], f["last_url"], f["n"]) for f in foot}
        assert got == want


def test_streaming_matches_batch(spark, sf_dir):
    with tempfile.TemporaryDirectory() as tmp:
        pages_path = write_pages(spark, sf_dir, f"{tmp}/pages", num_partitions=8)
        q = start_pipeline_stream(
            spark, pages_path, f"{tmp}/out", f"{tmp}/ckpt", max_files_per_trigger=3
        )
        q.awaitTermination()
        got = _counts_dict(read_sink_counts(spark, f"{tmp}/out"))
        assert got == _expected_counts(spark, sf_dir)
        manifests = read_manifests(f"{tmp}/out")
        assert len(manifests) >= 2  # multiple micro-batches actually happened
        assert sum(m["total"] for m in manifests) == sum(got.values())


def test_streaming_resume_no_loss_no_dup(spark, sf_dir):
    """Kill after the first committed micro-batch; restart from checkpoint;
    final counts equal the batch pipeline exactly."""
    with tempfile.TemporaryDirectory() as tmp:
        pages_path = write_pages(spark, sf_dir, f"{tmp}/pages", num_partitions=8)
        out, ckpt = f"{tmp}/out", f"{tmp}/ckpt"

        q = start_pipeline_stream(spark, pages_path, out, ckpt, max_files_per_trigger=2)
        # wait for ≥1 committed batch, then kill mid-stream
        import time

        deadline = time.time() + 120
        while time.time() < deadline and len(read_manifests(out)) < 1:
            time.sleep(0.5)
        q.stop()
        n_before = len(read_manifests(out))
        assert n_before >= 1

        q2 = start_pipeline_stream(spark, pages_path, out, ckpt, max_files_per_trigger=2)
        q2.awaitTermination()

        got = _counts_dict(read_sink_counts(spark, out))
        assert got == _expected_counts(spark, sf_dir)


def test_fanout_replay_is_idempotent(spark, sf_dir):
    """Re-running a batch (task retry / post-crash replay) must not change
    what readers see — the exactly-once safepoint guarantee (T2)."""
    import tempfile

    routed = route(
        parse_events(with_host(synth_pages(spark, sf_dir))), build_routing_dim(spark)
    )
    with tempfile.TemporaryDirectory() as out:
        m1 = write_fanout(routed, out, batch_id=7)
        got1 = _counts_dict(read_sink_counts(spark, out))
        m2 = write_fanout(routed, out, batch_id=7)  # replay same batch
        got2 = _counts_dict(read_sink_counts(spark, out))
        assert got1 == got2 == _expected_counts(spark, sf_dir)
        assert m1["sink_counts"] == m2["sink_counts"]
        assert len(read_manifests(out)) == 1  # manifest overwritten, not duplicated


def test_fanout_writes_one_file_per_directory(spark, sf_dir):
    """A small batch coalesces to one file per (sink_id, event_type)
    directory: the write is fed by an AQE rebalance on the output
    directory, not by a fixed partition count."""
    from bocadillo_spark.plans.sinks import _spread

    routed = route(
        parse_events(with_host(synth_pages(spark, sf_dir))), build_routing_dim(spark)
    )
    plan = _spread(routed)._jdf.queryExecution().executedPlan().toString()
    assert re.search(
        r"Exchange hashpartitioning\(sink_id#\d+, event_type#\d+, \d+\), "
        r"REBALANCE_PARTITIONS_BY_COL",
        plan,
    ), plan
    assert "REPARTITION_BY_NUM" not in plan
    with tempfile.TemporaryDirectory() as out:
        manifest = write_fanout(routed, out, batch_id=0)
        assert len(manifest["files"]) == len(manifest["sink_counts"])


def test_fanout_splits_large_directory_at_runtime(spark, sf_dir):
    """Past the advisory partition size AQE splits a directory's rows over
    several writers (the job the old fixed salt did), and the manifest
    still reconciles with the data read back."""
    from bocadillo_spark.synth import synth_pages_scaled

    routed = route(
        parse_events(with_host(synth_pages_scaled(spark, sf_dir, 8, 8))),
        build_routing_dim(spark),
    )
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "256KB")
    try:
        with tempfile.TemporaryDirectory() as out:
            manifest = write_fanout(routed, out, batch_id=0)
            got = _counts_dict(read_sink_counts(spark, out))
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert len(manifest["files"]) > len(manifest["sink_counts"])
    assert {f"{s}/{e}": n for (s, e), n in got.items()} == manifest["sink_counts"]
    assert manifest["total"] == sum(got.values())
    assert got == _counts_dict(sink_counts(routed))


def test_processing_time_trigger_liveness(spark, sf_dir):
    """T6 liveness with a LONG-LIVED trigger: files that arrive while the
    query is RUNNING are picked up without any restart; empty polls in
    between are normal. (The availableNow tests cover the bounded-snapshot
    semantics; this covers the keep-polling one.)"""
    import os
    import tempfile
    import time

    with tempfile.TemporaryDirectory() as tmp:
        staged = f"{tmp}/staged"
        live = f"{tmp}/live"
        os.makedirs(live)
        write_pages(spark, sf_dir, staged, num_partitions=6)
        parts = sorted(
            f for f in os.listdir(staged) if f.startswith("part-") and f.endswith(".parquet")
        )
        for f in parts[: len(parts) // 2]:
            os.link(f"{staged}/{f}", f"{live}/{f}")

        expected_total = sum(_expected_counts(spark, sf_dir).values())
        q = start_pipeline_stream(
            spark, live, f"{tmp}/out", f"{tmp}/ckpt",
            max_files_per_trigger=2, processing_time="1 second",
        )
        try:
            deadline = time.time() + 120
            while time.time() < deadline and len(read_manifests(f"{tmp}/out")) < 1:
                time.sleep(0.5)
            assert len(read_manifests(f"{tmp}/out")) >= 1

            # the rest of the corpus arrives while the query is live
            for f in parts[len(parts) // 2 :]:
                os.link(f"{staged}/{f}", f"{live}/{f}")

            def committed_total():
                return sum(m["total"] for m in read_manifests(f"{tmp}/out"))

            deadline = time.time() + 120
            while time.time() < deadline and committed_total() < expected_total:
                time.sleep(0.5)
            assert committed_total() == expected_total
        finally:
            q.stop()
        got = _counts_dict(read_sink_counts(spark, f"{tmp}/out"))
        assert got == _expected_counts(spark, sf_dir)


def test_streaming_picks_up_late_arriving_files(spark, sf_dir):
    """Rotate analog (T3): files that appear AFTER the stream starts are
    discovered and processed; final counts equal the batch pipeline."""
    import os
    import tempfile
    import time

    with tempfile.TemporaryDirectory() as tmp:
        staged = f"{tmp}/staged"
        live = f"{tmp}/live"
        os.makedirs(live)
        write_pages(spark, sf_dir, staged, num_partitions=6)
        parts = sorted(
            f for f in os.listdir(staged) if f.startswith("part-") and f.endswith(".parquet")
        )
        assert len(parts) >= 4
        # seed with the first half
        for f in parts[: len(parts) // 2]:
            os.link(f"{staged}/{f}", f"{live}/{f}")

        from bocadillo_spark.streaming.stream import start_pipeline_stream

        q = start_pipeline_stream(
            spark, live, f"{tmp}/out", f"{tmp}/ckpt", max_files_per_trigger=1
        )
        deadline = time.time() + 120
        while time.time() < deadline and len(read_manifests(f"{tmp}/out")) < 1:
            time.sleep(0.5)
        assert len(read_manifests(f"{tmp}/out")) >= 1
        q.stop()  # availableNow snapshot is done or in flight; stop cleanly

        # the rest of the corpus "rotates in" later
        for f in parts[len(parts) // 2 :]:
            os.link(f"{staged}/{f}", f"{live}/{f}")
        q2 = start_pipeline_stream(
            spark, live, f"{tmp}/out", f"{tmp}/ckpt", max_files_per_trigger=1
        )
        q2.awaitTermination()

        got = _counts_dict(read_sink_counts(spark, f"{tmp}/out"))
        assert got == _expected_counts(spark, sf_dir)


def test_dedup_stream_state_survives_restart(spark, sf_dir):
    """Cross-restart stateful dedup (T2 safepoint on the dedup operator):
    phase 1 streams the originals to completion; phase 2 appends recrawl
    duplicates as NEW input files and restarts the query on the same
    checkpoint. The dedup state must be recovered from the state store —
    every phase-2 row is a duplicate of a phase-1 url, so the output must
    not grow by a single row."""
    import glob

    from pyspark.sql import functions as F

    from bocadillo_spark.streaming.stream import run_dedup_stream

    with tempfile.TemporaryDirectory() as tmp:
        pages_path = write_pages(spark, sf_dir, f"{tmp}/pages", num_partitions=4)
        pages = spark.read.parquet(pages_path)
        stream_in, out, ckpt = f"{tmp}/in", f"{tmp}/dedup_out", f"{tmp}/dedup_ckpt"

        pages.repartition(4).write.mode("overwrite").parquet(stream_in)
        run_dedup_stream(spark, stream_in, out, ckpt, max_files_per_trigger=2)
        n_urls = pages.select("url").distinct().count()
        phase1 = spark.read.parquet(out).count()
        assert phase1 == n_urls
        offsets_before = len(glob.glob(f"{ckpt}/offsets/*"))

        # phase 2: recrawls of ~1/3 of urls arrive as new files
        recrawls = pages.where(F.pmod(F.xxhash64("url"), F.lit(3)) == 0).withColumn(
            "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1000 SECONDS")
        )
        assert recrawls.count() > 0
        recrawls.repartition(2).write.mode("append").parquet(stream_in)
        run_dedup_stream(spark, stream_in, out, ckpt, max_files_per_trigger=2)

        # the restarted query really discovered and processed the new files
        assert len(glob.glob(f"{ckpt}/offsets/*")) > offsets_before
        # ...and the recovered state deduped every one of them
        assert spark.read.parquet(out).count() == n_urls


# ---------------------------------------------------------------------------
# Round-6 third-review findings (REVIEW_r06.md batch 3, #3 and #4).
# ---------------------------------------------------------------------------


def test_read_sink_counts_ignores_uncommitted_batches(spark, sf_dir):
    routed = route(
        parse_events(with_host(synth_pages(spark, sf_dir))), build_routing_dim(spark)
    )
    with tempfile.TemporaryDirectory() as out:
        m0 = write_fanout(routed, out, batch_id=0)
        # simulate a crash between the parquet write and the atomic
        # manifest commit: batch 1's data lands, its manifest never does
        write_fanout(routed, out, batch_id=1)
        os.remove(f"{out}/_manifests/batch_1.json")
        got_total = sum(
            r["n"] for r in read_sink_counts(spark, out).collect()
        )
        committed_total = sum(m["total"] for m in read_manifests(out))
        assert got_total == committed_total == m0["total"], (
            f"uncommitted batch counted: readback={got_total} "
            f"committed={committed_total}"
        )
        # no committed batch at all: an empty frame, not the landed data
        os.remove(f"{out}/_manifests/batch_0.json")
        assert read_sink_counts(spark, out).count() == 0


def test_read_shard_stats_empty_export(spark):
    from bocadillo_spark.plans.export import read_shard_stats, write_training_shards

    empty = spark.createDataFrame(
        [], "doc_id long, lang string, text string"
    )
    with tempfile.TemporaryDirectory() as out:
        n_shards = write_training_shards(empty, out)
        assert n_shards == 1
        stats = read_shard_stats(spark, out)
        assert stats.count() == 0
        assert [f.name for f in stats.schema.fields] == [
            "shard", "n_docs", "shard_tokens",
        ]
