"""MERGE-shaped upsert on the parquet plan-B sink: replay idempotence,
content idempotence, deletes, snapshot time travel (the T2 safepoint /
Iceberg-MERGE analog, /root/reference/reader/enhanced_reader.go:129-136)."""

from __future__ import annotations

import pytest

from bocadillo_spark.plans.merge import (
    current_version,
    merge_upsert,
    read_table,
    table_history,
)


def _rows(spark, table_dir, version=None):
    return sorted(
        tuple(r) for r in read_table(spark, table_dir, version)
        .select("url", "doc_id", "state").collect()
    )


def test_merge_upsert_replay_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [("u1", 1, "a"), ("u2", 2, "a"), ("u3", 3, "a")],
        "url string, doc_id long, state string",
    )
    m1 = merge_upsert(spark, t, base, ["url"], batch_id=1)
    assert (m1["version"], m1["operation"], m1["row_count"]) == (1, "create", 3)

    upd = spark.createDataFrame(
        [("u2", 2, "b"), ("u4", 4, "a")],  # one matched (update), one insert
        "url string, doc_id long, state string",
    )
    m2 = merge_upsert(spark, t, upd, ["url"], batch_id=2)
    assert (m2["version"], m2["row_count"]) == (2, 4)
    assert _rows(spark, t) == [("u1", 1, "a"), ("u2", 2, "b"), ("u3", 3, "a"), ("u4", 4, "a")]

    # replay of an already-committed batch_id: NO-OP, no new snapshot
    m2r = merge_upsert(spark, t, upd, ["url"], batch_id=2)
    assert m2r.get("skipped_replay") and current_version(t) == 2

    # same content under a NEW batch_id: new snapshot, identical table
    m3 = merge_upsert(spark, t, upd, ["url"], batch_id=3)
    assert m3["version"] == 3
    assert _rows(spark, t) == _rows(spark, t, version=2)

    # time travel: v1 still shows the pre-merge state
    assert _rows(spark, t, version=1) == [("u1", 1, "a"), ("u2", 2, "a"), ("u3", 3, "a")]
    assert [h["version"] for h in table_history(t)] == [1, 2, 3]


def test_merge_schema_evolution_add_column(spark, tmp_path):
    """Iceberg add-column semantics: a batch with a NEW column merges; old
    rows read back NULL for it; the snapshot schema is the union and is
    recorded in the commit metadata."""
    t = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [("u1", 1, "a"), ("u2", 2, "a")], "url string, doc_id long, state string"
    )
    merge_upsert(spark, t, base, ["url"], batch_id=1)
    upd = spark.createDataFrame(
        [("u2", 2, "b", 0.9), ("u3", 3, "a", 0.5)],
        "url string, doc_id long, state string, quality double",
    )
    m = merge_upsert(spark, t, upd, ["url"], batch_id=2)
    assert "quality" in m["schema"]
    rows = {r["url"]: (r["state"], r["quality"]) for r in read_table(spark, t).collect()}
    assert rows == {"u1": ("a", None), "u2": ("b", 0.9), "u3": ("a", 0.5)}
    # and a batch missing an existing column still merges (null-filled)
    upd2 = spark.createDataFrame([("u4", 4, "a")], "url string, doc_id long, state string")
    merge_upsert(spark, t, upd2, ["url"], batch_id=3)
    r4 = [r for r in read_table(spark, t).collect() if r["url"] == "u4"][0]
    assert r4["quality"] is None
    # old snapshot (pre-evolution) is still readable with its own schema
    assert "quality" not in read_table(spark, t, version=1).columns


def test_cdc_stream_resume_exactly_once(spark, sf_dir, tmp_path):
    """Kill the CDC stream after ≥1 committed merge, restart from the
    checkpoint: final table equals the batch-computed latest state exactly
    (epoch-id replay hits merge_upsert's committed-batch no-op)."""
    import time

    from pyspark.sql import functions as F

    from bocadillo_spark.operators.parse import parse_events, with_attrs, with_host
    from bocadillo_spark.streaming.cdc import start_cdc_stream
    from bocadillo_spark.synth import write_pages

    pages_dir = write_pages(spark, sf_dir, str(tmp_path / "pages"), num_partitions=8)
    table, ckpt = str(tmp_path / "tbl"), str(tmp_path / "ckpt")

    q = start_cdc_stream(spark, pages_dir, table, ckpt, max_files_per_trigger=2)
    deadline = time.time() + 120
    while time.time() < deadline and current_version(table) < 1:
        time.sleep(0.5)
    q.stop()
    assert current_version(table) >= 1

    q2 = start_cdc_stream(spark, pages_dir, table, ckpt, max_files_per_trigger=2)
    q2.awaitTermination()

    got = {
        (r["doc_id"], r["seq"], r["new_img"])
        for r in read_table(spark, table).select("doc_id", "seq", "new_img").collect()
    }
    ev = with_attrs(
        parse_events(with_host(spark.read.parquet(pages_dir)))
    ).where(F.col("event_type") == "update")
    want = {
        (r["doc_id"], r["seq"], r["new_img"])
        for r in ev.select(
            F.col("attrs")["k1"].cast("long").alias("doc_id"),
            F.col("seq").cast("long").alias("seq"),
            F.col("attrs")["new"].cast("long").alias("new_img"),
        )
        .groupBy("doc_id")
        .agg(F.max("seq").alias("seq"), F.max_by("new_img", "seq").alias("new_img"))
        .collect()
    }
    assert got == want


def test_crash_between_metadata_and_pointer_replays(spark, tmp_path):
    """Metadata json lands BEFORE the pointer swap; a crash in between must
    NOT make the replayed batch look committed — it re-applies and
    overwrites the orphaned version."""
    import json
    import os

    t = str(tmp_path / "tbl")
    base = spark.createDataFrame([("u1", 1, "a")], "url string, doc_id long, state string")
    merge_upsert(spark, t, base, ["url"], batch_id=1)

    # simulate the crash: orphaned v2 metadata, pointer still at v1
    orphan = {"version": 2, "parent": 1, "operation": "merge", "batch_id": 2,
              "key": ["url"], "row_count": 999, "schema": "x"}
    with open(os.path.join(t, "_snapshots", "v000002.json"), "w") as f:
        json.dump(orphan, f)
    assert current_version(t) == 1

    upd = spark.createDataFrame([("u2", 2, "b")], "url string, doc_id long, state string")
    m = merge_upsert(spark, t, upd, ["url"], batch_id=2)  # replay of the "crashed" batch
    assert not m.get("skipped_replay"), "orphaned metadata must not suppress the replay"
    assert (m["version"], m["row_count"]) == (2, 2)
    assert _rows(spark, t) == [("u1", 1, "a"), ("u2", 2, "b")]


def test_empty_create_is_noop(spark, tmp_path):
    t = str(tmp_path / "tbl")
    empty = spark.createDataFrame([], "url string, doc_id long, state string")
    m = merge_upsert(spark, t, empty, ["url"], batch_id=1)
    assert m.get("empty_noop") and current_version(t) == 0
    # the same batch_id applied later WITH data must not be suppressed
    base = spark.createDataFrame([("u1", 1, "a")], "url string, doc_id long, state string")
    m2 = merge_upsert(spark, t, base, ["url"], batch_id=1)
    assert m2["version"] == 1 and _rows(spark, t) == [("u1", 1, "a")]


def test_compact_and_expire_snapshots(spark, tmp_path):
    """Compaction rewrites the current snapshot data-identically into fewer
    files; expiry GCs old snapshot data while keeping commit history."""
    import glob

    import pytest

    from bocadillo_spark.plans.merge import compact, expire_snapshots

    t = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(f"u{i}", i, "a") for i in range(50)], "url string, doc_id long, state string"
    ).repartition(8)
    merge_upsert(spark, t, base, ["url"], batch_id=1)
    upd = spark.createDataFrame(
        [("u1", 1, "b")], "url string, doc_id long, state string"
    )
    merge_upsert(spark, t, upd, ["url"], batch_id=2)

    before = _rows(spark, t)
    m = compact(spark, t)
    assert m["operation"] == "compact" and m["version"] == 3
    assert _rows(spark, t) == before  # data identical
    # compaction folds every live bucket to exactly one file, owned by v3
    bucket_dirs = glob.glob(f"{t}/snapshots/snap-000003/__bucket=*")
    assert bucket_dirs, "compacted snapshot must be bucketed"
    for d in bucket_dirs:
        assert len(glob.glob(f"{d}/part-*.parquet")) == 1, d
    assert all(i["owner"] == 3 for i in m["buckets"].values())

    expired = expire_snapshots(t, keep_last=1)
    assert expired == [1, 2]
    assert _rows(spark, t) == before  # latest still readable
    assert [h["version"] for h in table_history(t)] == [1, 2, 3]  # history kept
    with pytest.raises(ValueError, match="expired"):
        read_table(spark, t, version=1)


def test_untouched_buckets_not_rewritten(spark, tmp_path):
    """The partition-scoped COW contract: a MERGE physically rewrites ONLY
    the buckets containing batch keys; every other bucket's files stay
    byte-identical on disk (carried into the new snapshot by manifest
    reference), and reads resolve across snapshot directories."""
    import glob
    import os

    from bocadillo_spark.plans.merge import _bucket_col, expire_snapshots
    from pyspark.sql import functions as F

    t = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(f"u{i}", i, "a") for i in range(200)], "url string, doc_id long, state string"
    )
    m1 = merge_upsert(spark, t, base, ["url"], batch_id=1, n_buckets=8)
    assert m1["n_buckets"] == 8 and len(m1["buckets"]) == 8

    def file_state(version):
        out = {}
        for p in glob.glob(f"{t}/snapshots/snap-{version:06d}/__bucket=*/part-*"):
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
        return out

    v1_files = file_state(1)
    upd = spark.createDataFrame([("u1", 1, "b")], "url string, doc_id long, state string")
    touched = {
        int(r["b"])
        for r in upd.select(_bucket_col(["url"], 8).alias("b")).distinct().collect()
    }
    m2 = merge_upsert(spark, t, upd, ["url"], batch_id=2)

    # untouched buckets: still owned by v1, files untouched on disk
    assert file_state(1) == v1_files, "v1 data files must not be rewritten"
    v2_bucket_dirs = {
        int(os.path.basename(d).split("=")[1])
        for d in glob.glob(f"{t}/snapshots/snap-000002/__bucket=*")
    }
    assert v2_bucket_dirs == touched, "v2 must write ONLY the touched buckets"
    for k, info in m2["buckets"].items():
        assert info["owner"] == (2 if int(k) in touched else 1)
    assert m2["row_count"] == 200

    # the merged read resolves across both snapshot dirs
    rows = dict(
        (r["url"], r["state"]) for r in read_table(spark, t).collect()
    )
    assert rows["u1"] == "b" and rows["u0"] == "a" and len(rows) == 200

    # expiry must NOT delete v1 data while v2's manifest references it
    assert expire_snapshots(t, keep_last=1) == []
    assert file_state(1) == v1_files
    assert dict(
        (r["url"], r["state"]) for r in read_table(spark, t).collect()
    ) == rows


def test_merge_upsert_delete_and_batch_dedupe(spark, tmp_path):
    t = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [("u1", 1, "a"), ("u2", 2, "a")], "url string, doc_id long, state string"
    )
    merge_upsert(spark, t, base, ["url"], batch_id=1)

    # batch carries a duplicate key (last-writer-wins, deterministic) and a delete
    upd = spark.createDataFrame(
        [("u1", 1, "x", False), ("u1", 1, "z", False), ("u2", 2, "a", True)],
        "url string, doc_id long, state string, deleted boolean",
    )
    m = merge_upsert(spark, t, upd, ["url"], batch_id=2, delete_col="deleted")
    assert m["row_count"] == 1
    assert _rows(spark, t) == [("u1", 1, "z")]


def test_mor_final_state_equals_cow(spark, tmp_path):
    """Updates, inserts, hard deletes, a delete then re-insert in a later
    batch and an intra-batch tie land in the table built by hand below.
    (The name dates from the merge-on-read twin this test once compared
    against; copy-on-write is now the only protocol.)"""
    schema = "url string, doc_id long, state string, deleted boolean"
    t = str(tmp_path / "tbl")
    batches = [
        [(f"u{i}", i, "a", False) for i in range(40)],
        # update + insert
        [("u3", 3, "b", False), ("u40", 40, "a", False)],
        # hard delete + update of a previously-updated key
        [("u5", 5, None, True), ("u3", 3, "c", False)],
        # delete then re-insert in a LATER batch
        [("u7", 7, None, True)],
        [("u7", 7, "z", False), ("u41", 41, "a", False)],
        # intra-batch tie on u9: dedupe keeps max struct -> "y" > "x"
        [("u9", 9, "x", False), ("u9", 9, "y", False)],
    ]
    for i, b in enumerate(batches):
        m = merge_upsert(
            spark, t, spark.createDataFrame(b, schema), ["url"],
            batch_id=i, delete_col="deleted",
        )
    expected = {f"u{i}": (i, "a") for i in range(42) if i != 5}
    expected.update({"u3": (3, "c"), "u7": (7, "z"), "u9": (9, "y")})
    want = sorted((u, d, s) for u, (d, s) in expected.items())
    assert _rows(spark, t) == want
    assert m["row_count"] == len(want) == 41


def test_mor_replay_compact_and_expire(spark, tmp_path):
    """An epoch with an update and a hard delete is replay-idempotent;
    compact() after it is data-identical with an exact row_count; expiry
    down to the compacted snapshot keeps it readable. (The name dates from
    the merge-on-read epochs this test once ran.)"""
    from bocadillo_spark.plans.merge import compact, expire_snapshots

    t = str(tmp_path / "tbl")
    schema = "url string, doc_id long, state string, deleted boolean"
    merge_upsert(
        spark, t,
        spark.createDataFrame([(f"u{i}", i, "a", False) for i in range(30)], schema),
        ["url"], batch_id=0, delete_col="deleted",
    )
    m1 = merge_upsert(
        spark, t,
        spark.createDataFrame([("u1", 1, "b", False), ("u2", 2, None, True)], schema),
        ["url"], batch_id=1, delete_col="deleted",
    )
    assert m1["row_count"] == 29
    # replay: no-op
    r = merge_upsert(
        spark, t,
        spark.createDataFrame([("u1", 1, "b", False)], schema),
        ["url"], batch_id=1, delete_col="deleted",
    )
    assert r.get("skipped_replay") and current_version(t) == 2

    before = _rows(spark, t)
    assert ("u1", 1, "b") in before and all(r[0] != "u2" for r in before)

    mc = compact(spark, t)
    assert (mc["operation"], mc["version"], mc["row_count"]) == ("compact", 3, 29)
    assert _rows(spark, t) == before

    # keep_last=1 retains only the compacted snapshot
    assert expire_snapshots(t, keep_last=1) == [1, 2]
    assert _rows(spark, t) == before


def test_unsupported_manifest_rejected(spark, tmp_path):
    """A manifest this protocol does not write — merge-on-read `deltas` /
    `deletes` entries, or no bucket map (the flat layout) — raises on read,
    merge and expiry instead of being read as plain buckets."""
    import json
    import os
    import shutil

    from bocadillo_spark.plans.merge import expire_snapshots

    t = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(f"u{i}", i, "a") for i in range(20)], "url string, doc_id long, state string"
    )
    merge_upsert(spark, t, base, ["url"], batch_id=1)
    meta_dir = os.path.join(t, "_snapshots")
    with open(os.path.join(meta_dir, "v000001.json")) as f:
        v1 = json.load(f)

    def commit_by_hand(meta):
        with open(os.path.join(meta_dir, f"v{meta['version']:06d}.json"), "w") as f:
            json.dump(meta, f)
        with open(os.path.join(t, "_latest"), "w") as f:
            f.write(str(meta["version"]))

    # every path the manifest names exists, so reading it as plain
    # buckets would succeed (with duplicated rows)
    mor = dict(v1, version=2, parent=1, batch_id=2)
    k, e = sorted(v1["buckets"].items())[0]
    mor["buckets"] = dict(v1["buckets"])
    mor["buckets"][k] = dict(e, deltas=[{"version": 1, "rows": e["rows"]}])
    commit_by_hand(mor)
    with pytest.raises(ValueError, match="merge-on-read"):
        read_table(spark, t)
    with pytest.raises(ValueError, match="merge-on-read"):
        expire_snapshots(t, keep_last=1)
    with pytest.raises(ValueError, match="merge-on-read"):
        merge_upsert(spark, t, base.limit(1), ["url"], batch_id=3)

    flat = {k2: v for k2, v in v1.items() if k2 != "buckets"}
    flat.update(version=3, parent=2, batch_id=3)
    snaps = os.path.join(t, "snapshots")
    shutil.copytree(f"{snaps}/snap-000001", f"{snaps}/snap-000003")
    commit_by_hand(flat)
    with pytest.raises(ValueError, match="bucket manifest"):
        read_table(spark, t)
    with pytest.raises(ValueError, match="bucket manifest"):
        expire_snapshots(t, keep_last=1)


# ---------------------------------------------------------------------------
# Contracts on NULL keys, key validation, empty batches and the registry
# query's workspace.
# ---------------------------------------------------------------------------


def test_null_key_merge_idempotent(spark, tmp_path):
    t = str(tmp_path / "tbl_nullkey")
    base = spark.createDataFrame(
        [("u1", 1, "a"), (None, 2, "a")],
        "url string, doc_id long, state string",
    )
    merge_upsert(spark, t, base, ["url"], batch_id=1)
    # re-merging identical content must produce an identical table
    merge_upsert(spark, t, base, ["url"], batch_id=2)
    rows = read_table(spark, t).collect()
    assert len(rows) == 2, f"null-key row duplicated: {sorted(map(repr, rows))}"


def test_key_mismatch_rejected(spark, tmp_path):
    t = str(tmp_path / "tbl_keymismatch")
    base = spark.createDataFrame(
        [("u1", 1, "a"), ("u2", 2, "a")],
        "url string, doc_id long, state string",
    )
    merge_upsert(spark, t, base, ["url"], batch_id=1)
    upd = spark.createDataFrame(
        [("u1", 1, "b")], "url string, doc_id long, state string"
    )
    with pytest.raises(ValueError):
        merge_upsert(spark, t, upd, ["url", "doc_id"], batch_id=2)


def test_empty_batch_no_version_churn(spark, tmp_path):
    t = str(tmp_path / "tbl_emptybatch")
    base = spark.createDataFrame(
        [("u1", 1, "a")], "url string, doc_id long, state string"
    )
    merge_upsert(spark, t, base, ["url"], batch_id=1)
    v1 = current_version(t)
    empty = spark.createDataFrame([], "url string, doc_id long, state string")
    merge_upsert(spark, t, empty, ["url"], batch_id=2)
    assert current_version(t) == v1, "empty batch consumed a version"


def test_merge_query_workspace_reused(spark):
    import glob

    from bocadillo_spark.queries import QUERIES

    sf_dir = "/root/testdata/sf0.001"
    before = set(glob.glob("/tmp/bocadillo_merge_q_*"))
    QUERIES["merge_upsert_state"](spark, sf_dir).collect()
    QUERIES["merge_upsert_state"](spark, sf_dir).collect()
    after = set(glob.glob("/tmp/bocadillo_merge_q_*"))
    assert len(after - before) <= 1, (
        f"each invocation leaked a fresh workspace: {sorted(after - before)}"
    )


def test_broadcast_probe_sees_delete_keys(spark, tmp_path, monkeypatch):
    """The anti-join's broadcast decision must probe the frame actually
    broadcast — the FULL keyset (upsert keys ∪ delete keys) — not the
    upsert batch alone: a delete-heavy batch with a tiny upsert side
    would otherwise broadcast an unbounded delete keyset (r06 review #1,
    the committed-plan scale-killer). Pins the probed frame's cardinality."""
    from bocadillo_spark.plans import merge as M

    t = str(tmp_path / "tbl_probe")
    base = spark.createDataFrame(
        [(f"u{i}", i, "a") for i in range(10)],
        "url string, doc_id long, state string",
    )
    merge_upsert(spark, t, base, ["url"], batch_id=1)

    probed_counts = []
    real_small = M._small

    def spy(df):
        probed_counts.append(df.count())
        return real_small(df)

    monkeypatch.setattr(M, "_small", spy)
    # 1 upsert + 8 deletes: the probe must see all 9 distinct keys
    upd = spark.createDataFrame(
        [("u0", 0, "b", False)] + [(f"u{i}", i, "a", True) for i in range(1, 9)],
        "url string, doc_id long, state string, deleted boolean",
    )
    merge_upsert(spark, t, upd, ["url"], batch_id=2, delete_col="deleted")
    assert probed_counts == [9], (
        f"broadcast probe saw {probed_counts}, expected the full 9-key "
        "upsert+delete keyset"
    )
