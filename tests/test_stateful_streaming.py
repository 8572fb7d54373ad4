"""applyInPandasWithState: cumulative per-user state across micro-batches
must converge to the batch aggregate (order-insensitive invariant)."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from bocadillo_spark.streaming.stateful import user_activity_stream


def test_stateful_user_tracker_converges_to_batch(spark, sf_dir):
    ev_path = f"{sf_dir}/events.parquet"
    batch = spark.read.parquet(ev_path)
    expected = {
        r["user_id"]: (r["n"], r["v"])
        for r in batch.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col("value") * 100)) / 100).alias("v"),
        )
        .collect()
    }

    with tempfile.TemporaryDirectory() as tmp:
        spark.read.parquet(ev_path).repartition(5).write.parquet(f"{tmp}/events")
        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/events")
        )
        q = (
            user_activity_stream(stream)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("user_tracker")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    rows = spark.sql("SELECT * FROM user_tracker").collect()
    assert len(rows) > len(expected)  # multiple emissions per user → state really spanned batches
    last = {}
    for r in rows:  # memory sink appends in emission order; keep max total
        cur = last.get(r["user_id"])
        if cur is None or r["total_events"] > cur[0]:
            last[r["user_id"]] = (r["total_events"], r["total_value"])
    got = {u: (n, round(v, 2)) for u, (n, v) in last.items()}
    want = {u: (n, round(v, 2)) for u, (n, v) in expected.items()}
    assert got == want


def test_ttl_eviction_path():
    """The hasTimedOut branch removes state — driven with a fake GroupState
    (a live processing-time timeout would keep an availableNow query
    spinning forever, see make_tracker docstring)."""
    from bocadillo_spark.streaming.stateful import make_tracker

    class FakeState:
        def __init__(self):
            self.hasTimedOut = True
            self.removed = False
            self.exists = False

        def remove(self):
            self.removed = True

    st = FakeState()
    out = list(make_tracker(ttl_ms=1000)((7,), iter([]), st))
    assert out == []
    assert st.removed
