"""Structured Streaming tests (SURVEY.md §2.10, §5.2 differential pattern).

Strategy mirrors the reference's harness validation (its
``tests/spark/test_harness.py`` runs one job through two engines and
compares): each windowed operator runs (a) as a batch plan and (b) through
real micro-batch execution — file source → AvailableNow trigger → memory
sink — and the results must agree row-for-row. Watermark late-row dropping
and cross-batch stateful dedup, which have no batch twin, are exercised by
replaying files into a running query in a controlled order.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mrjob_spark.streaming import ops as streaming_ops
from mrjob_spark.streaming import (
    read_stream_parquet,
    run_available_now,
    session_window_agg,
    sliding_window_agg,
    stream_dedup,
    tumbling_window_agg,
    write_stream_parquet,
)

EVENTS = "{sf}/events.parquet"


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.fixture()
def events_stream(spark, sf_dir):
    return read_stream_parquet(spark, EVENTS.format(sf=sf_dir))


@pytest.fixture()
def events_batch(spark, sf_dir):
    from mrjob_spark.catalog import load_table

    return load_table(spark, sf_dir, "events")


def test_tumbling_stream_equals_batch(spark, events_stream, events_batch):
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(38,6)")).alias("sum_value"),
    ]
    got = run_available_now(
        tumbling_window_agg(
            events_stream, "ts", "10 minutes", ["event_type"], aggs,
            watermark="1 hour",
        ),
        output_mode="update",
    )
    want = tumbling_window_agg(events_batch, "ts", "10 minutes", ["event_type"], aggs)
    cols = ["wstart", "event_type", "n", "sum_value"]
    # update mode may emit several versions of a group; the last (max n) is
    # the final one — with AvailableNow over one directory there is exactly
    # one emission per group, which the row-count equality below pins down.
    assert _rows(got, cols) == _rows(want, cols)


def test_sliding_stream_equals_batch(spark, events_stream, events_batch):
    aggs = [F.count(F.lit(1)).alias("n")]
    got = run_available_now(
        sliding_window_agg(
            events_stream, "ts", "10 minutes", "5 minutes", [], aggs,
            watermark="1 hour",
        )
    )
    want = sliding_window_agg(events_batch, "ts", "10 minutes", "5 minutes", [], aggs)
    assert _rows(got, ["wstart", "n"]) == _rows(want, ["wstart", "n"])


def test_session_stream_equals_batch(spark, tmp_path):
    """Session windows only stream in append mode: a session is emitted once
    the watermark passes its end. A far-future flush event closes every real
    session so stream output can be compared exactly to the batch twin."""
    rows = [
        (_t(0), "u1", 1.0),
        (_t(10), "u1", 2.0),   # same session (gap < 30m)
        (_t(120), "u1", 3.0),  # new session
        (_t(5), "u2", 4.0),
        (_t(999999), "flush", 0.0),
    ]
    src = str(tmp_path / "src")
    _write_events(spark, src, rows)
    aggs = [F.count(F.lit(1)).alias("n_events")]

    got = run_available_now(
        session_window_agg(
            read_stream_parquet(spark, src), "ts", "30 minutes", ["key"], aggs,
            watermark="10 minutes",
        ),
        output_mode="append",
    ).filter(F.col("key") != "flush")
    want = session_window_agg(
        spark.createDataFrame([Row(ts=ts, key=k, value=v) for ts, k, v in rows]),
        "ts", "30 minutes", ["key"], aggs,
    ).filter(F.col("key") != "flush")
    cols = ["key", "session_start", "n_events"]
    assert _rows(got, cols) == _rows(want, cols)
    assert len(_rows(got, cols)) == 3


def test_session_batch_on_fixture(spark, events_batch):
    """Batch session_window over the events fixture agrees with the lag-gap
    sessionization (st3) on session count — the two constructions of
    30-min-gap sessions are equivalent."""
    from mrjob_spark.queries import REGISTRY

    ours = session_window_agg(
        events_batch, "ts", "30 minutes", ["user_id"],
        [F.count(F.lit(1)).alias("n_events")],
    )
    import os

    sf = os.environ.get("MRJOB_SPARK_TEST_SF_DIR", "/root/testdata/sf0.001")
    st3 = REGISTRY["st3_sessionization"].fn(spark, sf)
    assert ours.count() == st3.count()


def _write_events(spark, path, rows):
    spark.createDataFrame(
        [Row(ts=ts, key=k, value=v) for ts, k, v in rows]
    ).coalesce(1).write.mode("append").parquet(path)


TS0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _t(minutes):
    return TS0 + dt.timedelta(minutes=minutes)


def test_watermark_drops_late_rows(spark, tmp_path):
    """Real watermark semantics: a row older than (max event time seen −
    delay) when its micro-batch arrives is dropped from the aggregation.
    Batch 1 advances the watermark to 60−10=50 min; batch 2's row at t=5
    is late (dropped) while its row at t=65 is on time."""
    src = str(tmp_path / "src")
    _write_events(spark, src, [(_t(0), "a", 1.0), (_t(60), "a", 1.0)])

    sdf = read_stream_parquet(spark, src)
    counts = tumbling_window_agg(
        sdf, "ts", "10 minutes", ["key"],
        [F.count(F.lit(1)).alias("n")],
        watermark="10 minutes",
    )
    q = (
        counts.writeStream.format("memory")
        .queryName("wm_test")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        _write_events(spark, src, [(_t(5), "a", 1.0), (_t(65), "a", 1.0)])
        q.processAllAvailable()
    finally:
        q.stop()

    out = spark.table("wm_test")
    by_window = {
        r["wstart"]: r["n"]
        for r in out.groupBy("wstart").agg(F.max("n").alias("n")).collect()
    }
    # late t=5 row never incremented the 00:00 window; on-time t=65 did
    assert by_window[_t(0)] == 1
    assert by_window[_t(60)] == 2


def test_stream_dedup_across_microbatches(spark, tmp_path):
    """dropDuplicatesWithinWatermark holds key state across micro-batches:
    the second arrival of key 'a' (in a later file) is suppressed."""
    src = str(tmp_path / "src")
    _write_events(spark, src, [(_t(0), "a", 1.0), (_t(1), "b", 2.0)])

    sdf = read_stream_parquet(spark, src)
    deduped = stream_dedup(sdf, ["key"], ts_col="ts", watermark="2 hours")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        _write_events(spark, src, [(_t(2), "a", 99.0), (_t(3), "c", 3.0)])
        q.processAllAvailable()
    finally:
        q.stop()

    out = {r["key"]: r["value"] for r in spark.table("dedup_test").collect()}
    assert out == {"a": 1.0, "b": 2.0, "c": 3.0}


def test_restart_from_checkpoint_converges_to_batch_answer(spark, tmp_path):
    """Restart recovery — the one streaming failure mode st9/st10 don't
    drive: the st10 pipeline shape (dedup → tumbling agg → idempotent
    batch-partition-overwrite sink) is killed after processing part of the
    input, then RESTARTED from the same checkpoint via a second
    ``start()``. The restarted query must (a) not reprocess phase-1 files
    (offsets recovered), (b) resume dedup AND window state (a cross-phase
    duplicate is dropped, a window spanning both phases accumulates), and
    (c) leave the sink equal to the one-shot batch answer."""
    from mrjob_spark.streaming.io import foreach_batch_overwrite
    from mrjob_spark.streaming.ops import stream_dedup, tumbling_window_agg

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # phase 1: two events in window [0, 30), one in [30, 60)
    phase1 = [(_t(0), "a", 1.0), (_t(5), "b", 2.0), (_t(31), "c", 4.0)]
    # phase 2 (after the restart): a DUPLICATE key 'a' (dedup state must
    # survive the restart to drop it) and another row in window [0, 30)
    # (window state must survive to accumulate onto phase 1's rows)
    phase2 = [(_t(2), "a", 99.0), (_t(10), "d", 8.0), (_t(32), "e", 16.0)]

    def start_query():
        sdf = read_stream_parquet(spark, src)
        deduped = stream_dedup(sdf, ["key"], ts_col="ts", watermark="2 hours")
        agg = tumbling_window_agg(
            deduped, "ts", "30 minutes", [],
            [F.count(F.lit(1)).alias("n"), F.sum("value").alias("total")],
        )
        return (
            agg.writeStream.foreachBatch(foreach_batch_overwrite(out))
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    _write_events(spark, src, phase1)
    q = start_query()
    q.awaitTermination()  # "killed" mid-stream: phase-2 data not yet seen
    batches_phase1 = {
        r["batch_id"]
        for r in spark.read.parquet(out).select("batch_id").collect()
    }

    _write_events(spark, src, phase2)
    q = start_query()  # second start() on the SAME checkpoint
    q.awaitTermination()

    back = spark.read.parquet(out)
    # (a) phase-1 batches were not replayed: restart continued with new ids
    new_batches = {
        r["batch_id"] for r in back.select("batch_id").collect()
    } - batches_phase1
    assert new_batches and min(new_batches) > max(batches_phase1)

    # highest-batch-wins readback, like st10's consumer contract
    latest = F.max_by(F.struct("n", "total"), "batch_id").alias("v")
    got = {
        r["wstart"]: (r["v"]["n"], r["v"]["total"])
        for r in back.groupBy("wstart").agg(latest).collect()
    }
    # (b)+(c): duplicate 'a' dropped across the restart, window [0,30)
    # accumulated across both phases — exactly the batch answer
    assert got == {_t(0): (3, 11.0), _t(30): (2, 20.0)}


def test_stream_dedup_batch_twin(spark, events_batch):
    """Batch path of stream_dedup is plain dropDuplicates."""
    n_keys = events_batch.select("user_id", "event_type").distinct().count()
    assert stream_dedup(events_batch, ["user_id", "event_type"]).count() == n_keys


def test_parquet_sink_roundtrip(spark, tmp_path):
    """Production-shaped sink: stream → parquet files + checkpoint, re-read
    and verify. Exercises S8/S9-at-streaming (append mode, exactly-once)."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_events(spark, src, [(_t(0), "a", 1.0), (_t(1), "b", 2.0)])

    sdf = read_stream_parquet(spark, src)
    q = write_stream_parquet(sdf.select("key", "value"), out, ckpt)
    q.awaitTermination()

    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert got == [("a", 1.0), ("b", 2.0)]


def test_stateful_running_totals_across_microbatches(spark, tmp_path):
    """applyInPandasWithState keeps per-key (n, total) across micro-batches:
    batch 2's rows ACCUMULATE onto batch 1's state rather than restarting."""
    from mrjob_spark.streaming import stateful_running_totals

    src = str(tmp_path / "src")
    _write_events(spark, src, [(_t(0), "a", 1.0), (_t(1), "b", 2.0)])

    sdf = read_stream_parquet(spark, src)
    totals = stateful_running_totals(sdf, "key", "value")
    q = (
        totals.writeStream.format("memory")
        .queryName("running_totals")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        first = {
            r["key"]: (r["n"], r["total"])
            for r in spark.table("running_totals").collect()
        }
        _write_events(spark, src, [(_t(2), "a", 10.0), (_t(3), "a", 100.0)])
        q.processAllAvailable()
    finally:
        q.stop()

    assert first == {"a": (1, 1.0), "b": (1, 2.0)}
    latest = {}
    for r in spark.table("running_totals").collect():
        n, total = latest.get(r["key"], (0, 0.0))
        if r["n"] > n:
            latest[r["key"]] = (r["n"], r["total"])
    # key 'a' saw 3 rows totalling 111 across the two batches — state held
    assert latest["a"] == (3, 111.0)
    assert latest["b"] == (1, 2.0)


def test_stateful_running_totals_batch_twin(spark, events_batch):
    from mrjob_spark.streaming import stateful_running_totals

    got = stateful_running_totals(events_batch, "event_type", "value")
    assert got.columns == ["event_type", "n", "total"]
    assert got.count() == events_batch.select("event_type").distinct().count()


def test_stream_static_enrich_equals_batch(spark, events_stream, events_batch, sf_dir):
    from mrjob_spark.catalog import load_table
    from mrjob_spark.streaming import stream_static_enrich

    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(38,6)")).alias("sv"),
    ]

    def build(src):
        return tumbling_window_agg(
            stream_static_enrich(src, dim, on="user_id"),
            "ts", "1 hour", ["segment"], aggs,
        )

    got = run_available_now(build(events_stream), output_mode="update")
    want = build(events_batch)
    cols = ["wstart", "segment", "n", "sv"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_stream_join_equals_batch(spark, sf_dir):
    from mrjob_spark.catalog import load_table
    from mrjob_spark.streaming import stream_stream_join

    def sides(src):
        clicks = src.where(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"), "user_id", "ts"
        )
        purchases = src.where(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"), "user_id", "ts"
        )
        return clicks, purchases

    # batch twin (no watermark needed)
    bc, bp = sides(load_table(spark, sf_dir, "events"))
    want = stream_stream_join(
        bc, bp, key="user_id", left_ts="ts", right_ts="ts",
        within="30 minutes",
    ).select("click_id", "purchase_id")

    # real micro-batch execution: two streaming readers over the same
    # file, watermarks on both sides (required for state eviction; inner
    # joins emit matches immediately so availableNow drains everything)
    sc_, sp_ = sides(read_stream_parquet(spark, EVENTS.format(sf=sf_dir)))
    got = run_available_now(
        stream_stream_join(
            sc_, sp_, key="user_id", left_ts="ts", right_ts="ts",
            within="30 minutes", watermark="1 hour",
        ).select("click_id", "purchase_id"),
        output_mode="append",
    )
    cols = ["click_id", "purchase_id"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_stream_left_outer_emits_unmatched_after_watermark(spark, tmp_path):
    """Outer stream-stream semantics: an unmatched left row may only emit
    (with nulls) once the watermark guarantees no matching right row can
    still arrive. A far-future flush row advances the watermark to force
    that emission deterministically."""
    from mrjob_spark.streaming import stream_stream_join

    lsrc = str(tmp_path / "clicks")
    rsrc = str(tmp_path / "purchases")
    # u1 clicks and never purchases; u2 clicks and purchases 10 min later
    _write_events(spark, lsrc, [(_t(0), "u1", 1.0), (_t(0), "u2", 2.0)])
    _write_events(spark, rsrc, [(_t(10), "u2", 9.0)])

    clicks = read_stream_parquet(spark, lsrc).select(
        F.col("key"), F.col("ts"), F.col("value").alias("click_v")
    )
    purchases = read_stream_parquet(spark, rsrc).select(
        F.col("key"), F.col("ts"), F.col("value").alias("purchase_v")
    )
    joined = stream_stream_join(
        clicks, purchases, key="key", left_ts="ts", right_ts="ts",
        within="30 minutes", watermark="10 minutes", how="left_outer",
    ).select("key", "click_v", "purchase_v")

    q = (
        joined.writeStream.format("memory")
        .queryName("sso_test")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        mid = {r["key"]: r for r in spark.table("sso_test").collect()}
        # matched pair emits promptly; unmatched u1 must still be held back
        assert "u2" in mid and mid["u2"]["purchase_v"] == 9.0
        assert "u1" not in mid
        # advance both watermarks far past u1's join window
        _write_events(spark, lsrc, [(_t(100000), "flushL", 0.0)])
        _write_events(spark, rsrc, [(_t(100000), "flushR", 0.0)])
        q.processAllAvailable()
    finally:
        q.stop()

    out = {r["key"]: r for r in spark.table("sso_test").collect()}
    assert out["u1"]["purchase_v"] is None  # emitted with nulls post-watermark
    assert out["u2"]["purchase_v"] == 9.0


def test_stream_stream_full_outer_drains_both_sides(spark, tmp_path):
    """Full-outer stream-stream: unmatched rows on EACH side emit with
    nulls once the opposite watermark clears their window — the
    strictest state-eviction case (both join buffers must drain)."""
    from mrjob_spark.streaming import stream_stream_join

    lsrc = str(tmp_path / "clicks")
    rsrc = str(tmp_path / "purchases")
    # u1 clicks, never purchases; u3 purchases, never clicks;
    # u2 does both within the window
    _write_events(spark, lsrc, [(_t(0), "u1", 1.0), (_t(0), "u2", 2.0)])
    _write_events(spark, rsrc, [(_t(10), "u2", 9.0), (_t(0), "u3", 7.0)])

    clicks = read_stream_parquet(spark, lsrc).select(
        F.col("key"), F.col("ts"), F.col("value").alias("click_v")
    )
    purchases = read_stream_parquet(spark, rsrc).select(
        F.col("key"), F.col("ts"), F.col("value").alias("purchase_v")
    )
    joined = stream_stream_join(
        clicks, purchases, key="key", left_ts="ts", right_ts="ts",
        within="30 minutes", watermark="10 minutes", how="full_outer",
    ).select("key", "click_v", "purchase_v")

    q = (
        joined.writeStream.format("memory")
        .queryName("ssfo_test")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        _write_events(spark, lsrc, [(_t(100000), "flushL", 0.0)])
        _write_events(spark, rsrc, [(_t(100000), "flushR", 0.0)])
        q.processAllAvailable()
    finally:
        q.stop()

    out = {r["key"]: r for r in spark.table("ssfo_test").collect()
           if not r["key"].startswith("flush")}
    assert out["u2"]["click_v"] == 2.0 and out["u2"]["purchase_v"] == 9.0
    assert out["u1"]["click_v"] == 1.0 and out["u1"]["purchase_v"] is None
    assert out["u3"]["click_v"] is None and out["u3"]["purchase_v"] == 7.0


def test_foreach_batch_overwrite_replay_is_duplicate_free(spark, tmp_path):
    """Re-delivering the SAME batch id (what Structured Streaming does after
    a failure between foreachBatch and offset commit) must overwrite that
    batch's partition, not append; other batches' partitions survive."""
    from mrjob_spark.streaming.io import foreach_batch_overwrite

    out = str(tmp_path / "sink")
    write = foreach_batch_overwrite(out)

    b0 = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    b1 = spark.createDataFrame([("c", 3)], "k string, v int")
    write(b0, 0)
    write(b1, 1)
    # replay batch 0 (retry with recomputed — possibly different — content)
    write(spark.createDataFrame([("a", 1), ("b", 5)], "k string, v int"), 0)

    rows = {
        (r["k"], r["batch_id"]): r["v"]
        for r in spark.read.parquet(out).collect()
    }
    assert rows == {("a", 0): 1, ("b", 0): 5, ("c", 1): 3}


# round 10: the probe now goes through the vendored-shim installer
# (mrjob_spark/_pbcompat) — in this container it aliases the Cloud SDK's
# pure-Python protobuf runtime, so the two execution tests below RUN
# instead of skipping. Runs at import (collection) time, before any
# session fixture builds the JVM, so workers inherit the PYTHONPATH hook.
from mrjob_spark.compat_pb import ensure_protobuf_compat as _epc

_HAS_PROTOBUF = _epc()


@pytest.mark.skipif(not _HAS_PROTOBUF, reason="pyspark transformWithState needs protobuf")
def test_transform_with_state_across_microbatches(spark, tmp_path):
    """transformWithStateInPandas keeps the ValueState across micro-batches:
    batch 2's rows accumulate onto batch 1's state, not a fresh one."""
    from mrjob_spark.streaming import transform_with_state_stats

    src = str(tmp_path / "src")
    _write_events(spark, src, [(_t(0), "a", 1.0), (_t(1), "b", 2.0)])

    sdf = read_stream_parquet(spark, src)
    stats = transform_with_state_stats(sdf, "key", "value")
    # transformWithState's state layout uses multiple column families,
    # which the default HDFSBackedStateStoreProvider rejects — streaming
    # runs require the RocksDB provider (Spark ships it; this is also
    # the documented production choice for transformWithState)
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old_provider = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    q = (
        stats.writeStream.format("memory")
        .queryName("tws_stats")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        first = {
            r["key"]: (r["n"], r["total_cents"], r["mx"])
            for r in spark.table("tws_stats").collect()
        }
        _write_events(spark, src, [(_t(2), "a", 10.5), (_t(3), "a", 100.0)])
        q.processAllAvailable()
    finally:
        q.stop()
        if old_provider is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old_provider)

    assert first == {"a": (1, 100, 1.0), "b": (1, 200, 2.0)}
    latest = {}
    for r in spark.table("tws_stats").collect():
        n, cents, mx = latest.get(r["key"], (0, 0, None))
        if r["n"] > n:
            latest[r["key"]] = (r["n"], r["total_cents"], r["mx"])
    # key 'a' saw 3 rows: 1.0 + 10.5 + 100.0 = 111.5 → 11150 cents, max 100
    assert latest["a"] == (3, 11150, 100.0)


@pytest.mark.skipif(not _HAS_PROTOBUF, reason="pyspark transformWithState needs protobuf")
def test_transform_with_state_batch_runs_real_processor(spark, events_batch):
    """In batch mode the same StatefulProcessor executes per key over the
    complete input — its output must equal the grouped aggregate."""
    from mrjob_spark.streaming import transform_with_state_stats

    got = {
        r["event_type"]: (r["n"], r["total_cents"], r["mx"])
        for r in transform_with_state_stats(
            events_batch, "event_type", "value"
        ).collect()
    }
    exp = {
        r["event_type"]: (r["n"], r["total_cents"], r["mx"])
        for r in events_batch.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("total_cents"),
            F.max("value").alias("mx"),
        )
        .collect()
    }
    assert got == exp


def test_transform_with_state_gates_cleanly_without_protobuf(spark, events_batch):
    """Where protobuf is missing AND un-vendorable the operator must fail
    at BUILD time with a clear ImportError, not a mid-job executor
    crash."""
    if _HAS_PROTOBUF:
        pytest.skip("protobuf available (real or shim): the real tests "
                    "above cover this")
    from mrjob_spark.streaming import transform_with_state_stats

    with pytest.raises(ImportError, match="protobuf"):
        transform_with_state_stats(events_batch, "event_type", "value")


def test_tws_dependency_is_pysparks_not_ours():
    """Pin the dependency chain the shim stands in for (VERDICT r7 task 8
    → closed round 10): pyspark's own transformWithState wire-protocol
    module (``pyspark/sql/streaming/proto/StateMessage_pb2.py``) is what
    needs ``google.protobuf``. With the compat shim installed (or a real
    protobuf), the import must succeed outright AND the wire messages
    must round-trip — the two execution tests above then prove the full
    operator; without any runtime the failure must be precisely
    ``ModuleNotFoundError`` on the ``google`` namespace package raised
    from pyspark's module."""
    if _HAS_PROTOBUF:
        import pyspark.sql.streaming.proto.StateMessage_pb2 as sm

        req = sm.StateRequest(version=2)
        assert sm.StateRequest.FromString(req.SerializeToString()).version == 2
        resp = sm.StateResponse(statusCode=0, value=b"abc")
        assert sm.StateResponse.FromString(
            resp.SerializeToString()).value == b"abc"
        return
    with pytest.raises(ModuleNotFoundError) as ei:
        import pyspark.sql.streaming.proto.StateMessage_pb2  # noqa: F401
    assert ei.value.name == "google"


def test_pb_installer_worker_twin_stays_in_sync():
    """VERDICT r10 hygiene #1: streaming/ops.py ships a by-value twin of
    sitecustomize.install() into foreign-session workers (cloudpickle
    can't reference the sitecustomize module there). 'Keep in sync' was a
    comment; this makes it a failing test — the two function BODIES must
    be AST-identical (docstrings stripped; comments/line numbers don't
    reach the AST). Drift would break exactly the hard-to-debug path:
    workers of sessions that never ran the PYTHONPATH hook."""
    import ast
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def body_of(path, fn_name):
        tree = ast.parse(open(path).read())
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name == fn_name:
                body = list(node.body)
                if (body and isinstance(body[0], ast.Expr)
                        and isinstance(body[0].value, ast.Constant)
                        and isinstance(body[0].value.value, str)):
                    body = body[1:]  # drop the docstring
                return ast.dump(ast.Module(body=body, type_ignores=[]))
        raise AssertionError(f"{fn_name} not found in {path}")

    canonical = body_of(
        os.path.join(repo, "mrjob_spark", "_pbcompat", "sitecustomize.py"),
        "install",
    )
    twin = body_of(
        os.path.join(repo, "mrjob_spark", "streaming", "ops.py"),
        "_install_pb_in_worker",
    )
    assert twin == canonical, (
        "_install_pb_in_worker (streaming/ops.py) has drifted from "
        "sitecustomize.install() — edit both or neither"
    )


def test_pb_installer_preserves_existing_google_namespace(tmp_path):
    """VERDICT r10 hygiene #2: the shim must scope its alias to
    google.protobuf. On a host with other google.* distributions
    (google-auth, google-cloud-*) but no protobuf, replacing
    sys.modules['google'] wholesale would shadow them for the rest of
    the process. Simulated here with a fake 'google' namespace package
    in a clean subprocess (the pytest process already carries the
    installed alias)."""
    import os
    import subprocess
    import sys
    import textwrap

    if not os.path.isdir(
        "/usr/lib/google-cloud-sdk/lib/third_party/cloudsdk/google/protobuf"
    ):
        pytest.skip("no vendorable Cloud SDK runtime on this host")

    site = tmp_path / "site"
    (site / "google").mkdir(parents=True)
    (site / "google" / "extras.py").write_text("VALUE = 42\n")
    (site / "google" / "later.py").write_text("VALUE = 'after-install'\n")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, sys.argv[1])   # the fake google namespace pkg
        sys.path.insert(0, sys.argv[2])   # the repo
        import google.extras              # namespace pkg in use BEFORE the shim
        assert google.extras.VALUE == 42
        orig = sys.modules["google"]

        from mrjob_spark.compat_pb import ensure_protobuf_compat
        assert ensure_protobuf_compat() is True

        # the pre-existing namespace package survives untouched ...
        assert sys.modules["google"] is orig, "google namespace was replaced"
        assert google.extras.VALUE == 42
        import google.later               # NEW submodule import still resolves
        assert google.later.VALUE == "after-install"
        # ... and the protobuf runtime is grafted in beside it
        import google.protobuf.descriptor
        from google import protobuf
        from google.protobuf import runtime_version
        runtime_version.ValidateProtobufRuntimeVersion()
        print("OK")
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script, str(site), repo],
        capture_output=True, text=True, env=env, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    assert "OK" in proc.stdout


def test_state_partitions_restores_session_setting(spark):
    from mrjob_spark.streaming.ops import state_partitions

    before = spark.conf.get("spark.sql.shuffle.partitions")
    with state_partitions(spark, 3):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # and on error paths
    try:
        with state_partitions(spark, 5):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


#: ``_DRIVER_ARRIVALS`` per admission path: the default bound decides
#: these small micro-batches on the driver, a bound of 0 forces the
#: distributed operators
INGEST_PATHS = {"driver": streaming_ops._DRIVER_ARRIVALS, "distributed": 0}


def _write_docs(spark, path, rows):
    spark.createDataFrame(
        [Row(ts=ts, doc_id=i, text=t) for ts, i, t in rows]
    ).coalesce(1).write.mode("append").parquet(path)


def test_incremental_ingest_dedup_across_microbatches(spark, tmp_path):
    """The admission-control ingest pipeline, replayed cross-micro-batch:
    history rejects (stream-static anti join) and within-stream rejects
    (dedup state held ACROSS micro-batches) both fire; only genuinely
    novel documents reach the sink. Mirrors the st11 batch twin."""
    from mrjob_spark.streaming.ops import incremental_ingest_dedup

    src = str(tmp_path / "ingest_src")
    # batch 1: doc 1 duplicates history (normalization folds case/punct),
    # doc 2 is novel
    _write_docs(spark, src, [(_t(0), 1, "Alpha  Beta"), (_t(1), 2, "delta")])

    # hash history the same way the operator does (normalized text)
    from mrjob_spark.functions.text import normalize_text

    history = spark.createDataFrame(
        [("alpha beta",), ("gamma",)], "text string"
    ).select(F.md5(normalize_text(F.col("text"))).alias("content_hash"))

    sdf = spark.readStream.schema("ts timestamp, doc_id long, text string").parquet(src)
    admitted = incremental_ingest_dedup(
        sdf, history, "text", ts_col="ts", watermark="2 hours"
    )
    q = (
        admitted.writeStream.format("memory")
        .queryName("ingest_test")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: doc 3 re-sends delta (cross-batch stream dup), doc 4 is
        # novel, doc 5 duplicates history
        _write_docs(
            spark,
            src,
            [(_t(2), 3, "DELTA!"), (_t(3), 4, "epsilon"), (_t(4), 5, "Gamma")],
        )
        q.processAllAvailable()
    finally:
        q.stop()

    got = {r["doc_id"] for r in spark.table("ingest_test").collect()}
    assert got == {2, 4}


def test_lsh_band_admission_verdict_classes(spark):
    """Synthetic coverage of all three verdicts: a batch near-copy of a
    history doc (dup_of_history), two near-identical batch docs
    (earlier wins, later is dup_in_batch), and a unique doc (new)."""
    from mrjob_spark.operators.dedup import (
        lsh_band_admission,
        minhash_band_rows,
    )

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark forest tonight ") * 4
    other = ("completely different content about spark adaptive query "
             "execution and shuffle partition coalescing at scale ") * 4
    unique = ("zebras graze quietly beside the winding river under "
              "a violet sky while cranes wheel overhead slowly ") * 4
    hist_docs = spark.createDataFrame(
        [(100, base)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (1, base + "almost identical tail."),   # near-copy of history
            (2, other),                              # first of a batch pair
            (3, other + "tiny suffix change here."),  # near-copy of doc 2
            (4, unique),                              # genuinely new
        ],
        "doc_id long, text string",
    )
    hist = minhash_band_rows(hist_docs, "doc_id", "text").select(
        "band_idx", "band_hash"
    )
    got = {
        r["doc_id"]: r["verdict"]
        for r in lsh_band_admission(batch, hist).collect()
    }
    assert got == {
        1: "dup_of_history",
        2: "new",
        3: "dup_in_batch",
        4: "new",
    }


def test_neardup_ingest_across_microbatches_converges_to_batch_twin(
        spark, tmp_path, monkeypatch):
    """The REAL streamed form of st12: three doc_id-ordered micro-batches
    through readStream → foreachBatch(neardup_ingest_foreach_batch) with
    the band index growing as a parquet table. The streamed ADMITTED set
    must equal the one-shot batch twin's (labels may differ: a cross-
    micro-batch near-dup reads dup_of_history in the stream — the earlier
    arrival's bands are already in the index — where the one-shot twin
    says dup_in_batch; rejection itself is order-invariant). Both
    admission paths (INGEST_PATHS) run the stream."""
    import os
    import time

    from mrjob_spark.operators.dedup import (
        lsh_band_admission,
        minhash_band_rows,
    )
    from mrjob_spark.streaming.io import read_stream_parquet
    from mrjob_spark.streaming.ops import neardup_ingest_foreach_batch

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text"
    )
    history_docs = docs.where("doc_id % 10 != 9")
    arrivals = docs.where("doc_id % 10 = 9").orderBy("doc_id").collect()
    assert len(arrivals) >= 9

    src = str(tmp_path / "arrivals")
    os.makedirs(src)
    third = len(arrivals) // 3
    chunks = [arrivals[:third], arrivals[third:2 * third],
              arrivals[2 * third:]]
    import pyarrow as pa
    import pyarrow.parquet as pq

    now = time.time()
    for i, chunk in enumerate(chunks):
        # plain single FILES (not spark's part-file dirs): the file
        # source lists them directly, and mtimes pinned ascending make
        # micro-batch order == doc_id order (the source orders by
        # modification time)
        path = os.path.join(src, f"chunk{i}.parquet")
        pq.write_table(
            pa.table({
                "doc_id": pa.array([r["doc_id"] for r in chunk],
                                   type=pa.int64()),
                "text": [r["text"] for r in chunk],
            }),
            path,
        )
        os.utime(path, (now + i, now + i))

    twin = lsh_band_admission(
        docs.where("doc_id % 10 = 9"),
        minhash_band_rows(history_docs, "doc_id", "text").select(
            "band_idx", "band_hash"),
    )
    twin_admitted = {
        r["doc_id"] for r in twin.where("verdict = 'new'").collect()
    }
    for path, bound in INGEST_PATHS.items():
        monkeypatch.setattr(streaming_ops, "_DRIVER_ARRIVALS", bound)
        index_dir = str(tmp_path / path / "band_index")
        out_dir = str(tmp_path / path / "verdicts")
        # seed the index with the ingested corpus's bands (st12's history)
        minhash_band_rows(history_docs, "doc_id", "text").write.parquet(
            index_dir)

        sdf = read_stream_parquet(
            spark, src, schema="doc_id long, text string",
            max_files_per_trigger=1,
        )
        q = (
            sdf.writeStream.foreachBatch(
                neardup_ingest_foreach_batch(index_dir, out_dir))
            .option("checkpointLocation", str(tmp_path / path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        streamed = spark.read.parquet(out_dir)
        assert streamed.select("batch_id").distinct().count() == 3, path
        streamed_admitted = {
            r["doc_id"] for r in streamed.where("verdict = 'new'").collect()
        }
        assert streamed_admitted == twin_admitted, path
        # every arrival got exactly one verdict
        assert streamed.count() == len(arrivals), path


def test_neardup_ingest_releases_cache_per_microbatch(
        spark, tmp_path, monkeypatch):
    """VERDICT r11 "what's wrong": lsh_admission_from_bands persists its
    first-arrival aggregate, and a long-running ingest stream invokes it
    once per micro-batch — without a release path the stream strands one
    CacheManager entry PER BATCH, unbounded in count (the r10
    stranded-block class). Drive the foreachBatch body directly over 3
    micro-batches and assert storage returns to baseline after each one;
    then replay a batch and assert the verdict sink stays
    one-verdict-per-arrival (dynamic partition overwrite, not append).
    Both admission paths (INGEST_PATHS)."""
    from pyspark.sql import Row

    from mrjob_spark.streaming.ops import neardup_ingest_foreach_batch

    for path, bound in INGEST_PATHS.items():
        monkeypatch.setattr(streaming_ops, "_DRIVER_ARRIVALS", bound)
        index_dir = str(tmp_path / path / "band_index")
        out_dir = str(tmp_path / path / "verdicts")
        write_batch = neardup_ingest_foreach_batch(index_dir, out_dir)

        spark.catalog.clearCache()
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
        for b in range(3):
            batch = spark.createDataFrame(
                [Row(doc_id=b * 10 + i,
                     text=f"micro batch doc {b * 10 + i} " * 6)
                 for i in range(4)]
            )
            write_batch(batch, b)
            # bands AND the operator-internal firsts aggregate released
            assert spark._jsparkSession.sharedState().cacheManager(
            ).isEmpty(), path

        before = spark.read.parquet(out_dir)
        n_before = before.count()
        assert n_before == 12, path
        # replay batch 1 (redelivery after a crash between sink write
        # and offset commit): its partition is overwritten, never
        # appended
        replay = spark.createDataFrame(
            [Row(doc_id=10 + i, text=f"micro batch doc {10 + i} " * 6)
             for i in range(4)]
        )
        write_batch(replay, 1)
        after = spark.read.parquet(out_dir)
        assert after.count() == n_before, path
        assert after.groupBy("doc_id").count().where(
            "count > 1").count() == 0, path


@pytest.mark.parametrize("kind", ["bands", "cells"])
def test_ingest_raises_on_an_unreadable_index(
        spark, tmp_path, monkeypatch, kind):
    """Only a MISSING index reads as empty (the first micro-batch). A
    corrupt file in an existing index must fail the batch: read as
    empty, every arrival would be admitted as ``new``. Both admission
    paths (INGEST_PATHS)."""
    import os

    from mrjob_spark.streaming.ops import (
        embedding_ingest_foreach_batch,
        neardup_ingest_foreach_batch,
    )

    for path, bound in INGEST_PATHS.items():
        monkeypatch.setattr(streaming_ops, "_DRIVER_ARRIVALS", bound)
        index_dir = str(tmp_path / path / "index")
        out_dir = str(tmp_path / path / "verdicts")
        if kind == "bands":
            write_batch = neardup_ingest_foreach_batch(index_dir, out_dir)
            batch = spark.createDataFrame(
                [Row(doc_id=i, text=f"an arriving document {i} " * 6)
                 for i in range(4)]
            )
        else:
            write_batch = embedding_ingest_foreach_batch(
                index_dir, out_dir, [(0, [1000, 0]), (1, [0, 1000])])
            batch = spark.createDataFrame(
                [(i, [1.0, float(i)]) for i in range(4)],
                "vec_id long, embedding array<float>",
            )
        write_batch(batch, 0)  # no index yet: creates it
        # a garbage file that sorts before every part file; in each cell
        # directory of the cell index, which is read partition-pruned
        dirs = [index_dir] if kind == "bands" else [
            os.path.join(index_dir, d) for d in os.listdir(index_dir)
            if d.startswith("cluster=")
        ]
        for d in dirs:
            with open(os.path.join(d, "0000-garbage.parquet"), "wb") as f:
                f.write(b"not a parquet file")
        with pytest.raises(Exception):
            write_batch(batch, 1)


def test_embedding_ingest_keys_its_index_by_id_col(spark, tmp_path):
    """The cell index the embedding ingest appends to is keyed by the
    caller's ``id_col``, the column admission reads it back by."""
    from mrjob_spark.streaming.ops import embedding_ingest_foreach_batch

    out_dir = str(tmp_path / "verdicts")
    write_batch = embedding_ingest_foreach_batch(
        str(tmp_path / "index"), out_dir, [(0, [1000, 0]), (1, [0, 1000])],
        id_col="doc_id")
    for b in range(2):
        write_batch(spark.createDataFrame(
            [(b * 10 + i, [1.0, float(i)]) for i in range(3)],
            "doc_id long, embedding array<float>",
        ), b)
    assert spark.read.parquet(out_dir).count() == 6


def test_tws_query_survives_a_bare_driver_session(tmp_path):
    """The correctness driver builds its OWN SparkSession (no
    session.get_spark, no PYTHONPATH hook, workers never run
    sitecustomize) — the st6_transform_with_state query must still
    execute there via the by-value worker installer inside the
    processor closure. Run in a clean subprocess with PYTHONPATH
    stripped, exactly the driver's environment."""
    import os
    import subprocess
    import sys

    code = """
import sys
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession
spark = (SparkSession.builder.appName("bare_tws").master("local[2]")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as e
df = e.queries()["st6_transform_with_state"](spark, "/root/testdata/sf0.001")
print("TWS_ROWS=%d" % len(df.collect()))
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        timeout=300, env=env, cwd=str(tmp_path),
    )
    assert "TWS_ROWS=5" in out.stdout, out.stderr[-2000:]


def test_embedding_ingest_across_microbatches_converges_to_batch_twin(
        spark, tmp_path, monkeypatch):
    """The REAL streamed form of st13: three id-ordered micro-batches of
    embedding arrivals through readStream →
    foreachBatch(embedding_ingest_foreach_batch) with the IVF cell index
    growing as a parquet table under a quantizer fitted ONCE on the
    seed corpus. The streamed ADMITTED set must equal the one-shot batch
    twin's (labels may differ: a cross-micro-batch near-dup reads
    dup_of_history in the stream where the twin says dup_in_batch;
    rejection itself is order-invariant), and the per-micro-batch cache
    footprint must return to baseline (the st12 persist-leak lesson).
    Both admission paths (INGEST_PATHS) run the stream."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mrjob_spark.operators.clustering import assign_cells, kmeans_fit
    from mrjob_spark.operators.dedup import ivf_embedding_admission
    from mrjob_spark.streaming.io import read_stream_parquet
    from mrjob_spark.streaming.ops import embedding_ingest_foreach_batch

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    history = emb.where("vec_id % 10 != 9")
    arrivals = emb.where("vec_id % 10 = 9").orderBy("vec_id").collect()
    assert len(arrivals) >= 3

    cents = kmeans_fit(history, k=8, iters=1)
    centroid_rows = [(int(r["cluster"]), list(r["cv"]))
                     for r in cents.collect()]

    src = str(tmp_path / "arrivals")
    os.makedirs(src)
    third = max(1, len(arrivals) // 3)
    chunks = [arrivals[:third], arrivals[third:2 * third],
              arrivals[2 * third:]]
    now = time.time()
    for i, chunk in enumerate(chunks):
        path = os.path.join(src, f"chunk{i}.parquet")
        pq.write_table(
            pa.table({
                "vec_id": pa.array([r["vec_id"] for r in chunk],
                                   type=pa.int64()),
                "embedding": pa.array(
                    [list(r["embedding"]) for r in chunk],
                    type=pa.list_(pa.float32())),
            }),
            path,
        )
        os.utime(path, (now + i, now + i))

    index = (
        assign_cells(history, cents, probe=1)
        .select("vec_id", "cluster")
        .join(history, "vec_id")
        .select("cluster", "vec_id", "embedding")
    )
    twin = ivf_embedding_admission(
        emb.where("vec_id % 10 = 9"), index, cents, probe=2, threshold=0.4
    )
    twin_admitted = {
        r["vec_id"] for r in twin.where("verdict = 'new'").collect()
    }
    for path, bound in INGEST_PATHS.items():
        monkeypatch.setattr(streaming_ops, "_DRIVER_ARRIVALS", bound)
        index_dir = str(tmp_path / path / "cell_index")
        out_dir = str(tmp_path / path / "verdicts")
        # seed the index with the ingested corpus's rank-1 cells, in the
        # operator's declared at-scale layout: PARTITIONED BY CLUSTER
        # (the ingest's per-batch appends use the same layout, and
        # admission's probed-cell pre-filter partition-prunes it)
        (
            assign_cells(history, cents, probe=1, passthrough=("embedding",))
            .select("cluster", "vec_id", "embedding")
            .write.partitionBy("cluster")
            .parquet(index_dir)
        )

        spark.catalog.clearCache()
        sdf = read_stream_parquet(
            spark, src, schema="vec_id long, embedding array<float>",
            max_files_per_trigger=1,
        )
        q = (
            sdf.writeStream.foreachBatch(
                embedding_ingest_foreach_batch(
                    index_dir, out_dir, centroid_rows, probe=2,
                    threshold=0.4))
            .option("checkpointLocation", str(tmp_path / path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # batch + any operator-internal persists all released
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

        streamed = spark.read.parquet(out_dir)
        assert streamed.select("batch_id").distinct().count() == 3, path
        streamed_admitted = {
            r["vec_id"] for r in streamed.where("verdict = 'new'").collect()
        }
        assert streamed_admitted == twin_admitted, path
        # every arrival got exactly one verdict; replaying batch 1 must
        # not change that (dynamic partition overwrite, not append)
        assert streamed.count() == len(arrivals), path
        wb = embedding_ingest_foreach_batch(
            index_dir, out_dir, centroid_rows, probe=2, threshold=0.4)
        replay = spark.createDataFrame(
            [(r["vec_id"], list(r["embedding"])) for r in chunks[1]],
            "vec_id long, embedding array<float>",
        )
        wb(replay, 1)
        after = spark.read.parquet(out_dir)
        assert after.count() == len(arrivals), path
        assert after.groupBy("vec_id").count().where(
            "count > 1").count() == 0, path


@pytest.mark.parametrize("path", INGEST_PATHS)
def test_embedding_ingest_admits_a_zero_norm_vector(
        spark, tmp_path, monkeypatch, path):
    """A zero vector has no direction: its cosine with anything is null,
    so it matches nothing and is admitted, and it is never the match of
    a later arrival. Under Spark's ANSI default an unguarded cosine
    raised DIVIDE_BY_ZERO and failed the whole micro-batch."""
    from mrjob_spark.streaming.ops import embedding_ingest_foreach_batch

    monkeypatch.setattr(streaming_ops, "_DRIVER_ARRIVALS", INGEST_PATHS[path])
    out_dir = str(tmp_path / "verdicts")
    write_batch = embedding_ingest_foreach_batch(
        str(tmp_path / "index"), out_dir, [(0, [1000, 0]), (1, [0, 1000])])
    schema = "vec_id long, embedding array<float>"
    write_batch(spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [1.0, 0.01])], schema), 0)
    write_batch(spark.createDataFrame(
        [(4, [0.0, 0.0]), (5, [2.0, 0.0])], schema), 1)
    got = {
        r["vec_id"]: (r["verdict"], r["hist_top_cosine"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got == {
        1: ("new", None),
        2: ("new", None),
        3: ("dup_in_batch", None),
        4: ("new", None),  # its only history candidates are null
        5: ("dup_of_history", 1.0),
    }


def _admit_one_micro_batch(spark, tmp_path, sf_dir, kind, name):
    """Run the ``kind`` ingest body once under ``tmp_path / name`` over
    an index seeded with the sf fixture's history (ids % 10 != 9) and a
    micro-batch of its first 8 arrivals and a copy of each, read from
    one parquet file like a file-source micro-batch. The job group
    ``name`` tags every Spark job of the body. Returns ``(verdict
    rows, index rows)``."""
    from mrjob_spark.operators.clustering import assign_cells, kmeans_fit
    from mrjob_spark.operators.dedup import minhash_band_rows
    from mrjob_spark.streaming.ops import (
        embedding_ingest_foreach_batch,
        neardup_ingest_foreach_batch,
    )

    index_dir = str(tmp_path / name / "index")
    out_dir = str(tmp_path / name / "verdicts")
    if kind == "bands":
        src = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text")
        key = "doc_id"
        minhash_band_rows(
            src.where("doc_id % 10 != 9"), "doc_id", "text"
        ).write.parquet(index_dir)
        body = neardup_ingest_foreach_batch(index_dir, out_dir)
    else:
        src = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", "embedding")
        key = "vec_id"
        history = src.where("vec_id % 10 != 9")
        cents = kmeans_fit(history, k=8, iters=1)
        (
            assign_cells(history, cents, probe=1, passthrough=("embedding",))
            .select("cluster", "vec_id", "embedding")
            .write.partitionBy("cluster").parquet(index_dir)
        )
        body = embedding_ingest_foreach_batch(
            index_dir, out_dir,
            [(int(r["cluster"]), list(r["cv"])) for r in cents.collect()],
            # below the fixture's typical top cosine (0.33-0.42), so
            # arrivals hit both the history and each other
            probe=2, threshold=0.3)
    batch_path = str(tmp_path / name / "batch.parquet")
    arrivals = src.where(f"{key} % 10 = 9").orderBy(key).limit(8)
    # and a later copy of each, an in-batch duplicate
    arrivals.unionByName(arrivals.withColumn(key, F.col(key) + 10_000)) \
        .coalesce(1).write.parquet(batch_path)
    batch = spark.read.parquet(batch_path)

    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        body(batch, 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    verdicts = sorted(
        tuple(r) for r in spark.read.parquet(out_dir).collect())
    index = spark.read.parquet(index_dir)
    return verdicts, sorted(
        tuple(r) for r in index.select(*sorted(index.columns)).collect())


@pytest.mark.parametrize("kind", ["bands", "cells"])
def test_ingest_paths_agree_row_for_row(
        spark, tmp_path, monkeypatch, sf_dir, kind):
    """The driver path's verdicts are the distributed operators' row
    for row — ``hist_top_cosine`` included, to the last bit — and so
    is the index after the append."""
    got = {}
    for path, bound in INGEST_PATHS.items():
        monkeypatch.setattr(streaming_ops, "_DRIVER_ARRIVALS", bound)
        got[path] = _admit_one_micro_batch(
            spark, tmp_path, sf_dir, kind, f"agree_{kind}_{path}")
    verdicts, index = got["driver"]
    assert len(verdicts) == 16
    # not vacuous: the fixture's arrivals hit the index and each other
    assert {r[1] for r in verdicts} == {
        "new", "dup_of_history", "dup_in_batch"}
    assert verdicts == got["distributed"][0]
    assert index == got["distributed"][1]


@pytest.mark.parametrize("kind", ["bands", "cells"])
def test_ingest_runs_at_most_six_jobs_per_micro_batch(
        spark, tmp_path, sf_dir, kind):
    """A small micro-batch is decided on the driver: one bounded
    collect, one index probe and two writes, at most four Spark jobs
    (the near-dup path hashes the collected documents with no job).
    The distributed operators ran 15 (bands) and 14 (cells)."""
    name = f"ingest_jobs_{kind}"
    _admit_one_micro_batch(spark, tmp_path, sf_dir, kind, name)
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(name)
    assert 0 < len(jobs) <= 4, len(jobs)
