"""Streaming semantics tests (SURVEY.md §5 item 3).

File-source micro-batch replays with manufactured late/duplicate
events. ``maxFilesPerTrigger=1`` makes each file one micro-batch, so
the event-time watermark advances deterministically between batches;
a far-future "flush" sentinel event in the last file pushes the
watermark past every real window so append mode finalizes them.
"""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from bigdata_riveranalysis_spark.streaming import (
    dedup_within_watermark,
    file_json_stream,
    sessionized_activity,
    windowed_quality,
)
from bigdata_riveranalysis_spark.streaming.pipeline import threshold_alerts
from bigdata_riveranalysis_spark.streaming.sinks import start_alert_sink

SENTINEL_TS = "2030-01-01 00:00:00"


def _ev(event_id, ts, user_id=1, value=10.0, event_type="view"):
    return {
        "event_id": event_id,
        "ts": ts,
        "user_id": user_id,
        "event_type": event_type,
        "value": value,
        "props": "{}",
    }


def _write_files(tmp_path, batches):
    """One JSON-lines file per batch, mtimes strictly increasing so the
    file source replays them in order."""
    src = tmp_path / "stream_src"
    src.mkdir()
    t0 = time.time() - len(batches)
    for i, rows in enumerate(batches):
        p = src / f"batch_{i:03d}.json"
        p.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
        os.utime(p, (t0 + i, t0 + i))
    return str(src)


def _run_to_memory(stream_df, spark, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "streaming query timed out (partial sink)"
    return spark.table(name)


def test_windowed_quality_finalizes_and_matches_batch(spark, tmp_path):
    """Stream/batch parity: the same events through the streaming
    tumbling window equal the batch formulation of the same plan."""
    rows = [
        _ev(1, "2024-01-01 00:05:00", user_id=1, value=10.0),
        _ev(2, "2024-01-01 00:40:00", user_id=1, value=20.0),
        _ev(3, "2024-01-01 01:10:00", user_id=2, value=30.0),
        _ev(4, "2024-01-01 01:20:00", user_id=1, value=40.0),
    ]
    path = _write_files(tmp_path, [rows, [_ev(99, SENTINEL_TS, user_id=99)]])
    stream = file_json_stream(spark, path, max_files_per_trigger=1)
    out = _run_to_memory(windowed_quality(stream), spark, "win_q")
    got = {
        (r.window_start, r.sensor_id): (r.n_readings, r.avg_value)
        for r in out.collect()
        if r.sensor_id != 99
    }
    assert got == {
        ("2024-01-01 00:00:00", 1): (2, 15.0),
        ("2024-01-01 01:00:00", 2): (1, 30.0),
        ("2024-01-01 01:00:00", 1): (1, 40.0),
    }

    batch = spark.createDataFrame(
        [(r["event_id"], r["ts"], r["user_id"], r["value"]) for r in rows],
        "event_id long, ts string, user_id long, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    batch_got = {
        (r.window_start, r.sensor_id): (r.n_readings, r.avg_value)
        for r in windowed_quality(batch).collect()
    }
    assert batch_got == got


def test_late_event_dropped_after_watermark(spark, tmp_path):
    """Canonical late-data policy: an event arriving after its window
    was finalized is dropped, not merged.

    Spark's watermark guarantee is one-directional: data within the
    watermark is never dropped; data beyond it is dropped once the
    window's state is evicted. Eviction happens at the end of the
    first batch where the watermark (computed from the *previous*
    batch's max event time) passes the window end — so the late event
    is delivered two batches after the watermark-advancing event,
    after a spacer batch, to land on evicted state deterministically.
    """
    batch1 = [
        _ev(1, "2024-01-01 00:10:00", value=10.0),
        _ev(2, "2024-01-01 06:00:00", value=20.0),  # watermark → 04:00
    ]
    spacer = [_ev(4, "2024-01-01 06:30:00", value=5.0)]  # evicts [00:00,01:00)
    late = [_ev(3, "2024-01-01 00:20:00", value=99.0)]  # dropped: state evicted
    path = _write_files(
        tmp_path, [batch1, spacer, late, [_ev(99, SENTINEL_TS, user_id=99)]]
    )
    stream = file_json_stream(spark, path, max_files_per_trigger=1)
    out = _run_to_memory(windowed_quality(stream), spark, "late_q")
    first_window = [r for r in out.collect() if r.window_start == "2024-01-01 00:00:00"]
    assert len(first_window) == 1
    # Late event_id=3 (value 99.0) must not be merged into the window.
    assert first_window[0].n_readings == 1
    assert first_window[0].avg_value == 10.0


def test_dedup_within_watermark_drops_redelivery(spark, tmp_path):
    """At-least-once delivery collapsed to effectively-once: the same
    event_id redelivered in a later micro-batch is dropped."""
    b1 = [_ev(1, "2024-01-01 00:10:00"), _ev(2, "2024-01-01 00:20:00")]
    b2 = [_ev(2, "2024-01-01 00:20:00"), _ev(3, "2024-01-01 00:30:00")]  # 2 redelivered
    path = _write_files(tmp_path, [b1, b2])
    stream = file_json_stream(spark, path, max_files_per_trigger=1)
    out = _run_to_memory(dedup_within_watermark(stream), spark, "dedup_q")
    ids = sorted(r.event_id for r in out.collect())
    assert ids == [1, 2, 3]


def test_sessionized_activity_merges_within_gap(spark, tmp_path):
    """Events ≤gap apart merge into one session; a >gap silence opens
    a new one."""
    rows = [
        _ev(1, "2024-01-01 00:00:00", value=1.0),
        _ev(2, "2024-01-01 00:10:00", value=2.0),  # same session (gap 30m)
        _ev(3, "2024-01-01 02:00:00", value=3.0),  # new session
    ]
    path = _write_files(tmp_path, [rows, [_ev(99, SENTINEL_TS, user_id=99)]])
    stream = file_json_stream(spark, path, max_files_per_trigger=1)
    out = _run_to_memory(sessionized_activity(stream), spark, "sess_q")
    sess = sorted(
        (r.session_start, r.n_events, r.total_value)
        for r in out.collect()
        if r.sensor_id == 1
    )
    assert sess == [
        ("2024-01-01 00:00:00", 2, 3.0),
        ("2024-01-01 02:00:00", 1, 3.0),
    ]


def test_alert_sink_dispatches_foreach_batch(spark, tmp_path):
    """threshold_alerts → foreachBatch handler sees exactly the
    critical readings."""
    rows = [
        _ev(1, "2024-01-01 00:00:00", value=10.0),
        _ev(2, "2024-01-01 00:01:00", value=200.0),
        _ev(3, "2024-01-01 00:02:00", value=151.0),
    ]
    path = _write_files(tmp_path, [rows])
    stream = file_json_stream(spark, path)
    seen = []

    def handler(batch_df, batch_id):
        seen.extend((r.event_id, r.value, r.severity) for r in batch_df.collect())

    q = start_alert_sink(
        threshold_alerts(stream),
        str(tmp_path / "ckpt_alerts"),
        handler,
        output_mode="append",
        trigger_available_now=True,
    )
    assert q.awaitTermination(120), "streaming query timed out (partial sink)"
    assert sorted(seen) == [(2, 200.0, "critical"), (3, 151.0, "critical")]


def test_parquet_sink_writes_checkpointed_output(spark, tmp_path):
    from bigdata_riveranalysis_spark.streaming.sinks import start_parquet_sink

    rows = [_ev(i, f"2024-01-01 00:0{i}:00", value=float(i)) for i in range(5)]
    path = _write_files(tmp_path, [rows])
    stream = file_json_stream(spark, path)
    out_dir, ckpt = str(tmp_path / "out_parquet"), str(tmp_path / "ckpt_parquet")
    q = start_parquet_sink(stream, out_dir, ckpt, trigger_available_now=True)
    assert q.awaitTermination(120), "streaming query timed out (partial sink)"
    assert spark.read.parquet(out_dir).count() == 5
    assert os.path.isdir(ckpt)


def test_ewma_state_survives_micro_batches(spark, tmp_path):
    """Custom stateful operator: the EWMA folds batch-2 readings into
    state built in batch 1 (state store round trip), and the spike
    flag fires against the smoothed history."""
    from bigdata_riveranalysis_spark.streaming.stateful import ewma_with_spikes

    b1 = [
        _ev(1, "2024-01-01 00:00:00", user_id=1, value=10.0),
        _ev(2, "2024-01-01 00:01:00", user_id=1, value=10.0),
    ]
    b2 = [
        _ev(3, "2024-01-01 00:02:00", user_id=1, value=100.0),  # spike vs ewma=10
        _ev(4, "2024-01-01 00:03:00", user_id=2, value=5.0),  # first reading, never spike
    ]
    path = _write_files(tmp_path, [b1, b2])
    stream = file_json_stream(spark, path, max_files_per_trigger=1)
    out = ewma_with_spikes(stream, alpha=0.5, spike_ratio=3.0)
    q = (
        out.writeStream.format("memory")
        .queryName("ewma_q")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "streaming query timed out (partial sink)"
    rows = {r.event_id: r for r in spark.table("ewma_q").collect()}
    assert rows[1].ewma == 10.0 and not rows[1].is_spike  # first reading seeds state
    assert rows[2].ewma == 10.0 and not rows[2].is_spike
    # batch 2 reading folded into batch-1 state: 0.5*100 + 0.5*10 = 55
    assert rows[3].ewma == 55.0 and rows[3].is_spike
    assert rows[4].ewma == 5.0 and not rows[4].is_spike


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Kill-and-restart semantics: a second run of the same query from
    the same checkpoint must pick up only NEW files and never
    re-emit rows the first run already wrote — the exactly-once
    contract the reference's console pipeline (no checkpoint at all)
    could not make."""
    from bigdata_riveranalysis_spark.streaming.sinks import start_parquet_sink

    b1 = [_ev(i, f"2024-01-01 00:0{i}:00", value=float(i)) for i in range(4)]
    src = _write_files(tmp_path, [b1])
    out_dir, ckpt = str(tmp_path / "out_restart"), str(tmp_path / "ckpt_restart")

    q = start_parquet_sink(file_json_stream(spark, src), out_dir, ckpt,
                           trigger_available_now=True)
    assert q.awaitTermination(120), "streaming query timed out (partial sink)"
    assert spark.read.parquet(out_dir).count() == 4

    # new data lands while the query is down
    b2 = [_ev(10 + i, f"2024-01-01 01:0{i}:00", value=100.0 + i) for i in range(3)]
    p = tmp_path / "stream_src" / "batch_late.json"
    p.write_text("\n".join(json.dumps(r) for r in b2) + "\n")

    q2 = start_parquet_sink(file_json_stream(spark, src), out_dir, ckpt,
                            trigger_available_now=True)
    assert q2.awaitTermination(120), "streaming query timed out (partial sink)"

    got = spark.read.parquet(out_dir)
    assert got.count() == 7  # 4 old + 3 new, no re-emission
    ids = sorted(r.event_id for r in got.select("event_id").collect())
    assert ids == [0, 1, 2, 3, 10, 11, 12]


def test_orc_round_trip(spark, tmp_path):
    from bigdata_riveranalysis_spark.sources.sinks import write_orc
    from bigdata_riveranalysis_spark.sources.tables import load_table

    from .conftest import SF_ORACLE

    nation = load_table(spark, SF_ORACLE, "nation")
    out = str(tmp_path / "nation_orc")
    write_orc(nation, out)
    back = spark.read.orc(out)
    assert back.count() == 25
    assert {r.n_name for r in back.collect()} == {r.n_name for r in nation.collect()}


def test_upsert_sink_keeps_latest_per_key(spark, tmp_path):
    """Update-mode aggregation through the keyed upsert sink: after
    two micro-batches the serving table holds ONE row per sensor with
    the latest running aggregate, not an append history."""
    from bigdata_riveranalysis_spark.streaming.sinks import start_upsert_sink

    b1 = [_ev(1, "2024-01-01 00:00:00", user_id=1, value=10.0),
          _ev(2, "2024-01-01 00:01:00", user_id=2, value=20.0)]
    b2 = [_ev(3, "2024-01-01 00:02:00", user_id=1, value=30.0)]
    src = _write_files(tmp_path, [b1, b2])
    stream = file_json_stream(spark, src, max_files_per_trigger=1)
    agg = stream.groupBy("user_id").agg(
        F.count("*").alias("n"), F.sum("value").alias("total")
    )
    out, ckpt = str(tmp_path / "serve"), str(tmp_path / "ckpt_upsert")
    q = start_upsert_sink(agg, out, ckpt, ("user_id",), trigger_available_now=True)
    assert q.awaitTermination(120), "streaming query timed out (partial sink)"
    rows = {r.user_id: r for r in spark.read.parquet(out).collect()}
    assert set(rows) == {1, 2}
    assert rows[1].n == 2 and rows[1].total == 40.0  # both batches folded
    assert rows[2].n == 1 and rows[2].total == 20.0


def test_upsert_sink_survives_read_failure(spark, tmp_path):
    """A read/merge failure mid-upsert must FAIL the micro-batch, not
    be mistaken for 'first batch' and overwrite the serving table with
    only the current batch (the r1/r2 data-loss bug: bare except)."""
    from bigdata_riveranalysis_spark.streaming.sinks import start_upsert_sink

    b1 = [_ev(1, "2024-01-01 00:00:00", user_id=1, value=10.0)]
    src1 = _write_files(tmp_path, [b1])
    out, ckpt1 = str(tmp_path / "serve"), str(tmp_path / "ckpt_u1")
    stream = file_json_stream(spark, src1, max_files_per_trigger=1)
    agg = stream.groupBy("user_id").agg(F.sum("value").alias("total"))
    q = start_upsert_sink(agg, out, ckpt1, ("user_id",), trigger_available_now=True)
    assert q.awaitTermination(120), "streaming query timed out (partial sink)"
    assert spark.read.parquet(out).count() == 1

    # Corrupt the serving table so the next merge's read fails.
    for f in os.listdir(out):
        os.remove(os.path.join(out, f))
    with open(os.path.join(out, "part-00000.parquet"), "w") as fh:
        fh.write("this is not parquet")

    nested = tmp_path / "second"
    nested.mkdir()
    b2 = [_ev(2, "2024-01-01 00:01:00", user_id=2, value=20.0)]
    src2 = _write_files(nested, [b2])
    stream2 = file_json_stream(spark, src2, max_files_per_trigger=1)
    agg2 = stream2.groupBy("user_id").agg(F.sum("value").alias("total"))
    q2 = start_upsert_sink(agg2, out, str(tmp_path / "ckpt_u2"), ("user_id",),
                           trigger_available_now=True)
    # match pins the INTENDED failure (merge-read of the corrupt
    # parquet), not any incidental setup error (review finding).
    with pytest.raises(Exception, match="(?i)parquet|footer|magic"):
        assert q2.awaitTermination(120), "streaming query timed out (partial sink)"
    # The (corrupt) table was left in place — never replaced by batch 2.
    assert os.path.exists(os.path.join(out, "part-00000.parquet"))
    with open(os.path.join(out, "part-00000.parquet")) as fh:
        assert fh.read() == "this is not parquet"


def test_upsert_sink_heals_renamed_aside_table(spark, tmp_path):
    """Crash window between rename-aside and move-in: the next batch
    restores `__old` and merges against it — no data loss."""
    from bigdata_riveranalysis_spark.streaming.sinks import start_upsert_sink

    b1 = [_ev(1, "2024-01-01 00:00:00", user_id=1, value=10.0)]
    src1 = _write_files(tmp_path, [b1])
    out, ckpt1 = str(tmp_path / "serve"), str(tmp_path / "ckpt_h1")
    stream = file_json_stream(spark, src1, max_files_per_trigger=1)
    agg = stream.groupBy("user_id").agg(F.sum("value").alias("total"))
    q = start_upsert_sink(agg, out, ckpt1, ("user_id",), trigger_available_now=True)
    assert q.awaitTermination(120), "streaming query timed out (partial sink)"

    os.rename(out, out + "__old")  # simulate the crash window

    nested = tmp_path / "second"
    nested.mkdir()
    b2 = [_ev(2, "2024-01-01 00:01:00", user_id=2, value=20.0)]
    src2 = _write_files(nested, [b2])
    stream2 = file_json_stream(spark, src2, max_files_per_trigger=1)
    agg2 = stream2.groupBy("user_id").agg(F.sum("value").alias("total"))
    q2 = start_upsert_sink(agg2, out, str(tmp_path / "ckpt_h2"), ("user_id",),
                           trigger_available_now=True)
    assert q2.awaitTermination(120), "streaming query timed out (partial sink)"
    rows = {r.user_id: r.total for r in spark.read.parquet(out).collect()}
    assert rows == {1: 10.0, 2: 20.0}
    assert not os.path.exists(out + "__old")


def test_upsert_sink_sweeps_orphan_shadow_dirs(spark, tmp_path):
    """A crash after tmp-write but before the swap leaves a
    `{path}__b{N}` shadow dir; the next batch must sweep it instead of
    letting them accumulate across restarts (ADVICE r3)."""
    from bigdata_riveranalysis_spark.streaming.sinks import start_upsert_sink

    out = str(tmp_path / "serve")
    orphan = out + "__b999"
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-junk.parquet"), "w") as fh:
        fh.write("leftover")

    b1 = [_ev(1, "2024-01-01 00:00:00", user_id=1, value=10.0)]
    src1 = _write_files(tmp_path, [b1])
    stream = file_json_stream(spark, src1, max_files_per_trigger=1)
    agg = stream.groupBy("user_id").agg(F.sum("value").alias("total"))
    q = start_upsert_sink(agg, out, str(tmp_path / "ckpt_sweep"), ("user_id",),
                          trigger_available_now=True)
    assert q.awaitTermination(120), "streaming query timed out (partial sink)"
    assert not os.path.exists(orphan)
    assert spark.read.parquet(out).count() == 1


def test_upsert_sink_pointer_commit_keeps_latest_per_key(spark, tmp_path):
    """Pointer-commit protocol (object-store-safe): after two
    micro-batches the pointer resolves to a generation dir holding ONE
    row per key with the folded aggregate, and earlier generations are
    swept by the following batch (at most live + previous on disk)."""
    from bigdata_riveranalysis_spark.streaming.sinks import (
        read_serving_table,
        resolve_serving_path,
        start_upsert_sink,
    )

    b1 = [_ev(1, "2024-01-01 00:00:00", user_id=1, value=10.0),
          _ev(2, "2024-01-01 00:01:00", user_id=2, value=20.0)]
    b2 = [_ev(3, "2024-01-01 00:02:00", user_id=1, value=30.0)]
    src = _write_files(tmp_path, [b1, b2])
    stream = file_json_stream(spark, src, max_files_per_trigger=1)
    agg = stream.groupBy("user_id").agg(
        F.count("*").alias("n"), F.sum("value").alias("total")
    )
    out, ckpt = str(tmp_path / "serve"), str(tmp_path / "ckpt_ptr")
    q = start_upsert_sink(agg, out, ckpt, ("user_id",),
                          trigger_available_now=True, commit="pointer")
    assert q.awaitTermination(120), "streaming query timed out (partial sink)"
    assert os.path.exists(out + ".ptr")
    assert not os.path.exists(out)  # no rename-mode dir in pointer mode
    live = resolve_serving_path(out)
    assert live is not None and "__b" in os.path.basename(live)
    rows = {r.user_id: r for r in read_serving_table(spark, out).collect()}
    assert set(rows) == {1, 2}
    assert rows[1].n == 2 and rows[1].total == 40.0
    assert rows[2].n == 1 and rows[2].total == 20.0


def test_upsert_sink_pointer_commit_survives_read_failure(spark, tmp_path):
    """A merge-read failure under pointer commit must FAIL the batch
    and leave the pointer untouched — never flip it to a batch-only
    generation."""
    from bigdata_riveranalysis_spark.streaming.sinks import (
        resolve_serving_path,
        start_upsert_sink,
    )

    b1 = [_ev(1, "2024-01-01 00:00:00", user_id=1, value=10.0)]
    src1 = _write_files(tmp_path, [b1])
    out = str(tmp_path / "serve")
    stream = file_json_stream(spark, src1, max_files_per_trigger=1)
    agg = stream.groupBy("user_id").agg(F.sum("value").alias("total"))
    q = start_upsert_sink(agg, out, str(tmp_path / "ckpt_p1"), ("user_id",),
                          trigger_available_now=True, commit="pointer")
    assert q.awaitTermination(120), "streaming query timed out (partial sink)"
    live = resolve_serving_path(out)

    # Corrupt the live generation so the next merge's read fails.
    for f in os.listdir(live):
        os.remove(os.path.join(live, f))
    with open(os.path.join(live, "part-00000.parquet"), "w") as fh:
        fh.write("this is not parquet")

    nested = tmp_path / "second"
    nested.mkdir()
    b2 = [_ev(2, "2024-01-01 00:01:00", user_id=2, value=20.0)]
    src2 = _write_files(nested, [b2])
    stream2 = file_json_stream(spark, src2, max_files_per_trigger=1)
    agg2 = stream2.groupBy("user_id").agg(F.sum("value").alias("total"))
    q2 = start_upsert_sink(agg2, out, str(tmp_path / "ckpt_p2"), ("user_id",),
                           trigger_available_now=True, commit="pointer")
    # match pins the INTENDED failure (merge-read of the corrupt
    # parquet), not any incidental setup error (review finding).
    with pytest.raises(Exception, match="(?i)parquet|footer|magic"):
        assert q2.awaitTermination(120), "streaming query timed out (partial sink)"
    # Pointer still names the (corrupt) generation — not flipped.
    assert resolve_serving_path(out) == live
    assert os.path.exists(os.path.join(live, "part-00000.parquet"))


def test_upsert_sink_pointer_crash_before_flip_keeps_old_live(spark, tmp_path):
    """Crash AFTER writing a new generation but BEFORE the pointer
    flip: the pointer still names the old generation, so readers keep
    the old table; the next batch merges from the POINTER's target
    (not the orphan) and sweeps the orphan dir."""
    from bigdata_riveranalysis_spark.streaming.sinks import (
        read_serving_table,
        resolve_serving_path,
        start_upsert_sink,
    )

    out = str(tmp_path / "serve")
    # Committed generation __b7 with user 1; orphan __b9 (a crashed
    # batch's output, never committed) with a WRONG state that must
    # not be read or merged from.
    spark.createDataFrame([(1, 10.0)], "user_id bigint, total double") \
        .write.parquet(out + "__b7")
    spark.createDataFrame([(99, 999.0)], "user_id bigint, total double") \
        .write.parquet(out + "__b9")
    with open(out + ".ptr", "w") as fh:
        fh.write(os.path.basename(out) + "__b7")

    b1 = [_ev(2, "2024-01-01 00:00:00", user_id=2, value=20.0)]
    src1 = _write_files(tmp_path, [b1])
    stream = file_json_stream(spark, src1, max_files_per_trigger=1)
    agg = stream.groupBy("user_id").agg(F.sum("value").alias("total"))
    q = start_upsert_sink(agg, out, str(tmp_path / "ckpt_cf"), ("user_id",),
                          trigger_available_now=True, commit="pointer")
    assert q.awaitTermination(120), "streaming query timed out (partial sink)"
    rows = {r.user_id: r.total for r in read_serving_table(spark, out).collect()}
    assert rows == {1: 10.0, 2: 20.0}  # merged from __b7, not the orphan
    assert not os.path.exists(out + "__b9")  # orphan swept
    assert "__b" in os.path.basename(resolve_serving_path(out))


def test_upsert_sink_pointer_retry_pingpong_never_overwrites_live(spark, tmp_path):
    """Retry of an already-committed batch (crash between pointer flip
    and checkpoint commit): the pointer names `__b0`, and batch 0 runs
    again. The sink must write a DIFFERENT generation (`__b0x`) — never
    lazily read and overwrite the same dir — and converge to the same
    keyed state."""
    from bigdata_riveranalysis_spark.streaming.sinks import (
        read_serving_table,
        resolve_serving_path,
        start_upsert_sink,
    )

    out = str(tmp_path / "serve")
    # Manufacture the post-commit state: generation __b0 exists with
    # batch 0's merged output and the pointer names it, but the stream
    # checkpoint was lost (fresh checkpoint ⇒ batch ids restart at 0).
    spark.createDataFrame([(1, 10.0)], "user_id bigint, total double") \
        .write.parquet(out + "__b0")
    with open(out + ".ptr", "w") as fh:
        fh.write(os.path.basename(out) + "__b0")

    b1 = [_ev(1, "2024-01-01 00:00:00", user_id=1, value=10.0)]
    src1 = _write_files(tmp_path, [b1])
    stream = file_json_stream(spark, src1, max_files_per_trigger=1)
    agg = stream.groupBy("user_id").agg(F.sum("value").alias("total"))
    q = start_upsert_sink(agg, out, str(tmp_path / "ckpt_pp"), ("user_id",),
                          trigger_available_now=True, commit="pointer")
    assert q.awaitTermination(120), "streaming query timed out (partial sink)"
    assert os.path.basename(resolve_serving_path(out)) == \
        os.path.basename(out) + "__b0x"
    rows = {r.user_id: r.total for r in read_serving_table(spark, out).collect()}
    assert rows == {1: 10.0}  # keyed merge converged, no double-count


def test_upsert_sink_pointer_migrates_legacy_rename_table(spark, tmp_path):
    """Switching a rename-committed serving table to pointer commit:
    the first pointer batch merges against the legacy `path` dir, then
    retires it so naive readers can't see stale data."""
    from bigdata_riveranalysis_spark.streaming.sinks import (
        read_serving_table,
        start_upsert_sink,
    )

    out = str(tmp_path / "serve")
    spark.createDataFrame([(1, 10.0)], "user_id bigint, total double") \
        .write.parquet(out)  # legacy rename-committed table

    b2 = [_ev(2, "2024-01-01 00:01:00", user_id=2, value=20.0)]
    src2 = _write_files(tmp_path, [b2])
    stream2 = file_json_stream(spark, src2, max_files_per_trigger=1)
    agg2 = stream2.groupBy("user_id").agg(F.sum("value").alias("total"))
    q2 = start_upsert_sink(agg2, out, str(tmp_path / "ckpt_mig"), ("user_id",),
                           trigger_available_now=True, commit="pointer")
    assert q2.awaitTermination(120), "streaming query timed out (partial sink)"
    rows = {r.user_id: r.total for r in read_serving_table(spark, out).collect()}
    assert rows == {1: 10.0, 2: 20.0}
    assert not os.path.exists(out)  # legacy dir retired


def _wire(day, name, ph):
    return json.dumps({
        "FullDate": day, "WaterbodyName": name, "pH": ph,
        "Dissolved Oxygen": "90.0", "Conductivity @25°C": "400.0",
    })


#: Three wire-format files, one micro-batch each; every file carries
#: one malformed line, which parses to a NULL sensor_id.
_WIRE_BATCHES = [
    [_wire("2007-01-01", "A", "7.0"), _wire("2007-01-01", "B", "7.1"), "{not json"],
    [_wire("2007-01-02", "A", "7.2"), "{not json"],
    [_wire("2007-01-03", "B", "7.3"), _wire("2007-01-03", "C", "7.4"), "{not json"],
]


def _run_wire_upsert(spark, tmp_path, commit):
    from bigdata_riveranalysis_spark.operators.river_pipeline import (
        parse_readings,
        wqi_classify,
    )
    from bigdata_riveranalysis_spark.streaming.sinks import (
        read_serving_table,
        start_upsert_sink,
    )

    src = tmp_path / "wire"
    src.mkdir()
    t0 = time.time() - len(_WIRE_BATCHES)
    for i, lines in enumerate(_WIRE_BATCHES):
        p = src / f"tick_{i:03d}.json"
        p.write_text("\n".join(lines) + "\n")
        os.utime(p, (t0 + i, t0 + i))
    readings = wqi_classify(parse_readings(
        spark.readStream.option("maxFilesPerTrigger", "1").text(str(src))
    ))
    out = str(tmp_path / "serve")
    q = start_upsert_sink(readings, out, str(tmp_path / "ckpt"), ("sensor_id",),
                          trigger_available_now=True, commit=commit)
    assert q.awaitTermination(120), "streaming query timed out (partial sink)"
    return read_serving_table(spark, out).collect(), q.recentProgress


@pytest.mark.parametrize("commit", ["rename", "pointer"])
def test_upsert_sink_drops_null_key_rows(spark, tmp_path, commit):
    """A NULL key never equals another, so without the drop every
    malformed line would add one more row to the serving table."""
    rows, _ = _run_wire_upsert(spark, tmp_path, commit)
    assert [r for r in rows if r.sensor_id is None] == []
    assert {r.sensor_id: r.ph_value for r in rows} == {"A": 7.2, "B": 7.3, "C": 7.4}


@pytest.mark.parametrize("commit", ["rename", "pointer"])
def test_upsert_sink_reads_each_batch_once(spark, tmp_path, commit):
    """The merge needs the batch's keys and its rows; the source must
    still be scanned once per micro-batch."""
    _, progress = _run_wire_upsert(spark, tmp_path, commit)
    got = [p["numInputRows"] for p in progress]
    assert got == [len(lines) for lines in _WIRE_BATCHES]


def test_observe_metrics_on_batch_query(spark):
    """df.observe: accumulator-style metrics ride the job (no second
    scan) — the operational hook a 100 TB pipeline uses to assert
    row counts / null rates without re-reading the input."""
    from bigdata_riveranalysis_spark.sources.tables import load_table

    from .conftest import SF_ORACLE

    from pyspark.sql import Observation

    li = load_table(spark, SF_ORACLE, "lineitem")
    obs = Observation("scan_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("rows_scanned"),
        F.sum(F.when(F.col("l_quantity").isNull(), 1).otherwise(0)).alias("null_qty"),
    )
    observed.filter(F.col("l_quantity") > 25).groupBy("l_returnflag").count().collect()
    got = obs.get
    assert got["rows_scanned"] == li.count()  # all rows observed pre-filter
    assert got["null_qty"] == 0


def test_sliding_quality_overlapping_windows(spark, tmp_path):
    """Sliding windows: an event lands in window/slide overlapping
    windows, each carrying BOTH bounds (previously untested public
    API with a start-only schema; review finding)."""
    from bigdata_riveranalysis_spark.streaming import sliding_quality

    rows = [_ev(1, "2024-01-01 00:20:00", user_id=1, value=10.0)]
    path = _write_files(tmp_path, [rows, [_ev(99, SENTINEL_TS, user_id=99)]])
    stream = file_json_stream(spark, path, max_files_per_trigger=1)
    out = _run_to_memory(
        sliding_quality(stream, window="1 hour", slide="30 minutes"), spark, "slide_q"
    )
    got = sorted(
        (r.window_start, r.window_end, r.n_readings, r.avg_value)
        for r in out.collect()
        if r.sensor_id == 1
    )
    # 00:20 falls in [23:30,00:30) and [00:00,01:00) — 2 windows (hour/slide = 2).
    assert got == [
        ("2023-12-31 23:30:00", "2024-01-01 00:30:00", 1, 10.0),
        ("2024-01-01 00:00:00", "2024-01-01 01:00:00", 1, 10.0),
    ]


def test_dedup_state_expires_past_watermark_horizon(spark, tmp_path):
    """The dedup state is BOUNDED by the watermark horizon — pinned
    from both sides (review finding: only the in-horizon case was
    tested). A redelivery carrying its ORIGINAL (now-late) timestamp
    is dropped by the watermark itself, so eviction never leaks an
    old-ts duplicate; a redelivery with a FRESH timestamp after the
    key's state was evicted passes through as a new event — the
    documented memory-for-exactness trade."""
    b1 = [_ev(1, "2024-01-01 00:10:00")]
    # Advance the watermark far past 00:10 + 2h horizon; key 1's state
    # (expires 02:10) is evicted at the END of the first batch that
    # RUNS with watermark 10:00 — the spacer — so the redeliveries
    # must arrive one batch later still (same staging discipline as
    # test_late_event_dropped_after_watermark).
    b2 = [_ev(2, "2024-01-01 12:00:00")]
    spacer = [_ev(3, "2024-01-01 12:30:00")]
    b4 = [
        _ev(1, "2024-01-01 00:10:00"),  # old ts: dropped as LATE, not re-emitted
        _ev(1, "2024-01-01 11:59:00"),  # fresh ts, state evicted: leaks through
    ]
    path = _write_files(tmp_path, [b1, b2, spacer, b4])
    stream = file_json_stream(spark, path, max_files_per_trigger=1)
    out = _run_to_memory(dedup_within_watermark(stream), spark, "dedup_exp_q")
    ids = sorted(r.event_id for r in out.collect())
    assert ids == [1, 1, 2, 3]  # exactly one extra 1: the fresh-ts redelivery


def test_rocksdb_state_store_parity(spark, monkeypatch):
    """The SPARK_GRAFT_STATE_STORE=rocksdb hook runs EVERY registered
    stream query on the RocksDB provider and produces identical
    results to the default HDFS-backed store (VERDICT r5 #6 config hook; the
    measured trade lives in _run_stream's sizing note)."""
    from bigdata_riveranalysis_spark.plans.registry import REGISTRY

    from .conftest import SF_SMOKE

    names = [n for n in REGISTRY if n.startswith("stream_")]
    assert len(names) >= 7
    base = {n: sorted(map(tuple, REGISTRY[n].fn(spark, SF_SMOKE).collect())) for n in names}
    monkeypatch.setenv("SPARK_GRAFT_STATE_STORE", "rocksdb")
    for n in names:
        rocks = sorted(map(tuple, REGISTRY[n].fn(spark, SF_SMOKE).collect()))
        assert rocks == base[n], f"{n}: provider changed the result"
    assert (
        spark.conf.get("spark.sql.streaming.stateStore.providerClass").endswith(
            "RocksDBStateStoreProvider"
        )
    )
    monkeypatch.setenv("SPARK_GRAFT_STATE_STORE", "not-a-provider")
    with pytest.raises(ValueError, match="SPARK_GRAFT_STATE_STORE"):
        REGISTRY[names[0]].fn(spark, SF_SMOKE)


def test_ewma_sorts_across_arrow_chunks(spark, tmp_path):
    """A group larger than arrow.maxRecordsPerBatch arrives as
    MULTIPLE chunks; the operator must sort the WHOLE group by
    (ts, event_id) before running the recurrence (r7 review:
    chunk-local sorts ran the chain in chunk-arrival order). Rows are
    written in REVERSE time order so any chunk-local shortcut
    produces a different chain than the simulation."""
    from bigdata_riveranalysis_spark.streaming.stateful import ewma_with_spikes

    n = 90
    batch = [
        _ev(i, f"2024-01-01 {i // 60:02d}:{i % 60:02d}:00",
            user_id=1, value=float(10 + (i * 7) % 23))
        for i in range(n)
    ][::-1]  # reverse arrival order
    path = _write_files(tmp_path, [batch])
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        stream = file_json_stream(spark, path, max_files_per_trigger=1)
        out = ewma_with_spikes(stream, alpha=0.5, spike_ratio=3.0)
        q = (
            out.writeStream.format("memory")
            .queryName("ewma_chunks")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    rows = {r.event_id: r.ewma for r in spark.table("ewma_chunks").collect()}
    # python simulation in (ts, event_id) == event_id order
    ewma = None
    for i in range(n):
        v = float(10 + (i * 7) % 23)
        ewma = v if ewma is None else 0.5 * v + 0.5 * ewma
        assert rows[i] == ewma, (i, rows[i], ewma)
