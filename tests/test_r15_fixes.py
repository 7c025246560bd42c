"""r15 regression pins.

  1. Staging memo hygiene (ADVICE r14): flipping
     SPARK_GRAFT_CHECKPOINT_DIR to a DIFFERENT path mid-session
     re-routes new materializations (the isEmpty()-only check silently
     ignored dir-to-dir flips); clear_index_memo deletes durable
     checkpoint FILES (reliable-checkpoint files are not blocks —
     without cleanCheckpoints on the host session they leak forever);
     different stage keys build in parallel instead of serializing
     behind one global lock.
"""

from __future__ import annotations

import glob
import os
import threading

from .conftest import SF_SMOKE


# ---------------------------------------------------------------------------
# 1. staging memo hygiene
# ---------------------------------------------------------------------------


def _ckpt_rdd_dirs(root) -> list[str]:
    """rdd-* reliable-checkpoint dirs anywhere under a checkpoint root
    (Spark nests them under a per-setCheckpointDir UUID subdir)."""
    return glob.glob(os.path.join(str(root), "**", "rdd-*"), recursive=True)


def test_checkpoint_dir_flip_reroutes(spark, tmp_path, monkeypatch):
    """Mid-session SPARK_GRAFT_CHECKPOINT_DIR dir-to-dir flips must
    re-route new materializations, not be silently ignored."""
    from bigdata_riveranalysis_spark.plans import staging as S

    S.clear_index_memo()
    d1, d2 = tmp_path / "ck1", tmp_path / "ck2"
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(d1))
    S.stage(spark, SF_SMOKE, "r15_flip_a", lambda: spark.range(10))
    assert _ckpt_rdd_dirs(d1), "first stage must checkpoint under dir 1"

    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(d2))
    S.stage(spark, SF_SMOKE, "r15_flip_b", lambda: spark.range(20))
    assert _ckpt_rdd_dirs(d2), "post-flip stage must checkpoint under dir 2"
    S.clear_index_memo()
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR")
    # Leave the context back on a tmp dir-less posture for later tests:
    # the installed checkpoint dir is harmless (only durable mode uses
    # it) but must not point at a deleted tmp_path for THIS session's
    # remaining durable tests — each re-sets the env and re-routes.


def test_clear_index_memo_deletes_durable_checkpoint_files(
    spark, tmp_path, monkeypatch
):
    """Reliable-checkpoint files are not blocks: clear_index_memo must
    delete them (Spark only would with cleanCheckpoints enabled)."""
    from bigdata_riveranalysis_spark.plans import staging as S

    S.clear_index_memo()
    ck = tmp_path / "ck_durable"
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(ck))
    got = S.stage(spark, SF_SMOKE, "r15_durable_probe", lambda: spark.range(500))
    assert got.count() == 500
    before = _ckpt_rdd_dirs(ck)
    assert before, "precondition: durable mode must write checkpoint files"
    S.clear_index_memo()
    assert not _ckpt_rdd_dirs(ck), (
        "clear must delete the dropped frames' durable checkpoint dirs"
    )
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR")


def test_stage_different_keys_build_in_parallel(spark):
    """A slow build of stage A must not block an unrelated stage B
    (per-key locks; the old single global RLock serialized them)."""
    from bigdata_riveranalysis_spark.plans import staging as S

    S.clear_index_memo()
    slow_started = threading.Event()
    release_slow = threading.Event()
    done: list[str] = []

    def slow_build():
        slow_started.set()
        assert release_slow.wait(timeout=30), "test deadlock"
        return spark.range(5)

    def slow_worker():
        S.stage(spark, SF_SMOKE, "r15_slow_stage", slow_build)
        done.append("slow")

    t_slow = threading.Thread(target=slow_worker)
    t_slow.start()
    assert slow_started.wait(timeout=30)
    # While the slow build holds ITS key lock, a different key must
    # stage to completion.
    fast_done = threading.Event()

    def fast_worker():
        S.stage(spark, SF_SMOKE, "r15_fast_stage", lambda: spark.range(3))
        fast_done.set()

    t_fast = threading.Thread(target=fast_worker)
    t_fast.start()
    assert fast_done.wait(timeout=30), (
        "an unrelated stage must not serialize behind the slow build"
    )
    release_slow.set()
    t_slow.join(timeout=30)
    t_fast.join(timeout=5)
    assert done == ["slow"]
    S.clear_index_memo()


def test_stage_builder_reentry_same_thread(spark):
    """A builder that itself stages a sub-artifact (different key) must
    not deadlock under the per-key locks."""
    from bigdata_riveranalysis_spark.plans import staging as S

    S.clear_index_memo()

    def outer_build():
        inner = S.stage(spark, SF_SMOKE, "r15_inner", lambda: spark.range(4))
        return inner.selectExpr("id * 2 AS id2")

    got = S.stage(spark, SF_SMOKE, "r15_outer", outer_build)
    assert got.count() == 4
    S.clear_index_memo()


# ---------------------------------------------------------------------------
# 2. feature_map_bundle: sentinel collision closed + tested state TTL
# ---------------------------------------------------------------------------


def _ev(event_id, ts, user_id, event_type):
    import json

    return json.dumps(
        {
            "event_id": event_id,
            "ts": ts,
            "user_id": user_id,
            "event_type": event_type,
            "value": 1.0,
            "props": "{}",
        }
    )


def _replay_batches(
    spark, tmp_path, batches, *, ttl_ms=None, n_rows=None, name="r15_feat"
):
    """One JSON file per micro-batch through feature_map_bundle into a
    memory sink; returns {event_id: row}.

    Default mode drains with availableNow. TTL mode must run a
    CONTINUOUS trigger and stop explicitly once ``n_rows`` output rows
    land: Trigger.AvailableNow never terminates under
    ProcessingTimeTimeout (shouldRunAnotherBatch is unconditionally
    true — see stateful.feature_map_bundle's docstring)."""
    import os
    import time

    from bigdata_riveranalysis_spark.streaming.sources import file_json_stream
    from bigdata_riveranalysis_spark.streaming.stateful import feature_map_bundle

    src = tmp_path / f"src_{name}"
    src.mkdir()
    t0 = time.time() - len(batches)
    for i, rows in enumerate(batches):
        p = src / f"batch_{i:03d}.json"
        p.write_text("\n".join(rows) + "\n")
        os.utime(p, (t0 + i, t0 + i))
    stream = file_json_stream(spark, str(src), max_files_per_trigger=1)
    out = feature_map_bundle(stream, ttl_ms=ttl_ms)
    writer = out.writeStream.format("memory").queryName(name).outputMode("append")
    if ttl_ms is None:
        q = writer.trigger(availableNow=True).start()
        try:
            assert q.awaitTermination(120), "streaming query timed out"
        finally:
            q.stop()
    else:
        q = writer.start()
        try:
            deadline = time.time() + 120
            while spark.table(name).count() < n_rows:
                assert q.exception() is None, str(q.exception())
                assert time.time() < deadline, (
                    f"only {spark.table(name).count()}/{n_rows} rows in 120s"
                )
                time.sleep(0.5)
        finally:
            q.stop()
    return {r.event_id: r for r in spark.table(name).collect()}


def test_feature_map_bundle_sentinel_value_distinct_from_null(spark, tmp_path):
    """A genuine event_type equal to any former sentinel spelling must
    NOT merge with NULL-typed events (ADVICE r14: injective key
    encoding). User 1 interleaves NULL and the literal strings
    '\\x00null' / '\\x00': each must count as its own type."""
    rows = _replay_batches(
        spark,
        tmp_path,
        [
            [
                _ev(1, "2024-01-01 00:00:00", 1, None),
                _ev(2, "2024-01-01 00:01:00", 1, "\x00null"),
                _ev(3, "2024-01-01 00:02:00", 1, "\x00"),
                _ev(4, "2024-01-01 00:03:00", 1, None),
                _ev(5, "2024-01-01 00:04:00", 1, "\x00null"),
            ]
        ],
        name="r15_sentinel",
    )
    # NULL is its own partition: occurrences 1 then 2.
    assert (rows[1].type_occurrence, rows[1].is_new_type) == (1, True)
    assert (rows[4].type_occurrence, rows[4].is_new_type) == (2, False)
    # the literal strings are each their own type, not merged with NULL
    assert (rows[2].type_occurrence, rows[2].is_new_type) == (1, True)
    assert (rows[3].type_occurrence, rows[3].is_new_type) == (1, True)
    assert (rows[5].type_occurrence, rows[5].is_new_type) == (2, False)
    # 3 distinct types after event 3 (NULL, '\x00null', '\x00')
    assert rows[3].n_types_so_far == 3
    assert rows[5].n_types_so_far == 3 and rows[5].events_so_far == 5


def test_feature_map_bundle_ttl_expires_and_rebuilds(spark, tmp_path):
    """ttl_ms mode: a user idle past the TTL has their bundle removed
    (ProcessingTimeTimeout) and a later event rebuilds from empty —
    occurrence indices restart at 1."""
    rows = _replay_batches(
        spark,
        tmp_path,
        [
            # batch 1: user 1 builds state; user 2 keeps the stream busy
            [
                _ev(1, "2024-01-01 00:00:00", 1, "view"),
                _ev(2, "2024-01-01 00:01:00", 2, "view"),
            ],
            # batch 2: user 1 absent → its 1 ms TTL has expired by the
            # time this batch processes → bundle removed
            [_ev(3, "2024-01-01 00:02:00", 2, "view")],
            # batch 3: user 1 returns → rebuilt from EMPTY
            [_ev(4, "2024-01-01 00:03:00", 1, "view")],
        ],
        ttl_ms=1,
        n_rows=4,
        name="r15_ttl",
    )
    assert (rows[1].type_occurrence, rows[1].is_new_type) == (1, True)
    # user 2's state survived (it had data in every batch, TTL reset)
    assert (rows[3].type_occurrence, rows[3].events_so_far) == (2, 2)
    # user 1's second 'view' would be occurrence 2 without the expiry
    assert (rows[4].type_occurrence, rows[4].is_new_type) == (1, True)
    assert rows[4].events_so_far == 1, "bundle must rebuild from empty"


def test_feature_map_bundle_default_no_ttl_semantics_unchanged(spark, tmp_path):
    """Without ttl_ms the operator keeps state across arbitrarily
    spaced batches — the registered query's semantics are untouched by
    the TTL switch."""
    rows = _replay_batches(
        spark,
        tmp_path,
        [
            [_ev(1, "2024-01-01 00:00:00", 1, "view")],
            [_ev(2, "2024-01-01 00:02:00", 1, "view")],
        ],
        name="r15_nottl",
    )
    assert (rows[2].type_occurrence, rows[2].events_so_far) == (2, 2)
