"""r16 regression pins (ADVICE r15 + VERDICT r15 #3/#5/#6).

  1. Checkpoint-dir comparison is defaultFS-qualified (ADVICE r15
     medium): the installed dir is stored fully qualified, so a bare
     env path must be qualified the same way before comparing or a
     cluster with hdfs defaultFS re-calls setCheckpointDir per
     materialization forever.
  2. Staging KEY LOCKS are never dropped (ADVICE r15 low):
     clear_index_memo / other-app eviction used to delete RLocks a
     build could be holding, so a same-key stage() after the clear
     minted a fresh lock and ran a duplicate concurrent build.
  3. memo_entries is scoped to one corpus and application, so a
     caller counting warm staging entries never reads another
     corpus's stages.
  4. Pre-r15 state-key migration (ADVICE r15 low): a stream resumed
     from a pre-r15 checkpoint rewrites raw/"\\x00null" keys into the
     injective r15 format on first read — occurrence chains continue.
  5. TTL knife-edge (VERDICT r15 #6): an event arriving in the same
     micro-batch in which the key's ProcessingTimeTimeout would fire
     WINS — Spark never times out a key that has data in the batch —
     so the bundle continues instead of resetting.
"""

from __future__ import annotations

import glob
import os
import threading

from .conftest import SF_SMOKE
from .test_r15_fixes import _ev, _replay_batches


# ---------------------------------------------------------------------------
# 1. checkpoint-dir comparison is defaultFS-qualified
# ---------------------------------------------------------------------------


def test_qualified_env_path_matches_installed_parent(spark, tmp_path, monkeypatch):
    """The exact comparison materialize() makes — installed parent vs
    qualified env path — must hold for a BARE local path through the
    real Hadoop makeQualified path (not the no-JVM fallback), because
    Spark stores the installed dir fully qualified."""
    from bigdata_riveranalysis_spark.plans import staging as S

    bare = str(tmp_path / "ck_qual")
    sc = spark.sparkContext
    sc.setCheckpointDir(bare)
    installed = sc._jsc.sc().getCheckpointDir().get()
    assert "://" in installed or installed.startswith("file:"), (
        f"precondition: Spark stores the dir qualified, got {installed!r}"
    )
    df = spark.range(1)
    assert S._dir_parent(installed) == S._qualify(df, bare)


def test_hdfs_shaped_installed_dir_vs_bare_env_path():
    """Pure-logic pin of the ADVICE r15 defect shape: on a cluster
    where defaultFS is hdfs, the installed parent normalizes WITH
    authority while the raw env path has none — the r15 comparison
    (_dir_parent vs _norm_path) therefore mismatched permanently.
    _qualify exists to resolve the env side against defaultFS; its
    no-JVM fallback still normalizes an ALREADY-qualified env value to
    the matching form."""
    from bigdata_riveranalysis_spark.plans import staging as S

    installed = "hdfs://nn:8020/ckpt/55a1c2d3-uuid"
    assert S._dir_parent(installed) == "hdfs://nn:8020/ckpt"
    # the defect: bare path never equals the authority-qualified parent
    assert S._norm_path("/ckpt") != S._dir_parent(installed)
    # an env value spelled fully qualified compares equal either way
    assert S._norm_path("hdfs://nn:8020/ckpt") == S._dir_parent(installed)


def test_no_uuid_scatter_across_materializations(spark, tmp_path, monkeypatch):
    """Two stage() calls under one unchanged SPARK_GRAFT_CHECKPOINT_DIR
    must share ONE setCheckpointDir installation (one UUID subdir) —
    the scatter the qualified comparison prevents."""
    from bigdata_riveranalysis_spark.plans import staging as S

    S.clear_index_memo()
    ck = tmp_path / "ck_scatter"
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(ck))
    S.stage(spark, SF_SMOKE, "r16_scatter_a", lambda: spark.range(5))
    S.stage(spark, SF_SMOKE, "r16_scatter_b", lambda: spark.range(6))
    uuid_dirs = [p for p in glob.glob(os.path.join(str(ck), "*")) if os.path.isdir(p)]
    assert len(uuid_dirs) == 1, (
        f"expected one UUID checkpoint subdir, got {uuid_dirs}"
    )
    S.clear_index_memo()
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR")


# ---------------------------------------------------------------------------
# 2. key locks survive clear_index_memo and other-app eviction
# ---------------------------------------------------------------------------


def test_clear_during_inflight_build_serializes_and_rebuilds(spark):
    """clear_index_memo() while a build holds its key lock: a same-key
    stage() arriving AFTER the clear must block on the SAME lock (no
    duplicate CONCURRENT build — ADVICE r15's lock retention), and
    then REBUILD rather than reuse the in-flight build's result — a
    clear means the corpus may have been rewritten, so the pre-clear
    build's artifact would be stale for every post-clear caller
    (review r16; the generation guard skips the pre-clear build's
    memo insert). The pre-clear caller itself keeps its own result:
    its call happened-before the clear."""
    from bigdata_riveranalysis_spark.plans import staging as S

    S.clear_index_memo()
    builds: list[str] = []
    build_started = threading.Event()
    release_build = threading.Event()

    def slow_build():
        builds.append(threading.current_thread().name)
        if len(builds) == 1:
            build_started.set()
            assert release_build.wait(timeout=30), "test deadlock"
        return spark.range(7)

    results: dict = {}

    def staged():
        results[threading.current_thread().name] = S.stage(
            spark, SF_SMOKE, "r16_clear_race", slow_build
        )

    t1 = threading.Thread(target=staged, name="pre-clear")
    t1.start()
    assert build_started.wait(timeout=30)
    S.clear_index_memo()  # mid-build clear — must NOT drop the key lock

    t2 = threading.Thread(target=staged, name="post-clear")
    t2.start()
    # the second stage must be BLOCKED behind the in-flight build —
    # never a concurrent duplicate on a freshly-minted lock
    t2.join(timeout=1.0)
    assert t2.is_alive(), "second stage must wait on the in-flight key lock"
    release_build.set()
    t1.join(timeout=30)
    t2.join(timeout=30)
    assert builds == ["pre-clear", "post-clear"], (
        "post-clear stage must rebuild (stale pre-clear artifact must "
        "not be served), serialized behind the in-flight build"
    )
    assert results["pre-clear"] is not results["post-clear"]
    # the post-clear build IS memoized for subsequent callers
    third = S.stage(
        spark, SF_SMOKE, "r16_clear_race", lambda: spark.range(99)
    )
    assert third is results["post-clear"], (
        "a follow-up stage must hit the post-clear memo entry"
    )
    assert len(builds) == 2
    S.clear_index_memo()


def test_clear_generation_skips_only_preclear_insert(spark):
    """The generation guard is scoped to builds that STARTED before
    the clear: a stage() beginning after the clear memoizes normally
    (its insert carries the current generation)."""
    from bigdata_riveranalysis_spark.plans import staging as S

    S.clear_index_memo()
    a = S.stage(spark, SF_SMOKE, "r16_gen_scope", lambda: spark.range(3))
    b = S.stage(spark, SF_SMOKE, "r16_gen_scope", lambda: spark.range(4))
    assert b is a, "same-generation stage must hit the memo"
    S.clear_index_memo()
    c = S.stage(spark, SF_SMOKE, "r16_gen_scope", lambda: spark.range(5))
    d = S.stage(spark, SF_SMOKE, "r16_gen_scope", lambda: spark.range(6))
    assert c is not a and d is c, (
        "post-clear stage rebuilds once and memoizes for followers"
    )
    S.clear_index_memo()


def test_other_app_insert_evicts_frames_but_not_locks(spark):
    """A new application's memo insert evicts other-app FRAMES (dead
    blocks) but must keep other-app LOCKS (identity loss mid-build =
    the duplicate-build race, ADVICE r15)."""
    from bigdata_riveranalysis_spark.plans import staging as S

    S.clear_index_memo()
    fake_key = ("app-someone-else", "/nonexistent/corpus", "r16_fake_stage")
    with S._LOCK:
        S._INDEX_MEMO[fake_key] = spark.range(1)
        S._KEY_LOCKS[fake_key] = threading.RLock()
    S.stage(spark, SF_SMOKE, "r16_evict_probe", lambda: spark.range(2))
    with S._LOCK:
        assert fake_key not in S._INDEX_MEMO, "other-app frame must evict"
        assert fake_key in S._KEY_LOCKS, "other-app lock must survive"
        del S._KEY_LOCKS[fake_key]
    S.clear_index_memo()


# ---------------------------------------------------------------------------
# 3. memo_entries scope
# ---------------------------------------------------------------------------


def test_memo_entries_scoped_to_corpus_and_app(spark):
    """memo_entries counts only THIS application's stages for the
    queried corpus — a caller at sf0.1 must not read sf0.01 test
    stages as warmth."""
    from bigdata_riveranalysis_spark.plans import staging as S

    S.clear_index_memo()
    S.stage(spark, SF_SMOKE, "r16_scope_probe", lambda: spark.range(3))
    assert S.memo_entries(spark, SF_SMOKE) == 1
    assert S.memo_entries(spark, "/root/testdata/sf0.01") == 0
    S.clear_index_memo()
    assert S.memo_entries(spark, SF_SMOKE) == 0


# ---------------------------------------------------------------------------
# 4. pre-r15 state-key migration
# ---------------------------------------------------------------------------


def test_migrate_state_keys_rewrites_legacy_formats():
    from bigdata_riveranalysis_spark.streaming.stateful import (
        _migrate_state_keys,
    )

    legacy_and_current = {
        "view": 3,  # pre-r15 raw string
        "\x00null": 2,  # pre-r15 NULL sentinel
        "\x00": 4,  # current NULL bucket
        "\x01click": 1,  # current encoded key
        "click": 5,  # pre-r15 raw spelling of the same type
    }
    assert _migrate_state_keys(legacy_and_current) == {
        "\x01view": 3,
        "\x00": 6,  # "\x00null" merges into the current NULL bucket
        "\x01click": 6,  # raw + encoded spellings merge additively
    }
    # current-format state is a fixed point (the every-batch call is a
    # no-op rewrite, never a drift source)
    current = {"\x00": 7, "\x01view": 2}
    assert _migrate_state_keys(current) == current
    assert _migrate_state_keys({}) == {}


# ---------------------------------------------------------------------------
# 5. TTL knife-edge: data in the expiry batch beats the timeout
# ---------------------------------------------------------------------------


def _replay_session_batches(spark, tmp_path, batches, *, name, timeout=180):
    """One JSON file per micro-batch through session_fold_event_ttl
    (gap 30 min, watermark delay 10 min) into a memory sink under
    availableNow; returns the collected rows. Termination itself is an
    assertion: EventTimeTimeout MUST drain (cleanup batches run only
    while the watermark advances) — the exact property that makes this
    timeout mode registrable where ProcessingTimeTimeout is not."""
    import time

    from bigdata_riveranalysis_spark.streaming.sources import file_json_stream
    from bigdata_riveranalysis_spark.streaming.stateful import (
        session_fold_event_ttl,
    )

    src = tmp_path / f"src_{name}"
    src.mkdir()
    t0 = time.time() - len(batches)
    for i, rows in enumerate(batches):
        p = src / f"batch_{i:03d}.json"
        p.write_text("\n".join(rows) + "\n")
        os.utime(p, (t0 + i, t0 + i))
    stream = file_json_stream(spark, str(src), max_files_per_trigger=1)
    out = session_fold_event_ttl(
        stream, gap_minutes=30, watermark_delay="10 minutes"
    )
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(timeout), (
            "EventTimeTimeout availableNow drain must terminate"
        )
    finally:
        q.stop()
    return sorted(
        spark.table(name).collect(),
        key=lambda r: (r.user_id, r.session_start),
    )


# ---------------------------------------------------------------------------
# 6. EventTimeTimeout session fold: measured boundary semantics
# ---------------------------------------------------------------------------


def test_session_fold_event_ttl_timeout_boundary(spark, tmp_path):
    """The measured Spark semantics the registered oracle replicates:
    state times out iff floor_ms(last)+gap < floor_ms(max ts)-delay
    STRICTLY — equality stays open (knife-edge planted to the
    millisecond on both sides of the boundary), sub-ms components
    truncate, in-batch gaps close inline, and the open session the
    final watermark never reaches is unreported."""
    rows = _replay_session_batches(
        spark,
        tmp_path,
        [
            [
                # u1: session ends 00:10 -> timeout 00:40 << wm -> emitted
                _ev(1, "2024-01-01 00:00:00", 1, "view"),
                _ev(2, "2024-01-01 00:10:00", 1, "view"),
                # u2 knife-edge: floor_ms(09:20:00.000500)+30min ==
                # floor_ms(10:00:00.000999)-10min -> equality -> OPEN
                _ev(3, "2024-01-01 09:20:00.000500", 2, "view"),
                # u3: 1 ms inside the boundary -> emitted
                _ev(4, "2024-01-01 09:19:59.999", 3, "view"),
                # u4: 60-min in-batch gap -> first session closes 'gap'
                _ev(5, "2024-01-01 01:00:00", 4, "view"),
                _ev(6, "2024-01-01 02:00:00", 4, "view"),
                # u9 anchor sets wm = floor_ms(10:00:00.000999) - 10 min
                _ev(9, "2024-01-01 10:00:00.000999", 9, "view"),
            ]
        ],
        name="r16_sess_edge",
    )
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events,
         r.last_event_id, r.close_reason)
        for r in rows
    }
    assert got == {
        (1, "2024-01-01 00:00:00", "2024-01-01 00:10:00", 2, 2, "timeout"),
        (3, "2024-01-01 09:19:59", "2024-01-01 09:19:59", 1, 4, "timeout"),
        (4, "2024-01-01 01:00:00", "2024-01-01 01:00:00", 1, 5, "gap"),
        (4, "2024-01-01 02:00:00", "2024-01-01 02:00:00", 1, 6, "timeout"),
    }, got


def test_session_fold_event_ttl_multi_batch(spark, tmp_path):
    """Across micro-batches: the watermark advanced by batch 2's data
    fires batch-1 sessions' timeouts in the cleanup batch; a late
    (within-watermark) event folds into the open session WITHOUT
    moving its end backward; the final open sessions stay unreported."""
    rows = _replay_session_batches(
        spark,
        tmp_path,
        [
            [
                _ev(1, "2024-01-01 00:00:00", 1, "view"),
                _ev(2, "2024-01-01 00:00:00", 2, "view"),
                _ev(3, "2024-01-01 01:00:00", 4, "view"),
            ],
            [
                # u2's 5h-later event: closes its first session 'gap',
                # and its ts advances the watermark to 04:50 so u1's
                # (timeout 00:30) and u4's (timeout 01:30 after the
                # late fold) sessions expire in the cleanup batch
                _ev(4, "2024-01-01 05:00:00", 2, "view"),
                # u4 late-but-within-watermark event (00:55 > batch-2
                # late-event watermark 23:50): folds in, session
                # becomes 00:55 -> 01:00 with the END unchanged
                _ev(5, "2024-01-01 00:55:00", 4, "view"),
            ],
        ],
        name="r16_sess_multi",
    )
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events,
         r.last_event_id, r.close_reason)
        for r in rows
    }
    assert got == {
        (1, "2024-01-01 00:00:00", "2024-01-01 00:00:00", 1, 1, "timeout"),
        (2, "2024-01-01 00:00:00", "2024-01-01 00:00:00", 1, 2, "gap"),
        (4, "2024-01-01 00:55:00", "2024-01-01 01:00:00", 2, 3, "timeout"),
    }, got


def test_feature_map_bundle_data_beats_expired_ttl(spark, tmp_path):
    """The knife-edge the r15 expire-then-rebuild test couldn't reach:
    by the time batch 2 processes, user 1's 1 ms TTL has long expired —
    but batch 2 CONTAINS a user-1 event, and Spark never calls the
    timed-out branch for a key with data in the batch (data wins the
    race at the expiry instant). The bundle must therefore CONTINUE
    (occurrence 2), not reset — the exact opposite outcome of the r15
    idle-user test, from the same TTL configuration."""
    rows = _replay_batches(
        spark,
        tmp_path,
        [
            [
                _ev(1, "2024-01-01 00:00:00", 1, "view"),
                _ev(2, "2024-01-01 00:01:00", 2, "view"),
            ],
            # batch 2 processes seconds later (>> 1 ms TTL) — user 1's
            # expiry instant has passed, and user 1 has data here
            [
                _ev(3, "2024-01-01 00:02:00", 1, "view"),
                _ev(4, "2024-01-01 00:03:00", 2, "view"),
            ],
        ],
        ttl_ms=1,
        n_rows=4,
        name="r16_ttl_edge",
    )
    assert (rows[1].type_occurrence, rows[1].is_new_type) == (1, True)
    assert (rows[3].type_occurrence, rows[3].is_new_type) == (2, False), (
        "data arriving in the expiry batch must continue the bundle"
    )
    assert rows[3].events_so_far == 2
    assert (rows[4].type_occurrence, rows[4].events_so_far) == (2, 2)
