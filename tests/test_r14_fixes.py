"""r14 regression pins.

  1. The staging memo's durable mode (VERDICT r13 #3): with
     SPARK_GRAFT_CHECKPOINT_DIR set, every staged frame routes through
     a RELIABLE checkpoint under that dir (survives lost executors on
     a cluster) and produces byte-identical results to the default
     localCheckpoint mode — checked on one ANN consumer and one
     MinHash consumer, exactly the verdict's done-criterion.
  2. stage() OWNS materialization (ADVICE r13): a builder that
     returns a lazy lineage-bearing frame still memoizes a
     lineage-cut frame — the per-consumer-recompute defect class
     can't be reintroduced by a forgetful caller.
  3. Stale-application eviction (ADVICE r13): memo entries keyed by a
     dead applicationId are dropped at the next insert, not retained
     for the process lifetime.
  4. clear_index_memo() unpersists (ADVICE r13): the blocks behind
     dropped frames are released best-effort, so clear+rebuild cycles
     don't leak executor blocks until the ContextCleaner notices.
  5. The memo's "derive once" is lock-enforced (ADVICE r13): two
     threads racing the same (corpus, stage) produce ONE build.
  6. stream_feature_map_state: the per-user map bundle survives
     micro-batches and matches an independent pandas fold.
"""

from __future__ import annotations

import os
import threading
import time

from .conftest import SF_SMOKE


def _tbl_hash(df):
    from tools.canon import table_hash

    rows = [tuple(r) for r in df.collect()]
    return table_hash(rows, df.columns)


# ---------------------------------------------------------------------------
# 1. durable checkpoint mode
# ---------------------------------------------------------------------------


def test_durable_mode_identical_hashes_and_durable_files(spark, tmp_path, monkeypatch):
    from bigdata_riveranalysis_spark.plans import llmdata as L
    from bigdata_riveranalysis_spark.plans import staging as S

    L.clear_index_memo()
    base_ann = _tbl_hash(L.ann_ivf_pq(spark, SF_SMOKE))
    base_mh = _tbl_hash(L.dedup_minhash_lsh(spark, SF_SMOKE))
    L.clear_index_memo()

    ckpt = tmp_path / "ckpt"
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(ckpt))
    try:
        dur_ann = _tbl_hash(L.ann_ivf_pq(spark, SF_SMOKE))
        dur_mh = _tbl_hash(L.dedup_minhash_lsh(spark, SF_SMOKE))
        # the reliable path actually ran: RDD checkpoint files exist
        # under the configured dir, and every memoized frame is
        # lineage-cut (a LogicalRDD scan, not a recomputable plan).
        files = [p for p in ckpt.rglob("*") if p.is_file()]
        assert files, "durable mode must write checkpoint files"
        assert S._INDEX_MEMO, "the consumers must have staged artifacts"
        assert all(S._is_lineage_cut(df) for df in S._INDEX_MEMO.values())
    finally:
        monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR")
        L.clear_index_memo()
    assert dur_ann == base_ann, "ANN results must not depend on the checkpoint mode"
    assert dur_mh == base_mh, "MinHash results must not depend on the checkpoint mode"


def test_materialize_routes_on_env(spark, tmp_path, monkeypatch):
    from bigdata_riveranalysis_spark.plans import staging as S

    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    local = S.materialize(spark.range(3))
    assert S._is_lineage_cut(local)

    ckpt = tmp_path / "ck2"
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(ckpt))
    durable = S.materialize(spark.range(3))
    assert S._is_lineage_cut(durable)
    assert [p for p in ckpt.rglob("*") if p.is_file()] or not spark.sparkContext._jsc.sc().getCheckpointDir().isEmpty()
    assert sorted(r.id for r in durable.collect()) == [0, 1, 2]


# ---------------------------------------------------------------------------
# 2. stage() owns materialization
# ---------------------------------------------------------------------------


def test_stage_materializes_lazy_builder(spark):
    from bigdata_riveranalysis_spark.plans import staging as S

    S.clear_index_memo()
    lazy = spark.range(10).selectExpr("id", "id * 2 AS dbl")
    assert not S._is_lineage_cut(lazy), "precondition: a plain plan has lineage"
    got = S.stage(spark, SF_SMOKE, "r14_lazy_probe", lambda: lazy)
    assert S._is_lineage_cut(got), "stage() must cut lineage for forgetful builders"
    assert got.count() == 10
    # pre-cut frames pass through untouched in default mode
    pre = spark.range(4).localCheckpoint()
    got2 = S.stage(spark, SF_SMOKE, "r14_precut_probe", lambda: pre)
    assert got2 is pre
    S.clear_index_memo()


# ---------------------------------------------------------------------------
# 3. stale-application eviction
# ---------------------------------------------------------------------------


def test_stage_evicts_dead_application_entries(spark):
    from bigdata_riveranalysis_spark.plans import staging as S

    S.clear_index_memo()
    dead = ("app-r14-dead-0000", os.path.abspath(SF_SMOKE), "ghost")
    S._INDEX_MEMO[dead] = spark.range(1).localCheckpoint()
    S.stage(spark, SF_SMOKE, "r14_evict_probe", lambda: spark.range(2))
    assert dead not in S._INDEX_MEMO, "dead-app entries must be evicted on insert"
    live = (spark.sparkContext.applicationId, os.path.abspath(SF_SMOKE), "r14_evict_probe")
    assert live in S._INDEX_MEMO
    S.clear_index_memo()


# ---------------------------------------------------------------------------
# 4. clear_index_memo unpersists
# ---------------------------------------------------------------------------


def test_clear_index_memo_unpersists_best_effort():
    from bigdata_riveranalysis_spark.plans import staging as S

    calls = []

    class _Frame:
        def __init__(self, name, boom=False):
            self.name, self.boom = name, boom

        def unpersist(self):
            if self.boom:
                raise RuntimeError("session stopped")
            calls.append(self.name)

    S.clear_index_memo()
    S._INDEX_MEMO[("a", "b", "one")] = _Frame("one")
    S._INDEX_MEMO[("a", "b", "two")] = _Frame("two", boom=True)
    S._INDEX_MEMO[("a", "b", "three")] = _Frame("three")
    S.clear_index_memo()
    assert not S._INDEX_MEMO
    assert calls == ["one", "three"], "unpersist every frame; a failure skips, not aborts"


def test_clear_index_memo_releases_checkpoint_blocks(spark):
    """DataFrame.unpersist() only clears SQL-cache entries; the blocks
    behind a localCheckpointed staging frame belong to the LogicalRDD's
    RDD. clear_index_memo must release THOSE (measured: RDD storage
    info drops only on the RDD-level unpersist)."""
    from bigdata_riveranalysis_spark.plans import staging as S

    def stored_ids():
        # Track the staged frame's OWN RDD, not a global block count:
        # earlier tests' dead RDDs are swept by the ContextCleaner at
        # arbitrary moments (the r17 right-size pass's unpersist makes
        # that churn likelier), so global before/after deltas are
        # order-fragile (review r17).
        return {
            i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        }

    S.clear_index_memo()
    got = S.stage(spark, SF_SMOKE, "r14_block_probe", lambda: spark.range(50000))
    got.count()
    rid = got._jdf.queryExecution().analyzed().rdd().id()
    assert rid in stored_ids(), "precondition: staging must hold blocks"
    S.clear_index_memo()
    assert rid not in stored_ids(), "clear must release the staged frames' blocks"


# ---------------------------------------------------------------------------
# 5. concurrent stage() builds once
# ---------------------------------------------------------------------------


def test_stage_concurrent_same_key_builds_once(spark):
    from bigdata_riveranalysis_spark.plans import staging as S

    S.clear_index_memo()
    builds = []

    def build():
        builds.append(threading.get_ident())
        time.sleep(0.3)
        return spark.range(7)

    results = []

    def worker():
        results.append(S.stage(spark, SF_SMOKE, "r14_race_probe", build))

    ts = [threading.Thread(target=worker) for _ in range(4)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert len(builds) == 1, "the lock must make 'derive once' real under races"
    assert all(r is results[0] for r in results)
    S.clear_index_memo()


# ---------------------------------------------------------------------------
# 6. stream_feature_map_state: the map bundle survives micro-batches
# ---------------------------------------------------------------------------


def test_feature_map_state_survives_micro_batches(spark, tmp_path):
    """The map-typed bundle folds batch-2 events into state built in
    batch 1 (state store round trip of a MapType column): occurrence
    indices continue across the boundary and the distinct-type size
    only grows on genuinely new types."""
    import json as _json
    import os as _os
    import time as _time

    from bigdata_riveranalysis_spark.streaming.sources import file_json_stream
    from bigdata_riveranalysis_spark.streaming.stateful import feature_map_bundle

    def ev(event_id, ts, user_id, event_type):
        return {
            "event_id": event_id,
            "ts": ts,
            "user_id": user_id,
            "event_type": event_type,
            "value": 1.0,
            "props": "{}",
        }

    b1 = [
        ev(1, "2024-01-01 00:00:00", 1, "view"),
        ev(2, "2024-01-01 00:01:00", 1, "click"),
    ]
    b2 = [
        ev(3, "2024-01-01 00:02:00", 1, "view"),  # occurrence 2, not new
        ev(4, "2024-01-01 00:03:00", 1, "purchase"),  # 3rd distinct type
        ev(5, "2024-01-01 00:04:00", 2, "view"),  # fresh user, fresh bundle
    ]
    src = tmp_path / "src"
    src.mkdir()
    t0 = _time.time() - 2
    for i, rows in enumerate((b1, b2)):
        p = src / f"batch_{i:03d}.json"
        p.write_text("\n".join(_json.dumps(r) for r in rows) + "\n")
        _os.utime(p, (t0 + i, t0 + i))

    stream = file_json_stream(spark, str(src), max_files_per_trigger=1)
    out = feature_map_bundle(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("feat_map_q")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "streaming query timed out (partial sink)"
    rows = {r.event_id: r for r in spark.table("feat_map_q").collect()}
    assert (rows[1].type_occurrence, rows[1].is_new_type, rows[1].n_types_so_far) == (1, True, 1)
    assert (rows[2].type_occurrence, rows[2].is_new_type, rows[2].n_types_so_far) == (1, True, 2)
    # batch-2 'view' continues the batch-1 map: occurrence 2, NOT new
    assert (rows[3].type_occurrence, rows[3].is_new_type, rows[3].n_types_so_far) == (2, False, 2)
    assert (rows[4].type_occurrence, rows[4].is_new_type, rows[4].n_types_so_far) == (1, True, 3)
    assert rows[4].events_so_far == 4
    assert (rows[5].type_occurrence, rows[5].is_new_type, rows[5].n_types_so_far) == (1, True, 1)


def test_feature_map_bundle_sorts_across_arrow_chunks(spark, tmp_path):
    """A group larger than arrow.maxRecordsPerBatch arrives as
    MULTIPLE chunks; the operator must sort the WHOLE group by
    (ts, event_id) before folding (the ewma r7 lesson, applied to the
    map bundle). Rows arrive in REVERSE time order with the first
    'purchase' late in event-time: a chunk-local fold would hand the
    new-type flag to the wrong occurrence."""
    import json as _json
    import os as _os
    import time as _time

    from bigdata_riveranalysis_spark.streaming.sources import file_json_stream
    from bigdata_riveranalysis_spark.streaming.stateful import feature_map_bundle

    n = 90
    rows = [
        {
            "event_id": i,
            "ts": f"2024-01-01 {i // 60:02d}:{i % 60:02d}:00",
            "user_id": 1,
            "event_type": "purchase" if i >= 45 else "view",
            "value": 1.0,
            "props": "{}",
        }
        for i in range(n)
    ][::-1]  # reverse arrival order
    src = tmp_path / "chunk_src"
    src.mkdir()
    p = src / "batch_000.json"
    p.write_text("\n".join(_json.dumps(r) for r in rows) + "\n")
    _os.utime(p, (_time.time() - 1, _time.time() - 1))

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        stream = file_json_stream(spark, str(src), max_files_per_trigger=1)
        q = (
            feature_map_bundle(stream)
            .writeStream.format("memory")
            .queryName("feat_map_chunks")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    got = {
        r.event_id: (r.type_occurrence, r.is_new_type, r.n_types_so_far)
        for r in spark.table("feat_map_chunks").collect()
    }
    for i in range(n):
        if i < 45:
            assert got[i] == (i + 1, i == 0, 1), (i, got[i])
        else:
            assert got[i] == (i - 44, i == 45, 2), (i, got[i])


def test_feature_map_state_randomized_vs_pandas_reference(spark, tmp_path):
    """Seeded randomized replay (3 time-ordered micro-batches, 40
    users × 6 event types, 400 events) checked against an INDEPENDENT
    pandas fold — not the engine, not the SQL oracle — so the
    differential can't be both-engines-wrong on the map-bundle
    semantics (occurrence index, new-type flag, distinct-type count,
    running total across batch boundaries)."""
    import json as _json
    import os as _os
    import random
    import time as _time

    from bigdata_riveranalysis_spark.streaming.sources import file_json_stream
    from bigdata_riveranalysis_spark.streaming.stateful import feature_map_bundle

    rng = random.Random(1405)
    types = ["view", "click", "purchase", "refund", "share", "login"]
    rows = []
    for eid in range(1, 401):
        rows.append(
            {
                "event_id": eid,
                # strictly increasing ts so any batch split preserves
                # the global (ts, event_id) order — the determinism
                # contract the operator documents
                "ts": f"2024-01-01 {eid // 3600:02d}:{(eid // 60) % 60:02d}:{eid % 60:02d}",
                "user_id": rng.randrange(1, 41),
                "event_type": rng.choice(types),
                "value": 1.0,
                "props": "{}",
            }
        )
    src = tmp_path / "rand_src"
    src.mkdir()
    t0 = _time.time() - 3
    for i, chunk in enumerate((rows[:150], rows[150:290], rows[290:])):
        p = src / f"batch_{i:03d}.json"
        p.write_text("\n".join(_json.dumps(r) for r in chunk) + "\n")
        _os.utime(p, (t0 + i, t0 + i))

    stream = file_json_stream(spark, str(src), max_files_per_trigger=1)
    q = (
        feature_map_bundle(stream)
        .writeStream.format("memory")
        .queryName("feat_map_rand")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "streaming query timed out (partial sink)"
    got = {
        r.event_id: (
            r.type_occurrence,
            r.is_new_type,
            r.n_types_so_far,
            r.events_so_far,
        )
        for r in spark.table("feat_map_rand").collect()
    }

    # independent fold, plain dicts in global (ts, event_id) order
    counts: dict = {}
    want = {}
    for r in rows:  # event_id order == (ts, event_id) order here
        bundle = counts.setdefault(r["user_id"], {})
        c = bundle.get(r["event_type"], 0) + 1
        bundle[r["event_type"]] = c
        want[r["event_id"]] = (
            c,
            c == 1,
            len(bundle),
            sum(bundle.values()),
        )
    assert got == want
