"""Streaming sinks — every start_* function REQUIRES a checkpoint path.

The reference's console sink runs checkpoint-less
(streaming/spark_processor.py:43-47); combined with
``startingOffsets=latest`` a restart silently loses data. The engine
makes the checkpoint location a positional argument on every sink so
the unsafe configuration is unrepresentable.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def start_parquet_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    *,
    output_mode: str = "append",
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """Columnar file sink (the Delta-on-MinIO intent the reference
    comments out, streaming/spark_processor.py:42, delivered as
    exactly-once parquet-on-filesystem via checkpointed file-sink
    commit log)."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_alert_sink(
    df: DataFrame,
    checkpoint: str,
    handler: Callable[[DataFrame, int], None],
    *,
    output_mode: str = "update",
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """foreachBatch alert dispatch (the MongoDB/Grafana serving path
    the reference provisions but never wires,
    Docker/docker-compose.yml:92-146). ``handler(batch_df, batch_id)``
    runs on the driver per micro-batch with a BATCH DataFrame — it may
    write to any batch sink; Spark retries the batch on failure, so
    the handler must be idempotent on ``batch_id``."""
    writer = (
        df.writeStream.foreachBatch(handler)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


#: Pointer-file name for ``commit="pointer"`` serving tables: a tiny
#: text file next to the generation directories whose CONTENT is the
#: basename of the live generation. Flipping it is one small-object
#: write — the primitive that is atomic on object stores (a PUT either
#: lands whole or not at all), unlike directory rename.
SERVING_POINTER_SUFFIX = ".ptr"


def resolve_serving_path(path: str) -> str | None:
    """Resolve a serving-table logical path to the directory readers
    should scan. Pointer-committed tables resolve through ``{path}.ptr``
    to the live generation dir; rename-committed (or legacy) tables
    resolve to ``path`` itself. None → table does not exist yet."""
    import os

    ptr = path + SERVING_POINTER_SUFFIX
    if os.path.exists(ptr):
        with open(ptr) as fh:
            gen = fh.read().strip()
        # No './' prefix for bare relative paths: the resolved dir is
        # compared against glob('{path}__b*') results and the writer's
        # own generation names, and a spurious './' fails both — the
        # sweep would then delete the LIVE generation (review finding).
        d = os.path.dirname(path)
        return os.path.join(d, gen) if d else gen
    return path if os.path.exists(path) else None


def read_serving_table(spark, path: str) -> DataFrame:
    """Read a serving table written by start_upsert_sink, resolving a
    pointer commit if one exists (falls back to the plain path for
    rename-committed tables)."""
    resolved = resolve_serving_path(path)
    if resolved is None:
        raise FileNotFoundError(f"serving table {path!r} does not exist yet")
    return spark.read.parquet(resolved)


def start_upsert_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    key_cols: tuple[str, ...],
    *,
    output_mode: str = "update",
    trigger_available_now: bool = False,
    commit: str = "rename",
) -> StreamingQuery:
    """Keyed upsert into a parquet serving table via foreachBatch —
    the MERGE-shaped sink for update-mode aggregations (latest value
    per key visible to readers, not an append log).

    Each micro-batch: read the current table, union the batch, keep
    the batch's row for every key it carries, rewrite. Batch rows with
    a NULL key are dropped: no reader can look them up. Rewriting the
    whole table is correct here and fine for a *serving* table (these are
    small by construction — one row per key); a 100 TB-keyspace sink
    instead partitions the table by a key prefix and rewrites only
    the partitions the batch touches (same handler, plus dynamic
    partition overwrite), or targets a real MERGE sink (Delta/Iceberg).
    Idempotence: re-running a batch after a crash converges to the
    same table state because the upsert is keyed, not positional.

    Two commit protocols (``commit=``):

    * ``"rename"`` (default; POSIX filesystems): rewrite into a shadow
      directory, then swap via directory renames. Crash-safe: the old
      table is renamed aside, the new one moved in, and only then is
      the old one deleted; a crash between rename-aside and move-in is
      healed on the next batch by restoring `__old`. Directory rename
      is atomic ONLY on POSIX — on S3-style object stores it is a
      non-atomic copy+delete, so use the pointer protocol there.
    * ``"pointer"`` (object-store-safe; the reference's declared
      Delta-on-MinIO intent, streaming/spark_processor.py:42, reduced
      to its essential primitive): each batch writes a NEW generation
      directory ``{path}__b{id}`` and then commits by atomically
      replacing the tiny ``{path}.ptr`` file whose content names the
      live generation — exactly the single-small-object commit that
      Delta's `_last_checkpoint`/log tail formalizes, and the one
      write object stores make atomic. Readers resolve through
      ``read_serving_table`` / ``resolve_serving_path``; the previous
      generation survives until the NEXT batch's sweep, so a reader
      that resolved the pointer just before the flip keeps a complete
      snapshot (generation-level snapshot isolation).

    Safety (failure modes this sink explicitly defends against):

    * "First batch" is decided by an explicit pointer/path-existence
      check, never by catching a read/merge exception — a transient
      read or merge failure must FAIL the micro-batch (Spark retries
      it), not silently overwrite the serving table with only the
      current batch.
    * A retry of an already-pointer-committed batch ping-pongs the
      generation name (``__b{id}`` ↔ ``__b{id}x``) so the merge never
      overwrites the directory it is lazily reading from.

    Contract: ONE upsert query per serving path. The orphan sweep
    deletes every ``{path}__b*`` except the current batch's target
    (and, under pointer commit, the live generation); two queries
    sharing a path would rmtree each other's in-flight shadow dirs
    mid-write (ADVICE r4). Partition concurrent writers by path.
    """
    import os
    import shutil

    import glob as _glob

    if commit not in ("rename", "pointer"):
        raise ValueError(f"commit must be 'rename' or 'pointer', got {commit!r}")

    def _merge(spark, batch: DataFrame, current_dir: str | None) -> DataFrame:
        # A NULL key never matches a key comparison, so a NULL-key row
        # would survive every later batch and pile up.
        keys = list(key_cols)
        batch = batch.dropna(subset=keys)
        if current_dir is None:  # genuinely the first batch
            return batch.dropDuplicates(keys)
        # One pass over the batch: union it with the current table and
        # keep, per key, a batch row if there is one. An anti-join on
        # the batch's keys would scan and parse the source twice.
        current = spark.read.parquet(current_dir)
        newest = Window.partitionBy(*keys).orderBy(F.col("__new").desc())
        return (
            current.withColumn("__new", F.lit(0))
            .unionByName(batch.withColumn("__new", F.lit(1)))
            .withColumn("__rank", F.row_number().over(newest))
            .filter("__rank = 1")
            .drop("__new", "__rank")
        )

    def _sweep(keep: set[str]) -> None:
        # Sweep generation/shadow dirs orphaned by a crash after
        # tmp-write but before the commit — over restarts with fresh
        # checkpoints these would otherwise accumulate (ADVICE r3).
        # Safe ONLY under the one-query-per-path contract above.
        for stale in _glob.glob(_glob.escape(path) + "__b*"):
            if stale not in keep:
                shutil.rmtree(stale, ignore_errors=True)

    def upsert_rename(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # Refuse to run rename-commit against a pointer-committed
        # table: the data lives in a {path}__b* generation the sweep
        # below would DELETE (while readers still resolve the stale
        # .ptr to it) — silent total data loss (review finding).
        # Protocol choice is configuration; fail loudly, don't migrate.
        if os.path.exists(path + SERVING_POINTER_SUFFIX):
            raise RuntimeError(
                f"serving table {path!r} is pointer-committed "
                f"({path + SERVING_POINTER_SUFFIX} exists); restart the sink "
                "with commit='pointer' (or remove the pointer and its "
                "generations deliberately) instead of rename-committing over it"
            )
        tmp = f"{path}__b{batch_id}"
        old = f"{path}__old"
        # Heal a crash window from a previous batch: table missing but
        # the renamed-aside copy present -> restore it before merging.
        if not os.path.exists(path) and os.path.exists(old):
            os.rename(old, path)
        _sweep({tmp})
        merged = _merge(spark, batch, path if os.path.exists(path) else None)
        merged.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(old, ignore_errors=True)
        if os.path.exists(path):
            os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old, ignore_errors=True)

    def upsert_pointer(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        live = resolve_serving_path(path)  # None | legacy path | gen dir
        gen = f"{path}__b{batch_id}"
        if live == gen:  # retry after commit: never read+overwrite one dir
            gen = gen + "x"
        _sweep({gen} | ({live} if live else set()))
        merged = _merge(spark, batch, live)
        merged.write.mode("overwrite").parquet(gen)
        # Commit: atomically replace the pointer file. os.replace is
        # atomic on POSIX; on an object store this maps to a single
        # small PUT of the pointer object (atomic per-object).
        ptr = path + SERVING_POINTER_SUFFIX
        ptr_tmp = ptr + ".__tmp"
        with open(ptr_tmp, "w") as fh:
            fh.write(os.path.basename(gen))
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(ptr_tmp, ptr)
        # A legacy rename-committed dir at `path` is now shadowed by
        # the pointer; drop it so naive readers can't see stale data.
        if live == path:
            shutil.rmtree(path, ignore_errors=True)

    writer = (
        df.writeStream.foreachBatch(
            upsert_pointer if commit == "pointer" else upsert_rename
        )
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_kafka_sink(
    df: DataFrame,
    checkpoint: str,
    *,
    bootstrap_servers: str,
    topic: str,
) -> StreamingQuery:
    """Kafka producer sink — the engine-native replacement for the
    reference's row-at-a-time Python producer loop
    (kafka/producer.py:35-47): every row JSON-encoded executor-side
    and produced in batched async sends. Frame construction shared
    with the batch publisher (sources.sinks.kafka_frames) so the
    broker-less wire-contract test covers both."""
    from bigdata_riveranalysis_spark.sources.sinks import kafka_frames

    return (
        kafka_frames(df)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
        .start()
    )
