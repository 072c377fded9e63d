"""Streaming execution helpers: file replay, memory-sink runs, and the
foreachBatch incremental-sync loop (the reference's diff, incrementalized).

Every query here is started, drained and stopped by :func:`drain`, so
each micro-batch costs the same fixed work: an offset-log and a
commit-log write on the query's temporary local checkpoint (plus the
file source's own log entry), each a write-to-temp and rename through
:data:`_FS_CHECKPOINT_MANAGER` with no process fork, then the Spark
jobs of the batch's own plan — two per CDC batch in
:func:`incremental_sync_foreachbatch`, whose docstring has its cost.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter


def stage_as_stream_source(df: DataFrame, path: str, n_files: int = 5) -> str:
    """Write a DataFrame as N parquet files at ``path``, replacing what
    is there, for file-by-file stream replay (FIXTURES.md §B3). Arrival
    order across files is arbitrary. A staging that several calls or
    processes share is built once through
    :func:`~database_syncer_spark.catalog.fixture_cache`, which
    publishes it whole."""
    df.repartition(n_files).write.mode("overwrite").parquet(path)
    return path


def stage_as_stream_batches(frames: list[DataFrame], path: str) -> str:
    """Write one parquet file per frame at ``path``, replacing what is
    there, sequentially in list order, so the file source
    (maxFilesPerTrigger=1 replays in mtime order) makes micro-batch k
    exactly frame k. Use it where the replay's semantics depend on
    batch order or composition: event-time quantiles for a watermark
    (with out-of-order replay a watermark legitimately drops late rows),
    or groups that must not be split across batches (rolling ingest:
    batch 2 must probe what batch 1 admitted)."""
    for i, df in enumerate(frames):
        (df.coalesce(1).write.mode("append" if i else "overwrite")
         .parquet(path))
    return path


#: RocksDB is the session default for every stateful streaming run (r6
#: verdict item 4): the default HDFS-backed provider keeps every
#: partition's state map ON HEAP — at 100-TB event volumes that is the
#: executor OOM — while RocksDB bounds state to off-heap block cache +
#: local SSD with the same exactly-once semantics. At probe scale the two
#: measure within noise (scripts/state_store_probe.py: 10 M events), so
#: the bounded-memory provider is strictly the better default; pass
#: ``state_store_provider=None`` to run on whatever the session has.
ROCKSDB_PROVIDER = ("org.apache.spark.sql.execution.streaming.state."
                    "RocksDBStateStoreProvider")
_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"

#: Checkpoint file manager for every query :func:`drain` runs. None of
#: them sets a ``checkpointLocation``, so each commits to Spark's
#: temporary checkpoint on the local disk. The default FileContext
#: manager renames through ``getFileLinkStatus``, which on a local
#: filesystem forks a ``readlink`` process (Hadoop ``FileUtil.readLink``)
#: for every offset, commit and file-source log entry; the FileSystem
#: manager renames in-process.
_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming."
    "checkpointing.FileSystemBasedCheckpointFileManager")
_CHECKPOINT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"


def drain(spark: SparkSession, writer: DataStreamWriter,
          conf: dict[str, str | int | None] | None = None) -> None:
    """Start ``writer``'s query, process everything its source holds,
    and stop it. The session confs in ``conf`` (None values skipped) and
    :data:`_FS_CHECKPOINT_MANAGER` hold for the query's whole life,
    not just its ``start()`` (the file source opens its log on the
    stream thread after ``start()`` returns); the previous values are
    restored, or unset, afterwards, also when a batch raises."""
    settings = {_CHECKPOINT_MANAGER_KEY: _FS_CHECKPOINT_MANAGER,
                **{k: v for k, v in (conf or {}).items() if v is not None}}
    prev = {k: spark.conf.get(k, None) for k in settings}
    try:
        for k, v in settings.items():
            spark.conf.set(k, v)
        q = writer.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def run_stream_to_memory(
    spark: SparkSession,
    source_path: str,
    schema,
    shape: Callable[[DataFrame], DataFrame],
    query_name: str,
    output_mode: str = "complete",
    shuffle_partitions: int | None = None,
    state_store_provider: str | None = ROCKSDB_PROVIDER,
) -> DataFrame:
    """Replay a staged parquet dir through ``shape`` as a real streaming
    query (memory sink), one staged file per micro-batch, synchronously
    to completion; return the sink.

    ``shuffle_partitions``: stateful operators build one state-store
    instance PER shuffle partition PER micro-batch; replaying a tiny
    fixture with the session's batch-tuned partition count (32 on the
    bench host) pays 32x the state-store maintenance for no parallelism.
    ``state_store_provider`` (default RocksDB — see
    :data:`ROCKSDB_PROVIDER`) is pinned the same way. Both hold for the
    query's life only (see :func:`drain`); the session conf is restored
    afterwards."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_path)
    )
    drain(spark,
          shape(stream).writeStream.outputMode(output_mode)
          .format("memory").queryName(query_name),
          {"spark.sql.shuffle.partitions": shuffle_partitions,
           _PROVIDER_KEY: state_store_provider})
    return spark.table(query_name)


def incremental_sync_foreachbatch(
    spark: SparkSession,
    changes: DataFrame,
    initial_state: DataFrame,
    pk_cols: list[str],
    n_chunks: int = 5,
    workdir: str | None = None,
    changes_path: str | None = None,
) -> DataFrame:
    """Incrementalized snapshot sync: stream CDC changes in micro-batches,
    each batch MERGEd into the running state via foreachBatch.

    This is the reference's one-shot diff-apply (sync.py:304-437) turned
    into a continuously-applying pipeline: at scale the 'state' is a
    Delta/Iceberg table and apply_changes becomes MERGE INTO; here state
    versions are parquet snapshots (no table format jars in the image).
    Each change-PK appears exactly once, so the final state is independent
    of how the stream is chunked.

    ``changes_path``, when given, names ``changes`` already staged by
    :func:`stage_as_stream_source`, and no staging runs; otherwise the
    call stages ``changes`` into ``n_chunks`` files under ``workdir``.

    Cost per call: the staging write (its shuffle and the write), the
    ``state_v0`` write, then per micro-batch one state version read with
    ``initial_state``'s schema (no inference job) and one
    ``apply_changes`` write of the next version — the anti-join's
    broadcast (or shuffle) stage and the write, two jobs at CDC batch
    sizes: 3 + 2n jobs for n batches (1 + 2n with ``changes_path``).
    An empty batch is merged like any other: ``apply_changes`` returns
    the state unchanged, which costs less than an emptiness probe job
    on every batch. The returned frame reads the final version with the
    same known schema.
    """
    from database_syncer_spark.core.diff import apply_changes

    workdir = workdir or tempfile.mkdtemp(prefix="dss_sync_stream_")
    src = changes_path or stage_as_stream_source(
        changes, os.path.join(workdir, "changes"), n_chunks)

    schema = initial_state.schema
    state_path = os.path.join(workdir, "state_v0")
    initial_state.write.mode("overwrite").parquet(state_path)
    version = {"n": 0, "path": state_path}

    def merge_batch(batch: DataFrame, epoch_id: int) -> None:
        cur = spark.read.schema(schema).parquet(version["path"])
        new = apply_changes(cur, batch, pk_cols)
        nxt = os.path.join(workdir, f"state_v{version['n'] + 1}")
        new.write.mode("overwrite").parquet(nxt)
        version["n"] += 1
        version["path"] = nxt

    drain(spark,
          spark.readStream.schema(changes.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(src)
          .writeStream.foreachBatch(merge_batch)
          .outputMode("update"))
    # Only the FINAL state version is ever read again (the return value
    # references it lazily, so the workdir itself must survive the call);
    # dropping the intermediate versions keeps repeated bench/test runs
    # from accumulating n_chunks obsolete state copies per call.
    for n in range(version["n"]):
        shutil.rmtree(os.path.join(workdir, f"state_v{n}"),
                      ignore_errors=True)
    return spark.read.schema(schema).parquet(version["path"])
