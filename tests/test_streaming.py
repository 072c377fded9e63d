"""Batch ≡ stream equivalence (SURVEY.md §5.2 item 4).

Each B9 shape runs twice: once as a plain batch DataFrame, once as a real
Structured Streaming query over the same rows replayed file-by-file
(maxFilesPerTrigger=1, complete mode). End-of-stream results must match.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from database_syncer_spark.catalog import load_table
from database_syncer_spark.streaming.queries import (
    session_window_agg, sliding_agg, stream_distinct, tumbling_agg,
    watermarked_tumbling,
)
from database_syncer_spark.streaming.runner import (
    run_stream_to_memory, stage_as_stream_source,
)


@pytest.fixture(scope="module")
def staged_events(spark, sf_dir, tmp_path_factory):
    events = load_table(spark, sf_dir, "events")
    path = str(tmp_path_factory.mktemp("stream") / "events")
    stage_as_stream_source(events, path, n_files=4)
    df = spark.read.parquet(path)
    return path, df


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("shape,name", [
    (tumbling_agg, "t_tumble"),
    (sliding_agg, "t_slide"),
    (session_window_agg, "t_session"),
])
def test_stream_equals_batch(shape, name, spark, staged_events):
    path, df = staged_events
    batch = shape(df)
    streamed = run_stream_to_memory(spark, path, df.schema, shape, name,
                                    output_mode="complete")
    assert _rows(streamed) == _rows(batch)


def test_watermark_append_mode_closes_windows(spark, sf_dir, tmp_path_factory):
    """With a watermark and IN-ORDER replay, append mode emits exactly the
    finalized windows, each with its complete batch-true count; windows
    newer than (max event time - watermark) are withheld."""
    from pyspark.sql import Window as W

    from database_syncer_spark.streaming.runner import stage_as_stream_batches

    events = load_table(spark, sf_dir, "events")
    chunked = events.withColumn("__chunk", F.ntile(4).over(W.orderBy("ts")))
    path = str(tmp_path_factory.mktemp("stream_ord") / "events")
    stage_as_stream_batches(
        [chunked.where(F.col("__chunk") == i).drop("__chunk")
         for i in range(1, 5)], path)
    df = spark.read.parquet(path)
    batch = {tuple(r) for r in watermarked_tumbling(df).collect()}
    streamed = run_stream_to_memory(
        spark, path, df.schema, watermarked_tumbling, "t_wm",
        output_mode="append")
    emitted = {tuple(r) for r in streamed.collect()}
    assert emitted  # something was finalized
    assert emitted <= batch  # finalized counts are complete and batch-true


def test_watermark_drops_late_rows_out_of_order(spark, staged_events):
    """Counter-case: out-of-order replay + watermark loses late rows —
    the emitted finalized windows undercount vs batch. This documents WHY
    ordered replay matters (and that the watermark actually drops)."""
    path, df = staged_events
    batch = {tuple(r): r.n for r in watermarked_tumbling(df).collect()}
    streamed = run_stream_to_memory(
        spark, path, df.schema,
        lambda d: watermarked_tumbling(d, "1 minute"), "t_wm_ooo",
        output_mode="append")
    under = 0
    for r in streamed.collect():
        key = (r.window_start, r.event_type, r.n)
        if key not in batch:
            under += 1
    assert under > 0


def test_stream_dedup_equals_batch(spark, staged_events):
    path, df = staged_events
    batch = _rows(stream_distinct(df))
    streamed = run_stream_to_memory(
        spark, path, df.schema,
        lambda d: d.select("user_id", "event_type").dropDuplicates(),
        "t_dedup", output_mode="append")
    assert _rows(streamed) == batch


def test_foreachbatch_merge_restores_prod(spark, sf_dir, tmp_path):
    """The incrementalized sync converges to production regardless of how
    the change stream is chunked (1 vs 5 micro-batches)."""
    from database_syncer_spark.core.diff import snapshot_diff
    from database_syncer_spark.core.snapshots import derive_backup
    from database_syncer_spark.streaming.runner import incremental_sync_foreachbatch

    prod = load_table(spark, sf_dir, "orders")
    backup = derive_backup(prod, "o_orderkey", "o_totalprice")
    changes = snapshot_diff(prod, backup, ["o_orderkey"])
    for n_chunks in (1, 5):
        final = incremental_sync_foreachbatch(
            spark, changes, backup, ["o_orderkey"], n_chunks=n_chunks,
            workdir=str(tmp_path / f"sync{n_chunks}"))
        assert snapshot_diff(prod, final, ["o_orderkey"]).count() == 0


def test_stateful_running_profile(spark, staged_events):
    """applyInPandasWithState totals equal the batch groupBy at stream end."""
    from database_syncer_spark.streaming.stateful import running_user_profile
    from pyspark.sql import Window as W

    path, df = staged_events
    sink = run_stream_to_memory(
        spark, path, df.schema, running_user_profile, "t_state",
        output_mode="update")
    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = (sink.withColumn("rn", F.row_number().over(w))
             .where("rn = 1").select("user_id", "n_events", "last_ts"))
    batch = df.groupBy("user_id").agg(
        F.count("*").alias("n_events"), F.max("ts").alias("last_ts"))
    assert _rows(final) == _rows(batch)


def test_transform_with_state_typed_path(spark, staged_events):
    """The Spark-4 typed-state API (transformWithStateInPandas) must
    ACTUALLY run on this host — the protobuf shim (compat.ensure_protobuf)
    exists precisely so this key stops falling back — and its end-of-stream
    per-user profile must equal the batch aggregate (every fold is
    order-independent)."""
    from database_syncer_spark.compat import ensure_protobuf
    from database_syncer_spark.streaming.stateful import (
        tws_available, user_type_profile_tws)
    from pyspark.sql import Window as W

    if not ensure_protobuf():
        pytest.skip("no usable google.protobuf anywhere on this machine")
    assert tws_available()

    path, df = staged_events
    conf_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(
        conf_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider")
    try:
        sink = run_stream_to_memory(
            spark, path, df.schema, user_type_profile_tws, "t_tws_typed",
            output_mode="update", shuffle_partitions=8)
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)

    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = (sink.withColumn("rn", F.row_number().over(w))
             .where("rn = 1")
             .select("user_id", "n_events", "n_types", "max_value"))
    batch = df.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        F.max("value").alias("max_value"))
    assert _rows(final) == _rows(batch)


def test_runner_pins_rocksdb_and_restores_conf(spark, staged_events):
    """r7: run_stream_to_memory pins the RocksDB state-store provider
    for the query (bounded-heap default at scale) but must leave the
    SESSION conf exactly as it found it — pinned only for the launch
    window, like the shuffle-partition override."""
    from database_syncer_spark.streaming.queries import stream_distinct
    from database_syncer_spark.streaming.runner import _PROVIDER_KEY

    path, df = staged_events
    before = spark.conf.get(_PROVIDER_KEY, None)
    sink = run_stream_to_memory(
        spark, path, df.schema, stream_distinct, "t_provider_restore",
        output_mode="append")
    assert sink.count() == df.select(*sink.columns).distinct().count()
    assert spark.conf.get(_PROVIDER_KEY, None) == before


def test_grouped_stager_batch_is_group(spark, tmp_path):
    """stage_as_stream_batches must make micro-batch k EXACTLY
    group k: one file per frame, written in list order (mtime
    sequence — the property the file source's maxFilesPerTrigger=1
    replay keys on), each containing precisely its group's rows. A
    row-count chunker cannot promise this when groups are unequal."""
    from database_syncer_spark.streaming.runner import stage_as_stream_batches

    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("g"))
    preds = [F.col("g") < 2, F.col("g").isin(2, 3, 4), F.col("g") > 4]
    path = stage_as_stream_batches(
        [df.where(p) for p in preds], str(tmp_path / "grp"))
    parts = sorted(
        (os.path.getmtime(os.path.join(path, f)), f)
        for f in os.listdir(path) if f.startswith("part-"))
    assert len(parts) == 3
    expected = [set(r.k for r in df.where(p).collect()) for p in preds]
    for (_, fname), want in zip(parts, expected):
        got = set(r.k for r in
                  spark.read.parquet(os.path.join(path, fname)).collect())
        assert got == want


def test_stream_dedup_rolling_sees_prior_admissions(spark, sf_dir):
    """The streaming admit-and-grow loop end to end: every day-3
    planted copy of a day-1 ADMITTED doc must be flagged a dup with
    max_jaccard 1.0 — possible only if batch 1's append landed in the
    band table and batch 3's probe read it — and day-1 verdicts must
    equal the non-streaming incremental path against the same corpus."""
    from pyspark.sql import functions as F

    from database_syncer_spark.catalog import load_table
    from database_syncer_spark.pipeline.dedup import incremental_near_dups
    from database_syncer_spark.queries.streaming import (
        _SROLL_PLANT_OFFSET, _SROLL_SLICES, stream_dedup_rolling)

    out = stream_dedup_rolling(spark, sf_dir).persist()
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rem = F.col("doc_id") % 16

    day1 = {r.doc_id: r for r in out.where("day = 1").collect()}
    day3 = {r.doc_id: r for r in out.where("day = 3").collect()}
    admitted1 = {d for d, r in day1.items() if r.novel}
    assert admitted1, "no day-1 admissions in fixture"
    for d in admitted1:
        pr = day3[d + _SROLL_PLANT_OFFSET]
        assert not pr.novel and pr.max_jaccard == 1.0, pr

    # day-1 verdicts ≡ the batch incremental path on the same corpus
    v1 = incremental_near_dups(
        docs.where(rem == _SROLL_SLICES[0]),
        docs.where(~rem.isin(*_SROLL_SLICES)))
    key = lambda r: (r.doc_id, r.n_dups, r.max_jaccard, r.novel)
    assert sorted(key(r) for r in v1.collect()) == \
        sorted(key(r) for r in out.where("day = 1")
               .drop("day").collect())
    out.unpersist()


def _changes_frame(spark, rows):
    from database_syncer_spark.core.diff import CHANGE_TYPE

    return spark.createDataFrame(rows, f"k long, v long, {CHANGE_TYPE} string")


def _last_job_id(sc) -> int:
    """Run one marker job and return its id; job ids are sequential, so
    the difference of two markers counts every job between them."""
    sc.setJobGroup("job-count-marker", "job-count-marker")
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    return max(sc.statusTracker().getJobIdsForGroup("job-count-marker"))


def test_empty_change_log_returns_initial_state(spark, tmp_path):
    """With no per-batch emptiness probe, an empty change log still
    leaves the state exactly as it started."""
    from database_syncer_spark.streaming.runner import (
        incremental_sync_foreachbatch)

    state = spark.createDataFrame([(1, 10), (2, 20), (3, 30)],
                                  "k long, v long")
    final = incremental_sync_foreachbatch(
        spark, _changes_frame(spark, []), state, ["k"], n_chunks=3,
        workdir=str(tmp_path / "empty"))
    assert _rows(final) == [(1, 10), (2, 20), (3, 30)]


def test_cdc_replay_runs_two_jobs_per_batch(spark, tmp_path):
    """One replay's Spark jobs, pinned: the staging write (its shuffle
    stage and the write), the state_v0 write, then two per micro-batch
    (the anti-join's broadcast and the next state version's write). No
    emptiness probe and no schema-inference job on any state read,
    including the returned frame's."""
    from database_syncer_spark.streaming.runner import (
        incremental_sync_foreachbatch)

    n_chunks = 3
    state = spark.range(100).selectExpr("id AS k", "id * 3 AS v")
    changes = _changes_frame(
        spark, [(k, k * 7, ("DELETE", "UPDATE")[k % 2])
                for k in range(90, 100)]
        + [(k, k * 7, "INSERT") for k in range(100, 110)])
    sc = spark.sparkContext
    before = _last_job_id(sc)
    final = incremental_sync_foreachbatch(
        spark, changes, state, ["k"], n_chunks=n_chunks,
        workdir=str(tmp_path / "jobs"))
    jobs = _last_job_id(sc) - before - 1
    assert jobs == 3 + 2 * n_chunks
    got = dict(_rows(final))
    assert len(got) == 100 - 5 + 10
    assert got[89] == 89 * 3 and got[91] == 91 * 7 and got[109] == 109 * 7
    assert 90 not in got


def test_checkpoint_manager_conf_restored(spark, staged_events):
    """Every query runs on the FileSystem checkpoint manager for its
    whole life only: each micro-batch sees it, and afterwards the
    session conf reads as before the call, whether it was unset or set,
    and also when the batch function raises."""
    from pyspark.errors import StreamingQueryException

    from database_syncer_spark.streaming.runner import (
        _CHECKPOINT_MANAGER_KEY, _FS_CHECKPOINT_MANAGER, drain)

    path, df = staged_events
    seen = []

    def record(batch, epoch_id):
        seen.append(batch.sparkSession.conf.get(_CHECKPOINT_MANAGER_KEY))

    def boom(batch, epoch_id):
        raise ValueError("batch failed")

    def replay(fn):
        return (spark.readStream.schema(df.schema)
                .option("maxFilesPerTrigger", 1).parquet(path)
                .writeStream.foreachBatch(fn))

    prev = spark.conf.get(_CHECKPOINT_MANAGER_KEY, None)
    context_manager = ("org.apache.spark.sql.execution.streaming."
                       "checkpointing.FileContextBasedCheckpointFileManager")
    try:
        for before in (None, context_manager):
            if before is None:
                spark.conf.unset(_CHECKPOINT_MANAGER_KEY)
            else:
                spark.conf.set(_CHECKPOINT_MANAGER_KEY, before)
            drain(spark, replay(record))
            assert seen and set(seen) == {_FS_CHECKPOINT_MANAGER}
            assert spark.conf.get(_CHECKPOINT_MANAGER_KEY, None) == before
            run_stream_to_memory(spark, path, df.schema, stream_distinct,
                                 "t_ckpt_restore", output_mode="append")
            assert spark.conf.get(_CHECKPOINT_MANAGER_KEY, None) == before
            with pytest.raises(StreamingQueryException, match="batch failed"):
                drain(spark, replay(boom))
            assert spark.conf.get(_CHECKPOINT_MANAGER_KEY, None) == before
    finally:
        if prev is None:
            spark.conf.unset(_CHECKPOINT_MANAGER_KEY)
        else:
            spark.conf.set(_CHECKPOINT_MANAGER_KEY, prev)
