"""Streaming query keys (SURVEY.md §2 B9).

The window/dedup shapes run here in BATCH mode — the unified API makes the
same code a streaming job on a readStream source, and
tests/test_streaming.py replays the events fixture file-by-file to prove
batch/stream equivalence. stream_foreachbatch_merge and
stream_stateful_custom run REAL streaming jobs (micro-batch replay) inside
the query callable, then hand the materialized result to the driver.

Window-start arithmetic in the oracles mirrors Spark's epoch-aligned
window assignment: start = floor(epoch / slide) * slide.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from database_syncer_spark.catalog import fixture_cache, load_table, sf_dir_tag
from database_syncer_spark.streaming.queries import (
    session_window_agg,
    sliding_agg,
    stream_distinct,
    tumbling_agg,
    watermarked_tumbling,
)


def stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_agg(load_table(spark, sf_dir, "events"))


def stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_agg(load_table(spark, sf_dir, "events"))


def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_window_agg(load_table(spark, sf_dir, "events"))


def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    return watermarked_tumbling(load_table(spark, sf_dir, "events"))


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_distinct(load_table(spark, sf_dir, "events"))


def stream_foreachbatch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental sync: CDC changes streamed in 5 micro-batches, each
    MERGEd into the backup state. Final state must equal production — the
    oracle is literally ``SELECT * FROM orders``. State versions live in
    one fixed per-tag workdir, cleared at the start of each call as in
    :func:`stream_dedup_rolling`: the temp dir holds one copy however
    often the key runs, and a prior call's returned frame is invalidated
    by the next call."""
    from database_syncer_spark.core.diff import snapshot_diff
    from database_syncer_spark.core.snapshots import derive_backup
    from database_syncer_spark.streaming.runner import (
        incremental_sync_foreachbatch, stage_as_stream_source)

    prod = load_table(spark, sf_dir, "orders")
    backup = derive_backup(prod, "o_orderkey", "o_totalprice")
    changes = snapshot_diff(prod, backup, ["o_orderkey"])
    workdir = os.path.join(tempfile.gettempdir(),
                           f"dss_febm_work_{sf_dir_tag(sf_dir)}")
    shutil.rmtree(workdir, ignore_errors=True)
    # changes are a pure function of the read-only fixture — staged once
    # per machine; state versions stay in the workdir.
    src = fixture_cache(sf_dir, "febm_src",
                        lambda tmp: stage_as_stream_source(changes, tmp, 3))
    return incremental_sync_foreachbatch(
        spark, changes, backup, ["o_orderkey"], workdir=workdir,
        changes_path=src)


#: streaming rolling-ingest fixture params (mirrored by the oracle):
#: three daily slices + planted derivatives of day 1 arriving on day 3
_SROLL_SLICES = (5, 9, 13)
_SROLL_PLANT_OFFSET = 20_000_000  # ≡ 0 mod 16, so rem is preserved


def stream_dedup_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING admit-and-grow dedup — the production ingest shape:
    three daily document slices replayed as real micro-batches
    (foreachBatch, one file per day via stage_as_stream_batches so
    batch k IS day k), each batch probing the AT-REST band index
    (incremental_near_dups with corpus_bands=), then admitting its
    novel docs by appending ONLY their band keys (append_band_index)
    and their text to the corpus store before the next batch fires.
    Day 3 carries a planted EXACT copy of every day-1 doc (id + 20M,
    text unchanged), so the stream can only report them as dups if
    day 1's admissions were appended AND the day-3 probe reads the
    grown table — the steady-state loop dedup_incremental_rolling
    certifies batch-wise, here under a real Structured Streaming query
    with per-epoch state on disk. Copies are EXACT deliberately: an
    identical text has identical MinHash signatures, so every planted
    candidate pair is one the full self-join oracle
    (dedup_minhash_lsh) already verifies the LSH family catches on
    these fixtures — recall-totality is inherited structurally, not
    re-gambled (a 2-token edit at j≈0.9 carries a ~1% per-pair LSH
    miss probability, and one such pair deterministically missed on
    the sf0.01 fixture during development).

    Output: (day, doc_id, n_dups, max_jaccard, novel) for all three
    days; the oracle replays the three days sequentially (day-k corpus
    = base + all earlier admissions). Workdir state (corpus store,
    band table, verdicts) lives in ONE fixed per-tag dir rebuilt per
    call — idempotent across driver reps AND space-bounded: bench runs
    this key 4× per round, and a mkdtemp per call would leak four
    corpus-sized parquet copies into /tmp per round (a prior call's
    returned DataFrame is invalidated by the rebuild, matching every
    staged key's one-live-result contract). Only the staged source is
    reused across calls."""
    from database_syncer_spark.pipeline.dedup import (
        append_band_index, build_corpus_band_index, incremental_near_dups)
    from database_syncer_spark.streaming.runner import (
        drain, stage_as_stream_batches)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rem = F.col("doc_id") % 16
    planted = (docs.where(rem == _SROLL_SLICES[0]).select(
        (F.col("doc_id") + _SROLL_PLANT_OFFSET).alias("doc_id"), "text"))
    batches = docs.where(rem.isin(*_SROLL_SLICES)).unionByName(planted)
    corpus0 = docs.where(~rem.isin(*_SROLL_SLICES))

    tag = sf_dir_tag(sf_dir)
    days = [batches.where(p) for p in (
        (rem == _SROLL_SLICES[0]) & (F.col("doc_id") < _SROLL_PLANT_OFFSET),
        rem == _SROLL_SLICES[1],
        (rem == _SROLL_SLICES[2]) | (F.col("doc_id") >= _SROLL_PLANT_OFFSET))]
    src = fixture_cache(sf_dir, "sroll_src",
                        lambda tmp: stage_as_stream_batches(days, tmp))

    table = f"dss_sroll_bands_{tag}"
    workdir = os.path.join(tempfile.gettempdir(), f"dss_sroll_work_{tag}")
    shutil.rmtree(workdir, ignore_errors=True)
    corpus_store = os.path.join(workdir, "corpus")
    verdicts_dir = os.path.join(workdir, "verdicts")
    corpus0.write.mode("overwrite").parquet(corpus_store)
    # every corpus_store read names its schema: no inference job per read
    corpus_schema = corpus0.schema
    build_corpus_band_index(
        spark.read.schema(corpus_schema).parquet(corpus_store), table)

    def probe_admit(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        # Resolve the band table through the BATCH's session: foreachBatch
        # frames ride a per-epoch session whose fresh catalog lists the
        # table's CURRENT files, while the outer session's relation cache
        # can serve a pre-append listing (r12: the day-3 probe missed
        # day-1's admissions that way — value-oracle caught it; the
        # append path now also refreshes the default session's catalog,
        # this is the belt to that suspender).
        bs = batch.sparkSession
        corpus = bs.read.schema(corpus_schema).parquet(corpus_store)
        v = incremental_near_dups(
            batch, corpus, corpus_bands=bs.table(table)).persist()
        v.write.mode("append").parquet(verdicts_dir)
        admitted = batch.join(v.where(F.col("novel")).select("doc_id"),
                              "doc_id", "left_semi")
        append_band_index(admitted, table)
        admitted.write.mode("append").parquet(corpus_store)
        v.unpersist()

    drain(spark,
          spark.readStream.schema(batches.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(src)
          .writeStream.foreachBatch(probe_admit)
          .outputMode("update"))
    out = spark.read.parquet(verdicts_dir)
    day = (F.when(F.col("doc_id") >= _SROLL_PLANT_OFFSET, F.lit(3))
           .when(F.col("doc_id") % 16 == _SROLL_SLICES[0], F.lit(1))
           .when(F.col("doc_id") % 16 == _SROLL_SLICES[1], F.lit(2))
           .otherwise(F.lit(3)))
    return out.select(day.cast("int").alias("day"), "doc_id", "n_dups",
                      "max_jaccard", "novel")


def _stateful_partitions(spark: SparkSession, events: DataFrame) -> int:
    """Input-adaptive shuffle/state-store partition count for the
    Python-state streaming jobs. Streaming aggregations pin their state
    layout to spark.sql.shuffle.partitions at query start (AQE cannot
    coalesce a stateful stream), so the value is a real knob: too low
    starves the Arrow/Python workers — the 100× probe measured the
    fixed 8 at 162 s vs 62 s with 32 for the SAME 10 M-event job —
    while too high multiplies per-partition state-store instances for
    nothing at bench scale. ~1 partition per 350 k input rows, capped
    at the core count, with the floor of 8 applied LAST so bench-scale
    jobs get exactly the pre-r6 fixed value on every host (a <8-core
    host would otherwise silently drop below it and break cross-host
    baseline comparability)."""
    cpus = spark.sparkContext.defaultParallelism
    return int(max(8, min(cpus, events.count() // 350_000)))


def stream_stateful_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom per-user state machine (applyInPandasWithState) run as a real
    micro-batch streaming job; final running totals per user."""
    from database_syncer_spark.streaming.runner import (
        run_stream_to_memory, stage_as_stream_source)
    from database_syncer_spark.streaming.stateful import running_user_profile

    events = load_table(spark, sf_dir, "events")
    tag = sf_dir_tag(sf_dir)
    src = fixture_cache(sf_dir, "stateful_src",
                        lambda tmp: stage_as_stream_source(events, tmp, 3))
    staged = spark.read.parquet(src)
    sink = run_stream_to_memory(
        spark, src, staged.schema, running_user_profile,
        f"dss_stateful_{tag}", output_mode="update",
        shuffle_partitions=_stateful_partitions(spark, staged),
    )
    # update-mode sink holds one row per (user, batch); the final state is
    # the row with the greatest running count.
    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        sink.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("user_id", "n_events", "last_ts")
    )


def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user profile via transformWithStateInPandas (Spark 4's typed
    arbitrary-state API: ValueState + MapState), run as a real streaming
    job. Every state fold is order-independent (count / distinct-set /
    max), so the final per-user state equals the batch aggregate and the
    key is fully oracle-checkable."""
    from database_syncer_spark.streaming.runner import (
        run_stream_to_memory, stage_as_stream_source)
    from database_syncer_spark.streaming.stateful import user_type_profile_tws

    events = load_table(spark, sf_dir, "events")
    tag = sf_dir_tag(sf_dir)
    src = fixture_cache(sf_dir, "tws_src",
                        lambda tmp: stage_as_stream_source(events, tmp, 3))
    staged = spark.read.parquet(src)

    # transformWithState REQUIRES the RocksDB provider; since r7 the
    # runner pins RocksDB for every stateful run anyway (bounded-heap
    # default at scale), so both the tws shape and the
    # applyInPandasWithState fallback ride the same provider.
    sink = run_stream_to_memory(
        spark, src, staged.schema, user_type_profile_tws,
        f"dss_tws_{tag}", output_mode="update",
        shuffle_partitions=_stateful_partitions(spark, staged),
    )

    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        sink.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("user_id", "n_events", "n_types", "max_value")
    )


_TIER = (
    "CASE event_type WHEN 'purchase' THEN 'revenue' "
    "WHEN 'signup' THEN 'growth' ELSE 'engagement' END"
)


def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–static join run as a REAL micro-batch job: the event stream
    joins a small static dimension (event_type → business tier) and
    aggregates per tier. Stream–static is its own operator class in
    Structured Streaming — the static side is re-resolvable per trigger
    and broadcast into every micro-batch, no state, no watermark. The
    per-tier fold (count + exact decimal sum) is order-independent, so
    the complete-mode result equals the batch aggregate and the key is
    fully oracle-checkable."""
    from database_syncer_spark.streaming.runner import (
        run_stream_to_memory, stage_as_stream_source)

    events = load_table(spark, sf_dir, "events")
    tag = sf_dir_tag(sf_dir)
    src = fixture_cache(sf_dir, "ssj_src",
                        lambda tmp: stage_as_stream_source(events, tmp, 3))
    staged = spark.read.parquet(src)
    dim = (
        events.select("event_type").distinct()
        .withColumn("tier", F.expr(_TIER))
    )

    # Pin NULL semantics explicitly: a NULL event_type never
    # equality-joins the dim, while the oracle's CASE would bucket it
    # under ELSE — filter NULLs on BOTH sides so the contract is the
    # same even if the fixture ever gains NULL types.
    def shape(stream: DataFrame) -> DataFrame:
        return (
            stream.where(F.col("event_type").isNotNull())
            .join(F.broadcast(dim), "event_type")
            .groupBy("tier")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double").alias("sum_value"),
            )
        )

    return run_stream_to_memory(
        spark, src, staged.schema, shape, f"dss_ssj_{tag}",
        output_mode="complete", shuffle_partitions=4,
    )


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream–stream INNER join run as a real micro-batch
    job: the click stream joins the purchase stream on user_id within a
    ±10-minute event-time band (attribution shape). Both sides carry
    watermarks and the join has a two-sided time-range condition, so
    per-key state is bounded by the band + watermark, not stream
    history. Inner-join matches emit as they occur (the watermark only
    gates state CLEANUP), so after processAllAvailable the sink equals
    the batch self-join and the key is fully value-oracled.

    Staging must be EVENT-TIME ordered: with random file order the
    watermark from an early batch's max timestamp evicts join state
    that later files' older rows still need — 7 of 13 fixture matches
    were silently dropped that way (correct streaming semantics, wrong
    replay harness). Ordered quantile files keep the watermark
    monotonic, and the 30-minute delay comfortably covers the ±10-min
    band across file boundaries.

    Only click/purchase rows are staged: other event types never join
    and only ever advanced the watermark (which the ordered staging
    already keeps monotonic) — at scale this is the filter pushed down
    to the sources; here it also cuts the replayed state volume."""
    from database_syncer_spark.streaming.runner import (
        run_stream_to_memory, stage_as_stream_batches)

    events = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase"))
    chunked = events.withColumn("__chunk", F.ntile(3).over(W.orderBy("ts")))
    thirds = [chunked.where(F.col("__chunk") == i).drop("__chunk")
              for i in (1, 2, 3)]
    src = fixture_cache(sf_dir, "ssj2cp_src",
                        lambda tmp: stage_as_stream_batches(thirds, tmp))
    staged = spark.read.parquet(src)

    def shape(stream: DataFrame) -> DataFrame:
        s = stream.withColumn("ts", F.col("ts").cast("timestamp"))
        clicks = (
            s.where(F.col("event_type") == "click")
            .withWatermark("ts", "30 minutes")
            .select(F.col("user_id").alias("c_user"),
                    F.col("event_id").alias("click_id"),
                    F.col("ts").alias("c_ts"))
        )
        purchases = (
            s.where(F.col("event_type") == "purchase")
            .withWatermark("ts", "30 minutes")
            .select(F.col("user_id").alias("p_user"),
                    F.col("event_id").alias("purchase_id"),
                    F.col("ts").alias("p_ts"))
        )
        return clicks.join(
            purchases,
            F.expr("c_user = p_user AND "
                   "p_ts BETWEEN c_ts - INTERVAL 10 MINUTES "
                   "AND c_ts + INTERVAL 10 MINUTES"),
        ).select(F.col("c_user").alias("user_id"), "click_id", "purchase_id")

    return run_stream_to_memory(
        spark, src, staged.schema, shape, f"dss_ssj2_{sf_dir_tag(sf_dir)}",
        output_mode="append", shuffle_partitions=4,
    )


def _bucket(col_sec: int, offset: str = "0") -> str:
    return (
        f"make_timestamp(CAST((floor(epoch(ts) / {col_sec}) - ({offset})) "
        f"* {col_sec} * 1000000 AS BIGINT))"
    )


QUERIES = {
    "stream_tumbling_agg": stream_tumbling_agg,
    "stream_sliding_agg": stream_sliding_agg,
    "stream_session_window": stream_session_window,
    "stream_watermark_late": stream_watermark_late,
    "stream_dedup": stream_dedup,
    "stream_static_join": stream_static_join,
    "stream_stream_join": stream_stream_join,
    "stream_foreachbatch_merge": stream_foreachbatch_merge,
    "stream_dedup_rolling": stream_dedup_rolling,
    "stream_stateful_custom": stream_stateful_custom,
    "stream_transform_with_state": stream_transform_with_state,
}

def _sroll_sql() -> str:
    """Three-day sequential replay of the streaming rolling ingest:
    day-k verdicts computed against base corpus + all earlier days'
    admissions. The per-day verdict SQL is the SHARED
    _jaccard_day_block builder (queries/pipeline.py) — one copy of the
    verify formula across this oracle, dedup_incremental_rolling's,
    and dedup_incremental's shape (complete for the Spark side's LSH
    candidates by the verified recall-is-total premise; the planted
    exact-copy day-3 pairs inherit it structurally)."""
    from database_syncer_spark.queries.pipeline import (
        _SHINGLE_SQL, _jaccard_day_block)

    s0, s1, s2 = _SROLL_SLICES
    return f"""
WITH b1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 16 = {s0}),
b2 AS (SELECT doc_id, text FROM documents WHERE doc_id % 16 = {s1}),
b3 AS (SELECT doc_id, text FROM documents WHERE doc_id % 16 = {s2}
       UNION ALL
       SELECT doc_id + {_SROLL_PLANT_OFFSET}, text FROM b1),
c0 AS (SELECT doc_id, text FROM documents
       WHERE doc_id % 16 NOT IN ({s0}, {s1}, {s2})),
sb1 AS (SELECT doc_id, {_SHINGLE_SQL} AS sh FROM b1),
sb2 AS (SELECT doc_id, {_SHINGLE_SQL} AS sh FROM b2),
sb3 AS (SELECT doc_id, {_SHINGLE_SQL} AS sh FROM b3),
sc0 AS (SELECT doc_id, {_SHINGLE_SQL} AS sh FROM c0),
{_jaccard_day_block(1, 'sb1', 'sc0')},
corp1 AS (SELECT * FROM sc0
          UNION ALL
          SELECT sb1.* FROM sb1 JOIN v1 USING (doc_id) WHERE v1.novel),
{_jaccard_day_block(2, 'sb2', 'corp1')},
corp2 AS (SELECT * FROM corp1
          UNION ALL
          SELECT sb2.* FROM sb2 JOIN v2 USING (doc_id) WHERE v2.novel),
{_jaccard_day_block(3, 'sb3', 'corp2')}
SELECT 1 AS day, doc_id, n_dups, max_jaccard, novel FROM v1
UNION ALL
SELECT 2 AS day, doc_id, n_dups, max_jaccard, novel FROM v2
UNION ALL
SELECT 3 AS day, doc_id, n_dups, max_jaccard, novel FROM v3
"""


ORACLES = {
    "stream_tumbling_agg": f"""
SELECT {_bucket(600)} AS window_start,
       {_bucket(600)} + INTERVAL 10 MINUTE AS window_end,
       event_type, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2, 3
""",
    "stream_sliding_agg": f"""
SELECT {_bucket(300, 'g.i')} AS window_start, event_type, count(*) AS n
FROM events CROSS JOIN (SELECT 0 AS i UNION ALL SELECT 1) g
GROUP BY 1, 2
""",
    "stream_session_window": """
WITH seq AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w >= INTERVAL 5 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM seq
)
SELECT min(ts) AS session_start,
       max(ts) + INTERVAL 5 MINUTE AS session_end,
       user_id, count(*) AS n_events
FROM sess GROUP BY user_id, sid
""",
    "stream_watermark_late": f"""
SELECT {_bucket(600)} AS window_start, event_type, count(*) AS n
FROM events GROUP BY 1, 2
""",
    "stream_dedup": "SELECT DISTINCT user_id, event_type FROM events",
    "stream_static_join": f"""
SELECT {_TIER} AS tier, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events WHERE event_type IS NOT NULL GROUP BY 1
""",
    "stream_stream_join": """
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts BETWEEN c.ts - INTERVAL 10 MINUTE AND c.ts + INTERVAL 10 MINUTE
""",
    "stream_dedup_rolling": _sroll_sql(),
    "stream_foreachbatch_merge": """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
       o_orderpriority
FROM orders
""",
    "stream_stateful_custom": """
SELECT user_id, count(*) AS n_events, max(ts) AS last_ts
FROM events GROUP BY user_id
""",
    "stream_transform_with_state": """
SELECT user_id, count(*) AS n_events,
       count(DISTINCT event_type) AS n_types,
       max(value) AS max_value
FROM events GROUP BY user_id
""",
}
