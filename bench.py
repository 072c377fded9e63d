#!/usr/bin/env python
"""Benchmark: headline query keys at $SPARK_GRAFT_SF_DIR.

Prints TWO JSON lines: the detail record (methodology, previous totals,
per-key raw runs and job/stage/task shape, ANN splits; also written to
BENCH_DETAIL_LAST.json), then the compact machine record, LAST and
under 2 KB so a consumer that parses only the tail line gets it whole:
  {"metric": "...", "value": total_sec, "unit": "sec",
   "queries": {key: sec, ...}, "sf": 0.1, ...}

Each query is materialized through the built-in `noop` sink so the full
plan executes on the executors (scan -> shuffle -> agg) without paying
driver-side collect/serialization — the same discipline a cluster bench
would use.  Per key: two untimed warmup executions, then the MEDIAN of
five timed executions (secondary keys: one warmup, median of three —
they are heavy and not part of the headline total).  The warmups absorb
the per-plan one-time costs that belong to the JVM, not the engine —
whole-stage-codegen Janino compilation and C2 JIT of the generated
methods (measured on the CDC diff at sf0.1: 6.2s first execution, 1.4s
second, ~0.8s steady state — one warmup still over-reports by ~1.6x) —
and the median rejects page-cache-cold first touches, GC outliers and
co-tenant spikes (with five reps one spike cannot land on the median).

To time other keys the same way:
  spark = get_spark("bench"); warm(spark, sf_dir)
  time_keys(spark, ["dedup_exact"], sf_dir, warmups=2, reps=5)

Headline set: one key per engine area from SURVEY.md §2 — CDC diff
(the reference's soul), star join, TPC-H-Q1-shape agg, window, set op,
dump ingest, streaming batch-shape, and the LLM-pipeline operators
(exact + MinHash dedup, top-k cosine, text stats).
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "diff_cdc_fullouter",     # snapshot diff: full-outer join + classify
    "join_multiway_star",     # lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region
    "agg_multi_measures",     # TPC-H Q1 shape on lineitem
    "agg_approx_distinct",    # HLL sketch
    "win_rank_topn_per_group",
    "set_except",
    "scan_sql_dump",          # distributed dump ingest (text -> typed rows)
    "stream_tumbling_agg",    # windowed agg, batch shape
    "dedup_exact",
    "dedup_minhash_lsh",      # shingle -> minhash -> band -> bucket join
    "sim_topk_cosine",        # brute-force ANN baseline
    "text_quality_score",
]

# Newer engine areas, timed on the full headline discipline (2 warmups,
# median of 5, raw runs recorded) but kept OUT of "value" so the 12-key
# total stays comparable with every earlier BENCH record.
HEADLINE_EXT = [
    "scan_pg_dump",               # pg COPY-protocol ingest
    "win_retention_cohort",       # cohort window + conditional agg
    "corpus_curate_incremental",  # ingest-time curation verdict
    "multimodal_jpeg_pixels",     # baseline-JPEG Huffman+IDCT decode
    "dedup_incremental_indexed",  # at-rest bucketed band-index probe
]

# CPU-scaling sentinel: every HEADLINE key is sub-1.2 s at sf0.1 —
# scheduling/barrier-bound — so a 32-vs-8-core comparison over
# `queries` reads ≈1.0 for all of them. dedup_embedding_cosine is
# CPU-bound (12.17 s @ 8 cores vs 5.58 s @ 32, BENCH_r12_c8), so it is
# timed on the headline discipline and reported INSIDE "queries" (but
# not in "value") to make the core-count contract legible there.
SCALING_SENTINEL = ["dedup_embedding_cosine"]

# Heaviest non-headline families, tracked so a regression is visible
# before a change touches them; kept out of "value". A key appears in
# exactly one list: each is timed once per bench.
SECONDARY = [
    "stream_foreachbatch_merge",   # real micro-batch MERGE replay
    "stream_stateful_custom",      # applyInPandasWithState job
    "dedup_cluster_components",    # iterative label propagation
    "dedup_simhash",               # block-permutation candidate join
    "sim_lsh_ann",                 # hyperplane LSH + re-rank
    "sim_ivf_ann",                 # IVF cells + re-rank
    "sink_merge_executor",         # script apply through DuckDB
    "sim_pq_ann",                  # PQ codebooks + ADC scan + re-rank
    "sim_ivfpq_ann",               # composed IVF-PQ (probe + ADC + re-rank)
    "stream_stream_join",          # watermarked stream-stream join replay
    "dedup_corpus_keep",           # exact + near-dup + components keep-list
    "win_sessionize",              # gap sessionization, single Exchange
    "text_ngram_lm_score",         # corpus-bigram LM scoring
    "sink_cdc_compact",            # two diffs + pk-keyed compaction agg
    "dedup_incremental",           # batch-vs-corpus banded LSH
    "sample_temperature_mix",      # domain-rebalanced sampling
    "dedup_soft_keep",             # components + 1/cluster down-weighting
    "dedup_paragraph",             # repeated-span scrub (chunk freq + keep-first)
    "corpus_curate",               # composed filter→scrub→dedup→pack pipeline
    "sink_merge_incremental",      # set-based CDC merge batches + replay
    "dedup_incremental_rolling",   # two-day admit-and-grow index loop
    "stream_dedup_rolling",        # the same loop as streaming foreachBatch
    "sim_ivf_incremental",         # frozen-centroid vector-index append
    "dedup_ngram_jaccard",         # shingle-set Jaccard self-join
    "dedup_ngram_containment",     # shingle-set containment self-join
]


def warm(spark, sf_dir: str) -> None:
    """Pay the one-time session costs before the first timed key.

    - JVM + parquet footer caches, on the smallest table;
    - the Python worker pool + Arrow serializer, so UDF-backed keys time
      steady-state execution, not the fork of the interpreters (~5 s
      measured on local[32]);
    - the text-source classes the dump source loads on first use, via a
      one-statement probe file.
    """
    import tempfile

    from database_syncer_spark.sources.dump import read_dump_statements

    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    spark.range(0, 64, 1, 32).mapInPandas(lambda it: it, "id long").count()
    probe = os.path.join(tempfile.gettempdir(), "dss_bench_warm.sql")
    with open(probe, "w", encoding="utf-8") as fh:
        fh.write("SELECT 1;\n")
    read_dump_statements(spark, probe).count()


def _shape(sc, group: str) -> dict[str, int]:
    """Jobs, stages and tasks the status tracker recorded for one job
    group. A stage shared by several jobs (AQE resubmits) counts once;
    a stage that ran no task (skipped: its shuffle output existed)
    counts not at all."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stage_ids = {sid for j in jobs if (info := st.getJobInfo(j))
                 for sid in info.stageIds}
    tasks = [s.numCompletedTasks for sid in stage_ids
             if (s := st.getStageInfo(sid)) and s.numCompletedTasks]
    return {"jobs": len(jobs), "stages": len(tasks), "tasks": sum(tasks)}


def time_keys(spark, keys: list[str], sf_dir: str, warmups: int,
              reps: int) -> dict[str, dict]:
    """Time registry keys through the ``noop`` sink.

    Per key: ``warmups`` untimed executions, then ``reps`` timed ones.
    Returns ``{key: {"sec": median, "runs": sorted runs, "shape":
    {"jobs", "stages", "tasks"} of the last rep}}``; keys missing from
    the registry are skipped. Each rep runs under its own job group,
    which is how the last rep's shape is read back."""
    from database_syncer_spark.registry import all_queries

    queries = all_queries()
    sc = spark.sparkContext
    out: dict[str, dict] = {}
    try:
        for key in keys:
            fn = queries.get(key)
            if fn is None:
                continue

            def run() -> float:
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                return time.perf_counter() - t0

            for _ in range(warmups):  # codegen/JIT + page cache
                run()
            runs = []
            for _ in range(reps):
                group = f"bench {key} {uuid.uuid4().hex}"
                sc.setJobGroup(group, key)
                runs.append(round(run(), 3))
            runs.sort()
            out[key] = {"sec": runs[reps // 2], "runs": runs,
                        "shape": _shape(sc, group)}
    finally:
        # clear what setJobGroup set, so later jobs carry no bench group
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    return out


def _host_probe(spark) -> dict:
    """Fixed-work, code-independent host calibration: every BENCH
    record carries the host phase measured by the same pinned work, so
    per-key ratios across records read against `host_probe_sec` instead
    of guessing at the host's bimodal disk.

    - ``cpu_runs``: 8M x 1M shuffle join + groupBy agg over
      spark.range — pure JVM/Tungsten work, zero repo code, zero
      disk. Sorted triple; median rejects the codegen first run.
    - ``disk_runs``: write a pinned incompressible ~330 MB parquet
      (xxhash64 columns over spark.range) to a fresh local dir, then
      os.sync() — times actual writeback, the phase the host's
      bimodal disk modulates. Sorted pair (it is the expensive half).
    - ``sec``: cpu median + disk min — the per-run scalar the machine
      record carries.
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    def cpu_run() -> float:
        t0 = time.perf_counter()
        # pmod-bounded so the 8M-row sum can't overflow a long (the
        # session runs ANSI mode: overflow is an error, not a wrap)
        b = (spark.range(0, 1_000_000, 1, 32)
             .select(F.col("id").alias("bid"),
                     F.pmod(F.xxhash64("id"), F.lit(1_000_003)).alias("v")))
        (spark.range(0, 8_000_000, 1, 32)
         .withColumn("k", F.col("id") % 1_000_000)
         .join(b, F.col("k") == F.col("bid"))
         .groupBy((F.col("k") % 97).alias("g"))
         .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
         .write.format("noop").mode("overwrite").save())
        return time.perf_counter() - t0

    cpu_runs = sorted(round(cpu_run(), 3) for _ in range(3))

    def disk_run() -> float:
        d = tempfile.mkdtemp(prefix="dss_host_probe_")
        try:
            t0 = time.perf_counter()
            (spark.range(0, 16_000_000, 1, 32)
             .select("id", F.xxhash64("id").alias("h1"),
                     F.xxhash64("id", "id").alias("h2"))
             .write.mode("overwrite").parquet(os.path.join(d, "p")))
            os.sync()
            return time.perf_counter() - t0
        finally:
            shutil.rmtree(d, ignore_errors=True)

    disk_runs = sorted(round(disk_run(), 3) for _ in range(2))
    return {"cpu_runs": cpu_runs, "disk_runs": disk_runs,
            "sec": round(cpu_runs[1] + disk_runs[0], 3)}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = None

    from database_syncer_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    warm(spark, sf_dir)

    probe_start = _host_probe(spark)
    headline = time_keys(spark, HEADLINE, sf_dir, warmups=2, reps=5)
    sentinel = time_keys(spark, SCALING_SENTINEL, sf_dir, warmups=2, reps=5)
    ext = time_keys(spark, HEADLINE_EXT, sf_dir, warmups=2, reps=5)
    # Secondary keys are heavy, so three reps — their raw sorted triple
    # is recorded so an outlier is self-diagnosing: [2.1, 2.2, 150.3]
    # reads as a co-tenant burst, [148, 150, 153] as a regression.
    second = time_keys(spark, SECONDARY, sf_dir, warmups=1, reps=3)
    timings, scaling_sentinel, headline_ext, secondary = (
        {k: r["sec"] for k, r in block.items()}
        for block in (headline, sentinel, ext, second))

    # ANN serving-only timings: the sim_* registry keys time ANN + exact
    # brute force + recall join in one plan (a verification artifact),
    # so the serving latency ANN work should improve is timed here
    # alone; recall stays the correctness surface in the registry keys.
    from database_syncer_spark.catalog import load_table
    from database_syncer_spark.pipeline import similarity as S
    from database_syncer_spark.queries.pipeline import _emb_dim

    emb = load_table(spark, sf_dir, "embeddings")
    dim = _emb_dim(sf_dir, emb)

    # Train once, serve many: a deployment builds each index ONCE (model
    # training + corpus coding — ann_index_build below), stores the coded
    # corpus at rest (persist+count here stands in for the partitioned
    # parquet), and serves queries against it through index=.
    ann_index_build: dict[str, float] = {}
    indexes: dict[str, dict] = {}
    corpus_keys = {"lsh": "bucketed", "ivf": "assigned",
                   "pq": "coded", "ivfpq": "coded"}
    builders = {
        "lsh": lambda: S.build_lsh_index(emb, dim=dim),
        "ivf": lambda: S.build_ivf_index(emb, dim=dim),
        "pq": lambda: S.build_pq_index(emb, dim=dim),
        "ivfpq": lambda: S.build_ivfpq_index(emb, dim=dim),
    }
    for name, build in builders.items():
        t0 = time.perf_counter()
        idx = build()
        corpus = idx[corpus_keys[name]].persist()
        corpus.count()          # materialize the at-rest artifact
        ann_index_build[name] = round(time.perf_counter() - t0, 3)
        indexes[name] = idx

    serving_fns = {
        "sim_topk_cosine_serve":
            lambda: S.brute_force_topk(emb, dim=dim),
        "sim_lsh_ann_serve":
            lambda: S.lsh_ann_topk(emb, dim=dim, index=indexes["lsh"]),
        "sim_ivf_ann_serve":
            lambda: S.ivf_ann_topk(emb, dim=dim, index=indexes["ivf"]),
        "sim_pq_ann_serve":
            lambda: S.pq_ann_topk(emb, dim=dim, index=indexes["pq"]),
        "sim_ivfpq_ann_serve":
            lambda: S.ivfpq_ann_topk(emb, dim=dim, index=indexes["ivfpq"]),
    }
    ann_serving: dict[str, float] = {}
    for skey, build in serving_fns.items():
        def srun() -> float:
            t0 = time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0
        srun()  # warmup
        ann_serving[skey] = round(sorted(srun() for _ in range(3))[1], 3)
    for idx in indexes.values():
        for name in corpus_keys.values():
            if name in idx:
                idx[name].unpersist()

    # Earlier records' totals, so a regression is visible in the record
    # itself.
    prev: dict[str, float] = {}
    import glob as _glob
    here = os.path.dirname(os.path.abspath(__file__))
    for p in sorted(_glob.glob(os.path.join(here, "BENCH_r*.json"))):
        try:
            with open(p, encoding="utf-8") as fh:
                d = json.load(fh)
            # a stored record may wrap the JSON line under "parsed"
            prev[os.path.basename(p)] = d.get("parsed", d).get("value")
        except (OSError, ValueError, AttributeError):
            pass

    total = round(sum(timings.values()), 3)
    probe_end = _host_probe(spark)

    # Probe-normalized per-key ratios, key_sec / mean(host_probe start,
    # end sec): a key whose raw seconds doubled but whose ratio held ran
    # on a slow host, not slow code.
    probe_mean = round((probe_start["sec"] + probe_end["sec"]) / 2, 3)
    normalized = {
        k: round(v / probe_mean, 3)
        for block in (timings, scaling_sentinel, headline_ext, secondary)
        for k, v in block.items()}

    detail = {
        "metric": "bench_detail",
        "prev_totals": prev,
        "host_probe": {"start": probe_start, "end": probe_end},
        "probe_mean_sec": probe_mean,
        "normalized": normalized,
        "headline_ext": headline_ext,
        "headline_ext_runs": {k: r["runs"] for k, r in ext.items()},
        "secondary": secondary,
        "secondary_runs": {k: r["runs"] for k, r in second.items()},
        "shape": {k: r["shape"]
                  for block in (headline, sentinel, ext, second)
                  for k, r in block.items()},
        "ann_index_build": ann_index_build,
        "ann_serving": ann_serving,
        "methodology": (
            "noop-sink; headline: 2 warmups, median of 5 timed; "
            "secondary (not in value): 1 warmup, median of 3, RAW sorted "
            "triple in secondary_runs (a lone outlier run is a co-tenant "
            "burst, three elevated runs a regression); shape: jobs, "
            "stages that ran tasks, and completed tasks of each key's "
            "last timed run, read from the status tracker by job group. "
            "ann_serving: the *_ann_topk serving call against a "
            "PREBUILT persisted index (train-once/serve-many; "
            "ann_index_build is the one-time train+code cost), 1 warmup "
            "median of 3 — the sim_* secondary keys time inline-build "
            "serving + brute-force verify + recall join and so overstate "
            "serving cost by design. headline_ext: newer engine areas on "
            "the full headline discipline, kept out of value so the "
            "12-key total stays comparable across records. queries also "
            "carries dedup_embedding_cosine, the CPU-bound scaling "
            "sentinel on the full headline discipline, EXCLUDED from "
            "value — value is the sum of the 12 HEADLINE keys; the "
            "sentinel gives a 32-vs-8-core ratio over queries one key "
            "that actually scales with cores. "
            "host_probe: fixed-work code-independent calibration "
            "(shuffle-join CPU triple + synced ~330MB parquet write "
            "pair) at bench start and end — read per-key ratios "
            "against it before calling a regression. Host shows "
            "±30-45% uniform drift between sessions; same-host A/B on "
            "pinned fixtures (BASELINE.md) is the regression arbiter."),
    }
    # The effective parallelism, in the machine record itself:
    # session.py honors $SPARK_GRAFT_CPUS via master(local[cpus]), and a
    # scaling run is self-describing only if the record says so.
    sc = spark.sparkContext
    machine = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        # queries = the 12 HEADLINE keys (their sum IS "value") + the
        # scaling sentinel, which is EXCLUDED from "value". Entries are
        # only ever ADDED here, never removed or renamed.
        "queries": {**timings, **scaling_sentinel},
        # the sentinel keys again on their own: queries minus these is
        # the 12-key set, whose sum equals "value"
        "scaling_sentinel": scaling_sentinel,
        "headline_ext": headline_ext,
        "host_probe_sec": probe_start["sec"],
        "secondary": secondary,
        "ann_index_build": ann_index_build,
        "ann_serving": ann_serving,
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "cpus_env": os.environ.get("SPARK_GRAFT_CPUS"),
        "sf": sf,
    }
    line = json.dumps(machine)
    if len(line) > 1900:  # the tail line must stay whole
        # mark the elision: a consumer of the last line must be able to
        # tell "dropped for size" from "not measured", and where the
        # full record lives
        line = json.dumps({**{k: machine[k] for k in
                              ("metric", "value", "unit", "queries",
                               "scaling_sentinel", "host_probe_sec", "master",
                               "default_parallelism", "sf")},
                           "truncated": True,
                           "detail": "BENCH_DETAIL_LAST.json"})
    try:
        with open(os.path.join(here, "BENCH_DETAIL_LAST.json"), "w",
                  encoding="utf-8") as fh:
            json.dump({**detail, **machine,
                       "metric": "headline_queries_total_wall"}, fh, indent=1)
    except OSError:
        pass
    print(json.dumps(detail))
    print(line)


if __name__ == "__main__":
    main()
