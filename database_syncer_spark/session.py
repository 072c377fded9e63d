"""SparkSession factory with scale-appropriate defaults.

Local mode is a single JVM; the settings below are chosen so the same code
is correct on a real cluster:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  dynamic join-strategy switching (sort-merge -> broadcast) replace any
  hand-tuning at 100x data.
- shuffle.partitions defaults to local cores; data-heavy entry points
  raise it to match their input volume and AQE coalesces down per query,
  so code never depends on the exact value.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled: every pandas_udf / applyInPandas / map_arrow transfer is
  Arrow-batched, never row-at-a-time pickle.
- Codegen class cache sized to the working set: Spark keeps each
  Janino-compiled generated class in a JVM-wide cache whose default of 100
  entries is split over 4 LRU segments. One ``corpus_curate`` +
  ``dedup_embedding_cosine`` run needs 137 distinct classes, a 4-table
  ``compare_sql_files`` 93 and a 6-batch CDC replay 13 (local[4]), so at
  100 a rerun of the same plans recompiled most of them (125 of 137 per
  warm curate run) and HotSpot JIT-compiled the new classes from scratch.
  At 1000 each class is compiled once per session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else half the host's physical memory
    capped at 48g. Local mode runs executors inside the driver JVM, so
    this IS the executor heap: 8g forced GC churn and shuffle spill on
    ~30M-row sync jobs, while a heap larger than the host lets the JVM
    grow until the kernel OOM-kills it instead of collecting (a fixed
    48g default did that on a 15 GB host). Half leaves room for the
    Python workers and the page cache."""
    if "SPARK_GRAFT_DRIVER_MEM" in os.environ:
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(48 << 10, phys // 2 >> 20)}m"


def get_spark(app_name: str = "database_syncer_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the SparkSession used by the engine and tests."""
    # Engage the protobuf shim (if the machine has a copy) BEFORE the JVM
    # launches: Python workers inherit PYTHONPATH from the JVM, which
    # inherits it from this process at gateway launch. No-op afterwards.
    from database_syncer_spark.compat import ensure_protobuf
    ensure_protobuf()
    # Python workers inherit PYTHONWARNINGS from the JVM's environment
    # (set at gateway launch, i.e. from this process, right here). Silence
    # ONLY pyspark's own Arrow-serializer pandas-concat FutureWarning —
    # upstream pyspark/sql/pandas/serializers.py concats per-batch frames
    # and trips pandas' empty/all-NA deprecation once per batch, flooding
    # bench/test stderr by the thousands and burying real ERROR lines.
    # The filter is message-scoped, so our own code's FutureWarnings
    # still surface.
    # Only when the user hasn't set PYTHONWARNINGS themselves: appending
    # to an existing value would OVERRIDE their intent (later entries
    # take precedence — a user who escalated FutureWarning to error
    # would have it silently un-escalated in every child process). The
    # env var is restored right after getOrCreate: the gateway JVM
    # snapshots its environment at launch — Python workers inherit from
    # the JVM, not from this process — so scoping the mutation to the
    # launch window keeps the filter out of every LATER non-Spark
    # subprocess the host process spawns.
    scrub_env_after = "PYTHONWARNINGS" not in os.environ
    if scrub_env_after:
        os.environ["PYTHONWARNINGS"] = (
            "ignore:The behavior of DataFrame concatenation:FutureWarning")
        # The env var only reaches processes forked AFTER this point;
        # the driver interpreter (toPandas also concats) needs the
        # filter in its already-initialized warnings state. Inside the
        # same guard so a user-set PYTHONWARNINGS (e.g. an escalate-to-
        # error) governs the driver exactly like the workers.
        import warnings
        warnings.filterwarnings(
            "ignore", message="The behavior of DataFrame concatenation",
            category=FutureWarning)
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4
    if shuffle_partitions is None:
        # Core-count default suits the small/medium queries; the big-data
        # paths (sync_dumps) raise it to match their input volume — AQE
        # can merge small shuffle partitions but never split beyond this
        # number, so a too-low value silently spills wide hash
        # aggregations (see _size_shuffle_partitions in sources/dump.py).
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE re-optimize CACHED plan materialization too (off by
        # default for partitioning-compat reasons that don't apply
        # here): the iterative dedup keys persist per-round frames
        # whose plans end in shuffles, and without this every cache
        # materializes at the raw shuffle partition count (~1000 tasks
        # per components call at sf0.1 instead of ~75) rather than at
        # AQE's byte-sized partitioning (guide §2.2/§2.4). Results are
        # partitioning-independent.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python UDTFs stay on the default pickle path DELIBERATELY:
        # with spark.sql.execution.pythonUDTF.arrow.enabled the
        # high-fanout statement-split UDTF runs ~2× slower at a 1 M-doc
        # probe (8.0-9.4 s vs 3.9-4.8 s) — per-yield Arrow conversion
        # overhead dominates when a UDTF emits many tiny rows per
        # input. The hygiene check in tests/test_oracle_parity.py allows
        # BatchEvalPythonUDTF for exactly this reason while still
        # forbidding row-at-a-time UDFs.
        .config("spark.sql.shuffle.spill.compress", "true")
        # static conf, read once per JVM: ≥7× the largest working set
        # measured above
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
        # No [Stage N:===>] carriage-return bars on stderr: they bloat
        # captured logs (~1 MB of bars per bench run) and interleave
        # with real ERROR lines, making them hard to grep.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", _driver_memory())
    )
    try:
        spark = builder.getOrCreate()
    finally:
        if scrub_env_after:
            # JVM launched (or already running, or launch FAILED) — the
            # host process's environ goes back to the user's state either
            # way; only the JVM's env snapshot keeps the filter.
            os.environ.pop("PYTHONWARNINGS", None)
    spark.sparkContext.setLogLevel("WARN")
    return spark
