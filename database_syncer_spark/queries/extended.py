"""Extended relational surface: scale-path join rewrites, window-frame
variants, argmax aggregates, and SQL-subquery forms (SURVEY.md §2 Part B
breadth beyond the core inventory).

Two keys here are explicit 100-TB *plan rewrites* with unchanged
semantics, verified against the plain-shape oracle:

- join_range_banded: a theta/range join re-expressed as an equi-join on
  a banding key. The broadcast-nested-loop theta join (join_theta_range)
  is O(|S|x|C|) probes; banding maps each probe-side row to the fixed
  set of width-W buckets its window overlaps, so the join becomes a
  shuffle equi-join on the bucket id + a residual range filter —
  executable at any scale where an equi-join is.
- join_skew_salted: the salting pattern for skewed keys. The fact side
  appends salt = pk % N to the join key; the dim side explodes into N
  replicas; the join key becomes (key, salt), splitting a hot key's rows
  across N reducers. AQE's skew-join handles moderate skew on its own
  (SCALE.md); salting is the portable form when a single key exceeds
  what one reducer can hold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from database_syncer_spark.catalog import fixture_cache, load_table, sf_dir_tag

_BAND = 500.0          # banding width == the range half-window
_RANGE = 500.0
_N_SALT = 8


# --- scale-path join rewrites -------------------------------------------

def join_range_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join |c_acctbal - s_acctbal| <= 500 as a banded equi-join.

    Each supplier explodes into the (2-3) width-500 buckets its
    [s-500, s+500] window overlaps; each customer lands in exactly one
    bucket, so a matching pair meets in exactly one bucket — no dedup
    needed. Equi-join on the bucket id + residual BETWEEN filter, then
    a left join back to suppliers restores the zero-match rows
    (count 0). Identical result to join_theta_range's broadcast
    nested-loop, by construction and by oracle."""
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")

    lo = F.floor((F.col("s_acctbal") - _RANGE) / _BAND).cast("long")
    hi = F.floor((F.col("s_acctbal") + _RANGE) / _BAND).cast("long")
    s_banded = s.withColumn("bucket", F.explode(F.sequence(lo, hi)))
    c_banded = c.withColumn(
        "bucket", F.floor(F.col("c_acctbal") / _BAND).cast("long"))

    matches = (
        s_banded.join(c_banded, "bucket")
        .where(F.col("c_acctbal").between(
            F.col("s_acctbal") - _RANGE, F.col("s_acctbal") + _RANGE))
        .groupBy("s_suppkey")
        .agg(F.count("*").alias("n_close_customers"))
    )
    return (
        s.select("s_suppkey")
        .join(matches, "s_suppkey", "left")
        .select(
            "s_suppkey",
            F.coalesce("n_close_customers", F.lit(0)).alias("n_close_customers"),
        )
    )


def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ customer with an N-way salted key (semantics unchanged).

    salt = o_orderkey % N on the fact side; the dim side explodes into N
    replicas keyed (c_custkey, salt). Every fact row still meets its one
    dim row, but a hot custkey's rows fan out over N reducers."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")

    fact = o.withColumn("salt", (F.col("o_orderkey") % _N_SALT).cast("int"))
    dim = c.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(_N_SALT)])))
    return (
        fact.join(dim, (fact.o_custkey == dim.c_custkey)
                  & (fact.salt == dim.salt))
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").alias("sum_price"),
        )
    )


# --- window-frame variants ----------------------------------------------

def win_ntile_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile / percent_rank / cume_dist with a unique tie-break so the
    quartile assignment is engine-independent."""
    c = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey", "c_nationkey", "c_acctbal",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window (value-based, not row-based): per customer, the
    decimal-exact sum of their orders priced within 1000 below the
    current order's price."""
    o = load_table(spark, sf_dir, "orders")
    w = (W.partitionBy("o_custkey").orderBy("o_totalprice")
         .rangeBetween(-1000, 0))
    return o.select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w)
        .cast("double").alias("near_sum"),
    )


# --- argmax / ordered-list aggregates -----------------------------------

def _order_encode(price_col: str, key_col: str) -> F.Column:
    # Exact bigint encoding of (price, key) for tie-broken argmax that
    # both engines order identically: prices carry 2 decimals, so
    # round(p*100) is integral; keys stay below 1e9 at tested sfs.
    return (F.round(F.col(price_col) * 100).cast("long")
            * F.lit(1_000_000_000) + F.col(key_col))


def agg_argmax_minby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by hash aggregation (the engine-internal last-wins
    dedup shape, surfaced as a query key) with deterministic ties."""
    o = load_table(spark, sf_dir, "orders")
    ordk = _order_encode("o_totalprice", "o_orderkey")
    return o.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", ordk).alias("top_order"),
        F.min_by("o_orderkey", ordk).alias("bottom_order"),
        F.count("*").alias("n"),
    )


def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic list aggregation: collect_list is unordered under
    shuffles, so sort_array + array_join pins the result (SURVEY §7.5
    determinism hazard, made explicit)."""
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_totalprice") > 450000.0)
    return o.groupBy("o_orderpriority").agg(
        F.array_join(
            F.sort_array(F.collect_list("o_orderkey")), ",").alias("big_orders"),
        F.count("*").alias("n_big"),
    )


def agg_mode_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode + equi-width histogram in one pass-shape: per order priority,
    the most frequent order DATE (mode, explicit argmax with a
    deterministic tie-break on the date itself — engine mode() builtins
    have engine-specific tie rules) and the row count per 100k-wide
    totalprice bucket pivoted to columns. Two chained aggregations —
    the second groupBy reuses the first shuffle's partitioning."""
    o = load_table(spark, sf_dir, "orders")
    day = F.date_trunc("day", F.col("o_orderdate"))
    per_day = (o.groupBy("o_orderpriority", day.alias("d"))
               .agg(F.count("*").alias("n")))
    # Exact bigint (count, date) encoding: DuckDB's arg_max rejects
    # struct ordering keys, so both engines order by the same scalar.
    ordk = (F.col("n") * F.lit(4_000_000_000)
            + F.col("d").cast("long"))
    mode = (per_day.groupBy("o_orderpriority")
            .agg(F.max_by("d", ordk).alias("mode_date")))
    bucket = F.floor(F.col("o_totalprice") / 100000).cast("int")
    hist = (o.groupBy("o_orderpriority")
            .agg(*[F.sum(F.when(bucket == b, 1).otherwise(0)).alias(f"b{b}")
                   for b in range(6)]))
    return mode.join(hist, "o_orderpriority")


def join_part_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promo revenue share): lineitem ⋈ part with a
    conditional aggregate ratio. Decimal-exact sums; the final ratio is
    one double division of two exact decimals, so it is deterministic
    under any aggregation order."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01"))
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    # No broadcast hint: part scales with SF (unlike nation/region), so
    # join strategy is AQE's runtime call — broadcast at bench scale,
    # shuffled-hash/sort-merge when part outgrows the threshold.
    j = li.join(p, li.l_partkey == p.p_partkey)
    return j.agg(
        F.round(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type").startswith("PROMO"), rev)
                    .otherwise(F.lit(0).cast("decimal(18,4)"))).cast("double")
            / F.sum(rev).cast("double"), 6).alias("promo_revenue_pct"),
        F.count("*").alias("n_items"),
    )


# --- source formats (B1 breadth) ----------------------------------------

def _roundtrip_dir(sf_dir: str, fmt: str) -> str:
    import os
    import tempfile

    tag = sf_dir_tag(sf_dir)
    return os.path.join(tempfile.gettempdir(), f"dss_rt_{fmt}_{tag}")


def scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source: write the nation table as headered CSV, read it back
    with an explicit schema (never inferSchema — a schema-inference pass
    is a second full scan at 100 TB). Oracle is the base table: the
    round trip must be lossless."""
    n = load_table(spark, sf_dir, "nation")
    path = _roundtrip_dir(sf_dir, "csv")
    n.write.mode("overwrite").option("header", True).csv(path)
    return spark.read.schema(n.schema).option("header", True).csv(path)


def scan_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source round trip on customer (strings, ints, doubles).
    Explicit schema on read, same rationale as CSV."""
    c = load_table(spark, sf_dir, "customer")
    path = _roundtrip_dir(sf_dir, "jsonl")
    c.write.mode("overwrite").json(path)
    return spark.read.schema(c.schema).json(path)


def scan_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source round trip on part — Spark 4's NATIVE xml format
    (the spark-xml package folded into core), completing B1 source
    breadth: parquet, CSV, JSONL, ORC, XML and SQL/pg dumps. Explicit
    schema + explicit rowTag on read (schema inference over XML is a
    full extra scan AND type-guesses; a 100-TB feed declares both).
    Column order is reasserted after read because the XML reader
    returns fields in schema order — the select is a no-op guard, not a
    shuffle."""
    p = load_table(spark, sf_dir, "part")
    path = _roundtrip_dir(sf_dir, "xml")
    (p.write.mode("overwrite").format("xml")
     .option("rootTag", "parts").option("rowTag", "part").save(path))
    return (spark.read.format("xml").schema(p.schema)
            .option("rowTag", "part").load(path)
            .select(*p.columns))


def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source round trip on supplier — B1 breadth: parquet, CSV,
    JSONL, ORC and SQL-dump sources all covered. Explicit schema on
    read; ORC is Spark-native (vectorized reader, predicate pushdown)."""
    s = load_table(spark, sf_dir, "supplier")
    path = _roundtrip_dir(sf_dir, "orc")
    s.write.mode("overwrite").orc(path)
    return spark.read.schema(s.schema).orc(path)


def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-layout partitioned sink + partition-pruned scan: events
    written ``partitionBy(event_type)``, read back filtered on the
    partition column. The filter resolves at FILE-LISTING time
    (PartitionFilters — other partitions' files are never opened), the
    layout discipline that keeps a 100-TB event store queryable.
    tests/test_plans.py asserts the pruning reaches the scan node."""
    ev = load_table(spark, sf_dir, "events")
    path = _roundtrip_dir(sf_dir, "evpart")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    back = spark.read.parquet(path).where(F.col("event_type") == "click")
    return back.select("event_id", "ts", "user_id", "event_type", "value")


# --- SQL subquery forms --------------------------------------------------

def subq_exists_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS through the SQL front end (Catalyst rewrites it
    to the same semi join as join_left_semi — both front ends covered)."""
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("v_sub_supplier")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_sub_lineitem")
    return spark.sql("""
        SELECT s_suppkey, s_name
        FROM v_sub_supplier s
        WHERE EXISTS (
            SELECT 1 FROM v_sub_lineitem l
            WHERE l.l_suppkey = s.s_suppkey
              AND l.l_quantity >= 49 AND l.l_shipdate >= TIMESTAMP '1997-06-01'
        )
    """)


def subq_scalar_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery in a predicate. The threshold derives from max()
    (exact in both engines), not avg() (whose float summation order is
    engine-dependent)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_sub_orders")
    return spark.sql("""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM v_sub_orders
        WHERE o_totalprice > 0.5 * (SELECT max(o_totalprice) FROM v_sub_orders)
    """)


def subq_correlated_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORRELATED scalar subquery (TPC-H Q2's shape): customers holding
    exactly their nation's minimum account balance. Catalyst decorrelates
    into an aggregate + join — no per-row re-execution."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("v_sub_customer")
    return spark.sql("""
        SELECT c_custkey, c_nationkey, c_acctbal
        FROM v_sub_customer c
        WHERE c_acctbal = (SELECT min(c2.c_acctbal) FROM v_sub_customer c2
                           WHERE c2.c_nationkey = c.c_nationkey)
    """)


def fn_struct_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested struct create/access: pack order fields into a struct,
    project fields back out (Catalyst prunes the unused members — the
    shape nested parquet schemas rely on at scale)."""
    o = load_table(spark, sf_dir, "orders")
    packed = o.select(
        "o_orderkey",
        F.struct(
            F.col("o_orderstatus").alias("status"),
            F.struct(F.col("o_totalprice").alias("amount"),
                     F.col("o_orderpriority").alias("priority")).alias("detail"),
        ).alias("info"),
    )
    return packed.select(
        "o_orderkey",
        F.col("info.status").alias("status"),
        F.col("info.detail.amount").alias("amount"),
        F.upper(F.col("info.detail.priority")).alias("priority_uc"),
    )


def reshape_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot / melt (wide -> long): lineitem's three money columns as
    (measure, value) rows — the inverse of agg_pivot, built-in since
    Spark 3.4 (expression-only, no shuffle)."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 10 == 0)
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="val",
    )


def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group correlation/stddev via EXACT decimal accumulators.

    Built-in ``corr()``/``stddev()`` accumulate in floating point, so
    their last bits depend on partial-aggregation order — nondeterministic
    under shuffle/AQE/retry, a real hazard for both oracle parity and
    100-TB reproducibility. Instead accumulate Σx, Σy, Σx², Σy², Σxy as
    decimals (exact, order-independent, map-side combinable) and evaluate
    the closed forms in double at the END: every engine sees identical
    exact inputs, and the final scalar IEEE ops are deterministic."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    g = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"), F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"), F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    corr = (n * sxy - sx * sy) / F.sqrt(
        (n * sxx - sx * sx) * (n * syy - sy * sy))
    stddev_x = F.sqrt((n * sxx - sx * sx) / (n * (n - F.lit(1.0))))
    return g.select(
        "l_returnflag", "n",
        F.round(corr, 6).alias("corr_qty_price"),
        F.round(stddev_x, 6).alias("stddev_qty"),
        F.round(sx / n, 6).alias("avg_qty"),
    )


# --- training-data sampling ----------------------------------------------

def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sample: K=50 documents per language, deterministic
    (rank by doc_id within stratum). The per-class cap every training-
    data pipeline needs; WindowGroupLimit keeps it one bounded-state
    pass per stratum at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy("doc_id")
    return (docs.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 50)
            .select("doc_id", "lang", "n_chars", F.col("rk").cast("int").alias("rk")))


def sample_hash_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% Bernoulli sample by key hash — reproducible
    across runs/engines (unlike rand()-seeded TABLESAMPLE, whose RNG is
    engine-specific). Knuth multiplicative hash on the key, threshold on
    the residue; exact bigint arithmetic in both engines. The key is
    reduced mod m BEFORE the multiply — (k%m)*K%m ≡ k*K%m, so the
    selection is value-identical but the product stays ≤ m·K and can
    never overflow bigint (raw doc_id·K overflows past doc_id≈3.5e9;
    caught by the 200× scale probe under ANSI mode)."""
    docs = load_table(spark, sf_dir, "documents")
    h = (F.pmod(F.col("doc_id"), F.lit(1000)) * F.lit(2654435761)) % F.lit(1000)
    return docs.where(h < 100).select("doc_id", "lang", "n_chars")


def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain rebalancing (T=0.5): sample the corpus
    so each language's expected share is ∝ cnt^T instead of ∝ cnt —
    the standard up/down-weighting every multilingual / multi-domain
    training mix applies (head domains damped, tail domains boosted),
    at an overall ~20% budget.

    Engine-exact by construction, so the DuckDB oracle matches
    bit-for-bit: domain weight w = floor(sqrt(cnt)) (IEEE sqrt is
    correctly rounded, floor exact), per-domain keep-probability in
    ppm via DECIMAL(38) integer division (no float ratio anywhere),
    membership via the same Knuth multiplicative hash as
    sample_hash_threshold. At 100 TB: the stats side is
    domain-cardinality-sized (KBs), broadcast back onto the corpus —
    the corpus itself streams through one broadcast join + filter,
    zero corpus shuffles, and the selection is reproducible
    row-by-row across runs, partitionings, and engines."""
    docs = load_table(spark, sf_dir, "documents")
    stats = (docs.groupBy("lang").agg(F.count("*").alias("cnt"))
             .withColumn("w", F.floor(F.sqrt(F.col("cnt"))).cast("long")))
    tot = stats.agg(F.sum("cnt").alias("n"), F.sum("w").alias("wsum"))
    p = (stats.crossJoin(F.broadcast(tot))
         .withColumn(
             "p_ppm",
             F.least(
                 F.lit(1000000).cast("long"),
                 F.expr("CAST((CAST(200000 AS DECIMAL(38,0)) * n * w) "
                        "DIV (CAST(wsum AS DECIMAL(38,0)) * cnt) "
                        "AS BIGINT)")))
         .select("lang", "p_ppm"))
    # mod-first hash: (k%m)*K%m == k*K%m, overflow-proof at any doc_id
    return (docs.join(F.broadcast(p), "lang")
            .where(F.pmod(F.pmod(F.col("doc_id"), F.lit(1000000))
                          * F.lit(2654435761),
                          F.lit(1000000)) < F.col("p_ppm"))
            .select("doc_id", "lang", "n_chars", "p_ppm"))


def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order-priority counts for orders with at least one
    qualifying lineitem (EXISTS → left-semi join; the fixture schema has
    no commitdate, so 'qualifying' = quantity ≥ 45)."""
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-07-01"))
    big = (load_table(spark, sf_dir, "lineitem")
           .where(F.col("l_quantity") >= 45)
           .select(F.col("l_orderkey").alias("o_orderkey")))
    return (o.join(big, "o_orderkey", "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("order_count")))


def tpch_q12_priority_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: high/low-priority conditional counts (CASE inside
    SUM — map-side partial) per lineitem return flag."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01"))
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("l_returnflag")
            .agg(F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
                 F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count")))


def tpch_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier count per (brand, size) —
    countDistinct after an equi-join."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    # part scales with SF — no broadcast hint; AQE picks the strategy.
    return (li.join(p, li.l_partkey == p.p_partkey)
            .where(F.col("p_size").isin(1, 5, 9, 13))
            .groupBy("p_brand", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")))


def join_runtime_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join pruning — the 100-TB semi-join
    reduction: the selective dim filter (URGENT orders) builds a bloom
    filter at runtime that the FACT scan probes (``might_contain`` in
    the fact-side Filter), so non-matching lineitem rows drop before the
    shuffle instead of after it. On a real cluster the default
    thresholds (10 GB application side) trigger this automatically; the
    fixture is far below them, so the callable lowers the thresholds,
    forces physical planning while they're in effect (executedPlan is
    cached on the Dataset), then restores session state —
    tests/test_plans.py asserts might_contain is really in the plan."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity")
        orders = load_table(spark, sf_dir, "orders").where(
            F.col("o_orderpriority") == "1-URGENT").select(
            "o_orderkey", "o_orderstatus")
        out = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("n_lines"),
                 F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                 .cast("double").alias("sum_qty"))
        )
        # materialize the physical plan (with bloom injected) before the
        # confs are restored; the Dataset caches it for later actions.
        out._jdf.queryExecution().executedPlan()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return out


def win_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user conversion funnel over the event stream: earliest signup,
    the earliest click AT OR AFTER it, the earliest purchase at or after
    that click, and the number of steps completed — the product-analytics
    staple (sequence matching with ordered constraints).

    Shape: three per-user min-aggregations chained by user_id joins —
    every stage keys on user_id, so one hash partitioning serves the
    whole pipeline (exchange reuse); no windows, no per-user sorting, no
    event-history state. At 100 TB the filters (event_type pushdown)
    reach the scan and each stage's shuffle carries only user-level
    aggregates after the first."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts")
    s = (ev.where(F.col("event_type") == "signup")
         .groupBy("user_id").agg(F.min("ts").alias("signup_ts")))
    c = (ev.where(F.col("event_type") == "click")
         .join(s, "user_id")
         .where(F.col("ts") >= F.col("signup_ts"))
         .groupBy("user_id").agg(F.min("ts").alias("click_ts")))
    p = (ev.where(F.col("event_type") == "purchase")
         .join(c, "user_id")
         .where(F.col("ts") >= F.col("click_ts"))
         .groupBy("user_id").agg(F.min("ts").alias("purchase_ts")))
    steps = (F.lit(1)
             + F.when(F.col("click_ts").isNotNull(), 1).otherwise(0)
             + F.when(F.col("purchase_ts").isNotNull(), 1).otherwise(0))
    return (s.join(c, "user_id", "left").join(p, "user_id", "left")
            .select("user_id", "signup_ts", "click_ts", "purchase_ts",
                    steps.cast("int").alias("steps_completed")))


#: sessionization gap (micros): 12 h — the fixture's median per-user
#: inter-event gap is ~7 h and p90 ~25 h, so real splits occur.
_SESSION_GAP_US = 12 * 3600 * 1_000_000


def win_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization of the event log: a user's events belong to
    one session until an inter-event gap exceeds 12 h, then a new session
    starts — the gap-based log-analytics staple (the batch analog of
    `stream_session_window`, which uses Spark's session_window; this is
    the classic lag + cumulative-sum window construction, exact-SQL
    oracle-able). Output: one row per session with bounds and size.

    Scale: everything partitions by user_id — the lag window, the
    running-sum window, and the final groupBy all reuse ONE hash
    partitioning (single Exchange); no global window, no state. Gap
    arithmetic is exact int64 micros (no float time math)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # ts arrives NTZ (plain micros parquet) or LTZ (the nanos->micros
    # path); session tz is pinned UTC, so the cast is an identity that
    # just satisfies unix_micros' type check.
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    is_new = F.when(gap.isNull() | (gap > _SESSION_GAP_US), 1).otherwise(0)
    sess = (ev.withColumn("__new", is_new)
            .withColumn("session_seq",
                        F.sum("__new").over(
                            w.rowsBetween(W.unboundedPreceding, W.currentRow))))
    return (sess.groupBy("user_id", "session_seq")
            .agg(F.count("*").alias("n_events"),
                 F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end"),
                 F.sum(F.col("value").cast("decimal(18,2)"))
                  .cast("double").alias("session_value")))


def win_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix over the event log — the third
    product-analytics staple next to win_funnel_steps (ordered
    conversion) and win_sessionize (gap sessions): users are cohorted
    by the calendar DAY of their FIRST event, and each (cohort_day,
    day_offset) cell counts how many of that cohort were active offset
    days later — the D1/D7/D30 retention matrix — with the cohort's
    size and an integer-ppm retention rate (offset 0 is the cohort day
    itself, retention_ppm = 1000000 by construction — a built-in
    self-check the oracle hash pins).

    Scale shape: a codegen (user, day) HashAggregate dedups the event
    log map-side (partial agg: per-task state is one entry per
    distinct (user, day), never a per-user set object), then ONE
    user-partitioned window takes min(day) as the cohort day over the
    already-deduped rows — no first-event self-join back to the event
    log (the oracle states that naive DISTINCT + join plan). Four
    Exchanges total, but only the first two touch event-derived rows
    and BOTH carry the deduped (user, day) stream (the first ships
    map-side-deduped partials — at 100 TB, shuffle volume is bounded
    by distinct user-days, not raw events); the last two carry
    (cohort, offset) matrix partials, calendar²-bounded. The
    cohort_size window runs over that matrix, never over events. Deliberately NOT
    collect_set(day) per user: collect_set plans as
    ObjectHashAggregate, which falls back to sort-based aggregation
    after spark.sql.objectHashAggregate.sortBased.fallbackThreshold
    (default 128) in-memory groups — at 10 M events / 15 M users the
    measured warm A/B is 81 s (collect_set, both agg phases degrade
    to full sorts with set-object serialization) vs 6.3 s for this
    plan (SCALE.md). Offset math is exact integer datediff days — no
    float time arithmetic. The reference has no analytics surface
    (engine breadth, SURVEY §2 Part B)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.to_date(F.col("ts").cast("timestamp")).alias("d"))
    act = (ev.groupBy("user_id", "d").agg(F.lit(1).alias("__one"))
           .select("user_id", "d",
                   F.min("d").over(W.partitionBy("user_id"))
                   .alias("cohort_day")))
    ret = (act.withColumn("day_offset",
                          F.datediff("d", "cohort_day").cast("int"))
           .groupBy("cohort_day", "day_offset")
           .agg(F.count("*").alias("n_active")))
    wcoh = W.partitionBy("cohort_day")
    return (ret.withColumn(
                "cohort_size",
                F.max(F.when(F.col("day_offset") == 0, F.col("n_active")))
                .over(wcoh))
            .withColumn(
                "retention_ppm",
                F.expr("CAST((1000000 * n_active) DIV cohort_size"
                       " AS BIGINT)"))
            .select("cohort_day", "day_offset", "n_active",
                    "cohort_size", "retention_ppm"))


def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``binaryFile`` source — the multimodal INGEST path: a directory
    of opaque media blobs read as (path, modificationTime, length,
    content) rows, content as a binary column (B1 breadth; the at-rest
    form every image/audio corpus starts in before the pipeline packs
    it into parquet). Stages a deterministic payload dir from the
    documents fixture (doc_id < 40, one file per doc, utf-8 bytes of
    the text — byte-exact vs the oracle because fixture text is ASCII),
    rendered once through :func:`fixture_cache`; reads back with a
    pathGlobFilter (partition-style file pruning); projects doc_id
    parsed from the file name, the source's file length, and
    md5(content)."""
    import os

    def build(tmp: str) -> None:
        os.makedirs(tmp)
        for r in (load_table(spark, sf_dir, "documents")
                  .where(F.col("doc_id") < 40)
                  .select("doc_id", "text").collect()):
            with open(os.path.join(tmp, f"doc_{int(r.doc_id):05d}.bin"),
                      "wb") as fh:
                fh.write(r.text.encode("utf-8"))

    d = fixture_cache(sf_dir, "binfiles", build)
    b = (spark.read.format("binaryFile")
         .option("pathGlobFilter", "*.bin").load(d))
    return b.select(
        F.regexp_extract("path", r"doc_(\d+)\.bin$", 1)
         .cast("long").alias("doc_id"),
        F.col("length"),
        F.md5("content").alias("content_md5"))


def win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-row EXACT median of a customer's order totals in date
    order — the windowed-percentile shape (anomaly baselines, smoothed
    spend). Built-in `percentile` as a window aggregate over a ROWS
    frame; the interpolated median for even counts matches DuckDB's
    `median` exactly, and (o_orderdate, o_orderkey) is a total order so
    the frame contents are engine-independent.

    Scale: one hash partitioning by customer, frame evaluation is
    partition-local; no global sort, no state beyond the 7-row frame."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    w = (W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(-6, W.currentRow))
    med = F.expr("percentile(o_totalprice, 0.5)").over(w)
    return o.select(
        "o_custkey", "o_orderkey",
        F.round(med, 6).alias("rolling_median"),
        F.count(F.lit(1)).over(w).alias("n_in_window"))


def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bitmap aggregates — the scale path
    between COUNT(DISTINCT) (shuffles the whole key universe) and HLL
    (approximate): keys bucket into fixed 32k-bit bitmaps
    (bitmap_bucket_number / bitmap_bit_position), bitmap_construct_agg
    partial-ORs map-side, and the exact count is the sum of per-bucket
    popcounts. Shuffle volume is #occupied-buckets × 4 KB, not #keys —
    and unlike HLL the answer is exact, so the oracle is a plain
    COUNT(DISTINCT)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_custkey")
    b = (o.groupBy(
            "o_orderpriority",
            F.bitmap_bucket_number("o_custkey").alias("__bkt"))
         .agg(F.bitmap_construct_agg(
             F.bitmap_bit_position("o_custkey")).alias("__bm")))
    return (b.groupBy("o_orderpriority")
            .agg(F.sum(F.bitmap_count("__bm"))
                 .alias("n_distinct_customers")))


QUERIES = {
    "join_runtime_bloom": join_runtime_bloom,
    "win_funnel_steps": win_funnel_steps,
    "win_sessionize": win_sessionize,
    "win_retention_cohort": win_retention_cohort,
    "win_rolling_median": win_rolling_median,
    "agg_bitmap_distinct": agg_bitmap_distinct,
    "scan_binary_files": scan_binary_files,
    "join_range_banded": join_range_banded,
    "join_skew_salted": join_skew_salted,
    "win_ntile_cume": win_ntile_cume,
    "win_range_frame": win_range_frame,
    "agg_argmax_minby": agg_argmax_minby,
    "agg_collect_sorted": agg_collect_sorted,
    "subq_exists_sql": subq_exists_sql,
    "subq_scalar_agg": subq_scalar_agg,
    "scan_csv_roundtrip": scan_csv_roundtrip,
    "scan_jsonl_roundtrip": scan_jsonl_roundtrip,
    "scan_xml_roundtrip": scan_xml_roundtrip,
    "scan_orc_roundtrip": scan_orc_roundtrip,
    "scan_partition_pruned": scan_partition_pruned,
    "agg_stats_moments": agg_stats_moments,
    "join_part_promo": join_part_promo,
    "agg_mode_histogram": agg_mode_histogram,
    "subq_correlated_min": subq_correlated_min,
    "fn_struct_nested": fn_struct_nested,
    "reshape_unpivot": reshape_unpivot,
    "sample_stratified": sample_stratified,
    "sample_hash_threshold": sample_hash_threshold,
    "sample_temperature_mix": sample_temperature_mix,
    "tpch_q4_order_priority": tpch_q4_order_priority,
    "tpch_q12_priority_classes": tpch_q12_priority_classes,
    "tpch_q16_supplier_cnt": tpch_q16_supplier_cnt,
}

ORACLES = {
    # ROWS frame + total order => identical frame contents; DuckDB's
    # interpolated median == Spark percentile(0.5); round-6 both sides
    "win_rolling_median": """
SELECT o_custkey, o_orderkey,
       round(median(o_totalprice) OVER w, 6) AS rolling_median,
       count(*) OVER w AS n_in_window
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
""",
    # binaryFile length/content recomputed from the text the files hold
    # (ASCII fixture: one byte per char)
    "scan_binary_files": """
SELECT doc_id, CAST(strlen(text) AS BIGINT) AS length,
       md5(text) AS content_md5
FROM documents WHERE doc_id < 40
""",
    # bitmap exactness means the oracle is plain COUNT(DISTINCT)
    "agg_bitmap_distinct": """
SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_distinct_customers
FROM orders GROUP BY o_orderpriority
""",
    # exact int64-micros gap arithmetic both sides; session_seq cast to
    # BIGINT (DuckDB sum(int) is HUGEINT — the r2 canonicalization trap)
    "win_sessionize": f"""
WITH g AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                      > {_SESSION_GAP_US}
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM g)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
FROM s GROUP BY user_id, session_seq
""",
    "win_funnel_steps": """
WITH s AS (SELECT user_id, min(ts) AS signup_ts FROM events
           WHERE event_type = 'signup' GROUP BY user_id),
c AS (SELECT e.user_id, min(e.ts) AS click_ts
      FROM events e JOIN s USING (user_id)
      WHERE e.event_type = 'click' AND e.ts >= s.signup_ts
      GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.ts) AS purchase_ts
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts >= c.click_ts
      GROUP BY e.user_id)
SELECT s.user_id, s.signup_ts, c.click_ts, p.purchase_ts,
       CAST(1 + (CASE WHEN c.click_ts IS NULL THEN 0 ELSE 1 END)
              + (CASE WHEN p.purchase_ts IS NULL THEN 0 ELSE 1 END)
            AS INT) AS steps_completed
FROM s LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
""",
    # the naive DISTINCT + first-event join + matrix window plan the
    # collect_set rewrite must equal exactly; day_offset is exact
    # integer calendar-day arithmetic on both engines
    "win_retention_cohort": """
WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
f AS (SELECT user_id, min(d) AS cohort_day FROM a GROUP BY user_id),
r AS (SELECT f.cohort_day,
             CAST(date_diff('day', f.cohort_day, a.d) AS INT)
                 AS day_offset,
             count(*) AS n_active
      FROM a JOIN f USING (user_id) GROUP BY 1, 2)
SELECT cohort_day, day_offset, n_active,
       max(CASE WHEN day_offset = 0 THEN n_active END)
           OVER (PARTITION BY cohort_day) AS cohort_size,
       CAST((1000000 * n_active) // max(CASE WHEN day_offset = 0
                                             THEN n_active END)
                                       OVER (PARTITION BY cohort_day)
            AS BIGINT) AS retention_ppm
FROM r
""",
    "join_runtime_bloom": """
SELECT o_orderstatus, count(*) AS n_lines,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY o_orderstatus
""",
    # Same oracle text as join_theta_range: the banded rewrite must be
    # result-identical to the plain range join.
    "join_range_banded": """
SELECT s_suppkey, count(c_custkey) AS n_close_customers
FROM supplier LEFT JOIN customer
  ON c_acctbal BETWEEN s_acctbal - 500.0 AND s_acctbal + 500.0
GROUP BY s_suppkey
""",
    "join_skew_salted": """
SELECT c_nationkey, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_nationkey
""",
    "win_ntile_cume": """
SELECT c_custkey, c_nationkey, c_acctbal,
       CAST(ntile(4) OVER w AS INT) AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
""",
    "win_range_frame": """
SELECT o_orderkey, o_custkey, o_totalprice,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
            PARTITION BY o_custkey ORDER BY o_totalprice
            RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS near_sum
FROM orders
""",
    "agg_argmax_minby": """
SELECT o_orderpriority,
       arg_max(o_orderkey,
               CAST(round(o_totalprice*100) AS BIGINT)*1000000000 + o_orderkey)
         AS top_order,
       arg_min(o_orderkey,
               CAST(round(o_totalprice*100) AS BIGINT)*1000000000 + o_orderkey)
         AS bottom_order,
       count(*) AS n
FROM orders GROUP BY o_orderpriority
""",
    "agg_collect_sorted": """
SELECT o_orderpriority,
       string_agg(o_orderkey, ',' ORDER BY o_orderkey) AS big_orders,
       count(*) AS n_big
FROM orders WHERE o_totalprice > 450000.0
GROUP BY o_orderpriority
""",
    "subq_exists_sql": """
SELECT s_suppkey, s_name FROM supplier s
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_suppkey = s.s_suppkey
                AND l.l_quantity >= 49
                AND l.l_shipdate >= TIMESTAMP '1997-06-01')
""",
    "subq_scalar_agg": """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_totalprice > 0.5 * (SELECT max(o_totalprice) FROM orders)
""",
    "scan_csv_roundtrip": "SELECT * FROM nation",
    "scan_jsonl_roundtrip": "SELECT * FROM customer",
    "scan_xml_roundtrip": "SELECT * FROM part",
    "scan_orc_roundtrip": "SELECT * FROM supplier",
    "scan_partition_pruned": """
SELECT event_id, ts, user_id, event_type, value
FROM events WHERE event_type = 'click'
""",
    "agg_stats_moments": """
WITH s AS (
  SELECT l_returnflag, count(*) AS n,
         sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
         sum(CAST(l_quantity AS DECIMAL(18,2))
             * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
         sum(CAST(l_quantity AS DECIMAL(18,2))
             * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
           AS corr_qty_price,
       round(sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))), 6)
           AS stddev_qty,
       round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 6) AS avg_qty
FROM s
""",
    "subq_correlated_min": """
SELECT c_custkey, c_nationkey, c_acctbal
FROM customer c
WHERE c_acctbal = (SELECT min(c2.c_acctbal) FROM customer c2
                   WHERE c2.c_nationkey = c.c_nationkey)
""",
    "fn_struct_nested": """
SELECT o_orderkey, o_orderstatus AS status, o_totalprice AS amount,
       upper(o_orderpriority) AS priority_uc
FROM orders
""",
    "reshape_unpivot": """
SELECT l_orderkey, l_linenumber, measure, val
FROM (SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount, l_tax
      FROM lineitem WHERE l_orderkey % 10 = 0)
UNPIVOT (val FOR measure IN (l_extendedprice, l_discount, l_tax))
""",
    "sample_stratified": """
SELECT doc_id, lang, n_chars, CAST(rk AS INT) AS rk FROM (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rk
  FROM documents
) WHERE rk <= 50
""",
    "sample_hash_threshold": """
SELECT doc_id, lang, n_chars FROM documents
WHERE (doc_id % 1000 * 2654435761) % 1000 < 100
""",
    # integer-exact temperature sampling: w = floor(sqrt(cnt)), keep
    # ppm via HUGEINT integer division — same arithmetic as the Spark
    # DECIMAL(38) DIV, so selection matches row-for-row
    "sample_temperature_mix": """
WITH stats AS (
  SELECT lang, count(*) AS cnt,
         CAST(floor(sqrt(count(*))) AS BIGINT) AS w
  FROM documents GROUP BY lang
), tot AS (
  SELECT sum(cnt) AS n, sum(w) AS wsum FROM stats
), p AS (
  SELECT lang,
         least(1000000, CAST((200000::HUGEINT * n * w)
                             // (wsum::HUGEINT * cnt) AS BIGINT)) AS p_ppm
  FROM stats, tot
)
SELECT d.doc_id, d.lang, d.n_chars, p.p_ppm
FROM documents d JOIN p USING (lang)
WHERE (d.doc_id % 1000000 * 2654435761) % 1000000 < p.p_ppm
""",
    "tpch_q4_order_priority": """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-07-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)
GROUP BY o_orderpriority
""",
    "tpch_q12_priority_classes": """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
           THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_returnflag
""",
    "tpch_q16_supplier_cnt": """
SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size IN (1, 5, 9, 13)
GROUP BY p_brand, p_size
""",
    "agg_mode_histogram": """
WITH per_day AS (
  SELECT o_orderpriority, date_trunc('day', o_orderdate) AS d, count(*) AS n
  FROM orders GROUP BY 1, 2
),
m AS (
  SELECT o_orderpriority,
         CAST(arg_max(d, n * 4000000000 + CAST(epoch(d) AS BIGINT))
              AS TIMESTAMP) AS mode_date
  FROM per_day GROUP BY o_orderpriority
),
h AS (
  SELECT o_orderpriority,
         CAST(sum(CASE WHEN CAST(floor(o_totalprice / 100000) AS INT) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b0,
         CAST(sum(CASE WHEN CAST(floor(o_totalprice / 100000) AS INT) = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b1,
         CAST(sum(CASE WHEN CAST(floor(o_totalprice / 100000) AS INT) = 2 THEN 1 ELSE 0 END) AS BIGINT) AS b2,
         CAST(sum(CASE WHEN CAST(floor(o_totalprice / 100000) AS INT) = 3 THEN 1 ELSE 0 END) AS BIGINT) AS b3,
         CAST(sum(CASE WHEN CAST(floor(o_totalprice / 100000) AS INT) = 4 THEN 1 ELSE 0 END) AS BIGINT) AS b4,
         CAST(sum(CASE WHEN CAST(floor(o_totalprice / 100000) AS INT) = 5 THEN 1 ELSE 0 END) AS BIGINT) AS b5
  FROM orders GROUP BY o_orderpriority
)
SELECT m.o_orderpriority, m.mode_date, h.b0, h.b1, h.b2, h.b3, h.b4, h.b5
FROM m JOIN h USING (o_orderpriority)
""",
    "join_part_promo": """
SELECT round(100.0
             * CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
                    THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE),
             6) AS promo_revenue_pct,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
""",
}
