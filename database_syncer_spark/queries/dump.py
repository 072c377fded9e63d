"""Query key for the SQL-dump source (SURVEY.md §2 B1 scan_sql_dump).

Round-trip shape: a deterministic slice of the orders fixture is rendered
as a mysqldump-style file (driver-side, small), then ingested back through
the full distributed dump pipeline (statement split -> Arrow-batched
tokenizer -> typed cast). The oracle is simply the source slice — so the
driver's value-hash verifies the ENTIRE ingest path end to end.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from database_syncer_spark.catalog import fixture_cache, load_table
from database_syncer_spark.sources.dump import read_sql_dump, write_sql_dump
from database_syncer_spark.sources.pg_dump import read_pg_dump

_SLICE = 200  # o_orderkey < 200 at any sf


def _orders_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").where(
        F.col("o_orderkey") < _SLICE)


def _concat(paths: list[str], out_path: str) -> None:
    """Concatenate dump files, one blank line after each (mysqldump and
    pg_dump emit tables back to back)."""
    with open(out_path, "w", encoding="utf-8") as out:
        for p in paths:
            with open(p, encoding="utf-8") as fh:
                out.write(fh.read())
            out.write("\n")


def _orders_dump(spark: SparkSession, sf_dir: str) -> str:
    """The production orders-slice dump. ALL keys that need one of the
    fixture dumps go through these helpers, so each render lives in
    exactly one place; :func:`fixture_cache` renders it once."""
    return fixture_cache(sf_dir, "orders.sql", lambda tmp: write_sql_dump(
        _orders_slice(spark, sf_dir), "orders", ["o_orderkey"], tmp))


def _orders_backup_dump(spark: SparkSession, sf_dir: str) -> str:
    """The derived-backup orders dump."""
    from database_syncer_spark.core.snapshots import derive_backup

    return fixture_cache(sf_dir, "orders_bak.sql", lambda tmp: write_sql_dump(
        derive_backup(_orders_slice(spark, sf_dir), "o_orderkey",
                      "o_totalprice"), "orders", ["o_orderkey"], tmp))


def _lineitem_ck_dump(spark: SparkSession, sf_dir: str) -> str:
    """The composite-PK lineitem slice dump."""
    def build(tmp: str) -> None:
        from pyspark.sql import Window as W

        li = load_table(spark, sf_dir, "lineitem").where(
            F.col("l_orderkey") < _SLICE)
        # The synthetic fixture's (orderkey, linenumber) is NOT unique;
        # keep single-row keys so the dump's last-wins dedup (which
        # depends on statement order) never fires and the oracle is
        # deterministic.
        li = li.withColumn(
            "__n", F.count("*").over(
                W.partitionBy("l_orderkey", "l_linenumber"))
        ).where(F.col("__n") == 1)
        li = li.select(
            "l_orderkey", "l_linenumber",
            F.col("l_quantity").cast("decimal(12,2)").alias("l_quantity"),
            F.col("l_extendedprice").cast("decimal(14,2)")
             .alias("l_extendedprice"),
            F.expr("nullif(l_returnflag, 'N')").alias("l_returnflag"),
        )
        write_sql_dump(li, "lineitem_ck", ["l_orderkey", "l_linenumber"], tmp)

    return fixture_cache(sf_dir, "lineitem_ck.sql", build)


def _orders_hex_dump(spark: SparkSession, sf_dir: str) -> str:
    """The orders slice as a mysqldump file whose string literals use
    the NON-PLAIN mysql literal forms a real dump eventually carries
    (r9 verdict, what's-missing #3): o_orderpriority as a ``0x…`` hex
    literal (the --hex-blob rendering), o_orderstatus behind a
    ``_utf8mb4`` charset introducer, o_clerk-less slim schema. Values
    are byte-identical to the plain slice, so the decoded read must
    equal it exactly."""
    def build(tmp: str) -> None:
        rows = (_orders_slice(spark, sf_dir)
                .select("o_orderkey", "o_orderpriority", "o_orderstatus")
                .collect())  # fixture slice: ≤200 rows, driver-side render
        lines = ["CREATE TABLE `orders_hex` (",
                 "  `o_orderkey` bigint NOT NULL,",
                 "  `o_orderpriority` varchar(15) DEFAULT NULL,",
                 "  `o_orderstatus` varchar(1) DEFAULT NULL,",
                 "  PRIMARY KEY (`o_orderkey`)",
                 ") ENGINE=InnoDB;"]
        for r in sorted(rows, key=lambda r: r.o_orderkey):
            prio = ("NULL" if r.o_orderpriority is None
                    else "0x" + r.o_orderpriority.encode("utf-8").hex())
            stat = ("NULL" if r.o_orderstatus is None
                    else "_utf8mb4'" + r.o_orderstatus.replace("'", "''")
                    + "'")
            lines.append(f"INSERT INTO `orders_hex` VALUES "
                         f"({r.o_orderkey},{prio},{stat});")
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines) + "\n")

    return fixture_cache(sf_dir, "orders_hex.sql", build)


def scan_sql_dump_hexlit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mysqldump LITERAL BREADTH as a driver-verified key: every row's
    strings arrive as ``0x…`` hex literals and ``_utf8mb4'…'`` charset
    introducers; the tokenizer (sources/dump.py:_bare_literal /
    _unquote_prefixed) must decode them to the exact plain values —
    oracle = the plain orders slice, so the driver hash certifies the
    decode, not just that parsing didn't crash. (Unit goldens cover the
    loud-failure paths: non-UTF-8 hex, odd digits, malformed
    introducers — tests/test_dump.py.)"""
    return read_sql_dump(
        spark, _orders_hex_dump(spark, sf_dir))["orders_hex"]


def scan_sql_dump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measures INGEST: the fixture dump is rendered once per (sf, format
    version) and reused — its content is a pure function of the read-only
    fixture, so re-rendering on every call would only time the writer."""
    back = read_sql_dump(spark, _orders_dump(spark, sf_dir))["orders"]
    return back.withColumn(
        "o_orderdate", F.col("o_orderdate").cast("timestamp_ntz"))


def scan_sql_dump_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second ingest shape: COMPOSITE primary key (l_orderkey,
    l_linenumber — the case the reference's PK regex cannot match and
    silently mis-keys, sync.py:89-104 / SURVEY §1.3), DECIMAL columns
    with exact precision/scale through DDL parse + typed cast, and real
    NULLs in a value column. Same render-once/ingest-per-call shape as
    scan_sql_dump.

    The INGEST stays decimal end to end (DDL parse -> decimal(12,2)/(14,2)
    columns); only the RESULT boundary casts to double, because the driver
    hasher canonicalizes DECIMAL differently between its Spark and DuckDB
    fetch paths (r2's only hash-fail — values were verified identical,
    repr-equal Decimals included). A wrong decimal parse still changes the
    double, so precision-through-ingest remains tested."""
    ck = read_sql_dump(spark, _lineitem_ck_dump(spark, sf_dir))["lineitem_ck"]
    return ck.select(
        "l_orderkey", "l_linenumber",
        F.col("l_quantity").cast("double").alias("l_quantity"),
        F.col("l_extendedprice").cast("double").alias("l_extendedprice"),
        "l_returnflag",
    )


def sync_dump_to_dump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ENTIRE main() flow (sync.py:629-642) end to end:
    two mysqldump-style text files in → keyed CRUD change set out.

    Renders a production dump (orders slice) and a backup dump (the
    deterministic derive_backup of that slice), ingests BOTH through the
    full distributed dump pipeline (statement split → Arrow tokenizer →
    typed cast), then diffs the two ingested snapshots. The oracle
    recomputes the identical diff from the parquet fixture in pure SQL,
    so one driver hash verifies parse + typing + diff classification
    together — the closest thing to running the reference itself."""
    from database_syncer_spark.core.diff import snapshot_diff

    prod = read_sql_dump(spark, _orders_dump(spark, sf_dir))["orders"]
    backup = read_sql_dump(
        spark, _orders_backup_dump(spark, sf_dir))["orders"]
    changes = snapshot_diff(prod, backup, pk_cols=["o_orderkey"])
    return changes.withColumn(
        "o_orderdate", F.col("o_orderdate").cast("timestamp_ntz"))


def sync_sharded_dumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end sync where the PRODUCTION side is a SHARDED dump
    directory: ingest must resolve cross-shard last-wins first (part-001
    overrides %8==1 rows, +100 totalprice) and the diff then classifies
    against the single-file backup — the composed real-world shape (big
    prods export sharded; the backup is a point snapshot). One driver
    hash covers shard ordering + last-wins + parse + typing + diff."""
    from database_syncer_spark.core.diff import snapshot_diff

    prod = read_sql_dump(
        spark, _orders_sharded_dump_dir(spark, sf_dir))["orders"]
    backup = read_sql_dump(
        spark, _orders_backup_dump(spark, sf_dir))["orders"]
    changes = snapshot_diff(prod, backup, pk_cols=["o_orderkey"])
    return changes.withColumn(
        "o_orderdate", F.col("o_orderdate").cast("timestamp_ntz"))


def _sharded_diff_sql() -> str:
    """Oracle for sync_sharded_dumps: the effective production snapshot
    applies part-001's +100 override to %8==1 rows before the diff."""
    from database_syncer_spark.core.snapshots import derive_backup_sql

    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"]
    non_pk = [c for c in cols if c != "o_orderkey"]
    slice_sql = (f"(SELECT {', '.join(cols)} FROM orders "
                 f"WHERE o_orderkey < {_SLICE})")
    eff_cols = ", ".join(
        "CASE WHEN o_orderkey % 8 = 1 THEN o_totalprice + 100.0 "
        "ELSE o_totalprice END AS o_totalprice" if c == "o_totalprice"
        else c for c in cols)
    backup = derive_backup_sql(
        slice_sql + " AS s", "o_orderkey", "o_totalprice", cols)
    post_image = ",\n  ".join(
        f"CASE WHEN p.o_orderkey IS NULL THEN b.{c} ELSE p.{c} END AS {c}"
        for c in non_pk)
    unchanged = " AND ".join(
        f"p.{c} IS NOT DISTINCT FROM b.{c}" for c in non_pk)
    return f"""
WITH prod AS (SELECT {eff_cols} FROM {slice_sql} p0),
backup AS ({backup})
SELECT
  coalesce(p.o_orderkey, b.o_orderkey) AS o_orderkey,
  CASE WHEN b.o_orderkey IS NULL THEN 'INSERT'
       WHEN p.o_orderkey IS NULL THEN 'DELETE'
       ELSE 'UPDATE' END AS change_type,
  {post_image}
FROM prod p
FULL OUTER JOIN backup b ON p.o_orderkey = b.o_orderkey
WHERE b.o_orderkey IS NULL OR p.o_orderkey IS NULL OR NOT ({unchanged})
"""


def sync_catalog_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-LEVEL diff surface (reference missing/extra tables +
    CREATE/DROP emission, sync.py:245-253, :318-331) over a MULTI-table
    dump: the production dump carries two tables in one file (the
    mysqldump shape — DDL+DML per table, concatenated), the backup dump
    only one, so ingest must split tables correctly and the catalog diff
    must flag the missing one. Output: one row per production table with
    the action a sync script would take (CREATE for missing, SYNC for
    common) and the ingested row count — all driver-hashable."""
    from database_syncer_spark.core.diff import catalog_diff

    # The combined file is just the cached single-table renders
    # concatenated.
    parts = [_orders_dump(spark, sf_dir), _lineitem_ck_dump(spark, sf_dir)]
    multi_path = fixture_cache(sf_dir, "multi.sql",
                               lambda tmp: _concat(parts, tmp))

    prod_tables = read_sql_dump(spark, multi_path)
    backup_tables = read_sql_dump(spark, _orders_backup_dump(spark, sf_dir))
    cat = catalog_diff(prod_tables, backup_tables)
    action = {t: "CREATE" for t in cat["create"]}
    action.update({t: "SYNC" for t in cat["common"]})
    rows = [(t, action[t], prod_tables[t].count())
            for t in sorted(prod_tables)]
    return spark.createDataFrame(
        rows, "table_name string, action string, n_rows bigint")


def _dump_diff_sql() -> str:
    """DuckDB oracle for sync_dump_to_dump: rebuild backup + diff from
    the fixture slice (mirrors core/diff.snapshot_diff classification)."""
    from database_syncer_spark.core.snapshots import derive_backup_sql

    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"]
    non_pk = [c for c in cols if c != "o_orderkey"]
    slice_sql = (f"(SELECT {', '.join(cols)} FROM orders "
                 f"WHERE o_orderkey < {_SLICE})")
    backup = derive_backup_sql(
        slice_sql + " AS s", "o_orderkey", "o_totalprice", cols)
    post_image = ",\n  ".join(
        f"CASE WHEN p.o_orderkey IS NULL THEN b.{c} ELSE p.{c} END AS {c}"
        for c in non_pk)
    unchanged = " AND ".join(
        f"p.{c} IS NOT DISTINCT FROM b.{c}" for c in non_pk)
    return f"""
WITH prod AS (SELECT * FROM {slice_sql} p0),
backup AS ({backup})
SELECT
  coalesce(p.o_orderkey, b.o_orderkey) AS o_orderkey,
  CASE WHEN b.o_orderkey IS NULL THEN 'INSERT'
       WHEN p.o_orderkey IS NULL THEN 'DELETE'
       ELSE 'UPDATE' END AS change_type,
  {post_image}
FROM prod p
FULL OUTER JOIN backup b ON p.o_orderkey = b.o_orderkey
WHERE b.o_orderkey IS NULL OR p.o_orderkey IS NULL OR NOT ({unchanged})
"""


def _orders_sharded_dump_dir(spark: SparkSession, sf_dir: str) -> str:
    """A SHARDED dump directory — part-000.sql holds the full orders
    slice, part-001.sql holds overriding INSERTs (same PKs for
    o_orderkey % 8 == 1, o_totalprice + 100) the way a later shard of
    an append-style export supersedes an earlier one."""
    def build(tmp: str) -> None:
        orders = _orders_slice(spark, sf_dir)
        override = (orders.where(F.col("o_orderkey") % 8 == 1)
                    .withColumn("o_totalprice",
                                F.col("o_totalprice") + 100.0))
        os.makedirs(tmp)
        write_sql_dump(orders, "orders", ["o_orderkey"],
                       os.path.join(tmp, "part-000.sql"))
        write_sql_dump(override, "orders", ["o_orderkey"],
                       os.path.join(tmp, "part-001.sql"))

    return fixture_cache(sf_dir, "orders_sharded", build)


def scan_sql_dump_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third ingest shape: a MULTI-FILE (sharded) dump directory, the
    form big databases actually export as. Last-wins PK resolution must
    hold ACROSS shards — part-001's overriding rows (o_orderkey % 8 ==
    1, totalprice + 100) supersede part-000's — which exercises the
    composite (shard << 41 | block) ingest-order key; before r4 the
    cross-file order was undefined. DDL is read from shard 0; both
    shards flow through one statement scan."""
    back = read_sql_dump(
        spark, _orders_sharded_dump_dir(spark, sf_dir))["orders"]
    return back.withColumn(
        "o_orderdate", F.col("o_orderdate").cast("timestamp_ntz"))


def _orders_pg_dump(spark: SparkSession, sf_dir: str) -> str:
    """A TWO-table PostgreSQL plain-format dump (orders slice +
    region) in one file. Two COPY blocks force the
    reader's positional line→block assignment to actually discriminate
    (a single-block file would pass even if ranges were ignored), and
    the orders slice nulls o_orderpriority on '1-URGENT' rows so real
    ``\\N`` fields flow through the COPY unescape path."""
    from database_syncer_spark.sources.pg_dump import write_pg_dump

    def build(tmp: str) -> None:
        orders = _orders_slice(spark, sf_dir).withColumn(
            "o_orderpriority", F.expr("nullif(o_orderpriority, '1-URGENT')"))
        region = load_table(spark, sf_dir, "region")
        with tempfile.TemporaryDirectory(prefix="dss_pg_parts_") as d:
            parts = [os.path.join(d, "orders.sql"),
                     os.path.join(d, "region.sql")]
            write_pg_dump(orders, "orders", ["o_orderkey"], parts[0])
            write_pg_dump(region, "region", ["r_regionkey"], parts[1])
            _concat(parts, tmp)

    return fixture_cache(sf_dir, "orders_pg.sql", build)


def scan_pg_dump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fourth ingest shape: the OTHER public dump dialect — PostgreSQL
    plain format (``COPY ... FROM stdin`` tab-separated text protocol),
    via the positional block-assignment reader in sources/pg_dump.py
    (line-parallel scan, KB-scale marker collect, broadcast range join,
    built-in unescape/cast). The fixture dump carries two tables and
    real ``\\N`` NULLs; the oracle is the source slice, so one driver
    hash verifies block assignment + field split + NULL marking +
    unescape + DDL-typed cast end to end. The reference has no pg
    ingestion at all (sync.py parses only mysqldump INSERTs,
    sync.py:29-120) — this is engine breadth, same contract."""
    back = read_pg_dump(spark, _orders_pg_dump(spark, sf_dir))["orders"]
    return back


def _orders_pg_sharded_dir(spark: SparkSession, sf_dir: str) -> str:
    """A SHARDED pg dump directory — the orders slice split
    horizontally by key parity across two COPY files (the shape a
    parallel pg export produces; unlike the mysql sharded fixture there
    are no cross-shard overrides because COPY cannot express PK
    overwrites — shards partition, they don't supersede)."""
    from database_syncer_spark.sources.pg_dump import write_pg_dump

    def build(tmp: str) -> None:
        orders = _orders_slice(spark, sf_dir)
        os.makedirs(tmp)
        for shard in (0, 1):
            write_pg_dump(orders.where(F.col("o_orderkey") % 2 == shard),
                          "orders", ["o_orderkey"],
                          os.path.join(tmp, f"part-00{shard}.sql"))

    return fixture_cache(sf_dir, "orders_pg_sharded", build)


def scan_pg_dump_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded pg ingest: a DIRECTORY of COPY files, one block per
    shard. Exercises the reader's per-file marker/range machinery (line
    ids are only ordered WITHIN a file — block bounds are keyed by
    input_file_name, so a cross-file id comparison can never leak a
    line into another shard's block) and the multi-block union. Oracle
    = the unsharded source slice."""
    return read_pg_dump(spark, _orders_pg_sharded_dir(spark, sf_dir))["orders"]


def sync_pg_to_mysql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-DIALECT sync: the production snapshot arrives as a
    PostgreSQL plain dump (COPY protocol), the backup as a mysqldump
    file — the heterogeneous-fleet migration shape (syncing a pg
    primary against a mysql replica's export) the reference cannot
    touch (it parses one dialect, sync.py:29-120). Both ingests land in
    the SAME typed DataFrame contract, so the verified diff core runs
    unchanged — which is the point: dialect lives entirely at the
    source boundary. The pg side's planted NULL priorities ('1-URGENT'
    rows) surface as extra UPDATEs against the mysql backup, so the
    diff also proves NULL-vs-value classification across dialects.

    Rides the production ``sync_dumps`` entry point (dialects
    auto-sniffed). A pair with a pg side deliberately runs the PLAIN
    per-table diff: r10 built and A/B-rejected the fused variant for
    this shape — see the diff selection in ``sources.dump._sync_plans``
    and SCALE.md for the measurements."""
    from database_syncer_spark.sources.dump import sync_dumps

    changes, _, _, _ = sync_dumps(spark, _orders_pg_dump(spark, sf_dir),
                                  _orders_backup_dump(spark, sf_dir))
    # sync_dumps persists each changes table for its scripts consumer;
    # this key discards the scripts, so unpersist before returning —
    # otherwise every bench warmup/rep leaks one cached copy (r10
    # advice). The returned frame just recomputes on the driver's
    # single action.
    for ch in changes.values():
        ch.unpersist()
    return changes["orders"]


def _pg_mysql_diff_sql() -> str:
    """Oracle for sync_pg_to_mysql: prod is the PG-dump content (slice
    with '1-URGENT' priorities nulled), backup derives from the PLAIN
    slice — same diff template as _dump_diff_sql."""
    from database_syncer_spark.core.snapshots import derive_backup_sql

    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"]
    non_pk = [c for c in cols if c != "o_orderkey"]
    plain_slice = (f"(SELECT {', '.join(cols)} FROM orders "
                   f"WHERE o_orderkey < {_SLICE})")
    pg_cols = ", ".join(
        "nullif(o_orderpriority, '1-URGENT') AS o_orderpriority"
        if c == "o_orderpriority" else c for c in cols)
    backup = derive_backup_sql(
        plain_slice + " AS s", "o_orderkey", "o_totalprice", cols)
    post_image = ",\n  ".join(
        f"CASE WHEN p.o_orderkey IS NULL THEN b.{c} ELSE p.{c} END AS {c}"
        for c in non_pk)
    unchanged = " AND ".join(
        f"p.{c} IS NOT DISTINCT FROM b.{c}" for c in non_pk)
    return f"""
WITH prod AS (SELECT {pg_cols} FROM {plain_slice} p0),
backup AS ({backup})
SELECT
  coalesce(p.o_orderkey, b.o_orderkey) AS o_orderkey,
  CASE WHEN b.o_orderkey IS NULL THEN 'INSERT'
       WHEN p.o_orderkey IS NULL THEN 'DELETE'
       ELSE 'UPDATE' END AS change_type,
  {post_image}
FROM prod p
FULL OUTER JOIN backup b ON p.o_orderkey = b.o_orderkey
WHERE b.o_orderkey IS NULL OR p.o_orderkey IS NULL OR NOT ({unchanged})
"""


QUERIES = {
    "scan_sql_dump": scan_sql_dump,
    "scan_sql_dump_hexlit": scan_sql_dump_hexlit,
    "scan_pg_dump": scan_pg_dump,
    "scan_pg_dump_sharded": scan_pg_dump_sharded,
    "sync_pg_to_mysql": sync_pg_to_mysql,
    "scan_sql_dump_composite": scan_sql_dump_composite,
    "scan_sql_dump_sharded": scan_sql_dump_sharded,
    "sync_dump_to_dump": sync_dump_to_dump,
    "sync_sharded_dumps": sync_sharded_dumps,
    "sync_catalog_ddl": sync_catalog_ddl,
}

ORACLES = {
    "scan_sql_dump": f"""
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
       o_orderpriority
FROM orders WHERE o_orderkey < {_SLICE}
""",
    # the hex dump's values are byte-identical to the plain slice by
    # construction, so the plain slice IS the decode oracle
    "scan_sql_dump_hexlit": f"""
SELECT o_orderkey, o_orderpriority, o_orderstatus
FROM orders WHERE o_orderkey < {_SLICE}
""",
    "scan_pg_dump": f"""
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
       nullif(o_orderpriority, '1-URGENT') AS o_orderpriority
FROM orders WHERE o_orderkey < {_SLICE}
""",
    # the pg shards partition the slice (no overrides possible in COPY),
    # so the sharded oracle is the plain slice — unlike the mysql
    # sharded key, whose oracle must apply part-001's last-wins override
    "scan_pg_dump_sharded": f"""
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
       o_orderpriority
FROM orders WHERE o_orderkey < {_SLICE}
""",
    "sync_pg_to_mysql": _pg_mysql_diff_sql(),
    "scan_sql_dump_composite": f"""
SELECT l_orderkey, l_linenumber,
       CAST(CAST(l_quantity AS DECIMAL(12,2)) AS DOUBLE) AS l_quantity,
       CAST(CAST(l_extendedprice AS DECIMAL(14,2)) AS DOUBLE)
         AS l_extendedprice,
       nullif(l_returnflag, 'N') AS l_returnflag
FROM lineitem WHERE l_orderkey < {_SLICE}
QUALIFY count(*) OVER (PARTITION BY l_orderkey, l_linenumber) = 1
""",
    # last-wins across shards: %8==1 rows carry part-001's +100 price
    "scan_sql_dump_sharded": f"""
SELECT o_orderkey, o_custkey, o_orderstatus,
       CASE WHEN o_orderkey % 8 = 1 THEN o_totalprice + 100.0
            ELSE o_totalprice END AS o_totalprice,
       o_orderdate, o_orderpriority
FROM orders WHERE o_orderkey < {_SLICE}
""",
    "sync_dump_to_dump": _dump_diff_sql(),
    "sync_sharded_dumps": _sharded_diff_sql(),
    "sync_catalog_ddl": f"""
SELECT 'lineitem_ck' AS table_name, 'CREATE' AS action, count(*) AS n_rows
FROM (SELECT 1 FROM lineitem WHERE l_orderkey < {_SLICE}
      QUALIFY count(*) OVER (PARTITION BY l_orderkey, l_linenumber) = 1)
UNION ALL
SELECT 'orders', 'SYNC', count(*) FROM orders WHERE o_orderkey < {_SLICE}
""",
}
