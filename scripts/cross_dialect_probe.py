#!/usr/bin/env python
"""Cross-dialect sync probe (VERDICT r9 next-round item 3): time the
heterogeneous pg-prod vs mysql-backup sync end to end at 3 M rows/side
— the fixture regime where r9 recorded 46.7 s against the all-mysql
fused sync's 13.1 s (SCALE.md). r10 used this probe to A/B the fused
cross-dialect variant against the plain-diff form and REJECTED the
fuse (unfused won 4/5 interleaved pairs; see the diff selection in
sources/dump.py's _sync_plans and SCALE.md for the table).

Fixture (identical to the r9 measure): orders replicated x20 with key
shifts (3 M rows), prod rendered as a PostgreSQL plain dump, the
derive_backup evolution (300 k U / 150 k I / 120 k D planted) rendered
as a mysqldump file. The probe runs `sync_dumps` (dialect sniff ->
plain diff) and reports wall + per-change-type counts, which
must equal the planted set exactly — a speedup that loses changes is
not a speedup.

Run once per variant in a FRESH JVM (the BASELINE.md A/B discipline:
alternate variants across worktrees on the same host, same fixture
files): `python scripts/cross_dialect_probe.py [--work /tmp/dss_xd]`.
Dumps are cached in --work; delete to regenerate.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"
SCALE = 20  # 150k x 20 = 3M rows/side


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--work", default="/tmp/dss_xd_probe")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from database_syncer_spark.catalog import load_table
    from database_syncer_spark.core.snapshots import derive_backup
    from database_syncer_spark.session import get_spark
    from database_syncer_spark.sources.dump import sync_dumps, write_sql_dump
    from database_syncer_spark.sources.pg_dump import write_pg_dump

    spark = get_spark("xd_probe")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(args.work, exist_ok=True)
    pg_path = os.path.join(args.work, f"orders_x{SCALE}_pg.sql")
    my_path = os.path.join(args.work, f"orders_x{SCALE}_backup_my.sql")

    if not (os.path.exists(pg_path) and os.path.exists(my_path)):
        orders = (load_table(spark, SRC, "orders")
                  .select("*", F.explode(F.sequence(
                      F.lit(0), F.lit(SCALE - 1))).alias("rep"))
                  .withColumn("o_orderkey", F.col("o_orderkey")
                              + F.col("rep").cast("long") * 1_000_000_000)
                  .drop("rep"))
        write_pg_dump(orders, "orders", ["o_orderkey"], pg_path)
        backup = derive_backup(orders, "o_orderkey", "o_totalprice")
        write_sql_dump(backup, "orders", ["o_orderkey"], my_path)

    t0 = time.perf_counter()
    changes, _, _, _ = sync_dumps(spark, pg_path, my_path)
    counts = {r.change_type: r.n for r in
              changes["orders"].groupBy("change_type")
              .agg(F.count("*").alias("n")).collect()}
    wall = round(time.perf_counter() - t0, 1)
    changes["orders"].unpersist()
    print(json.dumps({
        "metric": "cross_dialect_sync_3m", "wall_sec": wall,
        "pg_bytes": os.path.getsize(pg_path),
        "my_bytes": os.path.getsize(my_path),
        "counts": counts,
        # exact planted counts on the x20 sf0.1 keyset (the mod-25
        # class is one row short of uniform: 119,999 — verified by
        # DuckDB on the raw parquet)
        "expected": {"UPDATE": 300_000, "INSERT": 150_000,
                     "DELETE": 119_999},
    }))


if __name__ == "__main__":
    main()
