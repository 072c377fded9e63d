#!/usr/bin/env python
"""HDFS-backed vs RocksDB state-store provider A/B (VERDICT r6 item 4).

Since r7 `streaming/runner.run_stream_to_memory` pins RocksDB for every
stateful run: the default HDFSBackedStateStoreProvider keeps every
partition's full state map ON HEAP, which at 100-TB event volume is the
executor OOM, while RocksDB bounds state to off-heap block cache +
local disk. That default is only honest if RocksDB does NOT regress the
probe-scale wall — this script measures both providers on the SAME
staged 10 M-event stream through the same two Python-state shapes the
registry runs (applyInPandasWithState and, where protobuf is available,
transformWithStateInPandas), plus the built-in streaming dedup as the
JVM-state control.

Usage: python scripts/state_store_probe.py [--src /tmp/dss_sf1]
       (generate events first via scale_probe.py --tables events)
Prints one JSON line; SCALE.md carries the table.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/tmp/dss_sf1")
    ap.add_argument("--shapes", default="apws,tws,dedup")
    args = ap.parse_args()

    from database_syncer_spark.catalog import fixture_cache, load_table
    from database_syncer_spark.queries.streaming import _stateful_partitions
    from database_syncer_spark.session import get_spark
    from database_syncer_spark.streaming.queries import stream_distinct
    from database_syncer_spark.streaming.runner import (
        ROCKSDB_PROVIDER, run_stream_to_memory, stage_as_stream_source)
    from database_syncer_spark.streaming.stateful import (
        running_user_profile, tws_available, user_type_profile_tws)

    spark = get_spark("state_store_probe", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    events = load_table(spark, args.src, "events")
    n = events.count()
    # the row count in the name keeps a regenerated --src dir from
    # being served the staging of its previous contents
    src = fixture_cache(args.src, f"ssprobe_src_{n}",
                        lambda tmp: stage_as_stream_source(events, tmp, 3))
    staged = spark.read.parquet(src)
    parts = _stateful_partitions(spark, staged)

    shapes = {
        "apws": (running_user_profile, "update"),
        "tws": (user_type_profile_tws, "update"),
        "dedup": (stream_distinct, "append"),
    }
    if "tws" in shapes and not tws_available(spark):
        del shapes["tws"]

    providers = {"rocksdb": ROCKSDB_PROVIDER,
                 # None -> run on the session's default (HDFS-backed)
                 "hdfs_heap": None}
    results: dict[str, dict] = {}
    for shape_key in args.shapes.split(","):
        if shape_key not in shapes:
            continue
        shape, mode = shapes[shape_key]
        row = {}
        for pname, provider in providers.items():
            if shape_key == "tws" and provider is None:
                # transformWithState refuses to start on the HDFS-backed
                # provider — RocksDB is an API requirement, not a choice.
                row[pname] = {"unsupported": "tws requires RocksDB"}
                continue
            t0 = time.perf_counter()
            sink = run_stream_to_memory(
                spark, src, staged.schema, shape,
                f"ssprobe_{shape_key}_{pname}", output_mode=mode,
                shuffle_partitions=parts,
                state_store_provider=provider)
            n_out = sink.count()
            row[pname] = {"wall_sec": round(time.perf_counter() - t0, 1),
                          "rows": n_out}
            print(shape_key, pname, row[pname], file=sys.stderr)
        results[shape_key] = row

    print(json.dumps({
        "metric": "state_store_provider_ab",
        "src": args.src, "n_events": n, "state_partitions": parts,
        "results": results,
    }))


if __name__ == "__main__":
    main()
