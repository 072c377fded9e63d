"""database_syncer_spark — a PySpark-native analytics & snapshot-sync engine.

Built from scratch with the query and data-processing capabilities of the
reference tool higokul99/database-syncer (a SQL-dump diff/sync generator,
/root/reference/sync.py), re-expressed Spark-first:

- typed DataFrames instead of regex-parsed string dicts,
- a single full-outer-join change classifier instead of Python hash probes
  (reference: sync.py:256-300),
- ordered sync-script and CDC sinks (reference: sync.py:304-437),
- Structured-Streaming incremental sync,
- an extended relational operator surface plus LLM-data-pipeline operators
  (dedup, similarity search, multimodal columns, text analysis),

all designed for multi-executor scale (broadcast hints for dims, AQE,
partition-count discipline) even though tests run on local mode.
"""

from database_syncer_spark.session import get_spark
from database_syncer_spark.catalog import load_tables, TABLE_NAMES


def __getattr__(name: str):
    """Lazy re-exports of the engine's public surface (keeps ``import
    database_syncer_spark`` light — no Spark jobs at import time)."""
    lazy = {
        "snapshot_diff": "database_syncer_spark.core.diff",
        "apply_changes": "database_syncer_spark.core.diff",
        "dedup_last_wins": "database_syncer_spark.core.diff",
        "diff_stats": "database_syncer_spark.core.diff",
        "catalog_diff": "database_syncer_spark.core.diff",
        "write_bucketed_snapshot": "database_syncer_spark.core.bucketing",
        "generate_sync_script": "database_syncer_spark.core.script",
        "write_script": "database_syncer_spark.core.script",
        "read_sql_dump": "database_syncer_spark.sources.dump",
        "write_sql_dump": "database_syncer_spark.sources.dump",
        "sync_dumps": "database_syncer_spark.sources.dump",
        "compare_sql_files": "database_syncer_spark.sources.dump",
    }
    if name in lazy:
        import importlib

        return getattr(importlib.import_module(lazy[name]), name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


__all__ = [
    "get_spark", "load_tables", "TABLE_NAMES",
    "snapshot_diff", "apply_changes", "dedup_last_wins", "diff_stats",
    "catalog_diff", "write_bucketed_snapshot", "generate_sync_script", "write_script",
    "read_sql_dump", "write_sql_dump", "sync_dumps", "compare_sql_files",
]
__version__ = "0.1.0"
