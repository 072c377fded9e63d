"""Fixture catalog: load the driver-generated parquet tables.

The reference models a database snapshot as ``Dict[str, TableInfo]``
(reference sync.py:26-27). Here a snapshot/catalog is simply a dict of
DataFrames (lazy parquet scans — Catalyst prunes columns and pushes
predicates into the scan, so loading "everything" costs nothing until an
action touches it).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: Primary-key columns per fixture table (FIXTURES.md §A). The reference
#: infers PKs from DDL (sync.py:89-104); for parquet fixtures they are
#: engine metadata, exactly as SURVEY.md §2 A4 prescribes.
PRIMARY_KEYS: dict[str, list[str]] = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],  # composite (reference can't, we do)
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def sf_dir_tag(sf_dir: str) -> str:
    """Cache/table-name tag for a fixture dir: basename for readability
    plus a short hash of the FULL normalized path, so two different
    dirs sharing a basename (/a/sf0.1 vs /b/sf0.1) can never reuse each
    other's staged files, temp tables, or at-rest index tables."""
    import hashlib

    norm = os.path.normpath(os.path.abspath(sf_dir))
    h = hashlib.sha256(norm.encode()).hexdigest()[:8]
    return f"{os.path.basename(norm).replace('.', '_')}_{h}"


#: Version of every render-once fixture :func:`fixture_cache` keeps.
#: Bump it when any rendering, staging or upstream derivation changes
#: (e.g. ``derive_backup``'s key scheme), so no older copy is served.
FIXTURE_VERSION = "v5"


def fixture_cache(sf_dir: str, name: str,
                  build: Callable[[str], object]) -> str:
    """Path of the fixture ``name`` derived from ``sf_dir``, built once.

    The path lives in the temp dir and carries :data:`FIXTURE_VERSION`
    and :func:`sf_dir_tag`. If it exists it is returned as is.
    Otherwise ``build(tmp)`` writes the fixture (a file or a directory)
    at ``tmp``, a sibling of the path unique to this call, and
    ``os.rename`` publishes it. Only that rename creates the path, so a
    path that exists holds a whole fixture. A concurrent builder may
    win the race: a directory then stays the winner's and the local
    copy is dropped; a file is replaced atomically by an identical one
    (every build is a pure function of the read-only fixture). A
    ``build`` that raises leaves neither the path nor ``tmp``.
    """
    path = os.path.join(
        tempfile.gettempdir(),
        f"dss_{FIXTURE_VERSION}_{sf_dir_tag(sf_dir)}_{name}")
    if os.path.exists(path):
        return path
    tmp = f"{path}.{os.getpid()}.{uuid.uuid4().hex}.tmp"
    try:
        build(tmp)
    except BaseException:
        _remove(tmp)
        raise
    try:
        os.rename(tmp, path)
    except OSError:
        _remove(tmp)
        if not os.path.exists(path):
            raise
    return path


def _remove(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
    elif os.path.lexists(path):
        os.remove(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return _load_events(spark, sf_dir)
    return spark.read.parquet(table_path(sf_dir, name))


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.ts is TIMESTAMP(NANOS) parquet, which Spark's vectorized
    reader rejects. Read nanos as long (legacy conf) and truncate to
    microsecond timestamps — the same truncation DuckDB applies, so oracle
    comparisons agree."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(table_path(sf_dir, "events"))
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def load_tables(spark: SparkSession, sf_dir: str,
                names: tuple[str, ...] = TABLE_NAMES) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}
