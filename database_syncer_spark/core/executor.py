"""Transactional sync-script executor — the production-shaped sink.

The reference's output is a SQL script EXECUTED against a real database
(sync.py:587-589 writes it; the worked examples apply it with a MySQL
client). ``apply_changes`` (core/diff.py) emulates that MERGE as
DataFrame algebra; this module closes the loop on an actual database
engine: load the backup state into DuckDB, apply the generated
statements inside ONE transaction (all-or-nothing, like a client running
the script under autocommit-off), and hand the synced table back.

Scale note: a statement script is the right consumption shape when the
CHANGE volume is modest (the common CDC case — millions of changed rows
against billions stored); the statements DataFrame streams through
``write_script`` without ever being resident. When the change volume
rivals the table size, skip the script and MERGE the CDC DataFrame
directly (Delta/Iceberg ``MERGE INTO`` on clusters that have it — this
image has neither, which is why the executor target is DuckDB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def apply_script_duckdb(
    backup: DataFrame,
    table: str,
    statements: list[str],
    con=None,
    pk_cols: list[str] | None = None,
):
    """Apply ordered sync statements to ``backup`` inside one DuckDB
    transaction; returns the synced table as an Arrow table.

    Statements must be ANSI-quoted (``generate_sync_script(...,
    ident_quote='"')``). A failing statement rolls back the WHOLE apply —
    the transactional guarantee the anti-join emulation can't give.

    ``pk_cols``: builds an ART index on the key before applying, so each
    UPDATE/DELETE's ``WHERE pk = v`` can point-look-up instead of
    scanning — the structure any real OLTP target has on its PK.
    Measured honestly (28.5k statements on a 150k-row table): ~14s with
    or without the index — DuckDB's per-statement parse/bind/plan cost
    dominates, because statement scripts are a row-at-a-time consumption
    shape and DuckDB is an OLAP engine. That cost is inherent to the
    REFERENCE's artifact (a SQL text script, sync.py:304-437), not to
    the engine: when the target supports set-based apply, skip the
    script and MERGE the CDC DataFrame (apply_changes / foreachBatch).
    """
    import duckdb

    if con is None:  # a connection opened here is closed here, whatever fails
        con = duckdb.connect()
        try:
            return apply_script_duckdb(backup, table, statements, con, pk_cols)
        finally:
            con.close()
    arrow_backup = backup.toArrow()
    con.register("___dss_backup", arrow_backup)
    con.execute(f'CREATE OR REPLACE TABLE "{table}" AS SELECT * FROM ___dss_backup')
    con.unregister("___dss_backup")
    if pk_cols:
        cols = ", ".join(f'"{c}"' for c in pk_cols)
        con.execute(f'CREATE INDEX "___dss_pk_{table}" ON "{table}" ({cols})')
    con.execute("BEGIN TRANSACTION")
    try:
        # Statements are ';'-terminated, so they batch into multi-statement
        # strings — ~50x fewer engine round trips (measured 17s -> sub-s
        # on a 28k-statement apply at sf0.1); the enclosing transaction
        # keeps all-or-nothing semantics regardless of batching.
        chunk = 1000
        for i in range(0, len(statements), chunk):
            con.execute("\n".join(statements[i:i + chunk]))
        con.execute("COMMIT")
    except Exception:
        con.execute("ROLLBACK")
        raise
    return con.execute(f'SELECT * FROM "{table}"').arrow()


def merge_cdc_batch_duckdb(con, table: str, batch,
                           pk_cols: list[str]) -> None:
    """MERGE one CDC batch (Arrow table: pk + change_type + post-image
    columns, at most one row per PK — the snapshot_diff contract) into
    an existing DuckDB table, set-based, inside ONE transaction.

    This is the lakehouse-MERGE consumption shape
    (docs/lakehouse_sink_design.md) on the engine this image has: the
    per-row statement script (`apply_script_duckdb`) pays ~0.5 ms of
    parse/bind/plan PER STATEMENT, while this form is two set
    operations regardless of batch size — the same plan a Delta/Iceberg
    `MERGE INTO` would run, minus the format's file-level transaction
    log (this image ships neither runtime; DuckDB's ACID transaction
    stands in for the atomic commit).

    IDEMPOTENT by construction: the DELETE matches every batch PK
    (including INSERTs'), the INSERT re-adds every non-DELETE
    post-image — so re-running the same batch against the post-commit
    state deletes exactly the rows the first run wrote and writes them
    back, a no-op. That is the retry semantics the design note's
    acceptance criterion #2 asks of a format-native sink (re-running a
    failed-then-retried sync must converge, not duplicate). The PK
    match is null-safe (IS NOT DISTINCT FROM): snapshot_diff's pinned
    NULL-PK contract can emit NULL-PK INSERTs, and an equality join
    would never match those on replay — duplicating the row instead of
    converging.
    """
    pk_match = " AND ".join(
        f't."{c}" IS NOT DISTINCT FROM b."{c}"' for c in pk_cols)
    value_cols = [c for c in batch.column_names if c != "change_type"]
    col_list = ", ".join(f'"{c}"' for c in value_cols)
    con.register("___dss_batch", batch)
    con.execute("BEGIN TRANSACTION")
    try:
        con.execute(
            f'DELETE FROM "{table}" t USING ___dss_batch b WHERE {pk_match}')
        con.execute(
            f'INSERT INTO "{table}" ({col_list}) '
            f"SELECT {col_list} FROM ___dss_batch "
            f"WHERE change_type <> 'DELETE'")
        con.execute("COMMIT")
    except Exception:
        con.execute("ROLLBACK")
        raise
    finally:
        con.unregister("___dss_batch")


def merge_cdc_batches_duckdb(
    base: DataFrame,
    table: str,
    batches: list[DataFrame],
    pk_cols: list[str],
    replay: int | None = None,
):
    """Apply SUCCESSIVE CDC batches to ``base`` via
    ``merge_cdc_batch_duckdb`` — the multi-batch incremental sink a
    lakehouse target consumes (one atomic commit per batch, later
    batches see earlier batches' state). ``replay``: re-apply the
    batch at that index immediately after its first apply, modeling a
    retried commit; idempotence means the replay must be a no-op.
    Returns the final table as an Arrow table.

    Driver-residency policy: same as ``sync_via_executor`` — this
    driver-side apply is the modest-change-volume consumption; when
    batch volume rivals the table, the distributed MERGE emulation
    (``apply_changes`` / foreachBatch) is the right sink."""
    import duckdb

    con = duckdb.connect()
    try:
        con.register("___dss_base", base.toArrow())
        con.execute(
            f'CREATE TABLE "{table}" AS SELECT * FROM ___dss_base')
        con.unregister("___dss_base")
        for i, b in enumerate(batches):
            batch = b.toArrow()
            merge_cdc_batch_duckdb(con, table, batch, pk_cols)
            if replay == i:
                merge_cdc_batch_duckdb(con, table, batch, pk_cols)
        return con.execute(f'SELECT * FROM "{table}"').arrow()
    finally:
        con.close()


#: Driver-side apply is only sane for modest volumes: the script is
#: collect()ed and the whole backup table is toArrow()'d onto the driver.
#: Above these bounds the change volume rivals the table and the right
#: consumption is the distributed MERGE (apply_changes / foreachBatch) —
#: the policy the module docstring states, enforced here.
MAX_SCRIPT_STATEMENTS = 1_000_000
MAX_BACKUP_ROWS = 10_000_000


def sync_via_executor(
    spark: SparkSession,
    prod: DataFrame,
    backup: DataFrame,
    table: str,
    pk_cols: list[str],
    max_script_statements: int = MAX_SCRIPT_STATEMENTS,
    max_backup_rows: int = MAX_BACKUP_ROWS,
) -> DataFrame:
    """End-to-end: diff(prod, backup) -> ANSI sync script -> transactional
    DuckDB apply -> synced table as a Spark DataFrame (with the backup's
    schema, so ``sync == prod`` is checkable downstream).

    The metamorphic contract ``apply(script(diff(P, B)), B) == P`` runs
    through a REAL sql engine here, not the DataFrame emulation.

    SIZE GATE: when the change volume or the backup table exceed the
    driver-side bounds, the script path is skipped and the changes are
    applied with the distributed MERGE emulation (``apply_changes``) —
    same result, no driver residency. The counts reuse the diff/backup
    plans Spark was about to execute anyway."""
    from database_syncer_spark.core.diff import apply_changes, snapshot_diff
    from database_syncer_spark.core.script import generate_sync_script

    changes = snapshot_diff(prod, backup, pk_cols)
    if backup.count() > max_backup_rows:
        merged = apply_changes(backup.select(*backup.columns), changes, pk_cols)
        return merged.select(*backup.columns)
    # The statement-count gate comes from a limit(max+1) collect, NOT a
    # separate changes.count(): a count would execute the O(|P|+|B|)
    # full-outer diff twice on the common script path (count, then
    # script collect), and caching it across the two would pollute the
    # session-wide plan cache (identical diff plans elsewhere silently
    # become InMemoryTableScans). The limit caps driver residency to
    # max+1 statements; when the script is within bound the limited
    # collect IS the full script (per-PK statements are independent, so
    # apply order across keys is immaterial), so the diff runs exactly
    # once end-to-end.
    script = generate_sync_script(changes, table, pk_cols, ident_quote='"')
    stmts = [r.statement for r in
             script.select("statement")
             .limit(max_script_statements + 1).collect()]
    if len(stmts) > max_script_statements:
        merged = apply_changes(backup.select(*backup.columns), changes, pk_cols)
        return merged.select(*backup.columns)
    synced = apply_script_duckdb(backup, table, stmts, pk_cols=pk_cols)
    return spark.createDataFrame(synced.to_pandas(), schema=backup.schema)
