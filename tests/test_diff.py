"""Metamorphic invariants for the diff engine (SURVEY.md §5.2)."""

from __future__ import annotations

from pyspark.sql import functions as F

from database_syncer_spark.catalog import load_table
from database_syncer_spark.core.diff import (
    DELETE, INSERT, UPDATE, apply_changes, catalog_diff, snapshot_diff,
)
from database_syncer_spark.core.script import assemble_script, generate_sync_script
from database_syncer_spark.core.snapshots import derive_backup


def _pair(spark, sf_dir):
    prod = load_table(spark, sf_dir, "orders")
    backup = derive_backup(prod, "o_orderkey", "o_totalprice")
    return prod, backup


def test_diff_self_is_empty(spark, sf_dir):
    """diff(X, X) = ∅ — the reference's 'No differences found!' invariant
    (sync.py:489-490)."""
    prod = load_table(spark, sf_dir, "orders")
    assert snapshot_diff(prod, prod, ["o_orderkey"]).count() == 0


def test_diff_classification_counts(spark, sf_dir):
    prod, backup = _pair(spark, sf_dir)
    changes = snapshot_diff(prod, backup, ["o_orderkey"])
    by_type = {r[0]: r[1] for r in changes.groupBy("change_type").count().collect()}

    n_insert = prod.where(F.col("o_orderkey") % 20 == 0).count()
    n_update = prod.where(
        (F.col("o_orderkey") % 10 == 3) & (F.col("o_orderkey") % 20 != 0)
    ).count()
    n_delete = prod.where(
        (F.col("o_orderkey") % 25 == 0) & (F.col("o_orderkey") > 0)).count()
    assert by_type.get(INSERT, 0) == n_insert
    assert by_type.get(UPDATE, 0) == n_update
    assert by_type.get(DELETE, 0) == n_delete


def test_roundtrip_apply(spark, sf_dir):
    """apply(diff(P,B), B) ≡ P."""
    prod, backup = _pair(spark, sf_dir)
    changes = snapshot_diff(prod, backup, ["o_orderkey"])
    restored = apply_changes(backup, changes, ["o_orderkey"])
    assert snapshot_diff(prod, restored, ["o_orderkey"]).count() == 0
    assert restored.count() == prod.count()


def test_symmetry(spark, sf_dir):
    """diff(P,B).inserts == diff(B,P).deletes (as PK sets)."""
    prod, backup = _pair(spark, sf_dir)
    fwd = snapshot_diff(prod, backup, ["o_orderkey"])
    rev = snapshot_diff(backup, prod, ["o_orderkey"])
    ins = {r[0] for r in fwd.where(F.col("change_type") == INSERT)
           .select("o_orderkey").collect()}
    dels = {r[0] for r in rev.where(F.col("change_type") == DELETE)
            .select("o_orderkey").collect()}
    assert ins == dels


def test_delete_rows_carry_preimage(spark, sf_dir):
    prod, backup = _pair(spark, sf_dir)
    changes = snapshot_diff(prod, backup, ["o_orderkey"])
    deleted = changes.where(F.col("change_type") == DELETE)
    assert deleted.where(F.col("o_totalprice").isNull()).count() == 0
    # deletes are exactly the synthetic (negated-key) extras
    assert deleted.where(F.col("o_orderkey") >= 0).count() == 0


def test_synthetic_backup_keys_never_collide(spark, sf_dir):
    """The derived backup's synthetic extras must be disjoint from real
    fixture keys AT ANY SCALE — the +offset scheme this replaced broke
    once real keys outgrew the offset (≥ ~30M-row runs)."""
    prod, backup = _pair(spark, sf_dir)
    extras = backup.join(prod.select("o_orderkey"), "o_orderkey", "left_anti")
    assert extras.count() > 0
    assert extras.where(F.col("o_orderkey") >= 0).count() == 0
    assert prod.where(F.col("o_orderkey") < 0).count() == 0


def test_sync_script_shape(spark, sf_dir):
    prod, backup = _pair(spark, sf_dir)
    changes = snapshot_diff(prod, backup, ["o_orderkey"])
    stmts = generate_sync_script(changes, "orders", ["o_orderkey"])
    script = assemble_script(stmts)
    lines = script.splitlines()[1:]
    # section order DELETE -> UPDATE -> INSERT (reference sync.py:318-395)
    kinds = []
    for ln in lines:
        kinds.append(ln.split(" ", 1)[0])
    order = {"DELETE": 0, "UPDATE": 1, "INSERT": 2}
    ranks = [order[k] for k in kinds]
    assert ranks == sorted(ranks)
    assert all(ln.endswith(";") for ln in lines)
    n = changes.count()
    assert len(lines) == n


def test_sync_script_executes_and_syncs(spark, duck, sf_dir):
    """END-TO-END: the generated SQL script, executed by a real SQL
    engine (DuckDB) against the backup table, must produce exactly the
    production table — the reference's whole purpose (README.md:2),
    checked by running the script rather than inspecting it."""
    from database_syncer_spark.core.snapshots import derive_backup_sql

    prod, backup = _pair(spark, sf_dir)
    changes = snapshot_diff(prod, backup, ["o_orderkey"])
    stmts = generate_sync_script(changes, "t_apply", ["o_orderkey"])

    cols = prod.columns
    duck.execute("DROP TABLE IF EXISTS t_apply")
    duck.execute(
        "CREATE TABLE t_apply AS "
        + derive_backup_sql("orders", "o_orderkey", "o_totalprice", cols))
    for r in stmts.orderBy("section", "statement").collect():
        duck.execute(r.statement.replace("`", '"'))

    col_list = ", ".join(cols)
    extra = duck.execute(
        f"SELECT count(*) FROM (SELECT {col_list} FROM t_apply "
        f"EXCEPT ALL SELECT {col_list} FROM orders)").fetchone()[0]
    missing = duck.execute(
        f"SELECT count(*) FROM (SELECT {col_list} FROM orders "
        f"EXCEPT ALL SELECT {col_list} FROM t_apply)").fetchone()[0]
    duck.execute("DROP TABLE t_apply")
    assert extra == 0 and missing == 0, (extra, missing)


def test_executor_roundtrip(spark, sf_dir):
    """The transactional executor (core/executor.py) applies the ANSI
    script on a real DuckDB table and must reproduce production:
    apply(script(diff(P, B)), B) == P through an actual sql engine."""
    from database_syncer_spark.core.executor import sync_via_executor

    prod, backup = _pair(spark, sf_dir)
    synced = sync_via_executor(spark, prod, backup, "orders", ["o_orderkey"])
    assert synced.exceptAll(prod).count() == 0
    assert prod.exceptAll(synced).count() == 0


def test_executor_size_gate_routes_to_distributed_merge(
        spark, sf_dir, monkeypatch):
    """Above the driver-residency bounds, sync_via_executor must SKIP the
    script/DuckDB path (the backup wouldn't fit on the driver at scale)
    and apply the changes with the distributed MERGE — same result."""
    from database_syncer_spark.core import executor

    def boom(*a, **k):  # the gate must prevent this from being reached
        raise AssertionError("driver-side script apply above the size gate")

    monkeypatch.setattr(executor, "apply_script_duckdb", boom)
    prod, backup = _pair(spark, sf_dir)
    synced = executor.sync_via_executor(
        spark, prod, backup, "orders", ["o_orderkey"],
        max_script_statements=10)
    assert synced.exceptAll(prod).count() == 0
    assert prod.exceptAll(synced).count() == 0


def test_executor_rolls_back_atomically(spark, sf_dir):
    """A failing statement mid-script must leave the table UNCHANGED —
    the all-or-nothing guarantee the DataFrame emulation cannot give."""
    import duckdb
    import pytest as _pytest

    from database_syncer_spark.core.executor import apply_script_duckdb

    _, backup = _pair(spark, sf_dir)
    n0 = backup.count()
    con = duckdb.connect()
    stmts = [
        'DELETE FROM "t_x" WHERE "o_orderkey" = 1;',
        'INSERT INTO "t_x" VALUES (broken',  # syntax error mid-script
    ]
    with _pytest.raises(Exception):
        apply_script_duckdb(backup, "t_x", stmts, con=con)
    n_after = con.execute('SELECT count(*) FROM "t_x"').fetchone()[0]
    assert n_after == n0  # the DELETE before the failure was rolled back
    con.close()


def test_merge_cdc_batch_idempotent_and_sequenced(spark, sf_dir):
    """The set-based incremental MERGE (core/executor.py): two
    consecutive batches land on v2 exactly, and replaying EITHER batch
    right after its commit is a no-op (retry semantics — the design
    note's acceptance criterion #2)."""
    from database_syncer_spark.core.executor import merge_cdc_batches_duckdb
    from database_syncer_spark.core.snapshots import (
        derive_backup, derive_next_version)
    from database_syncer_spark.queries.diff import ORDERS_COLS

    prod = load_table(spark, sf_dir, "orders").select(*ORDERS_COLS)
    v0 = derive_backup(prod, "o_orderkey", "o_totalprice")
    v2 = derive_next_version(prod, "o_orderkey", "o_custkey")
    b1 = snapshot_diff(prod, v0, pk_cols=["o_orderkey"])
    b2 = snapshot_diff(v2, prod, pk_cols=["o_orderkey"])

    plain = merge_cdc_batches_duckdb(v0, "t", [b1, b2], ["o_orderkey"])
    for replay in (0, 1):
        replayed = merge_cdc_batches_duckdb(
            v0, "t", [b1, b2], ["o_orderkey"], replay=replay)
        assert plain.equals(replayed), f"replay of batch {replay} not a no-op"
    got = spark.createDataFrame(plain.to_pandas(), schema=v0.schema)
    assert got.exceptAll(v2).count() == 0
    assert v2.exceptAll(got).count() == 0


def test_merge_cdc_batch_null_pk_replay_idempotent(spark, sf_dir):
    """snapshot_diff's pinned NULL-PK contract can emit a NULL-PK
    INSERT; the merge's PK match must be null-safe (IS NOT DISTINCT
    FROM) or replaying such a batch duplicates the row instead of
    being a no-op (r10 advice)."""
    from database_syncer_spark.core.executor import merge_cdc_batches_duckdb

    prod, backup = _pair(spark, sf_dir)
    null_row = (prod.limit(1)
                .withColumn("o_orderkey", F.lit(None).cast("long")))
    batch = snapshot_diff(prod.unionByName(null_row), prod,
                          pk_cols=["o_orderkey"])
    assert batch.where("o_orderkey IS NULL").count() == 1  # the contract
    once = merge_cdc_batches_duckdb(prod, "t", [batch], ["o_orderkey"])
    replayed = merge_cdc_batches_duckdb(prod, "t", [batch], ["o_orderkey"],
                                        replay=0)
    assert once.num_rows == prod.count() + 1
    assert replayed.num_rows == once.num_rows, "NULL-PK replay duplicated"


def test_merge_cdc_batch_rolls_back_atomically(spark, sf_dir):
    """A failing merge batch leaves the table UNCHANGED: the DELETE
    half must not survive an INSERT failure."""
    import duckdb
    import pytest as _pytest

    from database_syncer_spark.core.executor import merge_cdc_batch_duckdb

    prod, backup = _pair(spark, sf_dir)
    changes = snapshot_diff(prod, backup, ["o_orderkey"])
    con = duckdb.connect()
    con.register("___b", backup.toArrow())
    con.execute('CREATE TABLE "t" AS SELECT * FROM ___b')
    before = con.execute('SELECT * FROM "t" ORDER BY o_orderkey').fetchall()
    # a post-image that can't cast into the table schema fails the
    # INSERT after the DELETE already ran inside the transaction
    bad = changes.drop("o_custkey").withColumn(
        "o_custkey", F.lit("not-a-number"))
    with _pytest.raises(Exception):
        merge_cdc_batch_duckdb(con, "t", bad.toArrow(), ["o_orderkey"])
    after = con.execute('SELECT * FROM "t" ORDER BY o_orderkey').fetchall()
    assert after == before
    con.close()


def test_diff_against_empty_sides(spark, sf_dir):
    """diff(X, ∅) = all INSERT; diff(∅, X) = all DELETE; diff(∅, ∅) = ∅."""
    prod = load_table(spark, sf_dir, "orders")
    empty = prod.where(F.lit(False))
    n = prod.count()

    ins = snapshot_diff(prod, empty, ["o_orderkey"])
    assert ins.count() == n
    assert ins.where(F.col("change_type") != INSERT).count() == 0

    dels = snapshot_diff(empty, prod, ["o_orderkey"])
    assert dels.count() == n
    assert dels.where(F.col("change_type") != DELETE).count() == 0

    assert snapshot_diff(empty, empty, ["o_orderkey"]).count() == 0


def test_empty_changes_roundtrip(spark, sf_dir):
    """An empty change set produces an empty script, and applying it is
    the identity."""
    prod = load_table(spark, sf_dir, "orders")
    changes = snapshot_diff(prod, prod, ["o_orderkey"])
    assert generate_sync_script(changes, "orders", ["o_orderkey"]).count() == 0
    applied = apply_changes(prod, changes, ["o_orderkey"])
    assert applied.exceptAll(prod).count() == 0
    assert prod.exceptAll(applied).count() == 0


def test_catalog_diff():
    cat = catalog_diff({"a": 1, "b": 2}, {"b": 2, "c": 3})
    assert cat["create"] == ["a"] and cat["drop"] == ["c"] and cat["common"] == ["b"]


def test_last_wins_dedup(spark):
    from database_syncer_spark.core.diff import dedup_last_wins

    df = spark.createDataFrame(
        [(1, 10, "old"), (1, 20, "new"), (2, 5, "only")],
        "id int, seq int, val string",
    )
    out = {(r.id, r.val) for r in dedup_last_wins(df, ["id"], ["seq"]).collect()}
    assert out == {(1, "new"), (2, "only")}


def test_last_wins_dedup_matches_window_form(spark, sf_dir):
    """Engine dedup (max_by hash-agg) ≡ the B5 row_number window shape."""
    from database_syncer_spark.catalog import load_table
    from database_syncer_spark.core.diff import dedup_last_wins
    from database_syncer_spark.queries.diff import win_row_number_dedup
    from pyspark.sql import functions as F

    events = load_table(spark, sf_dir, "events")
    agg_form = dedup_last_wins(events, ["user_id"], ["ts", "event_id"]) \
        .select("user_id", "event_id", "ts", "event_type")
    win_form = win_row_number_dedup(spark, sf_dir)
    assert agg_form.exceptAll(win_form).count() == 0
    assert win_form.exceptAll(agg_form).count() == 0


def test_fused_diff_matches_unfused(spark):
    """snapshot_diff_fused ≡ dedup_last_wins-per-side + snapshot_diff,
    including duplicate-PK last-wins resolution and NULL value columns."""
    from database_syncer_spark.core.diff import (
        dedup_last_wins, snapshot_diff, snapshot_diff_fused)

    prod = spark.createDataFrame(
        [(1, 0, "a"), (2, 0, "stale"), (2, 1, "b"), (3, 0, None),
         (4, 0, "same"), (5, 0, "ins")],
        "id int, __seq int, val string",
    )
    backup = spark.createDataFrame(
        [(1, 0, "a-old"), (2, 0, "b"), (3, 0, None),
         (4, 0, "same"), (6, 0, "del")],
        "id int, __seq int, val string",
    )
    fused = snapshot_diff_fused(prod, backup, ["id"], order_cols=["__seq"])
    base = snapshot_diff(
        dedup_last_wins(prod, ["id"], ["__seq"]).drop("__seq"),
        dedup_last_wins(backup, ["id"], ["__seq"]).drop("__seq"),
        ["id"])
    assert fused.columns == base.columns
    assert sorted(map(tuple, fused.collect())) == \
        sorted(map(tuple, base.collect()))
    # NULL == NULL is unchanged (id=3), identical rows drop out (id=4)
    got = {(r.id, r.change_type) for r in fused.collect()}
    assert got == {(1, "UPDATE"), (5, "INSERT"), (6, "DELETE")}


def test_null_pk_semantics_identical_in_both_diff_forms(spark):
    """The pinned NULL-PK contract (core/diff.py): a NULL-PK row never
    matches the other side in EITHER diff form — it surfaces as INSERT
    (prod side) or DELETE (backup side), even when both sides carry a
    null-PK row with identical values. snapshot_diff_fused used to pool
    NULL keys via groupBy (SQL GROUP BY equality) while the join form's
    `=` keys never matched them; the fused form now salts null keys."""
    from database_syncer_spark.core.diff import snapshot_diff, snapshot_diff_fused

    prod = spark.createDataFrame(
        [(None, 0, "x"), (None, 0, "y"), (1, 0, "a")],
        "id int, __seq int, val string")
    backup = spark.createDataFrame(
        [(None, 0, "x"), (1, 0, "a-old")],
        "id int, __seq int, val string")

    join_form = snapshot_diff(
        prod.drop("__seq"), backup.drop("__seq"), ["id"])
    fused_form = snapshot_diff_fused(prod, backup, ["id"],
                                     order_cols=["__seq"])
    expect = sorted([
        (None, "INSERT", "x"), (None, "INSERT", "y"),
        (None, "DELETE", "x"), (1, "UPDATE", "a"),
    ], key=str)
    for form in (join_form, fused_form):
        got = sorted([(r.id, r.change_type, r.val) for r in form.collect()],
                     key=str)
        assert got == expect, got


def test_scd2_history_semantics(spark):
    """UPDATE -> closed pre-image + open post-image; INSERT -> open only;
    DELETE -> closed only; unchanged rows emit nothing."""
    from database_syncer_spark.core.diff import scd2_history

    prod = spark.createDataFrame(
        [(1, "new"), (2, "same"), (4, "ins")], "id int, val string")
    backup = spark.createDataFrame(
        [(1, "old"), (2, "same"), (3, "del")], "id int, val string")
    hist = scd2_history(prod, backup, ["id"], snapshot_ts="2026-01-01 00:00:00")
    rows = {(r.id, r.is_current): r for r in hist.collect()}
    assert set(rows) == {(1, False), (1, True), (4, True), (3, False)}
    # update: pre-image closed at the snapshot, post-image opened at it
    assert rows[(1, False)].val == "old"
    assert rows[(1, False)].valid_to is not None
    assert rows[(1, False)].valid_from is None
    assert rows[(1, True)].val == "new"
    assert rows[(1, True)].valid_from is not None
    assert rows[(1, True)].valid_to is None
    # insert opens, delete closes
    assert rows[(4, True)].change_type == "INSERT"
    assert rows[(3, False)].change_type == "DELETE"
    assert rows[(3, False)].val == "del"


def test_compact_cdc_log_nets_to_direct_diff(spark):
    """Metamorphic invariant: compacting the v0→v1 and v1→v2 batches must
    agree with the DIRECT diff(v2, v0) on which keys changed and how —
    modulo the two cases where compaction is deliberately richer:
    a D→I re-insert nets to UPDATE (direct diff calls it UPDATE too when
    values differ, but NOTHING when the re-inserted image equals v0's),
    and DELETE images come from the last batch (v1 state), not v0."""
    from pyspark.sql import functions as F

    from database_syncer_spark.core.diff import compact_cdc_log, snapshot_diff

    rows = [(i, i * 10.0, f"s{i % 7}") for i in range(1, 300)]
    v0 = spark.createDataFrame(rows, "pk long, val double, tag string")
    # v1: update pk%3==0, delete pk%11==0, insert fresh 1000+pk%13==0
    v1 = (v0.where(F.col("pk") % 11 != 0)
          .withColumn("val", F.when(F.col("pk") % 3 == 0,
                                    F.col("val") + 1).otherwise(F.col("val")))
          .unionByName(v0.where(F.col("pk") % 13 == 0)
                       .withColumn("pk", F.col("pk") + 1000)))
    # v2: update pk%5==0, delete pk%7==0 (hits v1 updates AND inserts),
    # re-insert one v1-deleted key verbatim (pk=11) and one mutated (22)
    v2 = (v1.where(F.col("pk") % 7 != 0)
          .withColumn("val", F.when(F.col("pk") % 5 == 0,
                                    F.col("val") + 100).otherwise(F.col("val")))
          .unionByName(v0.where(F.col("pk") == 11))
          .unionByName(v0.where(F.col("pk") == 22)
                       .withColumn("val", F.col("val") + 7)))
    b1 = snapshot_diff(v1, v0, ["pk"]).withColumn("seq", F.lit(1))
    b2 = snapshot_diff(v2, v1, ["pk"]).withColumn("seq", F.lit(2))
    compact = {r.pk: r for r in
               compact_cdc_log(b1.unionByName(b2), ["pk"]).collect()}
    direct = {r.pk: r for r in snapshot_diff(v2, v0, ["pk"]).collect()}

    re_inserted_unchanged = {11}    # D→I with v0's exact image
    assert set(compact) - set(direct) == re_inserted_unchanged
    assert compact[11].change_type == "UPDATE"
    for pk, d in direct.items():
        c = compact.get(pk)
        assert c is not None, f"direct diff has {pk}, compaction dropped it"
        if d.change_type == "DELETE":
            assert c.change_type == "DELETE"   # images may differ (v1 vs v0)
        else:
            assert (c.change_type, c.val, c.tag) == \
                   (d.change_type, d.val, d.tag), pk
    # applying the compacted log to v0 must reproduce v2 exactly
    from database_syncer_spark.core.diff import apply_changes
    final = apply_changes(v0, compact_cdc_log(
        b1.unionByName(b2), ["pk"]), ["pk"])
    assert snapshot_diff(v2, final, ["pk"]).count() == 0


def test_compact_cdc_log_null_pk_passthrough(spark):
    """NULL PKs identify nothing, so NULL-PK changes must bypass
    compaction verbatim: grouping them (GROUP BY treats NULLs as equal)
    netted an unrelated INSERT/DELETE pair to nothing (r4 review)."""
    from pyspark.sql import functions as F

    from database_syncer_spark.core.diff import compact_cdc_log, snapshot_diff

    prod = spark.createDataFrame([(None, "new"), (1, "x")],
                                 "pk long, val string")
    back = spark.createDataFrame([(None, "old"), (1, "x")],
                                 "pk long, val string")
    b1 = snapshot_diff(prod, back, ["pk"]).withColumn("seq", F.lit(1))
    got = sorted([(r.pk, r.change_type, r.val)
                  for r in compact_cdc_log(b1, ["pk"]).collect()], key=str)
    assert got == [(None, "DELETE", "old"), (None, "INSERT", "new")]


def test_write_script_preserves_global_statement_order(spark, sf_dir, tmp_path):
    """The distributed script sink (executor-written text parts streamed
    together in filename order) must reproduce assemble_script's exact
    line order: orderBy range-partitions, so part files ARE global
    order. Forces multiple output partitions so the claim is actually
    exercised."""
    from database_syncer_spark.core.script import (
        assemble_script, write_script)

    prod, backup = _pair(spark, sf_dir)
    changes = snapshot_diff(prod, backup, ["o_orderkey"])
    stmts = generate_sync_script(changes, "orders", ["o_orderkey"])
    # At fixture scale AQE coalesces the ordered shuffle into one
    # partition, which would test nothing; disable coalescing so the
    # range partitioning actually yields several text parts.
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        assert stmts.rdd.getNumPartitions() > 1, \
            "fixture too small to exercise multi-part ordering"
        want = assemble_script(stmts, ddl=["-- ddl line"]) + "\n"
        path = str(tmp_path / "script.sql")
        write_script(stmts, path, ddl=["-- ddl line"])
    finally:
        spark.conf.set(key, prev)
    with open(path, encoding="utf-8") as fh:
        assert fh.read() == want


def test_materialize_script_size_gate(spark, sf_dir, tmp_path):
    """materialize_script routes small scripts through the driver
    collect and large ones through the distributed writer — and both
    paths produce byte-identical files."""
    from database_syncer_spark.core.script import (
        assemble_script, materialize_script)

    prod, backup = _pair(spark, sf_dir)
    changes = snapshot_diff(prod, backup, ["o_orderkey"])
    stmts = generate_sync_script(changes, "orders", ["o_orderkey"])
    want = assemble_script(stmts) + "\n"

    small = str(tmp_path / "small.sql")
    assert materialize_script(stmts, small) == "collected"
    big = str(tmp_path / "big.sql")
    assert materialize_script(stmts, big, collect_threshold=10) == "distributed"
    with open(small, encoding="utf-8") as fh_s, \
            open(big, encoding="utf-8") as fh_b:
        assert fh_s.read() == want
        assert fh_b.read() == want


# --- rendering of names and values that need quoting ------------------------

_QUOTING_SCHEMA = ("`id` int, `my col` string, `weird` string, `d` date, "
                   "`ts` timestamp, `amt` decimal(10,2), `flag` boolean, "
                   "`x` double, `__seq_hi` long, `__seq_lo` long")


def _quoting_pair(spark, names: dict[str, str]):
    """A prod/backup pair whose values need escaping (``'``, ``\\``,
    ``''``, NULL, dates, decimals, booleans), with columns renamed by
    ``names``."""
    import datetime as dt
    from decimal import Decimal as D

    def rows(last):
        return [
            (1, "o'brien", "back\\slash", dt.date(2024, 1, 2),
             dt.datetime(2024, 1, 2, 3, 4, 5, 678900), D("12.50"), True,
             1.5, 0, 1),
            (2, "two''quotes" if last else "two'quotes", None, None, None,
             None, None, None, 0, 2),
            (3, None, "a\\'b", dt.date(1999, 12, 31),
             dt.datetime(1999, 12, 31, 23, 59, 59), D("-0.01"), not last,
             -2.0, 0, 3),
            (5, "new", "tab\there", dt.date(2000, 2, 29),
             dt.datetime(2000, 2, 29), D("99999999.99"), True, 0.0, 0, 5)
            if last else
            (4, "gone 'x'", "\\\\", dt.date(2001, 1, 1),
             dt.datetime(2001, 1, 1, 1, 1, 1), D("0.00"), False, None, 0, 4),
        ]

    def frame(last):
        df = spark.createDataFrame(rows(last), _QUOTING_SCHEMA)
        return df.toDF(*[names.get(c, c) for c in df.columns])

    return frame(True), frame(False)


_QUOTING_DIFF = [
    ("2", "UPDATE", "two''quotes", "None", "None", "None", "None", "None",
     "None"),
    ("3", "UPDATE", "None", "a\\'b", "1999-12-31", "1999-12-31 23:59:59",
     "-0.01", "False", "-2.0"),
    ("4", "DELETE", "gone 'x'", "\\\\", "2001-01-01", "2001-01-01 01:01:01",
     "0.00", "False", "None"),
    ("5", "INSERT", "new", "tab\there", "2000-02-29", "2000-02-29 00:00:00",
     "99999999.99", "True", "0.0"),
]

_QUOTING_SCRIPT = [
    (2, "DELETE FROM `my `tbl` WHERE `id` = 4;"),
    (3, "UPDATE `my `tbl` SET `my col` = 'two''''quotes', `weird` = NULL, "
        "`d` = NULL, `ts` = NULL, `amt` = NULL, `flag` = NULL, `x` = NULL "
        "WHERE `id` = 2;"),
    (3, "UPDATE `my `tbl` SET `my col` = NULL, `weird` = 'a\\''b', "
        "`d` = '1999-12-31 00:00:00.000000', "
        "`ts` = '1999-12-31 23:59:59.000000', `amt` = -0.01, "
        "`flag` = FALSE, `x` = -2.0 WHERE `id` = 3;"),
    (4, "INSERT INTO `my `tbl` VALUES (5, 'new', 'tab\there', "
        "'2000-02-29 00:00:00.000000', '2000-02-29 00:00:00.000000', "
        "99999999.99, TRUE, 0.0);"),
]

_QUOTING_DUMP = (
    "DROP TABLE IF EXISTS `my `tbl`;\n"
    "CREATE TABLE `my `tbl` (\n"
    "  `id` int(11) NOT NULL,\n"
    "  `my col` varchar(255) DEFAULT NULL,\n"
    "  `weird` varchar(255) DEFAULT NULL,\n"
    "  `d` date DEFAULT NULL,\n"
    "  `ts` datetime(6) DEFAULT NULL,\n"
    "  `amt` decimal(10,2) DEFAULT NULL,\n"
    "  `flag` tinyint(1) DEFAULT NULL,\n"
    "  `x` double DEFAULT NULL,\n"
    "  PRIMARY KEY (`id`)\n"
    ") ENGINE=InnoDB DEFAULT CHARSET=utf8mb4;\n"
    "\n"
    "INSERT INTO `my `tbl` (`id`, `my col`, `weird`, `d`, `ts`, `amt`, "
    "`flag`, `x`) VALUES\n"
    "(1, 'o''brien', 'back\\slash', '2024-01-02 00:00:00.000000', "
    "'2024-01-02 03:04:05.678900', 12.50, TRUE, 1.5),\n"
    "(2, 'two''''quotes', NULL, NULL, NULL, NULL, NULL, NULL),\n"
    "(3, NULL, 'a\\''b', '1999-12-31 00:00:00.000000', "
    "'1999-12-31 23:59:59.000000', -0.01, FALSE, -2.0);\n"
    "INSERT INTO `my `tbl` (`id`, `my col`, `weird`, `d`, `ts`, `amt`, "
    "`flag`, `x`) VALUES\n"
    "(5, 'new', 'tab\there', '2000-02-29 00:00:00.000000', "
    "'2000-02-29 00:00:00.000000', 99999999.99, TRUE, 0.0);\n"
)


def _render_all(spark, tmp_path, names: dict[str, str]):
    from database_syncer_spark.core.diff import snapshot_diff_fused
    from database_syncer_spark.sources.dump import write_sql_dump

    prod, backup = _quoting_pair(spark, names)
    pk = [names.get("id", "id")]
    changes = snapshot_diff_fused(prod, backup, pk)
    diff = sorted(tuple(str(v) for v in r) for r in changes.collect())
    script = [tuple(r) for r in
              generate_sync_script(changes, "my `tbl", pk).collect()]
    ansi = [r.statement for r in
            generate_sync_script(changes, "t", pk, ident_quote='"').collect()]
    path = str(tmp_path / "dump.sql")
    write_sql_dump(prod.drop("__seq_hi", "__seq_lo").coalesce(1), "my `tbl",
                   pk, path, rows_per_insert=3)
    with open(path, encoding="utf-8") as fh:
        return changes.columns, diff, script, ansi, fh.read()


def test_rendering_of_values_that_need_quoting(spark, tmp_path):
    """The diff, the sync script (both identifier quotes) and the dump
    writer render quotes, backslashes, NULLs, dates, decimals and
    booleans exactly as pinned. A NULL boolean renders as NULL (it once
    rendered as FALSE)."""
    columns, diff, script, ansi, dump = _render_all(spark, tmp_path, {})
    assert columns == ["id", "change_type", "my col", "weird", "d", "ts",
                       "amt", "flag", "x"]
    assert diff == _QUOTING_DIFF
    assert script == _QUOTING_SCRIPT
    assert ansi == [s.replace("`my `tbl`", '"t"').replace("`", '"')
                    for _, s in _QUOTING_SCRIPT]
    assert dump == _QUOTING_DUMP


def test_rendering_of_names_that_need_quoting(spark, tmp_path):
    """Column names with a backtick or a space — the PK included — work in
    the diff, the script and the dump writer, and render like any other
    name."""
    names = {"id": "the `id", "weird": "we`ird"}
    columns, diff, script, ansi, dump = _render_all(spark, tmp_path, names)

    def renamed(s: str, q: str = "`") -> str:
        for old, new in names.items():
            s = s.replace(f"{q}{old}{q}", f"{q}{new}{q}")
        return s

    assert columns == ["the `id", "change_type", "my col", "we`ird", "d",
                       "ts", "amt", "flag", "x"]
    assert diff == _QUOTING_DIFF
    assert script == [(n, renamed(s)) for n, s in _QUOTING_SCRIPT]
    assert ansi == [
        renamed(s.replace("`my `tbl`", '"t"').replace("`", '"'), '"')
        for _, s in _QUOTING_SCRIPT]
    assert dump == renamed(_QUOTING_DUMP)
