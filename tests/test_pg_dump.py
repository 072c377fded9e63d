"""Golden tests for the PostgreSQL plain-dump source (sources/pg_dump.py).

The reference has no pg ingestion (sync.py parses only mysqldump
INSERTs); these pin the COPY text-protocol semantics the new reader
implements: positional line→block assignment, tab splitting, ``\\N``
NULL marking before unescape, the backslash escape chain, DDL-typed
casts, and multi-file (sharded) dumps.
"""

from __future__ import annotations

import datetime
import os
import re
import textwrap
from decimal import Decimal

import pytest

from database_syncer_spark.sources.pg_dump import (
    parse_pg_create_table,
    read_pg_dump,
    write_pg_dump,
)


def _write(tmp_path, name, text):
    p = tmp_path / name
    p.write_text(text)
    return str(p)


# --- DDL parse ---------------------------------------------------------------

def test_parse_pg_create_table_types_and_constraints():
    tbl, cols = parse_pg_create_table(textwrap.dedent("""\
        CREATE TABLE public.users (
            id bigint NOT NULL,
            name text,
            bal numeric(12,2) DEFAULT 0,
            joined timestamp without time zone,
            active boolean,
            PRIMARY KEY (id),
            CONSTRAINT users_chk CHECK (bal >= 0)
        )"""))
    assert tbl == "users"
    assert cols == [
        ("id", "bigint"), ("name", "text"), ("bal", "numeric(12,2)"),
        ("joined", "timestamp without time zone"), ("active", "boolean")]


def test_parse_pg_create_table_quoted_and_unschemad():
    tbl, cols = parse_pg_create_table(
        'CREATE TABLE "orders" ("id" integer, "note" character varying(40))')
    assert tbl == "orders"
    assert cols == [("id", "integer"), ("note", "character varying(40)")]


# --- writer/reader round trip -------------------------------------------------

def test_pg_roundtrip_escapes_and_nulls(spark, tmp_path):
    """Tab / newline / CR / backslash / literal two-char '\\N' string /
    empty string / NULL all survive write->read byte-exact. A literal
    '\\N' VALUE is escaped on disk as '\\\\N' and must stay data — only
    the unescaped single-backslash marker means NULL."""
    rows = [
        (1, "plain"),
        (2, "tab\there"),
        (3, "line\nbreak"),
        (4, "cr\rhere"),
        (5, "back\\slash"),
        (6, "\\N"),          # literal backslash-N string, NOT null
        (7, ""),
        (8, None),
        (9, "trailing\\"),
    ]
    df = spark.createDataFrame(rows, "id bigint, v string")
    path = str(tmp_path / "esc.sql")
    write_pg_dump(df, "t", ["id"], path)
    back = read_pg_dump(spark, path)["t"]
    assert {(r.id, r.v) for r in back.collect()} == set(rows)


def test_pg_roundtrip_typed_columns(spark, tmp_path):
    rows = [
        (1, Decimal("12.34"), 0.5, True,
         datetime.datetime(2024, 2, 29, 12, 30, 45, 123456),
         datetime.date(2024, 2, 29)),
        (2, None, None, False, None, None),
    ]
    df = spark.createDataFrame(
        rows, "id bigint, bal decimal(12,2), x double, ok boolean, "
              "ts timestamp_ntz, d date")
    path = str(tmp_path / "typed.sql")
    write_pg_dump(df, "t", ["id"], path)
    back = read_pg_dump(spark, path)["t"]
    assert dict(back.dtypes) == {
        "id": "bigint", "bal": "decimal(12,2)", "x": "double",
        "ok": "boolean", "ts": "timestamp_ntz", "d": "date"}
    assert {tuple(r) for r in back.collect()} == set(rows)


def test_pg_roundtrip_null_boolean(spark, tmp_path):
    """A NULL boolean comes back NULL, not False: the writer renders it
    ``\\N`` like any other NULL."""
    rows = [(1, True), (2, False), (3, None)]
    df = spark.createDataFrame(rows, "id bigint, ok boolean")
    path = str(tmp_path / "bool.sql")
    write_pg_dump(df, "t", ["id"], path)
    back = read_pg_dump(spark, path)["t"]
    assert {(r.id, r.ok) for r in back.collect()} == set(rows)


def test_write_pg_dump_golden_bytes(spark, tmp_path):
    """The pg writer's exact bytes over three input partitions: header
    and CREATE TABLE, the COPY block's rows in partition order (tab,
    newline and backslash escaped, NULL as ``\\N``), then the ``\\.``
    terminator and the post-data composite PRIMARY KEY. Row (2, 'a')
    holds a NULL boolean, rendered ``\\N`` like every NULL."""
    rows = [
        (1, "a", "plain", Decimal("10.50"), True,
         datetime.datetime(2024, 2, 29, 12, 30, 45, 123456)),
        (1, "b", "tab\there", Decimal("-0.01"), False,
         datetime.datetime(1999, 12, 31, 23, 59, 59)),
        (2, "a", "line\nbreak", None, None, None),
        (2, "b", "back\\slash", Decimal("0.00"), True,
         datetime.datetime(2000, 1, 1)),
        (3, "a", None, Decimal("12345678.99"), False,
         datetime.datetime(2024, 1, 2, 3, 4, 5, 6)),
    ]
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 3),
        "a int, b string, note string, amt decimal(10,2), ok boolean, "
        "ts timestamp_ntz")
    assert df.rdd.getNumPartitions() == 3
    path = str(tmp_path / "golden.sql")
    write_pg_dump(df, "t", ["a", "b"], path)
    with open(path, encoding="utf-8") as fh:
        assert fh.read() == (
            "--\n"
            "-- PostgreSQL database dump\n"
            "--\n"
            "\n"
            "SET client_encoding = 'UTF8';\n"
            "\n"
            "CREATE TABLE public.t (\n"
            "    a integer NOT NULL,\n"
            "    b text NOT NULL,\n"
            "    note text,\n"
            "    amt numeric(10,2),\n"
            "    ok boolean,\n"
            "    ts timestamp without time zone\n"
            ");\n"
            "\n"
            "COPY public.t (a, b, note, amt, ok, ts) FROM stdin;\n"
            "1\ta\tplain\t10.50\tt\t2024-02-29 12:30:45.123456\n"
            "1\tb\ttab\\there\t-0.01\tf\t1999-12-31 23:59:59.000000\n"
            "2\ta\tline\\nbreak\t\\N\t\\N\t\\N\n"
            "2\tb\tback\\\\slash\t0.00\tt\t2000-01-01 00:00:00.000000\n"
            "3\ta\t\\N\t12345678.99\tf\t2024-01-02 03:04:05.000006\n"
            "\\.\n"
            "\n"
            "ALTER TABLE ONLY public.t\n"
            "    ADD CONSTRAINT t_pkey PRIMARY KEY (a, b);\n")
    assert sorted(os.listdir(tmp_path)) == ["golden.sql"]


# --- block assignment ----------------------------------------------------------

def test_pg_multi_block_assignment_and_header_lookalike(spark, tmp_path):
    """Two COPY blocks in one file: every line lands in ITS table, and a
    data line that looks exactly like a COPY header stays data (inside a
    block only '\\.' is a marker — pg's own COPY-mode rule)."""
    path = _write(tmp_path, "multi.sql", textwrap.dedent("""\
        CREATE TABLE public.a (
            id bigint NOT NULL,
            v text
        );
        CREATE TABLE public.b (
            id bigint NOT NULL,
            w text
        );
        COPY public.a (id, v) FROM stdin;
        1\tx
        2\tCOPY public.fake (id) FROM stdin;
        \\.
        COPY public.b (id, w) FROM stdin;
        10\ty
        \\.
        """))
    out = read_pg_dump(spark, path)
    assert set(out) == {"a", "b"}
    a = {(r.id, r.v) for r in out["a"].collect()}
    assert a == {(1, "x"), (2, "COPY public.fake (id) FROM stdin;")}
    assert {(r.id, r.w) for r in out["b"].collect()} == {(10, "y")}


def test_pg_column_list_free_header_uses_ddl_order(spark, tmp_path):
    path = _write(tmp_path, "nolist.sql", textwrap.dedent("""\
        CREATE TABLE public.t (
            id bigint NOT NULL,
            v text
        );
        COPY public.t FROM stdin;
        5\thello
        \\.
        """))
    assert {(r.id, r.v) for r in read_pg_dump(spark, path)["t"].collect()} \
        == {(5, "hello")}


def test_pg_sharded_directory(spark, tmp_path):
    """A directory of shard files, each with its own COPY block for the
    same table, unions — and per-file range assignment never leaks a
    line across shards."""
    d = tmp_path / "shards"
    d.mkdir()
    ddl = "CREATE TABLE public.t (\n    id bigint NOT NULL,\n    v text\n);\n"
    (d / "part-000.sql").write_text(
        ddl + "COPY public.t (id, v) FROM stdin;\n1\ta\n2\tb\n\\.\n")
    (d / "part-001.sql").write_text(
        ddl + "COPY public.t (id, v) FROM stdin;\n3\tc\n\\.\n")
    back = read_pg_dump(spark, str(d))["t"]
    assert {(r.id, r.v) for r in back.collect()} == {
        (1, "a"), (2, "b"), (3, "c")}


def test_pg_missing_terminator_raises(spark, tmp_path):
    path = _write(tmp_path, "trunc.sql", textwrap.dedent("""\
        CREATE TABLE public.t (
            id bigint NOT NULL
        );
        COPY public.t (id) FROM stdin;
        1
        """))
    with pytest.raises(ValueError, match="no .. terminator"):
        read_pg_dump(spark, path)


# --- dialect sniff + cross-dialect sync ---------------------------------------

PG_PROD = textwrap.dedent("""\
    --
    -- PostgreSQL database dump
    --

    CREATE TABLE public.t (
        id bigint NOT NULL,
        v text
    );

    COPY public.t (id, v) FROM stdin;
    1\tkeep
    2\tnew
    3\tadded
    \\.

    ALTER TABLE ONLY public.t
        ADD CONSTRAINT t_pkey PRIMARY KEY (id);
    """)

MY_BACKUP = textwrap.dedent("""\
    CREATE TABLE `t` (
      `id` int(11) NOT NULL,
      `v` varchar(100) DEFAULT NULL,
      PRIMARY KEY (`id`)
    ) ENGINE=InnoDB;
    INSERT INTO `t` (`id`, `v`) VALUES (1,'keep'),(2,'old'),(4,'gone');
    """)


def test_sniff_dump_dialect(tmp_path):
    from database_syncer_spark.sources.pg_dump import sniff_dump_dialect

    pg = _write(tmp_path, "p.sql", PG_PROD)
    my = _write(tmp_path, "m.sql", MY_BACKUP)
    assert sniff_dump_dialect(pg) == "postgres"
    assert sniff_dump_dialect(my) == "mysql"
    # sharded dir: sniffs the first file
    d = tmp_path / "shards"
    d.mkdir()
    (d / "part-000.sql").write_text(PG_PROD)
    assert sniff_dump_dialect(str(d)) == "postgres"
    # ... skipping the marker and checksum files a Spark or Hadoop writer
    # leaves next to the shards, which sort before them by name
    assert sniff_dump_dialect(_pg_shards_with_markers(tmp_path)) == "postgres"


def _pg_shards_with_markers(tmp_path) -> str:
    d = tmp_path / "marked"
    d.mkdir()
    (d / "part-000.sql").write_text(PG_PROD)
    (d / "_SUCCESS").write_text("")
    (d / ".part-000.sql.crc").write_bytes(b"crc\x00\x01\x02\x03")
    return str(d)


def test_sync_pg_shard_dir_with_marker_files(spark, tmp_path):
    """A pg shard directory holding ``_SUCCESS`` and a ``.crc`` file
    syncs as pg: its table is common with the pg backup, and the one
    row the backup lacks is the only change. Sniffed as mysql, the
    catalog diff reported prod table 'public' to create and 't' to
    drop."""
    from database_syncer_spark.sources.dump import sync_dumps

    prod = _pg_shards_with_markers(tmp_path)
    backup = _write(tmp_path, "backup.sql", PG_PROD.replace("3\tadded\n", ""))
    changes, catalog, _, _ = sync_dumps(spark, prod, backup)
    assert catalog["common"] == ["t"]
    assert catalog["create"] == [] and catalog["drop"] == []
    assert [(r.id, r.v, r.change_type) for r in changes["t"].collect()] \
        == [(3, "added", "INSERT")]
    changes["t"].unpersist()


def test_pg_schemas_pk_from_post_data_alter(spark, tmp_path):
    from database_syncer_spark.sources.pg_dump import read_pg_dump_with_schemas

    path = _write(tmp_path, "p.sql", PG_PROD)
    _, schemas = read_pg_dump_with_schemas(spark, path)
    assert schemas["t"].pk_cols == ["id"]
    assert schemas["t"].column_names == ["id", "v"]


def test_cross_dialect_sync_pg_prod_mysql_backup(spark, tmp_path, capsys):
    """compare_sql_files auto-detects a pg production dump against a
    mysql backup and runs the shared diff core: UPDATE (2: old->new),
    INSERT (3), DELETE (4) — the backup's int PK is cast to the prod
    side's bigint so type drift alone never classifies rows as
    changed."""
    from database_syncer_spark.sources.dump import compare_sql_files

    prod = _write(tmp_path, "prod.sql", PG_PROD)
    backup = _write(tmp_path, "backup.sql", MY_BACKUP)
    out = str(tmp_path / "sync.sql")
    result = compare_sql_files(spark, prod, backup, out)
    assert result is not None
    assert result["table_stats"]["t"] == {
        "INSERT": 1, "UPDATE": 1, "DELETE": 1}
    script = open(out).read()
    assert "DELETE FROM `t` WHERE `id` = 4;" in script
    assert "'added'" in script and "'new'" in script
    assert "'keep'" not in script  # unchanged rows emit nothing


def test_sync_pg_to_mysql_key_does_not_leak_cache(spark, sf_dir):
    """The registry key discards sync_dumps' scripts consumer, so it
    must unpersist the changes frames it returns — before the r10-advice
    fix each bench warmup/rep leaked one MEMORY_AND_DISK copy per run."""
    from database_syncer_spark.queries.dump import sync_pg_to_mysql

    jsc = spark.sparkContext._jsc
    sync_pg_to_mysql(spark, sf_dir).count()
    # the mysql reader's statement-frame cache legitimately survives
    # (identical plan -> CacheManager dedupes it across runs); what must
    # NOT happen is per-run growth from the persisted changes frames
    after_first = jsc.getPersistentRDDs().size()
    for _ in range(2):
        sync_pg_to_mysql(spark, sf_dir).count()
    assert jsc.getPersistentRDDs().size() == after_first


def test_cross_dialect_sync_last_wins(spark, tmp_path):
    """A duplicate PK on the mysql side of a cross-dialect sync
    resolves last-INSERT-wins (the reader's last-wins dedup, reference
    sync.py:67) BEFORE the diff classifies — id 2's final 'new' value
    equals prod, so no change row surfaces. (The r10 fused variant that
    moved this resolution inside the diff was A/B-rejected for the
    cross-dialect shape — see the diff selection in
    ``sources.dump._sync_plans`` — so this pins the semantics, not the
    plan shape; ``test_every_dialect_pair_syncs_alike`` pins that.)"""
    from database_syncer_spark.sources.dump import sync_dumps

    my_dup = MY_BACKUP.replace(
        "VALUES (1,'keep'),(2,'old'),(4,'gone');",
        "VALUES (1,'keep'),(2,'stale'),(4,'gone');\n"
        "INSERT INTO `t` (`id`, `v`) VALUES (2,'new');")
    prod = _write(tmp_path, "prod.sql", PG_PROD)
    backup = _write(tmp_path, "backup.sql", my_dup)
    changes, _, _, _ = sync_dumps(spark, prod, backup)
    got = {r.id: r.change_type for r in changes["t"].collect()}
    # id 2: prod 'new' vs last-wins backup 'new' -> unchanged, absent
    assert got == {3: "INSERT", 4: "DELETE"}
    changes["t"].unpersist()


# One table in both dialects: prod has 1 unchanged, 2 updated (a value to
# NULL), 3 inserted; backup has 4, deleted. Each mysql side carries a
# duplicate PK whose last INSERT wins.
_MY_DDL = ("CREATE TABLE `t` (\n  `id` int(11) NOT NULL,\n"
           "  `v` varchar(20) DEFAULT NULL,\n"
           "  `amt` decimal(10,2) DEFAULT NULL,\n"
           "  `ts` datetime DEFAULT NULL,\n"
           "  PRIMARY KEY (`id`)\n) ENGINE=InnoDB;\n")
_PG_DDL = ("CREATE TABLE public.t (\n    id bigint NOT NULL,\n    v text,\n"
           "    amt numeric(10,2),\n    ts timestamp without time zone\n);\n")
_PAIR_ROWS = {
    "prod": [(1, "it's", "1.50", "2024-02-29 12:30:45"),
             (2, "new", None, "1999-12-31 23:59:59"),
             (3, "added", "3.25", None)],
    "backup": [(1, "it's", "1.50", "2024-02-29 12:30:45"),
               (2, "old", "2.00", "1999-12-31 23:59:59"),
               (4, "gone", "4.00", "2000-01-01 00:00:00")],
}


def _render_dump(side: str, dialect: str) -> str:
    rows = _PAIR_ROWS[side]
    if dialect == "pg":
        lines = ["\t".join("\\N" if v is None else str(v) for v in r)
                 for r in rows]
        return (_PG_DDL + "COPY public.t (id, v, amt, ts) FROM stdin;\n"
                + "".join(f"{line}\n" for line in lines) + "\\.\n"
                "ALTER TABLE ONLY public.t\n"
                "    ADD CONSTRAINT t_pkey PRIMARY KEY (id);\n")

    def lit(v):
        if v is None:
            return "NULL"
        return str(v) if isinstance(v, int) else "'" + v.replace("'", "''") + "'"

    def insert(rs):
        return ("INSERT INTO `t` VALUES "
                + ",".join("(" + ",".join(map(lit, r)) + ")" for r in rs)
                + ";\n")

    # the duplicate of id 2 comes first, so the real row wins
    stale = (2, "stale", "9.99", None)
    return _MY_DDL + insert([stale] + rows[:1]) + insert(rows[1:])


@pytest.mark.parametrize("backup_dialect", ["mysql", "pg"])
@pytest.mark.parametrize("prod_dialect", ["mysql", "pg"])
def test_every_dialect_pair_syncs_alike(spark, tmp_path, prod_dialect,
                                        backup_dialect):
    """The same rows in any dialect pair give the same CRUD counts and
    the same script bytes. Only the all-mysql pair fuses last-wins into
    the diff's aggregation (no Join in its changes plan); every pair
    with a pg side runs the plain full-outer join diff, the r10 A/B
    winner for that shape."""
    from database_syncer_spark.sources.dump import compare_sql_files

    prod = _write(tmp_path, "prod.sql", _render_dump("prod", prod_dialect))
    backup = _write(tmp_path, "backup.sql",
                    _render_dump("backup", backup_dialect))
    out = str(tmp_path / "sync.sql")
    result = compare_sql_files(spark, prod, backup, out, verbose=False)
    assert result["table_stats"] == {
        "t": {"INSERT": 1, "UPDATE": 1, "DELETE": 1}}
    with open(out, encoding="utf-8") as fh:
        assert fh.read() == (
            "-- sync script: apply to backup to reach production state\n"
            "DELETE FROM `t` WHERE `id` = 4;\n"
            "UPDATE `t` SET `v` = 'new', `amt` = NULL, "
            "`ts` = '1999-12-31 23:59:59.000000' WHERE `id` = 2;\n"
            "INSERT INTO `t` VALUES (3, 'added', 3.25, NULL);\n")
    changes = result["changes"]["t"]
    plan = changes._jdf.queryExecution().executedPlan().toString()
    if (prod_dialect, backup_dialect) == ("mysql", "mysql"):
        assert "Join" not in plan, plan
    else:
        assert re.search(r"Join .*FullOuter", plan), plan
    changes.unpersist()
