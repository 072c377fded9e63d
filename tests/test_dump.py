"""Golden tests for the SQL-dump source (FIXTURES.md §B2 edge cases).

Each case cites the reference behavior it preserves or deliberately fixes
(SURVEY.md §1.2-1.3)."""

from __future__ import annotations

import textwrap

import pytest

from database_syncer_spark.sources.dump import (
    get_dump_schemas,
    parse_create_table,
    read_sql_dump,
    sync_dumps,
    tokenize_insert_rows,
    write_sql_dump,
)

USERS_DDL = textwrap.dedent("""\
    CREATE TABLE `users` (
      `id` int(11) NOT NULL AUTO_INCREMENT,
      `name` varchar(100) DEFAULT NULL,
      `bal` decimal(10,2),
      PRIMARY KEY (`id`)
    ) ENGINE=InnoDB;
""")


def _write(tmp_path, name, text):
    p = tmp_path / name
    p.write_text(text)
    return str(p)


# --- tokenizer ---------------------------------------------------------------

def test_tokenizer_escaped_quote():
    """'o''brien' round-trips (reference handles this too, sync.py:144-151)."""
    rows = tokenize_insert_rows("(1,'o''brien',7)")
    assert rows == [["1", "o'brien", "7"]]


def test_tokenizer_null_literal():
    rows = tokenize_insert_rows("(2,NULL,0.5)")
    assert rows == [["2", None, "0.5"]]


def test_tokenizer_paren_in_string():
    """The reference's regex truncates 'bob (admin)' (sync.py:112,
    SURVEY §1.2 [verified]); ours must not."""
    rows = tokenize_insert_rows("(2,'bob (admin)','x')")
    assert rows == [["2", "bob (admin)", "x"]]


def test_tokenizer_multirow_with_commas_and_semicolons():
    rows = tokenize_insert_rows("(1,'a,b'),(2,'c;d'),(3,'e')")
    assert rows == [["1", "a,b"], ["2", "c;d"], ["3", "e"]]


def test_tokenizer_backslash_escape():
    rows = tokenize_insert_rows(r"(1,'it\'s','a\\b')")
    assert rows == [["1", "it's", "a\\b"]]


def test_tokenizer_hex_and_introducer_literals():
    """mysqldump literal breadth (r9 verdict, what's-missing #3):
    ``0x…`` hex literals decode to their UTF-8 text (mysqldump emits
    them for binary-ish columns under --hex-blob), ``X'…'`` is the
    same value in string-hex syntax, ``_utf8mb4'…'`` charset
    introducers are annotations around an ordinary quoted literal, and
    ``b'…'`` bit literals become their decimal text (MySQL's integer
    cast). Both tokenizer paths (regex fast / char scan) must agree —
    the introducer forms fail the fast grammar and exercise the scan."""
    assert tokenize_insert_rows("(1,0x414243,'x')") == [["1", "ABC", "x"]]
    assert tokenize_insert_rows("(1,_utf8mb4'héllo',2)") == [["1", "héllo", "2"]]
    assert tokenize_insert_rows("(1,X'E29C93')") == [["1", "✓"]]
    assert tokenize_insert_rows("(1,b'1010',b'')") == [["1", "10", "0"]]
    # hex-shaped but invalid (odd digits / non-hex tail) stays raw text
    # in both paths rather than half-decoding
    assert tokenize_insert_rows("(1,0xZZ)") == [["1", "0xZZ"]]
    # degenerate zero-digit '0x' is NOT a hex literal in MySQL: it must
    # stay raw text here exactly as the JVM fast-path lookahead (which
    # requires >=1 digit) keeps it — the two paths may not diverge
    # (r10 advice)
    assert tokenize_insert_rows("(1,0x,'y')") == [["1", "0x", "y"]]


def test_tokenizer_hex_non_utf8_fails_loud():
    """A hex literal whose bytes are not UTF-8 text must raise with the
    explanation, never silently mis-parse (0xFF is invalid UTF-8)."""
    import pytest as _pytest

    with _pytest.raises(ValueError, match="does not decode as UTF-8"):
        tokenize_insert_rows("(1,0xFF00)")
    # odd-length hex is malformed too: loud, not truncated
    with _pytest.raises(ValueError, match="hex literal"):
        tokenize_insert_rows("(1,0x414)")


# --- DDL ---------------------------------------------------------------------

def test_ddl_basic_pk_and_types():
    ts = parse_create_table(USERS_DDL)
    assert ts.name == "users"
    assert ts.column_names == ["id", "name", "bal"]
    assert ts.pk_cols == ["id"]
    assert dict(ts.spark_types()) == {
        "id": "int", "name": "string", "bal": "decimal(10,2)"}


def test_ddl_composite_pk():
    """Reference fails to match composite keys and falls back to column 0
    (sync.py:89-104 [verified]); we support them."""
    ts = parse_create_table(
        "CREATE TABLE `t` (`a` int, `b` int, `v` text, PRIMARY KEY (`a`,`b`)) ENGINE=X;")
    assert ts.pk_cols == ["a", "b"]


def test_ddl_auto_increment_fallback():
    ts = parse_create_table(
        "CREATE TABLE `t` (`seq` bigint AUTO_INCREMENT, `v` text) ENGINE=X;")
    assert ts.pk_cols == ["seq"]


def test_ddl_no_pk_no_id_keys_first_column():
    """Reference keys on values[0] in this case (sync.py:169-171); we make
    the same choice explicit in the schema."""
    ts = parse_create_table("CREATE TABLE `t` (`x` int, `y` int) ENGINE=X;")
    assert ts.pk_cols == ["x"]


# --- distributed ingest --------------------------------------------------------

def test_read_sql_dump_typed(spark, tmp_path):
    dump = USERS_DDL + textwrap.dedent("""\
        INSERT INTO `users` (`id`,`name`,`bal`) VALUES (1,'alice',10.50),(2,'bob',NULL),(3,'o''brien',7);
    """)
    path = _write(tmp_path, "d.sql", dump)
    tables = read_sql_dump(spark, path)
    rows = {r.id: r for r in tables["users"].collect()}
    assert rows[1].name == "alice" and float(rows[1].bal) == 10.50
    assert rows[2].bal is None
    assert rows[3].name == "o'brien"


def test_statement_cache_value_identical_and_gated(spark, tmp_path):
    """cache_statements must be a pure performance knob: cached,
    uncached, and auto-gated reads return identical rows. The auto gate
    caches small local dumps and declines on non-stat-able paths."""
    from database_syncer_spark.sources.dump import (_CACHE_STMT_MAX_BYTES,
                                                    _input_bytes,
                                                    read_sql_dump_with_schemas)

    dump = USERS_DDL + textwrap.dedent("""\
        INSERT INTO `users` (`id`,`name`,`bal`) VALUES (1,'alice',10.50),(2,'bob',NULL);
        INSERT INTO `users` (`id`,`name`,`bal`) VALUES (2,'bobby',3.25),(4,'dan',1.00);
    """)
    path = _write(tmp_path, "gate.sql", dump)
    results = []
    for cache in (False, True, None):
        tables, _ = read_sql_dump_with_schemas(
            spark, path, cache_statements=cache)
        results.append(sorted(
            (r.id, r.name, None if r.bal is None else float(r.bal))
            for r in tables["users"].collect()))
        spark.catalog.clearCache()
    assert results[0] == results[1] == results[2]
    assert 0 < _input_bytes(path) <= _CACHE_STMT_MAX_BYTES  # would cache
    assert _input_bytes("/nonexistent/x.sql") > _CACHE_STMT_MAX_BYTES


def test_read_sql_dump_raw_mode(spark, tmp_path):
    """typed=False keeps raw literal strings (reference semantics: '1' and
    '1.0' differ, SURVEY §1.2)."""
    dump = (
        "CREATE TABLE `t` (`id` int, `v` double, PRIMARY KEY (`id`)) ENGINE=X;\n"
        "INSERT INTO `t` VALUES (1,1.0);\n"
    )
    path = _write(tmp_path, "raw.sql", dump)
    tables = read_sql_dump(spark, path, typed=False)
    r = tables["t"].collect()[0]
    assert r.v == "1.0"  # not coerced


@pytest.mark.parametrize("tokenizer", ["python", "jvm"])
def test_reordered_and_partial_column_lists(spark, tmp_path, tokenizer):
    """An explicit column list is honored: reordered lists remap to table
    order, omitted columns become NULL. (The reference cannot parse
    either — sync.py:55 requires the complete list in table order; and
    the JVM fast shape must route these to the Python scanner rather
    than positionally mis-assign.)"""
    dump = USERS_DDL + (
        "INSERT INTO `users` (`name`,`id`,`bal`) VALUES ('alice',1,10.50);\n"
        "INSERT INTO `users` (`id`,`bal`) VALUES (2,7.25);\n"
        "INSERT INTO `users` (`id`,`name`,`bal`) VALUES (3,'carol',0);\n"
        "INSERT INTO `users` VALUES (4,'dan',1.75);\n"
        "INSERT INTO `users` (`ID`,`Name`,`BAL`) VALUES (5,'eve',2.50);\n"
        "INSERT INTO `users` (`id`,`nmae`,`bal`) VALUES (6,'typo',9.99);\n"
    )
    path = _write(tmp_path, "cols.sql", dump)
    rows = {r.id: r for r in
            read_sql_dump(spark, path, tokenizer=tokenizer)["users"].collect()}
    assert rows[1].name == "alice" and float(rows[1].bal) == 10.50
    assert rows[2].name is None and float(rows[2].bal) == 7.25
    assert rows[3].name == "carol"
    assert rows[4].name == "dan" and float(rows[4].bal) == 1.75
    # MySQL identifiers are case-insensitive: a case-variant list resolves.
    assert rows[5].name == "eve" and float(rows[5].bal) == 2.50
    # A typo'd column list must be SKIPPED, not ingested as all-NULLs.
    assert 6 not in rows


def test_crlf_dump_parses(spark, tmp_path):
    """Windows-style CRLF dumps: a ';\\n' lineSep never matches ';\\r\\n',
    which would deliver the whole file as one statement; the reader
    sniffs the head and splits on the dominant convention."""
    dump = (USERS_DDL.replace("\n", "\r\n")
            + "INSERT INTO `users` VALUES (1,'alice',10.50);\r\n"
            + "INSERT INTO `users` VALUES (2,'bob',NULL);\r\n")
    path = _write(tmp_path, "crlf.sql", dump)
    rows = {r.id: r for r in read_sql_dump(spark, path)["users"].collect()}
    assert rows[1].name == "alice" and rows[2].bal is None


def test_duplicate_pk_last_wins(spark, tmp_path):
    """Reference dict overwrite (sync.py:67): later INSERT wins."""
    dump = (
        "CREATE TABLE `t` (`id` int, `v` varchar(10), PRIMARY KEY (`id`)) ENGINE=X;\n"
        "INSERT INTO `t` VALUES (1,'old'),(1,'mid');\n"
        "INSERT INTO `t` VALUES (1,'new');\n"
    )
    path = _write(tmp_path, "dup.sql", dump)
    rows = read_sql_dump(spark, path)["t"].collect()
    assert len(rows) == 1 and rows[0].v == "new"


def test_sync_dumps_end_to_end(spark, tmp_path):
    """Full pipeline parity with the reference's worked example
    (compare_sql_files, sync.py:522-625): catalog diff + per-table CRUD."""
    prod = USERS_DDL + (
        "INSERT INTO `users` VALUES (1,'alice',10.50),(2,'bob (admin)',3.00),(4,'dora',1.00);\n"
        "CREATE TABLE `only_prod` (`id` int, PRIMARY KEY (`id`)) ENGINE=X;\n"
        "INSERT INTO `only_prod` VALUES (1);\n"
    )
    backup = USERS_DDL + (
        "INSERT INTO `users` VALUES (1,'alice',10.50),(2,'bob (admin)',9.99),(3,'carl',5.00);\n"
        "CREATE TABLE `only_backup` (`id` int, PRIMARY KEY (`id`)) ENGINE=X;\n"
    )
    p = _write(tmp_path, "prod.sql", prod)
    b = _write(tmp_path, "backup.sql", backup)
    changes, catalog, scripts, schemas = sync_dumps(spark, p, b)
    assert schemas["users"].pk_cols == ["id"]
    assert catalog["create"] == ["only_prod"]
    assert catalog["drop"] == ["only_backup"]
    by_type = {
        (r.id, r.change_type) for r in changes["users"].collect()
    }
    assert by_type == {(4, "INSERT"), (2, "UPDATE"), (3, "DELETE")}
    script = [r.statement for r in scripts["users"].collect()]
    assert script[0].startswith("DELETE FROM `users` WHERE `id` = 3")
    assert "UPDATE `users` SET" in script[1] and "9.99" not in script[1]
    assert script[2].startswith("INSERT INTO `users` VALUES (4")


def test_dump_roundtrip_via_writer(spark, sf_dir, tmp_path):
    """parquet -> SQL dump -> parsed back: values survive exactly."""
    from database_syncer_spark.catalog import load_table
    from database_syncer_spark.core.diff import snapshot_diff
    from pyspark.sql import functions as F

    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 100)
    path = str(tmp_path / "orders.sql")
    write_sql_dump(orders, "orders", ["o_orderkey"], path, rows_per_insert=7)
    back = read_sql_dump(spark, path)["orders"]
    assert back.count() == orders.count()
    # timestamps come back as timestamp (session UTC) vs ntz: align for diff
    back = back.withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp_ntz"))
    assert snapshot_diff(orders, back, ["o_orderkey"]).count() == 0


def test_get_dump_schemas(spark, tmp_path):
    path = _write(tmp_path, "s.sql", USERS_DDL)
    schemas = get_dump_schemas(spark, path)
    assert schemas["users"].pk_cols == ["id"]


def test_multi_mb_dump_splits_across_partitions(spark, tmp_path):
    """Scale shape (SURVEY §7.5 risk 1): a multi-MB dump forced across many
    input splits must reassemble every statement intact, and last-wins on a
    duplicate PK must follow FILE order even when the duplicate lands in a
    different partition than the original (byte-offset seq ordering)."""
    n_stmts, rows_per = 1200, 50
    total = n_stmts * rows_per
    lines = [
        "CREATE TABLE `big` (",
        "  `id` bigint NOT NULL,",
        "  `val` varchar(100) DEFAULT NULL,",
        "  PRIMARY KEY (`id`)",
        ") ENGINE=InnoDB;",
    ]
    rid = 0
    for _ in range(n_stmts):
        vals = []
        for _ in range(rows_per):
            # parens + comma inside the string: the reference's regex
            # truncates these (sync.py:112); we must not
            vals.append(f"({rid}, 'name (admin, x{rid})')")
            rid += 1
        lines.append("INSERT INTO `big` VALUES " + ",".join(vals) + ";")
    # duplicate of id=0 at the very end of the file -> must win
    lines.append("INSERT INTO `big` VALUES (0, 'winner');")
    path = str(tmp_path / "big.sql")
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    import os
    assert os.path.getsize(path) > 1_500_000  # genuinely multi-MB

    # Force small file-source splits (the text-source split formula is
    # min(maxPartitionBytes, max(openCost, size/parallelism))).
    olds = {k: spark.conf.get(k) for k in
            ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")}
    spark.conf.set("spark.sql.files.maxPartitionBytes", "262144")
    spark.conf.set("spark.sql.files.openCostInBytes", "65536")
    try:
        from database_syncer_spark.sources.dump import read_dump_statements
        stmts = read_dump_statements(spark, path)
        assert stmts.rdd.getNumPartitions() > 4  # split actually happened
        big = read_sql_dump(spark, path)["big"]
        assert big.count() == total  # every row parsed, dup collapsed
        assert big.where("id = 0").collect()[0].val == "winner"
        # spot-check a paren-in-string row survived whole
        assert (big.where(f"id = {total - 1}").collect()[0].val
                == f"name (admin, x{total - 1})")
    finally:
        for k, v in olds.items():
            spark.conf.set(k, v)


def test_compare_sql_files_end_to_end(spark, tmp_path, capsys):
    """EP2 parity (reference compare_sql_files, sync.py:522): two dumps in,
    summary printed, one ordered multi-section script out."""
    from database_syncer_spark import compare_sql_files

    prod = _write(tmp_path, "prod.sql", USERS_DDL + textwrap.dedent("""\
        CREATE TABLE `gone` (
          `id` int(11) NOT NULL,
          PRIMARY KEY (`id`)
        ) ENGINE=InnoDB;
        INSERT INTO `users` VALUES (1, 'alice', 10.00), (2, 'bob', 20.00),
        (4, 'dana', 40.00);
    """))
    backup = _write(tmp_path, "backup.sql", USERS_DDL + textwrap.dedent("""\
        INSERT INTO `users` VALUES (1, 'alice', 10.00), (2, 'bobby', 2.00),
        (3, 'carol', 30.00);
    """))
    out = str(tmp_path / "out.sql")
    result = compare_sql_files(spark, prod, backup, out)
    assert result is not None
    assert result["catalog"]["create"] == ["gone"]
    assert result["table_stats"]["users"] == {
        "INSERT": 1, "UPDATE": 1, "DELETE": 1}
    script = open(out).read()
    assert "DROP TABLE IF EXISTS `gone`;" in script
    assert "CREATE TABLE `gone`" in script
    delete_pos = script.index("DELETE FROM `users` WHERE `id` = 3;")
    update_pos = script.index("UPDATE `users` SET")
    insert_pos = script.index("INSERT INTO `users` VALUES (4,")
    assert delete_pos < update_pos < insert_pos  # reference section order
    assert "'dana'" in script and "'bob'" in script
    assert "+1 ~1 -1" in capsys.readouterr().out


def test_compare_sql_files_null_pk_row_in_both_dumps(spark, tmp_path):
    """The same NULL-PK row in both dumps is two unrelated rows (the
    NULL-PK contract, core/diff.py): the script DELETEs the backup's and
    INSERTs the production one, and the stats count both."""
    from database_syncer_spark import compare_sql_files

    rows = "INSERT INTO `users` VALUES (NULL, 'ghost', 1.00), (1, 'a', 2.00);\n"
    prod = _write(tmp_path, "prod.sql", USERS_DDL + rows)
    backup = _write(tmp_path, "backup.sql", USERS_DDL + rows)
    out = str(tmp_path / "out.sql")
    result = compare_sql_files(spark, prod, backup, out, verbose=False)
    assert result["table_stats"]["users"] == {"INSERT": 1, "DELETE": 1}
    script = open(out).read().splitlines()
    assert script[1:] == [
        "DELETE FROM `users` WHERE `id` = NULL;",
        "INSERT INTO `users` VALUES (NULL, 'ghost', 1.00);",
    ]


_PG_USERS = textwrap.dedent("""\
    --
    -- PostgreSQL database dump
    --

    CREATE TABLE public.users (
        id bigint NOT NULL,
        name text,
        bal numeric(10,2)
    );

    COPY public.users (id, name, bal) FROM stdin;
    1\talice\t10.50
    2\tbob\t3.00
    5\teve\t\\N
    \\.

    ALTER TABLE ONLY public.users
        ADD CONSTRAINT users_pkey PRIMARY KEY (id);
""")


@pytest.mark.parametrize("case",
                         ["mysql", "tables", "identical", "empty", "pg"])
def test_compare_sql_files_stats_equal_diff_stats(spark, tmp_path,
                                                  monkeypatch, case):
    """``table_stats`` equals ``diff_stats`` of each returned table's
    changes — for a table with zero changes, under a ``tables=``
    projection, for identical dumps, for dumps with no rows and for a
    pg/mysql pair — and the sync computes it without calling
    ``diff_stats``."""
    from database_syncer_spark import compare_sql_files
    from database_syncer_spark.core import diff

    items = textwrap.dedent("""\
        CREATE TABLE `items` (
          `sku` varchar(20) NOT NULL,
          `qty` int(11) DEFAULT NULL,
          PRIMARY KEY (`sku`)
        ) ENGINE=InnoDB;
        INSERT INTO `items` VALUES ('a', 1), ('b', 2);
    """)
    prod_users = ("INSERT INTO `users` VALUES (1,'alice',10.50),"
                  "(2,'bob',3.00),(4,'dora',1.00);\n")
    backup_users = ("INSERT INTO `users` VALUES (1,'alice',10.50),"
                    "(2,'bob',9.99),(3,'carl',5.00);\n")
    prod = USERS_DDL + prod_users + items
    backup = USERS_DDL + backup_users + items
    tables = None
    if case == "tables":
        tables = ["users"]
    elif case == "identical":
        backup = prod
    elif case == "empty":
        prod = backup = USERS_DDL + items.split("INSERT")[0]
    elif case == "pg":
        prod = _PG_USERS
    p = _write(tmp_path, "prod.sql", prod)
    b = _write(tmp_path, "backup.sql", backup)

    real_diff_stats = diff.diff_stats

    def no_diff_stats(changes):
        raise AssertionError("the sync must not call diff_stats")

    monkeypatch.setattr(diff, "diff_stats", no_diff_stats)
    result = compare_sql_files(spark, p, b, str(tmp_path / "out.sql"),
                               verbose=False, tables=tables)
    monkeypatch.undo()

    changes = result["changes"]
    want_tables = {"users"} if case in ("tables", "pg") else {"users", "items"}
    assert set(changes) == set(result["table_stats"]) == want_tables
    for name, ch in changes.items():
        want = {r[0]: r[1] for r in real_diff_stats(ch).collect()}
        assert result["table_stats"][name] == want, name
    if case in ("identical", "empty"):
        assert result["table_stats"] == {"users": {}, "items": {}}
    else:
        assert result["table_stats"]["users"] == {
            "INSERT": 1, "UPDATE": 1, "DELETE": 1}
    if case == "mysql":
        assert result["table_stats"]["items"] == {}


def test_compare_sql_files_missing_input(spark, tmp_path):
    from database_syncer_spark import compare_sql_files

    assert compare_sql_files(
        spark, str(tmp_path / "nope.sql"), str(tmp_path / "also_nope.sql"),
        str(tmp_path / "out.sql"), verbose=False) is None


# --- JVM tokenizer parity ----------------------------------------------------

def _adversarial_dump(seed: int, n_stmts: int = 60) -> tuple[str, int]:
    """Render a 3-col dump of hostile values; returns (text, n_good_rows).

    Mixes both SQL escape families ('' doubling and backslash escapes),
    both quote chars, named escapes, NULL case variants, empty and padded
    values, and occasional malformed statements that must route to the
    Python scanner identically under either tokenizer.
    """
    import random

    rng = random.Random(seed)
    alphabet = "ab'\"\\(),;\n\t xyz0%_`=-"

    def render(v: str | None) -> str:
        if v is None:
            return rng.choice(["NULL", "null", "Null"])
        style = rng.randrange(3)
        if style == 0 and v == v.strip():
            try:
                float(v)
                return v
            except ValueError:
                pass
        if rng.random() < 0.5:
            # '' doubling family
            q = rng.choice("'\"")
            return q + v.replace("\\", "\\\\").replace(q, q + q) + q
        # backslash family (mysqldump style)
        q = rng.choice("'\"")
        body = (v.replace("\\", "\\\\").replace(q, "\\" + q)
                 .replace("\n", "\\n").replace("\t", "\\t"))
        return q + body + q

    stmts, n_rows = [], 0
    for _ in range(n_stmts):
        rows = []
        for _ in range(rng.randrange(1, 4)):
            row = [
                "".join(rng.choice(alphabet) for _ in range(rng.randrange(8)))
                if rng.random() > 0.15 else None
                for _ in range(3)
            ]
            rows.append(row)
        clause = ", ".join(
            "(" + ",".join(render(v) for v in row) + ")" for row in rows)
        if rng.random() < 0.1:
            clause += " 'stray"  # malformed tail -> scanner fallback path
        else:
            n_rows += len(rows)
        stmts.append(f"INSERT INTO adv VALUES {clause};")
    ddl = ("CREATE TABLE adv (a text, b text, c text, "
           "PRIMARY KEY (a));")
    return ddl + "\n" + "\n".join(stmts) + "\n", n_rows


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_jvm_tokenizer_matches_python_on_adversarial_dump(spark, tmp_path, seed):
    """The all-JVM tokenizer (regexp row/value split + sentinel unescape +
    scanner fallback routing) must agree exactly with the Python
    tokenizer on hostile data — both escape families, both quote chars,
    parens/commas/semicolons in strings, NULL variants, malformed
    statements."""
    text, _ = _adversarial_dump(seed)
    path = _write(tmp_path, f"adv{seed}.sql", text)
    out = {}
    for tok in ("python", "jvm"):
        # the generator plants deliberately-malformed "'stray" tails to
        # force the scanner fallback; the default unterminated-string
        # guard would (correctly) refuse those, so opt out here.
        tables = read_sql_dump(spark, path, typed=False, dedup_pk=False,
                               tokenizer=tok, on_split_string="ignore")
        out[tok] = sorted(
            (tuple(r) for r in tables["adv"].collect()),
            key=lambda t: tuple((v is None, v) for v in t))
    assert out["jvm"] == out["python"]
    assert len(out["jvm"]) > 50  # the generator produced real rows


def test_hex_and_introducer_dump_golden_both_tokenizers(spark, tmp_path):
    """End-to-end golden for mysqldump literal breadth: a conforming
    dump mixing hex literals, charset introducers, X'…' and b'…'
    ingests to identical typed rows through BOTH tokenizer paths (the
    JVM fast shape must route hex/introducer statements to the Python
    scanner — its own grammar never sees them)."""
    dump = (
        "CREATE TABLE t (id int, payload text, tag text, bits int, "
        "PRIMARY KEY (id));\n"
        "INSERT INTO t VALUES (1,0x68656C6C6F,_utf8mb4'wörld',b'101');\n"
        "INSERT INTO t VALUES (2,X'E29C93','plain',12);\n"
        "INSERT INTO t VALUES (3,'quoted',NULL,0x33);\n"
    )
    path = _write(tmp_path, "hex.sql", dump)
    expect = {1: ("hello", "wörld", 5), 2: ("✓", "plain", 12),
              3: ("quoted", None, 3)}
    for tok in ("python", "jvm"):
        rows = {r.id: (r.payload, r.tag, r.bits)
                for r in read_sql_dump(spark, path, tokenizer=tok)["t"]
                .collect()}
        assert rows == expect, tok


def test_jvm_tokenizer_named_escapes_and_sentinel(spark, tmp_path):
    """Named escapes map like the scanner (\\n \\t \\r \\0); data containing
    the private-use sentinel char routes to the scanner and round-trips."""
    sent = "\ue000"
    dump = (
        "CREATE TABLE t (a text, b text, PRIMARY KEY (a));\n"
        "INSERT INTO t VALUES ('k1', 'a\\nb\\tc\\rd\\0e\\zf');\n"
        f"INSERT INTO t VALUES ('k2', 'has {sent} sentinel');\n"
    )
    path = _write(tmp_path, "sent.sql", dump)
    rows = {r.a: r.b for r in
            read_sql_dump(spark, path, typed=False, dedup_pk=False)["t"].collect()}
    assert rows["k1"] == "a\nb\tc\rd\x00ezf"  # \z -> literal z
    assert rows["k2"] == f"has {sent} sentinel"


def test_python_tokenizer_all_rows_arity_filtered(spark, tmp_path):
    """A partition whose INSERTs all fail the arity check must yield an
    empty, correctly-typed batch (regression: empty float64 pandas
    columns broke the Arrow cast to list<string>)."""
    dump = (
        "CREATE TABLE t (a text, b text, PRIMARY KEY (a));\n"
        "INSERT INTO t VALUES ('only', 'two', 'but-three-values');\n"
    )
    path = _write(tmp_path, "empty.sql", dump)
    for tok in ("python", "jvm"):
        assert read_sql_dump(spark, path, tokenizer=tok)["t"].count() == 0


def test_table_projection_pushdown(spark, tmp_path):
    """tables=[...] ingests only the requested tables, matches the full
    read's values, survives keyword-case/identifier-form variety (the
    JVM prefilter must never drop a statement the tokenizer accepts),
    and errors on unknown names."""
    import pytest as _pytest

    dump = (
        "CREATE TABLE t1 (a text, b text, PRIMARY KEY (a));\n"
        "CREATE TABLE t2 (a text, PRIMARY KEY (a));\n"
        "INSERT INTO `t1` VALUES ('k1', 'x');\n"
        "insert into t1 values ('k2', 'y');\n"
        "INSERT INTO t1(a, b) VALUES ('k3', 'z');\n"
        "INSERT INTO `t2` VALUES ('other');\n"
    )
    path = _write(tmp_path, "proj.sql", dump)
    full = read_sql_dump(spark, path, typed=False)
    only = read_sql_dump(spark, path, typed=False, tables=["t1"])
    assert set(only) == {"t1"}
    assert (sorted(map(tuple, only["t1"].collect()))
            == sorted(map(tuple, full["t1"].collect())))
    assert only["t1"].count() == 3
    with _pytest.raises(ValueError, match="not in dump"):
        read_sql_dump(spark, path, tables=["t1", "nope"])


def test_sync_dumps_table_restriction(spark, tmp_path):
    """sync_dumps(tables=...) syncs only the requested tables; a table
    present in one side still shows in the catalog diff; a table in
    neither errors."""
    import pytest as _pytest
    from database_syncer_spark.sources.dump import sync_dumps

    prod = (
        "CREATE TABLE t1 (a text, b text, PRIMARY KEY (a));\n"
        "CREATE TABLE t2 (a text, PRIMARY KEY (a));\n"
        "INSERT INTO `t1` VALUES ('k1', 'new');\n"
        "INSERT INTO `t2` VALUES ('z');\n"
    )
    bak = (
        "CREATE TABLE t1 (a text, b text, PRIMARY KEY (a));\n"
        "INSERT INTO `t1` VALUES ('k1', 'old');\n"
    )
    pp = _write(tmp_path, "p.sql", prod)
    bp = _write(tmp_path, "b.sql", bak)
    changes, catalog, scripts, _ = sync_dumps(spark, pp, bp, tables=["t1", "t2"])
    assert catalog["create"] == ["t2"] and catalog["common"] == ["t1"]
    assert [r.change_type for r in changes["t1"].collect()] == ["UPDATE"]
    changes1, catalog1, _, _ = sync_dumps(spark, pp, bp, tables=["t1"])
    assert set(changes1) == {"t1"} and catalog1["create"] == []
    with _pytest.raises(ValueError, match="neither"):
        sync_dumps(spark, pp, bp, tables=["ghost"])


# --- embedded ';\n' inside string literals (SURVEY §7.5 risk 1) --------------

SPLIT_DDL = textwrap.dedent("""\
    CREATE TABLE notes (
      id int NOT NULL,
      body text,
      tag varchar(10),
      PRIMARY KEY (id)
    ) ENGINE=InnoDB;
""")


def test_embedded_stmt_separator_errors_loudly_by_default(spark, tmp_path):
    """A dumped text column containing ';\\n' splits a statement
    mid-string; the default mode must FAIL LOUDLY (quote-parity check),
    never silently mis-parse (VERDICT r3 item 4)."""
    from pyspark.errors import PySparkRuntimeError

    dump = SPLIT_DDL + (
        "INSERT INTO notes VALUES (1,'first line;\nsecond line','a');\n"
    )
    path = _write(tmp_path, "split.sql", dump)
    with pytest.raises(Exception) as ei:
        read_sql_dump(spark, path)["notes"].collect()
    assert "on_split_string" in str(ei.value)


def test_embedded_stmt_separator_repair_mode(spark, tmp_path):
    """repair mode stitches the fragments back, preserving the embedded
    ';\\n' and the whitespace around it inside the literal."""
    dump = SPLIT_DDL + (
        "INSERT INTO notes VALUES (0,'plain','x');\n"
        "INSERT INTO notes VALUES (1,'first line;\n  second line','a');\n"
        "INSERT INTO notes VALUES (2,'a;\nb;\nc','b');\n"
        "INSERT INTO notes VALUES (3,'after','c');\n"
    )
    path = _write(tmp_path, "split_repair.sql", dump)
    got = {r.id: (r.body, r.tag)
           for r in read_sql_dump(
               spark, path, on_split_string="repair")["notes"].collect()}
    assert got == {
        0: ("plain", "x"),
        1: ("first line;\n  second line", "a"),
        2: ("a;\nb;\nc", "b"),
        3: ("after", "c"),
    }


def test_clean_dump_identical_across_split_modes(spark, tmp_path):
    """On a conforming dump all three modes agree (repair is the
    identity when no fragment has odd quote parity), including quoted
    values with escaped quotes and semicolons NOT at line ends."""
    dump = USERS_DDL + (
        "INSERT INTO `users` VALUES (1,'o''brien; esq.',1.50);\n"
        "INSERT INTO `users` VALUES (2,'b\\'c',2.25);\n"
        "INSERT INTO `users` VALUES (3,NULL,0.00);\n"
    )
    path = _write(tmp_path, "clean.sql", dump)
    frames = [read_sql_dump(spark, path, on_split_string=m)["users"]
              for m in ("error", "repair", "ignore")]
    rows = [sorted((r.id, r.name) for r in f.collect()) for f in frames]
    assert rows[0] == rows[1] == rows[2]
    assert rows[0] == [(1, "o'brien; esq."), (2, "b'c"), (3, None)]


def _stmts(spark, path, mode):
    from database_syncer_spark.sources.dump import read_dump_statements

    rows = read_dump_statements(spark, str(path), on_split_string=mode)
    return [r.stmt for r in
            sorted(rows.collect(), key=lambda r: (r.seq_hi, r.seq_lo))]


def test_comment_block_before_statement_kept(spark, tmp_path):
    """A fragment carries the comment block that precedes its statement
    (comments don't end with ';\\n'); the statement behind the comment
    must survive in EVERY mode — the old comment filter dropped the
    whole fragment, silently losing every statement that followed a
    mysqldump comment block (r4 review)."""
    p = tmp_path / "c.sql"
    p.write_text("CREATE TABLE t (id INT);\n"
                 "-- Dumping data for table t\n--\n"
                 "INSERT INTO t VALUES (1);\n"
                 "INSERT INTO t VALUES (2);\n")
    for mode in ("error", "repair", "ignore"):
        got = _stmts(spark, p, mode)
        assert got == ["CREATE TABLE t (id INT)",
                       "INSERT INTO t VALUES (1)",
                       "INSERT INTO t VALUES (2)"], (mode, got)


def test_repair_survives_apostrophe_in_comment(spark, tmp_path):
    """A comment line holding an odd apostrophe count must not flip the
    stitcher's quote parity: pre-fix, '-- don't' glued every later
    statement into one dropped group (r4 review)."""
    p = tmp_path / "a.sql"
    p.write_text("INSERT INTO t VALUES (1,'a');\n"
                 "-- don't edit below\n"
                 "INSERT INTO t VALUES (2,'b');\n"
                 "INSERT INTO t VALUES (3,'c');\n")
    assert _stmts(spark, p, "repair") == [
        "INSERT INTO t VALUES (1,'a')",
        "INSERT INTO t VALUES (2,'b')",
        "INSERT INTO t VALUES (3,'c')"]


def test_repair_survives_inch_marks_in_values(spark, tmp_path):
    """Double-quote characters that are CONTENT inside single-quoted
    literals must not pair across literals: pre-fix, the
    strip-doubles-first parity deleted the single quotes between '5\"'
    and '3\"' and glued two conforming statements (r4 review)."""
    p = tmp_path / "i.sql"
    stmt1 = "INSERT INTO t VALUES (1,'5\" x','don''t','3\"')"
    p.write_text(stmt1 + ";\nINSERT INTO t VALUES (2,'y');\n")
    for mode in ("error", "repair"):
        assert _stmts(spark, p, mode) == [
            stmt1, "INSERT INTO t VALUES (2,'y')"], mode


def test_multiblock_comments_with_blank_lines_and_apostrophe(spark, tmp_path):
    """Two comment blocks separated by a blank line, one holding an
    apostrophe, before the INSERT: the strip must clear ALL of it — a
    single-block strip left a '--' prefix (row silently unparseable)
    or tripped the unterminated-string check (r4 review, reproduced)."""
    p = tmp_path / "mb.sql"
    p.write_text("--\n-- Section A\n--\n\n--\n-- don't edit\n--\n"
                 "INSERT INTO t VALUES (1,'a');\n"
                 "INSERT INTO t VALUES (2,'b');\n")
    for mode in ("error", "repair", "ignore"):
        assert _stmts(spark, p, mode) == [
            "INSERT INTO t VALUES (1,'a')",
            "INSERT INTO t VALUES (2,'b')"], mode


def test_sharded_dump_uri_encodable_file_name(spark, tmp_path):
    """_metadata.file_path is a URI, so 'part 000.sql' arrives as
    'part%20000.sql' — the shard-index join must still find it (an
    inner join on the raw basename silently dropped the whole shard,
    r4 review, reproduced). Order: lexicographic raw name."""
    d = tmp_path / "sharded"
    d.mkdir()
    (d / "part 000.sql").write_text("INSERT INTO t VALUES (1,'a');\n")
    (d / "part-001.sql").write_text("INSERT INTO t VALUES (2,'b');\n")
    got = _stmts(spark, d, "error")
    assert got == ["INSERT INTO t VALUES (1,'a')",
                   "INSERT INTO t VALUES (2,'b')"]
