"""PostgreSQL plain-format dump source (``pg_dump`` / ``COPY ... FROM
stdin`` text protocol) — the second dump dialect next to
``sources/dump.py``'s mysqldump reader.

Why a separate reader: the two public dump formats distribute
DIFFERENTLY. A mysqldump file is self-describing per statement (every
``INSERT INTO t ...`` names its table), so the mysql reader splits on
statement separators and parses each statement independently. A pg COPY
data line carries NO table marker — membership is purely positional
(every line between ``COPY t (...) FROM stdin;`` and the ``\\.``
terminator belongs to ``t``). The scalable shape is therefore:

1. ``spark.read.text`` — one row per line, parallel by file split (the
   natural 100-TB layout: line-level parallelism, no giant-record
   problem, unlike lineSep-splitting on block boundaries which would
   hand a whole 100-GB COPY block to one task).
2. Collect the MARKER lines only (COPY headers + ``\\.`` terminators —
   two per table, KB-scale however big the data is) and run the
   header/terminator state machine driver-side to build block ranges.
   A data line that merely *looks* like a COPY header cannot open a
   block: inside a block only ``\\.`` is a marker, exactly pg's own
   COPY-mode semantics.
3. Broadcast the tiny range table and assign every data line to its
   block with a range join — the corpus never shuffles; assignment is
   a broadcast hash/NL join against a per-table-sized build side.
4. Field split + unescape + typed cast are all built-in expressions
   (whole-stage codegen): split on the tab delimiter, ``\\N`` (checked
   BEFORE unescaping, so a literal two-char ``\\N`` value — which the
   protocol renders as ``\\\\N`` — stays data), then the backslash
   escapes in one literal-replace chain.

Line order inside a block is not load-bearing (COPY rows are an
unordered snapshot, same as the mysql reader's PK-unique INSERT rows),
but line-to-block ASSIGNMENT is, and it relies on
``monotonically_increasing_id()`` being monotone in file position for
the text source: a single file's splits are generated in offset order
and each output partition holds consecutive lines, so
``(partition_id << 33) + row_in_partition`` orders exactly like byte
offset. Multi-file dumps (a directory of shards) are handled by keying
every marker and range by ``input_file_name()`` — ordering is only ever
assumed WITHIN one file, never across files.

Escape handling: COPY text format escapes ``\\\\ \\t \\n \\r`` (written
by ``write_pg_dump`` below, and by pg itself). The reader unescapes
with a literal-replace chain that first swaps ``\\\\\\\\`` for the
sentinel U+0001, so ``\\\\t`` (an escaped backslash, then t) never
becomes a tab. The unescape is exact for input without a raw U+0001
byte.

Reference parity: the reference ingests ONLY mysqldump INSERT format
(sync.py:29-120); this module is the Spark-first breadth a real
database-syncer user needs the week they point it at a Postgres
instance. No reference code exists for it — cited for absence.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from database_syncer_spark.sources.dump import (TableSchema, _dump_head,
                                                _matching_paren_body,
                                                _resolve_pk,
                                                _split_top_level)

__all__ = [
    "read_pg_dump", "read_pg_dump_with_schemas", "write_pg_dump",
    "parse_pg_create_table", "sniff_dump_dialect",
]

# --- DDL ------------------------------------------------------------------

#: PostgreSQL type -> Spark cast target
_PG_TYPE_MAP = [
    (re.compile(r"^bigint|^bigserial", re.I), "bigint"),
    (re.compile(r"^smallint", re.I), "smallint"),
    (re.compile(r"^(integer|int|serial)", re.I), "int"),
    (re.compile(r"^(numeric|decimal)\s*\((\d+)\s*,\s*(\d+)\)", re.I), None),
    (re.compile(r"^(numeric|decimal)", re.I), "decimal(38,18)"),
    (re.compile(r"^double\s+precision", re.I), "double"),
    (re.compile(r"^real", re.I), "float"),
    (re.compile(r"^boolean", re.I), "boolean"),
    (re.compile(r"^timestamp", re.I), "timestamp_ntz"),
    (re.compile(r"^date", re.I), "date"),
    (re.compile(r"^(text|character|varchar|char|uuid|json)", re.I), "string"),
    (re.compile(r"^bytea", re.I), "binary"),
]


_PG_CREATE_RE = re.compile(
    r'CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(?:[\w$]+\.)?"?(\w+)"?\s*\(',
    re.I)
_PG_COL_RE = re.compile(r'^"?(\w+)"?\s+(.+?)(?:\s+NOT\s+NULL|\s+DEFAULT\s.*)?$',
                        re.I)
#: ``COPY [schema.]table (c1, c2, ...) FROM stdin;`` (pg_dump always emits
#: the column list; a list-free header falls back to DDL column order)
_PG_COPY_RE = re.compile(
    r'^COPY\s+(?:[\w$]+\.)?"?(\w+)"?\s*(?:\(([^)]*)\))?\s+FROM\s+stdin;\s*$',
    re.I)


def parse_pg_create_table(stmt: str) -> tuple[str, list[tuple[str, str]]] | None:
    """Parse one pg CREATE TABLE statement -> (table, [(col, pg_type)]).

    Constraint lines (PRIMARY KEY / CONSTRAINT / CHECK / UNIQUE) are
    skipped — pg_dump emits PKs as post-data ALTER TABLE anyway."""
    m = _PG_CREATE_RE.search(stmt)
    if not m:
        return None
    cols: list[tuple[str, str]] = []
    for piece in _split_top_level(_matching_paren_body(stmt[m.end() - 1:])):
        piece = piece.strip()
        if not piece or re.match(
                r"^(PRIMARY\s+KEY|CONSTRAINT|CHECK|UNIQUE|FOREIGN\s+KEY)",
                piece, re.I):
            continue
        cm = _PG_COL_RE.match(piece)
        if cm:
            cols.append((cm.group(1), cm.group(2).strip()))
    return m.group(1), cols


_PG_INLINE_PK_RE = re.compile(r"PRIMARY\s+KEY\s*\(([^)]*)\)", re.I)
_PG_ALTER_PK_RE = re.compile(
    r'ALTER\s+TABLE\s+(?:ONLY\s+)?(?:[\w$]+\.)?"?(\w+)"?\s+'
    r"ADD\s+CONSTRAINT\s+\S+\s+PRIMARY\s+KEY\s*\(([^)]*)\)",
    re.I | re.S)


def _declared_pk(table: str, create_stmt: str, ddl_text: str) -> list[str]:
    """PK columns ``table`` declares: the inline table constraint, else
    the post-data ALTER (pg_dump's layout), else none."""
    m = _PG_INLINE_PK_RE.search(create_stmt)
    if m:
        return [c.strip().strip('"') for c in m.group(1).split(",")]
    for am in _PG_ALTER_PK_RE.finditer(ddl_text):
        if am.group(1) == table:
            return [c.strip().strip('"') for c in am.group(2).split(",")]
    return []


def sniff_dump_dialect(path: str) -> str:
    """'postgres' | 'mysql' from the first 64 KB of a dump's head file
    (``dump._dump_files``) — driver-side, KB-scale. pg plain
    dumps announce themselves (`-- PostgreSQL database dump`) or carry a
    COPY header; mysqldump files carry INSERT INTO / ENGINE= / backtick
    DDL. Defaults to mysql (the reference's only dialect) when neither
    signature appears."""
    head = _dump_head(path).decode("utf-8", errors="replace")
    if ("PostgreSQL database dump" in head
            or re.search(r"^COPY\s.+\sFROM stdin;\s*$", head, re.M)):
        return "postgres"
    return "mysql"


# --- read -----------------------------------------------------------------

def _unescape(col: F.Column) -> F.Column:
    """COPY text-format unescape as a literal-replace chain (JVM-side,
    no per-value regex): double-backslash first via a sentinel so
    ``\\\\t`` (escaped literal backslash + t) never becomes a tab."""
    c = F.replace(col, F.lit("\\\\"), F.lit("\x01"))
    c = F.replace(c, F.lit("\\t"), F.lit("\t"))
    c = F.replace(c, F.lit("\\n"), F.lit("\n"))
    c = F.replace(c, F.lit("\\r"), F.lit("\r"))
    return F.replace(c, F.lit("\x01"), F.lit("\\"))


def read_pg_dump(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """Ingest a pg_dump plain-format file (or a directory of shard
    files) -> {table_name: DataFrame}, each column cast to its DDL type.
    See the module docstring for the four-stage distributed shape."""
    return read_pg_dump_with_schemas(spark, path)[0]


def read_pg_dump_with_schemas(
    spark: SparkSession, path: str, tables: list[str] | None = None,
) -> tuple[dict[str, DataFrame], dict[str, TableSchema]]:
    """``read_pg_dump`` plus each table's ``TableSchema`` (columns, PK
    from the inline constraint or pg_dump's post-data ALTER) — what
    ``sync_dumps`` consumes. ``tables`` restricts ingest:
    unrequested tables' COPY blocks are dropped at the RANGE level, so
    their data lines are filtered by the broadcast join without ever
    being split or unescaped."""
    lines = (spark.read.text(path)
             .select(F.monotonically_increasing_id().alias("lid"),
                     F.input_file_name().alias("fname"),
                     "value"))

    # Stage 2: markers only (tiny), driver-side state machine per file.
    markers = (lines.where(
        F.col("value").rlike(r"^COPY\s.+\sFROM stdin;\s*$")
        | (F.col("value") == "\\."))
        .collect())
    by_file: dict[str, list] = {}
    for r in markers:
        by_file.setdefault(r.fname, []).append(r)
    ranges = []  # (fname, start_lid_excl, end_lid_excl, table, cols_csv)
    for fname, ms in by_file.items():
        ms.sort(key=lambda r: r.lid)
        open_hdr = None
        for r in ms:
            if open_hdr is None:
                m = _PG_COPY_RE.match(r.value)
                if m:  # a stray "\." outside any block is ignorable DDL noise
                    open_hdr = (r.lid, m.group(1), m.group(2) or "")
            elif r.value == "\\.":
                ranges.append((fname, open_hdr[0], r.lid,
                               open_hdr[1], open_hdr[2]))
                open_hdr = None
            # a COPY-looking line INSIDE a block is data, not a header
        if open_hdr is not None:
            raise ValueError(
                f"pg dump {fname}: COPY block for table "
                f"'{open_hdr[1]}' has no \\. terminator")

    # DDL: everything outside the data blocks (KB-scale — comments, SETs,
    # CREATE TABLE, post-data ALTERs), collected distributed then parsed
    # driver-side, same division of labor as the mysql reader.
    in_block = F.lit(False)
    for fname, s, e, _, _ in ranges:
        in_block = in_block | ((F.col("fname") == fname)
                               & (F.col("lid") >= s) & (F.col("lid") <= e))
    ddl_text = "\n".join(
        r.value for r in lines.where(~in_block).collect())
    schemas: dict[str, TableSchema] = {}
    for stmt in ddl_text.split(";"):
        parsed = parse_pg_create_table(stmt)
        if parsed:
            name, cols = parsed
            schemas[name] = TableSchema(
                name=name, columns=cols,
                pk_cols=_resolve_pk(_declared_pk(name, stmt, ddl_text),
                                    [c for c, _ in cols]),
                # no trailing ";" — consumers (ddl_statements) append it,
                # matching the mysql TableSchema convention
                create_stmt=stmt.strip(), type_map=_PG_TYPE_MAP)

    out: dict[str, DataFrame] = {}
    found_tables = sorted({t for _, _, _, t, _ in ranges})
    if tables is not None:
        found_tables = [t for t in found_tables if t in set(tables)]
        schemas = {n: s for n, s in schemas.items() if n in set(tables)}
    for table in found_tables:
        t_ranges = [(f, s, e, cols) for f, s, e, t, cols in ranges
                    if t == table]
        cols_csv = t_ranges[0][3]
        if cols_csv:
            col_names = [c.strip().strip('"') for c in cols_csv.split(",")]
        elif table in schemas:
            col_names = schemas[table].column_names
        else:
            col_names = []
        if not col_names:
            raise ValueError(f"pg dump: no column list or DDL for {table}")

        # Stage 3: broadcast range join — block bounds per file.
        rng = spark.createDataFrame(
            [(f, s, e) for f, s, e, _ in t_ranges],
            "rf string, rs long, re long")
        data = (lines.join(
            F.broadcast(rng),
            (F.col("fname") == F.col("rf"))
            & (F.col("lid") > F.col("rs")) & (F.col("lid") < F.col("re")),
            "inner")
            .select("value"))

        # Stage 4: split / NULL-mark / unescape / cast — all built-ins.
        fields = F.split(F.col("value"), "\t", -1)
        raw_cols = [
            F.when(fields[i] == "\\N", F.lit(None))
            .otherwise(_unescape(fields[i])).alias(name)
            for i, name in enumerate(col_names)]
        df = data.select(*raw_cols)
        if table in schemas:
            spark_types = dict(schemas[table].spark_types())
            df = df.select(*[
                F.col(c).cast(spark_types[c]).alias(c)
                if c in spark_types else F.col(c)
                for c in col_names])
        out[table] = df
    return out, schemas


# --- write ----------------------------------------------------------------

_SPARK_TO_PG = {
    "bigint": "bigint", "int": "integer", "smallint": "smallint",
    "double": "double precision", "float": "real", "boolean": "boolean",
    "timestamp": "timestamp without time zone",
    "timestamp_ntz": "timestamp without time zone", "date": "date",
    "string": "text", "binary": "bytea",
}


def _pg_field(col: F.Column, dtype) -> F.Column:
    """Render one column as a COPY text-format field (JVM-side)."""
    from pyspark.sql import types as T

    if isinstance(dtype, T.StringType):
        v = F.replace(col, F.lit("\\"), F.lit("\\\\"))
        v = F.replace(v, F.lit("\t"), F.lit("\\t"))
        v = F.replace(v, F.lit("\n"), F.lit("\\n"))
        v = F.replace(v, F.lit("\r"), F.lit("\\r"))
    elif isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        v = F.date_format(col, "yyyy-MM-dd HH:mm:ss.SSSSSS")
    elif isinstance(dtype, T.DateType):
        v = F.date_format(col, "yyyy-MM-dd")
    elif isinstance(dtype, T.BooleanType):
        # no otherwise(): NULL stays NULL and renders as \N below
        v = F.when(col, F.lit("t")).when(~col, F.lit("f"))
    else:
        v = col.cast("string")
    return F.coalesce(v, F.lit("\\N"))


def write_pg_dump(df: DataFrame, table: str, pk_cols: list[str],
                  path: str) -> None:
    """Render a DataFrame as a pg_dump plain-format file — distributed.

    Layout follows pg_dump: CREATE TABLE, COPY block, post-data PRIMARY
    KEY constraint. Data lines render JVM-side; the ``\\.`` terminator
    and the constraint are one trailing row unioned after them (a union
    keeps its inputs' partition order), and ``write_script`` publishes
    the lot, as for ``write_sql_dump``."""
    from database_syncer_spark.core.script import write_script

    dtypes = {f.name: f.dataType for f in df.schema.fields}
    rendered = df.select(F.concat_ws(
        "\t", *[_pg_field(F.col(c), dtypes[c]) for c in df.columns])
        .alias("statement"))

    col_defs = []
    for f in df.schema.fields:
        st = f.dataType.simpleString()
        pg_t = (st.replace("decimal", "numeric") if st.startswith("decimal")
                else _SPARK_TO_PG.get(st.split("(")[0], "text"))
        null_sfx = " NOT NULL" if f.name in pk_cols else ""
        col_defs.append(f"    {f.name} {pg_t}{null_sfx}")
    header = "\n".join([
        "--",
        "-- PostgreSQL database dump",
        "--",
        "",
        "SET client_encoding = 'UTF8';",
        "",
        f"CREATE TABLE public.{table} (",
        ",\n".join(col_defs),
        ");",
        "",
        f"COPY public.{table} ({', '.join(df.columns)}) FROM stdin;",
    ])
    footer = "\n".join([
        "\\.",
        "",
        f"ALTER TABLE ONLY public.{table}",
        f"    ADD CONSTRAINT {table}_pkey PRIMARY KEY "
        f"({', '.join(pk_cols)});",
    ])
    footer_row = df.sparkSession.createDataFrame([(footer,)],
                                                 "statement string")
    write_script(rendered.unionByName(footer_row), path, header=header)
