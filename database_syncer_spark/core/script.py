"""Sync-script sink: render the CDC changes DataFrame as ordered SQL text.

Reference behavior (sync.py:304-437): emit DROP TABLE -> CREATE TABLE ->
DELETE -> UPDATE -> INSERT sections, UPDATE statements SET production
values / WHERE backup PK (sync.py:175-197), DELETE by PK (sync.py:199-215),
INSERT re-emitted positionally (sync.py:69, :388-395).

Spark-first differences:
- statement text is built with built-in string expressions
  (``concat``/``concat_ws``) inside codegen — no Python in the row path —
  written as SQL expression strings, one driver call per projection;
- ordering is EXPLICIT (section rank, then PK) because dict insertion
  order does not survive a shuffle (SURVEY.md §2 ordering note);
- the sink is a DataFrame of one ``statement`` string column, so at scale
  it writes distributed text (``df.write.text``); ``assemble_script``
  collects only for small scripts / parity display.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from database_syncer_spark.core.diff import CHANGE_TYPE, DELETE, INSERT, UPDATE
from database_syncer_spark.core.sqlexpr import quote_ident, sql_string

SECTION_RANK = {DELETE: 2, UPDATE: 3, INSERT: 4}  # DROP=0, CREATE=1 are DDL

_QUOTE, _QUOTE2 = sql_string("'"), sql_string("''")


def sql_literal(name: str, dtype: T.DataType) -> str:
    """SQL expression rendering column ``name`` of type ``dtype`` as a
    SQL literal string (JVM-side): strings quoted with ``'`` doubled,
    dates/timestamps quoted with 6-digit microseconds, booleans as
    TRUE/FALSE, everything else cast to string, NULL as ``NULL``."""
    c = quote_ident(name)
    if isinstance(dtype, T.StringType):
        # replace is a literal substring swap (no Java regex compile /
        # match per value — measurably cheaper than regexp_replace on
        # millions of rendered rows).
        lit = f"concat({_QUOTE}, replace({c}, {_QUOTE}, {_QUOTE2}), {_QUOTE})"
    elif isinstance(dtype, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        lit = (f"concat({_QUOTE}, date_format({c}, "
               f"'yyyy-MM-dd HH:mm:ss.SSSSSS'), {_QUOTE})")
    elif isinstance(dtype, T.BooleanType):
        lit = f"CASE WHEN {c} THEN 'TRUE' WHEN NOT {c} THEN 'FALSE' END"
    else:
        lit = f"CAST({c} AS STRING)"
    return f"coalesce({lit}, 'NULL')"


def generate_sync_script(changes: DataFrame, table: str, pk_cols: list[str],
                         ident_quote: str = "`",
                         ordered: bool = True) -> DataFrame:
    """changes CDC DataFrame -> DataFrame of SQL statement strings.

    Returns columns ``(section int, statement string)`` ordered by
    (section, pk) — apply order DELETE -> UPDATE -> INSERT, matching the
    reference's script layout (sync.py:318-395). ``ordered=False``
    returns the same rows unsorted, with the PK as ``__k0, __k1, ...``
    columns (``sort_statements`` orders them later), for callers that
    sort a union of several tables' statements once
    (``compare_sql_files``): Spark keeps a Sort below a Union even when a
    Sort above it discards that order.

    ``ident_quote``: identifier quoting character — backtick (MySQL, the
    reference's dialect) by default; pass ``'"'`` for an ANSI script that
    executors like DuckDB/Postgres accept verbatim (core/executor.py).
    """
    q = ident_quote
    value_cols = [c for c in changes.columns if c != CHANGE_TYPE]
    non_pk = [c for c in value_cols if c not in pk_cols]
    dtypes = {f.name: f.dataType for f in changes.schema.fields}
    lits = {c: sql_literal(c, dtypes[c]) for c in value_cols}

    def joined(sep: str, parts: list[str]) -> str:
        return f"concat_ws({', '.join([sql_string(sep), *parts])})"

    def assignments(cols: list[str], sep: str) -> str:
        return joined(sep, [f"concat({sql_string(f'{q}{c}{q} = ')}, {lits[c]})"
                            for c in cols])

    where_clause = assignments(pk_cols, " AND ")
    ct = quote_ident(CHANGE_TYPE)
    stmt = (
        f"CASE {ct} "
        f"WHEN '{DELETE}' THEN concat("
        f"{sql_string(f'DELETE FROM {q}{table}{q} WHERE ')}, {where_clause}, ';') "
        f"WHEN '{UPDATE}' THEN concat("
        f"{sql_string(f'UPDATE {q}{table}{q} SET ')}, {assignments(non_pk, ', ')}, "
        f"' WHERE ', {where_clause}, ';') "
        # Positional INSERT, as the reference re-emits it (sync.py:69).
        f"ELSE concat({sql_string(f'INSERT INTO {q}{table}{q} VALUES (')}, "
        f"{joined(', ', [lits[c] for c in value_cols])}, ');') END"
    )
    section = (f"CASE {ct} WHEN '{DELETE}' THEN {SECTION_RANK[DELETE]} "
               f"WHEN '{UPDATE}' THEN {SECTION_RANK[UPDATE]} "
               f"ELSE {SECTION_RANK[INSERT]} END")
    rows = changes.selectExpr(
        f"{section} AS section", f"{stmt} AS statement",
        *[f"{quote_ident(c)} AS __k{i}" for i, c in enumerate(pk_cols)])
    return sort_statements(rows) if ordered else rows


def sort_statements(rows: DataFrame) -> DataFrame:
    """``generate_sync_script(..., ordered=False)`` rows -> the ordered
    ``(section, statement)`` frame: sorted by section, then by the
    ``__k<i>`` PK columns, which are then dropped."""
    keys = [c for c in rows.columns if c.startswith("__k")]
    return rows.orderBy("section", *keys).select("section", "statement")


def ddl_statements(catalog: dict[str, list[str]],
                   create_ddl: dict[str, str] | None = None) -> list[str]:
    """DROP/CREATE section from a catalog diff (reference sync.py:318-341)."""
    create_ddl = create_ddl or {}
    out = [f"DROP TABLE IF EXISTS `{t}`;" for t in catalog.get("drop", [])]
    for t in catalog.get("create", []):
        out.append(f"DROP TABLE IF EXISTS `{t}`;")
        out.append(create_ddl.get(t, f"-- CREATE TABLE `{t}` (DDL unavailable);"))
    return out


def write_script(statements: DataFrame, path: str,
                 header: str = "-- sync script",
                 ddl: list[str] | None = None) -> None:
    """Write a statement DataFrame to ONE script file, scalably.

    The upstream ``orderBy`` range-partitions, so part files in filename
    order ARE global statement order; executors write the text parts in
    parallel and the driver only streams the parts together
    (O(1) memory) — never collecting the script like ``assemble_script``.
    The file is assembled under a sibling name unique to this call and
    renamed into place (atomic on one filesystem), so a failed write
    leaves any previous file at ``path`` intact and never a truncated
    one, and two writers of one ``path`` never share a file.
    """
    import glob as _glob
    import os
    import shutil
    import tempfile
    import uuid

    parts_dir = tempfile.mkdtemp(prefix="dss_script_parts_")
    tmp_path = f"{path}.{uuid.uuid4().hex}.tmp"
    try:
        (statements.select("statement")
         .write.mode("overwrite").text(parts_dir))
        with open(tmp_path, "x", encoding="utf-8") as out_fh:
            out_fh.write(header + "\n")
            for line in ddl or []:
                out_fh.write(line + "\n")
            for part in sorted(_glob.glob(os.path.join(parts_dir, "part-*"))):
                with open(part, "r", encoding="utf-8") as in_fh:
                    shutil.copyfileobj(in_fh, out_fh)
        os.replace(tmp_path, path)
    finally:
        shutil.rmtree(parts_dir, ignore_errors=True)
        if os.path.exists(tmp_path):
            os.remove(tmp_path)


def assemble_script(statements: DataFrame, header: str = "-- sync script",
                    ddl: list[str] | None = None) -> str:
    """Collect an ordered statement DataFrame into one script string.

    Only for small scripts (parity with the reference's file output,
    sync.py:587-589); at scale use ``statements.select("statement")
    .write.text(path)`` which keeps ordering via the upstream sort.
    """
    lines = [header]
    lines.extend(ddl or [])
    lines.extend(r.statement for r in statements.select("statement").collect())
    return "\n".join(lines)
