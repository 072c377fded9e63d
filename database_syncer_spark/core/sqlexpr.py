"""Quoting for Spark SQL expression strings.

Per-column projections are built as SQL expression strings and handed to
``selectExpr``/``F.expr`` in one call per projection: in PySpark every
``F.*``/``Column`` call is a JVM round trip (and captures its Python call
site), so a wide table's projection costs hundreds of round trips when
built from Column objects, and one when built from a string.
"""

from __future__ import annotations


def quote_ident(name: str) -> str:
    """A column or field name as a Spark SQL identifier (backticks
    doubled), so any name — spaces, dots, backticks — refers to itself."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(value: str) -> str:
    """A Python string as a Spark SQL string constant. Spark's parser
    reads a backslash in a string literal as an escape (unless
    ``spark.sql.parser.escapedStringLiterals`` is set, which this
    package never does), so backslashes and single quotes are both
    backslash-escaped."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
