"""Output checks. Each compares a program output with what the generator
planted (or with the DuckDB oracle) and raises ``CheckFailed`` on any
difference. They run outside the timed region."""

from __future__ import annotations

import hashlib
import re
from decimal import Decimal

from gen import digest_lines, row_key


class CheckFailed(Exception):
    pass


_DML = re.compile(r"^(DELETE FROM|UPDATE|INSERT INTO) `([^`]+)` (.*)$")
#: One SQL literal as the script renders it: a quoted string (quotes
#: doubled inside), NULL or a number.
_LIT = r"'(?:[^']|'')*'|NULL|-?\d+(?:\.\d+)?(?:E[-+]?\d+)?"
_VALUES = re.compile(rf"VALUES \(((?:{_LIT})(?:, (?:{_LIT}))*)\);")
_SET = re.compile(rf"SET ((?:`\w+` = (?:{_LIT}))(?:, `\w+` = (?:{_LIT}))*)"
                  r" WHERE ")
_ASSIGN = re.compile(rf"`(\w+)` = ({_LIT})")


def _pk_from_where(rest: str, pk: list[str]) -> str:
    vals = []
    for col in pk:
        m = re.search(rf"`{col}` = (-?\d+)(?: AND|;)", rest)
        if not m:
            raise CheckFailed(f"no key {col} in statement: {rest[:120]}")
        vals.append(m.group(1))
    return ",".join(vals)


def _pk_from_values(rest: str, pk: list[str]) -> str:
    m = re.match(r"VALUES \(" + r",\s*".join([r"(-?\d+)"] * len(pk)), rest)
    if not m:
        raise CheckFailed(f"no leading key in INSERT: {rest[:120]}")
    return ",".join(m.groups())


def _literal(lit: str, kind: str):
    """A rendered literal's value, normalized by its column's kind."""
    if lit == "NULL":
        return None
    text = lit[1:-1].replace("''", "'") if lit.startswith("'") else lit
    return _value(text, kind)


def _value(text: str, kind: str):
    """A value by its column's kind (see ``gen.TABLES``): numbers compare
    by value and dates by their day, so the check does not pin the
    script's number or timestamp format."""
    if kind == "i":
        return int(text)
    if kind == "d":
        return Decimal(text)
    if kind == "t":
        m = re.fullmatch(r"(\d{4}-\d{2}-\d{2})(?: 00:00:00(?:\.0*)?)?", text)
        return m.group(1) if m else text
    return text


def _check_values(table: str, kind: str, key: str, rest: str,
                  exp: dict) -> None:
    """The values an UPDATE sets (every non-key column, in column order)
    or an INSERT carries (every column) must equal the production row the
    generator planted for that key."""
    row = exp["rows"][kind].get(key)
    if row is None:  # an unplanted key: the key-set check reports it
        return
    pairs = list(zip(row, exp["kinds"]))
    if kind == "INSERT":
        m = _VALUES.fullmatch(rest)
        got = re.findall(_LIT, m.group(1)) if m else None
    else:
        m = _SET.match(rest)
        assigned = _ASSIGN.findall(m.group(1)) if m else []
        got = [lit for _, lit in assigned] if m else None
        pairs = pairs[len(exp["pk"]):]
    if got is None or len(got) != len(pairs):
        raise CheckFailed(f"{table} {kind} {key}: cannot read values from "
                          f"{rest[:120]}")
    for lit, (want, col_kind) in zip(got, pairs):
        try:
            same = _literal(lit, col_kind) == _value(str(want), col_kind)
        except (ValueError, ArithmeticError):
            same = False
        if not same:
            raise CheckFailed(f"{table} {kind} {key}: value {lit} differs "
                              f"from the planted {want!r}")


def check_script(path: str, expected: dict) -> str:
    """Statement counts and key sets per table and section must equal the
    planted changes, every UPDATE and INSERT must carry the planted
    production values, the DDL section must drop/create the one-sided
    tables, and sections must come in DDL, DELETE, UPDATE, INSERT order.
    Returns the script digest (for the stable-across-iterations check)."""
    with open(path, encoding="utf-8") as fh:
        text = fh.read()
    keys: dict[tuple[str, str], list[str]] = {}
    order = {"DELETE": 1, "UPDATE": 2, "INSERT": 3}
    last = 0
    for line in text.splitlines():
        m = _DML.match(line)
        if not m:
            continue
        verb, table, rest = m.groups()
        kind = verb.split()[0]
        if order[kind] < last:
            raise CheckFailed(f"{kind} statement after a later section")
        last = order[kind]
        if table not in expected["tables"]:
            raise CheckFailed(f"statement for unexpected table {table}")
        exp = expected["tables"][table]
        key = (_pk_from_values(rest, exp["pk"]) if kind == "INSERT"
               else _pk_from_where(rest, exp["pk"]))
        keys.setdefault((table, kind), []).append(key)
        if kind != "DELETE":
            _check_values(table, kind, key, rest, exp)
    for table, exp in expected["tables"].items():
        for kind, n in exp["counts"].items():
            got = keys.get((table, kind), [])
            if len(got) != n:
                raise CheckFailed(f"{table} {kind}: {len(got)} statements,"
                                  f" planted {n}")
            if sorted(got) != exp["keys"][kind]:
                raise CheckFailed(f"{table} {kind}: key set differs")
    for t in expected["drop"] + expected["create"]:
        if f"DROP TABLE IF EXISTS `{t}`;" not in text:
            raise CheckFailed(f"no DROP for {t}")
    for t in expected["create"]:
        if f"CREATE TABLE `{t}`" not in text:
            raise CheckFailed(f"no CREATE for {t}")
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def check_state(rows, expected: dict) -> None:
    """Final CDC state (rows as tuples in state column order) must equal
    the generator's expected row count and digest."""
    if len(rows) != expected["final_rows"]:
        raise CheckFailed(f"final state has {len(rows)} rows, expected "
                          f"{expected['final_rows']}")
    if digest_lines(row_key(r) for r in rows) != expected["final_digest"]:
        raise CheckFailed("final state digest differs")


_CTE = re.compile(r"\n(\w+) AS \(")


def materialize_ctes(sql: str) -> str:
    """Mark each ``name AS (`` CTE of an oracle query ``MATERIALIZED``.
    Same result; without it DuckDB re-evaluates the CTE chain under the
    recursive packing replay on every step (corpus_curate's oracle: 13.8
    s on 150 docs, against 0.15 s materialized)."""
    return _CTE.sub(lambda m: f"\n{m.group(1)} AS MATERIALIZED (", sql)


def oracle_digest(con, sql: str) -> str:
    """Canonical digest of an oracle query's rows (DuckDB)."""
    from database_syncer_spark.oracle import canon_rows

    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return digest_lines(canon_rows(cols, cur.fetchall()))


def result_digest(columns: list[str], rows) -> str:
    """Canonical digest of a Spark result, comparable to oracle_digest."""
    from database_syncer_spark.oracle import canon_rows

    return digest_lines(canon_rows(columns, [tuple(r) for r in rows]))
