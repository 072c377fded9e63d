"""MySQL-dump source: distributed ingest of mysqldump-style SQL text.

The reference reads the whole dump into one string and regex-parses it
(sync.py:566-573, :33-70) — O(file) driver memory, and its VALUES splitter
``\\(([^)]+)\\)`` (sync.py:112) silently truncates rows containing ``)``
inside quoted strings (SURVEY §1.2 [verified]). This rebuild:

- splits the file into statements DISTRIBUTEDLY via the native text source
  with a custom ``lineSep`` (``;\\n``) — a JVM-side codegen scan; statements
  never need to fit on one driver, and partition boundaries can't split a
  statement (the line reader carries records across split edges);
- parses DDL driver-side (DDL is tiny) into typed Spark schemas, with
  composite-PK support the reference lacks (sync.py:89-104 matches only
  single-column keys);
- tokenizes INSERT rows with a real quote-aware scanner (handles ``''``
  and backslash escapes, parens/commas/semicolons inside strings) inside
  ``map_arrow`` — Arrow-batched, one Python pass, no row-at-a-time UDF.
  This is the only row parse: a Catalyst-only tokenizer measured ~2×
  slower (7.5 s vs 3.3 s per side on a 3M-row dump, local[32]; SCALE.md);
- casts raw SQL literals to typed columns JVM-side.

Known format assumptions (same family as mysqldump defaults): statements
end with ``;`` at end of line. A literal ``;\\n`` inside a quoted value
(never emitted by conforming mysqldump, which escapes ``\\n``) is
detected by a codegen unterminated-string check and fails loudly, naming
the dump — see ``read_dump_statements``; the reference's whole-file
regex silently mis-parses the analogous ``);`` case.

Every reader runs one configuration: values cast to the DDL types, and
duplicate PKs resolved last-wins in file order — in the reader, or
inside the diff's shuffle when the caller keeps the file-order key
(``keep_seq``, ``snapshot_diff_fused``).
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from database_syncer_spark.arrow_map import map_arrow
from database_syncer_spark.core.sqlexpr import quote_ident, sql_string

__all__ = [
    "TableSchema", "read_sql_dump", "read_dump_statements",
    "parse_create_table", "tokenize_insert_rows", "write_sql_dump",
    "sync_dumps",
]

# --- DDL ------------------------------------------------------------------

#: MySQL type -> Spark cast target
_TYPE_MAP = [
    (re.compile(r"^tinyint\(1\)", re.I), "boolean"),
    (re.compile(r"^bigint", re.I), "bigint"),
    (re.compile(r"^(tiny|small|medium)?int", re.I), "int"),
    (re.compile(r"^(decimal|numeric)\s*\((\d+)\s*,\s*(\d+)\)", re.I), None),  # special
    (re.compile(r"^(decimal|numeric)", re.I), "decimal(10,0)"),
    (re.compile(r"^(float|double|real)", re.I), "double"),
    (re.compile(r"^(datetime|timestamp)", re.I), "timestamp"),
    (re.compile(r"^date", re.I), "date"),
    (re.compile(r"^(varchar|char|.*text|enum|set|time|year|json)", re.I), "string"),
    (re.compile(r"^(.*blob|binary|varbinary|bit)", re.I), "binary"),
]


def _spark_type(source_type: str, type_map) -> str:
    """Spark cast target of a DDL column type, by the first matching
    ``(pattern, target)`` of a dialect's type map (``None`` target:
    ``decimal(p,s)`` from the pattern's groups 2 and 3)."""
    for pat, target in type_map:
        m = pat.match(source_type.strip())
        if m:
            if target is None:
                return f"decimal({m.group(2)},{m.group(3)})"
            return target
    return "string"


@dataclass
class TableSchema:
    """One dump table's DDL, from either dialect's parser. The parser
    fixes ``type_map`` (``_TYPE_MAP`` here, ``pg_dump._PG_TYPE_MAP``), so
    ``spark_types`` needs no dialect branch."""
    name: str
    columns: list[tuple[str, str]]          # (name, source type)
    pk_cols: list[str]
    create_stmt: str
    type_map: list = field(repr=False)

    @property
    def column_names(self) -> list[str]:
        return [c for c, _ in self.columns]

    def spark_types(self) -> list[tuple[str, str]]:
        return [(c, _spark_type(t, self.type_map)) for c, t in self.columns]


def _resolve_pk(declared: list[str], col_names: list[str]) -> list[str]:
    """The declared PK columns, else an 'id' column, else the first
    column. The reference falls back to 'id' too (sync.py:97-104) and
    keys on values[0] when that is missing (sync.py:169-171); a declared
    name that is not a column falls back the same way."""
    if not declared:
        declared = ["id"] if "id" in col_names else col_names[:1]
    return [c for c in declared if c in col_names] or col_names[:1]


_CREATE_RE = re.compile(r"CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?[`\"]?(\w+)[`\"]?", re.I)
_COL_RE = re.compile(r"^[`\"]?(\w+)[`\"]?\s+(\S+)")
_PK_RE = re.compile(r"^PRIMARY\s+KEY\s*\((.*)\)", re.I)
_IDENT_RE = re.compile(r"[`\"]?(\w+)[`\"]?")


def _matching_paren_body(stmt: str) -> str:
    """Text between the first '(' and its matching ')' — quote-aware."""
    start = stmt.index("(")
    depth, in_q = 0, None
    for i in range(start, len(stmt)):
        ch = stmt[i]
        if in_q:
            if ch == in_q:
                in_q = None
            continue
        if ch in "'\"":
            in_q = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return stmt[start + 1:i]
    return stmt[start + 1:]


def _split_top_level(body: str) -> list[str]:
    """Split on ``,`` at paren depth 0, honoring quotes."""
    parts, buf, depth, in_q = [], [], 0, None
    for ch in body:
        if in_q:
            buf.append(ch)
            if ch == in_q:
                in_q = None
            continue
        if ch in "'\"":
            in_q = ch
            buf.append(ch)
        elif ch == "(":
            depth += 1
            buf.append(ch)
        elif ch == ")":
            depth -= 1
            buf.append(ch)
        elif ch == "," and depth == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    if buf:
        parts.append("".join(buf))
    return parts


def parse_create_table(stmt: str) -> TableSchema | None:
    """Parse one CREATE TABLE statement (reference sync.py:33-52, :74-104;
    unlike the reference we keep types and support composite PRIMARY KEY)."""
    m = _CREATE_RE.search(stmt)
    if not m:
        return None
    name = m.group(1)
    body = _matching_paren_body(stmt)
    columns: list[tuple[str, str]] = []
    pk: list[str] = []
    auto_inc: str | None = None
    for raw in _split_top_level(body):
        line = raw.strip()
        if not line:
            continue
        pkm = _PK_RE.match(line)
        if pkm:
            pk = _IDENT_RE.findall(pkm.group(1))
            continue
        upper = line.upper()
        if upper.startswith(("KEY", "UNIQUE", "INDEX", "CONSTRAINT", "FOREIGN", "FULLTEXT", "SPATIAL", "CHECK")):
            continue
        cm = _COL_RE.match(line)
        if not cm:
            continue
        columns.append((cm.group(1), cm.group(2)))
        if auto_inc is None and "AUTO_INCREMENT" in upper:
            auto_inc = cm.group(1)
    # the reference's fallback chain (sync.py:97-104) starts at the
    # AUTO_INCREMENT column
    pk = _resolve_pk(pk or ([auto_inc] if auto_inc else []),
                     [c for c, _ in columns])
    return TableSchema(name=name, columns=columns, pk_cols=pk,
                       create_stmt=stmt.strip(), type_map=_TYPE_MAP)


# --- value tokenizer --------------------------------------------------------

#: One parenthesized row whose body is plain chars or COMPLETE quoted
#: strings (with \x and '' escapes) — quote-aware at C regex speed.
_FAST_ROW_RE = re.compile(
    r"\((?P<body>(?:[^()'\"]|'(?:[^'\\]|\\.|'')*'|\"(?:[^\"\\]|\\.|\"\")*\")*)\)"
)
#: One value, CONSUMING its leading comma (the body gets a "," prepended
#: before extraction, so match count == value count and no match is ever
#: zero-length): wholly-quoted string, or a bare literal containing no
#: quote chars. Anything else fails -> scan fallback.
_FAST_VAL_RE = re.compile(
    r",\s*('(?:[^'\\]|\\.|'')*'|\"(?:[^\"\\]|\\.|\"\")*\"|[^,'\"]*?)\s*(?=,|\Z)"
)
_SEP_CHARS = " \t\r\n,;"

#: full-match hex literal (>=1 digit: MySQL keeps a bare '0x' as raw
#: text, so a zero-digit '0x' stays raw in both the fast path and the
#: scanner)
_HEX_LIT_RE = re.compile(r"0[xX][0-9A-Fa-f]+\Z")
#: introducer/typed-literal prefix before a quoted string: a charset
#: introducer (_utf8mb4'…'), a hex string literal (X'…'), or a bit
#: literal (b'…'). \w+ is ASCII-bounded (re.A): charset names are.
_INTRODUCER_RE = re.compile(r"(_\w+|[XxBb])\s*(?=['\"])", re.A)


def _decode_hex_literal(h: str) -> str:
    """MySQL hex literal body -> the text it encodes. mysqldump emits
    hex (``--hex-blob``, and always for binary-ish columns) as raw
    BYTES; this engine's typed frames carry strings, so the bytes must
    decode as UTF-8 — anything else fails LOUD (r9 verdict: a
    conforming dump must round-trip or error, never silently mis-parse;
    before this existed, ``0x414243`` ingested as the nine-char text
    "0x414243")."""
    try:
        return bytes.fromhex(h).decode("utf-8")
    except (ValueError, UnicodeDecodeError) as exc:
        raise ValueError(
            f"hex literal 0x{h[:40]}{'…' if len(h) > 40 else ''} does not "
            f"decode as UTF-8 text ({exc}); non-text binary payloads need "
            "a binary-typed column mapping this engine does not ingest "
            "from dumps yet — fail-loud by design") from exc


def _bare_literal(raw: str) -> str | None:
    """Interpret an unquoted value token: NULL, hex literal, else the
    raw text (numbers and other literals are cast downstream)."""
    c0 = raw[:1]
    if (c0 == "N" or c0 == "n") and raw.upper() == "NULL":
        return None
    if c0 == "0" and raw[1:2] in ("x", "X") and _HEX_LIT_RE.match(raw):
        return _decode_hex_literal(raw[2:])
    return raw


def _unquote_prefixed(raw: str) -> str:
    """Unquote a value token that contains a quoted string, honoring a
    leading introducer: ``_charset'…'`` (annotation only — the payload
    is already the dump file's encoding), ``X'4142'`` (hex string),
    ``b'1010'`` (bit literal -> its decimal text, matching how MySQL
    integer-casts bit values). A quote-bearing token that is neither
    wholly quoted nor introducer-prefixed is malformed SQL: loud."""
    c0 = raw[0]
    if c0 == "'" or c0 == '"':
        return _unquote(raw)
    m = _INTRODUCER_RE.match(raw)
    if m is None:
        raise ValueError(
            f"unparseable quoted literal in dump VALUES: {raw[:80]!r}")
    prefix = m.group(1)
    inner = _unquote(raw[m.end():])
    if prefix in ("X", "x"):
        return _decode_hex_literal(inner)
    if prefix in ("B", "b"):
        return str(int(inner, 2)) if inner else "0"
    return inner


def _tokenize_fast(s: str) -> list[list[str | None]] | None:
    """Regex fast path for well-formed VALUES clauses (the overwhelmingly
    common case: every value either wholly quoted or quote-free). Returns
    None — caller falls back to the char scanner — whenever any text
    outside row parens, or any value shape, isn't strictly recognized, so
    the fast path can never silently disagree with the scanner.

    Contiguity is the validation: every extracted value must start
    exactly where the previous one ended and the last must end at EOS,
    so a body the value grammar doesn't fully explain can never be
    silently mis-tokenized. (Checking positions on the match objects
    measured faster than a separate anchored whole-body validation
    regex, and ~1.4x over the previous per-value ``match`` loop — this
    is the hottest code in dump ingest, ~30 us/row/core at 9 cols.)"""
    rows: list[list[str | None]] = []
    pos = 0
    for m in _FAST_ROW_RE.finditer(s):
        if s[pos:m.start()].strip(_SEP_CHARS):
            return None  # unrecognized text between rows
        pos = m.end()
        t = "," + m.group("body")
        vals: list[str | None] = []
        vpos = 0
        append = vals.append
        for vm in _FAST_VAL_RE.finditer(t):
            if vm.start() != vpos:
                return None  # gap: something the grammar didn't consume
            vpos = vm.end()
            raw = vm.group(1)
            c0 = raw[:1]
            if c0 == "'" or c0 == '"':
                append(_unquote(raw))
            else:
                append(_bare_literal(raw))
        if vpos != len(t):
            return None  # unconsumed tail inside the row body
        rows.append(vals)
    if s[pos:].strip(_SEP_CHARS):
        return None  # unconsumed tail (e.g. a row the regex couldn't take)
    return rows


def tokenize_insert_rows(values_part: str) -> list[list[str | None]]:
    """Split a multi-row VALUES clause into rows of raw SQL literals.

    Fast path first (`_tokenize_fast`, C-speed regex), char scan as the
    always-correct fallback. Both are property-tested equivalent
    (tests/test_tokenizer_property.py).
    """
    rows = _tokenize_fast(values_part)
    if rows is not None:
        return rows
    return _tokenize_scan(values_part)


def _tokenize_scan(values_part: str) -> list[list[str | None]]:
    """Quote-aware char scan: handles ``''`` escapes (reference handles these,
    sync.py:144-151), backslash escapes, and — unlike the reference's
    ``\\(([^)]+)\\)`` regex (sync.py:112) — parens/commas inside quoted
    strings. ``NULL`` literals come back as None; quoted strings are
    unescaped; other literals stay as their raw text.
    """
    s = values_part
    rows: list[list[str | None]] = []
    vals: list[str | None] = []
    buf: list[str] = []
    depth = 0
    in_q: str | None = None
    was_quoted = False
    i, n = 0, len(s)

    def flush() -> None:
        nonlocal buf, was_quoted
        raw = "".join(buf).strip()
        if was_quoted:
            vals.append(_unquote_prefixed(raw))
        else:
            vals.append(_bare_literal(raw))
        buf = []
        was_quoted = False

    while i < n:
        ch = s[i]
        if in_q:
            if ch == "\\" and i + 1 < n:
                buf.append(ch)
                buf.append(s[i + 1])
                i += 2
                continue
            buf.append(ch)
            if ch == in_q:
                if i + 1 < n and s[i + 1] == in_q:  # '' escape
                    buf.append(s[i + 1])
                    i += 2
                    continue
                in_q = None
            i += 1
            continue
        if ch in "'\"" and depth >= 1:
            in_q = ch
            was_quoted = True
            buf.append(ch)
        elif ch == "(":
            depth += 1
            if depth == 1:
                vals = []
                buf = []
            else:
                buf.append(ch)
        elif ch == ")":
            depth -= 1
            if depth == 0:
                flush()
                rows.append(vals)
                vals = []
            else:
                buf.append(ch)
        elif ch == "," and depth == 1:
            flush()
        elif depth >= 1:
            buf.append(ch)
        i += 1
    return rows


def _unquote(raw: str) -> str:
    q = raw[0]
    inner = raw[1:-1] if len(raw) >= 2 and raw.endswith(q) else raw[1:]
    # Escape-free fast path: the overwhelming majority of quoted values
    # contain neither backslash escapes nor doubled quotes, and the
    # per-char loop below was the single hottest spot in dump ingest.
    if "\\" not in inner and q + q not in inner:
        return inner
    out: list[str] = []
    i, n = 0, len(inner)
    while i < n:
        ch = inner[i]
        if ch == "\\" and i + 1 < n:
            nxt = inner[i + 1]
            out.append({"n": "\n", "t": "\t", "r": "\r", "0": "\0"}.get(nxt, nxt))
            i += 2
        elif ch == q and i + 1 < n and inner[i + 1] == q:
            out.append(q)
            i += 2
        else:
            out.append(ch)
            i += 1
    return "".join(out)


# --- distributed read --------------------------------------------------------

_INSERT_RE = re.compile(
    r"INSERT\s+INTO\s+[`\"]?(\w+)[`\"]?\s*(?:\(([^)]*)\))?\s*VALUES\s*(.*)",
    re.I | re.S,
)


#: low 33 bits of ``monotonically_increasing_id`` = row number within its
#: partition (the high bits are the partition id, which ``seq_hi`` already
#: supersedes — rows of one file block always share a partition).
_ROW_IN_PARTITION_MASK = (1 << 33) - 1


#: One COMPLETE quoted string of either family, escape-aware ('' "" \x),
#: with possessive quantifiers (*+) so matching is linear — no regex
#: backtracking blowup on megabyte INSERT statements.
_COMPLETE_STRING_RE = (
    r"'(?:[^'\\]|\\.|'')*+'|\"(?:[^\"\\]|\\.|\"\")*+\"")


def _has_unterminated_string(col):
    """True when a quote char survives after every complete quoted
    string (single- OR double-quoted) is stripped — i.e. the fragment
    ends (or begins) inside a string literal, which is exactly what a
    ``lineSep`` split inside a dumped value produces. A complete
    statement strips clean: its literals are whole and bare quote chars
    don't occur outside literals in dump SQL (identifiers use
    backticks). One JVM regex pass + a char-class probe."""
    return F.regexp_replace(col, _COMPLETE_STRING_RE, "").rlike("['\"]")


def _dump_files(path: str) -> list[str]:
    """A dump's files in file order: ``path`` itself, or a shard
    directory's regular files in name order, skipping names that start
    with ``_`` or ``.`` as Spark's file source does (``_SUCCESS``,
    ``.crc``). The first one is the dump's head file."""
    if not os.path.isdir(path):
        return [path]
    return [os.path.join(path, f) for f in sorted(os.listdir(path))
            if not f.startswith(("_", "."))
            and os.path.isfile(os.path.join(path, f))]


def _dump_head(path: str) -> bytes:
    """The first 64 KB of a dump's head file (b"" when there is none or
    it cannot be read) — what the dialect sniff (``sniff_dump_dialect``)
    and the statement separator sniff read."""
    try:
        with open(_dump_files(path)[0], "rb") as fh:
            return fh.read(65536)
    except (IndexError, OSError):
        return b""


def read_dump_statements(spark: SparkSession, path: str) -> DataFrame:
    """One row per SQL statement, split distributedly on ``;\\n``.

    Uses the native text source with a custom ``lineSep`` so a multi-GB
    dump splits across partitions without a statement ever straddling a
    boundary — an entirely JVM-side columnar scan (the old Hadoop-RDD
    form shipped every statement through a Python worker and pickled it
    back just to strip and filter; this one keeps the whole pass in
    whole-stage codegen, and the file-source split formula
    ``min(maxPartitionBytes, max(openCost, size/parallelism))`` already
    sizes splits for full parallelism with no Hadoop conf).

    ``(seq_hi, seq_lo)`` is a lexicographic file-order key for last-wins
    duplicate-PK semantics (reference dict overwrite, sync.py:67):
    ``seq_hi`` = the byte offset of the statement's file block
    (``_metadata.file_block_start``), ``seq_lo`` = the row's position
    within its scan partition (low bits of
    ``monotonically_increasing_id``) — strictly increasing in file order
    within a block, no extra pass. For a SHARDED dump (a directory of
    several files) ``seq_hi`` composes (shard index << 41) | block
    offset, shard order = lexicographic file name, so last-wins is
    well-defined across shards too — a later shard's row overrides an
    earlier shard's (r4; single-file reads keep the plain offset).

    A string literal that itself contains ``;\\n`` is the one input
    the separator split cannot handle (real mysqldump escapes ``\\n``
    so this never occurs in conforming dumps, but the engine ingests
    third-party dumps): a codegen unterminated-string check on each
    statement raises at execution time, naming the dump and the
    offending text, instead of silently mis-parsing — zero extra scans,
    one linear regex pass per statement.
    """
    # CRLF dumps (Windows mysqldump/editors) end statements with ";\r\n",
    # which a ";\n" lineSep never matches — the whole file would arrive
    # as ONE statement. Sniff the head driver-side (KBs, not a scan) and
    # pick the separator; btrim below strips the stray \r either way.
    head = _dump_head(path)
    # The two byte patterns are disjoint (";\r\n" has no ";\n"
    # substring), so majority vote picks the dominant convention.
    line_sep = (";\r\n" if head.count(b";\r\n") > head.count(b";\n")
                else ";\n")
    # SHARDED dump (a big database dumped as part-*.sql files): file
    # order = lexicographic file NAME, the convention shard writers
    # follow — driver-side listing, model-state scale.
    shards = _dump_files(path)
    shard_names = ([os.path.basename(f) for f in shards]
                   if len(shards) > 1 else None)

    raw_cols = (
        spark.read.option("lineSep", line_sep).text(path)
        .select(
            F.col("value").alias("frag"),
            F.col("_metadata.file_block_start").alias("__blk"),
            F.col("_metadata.file_path").alias("__fp"),
            F.monotonically_increasing_id()
             .bitwiseAND(_ROW_IN_PARTITION_MASK).alias("seq_lo"),
        )
    )
    if shard_names is None:
        # single file: seq_hi = block offset, exactly as before
        frags = raw_cols.select(
            "frag", F.col("__blk").alias("seq_hi"), "seq_lo")
    else:
        # multi-file: seq_hi = (shard index << 41) | block offset, so
        # the lexicographic (seq_hi, seq_lo) key is file-order ACROSS
        # shards and last-wins PK semantics are well-defined for
        # sharded dumps (a later shard's row overrides an earlier
        # shard's). 41 bits of offset = files up to 2 TB; 22 bits of
        # shard index = 4M files. The name->index map joins broadcast
        # on the path's basename (scheme-agnostic). _metadata.file_path
        # is a URI, so names with URI-encodable characters arrive
        # percent-ENCODED ("part 000.sql" -> "part%20000.sql") — the map
        # carries raw AND encoded spellings of every name so no shard
        # can silently miss the join (r4 review: an inner join on the
        # raw name alone dropped the whole shard).
        from urllib.parse import quote

        name_idx: dict[str, int] = {}
        for i, n in enumerate(shard_names):
            for spelling in {n, quote(n), quote(n, safe="")}:
                if name_idx.setdefault(spelling, i) != i:
                    raise ValueError(
                        f"ambiguous shard file names in {path!r}: "
                        f"{spelling!r} maps to two shards")
        idx_df = raw_cols.sparkSession.createDataFrame(
            list(name_idx.items()), "__name string, __fidx long")
        # LEFT join + assert_true: if some basename's Hadoop URI
        # encoding matches neither the raw nor the urllib-quote
        # spellings in the map, the shard must FAIL the job loudly —
        # an inner join here would silently drop the whole shard's
        # rows, the exact silent-data-loss class the spelling map was
        # built to prevent (r4 review).
        frags = (
            raw_cols
            .withColumn("__name", F.element_at(F.split("__fp", "/"), -1))
            .join(F.broadcast(idx_df), "__name", "left")
            .where(F.assert_true(
                F.col("__fidx").isNotNull(),
                F.concat(F.lit("sharded dump: file name not in shard "
                               "index (unanticipated URI encoding?): "),
                         F.col("__name"))).isNull())
            .select(
                "frag",
                (F.shiftleft("__fidx", 41) + F.col("__blk")).alias("seq_hi"),
                "seq_lo",
            )
        )
    # A fragment carries the comment BLOCK that precedes its statement
    # ("-- Dumping data for table t\nINSERT INTO t ..."): comments don't
    # end with ";\n", so they glue onto the next statement. STRIP leading
    # comment lines rather than dropping comment-prefixed fragments —
    # dropping loses the statement behind the comment (real mysqldump
    # interleaves comment blocks before every table's DDL and DML, so
    # the old filter silently lost those statements on third-party
    # dumps; caught by review r4).
    raw = F.btrim(F.col("frag"), F.lit(" \t\r\n"))
    # \s* before each comment line: mysqldump separates comment BLOCKS
    # with blank lines, and third-party dumps indent — a strip that only
    # ate one contiguous unindented block left a '--' prefix (statement
    # silently unparseable) or tripped the unterminated-string check on
    # a comment apostrophe after the gap (r4 review, reproduced).
    stmt = F.btrim(F.regexp_replace(raw, r"\A(?:\s*--[^\n]*\n?)+", ""),
                   F.lit(" \t\r\n"))
    out = frags.select(
        stmt.alias("stmt"), "seq_hi", "seq_lo",
    ).where(F.length("stmt") > 0)
    # assert_true is NULL on pass, so the filter keeps every valid row,
    # and being a filter (not an unused projection) it cannot be pruned
    # by the optimizer. Leading comment lines (which may hold odd quote
    # counts — "-- don't edit") are already stripped above, so the
    # check sees pure statement text.
    return out.where(F.assert_true(
        ~_has_unterminated_string(F.col("stmt")),
        F.concat(
            F.lit(f"unterminated string literal in dump {path} (a literal "
                  "containing ';\\n' splits a statement mid-string): "),
            F.substring("stmt", 1, 120)),
    ).isNull())


def _parse_insert_batches(schemas: dict[str, TableSchema]):
    """``map_arrow`` body: statements -> (table, vals, seq_hi, seq_lo) rows.

    ``(seq_hi, seq_lo)`` extends the statement-order key from
    ``read_dump_statements`` down to individual rows (statement position
    << 30 | row position inside the statement) so duplicate PKs can
    resolve last-wins exactly like the reference's dict overwrite
    (sync.py:67). The shift fits a long with no per-statement row limit
    in practice: the statement position is < 2^33 (the row-in-partition
    mask), a statement string is < 2^31 chars and every row takes at
    least 2 (``()``), so the row position is < 2^30 and the sum < 2^63.
    Sharded reads compose the shard index into ``seq_hi``, so last-wins
    is file order across shards too.
    """
    def run(batches):
        for b in batches:
            tables: list[str] = []
            values: list[list[str | None]] = []
            his: list[int] = []
            los: list[int] = []
            d = b.to_pydict()
            for stmt, hi, lo in zip(d["stmt"], d["seq_hi"], d["seq_lo"]):
                m = _INSERT_RE.match(stmt)
                if not m:
                    continue
                table = m.group(1)
                if table not in schemas:
                    continue
                cols = schemas[table].column_names
                # Honor an explicit column list: mysqldump emits table
                # order, but hand-written INSERTs may reorder or omit
                # columns (omitted -> NULL). The reference cannot parse
                # these at all (sync.py:55 requires the complete list in
                # table order); positional stays the fast path.
                remap = None
                n_expect = len(cols)
                if m.group(2) and m.group(2).strip():
                    # MySQL identifiers are case-insensitive: match the
                    # listed names to schema columns via .lower() on both
                    # sides, and SKIP statements whose list doesn't fully
                    # resolve (a typo'd name would otherwise silently
                    # ingest NULLs into every column, PK included).
                    listed = [c.strip().strip('`"').lower()
                              for c in m.group(2).split(",")]
                    cols_l = [c.lower() for c in cols]
                    if any(c not in cols_l for c in listed):
                        continue
                    if listed != cols_l:
                        pos = {c: i for i, c in enumerate(listed)}
                        remap = [pos.get(c) for c in cols_l]
                    n_expect = len(listed)
                base = lo << 30
                for row_idx, row in enumerate(tokenize_insert_rows(m.group(3))):
                    if len(row) == n_expect:
                        if remap is not None:
                            row = [row[i] if i is not None else None
                                   for i in remap]
                        tables.append(table)
                        values.append(row)
                        his.append(hi)
                        los.append(base + row_idx)
            yield tables, values, his, los

    return run


def read_sql_dump(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """Ingest a SQL dump into a dict of DataFrames (one per table).

    The reference's parse_sql_dump (sync.py:29-72), distributed: DDL is
    parsed on the driver (tiny), DML rows are tokenized in parallel Arrow
    batches (``map_arrow``) and cast to the DDL-derived schema, and
    duplicate PKs resolve last-wins in file order (reference
    sync.py:67). ``read_sql_dump_with_schemas`` is the full form.
    """
    return read_sql_dump_with_schemas(spark, path)[0]


def read_sql_dump_with_schemas(
    spark: SparkSession, path: str, keep_seq: bool = False,
    tables: list[str] | None = None, cache_statements: bool | None = False,
) -> tuple[dict[str, DataFrame], dict[str, TableSchema]]:
    """`read_sql_dump` plus the parsed DDL, from ONE statement scan.

    The DDL collect is a full pass over the dump file (CREATEs can sit
    anywhere; mysqldump interleaves them with each table's INSERTs), but
    it is a pure JVM codegen scan — measured ~3s on a 1.3 GB dump,
    local[32]. A single-scan variant (tokenizer passes CREATEs through,
    full parse persisted, DDL collected from the cache) was measured
    SLOWER end-to-end: materializing 15M parsed rows into the block
    store to save that 3s scan costs more than the scan, and for
    single-table dumps it forces a cache the downstream diff (its only
    consumer) never needed. So by default: two scans, no cache unless
    several tables share the parse.

    ``cache_statements=True`` is the SKINNY single-scan variant that DID
    win (r8 A/B, 30 M rows/side, fresh JVM + dropped page caches per
    run): persist the pre-tokenization STATEMENT frame so the DDL
    collect materializes it once and the row parse reads it back from
    the block store instead of re-reading + re-splitting the raw file.
    Unlike the rejected full-parse persist, nothing Python-crossed or
    tokenized is cached — one string per statement. Measured cold
    101.0/95.7/99.1 s vs 138.5/96.7/108.2 s base across three
    alternating pairs (never slower, much lower variance under
    co-tenant load; warm pair 81.0 vs 122.6 s on a loaded host). The
    cache is input-sized (spills to disk past storage memory) and is
    deliberately NOT unpersisted here: the returned frames descend from
    it, and DataFrame.unpersist cascades through CacheManager to every
    dependent cached plan (the r7 connected_components lesson) —
    callers reclaim it via clearCache between syncs if needed.

    ``cache_statements=None`` (the sync_dumps default) auto-gates by
    input size: cache only dumps ≤ ``_CACHE_STMT_MAX_BYTES`` (3 GB).
    The win does NOT extend to arbitrary inputs — at 60 M rows/side
    (4.9 GB/dump, ~10 GB of statements cached across the sync's two
    sides) the same-load A/B measured cache 253.0 s vs no-cache
    241.4 s: past the storage-memory comfort zone the cache contends
    with the diff's execution memory and erodes its own saving. The
    gate keeps the measured-win regime and skips the measured-loss one.

    ``keep_seq``: retain the ``__seq_hi/__seq_lo`` file-order key and
    skip the reader's last-wins dedup, so the caller fuses it into a
    downstream aggregation (see ``snapshot_diff_fused``).

    ``tables``: ingest only the named tables; a name the dump lacks is
    skipped (``sync_dumps`` reports a table in neither dump). This is
    table PROJECTION pushed into the source: unrequested tables' INSERT
    statements are dropped by a JVM-side prefix filter BEFORE the Arrow
    tokenizer, so a 100-table mysqldump read for one table tokenizes
    ~1/100th of the DML (the Python crossing is the expensive stage).
    The tokenizer independently skips tables absent from ``schemas``, so
    the filter is purely an optimization — correctness never depends on
    it.
    """
    stmts = read_dump_statements(spark, path)
    if cache_statements is None:
        cache_statements = _input_bytes(path) <= _CACHE_STMT_MAX_BYTES
    if cache_statements:
        from pyspark import StorageLevel

        stmts = stmts.persist(StorageLevel.MEMORY_AND_DISK)
    # Any raise between the persist above and the final return must not
    # pin a dump-sized cache for the process lifetime (r8 advice: a DDL
    # collect/parse failure leaked it). Unpersist-and-reraise covers
    # every exception path; the empty-schemas RETURN keeps its explicit
    # unpersist below.
    try:
        return _read_dump_body(stmts, cache_statements, tables, keep_seq)
    except Exception:
        if cache_statements:
            stmts.unpersist()
        raise


def _collect_schemas(stmts: DataFrame) -> dict[str, TableSchema]:
    """Collect the dump's CREATE TABLE statements (a JVM-side filter;
    DDL is tiny) and parse them driver-side, keyed by table name."""
    schemas: dict[str, TableSchema] = {}
    for r in stmts.where("startswith(upper(stmt), 'CREATE TABLE')").collect():
        ts = parse_create_table(r.stmt)
        if ts:
            schemas[ts.name] = ts
    return schemas


def _read_dump_body(stmts, cache_statements, tables, keep_seq):
    from database_syncer_spark.core.diff import dedup_last_wins

    schemas = _collect_schemas(stmts)
    if tables is not None:
        want = set(tables)
        schemas = {n: ts for n, ts in schemas.items() if n in want}
    if not schemas:
        if cache_statements:  # nothing descends from it on this path
            stmts.unpersist()
        return {}, {}

    inserts = stmts.where("startswith(upper(stmt), 'INSERT INTO')")
    if tables is not None:
        # Statement-level pushdown: keep only the requested tables'
        # INSERTs (anchored regex tolerant of keyword case, whitespace,
        # and backtick/bare identifiers — the same surface _INSERT_RE
        # accepts). Runs JVM-side before the Python crossing.
        names = "|".join(re.escape(n) for n in sorted(schemas))
        inserts = inserts.where(F.col("stmt").rlike(
            rf"(?is)^INSERT\s+INTO\s+[`\"]?({names})[`\"]?\s*[(\sV]"))
    parsed = map_arrow(
        inserts, "table string, vals array<string>, seq_hi long, seq_lo long",
        _parse_insert_batches(schemas))
    # One pass over the parsed rows serves every table; per-table filter +
    # positional cast is pure Catalyst from here. With several tables the
    # per-table frames are independent consumers of the same parse
    # lineage, so persist it once — otherwise each table's first action
    # re-reads and re-tokenizes the whole dump (the reference parses the
    # file once for all tables, sync.py:29-72; so do we). With ONE table
    # the parse has exactly one consumer and streams straight into it.
    if len(schemas) > 1:
        from pyspark import StorageLevel

        parsed = parsed.persist(StorageLevel.MEMORY_AND_DISK)
    # The positional cast is one SQL expression string per column: one
    # driver call for the whole projection (see core/sqlexpr.py).
    out: dict[str, DataFrame] = {}
    for name, ts in schemas.items():
        cols = ["seq_hi AS __seq_hi", "seq_lo AS __seq_lo"]
        for idx, (col, spark_t) in enumerate(ts.spark_types()):
            cols.append(f"CAST(vals[{idx}] AS {spark_t}) AS {quote_ident(col)}")
        df = parsed.where(f"`table` = {sql_string(name)}").selectExpr(*cols)
        if not keep_seq:
            if ts.pk_cols:
                df = dedup_last_wins(df, ts.pk_cols, ["__seq_hi", "__seq_lo"])
            df = df.drop("__seq_hi", "__seq_lo")
        out[name] = df
    return out, schemas


# --- dump writer (tests / fixtures / round-trips) ---------------------------

_SPARK_TO_MYSQL = {
    "bigint": "bigint",
    "int": "int(11)",
    "smallint": "smallint",
    "double": "double",
    "float": "float",
    "string": "varchar(255)",
    "timestamp": "datetime(6)",
    "timestamp_ntz": "datetime(6)",
    "date": "date",
    "boolean": "tinyint(1)",
}


def write_sql_dump(df: DataFrame, table: str, pk_cols: list[str], path: str,
                   rows_per_insert: int = 100) -> None:
    """Render a DataFrame as a mysqldump-style SQL file — distributed.

    Value tuples are rendered by the same JVM-side literal expressions as
    the sync-script sink; rows are batched into multi-row INSERT
    statements inside ``map_arrow`` (per partition, no shuffle) and
    written by the sync-script file writer (``write_script``: executor
    text parts streamed into one file with O(1) driver memory, published
    atomically). Statement order across partitions is arbitrary — fine
    for a snapshot dump, whose rows are PK-unique by construction.

    Every INSERT carries the column list (mysqldump's
    ``--complete-insert``). The reference parser REQUIRES it — its
    INSERT regex is ``INSERT INTO `t` (cols) VALUES`` (sync.py:55) — and
    silently parses ZERO records from column-list-free dumps (mysqldump's
    default form, and ironically also the form the reference itself
    re-emits, sync.py:69). Our ingest accepts both forms (_INSERT_RE)."""
    from database_syncer_spark.core.script import sql_literal, write_script

    dtypes = {f.name: f.dataType for f in df.schema.fields}
    lits = [sql_literal(c, dtypes[c]) for c in df.columns]
    rendered = df.selectExpr(f"concat_ws(', ', {', '.join(lits)}) AS r")
    col_list = ", ".join(f"`{c}`" for c in df.columns)
    head = f"INSERT INTO `{table}` ({col_list}) VALUES\n"

    def to_statements(batches):
        buf: list[str] = []
        for b in batches:
            out: list[str] = []
            for r in b.column("r").to_pylist():
                buf.append(f"({r})")
                if len(buf) == rows_per_insert:
                    out.append(head + ",\n".join(buf) + ";")
                    buf = []
            if out:
                yield [out]
        if buf:
            yield [[head + ",\n".join(buf) + ";"]]

    col_defs = []
    for f in df.schema.fields:
        st = f.dataType.simpleString()
        # decimal keeps its exact precision/scale (MySQL syntax matches)
        mysql_t = st if st.startswith("decimal") else _SPARK_TO_MYSQL.get(
            st.split("(")[0], "varchar(255)")
        col_defs.append(f"  `{f.name}` {mysql_t} {'NOT NULL' if f.name in pk_cols else 'DEFAULT NULL'}")
    pk_def = ", ".join(f"`{c}`" for c in pk_cols)
    header = "\n".join([
        f"DROP TABLE IF EXISTS `{table}`;",
        f"CREATE TABLE `{table}` (",
        ",\n".join(col_defs) + ",",
        f"  PRIMARY KEY ({pk_def})",
        ") ENGINE=InnoDB DEFAULT CHARSET=utf8mb4;",
        "",
    ])
    write_script(map_arrow(rendered, "statement string", to_statements),
                 path, header=header)


# --- end-to-end orchestration (reference compare_sql_files, sync.py:522) ----

def compare_sql_files(spark: SparkSession, production_file: str,
                      backup_file: str,
                      output_file: str = "database_sync_crud.sql",
                      verbose: bool = True,
                      tables: list[str] | None = None) -> dict | None:
    """The reference's library entry point (sync.py:522-625), Spark-first.

    Reads both dumps, diffs every common table, prints the CRUD summary,
    and writes ONE ordered sync script (DROP -> CREATE -> DELETE ->
    UPDATE -> INSERT, reference section order sync.py:318-395) that
    transforms the backup state into production. Returns a dict with the
    per-table changes DataFrames, catalog diff, and stats rows — the
    typed equivalent of the reference's ``differences`` dict
    (sync.py:236-243) — or None if an input file is missing
    (sync.py:549-555).

    After the two DDL scans the whole sync is ONE Spark query, the
    script write: every common table's unsorted statement rows are
    unioned and sorted once, and the per-table INSERT/UPDATE/DELETE
    counts (``table_stats``, equal to ``diff_stats`` of each table's
    changes) are observed on that write rather than counted by a job
    per table."""
    for f, label in ((production_file, "Production"), (backup_file, "Backup")):
        if not os.path.exists(f):
            if verbose:
                print(f"{label} file not found: {f}")
            return None

    from functools import reduce

    from pyspark.sql import Observation

    from database_syncer_spark.core.script import (SECTION_RANK, ddl_statements,
                                                   write_script)

    changes, catalog, statements, prod_schemas = _sync_plans(
        spark, production_file, backup_file, tables)
    ddl = ddl_statements(
        catalog, {t: s.create_stmt + ";" for t, s in prod_schemas.items()})
    common = catalog["common"]
    stats: dict[str, dict[str, int]] = {name: {} for name in common}
    cells: list[tuple[str, str, str]] = []
    if common:
        combined = reduce(DataFrame.unionByName, [
            statements[name].selectExpr(
                "section", "statement", f"{sql_string(name)} AS __tbl")
            for name in common])
        cells = [(name, ct, f"count_if(__tbl = {sql_string(name)} "
                            f"AND section = {rank})")
                 for name in common for ct, rank in SECTION_RANK.items()]
        observed = Observation()
        # statement text as the final sort key: deterministic output even
        # though per-table PK rank was projected away upstream. The
        # counts are observed ABOVE the sort, so AQE's range-sampling
        # job (which runs the plan below it) cannot count a row twice.
        ordered = combined.orderBy("section", "__tbl", "statement").observe(
            observed,
            F.expr(f"array({', '.join(e for _, _, e in cells)}) AS n"))
    else:
        # a header (+ DDL) only script, so a stale one from an earlier
        # run never survives at ``output_file``
        ordered = spark.createDataFrame([], "statement string")
    write_script(
        ordered, output_file,
        header="-- sync script: apply to backup to reach production state",
        ddl=ddl,
    )
    if cells:
        for (name, ct, _), n in zip(cells, observed.get["n"]):
            if n:
                stats[name][ct] = n

    if verbose:
        print(f"Tables to create: {len(catalog['create'])}, "
              f"drop: {len(catalog['drop'])}")
        for name in sorted(stats):
            s = stats[name]
            print(f"  {name}: +{s.get('INSERT', 0)} "
                  f"~{s.get('UPDATE', 0)} -{s.get('DELETE', 0)}")
        print(f"Sync script written: {output_file}")
    return {"changes": changes, "catalog": catalog, "table_stats": stats}


#: statement-cache auto-gate (read_sql_dump_with_schemas docstring):
#: 2.4 GB dumps measured a clear win, 4.9 GB a slight loss — gate at 3 GB
_CACHE_STMT_MAX_BYTES = 3 << 30


#: ``_input_bytes`` of a path that can't be stat'd
_UNSTATABLE = (1 << 63) - 1


def _input_bytes(path: str) -> int:
    """Local input size (file or flat dump directory); ``_UNSTATABLE``
    when the path can't be stat'd (non-local storage) so the auto-gate
    declines to cache rather than guessing."""
    try:
        if os.path.isdir(path):
            # Recurse: a nested shard directory must contribute its
            # contents, not its ~4 KB inode size — undercounting would
            # enable the statement cache on exactly the >3 GB dumps
            # where it measured a loss (r8 advice).
            total = 0
            for root, dirs, files in os.walk(path):
                dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
                for f in files:
                    if not f.startswith(("_", ".")):
                        total += os.path.getsize(os.path.join(root, f))
            return total
        return os.path.getsize(path)
    except OSError:
        return _UNSTATABLE


def _size_shuffle_partitions(spark: SparkSession, *paths: str) -> None:
    """Raise ``spark.sql.shuffle.partitions`` to match the input volume.

    AQE merges small shuffle partitions but never splits beyond the
    configured number, so a cores-sized default silently caps reduce
    parallelism and spills the wide per-PK hash aggregation once
    partitions outgrow executor memory. Target ~20 MB of dump text per
    partition — measured on the 60M-row/side sync (9.6 GB of dumps,
    local[32]): 32 partitions → 306 s (agg spill), 256 → 200 s,
    512 → 185 s, while the sf0.1 bench is unchanged because AQE
    coalesces small shuffles back down. Only ever raises (small jobs
    keep their default); explicit SPARK_GRAFT_SHUFFLE wins; non-local
    paths (no stat) are left to cluster defaults. A sharded dump counts
    its shards' bytes (``_input_bytes``), not its directory's inode size.
    """
    if os.environ.get("SPARK_GRAFT_SHUFFLE"):
        return
    sizes = [_input_bytes(p) for p in paths]
    if _UNSTATABLE in sizes:
        return
    total = sum(sizes)
    current = int(spark.conf.get("spark.sql.shuffle.partitions"))
    target = min(int(total // (20 << 20)), 2048)
    if target > current:
        spark.conf.set("spark.sql.shuffle.partitions", str(target))


def sync_dumps(spark: SparkSession, prod_path: str, backup_path: str,
               tables: list[str] | None = None):
    """Diff two SQL dumps: the reference's whole pipeline
    (sync.py:522-625) on Spark. Returns (changes_per_table, catalog,
    script_statements_per_table, prod_schemas); each table's script is
    ``generate_sync_script``'s (section, pk)-ordered statement frame.

    ``tables`` restricts the sync to the named tables (projection pushed
    into both dump reads — unrequested tables' DML is never tokenized).
    A table present in only one dump still appears in the catalog diff
    when requested; requesting a table in NEITHER dump errors.

    The per-table changes are persisted (MEMORY_AND_DISK): the dump
    parse is the expensive stage and every returned DataFrame (changes,
    script) is typically consumed by several actions — without
    persistence each action would re-tokenize both dumps from scratch.
    The parsed sides themselves are NOT persisted: each feeds exactly
    one computation (its table's diff), so caching them would only add
    a serialization pass. Sizes ``spark.sql.shuffle.partitions`` for the
    dump volume (session-level, stays in effect for the returned lazy
    frames; see _size_shuffle_partitions).

    ``compare_sql_files`` shares the same per-table plans but skips the
    per-table sort: it sorts the union of all tables' statements once."""
    from database_syncer_spark.core.script import sort_statements

    changes, catalog, statements, prod_schemas = _sync_plans(
        spark, prod_path, backup_path, tables)
    scripts = {name: sort_statements(rows)
               for name, rows in statements.items()}
    return changes, catalog, scripts, prod_schemas


def _sync_plans(spark: SparkSession, prod_path: str, backup_path: str,
                tables: list[str] | None):
    """``sync_dumps`` with each table's statement rows UNSORTED
    (``generate_sync_script(ordered=False)``). Each side reads through
    its sniffed dialect's reader into the same typed-frame contract;
    PK columns come from the prod side."""
    from pyspark import StorageLevel

    from database_syncer_spark.core.diff import (catalog_diff, snapshot_diff,
                                                 snapshot_diff_fused)
    from database_syncer_spark.core.script import generate_sync_script
    from database_syncer_spark.sources.pg_dump import (
        read_pg_dump_with_schemas, sniff_dump_dialect)

    _size_shuffle_partitions(spark, prod_path, backup_path)
    dialects = [sniff_dump_dialect(p) for p in (prod_path, backup_path)]
    # Both sides mysql: keep_seq + no dedup, so last-wins resolution
    # happens INSIDE the diff's single shuffle (snapshot_diff_fused).
    # Otherwise the mysql side dedups in its reader and the plain diff
    # runs: a COPY side needs no last-wins, and fusing the mixed pair
    # lost 4 of 5 A/B pairs (SCALE.md, r10 "cross-dialect sync FUSE A/B").
    fused = dialects == ["mysql", "mysql"]

    def read(path, dialect):
        if dialect == "postgres":
            return read_pg_dump_with_schemas(spark, path, tables=tables)
        # cache_statements=None is the size-gated statement cache
        # (read_sql_dump_with_schemas)
        return read_sql_dump_with_schemas(
            spark, path, keep_seq=fused, tables=tables,
            cache_statements=None)

    prod, prod_schemas = read(prod_path, dialects[0])
    backup, _ = read(backup_path, dialects[1])
    if tables is not None:
        nowhere = set(tables) - set(prod) - set(backup)
        if nowhere:
            raise ValueError(f"tables in neither dump: {sorted(nowhere)}")
    catalog = catalog_diff(prod, backup)
    changes, statements = {}, {}
    for name in catalog["common"]:
        pk = prod_schemas[name].pk_cols
        p = prod[name]
        if fused:
            ch = snapshot_diff_fused(p, backup[name], pk)
        else:
            # the two dialects type columns differently (mysql datetime
            # -> timestamp, pg -> timestamp_ntz) and may order them
            # differently: cast the backup to the prod column types, so
            # type drift alone never classifies a row as changed
            b = backup[name].selectExpr(
                *[f"CAST({quote_ident(c)} AS {t}) AS {quote_ident(c)}"
                  for c, t in p.dtypes])
            ch = snapshot_diff(p, b, pk_cols=pk)
        changes[name] = ch.persist(StorageLevel.MEMORY_AND_DISK)
        statements[name] = generate_sync_script(changes[name], name, pk,
                                                ordered=False)
    return changes, catalog, statements, prod_schemas
