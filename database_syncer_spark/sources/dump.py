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
  ``mapInPandas`` — Arrow-batched, one Python pass, no row-at-a-time UDF;
- casts raw SQL literals to typed columns JVM-side.

Known format assumptions (same family as mysqldump defaults): statements
end with ``;`` at end of line. A literal ``;\\n`` inside a quoted value
(never emitted by conforming mysqldump, which escapes ``\\n``) is
detected by a codegen quote-parity check and either fails loudly
(default) or is repaired distributedly — see ``read_dump_statements``'s
``on_split_string``; the reference's whole-file regex silently
mis-parses the analogous ``);`` case.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


def _spark_type(mysql_type: str) -> str:
    for pat, target in _TYPE_MAP:
        m = pat.match(mysql_type.strip())
        if m:
            if target is None:
                return f"decimal({m.group(2)},{m.group(3)})"
            return target
    return "string"


@dataclass
class TableSchema:
    name: str
    columns: list[tuple[str, str]]          # (name, mysql_type)
    pk_cols: list[str]
    create_stmt: str

    @property
    def column_names(self) -> list[str]:
        return [c for c, _ in self.columns]

    def spark_types(self) -> list[tuple[str, str]]:
        return [(c, _spark_type(t)) for c, t in self.columns]


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


def _split_top_level(body: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` at paren depth 0, honoring quotes."""
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
        elif ch == sep and depth == 0:
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
    col_names = [c for c, _ in columns]
    if not pk:
        # Reference fallback chain (sync.py:97-104): AUTO_INCREMENT col,
        # then 'id'; we add first-column as the final fallback instead of
        # keying on a column that doesn't exist (sync.py:169-171 keys on
        # values[0] in that case — same effect, made explicit).
        if auto_inc:
            pk = [auto_inc]
        elif "id" in col_names:
            pk = ["id"]
        elif col_names:
            pk = [col_names[0]]
    pk = [c for c in pk if c in col_names] or col_names[:1]
    return TableSchema(name=name, columns=columns, pk_cols=pk, create_stmt=stmt.strip())


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
#: text, and the JVM fast-path lookahead refuses it the same way —
#: zero-digit '0x' must stay raw in BOTH tokenizers)
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


def _fragment_quote_parity(col):
    """Escape-aware single-quote parity of a statement fragment, for the
    stitcher's cross-fragment state model.

    ``\\\\`` pairs removed first (so ``\\'`` detection can't be fooled),
    then ``\\'``; then complete quoted literals of BOTH families are
    consumed in ONE left-to-right alternation pass — the first quote
    char encountered owns its literal, so a ``"`` that is content
    inside ``'...'`` can never start a bogus double-quoted match that
    swallows the single quotes between two literals (r4 review: the
    old strip-doubles-first order mis-counted ``'5" x','don''t','3"'``
    and glued two conforming statements). Stripping a complete
    single-quoted literal removes 2 quotes — parity unchanged — so the
    surviving quote count's parity is exactly the open/closed state.
    Finally, COMMENT lines are dropped: ``-- don't edit`` holds an odd
    apostrophe count that is not a literal delimiter, and without this
    a single comment line flipped the cumulative parity and glued every
    later statement into one dropped group (r4 review).

    Scope: a fragment cut inside a literal whose dangling text contains
    ``"`` or ``\\n--`` can still mis-count — those stitches are caught
    by the post-stitch ``_has_unterminated_string`` belt instead."""
    eff = F.regexp_replace(
        F.replace(F.replace(col, F.lit("\\\\"), F.lit("")),
                  F.lit("\\'"), F.lit("")),
        r"'(?:[^']|'')*+'|\"(?:[^\"]|\"\")*+\"", "")
    eff = F.regexp_replace(eff, r"(?m)^\s*--[^\n]*", "")
    return (F.length(eff) - F.length(F.replace(eff, F.lit("'"), F.lit("")))
            ).bitwiseAND(F.lit(1)).cast("int")


def _stitch_fragments(frags: DataFrame, line_sep: str) -> DataFrame:
    """Re-join fragments that a ``lineSep`` split cut apart inside a
    string literal (a dumped text column containing ``;\\n``).

    Two-level reconstruction — NO global window, so it scales like the
    read itself: (1) per-file-block window gives each fragment its
    in-block cumulative parity and start-flag prefix counts; (2) the
    block-level carry (incoming parity + statement-group base per block)
    is a prefix scan over ONE small row per file block, done driver-side
    (model-state scale: ~800k rows at 100 TB / 128 MB splits) and
    broadcast back. A fragment starts a new statement iff the cumulative
    parity before it is even; group = base + running start count; the
    group's fragments are re-joined with the separator the split
    consumed. Costs one extra scan (the block aggregate) and one shuffle
    (the regroup) — the price of a malformed dump, paid only in
    ``on_split_string="repair"`` mode."""
    from pyspark.sql import Window

    w = (Window.partitionBy("seq_hi").orderBy("seq_lo")
         .rowsBetween(Window.unboundedPreceding, -1))
    w0 = (Window.partitionBy("seq_hi").orderBy("seq_lo")
          .rowsBetween(Window.unboundedPreceding, 0))
    frag = (frags.withColumn("__par", _fragment_quote_parity(F.col("frag")))
            .withColumn("__cumb",
                        F.coalesce(F.sum("__par").over(w), F.lit(0))
                        .bitwiseAND(F.lit(1))))
    blk = (frag.groupBy("seq_hi").agg(
        F.sum("__par").bitwiseAND(F.lit(1)).alias("p"),
        F.sum(F.when(F.col("__cumb") == 0, 1).otherwise(0)).alias("s0"),
        F.sum(F.when(F.col("__cumb") == 1, 1).otherwise(0)).alias("s1"),
    ).collect())
    run_off, run_base, meta_rows = 0, 0, []
    for r in sorted(blk, key=lambda r: r.seq_hi):
        meta_rows.append((r.seq_hi, run_off, run_base))
        run_base += int(r.s0 if run_off == 0 else r.s1)
        run_off = (run_off + int(r.p)) % 2
    meta = frags.sparkSession.createDataFrame(
        meta_rows, "seq_hi long, __off int, __base long")
    is_start = (((F.col("__cumb") + F.col("__off")) % 2) == 0).cast("long")
    ordered = F.array_sort(F.collect_list(F.struct("seq_hi", "seq_lo", "frag")))
    return (
        frag.join(F.broadcast(meta), "seq_hi")
        .withColumn("__gid",
                    F.col("__base") + F.sum(is_start).over(w0))
        .groupBy("__gid")
        .agg(ordered.alias("__frags"))
        .select(
            F.concat_ws(line_sep,
                        F.transform(F.col("__frags"),
                                    lambda s: s["frag"])).alias("frag"),
            F.col("__frags")[0]["seq_hi"].alias("seq_hi"),
            F.col("__frags")[0]["seq_lo"].alias("seq_lo"),
        )
    )


def read_dump_statements(spark: SparkSession, path: str,
                         on_split_string: str = "error") -> DataFrame:
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

    ``on_split_string`` guards the one input the separator split cannot
    handle: a string literal that itself contains ``;\\n`` (real
    mysqldump escapes ``\\n`` so this never occurs in conforming dumps,
    but the engine ingests third-party dumps). Modes:

    - ``"error"`` (default): a codegen unterminated-string check on
      each fragment raises at execution time with the offending text
      instead of silently mis-parsing — zero extra scans, one linear
      regex pass per statement.
    - ``"repair"``: fragments are stitched back into whole statements
      (``_stitch_fragments``) at the cost of one extra scan + one
      shuffle, then re-checked (a split the stitcher's single-quote
      model can't represent still fails loudly). Whitespace INSIDE the
      re-joined literal is preserved (trim happens after stitching).
    - ``"ignore"``: the pre-hardening behavior, for callers that have
      already validated the dump.
    """
    if on_split_string not in ("error", "repair", "ignore"):
        raise ValueError(f"on_split_string={on_split_string!r}: expected "
                         "'error', 'repair' or 'ignore'")
    # CRLF dumps (Windows mysqldump/editors) end statements with ";\r\n",
    # which a ";\n" lineSep never matches — the whole file would arrive
    # as ONE statement. Sniff the head driver-side (KBs, not a scan) and
    # pick the separator; btrim below strips the stray \r either way.
    line_sep = ";\n"
    head_path = path
    shard_names: list[str] | None = None
    if os.path.isdir(path):
        inner = sorted(
            f for f in os.listdir(path) if not f.startswith(("_", ".")))
        head_path = os.path.join(path, inner[0]) if inner else path
        if len(inner) > 1:
            # SHARDED dump (a big database dumped as part-*.sql files):
            # file order = lexicographic file NAME, the convention shard
            # writers follow — driver-side listing, model-state scale.
            shard_names = inner
    try:
        with open(head_path, "rb") as fh:
            head = fh.read(65536)
        # The two byte patterns are disjoint (";\r\n" has no ";\n"
        # substring), so majority vote picks the dominant convention.
        if head.count(b";\r\n") > head.count(b";\n"):
            line_sep = ";\r\n"
    except OSError:
        pass

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
    if on_split_string == "repair":
        frags = _stitch_fragments(frags, line_sep)
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
    if on_split_string != "ignore":
        # "error" mode catches the split; "repair" keeps the same check
        # AFTER stitching as a belt (a split the stitcher's single-quote
        # model can't represent must still fail loudly, never parse
        # garbage). assert_true is NULL on pass, so the filter keeps
        # every valid row, and being a filter (not an unused projection)
        # it cannot be pruned by the optimizer. Leading comment lines
        # (which may hold odd quote counts — "-- don't edit") are
        # already stripped above, so the check sees pure statement text.
        out = out.where(F.assert_true(
            ~_has_unterminated_string(F.col("stmt")),
            F.concat(
                F.lit("unterminated string literal in dump statement (a "
                      "literal containing ';\\n' splits mid-string; "
                      "re-read with on_split_string='repair'): "),
                F.substring("stmt", 1, 120)),
        ).isNull())
    return out


def _parse_insert_batches(schemas: dict[str, TableSchema]):
    """mapInPandas worker: statements -> (table, vals, seq_hi, seq_lo) rows.

    ``(seq_hi, seq_lo)`` extends the statement-order key from
    ``read_dump_statements`` down to individual rows (statement position
    × 1e6 + row position inside the statement) so duplicate PKs can
    resolve last-wins exactly like the reference's dict overwrite
    (sync.py:67). Bounds: ≤1e6 rows per INSERT statement (mysqldump
    packet limits keep real statements far below); the ×1e6 cannot
    overflow a long (row-in-partition < 2^33, 2^33·1e6 < 2^63). Offsets
    restart per file, so last-wins across a multi-file glob is undefined —
    same as the reference, which reads exactly one file per side.
    """
    import pandas as pd

    def run(batches):
        for pdf in batches:
            tables: list[str] = []
            values: list[list[str | None]] = []
            his: list[int] = []
            los: list[int] = []
            for stmt, hi, lo in zip(pdf["stmt"], pdf["seq_hi"], pdf["seq_lo"]):
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
                base = int(lo) * 1_000_000
                for row_idx, row in enumerate(tokenize_insert_rows(m.group(3))):
                    if len(row) == n_expect:
                        if remap is not None:
                            row = [row[i] if i is not None else None
                                   for i in remap]
                        tables.append(table)
                        values.append(row)
                        his.append(int(hi))
                        los.append(base + row_idx)
            # Explicit dtypes: an all-filtered batch would otherwise make
            # empty float64 columns that Arrow can't cast to list<string>.
            yield pd.DataFrame({
                "table": pd.Series(tables, dtype=object),
                "vals": pd.Series(values, dtype=object),
                "seq_hi": pd.Series(his, dtype="int64"),
                "seq_lo": pd.Series(los, dtype="int64"),
            })

    return run


# --- JVM tokenizer ----------------------------------------------------------
#
# The Python tokenizer above is the SEMANTIC REFERENCE (property-tested
# against the char scanner). This block re-expresses its regex fast path
# as pure Catalyst expressions so the INSERT hot path never leaves
# whole-stage codegen: row split, value split, unquote/unescape are all
# `regexp_extract_all`/`regexp_replace`/`replace` over columns. Any
# statement the fast shape can't PROVABLY handle (quote in bare position,
# backslash-newline in a string, sentinel chars in data) is routed to the
# Python scanner, so the two paths together are exactly
# ``tokenize_insert_rows`` by construction — cross-checked by
# tests/test_dump.py::test_jvm_tokenizer_matches_python_*.
#
# MEASURED (3M-row orders dump, local[32]): this path parses ~2x SLOWER
# than the Arrow-batched Python tokenizer (7.5s vs 3.3s per side) — the
# Arrow round-trip it eliminates was never the bottleneck, and Java-regex
# per-char alternation + posexplode of row bodies + the unescape chain
# cost more than Python's C-level sre sweep over whole statements. Kept
# as a tested option (``tokenizer="jvm"``) because it needs no Python
# workers on executors; the default stays ``"python"``.

#: private-use marker used by the unescape rewrite; statements containing
#: it fall back to the Python scanner so data can never collide with it.
_SENT = "\ue000"
_J_Q1 = r"'(?:[^'\\]|\\.|'')*'"
_J_Q2 = r'"(?:[^"\\]|\\.|"")*"'
#: one parenthesized row of fast-shape content (mirror of _FAST_ROW_RE)
_J_ROW_RE = r"\(((?:[^()'\"]|" + _J_Q1 + "|" + _J_Q2 + r")*)\)"
#: a row body that the fast value grammar fully explains (anchored):
#: values wholly quoted or quote-free, comma-separated (mirror of the
#: sequential _FAST_VAL_RE loop accepting the whole body). The bare
#: alternative REFUSES hex-literal-shaped values (0x + a hex digit,
#: with the lookahead tolerating the leading whitespace `\s*` may have
#: deferred): hex literals decode in the PYTHON tokenizer
#: (_bare_literal), so a body carrying one must fail this validation
#: and route to the scanner — the two paths stay value-identical by
#: construction.
_J_VAL = (r"(?:" + _J_Q1 + "|" + _J_Q2
          + r"|(?![ \t\r\n]*0[xX][0-9A-Fa-f])[^,'\"]*)")
_J_BODY_OK_RE = r"\A(?:\s*" + _J_VAL + r"\s*,)*\s*" + _J_VAL + r"\s*\z"
#: one value per match over ("," + body): each match consumes its leading
#: comma, so matches can never be zero-length (Java's find() would
#: otherwise emit a spurious empty match after a match ending at EOS,
#: where Python's sequential-match loop stops at the first ``$`` hit)
_J_VAL_EXTRACT_RE = (r",\s*(" + _J_Q1 + "|" + _J_Q2
                     + r"|[^,'\"]*?)\s*(?=,|\z)")
#: anchored Java mirror of _INSERT_RE (regexp_extract uses find())
_J_INSERT_RE = (r"(?is)\AINSERT\s+INTO\s+[`\"]?(\w+)[`\"]?\s*"
                r"(?:\(([^)]*)\))?\s*VALUES\s*(.*)")
_J_SEPS = " \t\r\n,;"


def _j_unescape(v, q: str):
    """Unquote + unescape a wholly-quoted literal, mirroring ``_unquote``.

    Single-pass token order is preserved by first marking every
    backslash-escaped char with the sentinel (one regex pass, left to
    right), so the quote-doubling pass can tell a ``''`` pair from a
    quote produced by ``\\'`` (lookbehind on the sentinel), and the
    named escapes (\\n \\t \\r \\0) resolve before the marker is
    stripped and the escaped char kept."""
    inner = v.substr(F.lit(2), F.length(v) - 2)
    out = F.regexp_replace(inner, r"(?s)\\(.)", _SENT + "$1")
    out = F.regexp_replace(out, "(?<!" + _SENT + ")" + q + q, q)
    for esc, ch in (("n", "\n"), ("t", "\t"), ("r", "\r"), ("0", "\x00")):
        out = F.replace(out, F.lit(_SENT + esc), F.lit(ch))
    return F.replace(out, F.lit(_SENT), F.lit(""))


def _j_value(v):
    """Raw fast-shape literal -> final value (mirror of the fast-path
    literal handling: quoted -> unescape, bare NULL (any case) -> null,
    other bare literals verbatim)."""
    return (
        F.when(v.startswith("'"), _j_unescape(v, "'"))
        .when(v.startswith('"'), _j_unescape(v, '"'))
        .when(F.upper(v) == "NULL", F.lit(None).cast("string"))
        .otherwise(v)
    )


def _parse_inserts_jvm(inserts: DataFrame, schemas: dict[str, TableSchema]):
    """INSERT statements -> (parsed, cache_handle), all-JVM fast path.

    ``parsed`` has the same schema and semantics as
    ``_parse_insert_batches`` output; statements failing the fast-shape
    validation are parsed by that Python worker instead and unioned in.
    The flagged statement scan is persisted (MEMORY_AND_DISK, statement
    text kept only for fallback rows so the cache is ~the dump's data
    bytes) because the fast/fallback split is two consumers of one scan
    — without it each branch would re-read and re-validate the file.
    """
    from pyspark import StorageLevel

    tbl = F.regexp_extract("stmt", _J_INSERT_RE, 1)
    collist = F.regexp_extract("stmt", _J_INSERT_RE, 2)
    vp = F.regexp_extract("stmt", _J_INSERT_RE, 3)
    base = (
        inserts.select("stmt", "seq_hi", "seq_lo", tbl.alias("table"),
                       collist.alias("collist"), vp.alias("vp"))
        .where(F.col("table").isin(list(schemas)))
    )
    residual_ok = (
        F.translate(F.regexp_replace("vp", _J_ROW_RE, ""), _J_SEPS, "") == ""
    )
    # The JVM shape assigns values positionally, so it only applies when
    # the column list is absent or exactly the schema (= table) order;
    # reordered/partial lists route to the Python scanner, which remaps.
    norm_cols = F.translate(F.col("collist"), "` \t\r\n\"", "")
    expected = F.lit(None).cast("string")
    for name, ts in schemas.items():
        expected = F.when(F.col("table") == name,
                          F.lit(",".join(ts.column_names))).otherwise(expected)
    cols_ok = (norm_cols == "") | (norm_cols == expected)
    fast = (
        residual_ok
        & cols_ok
        & F.forall(F.regexp_extract_all("vp", F.lit(_J_ROW_RE), 1),
                   lambda b: b.rlike(_J_BODY_OK_RE))
        & ~F.contains(F.col("vp"), F.lit(_SENT))
    )
    flagged = base.select(
        "table", "seq_hi", "seq_lo",
        F.regexp_extract_all("vp", F.lit(_J_ROW_RE), 1).alias("rows"),
        fast.alias("fast"),
        F.when(~fast, F.col("stmt")).alias("stmt"),
    ).persist(StorageLevel.MEMORY_AND_DISK)

    exploded = (
        flagged.where("fast")
        .select("table", "seq_hi", "seq_lo",
                F.posexplode("rows").alias("pos", "body"))
        .select(
            "table", "seq_hi",
            (F.col("seq_lo") * 1_000_000 + F.col("pos")).alias("seq_lo"),
            F.regexp_extract_all(F.concat(F.lit(","), F.col("body")),
                                 F.lit(_J_VAL_EXTRACT_RE), 1).alias("raw"),
        )
    )
    ncols_map = F.create_map(*[
        x for name, ts in schemas.items()
        for x in (F.lit(name), F.lit(len(ts.columns)))
    ])
    jvm_parsed = (
        exploded
        .where(F.size("raw") == ncols_map[F.col("table")])
        .select("table", F.transform("raw", _j_value).alias("vals"),
                "seq_hi", "seq_lo")
    )
    fallback = (
        flagged.where(~F.col("fast"))
        .select("stmt", "seq_hi", "seq_lo")
        .mapInPandas(
            _parse_insert_batches(schemas),
            "table string, vals array<string>, seq_hi long, seq_lo long",
        )
    )
    return jvm_parsed.unionByName(fallback), flagged


def read_sql_dump(spark: SparkSession, path: str, typed: bool = True,
                  dedup_pk: bool = True,
                  tokenizer: str = "python",
                  tables: list[str] | None = None,
                  on_split_string: str = "error") -> dict[str, DataFrame]:
    """Ingest a SQL dump into a dict of DataFrames (one per table).

    The reference's parse_sql_dump (sync.py:29-72), distributed: DDL is
    parsed on the driver (tiny), DML rows are tokenized in parallel Arrow
    batches and cast to the DDL-derived schema. ``typed=False`` keeps
    every value as its raw string (the reference's string-typed semantics,
    SURVEY §1.2) for bit-faithful parity. ``dedup_pk`` resolves duplicate
    PKs last-wins in file order (reference sync.py:67). ``tokenizer``:
    ``"python"`` (default — measured faster, see the JVM-tokenizer block
    comment) tokenizes rows in Arrow-batched Python; ``"jvm"`` keeps
    tokenizing in whole-stage codegen (no executor Python workers) with
    automatic per-statement fallback to the Python scanner.
    ``tables``: ingest only these tables — table PROJECTION pushed into
    the source (see read_sql_dump_with_schemas).
    """
    out, _ = read_sql_dump_with_schemas(spark, path, typed=typed,
                                        dedup_pk=dedup_pk,
                                        tokenizer=tokenizer, tables=tables,
                                        on_split_string=on_split_string)
    return out


def read_sql_dump_with_schemas(
    spark: SparkSession, path: str, typed: bool = True, dedup_pk: bool = True,
    tokenizer: str = "python", keep_seq: bool = False,
    tables: list[str] | None = None, ignore_missing: bool = False,
    on_split_string: str = "error", cache_statements: bool | None = False,
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

    ``keep_seq``: retain the ``__seq_hi/__seq_lo`` file-order key on
    undeduplicated frames so callers can fuse last-wins dedup into a
    downstream aggregation (see ``snapshot_diff_fused``).

    ``tables``: ingest only the named tables. This is table PROJECTION
    pushed into the source: unrequested tables' INSERT statements are
    dropped by a JVM-side prefix filter BEFORE the Arrow tokenizer, so
    a 100-table mysqldump read for one table tokenizes ~1/100th of the
    DML (the Python crossing is the expensive stage). The tokenizer
    independently skips tables absent from ``schemas``, so the filter is
    purely an optimization — correctness never depends on it.
    """
    stmts = read_dump_statements(spark, path,
                                 on_split_string=on_split_string)
    if cache_statements is None:
        cache_statements = _input_bytes(path) <= _CACHE_STMT_MAX_BYTES
    if cache_statements:
        from pyspark import StorageLevel

        stmts = stmts.persist(StorageLevel.MEMORY_AND_DISK)
    # Any raise between the persist above and the final return must not
    # pin a dump-sized cache for the process lifetime (r8 advice: only
    # the missing-tables path unpersisted; a DDL collect/parse failure
    # leaked). Unpersist-and-reraise covers every exception path; the
    # empty-schemas RETURN keeps its explicit unpersist below.
    try:
        return _read_dump_body(
            spark, stmts, cache_statements, tables, ignore_missing,
            typed, dedup_pk, keep_seq, tokenizer)
    except Exception:
        if cache_statements:
            stmts.unpersist()
        raise


def _read_dump_body(spark, stmts, cache_statements, tables, ignore_missing,
                    typed, dedup_pk, keep_seq, tokenizer):
    from database_syncer_spark.core.diff import dedup_last_wins

    create_stmts = [
        r.stmt for r in
        stmts.where("startswith(upper(stmt), 'CREATE TABLE')").collect()
    ]
    schemas: dict[str, TableSchema] = {}
    for stmt in create_stmts:
        ts = parse_create_table(stmt)
        if ts:
            schemas[ts.name] = ts
    if tables is not None:
        want = set(tables)
        missing = want - set(schemas)
        if missing and not ignore_missing:
            raise ValueError(  # caller's except unpersists the cache
                f"tables not in dump: {sorted(missing)} "
                f"(dump has: {sorted(schemas)})")
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
        import re as _re

        names = "|".join(_re.escape(n) for n in sorted(schemas))
        inserts = inserts.where(F.col("stmt").rlike(
            rf"(?is)^INSERT\s+INTO\s+[`\"]?({names})[`\"]?\s*[(\sV]"))
    if tokenizer == "jvm":
        parsed, _cache = _parse_inserts_jvm(inserts, schemas)
    else:
        parsed = inserts.mapInPandas(
            _parse_insert_batches(schemas),
            "table string, vals array<string>, seq_hi long, seq_lo long",
        )
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
            raw = f"vals[{idx}]" if not typed else f"CAST(vals[{idx}] AS {spark_t})"
            cols.append(f"{raw} AS {quote_ident(col)}")
        df = parsed.where(f"`table` = {sql_string(name)}").selectExpr(*cols)
        if dedup_pk and ts.pk_cols:
            df = dedup_last_wins(df, ts.pk_cols, ["__seq_hi", "__seq_lo"])
        if not keep_seq:
            df = df.drop("__seq_hi", "__seq_lo")
        out[name] = df
    return out, schemas


def get_dump_schemas(spark: SparkSession, path: str) -> dict[str, TableSchema]:
    """Parsed DDL only (driver-side)."""
    stmts = read_dump_statements(spark, path)
    create_stmts = [
        r.stmt for r in
        stmts.where(F.upper(F.col("stmt")).startswith("CREATE TABLE")).collect()
    ]
    out: dict[str, TableSchema] = {}
    for stmt in create_stmts:
        ts = parse_create_table(stmt)
        if ts:
            out[ts.name] = ts
    return out


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
                   rows_per_insert: int = 100,
                   complete_insert: bool = True) -> None:
    """Render a DataFrame as a mysqldump-style SQL file — distributed.

    Value tuples are rendered by the same JVM-side literal expressions as
    the sync-script sink; rows are batched into multi-row INSERT
    statements inside ``mapInPandas`` (per partition, no shuffle), written
    as distributed text, then the part files are streamed into the final
    single file with O(1) driver memory. Statement order across
    partitions is arbitrary — fine for a snapshot dump, whose rows are
    PK-unique by construction.

    ``complete_insert`` (default) emits the column list on every INSERT
    (mysqldump's ``--complete-insert``). The reference parser REQUIRES
    the column list — its INSERT regex is
    ``INSERT INTO `t` (cols) VALUES`` (sync.py:55) — and silently parses
    ZERO records from column-list-free dumps (mysqldump's default form,
    and ironically also the form the reference itself re-emits,
    sync.py:69). Our ingest accepts both forms (_INSERT_RE)."""
    import glob as _glob
    import shutil
    import tempfile

    from database_syncer_spark.core.script import sql_literal

    dtypes = {f.name: f.dataType for f in df.schema.fields}
    lits = [sql_literal(c, dtypes[c]) for c in df.columns]
    rendered = df.selectExpr(f"concat_ws(', ', {', '.join(lits)}) AS r")
    col_list = (
        " (" + ", ".join(f"`{c}`" for c in df.columns) + ")"
        if complete_insert else ""
    )
    head = f"INSERT INTO `{table}`{col_list} VALUES\n"

    def to_statements(batches):
        import pandas as pd

        buf: list[str] = []
        for pdf in batches:
            out: list[str] = []
            for r in pdf["r"]:
                buf.append(f"({r})")
                if len(buf) == rows_per_insert:
                    out.append(head + ",\n".join(buf) + ";")
                    buf = []
            if out:
                yield pd.DataFrame({"s": out})
        if buf:
            yield pd.DataFrame({"s": [head + ",\n".join(buf) + ";"]})

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

    parts_dir = tempfile.mkdtemp(prefix="dss_dump_parts_")
    # Assemble into a sibling temp name and rename: callers cache dumps by
    # "exists and non-empty", so a crash mid-assembly must never leave a
    # plausible-looking truncated file at the final path (rename on the
    # same filesystem is atomic).
    tmp_path = path + ".tmp"
    try:
        (rendered.mapInPandas(to_statements, "s string")
         .write.mode("overwrite").text(parts_dir))
        with open(tmp_path, "w", encoding="utf-8") as out_fh:
            out_fh.write(header + "\n")
            for part in sorted(_glob.glob(os.path.join(parts_dir, "part-*"))):
                with open(part, "r", encoding="utf-8") as in_fh:
                    shutil.copyfileobj(in_fh, out_fh)
        os.replace(tmp_path, path)
    finally:
        shutil.rmtree(parts_dir, ignore_errors=True)
        if os.path.exists(tmp_path):
            os.remove(tmp_path)


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
        write_script(
            ordered, output_file,
            header="-- sync script: apply to backup to reach production state",
            ddl=ddl,
        )
        for (name, ct, _), n in zip(cells, observed.get["n"]):
            if n:
                stats[name][ct] = n
    elif ddl:
        with open(output_file, "w", encoding="utf-8") as fh:
            fh.write("\n".join(["-- sync script"] + ddl) + "\n")

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


def _input_bytes(path: str) -> int:
    """Local input size (file or flat dump directory); 2**63-1 when the
    path can't be stat'd (non-local storage) so the auto-gate declines
    to cache rather than guessing."""
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
        return (1 << 63) - 1


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
    paths (no stat) are left to cluster defaults.
    """
    if os.environ.get("SPARK_GRAFT_SHUFFLE"):
        return
    try:
        total = sum(os.path.getsize(p) for p in paths)
    except OSError:
        return
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
    (``generate_sync_script(ordered=False)``)."""
    from pyspark import StorageLevel

    from database_syncer_spark.core.diff import catalog_diff, snapshot_diff_fused
    from database_syncer_spark.core.script import generate_sync_script
    from database_syncer_spark.sources.pg_dump import sniff_dump_dialect

    _size_shuffle_partitions(spark, prod_path, backup_path)
    dialects = (sniff_dump_dialect(prod_path), sniff_dump_dialect(backup_path))
    if "postgres" in dialects:
        return _sync_dumps_cross_dialect(spark, prod_path, backup_path,
                                         dialects, tables)
    # keep_seq + no dedup: last-wins resolution happens INSIDE the diff's
    # single shuffle (snapshot_diff_fused) instead of as a per-side
    # aggregation before a join — one wide stage less per table.
    # a requested table may legitimately be absent from ONE side (that's
    # what the catalog diff reports), so each side ignores missing names
    # inside its own (single) DDL scan — a separate get_dump_schemas
    # prescan would repeat the full statement scan per side.
    # cache_statements=None: the r8-measured skinny single-scan with the
    # size auto-gate — the DDL collect materializes the statement frame
    # once and the row parse reads it back instead of re-scanning the
    # raw file, but only for dumps small enough that the cache doesn't
    # contend with the diff's execution memory (see the
    # read_sql_dump_with_schemas docstring for both A/Bs)
    prod, prod_schemas = read_sql_dump_with_schemas(
        spark, prod_path, dedup_pk=False, keep_seq=True,
        tables=tables, ignore_missing=True, cache_statements=None)
    backup, _ = read_sql_dump_with_schemas(
        spark, backup_path, dedup_pk=False, keep_seq=True,
        tables=tables, ignore_missing=True, cache_statements=None)
    if tables is not None:
        nowhere = set(tables) - set(prod) - set(backup)
        if nowhere:
            raise ValueError(f"tables in neither dump: {sorted(nowhere)}")
    catalog = catalog_diff(prod, backup)
    changes, statements = {}, {}
    for name in catalog["common"]:
        pk = prod_schemas[name].pk_cols
        ch = snapshot_diff_fused(prod[name], backup[name], pk).persist(
            StorageLevel.MEMORY_AND_DISK)
        changes[name] = ch
        statements[name] = generate_sync_script(ch, name, pk, ordered=False)
    return changes, catalog, statements, prod_schemas


def _sync_dumps_cross_dialect(spark, prod_path, backup_path, dialects,
                              tables):
    """_sync_plans when at least one side is a PostgreSQL plain dump
    (auto-sniffed): each side reads through its dialect's reader into
    the SAME typed-DataFrame contract, then the shared diff/script core
    runs unchanged — dialect lives entirely at the source boundary.

    Differences vs the all-mysql fast path, both deliberate — and as of
    r10, MEASURED, not just argued:
    - plain ``snapshot_diff`` per table instead of the fused
      last-wins+diff: a COPY block cannot express PK overwrites, so the
      pg side needs no last-wins; the mysql side (if any) deduplicates
      in its own reader (``dedup_pk=True``). The r9 note said "fusable
      later"; r10 BUILT the fused variant (mysql side keep_seq, pg side
      constant order key, one groupBy(pk) over the tagged union) and
      the interleaved fresh-JVM A/B at 3 M rows/side REJECTED it:
      unfused won 4 of 5 alternating pairs (e.g. 22.2 s vs 253.2 s in
      the same host window), and the isolated diff-stage comparison on
      identical inputs measured fused 82.6 s vs plain 46.1 s. The fuse
      pays off only when BOTH sides need last-wins (the all-mysql case,
      where it replaced TWO dedup aggregations + a join with one
      shuffle); here it drags the pg side — which needs no resolution
      at all — through a 6 M-row SortAggregate with two struct max_by
      buffers, while the unfused mysql dedup's output partitioning is
      already reusable by the join. SCALE.md carries the table.
    - columns are aligned to the PROD side's schema order before the
      diff (the two dialects' DDL may list columns differently); a
      backup missing a prod column fails loudly in the select, same as
      the reference's positional mismatch would.
    PK columns come from the prod side (pg: inline constraint or
    pg_dump's post-data ALTER; mysql: PRIMARY KEY clause)."""
    from pyspark import StorageLevel

    from database_syncer_spark.core.diff import catalog_diff, snapshot_diff
    from database_syncer_spark.core.script import generate_sync_script
    from database_syncer_spark.sources.pg_dump import read_pg_dump_with_schemas

    def _read(path, dialect):
        if dialect == "postgres":
            return read_pg_dump_with_schemas(spark, path, tables=tables)
        return read_sql_dump_with_schemas(
            spark, path, dedup_pk=True, tables=tables, ignore_missing=True,
            cache_statements=None)

    prod, prod_schemas = _read(prod_path, dialects[0])
    backup, backup_schemas = _read(backup_path, dialects[1])
    if tables is not None:
        nowhere = set(tables) - set(prod) - set(backup)
        if nowhere:
            raise ValueError(f"tables in neither dump: {sorted(nowhere)}")
    catalog = catalog_diff(prod, backup)
    changes, statements = {}, {}
    for name in catalog["common"]:
        pk = prod_schemas[name].pk_cols
        p = prod[name]
        # cross-dialect type drift (e.g. mysql datetime -> timestamp vs
        # pg -> timestamp_ntz) must not classify every row as changed:
        # cast the backup to the prod side's exact column types.
        b = backup[name].selectExpr(
            *[f"CAST({quote_ident(c)} AS {t}) AS {quote_ident(c)}"
              for c, t in p.dtypes])
        ch = snapshot_diff(p, b, pk_cols=pk).persist(
            StorageLevel.MEMORY_AND_DISK)
        changes[name] = ch
        statements[name] = generate_sync_script(ch, name, pk, ordered=False)
    return changes, catalog, statements, prod_schemas
