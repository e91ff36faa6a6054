"""MySQL logical-dump → Parquet ingest — the reference's entire job,
re-expressed Spark-first.

Reference behavior being matched (SURVEY.md §2.1, /root/reference/src/):

* statement grammar: lines accumulate until a trailing ``;``; ``--``
  comments, one-line ``/* … */;`` blocks and blank lines dropped; only
  ``CREATE TABLE`` / ``INSERT INTO`` statements survive (main.rs:110–145).
* ``cleanup_key``: MySQL index prefix lengths (``KEY k (col(144))``) are
  stripped inside CREATE TABLE via a paren-depth scan (main.rs:158–181).
* DDL type mapping (line_parser.rs:122–174) with the reference's semantic
  bugs *fixed*, per SURVEY.md §1.2: DECIMAL → DecimalType (reference: lossy
  Int64), BOOLEAN → BooleanType (reference: panics), DATE → DateType
  (reference: panics on 10-char literals), TIME → StringType (no Spark
  time-of-day type on this line).
* nullability: default nullable; NOT NULL → False; NULL → True; inline or
  table-level PRIMARY KEY → False (line_parser.rs:176–193).
* column names lowercased (line_parser.rs:39); timestamps parsed as UTC
  (parquet_writer.rs:186–191); Integer→Float widening (parquet_writer.rs:162);
  any other value/column mismatch is an error (C3).
* sink: one Snappy Parquet dataset per table (parquet_writer.rs:69–91) —
  a *directory* per table here (multi-part output is the scale story).

Execution model (replaces the reference's 3-thread pipeline, main.rs:88–108):

* ``spark.read.text`` splits on line boundaries, so every ``INSERT`` row of
  a mysqldump (one statement per line under the default --extended-insert)
  is a complete record — INSERT parsing is embarrassingly parallel across
  executors with no cross-partition state.
* DDL + noise lines (everything that is not an INSERT) are a few KB even in
  a 100 TB dump; they are collected to the driver once and reassembled with
  the reference grammar.  This two-pass split also removes the reference's
  "CREATE TABLE must precede its INSERTs, no interleaving" restriction
  (README.md:13–17).
* One parse core, :func:`parse_statements`, turns a table's INSERT
  statements into final-typed Arrow.  Three thin front ends feed it the
  same statement sources (JVM text lines for one-line dumps, byte-range
  reassembly for multi-line dumps and compressed members): the one-pass
  convert task (:func:`convert_dump_onepass`), the per-table fallback
  into Spark's Parquet sink for output the driver cannot reach, and the
  ``format("mysqldump")`` reader.  Gzip dumps are unsplittable → one
  task per *file*; parallelism at scale comes from many dump files,
  which is how mysqldump output ships in practice.
* One Python byte layer serves every Python-side read of a dump file
  (the reassembly convert, its multi-line DDL pass, the reader):
  :func:`_carve_ranges` cuts the byte ranges, :func:`_range_lines`
  yields a range's raw lines, and :func:`_open_dump` decodes a
  compressed member in the task's own process — pyarrow's gzip/bzip2/
  zstd streams, the stdlib's lzma for xz — so an executor needs no
  codec binary.
"""

from __future__ import annotations

import contextlib
import io
import lzma
import os
import re
from collections.abc import Iterable, Iterator
from dataclasses import dataclass
from datetime import date, datetime, timezone
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --------------------------------------------------------------------------
# statement grammar (pure Python — no Spark needed, unit-tested directly)
# --------------------------------------------------------------------------

#: DML statement prefixes a mysqldump can emit: plain, ``--insert-ignore``
#: (INSERT IGNORE), and ``--replace`` (REPLACE INTO).  For a whole-table
#: conversion the three are row-identical — IGNORE/REPLACE semantics only
#: matter when loading into a table that already has rows, and a dump is
#: self-consistent — so all three parse through the same path.
DML_PREFIXES = ("INSERT INTO", "INSERT IGNORE INTO", "REPLACE INTO")

_DML_HEAD = r"^(?:INSERT\s+(?:IGNORE\s+)?|REPLACE\s+)INTO"
_INSERT_TABLE = _DML_HEAD + r"\s+[`\"]?(?P<name>[A-Za-z0-9_$]+)[`\"]?"

#: A statement's route, read from its first bytes: group ``name`` for an
#: INSERT whose head names its table, group ``dml`` alone for an
#: INSERT/REPLACE head that does not (see :func:`_route`).
_ROUTE_RE = re.compile(
    rb"(?:" + _INSERT_TABLE.encode() + rb")|(?P<dml>INSERT|REPLACE)\b", re.I
)

#: The route of every statement that is not an INSERT.
_DDL = "DDL"

#: Heads of the statements the grammar keeps, besides USE (:func:`_is_use`).
_KEPT_HEADS = tuple(p.encode() for p in ("CREATE TABLE",) + DML_PREFIXES)


def _route(stmt: bytes) -> str | None:
    """Where a statement (or its first line) goes: the lowercased table
    name of an INSERT, :data:`_DDL` for any other statement, or None
    for an INSERT/REPLACE whose table name is not in ``stmt`` — a first
    line that ends before the name, or an INSERT no table can claim."""
    m = _ROUTE_RE.match(stmt)
    if m is None:
        return _DDL
    name = m.group("name")
    return name.decode("ascii").lower() if name else None


def _is_use(stmt: bytes) -> bool:
    return stmt[:4].upper() in (b"USE ", b"USE`")


def cleanup_key(line: bytes) -> bytes:
    """Strip MySQL index prefix lengths: ``KEY k (col(144))`` → ``KEY k (col)``.

    Same paren-depth semantics as the reference (main.rs:158–181): content at
    depth ≥ 2 is dropped, including the depth-2 closing paren.
    """
    if b"KEY " not in line:
        return line
    out = bytearray()
    depth = 0
    for ch in line:
        if ch == 40:  # (
            depth += 1
        if ch == 41:  # )
            depth -= 1
            if depth == 1:
                continue
        if depth >= 2:
            continue
        out.append(ch)
    return bytes(out)


def _is_noise_bytes(s: bytes) -> bool:
    """Comment/blank filter over a stripped raw line (main.rs:123–128)."""
    return not s or s.startswith(b"--") or (s.startswith(b"/*") and s.endswith(b"*/;"))


def iter_statements(lines: Iterable[bytes], routes=None) -> Iterator[bytes]:
    """Reassemble raw dump lines into statements, as bytes; yield only
    CREATE TABLE / INSERT INTO statements (main.rs:110–145).

    ``routes``, when given, keeps only the statements whose
    :func:`_route` it holds.  The route is read from a statement's first
    non-noise line, so a statement routed elsewhere is skipped line by
    line, never buffered or joined; a first line that does not name its
    table yet is kept and the statement is routed once assembled."""
    current: list[bytes] = []
    in_create = skip = False
    route = None
    for raw in lines:
        line = raw.strip()
        if _is_noise_bytes(line):
            continue
        if routes is not None and not current and not skip:
            route = _route(line)
            skip = route is not None and route not in routes
        if skip:
            skip = not line.endswith(b";")
            continue
        if in_create:
            current.append(cleanup_key(line))
        else:
            current.append(line)
            in_create = line.startswith(b"CREATE TABLE")
        if line.endswith(b";"):
            stmt = b" ".join(current)
            current.clear()
            in_create = False
            # USE statements ride along solely as database context for the
            # duplicate-table guard (build_schemas); every downstream
            # consumer filters by CREATE/DML prefix.
            if (stmt.startswith(_KEPT_HEADS) or _is_use(stmt)) and (
                routes is None or (route or _route(stmt)) in routes
            ):
                yield stmt


def _text(stmt: bytes) -> str:
    """The one decode of dump statement text (invalid UTF-8 becomes
    U+FFFD): where a statement reaches the exhaustive tokenizer and where
    DDL reaches :func:`parse_create_table`."""
    return stmt.decode("utf-8", errors="replace")


# --------------------------------------------------------------------------
# DDL → StructType
# --------------------------------------------------------------------------

#: MySQL type name → Spark type factory.  args = the parenthesized ints.
#: Mapping mirrors line_parser.rs:122–174 with SURVEY §1.2 fixes.
_STRING_TYPES = {
    "char", "varchar", "tinytext", "text", "mediumtext", "longtext",
    "enum", "set", "string", "json",
}
_INT_TYPES = {
    "tinyint", "smallint", "mediumint", "int", "integer", "bigint",
    "int2", "int4", "int8", "int64", "serial", "year", "bit",
}
_FLOAT_TYPES = {"float", "float4", "float8", "float64", "real", "double"}
_DECIMAL_TYPES = {"decimal", "numeric", "dec", "bignumeric", "bigdecimal", "fixed"}
_BINARY_TYPES = {
    "binary", "varbinary", "tinyblob", "blob", "mediumblob", "longblob",
    # spatial types: mysqldump emits their values as binary payloads
    # (SRID-prefixed WKB, via _binary '…' or --hex-blob 0x…) — the
    # faithful conversion is the opaque bytes, decoded downstream by
    # whatever geometry library consumes the parquet
    "geometry", "point", "linestring", "polygon", "multipoint",
    "multilinestring", "multipolygon", "geomcollection",
    "geometrycollection",
}

_COL_RE = re.compile(r"^`(?P<q>[^`]+)`|^(?P<b>[A-Za-z_][A-Za-z0-9_]*)")
_TYPE_NAME_RE = re.compile(r"^\s*(?P<name>[A-Za-z][A-Za-z0-9_]*)")


def _split_type_args(s: str) -> tuple[str, str, str] | None:
    """Split a column-def remainder into (type_name, args_text, rest) with
    a quote-aware paren scan — ``enum('a)','null')`` must not cut the arg
    list at the ``)`` inside the first literal (a naive ``[^)]*`` match
    leaks literal text into the option scan, where a stray 'null' would
    flip inferred nullability)."""
    m = _TYPE_NAME_RE.match(s)
    if not m:
        return None
    i = m.end()
    n = len(s)
    while i < n and s[i] in " \t":
        i += 1
    if i >= n or s[i] != "(":
        return m.group("name"), "", s[m.end():]
    depth = 0
    quote: str | None = None
    j = i
    while j < n:
        ch = s[j]
        if quote:
            if ch == "\\" and quote == "'":
                j += 2
                continue
            if ch == quote:
                if quote == "'" and j + 1 < n and s[j + 1] == "'":
                    j += 2
                    continue
                quote = None
        elif ch in ("'", '"'):
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return m.group("name"), s[i + 1 : j], s[j + 1 :]
        j += 1
    return None  # unterminated arg list
_TABLE_NAME_RE = re.compile(
    r"^CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?[`\"]?(?P<name>[A-Za-z0-9_$]+)[`\"]?\s*\(",
    re.I,
)
#: Table-constraint openers (word-bounded so columns named `checksum`,
#: `constraint_id`, `keys`, … still parse as columns).
_NON_COLUMN_RE = re.compile(
    r"^(?:primary\s+key|unique\s+key|unique\s+index|unique|key|index|"
    r"constraint|foreign\s+key|fulltext|spatial|check)\b"
    r"|^(?:key|index|unique|check)\(",
    re.I,
)


class DumpParseError(ValueError):
    """Parse failure with table/column context (replaces the reference's
    bail!/panic, line_parser.rs:170–173)."""


class MultilineDumpError(DumpParseError):
    """The dump spreads INSERT statements over multiple lines (no
    --extended-insert / reformatted).  Not an error for ``convert_dump``,
    which switches to byte-range statement reassembly (reference parity:
    main.rs:110–145 accumulates lines until ';')."""


class OnepassStagingInvisible(RuntimeError):
    """The one-pass convert's staging probe failed: an executor wrote a
    marker file under the staging directory but the driver cannot see it
    — driver and executors do not share the output filesystem, so the
    task-side parquet writers could never be committed by the driver's
    final move.  ``convert_dump`` catches this and falls back to the
    per-table Spark writers; a direct :func:`convert_dump_onepass` call
    propagates it."""


def _split_top_level(body: str) -> list[str]:
    """Split a CREATE TABLE body on commas at paren depth 0, quote-aware."""
    parts: list[str] = []
    depth = 0
    quote: str | None = None
    start = 0
    i = 0
    while i < len(body):
        ch = body[i]
        if quote:
            if ch == "\\" and quote == "'":
                i += 2
                continue
            if ch == quote:
                quote = None
        elif ch in ("'", '"', "`"):
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(body[start:i].strip())
            start = i + 1
        i += 1
    tail = body[start:].strip()
    if tail:
        parts.append(tail)
    return parts


def _strip_quoted(s: str) -> str:
    """Remove quoted literals (``'…'`` with backslash escapes and ``''``
    doubling, plus ``"…"``) so option scans over a column-def remainder
    can't be fooled by literal text — e.g. ``DEFAULT 'null'`` or
    ``COMMENT 'not null here'`` must not flip inferred nullability."""
    out: list[str] = []
    quote: str | None = None
    i = 0
    n = len(s)
    while i < n:
        ch = s[i]
        if quote:
            if ch == "\\" and quote == "'":
                i += 2
                continue
            if ch == quote:
                if quote == "'" and i + 1 < n and s[i + 1] == "'":
                    i += 2  # '' doubling stays inside the literal
                    continue
                quote = None
        elif ch in ("'", '"'):
            quote = ch
        else:
            out.append(ch)
        i += 1
    return "".join(out)


def _map_type(table: str, col: str, type_name: str, args: list[int], unsigned: bool):
    tn = type_name.lower()
    if tn in _DECIMAL_TYPES:
        p = args[0] if args else 10
        s = args[1] if len(args) > 1 else 0
        return T.DecimalType(min(p, 38), min(s, 37))
    if tn in ("bool", "boolean"):
        return T.BooleanType()
    if tn == "date":
        return T.DateType()
    if tn in ("datetime", "timestamp"):
        return T.TimestampType()
    if tn == "time":
        return T.StringType()  # no time-of-day type; documented divergence
    if tn in _INT_TYPES:
        # BIGINT UNSIGNED can exceed int64 (auto-increment ids near 2^64);
        # DECIMAL(20,0) holds the full range losslessly.  Same for
        # BIT(64): the value range is [0, 2^64), so the top bit set
        # overflows a signed long.
        if unsigned and tn in ("bigint", "int8", "int64", "serial"):
            return T.DecimalType(20, 0)
        if tn == "bit" and args and args[0] >= 64:
            return T.DecimalType(20, 0)
        return T.LongType()
    if tn in _FLOAT_TYPES:
        return T.DoubleType()
    if tn in _STRING_TYPES:
        return T.StringType()
    if tn in _BINARY_TYPES:
        return T.BinaryType()
    raise DumpParseError(f"unsupported column type {type_name!r} for {table}.{col}")


@dataclass(frozen=True)
class TableSchema:
    table: str
    schema: T.StructType


def parse_create_table(stmt: str) -> TableSchema:
    """CREATE TABLE statement → (table, StructType).

    Nullability rules per line_parser.rs:176–193 (first matching option
    wins; table-level PRIMARY KEY forces its columns NOT NULL); names
    lowercased per line_parser.rs:39.
    """
    m = _TABLE_NAME_RE.match(stmt)
    if not m:
        raise DumpParseError(f"cannot find table name in: {stmt[:120]!r}")
    table = m.group("name").lower()
    body_start = m.end() - 1
    # Find the ')' matching the body's '(' with a quote-aware depth scan —
    # rfind(')') would be fooled by parens in table options
    # (e.g. COMMENT='see (note)').  Index-based so a backslash escape can
    # skip the NEXT character too (DEFAULT 'don\\'t)' must not close the
    # quote early), mirroring _split_top_level.
    depth = 0
    quote: str | None = None
    body_end = -1
    i = body_start
    while i < len(stmt):
        ch = stmt[i]
        if quote:
            if ch == "\\" and quote == "'":
                i += 2
                continue
            if ch == quote:
                quote = None
        elif ch in ("'", '"', "`"):
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                body_end = i
                break
        i += 1
    if body_end <= body_start:
        raise DumpParseError(f"unterminated CREATE TABLE body for {table}")
    body = stmt[body_start + 1 : body_end]

    fields: list[tuple[str, object, bool]] = []
    pk_cols: set[str] = set()
    for part in _split_top_level(body):
        low = part.lower()
        if _NON_COLUMN_RE.match(low):
            if low.startswith("primary key") and "(" in part:
                cols_blob = re.findall(r"\(([^)]*)\)", part)[0]
                pk_cols.update(c.strip(" `\"").lower() for c in cols_blob.split(","))
            continue
        cm = _COL_RE.match(part)
        if not cm:
            raise DumpParseError(f"cannot parse column def in {table}: {part[:80]!r}")
        col = (cm.group("q") or cm.group("b")).lower()
        split = _split_type_args(part[cm.end() :])
        if split is None:
            raise DumpParseError(f"cannot parse type for {table}.{col}")
        type_name, args_text, rest_raw = split
        args = [
            int(a) for a in args_text.replace("'", "").split(",")
            if a.strip().isdigit()
        ]
        rest = _strip_quoted(rest_raw)
        rest_low = " " + " ".join(rest.split()).lower() + " "
        unsigned = " unsigned " in rest_low
        dtype = _map_type(table, col, type_name, args, unsigned)

        # first matching option wins (line_parser.rs:176–193)
        nullable = True
        for opt_m in re.finditer(r"not\s+null|null|primary\s+key|unique", rest_low):
            opt = " ".join(opt_m.group(0).split())
            if opt == "not null" or opt == "primary key":
                nullable = False
                break
            if opt == "null":
                nullable = True
                break
            # bare "unique" alone does not imply NOT NULL
        fields.append((col, dtype, nullable))

    struct = T.StructType(
        [
            T.StructField(name, dtype, nullable and name not in pk_cols)
            for name, dtype, nullable in fields
        ]
    )
    if not struct.fields:
        raise DumpParseError(f"CREATE TABLE {table} has no columns")
    return TableSchema(table, struct)


# --------------------------------------------------------------------------
# INSERT → rows (value tokenizer — the P3 analog, line_parser.rs:200–272)
# --------------------------------------------------------------------------


def _dml_line_pred():
    """JVM-side predicate: line starts with any DML prefix (scan-level
    pre-filter; the Python parser stays the correctness guard)."""
    pred = F.col("value").startswith(DML_PREFIXES[0])
    for p in DML_PREFIXES[1:]:
        pred = pred | F.col("value").startswith(p)
    return pred


_INSERT_TABLE_RE = re.compile(_INSERT_TABLE, re.I)
_INSERT_COLS_RE = re.compile(
    _DML_HEAD + r"\s+[`\"]?[A-Za-z0-9_$]+[`\"]?\s*\((?P<cols>[^)]*)\)\s*VALUES",
    re.I,
)

#: MySQL backslash escapes (https://dev.mysql.com/doc/refman/8.0/en/string-literals.html)
_ESCAPES = {
    "0": "\0", "'": "'", '"': '"', "b": "\b", "n": "\n", "r": "\r",
    "t": "\t", "Z": "\x1a", "\\": "\\", "%": "\\%", "_": "\\_",
}

_NUM_CHARS = set("0123456789+-.eE")
#: C-speed membership test: tok.translate(_NUM_DEL) == "" ⇔ every char of
#: tok is numeric-shaped (same predicate as set(tok) <= _NUM_CHARS, minus
#: the per-char hashing).
_NUM_DEL = str.maketrans("", "", "0123456789+-.eE")


class FloatLit(float):
    """A float literal that remembers its source text, so DECIMAL-typed
    columns can be cast from the exact dump digits instead of the nearest
    binary double (floats silently truncate past ~17 significant digits)."""

    __slots__ = ("raw",)

    def __new__(cls, raw: str):
        obj = super().__new__(cls, raw)
        obj.raw = raw
        return obj


class BitLit(int):
    """A b'…' bit-literal value that remembers its bit LENGTH: MySQL
    gives bit literals the integer value in numeric context but a
    length-preserving byte string in binary-string context (b'11' →
    0x03 one byte; a 12-bit literal → two bytes)."""

    def __new__(cls, bits: str):
        obj = super().__new__(cls, int(bits, 2) if bits else 0)
        obj.nbits = len(bits)
        return obj

    def __getnewargs__(self):
        # int's default feeds the VALUE back into __new__, which expects
        # the bit string — reconstruct it so pickling round-trips
        return (format(self, f"0{self.nbits}b") if self.nbits else "",)


def parse_insert(stmt: str) -> tuple[str, list[tuple]]:
    """INSERT INTO t VALUES (...),(...) → (table, rows).  See
    :func:`parse_insert_full` for the column-list-aware form."""
    table, _cols, rows = parse_insert_full(stmt)
    return table, rows


def parse_insert_full(stmt: str) -> tuple[str, list[str] | None, list[tuple]]:
    """INSERT INTO t [(col, ...)] VALUES (...),(...) → (table, columns|None,
    rows of Python literals).

    Supports both plain mysqldump output and ``--complete-insert`` dumps
    (explicit column lists — which the reference rejects, line_parser.rs:
    220–223).  Literal typing matches the reference (line_parser.rs:
    229–258): numbers are int unless they contain '.'/exponent, strings
    stay strings, TRUE/FALSE → bool, NULL → None, unary minus folds into
    the number.  A malformed or truncated statement raises
    :class:`DumpParseError` with the table name — never a bare
    IndexError/ValueError.
    """
    tmatch = _INSERT_TABLE_RE.match(stmt)
    if tmatch is None:
        raise DumpParseError(f"cannot find table in INSERT: {stmt[:80]!r}")
    table = tmatch.group("name").lower()
    columns: list[str] | None = None
    cm = _INSERT_COLS_RE.match(stmt)
    if cm:
        columns = [
            c.strip(" `\"").lower() for c in cm.group("cols").split(",") if c.strip()
        ]
        vpos = cm.end() - len("VALUES")
    else:
        # search from the end of the table name, not position 0 — a table
        # named `values_log` must not match its own name as the keyword
        vpos = stmt.upper().find("VALUES", tmatch.end())
        if vpos < 0:
            raise DumpParseError(f"INSERT without VALUES for {table}")
    s = stmt
    i = vpos + len("VALUES")
    rows = _parse_values(s, i, table)
    if not rows:
        # fail loudly rather than silently writing 0 rows
        raise DumpParseError(f"INSERT for {table} has no VALUES tuples")
    return table, columns, rows


def _parse_values(s: str, i: int, table: str) -> list[tuple]:
    """Per-character VALUES tokenizer — the reference grammar
    (line_parser.rs:224–267) with full escape handling and contextual
    errors.  Benchmarked against a C-regex token lexer (single-pass
    finditer over string/number/keyword/punct alternation): the regex was
    0.8× — per-token match-object overhead exceeds this loop's cost — so
    the simple exhaustive form is also the fastest."""
    n = len(s)
    rows: list[tuple] = []
    row: list = []

    while i < n:
        ch = s[i]
        if ch in " \t\r\n,":
            i += 1
            continue
        if ch == ";":
            break
        if ch != "(":
            raise DumpParseError(f"expected '(' at {i} in INSERT for {table}")
        i += 1
        row = []
        # C3 fail-loud separator contract: between '(' and ')', values and
        # commas must strictly alternate.  Adjacent values (``2 .5``),
        # empty fields (``(1,,2)`` / ``(,1)`` / ``(1,)``) and the empty
        # row ``()`` all raise instead of silently fusing or dropping
        # tokens — a fused row that happens to match the table arity
        # would otherwise write corrupt values without any error.
        expect_value = True
        while True:
            while i < n and s[i] in " \t\r\n":
                i += 1
            if i >= n:
                raise DumpParseError(f"truncated INSERT for {table}: unterminated row")
            ch = s[i]
            if ch == ")":
                if expect_value:
                    raise DumpParseError(
                        f"empty {'row' if not row else 'field'} in INSERT "
                        f"for {table}"
                    )
                i += 1
                break
            if ch == ",":
                if expect_value:
                    raise DumpParseError(f"empty field in INSERT for {table}")
                expect_value = True
                i += 1
                continue
            if not expect_value:
                raise DumpParseError(
                    f"adjacent values without ',' in INSERT for {table}"
                )
            if ch == "'":
                # Fast path: most string literals contain no backslash and
                # no doubled quote — one C-speed find() + slice instead of
                # the per-char loop (≥2× on string-heavy dumps).  Any
                # escape in the span (or a '' doubling at its end) falls
                # back to the exhaustive scanner below, unchanged.
                k = s.find("'", i + 1)
                if k < 0:
                    raise DumpParseError(
                        f"unterminated string in INSERT for {table}"
                    )
                seg = s[i + 1 : k]
                if "\\" not in seg and (k + 1 >= n or s[k + 1] != "'"):
                    row.append(seg)
                    expect_value = False
                    i = k + 1
                    continue
                # string literal: backslash escapes + '' doubling
                buf: list[str] = []
                i += 1
                while i < n:
                    c = s[i]
                    if c == "\\" and i + 1 < n:
                        buf.append(_ESCAPES.get(s[i + 1], s[i + 1]))
                        i += 2
                        continue
                    if c == "'":
                        if i + 1 < n and s[i + 1] == "'":
                            buf.append("'")
                            i += 2
                            continue
                        i += 1
                        break
                    buf.append(c)
                    i += 1
                row.append("".join(buf))
                expect_value = False
                continue
            # unquoted token: number / NULL / TRUE / FALSE
            j = i
            while j < n and s[j] not in ",) \t\r\n":
                j += 1
            tok = s[i:j]
            i = j
            # introducer tokens start with "_", which _NUM_DEL keeps, so
            # they can never take the numeric branch — the glued-quote
            # rewind check safely moves below it (off the hot path)
            if tok[0] == "_" and "'" in tok:
                # charset introducer glued to its string (_utf8mb4'x'):
                # rewind to the quote; the next iteration parses the string.
                q = tok.index("'")
                if q > 1 and tok[1:q].replace("_", "").isalnum():
                    i -= len(tok) - q
                    continue
            # numeric check first (numbers dominate real dumps) via the
            # translate trick — no per-token set() build or upper() alloc
            if not tok.translate(_NUM_DEL):
                try:
                    if "." in tok or "e" in tok or "E" in tok:
                        row.append(FloatLit(tok))
                    else:
                        row.append(int(tok))
                except ValueError as exc:
                    raise DumpParseError(
                        f"bad numeric literal {tok[:40]!r} in INSERT for {table}"
                    ) from exc
            elif (up := tok.upper()) == "NULL":
                row.append(None)
            elif up == "TRUE":
                row.append(True)
            elif up == "FALSE":
                row.append(False)
            elif up.startswith("0X"):
                try:
                    row.append(bytes.fromhex(tok[2:]))
                except ValueError as exc:
                    raise DumpParseError(
                        f"bad hex literal {tok[:40]!r} in INSERT for {table}"
                    ) from exc
            elif up[0] == "B" and len(tok) >= 2 and tok[1] == "'":
                # BIT column literal (b'101') — numeric context, matching
                # the BIT→integer DDL mapping.  The Arrow-CSV fast path
                # reads these itself (:data:`_BIT_STAND_IN`); statements
                # it refuses, and bad literals, land here.
                if len(tok) < 3 or tok[-1] != "'" or tok[2:-1].strip("01"):
                    raise DumpParseError(
                        f"bad bit literal {tok[:40]!r} in INSERT for {table}"
                    )
                row.append(BitLit(tok[2:-1]))
            elif up[0] == "X" and len(tok) >= 2 and tok[1] == "'":
                # standard-SQL hex string literal (X'41') — byte string,
                # same value class as 0x41
                if len(tok) < 3 or tok[-1] != "'":
                    raise DumpParseError(
                        f"bad hex literal {tok[:40]!r} in INSERT for {table}"
                    )
                try:
                    row.append(bytes.fromhex(tok[2:-1]))
                except ValueError as exc:
                    raise DumpParseError(
                        f"bad hex literal {tok[:40]!r} in INSERT for {table}"
                    ) from exc
            elif (
                tok.startswith("_")
                and tok[1:].replace("_", "").isalnum()
                and _next_is_literal(s, i, n)
            ):
                # charset introducer (_binary 'x', _utf8mb4'x', _binary 0x..):
                # skip it — the following literal is the value (a str value
                # landing in a BinaryType column goes through the existing
                # byte-fidelity guard in coerce_row).
                continue
            else:
                raise DumpParseError(
                    f"unsupported literal {tok[:40]!r} in INSERT for {table}"
                )
            expect_value = False
        rows.append(tuple(row))
    return rows


def _next_is_literal(s: str, i: int, n: int) -> bool:
    """True when the next non-space char starts a string, hex, or bit
    literal — the things a charset introducer may precede (``_binary
    '…'``, ``_binary 0x…``, ``_binary X'…'``, ``_binary b'…'``)."""
    while i < n and s[i] in " \t":
        i += 1
    if i >= n:
        return False
    c = s[i]
    if c == "'" or c == "0":
        return True
    return c in "xXbB" and i + 1 < n and s[i + 1] == "'"


# --------------------------------------------------------------------------
# Arrow-CSV fast path for canonical extended-INSERT statements
# --------------------------------------------------------------------------
#
# The per-character tokenizer above is the COMPLETE grammar (escapes, hex
# blobs, b'…' bit literals, X'…' hex strings, charset introducers,
# arbitrary whitespace).  The overwhelming bulk
# of a real mysqldump, though, is the canonical layout mysqldump itself
# emits: ``INSERT INTO `t` VALUES (a,b,...),(a,b,...);``.  Once backslash
# escapes are resolved, that VALUES text IS a CSV dialect (comma
# delimiter, single-quote quoting, '' doubling), so the parse can be
# handed to pyarrow.csv's C++ reader: a vectorized numpy scan validates the
# structure and rewrites top-level ``),(`` separators to newlines, and one
# ``read_csv`` call per statement group converts every literal straight
# into typed Arrow columns — measured 4.8× per core over the Python
# tokenizer (8 → 39 MB/s/core on the ingest-bench shape).
#
# Every step before ``read_csv`` is numpy/C:
#
# * escapes resolve through a 256-entry lookup table indexed by the byte
#   after each escaping backslash (:func:`_unescape_bytes`), with no
#   Python loop over escape sites — a per-site loop would dominate the
#   parse of escape-dense text tables;
# * ``\0`` resolves to SOH (0x01), not NUL: pyarrow.csv 16.1 miscounts
#   columns on NUL-bearing payloads past ~0.5 MB, so NUL never reaches
#   the reader.  :func:`_arrow_read_values` maps SOH back to NUL in every
#   string column.  A statement whose raw text already holds 0x00 or 0x01
#   takes the tokenizer, so SOH in a payload always means ``\0``;
# * binary and bit literals ride the payload too.  A ``0x…`` token, an
#   ``X'…'``/``x'…'`` hex string and a ``b'…'``/``B'…'`` bit literal at a
#   field start (right after ``(`` or ``,``) are rewritten into a token
#   that starts with a stand-in byte: STX (0x02) for hex, ETX (0x03) for
#   bits, followed by the digits (``0x41`` → STX ``41``; ``b'101'`` →
#   the quoted field ``'`` ETX ``101'``).  Once Arrow has stripped the
#   quotes, the stand-in is what tells the literal ``0x41`` from the
#   quoted string ``'0x41'``.  :func:`_arrow_read_values` decodes the
#   tokens by target type in numpy (hex → bytes or a big-endian integer,
#   bits → an integer or ``ceil(nbits/8)`` bytes) and raises when a token
#   lands in any other column.  A statement whose raw text holds 0x02 or
#   0x03 takes the tokenizer, as raw NUL/SOH does; introducers glued to
#   anything but a delimiter (``_binary'…'``) still fail the
#   quote-boundary guard;
# * each statement group's CSV chunks append to ONE ``bytearray`` that
#   the reader consumes in place — no per-chunk list, no join copy.
#
# Safety model: the fast path never guesses.  Any structural surprise —
# a trailing lone backslash, quote imbalance, a top-level paren
# that is not exactly a row boundary, an Arrow conversion error (type
# mismatch, int64 overflow, ragged row), a non-finite parsed double or a
# NaN literal, a quote byte off a field boundary (glued charset
# introducers, half-quoted junk) — drops the statement (or the whole Arrow
# batch) back to the exhaustive tokenizer, which either parses it
# correctly or raises the proper contextual DumpParseError.  Fail-loud
# (C3) is therefore preserved for every input the exhaustive grammar
# rejects with a *typed* mismatch; the documented acceptance-widenings —
# all only reachable from hand-crafted dumps mysqldump never emits — are
# QUOTED literals that Arrow CSV converts where coerce_row would raise:
# '7' in a BIGINT column, '1.5' in a DOUBLE column, '1'/'TRUE' in a
# BOOLEAN column, and a bare unquoted junk token in a StringType or
# BinaryType column.

_FAST_PATH_TYPES = (
    T.LongType, T.DoubleType, T.BooleanType, T.BinaryType,
    T.TimestampType, T.DateType, T.DecimalType, T.StringType,
)


def _arrow_fast_types(schema: T.StructType):
    """Column name → Spark type for :func:`_arrow_read_values`, or None
    when the schema has a column the fast path does not handle (any type
    ``parse_create_table`` does not produce).

    Every literal of the canonical layout rides the fast path: numbers,
    NULL, quoted strings, and the binary literals ``0x…``, ``X'…'`` and
    ``b'…'``, which the scan marks with the stand-in bytes STX (hex,
    :data:`_HEX_STAND_IN`) and ETX (bits, :data:`_BIT_STAND_IN`) and the
    read decodes into BinaryType, LongType (BIT(n<64)) and DecimalType
    (BIT(64)) columns."""
    if not all(isinstance(f.dataType, _FAST_PATH_TYPES) for f in schema.fields):
        return None
    return {f.name: f.dataType for f in schema.fields}


#: Stand-in for NUL in fast-path CSV payloads (see the block comment).
_NUL_STAND_IN = b"\x01"

#: First byte of a hex-literal token (``0x…``/``X'…'``) and of a
#: bit-literal token (``b'…'``) in fast-path CSV payloads.  Raw bytes
#: 0x00–0x03 in a statement send it to the tokenizer, so these bytes in
#: a payload always come from the scan.
_HEX_STAND_IN = b"\x02"
_BIT_STAND_IN = b"\x03"

#: Byte written over the byte after an escaping backslash — mirrors
#: ``_ESCAPES``, with ``\0`` → SOH.  Unlisted bytes map to themselves:
#: MySQL drops the backslash of an unknown escape and keeps the byte
#: (also the lead byte of a multibyte UTF-8 char — its continuation
#: bytes are untouched).  ``\'``, ``\%`` and ``\_`` keep their byte
#: too; :func:`_unescape_bytes` handles their backslash.
_ESC_LUT = bytes(range(256)).translate(
    bytes.maketrans(b"0bnrtZ", _NUL_STAND_IN + b"\x08\n\r\t\x1a")
)


def _unescape_bytes(data: bytes) -> bytes | None:
    """Resolve MySQL backslash escapes byte-level, BEFORE the structural
    scan (escaped quotes must not count toward quote parity).

    A backslash starts an escape iff it is preceded by an even number of
    consecutive backslashes — computed vectorized over the backslash
    positions alone (a run starts where the previous backslash is not
    adjacent; the offset into its run decides).  The escape sites then
    resolve in three array operations, never a Python loop: the byte
    after each escaping backslash goes through :data:`_ESC_LUT`;
    ``\\'`` becomes the CSV doubling ``''`` by writing a quote over its
    backslash; every other escaping backslash is dropped by one delete,
    except those of ``\\%`` and ``\\_``, which MySQL keeps.  ``\\0``
    yields SOH, not NUL (:data:`_NUL_STAND_IN`).  Returns None for a
    trailing lone backslash (truncated statement — exhaustive path
    raises properly)."""
    import numpy as np

    arr = np.frombuffer(data, dtype=np.uint8)
    pos = np.flatnonzero(arr == 92)
    if pos.size == 0:
        return data
    run_start = np.empty(pos.size, dtype=bool)
    run_start[0] = True
    run_start[1:] = np.diff(pos) != 1
    run_id = np.cumsum(run_start) - 1
    starts = pos[((pos - pos[run_start][run_id]) % 2) == 0]
    if int(starts[-1]) + 1 >= arr.size:
        return None
    esc = arr[starts + 1]
    out = arr.copy()
    out[starts + 1] = np.frombuffer(_ESC_LUT, dtype=np.uint8)[esc]
    quote = esc == 39
    out[starts[quote]] = 39
    drop = starts[~(quote | (esc == 37) | (esc == 95))]
    return np.delete(out, drop).tobytes()


def _at_field_start(arr, pos):
    """Mask of the positions ``pos`` that start a VALUES field: the
    first byte, or the byte right after ``(`` or ``,``."""
    import numpy as np

    before = arr[np.maximum(pos - 1, 0)]
    return (pos == 0) | (before == 40) | (before == 44)


def _values_csv_bytes(stmt: bytes) -> tuple[bytes, int] | None:
    """Rewrite one canonical extended-INSERT statement's VALUES text into
    CSV bytes (one line per row, outer parens stripped), or None when any
    structural guard trips.

    A statement with a column list (``--complete-insert``) returns None,
    and so does one whose raw VALUES text holds a byte 0x00–0x03 (SOH,
    STX and ETX are the payload's stand-ins for ``\\0``, hex and bit
    literals, see :data:`_NUL_STAND_IN`).  Backslash escapes are
    then resolved by
    :func:`_unescape_bytes` (so text-corpus dumps full of ``\\'`` and
    ``\\0`` stay on the fast path), and insignificant top-level
    whitespace is stripped (delimiter-adjacent runs only — pretty-printed
    / reassembled multiline statements then ride the fast path; a run
    between two value tokens is malformed and rejects).  The numpy scan
    then proves three invariants before any byte is moved: quote parity
    is balanced, every top-level ``(`` is exactly a row opener, and every
    top-level ``)`` is exactly a row closer — so a ``),(`` inside a
    quoted string can never split a row, and any stray top-level paren
    (nested tuples, truncated statements) routes to the exhaustive
    parser instead.  Hex and bit literals at a field start become
    stand-in tokens (block comment above).  Returns the CSV payload and
    the row count the caller must see back from Arrow."""
    import numpy as np

    tm = _ROUTE_RE.match(stmt)
    # search from the table-name end: a table named `values_log` must not
    # match its own name as the keyword (same rule as parse_insert_full).
    # The keyword sits within a few bytes of the table name unless a
    # column list comes between, so case-fold only a small window —
    # upper() of the WHOLE statement measured ~6% of the scan on a 76 KB
    # extended INSERT; fall back to the full fold only if the window
    # misses (pathological spacing).
    start = tm.end() if tm else 0
    vpos = stmt[start : start + 96].upper().find(b"VALUES")
    vpos = (
        vpos + start if vpos >= 0 else stmt.upper().find(b"VALUES", start)
    )
    if vpos < 0 or b"(" in stmt[start:vpos]:
        return None  # no keyword, or a column list before it
    seg = stmt[vpos + 6 :].strip(b" \t\r\n")
    if seg.endswith(b";"):
        seg = seg.rstrip(b";").rstrip(b" \t\r\n")
    if len(seg) < 2 or not (seg.startswith(b"(") and seg.endswith(b")")):
        return None
    data = seg[1:-1]
    if not data or np.frombuffer(data, dtype=np.uint8).min() <= 3:
        return None  # raw NUL or a stand-in byte
    if b"\\" in data:
        data = _unescape_bytes(data)
        if data is None:
            return None
    arr = np.frombuffer(data, dtype=np.uint8)
    if arr.size == 0:
        return None
    # a position is inside a string iff the count of quotes STRICTLY
    # BEFORE it is odd — for non-quote bytes that equals the inclusive
    # count's parity, a running XOR of the quote mask (UTF-8
    # continuation bytes are ≥ 0x80, so multibyte text can never alias
    # the ASCII quote/paren/comma bytes tested here).  Only the parity
    # matters: the bool XOR scan runs ~6× faster than an int32 cumsum
    # (1.1 vs 6.2 ms per MB on one core).
    quote = arr == 39
    odd = np.bitwise_xor.accumulate(quote)
    if odd[-1]:
        return None
    top = ~odd
    # Top-level whitespace (space/tab/CR/LF outside quotes) is
    # insignificant in a VALUES list but would reach Arrow as part of an
    # unquoted field (" '...'" after a comma keeps the quotes literal) —
    # so STRIP it and rescan once: pretty-printed / reassembled
    # multiline dumps then ride the same fast path as canonical
    # mysqldump output (measured 6.4 → 17.5 MB/s on the multiline
    # ingest shape).  Whitespace inside quoted strings (odd parity) is
    # data and stays.  Deletion cannot create new top-level whitespace,
    # so the rescan terminates after one pass.  One ``<= 0x20`` compare
    # finds the candidates; the exact whitespace test runs on those few.
    idx = np.flatnonzero((arr <= 32) & top)
    if idx.size:
        c = arr[idx]
        idx = idx[(c == 32) | (c == 9) | (c == 13) | (c == 10)]
    if idx.size:
        # Safety: a run may only be stripped when it touches a
        # STRUCTURAL byte — ',' '(' ')' or the data boundary.  A run
        # between two value bytes (``2 3``) or between two quotes
        # (``'a' 'b'``) is malformed SQL the exhaustive tokenizer
        # rejects loudly; stripping would instead silently fuse tokens.
        run_break = np.diff(idx) > 1
        starts = idx[np.concatenate(([True], run_break))]
        ends = idx[np.concatenate((run_break, [True]))]
        # neighbors with the stripped outer parens as boundary sentinels
        prev_b = np.where(starts == 0, 40, arr[np.maximum(starts - 1, 0)])
        next_b = np.where(
            ends == arr.size - 1, 41, arr[np.minimum(ends + 1, arr.size - 1)]
        )
        structural = (40, 41, 44)
        if not bool(
            (np.isin(prev_b, structural) | np.isin(next_b, structural)).all()
        ):
            return None
        # empty-field guard (fail-loud C3): stripping must never CREATE
        # an empty field — '( ,' ', )' ', ,' '( )' would reach Arrow as
        # NULL where the exhaustive parser raises an empty-field error.
        # The only legal structural adjacencies a strip may create are
        # the row boundary's '),', ',(' (and ')(' is rejected by the
        # paren-structure check downstream).
        empty = (
            ((prev_b == 40) & (next_b == 44))
            | ((prev_b == 44) & (next_b == 41))
            | ((prev_b == 44) & (next_b == 44))
            | ((prev_b == 40) & (next_b == 41))
        )
        if bool(empty.any()):
            return None
        arr = np.delete(arr, idx)
        if arr.size == 0:
            return None
        quote = arr == 39
        odd = np.bitwise_xor.accumulate(quote)
        top = ~odd
    # every quote must sit on a field boundary: an opening quote (odd
    # inclusive parity) only after '(' ',' or another quote ('' doubling),
    # a closing quote (even parity) only before ',' ')' or another quote.
    # This rejects glued charset introducers (``_utf8mb4'abc'``) and
    # half-quoted junk (``1.5'x'``) that Arrow CSV would keep as literal
    # mid-field quote bytes — silently diverging from the exhaustive
    # tokenizer, which resolves introducers via its rewind path.
    qpos = np.flatnonzero(quote)
    if qpos.size:
        q_odd = odd[qpos]
        opening = qpos[q_odd]
        closing = qpos[~q_odd]
        # direct compares instead of np.isin: in1d's sort/unique machinery
        # measured ~15% of the scan on quote-heavy statements
        opening = opening[opening > 0]
        before = arr[opening - 1]
        off_boundary = ~((before == 40) | (before == 44) | (before == 39))
        if off_boundary.any():
            # the one legal case: a hex/bit introducer letter at a field
            # start (``,X'…'`` / ``(b'…'``) — rewritten in place into the
            # quoted token ``'`` + stand-in + digits; the byte before
            # the letter is top-level, since the letter and the quote
            # after it are
            o = opening[off_boundary]
            letter = arr[o - 1] | 32  # ASCII lower case
            if not (
                ((letter == 120) | (letter == 98)) & _at_field_start(arr, o - 1)
            ).all():
                return None
            if not arr.flags.writeable:
                arr = arr.copy()
            arr[o - 1] = 39
            arr[o] = np.where(letter == 120, 2, 3)
        after = arr[closing[closing < arr.size - 1] + 1]
        if not ((after == 44) | (after == 41) | (after == 39)).all():
            return None
    # ``0x…`` at a field start: '0' becomes the hex stand-in and the 'x'
    # goes with the separator bytes below.  A memchr for the letter
    # keeps the mask work off statements without one (``b"0x" in data``
    # measured ~120 µs per 87 KB of digit-dense rows, 100× the memchr).
    hex0 = np.empty(0, dtype=np.intp)
    if b"x" in data or b"X" in data:
        hex0 = np.flatnonzero((arr[1:] | 32) == 120)
        hex0 = hex0[(arr[hex0] == 48) & top[hex0] & _at_field_start(arr, hex0)]
        if hex0.size:
            if not arr.flags.writeable:
                arr = arr.copy()
            arr[hex0] = 2
    # row structure: every top-level ')' is followed by ',(' and every
    # top-level '(' is the one two bytes after such a ')' — so the
    # top-level ')' positions are exactly the row separators
    po_top = np.flatnonzero((arr == 40) & top)
    pc_top = np.flatnonzero((arr == 41) & top)
    if not (
        np.array_equal(po_top, pc_top + 2) and (arr[pc_top + 1] == 44).all()
    ):
        return None
    # each separator ``),(`` becomes one newline; a ``),(`` inside a
    # quoted string is data and stays
    out = np.delete(arr, np.concatenate((pc_top + 1, pc_top + 2, hex0 + 1)))
    out[pc_top - 2 * np.arange(pc_top.size) - np.searchsorted(hex0, pc_top)] = 10
    return out.tobytes(), int(pc_top.size) + 1


def _arrow_read_values(
    csv_payload: bytes | bytearray, names: list[str], col_types
) -> "object":
    """One pyarrow.csv read over the concatenated row lines of a batch of
    statements, into CARRIER-typed columns (``col_types``: column name →
    Spark type, from :func:`_arrow_fast_types`).  Raises on any
    conversion surprise — the caller falls back statement-by-statement.

    SOH in the payload is the stand-in for NUL (:data:`_NUL_STAND_IN`)
    and maps back to NUL in every string column here, before the caller
    casts any carrier column to its target type.  Binary columns read as
    strings and hex/bit tokens decode by target type
    (:func:`_decode_literals`); LongType columns read as strings only
    when the payload holds a token at all.

    Non-finite floats are rejected HERE, centrally: Arrow parses a bare
    ``NaN``/``Inf`` literal into a float value the exhaustive parser
    would refuse (``unsupported literal``), and a NaN is indistinguishable
    from a null once it reaches a numpy view (nulls also surface as NaN)
    — so the check compares Arrow-side valid-value NaN/inf counts, where
    nulls are still tracked separately."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyarrow import csv as pacsv

    tokens = _HEX_STAND_IN in csv_payload or _BIT_STAND_IN in csv_payload
    read_types = {}
    for name, dt in col_types.items():
        if isinstance(dt, T.LongType) and not tokens:
            read_types[name] = pa.int64()
        elif isinstance(dt, T.DoubleType):
            read_types[name] = pa.float64()
        elif isinstance(dt, T.BooleanType):
            read_types[name] = pa.bool_()
        else:  # temporal/decimal ride as strings (C1), binary decodes below
            read_types[name] = pa.string()
    tbl = _arrow_csv_read(csv_payload, names, read_types, pacsv)
    nul = _NUL_STAND_IN in csv_payload
    cols = []
    for name, col in zip(tbl.column_names, tbl.columns):
        dt = col_types[name]
        if pa.types.is_floating(col.type):
            bad = (pc.sum(pc.is_nan(col)).as_py() or 0) + (
                pc.sum(pc.is_inf(col)).as_py() or 0
            )
            if bad:
                raise DumpParseError(
                    f"{name}: non-finite literal on fast path"
                )
        elif pa.types.is_string(col.type):
            if nul:
                col = pc.replace_substring(col, _NUL_STAND_IN.decode(), "\x00")
            if tokens or isinstance(dt, T.BinaryType):
                col = _decode_literals(col.combine_chunks(), dt, name)
        cols.append(col)
    return pa.Table.from_arrays(cols, names=tbl.column_names)


#: Value of each byte as a hex digit / a bit digit; 255 marks a byte
#: that is not one.
_HEX_DIGITS = bytes(
    int(chr(b), 16) if chr(b) in "0123456789abcdefABCDEF" else 255
    for b in range(256)
)
_BIT_DIGITS = bytes(b - 48 if b in (48, 49) else 255 for b in range(256))


def _offsets_and_data(arr):
    """(offsets from 0, value bytes) of a string/binary Arrow array, as
    zero-copy numpy views (the offsets are rebased copies)."""
    import numpy as np

    _validity, offsets, data = arr.buffers()
    off = np.frombuffer(offsets, dtype=np.int32)[
        arr.offset : arr.offset + len(arr) + 1
    ]
    if data is None:
        return off - off[0], np.empty(0, dtype=np.uint8)
    return off - off[0], np.frombuffer(data, dtype=np.uint8)[off[0] : off[-1]]


def _token_digits(tok, lut: bytes, highest: int):
    """Digit values of stand-in tokens (each value: one stand-in byte,
    then digits) with the per-token digit counts; raises on a byte that
    is not a digit."""
    import numpy as np

    off, data = _offsets_and_data(tok)
    keep = np.ones(data.size, dtype=bool)
    keep[off[:-1]] = False
    dig = np.frombuffer(lut, dtype=np.uint8)[data[keep]]
    if (dig > highest).any():
        raise DumpParseError("bad hex/bit literal on fast path")
    return dig, np.diff(off) - 1


def _hex_bytes(tok):
    """Hex tokens → (their bytes, concatenated; byte count per token)."""
    dig, nd = _token_digits(tok, _HEX_DIGITS, 15)
    if (nd & 1).any():
        raise DumpParseError("odd-length hex literal on fast path")
    return (dig[0::2] << 4) | dig[1::2], nd // 2


def _right_aligned(vals, counts, width: int):
    """Concatenated per-token values → one zero-padded row of ``width``
    per token, each token's values at the right end of its row."""
    import numpy as np

    if (counts > width).any():
        raise DumpParseError("hex/bit literal over 64 bits on fast path")
    n = counts.size
    start = np.concatenate(([0], np.cumsum(counts)[:-1]))
    m = np.zeros(n * width, dtype=np.uint8)
    lead = np.arange(n) * width + width - counts - start
    m[np.arange(vals.size) + np.repeat(lead, counts)] = vals
    return m.reshape(n, width)


def _token_ints(tok, hex_digits: bool):
    """Hex (at most 8 bytes) or bit (at most 64 bits) tokens → (uint64
    big-endian values, byte or bit count per token)."""
    import numpy as np

    if hex_digits:
        data, counts = _hex_bytes(tok)
        be = _right_aligned(data, counts, 8)
    else:
        dig, counts = _token_digits(tok, _BIT_DIGITS, 1)
        be = np.packbits(_right_aligned(dig, counts, 64), axis=1)
    return be.view(">u8").ravel().astype(np.uint64), counts


def _binary_array(data, counts):
    """Concatenated bytes + per-value lengths → a pyarrow binary array."""
    import numpy as np
    import pyarrow as pa

    off = np.concatenate(([0], np.cumsum(counts))).astype(np.int32)
    return pa.Array.from_buffers(
        pa.binary(), counts.size, [None, pa.py_buffer(off), pa.py_buffer(data)]
    )


def _decode_literals(arr, dt: T.DataType, name: str):
    """Decode the stand-in tokens of one string column by target type
    (block comment above):

    * BinaryType: hex → its bytes, bits → ``ceil(nbits/8)`` big-endian
      bytes (``b''`` → 0 bytes), any other value → its UTF-8 bytes;
    * LongType: hex of at most 8 bytes or bits → the big-endian integer
      (``0x`` and ``b''`` → 0), which must fit a signed long;
    * DecimalType: the same value as a digit string (BIT(64) carrier);
    * any other type holding a token raises, as does a value in a binary
      column that carries U+FFFD (bytes the UTF-8 decode replaced;
      :func:`coerce_row` raises the contextual error)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    off, data = _offsets_and_data(arr)
    first = np.zeros(len(arr), dtype=np.uint8)
    full = (off[1:] > off[:-1]) & arr.is_valid().to_numpy(zero_copy_only=False)
    first[full] = data[off[:-1][full]]
    hexm, bitm = first == 2, first == 3
    has_hex, has_bit = bool(hexm.any()), bool(bitm.any())
    hex_mask, bit_mask = pa.array(hexm), pa.array(bitm)
    if isinstance(dt, T.BinaryType):
        if pc.any(pc.match_substring(arr, "�")).as_py():
            raise DumpParseError(f"{name}: mangled binary value")
        out = arr.cast(pa.binary())
        if has_hex:
            data, counts = _hex_bytes(arr.filter(hex_mask))
            out = pc.replace_with_mask(
                out, hex_mask, _binary_array(data, counts)
            )
        if has_bit:
            vals, nbits = _token_ints(arr.filter(bit_mask), hex_digits=False)
            counts = (nbits + 7) // 8
            be = vals.astype(">u8").view(np.uint8).reshape(-1, 8)
            data = be[np.arange(8) >= 8 - counts[:, None]]
            out = pc.replace_with_mask(
                out, bit_mask, _binary_array(data, counts)
            )
        return out
    if not (has_hex or has_bit):
        return pc.cast(arr, pa.int64()) if isinstance(dt, T.LongType) else arr
    if not isinstance(dt, (T.LongType, T.DecimalType)):
        raise DumpParseError(
            f"{name}: hex/bit literal in a {dt.simpleString()} column"
        )
    vals = np.zeros(len(arr), dtype=np.uint64)
    if has_hex:
        vals[hexm] = _token_ints(arr.filter(hex_mask), hex_digits=True)[0]
    if has_bit:
        vals[bitm] = _token_ints(arr.filter(bit_mask), hex_digits=False)[0]
    vals = vals[hexm | bitm]
    mask = pa.array(hexm | bitm)
    if isinstance(dt, T.DecimalType):
        return pc.replace_with_mask(arr, mask, pa.array(vals.astype(str)))
    if (vals >= 2**63).any():
        raise DumpParseError(f"{name}: bit/hex value overflows BIGINT")
    plain = pc.cast(
        pc.if_else(mask, pa.scalar(None, pa.string()), arr), pa.int64()
    )
    return pc.replace_with_mask(plain, mask, pa.array(vals.astype(np.int64)))


def _arrow_csv_read(
    csv_payload: bytes | bytearray, names: list[str], col_types, pacsv
):
    import pyarrow as pa

    return pacsv.read_csv(
        pa.BufferReader(csv_payload),  # zero-copy over bytes or bytearray
        read_options=pacsv.ReadOptions(column_names=names, encoding="utf8"),
        parse_options=pacsv.ParseOptions(
            delimiter=",",
            quote_char="'",
            double_quote=True,  # '' doubling inside quoted literals
            newlines_in_values=True,
        ),
        convert_options=pacsv.ConvertOptions(
            column_types=col_types,
            null_values=["NULL"],
            strings_can_be_null=True,
            quoted_strings_can_be_null=False,  # 'NULL' the string stays
            true_values=["TRUE", "true", "1"],
            false_values=["FALSE", "false", "0"],
        ),
    )


def align_row(
    row: tuple, columns: list[str], schema: T.StructType, table: str
) -> tuple:
    """Reorder a --complete-insert row (positional in ``columns``) to the
    schema's column order; columns absent from the INSERT become NULL."""
    if len(row) != len(columns):
        raise DumpParseError(
            f"{table}: row has {len(row)} values for {len(columns)} columns"
        )
    by_name = dict(zip(columns, row))
    unknown = set(columns) - {f.name for f in schema.fields}
    if unknown:
        raise DumpParseError(f"{table}: INSERT names unknown columns {unknown}")
    return tuple(by_name.get(f.name) for f in schema.fields)


# --------------------------------------------------------------------------
# schema-directed coercion (C1–C3 analogs) and the Spark pipeline
# --------------------------------------------------------------------------


def coerce_row(row: tuple, target: T.StructType, table: str) -> tuple:
    """Python-side value coercion mirroring the reference's write-time rules:
    Integer→Float widening (C2, parquet_writer.rs:162), everything else must
    already match (C3 — mismatch raises with column context).  Temporal
    and decimal values come out as their dump text; :func:`parse_statements`
    converts them (C1)."""
    if len(row) != len(target.fields):
        raise DumpParseError(
            f"{table}: row has {len(row)} values, schema has {len(target.fields)}"
        )
    out = []
    for v, f in zip(row, target.fields):
        if v is None:
            out.append(None)
        elif isinstance(f.dataType, T.DoubleType):
            if isinstance(v, bool) or not isinstance(v, (int, float)):
                raise DumpParseError(f"{table}.{f.name}: {v!r} is not numeric")
            out.append(float(v))  # C2 widening
        elif isinstance(f.dataType, T.LongType):
            if isinstance(v, (bytes, bytearray)):
                # BIT column dumped with --hex-blob (0x05): MySQL numeric
                # context — big-endian bytes are the integer value
                if len(v) > 8:
                    raise DumpParseError(
                        f"{table}.{f.name}: {len(v)}-byte value overflows BIGINT"
                    )
                v = int.from_bytes(v, "big")
            if isinstance(v, bool) or not isinstance(v, int):
                raise DumpParseError(f"{table}.{f.name}: {v!r} is not an integer")
            if not (-(2**63) <= v < 2**63):
                raise DumpParseError(
                    f"{table}.{f.name}: {v} overflows BIGINT (declare the "
                    "column UNSIGNED to map it to DECIMAL(20,0))"
                )
            out.append(v)
        elif isinstance(f.dataType, T.BooleanType):
            if isinstance(v, bool):
                out.append(v)
            elif isinstance(v, int) and v in (0, 1):
                out.append(bool(v))  # MySQL dumps booleans as 0/1
            else:
                raise DumpParseError(f"{table}.{f.name}: {v!r} is not boolean")
        elif isinstance(
            f.dataType, (T.TimestampType, T.DateType, T.DecimalType)
        ):
            # ride as string until parse_statements finishes C1.  FloatLit
            # keeps the dump's exact digits — repr(float) would truncate
            # DECIMALs beyond ~17 significant digits.
            if isinstance(v, FloatLit):
                v = v.raw
            elif isinstance(v, (bytes, bytearray)) and isinstance(
                f.dataType, T.DecimalType
            ):
                # BIT(64) dumped with --hex-blob: numeric context, full
                # unsigned range rides the DECIMAL(20,0) carrier
                if len(v) > 8:
                    raise DumpParseError(
                        f"{table}.{f.name}: {len(v)}-byte value overflows "
                        "the BIT range"
                    )
                v = str(int.from_bytes(v, "big"))
            elif isinstance(v, (int, float)):
                v = repr(v)
            if not isinstance(v, str):
                raise DumpParseError(f"{table}.{f.name}: {v!r} not castable")
            out.append(v)
        elif isinstance(f.dataType, T.BinaryType):
            if isinstance(v, BitLit):
                # MySQL string-context bit literal: length-preserving bytes
                # (b'' is a ZERO-length string — LENGTH(b'') = 0)
                out.append(v.to_bytes((v.nbits + 7) // 8, "big"))
            elif isinstance(v, (bytes, bytearray)):
                out.append(bytes(v))  # 0x… hex literal (--hex-blob dumps)
            elif isinstance(v, str):
                # A quoted literal destined for a binary column came through
                # the statement decode (_text).  Valid UTF-8 round-trips
                # byte-faithfully; invalid bytes were already replaced with
                # U+FFFD and the original is unrecoverable — fail loudly
                # (C3 contract; the reference errors on invalid UTF-8 too,
                # via BufRead::read_line).  Dump binary columns with
                # mysqldump --hex-blob to avoid this entirely.
                if "�" in v:
                    raise DumpParseError(
                        f"{table}.{f.name}: binary value contains bytes that "
                        "did not survive UTF-8 line decoding; re-export with "
                        "mysqldump --hex-blob"
                    )
                out.append(v.encode("utf-8"))
            else:
                raise DumpParseError(f"{table}.{f.name}: {v!r} is not binary")
        else:  # StringType
            if not isinstance(v, str):
                raise DumpParseError(
                    f"{table}.{f.name}: expected string, got {v!r}"
                )
            out.append(v)
    return tuple(out)


def _arrow_type(dt: T.DataType):
    """Arrow type of one target column — the types :func:`parse_create_table`
    produces; any other Spark type raises."""
    import pyarrow as pa

    if isinstance(dt, T.DecimalType):
        return pa.decimal128(dt.precision, dt.scale)
    simple = {
        T.LongType: pa.int64(),
        T.DoubleType: pa.float64(),
        T.BooleanType: pa.bool_(),
        T.StringType: pa.string(),
        T.BinaryType: pa.binary(),
        T.DateType: pa.date32(),
        T.TimestampType: pa.timestamp("us", tz="UTC"),  # dumps carry naive UTC
    }
    if type(dt) not in simple:
        raise DumpParseError(f"no Arrow type for a {dt.simpleString()} column")
    return simple[type(dt)]


def parse_statements(stmts: list[bytes], table: str, schema: T.StructType):
    """INSERT statements of ``table``, as raw bytes → one pyarrow Table in
    ``schema``'s final types.  This is the only place dump text becomes
    typed Arrow: the one-pass convert task, the per-table fallback and
    the DataSource reader all call it (through :func:`_statement_groups`).

    Fast-path-eligible statements append their CSV rows to ONE
    ``bytearray`` payload, read by a single Arrow-CSV call into carrier
    columns (temporal/decimal as strings) that Arrow C++ casts to the
    target types — no per-row Python objects.  The other statements, and
    every statement of the fast group when its read or a cast fails, go
    through the exhaustive tokenizer, which parses them correctly or
    raises the contextual :class:`DumpParseError` — identical C1–C3
    semantics on both paths.  Arrow's UTF-8 check refuses a fast group
    holding invalid UTF-8, so such text reaches the tokenizer, decoded
    by :func:`_text`.  Only references to the statements are held until
    the read."""
    import pyarrow as pa
    import pyarrow.compute as pc

    target = pa.schema(
        [pa.field(f.name, _arrow_type(f.dataType)) for f in schema.fields]
    )
    names = schema.names
    fast: list[bytes] = []
    slow: list[bytes] = []
    payload = bytearray()
    fast_rows = 0
    for stmt in stmts:
        stmt = stmt.strip()  # the same object unless it has edge whitespace
        fb = _values_csv_bytes(stmt)
        if fb is None:
            slow.append(stmt)
            continue
        if fast:
            payload += b"\n"
        payload += fb[0]
        fast.append(stmt)
        fast_rows += fb[1]
    parts = []
    if fast:
        try:
            tbl = _arrow_read_values(payload, names, _arrow_fast_types(schema))
            if tbl.num_rows != fast_rows:
                raise DumpParseError("fast-path row-count drift")
            cols = [
                pc.assume_timezone(pc.cast(col, pa.timestamp("us")), "UTC")
                if isinstance(f.dataType, T.TimestampType)
                else pc.cast(col, pf.type)
                for f, pf, col in zip(schema.fields, target, tbl.columns)
            ]
            parts.append(pa.Table.from_arrays(cols, schema=target))
        except Exception:
            # any read or cast surprise: re-parse those statements
            # through the exhaustive grammar
            slow = fast + slow
    del payload  # free it before the tokenizer runs

    def final(v, f: T.StructField):
        """Dump text of a temporal/decimal value → its Python value (C1)."""
        dt = f.dataType
        if v is None or not isinstance(
            dt, (T.TimestampType, T.DateType, T.DecimalType)
        ):
            return v
        try:
            if isinstance(dt, T.TimestampType):
                # naive UTC, as the reference reads it (parquet_writer.rs:
                # 186–191): the zone makes the value session-tz independent
                return datetime.fromisoformat(v).replace(tzinfo=timezone.utc)
            if isinstance(dt, T.DateType):
                return date.fromisoformat(v)
            return Decimal(v)
        except (ValueError, ArithmeticError) as e:
            raise DumpParseError(
                f"{table}: cannot cast {f.name} value '{v}' to "
                f"{dt.simpleString()}"
            ) from e

    rows = []
    for stmt in slow:
        _t, cols, tuples = parse_insert_full(_text(stmt.rstrip(b";")) + ";")
        for tup in tuples:
            if cols is not None:  # --complete-insert dumps
                tup = align_row(tup, cols, schema, table)
            coerced = coerce_row(tup, schema, table)
            rows.append(
                {f.name: final(v, f) for v, f in zip(coerced, schema.fields)}
            )
    if rows:
        parts.append(pa.Table.from_pylist(rows, schema=target))
    return pa.concat_tables(parts) if parts else target.empty_table()


#: Bytes of statement text buffered per table before one
#: :func:`parse_statements` call (one Arrow-CSV read; one parquet row
#: group or reader batch), in every front end.  Also the byte cap of the
#: Arrow batches that carry statement text into the convert's tasks
#: (:func:`_statement_source`), so one crossing batch holds about one
#: flush.
_PARSE_FLUSH_BYTES = 32 * 1024 * 1024


def _statement_groups(
    stmts: Iterable[bytes], tables
) -> Iterator[tuple[str, list[bytes]]]:
    """Route INSERT statements by :func:`_route`: ``(table, statements)``
    groups of at least _PARSE_FLUSH_BYTES, then each table's remainder.
    Statements of no table in ``tables`` — DDL, and orphan INSERTs with
    no CREATE TABLE (W3 parity) — are dropped."""
    bufs: dict[str, list] = {}
    for stmt in stmts:
        table = _route(stmt)
        if table not in tables:
            continue
        buf = bufs.setdefault(table, [[], 0])
        buf[0].append(stmt)
        buf[1] += len(stmt)
        if buf[1] >= _PARSE_FLUSH_BYTES:
            yield table, bufs.pop(table)[0]
    for table, (group, _size) in bufs.items():
        yield table, group


def _table_batches(stmts: Iterable[bytes], table: str, schema: T.StructType):
    """One table's final-typed Arrow batches out of a statement stream —
    the body of the DataSource reader and of the per-table fallback."""
    for _t, group in _statement_groups(stmts, (table,)):
        yield from parse_statements(group, table, schema).to_batches()


#: Upper bound on non-INSERT lines collected to the driver in pass 1 —
#: real dumps have a few hundred; blowing past this means the dump violates
#: the one-INSERT-per-line layout and pass 1 would otherwise OOM the driver.
MAX_DDL_LINES = 2_000_000


#: DDL-pass scan granularity.  The DDL probe is a pure JVM predicate
#: scan whose per-task cost is dominated by scheduling: at 16 GB, 2 MB
#: splits = 8k tasks = 6.8 s where 128 MB splits = 129 tasks = 0.7 s
#: (measured, idle host).
_DDL_SCAN_SPLIT_BYTES = 128 * 1024 * 1024

_SPLIT_CONF = "spark.sql.files.maxPartitionBytes"
_ARROW_BYTES_CONF = "spark.sql.execution.arrow.maxBytesPerBatch"


@contextlib.contextmanager
def _session_conf(spark: SparkSession, key: str, value) -> Iterator[None]:
    """Set a session conf for the block and restore it afterwards, on the
    error path too."""
    prev = spark.conf.get(key)
    spark.conf.set(key, str(value))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def collect_schemas(
    spark: SparkSession, dump_path: str
) -> dict[str, T.StructType]:
    """Pass 1 of a one-line dump read by the JVM text scan: the DDL, with
    a loud error for ``.xz`` input (Hadoop has no xz codec, so the scan
    would hand the raw compressed bytes back as garbage "lines").  A
    ``dir/*`` glob pays one file listing for that check; ``convert_dump``
    makes the same listing once for its whole discovery and routes .xz
    members through byte-range reassembly instead."""
    if _xz_listing(spark, dump_path)[0]:
        raise DumpParseError(
            f"{dump_path}: .xz is not JVM-decodable (Hadoop has no xz "
            "codec); use convert_dump (routes .xz through Python-side "
            "reassembly decode) or recompress with zstd/gzip/bzip2"
        )
    return _line_schemas(spark, dump_path)


def _line_schemas(
    spark: SparkSession, dump_path: str
) -> dict[str, T.StructType]:
    """Reassemble DDL from the (tiny) non-INSERT line set.

    The collected set also includes INSERT lines *not* terminated by ';' —
    for a one-line-INSERT dump that set is empty, so detection of a
    multi-line layout costs nothing on the fast path; when such lines (or
    orphan '(' continuation lines) appear, :class:`MultilineDumpError` is
    raised and ``convert_dump`` switches to byte-range reassembly.

    Two single-stage scans, never a ``limit``: a ``limit(N)`` probe on a
    one-line dump can never reach N matching rows, so Spark's incremental
    CollectLimit escalates round by round through EVERY partition — at
    16 GB that measured 49 s of the 110 s convert (sequential barrier
    rounds over 8k 2 MB tasks).  Scan 1 is a map-side aggregate (a few
    scalars to the driver: ddl-line count, multiline-marker count, one
    sample marker) that decides the layout and bounds the collect; scan 2
    collects the proven-tiny DDL line set.  Both run at
    ``_DDL_SCAN_SPLIT_BYTES`` splits: 16 GB ≈ 1.4 s total (was 49 s)."""
    with _session_conf(spark, _SPLIT_CONF, _DDL_SCAN_SPLIT_BYTES):
        lines_df = spark.read.text(dump_path)
        is_insert = _dml_line_pred()
        terminated = F.rtrim(F.col("value")).endswith(";")
        is_ddl = ~is_insert | ~terminated
        # the multiline-layout markers: tuple-continuation lines and
        # unterminated INSERTs
        is_marker = F.ltrim(F.col("value")).startswith("(") | (
            is_insert & ~terminated
        )
        # the quoted example is the FIRST marker in scan order (min over
        # an (ordinal, line) struct — F.min skips the non-marker nulls),
        # not F.max's lexicographically-largest arbitrary mid-dump line;
        # monotonically_increasing_id is deterministic for a fixed plan
        ordinal = F.monotonically_increasing_id()
        stats = lines_df.select(
            F.when(is_ddl, 1).otherwise(0).alias("d"),
            F.when(is_marker, 1).otherwise(0).alias("m"),
            F.when(is_marker, F.struct(ordinal, F.col("value"))).alias(
                "sample"
            ),
        ).agg(
            F.sum("d").alias("d"),
            F.sum("m").alias("m"),
            F.min("sample").alias("sample"),
        ).collect()[0]
        if stats.m:
            raise MultilineDumpError(
                f"multi-line INSERT statement detected (e.g. "
                f"{str(stats.sample.value)[:60]!r}) — dump lacks one-line "
                "--extended-insert layout"
            )
        if (stats.d or 0) > MAX_DDL_LINES:
            raise MultilineDumpError(
                f"more than {MAX_DDL_LINES:,} non-INSERT lines — this dump "
                "does not use one-line INSERT statements (mysqldump "
                "--extended-insert)"
            )
        # marker-free and ≤ MAX_DDL_LINES: the filtered set is tiny and
        # safe to collect whole (partition order — same ordering contract
        # the CollectLimit path had)
        binary = F.col("value").cast("binary")
        ddl_lines = [r[0] for r in lines_df.where(is_ddl).select(binary).collect()]
    schemas = build_schemas(iter_statements(ddl_lines))
    _require_tables(schemas, dump_path)
    return schemas


def build_schemas(stmts: Iterable[bytes]) -> dict[str, T.StructType]:
    """CREATE TABLE statements, as raw bytes → ``{table: schema}``,
    fail-loud on duplicate table names.

    ``mysqldump --databases`` dumps define tables under a ``USE`` context
    that INSERT statements do not carry, so two databases with a
    same-named table cannot be attributed in a distributed parse.  The
    reference silently *overwrites* the first table's parquet file on
    writer rotation (src/parquet_writer.rs:82–91 keyed by bare table
    name) — data loss; per the C3 fail-loud contract we raise with the
    database context instead and point at the per-database workaround.
    """
    schemas: dict[str, T.StructType] = {}
    table_db: dict[str, str | None] = {}
    current_db: str | None = None
    for stmt in stmts:
        if _is_use(stmt):
            current_db = _text(stmt[3:].strip(b" `\";")) or None
            continue
        if not stmt.startswith(b"CREATE TABLE"):
            continue
        ts = parse_create_table(_text(stmt))
        if ts.table in schemas:
            first_db = table_db[ts.table]
            ctx = (
                f" (databases {first_db!r} and {current_db!r})"
                if first_db != current_db
                else ""
            )
            raise DumpParseError(
                f"table `{ts.table}` defined twice{ctx} — a multi-database "
                "dump with colliding table names cannot convert to a flat "
                "per-table layout (INSERT statements carry no database "
                "qualifier); dump each database separately: "
                "mysqldump <db> > <db>.sql"
            )
        schemas[ts.table] = ts.schema
        table_db[ts.table] = current_db
    return schemas


# --------------------------------------------------------------------------
# multi-line dump fallback (byte-range-splittable statement reassembly —
# reference parity for dumps without --extended-insert, main.rs:110–145)
# and the one byte layer under it: the convert's reassembly ranges, its
# multi-line DDL pass and the format("mysqldump") reader all read dump
# files through the functions below
# --------------------------------------------------------------------------


def _is_terminator_line(raw: bytes) -> bool:
    """The terminator test of :func:`iter_statements`: a statement
    terminates at a NON-noise line whose stripped text ends with ';'
    (noise is skipped there, so it must not anchor a range boundary
    either).  Both neighbors of every split boundary use this same
    classifier, so each statement is owned by exactly one range."""
    s = raw.strip()
    return s.endswith(b";") and not _is_noise_bytes(s)


def _line_ending_at(fh, a: int) -> bytes:
    """The line whose newline is byte ``a - 1`` of ``fh``, read backward
    in 64 KiB steps (newline stripped)."""
    parts: list[bytes] = []
    pos = a - 1
    while pos > 0:
        lo = max(0, pos - 65536)
        fh.seek(lo)
        chunk = fh.read(pos - lo)
        nl = chunk.rfind(b"\n")
        parts.append(chunk[nl + 1 :])
        if nl >= 0:
            break
        pos = lo
    return b"".join(reversed(parts))


def _range_owned_lines(path: str, start: int, end: int) -> Iterator[bytes]:
    """The raw lines of the statements owned by byte range ``[start,
    end)`` of a plain-text dump file, streamed: memory holds one line.

    Ownership rule — Hadoop's line ownership, carried from lines to
    statements: a statement starts where the previous statement's
    terminator line ends (the first one at offset 0), and a range owns
    exactly the statements that start in [N(start), N(end)), where N(x)
    is the newline-aligned position of x (x itself when x = 0 or byte
    x-1 is a newline, else just past the next newline).  So every
    statement is owned by exactly one range, each range reads at most
    one statement past its nominal end, and concatenating the ranges in
    offset order reproduces the sequential single-stream reassembly.  In
    a one-line dump every line is a statement, and the rule is exactly
    LineRecordReader's split contract."""
    with open(path, "rb") as fh:
        pos = 0
        if start > 0:
            # newline-align (LineRecordReader convention: back up one
            # byte so a line starting exactly at `start` is kept)
            fh.seek(start - 1)
            fh.readline()
            pos = fh.tell()
        if pos >= end:
            return  # no line starts in the range: it owns nothing
        # N(start) starts a statement iff the line before it ends one;
        # otherwise the lines through the next terminator finish a
        # statement the previous range owns
        owning = pos == 0 or _is_terminator_line(_line_ending_at(fh, pos))
        fh.seek(pos)
        for raw in fh:
            pos += len(raw)
            if owning:
                yield raw
            # only lines ending at/after N(end), or ones being skipped,
            # need classifying: a terminator there ends the last
            # statement owned (or shows that none starts in the range)
            if (pos >= end or not owning) and _is_terminator_line(raw):
                if pos >= end:
                    return
                owning = True


#: Python-side codec of each compressed dump-member extension (reference
#: parity is .gz only, src/main.rs:41–47; ``mysqldump | zstd`` /
#: ``| bzip2`` / ``| xz`` are the common modern pipes).  gzip, bzip2 and
#: zstd decode in process through Arrow's C++ streams (multi-member
#: files included), xz through the stdlib's lzma (Arrow has no xz
#: stream); no external binary is involved.
_MEMBER_CODECS = {".gz": "gzip", ".bz2": "bz2", ".xz": "xz", ".zst": "zstd"}

#: Compressed dump-member extensions.  All are UNSPLITTABLE on the
#: Python decode paths — one task per member file, parallelism per file
#: exactly like the reference's .gz handling.
COMPRESSED_DUMP_EXTS = tuple(_MEMBER_CODECS)

#: Spark's JVM text scan decodes .gz/.bz2/.zst transparently (probed r12:
#: Hadoop's GzipCodec handles concatenated members, BZip2Codec is pure
#: Java AND splittable, ZStandardCodec rides the bundled zstd-jni).
#: ``.xz`` has NO Hadoop codec — ``spark.read.text`` would hand the raw
#: compressed bytes back as garbage "lines", so .xz inputs are routed
#: through the Python-decoded reassembly path (``convert_dump``) and
#: fail loudly in :func:`collect_schemas`.  A dump path ending in one of
#: these suffixes answers "does it match .xz members?" without a listing.
_DECISIVE_EXTS = (".sql",) + COMPRESSED_DUMP_EXTS


def _member_codec(path: str) -> str | None:
    """The :data:`_MEMBER_CODECS` codec of ``path``; None for plain text."""
    return next(
        (c for ext, c in _MEMBER_CODECS.items() if path.endswith(ext)), None
    )


def _open_dump(path: str):
    """Streamed binary handle for a possibly-compressed dump member,
    dispatched on its extension and decoded in process.  Iterating it
    yields raw lines, so memory stays bounded by one line."""
    codec = _member_codec(path)
    if codec is None:
        return open(path, "rb")
    if codec == "xz":
        return lzma.open(path, "rb")
    import pyarrow as pa

    # a 1 MiB buffer hands a long INSERT line to Arrow's decoder in few
    # reads (65 MiB one-line .zst, one process: 0.158 → 0.131 s)
    return io.BufferedReader(
        pa.input_stream(path, compression=codec), buffer_size=1 << 20
    )


def _range_lines(path: str, lo: int, hi: int) -> Iterator[bytes]:
    """Raw lines of one reassembly range: the lines byte range ``[lo,
    hi)`` owns (:func:`_range_owned_lines`), or for ``hi < 0`` the whole
    file streamed through :func:`_open_dump` (an unsplittable compressed
    member, or a file the reader's schema scan reads from its start).  A
    member that fails to decode, truncated or corrupt, raises
    :class:`DumpParseError` naming the file and the codec, never a
    silent truncation."""
    if hi >= 0:
        yield from _range_owned_lines(path, lo, hi)
        return
    with _open_dump(path) as fh:
        try:
            yield from fh
        except (OSError, EOFError, lzma.LZMAError) as e:
            codec = _member_codec(path)
            if codec is None:
                raise
            raise DumpParseError(f"{path}: {codec} decode failed: {e}") from e


def _range_statements(
    path: str, lo: int, hi: int, routes=None
) -> Iterator[bytes]:
    """Statements owned by one reassembly range (:func:`_range_lines`),
    as bytes, kept to ``routes`` when given (:func:`iter_statements`):
    ``(table,)`` for one table's reader or job, ``(_DDL,)`` for the DDL
    scans, which then never buffer or join an INSERT body."""
    return iter_statements(_range_lines(path, lo, hi), routes)


def _carve_ranges(
    files: Iterable[tuple[str, int]], split_bytes: int
) -> list[tuple[str, int, int]]:
    """``(path, start, end)`` byte ranges of at most ``split_bytes`` over
    ``(path, size)`` files, in file then offset order, read by
    :func:`_range_lines`.  A compressed member is not seekable: one
    whole-member range with ``end = -1``.  An empty plain file still gets
    its one ``(path, 0, 0)`` range."""
    step = max(split_bytes, 1)
    ranges: list[tuple[str, int, int]] = []
    for p, n in files:
        if p.endswith(COMPRESSED_DUMP_EXTS):
            ranges.append((p, 0, -1))
        else:
            ranges.extend(
                (p, off, min(off + step, n)) for off in range(0, max(n, 1), step)
            )
    return ranges


def _dump_files(spark: SparkSession, dump_path: str) -> list[tuple[str, int]]:
    """``(uri, length)`` of every file ``dump_path`` (path or glob)
    matches: one binaryFile file-status listing, the content column is
    never materialized.

    Only a no-files-matched listing answers ``[]`` — any OTHER listing
    failure (permissions, transient FS fault) re-raises: swallowing it
    would silently route a glob that DOES contain .xz onto the JVM text
    scan, resurfacing the garbage-lines failure the .xz check exists to
    prevent one layer deeper (VERDICT r12 nit #1)."""
    from pyspark.errors import AnalysisException

    try:
        rows = (
            spark.read.format("binaryFile")
            .load(dump_path)
            .select("path", "length")
            .collect()
        )
    except AnalysisException as e:
        msg = str(e)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            # no files: let the caller's own scan raise its own error
            return []
        raise
    return [(r.path, int(r.length)) for r in rows]


def _xz_listing(
    spark: SparkSession, dump_path: str
) -> tuple[bool, list[tuple[str, int]] | None]:
    """``(matches .xz members?, the listing that answered it)``.  A
    pattern whose own suffix is decisive answers without a listing job
    (listing ``None``); any other pattern pays one :func:`_dump_files`,
    which the caller may reuse."""
    p = str(dump_path)
    if p.endswith(_DECISIVE_EXTS):
        return p.endswith(".xz"), None
    files = _dump_files(spark, p)
    return any(f.endswith(".xz") for f, _n in files), files


def _local_path(uri: str) -> str:
    """Hadoop file-status URI → OS path for Python ``open``."""
    from urllib.parse import unquote, urlparse

    p = urlparse(uri)
    if p.scheme in ("", "file"):
        return unquote(p.path) or uri
    raise DumpParseError(
        f"{uri}: multi-line reassembly reads byte ranges through the "
        "local filesystem (file:// or a mounted path); stage the dump "
        "locally or re-export with mysqldump --extended-insert for the "
        "fully splittable one-line layout"
    )


def _multiline_ranges(
    spark: SparkSession, dump_path: str, files: list[tuple[str, int]]
) -> list[tuple[str, int, int]]:
    """(path, start, end) reassembly ranges over a :func:`_dump_files`
    listing; end=-1 marks an unsplittable compressed member streamed
    whole.  The range size fills ~2 waves of cores but stays within
    [8 MiB, _ONEPASS_SPLIT_BYTES], large enough for healthy per-table
    row groups.  The DDL pass and the convert share these ranges."""
    files = [(_local_path(uri), n) for uri, n in files]
    total = sum(n for p, n in files if not p.endswith(COMPRESSED_DUMP_EXTS))
    waves = 2 * spark.sparkContext.defaultParallelism
    split_bytes = min(_ONEPASS_SPLIT_BYTES, max(8 * 1024 * 1024, total // waves))
    ranges = _carve_ranges(files, split_bytes)
    if not ranges:
        raise DumpParseError(f"{dump_path}: no dump files found")
    return ranges


def _ranges_df(spark: SparkSession, ranges) -> DataFrame:
    """Ranges → one-row-per-range DataFrame at one range per task (the
    reassembly is the scan stage; ranges are uniform-size by
    construction).  ``parallelize(·, numSlices)`` pins the layout in a
    single stage — a ``repartition`` achieves the same spread through an
    extra shuffle stage that measured ~0.4 s of pure scheduling on the
    68 MB bench."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(ranges, len(ranges)),
        "path string, start long, end long",
    )


def collect_schemas_multiline(
    spark: SparkSession, dump_path: str, ranges: list[tuple[str, int, int]]
) -> dict[str, T.StructType]:
    """Pass 1 for multi-line dumps: a map-only parallel DDL scan over the
    convert's reassembly ranges that filters Python-side, so INSERT text
    never crosses to the JVM; the (tiny) CREATE TABLE / USE statement set
    is collected to the driver as bytes."""
    import pyarrow as pa

    def ddl_only(batches):
        out = list(_source_statements(batches, multiline=True, routes=(_DDL,)))
        yield pa.RecordBatch.from_pydict({"value": pa.array(out, pa.binary())})

    rdf = _ranges_df(spark, ranges)
    stmts = [r.value for r in rdf.mapInArrow(ddl_only, "value binary").collect()]
    schemas = build_schemas(stmts)
    _require_tables(schemas, dump_path)
    return schemas


#: Input split size for the one-line statement source: big enough that a
#: one-pass task's per-table row groups stay healthy even when tables
#: interleave.
_ONEPASS_SPLIT_BYTES = 64 * 1024 * 1024


@contextlib.contextmanager
def _statement_source(
    spark: SparkSession, dump_path: str, ranges: list | None
) -> Iterator[DataFrame]:
    """The convert's statement source, shared by the one-pass task and
    the per-table fallback: the dump's INSERT lines (``ranges`` None:
    one-line layout, JVM text scan), or one row per reassembly range.
    :func:`_source_statements` turns its Arrow batches back into
    statements inside the task.

    Consume it inside the block, which scopes the input split size to
    _ONEPASS_SPLIT_BYTES and caps the Arrow batches that carry statement
    text JVM→Python at _PARSE_FLUSH_BYTES, never above a tighter session
    value.  Extended-insert statements run ~100 KB–1 MB each, and a
    row-only bound let the JVM build ~800 MB batches per in-flight task
    (measured 90 MB/s where ~32 MB batches measured 314 MB/s on a 2 GB
    dump).  Spark still applies the session's ``maxRecordsPerBatch``
    and cuts a batch at whichever limit comes first, one row past the
    byte cap at most."""
    # the session value is a Spark byte string ("64m", "67108864b")
    utils = spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils
    user_cap = utils.byteStringAsBytes(spark.conf.get(_ARROW_BYTES_CONF))
    with _session_conf(spark, _SPLIT_CONF, _ONEPASS_SPLIT_BYTES), _session_conf(
        spark, _ARROW_BYTES_CONF, min(_PARSE_FLUSH_BYTES, user_cap)
    ):
        if ranges is None:
            yield spark.read.text(dump_path).where(_dml_line_pred())
        else:
            yield _ranges_df(spark, ranges)


def _source_statements(
    arrow_batches, multiline: bool, routes=None
) -> Iterator[bytes]:
    """Statements, as bytes, out of the Arrow batches of a
    :func:`_statement_source`.  JVM text lines cast to binary (zero-copy)
    and arrive whole; range statements are kept to ``routes`` at their
    first line (:func:`_range_statements`).  Either way the caller routes
    what arrives (:func:`_statement_groups`)."""
    import pyarrow as pa

    for batch in arrow_batches:
        if not multiline:
            yield from batch.column(0).cast(pa.binary()).to_pylist()
            continue
        for path, lo, hi in zip(*(c.to_pylist() for c in batch.columns)):
            yield from _range_statements(path, lo, hi, routes)


#: Orphaned staging directories older than this are swept at the start
#: of the next one-pass convert into the same output dir.  A hard
#: driver crash is the only way to orphan one (every in-process failure
#: removes staging in the ``finally``); readers never see them anyway
#: (the ``_`` prefix is hidden from Hadoop/Spark listings), so the sweep
#: is purely a storage-reclaim courtesy.  24 h >> any convert, so a
#: concurrent live convert's staging is never at risk.  The object-store
#: analog is a lifecycle rule on the ``_staging_`` prefix —
#: ARCHITECTURE.md "One-pass commit on object stores".
_STAGING_GC_AGE_S = 24 * 3600


def _staging_newest_mtime(root: str) -> float:
    """Newest mtime anywhere under ``root`` (the root itself included).

    Liveness must be judged on the TREE, not the root directory: tasks
    write into nested per-table subdirectories, which never refresh the
    root's mtime, so a legitimately long convert (>24 h is plausible at
    the tens-of-TB single-node point the ingest curve reaches) would
    look stale at the root while its leaves are seconds old
    (VERDICT r12 nit #2 / ADVICE r12)."""
    try:
        newest = os.path.getmtime(root)
    except OSError:
        return 0.0
    for dirpath, dirnames, filenames in os.walk(root):
        for name in dirnames + filenames:
            try:
                m = os.path.getmtime(os.path.join(dirpath, name))
            except OSError:
                continue  # raced with its own cleanup — fine
            if m > newest:
                newest = m
    return newest


def _gc_orphaned_staging(out_abs: str) -> None:
    """Remove ``_staging_*`` leftovers from crashed runs (see
    ``_STAGING_GC_AGE_S``).  A tree counts as orphaned only when its
    NEWEST member is past the age cutoff — a fresh leaf under a stale
    root marks a live concurrent convert and is left alone.  The root
    check short-circuits the walk for the common fresh case."""
    import shutil as _shutil
    import time as _time

    try:
        entries = os.listdir(out_abs)
    except OSError:
        return
    cutoff = _time.time() - _STAGING_GC_AGE_S
    for name in entries:
        if not name.startswith("_staging_"):
            continue
        p = os.path.join(out_abs, name)
        try:
            if os.path.getmtime(p) >= cutoff:
                continue  # root itself fresh — certainly live
        except OSError:
            continue  # raced with its own cleanup — fine
        if _staging_newest_mtime(p) < cutoff:
            _shutil.rmtree(p, ignore_errors=True)


def _probe_staging_visibility(spark: SparkSession, staging: str) -> None:
    """One executor task writes a marker under ``staging``; the driver
    must be able to stat it, or the one-pass commit protocol (task-side
    pyarrow writers + driver-side move) cannot work on this cluster.

    The task creates the marker's directory itself and reports OSErrors
    as data instead of raising: on a node-local-disk cluster the
    driver-side ``makedirs`` did not happen on the executor's node, so
    a bare ``open`` would die as an opaque 4×-retried task failure
    (Py4JJavaError) rather than the diagnostic this probe exists to
    give (ADVICE r6 review)."""
    marker = os.path.join(staging, "_driver_visibility_probe")

    def _write(_):
        try:
            os.makedirs(os.path.dirname(marker), exist_ok=True)
            with open(marker, "w") as fh:
                fh.write("ok")
            return []
        except OSError as e:  # unwritable path on the executor's node
            return [repr(e)]

    errs = spark.sparkContext.parallelize([0], 1).flatMap(_write).collect()
    if errs or not os.path.exists(marker):
        detail = f" (executor error: {errs[0]})" if errs else ""
        raise OnepassStagingInvisible(
            f"an executor wrote {marker!r} but the driver cannot see it"
            f"{detail} — output filesystem is not shared between driver "
            "and executors; convert_dump falls back to the per-table "
            "Spark writers, or point output_dir at a shared mount"
        )
    os.unlink(marker)


def parse_compression(spec: str) -> tuple[str, int | None]:
    """Split a ``codec[:level]`` compression spec — e.g. ``snappy``,
    ``zstd``, ``zstd:3``, ``lz4`` — into (codec, level).  Levels only
    make sense for level-bearing codecs (zstd, gzip, brotli); a level on
    anything else is rejected loudly rather than silently dropped."""
    codec, sep, level = spec.partition(":")
    codec = codec.strip().lower()
    if not sep:
        return codec, None
    if codec not in ("zstd", "gzip", "brotli"):
        raise ValueError(
            f"compression codec {codec!r} does not take a level "
            f"(got {spec!r})"
        )
    try:
        return codec, int(level)
    except ValueError:
        raise ValueError(f"bad compression level in {spec!r}") from None


def convert_dump_onepass(
    spark: SparkSession,
    dump_path: str,
    output_dir: str,
    compression: str = "snappy",
    *,
    schemas: dict[str, T.StructType],
    ranges: list[tuple[str, int, int]] | None,
) -> dict[str, int]:
    """ONE-pass multi-table conversion: each task parses its byte range
    of the dump and writes EVERY table it sees straight to parquet.

    The dump text is read exactly once (a per-table design re-reads the
    whole statement source T times: measured the dominant cost at 2 GB /
    16 tables), statements group by table inside the task, and per-table
    ``pyarrow.parquet`` writers emit the final-typed row groups of
    :func:`parse_statements` — the same parse core as the per-table
    fallback and the DataSource reader.

    Commit protocol (v1-style, speculation-safe): tasks write to
    ``{output_dir}/_staging_{job}/`` under attempt-unique filenames and
    RETURN (table, path, rows) rows; only files reported by the one
    successful attempt per partition are moved into place by the
    driver, then staging is deleted — an orphaned duplicate attempt can
    never surface.  Executors must share the output filesystem with the
    driver (local / NFS / fuse-mounted DFS — same contract as the
    DataSource writer); ``convert_dump`` falls back to the per-table
    path otherwise.

    ``schemas`` and ``ranges`` are ``convert_dump``'s discovery: ranges
    None reads the dump's lines through the JVM text scan, a range list
    reads byte-range reassembly (:func:`_range_statements`) — the same
    single-scan/commit machinery then serves the no---extended-insert
    layout and .xz members, with no per-table re-read at any table
    count."""
    import shutil as _shutil
    import uuid

    if "://" in output_dir:
        # os.path.abspath('s3://bucket/out') would silently mangle the
        # URI into '<cwd>/s3:/bucket/out' and "succeed" locally while
        # the caller believes the data went to the object store
        # (ADVICE r5, medium).  convert_dump's per-table Spark writers
        # are the remote-output path.
        raise ValueError(
            "onepass writes through driver-side filesystem moves; "
            f"output_dir {output_dir!r} has a scheme os.path cannot "
            "address — convert_dump writes object-store output through "
            "the per-table Spark writers"
        )
    multiline = ranges is not None
    out_abs = os.path.abspath(output_dir)
    _gc_orphaned_staging(out_abs)
    staging = os.path.join(out_abs, f"_staging_{uuid.uuid4().hex}")
    os.makedirs(staging, exist_ok=True)
    # A scheme-less path on a multi-node cluster may still be plain
    # node-local disk — tasks would write staging files on their own
    # nodes and the failure would only surface as FileNotFoundError at
    # the driver's final move, after the entire parse (ADVICE r5, low).
    # Probe once in milliseconds instead.  local[...] / local-cluster
    # masters run on this machine by construction — skip the job.
    # On probe failure, remove the just-created staging dir: the main
    # try/finally cleanup starts later, and a stray _staging_<uuid>
    # would otherwise accumulate in the user's output dir per retry.
    if not spark.sparkContext.master.startswith("local"):
        try:
            _probe_staging_visibility(spark, staging)
        except BaseException:
            _shutil.rmtree(staging, ignore_errors=True)
            raise

    def run_task(arrow_batches):
        """Task body: statements (any table) → per-table parquet files
        in staging + one report RecordBatch."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        codec, level = parse_compression(compression)
        writers: dict[str, list] = {}  # table -> [writer, path, rows]
        stmts = _source_statements(arrow_batches, multiline, schemas)
        for table, group in _statement_groups(stmts, schemas):
            final = parse_statements(group, table, schemas[table])
            if table not in writers:
                d = os.path.join(staging, table)
                os.makedirs(d, exist_ok=True)
                path = os.path.join(
                    d, f"part-{pid:05d}-{uuid.uuid4().hex}.parquet"
                )
                writers[table] = [
                    pq.ParquetWriter(
                        path,
                        final.schema,
                        compression=codec,
                        compression_level=level,
                    ),
                    path,
                    0,
                ]
            w = writers[table]
            w[0].write_table(final)
            w[2] += final.num_rows
        for w in writers.values():
            w[0].close()
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(list(writers), pa.string()),
                pa.array([w[1] for w in writers.values()], pa.string()),
                pa.array([w[2] for w in writers.values()], pa.int64()),
            ],
            names=["table", "path", "nrows"],
        )

    try:
        with _statement_source(spark, dump_path, ranges) as source:
            rep = source.mapInArrow(
                run_task, "table string, path string, nrows long"
            ).collect()
        counts = {t: 0 for t in schemas}
        for t in schemas:
            d = os.path.join(out_abs, t)
            _shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d, exist_ok=True)
        for r in rep:
            _shutil.move(
                r.path, os.path.join(out_abs, r.table, os.path.basename(r.path))
            )
            counts[r.table] += int(r.nrows)
        for t, n in counts.items():
            if n == 0:  # schema-only dataset, same as the per-table path
                spark.createDataFrame([], schemas[t]).write.mode(
                    "overwrite"
                ).parquet(os.path.join(out_abs, t))
        return counts
    finally:
        _shutil.rmtree(staging, ignore_errors=True)


def _require_tables(schemas: dict, dump_path: str) -> None:
    """Fail loud when the DDL pass found nothing to convert — a silent
    empty output directory hides input problems.  Lives at the shared
    collect_schemas/collect_schemas_multiline layer so every entry
    point (convert_dump, convert_dump_onepass called directly) is
    covered.  The common causes: the path matched no dump content, or the dump uses non-canonical
    lowercase keywords (statement classification matches the exact
    ``CREATE TABLE`` / ``INSERT INTO`` prefixes mysqldump emits — the
    hot line filters stay byte-literal on purpose; per-line case folding
    measured as a real cost at scale)."""
    if not schemas:
        raise DumpParseError(
            f"no CREATE TABLE statements found in {dump_path!r} — nothing "
            "to convert.  Keyword matching is byte-exact against canonical "
            "mysqldump output (uppercase 'CREATE TABLE' / 'INSERT INTO'); "
            "re-export with mysqldump, or uppercase the statement keywords."
        )


#: Width of the per-table fallback's thread pool: how many table jobs
#: run at once.
_TABLE_WRITERS = 8


def _table_df(
    source: DataFrame, table: str, schema: T.StructType, multiline: bool
) -> DataFrame:
    """One table's rows out of a :func:`_statement_source`: ONE
    ``mapInArrow`` of the parse core, with no repartition and no cache.
    One-line sources are pruned to the table's own lines by a JVM-side
    prefix filter first; multi-line ones skip foreign statements
    Python-side at their first line, undecoded."""
    from functools import reduce

    if not multiline:
        # mysqldump writes the table name back-quoted; cover the
        # bare/double-quoted spellings too — the Python-side name check
        # stays the correctness guard.  Table names are lowercased (like
        # _route does), so `Users` lines reach table `users`;
        # 96 chars hold the longest prefix with a 64-char name.
        head = F.lower(F.substring("value", 1, 96))
        source = source.where(
            reduce(
                lambda a, b: a | b,
                (
                    head.startswith((kw + spelling).lower())
                    for kw in DML_PREFIXES
                    for spelling in (
                        f" `{table}`", f' "{table}"', f" {table} ", f" {table}("
                    )
                ),
            )
        )
    return source.mapInArrow(
        lambda batches: _table_batches(
            _source_statements(batches, multiline, (table,)), table, schema
        ),
        # every column nullable, as in the one-pass writers' Arrow schema
        T.StructType([T.StructField(f.name, f.dataType) for f in schema.fields]),
    )


def _convert_per_table(
    spark: SparkSession,
    dump_path: str,
    output_dir: str,
    compression: str,
    schemas: dict[str, T.StructType],
    *,
    ranges: list[tuple[str, int, int]] | None,
    progress: bool,
) -> dict[str, int]:
    """The fallback for output the driver cannot reach (a scheme in
    ``output_dir``, or :class:`OnepassStagingInvisible`): per table,
    :func:`_table_df` over the one-pass statement source into Spark's
    Parquet sink, with the row count from an ``observe`` metric on the
    write.  Table jobs run from a fixed-width thread pool, each one
    re-reading the source."""
    import sys
    import time as _time
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import Observation

    codec, level = parse_compression(compression)
    if level is not None and codec != "zstd":
        # parquet-mr has a level knob for zstd only; a gzip/brotli level
        # this path cannot honor fails loudly instead of silently
        # writing at the default level (the one-pass pyarrow writers
        # honor those levels fine)
        raise ValueError(
            f"the per-table Spark writer cannot honor a {codec} level "
            f"({compression!r}); use zstd:N or a plain codec on this path"
        )

    def one_table(item: tuple[str, T.StructType]) -> tuple[str, int]:
        table, schema = item
        t0 = _time.perf_counter()
        obs = Observation(f"ingest_{table}")
        df = _table_df(source, table, schema, multiline=ranges is not None)
        writer = df.observe(obs, F.count(F.lit(1)).alias("rows")).write
        if level is not None:
            # parquet-mr reads the level from the JOB's Hadoop conf, and
            # Spark's file sinks copy writer options into that conf, so
            # the level rides the write instead of mutating the
            # session-global conf (ADVICE r11)
            writer = writer.option("parquet.compression.codec.zstd.level", str(level))
        writer.mode("overwrite").parquet(f"{output_dir}/{table}", compression=codec)
        n = int(obs.get["rows"])
        if progress:
            dt = _time.perf_counter() - t0
            print(f"[ingest] {table}: {n:,} rows in {dt:.1f}s", file=sys.stderr)
        return table, n

    with _statement_source(spark, dump_path, ranges) as source:
        with ThreadPoolExecutor(min(_TABLE_WRITERS, len(schemas))) as pool:
            return dict(pool.map(one_table, schemas.items()))


def convert_dump(
    spark: SparkSession,
    dump_path: str,
    output_dir: str,
    compression: str = "snappy",
    progress: bool = False,
) -> dict[str, int]:
    """Full reference pipeline: dump → one Snappy Parquet dataset per table.

    Returns {table: row_count}.  Whenever the driver can reach the output
    (no scheme in ``output_dir``, and the staging probe passes) the dump
    converts ONE-PASS: each task parses its byte range once and writes
    every table it sees (see :func:`convert_dump_onepass`; 86 → 359 MB/s
    at 2 GB/16 tables).  Otherwise each table converts in its own Spark
    job into Spark's Parquet sink (:func:`_convert_per_table`).  Both
    read the same statement source and call the same parse core.

    This is the one place the dump's layout is decided, with no knob: a
    one-line dump (one INSERT per line, mysqldump's --extended-insert
    default) reads through the JVM text scan; a dump whose INSERT
    statements span lines, or any .xz member (no Hadoop codec), reads
    through byte-range statement reassembly (reference parity with
    main.rs:110–145, but parallel WITHIN a file: ranges align on
    statement-terminator lines, see :func:`_range_owned_lines`).  A
    glob pays at most one file listing, shared by the .xz check and the
    ranges.

    ``progress=True`` reports per-table rows to stderr AND renders live
    task-level progress while jobs run (``progress.ProgressReporter``
    polling the driver's StatusTracker) — the analogue of the
    reference's three spinners (src/main.rs:63–86).
    """
    import sys
    import time as _time

    from ..progress import ProgressReporter

    has_xz, files = _xz_listing(spark, dump_path)
    schemas = ranges = None
    if not has_xz:
        with contextlib.suppress(MultilineDumpError):
            schemas = _line_schemas(spark, dump_path)
    if schemas is None:
        if files is None:
            files = _dump_files(spark, dump_path)
        ranges = _multiline_ranges(spark, dump_path, files)
        schemas = collect_schemas_multiline(spark, dump_path, ranges)
        if progress:
            print(
                "[ingest] multi-line INSERT layout or .xz members — "
                "byte-range statement reassembly (parallel within files)",
                file=sys.stderr,
            )
    if progress:
        print(
            f"[ingest] {len(schemas)} table(s): {sorted(schemas)}",
            file=sys.stderr,
        )
    counts = None
    t0 = _time.perf_counter()
    with ProgressReporter(spark, "ingest") if progress else contextlib.nullcontext():
        if "://" not in output_dir:
            try:
                counts = convert_dump_onepass(
                    spark,
                    dump_path,
                    output_dir,
                    compression,
                    schemas=schemas,
                    ranges=ranges,
                )
            except OnepassStagingInvisible:
                print(
                    "[ingest] one-pass staging not driver-visible — "
                    "falling back to per-table writers",
                    file=sys.stderr,
                )
        if counts is None:
            counts = _convert_per_table(
                spark,
                dump_path,
                output_dir,
                compression,
                schemas,
                ranges=ranges,
                progress=progress,
            )
        elif progress:
            dt = _time.perf_counter() - t0
            for t in schemas:
                print(
                    f"[ingest] {t}: {counts[t]:,} rows (one-pass, "
                    f"{dt:.1f}s total)",
                    file=sys.stderr,
                )
    return {t: counts[t] for t in schemas}  # deterministic table order


# --------------------------------------------------------------------------
# queries() registrations
# --------------------------------------------------------------------------

#: A miniature dump exercising the full grammar, incl. the three semantic
#: fixes (DECIMAL, BOOLEAN, DATE) the reference gets wrong (SURVEY §1.2).
DEMO_DUMP = """-- MySQL dump 10.13  Distrib 8.0
/*!40101 SET NAMES utf8mb4 */;
DROP TABLE IF EXISTS `acct`;
CREATE TABLE `acct` (
  `id` bigint NOT NULL,
  `name` varchar(255) CHARACTER SET utf8mb4 NOT NULL,
  `balance` decimal(12,2) DEFAULT NULL,
  `ratio` double DEFAULT NULL,
  `active` boolean NOT NULL,
  `created` timestamp NULL DEFAULT NULL,
  `birthday` date DEFAULT NULL,
  PRIMARY KEY (`id`),
  KEY `name_index` (`name`(64))
) ENGINE=InnoDB DEFAULT CHARSET=utf8mb4;
LOCK TABLES `acct` WRITE;
INSERT INTO `acct` VALUES (1,'alice',120.50,0.25,1,'2024-01-02 03:04:05','1990-05-06'),(2,'bob',NULL,-1.5,0,'2024-02-03 04:05:06',NULL),(3,'carol''s',3.14,2,1,NULL,'2001-12-31');
UNLOCK TABLES;
"""


def pin_result(df: DataFrame) -> DataFrame:
    """Materialize a *small* result whose backing files are about to
    vanish (tempdir outputs): collect and rebuild as a local DataFrame —
    unlike ``cache()``, immune to executor cache eviction."""
    rows = df.collect()
    return df.sparkSession.createDataFrame(rows, df.schema)


def _ingest_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_ingest_mysqldump: run the full pipeline on the demo dump in a temp
    dir, read the Parquet back (side-effecting ⇒ rows-only driver check)."""
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        dump = f"{tmp}/demo.sql"
        with open(dump, "w") as fh:
            fh.write(DEMO_DUMP)
        convert_dump(spark, dump, f"{tmp}/out")
        return pin_result(spark.read.parquet(f"{tmp}/out/acct").orderBy("id"))


def _scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_scan_parquet: projected scan + row count per file-level group —
    checks the Parquet source end-to-end (pushdown verified in test_plans)."""
    from ..catalog import load_table

    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.select("l_returnflag", "l_quantity")
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("l_quantity").alias("sum_qty"))
        .orderBy("l_returnflag")
    )


SCAN_PARQUET_SQL = """
SELECT l_returnflag, COUNT(*) AS n_rows, SUM(l_quantity) AS sum_qty
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def _sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_sink_partitioned: partitioned Parquet write (the 100 TB layout:
    partition pruning on ship-month) then read one partition back."""
    import tempfile

    from ..catalog import load_table

    l = load_table(spark, sf_dir, "lineitem")
    with tempfile.TemporaryDirectory() as tmp:
        (
            l.withColumn("ship_month", F.date_format("l_shipdate", "yyyy-MM"))
            .write.mode("overwrite")
            .partitionBy("ship_month")
            .parquet(f"{tmp}/lineitem_parted")
        )
        return pin_result(
            spark.read.parquet(f"{tmp}/lineitem_parted")
            .where(F.col("ship_month") == "1996-03")
            .groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .orderBy("l_returnflag")
        )


SINK_PARTITIONED_SQL = """
SELECT l_returnflag, COUNT(*) AS n_rows
FROM lineitem
WHERE strftime(l_shipdate, '%Y-%m') = '1996-03'
GROUP BY l_returnflag ORDER BY l_returnflag
"""


QUERIES = {
    "q_ingest_mysqldump": _ingest_demo,
    "q_scan_parquet": _scan_parquet,
    "q_sink_partitioned": _sink_partitioned,
}

ORACLE = {
    # q_ingest_mysqldump: side-effecting, own-dump input → rows-only check.
    "q_scan_parquet": SCAN_PARQUET_SQL,
    "q_sink_partitioned": SINK_PARTITIONED_SQL,
}
