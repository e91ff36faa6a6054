"""``spark.read.format("mysqldump")`` — the ingest pipeline as a Spark 4
Python DataSource (pyspark.sql.datasource).

The reference is a standalone converter (src/main.rs:1-218: dump in,
Parquet out).  ``convert_dump`` reproduces that CLI contract; this module
exposes the same parser as a *composable source*: a dump table becomes an
ordinary DataFrame usable in any query without materializing Parquet
first —

    spark.dataSource.register(MysqldumpDataSource)
    df = (spark.read.format("mysqldump")
          .option("path", "/data/db.sql")
          .option("table", "acct").load())

Scale design:

* **Splittable reads.** ``partitions()`` carves plain ``.sql`` files into
  byte ranges (default 32 MB); each task seeks to its range start, aligns
  to the next line boundary, and parses only statements *starting* inside
  its range — the same ownership rule Hadoop text splitting uses, so every
  one-statement-per-line INSERT is parsed exactly once and a 100 GB dump
  fans out across the cluster with zero driver involvement.  Compressed
  members (.gz/.bz2/.xz/.zst) are not seekable → one partition per file
  (same behavior as every Hadoop text source; the scale path is many
  files), decoded Python-side by the converter's shared open helper.
* **Schema from DDL, driver-side and bounded.** ``schema()`` scans the
  dump head (``DDL_SCAN_BYTES`` cap, loud error past it) for the table's
  CREATE TABLE and reuses :func:`..mysqldump.parse_create_table` — the
  same grammar, bug fixes, and type mapping as the CLI path.
* **Same coercion contract.** Rows go through
  :func:`..mysqldump.parse_insert_full` / ``align_row`` / ``coerce_row``
  (C1–C3: loud on mismatch, int→float widening, exact DECIMAL digits),
  then temporal/decimal carriers become real Python values so the
  returned DataFrame needs no further casting.

The bulk-conversion CLI keeps the Arrow ``mapInPandas`` pipeline (it is
faster for whole-dump conversion); this source is the right surface when
a dump table joins live against the rest of the engine.
"""

from __future__ import annotations

import glob as globlib
import os
from datetime import date, datetime, timezone
from decimal import Decimal
from typing import Iterator

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    InputPartition,
    WriterCommitMessage,
)

from .mysqldump import (
    _INSERT_COLS_RE,
    COMPRESSED_DUMP_EXTS,
    DumpParseError,
    _open_dump_text,
    _arrow_fast_types,
    _arrow_read_values,
    _offsets_and_data,
    _values_csv_bytes,
    align_row,
    coerce_row,
    insert_table_name,
    iter_statements,
    parse_create_table,
    parse_insert_full,
)

#: Schema scan reads at most this many bytes of each file's head looking
#: for the CREATE TABLE (mysqldump emits all DDL before any data).
DDL_SCAN_BYTES = 64 * 1024 * 1024

#: Default byte-range size for splitting plain .sql files.
DEFAULT_SPLIT_MB = 32


class _Range(InputPartition):
    """One byte range of one file.  ``end is None`` → to EOF (gz files)."""

    def __init__(self, path: str, start: int, end: int | None):
        self.path = path
        self.start = start
        self.end = end


def _open_text(path: str):
    # extension-dispatched decode (.gz/.bz2/.xz stdlib, .zst via the
    # zstd CLI) shared with the convert paths — this datasource decodes
    # members Python-side inside tasks, so it reads every extension the
    # converter does, including the JVM-undecodable .xz
    return _open_dump_text(path)


def _iter_head_statements(path: str) -> Iterator[str]:
    """Statements from the file head, capped at DDL_SCAN_BYTES."""
    seen = 0
    with _open_text(path) as fh:

        def lines():
            nonlocal seen
            for ln in fh:
                seen += len(ln)
                if seen > DDL_SCAN_BYTES:
                    raise DumpParseError(
                        f"{path}: no CREATE TABLE within the first "
                        f"{DDL_SCAN_BYTES} bytes — is this a mysqldump file?"
                    )
                yield ln

        yield from iter_statements(lines())


def _finalize_row(row: tuple, schema: T.StructType, table: str) -> tuple:
    """Carrier strings → Python temporal/decimal values (the JVM cast
    stage of the bulk pipeline, done here in-process)."""
    out = []
    for v, f in zip(row, schema.fields):
        if v is None:
            out.append(None)
        elif isinstance(f.dataType, T.TimestampType):
            try:
                dt = datetime.fromisoformat(v)
            except ValueError as e:
                # same wording as the JVM cast guard (finish_casts) so the
                # C1/C3 error contract reads identically on every path
                raise DumpParseError(
                    f"{table}: cannot cast {f.name} value '{v}' to timestamp"
                ) from e
            # dumps carry naive UTC (reference: parquet_writer.rs:186-191);
            # attach the zone so the result is session-tz independent
            out.append(dt.replace(tzinfo=timezone.utc))
        elif isinstance(f.dataType, T.DateType):
            try:
                out.append(date.fromisoformat(v))
            except ValueError as e:
                raise DumpParseError(
                    f"{table}: cannot cast {f.name} value '{v}' to date"
                ) from e
        elif isinstance(f.dataType, T.DecimalType):
            out.append(Decimal(v))
        else:
            out.append(v)
    return tuple(out)


#: Rows accumulated per Arrow RecordBatch emitted by the reader.
READER_BATCH_ROWS = 65536


def _pa_schema(schema: T.StructType):
    """PyArrow schema matching the Spark result schema (None when a field
    has no Arrow mapping — then the reader falls back to tuple yields)."""
    import pyarrow as pa

    out = []
    for f in schema.fields:
        dt = f.dataType
        if isinstance(dt, T.LongType):
            t = pa.int64()
        elif isinstance(dt, T.IntegerType):
            t = pa.int32()
        elif isinstance(dt, T.DoubleType):
            t = pa.float64()
        elif isinstance(dt, T.FloatType):
            t = pa.float32()
        elif isinstance(dt, T.BooleanType):
            t = pa.bool_()
        elif isinstance(dt, T.StringType):
            t = pa.string()
        elif isinstance(dt, T.TimestampType):
            t = pa.timestamp("us", tz="UTC")  # dumps carry naive UTC
        elif isinstance(dt, T.DateType):
            t = pa.date32()
        elif isinstance(dt, T.DecimalType):
            t = pa.decimal128(dt.precision, dt.scale)
        elif isinstance(dt, T.BinaryType):
            t = pa.binary()
        else:
            return None
        out.append(pa.field(f.name, t, nullable=True))
    return pa.schema(out)


def _carrier_to_target(tbl, schema: T.StructType, pa_schema):
    """Cast the fast path's carrier columns (timestamps/dates/decimals as
    strings) to the target Arrow types — C++ casts, no Python objects.
    Raises on any unconvertible value (caller falls back to the exhaustive
    path, which raises the proper contextual error)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cols = []
    for f, pf, col in zip(schema.fields, pa_schema, tbl.columns):
        if isinstance(f.dataType, T.TimestampType):
            c = pc.assume_timezone(pc.cast(col, pa.timestamp("us")), "UTC")
        else:
            c = pc.cast(col, pf.type)
        cols.append(c)
    return pa.Table.from_arrays(cols, schema=pa_schema)


class MysqldumpReader(DataSourceReader):
    """Splittable dump reader emitting Arrow ``RecordBatch``es.

    Statements eligible for the shared Arrow-CSV fast path (see
    ``mysqldump._values_csv_bytes``) accumulate into one ``read_csv`` +
    typed-cast call per ~{READER_BATCH_ROWS} rows — string→timestamp/
    date/decimal casts run in Arrow C++ and the batch crosses into the
    JVM without ever materializing per-row Python objects.  Statements
    the fast path refuses (and any batch whose typed cast fails) re-parse
    through the exhaustive tokenizer into the same Arrow schema, so
    error semantics (C1–C3, loud with column context) are identical on
    both paths."""

    def __init__(self, schema: T.StructType, options: dict):
        self._schema = schema
        self._table = options["table"].lower()
        self._paths = sorted(globlib.glob(options["path"])) or [options["path"]]
        self._split_bytes = (
            int(options.get("split_mb", DEFAULT_SPLIT_MB)) * 1024 * 1024
        )

    def partitions(self):
        parts: list[_Range] = []
        for p in self._paths:
            if p.endswith(COMPRESSED_DUMP_EXTS):
                parts.append(_Range(p, 0, None))  # not seekable
                continue
            size = os.path.getsize(p)
            step = max(self._split_bytes, 1)
            offsets = range(0, max(size, 1), step)
            parts.extend(_Range(p, off, min(off + step, size)) for off in offsets)
        return parts

    def read(self, part: _Range):
        if part.end is None:  # gz: stream the whole file
            with _open_text(part.path) as fh:
                yield from self._batches(fh)
            return

        def lines():
            with open(part.path, "rb") as fh:
                if part.start > 0:
                    # LineRecordReader convention: back up one byte and
                    # consume through the next newline.  Only the tail of a
                    # line that STRADDLES the boundary is discarded — if
                    # byte start-1 is itself '\n', this consumes just that
                    # newline and a line beginning exactly at part.start is
                    # read by its owner.  (Seeking to start and discarding
                    # a whole line would drop such a line from both ranges:
                    # the previous range's strict tell() < end check
                    # already excluded it.)
                    fh.seek(part.start - 1)
                    fh.readline()
                else:
                    fh.seek(0)
                while fh.tell() < part.end:
                    # a line is owned by the range containing its first
                    # byte; the owner reads past its end to finish the line
                    raw = fh.readline()
                    if not raw:
                        break
                    yield raw.decode("utf-8", errors="replace")

        yield from self._batches(lines())

    def _slow_rows(self, stmt: str) -> list[dict]:
        """One statement through the exhaustive tokenizer, finalized."""
        schema, table = self._schema, self._table
        names = [f.name for f in schema.fields]
        _t, columns, rows = parse_insert_full(stmt)
        out = []
        for row in rows:
            if columns is not None:
                row = align_row(row, columns, schema, table)
            out.append(
                dict(
                    zip(
                        names,
                        _finalize_row(
                            coerce_row(row, schema, table), schema, table
                        ),
                    )
                )
            )
        return out

    def _batches(self, lines):
        """Accumulate statements into Arrow RecordBatches (module
        docstring); tuple-yield fallback only when the schema has no
        Arrow mapping."""
        import pyarrow as pa

        schema, table = self._schema, self._table
        pa_schema = _pa_schema(schema)
        if pa_schema is None:  # unmappable type: legacy row-at-a-time path
            for line in lines:
                stmt = line.strip()
                if insert_table_name(stmt) != table:
                    continue
                for d in self._slow_rows(stmt):
                    yield tuple(d.values())
            return
        fast_types = _arrow_fast_types(schema)
        chunks: list[bytes] = []
        chunk_stmts: list[str] = []
        n_fast = 0
        slow: list[dict] = []

        def flush_fast():
            nonlocal chunks, chunk_stmts, n_fast
            if not chunks:
                return []
            try:
                tbl = _arrow_read_values(
                    b"\n".join(chunks),
                    [f.name for f in schema.fields],
                    fast_types,
                )
                if tbl.num_rows != n_fast:
                    raise DumpParseError("fast-path row-count drift")
                out = _carrier_to_target(tbl, schema, pa_schema)
            except Exception:
                # typed-cast or structural surprise: the exhaustive path
                # either parses correctly or raises the loud contextual
                # error — identical semantics to the pre-Arrow reader
                rows = [d for s in chunk_stmts for d in self._slow_rows(s)]
                out = pa.Table.from_pylist(rows, schema=pa_schema)
            chunks, chunk_stmts, n_fast = [], [], 0
            return out.to_batches()

        def flush_slow():
            nonlocal slow
            if not slow:
                return []
            out = pa.Table.from_pylist(slow, schema=pa_schema)
            slow = []
            return out.to_batches()

        for line in lines:
            stmt = line.strip()
            if insert_table_name(stmt) != table:
                continue
            fb = None
            if fast_types is not None and not _INSERT_COLS_RE.match(stmt):
                fb = _values_csv_bytes(stmt)
            if fb is not None:
                chunks.append(fb[0])
                chunk_stmts.append(stmt)
                n_fast += fb[1]
                if n_fast >= READER_BATCH_ROWS:
                    yield from flush_fast()
            else:
                slow.extend(self._slow_rows(stmt))
                if len(slow) >= READER_BATCH_ROWS:
                    yield from flush_slow()
        yield from flush_fast()
        yield from flush_slow()


# ------------------------------------------------------------ write path

#: Rows per extended INSERT statement (mysqldump batches similarly to
#: bound statement length).
ROWS_PER_INSERT = 500


def _sql_type(dt: T.DataType, table: str, name: str) -> str:
    """Reverse of the ingest type mapping — the dump-side DDL type."""
    if isinstance(dt, T.LongType):
        return "bigint"
    if isinstance(dt, T.IntegerType):
        return "int"
    if isinstance(dt, T.DoubleType):
        return "double"
    if isinstance(dt, T.FloatType):
        return "float"
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision},{dt.scale})"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"  # dumps carry naive UTC either way
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.BinaryType):
        return "blob"
    if isinstance(dt, T.StringType):
        return "text"
    raise DumpParseError(
        f"{table}.{name}: {dt.simpleString()} has no mysqldump DDL type"
    )


class _WroteFile(WriterCommitMessage):
    def __init__(self, path: str, rows: int):
        self.path = path
        self.rows = rows


#: Two lower-case hex digits for every byte value.
_HEX_PAIRS = b"".join(b"%02x" % b for b in range(256))


def _lit_column(col, f: T.StructField, table: str):
    """One Arrow column → its dump-literal string array (NULL handling
    applied last), formatted so the reader (and MySQL) parse back the
    identical value: '' doubling and backslash escapes for strings,
    ``0x…`` for binary (the --hex-blob convention; empty bytes as ``''``),
    exact digits for decimals, always-microsecond timestamps."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    dt = f.dataType
    quote = pa.scalar("'")
    if isinstance(dt, T.BinaryType):
        off, data = _offsets_and_data(col)
        digits = np.frombuffer(_HEX_PAIRS, dtype=np.uint8).reshape(256, 2)
        hexes = pa.Array.from_buffers(
            pa.string(),
            len(col),
            [None, pa.py_buffer(2 * off), pa.py_buffer(digits[data])],
        )
        s = pc.if_else(
            pc.equal(pc.binary_length(col), 0),
            pa.scalar("''"),
            pc.binary_join_element_wise("0x", hexes, ""),
        )
    elif isinstance(dt, T.BooleanType):
        s = pc.if_else(col, pa.scalar("1"), pa.scalar("0"))
    elif isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        utc = pc.cast(col, pa.timestamp("us", tz="UTC"))
        # Arrow's %S already includes the .ffffff fraction for µs data
        s = pc.strftime(utc, format="%Y-%m-%d %H:%M:%S")
        s = pc.binary_join_element_wise(quote, s, quote, "")
    elif isinstance(dt, T.DateType):
        s = pc.binary_join_element_wise(
            quote, pc.cast(col, pa.string()), quote, ""
        )
    elif isinstance(dt, T.StringType):
        s = col
        for pat, rep in (
            ("\\", "\\\\"),
            ("'", "''"),
            ("\n", "\\n"),
            ("\r", "\\r"),
            ("\0", "\\0"),
        ):
            s = pc.replace_substring(s, pattern=pat, replacement=rep)
        s = pc.binary_join_element_wise(quote, s, quote, "")
    elif isinstance(dt, (T.DoubleType, T.FloatType)):
        finite = pc.fill_null(pc.is_finite(col), True)
        if not pc.all(finite).as_py():
            raise DumpParseError(
                f"{table}.{f.name}: non-finite double has no mysqldump "
                "literal; NULL or clamp the column before export"
            )
        s = pc.cast(col, pa.string())
    else:  # ints / decimals: exact digit strings
        s = pc.cast(col, pa.string())
    return pc.if_else(pc.is_null(col), pa.scalar("NULL"), s)


class MysqldumpWriter(DataSourceArrowWriter):
    """Per-task: one ``part-<uuid>.sql`` of extended INSERTs; on commit the
    driver writes ``00-schema.sql`` (DDL first lexicographically, so the
    reader's head scan finds it).  Each task writes independently —
    no driver fan-in of data, the layout every distributed sink needs.

    Arrow RecordBatches in, extended-INSERT text out.  Every literal is
    formatted by Arrow C++ kernels (casts, strftime, escape replaces) or,
    for binary, a numpy hex table over the value buffer, and rows are
    assembled with one ``binary_join_element_wise`` — Python only joins
    the finished row strings into {ROWS_PER_INSERT}-row statements."""

    def __init__(self, schema: T.StructType, options: dict, overwrite: bool):
        self._schema = schema
        self._table = options["table"].lower()
        self._dir = options["path"]
        self._overwrite = overwrite

    def write(self, iterator) -> _WroteFile:
        import uuid

        import pyarrow as pa
        import pyarrow.compute as pc

        os.makedirs(self._dir, exist_ok=True)
        path = os.path.join(self._dir, f"part-{uuid.uuid4().hex}.sql")
        n = 0
        prefix = f"INSERT INTO `{self._table}` VALUES "
        with open(path, "w", encoding="utf-8") as fh:
            for batch in iterator:
                if batch.num_rows == 0:
                    continue
                lits = [
                    _lit_column(col, f, self._table)
                    for col, f in zip(batch.columns, self._schema.fields)
                ]
                args = [pa.scalar("(")]
                for i, c in enumerate(lits):
                    if i:
                        args.append(pa.scalar(","))
                    args.append(c)
                args.append(pa.scalar(")"))
                rows = pc.binary_join_element_wise(*args, "").to_pylist()
                for i in range(0, len(rows), ROWS_PER_INSERT):
                    chunk = rows[i : i + ROWS_PER_INSERT]
                    fh.write(prefix + ",".join(chunk) + ";\n")
                n += len(rows)
        return _WroteFile(path, n)

    def commit(self, messages) -> None:
        if self._overwrite:
            # mode("overwrite") contract: the directory holds ONLY this
            # job's output afterwards — remove part files from prior
            # writes or a later read returns old rows merged with new
            keep = {m.path for m in messages if m is not None}
            for p in globlib.glob(os.path.join(self._dir, "part-*.sql")):
                if p not in keep:
                    os.remove(p)
        cols = ",\n".join(
            f"  `{f.name}` {_sql_type(f.dataType, self._table, f.name)}"
            + ("" if f.nullable else " NOT NULL")
            for f in self._schema.fields
        )
        ddl = f"CREATE TABLE `{self._table}` (\n{cols}\n);\n"
        with open(os.path.join(self._dir, "00-schema.sql"), "w") as fh:
            fh.write("-- exported by mysqldump_to_parquet_spark\n")
            fh.write(ddl)

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)


class MysqldumpDataSource(DataSource):
    """DataSource entry point; see the module docstring for the contract."""

    @classmethod
    def name(cls) -> str:
        return "mysqldump"

    def _require(self, key: str) -> str:
        v = self.options.get(key)
        if not v:
            raise DumpParseError(
                f"mysqldump source requires .option('{key}', ...)"
            )
        return v

    def schema(self) -> T.StructType:
        path = self._require("path")
        table = self._require("table").lower()
        first = (sorted(globlib.glob(path)) or [path])[0]
        for stmt in _iter_head_statements(first):
            if not stmt.lstrip().upper().startswith("CREATE TABLE"):
                continue
            parsed = parse_create_table(stmt)
            if parsed.table == table:
                return parsed.schema
        raise DumpParseError(f"{first}: no CREATE TABLE for {table!r} found")

    def reader(self, schema: T.StructType) -> MysqldumpReader:
        return MysqldumpReader(schema, dict(self.options))

    def writer(self, schema: T.StructType, overwrite: bool) -> MysqldumpWriter:
        self._require("path")
        self._require("table")
        return MysqldumpWriter(schema, dict(self.options), overwrite)


def register(spark) -> None:
    """Make ``format("mysqldump")`` available on this session."""
    spark.dataSource.register(MysqldumpDataSource)


def _src_dump_datasource(spark, sf_dir: str):
    """q_src_dump_datasource: read the demo dump through the registered
    ``format("mysqldump")`` source.  Unlike the side-effecting CLI path
    (``q_ingest_mysqldump``, rows-only), this read's values are
    hash-checked against a literal oracle — hard evidence the DataSource
    parse/coerce path reproduces the dump byte-for-byte.

    ``balance`` is cast DECIMAL→DOUBLE for the hash: DuckDB's pandas
    bridge converts DECIMAL to float64 (``120.5``) while Spark's keeps
    ``Decimal('120.50')`` — stringified, those hash differently (the
    round-3 red).  Decimal round-trip fidelity stays covered by
    tests/test_dump_datasource.py, where it belongs."""
    import tempfile

    from pyspark.sql import functions as F

    from .mysqldump import DEMO_DUMP, pin_result

    register(spark)
    with tempfile.TemporaryDirectory() as tmp:
        dump = f"{tmp}/demo.sql"
        with open(dump, "w") as fh:
            fh.write(DEMO_DUMP)
        df = (
            spark.read.format("mysqldump")
            .option("path", dump)
            .option("table", "acct")
            .load()
            .withColumn("balance", F.col("balance").cast("double"))
            .orderBy("id")
        )
        return pin_result(df)


#: The demo dump's three rows as a literal table — the oracle is the
#: *expected parse*, independent of any engine.
SRC_DUMP_DATASOURCE_SQL = """
SELECT * FROM (VALUES
  (CAST(1 AS BIGINT), 'alice',  CAST(120.50 AS DOUBLE),
   CAST(0.25 AS DOUBLE), TRUE,  TIMESTAMP '2024-01-02 03:04:05',
   DATE '1990-05-06'),
  (CAST(2 AS BIGINT), 'bob',    CAST(NULL AS DOUBLE),
   CAST(-1.5 AS DOUBLE), FALSE, TIMESTAMP '2024-02-03 04:05:06',
   CAST(NULL AS DATE)),
  (CAST(3 AS BIGINT), 'carol''s', CAST(3.14 AS DOUBLE),
   CAST(2 AS DOUBLE), TRUE,     CAST(NULL AS TIMESTAMP),
   DATE '2001-12-31')
) AS t(id, name, balance, ratio, active, created, birthday)
ORDER BY id
"""

QUERIES = {
    "q_src_dump_datasource": _src_dump_datasource,
}

ORACLE = {
    "q_src_dump_datasource": SRC_DUMP_DATASOURCE_SQL,
}
