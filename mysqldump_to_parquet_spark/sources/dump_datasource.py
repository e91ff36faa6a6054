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

* **Splittable reads, both layouts.** ``partitions()`` carves plain
  ``.sql`` files into byte ranges (default 32 MB) with the converter's
  own carver (:func:`..mysqldump._carve_ranges`); each task reads the
  statements its range owns through the converter's own statement source
  (:func:`..mysqldump._range_statements`: a statement belongs to the
  range it starts in — Hadoop's line ownership for one-line dumps — and
  multi-line INSERTs reassemble across lines), so every statement is
  parsed exactly once and a 100 GB dump fans out across the cluster with
  zero driver involvement.  Other tables' statements are skipped at
  their first line, as bytes: never joined, never decoded.  Compressed
  members (.gz/.bz2/.xz/.zst) are not seekable → one partition per file
  (same behavior as every Hadoop text source; the scale path is many
  files), decoded in the task's process by pyarrow's codecs (lzma for
  .xz), with no external binary.
* **Schema from DDL, driver-side and streamed.** ``schema()`` finds the
  table's CREATE TABLE anywhere in the sorted files through the same
  statement source and DDL filter as the converter's multi-line DDL
  pass — INSERT statements are skipped at their first line, without
  decoding — and reuses
  :func:`..mysqldump.parse_create_table`: the same grammar, bug fixes,
  and type mapping as the CLI path.
* **Same parse core.** Statements become final-typed Arrow batches in
  :func:`..mysqldump.parse_statements`, the function the converter's
  one-pass task and per-table fallback call: the Arrow-CSV fast path,
  the exhaustive tokenizer, identical C1–C3 semantics (loud on mismatch,
  int→float widening, exact DECIMAL digits).
"""

from __future__ import annotations

import glob as globlib
import os

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    InputPartition,
    WriterCommitMessage,
)

from .mysqldump import (
    _DDL,
    DumpParseError,
    _carve_ranges,
    _offsets_and_data,
    _range_statements,
    _table_batches,
    _text,
    parse_create_table,
)

#: Default byte-range size for splitting plain .sql files.
DEFAULT_SPLIT_MB = 32


class _Range(InputPartition):
    """One byte range of one file.  ``end == -1`` → the whole file,
    streamed (compressed members)."""

    def __init__(self, path: str, start: int, end: int):
        self.path = path
        self.start = start
        self.end = end


def _table_schema(paths: list[str], table: str) -> T.StructType:
    """The first CREATE TABLE for ``table`` in ``paths``, streamed in
    order: mysqldump writes each table's DDL just before its data, so it
    can sit anywhere in the dump."""
    for path in paths:
        for stmt in _range_statements(path, 0, -1, (_DDL,)):
            if stmt.startswith(b"CREATE TABLE"):
                parsed = parse_create_table(_text(stmt))
                if parsed.table == table:
                    return parsed.schema
    raise DumpParseError(
        f"{paths[0]}: no CREATE TABLE for {table!r} found — pass the "
        "table's schema with .schema(...) to read a dump without its DDL"
    )


class MysqldumpReader(DataSourceReader):
    """Splittable dump reader emitting Arrow ``RecordBatch``es: each
    range's statements for the table go through
    :func:`..mysqldump.parse_statements` in groups, so a batch crosses
    into the JVM without per-row Python objects unless a statement needs
    the exhaustive tokenizer."""

    def __init__(self, schema: T.StructType, options: dict):
        self._schema = schema
        self._table = options["table"].lower()
        self._paths = sorted(globlib.glob(options["path"])) or [options["path"]]
        self._split_bytes = (
            int(options.get("split_mb", DEFAULT_SPLIT_MB)) * 1024 * 1024
        )

    def partitions(self):
        files = [(p, os.path.getsize(p)) for p in self._paths]
        return [_Range(*r) for r in _carve_ranges(files, self._split_bytes)]

    def read(self, part: _Range):
        stmts = _range_statements(
            part.path, part.start, part.end, (self._table,)
        )
        yield from _table_batches(stmts, self._table, self._schema)


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
    reader's schema scan finds it at once).  Each task writes independently —
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
        return _table_schema(sorted(globlib.glob(path)) or [path], table)

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
