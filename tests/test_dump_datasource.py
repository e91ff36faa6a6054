"""format("mysqldump") Python DataSource: schema from DDL, split byte-range
reads that parse every row exactly once, value parity with the bulk
convert_dump pipeline, and loud errors on misuse."""

from __future__ import annotations

import gzip
import sys
from datetime import date, datetime
from decimal import Decimal

import pytest

from mysqldump_to_parquet_spark.sources.dump_datasource import (
    MysqldumpDataSource,
)
from mysqldump_to_parquet_spark.sources.mysqldump import DEMO_DUMP, DumpParseError

pytestmark = pytest.mark.usefixtures("spark")


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(MysqldumpDataSource)
    return spark


def _demo_df(spark, path):
    return (
        spark.read.format("mysqldump")
        .option("path", str(path))
        .option("table", "acct")
        .load()
    )


def test_schema_comes_from_ddl(registered, tmp_path):
    p = tmp_path / "demo.sql"
    p.write_text(DEMO_DUMP)
    df = _demo_df(registered, p)
    assert [f.name for f in df.schema.fields] == [
        "id", "name", "balance", "ratio", "active", "created", "birthday",
    ]
    kinds = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert kinds["balance"] == "decimal(12,2)"  # reference bug fix: not double
    assert kinds["active"] == "boolean"
    assert kinds["created"] == "timestamp"
    assert kinds["birthday"] == "date"


def test_values_match_reference_semantics(registered, tmp_path):
    p = tmp_path / "demo.sql"
    p.write_text(DEMO_DUMP)
    rows = {r.id: r for r in _demo_df(registered, p).collect()}
    assert rows[1].balance == Decimal("120.50")
    assert rows[1].ratio == 0.25
    assert rows[1].active is True
    assert rows[1].created == datetime(2024, 1, 2, 3, 4, 5)
    assert rows[1].birthday == date(1990, 5, 6)
    assert rows[2].balance is None and rows[2].ratio == -1.5
    assert rows[2].active is False
    assert rows[3].name == "carol's"


def test_split_ranges_parse_each_row_exactly_once(registered, tmp_path):
    """Many INSERT lines + a sub-line split size: every byte-range boundary
    lands mid-line somewhere, and the ownership rule must still parse each
    statement exactly once."""
    n = 30_000
    pad = "x" * 40  # ~100 B/line → ~3 MB file → 4 ranges at split_mb=1
    lines = [
        "CREATE TABLE `t` (`k` bigint NOT NULL, `v` varchar(80));",
    ]
    for i in range(n):
        lines.append(
            f"INSERT INTO `t` VALUES ({i},'{pad}'),({i + n},'{pad}');"
        )
    p = tmp_path / "many.sql"
    p.write_text("\n".join(lines) + "\n")
    df = (
        registered.read.format("mysqldump")
        .option("path", str(p))
        .option("table", "t")
        .option("split_mb", 1)
        .load()
    )
    assert df.rdd.getNumPartitions() > 1  # the file actually split
    got = sorted(r.k for r in df.collect())
    assert got == list(range(2 * n))  # every row exactly once


def test_gz_single_partition_still_correct(registered, tmp_path):
    p = tmp_path / "demo.sql.gz"
    with gzip.open(p, "wt") as fh:
        fh.write(DEMO_DUMP)
    assert sorted(r.id for r in _demo_df(registered, p).collect()) == [1, 2, 3]


@pytest.mark.parametrize("ext", ["bz2", "xz", "zst"])
def test_compressed_member_single_partition_still_correct(
    registered, tmp_path, ext
):
    """The datasource decodes every converter-supported compression
    Python-side inside tasks — including .xz, which the JVM text scan
    cannot read (r12: reference parity is .gz only, main.rs:41–47)."""
    import lzma

    import pyarrow as pa

    p = tmp_path / f"demo.sql.{ext}"
    if ext == "xz":
        with lzma.open(p, "wt") as fh:
            fh.write(DEMO_DUMP)
    else:
        codec = {"bz2": "bz2", "zst": "zstd"}[ext]
        with pa.output_stream(str(p), compression=codec) as fh:
            fh.write(DEMO_DUMP.encode())
    assert sorted(r.id for r in _demo_df(registered, p).collect()) == [1, 2, 3]


def test_missing_table_or_option_fails_loudly(registered, tmp_path):
    p = tmp_path / "demo.sql"
    p.write_text(DEMO_DUMP)
    with pytest.raises(Exception, match="no CREATE TABLE for 'absent'"):
        (
            registered.read.format("mysqldump")
            .option("path", str(p))
            .option("table", "absent")
            .load()
            .collect()
        )
    with pytest.raises(Exception, match="requires .option"):
        registered.read.format("mysqldump").option("path", str(p)).load().collect()


def test_write_then_read_round_trip(registered, tmp_path):
    """df → format('mysqldump') write → read back: identical rows,
    through every literal kind (decimal, double, bool, timestamp, date,
    NULL, quoted string)."""
    src = tmp_path / "demo.sql"
    src.write_text(DEMO_DUMP)
    orig = _demo_df(registered, src)
    out = str(tmp_path / "export")
    (
        orig.write.format("mysqldump")
        .option("path", out)
        .option("table", "acct")
        .mode("append")
        .save()
    )
    import os

    names = sorted(os.listdir(out))
    assert names[0] == "00-schema.sql"  # DDL first for the reader's scan
    assert any(n.startswith("part-") and n.endswith(".sql") for n in names)
    back = (
        registered.read.format("mysqldump")
        .option("path", f"{out}/*.sql")
        .option("table", "acct")
        .load()
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, orig.collect()))


def test_write_real_table_round_trip(registered, tmp_path):
    """orders (bigint/string/double/timestamp) survives the dump export
    byte-exactly, across multiple writer tasks."""
    from mysqldump_to_parquet_spark.catalog import load_table

    orders = load_table(registered, "/root/testdata/sf0.001", "orders")
    out = str(tmp_path / "orders_dump")
    (
        orders.repartition(4)  # >1 writer task → >1 part file
        .write.format("mysqldump")
        .option("path", out)
        .option("table", "orders")
        .mode("append")
        .save()
    )
    back = (
        registered.read.format("mysqldump")
        .option("path", f"{out}/*.sql")
        .option("table", "orders")
        .load()
    )
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, orders.collect())
    )


def test_write_escapes_hostile_strings(registered, tmp_path):
    """Strings with newlines / quotes / backslashes / tabs must survive
    the export round trip — an unescaped newline would break the
    one-statement-per-line contract the splittable reader depends on."""
    hostile = [
        (1, "line1\nline2"),
        (2, "quote'quote"),
        (3, "back\\slash"),
        (4, "cr\rlf\ntab\there"),
        (5, "plain"),
    ]
    df = registered.createDataFrame(hostile, "k long, v string")
    out = str(tmp_path / "hostile")
    (
        df.write.format("mysqldump")
        .option("path", out)
        .option("table", "h")
        .mode("append")
        .save()
    )
    back = (
        registered.read.format("mysqldump")
        .option("path", f"{out}/*.sql")
        .option("table", "h")
        .load()
    )
    assert sorted(map(tuple, back.collect())) == sorted(hostile)


def test_split_boundary_exactly_on_newline(tmp_path):
    """ADVICE regression: a line starting exactly at a split offset must be
    read by the range that owns it.  The old reader discarded its first
    line unconditionally while the previous range's strict tell() < end
    check had already excluded it — the statement vanished from both."""
    from mysqldump_to_parquet_spark.sources.dump_datasource import (
        MysqldumpReader,
        _Range,
    )
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    lines = [
        "INSERT INTO `t` VALUES (1,'a');\n",
        "INSERT INTO `t` VALUES (2,'b');\n",
        "INSERT INTO `t` VALUES (3,'c');\n",
    ]
    p = tmp_path / "exact.sql"
    p.write_text("".join(lines))
    # boundary precisely at the start of line 2
    cut = len(lines[0].encode())
    size = len("".join(lines).encode())
    def col0(out):
        # the reader yields Arrow RecordBatches (tuples only for schemas
        # with no Arrow mapping)
        vals = []
        for item in out:
            if hasattr(item, "column"):
                vals.extend(item.column(0).to_pylist())
            else:
                vals.append(item[0])
        return vals

    reader = MysqldumpReader(schema, {"table": "t", "path": str(p)})
    r1 = col0(reader.read(_Range(str(p), 0, cut)))
    r2 = col0(reader.read(_Range(str(p), cut, size)))
    assert r1 == [1]
    assert r2 == [2, 3], "line starting exactly at the split offset was lost"
    # and a mid-line boundary still assigns the straddling line to its owner
    r1 = col0(reader.read(_Range(str(p), 0, cut + 5)))
    r2 = col0(reader.read(_Range(str(p), cut + 5, size)))
    assert r1 == [1, 2] and r2 == [3]


def test_split_boundary_on_newline_full_read(registered, tmp_path):
    """End-to-end variant: craft fixed-width lines so the 1 MB split offset
    lands exactly on a line start, then check every row arrives once."""
    width = 64
    head = "CREATE TABLE `t` (`k` bigint NOT NULL, `v` varchar(80));"
    assert len(head) + 1 == width or True
    lines = [head.ljust(width - 1) + "\n"]
    n = (2 * 1024 * 1024) // width  # 2 MB → boundary at 1 MB on a line edge
    for i in range(n):
        stmt = f"INSERT INTO `t` VALUES ({i},'x');"
        lines.append(stmt.ljust(width - 1) + "\n")
    p = tmp_path / "aligned.sql"
    p.write_text("".join(lines))
    assert (1024 * 1024) % width == 0  # a line truly starts at the offset
    df = (
        registered.read.format("mysqldump")
        .option("path", str(p))
        .option("table", "t")
        .option("split_mb", 1)
        .load()
    )
    assert df.rdd.getNumPartitions() > 1
    got = sorted(r.k for r in df.collect())
    assert got == list(range(n))


def test_write_overwrite_removes_stale_parts(registered, tmp_path):
    """ADVICE regression: mode('overwrite') must not leave part files from
    a previous write merged into a later read."""
    out = str(tmp_path / "ow")
    df1 = registered.createDataFrame([(1, "old"), (2, "old")], "k long, v string")
    df2 = registered.createDataFrame([(10, "new")], "k long, v string")
    for df, mode in ((df1, "append"), (df2, "overwrite")):
        (
            df.write.format("mysqldump")
            .option("path", out)
            .option("table", "t")
            .mode(mode)
            .save()
        )
    back = (
        registered.read.format("mysqldump")
        .option("path", f"{out}/*.sql")
        .option("table", "t")
        .load()
    )
    assert sorted(map(tuple, back.collect())) == [(10, "new")]


def test_write_nonfinite_float_fails_at_export(registered, tmp_path):
    """ADVICE regression: inf/nan doubles have no dump literal — the writer
    must fail loudly at export instead of emitting a file the reader
    rejects later."""
    df = registered.createDataFrame(
        [(1, float("inf")), (2, 1.5)], "k long, v double"
    )
    with pytest.raises(Exception, match="non-finite"):
        (
            df.write.format("mysqldump")
            .option("path", str(tmp_path / "nf"))
            .option("table", "t")
            .mode("append")
            .save()
        )


def test_datasource_shares_hardened_parser_paths(registered, tmp_path):
    """Round-2 advisory regressions through the DataSource entry point:
    the reader must route through the same hardened parse code as the
    bulk convert_dump pipeline (escaped quote before ')' in DDL, quoted
    option-keyword literals, a table named with a VALUES prefix, hostile
    keyword strings inside data, hex-blob literals)."""
    dump = tmp_path / "hardened.sql"
    dump.write_text(
        "CREATE TABLE `values_log` ("
        "`id` bigint NOT NULL, "
        "`a` varchar(20) DEFAULT 'don\\'t)', "
        "`b` varchar(40) DEFAULT 'null' COMMENT 'not null soon', "
        "`payload` blob);\n"
        "INSERT INTO `values_log` VALUES "
        "(1, 'x', 'INSERT INTO `t` VALUES (9);', 0x4142), "
        "(2, ');', NULL, NULL);\n"
    )
    df = (
        registered.read.format("mysqldump")
        .option("path", str(dump))
        .option("table", "values_log")
        .load()
    )
    assert [f.name for f in df.schema.fields] == ["id", "a", "b", "payload"]
    by_name = {f.name: f for f in df.schema.fields}
    assert by_name["b"].nullable is True  # comment text didn't flip it
    rows = {r.id: r for r in df.collect()}
    assert rows[1].a == "x"
    assert rows[1].b == "INSERT INTO `t` VALUES (9);"
    assert bytes(rows[1].payload) == b"AB"
    assert rows[2].a == ");" and rows[2].b is None and rows[2].payload is None


def test_arrow_writer_selected_and_roundtrips_types(registered, spark, tmp_path):
    """Every schema, binary included, uses the vectorized Arrow writer;
    its literals (escaped strings, always-microsecond timestamps, exact
    decimals, shortest-repr floats) reparse to identical values."""
    import datetime
    from decimal import Decimal

    from pyspark.sql import types as T
    from pyspark.sql.datasource import DataSourceArrowWriter

    from mysqldump_to_parquet_spark.sources.dump_datasource import (
        MysqldumpDataSource,
    )

    ds = MysqldumpDataSource({"path": str(tmp_path / "o"), "table": "t"})
    sch_plain = T.StructType([T.StructField("s", T.StringType())])
    sch_bin = T.StructType([T.StructField("b", T.BinaryType())])
    assert isinstance(ds.writer(sch_plain, True), DataSourceArrowWriter)
    assert isinstance(ds.writer(sch_bin, True), DataSourceArrowWriter)

    df = spark.createDataFrame(
        [
            (1, "it's\na\\path", 0.1, Decimal("12345678.90"), None,
             datetime.datetime(2024, 1, 2, 3, 4, 5, 123456)),
            (2, None, 1e-7, None, True,
             datetime.datetime(2024, 1, 2, 3, 4, 5)),
        ],
        "id long, s string, d double, dec decimal(12,2), ok boolean,"
        " ts timestamp",
    )
    out = str(tmp_path / "rt")
    df.write.format("mysqldump").option("table", "t").mode(
        "overwrite"
    ).save(out)
    back = (
        spark.read.format("mysqldump")
        .option("path", f"{out}/*.sql")
        .option("table", "t")
        .load()
    )
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, df.collect())
    )


def test_arrow_writer_randomized_roundtrip(registered, spark, tmp_path):
    """Randomized export → read round-trip through BOTH Arrow paths:
    strings with quotes/backslashes/newlines/CR/NUL/unicode, extreme and
    subnormal doubles, negative decimals, microsecond timestamps, and
    nulls in every column must come back value-exact."""
    import datetime
    import random
    from decimal import Decimal

    rng = random.Random(99)
    alphabet = ["a", "'", "\\", "\n", "\r", "\0", "é", "中", ",", "(", ")",
                " ", "NULL", "0x41"]

    def rand_str():
        return "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 8)))

    rows = []
    for i in range(300):
        rows.append(
            (
                i,
                None if rng.random() < 0.1 else rand_str(),
                None if rng.random() < 0.1 else rng.choice(
                    [0.0, -0.0, 1e-300, -1e300, 5e-324, 0.1 * i, float(i)]
                ),
                None if rng.random() < 0.1 else Decimal(
                    f"{rng.randint(-10**9, 10**9)}.{rng.randint(0, 99):02d}"
                ),
                None if rng.random() < 0.1 else bool(i % 2),
                None if rng.random() < 0.1 else datetime.datetime(
                    2024, 1 + i % 12, 1 + i % 28, i % 24, i % 60, i % 60,
                    rng.choice([0, 1, 999999, 123456]),
                ),
            )
        )
    df = spark.createDataFrame(
        rows,
        "id long, s string, d double, dec decimal(12,2), ok boolean,"
        " ts timestamp",
    )
    out = str(tmp_path / "rt")
    df.write.format("mysqldump").option("table", "r").mode("overwrite").save(out)
    back = (
        spark.read.format("mysqldump")
        .option("path", f"{out}/*.sql")
        .option("table", "r")
        .load()
    )
    a = {r[0]: tuple(r) for r in df.collect()}
    b = {r[0]: tuple(r) for r in back.collect()}
    assert set(a) == set(b)
    mismatches = [(a[k], b[k]) for k in a if a[k] != b[k]]
    assert not mismatches, mismatches[:3]


def test_bit_and_spatial_through_datasource(registered, tmp_path):
    """BIT and geometry support lives in the shared parser/coercion
    (mysqldump.py), so format("mysqldump") reads them identically: bit
    literals as integers, WKB payloads as binary."""
    p = tmp_path / "geo.sql"
    p.write_text(
        "CREATE TABLE `g` (`id` int, `mask` bit(8), `loc` point);\n"
        "INSERT INTO `g` VALUES (1,b'11',0xCAFE),(2,0x05,NULL);\n"
    )
    df = (
        registered.read.format("mysqldump")
        .option("path", str(p))
        .option("table", "g")
        .load()
    )
    got = {
        r.id: (r.mask, bytes(r.loc) if r.loc is not None else None)
        for r in df.collect()
    }
    assert got == {1: (3, b"\xca\xfe"), 2: (5, None)}


def test_binary_export_round_trip(registered, spark, tmp_path):
    """Binary columns export as ``0x…`` hex through the Arrow writer
    (empty bytes as ``''``) and read back byte-exact: NUL, quote,
    backslash and newline bytes, every byte value, empty values and
    NULLs."""
    rows = [
        (1, b"\x00'\\\n", b"a"),
        (2, b"", None),
        (3, None, b""),
        (4, bytes(range(256)), b"0x41"),
    ]
    df = spark.createDataFrame(rows, "id long, p binary, q binary")
    out = str(tmp_path / "bin")
    df.write.format("mysqldump").option("table", "bin").mode(
        "overwrite"
    ).save(out)
    back = (
        spark.read.format("mysqldump")
        .option("path", f"{out}/*.sql")
        .option("table", "bin")
        .load()
    )

    def as_bytes(v):
        return None if v is None else bytes(v)

    got = sorted((r.id, as_bytes(r.p), as_bytes(r.q)) for r in back.collect())
    assert got == rows


MULTILINE_DUMP = (
    "CREATE TABLE `t` (`id` int NOT NULL, `v` varchar(8));\n"
    "INSERT INTO `t` VALUES\n(1,'a'),\n(2,'b'),\n(3,'c');\n"
)


@pytest.mark.parametrize("ext", ["sql", "sql.gz"])
def test_multiline_dump_reads_like_convert(registered, tmp_path, ext):
    """An INSERT spread over lines (no --extended-insert) reads through
    format("mysqldump") exactly as convert_dump converts it: the reader
    and the converter share one statement source and one parse core."""
    from mysqldump_to_parquet_spark.sources.mysqldump import convert_dump

    p = tmp_path / f"ml.{ext}"
    if ext.endswith(".gz"):
        with gzip.open(p, "wt") as fh:
            fh.write(MULTILINE_DUMP)
    else:
        p.write_text(MULTILINE_DUMP)
    got = sorted(
        map(
            tuple,
            registered.read.format("mysqldump")
            .option("path", str(p))
            .option("table", "t")
            .load()
            .collect(),
        )
    )
    assert convert_dump(registered, str(p), str(tmp_path / "out")) == {"t": 3}
    want = sorted(
        map(tuple, registered.read.parquet(str(tmp_path / "out/t")).collect())
    )
    assert got == want == [(1, "a"), (2, "b"), (3, "c")]


@pytest.mark.parametrize("layout", ["one-line", "multi-line"])
def test_invalid_utf8_reads_alike_on_every_route(registered, tmp_path, layout):
    """One decode policy: a VARCHAR byte that is not UTF-8 reads as
    U+FFFD through the one-pass convert, the per-table fallback and the
    reader, in both layouts; the same byte in a BLOB dumped without
    --hex-blob fails each of them with the hex-blob hint."""
    from mysqldump_to_parquet_spark.sources.mysqldump import convert_dump

    sep = b" " if layout == "one-line" else b"\n"

    def dump(table: str, sql_type: str) -> str:
        p = tmp_path / f"{table}.sql"
        p.write_bytes(
            f"CREATE TABLE `{table}` (`id` int, `v` {sql_type});\n".encode()
            + f"INSERT INTO `{table}` VALUES".encode()
            + sep + b"(1,'a\xffb')," + sep + b"(2,'c');\n"
        )
        return str(p)

    def routes(path: str, table: str) -> dict:
        def convert(out: str):
            def run():
                convert_dump(registered, path, out)
                return registered.read.parquet(f"{out}/{table}").collect()

            return run

        return {
            "one-pass": convert(str(tmp_path / f"{table}_onepass")),
            "per-table": convert(f"file://{tmp_path}/{table}_per_table"),
            "reader": lambda: registered.read.format("mysqldump")
            .option("path", path)
            .option("table", table)
            .load()
            .collect(),
        }

    for route, run in routes(dump("t", "varchar(8)"), "t").items():
        assert sorted(map(tuple, run())) == [(1, "a\ufffdb"), (2, "c")], route
    for route, run in routes(dump("b", "blob"), "b").items():
        with pytest.raises(Exception, match=r"DumpParseError: b\.v: .*hex-blob"):
            run()


def test_schema_found_past_64_mib_of_other_inserts(tmp_path):
    """mysqldump writes each table's DDL just before its data, so a
    table's CREATE TABLE can sit far into the dump: schema() finds it
    past 64 MiB of another table's INSERT lines (a few long lines keep
    the fixture fast)."""
    stmt = "INSERT INTO `other` VALUES " + "(1,'x')," * (3 << 20) + "(2,'y');\n"
    p = tmp_path / "late_ddl.sql"
    with open(p, "w") as fh:
        fh.write("CREATE TABLE `other` (`id` int, `v` varchar(4));\n")
        for _ in range(3):
            fh.write(stmt)
        assert fh.tell() > 64 * 1024 * 1024
        fh.write("CREATE TABLE `late` (`id` bigint NOT NULL, `s` text);\n")
        fh.write("INSERT INTO `late` VALUES (1,'a');\n")
    schema = MysqldumpDataSource({"path": str(p), "table": "late"}).schema()
    assert [(f.name, f.dataType.simpleString(), f.nullable) for f in schema] == [
        ("id", "bigint", False),
        ("s", "string", True),
    ]
    with pytest.raises(DumpParseError, match=r"\.schema\("):
        MysqldumpDataSource({"path": str(p), "table": "absent"}).schema()


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13 re-reads zip directories lazily"
)
def test_package_import_installs_zip_stamps_in_workers(spark):
    """A Python task that references a package helper imports the package
    in its worker, and with it the engine's zipimporter.invalidate_caches
    (Spark calls importlib.invalidate_caches() on every task)."""
    import zipimport

    import pyarrow as pa

    from mysqldump_to_parquet_spark.zipimport_stamps import invalidate_caches

    def probe(batches):
        for _ in batches:
            pass
        installed = zipimport.zipimporter.invalidate_caches is invalidate_caches
        yield pa.RecordBatch.from_pydict({"installed": [installed]})

    row = spark.range(1).mapInArrow(probe, "installed boolean").first()
    assert row.installed
