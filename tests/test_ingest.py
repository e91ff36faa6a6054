"""Ingest unit tests — ports of the reference's three inline test modules
(FIXTURES.md §A; /root/reference/src/main.rs:183–218,
src/line_parser.rs:287–397) plus the dump→Parquet→read round-trip the
reference lacks (its writer path has zero tests, SURVEY.md §5)."""

from __future__ import annotations

import datetime
import sys
from decimal import Decimal

import pytest
from pyspark.sql import types as T

from mysqldump_to_parquet_spark.sources.mysqldump import (
    DEMO_DUMP,
    DumpParseError,
    cleanup_key,
    convert_dump,
    iter_statements,
    parse_create_table,
    parse_insert,
    parse_insert_full,
)


# ---------------------------------------------------------------- cleanup_key
# Cases from /root/reference/src/main.rs:188–216.
@pytest.mark.parametrize(
    "src,expected",
    [
        ("KEY `i` (`facebookConnectId`)", "KEY `i` (`facebookConnectId`)"),
        ("KEY `i` (`facebookConnectId`(144))", "KEY `i` (`facebookConnectId`)"),
        ("KEY `i` (`c`(144),`plop`)", "KEY `i` (`c`,`plop`)"),
        ("KEY `i` (`c`(144),`plop`(12))", "KEY `i` (`c`,`plop`)"),
        ("KEY `i` (`c`,`plop`(12))", "KEY `i` (`c`,`plop`)"),
        ("FOREIGN KEY (`c`)", "FOREIGN KEY (`c`)"),
        ("FOREIGN KEY (`c`(144))", "FOREIGN KEY (`c`)"),
    ],
)
def test_cleanup_key(src, expected):
    assert cleanup_key(src.encode()) == expected.encode()


# ------------------------------------------------------------- INSERT parsing
# Fixture from /root/reference/src/line_parser.rs:287–329.
def test_parse_insert_multirow():
    stmt = (
        "INSERT INTO `user` VALUES (1, 'foobar', NULL, '2012-01-02 12:55:22', 0),"
        " (1, 'foobar', NULL, '2012-01-02 12:55:22', 0),"
        " (1, 'foobar', NULL, '2012-01-02 12:55:22', 0),"
        " (1, 'foobar', NULL, '2012-01-02 12:55:22', -123);"
    )
    table, rows = parse_insert(stmt)
    assert table == "user"
    assert len(rows) == 4
    assert rows[0] == (1, "foobar", None, "2012-01-02 12:55:22", 0)
    assert rows[3][-1] == -123


def test_parse_insert_escapes_and_types():
    stmt = (
        "INSERT INTO t VALUES "
        "(1.5, -2.75, 'it''s', 'a\\'b', 'x\\ny', TRUE, FALSE, NULL, 1e3);"
    )
    _, rows = parse_insert(stmt)
    assert rows[0] == (1.5, -2.75, "it's", "a'b", "x\ny", True, False, None, 1000.0)
    assert isinstance(rows[0][0], float) and isinstance(rows[0][8], float)


def test_parse_insert_rejects_garbage():
    with pytest.raises(DumpParseError):
        parse_insert("INSERT INTO t VALUES (NOW());")


# ----------------------------------------------------------------- DDL → schema
# Fixture from /root/reference/src/line_parser.rs:330–397 (FIXTURES.md §A1).
USER_DDL = """CREATE TABLE `user` (
  `id` bigint NOT NULL,
  `shortName` varchar(255) CHARACTER SET utf8mb3 COLLATE utf8mb3_bin NOT NULL,
  `avatarUuid` varchar(36) CHARACTER SET utf8mb3 COLLATE utf8mb3_bin DEFAULT NULL,
  `registrationDate` timestamp NOT NULL DEFAULT CURRENT_TIMESTAMP,
  `premiumExpirationDate` timestamp NULL DEFAULT NULL,
  `excluded` tinyint(1) NOT NULL DEFAULT '0',
  `company_lid` bigint DEFAULT NULL,
  PRIMARY KEY (`lid`),
  UNIQUE KEY `email_index` (`email`),
  KEY `name_index` (`shortName`),
  CONSTRAINT `user_ibfk_1` FOREIGN KEY (`company_lid`) REFERENCES `company` (`lid`)
) ENGINE=InnoDB DEFAULT CHARSET=utf8mb3 COLLATE=utf8mb3_bin;"""


def test_parse_create_table_reference_fixture():
    ts = parse_create_table(" ".join(l.strip() for l in USER_DDL.splitlines()))
    assert ts.table == "user"
    expected = [
        ("id", T.LongType(), False),
        ("shortname", T.StringType(), False),
        ("avataruuid", T.StringType(), True),
        ("registrationdate", T.TimestampType(), False),
        ("premiumexpirationdate", T.TimestampType(), True),
        ("excluded", T.LongType(), False),
        ("company_lid", T.LongType(), True),
    ]
    got = [(f.name, f.dataType, f.nullable) for f in ts.schema.fields]
    assert got == expected


def test_parse_create_table_type_fixes():
    """The three reference bugs we fix (SURVEY.md §1.2 bugs 1–3)."""
    ts = parse_create_table(
        "CREATE TABLE `t` (`d` decimal(12,2) DEFAULT NULL, `b` boolean NOT NULL, "
        "`dt` date DEFAULT NULL, `pk` int NOT NULL, PRIMARY KEY (`pk`));"
    )
    types = {f.name: (f.dataType, f.nullable) for f in ts.schema.fields}
    assert types["d"] == (T.DecimalType(12, 2), True)
    assert types["b"] == (T.BooleanType(), False)
    assert types["dt"] == (T.DateType(), True)
    assert types["pk"] == (T.LongType(), False)  # table-level PK → NOT NULL


def test_parse_create_table_unknown_type_errors():
    # geometry became a supported (binary) type in round 5b — use a
    # genuinely unknown type to keep the fail-loud contract pinned
    with pytest.raises(DumpParseError, match="t.x"):
        parse_create_table("CREATE TABLE t (`x` frobnicator);")


# ------------------------------------------------------- statement reassembly
def test_iter_statements_filters_and_reassembles():
    lines = DEMO_DUMP.encode().splitlines()
    stmts = list(iter_statements(lines))
    # DROP/LOCK/UNLOCK/SET/comments all filtered (main.rs:136–142)
    assert len(stmts) == 2
    assert stmts[0].startswith(b"CREATE TABLE `acct`")
    assert b"(`name`)" in stmts[0]  # prefix length (64) stripped by cleanup_key
    assert stmts[1].startswith(b"INSERT INTO `acct`")


# ---------------------------------------------------------- compression spec
def test_parse_compression_specs():
    """codec[:level] parsing: plain codecs pass through, zstd/gzip take
    levels, level on a level-less codec fails loudly (never silently
    dropped), garbage levels fail loudly."""
    from mysqldump_to_parquet_spark.sources.mysqldump import (
        parse_compression,
    )

    assert parse_compression("snappy") == ("snappy", None)
    assert parse_compression("zstd") == ("zstd", None)
    assert parse_compression("zstd:1") == ("zstd", 1)
    assert parse_compression("ZSTD:3") == ("zstd", 3)
    assert parse_compression("gzip:6") == ("gzip", 6)
    with pytest.raises(ValueError, match="does not take a level"):
        parse_compression("snappy:3")
    with pytest.raises(ValueError, match="bad compression level"):
        parse_compression("zstd:fast")


def test_dump_roundtrip_zstd_level(spark, tmp_path):
    """convert_dump with a level-bearing codec spec writes REAL zstd
    parquet (codec recorded in the column-chunk metadata) with values
    identical to the snappy output."""
    import glob

    import pyarrow.parquet as pq

    dump = tmp_path / "demo.sql"
    dump.write_text(DEMO_DUMP)
    counts = convert_dump(
        spark, str(dump), str(tmp_path / "outz"), compression="zstd:3"
    )
    assert counts == {"acct": 3}
    files = glob.glob(str(tmp_path / "outz" / "acct" / "*.parquet"))
    assert files
    md = pq.ParquetFile(files[0]).metadata
    codecs = {
        md.row_group(rg).column(c).compression
        for rg in range(md.num_row_groups)
        for c in range(md.num_columns)
    }
    assert codecs == {"ZSTD"}

    convert_dump(spark, str(dump), str(tmp_path / "outs"))
    a = spark.read.parquet(str(tmp_path / "outz" / "acct")).orderBy("id")
    b = spark.read.parquet(str(tmp_path / "outs" / "acct")).orderBy("id")
    assert a.collect() == b.collect()

    # the level rides the WRITE, never the session-global Hadoop conf
    # (ADVICE r11: two convert_dump calls racing on one session could
    # cross-apply levels when the level went through hconf.set)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("parquet.compression.codec.zstd.level") is None


def test_zstd_level_option_is_per_write_and_wins(spark, tmp_path):
    """The parquet writer option `parquet.compression.codec.zstd.level`
    is honored per-write AND overrides a session-global setting — the
    mechanism convert_dump relies on (probed empirically r12: Spark file
    sinks build the job conf via newHadoopConfWithOptions, copying
    writer options over the session conf)."""
    import glob
    import os

    from pyspark.sql import functions as F

    df = spark.range(150_000).select(
        F.concat(
            F.sha2(F.col("id").cast("string"), 256),
            F.repeat(F.sha2((F.col("id") % 13).cast("string"), 224), 3),
        ).alias("s")
    )

    def size(path, level):
        df.coalesce(1).write.mode("overwrite").option(
            "parquet.compression.codec.zstd.level", str(level)
        ).parquet(path, compression="zstd")
        return sum(
            os.path.getsize(f) for f in glob.glob(path + "/*.parquet")
        )

    lo = size(str(tmp_path / "l1"), 1)
    hi = size(str(tmp_path / "l19"), 19)
    # deterministic input + codec: different levels produce different
    # bytes iff the option reached the encoder (which level wins on
    # size is input-dependent at this scale — don't pin the direction)
    assert hi != lo

    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set("parquet.compression.codec.zstd.level", "19")
    try:
        mixed = size(str(tmp_path / "g19o1"), 1)
    finally:
        hconf.unset("parquet.compression.codec.zstd.level")
    assert mixed == lo  # per-write option wins over the global


# ------------------------------------------------------------- round-trip (A4)
def test_dump_roundtrip(spark, tmp_path):
    dump = tmp_path / "demo.sql"
    dump.write_text(DEMO_DUMP)
    counts = convert_dump(spark, str(dump), str(tmp_path / "out"))
    assert counts == {"acct": 3}

    df = spark.read.parquet(str(tmp_path / "out" / "acct")).orderBy("id")
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "bigint", "string", "decimal(12,2)", "double", "boolean", "timestamp", "date",
    ]
    rows = df.collect()
    assert rows[0].name == "alice"
    assert rows[0].balance == Decimal("120.50")
    assert rows[0].active is True
    assert rows[0].created == datetime.datetime(2024, 1, 2, 3, 4, 5)
    assert rows[0].birthday == datetime.date(1990, 5, 6)
    assert rows[1].balance is None and rows[1].ratio == -1.5 and rows[1].active is False
    assert rows[2].name == "carol's"
    # int literal 2 widened to double (C2, parquet_writer.rs:162)
    assert rows[2].ratio == 2.0 and isinstance(rows[2].ratio, float)
    assert rows[2].created is None


def test_multi_file_dump_glob(spark, tmp_path):
    """Many dump files via glob — the parallelism unit at 100 TB (each
    gzip/file is one task; tables may span files)."""
    (tmp_path / "d1.sql").write_text(DEMO_DUMP)
    (tmp_path / "d2.sql").write_text(
        "CREATE TABLE `tag` (`id` int NOT NULL, `label` varchar(10));\n"
        "INSERT INTO `tag` VALUES (1,'a'),(2,'b');\n"
        "INSERT INTO `acct` VALUES (9,'dora',1.00,0.5,1,'2024-03-01 00:00:00',NULL);\n"
    )
    counts = convert_dump(spark, str(tmp_path / "*.sql"), str(tmp_path / "out"))
    # acct rows come from BOTH files; tag only from d2
    assert counts == {"acct": 4, "tag": 2}


def test_decimal_precision_preserved(spark, tmp_path):
    """DECIMAL values beyond double precision survive exactly (code-review
    fix: FloatLit carries the dump's source text to the cast)."""
    dump = tmp_path / "big.sql"
    dump.write_text(
        "CREATE TABLE `w` (`id` int NOT NULL, `amt` decimal(30,10));\n"
        "INSERT INTO `w` VALUES (1, 12345678901234567.0123456789),"
        "(2, -0.0000000001);\n"
    )
    convert_dump(spark, str(dump), str(tmp_path / "out"))
    rows = {r.id: r.amt for r in spark.read.parquet(str(tmp_path / "out/w")).collect()}
    assert rows[1] == Decimal("12345678901234567.0123456789")
    assert rows[2] == Decimal("-0.0000000001")


def test_unsigned_bigint_full_range(spark, tmp_path):
    dump = tmp_path / "u.sql"
    dump.write_text(
        "CREATE TABLE `u` (`id` bigint unsigned NOT NULL);\n"
        "INSERT INTO `u` VALUES (18446744073709551615),(0);\n"
    )
    convert_dump(spark, str(dump), str(tmp_path / "out"))
    got = sorted(int(r.id) for r in spark.read.parquet(str(tmp_path / "out/u")).collect())
    assert got == [0, 18446744073709551615]


def test_malformed_timestamp_fails_loudly(spark, tmp_path):
    """C3 contract: a non-NULL uncastable value raises, never silent NULL."""
    dump = tmp_path / "bad.sql"
    dump.write_text(
        "CREATE TABLE `b` (`id` int, `ts` timestamp NULL);\n"
        "INSERT INTO `b` VALUES (1, 'not-a-date');\n"
    )
    with pytest.raises(Exception, match="cannot cast ts"):
        convert_dump(spark, str(dump), str(tmp_path / "out"))


def test_fractional_second_timestamps(spark, tmp_path):
    dump = tmp_path / "f.sql"
    dump.write_text(
        "CREATE TABLE `f` (`id` int, `ts` datetime(6));\n"
        "INSERT INTO `f` VALUES (1, '2024-01-02 03:04:05.123456'),"
        "(2, '2024-01-02 03:04:05');\n"
    )
    convert_dump(spark, str(dump), str(tmp_path / "out"))
    rows = {r.id: r.ts for r in spark.read.parquet(str(tmp_path / "out/f")).collect()}
    assert rows[1].microsecond == 123456
    assert rows[2].microsecond == 0


def test_multiline_insert_auto_fallback(spark, tmp_path):
    """Dumps without --extended-insert (INSERTs spanning lines) convert via
    the whole-file reassembly path — reference parity (main.rs:110–145
    accumulates lines until ';')."""
    dump = tmp_path / "ml.sql"
    dump.write_text(
        "CREATE TABLE `m` (`id` int, `name` varchar(10));\n"
        "INSERT INTO `m` VALUES\n"
        "(1, 'a'),\n"
        "(2, 'b');\n"
        "INSERT INTO `m`\nVALUES (3, 'c');\n"
    )
    counts = convert_dump(spark, str(dump), str(tmp_path / "out"))
    assert counts == {"m": 3}
    rows = {r.id: r.name for r in spark.read.parquet(str(tmp_path / "out/m")).collect()}
    assert rows == {1: "a", 2: "b", 3: "c"}


def test_multiline_insert_rejected_when_forced_line_layout(spark, tmp_path):
    """The one-line DDL pass (collect_schemas, the JVM text layout)
    names a multi-line dump loudly; convert_dump reassembles it."""
    dump = tmp_path / "ml.sql"
    dump.write_text(
        "CREATE TABLE `m` (`id` int);\n"
        "INSERT INTO `m` VALUES\n"
        "(1),\n"
        "(2);\n"
    )
    from mysqldump_to_parquet_spark.sources.mysqldump import (
        MultilineDumpError,
        collect_schemas,
    )

    with pytest.raises(MultilineDumpError, match="multi-line INSERT"):
        collect_schemas(spark, str(dump))


def test_multiline_multi_table_gz(spark, tmp_path):
    """Multi-line layout across several gzipped files: per-file reassembly,
    tables spanning files, mid-tuple line breaks."""
    import gzip

    f1 = (
        "CREATE TABLE `p` (\n  `id` int NOT NULL,\n  `v` double\n);\n"
        "INSERT INTO `p` VALUES (1,\n1.5),\n(2, 2.5);\n"
        "CREATE TABLE `q` (`id` int);\n"
        "INSERT INTO `q` VALUES (10);\n"
    )
    f2 = "INSERT INTO `p` VALUES\n(3, -3.5);\n"
    with gzip.open(tmp_path / "a.sql.gz", "wt") as fh:
        fh.write(f1)
    with gzip.open(tmp_path / "b.sql.gz", "wt") as fh:
        fh.write(f2)
    counts = convert_dump(spark, str(tmp_path / "*.sql.gz"), str(tmp_path / "out"))
    assert counts == {"p": 3, "q": 1}
    vals = {r.id: r.v for r in spark.read.parquet(str(tmp_path / "out/p")).collect()}
    assert vals == {1: 1.5, 2: 2.5, 3: -3.5}


#: Codec of each compressed fixture extension, as the ingest names it.
_CODECS = {"gz": "gzip", "bz2": "bz2", "xz": "xz", "zst": "zstd"}


def _write_compressed(path, text: str) -> None:
    """Write ``text`` compressed per the path's extension: .gz/.bz2/.zst
    through pyarrow's codec streams, .xz through lzma."""
    import lzma

    import pyarrow as pa

    p = str(path)
    codec = _CODECS[p.rsplit(".", 1)[-1]]
    if codec == "xz":
        with lzma.open(p, "wb") as fh:
            fh.write(text.encode())
    else:
        with pa.output_stream(p, compression=codec) as fh:
            fh.write(text.encode())


@pytest.mark.parametrize("ext", ["zst", "bz2"])
def test_one_line_dump_compressed_jvm_decoded(spark, tmp_path, ext):
    """One-line dumps compressed with zstd/bzip2 convert through the
    normal JVM text scan (Hadoop decodes both transparently — probed
    r12: ZStandardCodec rides the bundled zstd-jni, BZip2Codec is pure
    Java and splittable), matching the plain-text output exactly
    (VERDICT r11 #4: the reference reads .sql.gz only, main.rs:41–47;
    `mysqldump | zstd` is the common modern pipe)."""
    f = tmp_path / f"demo.sql.{ext}"
    _write_compressed(f, DEMO_DUMP)
    counts = convert_dump(spark, str(f), str(tmp_path / "out"))
    assert counts == {"acct": 3}

    plain = tmp_path / "demo.sql"
    plain.write_text(DEMO_DUMP)
    convert_dump(spark, str(plain), str(tmp_path / "ref"))
    a = spark.read.parquet(str(tmp_path / "out/acct")).orderBy("id")
    b = spark.read.parquet(str(tmp_path / "ref/acct")).orderBy("id")
    assert a.schema == b.schema and a.collect() == b.collect()


@pytest.mark.parametrize("ext", ["zst", "bz2", "xz"])
def test_multiline_multi_member_compressed(spark, tmp_path, ext):
    """Multi-line layout across several compressed members — the same
    shape as test_multiline_multi_table_gz for each new codec (one task
    per member through the Python-side decode: pyarrow's codecs for
    .zst/.bz2, stdlib lzma for .xz)."""
    f1 = (
        "CREATE TABLE `p` (\n  `id` int NOT NULL,\n  `v` double\n);\n"
        "INSERT INTO `p` VALUES (1,\n1.5),\n(2, 2.5);\n"
        "CREATE TABLE `q` (`id` int);\n"
        "INSERT INTO `q` VALUES (10);\n"
    )
    f2 = "INSERT INTO `p` VALUES\n(3, -3.5);\n"
    _write_compressed(tmp_path / f"a.sql.{ext}", f1)
    _write_compressed(tmp_path / f"b.sql.{ext}", f2)
    counts = convert_dump(
        spark, str(tmp_path / f"*.sql.{ext}"), str(tmp_path / "out")
    )
    assert counts == {"p": 3, "q": 1}
    vals = {r.id: r.v for r in spark.read.parquet(str(tmp_path / "out/p")).collect()}
    assert vals == {1: 1.5, 2: 2.5, 3: -3.5}


def test_xz_one_line_dump_routes_to_python_decode(spark, tmp_path):
    """A ONE-LINE dump compressed as .xz still converts — Hadoop has no
    xz codec, so convert_dump routes it through the Python-decoded
    reassembly path (which handles one-line statements fine) instead of
    letting spark.read.text hand back raw compressed bytes."""
    f = tmp_path / "demo.sql.xz"
    _write_compressed(f, DEMO_DUMP)
    counts = convert_dump(spark, str(f), str(tmp_path / "out"))
    assert counts == {"acct": 3}
    rows = spark.read.parquet(str(tmp_path / "out/acct")).orderBy("id").collect()
    assert [r.name for r in rows] == ["alice", "bob", "carol's"]


def test_xz_guard_on_direct_jvm_paths(spark, tmp_path):
    """Direct collect_schemas callers get a loud error for .xz inputs
    instead of a garbage JVM text scan."""
    from mysqldump_to_parquet_spark.sources.mysqldump import collect_schemas

    f = tmp_path / "demo.sql.xz"
    _write_compressed(f, DEMO_DUMP)
    with pytest.raises(DumpParseError, match="not JVM-decodable"):
        collect_schemas(spark, str(f))


@pytest.mark.parametrize("ext", ["gz", "bz2", "xz", "zst"])
def test_truncated_member_failure_is_loud(tmp_path, ext):
    """A truncated compressed member fails with DumpParseError naming the
    file and the codec, never a silent truncation or a bare codec
    error."""
    from mysqldump_to_parquet_spark.sources.mysqldump import _range_statements

    good = tmp_path / f"ok.sql.{ext}"
    _write_compressed(good, DEMO_DUMP)
    data = good.read_bytes()
    bad = tmp_path / f"bad.sql.{ext}"
    bad.write_bytes(data[: len(data) // 2])  # truncated frame
    with pytest.raises(DumpParseError, match=rf"bad\.sql\.{ext}: {_CODECS[ext]}"):
        list(_range_statements(str(bad), 0, -1))


def test_zst_member_reads_without_zstd_binary(tmp_path, monkeypatch):
    """A .zst member decodes in process: no zstd executable on PATH."""
    from mysqldump_to_parquet_spark.sources.mysqldump import _range_statements

    f = tmp_path / "demo.sql.zst"
    _write_compressed(f, DEMO_DUMP)
    empty = tmp_path / "bin"
    empty.mkdir()
    monkeypatch.setenv("PATH", str(empty))
    assert list(_range_statements(str(f), 0, -1)) == list(
        iter_statements(DEMO_DUMP.encode().splitlines())
    )


def test_create_table_options_with_parens():
    ts = parse_create_table(
        "CREATE TABLE `t` (`checksum` bigint, `constraint_id` int) "
        "ENGINE=InnoDB COMMENT='see (note)';"
    )
    assert [f.name for f in ts.schema.fields] == ["checksum", "constraint_id"]


def test_truncated_insert_raises_contextual_error():
    with pytest.raises(DumpParseError, match="truncated INSERT for t"):
        parse_insert("INSERT INTO t VALUES (1,")


def test_complete_insert_column_list(spark, tmp_path):
    """--complete-insert dumps: explicit column lists, arbitrary order,
    missing columns → NULL (the reference rejects these outright)."""
    dump = tmp_path / "ci.sql"
    dump.write_text(
        "CREATE TABLE `c` (`id` int NOT NULL, `name` varchar(10), `bal` double);\n"
        "INSERT INTO `c` (`name`, `id`) VALUES ('x', 1), ('y', 2);\n"
        "INSERT INTO `c` (`id`, `name`, `bal`) VALUES (3, 'z', 1.5);\n"
    )
    convert_dump(spark, str(dump), str(tmp_path / "out"))
    rows = {r.id: (r.name, r.bal) for r in spark.read.parquet(str(tmp_path / "out/c")).collect()}
    assert rows == {1: ("x", None), 2: ("y", None), 3: ("z", 1.5)}


# ------------------------------------------------- round-2 advisory fixes


def test_body_scan_survives_escaped_quote_before_paren():
    """DEFAULT 'don\\'t)' must not close the quote early and truncate the
    body (the escape has to skip the NEXT character, like _split_top_level)."""
    ts = parse_create_table(
        "CREATE TABLE `t` (`a` varchar(20) DEFAULT 'don\\'t)', `b` int) "
        "ENGINE=InnoDB;"
    )
    assert [f.name for f in ts.schema.fields] == ["a", "b"]


def test_insert_table_named_values_prefix():
    """A table whose name starts with 'values' must not have its own name
    matched as the VALUES keyword."""
    table, rows = parse_insert("INSERT INTO `values_log` VALUES (1, 'x');")
    assert table == "values_log"
    assert rows == [(1, "x")]
    table, rows = parse_insert("INSERT INTO values_log VALUES (2, 'y');")
    assert table == "values_log"
    assert rows == [(2, "y")]


def test_nullability_ignores_quoted_literals():
    """DEFAULT 'null' / COMMENT 'not null' are literal text, not options —
    they must not flip the inferred nullability (or UNSIGNED detection)."""
    ts = parse_create_table(
        "CREATE TABLE `t` ("
        "`a` varchar(10) DEFAULT 'null', "
        "`b` varchar(20) NOT NULL COMMENT 'may be null later', "
        "`c` varchar(20) COMMENT 'not null soon', "
        "`d` int COMMENT 'unsigned someday');"
    )
    by_name = {f.name: f for f in ts.schema.fields}
    assert by_name["a"].nullable is True
    assert by_name["b"].nullable is False
    assert by_name["c"].nullable is True  # comment text must not force NOT NULL
    assert isinstance(by_name["d"].dataType, T.LongType)  # not DECIMAL(20,0)


def test_binary_mangled_bytes_fail_loudly(spark, tmp_path):
    """A binary column value whose bytes did not survive UTF-8 line decoding
    (U+FFFD replacement) must error (C3), not silently re-encode."""
    from mysqldump_to_parquet_spark.sources.mysqldump import coerce_row

    schema = T.StructType([T.StructField("payload", T.BinaryType())])
    # valid UTF-8 round-trips byte-faithfully
    assert coerce_row(("ok",), schema, "t") == (b"ok",)
    with pytest.raises(DumpParseError, match="hex-blob"):
        coerce_row(("bad � bytes",), schema, "t")


def test_hex_blob_literal_roundtrip(spark, tmp_path):
    dump = tmp_path / "hb.sql"
    dump.write_text(
        "CREATE TABLE `b` (`id` int, `payload` blob);\n"
        "INSERT INTO `b` VALUES (1, 0x00FF10), (2, NULL);\n"
    )
    convert_dump(spark, str(dump), str(tmp_path / "out"))
    rows = {r.id: r.payload for r in spark.read.parquet(str(tmp_path / "out/b")).collect()}
    assert rows[1] == bytes([0x00, 0xFF, 0x10])
    assert rows[2] is None


def test_multitable_parallel_counts_and_prefilter(spark, tmp_path):
    """Thread-pooled multi-table conversion returns the same counts as the
    tables hold, including a table whose name prefixes another's."""
    dump = tmp_path / "mt.sql"
    dump.write_text(
        "CREATE TABLE `ev` (`id` int);\n"
        "CREATE TABLE `ev_archive` (`id` int);\n"
        "CREATE TABLE `other` (`id` int);\n"
        "INSERT INTO `ev` VALUES (1),(2),(3);\n"
        "INSERT INTO `ev_archive` VALUES (10),(11);\n"
        "INSERT INTO `other` VALUES (100);\n"
    )
    counts = convert_dump(spark, str(dump), str(tmp_path / "out"))
    assert counts == {"ev": 3, "ev_archive": 2, "other": 1}
    got = sorted(r.id for r in spark.read.parquet(str(tmp_path / "out/ev")).collect())
    assert got == [1, 2, 3]


def test_many_file_dump_skips_text_shuffle(spark, tmp_path):
    """When the dump arrives as many files (input splits ≥ cores), the raw
    INSERT text must NOT be repartitioned — no Exchange below the Python
    parse stage of the per-table fallback."""
    from mysqldump_to_parquet_spark.sources.mysqldump import (
        _statement_source,
        _table_df,
    )

    n_files = spark.sparkContext.defaultParallelism + 2
    ddl = "CREATE TABLE `t` (`id` int);\n"
    (tmp_path / "part0.sql").write_text(
        ddl + "INSERT INTO `t` VALUES (0);\n"
    )
    for i in range(1, n_files):
        (tmp_path / f"part{i}.sql").write_text(f"INSERT INTO `t` VALUES ({i});\n")
    schema = T.StructType([T.StructField("id", T.LongType())])
    # tiny files coalesce into one split by default (openCostInBytes) —
    # force one split per file so the input genuinely arrives well-split,
    # as a real many-file 100 TB dump would
    old_cost = spark.conf.get("spark.sql.files.openCostInBytes")
    old_max = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.openCostInBytes", str(128 * 1024 * 1024))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    try:
        with _statement_source(spark, str(tmp_path / "*.sql"), None) as source:
            df = _table_df(source, "t", schema, multiline=False)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert sorted(r.id for r in df.collect()) == list(range(n_files))
    finally:
        spark.conf.set("spark.sql.files.openCostInBytes", old_cost)
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_max)


def test_fifty_table_dump_threadpool(spark, tmp_path):
    """50 tables through the concurrent conversion path: counts exact for
    every table, no cross-table row bleed, bounded pool saturation."""
    lines = []
    for t in range(50):
        lines.append(f"CREATE TABLE `t{t:02d}` (`id` int NOT NULL, `tag` varchar(8));")
        vals = ",".join(f"({i},'g{t:02d}')" for i in range(t + 1))
        lines.append(f"INSERT INTO `t{t:02d}` VALUES {vals};")
    dump = tmp_path / "fifty.sql"
    dump.write_text("\n".join(lines) + "\n")
    counts = convert_dump(spark, str(dump), str(tmp_path / "out"))
    assert counts == {f"t{t:02d}": t + 1 for t in range(50)}
    # spot-check no bleed: every row of t07 carries its own tag
    rows = spark.read.parquet(str(tmp_path / "out/t07")).collect()
    assert {r.tag for r in rows} == {"g07"} and len(rows) == 8


def test_multitable_conversion_fails_loudly_on_bad_table(spark, tmp_path):
    """C3 under concurrency: one table with an uncastable value fails the
    whole conversion with its column context, even when other tables are
    converting concurrently on the thread pool."""
    dump = tmp_path / "mixed.sql"
    dump.write_text(
        "CREATE TABLE `good1` (`id` int);\n"
        "CREATE TABLE `bad` (`id` int, `ts` timestamp NULL);\n"
        "CREATE TABLE `good2` (`id` int);\n"
        "INSERT INTO `good1` VALUES (1),(2);\n"
        "INSERT INTO `bad` VALUES (1, 'not-a-date');\n"
        "INSERT INTO `good2` VALUES (3);\n"
    )
    with pytest.raises(Exception, match="cannot cast ts"):
        convert_dump(spark, str(dump), f"file://{tmp_path}/out")


class TestMultilineRangeOwnership:
    """Byte-range statement reassembly: every split boundary assigns each
    statement to exactly one range, and concatenating the ranges in
    offset order reproduces the sequential single-stream reassembly."""

    DUMP = (
        "-- comment line\n"
        "/*!40101 SET NAMES utf8mb4 */;\n"
        "CREATE TABLE `t` (\n"
        "  `id` bigint NOT NULL,\n"
        "  `v` varchar(32)\n"
        ");\n"
        + "".join(
            f"INSERT INTO `t` VALUES\n({i},\n'row {i} text'),\n"
            f"({i + 1000}, 'second {i}');\n"
            for i in range(200)
        )
    )

    def _sequential(self):
        from mysqldump_to_parquet_spark.sources.mysqldump import (
            iter_statements,
        )

        return list(iter_statements(self.DUMP.encode().splitlines()))

    @pytest.mark.parametrize("step", [7, 64, 256, 1 << 20])
    def test_every_split_size_partitions_statements(self, tmp_path, step):
        """For any split granularity — down to ranges far smaller than a
        statement — the union of range-owned statements equals the
        sequential reassembly, in order, with no dup and no loss."""
        from mysqldump_to_parquet_spark.sources.mysqldump import (
            _range_statements,
        )

        f = tmp_path / "ml.sql"
        f.write_text(self.DUMP)
        size = f.stat().st_size
        got = []
        for off in range(0, size, step):
            got.extend(_range_statements(str(f), off, min(off + step, size)))
        assert got == self._sequential()

    def test_boundary_on_every_byte_of_a_window(self, tmp_path):
        """Two-range sweep: placing the single split boundary on EVERY
        byte of a window spanning several terminators never duplicates
        or drops a statement (exhaustive for the alignment edge cases:
        boundary on '\\n', on ';', at a statement start, mid-line)."""
        from mysqldump_to_parquet_spark.sources.mysqldump import (
            _range_statements,
        )

        f = tmp_path / "ml.sql"
        f.write_text(self.DUMP)
        size = f.stat().st_size
        want = self._sequential()
        lo = self.DUMP.index("INSERT")
        for cut in range(lo, lo + 120):
            got = list(_range_statements(str(f), 0, cut)) + list(
                _range_statements(str(f), cut, size)
            )
            assert got == want, f"boundary at byte {cut}"

    def _spark_statements(self, spark, path, ranges=None):
        """Statements of the convert's range source (its own ranges
        unless given), reassembled inside Spark tasks (one task per
        range)."""
        import pyarrow as pa

        from mysqldump_to_parquet_spark.sources.mysqldump import (
            _dump_files,
            _multiline_ranges,
            _ranges_df,
            _source_statements,
        )

        def stmts(batches):
            got = list(_source_statements(batches, multiline=True))
            yield pa.RecordBatch.from_pydict({"value": pa.array(got, pa.binary())})

        if ranges is None:
            ranges = _multiline_ranges(spark, path, _dump_files(spark, path))
        rows = _ranges_df(spark, ranges).mapInArrow(stmts, "value binary")
        return sorted(bytes(r.value) for r in rows.collect())

    def test_stmts_df_matches_sequential(self, spark, tmp_path):
        """The Spark-side range source (parallel ranges) yields the same
        multiset of statements as the sequential grammar."""
        f = tmp_path / "ml.sql"
        f.write_text(self.DUMP)
        size = f.stat().st_size
        ranges = [(str(f), off, min(off + 512, size)) for off in range(0, size, 512)]
        got = self._spark_statements(spark, str(f), ranges)
        assert got == sorted(self._sequential())

    def test_gz_member_streams(self, spark, tmp_path):
        """.gz members are unsplittable: streamed whole on one task,
        same statement set."""
        import gzip

        f = tmp_path / "ml.sql.gz"
        with gzip.open(f, "wt") as fh:
            fh.write(self.DUMP)
        assert self._spark_statements(spark, str(f)) == sorted(
            self._sequential()
        )


def test_enum_values_with_parens_and_keywords():
    """ENUM/SET literals containing ')' , ',' or option keywords must not
    leak into the arg list or the nullability scan."""
    ts = parse_create_table(
        "CREATE TABLE `t` ("
        "`status` enum('open)','clo,sed','null','not null') NOT NULL, "
        "`flags` set('a)','b') DEFAULT NULL, "
        "`amt` decimal(10,2) DEFAULT NULL);"
    )
    by = {f.name: f for f in ts.schema.fields}
    assert isinstance(by["status"].dataType, T.StringType)
    assert by["status"].nullable is False
    assert isinstance(by["flags"].dataType, T.StringType)
    assert by["flags"].nullable is True
    assert by["amt"].dataType == T.DecimalType(10, 2)


def test_multiline_complete_insert_combo(spark, tmp_path):
    """Multi-line layout AND --complete-insert column lists together:
    whole-file reassembly must still reorder/NULL-fill by column name."""
    dump = tmp_path / "mlci.sql"
    dump.write_text(
        "CREATE TABLE `c` (\n"
        "  `id` int NOT NULL,\n"
        "  `name` varchar(10),\n"
        "  `bal` double\n"
        ");\n"
        "INSERT INTO `c` (`name`, `id`)\n"
        "VALUES ('x', 1),\n"
        "('y', 2);\n"
        "INSERT INTO `c` (`bal`, `id`, `name`) VALUES\n"
        "(9.5, 3, 'z');\n"
    )
    counts = convert_dump(spark, str(dump), str(tmp_path / "out"))
    assert counts == {"c": 3}
    rows = {r.id: (r.name, r.bal)
            for r in spark.read.parquet(str(tmp_path / "out/c")).collect()}
    assert rows == {1: ("x", None), 2: ("y", None), 3: ("z", 9.5)}


def test_ddl_line_cap_fails_loudly(spark, tmp_path, monkeypatch):
    """Pass 1 bounds the non-INSERT line set it collects to the driver —
    blowing the cap must raise (as a multiline-layout signal), not OOM."""
    import mysqldump_to_parquet_spark.sources.mysqldump as M

    dump = tmp_path / "many.sql"
    dump.write_text(
        "CREATE TABLE `t` (`id` int);\n" + "-- filler comment line\n" * 50
    )
    monkeypatch.setattr(M, "MAX_DDL_LINES", 10)
    from mysqldump_to_parquet_spark.sources.mysqldump import MultilineDumpError

    with pytest.raises(MultilineDumpError, match="non-INSERT lines"):
        M.collect_schemas(spark, str(dump))


def test_collect_schemas_restores_split_conf(spark, tmp_path):
    """The r8 DDL-pass rewrite: collect_schemas must restore the
    split-size conf it scopes."""
    import mysqldump_to_parquet_spark.sources.mysqldump as M

    dump = tmp_path / "s.sql"
    dump.write_text(
        "CREATE TABLE `t` (`id` int, `name` varchar(16));\n"
        "INSERT INTO `t` VALUES (1,'aa');\n"
    )
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    assert set(M.collect_schemas(spark, str(dump))) == {"t"}
    assert spark.conf.get("spark.sql.files.maxPartitionBytes") == prev


_ROWS_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"
_BYTES_CONF = "spark.sql.execution.arrow.maxBytesPerBatch"


def test_statement_crossing_is_byte_bounded(spark, tmp_path, monkeypatch):
    """The Arrow batches that carry statement text into a convert task
    are cut in bytes: each holds at most the cap plus one statement.  A
    tighter session byte cap is never loosened, a lower session
    maxRecordsPerBatch still binds, and both confs are restored."""
    import pyarrow as pa

    import mysqldump_to_parquet_spark.sources.mysqldump as M

    cap = 64 * 1024
    monkeypatch.setattr(M, "_PARSE_FLUSH_BYTES", cap)
    stmt = "INSERT INTO `t` VALUES " + ",".join(
        f"({i},'{'x' * 20}')" for i in range(200)
    ) + ";"
    n_stmts = 100  # ~560 KB of statement text: one input split
    dump = tmp_path / "d.sql"
    dump.write_text("CREATE TABLE `t` (`id` int, `v` varchar(32));\n"
                    + (stmt + "\n") * n_stmts)

    def sizes(batches):
        for b in batches:
            text = b.column(0).to_pylist()
            yield pa.RecordBatch.from_pydict(
                {"rows": [len(text)], "bytes": [sum(map(len, text))]}
            )

    def crossings():
        with M._statement_source(spark, str(dump), None) as source:
            got = source.mapInArrow(sizes, "rows long, bytes long").collect()
        assert sum(r.rows for r in got) == n_stmts
        return got

    prev = (spark.conf.get(_ROWS_CONF), spark.conf.get(_BYTES_CONF))
    got = crossings()
    assert len(got) > 1
    assert max(r.bytes for r in got) <= cap + len(stmt)

    spark.conf.set(_BYTES_CONF, "16k")  # tighter than the cap: kept
    try:
        got = crossings()
        assert max(r.bytes for r in got) <= 16 * 1024 + len(stmt)
        assert spark.conf.get(_BYTES_CONF) == "16k"
    finally:
        spark.conf.set(_BYTES_CONF, prev[1])

    spark.conf.set(_ROWS_CONF, "3")  # a lower row bound still binds
    try:
        got = crossings()
        assert max(r.rows for r in got) == 3
    finally:
        spark.conf.set(_ROWS_CONF, prev[0])
    assert (spark.conf.get(_ROWS_CONF), spark.conf.get(_BYTES_CONF)) == prev


def test_glob_convert_lists_files_once(spark, tmp_path, monkeypatch):
    """A ``dir/*`` glob convert lists the dump's files once: the .xz
    check and, for a multi-line dump, the DDL pass and the statement
    source all share the one binaryFile listing."""
    from pyspark.sql.readwriter import DataFrameReader

    listings = []
    real_format = DataFrameReader.format

    def counting_format(self, source):
        if source == "binaryFile":
            listings.append(source)
        return real_format(self, source)

    monkeypatch.setattr(DataFrameReader, "format", counting_format)
    layouts = {
        "one_line": "INSERT INTO `t` VALUES (1),(2);\n",
        "multi_line": "INSERT INTO `t` VALUES\n(1),\n(2);\n",
    }
    for name, inserts in layouts.items():
        d = tmp_path / name
        d.mkdir()
        (d / "a.sql").write_text("CREATE TABLE `t` (`id` int);\n")
        (d / "b.sql").write_text(inserts)
        listings.clear()
        counts = convert_dump(spark, str(d / "*"), str(tmp_path / f"out_{name}"))
        assert counts == {"t": 2}
        assert len(listings) == 1, name


def test_multiline_error_quotes_first_marker(spark, tmp_path):
    """The MultilineDumpError example line is the FIRST marker in scan
    order, not F.max's lexicographically-largest arbitrary line
    (ADVICE r8) — '(apple' sorts below '(zebra' but appears first."""
    import mysqldump_to_parquet_spark.sources.mysqldump as M

    p = tmp_path / "m.sql"
    p.write_text(
        "CREATE TABLE `t` (`id` int);\n(apple);\n(zebra);\n"
    )
    with pytest.raises(M.MultilineDumpError, match=r"\(apple"):
        M.collect_schemas(spark, str(p))


def test_convert_dump_scopes_and_restores_arrow_batch(spark, tmp_path):
    """convert_dump scopes the Arrow batch byte cap for the parse stages
    (a row-only bound built ~800 MB JVM batches at real statement sizes)
    and leaves both Arrow batch confs as it found them — including on
    the error path."""
    import mysqldump_to_parquet_spark.sources.mysqldump as M

    def confs():
        return spark.conf.get(_ROWS_CONF), spark.conf.get(_BYTES_CONF)

    prev = confs()
    dump = tmp_path / "ok.sql"
    dump.write_text(
        "CREATE TABLE `t` (`id` int);\n"
        "INSERT INTO `t` VALUES (1),(2),(3);\n"
    )
    counts = M.convert_dump(spark, str(dump), str(tmp_path / "out"))
    assert counts == {"t": 3}
    assert confs() == prev
    bad = tmp_path / "bad.sql"
    bad.write_text("-- no CREATE TABLE at all\n")
    with pytest.raises(M.DumpParseError):
        M.convert_dump(spark, str(bad), str(tmp_path / "out2"))
    assert confs() == prev


# -------------------------------------------- DML statement variants

def test_parse_insert_variants():
    """mysqldump --replace emits REPLACE INTO and --insert-ignore emits
    INSERT IGNORE INTO; for a whole-table conversion all three are
    row-identical and must parse through the same path."""
    for head in ("INSERT INTO", "INSERT IGNORE INTO", "REPLACE INTO"):
        table, rows = parse_insert(f"{head} `t` VALUES (1,'a'),(2,'b');")
        assert table == "t"
        assert rows == [(1, "a"), (2, "b")]
    # column-list form (--complete-insert combinations)
    table, cols, rows = parse_insert_full(
        "REPLACE INTO `t` (`b`, `a`) VALUES (1,'x');"
    )
    assert table == "t" and cols == ["b", "a"] and rows == [(1, "x")]


def test_onepass_matches_per_table_exactly(spark, tmp_path):
    """The one-pass convert (single scan, task-side pyarrow writers,
    report-then-commit) must produce value-identical datasets to the
    per-table fallback across every logical type, including a table
    with zero INSERTs (schema-only dataset)."""
    dump = tmp_path / "op.sql"
    dump.write_text(
        "CREATE TABLE `acct` (\n"
        "  `id` bigint NOT NULL,\n  `name` varchar(64),\n"
        "  `bal` decimal(12,2),\n  `ratio` double,\n"
        "  `active` boolean NOT NULL,\n  `created` timestamp NULL,\n"
        "  `birthday` date\n);\n"
        "CREATE TABLE `log` (`id` int, `msg` text);\n"
        "CREATE TABLE `empty_t` (`id` int);\n"
        + "".join(
            f"INSERT INTO `acct` VALUES ({i},'u{i}',{i}.25,{i % 7}.5,"
            f"{i % 2},'2024-01-{i % 28 + 1:02d} 10:0{i % 6}:00',"
            f"'199{i % 10}-05-06');\n"
            f"INSERT INTO `log` VALUES ({i},'m''{i}\\n');\n"
            for i in range(300)
        )
    )
    a = convert_dump(spark, str(dump), str(tmp_path / "a"))
    # a scheme'd output dir takes the per-table fallback
    b = convert_dump(spark, str(dump), f"file://{tmp_path}/b")
    assert a == b == {"acct": 300, "log": 300, "empty_t": 0}
    for t in a:
        da = spark.read.parquet(str(tmp_path / "a" / t))
        db = spark.read.parquet(str(tmp_path / "b" / t))
        assert da.schema == db.schema, t
        assert sorted(map(tuple, da.collect())) == sorted(
            map(tuple, db.collect())
        ), t


def test_per_table_fallback_reads_mixed_case_table_names(spark, tmp_path):
    """Table names are lowercased on ingest; the per-table fallback's JVM
    prefix filter must still route `Users` INSERT lines to table `users`,
    as the one-pass convert does."""
    dump = tmp_path / "case.sql"
    dump.write_text(
        "CREATE TABLE `Users` (`id` int);\n"
        "INSERT INTO `Users` VALUES (1),(2);\n"
    )
    assert convert_dump(spark, str(dump), str(tmp_path / "a")) == {"users": 2}
    assert convert_dump(spark, str(dump), f"file://{tmp_path}/b") == {"users": 2}


@pytest.mark.parametrize(
    "stmt",
    [
        # adjacent values without a separator — silently fusing these
        # could write corrupt rows whenever the fused arity happens to
        # match the table (C3 fail-loud; ADVICE r4)
        "INSERT INTO `t` VALUES (1,2 .5);",
        "INSERT INTO `t` VALUES (1 2);",
        "INSERT INTO `t` VALUES ('a' 'b');",
        "INSERT INTO `t` VALUES (1,'a' 2);",
        # empty fields / empty row
        "INSERT INTO `t` VALUES (1,,2);",
        "INSERT INTO `t` VALUES (,1);",
        "INSERT INTO `t` VALUES (1,);",
        "INSERT INTO `t` VALUES ();",
        "INSERT INTO `t` VALUES (1,'a'),(2,);",
    ],
)
def test_exhaustive_tokenizer_separator_contract(stmt):
    """The exhaustive VALUES tokenizer enforces strict value/comma
    alternation: adjacent values, empty fields, and empty rows raise
    DumpParseError instead of silently fusing or dropping tokens — the
    contract the fast path's structural guards assume when they defer."""
    from mysqldump_to_parquet_spark.sources.mysqldump import DumpParseError

    with pytest.raises(DumpParseError):
        parse_insert_full(stmt)


def test_convert_dump_replace_and_ignore(spark, tmp_path):
    """End-to-end conversion of a dump written with --replace for one
    table and --insert-ignore for another."""
    dump = tmp_path / "variants.sql"
    dump.write_text(
        "CREATE TABLE `r` (`id` int NOT NULL, `v` varchar(8));\n"
        "REPLACE INTO `r` VALUES (1,'a'),(2,'b');\n"
        "CREATE TABLE `ig` (`id` int NOT NULL, `v` varchar(8));\n"
        "INSERT IGNORE INTO `ig` VALUES (10,'x'),(11,'y'),(12,'z');\n"
    )
    counts = convert_dump(spark, str(dump), str(tmp_path / "out"))
    assert counts == {"r": 2, "ig": 3}
    r = {x.id: x.v for x in spark.read.parquet(str(tmp_path / "out" / "r")).collect()}
    ig = {x.id: x.v for x in spark.read.parquet(str(tmp_path / "out" / "ig")).collect()}
    assert r == {1: "a", 2: "b"}
    assert ig == {10: "x", 11: "y", 12: "z"}


MULTIDB_DUMP = """-- MySQL dump (mysqldump --databases db1 db2)
CREATE DATABASE /*!32312 IF NOT EXISTS*/ `db1`;
USE `db1`;
CREATE TABLE `users` (`id` bigint NOT NULL);
INSERT INTO `users` VALUES (1),(2);
USE `db2`;
CREATE TABLE `users` (`id` bigint NOT NULL, `email` varchar(64) NOT NULL);
INSERT INTO `users` VALUES (3,'a@b.c');
"""


def test_multidb_colliding_tables_fail_loud(spark, tmp_path):
    """mysqldump --databases with a same-named table in two databases:
    INSERTs carry no db qualifier, so rows can't be attributed — raise
    with both database names (the reference silently overwrites the first
    table's parquet on writer rotation: data loss)."""
    from mysqldump_to_parquet_spark.sources.mysqldump import (
        DumpParseError,
        convert_dump,
    )

    dump = tmp_path / "multi.sql"
    dump.write_text(MULTIDB_DUMP)
    with pytest.raises(DumpParseError) as ei:
        convert_dump(spark, str(dump), str(tmp_path / "out"))
    msg = str(ei.value)
    assert "users" in msg and "db1" in msg and "db2" in msg


def test_multidb_distinct_tables_convert(spark, tmp_path):
    """USE statements with non-colliding tables convert normally."""
    from mysqldump_to_parquet_spark.sources.mysqldump import convert_dump

    dump = tmp_path / "multi_ok.sql"
    dump.write_text(
        "USE `db1`;\n"
        "CREATE TABLE `users` (`id` bigint NOT NULL);\n"
        "INSERT INTO `users` VALUES (1),(2);\n"
        "USE `db2`;\n"
        "CREATE TABLE `orders` (`id` bigint NOT NULL);\n"
        "INSERT INTO `orders` VALUES (7);\n"
    )
    counts = convert_dump(spark, str(dump), str(tmp_path / "out"))
    assert counts == {"users": 2, "orders": 1}


def test_multidb_collision_multiline_path(spark, tmp_path):
    """The whole-file (no --extended-insert) path applies the same guard."""
    from mysqldump_to_parquet_spark.sources.mysqldump import (
        DumpParseError,
        _dump_files,
        _multiline_ranges,
        collect_schemas_multiline,
    )

    dump = tmp_path / "multi_ml.sql"
    dump.write_text(MULTIDB_DUMP)
    ranges = _multiline_ranges(spark, str(dump), _dump_files(spark, str(dump)))
    with pytest.raises(DumpParseError, match="defined twice"):
        collect_schemas_multiline(spark, str(dump), ranges)


def test_charset_introducers():
    """mysqldump emits _binary/_utf8mb4 introducers before string and hex
    literals (binary columns without --hex-blob, charset-tagged strings);
    the introducer is skipped and the literal parses normally."""
    from mysqldump_to_parquet_spark.sources.mysqldump import (
        DumpParseError,
        parse_insert,
    )

    assert parse_insert("INSERT INTO `t` VALUES (1,_binary 'abc');") == (
        "t", [(1, "abc")]
    )
    assert parse_insert("INSERT INTO `t` VALUES (1,_utf8mb4'héllo');") == (
        "t", [(1, "héllo")]
    )
    assert parse_insert("INSERT INTO `t` VALUES (1,_binary 0x414243);") == (
        "t", [(1, b"ABC")]
    )
    # an introducer with no following literal is still a loud error
    with pytest.raises(DumpParseError, match="unsupported literal"):
        parse_insert("INSERT INTO `t` VALUES (1,_binary);")


def test_progress_reporter_live_and_summary(spark, tmp_path, capsys):
    """ProgressReporter: polls StatusTracker while jobs run and always
    prints a final summary; convert_dump(progress=True) wires it in."""
    import io

    from mysqldump_to_parquet_spark.progress import ProgressReporter

    buf = io.StringIO()
    with ProgressReporter(spark, "t", interval=0.01, out=buf):
        # a job slow enough for at least one poll tick
        spark.range(0, 2_000_000, 1, 8).selectExpr("sum(id * id)").collect()
    out = buf.getvalue()
    assert "[t] done:" in out
    assert "job(s) in" in out

    dump = tmp_path / "p.sql"
    dump.write_text(DEMO_DUMP)
    buf2 = io.StringIO()
    import contextlib

    with contextlib.redirect_stderr(buf2):
        convert_dump(spark, str(dump), str(tmp_path / "out"), progress=True)
    err = buf2.getvalue()
    assert "[ingest] 1 table(s)" in err
    assert "[ingest] acct:" in err
    assert "[ingest] done:" in err


# ------------------------------------------------------ Arrow-CSV fast path


class TestArrowFastPath:
    """The vectorized VALUES fast path must (a) trigger on canonical
    mysqldump output, (b) refuse anything structurally surprising, and
    (c) agree byte-for-byte with the exhaustive tokenizer end-to-end."""

    def test_canonical_statement_is_eligible(self):
        from mysqldump_to_parquet_spark.sources.mysqldump import (
            _values_csv_bytes,
        )

        stmt = "INSERT INTO `t` VALUES (1,'a'),(2,'b''s'),(3,NULL);"
        out = _values_csv_bytes(stmt.encode())
        assert out is not None
        csv, n = out
        assert n == 3
        assert csv == b"1,'a'\n2,'b''s'\n3,NULL"

    def test_paren_comma_inside_string_not_split(self):
        from mysqldump_to_parquet_spark.sources.mysqldump import (
            _values_csv_bytes,
        )

        stmt = "INSERT INTO `t` VALUES (1,'x),(y'),(2,'z');"
        csv, n = _values_csv_bytes(stmt.encode())
        assert n == 2
        assert csv == b"1,'x),(y'\n2,'z'"

    @pytest.mark.parametrize(
        "stmt",
        [
            "INSERT INTO `t` VALUES (1,'a\");",  # unbalanced quote
            "INSERT INTO `t` VALUES (1,(2));",  # nested tuple
            "INSERT INTO `t` VALUES (1,'a\\);",  # trailing lone backslash
            # whitespace BETWEEN value tokens is malformed SQL — the
            # exhaustive tokenizer raises; stripping would fuse tokens
            "INSERT INTO `t` VALUES (1,2 3);",
            "INSERT INTO `t` VALUES (1,'a' 'b');",  # would fuse strings
            # stripping must never CREATE an empty field (fail-loud C3:
            # the exhaustive parser raises a row-arity error; the fast
            # path would silently yield NULL)
            "INSERT INTO `t` VALUES (1, );",
            "INSERT INTO `t` VALUES ( ,1);",
            "INSERT INTO `t` VALUES (1, ,2);",
            "INSERT INTO `t` VALUES ( );",
            "INSERT INTO `t` VALUES (1,'a'), (2, );",
        ],
    )
    def test_surprises_fall_back(self, stmt):
        from mysqldump_to_parquet_spark.sources.mysqldump import (
            _values_csv_bytes,
        )

        assert _values_csv_bytes(stmt.encode()) is None

    @pytest.mark.parametrize(
        "stmt,want_csv,want_n",
        [
            # delimiter-adjacent top-level whitespace strips — pretty-
            # printed and reassembled multiline dumps ride the fast path
            ("INSERT INTO `t` VALUES (1, 'a');", b"1,'a'", 1),
            ("INSERT INTO `t` VALUES (1,'a'), (2,'b');", b"1,'a'\n2,'b'", 2),
            (
                "INSERT INTO `t` VALUES\n(1,\n'a b'),\n( 2 , 'c, d' );",
                b"1,'a b'\n2,'c, d'",
                2,
            ),
        ],
    )
    def test_toplevel_whitespace_strips(self, stmt, want_csv, want_n):
        from mysqldump_to_parquet_spark.sources.mysqldump import (
            _values_csv_bytes,
            parse_insert_full,
        )

        csv, n = _values_csv_bytes(stmt.encode())
        assert (csv, n) == (want_csv, want_n)
        # differential: the exhaustive grammar yields the same values
        _, _, rows = parse_insert_full(stmt)
        assert len(rows) == want_n

    def test_escapes_resolved_on_fast_path(self):
        """Backslash escapes stay on the fast path: semantic escapes map
        to their control bytes, \\' becomes CSV '' doubling, escaped
        backslash runs pair greedily left-to-right."""
        from mysqldump_to_parquet_spark.sources.mysqldump import (
            _values_csv_bytes,
        )

        stmt = (
            "INSERT INTO `t` VALUES "
            "(1,'a\\nb'),(2,'q\\'s'),(3,'c:\\\\dir'),(4,'pct\\%');"
        )
        csv, n = _values_csv_bytes(stmt.encode())
        assert n == 4
        assert csv == b"1,'a\nb'\n2,'q''s'\n3,'c:\\dir'\n4,'pct\\%'"

    def test_escaped_quote_does_not_break_parity(self):
        """A \\' inside a string must not flip quote parity — the ),( that
        follows it still splits rows correctly."""
        from mysqldump_to_parquet_spark.sources.mysqldump import (
            _values_csv_bytes,
            parse_insert_full,
        )

        stmt = "INSERT INTO `t` VALUES (1,'it\\'s ),( fine'),(2,'x');"
        csv, n = _values_csv_bytes(stmt.encode())
        assert n == 2
        assert csv == b"1,'it''s ),( fine'\n2,'x'"
        # differential: exhaustive grammar agrees on the decoded values
        _, _, rows = parse_insert_full(stmt)
        assert rows == [(1, "it's ),( fine"), (2, "x")]

    def test_values_keyword_anchored_past_table_name(self):
        """A table whose NAME contains 'values' must not anchor the fast
        path mid-name."""
        from mysqldump_to_parquet_spark.sources.mysqldump import (
            _values_csv_bytes,
        )

        stmt = "INSERT INTO `my_values_log` VALUES (1,'a'),(2,'b');"
        csv, n = _values_csv_bytes(stmt.encode())
        assert n == 2
        assert csv == b"1,'a'\n2,'b'"

    def test_fast_and_exhaustive_agree_end_to_end(self, spark, tmp_path):
        """A dump mixing fast-path statements (quotes doubled, commas and
        parens inside strings, NULLs, decimals, negative floats) with a
        slow-path statement (backslash escapes) converts to the same rows
        the exhaustive grammar produces.  A statement carrying the
        ``\\0`` escape stays on the fast path (NUL rides the payload as
        SOH), while one whose raw text holds an SOH byte falls back, and
        both rows still convert exactly."""
        from mysqldump_to_parquet_spark.sources.mysqldump import (
            _values_csv_bytes,
            convert_dump,
            parse_insert_full,
        )

        nul_stmt = (
            "INSERT INTO `t1` VALUES "
            "(5,'nul\\0byte',0.5,2.00,0,'2024-05-06 07:08:09');"
        )
        assert _values_csv_bytes(nul_stmt.encode()) is not None
        soh_stmt = (
            "INSERT INTO `t1` VALUES "
            "(6,'raw\x01soh',0.5,3.00,1,'2024-06-07 08:09:10');"
        )
        assert _values_csv_bytes(soh_stmt.encode()) is None

        dump = (
            "CREATE TABLE `t1` (\n"
            "  `id` bigint NOT NULL,\n"
            "  `name` varchar(64) NOT NULL,\n"
            "  `score` double DEFAULT NULL,\n"
            "  `bal` decimal(12,2) NOT NULL,\n"
            "  `ok` boolean NOT NULL,\n"
            "  `ts` datetime NOT NULL,\n"
            "  PRIMARY KEY (`id`)\n"
            ") ENGINE=InnoDB;\n"
            "INSERT INTO `t1` VALUES "
            "(1,'alice',1.5,100.25,1,'2024-01-02 03:04:05'),"
            "(2,'bo''b',NULL,0.10,0,'2024-02-03 04:05:06'),"
            "(3,'it''s, a (test), ok',-2.75,99999999.99,1,'2024-03-04 05:06:07');\n"
            "INSERT INTO `t1` VALUES "
            "(4,'line\\nbreak \\'q\\'',3.25,1.00,TRUE,'2024-04-05 06:07:08');\n"
            + nul_stmt
            + "\n"
            + soh_stmt
            + "\n"
        )
        p = tmp_path / "x.sql"
        p.write_text(dump)
        out = str(tmp_path / "out")
        counts = convert_dump(spark, str(p), out)
        assert counts == {"t1": 6}
        rows = {
            r.id: r for r in spark.read.parquet(f"{out}/t1").collect()
        }
        assert rows[2].name == "bo'b" and rows[2].score is None
        assert rows[3].name == "it's, a (test), ok"
        assert str(rows[3].bal) == "99999999.99"  # exact decimal digits
        assert rows[4].name == "line\nbreak 'q'" and rows[4].ok is True
        assert rows[1].ts == datetime.datetime(2024, 1, 2, 3, 4, 5)
        assert rows[5].name == "nul\x00byte"
        assert str(rows[5].bal) == "2.00"
        assert rows[6].name == "raw\x01soh" and str(rows[6].bal) == "3.00"

    def test_nul_group_over_1mb_stays_on_fast_path(self, monkeypatch):
        """A statement group past 1 MB whose text is full of the ``\\0``
        escape parses in one Arrow-CSV read: pyarrow.csv miscounts
        columns on NUL-bearing payloads past ~0.5 MB, so NUL travels as
        SOH and maps back in the string columns.  The tokenizer is never
        called, and the rows equal the tokenizer's."""
        from mysqldump_to_parquet_spark.sources import mysqldump as md

        schema = T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("s", T.StringType()),
                T.StructField("bal", T.DecimalType(12, 2)),
            ]
        )
        pieces = ["a\\0b", "\\0", "it\\'s", "x\\\\0", "\\0\\0,(),", "中\\n"]
        stmts = [
            "INSERT INTO `t` VALUES "
            + ",".join(
                f"({k * 1000 + i},'{pieces[i % 6] * (i % 9 + 1)}',{i}.25)"
                for i in range(1000)
            )
            + ";"
            for k in range(40)
        ]
        assert sum(map(len, stmts)) > 1024 * 1024
        names = [f.name for f in schema.fields]
        want = [
            dict(zip(names, md.coerce_row(tup, schema, "t")))
            for stmt in stmts
            for tup in md.parse_insert_full(stmt)[2]
        ]
        assert sum("\x00" in r["s"] for r in want) > 10_000
        for r in want:  # the tokenizer's DECIMAL text → its final value
            r["bal"] = Decimal(r["bal"])

        def no_tokenizer(stmt):
            raise AssertionError("fast-path group fell back to the tokenizer")

        monkeypatch.setattr(md, "parse_insert_full", no_tokenizer)
        assert md.parse_statements([s.encode() for s in stmts], "t", schema).to_pylist() == want

    def test_binary_group_over_1mb_stays_on_fast_path(self, monkeypatch):
        """A statement group past 1 MB of ``--hex-blob`` output — ``0x…``
        BLOBs (empty ``0x`` included), NULLs, ``b'…'`` into BIT(8) and
        BIT(64), a quoted caption that spells ``'0x41'`` — parses in one
        Arrow-CSV read: the scan marks each literal with a stand-in byte
        and the read decodes it by column type.  The tokenizer is never
        called, and the rows equal the tokenizer's."""
        from mysqldump_to_parquet_spark.sources import mysqldump as md

        ddl = (
            "CREATE TABLE `b` (`id` bigint NOT NULL, `payload` blob,"
            " `bits` bit(8), `big` bit(64), `caption` varchar(40))"
        )
        schema = md.parse_create_table(ddl).schema
        payloads = ["0x", "NULL", "0x00275C0A", "0x" + "DEADBEEF" * 40, "X'ff00'"]
        bits = ["b'101'", "b''", "NULL", "0x0F", "7", "B'11111111'"]
        bigs = [f"b'{'1' * 64}'", "0xFFFFFFFFFFFFFFFF", "0x01", "NULL", "12"]
        captions = ["'0x41'", "'it''s'", "NULL", "'a\\0b'", "'b''1'''"]
        stmts = [
            "INSERT INTO `b` VALUES "
            + ",".join(
                f"({k * 1000 + i},{payloads[i % 5]},{bits[i % 6]},"
                f"{bigs[i % 5]},{captions[i % 5]})"
                for i in range(1000)
            )
            + ";"
            for k in range(12)
        ]
        assert sum(map(len, stmts)) > 1024 * 1024
        names = [f.name for f in schema.fields]
        want = [
            dict(zip(names, md.coerce_row(tup, schema, "b")))
            for stmt in stmts
            for tup in md.parse_insert_full(stmt)[2]
        ]
        for r in want:  # BIT(64) rides DECIMAL(20,0): text → final value
            r["big"] = None if r["big"] is None else Decimal(r["big"])

        def no_tokenizer(stmt):
            raise AssertionError("fast-path group fell back to the tokenizer")

        monkeypatch.setattr(md, "parse_insert_full", no_tokenizer)
        assert md.parse_statements([s.encode() for s in stmts], "b", schema).to_pylist() == want

    def test_fast_path_matches_exhaustive_on_generated_rows(self):
        """Differential: the Arrow path and the exhaustive tokenizer parse
        the ingest-bench statement shape to identical carrier values."""
        import pandas as pd
        import pyarrow as pa

        from mysqldump_to_parquet_spark.sources.mysqldump import (
            FloatLit,
            _arrow_fast_types,
            _arrow_read_values,
            _values_csv_bytes,
            parse_insert_full,
        )

        schema = T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("name", T.StringType()),
                T.StructField("score", T.DoubleType()),
                T.StructField("bal", T.DecimalType(12, 2)),
                T.StructField("ok", T.BooleanType()),
                T.StructField("ts", T.TimestampType()),
            ]
        )

        def row(i):
            return (
                f"({i},'user''s_{i}',{i / 7.0:.6f},{i}.{i % 100:02d},"
                f"{i % 2},'2023-{i % 12 + 1:02d}-01 10:{i % 60:02d}:00')"
            )

        stmt = "INSERT INTO `b` VALUES " + ",".join(
            row(i) for i in range(500)
        ) + ";"
        _, _, slow_rows = parse_insert_full(stmt)
        csv, n = _values_csv_bytes(stmt.encode())
        tbl = _arrow_read_values(
            csv, [f.name for f in schema.fields], _arrow_fast_types(schema)
        )
        assert tbl.num_rows == n == len(slow_rows) == 500
        fast = tbl.to_pylist()
        for srow, frow in zip(slow_rows, fast):
            conv = []
            for v, f in zip(srow, schema.fields):
                if isinstance(f.dataType, T.DecimalType) and isinstance(
                    v, FloatLit
                ):
                    conv.append(v.raw)
                elif isinstance(f.dataType, T.BooleanType) and isinstance(
                    v, int
                ):
                    conv.append(bool(v))
                else:
                    conv.append(v)
            assert conv == list(frow.values())

    def test_escaped_multibyte_char(self):
        """A backslash before a multibyte UTF-8 char drops the backslash
        and keeps the full character (lead byte substituted, continuation
        bytes copied verbatim)."""
        from mysqldump_to_parquet_spark.sources.mysqldump import (
            _values_csv_bytes,
            parse_insert_full,
        )

        stmt = "INSERT INTO `t` VALUES (1,'caf\\é 中\\文');"
        csv, n = _values_csv_bytes(stmt.encode())
        assert n == 1 and csv.decode() == "1,'café 中文'"
        _, _, rows = parse_insert_full(stmt)
        assert rows == [(1, "café 中文")]

    @pytest.mark.parametrize(
        "stmt",
        [
            # glued charset introducer: Arrow CSV would keep the
            # mid-field quotes literal ("_utf8mb4'abc'") while the
            # exhaustive tokenizer resolves the introducer to 'abc'
            "INSERT INTO `t` VALUES (1,_utf8mb4'abc',1.5);",
            "INSERT INTO `t` VALUES (1,_latin1'x');",
            # half-quoted junk glued to a number
            "INSERT INTO `t` VALUES (1,1.5'x');",
            # junk after a closing quote
            "INSERT INTO `t` VALUES (1,'a'x);",
        ],
    )
    def test_off_boundary_quotes_fall_back(self, stmt):
        """Any quote byte off a field boundary routes to the exhaustive
        parser — the fast path must never silently keep introducer or
        junk bytes inside a string value (round-3 ADVICE, high)."""
        from mysqldump_to_parquet_spark.sources.mysqldump import (
            _values_csv_bytes,
        )

        assert _values_csv_bytes(stmt.encode()) is None

    def test_glued_introducer_end_to_end_matches_tokenizer(self):
        """Differential: the introducer statement parses through the
        exhaustive grammar to the introducer-stripped value."""
        from mysqldump_to_parquet_spark.sources.mysqldump import (
            parse_insert_full,
        )

        _, _, rows = parse_insert_full(
            "INSERT INTO `t` VALUES (1,_utf8mb4'abc',1.5);"
        )
        assert rows[0][1] == "abc"

    def test_doubled_quotes_stay_on_fast_path(self):
        """The boundary guard must not reject '' doubling pairs (both
        quotes of a pair sit next to another quote, not a delimiter)."""
        from mysqldump_to_parquet_spark.sources.mysqldump import (
            _values_csv_bytes,
        )

        stmt = "INSERT INTO `t` VALUES (1,''),(2,'a''b''c'),(3,'''');"
        csv, n = _values_csv_bytes(stmt.encode())
        assert n == 3
        assert csv == b"1,''\n2,'a''b''c'\n3,''''"

    def test_nan_literal_rejected_on_fast_path(self):
        """A bare NaN in a DOUBLE column must raise (the exhaustive
        parser rejects it as an unsupported literal); nulls in the same
        column must not mask it (round-3 ADVICE, low)."""
        from mysqldump_to_parquet_spark.sources.mysqldump import (
            DumpParseError,
            _arrow_fast_types,
            _arrow_read_values,
        )

        schema = T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("score", T.DoubleType()),
            ]
        )
        types = _arrow_fast_types(schema)
        with pytest.raises(DumpParseError, match="non-finite"):
            _arrow_read_values(b"1,NULL\n2,NaN", ["id", "score"], types)
        with pytest.raises(DumpParseError, match="non-finite"):
            _arrow_read_values(b"1,Inf", ["id", "score"], types)
        ok = _arrow_read_values(b"1,NULL\n2,2.5", ["id", "score"], types)
        assert ok.column("score").to_pylist() == [None, 2.5]


def test_statement_longer_than_split_parses_once(
    spark, tmp_path, monkeypatch
):
    """A single INSERT line LARGER than the parse split (1 MiB here) must
    parse exactly once with no row loss or duplication: Hadoop's line
    reader assigns a line to the split containing its start and reads
    past the split end — the splittable-parse contract this pins."""
    from mysqldump_to_parquet_spark.sources import mysqldump as M

    monkeypatch.setattr(M, "_ONEPASS_SPLIT_BYTES", 1024 * 1024)
    n_rows = 90_000  # ~32 B/row -> one ~2.9 MB statement line
    vals = ",".join(f"({i},'user_{i:08d}',{i}.5)" for i in range(n_rows))
    stmt = f"INSERT INTO `t` VALUES {vals};\n"
    assert len(stmt) > 2 * M._ONEPASS_SPLIT_BYTES
    dump = tmp_path / "big.sql"
    dump.write_text(
        "CREATE TABLE `t` (`id` bigint NOT NULL, `name` varchar(20), "
        "`score` double);\n" + stmt
    )
    out = tmp_path / "out"
    counts = M.convert_dump(spark, str(dump), str(out))
    assert counts == {"t": n_rows}
    back = spark.read.parquet(f"{out}/t")
    assert back.count() == n_rows
    assert back.selectExpr("sum(id)").collect()[0][0] == n_rows * (n_rows - 1) // 2
    row = back.where(back.id == 89_999).collect()[0]
    assert row.name == "user_00089999" and row.score == 89999.5


def test_bit_and_hex_string_literals(spark, tmp_path):
    """BIT columns (DDL bit(n) → integer) convert from all three literal
    layouts MySQL dumps produce: b'…' bit literals, 0x… hex (--hex-blob,
    numeric context for an integer-typed column), and plain integers.
    X'…' standard hex strings land in binary columns like 0x…."""
    dump = tmp_path / "bits.sql"
    dump.write_text(
        "CREATE TABLE `flags` (\n"
        "  `id` int NOT NULL,\n"
        "  `mask` bit(8),\n"
        "  `payload` varbinary(4)\n"
        ");\n"
        "INSERT INTO `flags` VALUES "
        "(1,b'101',X'DEAD'),(2,0x0F,x'41'),(3,5,0xBEEF),(4,b'',NULL);\n"
    )
    convert_dump(spark, str(dump), str(tmp_path / "out"))
    got = {
        r.id: (r.mask, bytes(r.payload) if r.payload is not None else None)
        for r in spark.read.parquet(str(tmp_path / "out/flags")).collect()
    }
    assert got == {
        1: (5, b"\xde\xad"),
        2: (15, b"A"),
        3: (5, b"\xbe\xef"),
        4: (0, None),
    }


def test_bit_literal_into_string_column_fails_loud(spark, tmp_path):
    """A bit literal parses to an integer; landing it in a VARCHAR column
    violates C3 and must raise with column context, not stringify."""
    dump = tmp_path / "badbit.sql"
    dump.write_text(
        "CREATE TABLE `t` (`name` varchar(8));\n"
        "INSERT INTO `t` VALUES (b'101');\n"
    )
    with pytest.raises(Exception, match="t.name"):
        convert_dump(spark, str(dump), str(tmp_path / "out"))


def test_generated_column_dump_layout(spark, tmp_path):
    """MySQL dumps tables with generated columns as full DDL (including
    the GENERATED ALWAYS AS (...) STORED clause — expression parens and
    commas inside the column list) plus column-list INSERTs that exclude
    the generated column.  The expression is not evaluable from a dump,
    so the column lands NULL; everything else round-trips.  Also covers
    MySQL-8 expression DEFAULTs and view statements (skipped as noise)."""
    dump = tmp_path / "gen.sql"
    dump.write_text(
        "CREATE TABLE `t` (\n"
        "  `a` int NOT NULL,\n"
        "  `b` int,\n"
        "  `total` int GENERATED ALWAYS AS ((`a` + `b`)) STORED,\n"
        "  `name` varchar(20) DEFAULT (concat('x','-','y'))\n"
        ");\n"
        "INSERT INTO `t` (`a`, `b`, `name`) VALUES (1,2,'u'),(3,4,'v');\n"
        "/*!50001 CREATE ALGORITHM=UNDEFINED VIEW `v` AS "
        "select `t`.`a` AS `a` from `t` */;\n"
    )
    counts = convert_dump(spark, str(dump), str(tmp_path / "out"))
    assert counts == {"t": 2}
    rows = sorted(
        map(tuple, spark.read.parquet(str(tmp_path / "out/t")).collect())
    )
    assert rows == [(1, 2, None, "u"), (3, 4, None, "v")]


def test_spatial_types_convert_as_wkb_binary(spark, tmp_path):
    """Geometry-family DDL types map to BinaryType; values arrive as
    _binary-introduced strings or --hex-blob 0x literals (SRID-prefixed
    WKB) and round-trip byte-faithfully as opaque payloads."""
    # 25-byte WKB point with SRID prefix (SRID 0, little-endian, type 1)
    wkb = "00000000" + "01" + "01000000" + "0" * 32
    dump = tmp_path / "geo.sql"
    dump.write_text(
        "CREATE TABLE `places` (\n"
        "  `id` int NOT NULL,\n  `loc` point,\n  `area` polygon\n);\n"
        f"INSERT INTO `places` VALUES (1,0x{wkb},NULL),(2,NULL,0xDEAD);\n"
    )
    counts = convert_dump(spark, str(dump), str(tmp_path / "out"))
    assert counts == {"places": 2}
    got = {
        r.id: (
            bytes(r.loc) if r.loc is not None else None,
            bytes(r.area) if r.area is not None else None,
        )
        for r in spark.read.parquet(str(tmp_path / "out/places")).collect()
    }
    assert got == {1: (bytes.fromhex(wkb), None), 2: (None, b"\xde\xad")}


def test_databases_dump_layout(spark, tmp_path):
    """mysqldump --databases adds CREATE DATABASE / USE / LOCK TABLES /
    conditional ALTER statements around each table; all are non-DDL
    non-INSERT noise for conversion and must be skipped, not fatal."""
    dump = tmp_path / "db.sql"
    dump.write_text(
        "CREATE DATABASE /*!32312 IF NOT EXISTS*/ `mydb` "
        "/*!40100 DEFAULT CHARACTER SET utf8mb4 */;\n"
        "USE `mydb`;\n"
        "DROP TABLE IF EXISTS `t`;\n"
        "CREATE TABLE `t` (`id` int);\n"
        "LOCK TABLES `t` WRITE;\n"
        "/*!40000 ALTER TABLE `t` DISABLE KEYS */;\n"
        "INSERT INTO `t` VALUES (1),(2);\n"
        "/*!40000 ALTER TABLE `t` ENABLE KEYS */;\n"
        "UNLOCK TABLES;\n"
    )
    assert convert_dump(spark, str(dump), str(tmp_path / "out")) == {"t": 2}
    assert sorted(
        r.id for r in spark.read.parquet(str(tmp_path / "out/t")).collect()
    ) == [1, 2]


def test_bom_and_crlf_dumps(spark, tmp_path):
    """Windows-transferred dumps arrive with CRLF line endings and
    sometimes a UTF-8 BOM; both convert identically to the plain file."""
    body = (
        "CREATE TABLE `t` (`id` int, `s` varchar(8));\r\n"
        "INSERT INTO `t` VALUES (1,'a'),(2,'b');\r\n"
    )
    for name, payload in (
        ("bom", b"\xef\xbb\xbf" + body.encode()),
        ("crlf", body.encode()),
    ):
        d = tmp_path / name
        d.mkdir()
        (d / "d.sql").write_bytes(payload)
        assert convert_dump(spark, str(d / "d.sql"), str(d / "out")) == {
            "t": 2
        }, name
        assert sorted(
            map(tuple, spark.read.parquet(str(d / "out/t")).collect())
        ) == [(1, "a"), (2, "b")], name


def test_empty_or_lowercase_dump_fails_loud(spark, tmp_path):
    """A dump yielding zero tables (wrong path contents, or non-canonical
    lowercase keywords) must raise, not write an empty output dir."""
    d = tmp_path / "lc.sql"
    d.write_text(
        "create table `t` (`id` int);\ninsert into `t` values (1);\n"
    )
    with pytest.raises(DumpParseError, match="no CREATE TABLE"):
        convert_dump(spark, str(d), str(tmp_path / "out"))


def test_onepass_scales_in_table_count(spark, tmp_path):
    """The one-pass convert's cost is one scan regardless of table
    count (the classic per-table path re-reads the statement cache T
    times — the design note in convert_dump).  200 tables convert in a
    single pass with correct per-table routing; the one-scan property is
    asserted structurally (ONE text-read job ran, not one per table)."""
    dump = tmp_path / "many.sql"
    with open(dump, "w") as fh:
        for t in range(200):
            fh.write(f"CREATE TABLE `t{t:03d}` (`id` int, `v` varchar(12));\n")
        for t in range(200):
            vals = ",".join(f"({i},'r{t}_{i}')" for i in range(30))
            fh.write(f"INSERT INTO `t{t:03d}` VALUES {vals};\n")
    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup(None) or [])
    counts = convert_dump(spark, str(dump), str(tmp_path / "out"))
    jobs_run = len(tracker.getJobIdsForGroup(None) or []) - jobs_before
    assert counts == {f"t{t:03d}": 30 for t in range(200)}
    # spot-check routing: values landed in their own table
    mid = spark.read.parquet(str(tmp_path / "out/t117"))
    assert sorted(map(tuple, mid.collect()))[:2] == [(0, "r117_0"), (1, "r117_1")]
    # structural one-scan bound: the conversion runs a handful of driver
    # jobs (DDL probe + the single parse/write pass + commit bookkeeping),
    # NOT one job per table — 200 per-table jobs would trip this at once
    assert jobs_run < 20, f"one-pass ran {jobs_run} jobs for 200 tables"


def test_bit64_full_range_and_introducer_literals(spark, tmp_path):
    """BIT(64) maps to DECIMAL(20,0) so top-bit values survive (review
    finding: signed-long mapping rejected legal 2^63..2^64-1 values), and
    charset introducers may precede X'…'/b'…' literals, not just strings
    and 0x."""
    full = (1 << 64) - 1
    dump = tmp_path / "b64.sql"
    dump.write_text(
        "CREATE TABLE `t` (\n"
        "  `id` int NOT NULL,\n  `big` bit(64),\n  `small` bit(8),\n"
        "  `payload` varbinary(8)\n);\n"
        "INSERT INTO `t` VALUES "
        f"(1,b'{'1' * 64}',b'1',_binary X'DEAD'),"
        f"(2,0xFFFFFFFFFFFFFFFF,_binary b'11',_binary 0x41);\n"
    )
    # a plain path converts one-pass; a scheme'd one per table
    for out in (str(tmp_path / "out_onepass"), f"file://{tmp_path}/out_pt"):
        convert_dump(spark, str(dump), out)
        got = {
            r.id: (int(r.big), r.small, bytes(r.payload))
            for r in spark.read.parquet(f"{out}/t").collect()
        }
        assert got == {1: (full, 1, b"\xde\xad"), 2: (full, 3, b"A")}, out


def test_mixed_plain_and_gzip_glob(spark, tmp_path):
    """A glob matching both .sql and .sql.gz files converts every table —
    Hadoop codecs decode gzip transparently on the text read."""
    import gzip as _gz

    (tmp_path / "a.sql").write_text(
        "CREATE TABLE `t` (`id` int);\nINSERT INTO `t` VALUES (1),(2);\n"
    )
    with _gz.open(tmp_path / "b.sql.gz", "wt") as fh:
        fh.write("CREATE TABLE `u` (`id` int);\nINSERT INTO `u` VALUES (3);\n")
    counts = convert_dump(
        spark, str(tmp_path / "*.sql*"), str(tmp_path / "out")
    )
    assert counts == {"t": 2, "u": 1}


def test_empty_bit_literal_binary_context_is_zero_length(spark, tmp_path):
    """b'' is MySQL's zero-length binary string (LENGTH(b'') = 0) in
    string context and 0 in numeric context — review finding: a
    max(…,1) clamp wrote one 0x00 byte.  BitLit must also pickle
    (int.__getnewargs__ feeds the VALUE to __new__ without the fix)."""
    import pickle

    from mysqldump_to_parquet_spark.sources.mysqldump import BitLit

    for proto in (2, pickle.HIGHEST_PROTOCOL):
        rt = pickle.loads(pickle.dumps(BitLit("101"), proto))
        assert int(rt) == 5 and rt.nbits == 3
    dump = tmp_path / "eb.sql"
    dump.write_text(
        "CREATE TABLE `t` (`id` int, `p` varbinary(4), `m` bit(8));\n"
        "INSERT INTO `t` VALUES (1,b'',b''),(2,b'11',b'101');\n"
    )
    convert_dump(spark, str(dump), str(tmp_path / "out"))
    rows = sorted(
        (r.id, bytes(r.p), r.m)
        for r in spark.read.parquet(str(tmp_path / "out/t")).collect()
    )
    assert rows == [(1, b"", 0), (2, b"\x03", 5)]


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13 re-reads zip directories lazily"
)
def test_invalidate_caches_skips_unchanged_zip_archive(monkeypatch, tmp_path):
    """Spark's workers call importlib.invalidate_caches() on every task and
    planner call; importing the package must stop that from re-reading an
    unchanged zip archive's directory, and still pick up a rewritten one."""
    import importlib
    import zipfile
    import zipimport

    import mysqldump_to_parquet_spark  # noqa: F401  (installs the stamps)

    archive = str(tmp_path / "stamped.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zipstamp_probe_a.py", "X = 1\n")
    saved_path = list(sys.path)
    sys.path.insert(0, archive)
    try:
        import zipstamp_probe_a

        assert zipstamp_probe_a.X == 1
        importlib.invalidate_caches()  # the first call stamps the archive
        reads = []
        real_read = zipimport._read_directory

        def spy(path):
            reads.append(path)
            return real_read(path)

        monkeypatch.setattr(zipimport, "_read_directory", spy)
        importlib.invalidate_caches()
        assert reads.count(archive) == 0

        with zipfile.ZipFile(archive, "w") as zf:
            zf.writestr("zipstamp_probe_a.py", "X = 1\n")
            zf.writestr("zipstamp_probe_b.py", "Y = 2\n")
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        import zipstamp_probe_b

        assert zipstamp_probe_b.Y == 2
    finally:
        sys.path[:] = saved_path
        for name in ("zipstamp_probe_a", "zipstamp_probe_b"):
            sys.modules.pop(name, None)
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)
