"""CLI surface tests — reference parity for src/main.rs:26–37 (positional
input + --output), the stdin spool mode, and flag propagation."""

from __future__ import annotations

import json

import pytest

from mysqldump_to_parquet_spark import cli
from mysqldump_to_parquet_spark import session as session_mod
from mysqldump_to_parquet_spark.sources.mysqldump import DEMO_DUMP


class _NoStop:
    """Session proxy whose stop() is a no-op — the CLI owns its session's
    lifecycle, but in tests the session is shared with the whole suite."""

    def __init__(self, sp):
        self._sp = sp

    def __getattr__(self, name):
        return getattr(self._sp, name)

    def stop(self):
        pass


def test_cli_stdin_spools_and_converts(spark, tmp_path, capsys, monkeypatch):
    """Reference parity for `mysqldump db | tool` (src/main.rs:56): stdin
    is spooled to a temp file, converted with full parallelism, and the
    spool is removed afterwards."""
    import io
    import sys as _sys

    monkeypatch.setattr(session_mod, "get_spark", lambda **kw: _NoStop(spark))

    class _Stdin:
        buffer = io.BytesIO(DEMO_DUMP.encode())

    monkeypatch.setattr(_sys, "stdin", _Stdin())
    rc = cli.main(["-", "--output", str(tmp_path / "out")])
    assert rc == 0
    captured = capsys.readouterr()
    assert "spooled" in captured.err
    payload = json.loads(captured.out.strip().splitlines()[-1])
    assert payload["tables"] == {"acct": 3}
    assert spark.read.parquet(str(tmp_path / "out/acct")).count() == 3
    import glob as _glob

    assert not _glob.glob("/tmp/mtps_stdin_*")  # spool cleaned up


@pytest.mark.parametrize("codec", ["gzip", "zstd", "bzip2", "xz"])
def test_cli_stdin_compressed_stream_detected(
    spark, tmp_path, capsys, monkeypatch, codec
):
    """`cat dump.sql.zst | cli -` (r12): the spool sniffs the stream's
    magic bytes and suffixes the temp file accordingly, so compressed
    stdin decodes through the normal extension dispatch instead of
    garbage-parsing as .sql."""
    import io
    import lzma
    import sys as _sys

    import pyarrow as pa

    raw = DEMO_DUMP.encode()
    if codec == "xz":
        data = lzma.compress(raw)
    else:
        buf = pa.BufferOutputStream()
        pa_codec = {"gzip": "gzip", "bzip2": "bz2", "zstd": "zstd"}[codec]
        with pa.output_stream(buf, compression=pa_codec) as fh:
            fh.write(raw)
        data = buf.getvalue().to_pybytes()

    monkeypatch.setattr(session_mod, "get_spark", lambda **kw: _NoStop(spark))

    class _Stdin:
        buffer = io.BytesIO(data)

    monkeypatch.setattr(_sys, "stdin", _Stdin())
    rc = cli.main(["-", "--output", str(tmp_path / "out")])
    assert rc == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["tables"] == {"acct": 3}
    assert spark.read.parquet(str(tmp_path / "out/acct")).count() == 3


def test_cli_stdin_export_rejected(capsys):
    assert cli.main(["-", "--output", "/tmp/nowhere", "--export", "t"]) == 2
    assert "dump-only" in capsys.readouterr().err


def test_cli_happy_path(spark, tmp_path, capsys, monkeypatch):
    monkeypatch.setattr(session_mod, "get_spark", lambda **kw: _NoStop(spark))
    dump = tmp_path / "demo.sql"
    dump.write_text(DEMO_DUMP)
    rc = cli.main([str(dump), "--output", str(tmp_path / "out")])
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()[-1]
    payload = json.loads(out)
    assert payload["tables"] == {"acct": 3}
    assert spark.read.parquet(str(tmp_path / "out/acct")).count() == 3


def test_cli_converts_multiline_dump(spark, tmp_path, monkeypatch):
    """The CLI has no layout flag: a multi-line dump converts as is."""
    monkeypatch.setattr(session_mod, "get_spark", lambda **kw: _NoStop(spark))
    dump = tmp_path / "ml.sql"
    dump.write_text("CREATE TABLE `m` (`id` int);\nINSERT INTO `m` VALUES\n(1);\n")
    assert cli.main([str(dump), "--output", str(tmp_path / "out2")]) == 0
    assert spark.read.parquet(str(tmp_path / "out2/m")).count() == 1


def test_cli_export_round_trip(spark, tmp_path, capsys, monkeypatch):
    """convert → export → convert again: the CLI round-trips a dump
    through Parquet and back with identical rows."""
    monkeypatch.setattr(session_mod, "get_spark", lambda **kw: _NoStop(spark))
    dump = tmp_path / "demo.sql"
    dump.write_text(DEMO_DUMP)
    assert cli.main([str(dump), "--output", str(tmp_path / "pq")]) == 0
    rc = cli.main(
        [
            str(tmp_path / "pq/acct"),
            "--output", str(tmp_path / "dump_out"),
            "--export", "acct",
        ]
    )
    assert rc == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload == {
        "exported": "acct", "rows": 3, "output": str(tmp_path / "dump_out"),
    }
    # re-convert the exported dump: same rows as the original conversion
    assert cli.main([str(tmp_path / "dump_out/*.sql"),
                     "--output", str(tmp_path / "pq2")]) == 0
    a = sorted(map(tuple, spark.read.parquet(str(tmp_path / "pq/acct")).collect()))
    b = sorted(map(tuple, spark.read.parquet(str(tmp_path / "pq2/acct")).collect()))
    assert a == b


def test_cli_strategy_per_table_end_to_end(spark, tmp_path, capsys, monkeypatch):
    """A scheme'd --output drives the per-table jobs through the full CLI
    path (arg parsing → convert → JSON report) and lands the same dataset
    as the default one-pass path — the object-store-output configuration
    stays exercised end-to-end, not just via the library differential in
    test_ingest.py."""
    monkeypatch.setattr(session_mod, "get_spark", lambda **kw: _NoStop(spark))
    dump = tmp_path / "demo.sql"
    dump.write_text(DEMO_DUMP)
    rc = cli.main(
        [
            str(dump),
            "--output", f"file://{tmp_path}/pt",
        ]
    )
    assert rc == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["tables"] == {"acct": 3}
    assert cli.main([str(dump), "--output", str(tmp_path / "op")]) == 0
    a = spark.read.parquet(str(tmp_path / "pt/acct"))
    b = spark.read.parquet(str(tmp_path / "op/acct"))
    assert a.schema == b.schema
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_cli_export_round_trip_binary(spark, tmp_path, capsys, monkeypatch):
    """Binary columns (blob/WKB) export as 0x hex-blob literals and
    re-convert byte-identically — the round trip the spatial/BLOB
    support depends on."""
    monkeypatch.setattr(session_mod, "get_spark", lambda **kw: _NoStop(spark))
    dump = tmp_path / "bin.sql"
    dump.write_text(
        "CREATE TABLE `g` (`id` int NOT NULL, `wkb` geometry, `b` blob);\n"
        "INSERT INTO `g` VALUES (1,0xCAFEBABE,0x00FF),(2,NULL,0x41);\n"
    )
    assert cli.main([str(dump), "--output", str(tmp_path / "pq")]) == 0
    assert cli.main(
        [
            str(tmp_path / "pq/g"),
            "--output", str(tmp_path / "dump_out"),
            "--export", "g",
        ]
    ) == 0
    capsys.readouterr()
    assert cli.main(
        [str(tmp_path / "dump_out/*.sql"), "--output", str(tmp_path / "pq2")]
    ) == 0
    a = sorted(map(tuple, spark.read.parquet(str(tmp_path / "pq/g")).collect()))
    b = sorted(map(tuple, spark.read.parquet(str(tmp_path / "pq2/g")).collect()))
    assert a == b
    assert a[0][1] == bytearray(b"\xca\xfe\xba\xbe")
