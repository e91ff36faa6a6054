"""Command-line entry point — parity with the reference's CLI
(/root/reference/src/main.rs:26–37: positional input + ``--output``).

    python -m mysqldump_to_parquet_spark.cli dump.sql[.gz|.zst|.bz2|.xz] --output out/

Differences from the reference, by design:
* stdin (``-``) is supported by SPOOLING to a local temp file first — a
  pipe is inherently one sequential stream, so spooling costs one disk
  write and buys back the splittable parallel parse (the reference
  streams stdin single-threaded, src/main.rs:56; same ceiling, no spool);
* output is one Parquet *directory* per table (multi-part, scalable), not
  one file;
* ``--compression`` exposes the Parquet codec.  Default zstd:1 — a
  measured, intentional divergence from the reference's hardcoded
  Snappy (src/parquet_writer.rs:69–91): the r11 8 GB sweep found codec
  choice invisible in wall time (the parse is the bottleneck) while
  zstd:1 writes 2.4× fewer bytes, and the r10 32 GB A/B showed output
  writeback is the larger half of the past-page-cache throughput tax.
  ``--compression snappy`` restores reference-identical output.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="mysqldump_to_parquet_spark",
        description="Convert a MySQL logical dump to one Parquet dataset per table.",
    )
    ap.add_argument(
        "input",
        help="path to a .sql dump, optionally compressed as .sql.gz / "
        ".sql.zst / .sql.bz2 / .sql.xz (glob ok; one task per compressed "
        "member), or '-' to read the dump from stdin (spooled to a local "
        "temp file, then parsed with full parallelism: "
        "mysqldump db | %(prog)s - -o out/).  The layout is detected: "
        "one-line INSERTs (--extended-insert) or statements spanning "
        "lines both convert, with no flag",
    )
    ap.add_argument(
        "--output",
        "-o",
        required=True,
        help="output directory; a URI with a scheme (s3a://…, file://…) "
        "converts each table through Spark's own Parquet writer instead "
        "of the one-pass task-side writers",
    )
    ap.add_argument(
        "--compression",
        default="zstd:1",
        help="parquet codec, optionally with a level for level-bearing "
        "codecs: snappy | zstd | zstd:1 | zstd:3 | lz4 | gzip.  Default "
        "zstd:1 — the r11 8 GB sweep (BASELINE.md) measured it at "
        "snappy's wall (the parse is the bottleneck, not the codec) "
        "with 2.4× fewer output bytes, and writeback is the larger "
        "half of the past-page-cache tax (r10 A/B).  Pass snappy to "
        "match the reference converter byte-for-byte.",
    )
    ap.add_argument("--master", default=None, help="Spark master (default local[cores])")
    ap.add_argument(
        "--export",
        metavar="TABLE",
        default=None,
        help="reverse direction: treat INPUT as a Parquet dataset and write "
        "it to OUTPUT as mysqldump-style .sql files (00-schema.sql DDL + "
        "extended INSERTs) under the given table name",
    )
    args = ap.parse_args(argv)

    spool_dir = None
    if args.input == "-":
        if args.export:
            print("--export reads a Parquet path; '-' is dump-only", file=sys.stderr)
            return 2
        # Reference parity (src/main.rs:56 reads stdin): a pipe is one
        # sequential stream, so spool it to a local temp file — one disk
        # write buys back the splittable parallel parse.  The spool name
        # carries the stream's REAL format: `cat dump.sql.zst | cli -`
        # would otherwise land compressed bytes in a .sql file and
        # garbage-parse — sniff the magic and suffix accordingly so the
        # normal extension dispatch decodes it (r12).
        spool_dir = tempfile.mkdtemp(prefix="mtps_stdin_")
        head = sys.stdin.buffer.read(6)
        ext = ".sql"
        for magic, suffix in (
            (b"\x1f\x8b", ".sql.gz"),
            (b"\x28\xb5\x2f\xfd", ".sql.zst"),
            (b"BZh", ".sql.bz2"),
            (b"\xfd7zXZ\x00", ".sql.xz"),
        ):
            if head.startswith(magic):
                ext = suffix
                break
        spooled = os.path.join(spool_dir, "stdin" + ext)
        with open(spooled, "wb") as fh:
            fh.write(head)
            shutil.copyfileobj(sys.stdin.buffer, fh, length=8 * 1024 * 1024)
        print(
            f"[ingest] spooled {os.path.getsize(spooled):,} bytes from stdin",
            file=sys.stderr,
        )
        args.input = spooled

    from .session import get_spark
    from .sources.mysqldump import convert_dump

    spark = get_spark(app_name="mysqldump-to-parquet", master=args.master)
    try:
        if args.export:
            from pyspark.sql import Observation
            from pyspark.sql import functions as F

            from .sources.dump_datasource import register

            register(spark)
            obs = Observation("export")
            df = spark.read.parquet(args.input).observe(
                obs, F.count(F.lit(1)).alias("rows")
            )
            (
                df.write.format("mysqldump")
                .option("path", args.output)
                .option("table", args.export)
                .mode("append")
                .save()
            )
            print(
                json.dumps(
                    {
                        "exported": args.export,
                        "rows": obs.get["rows"],
                        "output": args.output,
                    }
                )
            )
            return 0
        counts = convert_dump(
            spark,
            args.input,
            args.output,
            compression=args.compression,
            progress=True,
        )
        print(json.dumps({"tables": counts, "output": args.output}))
        return 0
    finally:
        spark.stop()
        if spool_dir is not None:
            shutil.rmtree(spool_dir, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
