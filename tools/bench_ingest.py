#!/usr/bin/env python
"""Ingest (dump → Parquet) throughput benchmark.

The reference is a single-node converter with no published numbers
(BASELINE.md), so the conversion contract — "match or beat single-node
throughput at the same data scale" — is evidenced by measuring this
engine on a deterministic synthetic mysqldump of realistic shape:
multiple tables, extended INSERTs (~1000 rows/statement, mysqldump's
default packing), mixed column types including the reference's five plus
the fixed-forward DECIMAL/DATE/BOOLEAN.

    python tools/bench_ingest.py [--mb 64] [--tables 8]
    python tools/bench_ingest.py --dumpgen-seed 1 --mb 160 --keep-dump
    python tools/bench_ingest.py --dump-path DUMP [--file-uri]
    python tools/bench_ingest.py --fixed-cost

Prints ONE JSON line: {"dump_mb": ..., "rows": ..., "wall_s": ...,
"mb_per_s": ..., "rows_per_s": ...}.  The dump is generated to a temp
dir, timed end-to-end through ``convert_dump`` (schema collection, parse,
write, row-count observation), and the output is spot-verified.

The reference cannot be built here (offline container), so there is no
head-to-head column; the recorded MB/s stands as this engine's
single-node number on the container's 32 cores.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROWS_PER_STMT = 1000


DDL = """CREATE TABLE `{name}` (
  `id` bigint NOT NULL,
  `name` varchar(64) NOT NULL,
  `score` double DEFAULT NULL,
  `balance` decimal(12,2) NOT NULL,
  `active` tinyint(1) NOT NULL,
  `created` datetime NOT NULL,
  `birthday` date DEFAULT NULL,
  PRIMARY KEY (`id`)
) ENGINE=InnoDB;
"""


def _row(i: int) -> str:
    day = i % 28 + 1
    return (
        f"({i},'user_{i:08d}',{(i % 997) / 7.0:.6f},{i % 100000}.{i % 100:02d},"
        f"{i % 2},'2023-{i % 12 + 1:02d}-{day:02d} 10:{i % 60:02d}:00',"
        f"'199{i % 10}-0{i % 9 + 1}-{day:02d}')"
    )


def generate_dump(path: str, target_mb: float, n_tables: int) -> int:
    """Write a deterministic multi-table dump of ~target_mb; returns rows."""
    target = int(target_mb * 1024 * 1024)
    written = 0
    rows = 0
    i = 0
    with open(path, "w") as f:
        f.write("-- synthetic mysqldump for ingest benchmarking\n")
        f.write("/*!40101 SET NAMES utf8mb4 */;\n")
        for t in range(n_tables):
            f.write(DDL.format(name=f"bench_{t}"))
        while written < target:
            t = i % n_tables
            vals = ",".join(_row(i * ROWS_PER_STMT + j) for j in range(ROWS_PER_STMT))
            stmt = f"INSERT INTO `bench_{t}` VALUES {vals};\n"
            f.write(stmt)
            written += len(stmt)
            rows += ROWS_PER_STMT
            i += 1
    return rows


FIXED_COST_ROUNDS = 5
FIXED_COST_TASKS = 40


def _fixed_cost(spark, cpus: int) -> dict:
    """Time the fixed cost of a Python crossing, after one warm call of
    each pair, in FIXED_COST_ROUNDS alternating rounds: FIXED_COST_TASKS
    no-op ``mapInArrow`` tasks against a projection with as many JVM tasks,
    and a 10-row ``format("mysqldump")`` ``load()``, ``count()`` and
    ``save()`` against their Parquet twins."""
    from mysqldump_to_parquet_spark.sources.dump_datasource import (
        MysqldumpDataSource,
    )

    spark.dataSource.register(MysqldumpDataSource)
    work = tempfile.mkdtemp(prefix="fixed_cost_")
    try:
        dump = os.path.join(work, "ten.sql")
        with open(dump, "w") as f:
            f.write(DDL.format(name="ten"))
            f.write(f"INSERT INTO `ten` VALUES {','.join(_row(i) for i in range(10))};\n")
        twin = os.path.join(work, "ten.parquet")
        spark.read.format("mysqldump").option("path", dump).option(
            "table", "ten"
        ).load().write.parquet(twin)

        def noop(batches):
            for b in batches:
                yield b.slice(0, 0)

        tasks = spark.range(0, FIXED_COST_TASKS, 1, FIXED_COST_TASKS)

        def load(fmt):
            if fmt == "parquet":
                return spark.read.parquet(twin)
            return spark.read.format("mysqldump").option("path", dump).option(
                "table", "ten"
            ).load()

        def save(fmt):
            w = spark.read.parquet(twin).write.mode("overwrite")
            if fmt == "parquet":
                w.parquet(os.path.join(work, "out.parquet"))
            else:
                w.format("mysqldump").option(
                    "path", os.path.join(work, "out.sql")
                ).option("table", "ten").save()

        pairs = {
            "tasks": {
                "python": lambda: tasks.mapInArrow(noop, tasks.schema).count(),
                "jvm": lambda: tasks.selectExpr("id + 1 AS id").count(),
            },
            "load": {f: (lambda f=f: load(f)) for f in ("mysqldump", "parquet")},
            "count": {
                f: (lambda f=f: load(f).count()) for f in ("mysqldump", "parquet")
            },
            "save": {f: (lambda f=f: save(f)) for f in ("mysqldump", "parquet")},
        }
        for sides in pairs.values():
            for run in sides.values():
                run()
        seconds = {
            what: {side: [] for side in sides} for what, sides in pairs.items()
        }
        for r in range(FIXED_COST_ROUNDS):
            for what, sides in pairs.items():
                order = list(sides) if r % 2 == 0 else list(sides)[::-1]
                for side in order:
                    t0 = time.perf_counter()
                    sides[side]()
                    seconds[what][side].append(round(time.perf_counter() - t0, 3))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return {
        "what": f"{FIXED_COST_TASKS} no-op mapInArrow tasks vs a "
        f"{FIXED_COST_TASKS}-task JVM projection over spark.range(0, "
        f"{FIXED_COST_TASKS}, 1, {FIXED_COST_TASKS}).count(); a 10-row "
        "format('mysqldump') load(), load().count() and save() vs the same "
        "10 rows in Parquet; after one warm call of each, "
        f"{FIXED_COST_ROUNDS} alternating rounds",
        "cpus": cpus,
        "nproc": os.cpu_count(),
        "python": sys.version.split()[0],
        "seconds": seconds,
        "median_s": {
            what: {side: sorted(v)[len(v) // 2] for side, v in sides.items()}
            for what, sides in seconds.items()
        },
        "loadavg": [round(x, 2) for x in os.getloadavg()],
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mb", type=float, default=64.0)
    ap.add_argument("--tables", type=int, default=8)
    ap.add_argument(
        "--gzip",
        type=int,
        default=0,
        metavar="N",
        help="compress the dump into N compressed members (the "
        "unsplittable-input path: parallelism is per member, like real "
        "mysqldump | gzip output sharded by table or chunk); pick the "
        "member codec with --codec",
    )
    ap.add_argument(
        "--codec",
        choices=("gzip", "zstd", "bzip2"),
        default="gzip",
        help="member compression codec for --gzip N sharding (r12: the "
        "ingest reads .sql.zst and .sql.bz2 alongside .sql.gz — zstd "
        "decodes JVM-side via the bundled zstd-jni, bzip2 via the pure-"
        "Java splittable Hadoop codec); the record gains input_codec",
    )
    ap.add_argument(
        "--datasource",
        action="store_true",
        help="benchmark the composable spark.read.format('mysqldump') "
        "reader (splittable byte-range scan -> Arrow batches) instead of "
        "the bulk convert_dump path; times a full read+count of table "
        "bench_0",
    )
    ap.add_argument(
        "--multiline",
        type=int,
        default=0,
        metavar="FILES",
        help="reformat to the no---extended-insert layout (one value "
        "tuple per line, statements span lines) split across FILES "
        "files; exercises the byte-range statement-reassembly path",
    )
    ap.add_argument(
        "--out-dir",
        default=None,
        metavar="DIR",
        help="write the parquet output under DIR instead of the work "
        "dir — point it at a different filesystem (e.g. /dev/shm) to "
        "ISOLATE read-side pressure from the output writeback when the "
        "dump no longer fits page cache (the r9 32 GB open question: "
        "how much of the past-cache slowdown is the parquet write "
        "contending for the same device)",
    )
    ap.add_argument(
        "--compression",
        default="snappy",
        metavar="CODEC[:LEVEL]",
        help="parquet codec for the conversion output (snappy, zstd, "
        "zstd:1, zstd:3, lz4, gzip); the record gains out_mb so a codec "
        "sweep reads bytes-written vs wall off one JSON line per run",
    )
    ap.add_argument(
        "--keep-dump",
        action="store_true",
        help="keep the generated dump (and print its path to stderr) so "
        "an A/B pair of runs pays the multi-GB generation once; a "
        "`<dump>.rows` sidecar records the row count for --dump-path "
        "reuse.  The caller owns cleanup.",
    )
    ap.add_argument(
        "--dumpgen-seed",
        type=int,
        default=None,
        metavar="SEED",
        help="generate the dump with perfbench/dumpgen.py (the `ingest` "
        "workload's 8-table dump, all mapped types, escapes, binary "
        "literals) at this seed and --mb size, instead of the "
        "round-robin bench_N tables; --tables is then ignored",
    )
    ap.add_argument(
        "--file-uri",
        action="store_true",
        help="hand the output dir to convert_dump as a file:// URI: "
        "output with a scheme takes the per-table fallback (one Spark "
        "Parquet write per table) instead of the one-pass task-side "
        "writers, so the same dump times both paths",
    )
    ap.add_argument(
        "--dump-path",
        default=None,
        metavar="FILE",
        help="reuse an existing dump from a prior --keep-dump run "
        "(reads the row count from the `<dump>.rows` sidecar; skips "
        "generation).  Incompatible with --gzip/--multiline reshaping.",
    )
    ap.add_argument(
        "--fixed-cost",
        action="store_true",
        help="time the fixed cost of a Python crossing instead of a "
        "conversion: no-op mapInArrow tasks against JVM tasks, and a "
        "10-row format('mysqldump') load/count/save against Parquet "
        "(the other flags are ignored)",
    )
    args = ap.parse_args()
    if args.dumpgen_seed is not None and args.dump_path:
        ap.error("--dumpgen-seed generates a dump; --dump-path reuses one")
    if args.dump_path and (args.gzip or args.multiline):
        ap.error("--dump-path reuses a plain dump; cannot reshape it")
    if args.keep_dump and (args.gzip or args.multiline):
        # the reshaping paths UNLINK work/bench.sql after rewriting it,
        # so there is no plain dump left to keep
        ap.error("--keep-dump keeps the plain dump; --gzip/--multiline "
                 "delete it after reshaping")
    if args.keep_dump and args.dump_path:
        ap.error("--keep-dump is meaningless with --dump-path (the dump "
                 "already lives outside the work dir)")
    if args.multiline and args.gzip:
        # the multiline branch replaces the dump with a glob of plain
        # files; the gzip branch would then reopen (and re-unlink) the
        # already-deleted original path (ADVICE r5)
        ap.error("--multiline and --gzip cannot be combined")

    from mysqldump_to_parquet_spark.session import get_spark
    from mysqldump_to_parquet_spark.sources.mysqldump import convert_dump

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = get_spark(
        app_name="mtps-bench-ingest",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    if args.fixed_cost:
        try:
            print(json.dumps(_fixed_cost(spark, cpus)))
        finally:
            spark.stop()
        return
    work = tempfile.mkdtemp(prefix="ingest_bench_")
    cleanup_dirs: list[str] = []
    try:
        if args.dump_path:
            dump = args.dump_path
            with open(dump + ".rows") as fh:
                side = json.loads(fh.read())
            rows = side["rows"]
            # the dump's shape is baked in at generation time — the
            # reuse run must inherit it, or the per-table round-robin
            # assertions (and the recorded `tables`) silently lie
            args.tables = side["tables"]
            table_rows = side.get("table_rows")
        else:
            dump = os.path.join(work, "bench.sql")
            table_rows = None
            if args.dumpgen_seed is not None:
                from perfbench import dumpgen

                record = dumpgen.generate(dump, args.dumpgen_seed, args.mb)
                table_rows = {t: r["rows"] for t, r in record["tables"].items()}
                rows, args.tables = sum(table_rows.values()), len(table_rows)
            else:
                rows = generate_dump(dump, args.mb, args.tables)
            with open(dump + ".rows", "w") as fh:
                json.dump({"rows": rows, "tables": args.tables,
                           "mb": args.mb, "table_rows": table_rows}, fh)
        dump_mb = os.path.getsize(dump) / 1024 / 1024
        if args.multiline:
            # rewrite each extended INSERT as a multi-line statement:
            # header on its own line, one value tuple per line —
            # the layout of a dump taken without --extended-insert or
            # reformatted by a pretty-printer
            outs = [
                open(os.path.join(work, f"ml{i:03d}.sql"), "w")
                for i in range(args.multiline)
            ]
            with open(dump) as fh:
                i = 0
                for line in fh:
                    if line.startswith("INSERT"):
                        head, vals = line.split(" VALUES ", 1)
                        out = outs[i % args.multiline]
                        out.write(head + " VALUES\n")
                        out.write(vals.rstrip("\n").rstrip(";").replace("),(", "),\n(") + ";\n")
                        i += 1
                    else:
                        outs[0].write(line)
            for o in outs:
                o.close()
            os.unlink(dump)
            dump = os.path.join(work, "*.sql")
            dump_mb = sum(
                os.path.getsize(os.path.join(work, f))
                for f in os.listdir(work)
                if f.endswith(".sql")
            ) / 1024 / 1024
        if args.gzip:
            # shard the plain dump into N compressed members: DDL lines
            # go to member 0; INSERT lines round-robin (statements are
            # self-contained one-liners, so any sharding is valid)
            import io

            import pyarrow as pa

            ext, codec = {
                "gzip": ("gz", "gzip"),
                "zstd": ("zst", "zstd"),
                "bzip2": ("bz2", "bz2"),
            }[args.codec]
            outs = [
                io.TextIOWrapper(
                    pa.output_stream(
                        os.path.join(work, f"part{i:03d}.sql.{ext}"),
                        compression=codec,
                    )
                )
                for i in range(args.gzip)
            ]
            with open(dump) as fh:
                i = 0
                for line in fh:
                    if line.startswith("INSERT"):
                        outs[i % args.gzip].write(line)
                        i += 1
                    else:
                        outs[0].write(line)
            for o in outs:
                o.close()
            os.unlink(dump)
            dump = os.path.join(work, f"*.sql.{ext}")

        # Warmup on a small prefix so JVM/codegen startup stays out of the
        # measured number (same policy as bench.py).
        warmdir = tempfile.mkdtemp(prefix="ingest_warm_")
        warm = os.path.join(warmdir, "warm.sql")
        with open(warm, "w") as f:
            f.write(DDL.format(name="warm"))
            if args.multiline:  # warm the same (reassembly) code path
                f.write(f"INSERT INTO `warm` VALUES\n{_row(1)};\n")
            else:
                f.write(f"INSERT INTO `warm` VALUES {_row(1)};\n")
        warm_out = os.path.join(warmdir, "warm_out")
        convert_dump(spark, warm, f"file://{warm_out}" if args.file_uri else warm_out)
        # spawn the full Python-worker pool up front (same startup-cost
        # policy as the JVM warmup: worker fork+import is session setup,
        # not conversion throughput; both layouts benefit equally)
        spark.sparkContext.parallelize(range(cpus * 2), cpus * 2).map(
            lambda x: x
        ).count()
        shutil.rmtree(warmdir, ignore_errors=True)

        # Instrument the timed window so throughput claims are
        # falsifiable (the round-8 lesson: the r5 "disk-bound" story
        # collapsed the moment /proc/diskstats was actually read —
        # device reads were ZERO, the dump being page-cached).
        def _disk():
            # Attribute I/O to the device that actually hosts the DUMP
            # (the read side being measured; st_dev major/minor matched
            # against /proc/diskstats), not "the first disk" — and not
            # the work dir, which --dump-path decouples from the dump's
            # device: a reused dump on a second drive would otherwise
            # report dev_read ≈ 0 and fabricate the exact "disk was
            # idle" conclusion this instrumentation exists to test.
            # Falls back to the first conventional whole-disk name if
            # no row matches.
            import re as _re

            try:
                st = os.stat(
                    os.path.dirname(args.dump_path) or "."
                    if args.dump_path
                    else work
                )
                want = (os.major(st.st_dev), os.minor(st.st_dev))
                fallback = None
                with open("/proc/diskstats") as fh:
                    for ln in fh:
                        p = ln.split()
                        if (int(p[0]), int(p[1])) == want:
                            return int(p[5]) * 512, int(p[9]) * 512
                        if fallback is None and _re.fullmatch(
                            r"(?:[vs]d[a-z]|nvme\d+n\d+)", p[2]
                        ):
                            fallback = int(p[5]) * 512, int(p[9]) * 512
                return fallback
            except OSError:
                return None

        def _cpu():
            try:
                with open("/proc/stat") as fh:
                    v = list(map(int, fh.readline().split()[1:]))
                return sum(v), v[3], v[4]  # total, idle, iowait
            except OSError:
                return None

        d0, c0 = _disk(), _cpu()

        if args.datasource:
            from mysqldump_to_parquet_spark.sources.dump_datasource import (
                MysqldumpDataSource,
            )

            spark.dataSource.register(MysqldumpDataSource)
            reader = (
                spark.read.format("mysqldump")
                .option("path", dump)
                .option("table", "bench_0")
            )
            t0 = time.perf_counter()
            got = reader.load().count()
            wall = time.perf_counter() - t0
            # the scan reads the WHOLE dump; rows credited are bench_0's
            expected = table_rows["bench_0"] if table_rows else sum(
                1 for i in range(rows) if (i // ROWS_PER_STMT) % args.tables == 0
            )
            assert got == expected, (got, expected)
            counts = {"bench_0": got}
            rows = got
        else:
            if args.out_dir:
                out = tempfile.mkdtemp(prefix="ingest_out_", dir=args.out_dir)
                cleanup_dirs.append(out)
            else:
                out = os.path.join(work, "out")
            t0 = time.perf_counter()
            counts = convert_dump(
                spark,
                dump,
                f"file://{out}" if args.file_uri else out,
                compression=args.compression,
            )
            wall = time.perf_counter() - t0

            assert sum(counts.values()) == rows, (counts, rows)
            got = spark.read.parquet(os.path.join(out, "bench_0")).count()
            assert got == counts["bench_0"]
            out_bytes = sum(
                os.path.getsize(os.path.join(r, f))
                for r, _dd, files in os.walk(out)
                for f in files
            )

        d1, c1 = _disk(), _cpu()
        rec = {
            "dump_mb": round(dump_mb, 1),
            "rows": rows,
            "tables": args.tables,
            "cpus": cpus,
            "wall_s": round(wall, 2),
            "mb_per_s": round(dump_mb / wall, 1),
            "rows_per_s": int(rows / wall),
            "loadavg": [round(x, 2) for x in os.getloadavg()],
        }
        if not args.datasource:
            rec["compression"] = args.compression
            rec["file_uri"] = args.file_uri
            rec["out_mb"] = round(out_bytes / 1048576, 1)
        if args.gzip:
            rec["input_codec"] = args.codec
            rec["members"] = args.gzip
        if d0 and d1:
            rec["dev_read_mb"] = round((d1[0] - d0[0]) / 1048576)
            rec["dev_write_mb"] = round((d1[1] - d0[1]) / 1048576)
        if c0 and c1 and c1[0] > c0[0]:
            tot = c1[0] - c0[0]
            rec["cpu_busy_frac"] = round(
                1 - (c1[1] - c0[1] + c1[2] - c0[2]) / tot, 3
            )
            rec["iowait_frac"] = round((c1[2] - c0[2]) / tot, 3)
        if args.out_dir:
            rec["out_dir"] = args.out_dir
        print(json.dumps(rec))
    finally:
        for d in cleanup_dirs:
            shutil.rmtree(d, ignore_errors=True)
        if args.keep_dump:
            # keep the dump (+ .rows sidecar) for --dump-path reuse;
            # reclaim the parquet output now — caller owns the rest
            shutil.rmtree(os.path.join(work, "out"), ignore_errors=True)
            print(f"kept dump: {os.path.join(work, 'bench.sql')}",
                  file=sys.stderr)
        else:
            shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
