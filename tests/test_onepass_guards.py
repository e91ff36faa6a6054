"""Guards around the one-pass convert's shared-filesystem contract
(ADVICE r5): scheme'd output must never be abspath-mangled into a local
path, and a non-shared staging directory must fall back to the per-table
writers instead of surfacing as FileNotFoundError after the parse.
"""

from __future__ import annotations

import subprocess
import sys

import pytest

from mysqldump_to_parquet_spark.sources import mysqldump as M

DUMP = (
    "CREATE TABLE `t` (`id` int NOT NULL, `v` varchar(8));\n"
    "INSERT INTO `t` VALUES (1,'a'),(2,'b'),(3,'c');\n"
)


def test_forced_onepass_scheme_output_raises(spark, tmp_path):
    """The one-pass entry point with an object-store URI fails before any
    work — previously os.path.abspath mangled it into <cwd>/s3:/bucket/out
    and wrote locally while reporting success.  (convert_dump routes such
    output to the per-table writers before it gets here.)"""
    dump = tmp_path / "d.sql"
    dump.write_text(DUMP)
    schemas = M.collect_schemas(spark, str(dump))
    with pytest.raises(ValueError, match="scheme"):
        M.convert_dump_onepass(
            spark, str(dump), "s3a://bucket/out", schemas=schemas, ranges=None
        )


def test_staging_probe_detects_invisible_marker(spark, tmp_path, monkeypatch):
    """_probe_staging_visibility raises OnepassStagingInvisible when the
    executor-written marker is not visible to the driver (simulated by
    intercepting the driver-side stat)."""
    staging = tmp_path / "staging"
    staging.mkdir()
    real_exists = M.os.path.exists
    monkeypatch.setattr(
        M.os.path,
        "exists",
        lambda p: False
        if str(p).endswith("_driver_visibility_probe")
        else real_exists(p),
    )
    with pytest.raises(M.OnepassStagingInvisible):
        M._probe_staging_visibility(spark, str(staging))


def test_auto_falls_back_per_table_when_staging_invisible(
    spark, tmp_path, monkeypatch
):
    """convert_dump on a cluster whose executors cannot share the output
    filesystem silently selects the per-table Spark writers."""
    dump = tmp_path / "d.sql"
    dump.write_text(DUMP)

    def boom(*a, **k):
        raise M.OnepassStagingInvisible("simulated non-shared staging")

    monkeypatch.setattr(M, "convert_dump_onepass", boom)
    out = tmp_path / "out"
    counts = M.convert_dump(spark, str(dump), str(out))  # auto
    assert counts == {"t": 3}
    got = {r.id: r.v for r in spark.read.parquet(str(out / "t")).collect()}
    assert got == {1: "a", 2: "b", 3: "c"}


def test_staging_lifecycle_clean_and_orphan_gc(spark, tmp_path):
    """The one-pass commit protocol's staging hygiene (VERDICT r11 #8):
    a successful convert leaves NO `_staging_*` under the output dir
    (the in-process `finally` removes it); a leftover from a crashed
    run — simulated by an old-mtime staging dir — is swept by the next
    convert into the same output, while a RECENT one (a concurrent live
    convert's) is left alone.  Output completeness is asserted in both
    cases.  Object-store mapping in ARCHITECTURE.md "One-pass commit on
    object stores"."""
    import os
    import time

    dump = tmp_path / "d.sql"
    dump.write_text(DUMP)
    out = tmp_path / "out"

    counts = M.convert_dump(spark, str(dump), str(out))
    assert counts == {"t": 3}
    assert not [p for p in os.listdir(out) if p.startswith("_staging_")]

    # plant a crashed run's orphan (old) and a live run's staging (new)
    orphan = out / "_staging_deadbeef"
    live = out / "_staging_live"
    for d in (orphan, live):
        d.mkdir()
        (d / "part-00000-x.parquet").write_bytes(b"junk")
    old = time.time() - M._STAGING_GC_AGE_S - 60
    # a crashed run's WHOLE tree is stale — age the leaf too (a fresh
    # leaf under a stale root is the live-convert case, tested below)
    os.utime(orphan / "part-00000-x.parquet", (old, old))
    os.utime(orphan, (old, old))

    counts = M.convert_dump(spark, str(dump), str(out))
    assert counts == {"t": 3}
    assert not orphan.exists()  # swept
    assert live.exists()  # a concurrent convert's staging survives
    got = {r.id: r.v for r in spark.read.parquet(str(out / "t")).collect()}
    assert got == {1: "a", 2: "b", 3: "c"}  # junk never surfaced
    # the `_` prefix keeps any leftover invisible to Spark readers
    assert spark.read.parquet(str(out / "t")).count() == 3


def test_staging_gc_spares_fresh_leaf_under_stale_root(tmp_path):
    """Liveness is judged on the staging TREE, not the root dir's mtime
    (VERDICT r12 nit #2): tasks write into nested per-table subdirs,
    which never refresh the root — a >24 h convert sharing an output
    dir with a later convert must NOT have its live staging swept.  A
    tree whose newest leaf is also stale IS swept."""
    import os
    import time

    out = tmp_path / "out"
    out.mkdir()
    old = time.time() - M._STAGING_GC_AGE_S - 60

    # long-running convert: stale root, stale intermediate dir, but a
    # leaf file the writing task touched seconds ago
    live = out / "_staging_longrun"
    (live / "t").mkdir(parents=True)
    leaf = live / "t" / "part-00000-a.parquet"
    leaf.write_bytes(b"live")
    os.utime(live / "t", (old, old))
    os.utime(live, (old, old))

    # crashed convert: every member stale
    dead = out / "_staging_crashed"
    (dead / "t").mkdir(parents=True)
    (dead / "t" / "part-00000-b.parquet").write_bytes(b"junk")
    for p in (dead / "t" / "part-00000-b.parquet", dead / "t", dead):
        os.utime(p, (old, old))

    M._gc_orphaned_staging(str(out))
    assert leaf.exists(), "fresh leaf under stale root must survive GC"
    assert not dead.exists(), "fully-stale tree must be swept"


def test_xz_listing_failure_surfaces_loudly(tmp_path):
    """The .xz check's listing (`_xz_listing`) must not swallow non-'no files' listing
    failures (VERDICT r12 nit #1): a transient FS/permission fault
    during the binaryFile listing re-raises instead of silently routing
    a glob that may hold .xz onto the JVM text scan.  A genuine
    path-not-found still answers False with no files (the caller's own
    scan raises its own, better error)."""
    from pyspark.errors import AnalysisException

    class _Reader:
        def __init__(self, exc):
            self._exc = exc

        def format(self, _):
            return self

        def load(self, _):
            raise self._exc

    class _Spark:
        def __init__(self, exc):
            self.read = _Reader(exc)

    transient = AnalysisException("Permission denied listing bucket")
    with pytest.raises(AnalysisException, match="Permission denied"):
        M._xz_listing(_Spark(transient), str(tmp_path / "dumps" / "*"))

    missing = AnalysisException(
        "[PATH_NOT_FOUND] Path does not exist: file:/nope/*"
    )
    assert M._xz_listing(_Spark(missing), "/nope/*") == (False, [])


def test_xz_guard_covers_globs_at_direct_call_sites(spark, tmp_path):
    """The string-suffix guard alone lets `dir/*` globs matching .xz
    members reach the JVM scan (ADVICE r12); direct collect_schemas
    callers now pay the one-listing check and fail loudly.  The guard
    must ALSO leave session conf untouched when it raises — the
    maxPartitionBytes save/set happens after it (ADVICE r12)."""
    import lzma

    d = tmp_path / "dumps"
    d.mkdir()
    (d / "a.sql").write_text(DUMP)
    (d / "b.sql.xz").write_bytes(
        lzma.compress(DUMP.encode())
    )
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    with pytest.raises(M.DumpParseError, match="not JVM-decodable"):
        M.collect_schemas(spark, str(d / "*"))
    assert spark.conf.get("spark.sql.files.maxPartitionBytes") == prev


def test_staging_probe_reports_task_oserror(spark):
    """When the staging path is unwritable on the executor (the real
    node-local-disk failure: the driver-side makedirs never happened on
    that node), the probe must raise OnepassStagingInvisible with the
    executor's OSError — not die as an opaque 4×-retried task failure."""
    with pytest.raises(M.OnepassStagingInvisible, match="executor error"):
        M._probe_staging_visibility(spark, "/proc/sys/_mtps_no_such_dir_")


def test_probe_passes_on_shared_fs(spark, tmp_path):
    """On a genuinely shared filesystem the probe is a no-op: marker
    written by the task, seen and removed by the driver."""
    staging = tmp_path / "staging"
    staging.mkdir()
    M._probe_staging_visibility(spark, str(staging))
    assert list(staging.iterdir()) == []  # marker cleaned up


def test_bench_ingest_rejects_multiline_gzip_combo():
    """--multiline rewrites the dump into a glob of plain files; --gzip
    would then reopen (and re-unlink) the deleted original path — the
    combination is rejected at argparse time, before Spark starts."""
    proc = subprocess.run(
        [sys.executable, "tools/bench_ingest.py", "--multiline", "2",
         "--gzip", "2", "--mb", "1"],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=60,
    )
    assert proc.returncode == 2
    assert "--multiline and --gzip" in proc.stderr
