"""SparkSession construction and per-session tuning.

Two entry points:

* :func:`get_spark` — build a session for standalone use (tests, bench.py).
* :func:`configure_for_oracle` — apply the runtime-settable confs to a
  session we did *not* build (the driver hands us one in
  ``__spark_entry__.entry``/``queries``).  Only runtime-mutable SQL confs are
  touched here; JVM-level settings (driver memory) must be set at build time.

Scale notes (100 TB design point):

* AQE is on everywhere: runtime shuffle-partition coalescing, skew-join
  splitting and dynamic broadcast decisions are exactly the knobs that keep a
  1000-executor plan healthy without hand-tuning per query.
* ``spark.sql.shuffle.partitions`` is a *local* default (≈ cores); on a real
  cluster AQE's coalescing makes the initial number mostly irrelevant as long
  as it is high enough, so we set it from the env and let AQE shrink.
* Session timezone is pinned to UTC — the reference interprets dump
  timestamps as UTC (src/parquet_writer.rs:186–191) and the DuckDB oracle
  stores naive-UTC timestamps, so parity requires it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime-settable SQL confs applied to every session we touch.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # Spark 4 defaults ANSI on; the oracle contract wants NULL-on-miss cast
    # semantics in queries (ingest enforces its own loud C3 errors).
    "spark.sql.ansi.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def _default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return int(cpus)
    return os.cpu_count() or 8


def _default_driver_memory() -> str:
    """Driver heap: ``SPARK_DRIVER_MEMORY`` if set, else half the host's
    physical RAM capped at 32 GiB — a fixed 32g heap on a 16 GB host lets
    the JVM grow until the kernel kills it."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(32 << 10, phys // 2 >> 20)}m"


def configure_for_oracle(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an externally-built session (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # conf not settable on this build — non-fatal
            pass
    return spark


def get_spark(
    app_name: str = "mysqldump_to_parquet_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a tuned local session (tests / bench)."""
    cores = _default_parallelism()
    master = master or f"local[{cores}]"
    shuffle_partitions = shuffle_partitions or cores
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", _default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return configure_for_oracle(spark)
