"""SparkSession factory.

Replaces the reference's session-config block (Iceberg REST catalog + S3
warehouse, ``/root/reference/jobs/ingest_orders_raw.py:6-19``) with a
self-contained local-or-cluster builder. The lake layer is the Parquet
copy-on-write table format in ``tables.py`` on the stock
``spark_catalog``; no catalog or SQL extension is swapped in. This
module imports nothing from the package, so any module may import it.

Scale notes (100 TB / 1000 executors):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  broadcast-join demotion/promotion are the right defaults at any scale.
- ``spark.sql.shuffle.partitions`` here is a *local* default; on a real
  cluster AQE's coalescing makes the initial number mostly irrelevant as
  long as it is high enough (set ~2-3x total cores).
- Session timezone pinned to UTC so event-time semantics are stable
  across driver/executor zones (and against the DuckDB oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _session_stopped(sess) -> bool:
    """True only when the session is POSITIVELY known stopped. A
    backend without the classic ``_sc._jsc`` internals (Spark Connect)
    must answer "alive", not "stopped" — answering "stopped" there
    made every memo lookup purge the whole memo, silently disabling
    it."""
    sc = getattr(sess, "_sc", None)
    if sc is not None:
        try:
            return sc._jsc is None  # SparkContext.stop() nulls _jsc
        except Exception:
            return False
    stopped = getattr(sess, "is_stopped", None)  # Connect exposes this
    return bool(stopped) if isinstance(stopped, bool) else False


def session_builder(
    app_name: str = "privacy_cdc_lakehouse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession.Builder:
    """Return a configured builder; callers may add/override configs."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or _default_shuffle_partitions()),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # INT96 (the legacy default) carries no parquet min/max stats —
        # micros restores footer stats for timestamp data skipping and
        # scan-level predicate pushdown (what Delta/Iceberg write).
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # ns-timestamp parquet (the events fixture) reads as BIGINT
        # nanos instead of failing; sources/fixtures.load_table is the
        # sanctioned loader that applies the µs cast.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    return builder


def _default_shuffle_partitions() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and cpus.isdigit():
        return max(int(cpus), 8)
    return 32


def get_spark(app_name: str = "privacy_cdc_lakehouse_spark") -> SparkSession:
    """Get-or-create the session with engine defaults."""
    spark = session_builder(app_name).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def pin_utc(spark: SparkSession) -> SparkSession:
    """Pin session timezone to UTC (idempotent; safe on foreign sessions).

    Event-time columns in this engine are instants; comparisons against
    the DuckDB oracle (UTC-naive timestamps) require a UTC session zone.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark
