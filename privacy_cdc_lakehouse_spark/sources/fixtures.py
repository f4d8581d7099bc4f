"""Fixture table loaders.

``spark.read.parquet`` everywhere, with one adapter: the driver's
``events`` table is written with ``timestamp[ns]`` (nanosecond) columns,
which Spark 4's vectorized parquet reader rejects at *task* time
(PARQUET_TYPE_ILLEGAL — analysis passes, so a try/except around the
read does not catch it). The footer is inspected up front (pyarrow
``read_schema`` — metadata only, no data I/O); when ns columns are
present the read runs distributed under
``spark.sql.legacy.parquet.nanosAsLong`` and the long nanos are cast to
µs timestamps executor-side (integer ``div`` — doubles lose precision
above 2^53, which e18-scale nanos exceed). This keeps a 100 TB events
table fully distributed: no driver materialization, pushdown and
pruning intact on the non-ns columns.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from privacy_cdc_lakehouse_spark.session import _session_stopped

# (session id, absolute path, mtime_ns, size) -> DataFrame handle.
# Round-15 measure: tpch_join_panel alone called load_table 86 times,
# ~0.16 s each (footer/schema read + relation analysis) = 14 s of
# pure DRIVER time per build. The memo caches the lazy PLAN handle,
# never data — every action still scans parquet — and the file
# identity in the key (same discipline as debezium.source_digest)
# means an in-place regeneration gets a fresh read. Entries from
# stopped sessions are purged on every lookup.
_TABLE_MEMO: dict[tuple, DataFrame] = {}
_TABLE_MEMO_LOCK = threading.Lock()


def _ns_timestamp_cols(path: str) -> list[str]:
    """Names of timestamp[ns] columns in the footer. (Just names — the
    µs cast below always interprets the long as a UTC instant; carrying
    the footer tz here would wrongly imply it is honored.)"""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pq.read_schema(path)
    return [
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    try:
        st = os.stat(path)
        key = (id(spark), os.path.abspath(path), st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    if key is not None:
        with _TABLE_MEMO_LOCK:
            for k in list(_TABLE_MEMO):
                if _session_stopped(_TABLE_MEMO[k].sparkSession):
                    del _TABLE_MEMO[k]
            hit = _TABLE_MEMO.get(key)
        if hit is not None:
            return hit
    df = _load_table_uncached(spark, path)
    if key is not None:
        with _TABLE_MEMO_LOCK:
            _TABLE_MEMO[key] = df
    return df


def _load_table_uncached(spark: SparkSession, path: str) -> DataFrame:
    ns_cols = _ns_timestamp_cols(path)
    if not ns_cols:
        return spark.read.parquet(path)
    # Deliberately SESSION-WIDE (matches the session.py builder): with
    # it on, any ns-timestamp parquet read in this session surfaces as
    # BIGINT nanos needing an explicit cast — this loader is the
    # sanctioned path that applies that cast. The alternative (default
    # off) fails the read outright, so there is no silent middle
    # ground; we choose the recoverable mode and own the cast here.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in ns_cols:
        # Floor-division entirely in 64-bit integer math: `div` alone
        # truncates toward zero (pre-epoch negative nanos would round UP
        # by 1µs, diverging from pyarrow/DuckDB floor semantics), and
        # floor(c / 1000.0) would route through a double (exact only to
        # 2^53 — e18-scale nanos exceed it). Subtracting pmod(c, 1000)
        # makes the numerator an exact multiple of 1000 rounded toward
        # -inf, so div is then exact floor. timestamp_micros interprets
        # the long as a UTC instant.
        df = df.withColumn(
            c, F.expr(f"timestamp_micros((`{c}` - pmod(`{c}`, 1000)) div 1000)")
        )
    return df
