"""SQL catalog/DDL surface over the lake table layer.

The reference publishes its medallion tables through a catalog: it
creates namespaces and tables with SQL DDL
(``/root/reference/jobs/ingest_orders_raw.py:22-34``), reads them back
with ``spark.table()`` (``jobs/merge_orders_silver.py:25-47``), defines
the privacy layer as a standing VIEW (``README.md:106-117``), and its
verification surface is ``SHOW SCHEMAS`` / ``SHOW TABLES``
(``README.md:200-201``). This module provides the same surface against
``LakeTable`` snapshots using Spark's built-in session catalog:

- ``create_namespaces`` — ``CREATE DATABASE IF NOT EXISTS`` for the
  medallion namespaces (bronze / silver / monitoring).
- ``register_table`` — publishes a LakeTable snapshot as a catalog
  VIEW (``CREATE OR REPLACE VIEW db.name AS <snapshot SQL>``). The
  view body is pure SQL over the snapshot's parquet data dirs
  (``parquet.`path``` scans unioned with per-dir exclusion predicates),
  so the object is addressable via ``spark.table("db.name")`` and
  visible to ``SHOW TABLES`` with no data copied. Registration pins
  the *current* snapshot — re-register after commits to advance (the
  same publish step an Iceberg catalog performs implicitly at commit).
- ``register_lakehouse`` — registers the full medallion layout plus
  the standing pseudonymization view ``silver.orders_current_priv``
  defined over ``silver.orders_current`` — direct parity with the
  reference's privacy VIEW.

Scale note: a catalog view over N parquet dirs plans exactly like the
programmatic ``LakeTable.read()`` union — per-dir column pruning and
filter/partition pushdown still apply; the catalog adds addressability,
not a new execution path.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession

from privacy_cdc_lakehouse_spark.functions.scalars import pii_salt
from privacy_cdc_lakehouse_spark.tables import LakeTable, _entry

NAMESPACES = ("bronze", "silver", "monitoring")

# Session-catalog DDL is not atomic under concurrency: CREATE OR
# REPLACE VIEW is drop+create inside the in-memory catalog, so two
# driver threads registering the same medallion view race into
# TABLE_OR_VIEW_ALREADY_EXISTS (surfaced by the engine's own §2.6
# job-overlap patterns — e.g. building independent queries from a
# thread pool). DDL here is microseconds of driver work; one process-
# wide lock removes the race without serializing anything expensive.
_DDL_LOCK = threading.Lock()


def create_namespaces(spark: SparkSession, namespaces=NAMESPACES) -> None:
    """CREATE DATABASE IF NOT EXISTS for each medallion namespace
    (≙ ``CREATE NAMESPACE IF NOT EXISTS demo.bronze``,
    ``ingest_orders_raw.py:22``)."""
    with _DDL_LOCK:
        for ns in namespaces:
            spark.sql(f"CREATE DATABASE IF NOT EXISTS `{ns}`")


def snapshot_sql(table: LakeTable, version: int | None = None) -> str:
    """SQL text selecting the table's snapshot: one ``parquet.`dir```
    scan per data dir, missing-column NULL fill (additive schema
    evolution), exclusion predicates from partition-scoped merges."""
    v = version if version is not None else table.current_version()
    if v is None:
        raise FileNotFoundError(f"table has no commits: {table.path}")
    entries = table._snapshot_files(v)
    target = table.schema(v)
    if not entries:
        # TRUNCATE'd snapshot: the table layer serves it as a 0-row
        # typed DataFrame, and the catalog view must stay registrable
        # too — emit a typed empty SELECT instead of joining zero arms
        # into unparseable SQL.
        cols = ", ".join(
            f"CAST(NULL AS {f.dataType.simpleString()}) AS `{f.name}`"
            for f in target.fields
        )
        return f"SELECT {cols} WHERE 1 = 0"
    selects = []
    for e in entries:
        path = os.path.join(table.path, e["path"])
        dir_cols = set(table.spark.read.parquet(path).columns)
        cols = ", ".join(
            f"`{f.name}`"
            if f.name in dir_cols
            else f"CAST(NULL AS {f.dataType.simpleString()}) AS `{f.name}`"
            for f in target.fields
        )
        where = ""
        if e["excludes"]:
            preds = " AND ".join(
                f"NOT coalesce(({p}), false)" for p in e["excludes"]
            )
            where = f" WHERE {preds}"
        selects.append(f"SELECT {cols} FROM parquet.`{path}`{where}")
    return "\nUNION ALL\n".join(selects)


def register_table(
    spark: SparkSession, qualified_name: str, table: LakeTable
) -> None:
    """Publish the current snapshot as catalog view ``db.name``."""
    sql = f"CREATE OR REPLACE VIEW {qualified_name} AS {snapshot_sql(table)}"
    with _DDL_LOCK:
        spark.sql(sql)


def register_lakehouse(spark: SparkSession, lake, salt: str | None = None) -> None:
    """Register the medallion layout in the session catalog.

    bronze.orders_cdc_raw / silver.orders_current /
    monitoring.cdc_checkpoints as snapshot views, plus the standing
    privacy view silver.orders_current_priv (``README.md:106-117``) —
    a catalog object over silver, so it tracks silver re-registration.
    """
    create_namespaces(spark)
    register_table(spark, "bronze.orders_cdc_raw", lake.bronze)
    register_table(spark, "silver.orders_current", lake.silver)
    if lake.checkpoints.exists():
        register_table(spark, "monitoring.cdc_checkpoints", lake.checkpoints)
    # Default to the SAME env-aware salt build_privacy/forget_user use —
    # a catalog view salted differently from the privacy table would
    # publish pseudonyms the erasure path can never find. The literal is
    # escaped ('' doubling) so an exotic salt can't break out of the
    # view SQL.
    s = (salt if salt is not None else pii_salt()).replace("'", "''")
    with _DDL_LOCK:
        spark.sql(
            f"""
            CREATE OR REPLACE VIEW silver.orders_current_priv AS
            SELECT order_id,
                   sha2(concat_ws('::', CAST(user_id AS STRING), '{s}'), 256)
                     AS user_key,
                   amount_eur, status, last_change_ts
            FROM silver.orders_current
            """
        )


def show_schemas(spark: SparkSession) -> DataFrame:
    """SHOW SCHEMAS restricted to the medallion namespaces
    (``README.md:200`` parity)."""
    return (
        spark.sql("SHOW SCHEMAS")
        .filter(f"namespace IN {NAMESPACES!r}")
        .selectExpr("namespace AS schema_name")
        .orderBy("schema_name")
    )


def show_tables(spark: SparkSession) -> DataFrame:
    """SHOW TABLES across the medallion namespaces (``README.md:201``)."""
    out = None
    for ns in NAMESPACES:
        # SHOW TABLES IN <db> also lists session TEMP views (with an
        # empty namespace) — filter them or any temp view created by
        # an earlier query in the session leaks into every namespace's
        # listing.
        t = (
            spark.sql(f"SHOW TABLES IN `{ns}`")
            .filter("NOT isTemporary")
            .selectExpr("namespace AS schema_name", "tableName AS table_name")
        )
        out = t if out is None else out.unionByName(t)
    return out.orderBy("schema_name", "table_name")
