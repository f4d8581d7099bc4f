"""Medallion pipeline jobs: bronze ingest → silver → privacy, batch form.

One function per reference job:

- ``ingest_bronze``      ≙ ``/root/reference/jobs/ingest_orders_raw.py``
  (Kafka batch read → project/cast → append to bronze). Source here is
  the simulated Debezium stream (``sources/debezium.py``) or any
  DataFrame with the same envelope columns.
- ``rebuild_silver``     ≙ ``/root/reference/jobs/build_orders_silver.py``
  (full scan → parse → latest-state → atomic replace).
- ``merge_silver``       ≙ ``/root/reference/jobs/merge_orders_silver.py``
  (checkpoint read → stats-pruned read of the bronze dirs above the
  watermark → parse → dedup → 3-clause MERGE → checkpoint advance as a
  checked rewrite of the one-row-per-pipeline table).
- ``build_privacy``      ≙ ``/root/reference/jobs/build_privacy_table.py``
  (scan silver → pseudonymize → atomic replace).

The manual checkpoint table (pipeline, last_offset, updated_at —
``/root/reference/jobs/merge_orders_silver.py:41-47``) is kept as a
monitoring artifact exactly as the reference roadmap suggests; the
streaming path (``streaming/pipeline.py``) uses Spark-managed
checkpoints instead and treats this table as observability.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from privacy_cdc_lakehouse_spark.cdc.privacy import pseudonymize_orders
from privacy_cdc_lakehouse_spark.cdc.silver import (
    latest_state,
    parse_cdc_envelope,
    silver_from_bronze,
)
from privacy_cdc_lakehouse_spark.tables import LakeTable


@dataclass
class Lakehouse:
    """Path layout for the medallion tables under one warehouse root."""

    spark: SparkSession
    root: str

    @property
    def bronze(self) -> LakeTable:
        return LakeTable(self.spark, f"{self.root}/bronze/orders_cdc_raw")

    @property
    def silver(self) -> LakeTable:
        return LakeTable(self.spark, f"{self.root}/silver/orders_current")

    @property
    def privacy(self) -> LakeTable:
        return LakeTable(self.spark, f"{self.root}/silver/orders_current_priv")

    @property
    def checkpoints(self) -> LakeTable:
        return LakeTable(self.spark, f"{self.root}/monitoring/cdc_checkpoints")


# Silver is hive-partitioned on a stable hash bucket of the merge key so
# incremental MERGE rewrites only the buckets a micro-batch touches
# (Delta's dynamic-partition-overwrite pattern). 16 buckets at test
# scale; at 100 TB you size this so |table|/N_BUCKETS ≈ a few GB —
# write amplification per batch is then O(|table|/N × touched buckets),
# not O(|table|). pmod (not %) keeps negative keys in range.
SILVER_BUCKETS = 16


def _with_bucket(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "order_bucket", F.pmod(F.col("order_id"), F.lit(SILVER_BUCKETS))
    )


def ingest_bronze(lake: Lakehouse, records: DataFrame) -> int:
    """Append raw envelope records to bronze (project/cast parity with
    ``ingest_orders_raw.py:42-53``)."""
    projected = records.select(
        F.col("topic").cast("string"),
        F.col("partition").cast("int"),
        F.col("offset").cast("long"),
        F.col("kafka_ts").cast("timestamp"),
        F.col("k").cast("string"),
        F.col("v").cast("string"),
        F.coalesce(F.col("ingested_at"), F.current_timestamp()).alias("ingested_at"),
    )
    return lake.bronze.append(projected)


def bronze_high_watermark(lake: Lakehouse) -> int:
    """Max ingested bronze offset (−1 when bronze is absent) — resolved
    from the manifest's parquet-footer stats when available (driver
    metadata only, no scan), with a scan fallback for stats-less
    legacy dirs. This is what makes bronze ingest idempotent under
    at-least-once redelivery without a per-batch table scan."""
    if not lake.bronze.exists():
        return -1
    stats = lake.bronze.column_minmax_from_stats("offset")
    if stats is not None:
        # An inexact max (excluded rows still count in footer stats) is
        # an outer envelope: it can only route more records to the
        # exact-membership anti-join, never drop a new one.
        return int(stats[1]) if stats[1] is not None else -1
    # None: some live file has no offset stats (a stats-less legacy
    # dir), so only a scan knows the max.
    row = lake.bronze.read().agg(F.max("offset").alias("hi")).collect()[0]
    return int(row["hi"]) if row["hi"] is not None else -1


def ingest_bronze_idempotent(lake: Lakehouse, records: DataFrame) -> int | None:
    """Replay-safe ingest for at-least-once delivery (foreachBatch can
    re-deliver a batch if the process dies between the bronze append
    and the stream checkpoint commit; without this guard those rows
    would land twice).

    Records strictly above the bronze high watermark are appended on
    the fast path (one cached driver scalar, no bronze scan). A batch
    that STRADDLES the watermark — possible with non-mtime-ordered
    file sources, backfills, or multi-partition upstreams — is NOT a
    pure replay: its sub-watermark rows may be genuinely new late
    arrivals, and a global-max filter would silently drop them (data
    loss, not dedup). That case dedups on exact offset membership: an
    anti-join against only the bronze slice overlapping the batch's
    offset range, which footer-stats data skipping prunes to the few
    files that can hold it — at 100 TB the probe touches the replayed
    window, never the log. Offsets are globally unique row identities
    (``sources/debezium.py``: offset = key*4 + seq). Returns the new
    bronze version or None when every record was already ingested."""
    hi = bronze_high_watermark(lake)
    if hi >= 0:
        bounds = records.agg(
            F.min("offset").alias("lo"), F.max("offset").alias("mx")
        ).collect()[0]
        if bounds["lo"] is None:
            return None
        if int(bounds["lo"]) > hi:
            # Fast path: a non-NULL min proves the batch non-empty and
            # nothing filters it, so no isEmpty() job is needed.
            return ingest_bronze(lake, records)
        seen = lake.bronze.read(
            where=[("offset", ">=", int(bounds["lo"])), ("offset", "<=", hi)]
        ).select("offset")
        records = records.join(seen, "offset", "left_anti")
    if records.isEmpty():
        return None
    return ingest_bronze(lake, records)


def rebuild_silver(lake: Lakehouse) -> int:
    """Full atomic rebuild of silver from the entire bronze log."""
    return lake.silver.overwrite(
        _with_bucket(silver_from_bronze(lake.bronze.read())),
        partition_by=["order_bucket"],
    )


def build_privacy(lake: Lakehouse, salt: str | None = None) -> int:
    """Full atomic rebuild of the pseudonymized projection."""
    return lake.privacy.overwrite(pseudonymize_orders(lake.silver.read(), salt))


def forget_user(
    lake: Lakehouse,
    user_id: int,
    salt: str | None = None,
    mode: str = "copy_on_write",
) -> dict[str, int]:
    """GDPR-style erasure across the medallion: delete the subject's
    rows from silver AND the pseudonymized projection, and append an
    audit row to monitoring (what a privacy lakehouse must prove to a
    regulator: when, whom, how many rows).

    Bronze is the immutable ingest log — real deployments expire it by
    retention (`vacuum`) rather than surgical rewrite; the serving
    layers are scrubbed immediately. Both deletes are copy-on-write
    snapshots, so time travel BEFORE the erasure version still sees the
    data until `vacuum` reclaims it — run `vacuum(retain_last=1)` to
    make erasure irreversible, which the audit row records.

    ``mode="merge_on_read"`` takes the O(1) tombstone path instead
    (Delta deletion-vector pattern): the subject disappears from every
    read IMMEDIATELY with no table rewrite — at 100 TB the takedown SLA
    decouples from the rewrite cost — but the bytes persist until the
    `compact()` + `vacuum()` maintenance pass, which a regulator-proof
    deployment must schedule; the audit row records the mode so the
    erasure trail shows which guarantee was given when. Predicates on
    this path are strings built ONLY from `int()`-coerced ids and the
    hex pseudonym — still injection-free.

    ``salt`` MUST be the salt `build_privacy` was run with (defaults
    to the same env-derived `pii_salt()` both share) — the projection
    is keyed by pseudonym, so a mismatched salt would delete nothing
    there while the audit claims success."""
    from privacy_cdc_lakehouse_spark.functions.scalars import pii_salt, pseudonym

    if mode not in ("copy_on_write", "merge_on_read"):
        raise ValueError(f"unknown erasure mode: {mode!r}")
    spark = lake.spark
    n_silver = 0
    v_silver = -1
    if lake.silver.exists():
        if mode == "merge_on_read":
            v_silver, n_silver = lake.silver.delete_where(
                f"user_id = {int(user_id)}",
                return_count=True,
                mode="merge_on_read",
            )
        else:
            # Typed Column predicates end-to-end — no string
            # interpolation on the erasure path (round-2 advisory:
            # injection-shaped API). The audit count rides the delete's
            # own rewrite scan (Observation API) — one pass over
            # silver, not two.
            v_silver, n_silver = lake.silver.delete_where(
                F.col("user_id") == int(user_id), return_count=True
            )
    v_priv = None
    if lake.privacy.exists():
        # The projection is keyed by pseudonym, not raw id — derive it
        # with the SAME salt the projection was built with.
        # `salt if salt is not None` — NOT `salt or`: an empty-string
        # salt is a legal salt `build_privacy` may have used, and the
        # falsy check would silently look up the wrong pseudonym,
        # delete nothing, and still write a success audit row (the
        # exact silent-GDPR-failure this docstring warns about).
        key = (
            spark.range(1)
            .select(
                pseudonym(
                    F.lit(int(user_id)),
                    salt if salt is not None else pii_salt(),
                ).alias("k")
            )
            .collect()[0]["k"]
        )
        if mode == "merge_on_read":
            # `key` is a sha2 hex string — a fixed safe charset.
            v_priv = lake.privacy.delete_where(
                f"user_key = '{key}'", mode="merge_on_read"
            )
        else:
            v_priv = lake.privacy.delete_where(
                F.col("user_key") == F.lit(key)
            )
    # Built on the JVM (not createDataFrame): one literal row needs no
    # Python worker.
    audit = spark.range(1).select(
        F.lit(PIPELINE).alias("pipeline"),
        F.lit(int(user_id)).cast("long").alias("subject_id"),
        F.lit(int(n_silver)).cast("long").alias("rows_erased"),
        F.lit(f"forget_user:{mode}").alias("action"),
        F.current_timestamp().alias("at"),
    )
    LakeTable(spark, f"{lake.root}/monitoring/privacy_audit").append(audit)
    return {
        "rows_erased": n_silver,
        "silver_version": v_silver,
        "privacy_version": v_priv if v_priv is not None else -1,
    }


PIPELINE = "orders"

# Measured-batch broadcast sizing for merge_silver: a conservative
# in-memory width for the narrow staged row (7 scalar columns; JVM
# UnsafeRow ~8B/field + string/timestamp payloads, padded generously).
# 512 MiB cap / 256 B ≈ 2M staged rows still broadcast — far above any
# sane CDC micro-batch, while a mis-routed backfill falls back to
# shuffle joins.
_EST_ROW_BYTES = 256
_BROADCAST_CAP_BYTES = 512 << 20


def _last_offset(lake: Lakehouse) -> int:
    """Checkpoint watermark (−1 when absent) — the deliberate
    plan→driver round-trip the reference performs
    (``merge_orders_silver.py:50-55``)."""
    if not lake.checkpoints.exists():
        return -1
    row = (
        lake.checkpoints.read()
        .filter(F.col("pipeline") == F.lit(PIPELINE))
        .agg(F.max("last_offset").alias("lo"))
        .collect()[0]
    )
    return row["lo"] if row["lo"] is not None else -1


def merge_silver(
    lake: Lakehouse, write_change_data: bool = False
) -> int | None:
    """Incremental silver upsert: new offsets only, then 3-clause MERGE.

    Returns the new silver version, or None when no new data (early-exit
    guard parity: ``merge_orders_silver.py:63-66``).

    ``write_change_data=True`` records each merge commit's row-level
    effect as Change Data Feed files (``LakeTable.read_changes``) — the
    lakehouse re-exports the same CDC contract it consumes, so a
    downstream consumer tails silver without re-reading snapshots.
    """
    lo = _last_offset(lake)
    # where= prunes every bronze dir whose footer max offset is at or
    # below the watermark before any listing or scan; the residual
    # filter keeps the rows exactly read().filter(offset > lo).
    fresh = lake.bronze.read(where=[("offset", ">", lo)])
    if fresh.isEmpty():
        return None

    # The checkpoint high-watermark rides the staged computation via
    # the Observation API — no separate max(offset) scan of the fresh
    # slice (round-5 review: that was one redundant bronze pass per
    # micro-batch).
    obs = Observation()
    fresh = fresh.observe(obs, F.max("offset").alias("hi"))

    # Parse + deterministic top-1 per key. Keep tombstones: the MERGE
    # DELETE clause consumes them (merge_orders_silver.py:139).
    # persist(): the staged micro-batch feeds FOUR consumers (the
    # bucket-count collect, the MERGE's three join sides) — without it
    # each re-runs the parse + SortAggregate over the fresh bronze
    # slice; with it the batch materializes once (it is micro-batch
    # sized by construction).
    staged = _with_bucket(
        latest_state(parse_cdc_envelope(fresh), drop_tombstones=False, keep_op=True)
    ).persist()
    try:
        return _merge_staged(
            lake, staged, obs, write_change_data=write_change_data
        )
    finally:
        staged.unpersist()


def _merge_staged(
    lake: Lakehouse, staged: DataFrame, obs, write_change_data: bool = False
) -> int | None:
    if not lake.silver.exists():
        lake.silver.overwrite(
            staged.filter(F.col("op") != "d").drop("op"),
            partition_by=["order_bucket"],
        )
    else:
        # Partition-scoped copy-on-write: only the buckets this batch
        # touches are rewritten; everything else stays committed with
        # the bucket predicate excluded (readers prune it as a
        # PartitionFilter). The touched-bucket collect is ≤SILVER_BUCKETS
        # rows — the same planning round-trip Delta performs for dynamic
        # partition overwrite. Per-bucket COUNTS ride the same job: the
        # staged batch derives from a filter over (100 TB of) bronze,
        # where Catalyst's size-only estimate keeps the full table size
        # and the MERGE guard would pessimize every micro-batch to
        # shuffle joins — so the pipeline MEASURES the batch it staged
        # and vouches for the broadcast itself (broadcast_hint).
        bucket_counts = staged.groupBy("order_bucket").count().collect()
        touched = sorted(r["order_bucket"] for r in bucket_counts)
        n_staged = sum(r["count"] for r in bucket_counts)
        if touched:  # all-malformed batch stages nothing: just advance
            pf = f"order_bucket IN ({', '.join(str(b) for b in touched)})"
            # validate_unique_source=False: staged is latest_state()
            # output — a groupBy(order_id) — so key uniqueness is
            # structural; skipping the check saves one Spark job per
            # micro-batch (the default stays True for user sources).
            lake.silver.merge(
                staged,
                keys=["order_id"],
                matched_delete=F.col("s.op") == "d",
                insert_condition=F.col("s.op") != "d",
                validate_unique_source=False,
                partition_filter=pf,
                broadcast_hint=n_staged * _EST_ROW_BYTES <= _BROADCAST_CAP_BYTES,
                write_change_data=write_change_data,
            )

    # obs resolved by the actions above (bucket-count collect or the
    # initial overwrite) — the max rode the staged scan for free.
    _advance_checkpoint(lake, obs.get["hi"])
    return lake.silver.current_version()


def compute_dq_metrics(lake: Lakehouse) -> int:
    """Data-quality snapshot over silver → monitoring table (the
    reference's roadmap item: "null checks, negative amounts,
    duplicates with a metrics table", README.md:227).

    One aggregate scan → one metrics row appended (time-series of DQ
    snapshots). At scale this is a single partial+final agg — no extra
    shuffle beyond the final single-row reduce.
    """
    silver = lake.silver.read()
    metrics = silver.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0)).alias(
            "null_user_ids"
        ),
        F.sum(F.when(F.col("amount_eur").isNull(), 1).otherwise(0)).alias(
            "null_amounts"
        ),
        F.sum(F.when(F.col("amount_eur") < 0, 1).otherwise(0)).alias(
            "negative_amounts"
        ),
        (F.count("*") - F.countDistinct("order_id")).alias("duplicate_keys"),
    ).withColumn("computed_at", F.current_timestamp())
    table = LakeTable(lake.spark, f"{lake.root}/monitoring/dq_metrics")
    return table.append(metrics) if table.exists() else table.overwrite(metrics)


def _advance_checkpoint(lake: Lakehouse, offset: int) -> None:
    """Scalar MERGE parity (``merge_orders_silver.py:156-165``): the same
    rows, column order and ``merge`` history op as a MERGE on
    ``pipeline``. The table holds one row per pipeline, so the MERGE is
    a checked rewrite: drop this pipeline's row (``eqNullSafe``, like
    MERGE's ``<=>`` keys, keeps a NULL-pipeline row), add the new one,
    and commit through ``_commit_rewrite``, which raises
    ``ConcurrentWriteError`` if another commit landed after ``base``.
    The row is built on the JVM: a ``createDataFrame`` row is a Python
    RDD, and every job reading it would start Python workers."""
    row = lake.spark.range(1).select(
        F.lit(PIPELINE).alias("pipeline"),
        F.lit(int(offset)).cast("long").alias("last_offset"),
        F.current_timestamp().alias("updated_at"),
    )
    table = lake.checkpoints
    base = table.current_version()
    if base is None:
        table.overwrite(row)
        return
    kept = table.read(version=base).filter(
        ~F.col("pipeline").eqNullSafe(F.lit(PIPELINE))
    )
    table._commit_rewrite(kept.unionByName(row), base, "merge")
