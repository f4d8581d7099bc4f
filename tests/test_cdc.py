"""CDC pipeline semantics: parse edge cases, dedup determinism,
incremental-merge == full-rebuild equivalence, checkpoint advance."""

from __future__ import annotations

from pyspark.sql import functions as F

from privacy_cdc_lakehouse_spark.cdc.jobs import (
    Lakehouse,
    build_privacy,
    ingest_bronze,
    merge_silver,
    rebuild_silver,
)
from privacy_cdc_lakehouse_spark.cdc.silver import parse_cdc_envelope, silver_from_bronze
from privacy_cdc_lakehouse_spark.sources.debezium import cdc_events


def _mk_bronze(spark, rows):
    """rows: (offset, v) pairs → bronze-shaped DF."""
    return spark.createDataFrame(
        [(f"t", 0, off, None, "{}", v, None) for off, v in rows],
        "topic string, partition int, offset long, kafka_ts timestamp,"
        "k string, v string, ingested_at timestamp",
    )


def test_parse_envelope_and_bare_json(spark):
    wrapped = '{"payload": {"after": {"order_id": 1, "user_id": 2, "amount_eur": "\\"10.5\\"", "status": "created", "created_at": "x"}, "op": "c", "ts_ms": 1000000}}'
    bare = '{"after": {"order_id": 2, "user_id": 3, "amount_eur": " 7.25 ", "status": "paid", "created_at": "x"}, "op": "c", "ts_ms": 2000000}'
    out = silver_from_bronze(_mk_bronze(spark, [(1, wrapped), (2, bare)]))
    got = {r["order_id"]: r for r in out.collect()}
    assert got[1]["amount_eur"] == 10.5  # quoted-string cleaning
    assert got[2]["amount_eur"] == 7.25  # whitespace cleaning (bare envelope)


def test_delete_uses_before_and_drops_row(spark):
    create = '{"payload": {"after": {"order_id": 5, "user_id": 1, "amount_eur": "1.0", "status": "created", "created_at": "x"}, "op": "c", "ts_ms": 1000000}}'
    delete = '{"payload": {"before": {"order_id": 5, "user_id": 1, "amount_eur": "1.0", "status": "created", "created_at": "x"}, "op": "d", "ts_ms": 2000000}}'
    out = silver_from_bronze(_mk_bronze(spark, [(1, create), (2, delete)]))
    assert out.count() == 0  # tombstone wins → row dropped
    parsed = parse_cdc_envelope(_mk_bronze(spark, [(2, delete)]))
    assert parsed.collect()[0]["order_id"] == 5  # key recovered from before


def test_equal_ts_tiebreak_by_offset(spark):
    e1 = '{"payload": {"after": {"order_id": 7, "user_id": 1, "amount_eur": "1", "status": "paid", "created_at": "x"}, "op": "u", "ts_ms": 5000000}}'
    e2 = '{"payload": {"after": {"order_id": 7, "user_id": 1, "amount_eur": "1", "status": "shipped", "created_at": "x"}, "op": "u", "ts_ms": 5000000}}'
    out = silver_from_bronze(_mk_bronze(spark, [(10, e1), (11, e2)]))
    assert out.collect()[0]["status"] == "shipped"  # higher offset wins


def test_null_ts_falls_back_and_loses(spark):
    no_ts = '{"payload": {"after": {"order_id": 9, "user_id": 1, "amount_eur": "1", "status": "paid", "created_at": "x"}, "op": "u", "ts_ms": null}}'
    with_ts = '{"payload": {"after": {"order_id": 9, "user_id": 1, "amount_eur": "2", "status": "shipped", "created_at": "x"}, "op": "u", "ts_ms": 1000000}}'
    # null ts sorts last (desc_nulls_last) → timestamped event wins
    out = silver_from_bronze(_mk_bronze(spark, [(20, no_ts), (19, with_ts)]))
    row = out.collect()[0]
    assert row["status"] == "shipped"
    # lone null-ts event: current_timestamp fallback keeps column non-null
    out2 = silver_from_bronze(_mk_bronze(spark, [(20, no_ts)]))
    assert out2.collect()[0]["last_change_ts"] is not None


def test_incremental_merge_equals_full_rebuild(spark, sf_dir, tmp_path):
    events = cdc_events(spark, sf_dir).orderBy("offset")
    mid = events.approxQuantile("offset", [0.5], 0.0)[0]
    first, second = events.filter(F.col("offset") <= mid), events.filter(
        F.col("offset") > mid
    )

    inc = Lakehouse(spark, str(tmp_path / "inc"))
    ingest_bronze(inc, first)
    merge_silver(inc)
    ingest_bronze(inc, second)
    merge_silver(inc)

    full = Lakehouse(spark, str(tmp_path / "full"))
    ingest_bronze(full, events)
    rebuild_silver(full)

    cols = ["order_id", "user_id", "amount_eur", "status", "last_change_ts"]
    a = sorted(tuple(r) for r in inc.silver.read().select(cols).collect())
    b = sorted(tuple(r) for r in full.silver.read().select(cols).collect())
    assert a == b
    # checkpoint advanced to the max offset
    cp = inc.checkpoints.read().collect()[0]
    assert cp["last_offset"] == events.agg(F.max("offset")).collect()[0][0]
    # re-running merge with no new data is a no-op
    assert merge_silver(inc) is None


def test_advance_checkpoint_checked_rewrite(spark, tmp_path, monkeypatch):
    import datetime

    import pytest
    from pyspark.sql import SparkSession

    from privacy_cdc_lakehouse_spark.cdc import jobs
    from privacy_cdc_lakehouse_spark.tables import ConcurrentWriteError, LakeTable

    lake = Lakehouse(spark, str(tmp_path / "cp"))
    ts = datetime.datetime(2024, 1, 1)
    seed = [("orders", 5, ts), ("other", 7, ts), (None, 9, ts)]
    lake.checkpoints.overwrite(
        spark.createDataFrame(
            seed, "pipeline string, last_offset long, updated_at timestamp"
        )
    )

    def no_python_rows(*a, **k):
        raise AssertionError("checkpoint row built through a Python RDD")

    with monkeypatch.context() as m:
        m.setattr(SparkSession, "createDataFrame", no_python_rows)
        jobs._advance_checkpoint(lake, 42)

    rows = lake.checkpoints.read().collect()
    assert len(rows) == 3
    assert rows[0].__fields__ == ["pipeline", "last_offset", "updated_at"]
    by_pipeline = {r["pipeline"]: r for r in rows}
    assert by_pipeline["orders"]["last_offset"] == 42
    assert by_pipeline["orders"]["updated_at"] != ts
    assert {tuple(r) for r in rows if r["pipeline"] != "orders"} == set(seed[1:])
    assert lake.checkpoints.history()[0]["op"] == "merge"

    # Another writer's advance lands after this one read its base
    # snapshot: the loser raises instead of overwriting the winner.
    checked = LakeTable._commit_rewrite
    raced = []

    def race_then_commit(self, *a, **k):
        if not raced:
            raced.append(True)
            jobs._advance_checkpoint(lake, 99)
        return checked(self, *a, **k)

    monkeypatch.setattr(LakeTable, "_commit_rewrite", race_then_commit)
    with pytest.raises(ConcurrentWriteError):
        jobs._advance_checkpoint(lake, 43)
    assert jobs._last_offset(lake) == 99


def test_privacy_projection(spark, sf_dir, tmp_path):
    lake = Lakehouse(spark, str(tmp_path / "priv"))
    ingest_bronze(lake, cdc_events(spark, sf_dir))
    rebuild_silver(lake)
    build_privacy(lake, salt="S")
    priv = lake.privacy.read()
    assert "user_id" not in priv.columns
    row = priv.limit(1).collect()[0]
    assert len(row["user_key"]) == 64  # sha-256 hex


def test_malformed_json_rows_are_dropped_not_fatal(spark):
    """Corrupt payloads (truncated JSON, non-JSON, wrong types, empty)
    must parse to null and be dropped by the not-null key filter —
    never fail the job (PERMISSIVE semantics the reference relies on)."""
    from pyspark.sql import functions as F

    from privacy_cdc_lakehouse_spark.cdc.silver import parse_cdc_envelope

    good = '{"payload": {"after": {"order_id": 7, "user_id": 1, '
    good += '"amount_eur": "5.5", "status": "paid", "created_at": "x"}, '
    good += '"op": "c", "ts_ms": 1000}}'
    rows = [
        (1, good),
        (2, '{"payload": {"after": {"order_id"'),  # truncated
        (3, "not json at all"),
        (4, ""),
        (7, "   "),
        (5, '{"payload": {"op": "c", "ts_ms": 1000}}'),  # no before/after
        (6, '{"payload": {"after": {"order_id": "NaNope"}, "op": "c"}}'),
    ]
    bronze = spark.createDataFrame(rows, "offset long, v string")
    out = parse_cdc_envelope(bronze).collect()
    assert [(r["order_id"], r["amount_eur" if False else "status"]) for r in out] == [(7, "paid")]


def test_forget_user_erases_serving_layers_and_audits(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from privacy_cdc_lakehouse_spark.cdc.jobs import (
        Lakehouse,
        build_privacy,
        forget_user,
        ingest_bronze,
        rebuild_silver,
    )
    from privacy_cdc_lakehouse_spark.sources.debezium import cdc_events
    from privacy_cdc_lakehouse_spark.tables import LakeTable

    lake = Lakehouse(spark, str(tmp_path / "forget_lake"))
    ingest_bronze(lake, cdc_events(spark, sf_dir))
    rebuild_silver(lake)
    build_privacy(lake)

    uid = lake.silver.read().select("user_id").first()["user_id"]
    before = lake.silver.read().filter(F.col("user_id") == uid).count()
    assert before > 0
    pre_version = lake.silver.current_version()

    out = forget_user(lake, uid)
    assert out["rows_erased"] == before
    assert lake.silver.read().filter(F.col("user_id") == uid).count() == 0
    joined = lake.privacy.read().join(lake.silver.read(), "order_id", "left_anti")
    # every privacy row must still have a silver twin → none orphaned,
    # and none of the erased user's orders remain in the projection
    assert joined.count() == 0

    # audit trail recorded
    audit = LakeTable(spark, str(tmp_path / "forget_lake/monitoring/privacy_audit"))
    row = audit.read().collect()[0]
    assert row["subject_id"] == uid and row["rows_erased"] == before

    # copy-on-write: time travel to the pre-erasure snapshot still sees
    # the subject until vacuum reclaims it
    assert (
        lake.silver.read(version=pre_version)
        .filter(F.col("user_id") == uid)
        .count()
        == before
    )
    lake.silver.vacuum(retain_last=1, min_age_seconds=0)


def test_merge_silver_commits_partition_scoped(spark, sf_dir, tmp_path):
    """The flagship incremental merge must NOT rewrite the whole silver
    table per batch (round-2 verdict): silver is bucket-partitioned and
    the per-batch commit is partition-scoped — prior data dirs survive
    in the manifest with the touched-bucket predicate excluded, and only
    a new dir for the rewritten slice is added."""
    import json
    import os

    events = cdc_events(spark, sf_dir).orderBy("offset")
    mid = events.approxQuantile("offset", [0.5], 0.0)[0]
    first = events.filter(F.col("offset") <= mid)
    second = events.filter(F.col("offset") > mid)

    lake = Lakehouse(spark, str(tmp_path / "scoped"))
    ingest_bronze(lake, first)
    merge_silver(lake)  # creates silver (bucket-partitioned overwrite)
    v1 = lake.silver.current_version()
    m1 = lake.silver._snapshot(v1)
    assert m1["partition_by"] == ["order_bucket"]
    dirs_before = {e if isinstance(e, str) else e["path"] for e in m1["files"]}

    ingest_bronze(lake, second)
    merge_silver(lake)  # incremental: must be partition-scoped
    v2 = lake.silver.current_version()
    m2 = lake.silver._snapshot(v2)
    assert m2["op"] == "merge"
    entries = [e if isinstance(e, dict) else {"path": e, "excludes": []} for e in m2["files"]]
    prior = [e for e in entries if e["path"] in dirs_before]
    fresh = [e for e in entries if e["path"] not in dirs_before]
    # prior dirs SURVIVE (not rewritten) with the bucket exclusion recorded
    assert prior and all(
        any("order_bucket IN" in x for x in e["excludes"]) for e in prior
    )
    assert len(fresh) == 1 and not fresh[0]["excludes"]

    # and the result still equals the full rebuild
    full = Lakehouse(spark, str(tmp_path / "scoped_full"))
    ingest_bronze(full, events)
    rebuild_silver(full)
    cols = ["order_id", "user_id", "amount_eur", "status", "last_change_ts"]
    a = sorted(tuple(r) for r in lake.silver.read().select(cols).collect())
    b = sorted(tuple(r) for r in full.silver.read().select(cols).collect())
    assert a == b


def test_whitespace_only_payloads_are_dropped_not_fatal(spark):
    """Tab/newline/CR-only payloads must be dropped like any malformed
    record — F.trim strips only spaces, so the blank guard must match
    ANY whitespace (round-5 review: '\\t' and '\\n' NPE'd the job)."""
    from privacy_cdc_lakehouse_spark.cdc.silver import parse_cdc_envelope

    rows = [(1, "\t"), (2, "\n"), (3, "\r"), (4, " \n "), (5, "\t \r\n")]
    bronze = spark.createDataFrame(rows, "offset long, v string")
    assert parse_cdc_envelope(bronze).collect() == []


def test_ingest_bronze_idempotent_skips_redelivered_batches(spark, sf_dir, tmp_path):
    """At-least-once redelivery: re-ingesting an already-landed batch
    appends nothing (bronze-watermark filter), and a partially-new
    batch lands only its fresh suffix — no duplicate offsets ever."""
    from privacy_cdc_lakehouse_spark.cdc.jobs import (
        bronze_high_watermark,
        ingest_bronze_idempotent,
    )

    events = cdc_events(spark, sf_dir)
    first = events.filter(F.col("offset") < 100)
    lake = Lakehouse(spark, str(tmp_path / "idem"))
    assert ingest_bronze_idempotent(lake, first) is not None
    n1 = lake.bronze.read().count()

    # exact redelivery: nothing appended, version unchanged
    v_before = lake.bronze.current_version()
    assert ingest_bronze_idempotent(lake, first) is None
    assert lake.bronze.current_version() == v_before
    assert lake.bronze.read().count() == n1

    # overlapping batch: only offsets above the watermark land
    overlap = events.filter(F.col("offset") < 150)
    assert ingest_bronze_idempotent(lake, overlap) is not None
    got = lake.bronze.read()
    assert got.count() == got.select("offset").distinct().count()
    assert bronze_high_watermark(lake) == 149


def test_ingest_bronze_idempotent_keeps_late_low_offsets(spark, sf_dir, tmp_path):
    """A batch that straddles the watermark is not a pure replay: its
    sub-watermark rows may be genuinely new (non-mtime-ordered files,
    backfills). Exact offset-membership dedup must LAND those late rows
    while still dropping true replays — a global-max filter would
    silently lose them."""
    from privacy_cdc_lakehouse_spark.cdc.jobs import (
        bronze_high_watermark,
        ingest_bronze_idempotent,
    )

    events = cdc_events(spark, sf_dir)
    # ingest a GAPPED prefix: offsets < 200 except the [50, 100) window
    gapped = events.filter(
        (F.col("offset") < 200)
        & ~((F.col("offset") >= 50) & (F.col("offset") < 100))
    )
    lake = Lakehouse(spark, str(tmp_path / "late"))
    assert ingest_bronze_idempotent(lake, gapped) is not None
    hi = bronze_high_watermark(lake)
    assert 150 <= hi < 200  # offsets are sparse; just pin the window
    n_gapped = lake.bronze.read().count()

    # late batch: the missed [50, 100) window PLUS a replayed slice
    # [100, 150) PLUS fresh offsets [200, 220)
    late = events.filter((F.col("offset") >= 50) & (F.col("offset") < 220)).filter(
        ~((F.col("offset") >= 150) & (F.col("offset") < 200))
    )
    n_missing = events.filter(
        (F.col("offset") >= 50) & (F.col("offset") < 100)
    ).count()
    n_fresh = events.filter(
        (F.col("offset") >= 200) & (F.col("offset") < 220)
    ).count()
    assert ingest_bronze_idempotent(lake, late) is not None

    got = lake.bronze.read()
    # every late row landed exactly once, replays dropped
    assert got.count() == n_gapped + n_missing + n_fresh
    assert got.count() == got.select("offset").distinct().count()
    assert (
        got.filter((F.col("offset") >= 50) & (F.col("offset") < 100)).count()
        == n_missing
    )

    # full redelivery of everything so far: still a no-op
    v_before = lake.bronze.current_version()
    assert ingest_bronze_idempotent(lake, events.filter(F.col("offset") < 220)) is None
    assert lake.bronze.current_version() == v_before


def test_lifecycle_null_ts_ranks_oldest():
    """The stateful tracker's event order must mirror the silver
    pipeline's max_by(struct(ts_ms, offset)) ranking, where NULL ts_ms
    ranks SMALLEST — a null-ts 'shipped' before a timestamped 'created'
    means 'created' is latest (and a regression)."""
    import pandas as pd

    from privacy_cdc_lakehouse_spark.streaming.stateful import _advance

    pdf = pd.DataFrame(
        {
            "order_id": [1, 1],
            "status": ["created", "shipped"],
            "ts_ms": [1000, None],
            "offset": [2, 1],
        }
    )
    n, last, regressed = _advance((0, None, False), iter([pdf]))
    assert (n, last, regressed) == (2, "created", True)


def test_forget_user_honors_empty_string_salt(spark, sf_dir, tmp_path):
    """salt='' is a legal salt: forget_user must use it (not fall back
    to the env salt via a falsy check) or the privacy projection would
    keep the subject's rows while the audit claims erasure."""
    from privacy_cdc_lakehouse_spark.cdc.jobs import (
        build_privacy,
        forget_user,
        ingest_bronze,
        rebuild_silver,
    )

    lake = Lakehouse(spark, str(tmp_path / "forget_empty_salt"))
    ingest_bronze(lake, cdc_events(spark, sf_dir).filter(F.col("offset") < 500))
    rebuild_silver(lake)
    build_privacy(lake, salt="")

    uid = lake.silver.read().select("user_id").first()["user_id"]
    n_priv_before = lake.privacy.read().count()
    out = forget_user(lake, uid, salt="")
    assert out["rows_erased"] > 0
    assert lake.privacy.read().count() == n_priv_before - out["rows_erased"]


def test_forget_user_merge_on_read_tombstone_path(spark, sf_dir, tmp_path):
    """mode='merge_on_read': the subject vanishes from every read with
    an O(1) metadata commit (no data dir written), the audit records
    the mode, and the compact+vacuum maintenance pass makes the erasure
    physical."""
    import os

    from pyspark.sql import functions as F

    from privacy_cdc_lakehouse_spark.cdc.jobs import (
        Lakehouse,
        build_privacy,
        forget_user,
        ingest_bronze,
        rebuild_silver,
    )
    from privacy_cdc_lakehouse_spark.sources.debezium import cdc_events
    from privacy_cdc_lakehouse_spark.tables import LakeTable

    lake = Lakehouse(spark, str(tmp_path / "mor_forget_lake"))
    ingest_bronze(lake, cdc_events(spark, sf_dir))
    rebuild_silver(lake)
    build_privacy(lake)

    uid = lake.silver.read().select("user_id").first()["user_id"]
    before = lake.silver.read().filter(F.col("user_id") == uid).count()
    assert before > 0

    def n_dirs(t):
        root = os.path.join(t.path, "data")
        return len(os.listdir(root))

    silver_dirs = n_dirs(lake.silver)
    priv_dirs = n_dirs(lake.privacy)
    out = forget_user(lake, uid, mode="merge_on_read")
    assert out["rows_erased"] == before
    # logical erasure is immediate...
    assert lake.silver.read().filter(F.col("user_id") == uid).count() == 0
    assert (
        lake.privacy.read()
        .join(lake.silver.read(), "order_id", "left_anti")
        .count()
        == 0
    )
    # ...and metadata-only: no new data dirs on either table
    assert n_dirs(lake.silver) == silver_dirs
    assert n_dirs(lake.privacy) == priv_dirs

    audit = LakeTable(
        spark, str(tmp_path / "mor_forget_lake/monitoring/privacy_audit")
    )
    assert audit.read().collect()[0]["action"] == "forget_user:merge_on_read"

    # the maintenance pass makes it physical
    lake.silver.compact(target_partitions=2)
    lake.silver.vacuum(retain_last=1, min_age_seconds=0)
    assert lake.silver.read().filter(F.col("user_id") == uid).count() == 0
