"""Lake table layer: snapshot commits, append/overwrite, 3-clause MERGE."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from privacy_cdc_lakehouse_spark import tables as T
from privacy_cdc_lakehouse_spark.tables import LakeTable, MergeError


def _rows(t):
    return sorted(tuple(r) for r in t.read().collect())


def test_append_overwrite_versions(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t1"))
    assert not t.exists()
    t.append(spark.createDataFrame([(1, "a")], "id int, s string"))
    t.append(spark.createDataFrame([(2, "b")], "id int, s string"))
    assert _rows(t) == [(1, "a"), (2, "b")]
    assert t.current_version() == 2

    t.overwrite(spark.createDataFrame([(9, "z")], "id int, s string"))
    assert _rows(t) == [(9, "z")]
    # old snapshot still readable (time travel)
    assert sorted(tuple(r) for r in t.read(version=2).collect()) == [
        (1, "a"),
        (2, "b"),
    ]


def test_merge_three_clauses(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t2"))
    t.overwrite(
        spark.createDataFrame(
            [(1, "keep"), (2, "update_me"), (3, "delete_me")], "id int, s string"
        )
    )
    source = spark.createDataFrame(
        [(2, "updated", "u"), (3, None, "d"), (4, "inserted", "c"), (5, None, "d")],
        "id int, s string, op string",
    )
    t.merge(
        source,
        keys=["id"],
        matched_delete=F.col("s.op") == "d",
        insert_condition=F.col("s.op") != "d",
    )
    assert _rows(t) == [(1, "keep"), (2, "updated"), (4, "inserted")]


def test_merge_large_source_falls_back_to_shuffle_join(spark, tmp_path):
    """A source over the broadcast threshold must produce the identical
    result through plain (shuffled) joins — the guard that stops a huge
    backfill batch from hitting Spark's 8 GB broadcast hard limit."""
    rows = [(1, "keep"), (2, "update_me"), (3, "delete_me")]
    source = spark.createDataFrame(
        [(2, "updated", "u"), (3, None, "d"), (4, "inserted", "c"), (5, None, "d")],
        "id int, s string, op string",
    )

    def run(threshold):
        t = LakeTable(spark, str(tmp_path / f"bt_{threshold}"))
        t.overwrite(spark.createDataFrame(rows, "id int, s string"))
        t.merge(
            source,
            keys=["id"],
            matched_delete=F.col("s.op") == "d",
            insert_condition=F.col("s.op") != "d",
            broadcast_threshold_bytes=threshold,
        )
        return _rows(t)

    # Disable Spark's own auto-broadcast so the fallback genuinely
    # plans non-broadcast joins, then compare against the hinted path.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert run(0) == [(1, "keep"), (2, "updated"), (4, "inserted")]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert run(None) == [(1, "keep"), (2, "updated"), (4, "inserted")]


def test_plan_size_estimate_sentinel_and_file_backed(spark, tmp_path):
    """Catalyst's size-only estimator returns Long.MaxValue for
    in-memory (createDataFrame/LogicalRDD) sources — the classifier
    must report UNKNOWN (None), not 'huge'. A parquet-backed scan has a
    real file-size estimate; a filter over it keeps the child estimate
    (documented pessimization) but stays finite."""
    from privacy_cdc_lakehouse_spark.tables import _plan_size_estimate

    mem = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
    assert _plan_size_estimate(mem) is None

    p = str(tmp_path / "est.parquet")
    spark.range(1000).write.parquet(p)
    backed = spark.read.parquet(p)
    est = _plan_size_estimate(backed)
    assert est is not None and 0 < est < (1 << 40)
    filtered = _plan_size_estimate(backed.filter(F.col("id") > 990))
    assert filtered is not None and 0 < filtered < (1 << 40)


def test_merge_broadcast_hint_overrides_estimate(spark, tmp_path):
    """broadcast_hint=True keeps the three-BroadcastHashJoin plan for a
    source whose plan estimate is the unknown sentinel (the micro-batch
    shape merge_silver vouches for); broadcast_hint=False forces the
    shuffle path. Both land on the identical result."""
    rows = [(1, "keep"), (2, "update_me"), (3, "delete_me")]
    source = spark.createDataFrame(
        [(2, "updated", "u"), (3, None, "d"), (4, "inserted", "c")],
        "id int, s string, op string",
    )

    def run(hint):
        t = LakeTable(spark, str(tmp_path / f"bh_{hint}"))
        t.overwrite(spark.createDataFrame(rows, "id int, s string"))
        t.merge(
            source,
            keys=["id"],
            matched_delete=F.col("s.op") == "d",
            insert_condition=F.col("s.op") != "d",
            broadcast_hint=hint,
        )
        return _rows(t)

    expected = [(1, "keep"), (2, "updated"), (4, "inserted")]
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # Auto-broadcast off: only the explicit hint can produce broadcast
    # joins, so hint=True vs hint=False genuinely exercise both paths.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert run(True) == expected
        assert run(False) == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_merge_rejects_duplicate_source_keys(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t3"))
    t.overwrite(spark.createDataFrame([(1, "x")], "id int, s string"))
    dup = spark.createDataFrame([(1, "a"), (1, "b")], "id int, s string")
    with pytest.raises(MergeError):
        t.merge(dup, keys=["id"])


def test_merge_null_clause_conditions_sql_semantics(spark, tmp_path):
    """A NULL clause condition does not fire the clause: matched row with
    NULL delete-cond falls through to UPDATE; unmatched row with NULL
    insert-cond is not inserted."""
    t = LakeTable(spark, str(tmp_path / "t4"))
    t.overwrite(
        spark.createDataFrame([(1, "old1"), (2, "old2")], "id int, s string")
    )
    # flag is NULL for id=1 (matched) and id=3 (unmatched)
    source = spark.createDataFrame(
        [(1, "new1", None), (2, "new2", True), (3, "new3", None)],
        "id int, s string, flag boolean",
    )
    t.merge(
        source,
        keys=["id"],
        matched_delete=F.col("s.flag") & F.lit(False) | F.col("s.flag").isNull() & F.lit(None).cast("boolean"),
        insert_condition=F.col("s.flag"),
    )
    # id=1: delete-cond NULL -> updated, not deleted. id=3: insert-cond
    # NULL -> not inserted.
    assert _rows(t) == [(1, "new1"), (2, "new2")]


def test_merge_partition_scoped_rewrites_only_touched_slice(spark, tmp_path):
    import os

    t = LakeTable(spark, str(tmp_path / "t5"))
    t.overwrite(
        spark.createDataFrame(
            [(1, "A", "a1"), (2, "A", "a2"), (3, "B", "b1"), (4, "B", "b2")],
            "id int, part string, s string",
        ),
        partition_by=["part"],
    )
    dirs_before = set(os.listdir(tmp_path / "t5" / "data"))

    source = spark.createDataFrame(
        [(2, "A", "a2-upd"), (5, "A", "a5-new")], "id int, part string, s string"
    )
    t.merge(source, keys=["id"], partition_filter="part = 'A'")

    # untouched partition B survives verbatim; A is rewritten
    # (select: hive-partitioned reads reorder the partition column last)
    got = sorted(
        tuple(r) for r in t.read().select("id", "part", "s").collect()
    )
    assert got == [
        (1, "A", "a1"),
        (2, "A", "a2-upd"),
        (3, "B", "b1"),
        (4, "B", "b2"),
        (5, "A", "a5-new"),
    ]
    # the original data dir was NOT rewritten — a new dir was added
    dirs_after = set(os.listdir(tmp_path / "t5" / "data"))
    assert dirs_before < dirs_after and len(dirs_after) == len(dirs_before) + 1
    # time travel to v1 still shows the pre-merge state
    assert len(t.read(version=1).collect()) == 4


@pytest.mark.parametrize("interval", [1, 4, 100])
def test_commit_log_deltas_and_checkpoint_replay(spark, tmp_path, monkeypatch, interval):
    """Commit-log compaction: appends/partition-scoped ops store O(batch)
    deltas, every Nth commit stores a full checkpoint, and resolved
    reads / time travel / history are identical to the full-manifest
    model. Parametrized over interval=1 (every commit a checkpoint —
    the legacy full-manifest shape), 4 (mixed), and 100 (one checkpoint
    + a long delta tail)."""
    monkeypatch.setattr(T, "_CHECKPOINT_INTERVAL", interval)
    t = LakeTable(spark, str(tmp_path / f"ckpt{interval}"))
    t.overwrite(
        spark.createDataFrame(
            [(0, 0, "base0"), (1, 1, "base1")], "id int, p int, s string"
        ),
        partition_by=["p"],
    )  # v1: overwrite = checkpoint
    for i in range(2, 7):  # v2..v6: appends
        t.append(
            spark.createDataFrame([(10 + i, i % 2, f"a{i}")], "id int, p int, s string")
        )
    # v7: partition-scoped delete (exclude_all delta)
    t.delete_where(F.col("id") == 13, partition_filter="p = 1")

    for v in range(1, 8):
        m = t._manifest(v)
        if v == 1 or v % interval == 0:
            assert "files" in m, f"v{v} should be a checkpoint"
        else:
            assert "delta" in m and "files" not in m, f"v{v} should be a delta"
            # deltas stay O(batch): at most one added dir
            assert len(m["delta"].get("add", [])) <= 1
    if interval != 1:  # at interval=1 every commit is a full manifest
        assert t._manifest(7)["delta"]["exclude_all"] == "p = 1"

    got = sorted((r["id"], r["s"]) for r in t.read().collect())
    assert got == [
        (0, "base0"), (1, "base1"), (12, "a2"), (14, "a4"), (15, "a5"), (16, "a6"),
    ]
    # time travel onto a delta version replays checkpoint + tail
    assert sorted(r["id"] for r in t.read(version=3).collect()) == [0, 1, 12, 13]
    # history resolves file counts across deltas
    hist = t.history()
    assert [h["version"] for h in hist] == list(range(7, 0, -1))
    assert hist[0]["n_data_dirs"] == len(t._snapshot(7)["files"])
    # data skipping still sees per-file stats through the replay
    total, read = t.scan_files(("id", "=", 16))
    assert read < total


def test_append_rebases_on_commit_race(spark, tmp_path):
    """A racing writer's committed files must survive the loser's retry
    (optimistic concurrency rebases the file list, not just the version)."""
    t = LakeTable(spark, str(tmp_path / "t6"))
    t.append(spark.createDataFrame([(1, "a")], "id int, s string"))

    # Simulate writer A winning version 2 while writer B is mid-append:
    # pre-create B's target version so B's first O_EXCL attempt collides.
    orig_commit = t._commit

    def racing_commit(build, op, partition_by=None, **kw):
        winner = LakeTable(spark, t.path)
        winner.append(spark.createDataFrame([(2, "b")], "id int, s string"))
        return orig_commit(build, op, partition_by, **kw)

    t._commit = racing_commit
    try:
        t.append(spark.createDataFrame([(3, "c")], "id int, s string"))
    finally:
        t._commit = orig_commit

    # all three rows present: the loser rebased onto the winner's manifest
    assert _rows(t) == [(1, "a"), (2, "b"), (3, "c")]


def test_timestamp_time_travel_and_history(spark, tmp_path):
    import time

    from privacy_cdc_lakehouse_spark.tables import LakeTable

    t = LakeTable(spark, str(tmp_path / "travel"))
    t.append(spark.range(0, 5).coalesce(1))
    mid = time.time()
    time.sleep(0.01)
    t.overwrite(spark.range(0, 50).coalesce(1))

    assert t.read_as_of(mid).count() == 5        # snapshot current at mid
    assert t.read_as_of(time.time()).count() == 50
    try:
        t.version_as_of(0.0)
        raise AssertionError("expected ValueError before first commit")
    except ValueError:
        pass

    hist = t.history()
    assert [h["version"] for h in hist] == [2, 1]
    assert [h["op"] for h in hist] == ["overwrite", "append"]
    assert hist[0]["ts"] >= hist[1]["ts"]


def test_delete_where_right_to_be_forgotten(spark, tmp_path):
    from pyspark.sql import functions as F

    from privacy_cdc_lakehouse_spark.tables import LakeTable

    t = LakeTable(spark, str(tmp_path / "rtbf"))
    t.overwrite(
        spark.range(0, 100).select(
            F.col("id"), (F.col("id") % 10).alias("user_id"), (F.col("id") % 2).alias("p")
        )
    )
    t.delete_where("user_id = 3")
    assert t.read().filter(F.col("user_id") == 3).count() == 0
    assert t.read().count() == 90
    # NULL predicate rows are kept
    t2 = LakeTable(spark, str(tmp_path / "rtbf_null"))
    t2.overwrite(spark.createDataFrame([(1, None), (2, 5)], "id long, v long"))
    t2.delete_where("v > 3")
    assert sorted(r["id"] for r in t2.read().collect()) == [1]
    # partition-scoped: only the p=0 slice is rewritten, p=1 untouched
    t.delete_where("user_id = 4", partition_filter="p = 0")
    remaining = t.read()
    assert remaining.filter(F.col("user_id") == 4).count() == 0  # 4 is even → all in p=0
    assert remaining.count() == 80
    assert t.history()[0]["op"] == "delete"


def test_update_where(spark, tmp_path):
    from pyspark.sql import functions as F

    from privacy_cdc_lakehouse_spark.tables import LakeTable

    t = LakeTable(spark, str(tmp_path / "upd"))
    t.overwrite(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, None, 30.0)],
            "id long, tag string, amt double",
        )
    )
    t.update_where("tag = 'b'", {"amt": F.col("amt") * 2})
    got = {r["id"]: r["amt"] for r in t.read().collect()}
    assert got == {1: 10.0, 2: 40.0, 3: 30.0}  # NULL predicate → untouched


def test_partition_scoped_merge_races_concurrent_append_raises(spark, tmp_path):
    """Regression (round-2 advisory): an append committed between a
    partition-scoped rewrite's read and its commit must NOT have its
    partition-matching rows silently excluded — the commit raises
    (Delta's ConcurrentAppendException contract) so the caller retries."""
    from privacy_cdc_lakehouse_spark.tables import ConcurrentWriteError

    t = LakeTable(spark, str(tmp_path / "t_race_scoped"))
    t.overwrite(
        spark.createDataFrame(
            [(1, "A", "a1"), (3, "B", "b1")], "id int, part string, s string"
        ),
        partition_by=["part"],
    )

    orig_commit = t._commit

    def racing_commit(build, op, partition_by=None, **kw):
        winner = LakeTable(spark, t.path)
        winner.append(
            spark.createDataFrame([(9, "A", "a9")], "id int, part string, s string")
        )
        return orig_commit(build, op, partition_by, **kw)

    source = spark.createDataFrame([(1, "A", "a1-upd")], "id int, part string, s string")
    t._commit = racing_commit
    try:
        with pytest.raises(ConcurrentWriteError):
            t.merge(source, keys=["id"], partition_filter="part = 'A'")
    finally:
        t._commit = orig_commit

    # the winner's row survives untouched
    assert (9, "A", "a9") in {
        tuple(r) for r in t.read().select("id", "part", "s").collect()
    }


def test_delete_where_typed_predicate_no_injection(spark, tmp_path):
    """delete_where accepts a typed Column predicate; a value containing
    SQL metacharacters (quote, OR-clause) is DATA, not SQL — only the
    exact-matching row is deleted (round-2 advisory: the GDPR path must
    not be injection-shaped)."""
    t = LakeTable(spark, str(tmp_path / "t_typed_del"))
    hostile = "x' OR '1'='1"
    t.overwrite(
        spark.createDataFrame(
            [(1, hostile), (2, "innocent")], "id int, user_key string"
        )
    )
    t.delete_where(F.col("user_key") == F.lit(hostile))
    assert _rows(t) == [(2, "innocent")]

    # update_where with a typed predicate likewise treats it as data
    t2 = LakeTable(spark, str(tmp_path / "t_typed_upd"))
    t2.overwrite(
        spark.createDataFrame(
            [(1, hostile, 0), (2, "innocent", 0)], "id int, user_key string, n int"
        )
    )
    t2.update_where(
        F.col("user_key") == F.lit(hostile), {"n": F.lit(9)}
    )
    assert _rows(t2) == [(1, hostile, 9), (2, "innocent", 0)]


def test_exclusion_predicates_stay_bounded_over_many_merges(spark, tmp_path):
    """Steady-state flagship behavior: N partition-scoped merges must
    NOT accumulate N exclusion predicates per dir (manifest/plan growth
    at 100 TB) — same-column IN-lists merge into one predicate — and
    the final state must equal the sequential-upsert expectation."""
    t = LakeTable(spark, str(tmp_path / "t_bounded_excl"))
    t.overwrite(
        spark.createDataFrame(
            [(i, i % 4, f"v0_{i}") for i in range(8)],
            "id int, bucket int, s string",
        ),
        partition_by=["bucket"],
    )
    for step in range(5):
        bucket = step % 4
        src = spark.createDataFrame(
            [(bucket, bucket, f"v{step + 1}_{bucket}")],
            "id int, bucket int, s string",
        )
        t.merge(src, keys=["id"], partition_filter=f"bucket IN ({bucket})")

    m = t._snapshot(t.current_version())
    from privacy_cdc_lakehouse_spark.tables import _entry

    # the ORIGINAL dir saw 5 scoped merges over 4 distinct buckets →
    # exactly ONE merged predicate, not five stacked ones
    first = _entry(m["files"][0])
    assert first["excludes"] == ["bucket IN (0, 1, 2, 3)"]
    assert all(len(_entry(e)["excludes"]) <= 4 for e in m["files"])

    # correctness: ids 0-3 carry their LAST merge's value, 4-7 originals
    got = {r["id"]: r["s"] for r in t.read().collect()}
    assert got == {
        0: "v5_0", 1: "v2_1", 2: "v3_2", 3: "v4_3",
        4: "v0_4", 5: "v0_5", 6: "v0_6", 7: "v0_7",
    }


def test_truncate_delta_replay_and_time_travel(spark, tmp_path, monkeypatch):
    """TRUNCATE TABLE is an O(1) `truncate` delta action: the replay
    resets the file list mid-chain, later appends apply on top, and
    pre-truncate versions stay time-travelable (data files untouched)."""
    monkeypatch.setattr(T, "_CHECKPOINT_INTERVAL", 100)  # keep it a delta
    t = LakeTable(spark, str(tmp_path / "trunc"))
    t.append(spark.createDataFrame([(1, "a")], "id int, s string"))
    t.append(spark.createDataFrame([(2, "b")], "id int, s string"))
    v_trunc = t.truncate()
    assert "delta" in t._manifest(v_trunc)
    assert t._manifest(v_trunc)["delta"] == {"truncate": True}
    # the truncated snapshot stays QUERYABLE: 0 rows, full schema
    # (Delta's TRUNCATE contract) — and therefore writable via every
    # DML path that reads the schema first
    empty = t.read(version=v_trunc)
    assert empty.dtypes == [("id", "int"), ("s", "string")] and empty.count() == 0
    # the schema carries over in the log: TRUNCATE records nothing new,
    # and a filtered read of the empty snapshot is the same typed frame
    assert "schema" not in t._manifest(v_trunc)
    assert t.schema(v_trunc) == t.schema(v_trunc - 1)
    assert t.read(version=v_trunc, where=("id", "=", 1)).dtypes == empty.dtypes
    t.append(spark.createDataFrame([(3, "c")], "id int, s string"))

    # v4 replays: ckpt(v1) + add(v2) + truncate(v3) + add(v4)
    assert _rows(t) == [(3, "c")]
    # pre-truncate version still fully readable (files not deleted)
    assert sorted(r["id"] for r in t.read(version=2).collect()) == [1, 2]
    # vacuum keeping only the head reclaims the pre-truncate dirs
    removed = t.vacuum(retain_last=1, min_age_seconds=0)
    assert len(removed) == 2
    assert _rows(t) == [(3, "c")]


def test_commit_race_rebases_onto_checkpoint_version(spark, tmp_path, monkeypatch):
    """The optimistic-concurrency retry must also work when the WINNING
    commit lands exactly on a checkpoint version (full-manifest shape):
    the loser rebases onto the resolved checkpoint, and its own commit
    (now past the boundary) is a delta applied on top of it."""
    monkeypatch.setattr(T, "_CHECKPOINT_INTERVAL", 2)
    t = LakeTable(spark, str(tmp_path / "race_ckpt"))
    t.append(spark.createDataFrame([(1, "a")], "id int, s string"))  # v1 ckpt

    orig_commit = t._commit

    def racing_commit(build, op, partition_by=None, **kw):
        winner = LakeTable(spark, t.path)
        # winner takes v2 — a checkpoint version under interval=2
        winner.append(spark.createDataFrame([(2, "b")], "id int, s string"))
        assert "files" in t._manifest(2)
        return orig_commit(build, op, partition_by, **kw)

    t._commit = racing_commit
    try:
        t.append(spark.createDataFrame([(3, "c")], "id int, s string"))
    finally:
        t._commit = orig_commit

    assert t.current_version() == 3
    assert "delta" in t._manifest(3)  # loser landed past the boundary
    assert _rows(t) == [(1, "a"), (2, "b"), (3, "c")]


def test_vacuum_with_delta_tail(spark, tmp_path, monkeypatch):
    """Vacuum on a log whose retained window spans delta-only commits:
    every retained version must survive (including delta commits that
    replay across the checkpoint boundary), and only dirs referenced by
    NO retained snapshot are reclaimed."""
    monkeypatch.setattr(T, "_CHECKPOINT_INTERVAL", 4)
    t = LakeTable(spark, str(tmp_path / "vac_delta"))
    t.overwrite(spark.createDataFrame([(1, "a")], "id int, s string"))  # v1 A
    t.append(spark.createDataFrame([(2, "b")], "id int, s string"))     # v2 +B
    t.append(spark.createDataFrame([(3, "c")], "id int, s string"))     # v3 +C
    t.overwrite(spark.createDataFrame([(4, "d")], "id int, s string"))  # v4 D (ckpt)
    t.append(spark.createDataFrame([(5, "e")], "id int, s string"))     # v5 +E (delta)
    t.append(spark.createDataFrame([(6, "f")], "id int, s string"))     # v6 +F (delta)
    assert "delta" in t._manifest(5) and "delta" in t._manifest(6)

    removed = t.vacuum(retain_last=3, min_age_seconds=0)  # keep v4..v6 → refs {D, E, F}
    assert len(removed) == 3  # A, B, C reclaimed

    # every retained version reads exactly its snapshot, deltas replayed
    assert sorted(r["id"] for r in t.read(version=4).collect()) == [4]
    assert sorted(r["id"] for r in t.read(version=5).collect()) == [4, 5]
    assert sorted(r["id"] for r in t.read(version=6).collect()) == [4, 5, 6]
    # a version past the horizon is gone (its data dirs were reclaimed)
    with pytest.raises(Exception):
        t.read(version=3).collect()


def test_merge_schema_evolution_admits_new_source_columns(spark, tmp_path):
    """merge_schema=True (Delta MERGE mergeSchema parity): a source
    column the target lacks joins the schema — kept rows NULL, updated
    and inserted rows carry source values; default (False) ignores it."""
    source = spark.createDataFrame(
        [(2, "updated", "eu"), (4, "inserted", "us")],
        "id int, s string, region string",
    )

    def seed(name):
        t = LakeTable(spark, str(tmp_path / name))
        t.overwrite(
            spark.createDataFrame([(1, "keep"), (2, "old")], "id int, s string")
        )
        return t

    t = seed("evo_on")
    t.merge(source, keys=["id"], merge_schema=True)
    got = {r["id"]: (r["s"], r["region"]) for r in t.read().collect()}
    assert got == {1: ("keep", None), 2: ("updated", "eu"), 4: ("inserted", "us")}

    t2 = seed("evo_off")
    t2.merge(source, keys=["id"])
    assert "region" not in t2.read().columns


def test_merge_schema_evolution_partition_scoped(spark, tmp_path):
    """Schema evolution composes with partition-scoped copy-on-write:
    the rewritten slice carries the new column; untouched prior dirs
    reconcile to NULL through the unionByName read path."""
    t = LakeTable(spark, str(tmp_path / "evo_part"))
    t.overwrite(
        spark.createDataFrame(
            [(1, "A", "a1"), (2, "A", "a2"), (3, "B", "b1")],
            "id int, part string, s string",
        ),
        partition_by=["part"],
    )
    source = spark.createDataFrame(
        [(2, "A", "a2-upd", 7)], "id int, part string, s string, score int"
    )
    t.merge(source, keys=["id"], partition_filter="part = 'A'", merge_schema=True)
    got = {r["id"]: (r["s"], r["score"]) for r in t.read().collect()}
    assert got == {1: ("a1", None), 2: ("a2-upd", 7), 3: ("b1", None)}


def test_concurrent_appends_from_real_threads(spark, tmp_path):
    """The O_EXCL optimistic-concurrency protocol under REAL contention:
    8 threads race 3 appends each; every row must survive (each loser
    rebases onto the winner's manifest) and the log must be a gapless
    version chain."""
    from concurrent.futures import ThreadPoolExecutor

    t = LakeTable(spark, str(tmp_path / "race_threads"))
    t.overwrite(spark.createDataFrame([(0, -1)], "thread int, seq int"))

    def work(thread_id):
        w = LakeTable(spark, t.path)
        for seq in range(3):
            w.append(
                spark.createDataFrame([(thread_id, seq)], "thread int, seq int")
            )

    with ThreadPoolExecutor(max_workers=8) as ex:
        list(ex.map(work, range(1, 9)))

    rows = sorted((r["thread"], r["seq"]) for r in t.read().collect())
    expected = [(0, -1)] + [(th, sq) for th in range(1, 9) for sq in range(3)]
    assert rows == sorted(expected)
    # gapless chain: 1 overwrite + 24 appends
    assert t.current_version() == 25
    assert [h["version"] for h in t.history()] == list(range(25, 0, -1))


def test_legacy_v1_string_manifest_reads(spark, tmp_path):
    """A v1 manifest whose files are plain strings (no excludes/stats)
    still reads, appends, and data-skips (stats-less files are never
    pruned — soundness over optimization). A log written before the
    schema was recorded reads identically (the schema is inferred),
    and its next commit records the schema."""
    import json as _json
    import os as _os

    t = LakeTable(spark, str(tmp_path / "legacy"))
    t.append(spark.createDataFrame([(1, "a")], "id int, s string"))
    # rewrite the manifest into the v1 plain-string shape
    m_path = _os.path.join(t.path, "_log", "00000001.json")
    with open(m_path) as f:
        m = _json.load(f)
    m["files"] = [e["path"] for e in m["files"]]
    _os.remove(m_path)
    with open(m_path, "w") as f:
        _json.dump(m, f)

    assert _rows(t) == [(1, "a")]
    total, read = t.scan_files(("id", "=", 999))
    assert read == total  # no stats -> nothing prunable, nothing lost
    t.append(spark.createDataFrame([(2, "b")], "id int, s string"))
    assert _rows(t) == [(1, "a"), (2, "b")]

    # a partitioned log with an evolved schema, then every recorded
    # schema stripped: the legacy shape
    lt = LakeTable(spark, str(tmp_path / "legacy_schema"))
    lt.overwrite(
        spark.createDataFrame([(1, 0, "a"), (2, 1, "b")], "id long, p long, s string"),
        partition_by=["p"],
    )
    lt.append(
        spark.createDataFrame([(3, 1, "c", 0.5)], "id long, p long, s string, x double"),
        merge_schema=True,
    )
    v = lt.current_version()
    before = [(df.dtypes, sorted(map(tuple, df.collect()))) for df in (lt.read(), lt.read(1))]
    log = _os.path.join(lt.path, "_log")
    for name in _os.listdir(log):
        with open(_os.path.join(log, name)) as f:
            m = _json.load(f)
        m.pop("schema", None)
        with open(_os.path.join(log, name), "w") as f:
            _json.dump(m, f)
    assert all("schema" not in lt._manifest(kv) for kv in range(1, v + 1))
    after = [(df.dtypes, sorted(map(tuple, df.collect()))) for df in (lt.read(), lt.read(1))]
    assert after == before
    assert lt.schema().simpleString() == "struct<id:bigint,s:string,p:int,x:double>"
    lt.append(spark.createDataFrame([(4, 0, "d")], "id long, p long, s string"))
    assert lt._manifest(v + 1)["schema"] == lt.schema(v).jsonValue()
    assert lt.read().dtypes == before[0][0]


def test_vacuum_min_age_protects_inflight_dirs(spark, tmp_path):
    """An unreferenced-but-fresh data dir may belong to a writer that
    hasn't committed yet — default vacuum must skip it (wall-clock
    retention, Delta's guard); min_age_seconds=0 opts into immediate
    reclaim for single-writer maintenance."""
    import os as _os

    t = LakeTable(spark, str(tmp_path / "vac_age"))
    t.overwrite(spark.createDataFrame([(1, "a")], "id int, s string"))
    # simulate an in-flight writer: a data dir written, not yet committed
    inflight = _os.path.join(t.path, "data", "deadbeef" * 4)
    _os.makedirs(inflight)
    assert t.vacuum(retain_last=1) == []  # default min_age protects it
    removed = t.vacuum(retain_last=1, min_age_seconds=0)
    assert removed == [_os.path.join("data", "deadbeef" * 4)]


def test_unscoped_merge_detects_concurrent_append(spark, tmp_path):
    """A full-table MERGE that raced a concurrent append must raise
    ConcurrentWriteError instead of silently dropping the appended rows
    (the lost-update hole plain overwrite would have)."""
    from privacy_cdc_lakehouse_spark.tables import ConcurrentWriteError

    t = LakeTable(spark, str(tmp_path / "race_merge"))
    t.overwrite(spark.createDataFrame([(1, "a")], "id int, s string"))
    source = spark.createDataFrame([(1, "a2")], "id int, s string")

    orig_commit = t._commit

    def racing_commit(build, op, partition_by=None, **kw):
        winner = LakeTable(spark, t.path)
        winner.append(spark.createDataFrame([(2, "b")], "id int, s string"))
        return orig_commit(build, op, partition_by, **kw)

    t._commit = racing_commit
    try:
        with pytest.raises(ConcurrentWriteError):
            t.merge(source, keys=["id"])
    finally:
        t._commit = orig_commit
    # the concurrent append survived untouched
    assert _rows(t) == [(1, "a"), (2, "b")]


def test_partition_scoped_delete_detects_concurrent_truncate(spark, tmp_path):
    """A partition-scoped rewrite racing a TRUNCATE must not resurrect
    rows into the emptied table."""
    from privacy_cdc_lakehouse_spark.tables import ConcurrentWriteError

    t = LakeTable(spark, str(tmp_path / "race_trunc"))
    t.overwrite(
        spark.createDataFrame(
            [(1, 0, "a"), (2, 1, "b")], "id int, p int, s string"
        ),
        partition_by=["p"],
    )

    orig_commit = t._commit

    def racing_commit(build, op, partition_by=None, **kw):
        LakeTable(spark, t.path).truncate()
        return orig_commit(build, op, partition_by, **kw)

    t._commit = racing_commit
    try:
        with pytest.raises(ConcurrentWriteError):
            t.delete_where(F.col("id") == 1, partition_filter="p = 0")
    finally:
        t._commit = orig_commit
    assert t.read().count() == 0  # the truncate's outcome stands


def test_update_where_unknown_set_column_raises(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "upd_unknown"))
    t.overwrite(spark.createDataFrame([(1, "a")], "id int, s string"))
    with pytest.raises(ValueError, match="not in table"):
        t.update_where(F.col("id") == 1, {"emial": F.lit("x")})


def test_append_rejects_extra_columns_without_merge_schema(spark, tmp_path):
    """A batch carrying columns the table lacks is rejected unless
    merge_schema=True — otherwise the read path's unionByName silently
    evolves the schema (e.g. leaking a CDC pipeline's op column)."""
    t = LakeTable(spark, str(tmp_path / "append_strict"))
    t.overwrite(spark.createDataFrame([(1, "a")], "id int, s string"))
    batch = spark.createDataFrame([(2, "b", "u")], "id int, s string, op string")
    with pytest.raises(ValueError, match="merge_schema"):
        t.append(batch)
    t.append(batch, merge_schema=True)  # explicit evolution still works
    assert "op" in t.read().columns


def test_non_utc_session_disables_naive_timestamp_pruning(spark, tmp_path):
    """Footer stats are UTC-normalized but a naive datetime literal is
    session-tz-interpreted — under a non-UTC session such predicates
    must not prune (soundness), while they do prune under UTC."""
    import datetime as _dt

    t = LakeTable(spark, str(tmp_path / "tz_prune"))
    t.append(
        spark.sql(
            "SELECT TIMESTAMP'2024-01-01 01:00:00' AS ts, 1 AS id"
        ).coalesce(1)
    )
    t.append(
        spark.sql(
            "SELECT TIMESTAMP'2024-06-01 01:00:00' AS ts, 2 AS id"
        ).coalesce(1)
    )
    naive = _dt.datetime(2024, 3, 1, 0, 0, 0)
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        total, read_utc = t.scan_files(("ts", "<", naive))
        assert read_utc < total  # prunes under UTC
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        total2, read_ny = t.scan_files(("ts", "<", naive))
        assert read_ny == total2  # refuses to prune under non-UTC
        # and the read(where=) == read().filter() invariant holds
        a = sorted(r["id"] for r in t.read(where=("ts", "<", naive)).collect())
        b = sorted(
            r["id"] for r in t.read().filter(F.col("ts") < F.lit(naive)).collect()
        )
        assert a == b
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def _mk_partitioned(spark, tmp_path, name):
    t = LakeTable(spark, str(tmp_path / name))
    t.overwrite(
        spark.createDataFrame(
            [(1, 0, "a"), (2, 1, "b")], "id int, p int, s string"
        ),
        partition_by=["p"],
    )
    return t


def test_merge_merge_disjoint_partition_filters_both_land(spark, tmp_path):
    """Two MERGEs scoped to DISJOINT partition filters serialize
    cleanly: the loser's unseen dir holds only partitions its own
    filter can never touch, so the commit proceeds instead of raising
    (Delta's partition-level conflict resolution)."""
    t = _mk_partitioned(spark, tmp_path, "mm_disjoint")

    orig_commit = t._commit

    def racing_commit(build, op, partition_by=None, **kw):
        # a concurrent writer lands a p=1-scoped MERGE first
        w = LakeTable(spark, t.path)
        w.merge(
            spark.createDataFrame([(2, 1, "b2")], "id int, p int, s string"),
            keys=["id"],
            partition_filter="p = 1",
        )
        t._commit = orig_commit  # the inner merge must not recurse
        return orig_commit(build, op, partition_by, **kw)

    t._commit = racing_commit
    try:
        t.merge(
            spark.createDataFrame([(1, 0, "a2")], "id int, p int, s string"),
            keys=["id"],
            partition_filter="p = 0",
        )
    finally:
        t._commit = orig_commit
    # BOTH merges' outcomes are visible — no lost update, no conflict
    assert _rows(t) == [(1, "a2", 0), (2, "b2", 1)]


def test_merge_merge_overlapping_partition_filters_conflict(spark, tmp_path):
    """Two MERGEs whose partition filters OVERLAP race: the loser must
    raise ConcurrentWriteError (its rewrite was computed from a
    snapshot missing the winner's rows) and the winner's outcome must
    stand untouched."""
    from privacy_cdc_lakehouse_spark.tables import ConcurrentWriteError

    t = _mk_partitioned(spark, tmp_path, "mm_overlap")

    orig_commit = t._commit

    def racing_commit(build, op, partition_by=None, **kw):
        w = LakeTable(spark, t.path)
        w.merge(
            spark.createDataFrame([(3, 0, "c")], "id int, p int, s string"),
            keys=["id"],
            partition_filter="p = 0",
        )
        t._commit = orig_commit
        return orig_commit(build, op, partition_by, **kw)

    t._commit = racing_commit
    try:
        with pytest.raises(ConcurrentWriteError):
            t.merge(
                spark.createDataFrame([(1, 0, "a2")], "id int, p int, s string"),
                keys=["id"],
                partition_filter="p = 0",
            )
    finally:
        t._commit = orig_commit
    # winner's insert stands; loser's update never landed
    assert _rows(t) == [(1, "a", 0), (2, "b", 1), (3, "c", 0)]


def test_concurrent_merges_real_threads_disjoint(spark, tmp_path):
    """Real-thread merge-vs-merge on disjoint partitions: whatever the
    interleaving (true race or serialization), both MERGEs must land —
    partition-level conflict resolution means disjoint writers never
    block each other."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    t = _mk_partitioned(spark, tmp_path, "mm_threads")
    gate = threading.Barrier(2, timeout=120)

    def work(p, new_s):
        w = LakeTable(spark, t.path)
        gate.wait()  # maximize the chance both read the same base
        w.merge(
            spark.createDataFrame(
                [(p + 1, p, new_s)], "id int, p int, s string"
            ),
            keys=["id"],
            partition_filter=f"p = {p}",
        )

    with ThreadPoolExecutor(max_workers=2) as ex:
        futs = [ex.submit(work, 0, "a2"), ex.submit(work, 1, "b2")]
        for f in futs:
            f.result()  # neither may raise

    assert _rows(t) == [(1, "a2", 0), (2, "b2", 1)]


# ---------------- merge-on-read DELETE (Iceberg equality-delete /
# Delta deletion-vector analogue over the exclusion machinery) --------


def _data_dirs(t):
    import os

    root = os.path.join(t.path, "data")
    return sorted(os.listdir(root)) if os.path.isdir(root) else []


def test_merge_on_read_delete_is_metadata_only(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "mor"))
    t.overwrite(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id int, s string"
        )
    )
    dirs_before = _data_dirs(t)
    v = t.delete_where("id = 2", mode="merge_on_read")
    assert v == 2
    # O(1): no data dir written or removed
    assert _data_dirs(t) == dirs_before
    assert _rows(t) == [(1, "a"), (3, "c")]
    # time travel still shows the deleted row
    assert sorted(tuple(r) for r in t.read(version=1).collect()) == [
        (1, "a"),
        (2, "b"),
        (3, "c"),
    ]


def test_merge_on_read_null_semantics_and_count(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "mor"))
    t.overwrite(
        spark.createDataFrame(
            [(1, 10), (2, None), (3, 30)], "id int, x int"
        )
    )
    v, n = t.delete_where(
        "x > 5", mode="merge_on_read", return_count=True
    )
    # NULL predicate rows are KEPT (SQL DELETE semantics)
    assert n == 2
    assert _rows(t) == [(2, None)]


def test_merge_on_read_compact_materializes(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "mor"))
    t.overwrite(
        spark.createDataFrame([(i, i % 2) for i in range(10)], "id int, k int")
    )
    t.delete_where("k = 1", mode="merge_on_read")
    t.compact(target_partitions=1)
    assert [r["id"] for r in t.read().orderBy("id").collect()] == [
        0, 2, 4, 6, 8,
    ]
    # the compacted entry carries no exclusion predicates
    snap = t._snapshot(t.current_version())
    assert all(e["excludes"] == [] for e in snap["files"])


def test_merge_on_read_requires_string_predicate(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "mor"))
    t.overwrite(spark.createDataFrame([(1, "a")], "id int, s string"))
    with pytest.raises(ValueError, match="SQL text"):
        t.delete_where(F.col("id") == 1, mode="merge_on_read")
    with pytest.raises(ValueError, match="unknown delete mode"):
        t.delete_where("id = 1", mode="nonsense")


def test_merge_on_read_bad_predicate_fails_at_delete_time(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "mor"))
    t.overwrite(spark.createDataFrame([(1, "a")], "id int, s string"))
    with pytest.raises(Exception):
        t.delete_where("no_such_col = 1", mode="merge_on_read")
    # the table is still readable — the typo never reached the manifest
    assert _rows(t) == [(1, "a")]


def test_merge_on_read_cdf_and_partition_filter(spark, tmp_path):
    from privacy_cdc_lakehouse_spark.tables import CHANGE_TYPE_COL

    t = LakeTable(spark, str(tmp_path / "mor"))
    t.overwrite(
        spark.createDataFrame(
            [(1, 0, "a"), (2, 0, "b"), (3, 1, "c")],
            "id int, p int, s string",
        ),
        partition_by=["p"],
    )
    v = t.delete_where(
        "s <> 'a'",
        partition_filter="p = 0",
        mode="merge_on_read",
        write_change_data=True,
    )
    # only the p=0 slice was in scope: (3,1,'c') survives
    assert _rows(t) == [(1, "a", 0), (3, "c", 1)]
    feed = sorted(
        tuple(r)
        for r in t.read_changes(v, v)
        .select(CHANGE_TYPE_COL, "id", "s")
        .collect()
    )
    assert feed == [("delete", 2, "b")]


def test_merge_on_read_then_append_keeps_new_rows(spark, tmp_path):
    """The exclusion applies to files present at the delete commit;
    rows appended AFTER it must not be filtered, even when they match
    the predicate."""
    t = LakeTable(spark, str(tmp_path / "mor"))
    t.overwrite(spark.createDataFrame([(1, "x"), (2, "y")], "id int, s string"))
    t.delete_where("s = 'x'", mode="merge_on_read")
    t.append(spark.createDataFrame([(9, "x")], "id int, s string"))
    assert _rows(t) == [(2, "y"), (9, "x")]


# ---------------- shallow clone (zero-copy) ----------------------------


def test_shallow_clone_zero_copy_and_independent(spark, tmp_path):
    import os

    src = LakeTable(spark, str(tmp_path / "src"))
    src.overwrite(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id int, s string"
        )
    )
    clone = src.clone_to(str(tmp_path / "clone"))
    # zero-copy: identical content, no data dir under the clone root
    assert _rows(clone) == _rows(src)
    assert not os.path.isdir(os.path.join(clone.path, "data"))
    # independent evolution: the clone's writes never touch the source
    clone.append(spark.createDataFrame([(4, "d")], "id int, s string"))
    clone.delete_where(F.col("id") == 1)
    assert _rows(src) == [(1, "a"), (2, "b"), (3, "c")]
    assert _rows(clone) == [(2, "b"), (3, "c"), (4, "d")]
    # clone vacuum walks only its own root: source files survive
    clone.vacuum(retain_last=1, min_age_seconds=0)
    assert _rows(src) == [(1, "a"), (2, "b"), (3, "c")]


def test_shallow_clone_pruned_read_and_compact_materializes(spark, tmp_path):
    import os

    src = LakeTable(spark, str(tmp_path / "src"))
    src.overwrite(
        spark.createDataFrame([(i, i * 10) for i in range(100)], "id int, x int")
    )
    clone = src.clone_to(str(tmp_path / "clone"))
    # data-skipping read resolves the absolutized stats keys
    got = sorted(
        r["id"] for r in clone.read(where=[("id", ">=", 90)]).collect()
    )
    assert got == list(range(90, 100))
    # compact materializes: clone owns its bytes afterwards
    clone.compact(target_partitions=1)
    assert os.path.isdir(os.path.join(clone.path, "data"))
    snap = clone._snapshot(clone.current_version())
    assert all(not os.path.isabs(e["path"]) for e in snap["files"])
    assert sorted(tuple(r) for r in clone.read().collect()) == sorted(
        tuple(r) for r in src.read().collect()
    )


def test_shallow_clone_guards(spark, tmp_path):
    src = LakeTable(spark, str(tmp_path / "src"))
    src.overwrite(spark.createDataFrame([(1, "a")], "id int, s string"))
    src.clone_to(str(tmp_path / "clone"))
    with pytest.raises(ValueError, match="already has commits"):
        src.clone_to(str(tmp_path / "clone"))
    empty = LakeTable(spark, str(tmp_path / "none"))
    with pytest.raises(FileNotFoundError):
        empty.clone_to(str(tmp_path / "c2"))


def test_shallow_clone_partitioned_source(spark, tmp_path):
    src = LakeTable(spark, str(tmp_path / "src"))
    src.overwrite(
        spark.createDataFrame(
            [(1, 0, "a"), (2, 1, "b")], "id int, p int, s string"
        ),
        partition_by=["p"],
    )
    clone = src.clone_to(str(tmp_path / "clone"))
    assert _rows(clone) == [(1, "a", 0), (2, "b", 1)]
    # the clone inherits the partition spec: a partition-scoped merge works
    clone.merge(
        spark.createDataFrame([(3, 0, "c")], "id int, p int, s string"),
        keys=["id"],
        partition_filter="p = 0",
    )
    assert _rows(clone) == [(1, "a", 0), (2, "b", 1), (3, "c", 0)]


def test_merge_not_matched_by_source_delete_and_update(spark, tmp_path):
    """Delta's WHEN NOT MATCHED BY SOURCE pair: retention-delete and
    mark-stale in the same commit as the upsert. Matched/unmatched
    source clauses are unaffected; only target rows NO source row
    matched see the clauses; DELETE wins over UPDATE."""
    t = LakeTable(spark, str(tmp_path / "nmbs"))
    t.overwrite(
        spark.createDataFrame(
            [
                (1, "touched", 1.0),
                (2, "stale_delete", 2.0),
                (3, "stale_mark", 9.0),
                (4, "fresh", 3.0),
            ],
            "id int, s string, v double",
        )
    )
    source = spark.createDataFrame(
        [(1, "updated", 1.5), (5, "inserted", 5.0)], "id int, s string, v double"
    )
    v = t.merge(
        source,
        keys=["id"],
        not_matched_by_source_delete=F.col("s") == "stale_delete",
        not_matched_by_source_update_condition=F.col("v") > 5.0,
        not_matched_by_source_update_values={"s": F.lit("archived")},
    )
    assert _rows(t) == [
        (1, "updated", 1.5),
        (3, "archived", 9.0),
        (4, "fresh", 3.0),
        (5, "inserted", 5.0),
    ]
    assert v == t.current_version()


def test_merge_nmbs_unconditional_update_and_null_condition(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "nmbs2"))
    t.overwrite(
        spark.createDataFrame(
            [(1, "a", None), (2, "b", "x"), (3, "c", None)],
            "id int, s string, flag string",
        )
    )
    source = spark.createDataFrame([(1, "a2")], "id int, s string")
    # NULL delete condition (flag = 'y' is NULL for flag=NULL rows)
    # must NOT fire; values without a condition fire unconditionally.
    t.merge(
        source,
        keys=["id"],
        update_values={"s": F.col("s.s")},
        not_matched_by_source_delete=F.col("flag") == "y",
        not_matched_by_source_update_values={"s": F.concat(F.col("t.s"), F.lit("!"))},
    )
    assert _rows(t) == [(1, "a2", None), (2, "b!", "x"), (3, "c!", None)]

    with pytest.raises(MergeError):
        t.merge(
            source,
            keys=["id"],
            not_matched_by_source_update_condition=F.lit(True),
        )
    with pytest.raises(MergeError):
        t.merge(
            source,
            keys=["id"],
            not_matched_by_source_update_values={"nope": F.lit(1)},
        )


def test_merge_nmbs_change_data_feed(spark, tmp_path):
    """CDF records the NOT MATCHED BY SOURCE effects: delete preimages
    and update pre/post image pairs for untouched-by-source rows."""
    t = LakeTable(spark, str(tmp_path / "nmbs3"))
    t.overwrite(
        spark.createDataFrame(
            [(1, "touched"), (2, "to_delete"), (3, "to_mark")],
            "id int, s string",
        )
    )
    v0 = t.current_version()
    source = spark.createDataFrame([(1, "updated")], "id int, s string")
    t.merge(
        source,
        keys=["id"],
        not_matched_by_source_delete=F.col("s") == "to_delete",
        not_matched_by_source_update_condition=F.col("s") == "to_mark",
        not_matched_by_source_update_values={"s": F.lit("marked")},
        write_change_data=True,
    )
    feed = {
        (r["id"], r["s"], r["_change_type"])
        for r in t.read_changes(v0 + 1, v0 + 1).collect()
    }
    assert (2, "to_delete", "delete") in feed
    assert (3, "to_mark", "update_preimage") in feed
    assert (3, "marked", "update_postimage") in feed
    # the matched-side update is recorded as usual
    assert (1, "updated", "update_postimage") in feed
    # untouched-and-unaffected rows never enter the feed
    assert not any(k[0] == 4 for k in feed)


def test_restore_to_old_version(spark, tmp_path):
    """Delta RESTORE parity: the restore is a NEW commit re-referencing
    the old snapshot's dirs (zero data movement); intermediate versions
    stay time-travelable, and vacuum's window protects the restored
    dirs again once the restore is the head."""
    t = LakeTable(spark, str(tmp_path / "restore1"))
    t.overwrite(spark.createDataFrame([(1, "a")], "id int, s string"))
    v1 = t.current_version()
    t.append(spark.createDataFrame([(2, "b")], "id int, s string"))
    t.delete_where("id = 1")
    assert _rows(t) == [(2, "b")]
    v_restored = t.restore(v1)
    assert _rows(t) == [(1, "a")]
    assert v_restored == t.current_version() and v_restored > v1 + 2
    # intermediate history intact
    assert sorted(tuple(r) for r in t.read(version=v1 + 1).collect()) == [
        (1, "a"),
        (2, "b"),
    ]
    assert t.history()[0]["op"] == "restore"
    # another write on top of the restore works
    t.append(spark.createDataFrame([(3, "c")], "id int, s string"))
    assert _rows(t) == [(1, "a"), (3, "c")]

    with pytest.raises(ValueError):
        t.restore(0)
    with pytest.raises(ValueError):
        t.restore(t.current_version() + 1)


def test_restore_past_vacuum_horizon_raises(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "restore2"))
    t.overwrite(spark.createDataFrame([(1,)], "id int"))
    v1 = t.current_version()
    t.overwrite(spark.createDataFrame([(2,)], "id int"))
    t.vacuum(retain_last=1, min_age_seconds=0)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        t.restore(v1)
    # table still healthy at head
    assert _rows(t) == [(2,)]


def test_in_list_skipping(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "inlist"))
    t.set_properties({"bloom.columns": ["id"], "bloom.bits": 4096})
    t.append(spark.createDataFrame([(0,), (2,), (4,)], "id long").coalesce(1))
    t.append(spark.createDataFrame([(100,), (102,)], "id long").coalesce(1))
    # min/max prunes file B for small values; bloom prunes file A for
    # absent values within its range
    assert t.scan_files(("id", "in", [1, 3])) == (2, 0)
    assert t.scan_files(("id", "in", [2, 100])) == (2, 2)
    # 101 is INSIDE file B's min/max but absent -> the bloom prunes it
    assert t.scan_files(("id", "in", [2, 101])) == (2, 1)
    assert t.scan_files(("id", "in", [2, 3])) == (2, 1)
    assert t.scan_files(("id", "in", [])) == (2, 0)
    got = sorted(r["id"] for r in t.read(where=("id", "in", [2, 100, 7])).collect())
    assert got == [2, 100]
    assert t.read(where=("id", "in", [])).count() == 0


def test_check_constraints_enforced_on_writes(spark, tmp_path):
    """Delta CHECK-constraint parity: ADD validates existing rows,
    every subsequent write validates the written batch BEFORE
    committing (nothing lands on violation), NULL results pass (SQL
    CHECK), and DROP lifts enforcement."""
    from privacy_cdc_lakehouse_spark.tables import ConstraintViolationError

    t = LakeTable(spark, str(tmp_path / "chk"))
    t.overwrite(
        spark.createDataFrame([(1, 5.0), (2, None)], "id int, v double")
    )
    t.add_check_constraint("v_pos", "v > 0")  # NULL row passes
    v_before = t.current_version()

    with pytest.raises(ConstraintViolationError, match="v_pos"):
        t.append(spark.createDataFrame([(3, -1.0)], "id int, v double"))
    assert t.current_version() == v_before  # nothing committed
    assert _rows(t) == [(1, 5.0), (2, None)]

    t.append(spark.createDataFrame([(3, 3.0)], "id int, v double"))
    assert _rows(t) == [(1, 5.0), (2, None), (3, 3.0)]

    # merge output is validated too (an UPDATE driving v negative)
    with pytest.raises(ConstraintViolationError):
        t.merge(
            spark.createDataFrame([(1, -9.0)], "id int, v double"),
            keys=["id"],
        )

    # ADD over a violating table refuses
    with pytest.raises(ConstraintViolationError):
        t.add_check_constraint("v_small", "v < 4")

    t.drop_check_constraint("v_pos")
    t.append(spark.createDataFrame([(4, -2.0)], "id int, v double"))
    assert (4, -2.0) in _rows(t)


def test_check_constraint_sql_verbs(spark, tmp_path):
    from privacy_cdc_lakehouse_spark.sql_merge import sql_dml
    from privacy_cdc_lakehouse_spark.tables import ConstraintViolationError

    t = LakeTable(spark, str(tmp_path / "chk_sql"))
    t.overwrite(spark.createDataFrame([(1, "ok")], "id int, s string"))
    sql_dml(
        spark,
        "ALTER TABLE tgt ADD CONSTRAINT s_nonempty CHECK (length(s) > 0)",
        {"tgt": t},
    )
    assert t.check_constraints() == {"s_nonempty": "length(s) > 0"}
    with pytest.raises(ConstraintViolationError):
        sql_dml(spark, "INSERT INTO tgt VALUES (2, '')", {"tgt": t})
    sql_dml(spark, "ALTER TABLE tgt DROP CONSTRAINT s_nonempty", {"tgt": t})
    sql_dml(spark, "INSERT INTO tgt VALUES (2, '')", {"tgt": t})
    assert len(_rows(t)) == 2


def test_properties_survive_checkpoints_bounded_walk(spark, tmp_path, monkeypatch):
    """Checkpoints embed non-empty properties, so (a) properties set
    long ago stay visible past many checkpoint rotations and (b) the
    walk-back terminates at the first checkpoint — it runs on every
    write via the constraint/bloom gate and must not scale with log
    length. The schema is carried the same way: checkpoints embed it,
    and a delta commit that does not change it records nothing."""
    monkeypatch.setattr(T, "_CHECKPOINT_INTERVAL", 5)
    t = LakeTable(spark, str(tmp_path / "props_ckpt"))
    t.overwrite(spark.createDataFrame([(0,)], "id int"))
    t.set_properties({"owner": "dq"})
    for i in range(1, 13):  # crosses two checkpoint boundaries
        t.append(spark.createDataFrame([(i,)], "id int"))
    assert t.properties()["owner"] == "dq"
    # the latest checkpoint manifest itself carries the properties
    v = t.current_version()
    ckpt = max(
        kv for kv in range(1, v + 1) if "files" in t._manifest(kv)
    )
    assert t._manifest(ckpt).get("properties", {}).get("owner") == "dq"
    assert t._manifest(ckpt)["schema"] == t.schema().jsonValue()
    assert "schema" not in t._manifest(v) and "delta" in t._manifest(v)


def test_merge_nmbs_respects_partition_filter(spark, tmp_path):
    """With partition_filter, NOT MATCHED BY SOURCE clauses only see
    rows INSIDE the filter — stale rows in untouched partitions
    survive (the Delta dynamic-scope contract)."""
    t = LakeTable(spark, str(tmp_path / "nmbs_pf"))
    t.overwrite(
        spark.createDataFrame(
            [
                (1, "A", "live"),
                (2, "A", "stale"),
                (3, "B", "stale"),
            ],
            "id int, part string, state string",
        ),
        partition_by=["part"],
    )
    source = spark.createDataFrame(
        [(1, "A", "updated")], "id int, part string, state string"
    )
    t.merge(
        source,
        keys=["id"],
        partition_filter="part = 'A'",
        not_matched_by_source_delete=F.col("state") == "stale",
    )
    got = sorted(
        tuple(r) for r in t.read().select("id", "part", "state").collect()
    )
    # A-stale deleted; B-stale untouched (outside the filter)
    assert got == [(1, "A", "updated"), (3, "B", "stale")]


def test_set_properties_race_merges_both_writers(spark, tmp_path):
    """Two property commits racing on DIFFERENT keys must both survive:
    the merge happens inside the commit retry, against the winner's
    committed state — not against a pre-race snapshot."""
    t = LakeTable(spark, str(tmp_path / "props_race"))
    t.overwrite(spark.createDataFrame([(1,)], "id int"))

    orig_commit = t._commit
    fired = {"done": False}

    def racing_commit(build, op, partition_by=None, **kw):
        # another writer lands its OWN property between our read and
        # our commit attempt (once — the retry must pick it up)
        if not fired["done"]:
            fired["done"] = True
            winner = LakeTable(spark, t.path)
            winner.set_properties({"theirs": "w"})
        return orig_commit(build, op, partition_by, **kw)

    t._commit = racing_commit
    try:
        t.set_properties({"ours": "l"})
    finally:
        t._commit = orig_commit

    props = t.properties()
    assert props.get("theirs") == "w" and props.get("ours") == "l"


def test_merge_nmbs_with_schema_evolution(spark, tmp_path):
    """NOT MATCHED BY SOURCE update may SET a column the merge itself
    just evolved in (merge_schema=True): kept rows see the new column
    as NULL and the clause can fill it."""
    t = LakeTable(spark, str(tmp_path / "nmbs_evo"))
    t.overwrite(
        spark.createDataFrame([(1, "touched"), (2, "stale")], "id int, s string")
    )
    source = spark.createDataFrame(
        [(1, "updated", "fresh")], "id int, s string, status string"
    )
    t.merge(
        source,
        keys=["id"],
        merge_schema=True,
        not_matched_by_source_update_values={"status": F.lit("aged")},
    )
    got = sorted(tuple(r) for r in t.read().select("id", "s", "status").collect())
    assert got == [(1, "updated", "fresh"), (2, "stale", "aged")]


def test_add_check_constraint_revalidates_on_concurrent_write(
    spark, tmp_path, monkeypatch
):
    """ADD CONSTRAINT is transactional (Delta parity): a concurrent
    data write that lands BETWEEN the existing-rows scan and the
    property commit forces a rebase that re-scans the new snapshot —
    the constraint can never commit over violating rows it never saw."""
    from privacy_cdc_lakehouse_spark.tables import ConstraintViolationError

    t = LakeTable(spark, str(tmp_path / "chk_race"))
    t.overwrite(spark.createDataFrame([(1, 5.0), (2, 2.0)], "id int, v double"))

    raced = []
    orig_check = LakeTable._check_rows  # staticmethod → plain function

    def racing_check(df, constraints):
        orig_check(df, constraints)
        if not raced:
            raced.append(1)
            # a concurrent writer lands a VIOLATING row after our scan
            # passed but before our property commit claims a version
            LakeTable(spark, str(tmp_path / "chk_race")).append(
                spark.createDataFrame([(3, -1.0)], "id int, v double")
            )

    monkeypatch.setattr(LakeTable, "_check_rows", staticmethod(racing_check))
    with pytest.raises(ConstraintViolationError, match="v_pos"):
        t.add_check_constraint("v_pos", "v > 0")
    monkeypatch.undo()
    fresh = LakeTable(spark, str(tmp_path / "chk_race"))
    # the property never landed; the racing append did
    assert "check.v_pos" not in fresh.properties()
    assert sorted(_rows(fresh)) == [(1, 5.0), (2, 2.0), (3, -1.0)]
    # and without the race, ADD still refuses over the violating table
    with pytest.raises(ConstraintViolationError):
        fresh.add_check_constraint("v_pos", "v > 0")


def test_merge_on_read_update_o_changed_rows(spark, tmp_path):
    """MoR UPDATE (round 7): one commit = exclusion on prior entries +
    a new data dir holding ONLY the rewritten matches — O(changed rows)
    write cost, matching semantics with copy-on-write."""
    t = LakeTable(spark, str(tmp_path / "mor_u"))
    t.overwrite(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "b", None), (4, "c", 40)],
            "id int, tag string, amt int",
        )
    )
    dirs_before = _data_dirs(t)
    v = t.update_where(
        "tag = 'b'", {"amt": F.coalesce(F.col("amt"), F.lit(0)) * 2},
        mode="merge_on_read",
    )
    assert v == 2
    # prior dirs survive (excluded, not rewritten); exactly ONE new dir
    dirs_after = _data_dirs(t)
    assert set(dirs_before) < set(dirs_after)
    assert len(set(dirs_after) - set(dirs_before)) == 1
    # NULL predicate rows untouched; matches updated
    assert _rows(t) == [(1, "a", 10), (2, "b", 40), (3, "b", 0), (4, "c", 40)]
    # the new dir holds ONLY the changed rows
    snap = t._snapshot(t.current_version())
    new_entry = [e for e in snap["files"] if not e["excludes"]]
    assert len(new_entry) == 1
    import os

    n_new = spark.read.parquet(
        os.path.join(t.path, new_entry[0]["path"])
    ).count()
    assert n_new == 2
    # time travel shows the pre-update state
    assert sorted(tuple(r) for r in t.read(version=1).collect())[1] == (2, "b", 20)
    # semantics == copy-on-write on the same input
    t2 = LakeTable(spark, str(tmp_path / "cow_u"))
    t2.overwrite(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "b", None), (4, "c", 40)],
            "id int, tag string, amt int",
        )
    )
    t2.update_where("tag = 'b'", {"amt": F.coalesce(F.col("amt"), F.lit(0)) * 2})
    assert _rows(t) == _rows(t2)


def test_merge_on_read_update_set_keeps_predicate_true(spark, tmp_path):
    """SET can leave the predicate true (v = v + 1 WHERE v > 5): the
    exclusion attaches only to PRIOR entries, never to the new rows —
    delta replay applies exclude_all before add."""
    t = LakeTable(spark, str(tmp_path / "mor_u2"))
    t.overwrite(spark.createDataFrame([(1, 3), (2, 7)], "id int, v int"))
    t.update_where("v > 5", {"v": F.col("v") + 1}, mode="merge_on_read")
    assert _rows(t) == [(1, 3), (2, 8)]
    # idempotence check of the mechanism: a second MoR update stacks
    t.update_where("v > 5", {"v": F.col("v") + 1}, mode="merge_on_read")
    assert _rows(t) == [(1, 3), (2, 9)]
    # compact materializes: no exclusions survive, rows unchanged
    t.compact(target_partitions=1)
    snap = t._snapshot(t.current_version())
    assert all(e["excludes"] == [] for e in snap["files"])
    assert _rows(t) == [(1, 3), (2, 9)]


def test_merge_on_read_update_change_feed_and_guards(spark, tmp_path):
    from privacy_cdc_lakehouse_spark.tables import CHANGE_TYPE_COL

    t = LakeTable(spark, str(tmp_path / "mor_u3"))
    t.overwrite(spark.createDataFrame([(1, 10), (2, 20)], "id int, v int"))
    v = t.update_where(
        "id = 2", {"v": F.lit(99)}, mode="merge_on_read",
        write_change_data=True,
    )
    feed = t.read_changes(v, v)
    got = sorted(
        (r[CHANGE_TYPE_COL], r["id"], r["v"]) for r in feed.collect()
    )
    assert got == [("update_postimage", 2, 99), ("update_preimage", 2, 20)]
    with pytest.raises(ValueError, match="SQL text"):
        t.update_where(F.col("id") == 1, {"v": F.lit(0)}, mode="merge_on_read")
    with pytest.raises(ValueError, match="unknown update mode"):
        t.update_where("id = 1", {"v": F.lit(0)}, mode="nope")
    with pytest.raises(ValueError, match="SET columns"):
        t.update_where("id = 1", {"zz": F.lit(0)}, mode="merge_on_read")


def test_row_level_mode_table_properties(spark, tmp_path):
    """Iceberg-parity write.delete.mode / write.update.mode properties
    default the row-level strategy; explicit mode args override; a
    property-selected merge-on-read falls back to copy-on-write for a
    typed Column predicate (explicit MoR still fails loudly)."""
    t = LakeTable(spark, str(tmp_path / "rlm"))
    t.overwrite(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id int, tag string, v int"
        )
    )
    t.set_properties(
        {"write.delete.mode": "merge-on-read", "write.update.mode": "merge-on-read"}
    )
    dirs_before = _data_dirs(t)
    # property-driven MoR delete: metadata-only, no dir change
    t.delete_where("id = 3")
    assert _data_dirs(t) == dirs_before
    assert _rows(t) == [(1, "a", 10), (2, "b", 20)]
    # property-driven MoR update: exactly one new dir, priors excluded
    t.update_where("tag = 'b'", {"v": F.lit(99)})
    assert len(set(_data_dirs(t)) - set(dirs_before)) == 1
    assert _rows(t) == [(1, "a", 10), (2, "b", 99)]
    # typed Column predicate under the MoR property: graceful CoW
    t.delete_where(F.col("id") == 1)
    assert _rows(t) == [(2, "b", 99)]
    # explicit MoR + Column predicate still fails loudly
    with pytest.raises(ValueError, match="SQL text"):
        t.delete_where(F.col("id") == 2, mode="merge_on_read")
    # explicit CoW overrides the property (rewrites, drops exclusions
    # on the touched set); hyphenated explicit value accepted too
    t.update_where("id = 2", {"v": F.lit(1)}, mode="copy-on-write")
    assert _rows(t) == [(2, "b", 1)]
    snap = t._snapshot(t.current_version())
    assert all(e["excludes"] == [] for e in snap["files"])


def test_column_minmax_from_stats_exact_and_envelope(spark, tmp_path):
    """Metadata-only min/max: exact on append/overwrite-only tables;
    flagged inexact once an entry carries row excludes; None for
    unknown columns; all-null columns contribute no range."""
    from pyspark.sql import functions as F

    from privacy_cdc_lakehouse_spark.tables import LakeTable

    t = LakeTable(spark, str(tmp_path / "mm"))
    t.overwrite(
        spark.range(10).select(
            F.col("id").alias("k"),
            (F.col("id") * 100).alias("offset"),
            F.lit(None).cast("long").alias("end_offset"),
        )
    )
    t.append(
        spark.range(5).select(
            (F.col("id") + 100).alias("k"),
            (F.col("id") * 100 + 5000).alias("offset"),
            (F.col("id") + 1).cast("long").alias("end_offset"),
        )
    )
    assert t.column_minmax_from_stats("offset") == (0, 5400, True)
    assert t.column_minmax_from_stats("end_offset") == (1, 5, True)
    assert t.column_minmax_from_stats("k") == (0, 104, True)
    assert t.column_minmax_from_stats("nope") is None
    # matches the scan, as the docstring promises for exact tables
    mx = t.read().agg(F.max("offset")).collect()[0][0]
    assert t.column_minmax_from_stats("offset")[1] == mx

    # a MERGE with partition scoping writes excludes -> inexact
    t2 = LakeTable(spark, str(tmp_path / "mm2"))
    t2.overwrite(
        spark.range(20).select(
            F.col("id").alias("k"), F.col("id").alias("offset")
        ),
        partition_by=None,
    )
    staged = spark.range(3).select(
        F.col("id").alias("k"), (F.col("id") + 1000).alias("offset")
    )
    t2.merge(staged, keys=["k"])
    res = t2.column_minmax_from_stats("offset")
    if res is not None and res[2]:
        # merge rewrote without excludes on this path: stats stay
        # exact and must match the scan
        assert res[1] == t2.read().agg(F.max("offset")).collect()[0][0]
    else:
        assert res is None or res[2] is False


def test_column_minmax_from_stats_string_never_exact(spark, tmp_path):
    """String/binary (BYTE_ARRAY) stats may be writer-truncated (min
    rounded down, max up) with no exactness flag in the footer, so
    stats-only min/max on a string column must report exact=False even
    on an overwrite-only table — the bounds are still a sound OUTER
    envelope for pruning (round-11 advice finding)."""
    from pyspark.sql import functions as F

    from privacy_cdc_lakehouse_spark.tables import LakeTable

    t = LakeTable(spark, str(tmp_path / "mmstr"))
    t.overwrite(
        spark.range(10).select(
            F.col("id").alias("k"),
            F.concat(F.lit("name_"), F.col("id")).alias("name"),
        )
    )
    lo, hi, exact = t.column_minmax_from_stats("name")
    assert exact is False
    # the envelope still brackets the true extrema
    row = t.read().agg(
        F.min("name").alias("lo"), F.max("name").alias("hi")
    ).collect()[0]
    assert lo <= row["lo"] and hi >= row["hi"]
    # numeric columns on the same table keep the exact fast path
    assert t.column_minmax_from_stats("k") == (0, 9, True)


def _jobs_in_group(spark, group, fn):
    """(result of ``fn()``, Spark jobs it started), counted via the
    status tracker under a dedicated job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "")
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events are async
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_reads_and_schema_checks_start_no_job(spark, tmp_path):
    """The schema rides the commit log, so building a read (snapshot,
    pruned or change feed) or checking a batch against the schema
    starts no Spark job at any table history — and the recorded schema gives the same rows, column
    order and types as the per-dir schema-inferring union it replaces:
    partition columns typed by discovery (a bigint written reads back
    as int), an evolved column after them, zero-file dirs empty."""
    import functools
    import os

    from privacy_cdc_lakehouse_spark.tables import _dir_has_parquet

    schema = "id long, p long, s string"
    t = LakeTable(spark, str(tmp_path / "nojob"))
    t.overwrite(
        spark.createDataFrame([(0, 0, "a0"), (1, 1, "a1")], schema),
        partition_by=["p"],
    )
    for i in range(2, 5):
        t.append(spark.createDataFrame([(i, i % 3, f"a{i}")], schema))
    t.append(
        spark.createDataFrame([(5, 2, "a5", 0.5)], schema + ", x double"),
        merge_schema=True,
    )
    t.merge(  # partition-scoped: prior dirs get an exclude on p = 1
        spark.createDataFrame([(1, 1, "m1"), (7, 1, "m7")], schema),
        keys=["id"],
        partition_filter="p = 1",
    )
    t.delete_where("p = 2", partition_filter="p = 2")  # a zero-file dir
    t.append(spark.createDataFrame([(8, 0, "a8")], schema))
    v = t.current_version()
    files = t._snapshot_files(v)
    assert len(files) == 8 and any(e["excludes"] for e in files)
    assert not _dir_has_parquet(os.path.join(t.path, files[-2]["path"]))
    bad = spark.createDataFrame([(9, 0, "b", 1)], schema + ", y int")
    where = [("id", ">", 3)]

    def build():
        with pytest.raises(ValueError, match="columns the table lacks"):
            t.append(bad)  # append's schema check
        t.read_changes(2, 5)  # the appends, as inserts
        return t.read(), t.read(where=where), t.schema(), t.schema(v - 2)

    (full, pruned, st, st_mid), jobs = _jobs_in_group(spark, "lake_read_build", build)
    assert jobs == 0

    def inferred(version):
        dfs = []
        for e in t._snapshot_files(version):
            base = os.path.join(t.path, e["path"])
            if not _dir_has_parquet(base):
                continue
            d = spark.read.option("mergeSchema", "true").parquet(base)
            for pred in e["excludes"]:
                d = d.filter(~F.coalesce(F.expr(pred), F.lit(False)))
            dfs.append(d)
        return functools.reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs
        )

    want = inferred(v)
    assert st == full.schema and st_mid == inferred(v - 2).schema
    assert full.dtypes == want.dtypes == [
        ("id", "bigint"), ("s", "string"), ("p", "int"), ("x", "double"),
    ]
    assert pruned.dtypes == want.dtypes
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, want.collect()))
    assert sorted(map(tuple, pruned.collect())) == sorted(
        map(tuple, want.filter(F.col("id") > 3).collect())
    )
