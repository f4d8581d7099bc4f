"""Change Data Feed: write_change_data on merge/delete/update +
LakeTable.read_changes — the Delta CDF surface a CDC lakehouse exports
downstream (the reference consumes Debezium's feed; this is the same
contract on the way OUT of the lakehouse)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from privacy_cdc_lakehouse_spark.tables import (
    CHANGE_TYPE_COL,
    COMMIT_TS_COL,
    COMMIT_VERSION_COL,
    LakeTable,
)


def _changes(t, start, end=None, cols=("id", "s")):
    df = t.read_changes(start, end)
    return sorted(
        tuple(r)
        for r in df.select(
            CHANGE_TYPE_COL, COMMIT_VERSION_COL, *cols
        ).collect()
    )


def _seeded(spark, path):
    t = LakeTable(spark, path)
    t.overwrite(
        spark.createDataFrame(
            [(1, "keep"), (2, "update_me"), (3, "delete_me")],
            "id int, s string",
        )
    )
    return t


def test_merge_change_feed(spark, tmp_path):
    t = _seeded(spark, str(tmp_path / "t"))
    source = spark.createDataFrame(
        [(2, "updated", "u"), (3, None, "d"), (4, "inserted", "c"), (5, None, "d")],
        "id int, s string, op string",
    )
    v = t.merge(
        source,
        keys=["id"],
        matched_delete=F.col("s.op") == "d",
        insert_condition=F.col("s.op") != "d",
        write_change_data=True,
    )
    assert _changes(t, v, v) == [
        ("delete", v, 3, "delete_me"),
        ("insert", v, 4, "inserted"),
        ("update_postimage", v, 2, "updated"),
        ("update_preimage", v, 2, "update_me"),
    ]
    # commit timestamp rides every row
    assert (
        t.read_changes(v, v).filter(F.col(COMMIT_TS_COL).isNull()).count()
        == 0
    )


def test_merge_update_condition_limits_cdf_to_fired_rows(spark, tmp_path):
    """A matched row that fires NEITHER clause (SQL MERGE fall-through)
    must not appear in the feed at all."""
    t = _seeded(spark, str(tmp_path / "t"))
    source = spark.createDataFrame(
        [(1, "skipped", "skip"), (2, "updated", "u")],
        "id int, s string, op string",
    )
    v = t.merge(
        source,
        keys=["id"],
        matched_update_condition=F.col("s.op") == "u",
        write_change_data=True,
    )
    assert _changes(t, v, v) == [
        ("update_postimage", v, 2, "updated"),
        ("update_preimage", v, 2, "update_me"),
    ]


def test_delete_update_change_feed(spark, tmp_path):
    t = _seeded(spark, str(tmp_path / "t"))
    dv = t.delete_where(F.col("id") == 3, write_change_data=True)
    uv = t.update_where(
        F.col("id") == 2,
        {"s": F.upper(F.col("s"))},
        write_change_data=True,
    )
    assert _changes(t, dv, uv) == [
        ("delete", dv, 3, "delete_me"),
        ("update_postimage", uv, 2, "UPDATE_ME"),
        ("update_preimage", uv, 2, "update_me"),
    ]

    # Copy-on-write count + change data + partition scope together: the
    # NULL-predicate row and the out-of-scope match are kept, and the
    # count equals the feed's delete rows.
    p = LakeTable(spark, str(tmp_path / "p"))
    p.overwrite(
        spark.createDataFrame(
            [(1, 0, 5), (2, 0, None), (3, 0, 1), (4, 1, 1), (5, 0, 2)],
            "id int, bucket int, v int",
        ),
        partition_by=["bucket"],
    )
    pv, n = p.delete_where(
        "v < 3",
        partition_filter="bucket = 0",
        return_count=True,
        write_change_data=True,
        mode="copy_on_write",
    )
    changes = _changes(p, pv, pv, cols=("id",))
    assert changes == [("delete", pv, 3), ("delete", pv, 5)]
    assert n == len(changes)
    assert sorted(r["id"] for r in p.read().collect()) == [1, 2, 4]


def test_append_overwrite_truncate_synthesized(spark, tmp_path):
    """Appends/overwrites/truncates need no change files — the feed is
    synthesized from the commit's file diff / adjacent snapshots."""
    t = LakeTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], "id int, s string"))  # v1
    t.append(spark.createDataFrame([(2, "b")], "id int, s string"))  # v2
    t.truncate()  # v3
    t.overwrite(spark.createDataFrame([(9, "z")], "id int, s string"))  # v4
    assert _changes(t, 1, 2) == [("insert", 1, 1, "a"), ("insert", 2, 2, "b")]
    assert _changes(t, 3, 3) == [
        ("delete", 3, 1, "a"),
        ("delete", 3, 2, "b"),
    ]
    # overwrite of an empty (truncated) snapshot: inserts only
    assert _changes(t, 4, 4) == [("insert", 4, 9, "z")]


def test_overwrite_emits_delete_plus_insert(spark, tmp_path):
    t = _seeded(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(7, "new")], "id int, s string"))
    assert _changes(t, 2, 2) == [
        ("delete", 2, 1, "keep"),
        ("delete", 2, 2, "update_me"),
        ("delete", 2, 3, "delete_me"),
        ("insert", 2, 7, "new"),
    ]


def test_compact_contributes_nothing(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], "id int, s string"))
    t.append(spark.createDataFrame([(2, "b")], "id int, s string"))
    t.compact(target_partitions=1)  # v3: dataChange=false
    assert _changes(t, 3, 3) == []
    # and the empty result still has the CDF schema
    df = t.read_changes(3, 3)
    assert CHANGE_TYPE_COL in df.columns and COMMIT_VERSION_COL in df.columns


def test_unrecorded_dml_commit_raises(spark, tmp_path):
    t = _seeded(spark, str(tmp_path / "t"))
    v = t.delete_where(F.col("id") == 3)  # no write_change_data
    with pytest.raises(ValueError, match="change data"):
        t.read_changes(v, v)


def test_partition_scoped_merge_cdf(spark, tmp_path):
    """CDF from a partition-scoped copy-on-write merge records only the
    batch's row effects, not the rewritten partition."""
    t = LakeTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(1, 0, "a"), (2, 0, "b"), (3, 1, "c")],
            "id int, bucket int, s string",
        ),
        partition_by=["bucket"],
    )
    source = spark.createDataFrame(
        [(2, 0, "b2"), (4, 0, "d")], "id int, bucket int, s string"
    )
    v = t.merge(
        source, keys=["id"], partition_filter="bucket = 0",
        write_change_data=True,
    )
    assert _changes(t, v, v) == [
        ("insert", v, 4, "d"),
        ("update_postimage", v, 2, "b2"),
        ("update_preimage", v, 2, "b"),
    ]


def test_vacuum_reclaims_change_dirs_past_horizon(spark, tmp_path):
    t = _seeded(spark, str(tmp_path / "t"))
    t.delete_where(F.col("id") == 3, write_change_data=True)  # v2
    t.update_where(
        F.col("id") == 2, {"s": F.lit("x")}, write_change_data=True
    )  # v3
    change_root = os.path.join(str(tmp_path / "t"), "_change_data")
    assert len(os.listdir(change_root)) == 2
    removed = t.vacuum(retain_last=1, min_age_seconds=0)
    # v2's change dir is past the horizon; v3's stays readable
    assert any(r.startswith("_change_data/") for r in removed)
    assert len(os.listdir(change_root)) == 1
    assert _changes(t, 3, 3) == [
        ("update_postimage", 3, 2, "x"),
        ("update_preimage", 3, 2, "update_me"),
    ]


def test_cdf_across_schema_evolution(spark, tmp_path):
    """A feed range spanning a schema change reconciles by name —
    pre-evolution change rows carry NULL for the new column."""
    t = _seeded(spark, str(tmp_path / "t"))
    t.delete_where(F.col("id") == 3, write_change_data=True)  # v2
    t.append(
        spark.createDataFrame([(5, "e", 1.5)], "id int, s string, score double"),
        merge_schema=True,
    )  # v3
    rows = sorted(
        tuple(r)
        for r in t.read_changes(2, 3)
        .select(CHANGE_TYPE_COL, "id", "s", "score")
        .collect()
    )
    assert rows == [("delete", 3, "delete_me", None), ("insert", 5, "e", 1.5)]


def test_bad_range_raises(spark, tmp_path):
    t = _seeded(spark, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="bad change range"):
        t.read_changes(2, 3)
    with pytest.raises(ValueError, match="bad change range"):
        t.read_changes(0)


def test_cdf_replay_reconstructs_random_history(spark, tmp_path):
    """Property check over a random keyed op history (merge upserts +
    deletes, UPDATE, DELETE in both modes, TRUNCATE, OVERWRITE, append
    of fresh keys): replaying the feed in commit order — latest
    insert/update_postimage/delete per key — must reconstruct the
    final table exactly, and both must match an independently
    maintained dict model."""
    import random

    rng = random.Random(42)
    t = LakeTable(spark, str(tmp_path / "rnd"))
    state: dict[int, int] = {1: 10, 2: 20, 3: 30}
    t.overwrite(
        spark.createDataFrame(
            [(k, v) for k, v in state.items()], "id int, x int"
        )
    )
    next_id = 100
    for _ in range(10):
        op = rng.choice(["merge", "update", "delete_cow", "delete_mor", "append", "truncate", "overwrite"])
        if op == "merge" and state:
            upd_k = rng.sample(sorted(state), min(2, len(state)))
            del_k = rng.sample(sorted(state), 1)
            ins = [(next_id, rng.randrange(1000), "c")]
            next_id += 1
            src = (
                [(k, state[k] + 1, "u") for k in upd_k if k not in del_k]
                + [(k, 0, "d") for k in del_k]
                + ins
            )
            t.merge(
                spark.createDataFrame(src, "id int, x int, op string"),
                keys=["id"],
                matched_delete=F.col("s.op") == "d",
                insert_condition=F.col("s.op") != "d",
                write_change_data=True,
            )
            for k, v, o in src:
                if o == "d":
                    state.pop(k, None)
                else:
                    state[k] = v
        elif op == "update" and state:
            k = rng.choice(sorted(state))
            t.update_where(
                F.col("id") == k,
                {"x": F.col("x") * 2},
                write_change_data=True,
            )
            state[k] *= 2
        elif op == "delete_cow" and state:
            k = rng.choice(sorted(state))
            t.delete_where(F.col("id") == k, write_change_data=True)
            state.pop(k)
        elif op == "delete_mor" and state:
            k = rng.choice(sorted(state))
            t.delete_where(
                f"id = {k}", mode="merge_on_read", write_change_data=True
            )
            state.pop(k)
        elif op == "append":
            rows = [(next_id + i, rng.randrange(1000)) for i in range(2)]
            next_id += 2
            t.append(spark.createDataFrame(rows, "id int, x int"))
            state.update(dict(rows))
        elif op == "truncate":
            t.truncate()
            state.clear()
        elif op == "overwrite":
            rows = [(next_id + i, rng.randrange(1000)) for i in range(3)]
            next_id += 3
            t.overwrite(spark.createDataFrame(rows, "id int, x int"))
            state = dict(rows)

    feed = t.read_changes(1, t.current_version())
    winners = (
        feed.filter(
            F.col(CHANGE_TYPE_COL).isin("insert", "update_postimage", "delete")
        )
        .groupBy("id")
        .agg(
            F.max_by(
                F.struct(CHANGE_TYPE_COL, "x"), F.col(COMMIT_VERSION_COL)
            ).alias("s")
        )
    )
    recon = sorted(
        (r["id"], r["s"]["x"])
        for r in winners.filter(
            F.col(f"s.{CHANGE_TYPE_COL}") != "delete"
        ).collect()
    )
    table = sorted(tuple(r) for r in t.read().collect())
    model = sorted(state.items())
    assert recon == table == model


def test_restore_change_feed_is_overwrite_shaped(spark, tmp_path):
    """CDF for a restore commit: prior head as deletes + restored
    state as inserts (the overwrite shape); setproperties commits
    contribute nothing."""
    from privacy_cdc_lakehouse_spark.tables import LakeTable

    t = LakeTable(spark, str(tmp_path / "cdf_restore"))
    t.overwrite(spark.createDataFrame([(1, "a")], "id int, s string"))
    v1 = t.current_version()
    t.append(spark.createDataFrame([(2, "b")], "id int, s string"))
    t.set_properties({"owner": "x"})
    v_restore = t.restore(v1)
    feed = {
        (r["id"], r["s"], r["_change_type"])
        for r in t.read_changes(v_restore, v_restore).collect()
    }
    assert feed == {
        (1, "a", "delete"),
        (2, "b", "delete"),
        (1, "a", "insert"),
    }
    # the properties commit alone yields no rows
    assert t.read_changes(v_restore - 1, v_restore - 1).count() == 0


def test_sql_table_changes_tvf(spark, tmp_path):
    """Delta-SQL parity: SELECT * FROM table_changes(t, start[, end])
    returns the CDF frame; end defaults to the current version."""
    from privacy_cdc_lakehouse_spark.sql_merge import sql_dml

    t = LakeTable(spark, str(tmp_path / "tvf"))
    t.overwrite(spark.createDataFrame([(1, "a")], "id int, s string"))
    t.merge(
        spark.createDataFrame([(1, "a2"), (2, "b")], "id int, s string"),
        keys=["id"],
        write_change_data=True,
    )
    df = sql_dml(spark, "SELECT * FROM table_changes(tgt, 2, 2)", {"tgt": t})
    got = sorted(
        (r[CHANGE_TYPE_COL], r["id"], r["s"]) for r in df.collect()
    )
    assert got == [
        ("insert", 2, "b"),
        ("update_postimage", 1, "a2"),
        ("update_preimage", 1, "a"),
    ]
    # bare-TVF form, end defaulting to current version
    df2 = sql_dml(spark, "TABLE_CHANGES(tgt, 2)", {"tgt": t})
    assert df2.count() == 3
