"""Manifest-stats data skipping: read(where=) must (a) return exactly
read().filter(...), and (b) provably not scan files whose footer
min/max excludes the predicate (scan_files is the observable)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from privacy_cdc_lakehouse_spark.tables import LakeTable


def _mk(spark, tmp_path, name):
    return LakeTable(spark, str(tmp_path / name))


def test_point_lookup_prunes_disjoint_appends(spark, tmp_path):
    t = _mk(spark, tmp_path, "skip_ranges")
    for lo in (0, 1000, 2000):
        df = spark.range(lo, lo + 1000).select(
            F.col("id"), (F.col("id") * 2).alias("val")
        ).coalesce(1)
        t.append(df)

    total, read = t.scan_files(("id", "=", 1500))
    assert total == 3 and read == 1

    got = t.read(where=("id", "=", 1500)).collect()
    assert [(r["id"], r["val"]) for r in got] == [(1500, 3000)]


def test_range_scan_matches_plain_filter(spark, tmp_path):
    t = _mk(spark, tmp_path, "skip_range_scan")
    for lo in (0, 500, 1500):
        t.append(spark.range(lo, lo + 500).coalesce(1))

    where = [("id", ">=", 600), ("id", "<", 1600)]
    expect = sorted(
        r["id"] for r in t.read().filter((F.col("id") >= 600) & (F.col("id") < 1600)).collect()
    )
    got = sorted(r["id"] for r in t.read(where=where).collect())
    assert got == expect
    total, read = t.scan_files(where)
    assert (total, read) == (3, 2)  # the [0,500) file is proven out


def test_string_and_timestamp_stats(spark, tmp_path):
    t = _mk(spark, tmp_path, "skip_str_ts")
    rows1 = [("apple", datetime.datetime(2024, 1, 1)), ("kiwi", datetime.datetime(2024, 1, 5))]
    rows2 = [("melon", datetime.datetime(2024, 2, 1)), ("zebra", datetime.datetime(2024, 2, 9))]
    schema = "name string, ts timestamp"
    t.append(spark.createDataFrame(rows1, schema).coalesce(1))
    t.append(spark.createDataFrame(rows2, schema).coalesce(1))

    assert t.scan_files(("name", ">", "lemon")) == (2, 1)
    assert sorted(
        r["name"] for r in t.read(where=("name", ">", "lemon")).collect()
    ) == ["melon", "zebra"]

    cut = datetime.datetime(2024, 1, 15)
    assert t.scan_files(("ts", "<", cut)) == (2, 1)
    assert sorted(
        r["name"] for r in t.read(where=("ts", "<", cut)).collect()
    ) == ["apple", "kiwi"]


def test_partitioned_subset_read_keeps_partition_column(spark, tmp_path):
    t = _mk(spark, tmp_path, "skip_partitioned")
    df = spark.range(0, 100).select(
        F.col("id"),
        F.when(F.col("id") < 50, "lo").otherwise("hi").alias("bucket"),
    ).repartition(2, "bucket")
    t.overwrite(df, partition_by=["bucket"])

    total, read = t.scan_files(("id", ">=", 90))
    assert read < total
    out = t.read(where=("id", ">=", 90))
    assert set(out.columns) == {"id", "bucket"}
    assert out.count() == 10


def test_all_pruned_keeps_schema(spark, tmp_path):
    t = _mk(spark, tmp_path, "skip_empty")
    t.append(spark.range(0, 10).coalesce(1))
    out = t.read(where=("id", ">", 10_000))
    assert out.columns == ["id"] and out.count() == 0


def test_skipping_composes_with_partition_scoped_merge(spark, tmp_path):
    t = _mk(spark, tmp_path, "skip_merge")
    base = spark.range(0, 100).select(
        F.col("id"), F.lit("old").alias("v"), (F.col("id") % 2).alias("p")
    )
    t.overwrite(base)
    src = spark.createDataFrame([(3, "new", 1)], "id long, v string, p long")
    t.merge(src, ["id"], partition_filter="p = 1")

    got = {r["id"]: r["v"] for r in t.read(where=("id", "<", 10)).collect()}
    assert got[3] == "new" and got[2] == "old" and len(got) == 10


def test_cluster_by_compaction_enables_skipping(spark, tmp_path):
    t = _mk(spark, tmp_path, "skip_cluster")
    # Interleaved appends: every file spans the whole id range, so
    # nothing is prunable until the clustering rewrite.
    for start in range(4):
        t.append(
            spark.range(start, 4000, 4).coalesce(1)  # 0,4,8,.. / 1,5,9,..
        )
    assert t.scan_files(("id", "=", 1234)) == (4, 4)  # no pruning possible

    t.compact(target_partitions=4, cluster_by=["id"])
    total, read = t.scan_files(("id", "=", 1234))
    assert total == 4 and read == 1
    assert [r["id"] for r in t.read(where=("id", "=", 1234)).collect()] == [1234]

    # A partitioned table compacted in one partition (OPTIMIZE t WHERE
    # ... ZORDER BY) keeps the clustering: the rewritten partition gets
    # disjoint-range files, so the new dir prunes.
    p = _mk(spark, tmp_path, "skip_cluster_scoped")
    p.overwrite(
        spark.range(4000)
        .withColumn("grp", (F.col("id") % 2).cast("int"))
        .repartition(4),  # round-robin: every file spans the id range
        partition_by=["grp"],
    )
    p.compact(
        target_partitions=4, cluster_by=["id"], partition_filter="grp = 0"
    )
    new_dir = p._snapshot_files(p.current_version())[-1]
    ranges = sorted(
        (st["id"]["min"], st["id"]["max"]) for st in new_dir["stats"].values()
    )
    assert len(ranges) >= 2
    assert all(hi < lo for (_, hi), (lo, _) in zip(ranges, ranges[1:]))
    total, read = p.scan_files(("id", "=", 1234))
    assert read < total
    assert [r["id"] for r in p.read(where=("id", "=", 1234)).collect()] == [1234]


def test_timestamp_boundary_equality_not_pruned(spark, tmp_path):
    """Regression: footer stats are tz-aware, predicate literals naive —
    raw isoformat comparison mis-ordered EQUAL instants and pruned the
    file containing the match."""
    t = _mk(spark, tmp_path, "skip_ts_boundary")
    lo = datetime.datetime(2024, 1, 5)
    t.append(
        spark.createDataFrame(
            [(1, lo), (2, datetime.datetime(2024, 1, 9))], "id long, ts timestamp"
        ).coalesce(1)
    )
    # predicate exactly equals the file's min timestamp
    assert t.scan_files(("ts", "=", lo)) == (1, 1)
    assert [r["id"] for r in t.read(where=("ts", "=", lo)).collect()] == [1]
    assert t.scan_files(("ts", "<=", lo)) == (1, 1)
    assert [r["id"] for r in t.read(where=("ts", "<=", lo)).collect()] == [1]


def test_mixed_date_datetime_literal_not_mispruned(spark, tmp_path):
    """Regression (round-2 advisory): a datetime.date literal against a
    timestamp column produced differently-shaped ISO strings
    ("2024-01-05" vs "2024-01-05T00:00:00"), pruning the file holding
    the midnight match. Mixed temporal shapes must not prune, and
    read(where=) must equal read().filter(...)."""
    t = _mk(spark, tmp_path, "skip_mixed_temporal")
    t.append(
        spark.createDataFrame(
            [(1, datetime.datetime(2024, 1, 5)), (2, datetime.datetime(2024, 1, 9))],
            "id long, ts timestamp",
        ).coalesce(1)
    )
    d = datetime.date(2024, 1, 5)
    # date literal vs timestamp stats: shape mismatch -> never pruned
    assert t.scan_files(("ts", "=", d)) == (1, 1)
    got = [r["id"] for r in t.read(where=("ts", "=", d)).collect()]
    want = [
        r["id"] for r in t.read().filter(F.col("ts") == F.lit(d)).collect()
    ]
    assert got == want == [1]

    # and the inverse shape: datetime literal vs DATE column stats
    t2 = _mk(spark, tmp_path, "skip_mixed_temporal2")
    t2.append(
        spark.createDataFrame(
            [(1, datetime.date(2024, 1, 5)), (2, datetime.date(2024, 1, 9))],
            "id long, d date",
        ).coalesce(1)
    )
    dt = datetime.datetime(2024, 1, 5)
    assert t2.scan_files(("d", "=", dt)) == (1, 1)
    got2 = [r["id"] for r in t2.read(where=("d", "=", dt)).collect()]
    want2 = [
        r["id"] for r in t2.read().filter(F.col("d") == F.lit(dt)).collect()
    ]
    assert got2 == want2


def test_distributed_stats_match_driver_walk(spark, tmp_path, monkeypatch):
    """Threshold 0 forces the distributed path: identical manifest
    stats via Spark tasks (no driver-side footer walk) — data skipping
    behaves the same under either collection path."""
    from privacy_cdc_lakehouse_spark import tables as T

    t_drv = _mk(spark, tmp_path, "stats_driver")
    t_drv.append(spark.range(0, 1000).coalesce(2))

    monkeypatch.setattr(T, "_DISTRIBUTED_STATS_THRESHOLD", 0)
    t_dist = _mk(spark, tmp_path, "stats_dist")
    t_dist.append(spark.range(0, 1000).coalesce(2))
    monkeypatch.undo()

    def stats_of(t):
        from privacy_cdc_lakehouse_spark.tables import _entry

        m = t._snapshot(t.current_version())
        # normalize file paths (uuid dirs differ) — compare the stat
        # VALUES per file sorted by min id
        entries = [_entry(e) for e in m["files"]]
        assert len(entries) == 1
        return sorted(entries[0]["stats"].values(), key=lambda c: c["id"]["min"])

    assert stats_of(t_drv) == stats_of(t_dist)
    # and skipping works identically
    assert t_dist.scan_files(("id", "=", 10_000)) == (2, 0)


def test_distributed_stats_auto_switch_above_threshold(
    spark, tmp_path, monkeypatch
):
    """Above _DISTRIBUTED_STATS_THRESHOLD files a commit's footer
    reads fan out as Spark tasks AUTOMATICALLY (no env opt-in) — a
    backfill commit must never serialize thousands of footer reads on
    the driver — and yield stats identical to the driver walk."""
    from privacy_cdc_lakehouse_spark import tables as T

    calls = {"dist": 0}
    orig = T.LakeTable._file_stats_distributed

    def spy(self, files):
        calls["dist"] += 1
        return orig(self, files)

    monkeypatch.setattr(T.LakeTable, "_file_stats_distributed", spy)
    monkeypatch.setattr(T, "_DISTRIBUTED_STATS_THRESHOLD", 4)

    # 8 files > threshold 4 -> auto-distributed
    t_auto = _mk(spark, tmp_path, "stats_auto")
    t_auto.append(spark.range(0, 1000).repartition(8))
    assert calls["dist"] == 1

    # forced driver path on the same data: identical stats dicts
    monkeypatch.setattr(T, "_DISTRIBUTED_STATS_THRESHOLD", 1 << 30)
    t_drv = _mk(spark, tmp_path, "stats_auto_drv")
    t_drv.append(spark.range(0, 1000).repartition(8))
    assert calls["dist"] == 1  # driver path did not fan out
    monkeypatch.setattr(T, "_DISTRIBUTED_STATS_THRESHOLD", 4)

    def stats_of(t):
        from privacy_cdc_lakehouse_spark.tables import _entry

        m = t._snapshot(t.current_version())
        entries = [_entry(e) for e in m["files"]]
        assert len(entries) == 1
        return sorted(
            entries[0]["stats"].values(), key=lambda c: c["id"]["min"]
        )

    assert stats_of(t_auto) == stats_of(t_drv)

    # below the threshold the driver walk is used (no new fan-out)
    t_small = _mk(spark, tmp_path, "stats_small")
    t_small.append(spark.range(0, 10).coalesce(2))
    assert calls["dist"] == 1


def test_zorder_compaction_prunes_on_both_dimensions(spark, tmp_path):
    """Z-order clustering must enable data skipping on EVERY clustered
    column; 1-D clustering on x leaves y-predicates unprunable on
    anti-correlated data (the case Z-order exists for)."""
    # independent dimensions (64×64 grid): clustering on x says nothing
    # about y, so 1-D layout cannot skip on y
    rows = spark.range(4096).selectExpr(
        "CAST((id % 64) * 64 AS INT) AS x",
        "CAST((id DIV 64) * 64 AS INT) AS y",
        "id AS payload",
    )

    lex = _mk(spark, tmp_path, "skip_lex")
    lex.append(rows)
    lex.compact(8, cluster_by=["x"])
    _, lex_y_read = lex.scan_files(("y", "<", 256))
    assert lex_y_read == 8  # every file spans all of y

    zo = _mk(spark, tmp_path, "skip_zorder")
    zo.append(rows)
    zo.compact(8, cluster_by=["x", "y"], zorder=True)
    total, zx = zo.scan_files(("x", "<", 256))
    _, zy = zo.scan_files(("y", "<", 256))
    assert total == 8
    # a 1/16 slice of either dimension touches a minority of files
    # (ideal is 2; repartitionByRange's reservoir sampling can wobble a
    # bin boundary by one file, so allow 5 — the 1-D case reads all 8)
    assert zx <= 5 and zy <= 5

    # correctness: skipping read == plain filter, on both dims
    for col, cut in (("x", 256), ("y", 256)):
        got = sorted(
            r["payload"] for r in zo.read(where=(col, "<", cut)).collect()
        )
        want = sorted(
            r["payload"] for r in zo.read().filter(F.col(col) < cut).collect()
        )
        assert got == want and len(got) == 4 * 64


def test_null_existence_skipping(spark, tmp_path):
    """IS NULL / IS NOT NULL data skipping via footer null counts:
    a no-null file is pruned for IS NULL, an all-null file for
    IS NOT NULL, and results always equal the residual filter."""
    from pyspark.sql import functions as F

    from privacy_cdc_lakehouse_spark.tables import LakeTable

    t = LakeTable(spark, str(tmp_path / "nulls"))
    t.append(
        spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
        .coalesce(1)
    )  # no nulls in s
    t.append(
        spark.createDataFrame(
            [(3, None), (4, None)], "id int, s string"
        ).coalesce(1)
    )  # all nulls in s
    t.append(
        spark.createDataFrame([(5, "e"), (6, None)], "id int, s string")
        .coalesce(1)
    )  # mixed

    total, read_isnull = t.scan_files(where=("s", "is null", None))
    assert total == 3 and read_isnull == 2  # no-null file pruned
    _, read_notnull = t.scan_files(where=("s", "is not null", None))
    assert read_notnull == 2  # all-null file pruned

    got = sorted(
        r["id"] for r in t.read(where=("s", "is null", None)).collect()
    )
    assert got == [3, 4, 6]
    got = sorted(
        r["id"] for r in t.read(where=("s", "is not null", None)).collect()
    )
    assert got == [1, 2, 5]


# ---------------- bloom-filter equality skipping (round 6) ----------------


def _mk_bloom(spark, tmp_path, name, ids_a, ids_b):
    """Two appended files with INTERLEAVED id ranges so min/max alone
    can never prune a point lookup — the bloom's job."""
    t = _mk(spark, tmp_path, name)
    t.set_properties({"bloom.columns": ["id", "name"], "bloom.bits": 4096})
    t.append(
        spark.createDataFrame(
            [(i, f"n{i}") for i in ids_a], "id long, name string"
        ).coalesce(1)
    )
    t.append(
        spark.createDataFrame(
            [(i, f"n{i}") for i in ids_b], "id long, name string"
        ).coalesce(1)
    )
    return t


def test_bloom_prunes_point_lookup_where_minmax_cannot(spark, tmp_path):
    # both files span [0, 999] by min/max; values are disjoint sets
    t = _mk_bloom(
        spark, tmp_path, "bloom1",
        ids_a=[0, 2, 4, 998], ids_b=[1, 3, 5, 999],
    )
    total, read_minmax_only = 2, 2
    assert t.scan_files(("id", ">=", 0)) == (2, 2)
    # id=2 lives only in file A: min/max can't prune, the bloom can
    total, read = t.scan_files(("id", "=", 2))
    assert (total, read) == (2, 1)
    # a value in NEITHER file prunes both
    assert t.scan_files(("id", "=", 500)) == (2, 0)
    # string column too
    assert t.scan_files(("name", "=", "n3")) == (2, 1)
    # correctness: read(where=) == read().filter(...) regardless
    got = sorted(r["id"] for r in t.read(where=("id", "=", 2)).collect())
    assert got == [2]
    assert t.read(where=("id", "=", 500)).count() == 0


def test_bloom_type_mismatch_never_prunes(spark, tmp_path):
    """A string column probed with an int literal (or vice versa) must
    opt out: Spark's residual filter coerces the COLUMN, so '05' DOES
    match = 5 — a raw-string bloom probe would unsoundly prune it."""
    t = _mk(spark, tmp_path, "bloom_t")
    t.set_properties({"bloom.columns": ["s"], "bloom.bits": 4096})
    t.append(
        spark.createDataFrame([("05",), ("7",)], "s string").coalesce(1)
    )
    assert t.scan_files(("s", "=", 5)) == (1, 1)  # no bloom prune
    got = [r["s"] for r in t.read(where=("s", "=", 5)).collect()]
    assert got == ["05"]


def test_bloom_composes_with_merge_and_unconfigured_commits(spark, tmp_path):
    """Commits BEFORE the property have no bloom (never pruned by it);
    commits after do — including the merge write path."""
    t = _mk(spark, tmp_path, "bloom_m")
    t.append(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string").coalesce(1)
    )
    t.set_properties({"bloom.columns": ["id"], "bloom.bits": 4096})
    t.merge(
        spark.createDataFrame([(3, "c")], "id long, s string"),
        keys=["id"],
    )
    # merge rewrote the table under the property: bloom present
    assert t.scan_files(("id", "=", 99))[1] == 0
    rows = sorted(tuple(r) for r in t.read().collect())
    assert rows == [(1, "a"), (2, "b"), (3, "c")]


def test_bloom_properties_are_versioned(spark, tmp_path):
    t = _mk(spark, tmp_path, "bloom_v")
    assert t.properties() == {}
    t.append(spark.createDataFrame([(1,)], "id long"))
    v1 = t.current_version()
    t.set_properties({"bloom.columns": ["id"]})
    assert t.properties()["bloom.columns"] == ["id"]
    assert t.properties(version=v1) == {}
    t.set_properties({"bloom.columns": None, "owner": "me"})
    assert t.properties() == {"owner": "me"}
    # table contents unaffected by property commits
    assert [r["id"] for r in t.read().collect()] == [1]

    import pytest

    with pytest.raises(ValueError):
        t.set_properties({"bloom.columns": ["id"], "bloom.bits": 1000})


def test_bloom_rebuilt_on_compaction(spark, tmp_path):
    """compact() funnels through the same stats path, so the rewritten
    files get FRESH blooms — pruning survives maintenance."""
    t = _mk(spark, tmp_path, "bloom_c")
    t.set_properties({"bloom.columns": ["id"], "bloom.bits": 4096})
    t.append(spark.createDataFrame([(0,), (2,)], "id long").coalesce(1))
    t.append(spark.createDataFrame([(1,), (3,)], "id long").coalesce(1))
    t.compact(target_partitions=1)
    total, read = t.scan_files(("id", "=", 9))
    assert read == 0  # absent value still pruned post-compaction
    assert sorted(r["id"] for r in t.read(where=("id", "=", 3)).collect()) == [3]


def test_bloom_never_false_negative_adversarial_values(spark, tmp_path):
    """Soundness: a value PRESENT in a file must never be pruned by the
    bloom — across negatives, boundary longs, unicode, and strings that
    look like other types (the md5 double-hash must agree between the
    Spark builder and the Python probe for every one)."""
    ids = [0, -1, 1, -(2**62), 2**62, 42, -999999999999]
    names = ["", "a", "05", "-7", "naïve café", "汉字文本", "s.fake", "x" * 300]
    t = _mk(spark, tmp_path, "bloom_adv")
    t.set_properties({"bloom.columns": ["id", "name"], "bloom.bits": 4096})
    rows = list(zip(ids, (names + names)[: len(ids)]))
    t.append(spark.createDataFrame(rows, "id long, name string").coalesce(1))
    for v in ids:
        total, read = t.scan_files(("id", "=", v))
        assert read == 1, f"false negative for id={v}"
        assert [r["id"] for r in t.read(where=("id", "=", v)).collect()] == [v]
    for s in {r[1] for r in rows}:
        total, read = t.scan_files(("name", "=", s))
        assert read == 1, f"false negative for name={s!r}"
    # absent adversarial probes: never an error, pruning allowed
    assert t.scan_files(("id", "=", 7))[1] in (0, 1)
    assert t.scan_files(("name", "=", "absent"))[1] in (0, 1)


def test_bloom_adaptive_sizing_avoids_saturation(spark, tmp_path):
    """Default (no bloom.bits) sizes the filter from the footer row
    count — a 20k-row file must still prune absent values (a fixed
    small filter would saturate: every bit set, zero pruning)."""
    t = _mk(spark, tmp_path, "bloom_sat")
    t.set_properties({"bloom.columns": ["id"]})
    # two interleaved 20k-row files: min/max can never prune
    t.append(
        spark.range(20_000).selectExpr("id * 2 AS id").coalesce(1)
    )
    t.append(
        spark.range(20_000).selectExpr("id * 2 + 1 AS id").coalesce(1)
    )
    # even id present only in file A; odd only in file B
    assert t.scan_files(("id", "=", 2_000)) == (2, 1)
    assert t.scan_files(("id", "=", 2_001)) == (2, 1)
    # absent beyond both ranges handled by min/max anyway; inside the
    # range but absent (= 40001 odd > max of A... pick 39_999+2=40001 out) —
    # use an in-range absent value instead: ids cover 0..39999 fully, so
    # probe the not-covered parity beyond coverage:
    assert t.read(where=("id", "=", 2_000)).count() == 1


def test_bloom_sidecars_follow_vacuum_horizon(spark, tmp_path):
    import glob
    import os

    t = _mk(spark, tmp_path, "bloom_vac")
    t.set_properties({"bloom.columns": ["id"], "bloom.bits": 4096})
    t.append(spark.createDataFrame([(1,), (3,)], "id long").coalesce(1))
    t.overwrite(spark.createDataFrame([(5,), (7,)], "id long").coalesce(1))
    root = str(tmp_path / "bloom_vac")
    assert len(glob.glob(os.path.join(root, "_bloom", "*"))) == 2
    t.vacuum(retain_last=1, min_age_seconds=0)
    # the superseded commit's sidecar is reclaimed with its data dir;
    # the live one survives and still prunes
    assert len(glob.glob(os.path.join(root, "_bloom", "*"))) == 1
    t._bloom_cache = {}
    assert t.scan_files(("id", "=", 6)) == (1, 0)
    assert t.scan_files(("id", "=", 5)) == (1, 1)
    # fsck sees no orphans and no missing files
    rep = t.fsck()
    assert rep["ok"] is True and rep["orphan_dirs"] == []


# ------------- single-pass multi-column bloom build (round 7) -------------


def test_bloom_sidecar_bytes_match_python_reference(spark, tmp_path):
    """The Spark-side bloom builder and the Python-side probe share the
    md5 double-hash arithmetic; this recomputes every sidecar bitset
    byte-for-byte in pure Python from the parquet data (2-column
    config), proving build/probe agreement digit for digit."""
    import base64
    import glob
    import json
    import os

    import pyarrow.parquet as pq

    from privacy_cdc_lakehouse_spark.tables import (
        _BLOOM_HASH_VERSION,
        _bloom_bits_for,
    )

    t = _mk_bloom(
        spark, tmp_path, "bloom_ref",
        ids_a=[0, 2, 4, 998], ids_b=[1, 3, 5, 999],
    )
    sidecars = glob.glob(str(tmp_path / "bloom_ref" / "_bloom" / "*" / "*.json"))
    assert sidecars
    checked = 0
    for sc in sidecars:
        with open(sc) as f:
            files = json.load(f)["files"]
        for rel, colblooms in files.items():
            tbl = pq.read_table(os.path.join(str(tmp_path / "bloom_ref"), rel))
            for col, b in colblooms.items():
                assert b["h"] == _BLOOM_HASH_VERSION
                m, k = b["m"], b["k"]
                arr = bytearray(m // 8)
                for v in tbl.column(col).to_pylist():
                    if v is None:
                        continue
                    for pos in _bloom_bits_for(str(v), m, k):
                        arr[pos // 8] |= 1 << (pos % 8)
                assert bytes(arr) == base64.b64decode(b["b64"]), (rel, col)
                checked += 1
    assert checked >= 4  # 2 files x 2 columns


def test_bloom_multicolumn_build_is_one_job(spark, tmp_path, monkeypatch):
    """k bloom columns must cost ONE distributed pass (the column name
    rides the aggregation key), not one job per column."""
    # Spark 4: pyspark.sql.DataFrame is the abstract interface; the
    # classic engine subclass OVERRIDES collect, so patch that one.
    from pyspark.sql.classic.dataframe import DataFrame

    from privacy_cdc_lakehouse_spark.tables import LakeTable

    collects = []
    orig = DataFrame.collect

    def counting_collect(self):
        collects.append(1)
        return orig(self)

    t = _mk(spark, tmp_path, "bloom_1job")
    t.set_properties({"bloom.columns": ["id", "name"], "bloom.bits": 4096})
    orig_bloom = LakeTable._bloom_for_dir

    def instrumented(self, files, cols, m, k):
        monkeypatch.setattr(DataFrame, "collect", counting_collect)
        try:
            return orig_bloom(self, files, cols, m, k)
        finally:
            monkeypatch.setattr(DataFrame, "collect", orig)

    monkeypatch.setattr(LakeTable, "_bloom_for_dir", instrumented)
    t.append(
        spark.createDataFrame(
            [(i, f"n{i}") for i in range(10)], "id long, name string"
        ).coalesce(1)
    )
    assert sum(collects) == 1
    # and the blooms still prune both columns
    assert t.scan_files(("id", "=", 99))[1] == 0
    assert t.scan_files(("name", "=", "n3"))[1] == 1
