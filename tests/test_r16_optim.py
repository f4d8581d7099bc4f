"""Round-16 optimization-behavior pins: checkpoint_df's durability
gate and its fail-fast check, ensure_parallelism's structural exchange
detection + stats bound, _candidate_hint's over-threshold lineage
posture, identifier quoting, and the session-liveness probe."""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def test_checkpoint_df_local_default_truncates_lineage(spark):
    from privacy_cdc_lakehouse_spark.operators.util import checkpoint_df

    df = spark.range(10).withColumn("x", F.col("id") * 2)
    ck = checkpoint_df(df)
    assert "LogicalRDD" in ck._jdf.queryExecution().analyzed().toString()
    assert [r["x"] for r in ck.orderBy("id").collect()] == [
        2 * i for i in range(10)
    ]


def test_checkpoint_df_reliable_gate(spark, tmp_path):
    """spark.graft.reliableIntermediates=true + a checkpoint dir routes
    the engine's intermediate materializations through reliable
    checkpoint() — files land on (shared) storage, surviving executor
    loss at cluster scale."""
    from privacy_cdc_lakehouse_spark.operators.util import checkpoint_df

    ckdir = str(tmp_path / "reliable_ck")
    spark.sparkContext.setCheckpointDir(ckdir)
    spark.conf.set("spark.graft.reliableIntermediates", "true")
    try:
        df = spark.range(5).withColumn("y", F.col("id") + 1)
        ck = checkpoint_df(df)
        assert [r["y"] for r in ck.orderBy("id").collect()] == [1, 2, 3, 4, 5]
        files = [
            os.path.join(dp, f)
            for dp, _, fs in os.walk(ckdir)
            for f in fs
        ]
        assert files, "reliable gate set but checkpoint dir is empty"
    finally:
        spark.conf.unset("spark.graft.reliableIntermediates")


def test_checkpoint_df_reliable_without_dir_fails_fast(spark, monkeypatch):
    """The reliable gate with no checkpoint directory raises a ValueError
    naming both settings at the call, not a SparkException deep inside
    the first query."""
    import pytest

    from privacy_cdc_lakehouse_spark.operators.util import checkpoint_df

    # the session fixture is shared, so another test may already have
    # set a directory; present the unset state to checkpoint_df
    monkeypatch.setattr(spark._sc, "getCheckpointDir", lambda: None)
    spark.conf.set("spark.graft.reliableIntermediates", "true")
    try:
        with pytest.raises(ValueError) as err:
            checkpoint_df(spark.range(3), eager=False)
        msg = str(err.value)
        assert "spark.graft.reliableIntermediates" in msg
        assert "setCheckpointDir" in msg
    finally:
        spark.conf.unset("spark.graft.reliableIntermediates")
    assert checkpoint_df(spark.range(3)).count() == 3  # local default


def test_plan_has_exchange_structural_not_substring(spark):
    """A column literally named 'Exchange' must not classify a scan-only
    plan as exchange-bearing (the old substring probe did)."""
    from privacy_cdc_lakehouse_spark.operators.util import _plan_has_exchange

    plain = spark.range(8).select(F.col("id").alias("Exchange"))
    assert not _plan_has_exchange(plain._jdf.queryExecution().sparkPlan())

    shuffled = spark.range(8).repartition(4)
    assert _plan_has_exchange(shuffled._jdf.queryExecution().sparkPlan())


def test_ensure_parallelism_stats_branch_respects_advisory_bound(spark):
    """Exchange-bearing frames sized past target*advisory must pass
    through UNCHANGED (AQE already splits them wide; an extra full
    shuffle at 100 TB is the failure mode), while small exchange-bearing
    frames still spread to defaultParallelism."""
    from privacy_cdc_lakehouse_spark.operators.util import ensure_parallelism

    # an EXPLICIT repartition is the one exchange the planner puts in
    # sparkPlan itself (EnsureRequirements exchanges appear only in the
    # executedPlan) -> this frame exercises the stats branch
    base = spark.range(1000).repartition(4, F.col("id"))
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1b")
    try:
        # bound = target * 1 byte: any real frame is "big" -> untouched
        out = ensure_parallelism(base)
        assert out is base
    finally:
        spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    # default advisory (64m): this tiny frame is under-split -> spread
    out2 = ensure_parallelism(base)
    assert out2 is not base
    target = spark.sparkContext.defaultParallelism
    assert out2.rdd.getNumPartitions() >= target


def test_ensure_parallelism_unreadable_plan_returns_frame_untouched():
    """Without a readable JVM plan (Spark Connect has no ``_jdf``) the
    frame comes back as is, with no ``df.rdd`` probe: that would run
    stages at build time, and Connect has no ``rdd``."""
    from privacy_cdc_lakehouse_spark.operators.util import ensure_parallelism

    class NoPlanFrame:
        def __getattr__(self, name):  # _jdf, rdd, sparkSession, ...
            raise AttributeError(f"stand-in frame has no {name}")

    frame = NoPlanFrame()
    assert ensure_parallelism(frame) is frame


def test_candidate_hint_over_threshold_returns_lineage_frame(
    spark, monkeypatch
):
    """Past AUTO_BROADCAST_MAX_CANDIDATES the ORIGINAL lineage-bearing
    frame comes back (recomputable on executor loss; no corpus-scale
    candidate set pinned in executor storage until driver GC)."""
    from privacy_cdc_lakehouse_spark.operators import dedup as dd

    cands = spark.createDataFrame(
        [(a, a + 1) for a in range(20)], "id_a long, id_b long"
    )
    monkeypatch.setattr(dd, "AUTO_BROADCAST_MAX_CANDIDATES", 5)
    cand2, hint2 = dd._candidate_hint(cands, "auto")
    assert hint2 is not dd.F.broadcast
    assert cand2 is cands  # not the checkpointed copy
    # under the ceiling: checkpointed (lineage-truncated) + hinted
    monkeypatch.setattr(dd, "AUTO_BROADCAST_MAX_CANDIDATES", 5_000_000)
    cand3, hint3 = dd._candidate_hint(cands, "auto")
    assert hint3 is dd.F.broadcast
    assert "LogicalRDD" in cand3._jdf.queryExecution().analyzed().toString()


def test_qident_escapes_backticks(spark):
    from privacy_cdc_lakehouse_spark.operators.similarity import (
        _qident,
        lsh_table_buckets,
    )

    assert _qident("v") == "`v`"
    assert _qident("a`b") == "`a``b`"
    df = spark.createDataFrame(
        [(1, [0.5, -0.25]), (2, [-1.0, 2.0])],
        "id long, v array<double>",
    ).toDF("id", "weird`vec")
    out = lsh_table_buckets(
        df, "id", "weird`vec", tables=2, band_planes=2, dim=2
    ).collect()
    assert len(out) == 4  # 2 rows x 2 tables, no parse error


def test_session_stopped_unknown_backend_reads_alive():
    """A session object without classic internals (Spark Connect) must
    read ALIVE — answering 'stopped' purged the whole load_table memo
    on every lookup, silently disabling it."""
    from privacy_cdc_lakehouse_spark.operators import util
    from privacy_cdc_lakehouse_spark.session import _session_stopped
    from privacy_cdc_lakehouse_spark.sources import fixtures as fx

    class ConnectLike:  # no _sc attribute at all
        pass

    class ConnectLikeStopped:
        is_stopped = True

    # one definition, shared by both memo owners
    assert util._session_stopped is _session_stopped
    assert fx._session_stopped is _session_stopped
    assert _session_stopped(ConnectLike()) is False
    assert _session_stopped(ConnectLikeStopped()) is True
