"""Shared operator plumbing."""

from __future__ import annotations

import itertools
import threading
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from privacy_cdc_lakehouse_spark.session import _session_stopped

# (session-object-id, slot) -> (session, persisted df). Guarded by
# _PERSIST_LOCK; entries from stopped sessions are purged on every
# call so a torn-down session's plan is never pinned past the next
# slot_persist anywhere in the process.
_PERSIST_SLOTS: dict[tuple[int, str], tuple[SparkSession, DataFrame]] = {}
_PERSIST_LOCK = threading.Lock()


def slot_persist(df: DataFrame, slot: str) -> DataFrame:
    """``persist()`` with a bounded lifetime for lazy-return query
    shapes: the cached subplan is part of the RETURNED plan, so the
    call site cannot ``unpersist()`` before the caller's action — but
    a long-lived session invoking the query repeatedly (bench reps,
    the oracle harness) would otherwise accumulate cached blocks until
    LRU eviction. Each call unpersists the PREVIOUS occupant of
    ``slot`` (across ALL sessions — the bound is per call site, not
    per session) plus any entry whose session has been stopped,
    holding at most one cached subplan per site regardless of
    invocation count (unpersisting a block mid-consumption is safe in
    Spark — consumers recompute from lineage).

    SINGLE-IN-FLIGHT ASSUMPTION: because eviction happens at CALL time
    while the persist pays off at ACTION time, building the same
    slot-keyed query twice before executing the first silently drops
    the first build's persist (its action recomputes the subtree from
    lineage — correct, just unaccelerated). Call sites
    (``curate_corpus(persist_intermediate=True)``,
    ``q_dedup_duplicate_spans``) are invoke-then-consume, which is the
    supported pattern."""
    sess = df.sparkSession
    persisted = df.persist()
    with _PERSIST_LOCK:
        for key in list(_PERSIST_SLOTS):
            prev_sess, prev = _PERSIST_SLOTS[key]
            if key[1] == slot or _session_stopped(prev_sess):
                del _PERSIST_SLOTS[key]
                try:
                    prev.unpersist()
                except Exception:
                    pass  # session torn down between invocations
        _PERSIST_SLOTS[(id(sess), slot)] = (sess, persisted)
    return df


def checkpoint_df(df: DataFrame, eager: bool = True) -> DataFrame:
    """The engine's single "materialize this intermediate" primitive:
    every lineage-truncating materialization in the package (iterative
    loop spines, dedup shingle and candidate frames, connected-
    components edges and labels, BPE/WordPiece dictionaries, top-k
    candidate state) goes through this function, and no other module
    calls ``localCheckpoint``/``checkpoint`` (a source-scanning test
    pins that).

    Default: ``localCheckpoint`` — blocks live on executors with
    lineage truncated, the right trade locally and the cheapest one
    anywhere. At cluster scale executor loss (spot nodes, dynamic
    deallocation) makes a local checkpoint unrecoverable, so the
    posture is CONFIG-GATED: with
    ``spark.graft.reliableIntermediates=true`` every one of those
    materializations becomes a reliable ``checkpoint()`` that survives
    executor loss. Spark needs ``sparkContext.setCheckpointDir`` for
    that; when the flag is on and no directory is set this raises
    ``ValueError`` at the call instead of failing deep inside the
    first query. Values are identical either way — only the storage
    home of the materialization changes."""
    spark = df.sparkSession
    try:
        reliable = (
            spark.conf.get("spark.graft.reliableIntermediates", "false").lower()
            == "true"
        )
    except Exception:
        reliable = False
    if not reliable:
        return df.localCheckpoint(eager=eager)
    sc = getattr(spark, "_sc", None)  # None on Spark Connect
    if sc is not None and sc.getCheckpointDir() is None:
        raise ValueError(
            "spark.graft.reliableIntermediates=true needs a checkpoint "
            "directory: call sparkContext.setCheckpointDir(<shared dir>) "
            "or unset spark.graft.reliableIntermediates"
        )
    return df.checkpoint(eager=eager)


def checkpoint_parallel(df: DataFrame) -> DataFrame:
    """Eager :func:`checkpoint_df` of the :func:`ensure_parallelism`
    spread — the spine materialization for iterative operators: one
    execution, and the under-split decision is read off the plan
    before it, so nothing runs twice and no dead first copy is left
    behind."""
    return checkpoint_df(ensure_parallelism(df), eager=True)


def checkpoint_measured(
    df: DataFrame, measure: Column | None = None
) -> tuple[DataFrame, Any]:
    """Eager :func:`checkpoint_df` with ``measure`` (an aggregate
    Column, default ``count(*)``) observed by the same job: returns the
    materialized frame and the measure's value. The checkpoint must be
    eager: a lazy one runs no materializing job at this call, so
    nothing would fill the Observation with this frame's value."""
    obs = Observation()
    if measure is None:
        measure = F.count(F.lit(1))
    out = checkpoint_df(df.observe(obs, measure.alias("m")), eager=True)
    return out, obs.get["m"]


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    op: str,
    rounds: int | None = None,
    max_rounds: int | None = None,
    measure: Column | None = None,
    seed: Any = None,
) -> tuple[DataFrame, Any]:
    """The one round loop for iterative DataFrame operators: applies
    ``step`` round after round, each round materialized through
    :func:`checkpoint_df` so the plan stays one round deep.

    - Pinned (``rounds=R``): R LAZY checkpoints, nothing read back;
      the caller's action materializes them. Returns ``(state, None)``.
    - Fixpoint: each round is an eager checkpoint whose job observes
      ``measure`` (default ``count(*)``), a value that must repeat only
      when the step changed nothing. Stops when it equals the previous
      round's (``seed`` before round 1) or is 0; returns ``(state,
      measure)``. Past ``max_rounds`` (None: unbounded) it raises
      ``RuntimeError`` naming ``op``: unconverged state is wrong."""
    if rounds is not None:
        for _ in range(rounds):
            state = checkpoint_df(step(state), eager=False)
        return state, None
    prev = seed
    for _ in itertools.count() if max_rounds is None else range(max_rounds):
        state, m = checkpoint_measured(step(state), measure)
        if m == prev or m == 0:
            return state, m
        prev = m
    raise RuntimeError(
        f"{op} did not converge within {max_rounds} rounds; raise its "
        f"round budget or inspect the input for chain-shaped structure"
    )


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Spread CPU-heavy per-row compute across the cluster when the
    input arrives under-split.

    Hash-heavy operator stages (one md5 per shingle, T×b hyperplane
    dots per vector) are bound by the SCAN's split count, and a small
    corpus often arrives as a single parquet row group — unsplittable
    by byte range, so the whole stage pins to one core of a 32-core
    box (measured: the sf0.1 documents fixture is one 594 KB row
    group). A 100 TB corpus arrives as thousands of splits and takes
    the no-op path.

    The probe must not RUN anything (round-15 finding: the previous
    ``executedPlan().execute()`` probe materialized AQE shuffle stages
    at plan-BUILD time — tpch_join_panel paid 17 s executing its graph
    edge joins once for the probe and again for the real action):

    - exchange-free plan (the raw-scan case the function exists for):
      exact partition count from the non-adaptive ``sparkPlan`` —
      building that RDD schedules nothing;
    - plan with exchanges: decide from optimizer STATS. The output of
      a shuffle is AQE-coalesced by SIZE anyway, so the question "will
      downstream per-row work be under-split" is exactly "is the data
      small"; join-stats over-estimates err toward skipping the
      repartition, which is the safe direction at scale (never add a
      shuffle to big data for parallelism it already has).

    Where the JVM plan cannot be read (Spark Connect) the frame comes
    back untouched: probing ``df.rdd`` there would run stages at build
    time, and Connect has no ``rdd``."""
    try:
        target = df.sparkSession.sparkContext.defaultParallelism
        qe = df._jdf.queryExecution()
        plan = qe.sparkPlan()
        if not _plan_has_exchange(plan):
            n = plan.execute().getNumPartitions()
            return df.repartition(target) if n < target else df
        # Exchange-bearing plan: decide from optimizer stats against
        # AQE's own coalesce target. AQE coalesces shuffle output to
        # ~advisoryPartitionSizeInBytes per partition, so "will this
        # frame arrive under-split at the downstream per-row work" is
        # exactly "is estimated size < target * advisory" — data past
        # that bound already yields >= target post-AQE partitions and
        # must NEVER gain an extra full shuffle (round-16: the old
        # target * maxPartitionBytes bound, ~4 GB at 32 cores, could
        # repartition multi-GB frames AQE had already split wide).
        # Join-stats over-estimates err toward skipping — safe at scale.
        # py4j may hand sizeInBytes back as a Python int (java
        # BigInteger auto-conversion) or as a JavaObject depending on
        # version — the old `.toString()`-only form raised on int and
        # silently skipped the spread through the except path.
        raw = qe.optimizedPlan().stats().sizeInBytes()
        size = raw if isinstance(raw, int) else int(raw.toString())
        if size < target * _advisory_partition_bytes(df.sparkSession):
            return df.repartition(target)
        return df
    except Exception:  # non-classic backends
        return df


def _plan_has_exchange(plan) -> bool:
    """Structural Exchange detection over a py4j physical-plan tree.
    Substring-matching ``plan.toString()`` misfires when a column or
    relation name contains "Exchange" (round-16 advisor item); node
    class names cannot."""
    stack = [plan]
    while stack:
        node = stack.pop()
        if "Exchange" in node.getClass().getSimpleName():
            return True
        kids = node.children()
        for i in range(kids.length()):
            stack.append(kids.apply(i))
    return False


def _advisory_partition_bytes(spark: SparkSession) -> int:
    raw = spark.conf.get(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"
    )
    try:
        return int(
            spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
                raw
            )
        )
    except Exception:
        return 64 * 1024 * 1024
