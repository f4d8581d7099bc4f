"""The benchmark's workloads, driven through the package's public calls.

Each workload has a set-up (timed; reported as ``setup_s``), a loop of
unit operations measured for ``--seconds`` (one closed-loop client: the
next operation starts when the previous one is done), and a check of
every operation's output against ``reference``. The checks run after
the measured window, so an operation's output must stay readable: the
CDC workloads check the lake versions each operation committed through
time travel. An operation that raises or returns a wrong result counts
as failed.

In a traced run every other operation, starting with the first, is
traced, so the run also yields the tracing overhead (traced median
minus untraced median).
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import gen
import reference as ref

SALT = "perfbench-salt"
THRESHOLD = 0.5  # ngram_jaccard_pairs' default verify threshold

CDC_BASE = dict(
    delete_share=0.1,
    late_share=0.05,
    equal_ts_share=0.05,
    bare_share=0.1,
    junk_share=0.01,
)
SPECS = {
    "cdc_rebuild": gen.CdcSpec(keys=20_000, updates_per_key=2.0, **CDC_BASE),
    "cdc_incremental": gen.CdcSpec(
        keys=10_000,
        updates_per_key=2.0,
        batches=24,
        batch_events=2_000,
        batch_insert_share=0.1,
        batch_delete_share=0.05,
        zipf_s=1.1,
        **CDC_BASE,
    ),
    "llm_dedup": gen.DocSpec(
        docs=800,
        min_words=30,
        max_words=120,
        vocab=3_000,
        exact_share=0.1,
        near_share=0.15,
        max_edits=6,
    ),
}
RANGE_KEYS = 200  # width of a key-range read


@dataclass
class Ctx:
    spark: object
    root: str  # this run's scratch root
    seed: int
    seconds: float
    trace: bool
    tracer: object
    rss: object


@dataclass
class Result:
    setup_s: list = field(default_factory=list)
    op_s: list = field(default_factory=list)
    traced: list = field(default_factory=list)  # per op: was it traced
    items: int = 0
    attempted: int = 0
    failed: int = 0
    sizes: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)  # per-layer values
    extra: dict = field(default_factory=dict)  # named figures for the log


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since import."""
    print(f"perfbench: {time.perf_counter() - _T0:7.2f}s {msg}", file=sys.stderr)


def _fail(what: str) -> None:
    log(f"FAILED {what}")


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _loop(ctx: Ctx, res: Result, op, check, max_ops: int | None = None) -> list:
    """Run ``op(i)`` back to back until ``ctx.seconds`` pass, then
    ``check(i, out)`` on every output. ``op`` returns (items, output).
    Returns each operation's wall-clock (start, end).

    A run makes at least two operations: when the first, coldest one
    outlasts the window on a slow box, the median still has a warm
    sample instead of jumping to the cold one."""
    log("set-up done, measuring")
    start = time.perf_counter()
    outs, windows = [], []
    i = 0
    while i < 2 or (
        time.perf_counter() - start < ctx.seconds and (max_ops is None or i < max_ops)
    ):
        traced = ctx.trace and i % 2 == 0
        ctx.tracer.enabled = traced
        ctx.tracer.op_id = i
        w0 = time.time()
        t0 = time.perf_counter()
        try:
            items, out = op(i)
            outs.append((True, out))
        except Exception:
            traceback.print_exc()
            items = 0
            outs.append((False, None))
        dt = time.perf_counter() - t0
        windows.append((w0, time.time()))
        ctx.tracer.enabled = ctx.trace
        ctx.tracer.op_id = None
        res.op_s.append(dt)
        res.traced.append(traced)
        res.items += items
        ctx.rss.sample()
        i += 1
    log(f"{i} operations done, checking")
    for i, (ok, out) in enumerate(outs):
        res.attempted += 1
        if ok:
            try:
                ok = check(i, out)
            except Exception:
                traceback.print_exc()
                ok = False
        if not ok:
            res.failed += 1
            _fail(f"operation {i}")
    return windows


def _fresh_dir(ctx: Ctx, name: str) -> str:
    path = os.path.join(ctx.root, name)
    os.makedirs(path)
    return path


def _write_cdc(ctx: Ctx, inputs: gen.CdcInputs) -> dict:
    """Parquet file per batch: 0 is the base log, then 1..N."""
    log(f"generated {inputs.events} events")
    files = {0: gen.write_parquet(inputs.base, os.path.join(ctx.root, "in_b0.parquet"))}
    for b, t in enumerate(inputs.batches, start=1):
        files[b] = gen.write_parquet(t, os.path.join(ctx.root, f"in_b{b}.parquet"))
    return files


def _parquet_files(root: str) -> dict:
    out = {}
    for d, _dirs, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(d, n)
                out[p] = os.path.getsize(p)
    return out


def _check_silver(cref, lake, batch: int, version=None, privacy_version=None) -> bool:
    """Silver at ``version`` (default: current) and, when given, the
    privacy table at ``privacy_version`` hold the state after ``batch``."""
    silver = lake.silver.read(version=version).toArrow()
    bad = cref.diff(silver, ref.SILVER_COLS, cref.state_sql(batch))
    if privacy_version is not None:
        bad += cref.diff(
            lake.privacy.read(version=privacy_version).toArrow(),
            ref.PRIVACY_COLS,
            cref.privacy_sql(batch),
        )
    if bad:
        _fail(f"{bad} silver/privacy rows differ from the reference at batch {batch}")
    return bad == 0


def _lake_counts(ctx: Ctx, res: Result, lake) -> None:
    """Version, bronze-dir and space-amplification counts (traced runs)."""
    hist = lake.silver.history()
    res.layer["tables.versions"] = len(hist)
    res.layer["tables.bronze_dirs"] = lake.bronze.history()[0]["n_data_dirs"]
    live = lake.silver.detail()["size_bytes"]
    on_disk = sum(_parquet_files(lake.silver.path).values())
    res.layer["tables.space_amp"] = on_disk / live if live else 0.0


# ------------------------------ cdc_rebuild --------------------------------


def cdc_rebuild(ctx: Ctx) -> Result:
    from privacy_cdc_lakehouse_spark.cdc import jobs

    spark, tr = ctx.spark, ctx.tracer
    res = Result()
    inputs = gen.cdc_log(ctx.seed, SPECS["cdc_rebuild"])
    files = _write_cdc(ctx, inputs)
    cref = ref.CdcReference(files, SALT)
    res.sizes = {"events": inputs.base.num_rows, "keys": inputs.spec.keys}

    def rebuild(lk):
        with tr.span("cdc.jobs.rebuild_silver"):
            silver_v = jobs.rebuild_silver(lk)
        with tr.span("cdc.jobs.build_privacy"):
            return silver_v, jobs.build_privacy(lk, SALT)

    # A set-up runs the first rebuild too: the first one in a JVM costs
    # about twice a later one, and with a handful of operations per run
    # it would swing both the median and items_per_s. Every measured
    # operation then replaces existing silver and privacy tables.
    lake = None
    for rep in range(2):
        def setup():
            lk = jobs.Lakehouse(spark, _fresh_dir(ctx, f"lake{rep}"))
            with tr.span("cdc.jobs.ingest_bronze"):
                jobs.ingest_bronze(lk, spark.read.parquet(files[0]))
            rebuild(lk)
            return lk

        dt, lake = _timed(setup)
        res.setup_s.append(dt)
        ctx.rss.sample()

    def op(i):
        with tr.span("op"):
            versions = rebuild(lake)
        return inputs.base.num_rows, versions

    _loop(ctx, res, op, lambda i, v: _check_silver(cref, lake, 0, v[0], v[1]))
    if ctx.trace:
        _layer_probe(ctx, res, lake, cref)
        _lake_counts(ctx, res, lake)
    return res


def _layer_probe(ctx: Ctx, res: Result, lake, cref) -> None:
    """Parse and latest-state run on their own (traced runs only): the
    parse output is checkpointed between them, so each span holds one
    layer's work."""
    from pyspark.sql import functions as F

    from privacy_cdc_lakehouse_spark.cdc.silver import latest_state, parse_cdc_envelope

    tr = ctx.tracer
    bronze = lake.bronze.read()
    with tr.span("cdc.silver.parse_cdc_envelope"):
        parsed = parse_cdc_envelope(bronze)
        parsed.write.format("noop").mode("overwrite").save()
    parsed = parsed.localCheckpoint()
    rows_in, rows_out = bronze.count(), parsed.count()
    with tr.span("cdc.silver.latest_state"):
        latest = latest_state(parsed, drop_tombstones=False, keep_op=True)
        latest.write.format("noop").mode("overwrite").save()
    tomb = latest.filter(F.col("op") == "d").count()
    live = latest.count() - tomb
    res.layer["cdc.silver.parse_cdc_envelope.rows_out"] = rows_out
    res.layer["cdc.silver.parse_cdc_envelope.rows_dropped"] = rows_in - rows_out
    res.layer["cdc.silver.latest_state.rows_out"] = live
    res.layer["cdc.silver.latest_state.tombstones"] = tomb
    res.attempted += 1
    if rows_out != cref.valid_events(0) or tomb != cref.tombstones(0):
        res.failed += 1
        _fail("parse/latest-state row counts differ from the reference")


# ----------------------------- cdc_incremental ------------------------------


def _seed_lake(ctx: Ctx, name: str, files: dict):
    """Bronze holds the base log; the first merge_silver creates silver
    and the checkpoint row."""
    from privacy_cdc_lakehouse_spark.cdc import jobs

    lake = jobs.Lakehouse(ctx.spark, _fresh_dir(ctx, name))
    with ctx.tracer.span("cdc.jobs.ingest_bronze"):
        jobs.ingest_bronze(lake, ctx.spark.read.parquet(files[0]))
    with ctx.tracer.span("cdc.jobs.merge_silver"):
        jobs.merge_silver(lake, write_change_data=True)
    return lake


def _merge_batch(ctx: Ctx, lake, path: str) -> int:
    from privacy_cdc_lakehouse_spark.cdc import jobs

    with ctx.tracer.span("cdc.jobs.ingest_bronze_idempotent"):
        jobs.ingest_bronze_idempotent(lake, ctx.spark.read.parquet(path))
    with ctx.tracer.span("cdc.jobs.merge_silver"):
        return jobs.merge_silver(lake, write_change_data=True)


def _check_changes(cref, lake, batch: int, version: int) -> bool:
    bad = cref.diff(
        lake.silver.read_changes(version, version).toArrow(),
        ref.CHANGE_COLS,
        cref.changes_sql(batch, version),
    )
    if bad:
        _fail(f"{bad} change-feed rows differ from the reference at v{version}")
    return bad == 0


def cdc_incremental(ctx: Ctx) -> Result:
    res = Result()
    spec = SPECS["cdc_incremental"]
    inputs = gen.cdc_log(ctx.seed, spec)
    files = _write_cdc(ctx, inputs)
    cref = ref.CdcReference(files, SALT)
    res.sizes = {
        "seed_events": inputs.base.num_rows,
        "keys": spec.keys,
        "batch_events": spec.batch_events,
        "batches_generated": spec.batches,
    }
    dt, lake = _timed(lambda: _seed_lake(ctx, "lake", files))
    res.setup_s.append(dt)
    ctx.rss.sample()
    res.attempted += 1
    if not _check_silver(cref, lake, 0):
        res.failed += 1

    def op(i):
        with ctx.tracer.span("op"):
            v = _merge_batch(ctx, lake, files[i + 1])
        return inputs.batches[i].num_rows, v

    def check(i, v):
        return _check_silver(cref, lake, i + 1, v) and _check_changes(
            cref, lake, i + 1, v
        )

    windows = _loop(ctx, res, op, check, max_ops=spec.batches)
    n = len(res.op_s)
    res.extra["batches"] = n
    if n >= 3:  # two points would only show the first batch's warm-up
        res.layer["cdc_incremental.batch_slope_s"] = float(
            np.polyfit(np.arange(n), np.array(res.op_s), 1)[0]
        )
    if ctx.trace:  # reads and file counts feed per-layer metrics only
        _read_mix(ctx, res, lake, cref, last=n, max_key=spec.keys)
        _merge_counts(ctx, cref, lake, windows)
        for k in ("bytes_written", "files_added", "buckets_touched", "write_amp"):
            res.layer[f"tables.merge.{k}"] = ctx.tracer.counter_median(f"tables.merge.{k}")
        _lake_counts(ctx, res, lake)
    return res


def _merge_counts(ctx: Ctx, cref, lake, windows: list) -> None:
    """Files, bytes, buckets and rows each merge wrote, from the
    filesystem: nothing is deleted during a run, so a data file belongs
    to the merge whose wall-clock window holds its modification time."""
    files = {
        p: (size, os.path.getmtime(p))
        for p, size in _parquet_files(lake.silver.path).items()
        if "_change_data" not in p
    }
    tr = ctx.tracer
    for batch, (lo, hi) in enumerate(windows, start=1):
        added = [p for p, (_size, mtime) in files.items() if lo <= mtime <= hi]
        rows = sum(pq.read_metadata(p).num_rows for p in added)
        buckets = {
            part
            for p in added
            for part in p.split(os.sep)
            if part.startswith("order_bucket=")
        }
        tr.count("tables.merge.bytes_written", sum(files[p][0] for p in added))
        tr.count("tables.merge.files_added", len(added))
        tr.count("tables.merge.buckets_touched", len(buckets))
        tr.count("tables.merge.write_amp", rows / max(cref.distinct_keys(batch), 1))


# ------------------------- reads over the merged lake -------------------------

READ_KINDS = ("range", "priv_agg", "time_travel", "changes")
READ_ROUNDS = 1  # each round runs every kind once
PRIV_AGG_SQL = (
    "SELECT status, count(*) AS n, count(DISTINCT user_key) AS users, "
    "sum(amount_eur) AS amount FROM silver.orders_current_priv GROUP BY status"
)


def _read_mix(ctx: Ctx, res: Result, lake, cref, last: int, max_key: int) -> None:
    """Analyst reads over the lake the merges left behind: a key-range
    read of silver, a status aggregate over the catalog's privacy view,
    a time-travel range read and the change feed of the last merges.
    Each read is checked; latencies land in the details and the
    per-layer metrics. Silver v1 is the base log, v(b+1) follows batch b.
    """
    from privacy_cdc_lakehouse_spark import catalog

    spark, tr = ctx.spark, ctx.tracer
    with tr.span("catalog.register_lakehouse"):
        t0 = time.perf_counter()
        catalog.register_lakehouse(spark, lake, SALT)
        res.layer["catalog.register_lakehouse.s"] = time.perf_counter() - t0
    versions = lake.silver.current_version()
    rng = np.random.default_rng(ctx.seed + 1)
    plan_s, exec_s, by_kind = [], [], {k: [] for k in READ_KINDS}

    def key_range():
        lo = int(rng.integers(1, max_key - RANGE_KEYS))
        return lo, [("order_id", ">=", lo), ("order_id", "<", lo + RANGE_KEYS)]

    def read_rows(version, where):
        with tr.span("tables.read"):
            t0 = time.perf_counter()
            df = lake.silver.read(version=version, where=where)
            t1 = time.perf_counter()
            out = df.toArrow()
        plan_s.append(t1 - t0)
        exec_s.append(time.perf_counter() - t1)
        return out

    def read(kind):
        with tr.span(f"lake_reads.{kind}"):
            if kind == "range":
                lo, where = key_range()
                return read_rows(None, where), lo, last
            if kind == "priv_agg":
                return spark.sql(PRIV_AGG_SQL).collect()
            if kind == "time_travel":
                v = int(rng.integers(1, versions))
                lo, where = key_range()
                return read_rows(v, where), lo, v - 1
            v = max(2, versions - 1)
            return lake.silver.read_changes(v, versions).toArrow(), v

    def check(kind, val):
        if kind in ("range", "time_travel"):
            tbl, lo, batch = val
            want = (
                f"SELECT * FROM ({cref.state_sql(batch)}) "
                f"WHERE order_id >= {lo} AND order_id < {lo + RANGE_KEYS}"
            )
            return cref.diff(tbl, ref.SILVER_COLS, want)
        if kind == "priv_agg":
            return _check_priv_agg(cref, val, last)
        tbl, v = val
        want = " UNION ALL ".join(
            f"SELECT * FROM ({cref.changes_sql(w - 1, w)})"
            for w in range(v, versions + 1)
        )
        return cref.diff(tbl, ref.CHANGE_COLS, want)

    for i in range(READ_ROUNDS * len(READ_KINDS)):
        kind = READ_KINDS[i % len(READ_KINDS)]
        res.attempted += 1
        try:
            dt, val = _timed(lambda: read(kind))
            bad = check(kind, val)
        except Exception:
            traceback.print_exc()
            dt, bad = 0.0, 1
        if bad:
            res.failed += 1
            _fail(f"{kind} read: {bad} rows differ from the reference")
        by_kind[kind].append(dt)
    reads = [t for vals in by_kind.values() for t in vals]
    res.extra["read_p50_s"] = statistics.median(reads)
    res.extra["reads_per_s"] = len(reads) / sum(reads)
    for k, vals in by_kind.items():
        res.layer[f"lake_reads.{k}.p50_s"] = statistics.median(vals)
    if ctx.trace:
        res.layer["tables.read.plan_s"] = statistics.median(plan_s)
        res.layer["tables.read.exec_s"] = statistics.median(exec_s)
        total, scanned = lake.silver.scan_files(where=key_range()[1])
        res.layer["tables.scan_files.read_share"] = scanned / total if total else 0.0
    ctx.rss.sample()


def _check_priv_agg(cref, rows, batch: int) -> int:
    want = {
        r[0]: r[1:]
        for r in cref.query(
            f"""SELECT status, count(*), count(DISTINCT user_key), sum(amount_eur)
                FROM ({cref.privacy_sql(batch)}) GROUP BY status"""
        )
    }
    bad = abs(len(rows) - len(want))
    for r in rows:
        w = want.get(r["status"])
        if w is None or (r["n"], r["users"]) != w[:2] or not np.isclose(
            r["amount"], w[2], rtol=1e-9, atol=1e-6
        ):
            bad += 1
    return bad


# -------------------------------- llm_dedup ---------------------------------


def llm_dedup(ctx: Ctx) -> Result:
    from privacy_cdc_lakehouse_spark.operators import dedup

    spark, tr = ctx.spark, ctx.tracer
    res = Result()
    spec = SPECS["llm_dedup"]
    table = gen.documents(ctx.seed, spec)
    path = gen.write_parquet(table, os.path.join(ctx.root, "documents.parquet"))
    texts = dict(zip(table.column("doc_id").to_pylist(), table.column("text").to_pylist()))
    res.sizes = {"docs": table.num_rows, "originals": spec.docs}

    docs = None
    for _ in range(3):
        def setup():
            df = spark.read.parquet(path)
            df.count()
            return df

        dt, docs = _timed(setup)
        res.setup_s.append(dt)
    ctx.rss.sample()

    def op(i):
        with tr.span("op"):
            with tr.span("operators.dedup.minhash_signatures"):
                sig = dedup.minhash_signatures(docs)
            with tr.span("operators.dedup.minhash_lsh_pairs"):
                cand = dedup.minhash_lsh_pairs(docs, signatures=sig)
            with tr.span("operators.dedup.ngram_jaccard_pairs"):
                pairs = dedup.ngram_jaccard_pairs(docs, cand, threshold=THRESHOLD)
                pair_rows = [tuple(r) for r in pairs.collect()]
            with tr.span("operators.dedup.near_dup_keepers"):
                keep_rows = [
                    tuple(r) for r in dedup.near_dup_keepers(docs, pairs).collect()
                ]
        return len(texts), (pair_rows, keep_rows, cand)

    def check(i, out):
        pair_rows, keep_rows, cand = out
        if ctx.trace:  # outside the timed operation
            n_cand = cand.count()
            tr.count("operators.dedup.candidates", n_cand)
            tr.count("operators.dedup.verified", len(pair_rows))
            tr.count("operators.dedup.verify_yield", len(pair_rows) / max(n_cand, 1))
        bad = ref.check_dedup(texts, pair_rows, keep_rows, THRESHOLD)
        if bad:
            _fail(f"dedup: {bad} pairs or keeper rows are wrong")
        return bad == 0

    _loop(ctx, res, op, check)
    if ctx.trace:
        for k in ("candidates", "verified", "verify_yield"):
            name = f"operators.dedup.{k}"
            res.layer[name] = ctx.tracer.counter_median(name)
    return res


WORKLOADS = {
    "cdc_rebuild": cdc_rebuild,
    "cdc_incremental": cdc_incremental,
    "llm_dedup": llm_dedup,
}
