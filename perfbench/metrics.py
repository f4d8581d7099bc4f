"""Names, units and directions of every metric the benchmark reports.

``BENCHMARK.json`` at the repository root lists the same metrics; the
benchmark's tests keep the two in step.
"""

from __future__ import annotations

from spans import CALL_STATS

# (name, unit, better, bound): measured with tracing off.
END_TO_END = (
    # Median of the run's set-ups: a fresh lakehouse brought to the
    # workload's starting state, on cdc_rebuild through its first
    # rebuild (see workloads.py).
    ("setup_s", "s", "lower", 0.25),
    # Median latency of the workload's unit operation: one rebuild
    # (rebuild_silver + build_privacy), one ingest+merge batch, one
    # dedup pass. No tail is reported here: a run holds too few
    # operations for a percentile with ten samples beyond it (run.py
    # adds one to the details when it does).
    ("op_p50_s", "s", "lower", 0.25),
    # Events (cdc workloads) or documents (llm_dedup) per second of
    # operation time.
    ("items_per_s", "1/s", "higher", 0.25),
)

# Public calls wrapped in spans; each gets every CALL_STATS entry.
LAYER_CALLS = (
    "cdc.silver.parse_cdc_envelope",
    "cdc.silver.latest_state",
    "cdc.jobs.ingest_bronze",
    "cdc.jobs.rebuild_silver",
    "cdc.jobs.build_privacy",
    "cdc.jobs.ingest_bronze_idempotent",
    "cdc.jobs.merge_silver",
    "operators.dedup.minhash_signatures",
    "operators.dedup.minhash_lsh_pairs",
    "operators.dedup.ngram_jaccard_pairs",
    "operators.dedup.near_dup_keepers",
)

# (name, unit, better): counts and timings taken around the layers.
LAYER_EXTRA = (
    ("cdc.silver.parse_cdc_envelope.rows_out", "rows", "higher"),
    ("cdc.silver.parse_cdc_envelope.rows_dropped", "rows", "lower"),
    ("cdc.silver.latest_state.rows_out", "rows", "higher"),
    ("cdc.silver.latest_state.tombstones", "rows", "lower"),
    ("tables.merge.bytes_written", "bytes", "lower"),
    ("tables.merge.files_added", "count", "lower"),
    ("tables.merge.buckets_touched", "count", "lower"),
    ("tables.merge.write_amp", "rows/key", "lower"),
    ("tables.versions", "count", "lower"),
    ("tables.bronze_dirs", "count", "lower"),
    ("tables.space_amp", "ratio", "lower"),
    ("cdc_incremental.batch_slope_s", "s/batch", "lower"),
    ("tables.read.plan_s", "s", "lower"),
    ("tables.read.exec_s", "s", "lower"),
    ("tables.scan_files.read_share", "ratio", "lower"),
    ("lake_reads.range.p50_s", "s", "lower"),
    ("lake_reads.priv_agg.p50_s", "s", "lower"),
    ("lake_reads.time_travel.p50_s", "s", "lower"),
    ("lake_reads.changes.p50_s", "s", "lower"),
    ("catalog.register_lakehouse.s", "s", "lower"),
    ("session.start_s", "s", "lower"),
    ("operators.dedup.candidates", "pairs", "lower"),
    ("operators.dedup.verified", "pairs", "higher"),
    ("operators.dedup.verify_yield", "ratio", "higher"),
    ("trace.op_p50_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    # Summed peak RSS of the driver Python, the JVM and Python workers.
    # Per-layer rather than end-to-end: it follows the JVM's heap growth,
    # which moves 10-17% between runs of the same code (results/NOTES.md).
    ("peak_rss_mb", "MB", "lower"),
)

PER_LAYER = tuple(
    (f"{layer}.{stat}", unit, "lower")
    for layer in LAYER_CALLS
    for stat, unit in CALL_STATS
) + LAYER_EXTRA
