"""Lake table layer: Parquet tables with snapshot commits and MERGE.

The reference stores bronze/silver/monitoring tables as Iceberg tables
and relies on the Iceberg Spark extension for ``MERGE INTO``
(``/root/reference/jobs/merge_orders_silver.py:135-147``) and atomic
``createOrReplace`` (``/root/reference/jobs/build_orders_silver.py:95``).
Neither Iceberg nor Delta jars ship in this environment, so this module
provides the same table semantics Spark-first:

- A table is a directory with an append-only numbered JSON *log*; each
  log entry is a full snapshot manifest (the list of parquet data dirs
  that make up the table at that version). Readers read the newest
  committed manifest — writers never mutate data files, so reads are
  snapshot-isolated and commits are atomic (O_EXCL log-file creation
  gives optimistic concurrency, the same protocol Delta Lake uses on a
  filesystem with atomic create).
- The log also records the table schema (Delta's ``metaData``), so
  readers never infer it from parquet (see ``LakeTable.schema``).
- ``append`` adds a data dir + commits (no rewrite — O(new data)).
- ``overwrite`` commits a manifest with only the new data dir — the
  atomic full-rebuild the reference gets from ``createOrReplace()``.
- ``merge`` is a join-based copy-on-write upsert with the three CDC
  clauses (MATCHED+delete → DELETE, MATCHED → UPDATE, NOT MATCHED →
  INSERT), the rewrite Iceberg/Delta perform under ``MERGE INTO``.

Scale notes (100 TB):
- Each commit records per-file column min/max/null stats in the
  manifest (parquet footer metadata, no data read) and ``read(where=
  ...)`` prunes files whose range cannot match before Spark ever
  plans the scan — Delta's data-skipping design. Stats collection here
  is a driver-side footer walk (O(files), metadata only); on a real
  cluster you'd fold it into the write tasks as Delta does, or swap
  this layer for Delta/Iceberg — the public API matches so the swap
  is local.
- ``merge`` never shuffles the big target side. A full-outer join
  CANNOT broadcast (verified: Spark plans SortMergeJoin with both sides
  exchanged), so MERGE is decomposed into broadcast-able pieces:
  untouched target rows come from ``target LEFT ANTI broadcast(source
  keys)``, updated rows from ``target INNER broadcast(source)``, and
  inserts from source anti matched-keys (small × small). Every join
  builds on the micro-batch side → three BroadcastHashJoins, zero
  exchanges of the target.
- ``merge(partition_filter=...)`` scopes the copy-on-write to the
  partitions the batch touches (Delta's dynamic-partition-overwrite
  strategy for MERGE): only the filtered slice is rewritten; prior data
  dirs stay in the manifest with the filter recorded as an *exclusion
  predicate* that readers push down as a partition filter.
"""

from __future__ import annotations

import base64
import datetime
import functools
import hashlib
import json
import os
import re
import time
import uuid
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql.types import StructType
from pyspark.sql import functions as F

_LOG_DIR = "_log"
_DATA_DIR = "data"
_CHANGE_DIR = "_change_data"
_BLOOM_DIR = "_bloom"

# Change Data Feed column names (Delta CDF parity)
CHANGE_TYPE_COL = "_change_type"
COMMIT_VERSION_COL = "_commit_version"
COMMIT_TS_COL = "_commit_timestamp"


def _entry(e) -> dict:
    """Normalize a manifest file entry (v1 plain string → v2 dict)."""
    if isinstance(e, str):
        return {"path": e, "excludes": [], "stats": {}}
    return {
        "path": e["path"],
        "excludes": list(e.get("excludes", [])),
        "stats": dict(e.get("stats", {})),
    }


def _utc_naive_iso(v) -> str:
    """Datetime → naive-UTC isoformat. Footer stats come back tz-aware
    (+00:00) while predicate literals are usually naive; comparing the
    two as raw isoformat strings mis-orders EQUAL instants (the tz
    suffix makes the aware string sort after its naive twin), which
    would prune files that contain matching rows. Normalizing both
    sides to naive UTC keeps string order == chronological order."""
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    return v.isoformat()  # date


def _json_stat(v):
    """Footer stat → JSON-storable comparable, or None if unsupported."""
    if isinstance(v, bool) or v is None:
        return None  # bool min/max is useless for range pruning
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, (datetime.datetime, datetime.date)):
        return _utc_naive_iso(v)
    return None


def _cmp_key(v):
    """Predicate literal → the comparable domain stats are stored in."""
    if isinstance(v, (datetime.datetime, datetime.date)):
        return _utc_naive_iso(v)
    return v


def _bloom_probe_str(value) -> str | None:
    """Canonical string for bloom hashing — must equal Spark's
    ``CAST(col AS STRING)`` for the value, or the probe is unsound.
    Only int and str are canonical-safe (floats/temporal types render
    differently across engines); anything else opts out of the bloom."""
    if isinstance(value, bool) or value is None:
        return None
    if isinstance(value, int):
        return str(value)
    if isinstance(value, str):
        return value
    return None


def _dir_has_parquet(base: str) -> bool:
    """True iff ``base`` contains at least one parquet data file. A
    partitioned write of an EMPTY frame emits no part files at all
    (an unpartitioned one emits a schema-bearing empty part), so
    zero-file data dirs are a legal artifact of empty-result rewrites
    and must count as zero rows, not as a schema-inference error."""
    for root, _dirs, names in os.walk(base):
        for n in names:
            if n.endswith(".parquet") and not n.startswith((".", "_")):
                return True
    return False


_BLOOM_HASH_VERSION = 2  # v2: 14-nibble hashes (ANSI-overflow-safe)


def _bloom_bits_for(sval: str, m: int, k: int) -> list[int]:
    """The k bit positions of ``sval`` — md5 double hashing
    (h1 + i*h2 mod m), the same arithmetic the Spark-side builder
    emits. 14 hex nibbles keep h1,h2 < 2^56, so h1 + i*h2 < 2^60 for
    k <= 15 — it never overflows a signed 64-bit long, so the Spark
    side is safe even under ``spark.sql.ansi.enabled=true`` (15
    nibbles could reach ~15*2^60 > 2^63 and throw at commit time) and
    the two sides agree bit for bit; m is a power of two, so pmod ==
    masking."""
    h1 = int(hashlib.md5(("b0|" + sval).encode()).hexdigest()[:14], 16)
    h2 = int(hashlib.md5(("b1|" + sval).encode()).hexdigest()[:14], 16)
    return [(h1 + i * h2) & (m - 1) for i in range(k)]


_BLOOM_INT_TYPES = {"tinyint", "smallint", "int", "integer", "bigint", "long"}


def _bloom_excludes(bloom: dict, value) -> bool:
    """True iff the file's bloom filter PROVES ``col = value`` matches
    no row (any probe bit unset). Unknown shapes → not prunable. The
    literal's Python type must match the column type the bloom was
    built over (``t`` stamp) — Spark's residual filter COERCES across
    types (string col = int literal casts the column), and a coerced
    match could hash differently than the stored strings ('05' matches
    ``= 5`` post-cast but hashes as '05'); mismatched types opt out."""
    sval = _bloom_probe_str(value)
    if sval is None:
        return False
    t = bloom.get("t")
    if isinstance(value, int):
        if t not in _BLOOM_INT_TYPES:
            return False
    elif t != "string":
        return False
    if bloom.get("h") != _BLOOM_HASH_VERSION:
        # Sidecar built by an older hash scheme: probing with today's
        # arithmetic would be unsound — degrade to no-prune.
        return False
    try:
        m, k = int(bloom["m"]), int(bloom["k"])
        arr = base64.b64decode(bloom["b64"])
    except (KeyError, TypeError, ValueError):
        return False
    if m <= 0 or (m & (m - 1)) or k <= 0 or k > 15 or len(arr) * 8 < m:
        return False
    for pos in _bloom_bits_for(sval, m, k):
        if not (arr[pos // 8] >> (pos % 8)) & 1:
            return True
    return False


def _file_prunable(stats: dict, col: str, op: str, value) -> bool:
    """True iff [min,max] of ``col`` in this file PROVES no row matches
    ``col <op> value``. Missing/null stats → not prunable (pruning is
    an optimization, never a correctness lever). Equality predicates
    additionally probe the per-file bloom filter when the table was
    committed with one (high-cardinality point lookups where min/max
    spans nearly every file)."""
    s = stats.get(col)
    if not s:
        return False
    if op == "in":
        # An IN-list excludes the file iff EVERY value is excluded
        # (min/max or bloom per value); the empty list matches nothing.
        return all(_file_prunable(stats, col, "=", x) for x in value)
    if op == "=" and "bloom" in s and _bloom_excludes(s["bloom"], value):
        return True
    if op in ("is null", "is not null"):
        # Gate on the round-6 "rows" key: older manifests recorded
        # nulls=0 for UNKNOWN null counts, which would prune unsoundly.
        if "rows" not in s:
            return False
        nulls, rows = s.get("nulls"), s.get("rows")
        if op == "is null":
            return nulls == 0  # provably no NULL rows (None → unknown)
        return nulls is not None and rows is not None and nulls == rows
    lo, hi = s.get("min"), s.get("max")
    if lo is None or hi is None:
        return False
    v = _cmp_key(value)
    if isinstance(value, (datetime.datetime, datetime.date)):
        # Temporal literal: only prune when the stored stats are ISO
        # strings of the SAME shape (date-only has no 'T'; datetime
        # always does). A date literal against timestamp stats (or vice
        # versa) compares differently-shaped strings — "2024-01-05" vs
        # "2024-01-05T00:00:00" mis-orders the EQUAL instant and would
        # prune the file holding the midnight match, breaking the
        # read(where=) == read().filter() invariant.
        has_time = isinstance(value, datetime.datetime)
        for bound in (lo, hi):
            if not isinstance(bound, str) or ("T" in bound) != has_time:
                return False
    try:
        if op == "=":
            return bool(v < lo or v > hi)
        if op == "<":
            return bool(lo >= v)
        if op == "<=":
            return bool(lo > v)
        if op == ">":
            return bool(hi <= v)
        if op == ">=":
            return bool(hi < v)
    except TypeError:
        return False  # incomparable types (e.g. str stat vs int literal)
    return False


_OPS = {
    "=": lambda c, v: c == v,
    "<": lambda c, v: c < v,
    "<=": lambda c, v: c <= v,
    ">": lambda c, v: c > v,
    ">=": lambda c, v: c >= v,
    # NULL-existence skipping (Delta collects null counts for exactly
    # this): ("col", "is null", None) prunes files whose footer proves
    # zero nulls; "is not null" prunes all-null files.
    "is null": lambda c, v: c.isNull(),
    "is not null": lambda c, v: c.isNotNull(),
    # ("col", "in", [v1, v2, ...]): prunes files where EVERY listed
    # value is excluded (min/max or bloom); [] matches nothing.
    "in": lambda c, v: c.isin(*v) if v else F.lit(False),
}


def _normalize_where(where) -> list[tuple[str, str, object]]:
    preds = [where] if isinstance(where, tuple) else list(where)
    for col, op, _ in preds:
        if op not in _OPS:
            raise ValueError(f"unsupported skip op {op!r} on {col!r}")
    return preds


_IN_LIST_RE = re.compile(
    r"^\s*(`?\w+`?)\s+IN\s+\(\s*(-?\d+(?:\s*,\s*-?\d+)*)\s*\)\s*$",
    re.I,
)


def _add_exclude(excludes: list[str], new: str) -> None:
    """Append an exclusion predicate, merging same-column integer
    ``col IN (...)`` lists into one predicate (set union — a row is
    excluded if it matches ANY exclude, so merging IN-lists on the same
    column is exact). Without this, a table receiving thousands of
    partition-scoped merges accumulates one predicate per batch on
    every older dir — unbounded manifest and filter-plan growth; with
    it, excludes stay bounded by the partition-value domain."""
    m_new = _IN_LIST_RE.match(new)
    if m_new:
        col = m_new.group(1).strip("`")
        vals = {int(v) for v in m_new.group(2).split(",")}
        for i, old in enumerate(excludes):
            m_old = _IN_LIST_RE.match(old)
            if m_old and m_old.group(1).strip("`") == col:
                vals |= {int(v) for v in m_old.group(2).split(",")}
                excludes[i] = f"{col} IN ({', '.join(str(v) for v in sorted(vals))})"
                return
    excludes.append(new)


# File count above which a commit's footer-stat reads fan out as Spark
# tasks instead of a serial driver walk (see ``LakeTable._file_stats``).
_DISTRIBUTED_STATS_THRESHOLD = 64

# Every _CHECKPOINT_INTERVAL-th commit stores the full resolved file
# list (see ``LakeTable._snapshot_files``).
_CHECKPOINT_INTERVAL = 10


def _footer_column_stats(full_path: str) -> dict[str, dict]:
    """min/max/null stats for ONE parquet file's top-level columns from
    its footer (metadata only). Module-level so the distributed stats
    path can ship it to executors."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(full_path).metadata
    n_rows = md.num_rows
    cols: dict[str, dict] = {}
    for rg_i in range(md.num_row_groups):
        rg = md.row_group(rg_i)
        for c_i in range(rg.num_columns):
            col = rg.column(c_i)
            try:
                st = col.statistics
            except Exception:
                # pyarrow can't extract stats for every physical type
                # (e.g. some decimals) — treat as unknown range; pruning
                # is an optimization, never a correctness lever.
                st = None
            name_c = col.path_in_schema
            if "." in name_c:
                continue  # nested leaf — skip, not prunable
            agg = cols.setdefault(
                name_c, {"min": None, "max": None, "nulls": 0, "rows": n_rows}
            )
            # NULL-count soundness: a single row group with an unknown
            # null count makes the file's total UNKNOWN (None, sticky) —
            # an undercount would let IS NULL pruning drop a file that
            # holds matching rows.
            if st is None or not st.has_null_count:
                agg["nulls"] = None
            elif agg["nulls"] is not None:
                agg["nulls"] += st.null_count
            if st is None or not st.has_min_max:
                agg["min"] = agg["max"] = None
                cols[name_c]["dead"] = True  # unknown range
                continue
            # Truncated string stats are still valid bounds: the parquet
            # spec requires truncated max to round UP (min down), so
            # pruning stays sound. But they are then an OUTER envelope,
            # not exact extrema — writers may truncate BYTE_ARRAY stats
            # (and pyarrow exposes no exactness flag), so flag the
            # possibility for stats-only readers that need exactness
            # (column_minmax_from_stats): pruning keeps using the
            # bounds, exactness claims must not.
            if col.physical_type == "BYTE_ARRAY":
                agg["trunc"] = True
            lo, hi = _json_stat(st.min), _json_stat(st.max)
            # Non-BYTE_ARRAY values that still encode as JSON strings
            # (timestamps/dates as ISO text) get an explicit
            # trunc=False so stats-only readers can tell a new-format
            # exact entry from a LEGACY manifest written before the
            # flag existed (where a string value might be a truncated
            # BYTE_ARRAY stat) — the reader treats flag-less string
            # stats as possibly truncated.
            if "trunc" not in agg and isinstance(lo, str):
                agg["trunc"] = False
            if lo is None or hi is None or agg.get("dead"):
                agg["dead"] = True
                agg["min"] = agg["max"] = None
            else:
                agg["min"] = lo if agg["min"] is None else min(agg["min"], lo)
                agg["max"] = hi if agg["max"] is None else max(agg["max"], hi)
    for agg in cols.values():
        agg.pop("dead", None)
    return cols


# Catalyst's size-only estimator returns Long.MaxValue for plans it
# cannot size (LogicalRDD / createDataFrame sources), and propagates a
# big table's FULL size through Filter unchanged — so a plan-stats
# estimate at or above this sentinel floor means "unknown", not "huge".
_SIZE_UNKNOWN_FLOOR = 1 << 62


def _plan_size_estimate(df: DataFrame) -> int | None:
    """Catalyst plan-stats sizeInBytes for ``df`` (no Spark job), or
    None when the estimate is unavailable or the unknown-size sentinel
    (see ``_SIZE_UNKNOWN_FLOOR``)."""
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # non-classic DataFrame / connect: be safe
        return None
    return None if est < 0 or est >= _SIZE_UNKNOWN_FLOOR else est


class MergeError(ValueError):
    """Raised when MERGE preconditions are violated (e.g. dup source keys)."""


class ConstraintViolationError(ValueError):
    """A write contained rows violating a CHECK constraint."""


class ConcurrentWriteError(RuntimeError):
    """A partition-scoped rewrite raced a commit it did not account for.

    The rewrite's exclusion predicate would be applied to data dirs the
    rewrite never read — an append landing between read and commit would
    have its partition-matching rows silently erased. Delta raises
    ``ConcurrentAppendException`` here; so do we. Retry the operation
    against the new snapshot."""


@dataclass
class LakeTable:
    """A path-addressed snapshot-versioned parquet table."""

    spark: SparkSession
    path: str

    # ---------------- log / snapshot plumbing ----------------

    @property
    def _log_path(self) -> str:
        return os.path.join(self.path, _LOG_DIR)

    def exists(self) -> bool:
        return self.current_version() is not None

    def current_version(self) -> int | None:
        try:
            entries = [
                int(f.split(".")[0])
                for f in os.listdir(self._log_path)
                if f.endswith(".json")
            ]
        except FileNotFoundError:
            return None
        return max(entries) if entries else None

    def _manifest(self, version: int) -> dict:
        with open(os.path.join(self._log_path, f"{version:08d}.json")) as f:
            return json.load(f)

    # Commit-log compaction (Delta's checkpoint model): most commits
    # store only a DELTA (add dirs / truncate / exclude-all predicate) —
    # O(batch) JSON instead of O(table files) per commit, which is what
    # keeps a high-cadence streaming merge log writable at 100 TB. Every
    # _CHECKPOINT_INTERVAL-th commit (and every overwrite, whose file
    # list is one entry) stores the full resolved file list, bounding
    # replay to < interval deltas. Legacy full-list manifests read
    # unchanged (every one is a checkpoint).
    def _snapshot_files(self, version: int) -> list[dict]:
        """Resolved file-entry list at ``version``: nearest checkpoint at
        or before it, replayed forward through the delta tail."""
        chain: list[dict] = []
        v = version
        while True:
            m = self._manifest(v)
            if "files" in m:
                files = [_entry(e) for e in m["files"]]
                break
            chain.append(m)
            v -= 1
            if v < 1:
                raise RuntimeError(
                    f"corrupt log: no checkpoint at or below v{version}: "
                    f"{self.path}"
                )
        for m in reversed(chain):
            d = m["delta"]
            if d.get("truncate"):
                files = []
            pred = d.get("exclude_all")
            if pred:
                for e in files:
                    _add_exclude(e["excludes"], pred)
            adds = d.get("add")
            if adds:
                files = files + [_entry(e) for e in adds]
        return files

    def _snapshot(self, version: int) -> dict:
        """Manifest with ``files`` resolved (checkpoint + delta replay)."""
        m = dict(self._manifest(version))
        m["files"] = (
            [_entry(e) for e in m["files"]]
            if "files" in m
            else self._snapshot_files(version)
        )
        return m

    # ---------------- carried log keys: properties, schema ----------------

    def _carried(self, key: str, version: int | None):
        """Value of a carried commit-log key at ``version`` (default:
        current): the most recent manifest at or before it that records
        ``key``. Every checkpoint embeds the carried keys, so a
        checkpoint without ``key`` ends the walk with None — the walk is
        bounded by the checkpoint interval, not the log length (it runs
        on every write and every read)."""
        v = version if version is not None else self.current_version()
        while v is not None and v >= 1:
            m = self._manifest(v)
            if key in m:
                return m[key]
            if "files" in m:
                return None
            v -= 1
        return None

    def properties(self, version: int | None = None) -> dict:
        """Table properties at ``version`` (default: current). Stored
        through the commit log (``set_properties`` writes the full
        merged dict), so properties are versioned and time-travelable
        like everything else."""
        return dict(self._carried("properties", version) or {})

    def schema(self, version: int | None = None) -> StructType:
        """Table schema at ``version`` (default: current), as the log
        records it — Delta's ``metaData`` / Iceberg's table-metadata
        schema, so learning it reads manifests, never parquet. The
        first data commit and every full replace record the schema of
        what they wrote; commits that add dirs widen it (the columns
        and types a by-name union of the dirs has). Raises
        FileNotFoundError until a data commit has defined it."""
        st = self._schema_at(
            version if version is not None else self.current_version()
        )
        if st is None:
            raise FileNotFoundError(f"table has no schema yet: {self.path}")
        return st

    def _schema_at(self, version: int | None) -> StructType | None:
        if version is None:
            return None
        rec = self._carried("schema", version)
        if isinstance(rec, dict):
            return StructType.fromJson(rec)
        # Legacy log, written before the schema was recorded: infer it
        # once per call as the by-name union of the snapshot's non-empty
        # dirs (one Spark job per dir). The next commit records it. An
        # old TRUNCATE / empty rewrite left a JSON string under the key.
        dfs = [
            self._infer_read(e["path"])
            for e in self._snapshot_files(version)
            if _dir_has_parquet(os.path.join(self.path, e["path"]))
        ]
        if dfs:
            return functools.reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs
            ).schema
        return StructType.fromJson(json.loads(rec)) if rec else None

    def _infer_read(self, rel: str) -> DataFrame:
        """Schema-inferring read of one dir, for legacy logs only."""
        return self.spark.read.option("mergeSchema", "true").parquet(
            os.path.join(self.path, rel)
        )

    def _empty(self, st: StructType) -> DataFrame:
        """0-row DataFrame of schema ``st``, built on the JVM (no job)."""
        return self.spark.range(0).select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in st.fields]
        )

    def set_properties(
        self, props: dict, _pre_commit: Callable[[], None] | None = None
    ) -> int:
        """Merge ``props`` into the table properties via a metadata-only
        commit (no data changes; a None value unsets a key). Recognized
        keys: ``bloom.columns`` (list of column names — subsequent
        commits build a per-file bloom filter over each, used by
        ``read(where=)`` equality pruning), ``bloom.bits`` (filter size
        in bits, power of two, default 65536), ``bloom.k`` (hash count,
        default 7, max 15).

        ``_pre_commit`` (internal) runs inside the commit retry, before
        the manifest body is assembled — the transactional-validation
        hook for ``add_check_constraint``: a concurrent data write that
        wins the version race triggers a rebase, which re-runs the hook
        against the new snapshot before the property lands."""
        def merge_props(base: dict) -> dict:
            merged = dict(base)
            for key, val in props.items():
                if val is None:
                    merged.pop(key, None)
                else:
                    merged[key] = val
            bits = merged.get("bloom.bits")  # None → adaptive per-file sizing
            kk = int(merged.get("bloom.k", 7))
            if merged.get("bloom.columns") and (
                (bits is not None and (int(bits) <= 0 or int(bits) & (int(bits) - 1)))
                or not (1 <= kk <= 15)
            ):
                raise ValueError(
                    f"bloom.bits must be a power of two (or unset for "
                    f"adaptive sizing) and bloom.k in [1,15]; got "
                    f"bits={bits} k={kk}"
                )
            return merged

        merge_props(self.properties())  # validate eagerly

        # The merge must happen INSIDE the commit retry: two racing
        # set_properties on different keys would otherwise last-writer-
        # win with a dict computed against the pre-race state, silently
        # dropping the other writer's key. build_files runs before the
        # manifest body is assembled, so mutating `extra` there lands
        # the re-merged dict in the committed manifest.
        extra: dict = {}

        def build(latest: dict | None) -> list[dict]:
            if _pre_commit is not None:
                _pre_commit()
            extra["properties"] = merge_props(self.properties())
            return [_entry(e) for e in latest["files"]] if latest else []

        return self._commit(
            build,
            "setproperties",
            self._manifest(self.current_version()).get("partition_by", [])
            if self.current_version() is not None
            else [],
            delta={},
            extra=extra,
        )

    def _bloom_for_dir(
        self, files: list[str], cols: list[str], m: int, k: int
    ) -> dict[str, dict[str, dict]]:
        """Per-file bloom filters for ``cols`` over the NEW data files —
        Delta's BLOOMFILTER INDEX model: built at commit time with one
        distributed pass over the new data (bloom columns only — the
        scan is column-pruned), never a table-wide job. The bitset is
        aggregated executor-side (bit positions OR-folded into
        m/64-long words per file), so the driver receives O(files *
        m/64) longs, not row hashes. Hashing is md5 double-hashing over
        ``CAST(col AS STRING)`` — portable to the Python-side probe in
        ``_bloom_excludes`` digit for digit."""
        if not files:
            return {}
        df = self.spark.read.parquet(*files)  # one write's files: one schema
        types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        # Only integer/string columns: the probe side needs a canonical
        # CAST-AS-STRING it can replicate (floats/temporals render
        # engine-dependently and opt out on both sides).
        present = [
            c
            for c in cols
            if c in df.columns
            and (types[c] in _BLOOM_INT_TYPES or types[c] == "string")
        ]
        if not present:
            return {}
        out: dict[str, dict[str, dict]] = {}
        n_words = m // 64

        def hcol(salt: str) -> Column:
            # 14 hex nibbles: h < 2^56, so h1 + i*h2 < 2^60 for k<=15 —
            # no signed-long overflow even under ANSI mode (see
            # _bloom_bits_for, which must agree digit for digit).
            return F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(salt), F.col("_s"))), 1, 14
                ),
                16,
                10,
            ).cast("long")

        # ONE job for every bloom column: (column, CAST-AS-STRING)
        # pairs explode from an array of structs, so k columns cost one
        # pass over the new data instead of k; the column name rides
        # the aggregation key and the driver splits the O(files *
        # columns * m/64) words afterwards.
        pairs = F.array(
            *[
                F.struct(
                    F.lit(c).alias("c"),
                    F.col(c).cast("string").alias("_s"),
                )
                for c in present
            ]
        )
        bit = F.pmod(F.col("h1") + F.col("i") * F.col("h2"), F.lit(m))
        rows = (
            df.select(
                F.input_file_name().alias("f"), F.explode(pairs).alias("p")
            )
            .select("f", F.col("p.c").alias("c"), F.col("p._s").alias("_s"))
            .filter(F.col("_s").isNotNull())
            .select(
                "f", "c", hcol("b0|").alias("h1"), hcol("b1|").alias("h2")
            )
            .select(
                "f",
                "c",
                F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("i"),
                "h1",
                "h2",
            )
            .select("f", "c", bit.alias("bit"))
            .groupBy("f", "c", F.floor(F.col("bit") / 64).alias("word"))
            .agg(
                F.expr(
                    "bit_or(shiftleft(CAST(1 AS BIGINT), "
                    "CAST(bit % 64 AS INT)))"
                ).alias("bits")
            )
            .collect()
        )
        per_file: dict[tuple[str, str], bytearray] = {}
        for r in rows:
            path = re.sub(r"^file:/*", "/", r["f"])
            rel = os.path.relpath(path, self.path)
            arr = per_file.setdefault((rel, r["c"]), bytearray(m // 8))
            word_bytes = (int(r["bits"]) & ((1 << 64) - 1)).to_bytes(
                8, "little"
            )
            w = int(r["word"])
            if 0 <= w < n_words:
                start = w * 8
                for j in range(8):
                    arr[start + j] |= word_bytes[j]
        for (rel, col), arr in per_file.items():
            out.setdefault(rel, {})[col] = {
                "m": m,
                "k": k,
                "t": types[col],
                "h": _BLOOM_HASH_VERSION,
                "b64": base64.b64encode(bytes(arr)).decode(),
            }
        return out

    def _commit(
        self,
        build_files: Callable[[dict | None], list[dict]],
        op: str,
        partition_by: list[str] | None = None,
        delta: dict | None = None,
        extra: dict | None = None,
        schema: StructType | None = None,
    ) -> int:
        """Atomically commit a snapshot manifest.

        ``build_files`` maps the *latest committed* snapshot (manifest
        with resolved ``files``, or None) to the new full file-entry
        list. On an O_EXCL version collision the loser re-reads the
        winner's manifest and REBUILDS its entry list before retrying —
        a committed-then-raced append is rebased, not silently dropped
        (the Delta optimistic-concurrency protocol: retry = re-resolve
        against the new snapshot, not just bump the version).

        ``delta`` is the compact commit representation (see
        ``_snapshot_files`` actions: ``truncate`` / ``exclude_all`` /
        ``add``) — applying it to the previous snapshot MUST reproduce
        ``build_files``' output. It is stored instead of the full list
        except on checkpoint versions; ``None`` forces a checkpoint.

        ``schema`` is the reader schema of the dir(s) this commit
        writes. A delta commit adds them to the prior snapshot, so it
        widens the prior table schema by a by-name union; a full-list
        commit replaces the schema. The table schema is recorded when
        it changes, on every checkpoint, and on the first commit to a
        legacy log that never recorded one.
        """
        os.makedirs(self._log_path, exist_ok=True)
        while True:
            current = self.current_version()
            latest = self._snapshot(current) if current is not None else None
            files = build_files(latest)
            version = (current or 0) + 1
            body = {
                "op": op,
                "partition_by": partition_by or [],
                "ts": time.time(),
            }
            if extra:
                body.update(extra)
            prior = self._schema_at(current)
            new = prior
            if schema is not None:
                new = (
                    schema
                    if delta is None or prior is None
                    else self._empty(prior)
                    .unionByName(self._empty(schema), allowMissingColumns=True)
                    .schema
                )
            # the first commit of a table is always a checkpoint (there
            # is no prior snapshot for a delta to apply to)
            checkpoint = (
                delta is None
                or latest is None
                or version % _CHECKPOINT_INTERVAL == 0
            )
            if new is not None and (
                checkpoint
                or new != prior
                or not isinstance(self._carried("schema", current), dict)
            ):
                body["schema"] = new.jsonValue()
            if checkpoint:
                body["files"] = files
                # Carry properties into every checkpoint so the
                # properties() walk-back is bounded by the checkpoint
                # interval, not the log length.
                if "properties" not in body:
                    props = self.properties(version - 1) if current else {}
                    if props:
                        body["properties"] = props
            else:
                body["delta"] = delta
            payload = json.dumps(body)
            target = os.path.join(self._log_path, f"{version:08d}.json")
            # Two-phase claim: write the FULL body to a hidden temp
            # file, then claim the version with an atomic link(2).
            # Claiming with O_EXCL-create and writing afterwards would
            # expose a zero-byte manifest to concurrent readers — and a
            # crash in that window would brick the log permanently (the
            # empty .json owns the version forever). With link(), the
            # version name only ever points at a complete manifest, and
            # a crash leaves only an ignorable .tmp file.
            tmp = os.path.join(self._log_path, f".tmp-{uuid.uuid4().hex}")
            with open(tmp, "w") as f:
                f.write(payload)
                f.flush()
                os.fsync(f.fileno())
            try:
                os.link(tmp, target)
            except FileExistsError:
                continue  # another writer won this version; rebase, retry
            finally:
                os.unlink(tmp)
            return version

    # ---------------- CHECK constraints ----------------

    def add_check_constraint(self, name: str, expr: str) -> int:
        """Delta ``ALTER TABLE ... ADD CONSTRAINT name CHECK (expr)``
        parity: every subsequent data write validates the WRITTEN rows
        against ``expr`` (SQL CHECK semantics — a NULL result passes;
        only a provably-false row violates) and raises
        :class:`ConstraintViolationError` before anything commits.
        EXISTING rows must already satisfy it (Delta validates the
        whole table on ADD, transactionally) — the scan runs INSIDE the
        property commit's retry loop: if a concurrent data write wins
        the version race between our scan and our commit, the rebase
        re-scans the new snapshot before the property lands, so the
        committed constraint can never coexist with violating rows it
        never saw. Stored as a versioned table property, so time travel
        shows which constraints held when."""
        if not re.fullmatch(r"\w+", name):
            raise ValueError(f"bad constraint name: {name!r}")
        validated_at: list[int | None] = [-1]  # -1 = never scanned

        def revalidate() -> None:
            current = self.current_version()
            if current == validated_at[0]:
                return  # this snapshot's rows are already proven clean
            if current is not None:
                try:
                    existing = self.read()
                except FileNotFoundError:
                    existing = None
                if existing is not None:
                    self._check_rows(existing, {name: expr})
            validated_at[0] = current

        return self.set_properties(
            {f"check.{name}": expr}, _pre_commit=revalidate
        )

    def drop_check_constraint(self, name: str) -> int:
        return self.set_properties({f"check.{name}": None})

    def check_constraints(self) -> dict[str, str]:
        return {
            k[len("check."):]: v
            for k, v in self.properties().items()
            if k.startswith("check.")
        }

    # ---------------- generated columns ----------------

    def add_generated_column(self, col: str, expr: str) -> int:
        """Delta ``GENERATED ALWAYS AS (expr)`` parity: a write that
        OMITS ``col`` gets it computed from ``expr`` (over the batch's
        other columns); a write that SUPPLIES it is validated against
        the expression (NULL-safe equality) and refused on mismatch —
        the contract that makes derived partition columns (e.g.
        ``date(ts)``) trustworthy for partition pruning: a reader can
        translate a ``ts`` predicate to the partition column only if
        every writer kept them consistent. Stored as a versioned table
        property (``generated.<col>``)."""
        if not re.fullmatch(r"\w+", col):
            raise ValueError(f"bad column name: {col!r}")
        return self.set_properties({f"generated.{col}": expr})

    def drop_generated_column(self, col: str) -> int:
        return self.set_properties({f"generated.{col}": None})

    def generated_columns(self) -> dict[str, str]:
        return {
            k[len("generated."):]: v
            for k, v in self.properties().items()
            if k.startswith("generated.")
        }

    def _apply_generated(
        self, df: DataFrame, generated: dict[str, str] | None = None
    ) -> DataFrame:
        if generated is None:
            generated = self.generated_columns()
        for col, expr in generated.items():
            if col not in df.columns:
                df = df.withColumn(col, F.expr(expr))
            else:
                bad = df.filter(
                    ~(F.col(col).eqNullSafe(F.expr(expr)))
                ).limit(1)
                if not bad.isEmpty():
                    raise ConstraintViolationError(
                        f"generated column {col!r} does not match its "
                        f"expression {expr!r} in the written batch"
                    )
        return df

    @staticmethod
    def _check_rows(df: DataFrame, constraints: dict[str, str]) -> None:
        for name, expr in constraints.items():
            bad = df.filter(
                ~F.coalesce(F.expr(expr).cast("boolean"), F.lit(True))
            ).limit(1)
            if not bad.isEmpty():
                raise ConstraintViolationError(
                    f"CHECK constraint {name!r} violated: {expr}"
                )

    def _write_data_dir(
        self, df: DataFrame, partition_by: list[str] | None = None
    ) -> tuple[dict, StructType]:
        """Write ``df`` as a new data dir. Returns its manifest entry
        (with footer stats) and the schema a reader sees there: the
        written data columns, then the hive partition columns typed the
        way partition discovery types them (a bigint partition column
        reads back as int) — found by a driver-side listing, no job."""
        # Constraint gate: EVERY data write funnels through here, so
        # nothing unvalidated can land. Cost is one extra pass over the
        # written batch (Delta validates writes the same way); compact/
        # clone re-validate already-valid rows — wasteful but airtight.
        # One properties read serves generated columns AND constraints
        # (the walk is checkpoint-bounded, but once per write is enough).
        props = self.properties()
        generated = {
            k[len("generated."):]: v
            for k, v in props.items()
            if k.startswith("generated.")
        }
        if generated:
            df = self._apply_generated(df, generated)
        constraints = {
            k[len("check."):]: v
            for k, v in props.items()
            if k.startswith("check.")
        }
        if constraints:
            self._check_rows(df, constraints)
        spec = partition_by or []
        rel = os.path.join(_DATA_DIR, uuid.uuid4().hex)
        full = os.path.join(self.path, rel)
        writer = df.write.mode("overwrite")
        if spec:
            writer = writer.partitionBy(*spec)
        writer.parquet(full)
        data = StructType([f for f in df.schema.fields if f.name not in spec])
        st = self.spark.read.schema(data).parquet(full).schema
        missing = [f for f in df.schema.fields if f.name not in st.names]
        if missing:
            # An empty partitioned write has no partition dirs to
            # discover: keep the table's type for those columns.
            known = self._schema_at(self.current_version())
            for f in missing:
                st = st.add(known[f.name] if known and f.name in known.names else f)
        return {"path": rel, "excludes": [], "stats": self._file_stats(rel)}, st

    def _write_change_dir(self, changes: DataFrame) -> dict:
        """Write a Change Data Feed file set (rows + ``_change_type``)
        for one commit, BEFORE the manifest lands — like data dirs, a
        change dir is only visible once a manifest references it (a
        raced/crashed commit leaves an orphan that ``vacuum`` reaps).
        Change rows are O(changed rows) — micro-batch-sized, never
        table-sized, which is what makes CDF affordable at 100 TB.
        Returns the manifest keys: the dir and the schema to read it
        with."""
        rel = os.path.join(_CHANGE_DIR, uuid.uuid4().hex)
        changes.write.mode("overwrite").parquet(os.path.join(self.path, rel))
        return {"change_data": rel, "change_schema": changes.schema.jsonValue()}

    def _file_stats(self, rel_dir: str) -> dict[str, dict]:
        """Per-file column min/max/null-count from parquet footers
        (metadata only — no data pages read). Keys are paths relative
        to the table root; hive partition columns aren't in footers and
        get no entry (Catalyst prunes those at planning instead).

        Small commits (micro-batches) use a driver-side serial footer
        walk — O(new files), no job-scheduling overhead. Above
        ``_DISTRIBUTED_STATS_THRESHOLD`` files (the many-thousand-file
        backfill case) the footer reads fan out as Spark tasks (the
        Delta model: stats come out of the cluster, the driver only
        assembles the manifest) — a 100 TB backfill commit never
        serializes footer reads on the driver."""
        root = os.path.join(self.path, rel_dir)
        files = []
        for dirpath, _, names in os.walk(root):
            for name in names:
                if name.endswith(".parquet"):
                    files.append(os.path.join(dirpath, name))
        if len(files) > _DISTRIBUTED_STATS_THRESHOLD:
            return self._with_bloom_stats(self._file_stats_distributed(files))
        return self._with_bloom_stats(
            {
                os.path.relpath(full, self.path): _footer_column_stats(full)
                for full in files
            }
        )

    def _with_bloom_stats(self, stats: dict[str, dict]) -> dict[str, dict]:
        """Build per-file bloom filters for this commit when the table
        opted in via ``bloom.columns`` — one extra column-pruned pass
        over the NEW files only.

        Sizing is ADAPTIVE per file (~10 bits per row from the footer
        row count, power of two, capped at 2^23 = 1 MiB raw): a fixed
        size either saturates on big files (every bit set → zero
        pruning) or wastes space on small ones. ``bloom.bits`` pins a
        fixed size instead.

        The bitsets live in a SIDECAR json under ``_bloom/<uuid>/`` —
        one per commit, referenced from each file's stats as a tiny
        ``bloom_ref`` — so manifests stay O(files) however large the
        filters are (a 1000-file backfill with MiB-sized blooms inline
        would balloon the log). Sidecars follow the data-dir lifecycle:
        only manifest-referenced ones are live, vacuum reclaims them
        past the retention horizon, and a missing sidecar (vacuumed, or
        a shallow clone whose refs point at the source) degrades to
        no-bloom — pruning is lost, correctness is not."""
        props = self.properties()
        cols = props.get("bloom.columns") or []
        if not cols or not stats:
            return stats
        k = int(props.get("bloom.k", 7))
        m_override = props.get("bloom.bits")
        groups: dict[int, list[str]] = {}
        for rel, st in stats.items():
            if m_override is not None:
                m = int(m_override)
            else:
                rows = 0
                for cst in st.values():
                    r = cst.get("rows")
                    if r:
                        rows = max(rows, int(r))
                m = 1024
                while m < rows * 10 and m < (1 << 23):
                    m <<= 1
            groups.setdefault(m, []).append(rel)
        sidecar_files: dict[str, dict] = {}
        for m, rels in groups.items():
            blooms = self._bloom_for_dir(
                [os.path.join(self.path, r) for r in rels], cols, m, k
            )
            for rel, colblooms in blooms.items():
                sidecar_files.setdefault(rel, {}).update(colblooms)
        if not sidecar_files:
            return stats
        rel_dir = os.path.join(_BLOOM_DIR, uuid.uuid4().hex)
        os.makedirs(os.path.join(self.path, rel_dir), exist_ok=True)
        sc_rel = os.path.join(rel_dir, "bloom.json")
        with open(os.path.join(self.path, sc_rel), "w") as f:
            json.dump({"files": sidecar_files}, f)
        for rel, colblooms in sidecar_files.items():
            st = stats.get(rel)
            if st is None:
                continue
            for c, b in colblooms.items():
                st.setdefault(c, {})["bloom_ref"] = {
                    "path": sc_rel,
                    "m": b["m"],
                    "k": b["k"],
                    "t": b["t"],
                }
        return stats

    def _load_bloom_sidecar(self, rel: str) -> dict | None:
        cache = getattr(self, "_bloom_cache", None)
        if cache is None:
            cache = self._bloom_cache = {}
        if rel not in cache:
            try:
                with open(os.path.join(self.path, rel)) as f:
                    cache[rel] = json.load(f)
            except (OSError, ValueError):
                # vacuumed / clone-source sidecar: degrade to no-bloom
                cache[rel] = None
        return cache[rel]

    def _stats_with_blooms(self, stats: dict[str, dict], preds) -> dict:
        """Overlay sidecar bloom bitsets onto a stats dict for the
        predicate columns that can use them (equality / IN). Lazy: only
        referenced sidecars load, once per table instance."""
        cols = {c for c, op, _ in preds if op in ("=", "in")}
        if not cols:
            return stats
        out = None
        for fpath, st in stats.items():
            overlay = None
            for c in cols:
                cst = st.get(c)
                ref = cst.get("bloom_ref") if cst else None
                if not ref:
                    continue
                sc = self._load_bloom_sidecar(ref["path"])
                b = (sc or {}).get("files", {}).get(fpath, {}).get(c)
                if not b:
                    continue
                if overlay is None:
                    overlay = {k2: dict(v2) for k2, v2 in st.items()}
                overlay[c]["bloom"] = b
            if overlay is not None:
                if out is None:
                    out = dict(stats)
                out[fpath] = overlay
        return out if out is not None else stats

    def _file_stats_distributed(self, files: list[str]) -> dict[str, dict]:
        """Stats via one Spark job: footer reads of ``files`` fan out
        across the cluster. Only (path, stats) pairs reach the driver."""
        table_path = self.path
        pairs = (
            self.spark.sparkContext.parallelize(files, min(len(files), 64))
            .map(
                lambda full: (
                    os.path.relpath(full, table_path),
                    _footer_column_stats(full),
                )
            )
            .collect()
        )
        return dict(pairs)

    # ---------------- read ----------------

    def _prunable_preds(self, preds):
        """The subset of predicates safe for footer-stat pruning.
        Footer stats are normalized to naive-UTC strings, but Spark's
        residual filter interprets a NAIVE datetime literal in the
        SESSION timezone — under a non-UTC session the two compare
        different instants and pruning could drop files holding
        matching rows. Such predicates stay residual-only (correctness
        over optimization); tz-AWARE literals and date-vs-date
        comparisons are unambiguous and always prune."""
        try:
            tz = self.spark.conf.get("spark.sql.session.timeZone")
        except Exception:
            tz = None
        if tz in ("UTC", "Etc/UTC", "GMT", "+00:00"):
            return preds

        def naive(v) -> bool:
            if isinstance(v, datetime.datetime):
                return v.tzinfo is None
            if isinstance(v, (list, tuple, set)):  # IN-list elements
                return any(naive(x) for x in v)
            return False

        return [p for p in preds if not naive(p[2])]

    def read(self, version: int | None = None, where=None) -> DataFrame:
        """Read a snapshot. ``where`` — a ``(col, op, literal)`` tuple or
        list of such (ANDed), ops ``= < <= > >=`` — both *prunes* data
        files whose footer min/max proves no match (the scan never sees
        them) and applies the predicate as a residual filter, so the
        result is always exactly ``read().filter(...)``. This is the
        manifest-stats data-skipping path: at 100 TB a point lookup or
        narrow range touches the few files that can hold it."""
        v = version if version is not None else self.current_version()
        if v is None:
            raise FileNotFoundError(f"table has no commits: {self.path}")
        st = self.schema(v)
        preds = _normalize_where(where) if where is not None else []
        # Per-dir reads with the RECORDED schema (no inference job),
        # unioned: each data dir is its own partition-discovery root (a
        # single multi-root read rejects hive-partitioned dirs). A
        # column a dir lacks reads as NULL, and a zero-file dir (an
        # empty partitioned rewrite) as 0 typed rows. The select puts
        # the columns in table order — an explicit-schema reader puts
        # hive partition columns last. compact() collapses the union
        # when the dir list grows.
        #
        # ``excludes`` are predicates from partition-scoped merges: rows
        # matching any exclude were superseded by a newer dir. When the
        # predicate is on the hive partition column, Catalyst turns the
        # NOT-filter into PartitionFilters — superseded directories are
        # pruned at planning, not scanned-and-dropped.
        prune_preds = self._prunable_preds(preds) if preds else []
        dfs = []
        for e in self._snapshot_files(v):
            base = os.path.join(self.path, e["path"])
            reader = self.spark.read.schema(st)
            if prune_preds and e["stats"]:
                sview = self._stats_with_blooms(e["stats"], prune_preds)
                keep = [
                    f
                    for f, fst in sview.items()
                    if not any(
                        _file_prunable(fst, c, op, val)
                        for c, op, val in prune_preds
                    )
                ]
                if not keep:
                    continue  # whole dir proven out of range
                if len(keep) < len(e["stats"]):
                    d = reader.option("basePath", base).parquet(
                        *[os.path.join(self.path, f) for f in keep]
                    )
                else:
                    d = reader.parquet(base)
            else:
                d = reader.parquet(base)
            for pred in e["excludes"]:
                d = d.filter(~F.coalesce(F.expr(pred), F.lit(False)))
            dfs.append(d.select(*st.names))
        out = functools.reduce(DataFrame.union, dfs) if dfs else self._empty(st)
        for c, op, val in preds:
            out = out.filter(_OPS[op](F.col(c), val))
        return out

    def version_as_of(self, ts: float) -> int:
        """Newest version committed at or before unix-epoch ``ts`` —
        Iceberg/Delta ``TIMESTAMP AS OF`` time travel (the reference's
        tables are Iceberg; snapshot-as-of is part of its surface)."""
        v = self.current_version()
        if v is None:
            raise FileNotFoundError(f"table has no commits: {self.path}")
        best = None
        for ver in range(1, v + 1):
            m = self._manifest(ver)
            if m.get("ts") is not None and m["ts"] <= ts:
                best = ver
        if best is None:
            raise ValueError(f"no snapshot at or before ts={ts}: {self.path}")
        return best

    def read_as_of(self, ts: float, where=None) -> DataFrame:
        """``SELECT ... TIMESTAMP AS OF`` — read the snapshot current at
        ``ts``."""
        return self.read(version=self.version_as_of(ts), where=where)

    def read_changes(
        self, start_version: int, end_version: int | None = None
    ) -> DataFrame:
        """Change Data Feed: row-level changes committed in versions
        ``[start_version, end_version]`` (inclusive; default = current)
        — Delta's ``table_changes`` surface, the read side of a CDC
        lakehouse. Output = table columns + ``_change_type``
        (``insert`` / ``update_preimage`` / ``update_postimage`` /
        ``delete``) + ``_commit_version`` + ``_commit_timestamp``.

        Per-commit sourcing (the Delta model):

        - ``merge`` / ``delete`` / ``update`` run with
          ``write_change_data=True`` recorded explicit change files at
          commit time — read directly, O(changed rows). Without the
          flag those commits RAISE (Delta's "change data was not
          recorded" error) rather than guessing.
        - ``append`` needs no change files: the added data dirs ARE the
          inserts (diff of the file sets at v and v-1).
        - ``truncate`` → every row of v-1 as ``delete`` (time travel
          supplies the preimage — no extra storage).
        - ``overwrite`` → v-1 as ``delete`` + v as ``insert`` (a full
          atomic replace is exactly that).
        - ``compact`` rewrites files without changing rows
          (dataChange=false) → contributes nothing.

        ``vacuum`` reclaims change files alongside data files once the
        version falls off the retention horizon — a feed consumer must
        keep up, same contract as Delta CDF."""
        v_latest = self.current_version()
        if v_latest is None:
            raise FileNotFoundError(f"table has no commits: {self.path}")
        end = end_version if end_version is not None else v_latest
        if not (1 <= start_version <= end <= v_latest):
            raise ValueError(
                f"bad change range [{start_version}, {end}] for table at "
                f"v{v_latest}"
            )
        parts: list[DataFrame] = []

        def stamp(df: DataFrame, v: int, ts: float | None) -> DataFrame:
            return df.withColumn(
                COMMIT_VERSION_COL, F.lit(v).cast("long")
            ).withColumn(
                COMMIT_TS_COL,
                F.lit(float(ts)).cast("timestamp") if ts is not None
                else F.lit(None).cast("timestamp"),
            )

        for v in range(start_version, end + 1):
            m = self._manifest(v)
            op = m.get("op")
            ts = m.get("ts")
            if m.get("change_data"):
                cs = m.get("change_schema")
                df = (
                    self.spark.read.schema(StructType.fromJson(cs)).parquet(
                        os.path.join(self.path, m["change_data"])
                    )
                    if cs
                    else self._infer_read(m["change_data"])  # legacy log
                )
                parts.append(stamp(df, v, ts))
            elif op == "append":
                prev = (
                    {e["path"] for e in self._snapshot_files(v - 1)}
                    if v > 1
                    else set()
                )
                st = self.schema(v)
                for e in self._snapshot_files(v):
                    if e["path"] in prev:
                        continue
                    df = (
                        self.spark.read.schema(st)
                        .parquet(os.path.join(self.path, e["path"]))
                        .select(*st.names)
                        .withColumn(CHANGE_TYPE_COL, F.lit("insert"))
                    )
                    parts.append(stamp(df, v, ts))
            elif op in ("truncate", "overwrite", "clone", "restore"):
                # v-1 as deletes (time travel supplies the preimage — no
                # extra storage), then a replace's new snapshot as
                # inserts. Delta computes restore CDF as the diff vs the
                # prior head; this is the same shape as overwrite
                # (consumers dedup by key downstream).
                if v > 1 and self._schema_at(v - 1) is not None:
                    prior = self.read(version=v - 1)
                    parts.append(
                        stamp(prior.withColumn(CHANGE_TYPE_COL, F.lit("delete")), v, ts)
                    )
                if op != "truncate":
                    post = self.read(version=v)
                    parts.append(
                        stamp(post.withColumn(CHANGE_TYPE_COL, F.lit("insert")), v, ts)
                    )
            elif op in ("compact", "vacuum", "setproperties"):
                continue  # file layout / metadata changed, rows did not
            else:
                raise ValueError(
                    f"commit v{v} ({op}) did not record change data; "
                    f"re-run the writer with write_change_data=True to "
                    f"get CDF for this operation"
                )
        if not parts:
            # nothing row-changing in range: empty frame, CDF schema
            empty = self._empty(self.schema(end))
            return stamp(empty.withColumn(CHANGE_TYPE_COL, F.lit("")), end, None)
        out = parts[0]
        for d in parts[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        return out

    def column_minmax_from_stats(
        self, col: str, version: int | None = None
    ) -> tuple | None:
        """Metadata-only ``(min, max, exact)`` for a top-level column,
        answered from the manifest's per-file footer stats — no data
        pages read, no Spark job (the Delta/Iceberg "stats-only query"
        pattern; values come back in the stats' JSON encoding:
        numbers as numbers, timestamps as UTC-naive ISO strings).

        Returns ``None`` when any live file lacks usable stats for
        ``col`` (stats-less legacy entry, un-stat-able physical type) —
        unknown, caller must scan. ``exact`` is False when (a) any
        contributing entry carries row EXCLUDES (MoR deletes,
        partition-scoped merge rewrites): excluded rows still count in
        footer stats, so the range is then only an OUTER envelope of
        the live rows; or (b) the column is string/binary
        (BYTE_ARRAY): parquet writers may TRUNCATE such stats (min
        rounded down, max up — a sound outer envelope, not exact
        extrema) and expose no exactness flag, so a string column never
        earns ``exact`` even on overwrite-only tables. Callers using
        the value as a correctness lever (e.g. the ``run_scd2_stream``
        replay high-watermark) must require ``exact`` and fall back to
        an aggregate scan otherwise; overwrite/append-only tables get
        the exact fast path for numeric/temporal columns.
        All-null files contribute nothing; a nonempty table whose
        every live file is all-null for ``col`` returns
        ``(None, None, exact)``."""
        v = self.current_version() if version is None else version
        lo = hi = None
        exact = True
        for e in self._snapshot(v)["files"]:
            stats = e["stats"]
            if not stats:
                if _dir_has_parquet(os.path.join(self.path, e["path"])):
                    return None  # data with no recorded stats
                continue  # physically empty commit dir
            if e["excludes"]:
                exact = False
            for st in stats.values():
                if not st:
                    continue  # zero-row part file: no row groups at all
                s = st.get(col)
                if s is None:
                    return None  # stats exist but not for col: unknown
                if s.get("trunc"):
                    exact = False  # BYTE_ARRAY stats: possibly truncated
                elif "trunc" not in s and isinstance(s.get("min"), str):
                    # legacy manifest (pre-flag): a string-encoded stat
                    # might be a truncated BYTE_ARRAY value — the
                    # unsound exact=True this flag exists to prevent
                    # must not survive for old tables
                    exact = False
                if s.get("rows") == 0:
                    continue
                if s.get("min") is None or s.get("max") is None:
                    if (
                        s.get("nulls") is not None
                        and s["nulls"] == s.get("rows")
                    ):
                        continue  # all-null file: no range to contribute
                    return None  # unknown range (un-stat-able type)
                lo = s["min"] if lo is None else min(lo, s["min"])
                hi = s["max"] if hi is None else max(hi, s["max"])
        return (lo, hi, exact)

    def fsck(self, version: int | None = None) -> dict:
        """Manifest↔disk consistency report (Delta ``FSCK REPAIR
        TABLE``'s detection half): ``missing_dirs`` — data dirs the
        snapshot references that are gone from disk (a vacuumed-or-lost
        dir makes reads fail); ``missing_stat_files`` — stat-tracked
        files absent inside a present dir; ``orphan_dirs`` — on-disk
        data/change dirs no RETAINED version references (vacuum's
        candidates; also what a crashed writer leaves). Driver-side
        metadata walk, no Spark job; read-only (repair = ``vacuum`` for
        orphans; a missing referenced dir needs a ``restore`` to a
        version that predates the loss)."""
        v = version if version is not None else self.current_version()
        if v is None:
            raise FileNotFoundError(f"table has no commits: {self.path}")
        entries = self._snapshot_files(v)
        missing_dirs = []
        missing_stat_files = []
        for e in entries:
            d = os.path.join(self.path, e["path"])
            if not os.path.isdir(d):
                missing_dirs.append(e["path"])
                continue
            for f in e["stats"]:
                if not os.path.isfile(os.path.join(self.path, f)):
                    missing_stat_files.append(f)
        return {
            "version": v,
            "missing_dirs": sorted(missing_dirs),
            "missing_stat_files": sorted(missing_stat_files),
            "orphan_dirs": sorted(
                self._unreferenced_dirs(range(1, v + 1), strict=False)
            ),
            "ok": not missing_dirs and not missing_stat_files,
        }

    def detail(self) -> dict:
        """One-row table summary — Delta ``DESCRIBE DETAIL`` parity:
        location, current version, partition spec, data-dir/file
        counts, total data bytes, and how many entries carry
        merge-on-read exclusion predicates (the "needs compaction"
        signal). Driver-side metadata walk, O(files) stat calls, no
        Spark job."""
        v = self.current_version()
        if v is None:
            raise FileNotFoundError(f"table has no commits: {self.path}")
        snap = self._snapshot(v)
        n_files = 0
        size = 0
        n_excluded = 0
        for e in snap["files"]:
            n_files += len(e["stats"])
            if e["excludes"]:
                n_excluded += 1
            for f in e["stats"]:
                full = f if os.path.isabs(f) else os.path.join(self.path, f)
                try:
                    size += os.path.getsize(full)
                except OSError:
                    pass
        return {
            "location": self.path,
            "version": v,
            "partition_by": snap.get("partition_by", []),
            "n_data_dirs": len(snap["files"]),
            "n_files": n_files,
            "size_bytes": size,
            "n_dirs_with_excludes": n_excluded,
            "has_change_data": bool(self._manifest(v).get("change_data")),
            "properties": self.properties(v),
        }

    def clone_to(self, dest_path: str) -> "LakeTable":
        """Zero-copy SHALLOW CLONE (Delta ``CREATE TABLE ... SHALLOW
        CLONE`` parity): commit a v1 manifest at ``dest_path`` whose
        entries point at THIS table's current data files — no data is
        read or copied, the clone costs one manifest write at any table
        size. The clone then evolves independently: its own appends/
        merges/deletes write under its own root, and ``compact()``
        materializes it into a full copy.

        Source entry paths (and their stats keys) are rewritten to
        absolute form so the clone's reads resolve them; the clone's
        ``vacuum`` only walks its OWN data root, so it can never delete
        source files. The one shared hazard is Delta's too: vacuuming
        the SOURCE past the cloned snapshot removes files the clone
        still references — materialize (``compact``) before retiring
        the source."""
        v = self.current_version()
        if v is None:
            raise FileNotFoundError(f"table has no commits: {self.path}")
        snap = self._snapshot(v)
        src_root = os.path.abspath(self.path)

        def absolutize(p: str) -> str:
            return p if os.path.isabs(p) else os.path.join(src_root, p)

        entries = [
            {
                "path": absolutize(e["path"]),
                "excludes": list(e["excludes"]),
                "stats": {
                    absolutize(k): st for k, st in e["stats"].items()
                },
            }
            for e in snap["files"]
        ]
        clone = LakeTable(self.spark, dest_path)
        if clone.current_version() is not None:
            raise ValueError(
                f"clone target already has commits: {dest_path}"
            )

        def build(latest: dict | None) -> list[dict]:
            if latest is not None:
                raise ConcurrentWriteError(
                    f"clone target raced another writer: {dest_path}"
                )
            return entries

        clone._commit(
            build, "clone", snap.get("partition_by", []), schema=self._schema_at(v)
        )
        return clone

    def history(self) -> list[dict]:
        """Commit log, newest first: version, op, commit ts, file count,
        partition spec — the DESCRIBE HISTORY surface. One ASCENDING
        pass folds each delta onto the running file count (O(versions)
        manifest reads total), instead of replaying the checkpoint
        chain per version (O(versions × interval))."""
        v = self.current_version()
        out = []
        n_dirs = 0
        for ver in range(1, (v or 0) + 1):
            m = self._manifest(ver)
            if "files" in m:
                n_dirs = len(m["files"])
            else:
                d = m["delta"]
                if d.get("truncate"):
                    n_dirs = 0
                n_dirs += len(d.get("add", []))  # exclude_all keeps dirs
            out.append(
                {
                    "version": ver,
                    "op": m.get("op"),
                    "ts": m.get("ts"),
                    "n_data_dirs": n_dirs,
                    "partition_by": m.get("partition_by", []),
                }
            )
        out.reverse()
        return out

    def scan_files(self, where=None, version: int | None = None) -> tuple[int, int]:
        """(files_total, files_read) for a prospective ``read(where=
        ...)`` — the observable data-skipping effect, for tests and
        ops introspection (Delta's ``files_scanned`` metric)."""
        v = version if version is not None else self.current_version()
        if v is None:
            return (0, 0)
        preds = self._prunable_preds(
            _normalize_where(where) if where is not None else []
        )
        total = read = 0
        for e in self._snapshot_files(v):
            n = len(e["stats"])
            total += n
            sview = self._stats_with_blooms(e["stats"], preds)
            read += sum(
                1
                for st in sview.values()
                if not any(_file_prunable(st, c, op, v2) for c, op, v2 in preds)
            )
        return (total, read)

    # ---------------- write ----------------

    def append(self, df: DataFrame, merge_schema: bool = False) -> int:
        """Append a data dir. With ``merge_schema``, columns missing from
        the incoming batch are null-filled and new columns are admitted
        (parquet schema merging on read reconciles old files) — the
        additive schema-evolution mode Delta calls ``mergeSchema``.
        Without it, a batch carrying columns the table lacks is
        REJECTED (Delta's behavior): otherwise the read path's
        unionByName silently evolves the schema, and a CDC batch still
        carrying its pipeline ``op`` column would leak it into the
        table. Appends inherit the table's partitioning spec."""
        v = self.current_version()
        spec = self._manifest(v).get("partition_by", []) if v is not None else []
        # None until a data commit (a properties-only commit on a fresh
        # table defines no schema): the first data batch defines it
        existing = self._schema_at(v)
        if existing is not None:
            if merge_schema:
                incoming = set(df.columns)
                for f in existing.fields:
                    if f.name not in incoming:
                        df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
            else:
                extra = set(df.columns) - {f.name for f in existing.fields}
                if extra:
                    raise ValueError(
                        f"append batch has columns the table lacks: "
                        f"{sorted(extra)}; pass merge_schema=True to evolve "
                        f"the schema"
                    )
        new_entry, st = self._write_data_dir(df, spec)
        return self._commit(
            lambda latest: ([_entry(e) for e in latest["files"]] if latest else [])
            + [new_entry],
            "append",
            spec,
            delta={"add": [new_entry]},
            schema=st,
        )

    def overwrite(self, df: DataFrame, partition_by: list[str] | None = None) -> int:
        """Atomic full replace; ``partition_by`` lays the data out
        hive-style so filters on the partition column prune directories
        at scan planning (PartitionFilters) — the core scan-avoidance
        lever at 100 TB. Spec persists in the manifest and is inherited
        by appends."""
        v = self.current_version()
        spec = (
            partition_by
            if partition_by is not None
            else (self._manifest(v).get("partition_by", []) if v is not None else [])
        )
        entry, st = self._write_data_dir(df, spec)
        # delta=None: an overwrite's full list is one entry, so every
        # overwrite is a (free) checkpoint that resets the replay chain.
        return self._commit(lambda latest: [entry], "overwrite", spec, schema=st)

    def truncate(self) -> int:
        """``TRUNCATE TABLE``: commit an empty snapshot WITHOUT touching
        data files — prior versions stay time-travelable until
        ``vacuum`` reclaims them (the Delta TRUNCATE contract). Stored
        as an O(1) ``truncate`` action in the commit log (the delta
        replay resets the file list and applies the tail). The schema
        carries over in the log, so the truncated table stays READABLE
        (empty DataFrame, full schema) and every DML op — INSERT/append,
        MERGE, DELETE, UPDATE — keeps working on it, exactly as Delta's
        TRUNCATE leaves a queryable 0-row table."""
        v = self.current_version()
        spec = self._manifest(v).get("partition_by", []) if v is not None else []
        return self._commit(
            lambda latest: [], "truncate", spec, delta={"truncate": True}
        )

    def compact(
        self,
        target_partitions: int = 8,
        cluster_by: list[str] | None = None,
        zorder: bool = False,
        partition_filter: str | None = None,
    ) -> int:
        """Rewrite the current snapshot into few large files (the
        OPTIMIZE/bin-packing maintenance op — many appends produce many
        small files, which at scale throttles scan throughput via
        per-file open cost and tiny row groups).

        ``cluster_by`` range-partitions + sorts the rewrite on those
        columns: each output file covers a narrow disjoint value range,
        so the footer min/max stats make ``read(where=)`` prune all but
        the few files that can hold the predicate. Lexicographic
        multi-column clustering only skips on the LEADING column;
        ``zorder=True`` with ≥2 numeric columns instead clusters on the
        interleaved quantile-rank bits (Delta ``OPTIMIZE ZORDER``):
        every output file covers a small hyper-rectangle, so predicates
        on EACH clustered column prune — the multi-dimensional
        data-skipping lever at 100 TB.

        ``partition_filter`` scopes the rewrite (Delta ``OPTIMIZE t
        WHERE ...``): only the matching slice is read and rewritten,
        prior dirs stay with the predicate excluded — at 100 TB you
        optimize the partitions a streaming merge just fragmented, not
        the whole table; disjoint-slice OPTIMIZEs land concurrently
        under the partition-level conflict rules."""
        base_v = self.current_version()
        full = self.read(version=base_v)
        df = (
            full.filter(F.expr(partition_filter))
            if partition_filter is not None
            else full
        )
        if cluster_by and zorder and len(cluster_by) > 1:
            z = self._zorder_key(df, cluster_by)
            df = (
                df.withColumn("_zorder", z)
                .repartitionByRange(target_partitions, "_zorder")
                .sortWithinPartitions("_zorder")
                .drop("_zorder")
            )
        elif cluster_by:
            df = df.repartitionByRange(
                target_partitions, *cluster_by
            ).sortWithinPartitions(*cluster_by)
        else:
            df = df.coalesce(target_partitions)
        # Checked commit: OPTIMIZE must never throw away a concurrent
        # append's rows (read-modify-write, not an atomic replace).
        return self._commit_rewrite(df, base_v, "compact", partition_filter)

    def _zorder_key(self, df: DataFrame, cols: list[str], bits: int = 6) -> Column:
        """Morton (Z-curve) key: per-column quantile rank (2^bits bins
        from one distributed ``approxQuantile`` pass — the driver holds
        only the boundary list, Delta's range-id model) with the rank
        bits interleaved across columns. Rank lookup is a codegen'd
        fold over the literal boundary array; no shuffle beyond the
        final range partition."""
        n_bins = 1 << bits
        # One distributed pass for ALL clustered columns (approxQuantile
        # accepts a column list) — not one job per column.
        all_qs = df.stat.approxQuantile(
            cols, [i / n_bins for i in range(1, n_bins)], 0.001
        )
        ranks = []
        for c, qs in zip(cols, all_qs):
            bounds = sorted(set(qs))
            ranks.append(
                F.aggregate(
                    F.array(*[F.lit(float(b)) for b in bounds]),
                    F.lit(0),
                    lambda acc, b: acc
                    + F.when(F.col(c).cast("double") >= b, 1).otherwise(0),
                )
            )
        z = F.lit(0).cast("long")
        for i in range(bits):
            for j, r in enumerate(ranks):
                z = z + (F.shiftright(r, i) % 2).cast("long") * F.lit(
                    1 << (i * len(cols) + j)
                )
        return z

    def restore(self, version: int) -> int:
        """Delta ``RESTORE TABLE ... VERSION AS OF`` parity: commit a
        NEW version whose file set equals the old snapshot's — zero
        data movement (entries are re-referenced, like shallow clone),
        full history preserved (the restore itself is a commit; the
        versions in between stay time-travelable). Once the restore is
        the head, vacuum's retention window protects the re-referenced
        dirs again. Restoring past a vacuum horizon raises — the old
        snapshot's data dirs are gone, and a restore that commits
        dangling references would corrupt the table."""
        cur = self.current_version()
        if cur is None:
            raise FileNotFoundError(f"table has no commits: {self.path}")
        if not (1 <= version <= cur):
            raise ValueError(f"cannot restore to v{version} (head is v{cur})")
        entries = [_entry(e) for e in self._snapshot_files(version)]
        missing = [
            e["path"]
            for e in entries
            if not os.path.isdir(os.path.join(self.path, e["path"]))
        ]
        if missing:
            raise FileNotFoundError(
                f"cannot restore to v{version}: data dirs vacuumed: {missing}"
            )
        spec = self._manifest(version).get("partition_by", [])
        return self._commit(
            lambda latest: [_entry(e) for e in entries],
            "restore",
            spec,
            extra={"restored_from": version},
            schema=self._schema_at(version),
        )

    def vacuum(
        self, retain_last: int = 1, min_age_seconds: float = 3600.0
    ) -> list[str]:
        """Delete data dirs unreferenced by the ``retain_last`` newest
        snapshots (older snapshots become unreadable — same contract as
        Delta VACUUM breaking time travel past the horizon).

        ``min_age_seconds`` protects IN-FLIGHT writers: a concurrent
        append/merge writes its data dir BEFORE committing the manifest
        that references it, so an unreferenced-but-recent dir may belong
        to a commit that hasn't landed yet. Dirs younger than the window
        are skipped — the same wall-clock retention guard Delta VACUUM
        applies (its default is 7 days); pass 0 only when no writer can
        be concurrent (tests, single-writer maintenance windows)."""
        import shutil

        v = self.current_version()
        if v is None:
            return []
        keep_versions = range(max(1, v - retain_last + 1), v + 1)
        removed = []
        now = time.time()
        for rel in self._unreferenced_dirs(keep_versions, strict=True):
            full = os.path.join(self.path, rel)
            try:
                age = now - os.path.getmtime(full)
            except OSError:
                continue
            if age < min_age_seconds:
                continue  # possibly an in-flight writer's uncommitted dir
            shutil.rmtree(full, ignore_errors=True)
            removed.append(rel)
        return removed

    def _unreferenced_dirs(self, versions: range, strict: bool) -> list[str]:
        """On-disk data, change-data and bloom-sidecar dirs that no
        snapshot in ``versions`` references: ``vacuum``'s candidates,
        ``fsck``'s orphans (also what a raced or crashed writer
        leaves). Change dirs follow the same horizon as data dirs (the
        feed of a retained version stays readable), and a sidecar dir
        is live while a retained version's stats reference it.

        A version whose snapshot cannot be resolved (a corrupt log
        chain) raises under ``strict`` — vacuum must not treat it as
        empty and delete the dirs it still holds — and otherwise
        contributes only its change dir (fsck reports what it can)."""
        refs: dict[str, set[str]] = {
            _DATA_DIR: set(),
            _CHANGE_DIR: set(),
            _BLOOM_DIR: set(),
        }
        for kv in versions:
            try:
                entries = self._snapshot_files(kv)
            except RuntimeError:
                if strict:
                    raise
                entries = []
            for e in entries:
                refs[_DATA_DIR].add(e["path"])
                for st in e["stats"].values():
                    for cst in st.values():
                        ref = cst.get("bloom_ref") if isinstance(cst, dict) else None
                        if ref:
                            refs[_BLOOM_DIR].add(os.path.dirname(ref["path"]))
            cd = self._manifest(kv).get("change_data")
            if cd:
                refs[_CHANGE_DIR].add(cd)
        out = []
        for root_dir, ref in refs.items():
            abs_root = os.path.join(self.path, root_dir)
            for d in os.listdir(abs_root) if os.path.isdir(abs_root) else []:
                rel = os.path.join(root_dir, d)
                if rel not in ref:
                    out.append(rel)
        return out

    # ---------------- delete / update ----------------

    def delete_where(
        self,
        predicate: str | Column,
        partition_filter: str | None = None,
        return_count: bool = False,
        write_change_data: bool = False,
        mode: str | None = None,
    ) -> int | tuple[int, int]:
        """``DELETE FROM t WHERE predicate`` — the privacy lakehouse's
        right-to-be-forgotten primitive. NULL
        predicate rows are KEPT (SQL DELETE only removes rows where the
        predicate is true). Prefer a typed ``Column`` predicate (e.g.
        ``delete_where(F.col("user_key") == key)``) when the value is
        runtime data — a string predicate built by interpolation is an
        injection surface on a GDPR path. ``partition_filter`` scopes
        the rewrite to the partitions that can contain matches —
        everything else stays committed untouched (Delta's deletion
        strategy; at 100 TB you rewrite the user's partitions, not the
        table).

        ``mode`` (Iceberg's two delete strategies):

        - ``"copy_on_write"`` (default): matching files are rewritten
          without the rows. Read-optimal; the GDPR path (bytes are
          actually gone once ``vacuum`` reclaims old versions).
        - ``"merge_on_read"``: an O(1) metadata-only commit records the
          predicate as an exclusion on every current file entry —
          readers filter it out (the same mechanism partition-scoped
          merges already use; Iceberg equality-deletes / Delta deletion
          vectors). No data is read OR written at delete time — at
          100 TB a predicate delete costs one manifest write.
          ``compact()`` later materializes the delete and drops the
          predicate. Requires a STRING predicate (it is stored in the
          manifest); pair with ``compact()+vacuum()`` when physical
          erasure matters.

        ``return_count=True`` returns ``(version, n_deleted)``; under
        copy-on-write the count piggybacks on the rewrite via the
        Observation API (zero extra scans); under merge-on-read it
        costs the one scan the mode otherwise avoids (count-only — the
        scan projects nothing).

        The table property ``write.delete.mode`` (Iceberg's name;
        ``copy-on-write``/``merge-on-read``, hyphens or underscores)
        sets the default when ``mode`` is not passed explicitly. A
        property-selected merge-on-read gracefully falls back to
        copy-on-write for a typed ``Column`` predicate (the manifest
        can only store SQL text; semantics are identical — the property
        is a performance policy, not a semantics switch).
        """
        return self._rewrite_where(
            "delete", predicate, None, partition_filter, write_change_data,
            mode, return_count,
        )

    def set_partitioning(self, partition_by: list[str]) -> int:
        """Iceberg-style PARTITION EVOLUTION: change the partition spec
        for FUTURE writes with an O(1) metadata-only commit. Existing
        data dirs keep their old hive layout — the read path unions
        per-dir discovery roots, so mixed specs coexist transparently
        (each dir prunes under its own layout); ``compact()`` rewrites
        everything under the current spec when physical unification
        matters. Iceberg semantics exactly: evolution never rewrites
        data, it only changes how new data lands. Columns must exist in
        the current schema."""
        v = self.current_version()
        if v is None:
            raise FileNotFoundError(f"table has no commits: {self.path}")
        unknown = set(partition_by) - set(self.schema(v).names)
        if unknown:
            raise ValueError(
                f"partition columns not in table: {sorted(unknown)}"
            )

        def build(latest: dict | None) -> list[dict]:
            return [_entry(e) for e in latest["files"]] if latest else []

        return self._commit(
            build, "setpartitioning", list(partition_by), delta={"add": []}
        )

    def _row_level_mode(
        self, op: str, mode: str | None, predicate: str | Column
    ) -> str:
        """Resolve the row-level write strategy: explicit ``mode`` arg >
        table property ``write.<op>.mode`` (Iceberg's property names,
        hyphen or underscore values) > ``copy_on_write``. A
        PROPERTY-selected merge_on_read silently falls back to
        copy_on_write when the predicate is a typed Column (the
        manifest can only store SQL text; the property is a performance
        policy with identical semantics) — an EXPLICIT
        ``mode="merge_on_read"`` still fails loudly on a Column
        predicate so callers who demanded O(1) commits notice."""
        explicit = mode is not None
        if mode is None:
            mode = str(
                self.properties().get(f"write.{op}.mode", "copy_on_write")
            )
        mode = mode.replace("-", "_")
        if (
            mode == "merge_on_read"
            and not explicit
            and not isinstance(predicate, str)
        ):
            return "copy_on_write"
        return mode

    def update_where(
        self,
        predicate: str | Column,
        set_values: dict[str, Column],
        partition_filter: str | None = None,
        write_change_data: bool = False,
        mode: str | None = None,
    ) -> int:
        """``UPDATE t SET col = expr WHERE predicate``.
        NULL predicate rows are untouched (SQL semantics). Accepts a
        typed ``Column`` predicate for runtime values (see
        :meth:`delete_where`). Combined with ``partition_filter`` the
        rewrite is partition-scoped.

        ``mode`` (the two Iceberg row-level strategies, completing the
        write-amplification story delete_where already has):

        - ``"copy_on_write"`` (default): matching files are rewritten
          with the SET applied. Read-optimal.
        - ``"merge_on_read"``: ONE commit records the predicate as an
          exclusion on every current file entry (the MoR-delete
          mechanism) AND adds a new data dir holding only the matching
          rows with their SET applied — Iceberg's equality-delete +
          insert pair in a single snapshot. Write cost is O(changed
          rows) (the scan of matches prunes via data skipping), not
          O(files containing matches); read amplification is one
          residual filter per prior file, same as MoR delete.
          ``compact()`` materializes both halves. Requires a STRING
          predicate (stored in the manifest).

        The table property ``write.update.mode`` (Iceberg's name) sets
        the default when ``mode`` is not passed; see
        :meth:`delete_where` for the property semantics and the typed-
        predicate fallback."""
        return self._rewrite_where(
            "update", predicate, set_values, partition_filter,
            write_change_data, mode, False,
        )

    def _rewrite_where(
        self,
        op: str,
        predicate: str | Column,
        set_values: dict[str, Column] | None,
        partition_filter: str | None,
        write_change_data: bool,
        mode: str | None,
        return_count: bool,
    ) -> int | tuple[int, int]:
        """The row-level write behind :meth:`delete_where` (``op`` =
        ``"delete"``, no ``set_values``) and :meth:`update_where`.

        Copy-on-write rewrites the ``partition_filter`` slice (or the
        whole table) with the matches dropped or SET, and commits it
        through the checked :meth:`_commit_rewrite`.

        Merge-on-read commits the predicate (ANDed with
        ``partition_filter``) as an exclusion on every prior entry and,
        for an update, one new data dir of the rewritten matches — in a
        single commit. Delta replay applies ``exclude_all`` BEFORE
        ``add``, so the new rows are never masked by their own
        predicate (SET may leave it true: ``SET v = v + 1 WHERE v >
        5``). A concurrent append between our snapshot and the commit
        is ALSO excluded by the rebased build — the correct
        serialization (the append landed first, the predicate write
        second, covering it), so no conflict is raised."""
        mode = self._row_level_mode(op, mode, predicate)
        if mode not in ("copy_on_write", "merge_on_read"):
            raise ValueError(f"unknown {op} mode: {mode!r}")
        mor = mode == "merge_on_read"
        if mor and not isinstance(predicate, str):
            raise ValueError(
                f"merge_on_read {op.upper()} stores the predicate in the "
                "manifest and requires SQL text; use mode='copy_on_write' "
                "for a typed Column predicate"
            )
        base_v = self.current_version()
        base = self.read(version=base_v)  # raises if the table has no commits
        cols = base.columns
        unknown = set(set_values or {}) - set(cols)
        if unknown:
            # SQL/Delta UPDATE raises for an unknown SET column; silently
            # dropping the assignment would be a no-op that LOOKS like a
            # successful redaction on the GDPR path.
            raise ValueError(
                f"UPDATE SET columns not in table: {sorted(unknown)}"
            )
        scope = (
            base
            if partition_filter is None
            else base.filter(F.expr(partition_filter))
        )
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        hit = F.coalesce(pred, F.lit(False))
        hit_rows = scope.filter(hit)
        post = (
            None
            if set_values is None
            else hit_rows.select(
                *[
                    set_values[c].alias(c) if c in set_values else F.col(c)
                    for c in cols
                ]
            )
        )
        extra = None
        if write_change_data:
            extra = self._write_change_dir(
                hit_rows.withColumn(CHANGE_TYPE_COL, F.lit("delete"))
                if post is None
                else hit_rows.withColumn(
                    CHANGE_TYPE_COL, F.lit("update_preimage")
                ).unionByName(
                    post.withColumn(CHANGE_TYPE_COL, F.lit("update_postimage"))
                )
            )

        if mor:
            # Force analysis NOW: a typo'd predicate must fail THIS
            # write, not every future read of the table.
            hit_rows.schema
            excl = (
                predicate
                if partition_filter is None
                else f"(({partition_filter}) AND ({predicate}))"
            )
            spec = self._manifest(base_v).get("partition_by", [])
            n_hit = hit_rows.count() if return_count else None
            delta: dict = {"exclude_all": excl}
            st = None
            if post is not None:
                entry, st = self._write_data_dir(post, spec)
                delta["add"] = [entry]

            def build(latest: dict | None) -> list[dict]:
                prior = [_entry(e) for e in latest["files"]] if latest else []
                for e in prior:
                    _add_exclude(e["excludes"], excl)
                return prior + delta.get("add", [])

            version = self._commit(
                build, op, spec, delta=delta, extra=extra, schema=st
            )
        else:
            rows = scope
            if return_count:
                # the count piggybacks on the rewrite (no extra scan)
                obs = Observation()
                rows = scope.observe(
                    obs,
                    F.coalesce(F.sum(hit.cast("long")), F.lit(0)).alias("n"),
                )
            rewritten = (
                rows.filter(~hit)
                if set_values is None
                else rows.select(
                    *[
                        F.when(hit, set_values[c]).otherwise(F.col(c)).alias(c)
                        if c in set_values
                        else F.col(c)
                        for c in cols
                    ]
                )
            )
            version = self._commit_rewrite(
                self._optimized_write(rewritten, base_v, partition_filter),
                base_v,
                op,
                partition_filter,
                extra,
            )
            n_hit = int(obs.get["n"]) if return_count else None
        return (version, n_hit) if return_count else version

    def _optimized_write(
        self, df: DataFrame, base_v: int, partition_filter: str | None
    ) -> DataFrame:
        """Optimized write (Delta optimizeWrite) for a partition-scoped
        row-level rewrite: shuffle it by the partition columns first,
        so each hive partition is written by the one task that owns it
        — one file per touched partition instead of |tasks| ×
        |partitions| fragments. Measured on the bench MERGE headline:
        558 files → 16, which un-triggers the distributed-stats path,
        shrinks the commit manifest, and speeds every later read. Safe
        because a partition-scoped rewrite is micro-batch + touched-
        slice sized by contract; a full-table rewrite keeps the
        caller's layout (a 100 TB rebuild must not funnel each
        partition through one task), and so does ``compact``, whose
        layout is its clustering."""
        spec = self._manifest(base_v).get("partition_by", [])
        if partition_filter is None or not spec:
            return df
        return df.repartition(*spec)

    def _filter_may_match_entry(
        self, partition_filter: str, spec: list[str], entry: dict
    ) -> bool:
        """False only when the entry's hive partition values PROVE no
        row can satisfy ``partition_filter`` — the partition-level
        conflict test for racing partition-scoped commits. Anything
        unprovable (unpartitioned table, stats-less entry, null
        partitions, non-partition-column predicates) returns True:
        soundness (conflict) over concurrency."""
        if not spec:
            return True
        tuples = set()
        files = entry.get("stats") or {}
        if not files:
            return True
        for rel_path in files:
            kv = {}
            for seg in rel_path.split("/")[1:-1]:
                k, sep, val = seg.partition("=")
                if sep:
                    kv[k] = val
            if set(kv) != set(spec) or "__HIVE_DEFAULT_PARTITION__" in kv.values():
                return True
            tuples.add(tuple(kv[c] for c in spec))
        if not tuples:
            return True
        # Mirror hive partition-discovery typing: a column whose every
        # value is integral reads back as a number; else a string.
        rows = []
        typed_cols = []
        vals_by_col = list(zip(*sorted(tuples)))
        for c, vals in zip(spec, vals_by_col):
            integral = all(v.lstrip("-").isdigit() for v in vals)
            typed_cols.append((c, "long" if integral else "string"))
            rows.append([int(v) if integral else v for v in vals])
        schema = ", ".join(f"`{c}` {t}" for c, t in typed_cols)
        try:
            df = self.spark.createDataFrame(
                list(zip(*rows)), schema=schema
            ).filter(F.expr(partition_filter))
            return len(df.take(1)) > 0
        except Exception:
            return True  # unevaluable predicate: treat as conflicting

    def _commit_rewrite(
        self,
        df: DataFrame,
        base_v: int,
        op: str,
        partition_filter: str | None = None,
        extra: dict | None = None,
    ) -> int:
        """Commit ``df`` as the rewrite of snapshot ``base_v`` (the one
        it was computed FROM) with conflict DETECTION — the checked
        commit of every read-modify-write op (merge, copy-on-write
        delete and update, compact). Plain ``overwrite()`` is last-writer-wins by its
        atomic-replace contract; a read-modify-write that did the same
        would silently throw away a concurrent commit.

        Without ``partition_filter``, ``df`` replaces the whole table
        (a checkpoint manifest), and any concurrent commit that changed
        the file set — append, merge, truncate, compact — raises
        :class:`ConcurrentWriteError`.

        With ``partition_filter``, ``df`` is the rewrite of only that
        slice: prior data dirs stay with the predicate recorded as an
        exclusion readers prune on. A dir added since ``base_v`` raises
        :class:`ConcurrentWriteError` instead of having rows the rewrite
        never read excluded (the Delta ConcurrentAppendException
        contract) — UNLESS its hive partition values provably match
        none of the filter, in which case both commits land (Delta's
        partition-level conflict resolution: rewrites of disjoint
        partitions serialize cleanly; overlapping ones conflict)."""
        spec = self._manifest(base_v).get("partition_by", [])
        base_paths = {e["path"] for e in self._snapshot_files(base_v)}
        entry, st = self._write_data_dir(df, spec)

        def build(latest: dict | None) -> list[dict]:
            prior = [_entry(e) for e in latest["files"]] if latest else []
            prior_paths = {e["path"] for e in prior}
            if partition_filter is None:
                if prior_paths != base_paths:
                    raise ConcurrentWriteError(
                        f"{op} computed from v{base_v} raced a concurrent "
                        f"commit (file set changed); retry against the new "
                        f"snapshot"
                    )
                return [entry]
            blockers = sorted(
                e["path"]
                for e in prior
                if e["path"] not in base_paths
                and self._filter_may_match_entry(partition_filter, spec, e)
            )
            if blockers:
                raise ConcurrentWriteError(
                    f"partition-scoped {op} computed from v{base_v} raced a "
                    f"concurrent commit adding {blockers}; retry "
                    f"against the new snapshot"
                )
            # dirs the base had that are GONE mean a concurrent
            # truncate/overwrite/compact landed — excluding-and-adding
            # on top would resurrect rows that operation removed.
            missing = base_paths - prior_paths
            if missing:
                raise ConcurrentWriteError(
                    f"partition-scoped {op} computed from v{base_v} raced a "
                    f"concurrent truncate/replace removing "
                    f"{sorted(missing)}; retry against the new snapshot"
                )
            for e in prior:
                _add_exclude(e["excludes"], partition_filter)
            return prior + [entry]

        delta = (
            None
            if partition_filter is None
            else {"exclude_all": partition_filter, "add": [entry]}
        )
        return self._commit(build, op, spec, delta=delta, extra=extra, schema=st)

    # ---------------- merge ----------------

    def merge(
        self,
        source: DataFrame,
        keys: list[str],
        *,
        matched_delete: Column | None = None,
        matched_update_condition: Column | None = None,
        update_values: dict[str, Column] | None = None,
        insert_condition: Column | None = None,
        insert_values: dict[str, Column] | None = None,
        not_matched_by_source_delete: Column | None = None,
        not_matched_by_source_update_condition: Column | None = None,
        not_matched_by_source_update_values: dict[str, Column] | None = None,
        validate_unique_source: bool = True,
        partition_filter: str | None = None,
        broadcast_threshold_bytes: int | None = 512 << 20,
        broadcast_hint: bool | None = None,
        merge_schema: bool = False,
        null_safe_keys: bool = True,
        write_change_data: bool = False,
    ) -> int:
        """Three-clause MERGE, broadcast-only joins, copy-on-write.

        Semantics mirror the reference MERGE
        (``/root/reference/jobs/merge_orders_silver.py:135-147``)::

            MERGE INTO target t USING source s ON t.k = s.k
            WHEN MATCHED AND <matched_delete>  THEN DELETE
            WHEN MATCHED AND <matched_update_condition>
                                               THEN UPDATE SET <update_values>
            WHEN NOT MATCHED AND <insert_cond> THEN INSERT <insert_values>
            WHEN NOT MATCHED BY SOURCE AND <nmbs_delete> THEN DELETE
            WHEN NOT MATCHED BY SOURCE AND <nmbs_update_condition>
                                               THEN UPDATE SET <nmbs_update_values>

        ``matched_update_condition`` (default: always fire) gates the
        UPDATE clause: a matched row firing NEITHER clause survives
        with its ORIGINAL target values (SQL MERGE falls through).

        ``update_values`` / ``insert_values`` map target column name →
        Column over the *source* rows (referenced as ``s.<col>``); both
        default to source columns of the same name. Conditions are
        Columns over ``s.<col>`` as well. A clause condition that
        evaluates to NULL does NOT fire the clause (SQL MERGE
        semantics): a matched row with a NULL delete-condition falls
        through to UPDATE; an unmatched row with a NULL
        insert-condition is not inserted.

        Plan shape (the 100 TB contract): the target is scanned, never
        shuffled. ``full_outer`` cannot broadcast, so the merge is
        decomposed —

        - kept rows:    target LEFT ANTI  broadcast(source keys)
        - updated rows: target INNER      broadcast(source)
        - inserts:      source LEFT ANTI  broadcast(matched keys)

        all three build their hash table on the (small) micro-batch
        side: three BroadcastHashJoins, zero Exchange of the target.

        The broadcast is SIZE-GUARDED (Delta's MERGE behavior): the
        source's Catalyst plan-stats estimate is compared against
        ``broadcast_threshold_bytes`` (default 512 MiB — comfortably
        under Spark's 8 GB broadcast hard limit). A larger batch (e.g.
        a backfill routed through the same code path) drops the hints
        and lets Catalyst/AQE plan shuffled hash/sort-merge joins —
        slower but correct at any batch size, instead of a hard
        broadcast OOM. ``None`` disables the guard (always hint).

        The estimate costs no Spark job — but under Spark's default
        size-only estimation it is UNRELIABLE for two source shapes:
        in-memory sources (``createDataFrame`` / LogicalRDD) estimate
        ``Long.MaxValue``, and a Filter over a large table keeps the
        full table's size. Both pessimize to the shuffle path (safe,
        never wrong — just slower than the three-BroadcastHashJoin
        plan). A caller that KNOWS the batch size — e.g. a pipeline
        that already counted the staged micro-batch — overrides the
        estimate with ``broadcast_hint``: ``True`` forces the
        broadcast hints, ``False`` forces the shuffle path, ``None``
        (default) uses the plan estimate.

        ``partition_filter`` (a SQL predicate string over target
        columns, e.g. ``"order_date = DATE'2024-01-01'"``) scopes the
        copy-on-write: only matching target rows are read and
        rewritten; prior data dirs stay committed with the predicate
        recorded as an exclusion the reader prunes on. The caller
        guarantees every source-affected row falls inside the filter —
        the Delta/Iceberg dynamic-partition-overwrite contract.

        ``write_change_data=True`` records this commit's row-level
        effect (insert / update_preimage / update_postimage / delete
        rows) as change files readable via :meth:`read_changes` —
        Delta's Change Data Feed. Costs one extra O(|source|) write;
        the big target side is never rescanned for it (NOT MATCHED BY
        SOURCE clauses add O(affected target rows) — those clauses
        touch target rows by definition).

        The two ``not_matched_by_source_*`` clauses (Delta's
        ``WHEN NOT MATCHED BY SOURCE``, since Delta 2.3) act on TARGET
        rows no source row matched — retention deletes and
        mark-stale updates in the same commit as the upsert.
        Conditions/values are Columns over the target row (plain or
        ``t.``-qualified names; source columns don't exist for these
        rows). DELETE is evaluated before UPDATE; a NULL condition
        doesn't fire; update values default to the row's own value.
        Plan shape is unchanged: the clauses are a filter + projection
        over the broadcast-anti ``kept`` branch — still zero Exchange
        of the target. With ``partition_filter`` the clauses only see
        rows inside the filter (the same scoping as every other
        clause).

        ``merge_schema=True`` admits source columns the target lacks
        (Delta's MERGE ``mergeSchema``): the new columns join the
        target schema with the source's types, kept target rows carry
        NULL, and updated/inserted rows carry the source values. By
        default (False) unknown source columns are ignored — the safe
        CDC behavior (a pipeline `op` column must not leak into the
        table).
        """
        base_v = self.current_version()
        full_target = self.read(version=base_v)  # raises if no commits
        target = (
            full_target.filter(F.expr(partition_filter))
            if partition_filter is not None
            else full_target
        )
        for label, mapping in (("update_values", update_values), ("insert_values", insert_values)):
            unknown = set(mapping or {}) - set(full_target.columns) - (
                set(source.columns) if merge_schema else set()
            )
            if unknown:
                raise MergeError(
                    f"MERGE {label} columns not in target: {sorted(unknown)}"
                )
        if merge_schema:
            src_types = {f.name: f.dataType for f in source.schema.fields}
            for c in source.columns:
                if c not in target.columns:
                    target = target.withColumn(c, F.lit(None).cast(src_types[c]))
        tcols = target.columns
        if validate_unique_source:
            dup = (
                source.groupBy(*keys).count().filter(F.col("count") > 1).limit(1)
            )
            if not dup.isEmpty():
                raise MergeError(
                    "MERGE source has duplicate keys; dedup the source first "
                    "(the reference does window top-1 per key before MERGE)"
                )

        t = target.alias("t")
        s = source.alias("s")
        # '<=>' (default) matches NULL keys to NULL keys — the CDC
        # pipeline contract; null_safe_keys=False uses '=' (SQL MERGE
        # written with '=' never matches NULL=NULL: NULL-keyed target
        # rows survive untouched and NULL-keyed source rows insert).
        keq = "<=>" if null_safe_keys else "="
        on = F.expr(" AND ".join(f"t.{k} {keq} s.{k}" for k in keys))

        # NULL-safe clause conditions: NULL → clause not fired.
        delete_cond = (
            F.coalesce(matched_delete.cast("boolean"), F.lit(False))
            if matched_delete is not None
            else F.lit(False)
        )
        ins_cond = (
            F.coalesce(insert_condition.cast("boolean"), F.lit(False))
            if insert_condition is not None
            else F.lit(True)
        )
        upd = update_values or {}
        ins = insert_values or {}

        # Size-guard: hint broadcast only when the source's optimized
        # plan estimates under the threshold (or the caller vouched via
        # broadcast_hint). The matched-keys side is ≤ |source| rows, so
        # one decision covers all three joins.
        if broadcast_hint is not None:
            small_source = broadcast_hint
        elif broadcast_threshold_bytes is None:
            small_source = True
        else:
            est = _plan_size_estimate(source)
            small_source = est is not None and est <= broadcast_threshold_bytes
        _hint = F.broadcast if small_source else (lambda df: df)

        if (
            not_matched_by_source_update_values is not None
            and not_matched_by_source_update_condition is None
        ):
            not_matched_by_source_update_condition = F.lit(True)
        if (
            not_matched_by_source_update_condition is not None
            and not_matched_by_source_update_values is None
        ):
            raise MergeError(
                "not_matched_by_source_update_condition without "
                "not_matched_by_source_update_values"
            )
        nmbs_upd = not_matched_by_source_update_values or {}
        unknown = set(nmbs_upd) - set(tcols)
        if unknown:
            raise MergeError(
                f"MERGE not_matched_by_source_update_values columns not in "
                f"target: {sorted(unknown)}"
            )

        src_keys = _hint(source.select(*keys).alias("s"))

        # 1) Target rows not touched by the batch. Without NOT MATCHED
        #    BY SOURCE clauses they survive verbatim; with them, the
        #    branch gains a filter (DELETE) + conditional projection
        #    (UPDATE) — still the broadcast-anti plan, no shuffle.
        kept_raw = t.join(src_keys, on, "left_anti")
        nmbs_del_fire = (
            F.coalesce(not_matched_by_source_delete.cast("boolean"), F.lit(False))
            if not_matched_by_source_delete is not None
            else F.lit(False)
        )
        nmbs_deleted_pre = None
        nmbs_upd_pre = None
        nmbs_upd_post = None
        if not_matched_by_source_delete is None and (
            not_matched_by_source_update_condition is None
        ):
            kept = kept_raw.select(*tcols)
        else:
            if write_change_data and not_matched_by_source_delete is not None:
                nmbs_deleted_pre = kept_raw.filter(nmbs_del_fire).select(*tcols)
            survivors = kept_raw.filter(~nmbs_del_fire)
            if not_matched_by_source_update_condition is None:
                kept = survivors.select(*tcols)
            else:
                nmbs_fire = F.coalesce(
                    not_matched_by_source_update_condition.cast("boolean"),
                    F.lit(False),
                )
                nmbs_exprs = {c: nmbs_upd.get(c, F.col(f"t.{c}")) for c in tcols}
                kept = survivors.select(
                    *[
                        F.when(nmbs_fire, nmbs_exprs[c])
                        .otherwise(F.col(f"t.{c}"))
                        .alias(c)
                        for c in tcols
                    ]
                )
                if write_change_data:
                    fired = survivors.filter(nmbs_fire)
                    nmbs_upd_pre = fired.select(
                        *[F.col(f"t.{c}").alias(c) for c in tcols]
                    )
                    nmbs_upd_post = fired.select(
                        *[nmbs_exprs[c].alias(c) for c in tcols]
                    )

        # 2) Matched rows: UPDATE unless the DELETE clause fires. The
        #    inner join keeps t.* available for update defaults on
        #    columns the source lacks. When an UPDATE condition is set,
        #    rows firing neither clause keep their target values (SQL
        #    MERGE fall-through; NULL condition → clause not fired).
        joined = t.join(_hint(s), on, "inner")
        matched = joined.filter(~delete_cond)
        upd_exprs = {
            c: upd.get(
                c, F.col(f"s.{c}") if c in source.columns else F.col(f"t.{c}")
            )
            for c in tcols
        }
        if matched_update_condition is None:
            upd_cols = [upd_exprs[c].alias(c) for c in tcols]
        else:
            upd_fire = F.coalesce(
                matched_update_condition.cast("boolean"), F.lit(False)
            )
            upd_cols = [
                F.when(upd_fire, upd_exprs[c]).otherwise(F.col(f"t.{c}")).alias(c)
                for c in tcols
            ]
        updated = matched.select(*upd_cols)

        # 3) Unmatched source rows passing the INSERT condition. The
        #    matched keys are at most |source| — broadcast anti again.
        matched_keys = _hint(
            target.select(*[F.col(k).alias(f"_mk_{k}") for k in keys])
            .alias("m")
            .join(
                src_keys,
                F.expr(" AND ".join(f"m._mk_{k} {keq} s.{k}" for k in keys)),
                "left_semi",
            )
        )
        schema = {f.name: f.dataType for f in target.schema.fields}
        ins_cols = [
            ins.get(
                c,
                F.col(f"s.{c}")
                if c in source.columns
                else F.lit(None).cast(schema[c]),
            ).alias(c)
            for c in tcols
        ]
        inserted = (
            s.join(
                matched_keys.alias("m"),
                F.expr(" AND ".join(f"s.{k} {keq} m._mk_{k}" for k in keys)),
                "left_anti",
            )
            .filter(ins_cond)
            .select(*ins_cols)
        )

        merged = kept.unionByName(updated).unionByName(inserted)

        # Change Data Feed (Delta CDF parity): materialize the row-level
        # effect of THIS merge — delete preimages, update pre+post
        # image pairs, inserts — as change files referenced from the
        # manifest. Every piece is a broadcast join on the micro-batch
        # side, so CDF costs O(|source|) extra, never a target scan.
        extra = None
        if write_change_data:
            tvals = [F.col(f"t.{c}").alias(c) for c in tcols]
            deleted_pre = joined.filter(delete_cond).select(*tvals)
            if matched_update_condition is None:
                upd_pre = matched.select(*tvals)
                upd_post = updated
            else:
                fired = matched.filter(
                    F.coalesce(
                        matched_update_condition.cast("boolean"), F.lit(False)
                    )
                )
                upd_pre = fired.select(*tvals)
                upd_post = fired.select(
                    *[upd_exprs[c].alias(c) for c in tcols]
                )

            def ct(df: DataFrame, kind: str) -> DataFrame:
                return df.withColumn(CHANGE_TYPE_COL, F.lit(kind))

            changes = (
                ct(inserted, "insert")
                .unionByName(ct(upd_pre, "update_preimage"))
                .unionByName(ct(upd_post, "update_postimage"))
                .unionByName(ct(deleted_pre, "delete"))
            )
            if nmbs_deleted_pre is not None:
                changes = changes.unionByName(ct(nmbs_deleted_pre, "delete"))
            if nmbs_upd_pre is not None:
                changes = changes.unionByName(
                    ct(nmbs_upd_pre, "update_preimage")
                ).unionByName(ct(nmbs_upd_post, "update_postimage"))
            extra = self._write_change_dir(changes)

        return self._commit_rewrite(
            self._optimized_write(merged, base_v, partition_filter),
            base_v,
            "merge",
            partition_filter,
            extra,
        )


def table(spark: SparkSession, path: str) -> LakeTable:
    return LakeTable(spark, path)
