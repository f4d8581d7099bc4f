"""Spans and counters recorded from the benchmark's side of each call.

Nothing here reaches into the program: a span tags the calling thread
with ``setJobGroup``, runs the call, then reads what Spark already keeps
— the job ids of that group from ``statusTracker()`` and job and stage
numbers from the JVM status store (both answer with the UI disabled).
Spans stay in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

CALL_STATS = (
    ("s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("exec_cpu_s", "s"),
    ("shuffle_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("driver_gap_s", "s"),
)


def _covered(intervals: list, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list = []
        self.counters: dict = {}
        self._stack: list = []
        self._next_id = 0
        self.op_id = None

    def count(self, name: str, value: float) -> None:
        self.counters.setdefault(name, []).append(float(value))

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        self._next_id += 1
        sid = self._next_id
        parent = self._stack[-1] if self._stack else None
        group = f"perfbench-{sid}"
        sc.setJobGroup(group, name)
        self._stack.append(sid)
        rec = {"id": sid, "name": name, "parent": parent, "op": self.op_id}
        rec["start"] = time.time()
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(f"perfbench-{parent}", "")
            else:
                sc._jsc.clearJobGroup()
            self._job_stats(rec, group)
            self.spans.append(rec)

    def _job_stats(self, rec: dict, group: str) -> None:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()  # job-end events are async
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        intervals, tasks, cpu_ns, shuffle, spill = [], 0, 0, 0, 0
        job_ids = list(tracker.getJobIdsForGroup(group))
        for jid in job_ids:
            jd = store.job(jid)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                intervals.append(
                    (
                        jd.submissionTime().get().getTime() / 1000.0,
                        jd.completionTime().get().getTime() / 1000.0,
                    )
                )
            info = tracker.getJobInfo(jid)
            for stage in info.stageIds if info else ():
                try:
                    sd = store.lastStageAttempt(stage)
                except Exception:  # a stage that never ran has no attempt
                    continue
                tasks += sd.numCompleteTasks()
                cpu_ns += sd.executorCpuTime()
                shuffle += sd.shuffleWriteBytes()
                spill += sd.diskBytesSpilled()
        # A parent's numbers include its children's jobs.
        for child in self.spans:
            if child["parent"] == rec["id"]:
                intervals += child["_intervals"]
                tasks += child["tasks"]
                cpu_ns += child["exec_cpu_s"] * 1e9
                shuffle += child["shuffle_bytes"]
                spill += child["spill_bytes"]
                job_ids += [None] * child["jobs"]
        wall = rec["end"] - rec["start"]
        rec.update(
            s=wall,
            jobs=len(job_ids),
            tasks=tasks,
            exec_cpu_s=cpu_ns / 1e9,
            shuffle_bytes=shuffle,
            spill_bytes=spill,
            driver_gap_s=wall - _covered(intervals, rec["start"], rec["end"]),
            _intervals=intervals,
        )

    def layer_metrics(self, layers) -> dict:
        """Per-call medians of every CALL_STATS entry for each layer.
        Calls made inside measured operations are preferred; set-up and
        probe calls count only for a layer that no operation calls."""
        out = {}
        for layer in layers:
            recs = [r for r in self.spans if r["name"] == layer]
            recs = [r for r in recs if r["op"] is not None] or recs
            for stat, _unit in CALL_STATS:
                vals = [r[stat] for r in recs]
                out[f"{layer}.{stat}"] = statistics.median(vals) if vals else 0.0
        return out

    def counter_median(self, name: str) -> float:
        vals = self.counters.get(name)
        return statistics.median(vals) if vals else 0.0

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        spans = [{k: v for k, v in r.items() if k != "_intervals"} for r in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": spans, "counters": self.counters}, f)


# ------------------------------ process memory ------------------------------


def _children(pid: int) -> list:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if ppid == pid:
            out.append(int(name))
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    driver JVM and Python workers), read from /proc between operations.

    Each process's own high-water mark (VmHWM) is kept, so a peak that
    falls between two samples is still counted; a worker that exits is
    remembered at its last reading."""

    def __init__(self):
        self.peaks: dict = {}

    def sample(self) -> None:
        todo = [os.getpid()]
        while todo:
            pid = todo.pop()
            self.peaks[pid] = max(self.peaks.get(pid, 0), _hwm_kb(pid))
            todo += _children(pid)

    def peak_mb(self) -> float:
        return sum(self.peaks.values()) / 1024.0
