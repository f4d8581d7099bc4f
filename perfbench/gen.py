"""Seeded input generators for the benchmark.

Everything here is plain Python/NumPy and writes parquet with pyarrow;
nothing imports the package under test, so the inputs do not depend on
the code being measured.

Change log (Debezium-shaped Kafka rows)
---------------------------------------
Columns: ``topic, partition, offset, kafka_ts, k, v, ingested_at`` — the
bronze record shape ``cdc.jobs.ingest_bronze`` consumes. ``v`` is the
Debezium JSON value, either enveloped ``{"payload": {...}}`` or bare
``{before, after, op, ts_ms}``. Amounts are strings, sometimes polluted
with embedded quotes or padding spaces. A share of records are junk:
blank values or row images whose ``order_id`` is null.

Every key starts with a create; updates follow; some keys end with a
delete. "Late" events arrive after (higher offset) but carry an older
``ts_ms`` than an earlier event of the same key; "equal" events repeat
the previous ``ts_ms``, so the offset breaks the tie. Lateness never
crosses an incremental batch boundary: every event of batch ``b`` is
newer than every event before it, which is what a per-key ordered
Kafka partition delivers, and it makes the latest state of the whole log
equal to the batch-by-batch MERGE result.

Documents
---------
``doc_id, text`` rows of whitespace-separated words drawn from a fixed
synthetic vocabulary, plus seeded exact copies and edited near-copies.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOPIC = "bench.public.orders"
STATUSES = ("created", "paid", "shipped", "cancelled")
T0_MS = 1_700_000_000_000  # 2023-11-14T22:13:20Z
INGESTED_AT_US = (T0_MS - 86_400_000) * 1000
# Span reserved for one incremental batch's event times: batch b's
# events all lie in [base + b*BATCH_SPAN_MS, base + (b+1)*BATCH_SPAN_MS).
BATCH_SPAN_MS = 10_000_000

RECORD_SCHEMA = pa.schema(
    [
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("kafka_ts", pa.timestamp("us")),
        ("k", pa.string()),
        ("v", pa.string()),
        ("ingested_at", pa.timestamp("us")),
    ]
)


@dataclass(frozen=True)
class CdcSpec:
    """Shape of one generated change log; fixed per workload."""

    keys: int  # keys created by the base log
    updates_per_key: float  # mean updates per key in the base log
    delete_share: float  # share of base keys that end with a delete
    late_share: float  # share of updates that arrive late
    equal_ts_share: float  # share of updates repeating the prior ts_ms
    bare_share: float  # share of records without the payload wrapper
    junk_share: float  # share of blank or null-key records
    batches: int = 0  # incremental batches after the base log
    batch_events: int = 0  # events per incremental batch
    batch_insert_share: float = 0.0
    batch_delete_share: float = 0.0
    zipf_s: float = 1.1  # key skew of batch updates


@dataclass
class _Log:
    offsets: list
    ts: list
    values: list
    keys: list  # order_id per record, None for junk


def _amount(rng: np.random.Generator) -> str:
    cents = int(rng.integers(100, 1_000_000))
    s = f"{cents // 100}.{cents % 100:02d}"
    pick = rng.random()
    if pick < 0.2:
        return f'"{s}"'
    if pick < 0.4:
        return f" {s} "
    return s


def _row(order_id, user_id, amount, status) -> dict:
    return {
        "order_id": order_id,
        "user_id": user_id,
        "amount_eur": amount,
        "status": status,
        "created_at": "2023-11-14 22:13:20",
    }


class _Emitter:
    """Appends records with consecutive offsets."""

    def __init__(self, rng: np.random.Generator, spec: CdcSpec, first_offset: int):
        self.rng = rng
        self.spec = spec
        self.next_offset = first_offset
        self.log = _Log([], [], [], [])

    def _push(self, key, ts, value):
        self.log.offsets.append(self.next_offset)
        self.log.ts.append(ts)
        self.log.values.append(value)
        self.log.keys.append(key)
        self.next_offset += 1

    def event(self, key, op, before, after, ts):
        payload = {"before": before, "after": after, "op": op, "ts_ms": ts}
        if self.rng.random() >= self.spec.bare_share:
            payload = {"payload": payload}
        self._push(key, ts, json.dumps(payload, separators=(",", ":")))

    def maybe_junk(self, ts):
        if self.rng.random() >= self.spec.junk_share:
            return
        if self.rng.random() < 0.5:
            self._push(None, ts, ("", "  ", "\t")[int(self.rng.integers(3))])
        else:
            row = _row(None, 1, "1.00", "created")
            self.event(None, "c", None, row, ts)


def _to_table(log: _Log) -> pa.Table:
    n = len(log.offsets)
    ts_us = [t * 1000 for t in log.ts]
    return pa.table(
        {
            "topic": pa.array([TOPIC] * n, pa.string()),
            "partition": pa.array([0] * n, pa.int32()),
            "offset": pa.array(log.offsets, pa.int64()),
            "kafka_ts": pa.array(ts_us, pa.timestamp("us")),
            "k": pa.array(
                [None if k is None else f'{{"order_id":{k}}}' for k in log.keys],
                pa.string(),
            ),
            "v": pa.array(log.values, pa.string()),
            "ingested_at": pa.array([INGESTED_AT_US] * n, pa.timestamp("us")),
        },
        schema=RECORD_SCHEMA,
    )


class _KeyState:
    """Live row image per key, kept while generating."""

    def __init__(self):
        self.rows: dict[int, dict] = {}
        self.last_ts: dict[int, int] = {}

    def live(self, k: int) -> bool:
        return k in self.rows


def _update(em: _Emitter, st: _KeyState, k: int, ts: int, floor: int) -> None:
    """Emit an update of key ``k``; a late one is never stamped below
    ``floor`` (the start of the current batch)."""
    rng, spec = em.rng, em.spec
    before = st.rows[k]
    after = dict(before)
    after["amount_eur"] = _amount(rng)
    after["status"] = STATUSES[int(rng.integers(len(STATUSES)))]
    pick = rng.random()
    prev = st.last_ts[k]
    late = prev - int(rng.integers(1, 1000))
    if pick < spec.late_share and late >= floor:
        # Arrives now, stamped before the key's latest event: loses.
        ts = late
    elif pick < spec.late_share + spec.equal_ts_share:
        st.rows[k] = after
        ts = prev  # tie on ts_ms: the higher offset wins
    else:
        st.rows[k] = after
        st.last_ts[k] = max(ts, prev + 1)
        ts = st.last_ts[k]
    em.event(k, "u", before, after, ts)


def _delete(em: _Emitter, st: _KeyState, k: int, ts: int) -> None:
    ts = max(ts, st.last_ts[k] + 1)
    em.event(k, "d", st.rows.pop(k), None, ts)
    st.last_ts[k] = ts


def _create(em: _Emitter, st: _KeyState, k: int, user_id: int, ts: int) -> None:
    row = _row(k, user_id, _amount(em.rng), "created")
    st.rows[k] = row
    st.last_ts[k] = ts
    em.event(k, "c", None, row, ts)


@dataclass
class CdcInputs:
    base: pa.Table
    batches: list  # list[pa.Table]
    spec: CdcSpec

    @property
    def events(self) -> int:
        return self.base.num_rows + sum(b.num_rows for b in self.batches)


def cdc_log(seed: int, spec: CdcSpec) -> CdcInputs:
    """Base change log plus ``spec.batches`` incremental batches."""
    rng = np.random.default_rng(seed)
    st = _KeyState()
    em = _Emitter(rng, spec, first_offset=int(rng.integers(1_000, 10_000)))
    users = max(spec.keys // 4, 1)
    # Base log: keys are created in a shuffled order and their
    # updates interleave, so offsets do not follow key order.
    order = rng.permutation(spec.keys) + 1
    n_upd = rng.poisson(spec.updates_per_key, spec.keys)
    pending = []  # (key, remaining updates, delete at end)
    clock = T0_MS
    for i, k in enumerate(order):
        k = int(k)
        clock += int(rng.integers(1, 50))
        _create(em, st, k, int(rng.integers(1, users + 1)), clock)
        em.maybe_junk(clock)
        pending.append([k, int(n_upd[i]), rng.random() < spec.delete_share])
        # Advance a few older keys for every new one.
        for _ in range(2):
            j = int(rng.integers(len(pending)))
            p = pending[j]
            clock += int(rng.integers(1, 50))
            if p[1] > 0:
                _update(em, st, p[0], clock, T0_MS)
                p[1] -= 1
            elif p[2]:
                _delete(em, st, p[0], clock)
                p[2] = False
    for p in pending:  # drain whatever is left
        while p[1] > 0:
            clock += int(rng.integers(1, 50))
            _update(em, st, p[0], clock, T0_MS)
            p[1] -= 1
        if p[2]:
            clock += int(rng.integers(1, 50))
            _delete(em, st, p[0], clock)
    base = _to_table(em.log)

    batches = []
    base_clock = clock + BATCH_SPAN_MS
    ranked = rng.permutation(spec.keys) + 1  # Zipf rank -> key
    weights = 1.0 / np.arange(1, spec.keys + 1) ** spec.zipf_s
    cdf = np.cumsum(weights / weights.sum())
    next_key = spec.keys + 1
    for b in range(spec.batches):
        em.log = _Log([], [], [], [])
        t0 = t = base_clock + b * BATCH_SPAN_MS
        for _ in range(spec.batch_events):
            t += int(rng.integers(1, 50))
            pick = rng.random()
            if pick < spec.batch_insert_share:
                _create(em, st, next_key, int(rng.integers(1, users + 1)), t)
                next_key += 1
            else:
                k = _zipf_live_key(rng, st, ranked, cdf)
                if pick < spec.batch_insert_share + spec.batch_delete_share:
                    _delete(em, st, k, t)
                else:
                    _update(em, st, k, t, t0)
            em.maybe_junk(t)
        batches.append(_to_table(em.log))
    return CdcInputs(base, batches, spec)


def _zipf_live_key(rng, st: _KeyState, ranked, cdf) -> int:
    while True:
        r = int(np.searchsorted(cdf, rng.random(), side="right"))
        k = int(ranked[min(r, len(ranked) - 1)])
        if st.live(k):
            return k


# ------------------------------- documents ---------------------------------


@dataclass(frozen=True)
class DocSpec:
    docs: int  # original documents
    min_words: int
    max_words: int
    vocab: int
    exact_share: float  # originals that get a verbatim copy
    near_share: float  # originals that get an edited copy
    max_edits: int  # word edits per near copy


def _vocab(rng: np.random.Generator, n: int) -> list:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out = set()
    while len(out) < n:
        out.add("".join(rng.choice(letters, int(rng.integers(3, 9)))))
    return sorted(out)


def documents(seed: int, spec: DocSpec) -> pa.Table:
    """Seeded corpus: originals, verbatim copies and edited copies.

    Copies take ids above every original, so a pair's lower id is always
    the original."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, spec.vocab)
    zipf = 1.0 / np.arange(1, spec.vocab + 1)
    p = zipf / zipf.sum()
    ids, texts = [], []
    for i in range(spec.docs):
        n = int(rng.integers(spec.min_words, spec.max_words + 1))
        ws = rng.choice(len(vocab), n, p=p)
        ids.append(i + 1)
        texts.append(" ".join(vocab[w] for w in ws))
    next_id = spec.docs + 1
    for i in range(spec.docs):
        if rng.random() < spec.exact_share:
            ids.append(next_id)
            texts.append(texts[i])
            next_id += 1
        if rng.random() < spec.near_share:
            ws = texts[i].split(" ")
            for _ in range(int(rng.integers(1, spec.max_edits + 1))):
                pos = int(rng.integers(len(ws)))
                edit = rng.random()
                word = vocab[int(rng.integers(len(vocab)))]
                if edit < 0.4:
                    ws[pos] = word
                elif edit < 0.8 or len(ws) < 2:
                    ws.insert(pos, word)
                else:
                    del ws[pos]
            ids.append(next_id)
            texts.append(" ".join(ws))
            next_id += 1
    return pa.table(
        {"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())}
    )


def write_parquet(table: pa.Table, path: str) -> str:
    pq.write_table(table, path)
    return path
