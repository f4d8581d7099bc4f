"""Tests of the benchmark itself (no Spark): generator determinism, the
reference checks and the metric list.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import itertools
import json
import os
import re
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics as M  # noqa: E402
import reference as ref  # noqa: E402
from run import tail  # noqa: E402

SPEC = gen.CdcSpec(
    keys=300,
    updates_per_key=2.0,
    delete_share=0.2,
    late_share=0.15,
    equal_ts_share=0.15,
    bare_share=0.2,
    junk_share=0.05,
    batches=2,
    batch_events=200,
    batch_insert_share=0.1,
    batch_delete_share=0.1,
)
DOCS = gen.DocSpec(
    docs=60, min_words=5, max_words=40, vocab=80, exact_share=0.2,
    near_share=0.3, max_edits=3,
)


@pytest.fixture(scope="module")
def log(tmp_path_factory):
    inputs = gen.cdc_log(11, SPEC)
    d = tmp_path_factory.mktemp("cdc")
    tables = [inputs.base, *inputs.batches]
    files = {b: gen.write_parquet(t, str(d / f"b{b}.parquet")) for b, t in enumerate(tables)}
    return tables, ref.CdcReference(files, "s")


def test_generator_is_deterministic_per_seed():
    a, b, c = gen.cdc_log(5, SPEC), gen.cdc_log(5, SPEC), gen.cdc_log(6, SPEC)
    assert a.base.equals(b.base)
    assert all(x.equals(y) for x, y in zip(a.batches, b.batches))
    assert not a.base.equals(c.base)
    assert gen.documents(5, DOCS).equals(gen.documents(5, DOCS))
    assert not gen.documents(5, DOCS).equals(gen.documents(6, DOCS))


def test_generator_covers_the_record_shapes():
    vals = gen.cdc_log(5, SPEC).base.column("v").to_pylist()
    parsed = [json.loads(v) for v in vals if v.strip()]
    assert any("payload" in p for p in parsed)
    assert any("payload" not in p for p in parsed)  # bare records
    assert any(not v.strip() for v in vals)  # blank values
    rows = [p.get("payload", p) for p in parsed]
    assert any(r["after"] and r["after"]["order_id"] is None for r in rows)
    amounts = [r["after"]["amount_eur"] for r in rows if r["after"]]
    assert any(a.startswith('"') for a in amounts)
    assert any(a.startswith(" ") for a in amounts)
    assert {r["op"] for r in rows} == {"c", "u", "d"}


def _python_state(tables: list, upto: int) -> dict:
    """Latest state per key, folded in plain Python."""
    best = {}
    for t in tables[: upto + 1]:
        for off, v in zip(t.column("offset").to_pylist(), t.column("v").to_pylist()):
            if not v.strip():
                continue
            d = json.loads(v)
            env = d.get("payload") or d
            after, before = env["after"] or {}, env["before"] or {}

            def f(k):
                return after.get(k) if after.get(k) is not None else before.get(k)

            oid = f("order_id")
            if oid is None:
                continue
            rank = (env["ts_ms"], off)
            if oid not in best or rank > best[oid][0]:
                best[oid] = (rank, env["op"], f("user_id"), f("amount_eur"), f("status"))
    return {
        oid: (uid, float(re.sub(r'["\s]', "", amt)), st, rank[0] // 1000)
        for oid, (rank, op, uid, amt, st) in best.items()
        if op != "d"
    }


def _as_silver(state: dict) -> pa.Table:
    """A silver-shaped Arrow table, as the program's read returns it."""
    ids = sorted(state)
    return pa.table(
        {
            "order_id": pa.array(ids, pa.int32()),
            "user_id": pa.array([state[k][0] for k in ids], pa.int32()),
            "amount_eur": pa.array([state[k][1] for k in ids], pa.float64()),
            "status": pa.array([state[k][2] for k in ids], pa.string()),
            "last_change_ts": pa.array(
                [state[k][3] * 1_000_000 for k in ids], pa.timestamp("us", tz="UTC")
            ),
        }
    )


@pytest.mark.parametrize("upto", [0, 1, 2])
def test_reference_state_matches_a_python_fold(log, upto):
    tables, cref = log
    want = _python_state(tables, upto)
    got = {r[0]: tuple(r[1:]) for r in cref.query(cref.state_sql(upto))}
    assert got == want
    assert cref.diff(_as_silver(want), ref.SILVER_COLS, cref.state_sql(upto)) == 0


def test_reference_catches_an_injected_wrong_row(log):
    tables, cref = log
    state = _python_state(tables, 2)
    key = sorted(state)[7]
    wrong = dict(state)
    uid, amount, status, ts = wrong[key]
    wrong[key] = (uid, amount + 0.01, status, ts)
    assert cref.diff(_as_silver(wrong), ref.SILVER_COLS, cref.state_sql(2)) == 2
    del wrong[key]
    assert cref.diff(_as_silver(wrong), ref.SILVER_COLS, cref.state_sql(2)) == 1


def test_reference_changes_match_the_state_difference(log):
    tables, cref = log
    prev, cur = _python_state(tables, 0), _python_state(tables, 1)
    rows = cref.query(f"SELECT order_id, change_type FROM ({cref.changes_sql(1, 2)})")
    kinds = {}
    for oid, kind in rows:
        kinds.setdefault(oid, set()).add(kind)
    for oid, ks in kinds.items():
        if ks == {"insert"}:
            assert oid in cur and oid not in prev
        elif ks == {"delete"}:
            assert oid in prev and oid not in cur
        else:
            assert ks == {"update_preimage", "update_postimage"}
            assert oid in prev and oid in cur
    changed = {k for k in set(prev) | set(cur) if prev.get(k) != cur.get(k)}
    assert changed <= set(kinds)


def _dedup_truth(texts: dict):
    sh = {d: ref.shingles(t) for d, t in texts.items()}
    pairs = []
    for a, b in itertools.combinations(sorted(texts), 2):
        j = ref.jaccard(sh[a], sh[b])
        if j >= 0.5:
            pairs.append((a, b, j))
    comp = {d: d for d in texts}
    changed = True
    while changed:  # min-label propagation, the slow obvious way
        changed = False
        for a, b, _ in pairs:
            m = min(comp[a], comp[b])
            if comp[a] != m or comp[b] != m:
                comp[a] = comp[b] = m
                changed = True
    keepers = [(d, comp[d], d == comp[d]) for d in texts]
    return pairs, keepers


def test_dedup_check_accepts_truth_and_catches_injected_errors():
    table = gen.documents(3, DOCS)
    texts = dict(zip(table.column("doc_id").to_pylist(), table.column("text").to_pylist()))
    pairs, keepers = _dedup_truth(texts)
    assert any(j == 1.0 for *_, j in pairs)  # verbatim copies exist
    assert ref.check_dedup(texts, pairs, keepers, 0.5) == 0
    a, b, j = pairs[0]
    assert ref.check_dedup(texts, [(a, b, j - 0.1)] + pairs[1:], keepers, 0.5) == 1
    exact = next(p for p in pairs if p[2] == 1.0)
    rest = [p for p in pairs if p != exact]
    assert ref.check_dedup(texts, rest, keepers, 0.5) >= 1
    d, comp, keep = next(k for k in keepers if not k[2])
    flipped = [k if k[0] != d else (d, comp, True) for k in keepers]
    assert ref.check_dedup(texts, pairs, flipped, 0.5) == 1


def test_shingles_follow_the_operator_definition():
    assert ref.shingles("a b c d") == {"a b c", "b c d"}
    assert ref.shingles("  a\tb  ") == {"a b"}
    assert ref.shingles("") == {""}


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [
        (m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]
    ] == list(M.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == list(
        M.PER_LAYER
    )
    import workloads

    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_tail_needs_ten_samples_beyond_it():
    assert tail([1.0, 2.0, 3.0]) is None
    assert tail([float(i) for i in range(20)]) is None
    vals = [float(i) for i in range(1, 41)]  # 40 samples
    value, pct = tail(vals)
    assert sum(v > value for v in vals) == 10
    assert pct == 75.0
