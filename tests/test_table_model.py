"""Model-based differential test: a seeded random sequence of table
operations (append / CoW+MoR delete / CoW+MoR update / merge, the last
three whole-table or partition-scoped / truncate / compact / restore /
partition evolution) runs against BOTH the LakeTable layer and a plain
in-memory Python model; after every step the table's read() must equal
the model exactly, and time travel must reproduce every recorded
historical state. One divergence anywhere in the op-interleaving space
fails with the full op log."""

from __future__ import annotations

import random

import pytest

from pyspark.sql import functions as F

from privacy_cdc_lakehouse_spark.tables import LakeTable


# partition_filter of the scoped delete / update / merge variants
SCOPE = "grp = 'a'"


def _read_rows(t):
    return sorted(
        (r["id"], r["grp"], r["v"]) for r in t.read().collect()
    )


def _apply_ops(spark, t, seed, n_steps, log):
    rng = random.Random(seed)
    model: dict[int, tuple[int, str, int]] = {}
    next_id = 0
    history: list[tuple[int, list]] = []  # (version, sorted rows)

    def snap():
        history.append((t.current_version(), sorted(model.values())))

    # seed rows
    rows = []
    for _ in range(6):
        row = (next_id, rng.choice("ab"), rng.randrange(100))
        model[next_id] = row
        rows.append(row)
        next_id += 1
    t.overwrite(
        spark.createDataFrame(rows, "id int, grp string, v int"),
        partition_by=["grp"],
    )
    log.append(("overwrite", rows))
    snap()

    for step in range(n_steps):
        op = rng.choice(
            ["append", "delete_cow", "delete_mor", "update_cow",
             "update_mor", "compact", "restore", "truncate",
             "merge", "evolve"]
        )
        if op == "append":
            rows = []
            for _ in range(rng.randrange(1, 4)):
                row = (next_id, rng.choice("ab"), rng.randrange(100))
                model[next_id] = row
                rows.append(row)
                next_id += 1
            t.append(spark.createDataFrame(rows, "id int, grp string, v int"))
            log.append((op, rows))
        elif op in ("delete_cow", "delete_mor"):
            cut = rng.randrange(100)
            scoped = rng.random() < 0.5
            mode = "merge_on_read" if op == "delete_mor" else "copy_on_write"
            t.delete_where(
                f"v < {cut}", partition_filter=SCOPE if scoped else None,
                mode=mode,
            )
            model = {
                k: r
                for k, r in model.items()
                if not (r[2] < cut and (r[1] == "a" or not scoped))
            }
            log.append((op, cut, scoped))
        elif op in ("update_cow", "update_mor"):
            cut = rng.randrange(100)
            add = rng.randrange(1, 9)
            scoped = rng.random() < 0.5
            mode = "merge_on_read" if op == "update_mor" else "copy_on_write"
            t.update_where(
                f"v >= {cut}", {"v": F.col("v") + add},
                partition_filter=SCOPE if scoped else None, mode=mode,
            )
            model = {
                k: (
                    r[0],
                    r[1],
                    r[2] + add
                    if r[2] >= cut and (r[1] == "a" or not scoped)
                    else r[2],
                )
                for k, r in model.items()
            }
            log.append((op, cut, add, scoped))
        elif op == "compact":
            t.compact(target_partitions=1)
            log.append((op,))
        elif op == "truncate":
            if rng.random() < 0.7:
                continue  # keep truncate rare
            t.truncate()
            model = {}
            log.append((op,))
        elif op == "restore":
            if len(history) < 2 or rng.random() < 0.5:
                continue
            version, rows_then = history[rng.randrange(len(history))]
            t.restore(version)
            model = {r[0]: r for r in rows_then}
            log.append((op, version))
        elif op == "merge":
            # upsert: touch a mix of existing and new ids (a merge into
            # a truncated, 0-row table works too). A scoped merge keeps
            # the caller contract: every source row lies in the scope.
            scoped = rng.random() < 0.5
            ids = [k for k, r in model.items() if r[1] == "a" or not scoped]
            src = []
            for _ in range(rng.randrange(1, 4)):
                if ids and rng.random() < 0.5:
                    rid = rng.choice(ids)
                else:
                    rid, next_id = next_id, next_id + 1
                grp = "a" if scoped else rng.choice("ab")
                src.append((rid, grp, rng.randrange(100)))
            src = list({r[0]: r for r in src}.values())  # unique keys
            t.merge(
                spark.createDataFrame(src, "id int, grp string, v int"),
                keys=["id"],
                partition_filter=SCOPE if scoped else None,
            )
            for r in src:
                model[r[0]] = r
            log.append((op, src, scoped))
        elif op == "evolve":
            spec = rng.choice([["grp"], ["v"], []])
            t.set_partitioning(spec)
            log.append((op, spec))  # metadata-only: model unchanged
        snap()
        got = _read_rows(t)
        want = sorted(model.values())
        assert got == want, f"divergence at step {step}: {log}"
    return history


@pytest.mark.parametrize("seed", [7, 1337, 424242, 31337, 987654])
def test_model_based_table_ops(spark, tmp_path, seed):
    log: list = []
    t = LakeTable(spark, str(tmp_path / f"model_{seed}"))
    history = _apply_ops(spark, t, seed, n_steps=12, log=log)
    # every recorded historical state time-travels back exactly
    for version, rows_then in history:
        got = sorted(
            (r["id"], r["grp"], r["v"])
            for r in t.read(version=version).collect()
        )
        assert got == rows_then, f"time travel diverged at v{version}: {log}"
    # log integrity after the whole sequence
    rep = t.fsck()
    assert rep["ok"] is True, rep
