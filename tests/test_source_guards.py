"""Spark-free source guards: read the package sources and pin three
design rules that a runtime test cannot see until it is too late.

- ``operators/util.checkpoint_df`` is the one place that decides how an
  intermediate is materialized, so ``spark.graft.reliableIntermediates``
  covers every materialization. A direct ``.localCheckpoint(`` elsewhere
  would silently bypass the reliable mode.
- ``cdc/jobs.py`` runs once per micro-batch and builds its literal rows
  on the JVM: a ``createDataFrame`` row is a Python RDD, so every job
  reading it starts Python workers, on every batch.
- Environment variables are read only for the deployment settings and
  the secret named in ``ENV_ALLOWLIST``; every other behaviour is a Spark conf
  or a function argument, so there are no hidden process-wide knobs."""

from __future__ import annotations

import os
import re

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "privacy_cdc_lakehouse_spark",
)

CHECKPOINT_OWNER = os.path.join("operators", "util.py")
CHECKPOINT_TOKENS = (".localCheckpoint(", ".checkpoint(", "setCheckpointDir")

# (module, variable) pairs allowed to read os.environ.
ENV_ALLOWLIST = {
    # deployment settings: local core count and driver heap
    ("session.py", "SPARK_GRAFT_CPUS"),
    ("session.py", "SPARK_DRIVER_MEMORY"),
    # pseudonymization salt (a secret, so never a Spark conf)
    (os.path.join("functions", "scalars.py"), "PII_SALT"),
}
# os.environ.get("X"), os.environ["X"], os.getenv("X"); a read whose
# variable is not a literal on the same line captures None, which no
# allowlist entry matches.
ENV_READ = re.compile(
    r"\b(?:environ|getenv)\b(?:\.get\(|\[|\()?\s*(?:['\"](\w+)['\"])?"
)


def _sources():
    for root, _, files in os.walk(PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path, encoding="utf-8") as fh:
                    yield os.path.relpath(path, PKG), fh.read()


def test_materialization_only_through_checkpoint_df():
    offenders = [
        (rel, n, tok)
        for rel, src in _sources()
        if rel != CHECKPOINT_OWNER
        for n, line in enumerate(src.splitlines(), 1)
        for tok in CHECKPOINT_TOKENS
        if tok in line
    ]
    assert not offenders, f"materialize via checkpoint_df: {offenders}"


def test_no_create_dataframe_in_cdc_jobs():
    src = dict(_sources())[os.path.join("cdc", "jobs.py")]
    offenders = [
        n for n, line in enumerate(src.splitlines(), 1) if "createDataFrame(" in line
    ]
    assert not offenders, (
        f"cdc/jobs.py lines {offenders}: createDataFrame builds a Python RDD "
        f"that starts Python workers on every batch; build literal rows with "
        f"spark.range(1).select(F.lit(...), ...)"
    )


def test_env_reads_only_from_allowlist():
    found = {
        (rel, n, m.group(1))
        for rel, src in _sources()
        for n, line in enumerate(src.splitlines(), 1)
        for m in ENV_READ.finditer(line)
    }
    offenders = sorted(
        ((rel, n, name) for rel, n, name in found
         if (rel, name) not in ENV_ALLOWLIST),
        key=str,
    )
    assert not offenders, f"os.environ read outside the allowlist: {offenders}"
    # every allowlist entry is still read (the list stays tight, and the
    # pattern demonstrably matches real reads)
    assert {(rel, name) for rel, _, name in found} == ENV_ALLOWLIST
