#!/usr/bin/env python3
"""Seeded CDC-lakehouse benchmark.

    python3 perfbench/run.py --workload cdc_rebuild --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed``, drives them through the
package's public calls on a ``local[4]`` session, checks every output
against a DuckDB reference, and prints one JSON object as its last
stdout line: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones (see ``metrics.py``). The line before it carries the
box context (nproc, versions, seed, input sizes, CPU canary) and the
per-workload figures behind the metrics: every set-up and operation
time, ``failed_ops_share``, and ``op_tail_s`` with its percentile and
sample count when the run holds the 21 operations a tail needs.

Runs from any working directory. Everything it writes goes under
``<repo>/.perfbench/``: a scratch root per run, removed at exit, and
the span file of a traced run in ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PACKAGE = "privacy_cdc_lakehouse_spark"
CPUS = 4  # workloads are sized for a 4-core box: local[4]


def _args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(run_root: str) -> None:
    """Pin the run's environment before the JVM starts."""
    tmp = os.path.join(run_root, "tmp")
    os.makedirs(tmp)
    path = [REPO, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    no_tmp = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.update(
        SPARK_LAUNCHER_OPTS=no_tmp,  # the JVM that spark-submit runs first
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_LOCAL_DIRS=os.path.join(run_root, "spark-local"),
        SPARK_DRIVER_MEMORY="2g",
        PYTHONPATH=":".join(path),  # Python workers import the package too
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=tmp,
        TZ="UTC",
    )
    time.tzset()
    sys.path[:0] = [REPO, HERE]


def tail(values: list) -> tuple | None:
    """(value, percentile) at the highest percentile with at least ten
    samples beyond it, or None when fewer than 21 samples leave no such
    percentile above the median."""
    n = len(values)
    if n < 21:
        return None
    return sorted(values)[n - 11], 100.0 * (n - 10) / n


def _start_session(run_root: str):
    from privacy_cdc_lakehouse_spark.session import session_builder

    spark = (
        session_builder("perfbench", master=f"local[{CPUS}]")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", os.path.join(run_root, "warehouse"))
        .config("spark.driver.extraJavaOptions", os.environ["SPARK_LAUNCHER_OPTS"])
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _canary(spark) -> float:
    """Box-speed canary: median of three fixed JVM-only aggregations."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(20_000_000).selectExpr(
            "sum(id * 2 + 1)", "count(if(id % 7 = 0, 1, NULL))"
        ).collect()
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples)


def _context(args, spark, canary_s: float, res) -> dict:
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "spark_cores": CPUS,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "calibration_s": round(canary_s, 4),
        "input_sizes": res.sizes,
    }


def _metrics(args, res, tracer, rss, session_s: float) -> tuple:
    import metrics as M

    if not args.trace:
        ops = res.op_s
        values = {
            "setup_s": statistics.median(res.setup_s),
            "op_p50_s": statistics.median(ops),
            "items_per_s": res.items / sum(ops),
        }
        extra = {
            "setup_s": res.setup_s,
            "op_s": ops,
            "failed_ops_share": res.failed / res.attempted,
            "peak_rss_mb": rss.peak_mb(),
            **res.extra,
        }
        t = tail(ops)
        if t is not None:
            extra.update(op_tail_s=t[0], op_tail_percentile=t[1], op_samples=len(ops))
        spec = {name: unit for name, unit, _b, _bd in M.END_TO_END}
    else:
        traced = [t for t, on in zip(res.op_s, res.traced) if on]
        plain = [t for t, on in zip(res.op_s, res.traced) if not on]
        values = {name: 0.0 for name, _u, _b in M.PER_LAYER}
        values.update(tracer.layer_metrics(M.LAYER_CALLS))
        values.update(res.layer)
        values["session.start_s"] = session_s
        values["peak_rss_mb"] = rss.peak_mb()
        if traced and plain:
            values["trace.op_p50_s"] = statistics.median(traced)
            values["trace.overhead_s"] = statistics.median(traced) - statistics.median(
                plain
            )
        extra = {"ops": len(res.op_s), "traced_ops": len(traced), **res.extra}
        spec = {name: unit for name, unit, _b in M.PER_LAYER}
    out = {k: {"value": float(values[k]), "unit": u} for k, u in spec.items()}
    return out, extra


def _run(args, run_root: str) -> int:
    _environment(run_root)
    import spans
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    rss = spans.RssSampler()
    t0 = time.perf_counter()
    spark = _start_session(run_root)
    session_s = time.perf_counter() - t0
    workloads.log(f"session up in {session_s:.2f}s")
    try:
        canary_s = _canary(spark)
        workloads.log(f"canary {canary_s:.3f}s")
        tracer = spans.Tracer(spark, enabled=bool(args.trace))
        ctx = workloads.Ctx(
            spark=spark,
            root=run_root,
            seed=args.seed,
            seconds=args.seconds,
            trace=bool(args.trace),
            tracer=tracer,
            rss=rss,
        )
        res = workloads.WORKLOADS[args.workload](ctx)
        rss.sample()
        context = _context(args, spark, canary_s, res)
        metrics, extra = _metrics(args, res, tracer, rss, session_s)
        if args.trace:
            name = f"{args.workload}-seed{args.seed}-{os.getpid()}.json"
            tracer.write(os.path.join(REPO, ".perfbench", "traces", name))
    finally:
        _stop_session(spark)
        workloads.log("session stopped")
    print(json.dumps({"context": context, "details": extra}))
    print(
        json.dumps(
            {
                "correct": res.failed == 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(REPO, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ package next to perfbench/", file=sys.stderr)
        return 2
    run_root = os.path.join(REPO, ".perfbench", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_root)
    try:
        return _run(args, run_root)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
