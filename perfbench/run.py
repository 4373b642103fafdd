"""The repo's benchmark: one command, two named workloads.

    python3 perfbench/run.py --workload {queries-sf0.01,migrate} \\
        --seed N --seconds S --trace {0,1}

Run it from the root of a checkout.  It makes its inputs from the seed
(tables for the query workload, migration scripts for ``migrate``)
under ``.perfbench/`` in the checkout, makes an amount of measured
work sized from ``S``, checks every output, and prints as its last
line one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (see
``perfbench/workloads.py`` for what each means per workload);
``--trace 1`` makes the same run plus interleaved traced passes or
deploy cycles, writes their spans to ``.perfbench/traces/``, and
reports the per-layer metrics instead, with the tracing overhead.
The lines before the last one print every metric by name with its
unit, then a JSON detail record (per-workload figures under their own
names, foreign CPU and steal during the measured window, failures).

A failed query, ``migrate()`` call or output check counts in
``failed`` and keeps its place in every total; nothing is retried.
Exit code 2, and no result, when the package under test is missing.

The benchmark's own Spark-free tests: ``python3 -m pytest perfbench/tests``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("queries-sf0.01", "migrate")


def _prepare_env(cores: int) -> None:
    """Keep every file the run writes inside the checkout, make the
    package importable by Python workers whatever the cwd, and size the
    session from the machine."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ.pop("SPARK_GRAFT_BENCH_ONLY", None)
    import tempfile

    tempfile.tempdir = tmp


def _shutdown() -> None:
    """Stop Spark and wait for the JVM the session launched to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "clickhouse_migrator_spark", "__init__.py")):
        print(f"perfbench: package under test not found in {ROOT}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    _prepare_env(cores)
    sys.path.insert(0, ROOT)

    from perfbench.workloads import Env, run_migrate, run_queries

    env = Env(ROOT, WORK, cores, args.seed, args.seconds, bool(args.trace))
    try:
        if args.workload == "migrate":
            res = run_migrate(env)
        else:
            res = run_queries(env, float(args.workload.split("-sf")[1]))
    finally:
        _shutdown()

    res.detail["attempted"], res.detail["failed"] = res.attempted, res.failed
    res.detail["error_rate"] = res.failed / max(1, res.attempted)
    res.detail["failures"] = res.failures
    for name, (value, unit) in res.metrics.items():
        print(f"{name} = {value:.6g} {unit}")
    print(json.dumps({"detail": res.detail}, default=str))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in res.metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
