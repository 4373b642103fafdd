"""The benchmark's workloads.  Each is a closed loop with one client on
``local[nproc]`` and returns a :class:`Result`.

``queries-sf0.01`` runs a family-stratified sample of the registered
queries over seeded sf0.01 tables.  ``migrate`` drives the migration
runner over seeded ClickHouse-dialect scripts.  Both set up nine
times (one cold session, then eight restarts in the same JVM) and
report the median set-up, then make a fixed amount of measured work sized
from ``seconds`` (see :func:`schedule`).  Every output is checked with
the clock stopped: each query's first-pass rows against its DuckDB
oracle, and the migrated database against the generator's prediction.

End-to-end metrics, with what each means per workload:

============  ==================================  ================================
metric        queries-sf0.01                      migrate
============  ==================================  ================================
setup_s       session start + parquet-footer      session start + the runner's
              warm-up                             init of a fresh database
first_pass_s  first pass over the sample in a     the bulk phase: the JVM's first
              fresh session, collecting rows      migrate(), applying the bulk
              (memo fills, first compiles)        script (first compiles)
op_p50_s      per-query wall, later passes        one migrate() that applies one
                                                  script (a deploy)
ops_per_s     sample size / wall of a later       migrate() calls per second in
              pass (median over passes)           the deploy cycle (deploy, then
                                                  a no-op rerun)
jobs_per_op   Spark jobs per query, later passes  Spark jobs per deploy
============  ==================================  ================================

The detail record adds each timing's tail (the highest percentile with
at least ten samples beyond it, when there are 20 or more samples) and
the figures that have no counterpart in the other workload (no-op
rerun wall and jobs, memo fills, per-query medians).
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

from . import datagen, migrations, stats
from .trace import (
    Tracer,
    drain_listeners,
    job_counter,
    next_execution_id,
    sql_metrics,
    stage_task_counts,
)

#: set-ups per run, one cold then restarts; setup_s is their median
SETUPS = 9
#: the query sample is every STRIDE-th query of the family-ordered
#: list, from SAMPLE_OFFSET.  The offset is fixed, not drawn from the
#: seed: sample costs differ up to threefold between offsets, which would
#: swamp every per-run figure.  27 is the offset with the median
#: sample cost that also exercises the session memos.
STRIDE = 45
SAMPLE_OFFSET = 27
#: rows of the bulk-phase table
BULK_ROWS = 200_000
#: The measured work is a fixed function of --seconds, never of the
#: clock, so a parent and a change always do the same work and report
#: percentiles over the same sample counts.  Each later pass of the
#: query sample, and each deploy cycle (deploy + no-op rerun), is
#: granted this many of the measuring seconds; on a 4-core host a later
#: pass takes about 7 s after a first pass of about 20 s, and a cycle
#: about 9 s after a bulk phase of about 15 s.
LATER_PASS_S = 10.0
CYCLE_S = 10.0


def schedule(seconds: float, unit_s: float, trace: bool) -> list[bool]:
    """Which of a run's repeated units (later passes, deploy cycles) are
    traced: at least two untraced units, about ``seconds / unit_s`` in
    all; a traced run adds one traced unit per two untraced ones,
    interleaved so both kinds see the same warm-up."""
    n = max(2, round(seconds / unit_s))
    t = n // 2 if trace else 0
    return [False, True] * t + [False] * (n - t)


PER_LAYER_SPARK = (
    "spark.scans", "spark.scan_bytes", "spark.exchanges", "spark.shuffle_bytes",
    "spark.spill_bytes", "spark.peak_mem_bytes", "arrow.rows",
)
MIGRATE_LAYERS = ("init", "scan", "diff", "stmt", "bookkeeping", "compact", "other")


@dataclass
class Result:
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def op(self, failure: str | None) -> None:
        """Count one attempted operation; ``failure`` describes why it
        failed, None when it succeeded."""
        self.attempted += 1
        if failure is not None:
            self.failed += 1
            self.failures.append(failure)


class Env:
    """Paths and the Spark session of one benchmark run."""

    def __init__(self, root: str, work: str, cores: int, seed: int, seconds: float, trace: bool):
        self.root, self.work, self.cores = root, work, cores
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.spark = None
        self.tracer = Tracer(run_id=f"{os.getpid()}-{seed}")

    def restart(self, warehouse: str | None = None) -> float:
        """Stop any running session and start a new one; returns the
        seconds the start took."""
        from clickhouse_migrator_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench", cpus=self.cores, warehouse_dir=warehouse
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0


def _foreign_cpu(snap0, snap1) -> float:
    """CPU seconds the rest of the machine used between two
    ``bench._cpu_snapshot()`` readings (this includes steal)."""
    hz = os.sysconf("SC_CLK_TCK")
    return ((snap1[0] - snap0[0]) - (snap1[1] - snap0[1])) / hz


def _steal_jiffies() -> int:
    """Machine-wide CPU time the hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _setup_metrics(res: Result, start_s: list[float], warm_s: list[float]) -> None:
    setup = [a + b for a, b in zip(start_s, warm_s)]
    res.metrics["setup_s"] = (statistics.median(setup), "s")
    res.detail["setups_s"] = setup
    res.detail["session.start_s"] = statistics.median(start_s)
    res.detail["session.warm_s"] = statistics.median(warm_s)


class _OpTrace:
    """Per-operation Spark counters and span self times, summed over the
    traced operations of a run."""

    def __init__(self, env: Env):
        self.env = env
        self.n = 0
        self.totals: dict[str, float] = {}
        self.traced_walls: list[float] = []
        self.untraced_walls: list[float] = []
        self.unattributed = 0.0
        self.wall_total = 0.0
        self.spans_kept: list[dict] = []

    def begin(self) -> tuple[int, int]:
        drain_listeners()
        first_exec = next_execution_id(self.env.spark)
        self.env.tracer.spans.clear()
        self.env.tracer.enabled = True
        return job_counter(), first_exec

    def end(self, mark: tuple[int, int], wall: float) -> None:
        tracer = self.env.tracer
        tracer.enabled = False
        j0, first_exec = mark
        drain_listeners()
        spark = self.env.spark
        stages, tasks = stage_task_counts(spark, range(j0, job_counter()))
        sql = sql_metrics(spark, first_exec)
        add = {"spark.stages": stages, "spark.tasks": tasks}
        for k, v in sql.items():
            add["arrow.rows" if k == "arrow_rows" else f"spark.{k}"] = v
        spans = tracer.spans
        for name, s in stats.self_totals(spans).items():
            add[f"{name}_s"] = s
        for name, j in stats.self_totals(spans, "jobs0", "jobs1").items():
            add[f"{name}_jobs"] = j
        top = sum(s["end"] - s["start"] for s in spans if s["parent"] is None)
        self.unattributed += wall - top
        self.wall_total += wall
        for k, v in add.items():
            if k == "spark.peak_mem_bytes":
                self.totals[k] = max(self.totals.get(k, 0.0), v)
            else:
                self.totals[k] = self.totals.get(k, 0.0) + v
        self.n += 1
        self.spans_kept.extend(spans)

    def per_op(self, names: list[str]) -> dict[str, float]:
        out = {}
        for k in names:
            v = self.totals.get(k, 0.0)
            out[k] = v if k == "spark.peak_mem_bytes" or not self.n else v / self.n
        out["trace.unattributed_s"] = self.unattributed / self.n if self.n else 0.0
        return out


def per_layer_names() -> list[str]:
    names = [
        "session.start_s", "session.warm_s",
        "operators.builder_s", "operators.builder_jobs",
        "spark.plan_s", "spark.exec_s", "spark.exec_jobs",
        "spark.stages", "spark.tasks", *PER_LAYER_SPARK,
        "memo.fills", "memo.fill_s", "memo.later_fills",
    ]
    for layer in MIGRATE_LAYERS:
        names += [f"migrate.{layer}_s", f"migrate.{layer}_jobs"]
    return names + ["trace.overhead_s", "trace.unattributed_s"]


def _finish_trace(env: Env, res: Result, optrace: _OpTrace, extra: dict) -> None:
    layers = optrace.per_op(
        [n for n in per_layer_names() if not n.startswith(("session.", "memo.", "trace."))]
    )
    layers["session.start_s"] = res.detail["session.start_s"]
    layers["session.warm_s"] = res.detail["session.warm_s"]
    overhead = (
        statistics.median(optrace.traced_walls) - statistics.median(optrace.untraced_walls)
        if optrace.traced_walls and optrace.untraced_walls
        else 0.0
    )
    layers["trace.overhead_s"] = overhead
    layers.update(extra)
    units = {}
    for n in per_layer_names():
        units[n] = "s" if n.endswith("_s") else ("B" if n.endswith("_bytes") else "count")
    res.metrics = {n: (float(layers.get(n, 0.0)), units[n]) for n in per_layer_names()}
    self_sum = sum(v for k, v in layers.items() if k.endswith("_s") and "." in k
                   and not k.startswith(("session.", "memo.", "trace.")))
    # self times partition each traced op: self_sum + unattributed is
    # its wall; the overhead compares like ops run traced and untraced
    res.detail["trace"] = {
        "traced_ops": optrace.n,
        "wall_per_op_s": optrace.wall_total / optrace.n if optrace.n else None,
        "self_time_sum_per_op_s": self_sum,
        "unattributed_per_op_s": layers["trace.unattributed_s"],
        "traced_op_wall_p50_s": statistics.median(optrace.traced_walls) if optrace.traced_walls else None,
        "untraced_op_wall_p50_s": statistics.median(optrace.untraced_walls) if optrace.untraced_walls else None,
        "overhead_per_op_s": overhead,
        "spans": len(optrace.spans_kept),
    }
    env.tracer.spans = optrace.spans_kept
    env.tracer.dump(os.path.join(env.work, "traces", f"{res.detail['workload']}-seed{env.seed}.json"))


# ── queries ──────────────────────────────────────────────────────────────


def _load_checker(root: str):
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(root, "tools", "check_correctness.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class OracleCheck:
    """Compares a query's collected rows with its DuckDB oracle over the
    same tables, with the normalisation of ``tools/check_correctness.py``;
    a query without an oracle passes once it collects."""

    def __init__(self, root: str, data_dir: str):
        import duckdb

        from clickhouse_migrator_spark.tables import TABLES

        self.rowset = _load_checker(root)._rowset
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")

    def failure(self, name: str, oracle: str | None, cols: list[str], rows: list) -> str | None:
        if oracle is None:
            return None
        try:
            rel = self.con.sql(oracle)
            dcols, drows = list(rel.columns), rel.fetchall()
        except Exception as e:  # noqa: BLE001 — a failed check is counted, not raised
            return f"check {name}: oracle: {type(e).__name__}: {str(e)[:200]}"
        srows = [tuple(r) for r in rows]
        if sorted(cols) != sorted(dcols) or self.rowset(cols, srows) != self.rowset(dcols, drows):
            return f"check {name}: rows differ from the oracle"
        return None


def run_queries(env: Env, sf: float) -> Result:
    from clickhouse_migrator_spark.memo_events import drain_fills
    from clickhouse_migrator_spark.registry import all_specs

    import bench  # the repo's: its noop sink, CPU snapshot and contamination rule

    res = Result(detail={"workload": f"queries-sf{sf}", "cores": env.cores})
    t_begin = time.perf_counter()
    data_dir = datagen.write_tables(
        os.path.join(env.work, "data", f"sf{sf}-seed{env.seed}-{os.getpid()}"), env.seed, sf
    )
    t_data = time.perf_counter()
    specs = all_specs()
    sample = stats.stride_sample(list(specs), SAMPLE_OFFSET, STRIDE)
    t_specs = time.perf_counter()
    res.detail["sample"] = sample

    start_s, warm_s = [], []
    for _ in range(SETUPS):
        start_s.append(env.restart(os.path.join(env.work, "warehouse")))
        t0 = time.perf_counter()
        # bench.py's first warm-up (JVM + parquet footers).  Its
        # Python-worker warm-up is left out: no sampled query runs a
        # Python UDF, so it would time a cost the workload never pays.
        bench.materialize(env.spark.read.parquet(f"{data_dir}/lineitem.parquet").limit(1))
        warm_s.append(time.perf_counter() - t0)
    _setup_metrics(res, start_s, warm_s)
    oracle = OracleCheck(env.root, data_dir)

    spark, tracer = env.spark, env.tracer
    optrace = _OpTrace(env)

    def run_query(name: str, traced: bool, check: bool) -> tuple[float, int, list]:
        """Run one query; the first pass collects its rows (``check``)
        and compares them with the oracle once the timer has stopped,
        later passes go through bench.py's noop sink."""
        drain_fills()
        mark = optrace.begin() if traced else None
        j0 = job_counter()
        t0 = time.perf_counter()
        failure = None
        try:
            with tracer.span("operators.builder"):
                df = specs[name].fn(spark, data_dir)
            if traced:
                with tracer.span("spark.plan"):
                    df._jdf.queryExecution().executedPlan()
            with tracer.span("spark.exec"):
                if check:
                    rows = df.collect()
                else:
                    bench.materialize(df)
        except Exception as e:  # noqa: BLE001 — a failed query is counted, not raised
            failure = f"{name}: {type(e).__name__}: {str(e)[:200]}"
        wall = time.perf_counter() - t0
        jobs = job_counter() - j0
        fills = drain_fills()
        res.op(failure)
        if check:
            res.op(
                f"check {name}: query failed"
                if failure
                else oracle.failure(name, specs[name].oracle, df.columns, rows)
            )
        if traced:
            optrace.end(mark, wall)
        return wall, jobs, fills

    snap0, steal0 = bench._cpu_snapshot(), _steal_jiffies()
    t_measure = time.perf_counter()
    first_fills: list = []
    later_walls: list[float] = []
    later_jobs = 0
    later_fills = 0
    pass_walls: list[float] = []
    by_query: dict[str, list[float]] = {n: [] for n in sample}
    plan = [False] + schedule(env.seconds, LATER_PASS_S, env.trace)
    for passes, traced in enumerate(plan):
        p0 = time.perf_counter()
        for name in sample:
            wall, jobs, fills = run_query(name, traced, check=passes == 0)
            if passes == 0:
                first_fills.extend(fills)
                continue
            later_fills += len(fills)
            if traced:
                optrace.traced_walls.append(wall)
                continue
            later_walls.append(wall)
            by_query[name].append(wall)
            later_jobs += jobs
            if env.trace:
                optrace.untraced_walls.append(wall)
        pass_wall = time.perf_counter() - p0
        if passes == 0:
            first_pass = pass_wall
        elif not traced:
            pass_walls.append(pass_wall)
    window = time.perf_counter() - t_measure
    snap1, steal1 = bench._cpu_snapshot(), _steal_jiffies()
    oracle.con.close()

    res.detail["phases_s"] = {
        "datagen": t_data - t_begin, "import_queries": t_specs - t_data,
        "setups": sum(start_s) + sum(warm_s), "measure": window,
    }

    q = stats.summarize(later_walls)
    res.metrics.update({
        "first_pass_s": (first_pass, "s"),
        "op_p50_s": (q["p50"], "s"),
        "ops_per_s": (len(sample) / statistics.median(pass_walls), "1/s"),
        "jobs_per_op": (later_jobs / len(later_walls), "count"),
    })
    foreign = _foreign_cpu(snap0, snap1)
    res.detail.update({
        "sample_size": len(sample),
        "passes": len(plan),
        "measured_s": window,
        "first_pass_s": first_pass,
        "query_p50_s": q["p50"],
        "query_tail_s": q["tail"],
        "query_tail_level": q["tail_level"],
        "query_n": q["n"],
        "queries_per_s": res.metrics["ops_per_s"][0],
        "jobs_per_query": res.metrics["jobs_per_op"][0],
        "memo_fills_first_pass": first_fills,
        "memo_fills_later_passes": later_fills,
        "foreign_cpu_s": foreign,
        "steal_s": (steal1 - steal0) / os.sysconf("SC_CLK_TCK"),
        "contaminated": bench._contaminated(window, foreign, env.cores),
        "per_query_p50_s": {n: statistics.median(v) for n, v in by_query.items() if v},
    })
    if env.trace:
        _finish_trace(env, res, optrace, {
            "memo.fills": len(first_fills),
            "memo.fill_s": sum(f["s"] for f in first_fills),
            "memo.later_fills": later_fills,
        })
    shutil.rmtree(data_dir, ignore_errors=True)
    return res


# ── migrate ──────────────────────────────────────────────────────────────


def _install_migrate_trace(tracer: Tracer) -> None:
    from clickhouse_migrator_spark import migrate as M

    for attr, layer in (
        ("migrate", "other"),
        ("create_db", "init"),
        ("init_db", "init"),
        ("scan_migrations", "scan"),
        ("manifest_df", "scan"),
        ("migrations_to_apply", "diff"),
        ("execute_statement", "stmt"),
        ("apply_migration", "bookkeeping"),
        ("compact_journal", "compact"),
    ):
        tracer.wrap(M, attr, f"migrate.{layer}")


def run_migrate(env: Env) -> Result:
    from clickhouse_migrator_spark import migrate as M

    import bench

    res = Result(detail={"workload": "migrate", "cores": env.cores})
    root = os.path.join(env.work, "migrate", f"seed{env.seed}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    warehouse = os.path.join(root, "warehouse")
    rng = np.random.default_rng(env.seed)
    tracer = env.tracer
    if env.trace:
        _install_migrate_trace(tracer)
    optrace = _OpTrace(env)

    def call(db: str, home: str, expect: int, what: str, traced: bool = False):
        mark = optrace.begin() if traced else None
        j0 = job_counter()
        t0 = time.perf_counter()
        failure = None
        try:
            n = M.migrate(env.spark, db, home)
            if n != expect:
                failure = f"{what}: applied {n}, expected {expect}"
        except Exception as e:  # noqa: BLE001 — a failed call is counted, not raised
            failure = f"{what}: {type(e).__name__}: {str(e)[:200]}"
        wall = time.perf_counter() - t0
        jobs = job_counter() - j0
        res.op(failure)
        if traced:
            optrace.end(mark, wall)
        return wall, jobs

    start_s, warm_s = [], []
    for i in range(SETUPS):
        start_s.append(env.restart(warehouse))
        t0 = time.perf_counter()
        # the runner's bootstrap of a fresh database: ledger, claims
        # and journal tables
        M.create_db(env.spark, f"setup{i}")
        M.init_db(env.spark, f"setup{i}")
        warm_s.append(time.perf_counter() - t0)
    _setup_metrics(res, start_s, warm_s)

    snap0, steal0 = bench._cpu_snapshot(), _steal_jiffies()
    t_measure = time.perf_counter()
    home = os.path.join(root, "home")
    scripts = [migrations.bulk_script(rng, 1, 0, BULK_ROWS)]
    migrations.write_script(home, scripts[0])
    bulk_s, bulk_jobs = call("bench", home, 1, "bulk phase", traced=env.trace)

    deploy_walls, deploy_jobs, noop_walls, noop_jobs = [], [], [], []
    for cycle, traced in enumerate(schedule(env.seconds, CYCLE_S, env.trace)):
        s = migrations.tiny_script(rng, len(scripts) + 1, cycle)
        migrations.write_script(home, s)
        scripts.append(s)
        w, j = call("bench", home, 1, f"deploy V{s.version}", traced)
        w2, j2 = call("bench", home, 0, f"no-op rerun after V{s.version}", traced)
        if traced:
            optrace.traced_walls.append(w)
            continue
        deploy_walls.append(w)
        deploy_jobs.append(j)
        noop_walls.append(w2)
        noop_jobs.append(j2)
        if env.trace:
            optrace.untraced_walls.append(w)
    window = time.perf_counter() - t_measure
    snap1, steal1 = bench._cpu_snapshot(), _steal_jiffies()

    try:
        problems = migrations.check_db(env.spark, "bench", home, scripts)
    except Exception as e:  # noqa: BLE001 — a failed check is counted, not raised
        problems = [f"bench: {type(e).__name__}: {str(e)[:200]}"]
    res.op("; ".join(problems) if problems else None)

    d = stats.summarize(deploy_walls)
    res.metrics.update({
        "first_pass_s": (bulk_s, "s"),
        "op_p50_s": (d["p50"], "s"),
        "ops_per_s": (2 * len(deploy_walls) / (sum(deploy_walls) + sum(noop_walls)), "1/s"),
        "jobs_per_op": (float(statistics.median(deploy_jobs)), "count"),
    })
    foreign = _foreign_cpu(snap0, snap1)
    res.detail.update({
        "measured_s": window,
        "bulk_s": bulk_s,
        "bulk_rows": BULK_ROWS,
        "bulk_jobs": bulk_jobs,
        "deploy_p50_s": d["p50"],
        "deploy_tail_s": d["tail"],
        "deploy_n": d["n"],
        "deploy_walls_s": deploy_walls,
        "deploy_jobs": deploy_jobs,
        "noop_walls_s": noop_walls,
        "noop_p50_s": statistics.median(noop_walls),
        "noop_jobs": noop_jobs,
        "foreign_cpu_s": foreign,
        "steal_s": (steal1 - steal0) / os.sysconf("SC_CLK_TCK"),
        "contaminated": bench._contaminated(window, foreign, env.cores),
    })
    if env.trace:
        tracer.unwrap_all()
        _finish_trace(env, res, optrace, {})
    shutil.rmtree(root, ignore_errors=True)
    return res
