"""Benchmark of the propensity engine, driven only through its public
entry points: `propensity_spark.__main__.run(args, spark)` (the CLI a
scheduler calls) and `__spark_entry__.queries()` (the operator
registry).

    python3 perfbench/run.py --workload pipeline|ops --seed N \\
        --seconds S --trace 0|1

Workloads (README.md says why each exists):

* `pipeline` -- the `daily` job (feature engineering and feature-store
  merge for the day, scoring, publish, drift) on a store that `init`
  prepared, in the run's fresh JVM as a scheduler runs it. The seed
  picks the day among the fixture's last days.
* `ops` -- sweeps over a pinned list of registry queries, one per
  operator module, each run to a `noop` sink. The seed permutes the
  query order.

With `--trace 0` the last stdout line holds the end-to-end metrics;
with `--trace 1` it holds the per-layer metrics of one traced
iteration (event log plus span wrappers, see tracing.py). Every output
check counts as an operation in `attempted`/`failed`.

Inputs are generated (fixture.py) under `.perfbench/` in the checkout,
which also holds the prepared store, Spark's scratch space and the
values later runs must reproduce.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime
import importlib.util
import io
import json
import os
import random
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

import fixture  # noqa: E402
import tracing  # noqa: E402

DATA_SEED = 42
PIPELINE_SF = 0.001
OPS_SF = 0.01
# fixture.py draws ship dates up to this day; `init` prepares the store
# three days earlier and the seed picks the daily job's day after it.
LAST_DAY = datetime.date(2001, 11, 4)
INIT_DAY = LAST_DAY - datetime.timedelta(days=3)
INIT_ARGS = ["--commodities", "1", "--model-type", "lr", "--backfill-days", "0"]
SETUPS = 3
OPS_SWEEPS = 2

# One registry query for each operator module that only this workload
# runs, chosen from bench.py's BENCH_QUERIES. The relational and
# feature modules are left to `pipeline`, which runs them. The graph
# module is represented by `hierarchy_rollup`: `triangle_count` shuffles
# a different amount of data from run to run, so its time would add
# noise that is not the program's doing. Pinned here so later edits to
# bench.py do not change the workload.
OPS_QUERIES = [
    "minhash_band_pairs",
    "ann_cosine_topk",
    "batch_windows",
    "asof_join",
    "doc_profile",
    "rfm_segments",
    "anomaly_mad",
    "incremental_agg",
    "corr_matrix",
    "hierarchy_rollup",
    "media_pipeline",
    "quality_filter",
]


class Program:
    """The program under test, imported from the checkout."""

    def __init__(self) -> None:
        import __spark_entry__ as entry
        from propensity_spark import __main__ as cli
        from propensity_spark import session

        self.entry, self.cli, self.session = entry, cli, session


def prepare_env() -> None:
    """Pin the environment the program reads, keep every file the run
    writes inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    mem_mb = _meminfo_mb("MemTotal")
    for d in ("spark-local", "tmp"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # session.py defaults to 48g, more than a small host has; a quarter
    # of the host leaves room for DuckDB and the Python workers.
    os.environ["SPARK_DRIVER_MEM"] = f"{min(48 * 1024, mem_mb // 4)}m"
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={WORK / 'tmp'}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def _meminfo_mb(key: str) -> int:
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith(key + ":"):
            return int(line.split()[1]) // 1024
    raise KeyError(key)


def _proc_stat(pid: int) -> list[str]:
    text = Path(f"/proc/{pid}/stat").read_text()
    return text[text.rindex(")") + 2:].split()


def process_tree_cpu(root: int) -> float:
    """User+sys CPU seconds of `root` and its live descendants, plus the
    children it has reaped (the JVM's Python workers)."""
    tick = os.sysconf("SC_CLK_TCK")
    parent, cpu = {}, {}
    for p in Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            f = _proc_stat(int(p.name))
        except (FileNotFoundError, ProcessLookupError, ValueError):
            continue
        parent[int(p.name)] = int(f[1])
        cpu[int(p.name)] = sum(int(x) for x in f[11:15]) / tick
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0.0)
        todo.extend(c for c, pp in parent.items() if pp == pid)
    return total


def peak_rss_mb(pid: int) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    raise KeyError("VmHWM")


def _cpu_ticks() -> list[int]:
    """The host-wide `cpu` line of /proc/stat: user nice system idle
    iowait irq softirq steal (guest time is already inside user)."""
    return [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:9]]


class Stopwatch:
    """Times a block: `wall`, the share of the machine's CPU time the
    hypervisor stole while it ran, and `seconds`, the wall time with
    that share taken out. Steal is time this VM's vCPUs were ready to
    run while the host ran other tenants: it follows the neighbours,
    not the program, and moved iteration times by 20-30 % on a shared
    4-vCPU host."""

    def __enter__(self) -> Stopwatch:
        self.t0, self.ticks0 = time.perf_counter(), _cpu_ticks()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self.t0
        d = [b - a for a, b in zip(self.ticks0, _cpu_ticks())]
        self.steal_share = d[7] / sum(d) if sum(d) else 0.0
        self.seconds = self.wall * (1 - self.steal_share)


class Run:
    """State of one benchmark run: counters and the session."""

    def __init__(self, prog: Program, workload: str, tracer: tracing.Tracer | None) -> None:
        self.prog, self.workload, self.tracer = prog, workload, tracer
        self.trace = tracer is not None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.spark = None
        self.check_s = 0.0

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)
        return ok

    def op(self, fn, what: str):
        """Run one operation; an exception counts as a failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 - the run reports it and goes on
            self.failed += 1
            self.problems.append(f"{what}: {type(exc).__name__}: {str(exc)[:300]}")
            return None

    def span(self, layer: str, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(layer, name)

    def setup(self, fx: Path) -> None:
        """Create the session and check that every fixture table loads
        with its columns."""
        from propensity_spark.io import load_table

        conf = {}
        if self.trace:
            logdir = WORK / "eventlog"
            shutil.rmtree(logdir, ignore_errors=True)
            logdir.mkdir(parents=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": logdir.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = self.prog.session.get_spark(f"perfbench-{self.workload}", extra_conf=conf)
        for name in fixture.TABLES:
            cols = load_table(self.spark, str(fx), name).columns
            self.check(bool(cols), f"fixture table {name} has no columns")

    def setups(self, fx: Path) -> list[Stopwatch]:
        """Set the session up several times (stopping it in between) and
        time each; the last session stays up for the run. A traced run
        sets up once, so its event log holds one application."""
        times = []
        for k in range(1 if self.trace else SETUPS):
            if k:
                self.spark.stop()
            with self.span("root", "setup"), Stopwatch() as sw:
                self.setup(fx)
            times.append(sw)
        return times

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def cpu(self) -> float:
        """CPU seconds so far of the Python driver plus the JVM tree."""
        t = os.times()
        return t.user + t.system + process_tree_cpu(self.jvm_pid())

    def config(self) -> dict:
        sc = self.spark.sparkContext
        import pyspark

        return {
            "defaultParallelism": sc.defaultParallelism,
            "master": sc.master,
            "driver_memory": sc.getConf().get("spark.driver.memory", "default"),
            "pyspark": pyspark.__version__,
            "java": sc._jvm.System.getProperty("java.version"),
            "knobs": {
                k: os.environ.get(k, "default")
                for k in sorted(set(os.environ) | KNOBS)
                if k.startswith("SPARK_GRAFT_")
            },
        }


# Every SPARK_GRAFT_* setting the program reads; recorded with
# "default" when unset.
KNOBS = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_GRAIN_JOBS",
    "SPARK_GRAFT_GRAPH_CUT",
    "SPARK_GRAFT_QUERY_CACHE",
    "SPARK_GRAFT_SCAN_FLOOR",
    "SPARK_GRAFT_STREAM_JOBS",
    "SPARK_GRAFT_TRAIN_JOBS",
}


# -- ops -----------------------------------------------------------------------


def query_modules() -> dict[str, str]:
    """Registry name -> layer name, from each module's QUERIES dict
    (the registry's wrappers hide `__module__`)."""
    out = {}
    for layer in ["operators.relational", "operators.features", *tracing.OPS_MODULES]:
        mod = importlib.import_module(f"propensity_spark.{layer}")
        for name in getattr(mod, "QUERIES", {}):
            out.setdefault(name, layer)
    return out


def ops_check(run: Run, fx: Path, names: list[str]) -> None:
    """Each query against its DuckDB oracle over the same parquet:
    rows, columns and an order-insensitive value hash. Also the warm-up
    of the timed sweeps."""
    import duckdb
    from tools.local_verify import duck_canon_lines, hash_lines, make_duck_views, spark_canon_lines

    qs, oracles = run.prog.entry.queries(), run.prog.entry.oracle_sql()
    con = duckdb.connect()
    con.execute("SET threads = 1")
    make_duck_views(con, str(fx))
    for name in names:
        def spark_side(name=name):
            df = qs[name](run.spark, str(fx))
            return df.columns, spark_canon_lines(df)

        def oracle_side(name=name):
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            return dcols, duck_canon_lines(res, dcols)

        got = run.op(spark_side, f"{name} (spark)")
        oracle = run.op(oracle_side, f"{name} (oracle)")
        if got is None or oracle is None:
            continue
        (cols, lines), (dcols, want) = got, oracle
        run.check(sorted(cols) == sorted(dcols), f"{name}: columns {cols} vs {dcols}")
        run.check(len(lines) == len(want), f"{name}: rows {len(lines)} vs {len(want)}")
        run.check(hash_lines(lines) == hash_lines(want), f"{name}: value hash differs from oracle")
    con.close()


def ops_sweep(run: Run, fx: Path, names: list[str], layer_of: dict[str, str]) -> list[float]:
    qs = run.prog.entry.queries()
    lat = []
    for name in names:
        def go(name=name):
            qs[name](run.spark, str(fx)).write.format("noop").mode("overwrite").save()

        t0 = time.perf_counter()
        with run.span(layer_of[name], name):
            run.op(go, name)
        lat.append(time.perf_counter() - t0)
    return lat


def ops_workload(run: Run, seed: int, seconds: float, names: list[str]) -> dict:
    fx = fixture.build(WORK / "data", OPS_SF, DATA_SEED)
    names = list(names)
    random.Random(seed).shuffle(names)
    layer_of = query_modules()
    setups = run.setups(fx)
    t0 = time.perf_counter()
    with run.span("root", "check"):
        ops_check(run, fx, names)
    run.check_s = time.perf_counter() - t0
    walls, cpus, lat = [], [], []
    t_end = time.perf_counter() + seconds
    # a sweep is short, so an untraced run times at least two
    while len(walls) < (1 if run.trace else OPS_SWEEPS) or (
        time.perf_counter() < t_end and not run.trace
    ):
        c0 = run.cpu()
        with run.span("root", "iteration"), Stopwatch() as sw:
            lat += ops_sweep(run, fx, names, layer_of)
        walls.append(sw)
        cpus.append(run.cpu() - c0)
    return {"setups": setups, "walls": walls, "cpus": cpus,
            "query_s": dict(zip(names, lat[-len(names):]))}


# -- pipeline ------------------------------------------------------------------


def ensure_init_store(fx: Path) -> Path:
    """The store `init` leaves behind, built once per checkout by the
    real CLI in a child process and copied for every daily job."""
    import subprocess

    store = WORK / f"init-sf{PIPELINE_SF}-{INIT_DAY}"
    done = store / "_BENCH_COMPLETE"
    if done.exists():
        return store
    # built in place: the manifest records absolute model paths
    shutil.rmtree(store, ignore_errors=True)
    cmd = [sys.executable, "-m", "propensity_spark", "init", "--sf-dir", str(fx),
           "--base", str(store), "--day", str(INIT_DAY), *INIT_ARGS]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=600)
    if proc.returncode != 0:
        raise SystemExit(f"init failed ({proc.returncode}): {proc.stdout[-2000:]}")
    done.touch()
    return store


def cli(run: Run, argv: list[str]) -> tuple[int, dict]:
    """One CLI job through `run(args, spark)`; returns its exit code and
    the JSON it printed."""
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        rc = run.prog.cli.run(run.prog.cli.build_parser().parse_args(argv), run.spark)
    lines = [ln for ln in out.getvalue().splitlines() if ln.startswith("{")]
    return rc, json.loads(lines[-1]) if lines else {}


def households(fx: Path) -> int:
    import duckdb
    from propensity_spark.operators.relational import SILVER_SQL
    from tools.local_verify import make_duck_views

    con = duckdb.connect()
    make_duck_views(con, str(fx))
    n = con.execute(f"SELECT count(DISTINCT household_key) FROM ({SILVER_SQL})").fetchone()[0]
    con.close()
    return n


def pipeline_checks(run: Run, fx: Path, base: Path, day, daily) -> None:
    from tools.local_verify import hash_lines, spark_canon_lines

    if not run.check(daily is not None, "the daily job raised"):
        return
    rc, out = daily
    run.check(rc == 0, f"daily exit code {rc}")
    manifest = [r.asDict() for r in run.spark.read.parquet(str(base / "manifest")).collect()]
    run.check(len(manifest) == 1, f"manifest has {len(manifest)} rows, expected 1")
    run.check(all(r["stage"] == "Production" for r in manifest), f"manifest stages {manifest}")
    for grain, result in (out.get("validation") or {}).items():
        run.check(result.get("failed_expectations") == 0, f"{grain} expectations {result}")
    pm = out.get("publish_metrics") or {}
    run.check(pm.get("n_out_of_range") == 0, f"publish n_out_of_range {pm}")
    run.check(pm.get("n_null") == 0, f"publish n_null {pm}")
    want = households(fx) * len(manifest)
    run.check(pm.get("n_scores") == want, f"n_scores {pm.get('n_scores')} vs {want}")
    published = run.spark.read.parquet(out["published"][0])
    observed = {
        "aupr": {r["commodity_desc"]: r["metric_aupr"] for r in manifest},
        "unpivoted_hash": hash_lines(spark_canon_lines(published)),
    }
    # Determinism across runs of this checkout: the first run of a day
    # records what the job produced, later runs must reproduce it.
    expect = WORK / "expect" / f"pipeline-{day}.json"
    if expect.exists():
        recorded = json.loads(expect.read_text())
        for key, value in observed.items():
            run.check(recorded[key] == value, f"{key} {value} differs from {recorded[key]}")
    else:
        expect.parent.mkdir(parents=True, exist_ok=True)
        expect.write_text(json.dumps(observed))


def pipeline_workload(run: Run, seed: int, seconds: float, names: list[str]) -> dict:
    fx = fixture.build(WORK / "data", PIPELINE_SF, DATA_SEED)
    store = ensure_init_store(fx)
    day = INIT_DAY + datetime.timedelta(days=random.Random(seed).randint(1, 3))
    setups = run.setups(fx)
    walls, cpus, jobs = [], [], []
    t_end = time.perf_counter() + seconds
    while not walls or (time.perf_counter() < t_end and not run.trace):
        # a fresh copy per job: on a reused store the day's features
        # are already materialized and the job skips them
        base = WORK / "runs" / f"{os.getpid()}-{len(walls)}"
        shutil.rmtree(base, ignore_errors=True)
        shutil.copytree(store, base)
        argv = ["daily", "--sf-dir", str(fx), "--base", str(base), "--day", str(day)]
        c0 = run.cpu()
        with run.span("root", "iteration"), Stopwatch() as sw:
            jobs.append((base, run.op(lambda: cli(run, argv), "daily")))
        walls.append(sw)
        cpus.append(run.cpu() - c0)
    t0 = time.perf_counter()
    with run.span("root", "check"):
        for base, daily in jobs:
            pipeline_checks(run, fx, base, day, daily)
    run.check_s = time.perf_counter() - t0
    if run.tracer is not None:
        # the day is new to the prepared store: the job computes all
        # three feature grains, none is skipped
        calls = [s.result for s in run.tracer.spans if s.name == "FeatureTable.has_day"]
        run.check(calls == [False] * 3, f"has_day results {calls}")
    return {"setups": setups, "walls": walls, "cpus": cpus, "day": str(day)}


WORKLOADS = {"pipeline": pipeline_workload, "ops": ops_workload}


def execute(workload: str, seed: int, seconds: float,
            tracer: tracing.Tracer | None = None, names: list[str] = OPS_QUERIES) -> dict:
    """One benchmark run. Returns the result object (the run's last
    output line) with the run's settings and details under "side".
    `tracer` turns tracing on; `names` is the ops query list."""
    prepare_env()
    prog = Program()
    # build everything the workloads share, so the first run of a
    # checkout carries the whole build
    ensure_init_store(fixture.build(WORK / "data", PIPELINE_SF, DATA_SEED))
    fixture.build(WORK / "data", OPS_SF, DATA_SEED)
    if tracer is not None and not tracer.installed:
        tracing.install(tracer)
    run = Run(prog, workload, tracer)
    out = WORKLOADS[workload](run, seed, seconds, names)
    side = {"workload": workload, "seed": seed, "config": run.config(),
            "check_s": run.check_s}
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    run.check(side["config"]["defaultParallelism"] == cpus, f"session is not local[{cpus}]")
    for key in ("setups", "walls"):
        side[f"{key}_wall_s"] = [sw.wall for sw in out[key]]
        side[f"{key}_steal_share"] = [sw.steal_share for sw in out[key]]
    if run.trace:
        side["traced_iteration_s"] = out["walls"][0].seconds
        metrics = traced_metrics(run, side)
    else:
        metrics = {
            "setup_s": (statistics.median(sw.seconds for sw in out["setups"]), "s"),
            "iteration_s": (statistics.median(sw.seconds for sw in out["walls"]), "s"),
            "cpu_s": (statistics.median(out["cpus"]), "s"),
        }
        side["peak_rss_mb"] = peak_rss_mb(run.jvm_pid())
    side.update({k: out[k] for k in ("day", "query_s") if k in out})
    run.spark.stop()
    shutil.rmtree(WORK / "runs", ignore_errors=True)
    side["problems"] = run.problems[:20]
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "side": side,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # find_spec locates the package without importing it: session.py
    # reads SPARK_GRAFT_CPUS at import, after prepare_env has set it
    if importlib.util.find_spec("propensity_spark") is None:
        print(f"perfbench: no propensity_spark package under {ROOT}", file=sys.stderr)
        return 2
    tracer = tracing.Tracer() if args.trace else None
    try:
        result = execute(args.workload, args.seed, args.seconds, tracer)
    finally:
        stop_jvm()
    print(json.dumps(result.pop("side"), default=str))
    print(json.dumps(result))
    return 0


def stop_jvm() -> None:
    """End the JVM PySpark launched and wait for it: it exits when its
    stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def traced_metrics(run: Run, side: dict) -> dict:
    """Stop the session (which finalizes the event log), join it with
    the spans and return every per-layer metric of the iteration."""
    app = run.spark.sparkContext.applicationId
    run.spark.stop()
    jobs = tracing.parse_event_log(WORK / "eventlog" / app)
    spans = run.tracer.spans
    attributed, total, lost = tracing.coverage(spans, jobs)
    run.check(not lost, f"jobs attributed to no span: {lost[:10]}")
    run.check(abs(attributed - total) < 1e-6, f"attributed exec {attributed} vs log {total}")
    root = next(s.id for s in spans if s.layer == "root" and s.name == "iteration")
    values = tracing.layer_metrics(spans, jobs, root)
    # the session is created before the iteration, in the setup span
    values["session.self_s"] = sum(s.end - s.start for s in spans if s.layer == "session")
    side["event_log_exec_s"] = total
    shutil.rmtree(WORK / "eventlog", ignore_errors=True)
    return {k: (v, tracing.unit(k.rsplit(".", 1)[1])) for k, v in values.items()}


if __name__ == "__main__":
    sys.exit(main())
