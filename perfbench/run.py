"""Pipeline benchmark: one workload, one seed, one fresh Spark driver.

    python3 perfbench/run.py --workload build_models --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates the workload's inputs
from the seed, starts the engine's session on ``local[$(nproc)]``, runs
one cold pass over the workload's registry queries and then steady passes
until ``--seconds`` have been measured (at least one), checks every
result, and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` loads the
registry, wraps the layers' public functions and rebinds every name the
package imported from them, enables Spark's event log, runs the cold pass
untraced and one traced pass, and reports the per-layer metrics of that
traced pass.

Everything the run writes -- inputs, Spark scratch, stream checkpoints,
the event log and the spans -- goes under ``.perfbench_work/`` in the
current directory, which is wiped at the start of each run.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(os.getcwd(), ".perfbench_work")
CHECKED_TABLES = ("documents", "embeddings", "events")
# leave room under the 180 s per-run limit before starting another pass
PASS_DEADLINE_S = 150.0


def _prepare_env(trace: bool) -> None:
    """Point every scratch location of Python, the JVM and the engine at
    the work dir, and size the session. Must run before pyspark loads."""
    shutil.rmtree(WORK, ignore_errors=True)
    dirs = {k: os.path.join(WORK, k) for k in
            ("tmp", "local", "stream_ckpt", "ckpt", "materialize", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_GRAFT_STREAM_CKPT_DIR"] = dirs["stream_ckpt"]
    os.environ["SPARK_GRAFT_CHECKPOINT_DIR"] = dirs["ckpt"]
    os.environ["SPARK_GRAFT_MATERIALIZE_DIR"] = dirs["materialize"]
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # both JVMs (spark-submit's launcher and the driver): temp files in the
    # work dir, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    conf = {"spark.sql.warehouse.dir": dirs["warehouse"]}
    if trace:
        # Spark 4.1 rolls and compresses event logs by default
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + dirs["eventlog"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) + " pyspark-shell"


def _root_cause(exc: BaseException) -> str:
    """One line: the deepest Java cause for a Py4J error, else the Python
    exception itself."""
    java = getattr(exc, "java_exception", None)
    if java is not None:
        cause = java
        while cause.getCause() is not None:
            cause = cause.getCause()
        return f"{cause.getClass().getName()}: {cause.getMessage()}"
    return f"{type(exc).__name__}: {exc}".splitlines()[0]


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _process_tree() -> list[int]:
    """This process and every live descendant (the JVM and its Python
    workers)."""
    children: dict[int, list[int]] = {}
    for pid_s in os.listdir("/proc"):
        if pid_s.isdigit():
            try:
                with open(f"/proc/{pid_s}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(pid_s))
    out, stack = [], [os.getpid()]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


class Runner:
    def __init__(self, spark, registry, workload, data_dir, docs, oracle, tracer) -> None:
        self.spark = spark
        self.registry = registry
        self.workload = workload
        self.data_dir = data_dir
        self.docs = docs
        self.oracle = oracle
        self.tracer = tracer
        self.reference: dict[str, str] = {}
        self.attempted = 0
        self.failed = 0

    def _check(self, name: str, pdf) -> str | None:
        from perfbench.check import invariant_errors, value_hash

        got = value_hash(pdf)
        sql = self.registry.ORACLE_SQL.get(name)
        if sql is not None:
            want = self.oracle.expected(name, sql)
            return None if got == want else "value hash differs from the DuckDB oracle"
        errs = invariant_errors(name, pdf, self.docs)
        if errs:
            return "; ".join(errs)
        ref = self.reference.setdefault(name, got)
        return None if got == ref else "value hash differs from the first pass"

    def run_pass(self, label: str) -> tuple[float, float]:
        """One pass over the workload; returns (wall_s, cpu_s)."""
        from bench import proc_tree_cpu_s

        def execute(name: str):
            # toPandas, not a noop sink: every column is computed either way,
            # and the rows are what the checks need
            return self.registry.QUERIES[name](self.spark, self.data_dir).toPandas()

        c0, wall = proc_tree_cpu_s(), 0.0
        for name in self.workload.queries:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                if self.tracer is None:
                    pdf = execute(name)
                else:
                    pdf = self.tracer.run_query(name, execute, name)
            except Exception as exc:  # a failed query is a result, not a crash
                wall += time.perf_counter() - t0
                self.failed += 1
                print(f"# FAILED {name} ({label}): {_root_cause(exc)}", file=sys.stderr)
                traceback.print_exc(file=sys.stderr)
                continue
            dt = time.perf_counter() - t0
            wall += dt
            problem = self._check(name, pdf)
            if problem:
                self.failed += 1
                print(f"# WRONG {name} ({label}): {problem}", file=sys.stderr)
            print(f"# {label} {name}: {dt:.3f}s {len(pdf)} rows", file=sys.stderr)
        return wall, proc_tree_cpu_s() - c0

    def reset_caches(self) -> None:
        """Drop what earlier passes persisted, blocking, outside any timed
        window (same rule as bench.py: every pass pays its own cost)."""
        self.spark.catalog.clearCache()
        for jrdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            jrdd.unpersist(True)


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    workload = WORKLOADS[args.workload]
    trace = bool(args.trace)
    _prepare_env(trace)

    import bench  # host helpers; bench.py is imported, never edited

    from perfbench.gen import generate

    t_pre = time.perf_counter()
    load1 = os.getloadavg()[0]
    canary_s = bench.host_canary_s(best_of=1)
    stat0 = bench.read_proc_stat()
    data_dir = os.path.join(WORK, "data", args.workload)
    props = generate(data_dir, workload.shape, args.seed)
    not_setup = time.perf_counter() - t_pre
    print("# inputs " + json.dumps(props), file=sys.stderr)

    # -- set-up: session, registry (and wrappers when tracing), first job --
    t_sess = time.perf_counter()
    from ml_training_data_pipeline_spark.session import get_spark

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    spark = get_spark("perfbench", shuffle_partitions=cpus)
    session_s = time.perf_counter() - t_sess
    from ml_training_data_pipeline_spark.plans import registry

    tracer = None
    if trace:
        from perfbench.trace import Tracer

        tracer = Tracer(spark.sparkContext)
        tracer.install()
    else:
        registry._load_all()
    spark.range(1000).selectExpr("sum(id)").collect()
    setup_s = time.perf_counter() - T_START - not_setup

    from perfbench.check import Oracle

    oracle = Oracle(data_dir, CHECKED_TABLES)
    runner = Runner(spark, registry, workload, data_dir, props["measured"]["docs"],
                    oracle, tracer)
    cold_wall, _ = runner.run_pass("cold")
    walls: list[float] = []
    cpus_s: list[float] = []
    if trace:
        runner.reset_caches()
        tracer.enabled = True
        w0 = time.time()
        runner.run_pass("traced")
        window = (w0, time.time())
        tracer.enabled = False
    else:
        t_meas = time.perf_counter()
        while not walls or (
            time.perf_counter() - t_meas < args.seconds
            and time.perf_counter() - T_START + max(walls) < PASS_DEADLINE_S
        ):
            runner.reset_caches()
            wall, cpu = runner.run_pass(f"pass{len(walls) + 1}")
            walls.append(wall)
            cpus_s.append(cpu)
    hwm_mb = {pid: _status_kb(pid, "VmHWM") / 1024.0 for pid in _process_tree()}
    peak_rss = sum(hwm_mb.values())
    steal = bench.steal_pct(stat0, bench.read_proc_stat())
    host = {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": cpus,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "loadavg_1m": round(load1, 3),
        "steal_pct": steal,
        "steal_over_gate": steal > bench.REP_STEAL_GATE,
        "canary_s": canary_s,
        "vmhwm_mb": sorted((round(v) for v in hwm_mb.values()), reverse=True),
    }
    print("# host " + json.dumps(host), file=sys.stderr)
    oracle.close()
    _stop_spark(spark)

    if trace:
        from perfbench.eventlog import read_dir
        from perfbench.metrics import layer_metrics, per_layer_names

        values = layer_metrics(tracer.spans, read_dir(os.path.join(WORK, "eventlog")),
                               tracer.counter_values(), window)
        values["session.start_s"] = session_s
        values["trace.overhead_s"] = tracer.overhead_s
        with open(os.path.join(WORK, "spans.json"), "w") as fh:
            json.dump([vars(sp) for sp in tracer.spans], fh)
        metrics = {n: {"value": values[n], "unit": u} for n, u in per_layer_names()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "cold_wall_s": {"value": cold_wall, "unit": "s"},
            "wall_s": {"value": statistics.median(walls), "unit": "s"},
            "cpu_s": {"value": statistics.median(cpus_s), "unit": "CPU-s"},
            "peak_rss_mb": {"value": peak_rss, "unit": "MB"},
            "ok_ratio": {"value": 1 - runner.failed / runner.attempted, "unit": "ratio"},
        }
        print(f"# passes {len(walls)}: walls {[round(w, 3) for w in walls]}", file=sys.stderr)
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
