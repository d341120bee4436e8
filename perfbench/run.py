#!/usr/bin/env python3
"""Benchmark of the sports-betting analytics engine.

    python3 perfbench/run.py --workload betting_sql --seed 1 --seconds 10 --trace 0

One process per run, ``local[<nproc>]``, a closed loop with one client:
operations run one after another with no think time, the cache cleared
before each. A run is: set-up (session and first job), one cold pass
whose results are collected and checked, then warm passes with the noop
action until ``--seconds`` have been measured (at least the workload's
``measured_passes``). The catalog tables
are the repository's test tables under ``perfbench/data``; the seed
generates the betting tree and shuffles the operation order of every
pass.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` turns on job
groups, the event log and a streaming listener and prints the per-layer
metrics instead (see README.md). The last stdout line is the result
JSON; the full record, with the run context, is written under
``perfbench/work/results/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
DATA = os.path.join(HERE, "data")
PACKAGE = "sports_betting_data_pipeline_spark"

# Tables under perfbench/data, and events per tree refresh, of a smoke
# run (the self-test); a real run reads sf0.1 and the workload's tree.
SMOKE_TABLES, SMOKE_TREE_EVENTS = "sf0.001", 20
TAIL_BEYOND = 10  # samples the tail percentile must leave above it

END_TO_END_UNITS = {
    "setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "query_p50_s": "s",
    "query_tail_s": "s", "heap_live_mb": "MB",
}
# Reported, and stored in the record, only by workloads with tree refreshes.
REFRESH_UNITS = {"rows_per_s": "1/s"}


def _cpus() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def _since_process_start() -> float:
    """Seconds since this process started (Linux /proc clock)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def tail_percentile(n_samples: int) -> int:
    """Highest whole percentile leaving at least TAIL_BEYOND samples
    above it, but not below the median: with fewer than 2 * TAIL_BEYOND
    samples there is no tail to report and the median stands in."""
    return max(50, (100 * (n_samples - TAIL_BEYOND)) // n_samples)


def percentile(values: list[float], pct: int) -> float:
    """Nearest-rank percentile."""
    ordered = sorted(values)
    rank = max(1, -(-pct * len(ordered) // 100))
    return ordered[rank - 1]


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def heap_live_mb(spark) -> float:
    """What the run left reachable on the driver heap (memory-sink
    tables, listeners, status stores): heap in use after full
    collections. The last operation's frames are released first (Python
    proxies, then the broadcasts that Spark's cleaner drops once their
    owners are collected), so the figure does not depend on which
    operation ran last."""
    import gc

    gc.collect()
    spark.catalog.clearCache()
    system = spark.sparkContext._jvm.java.lang.System
    for _ in range(3):
        system.gc()
        time.sleep(0.2)
    mem = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return mem.getHeapMemoryUsage().getUsed() / (1024.0 * 1024.0)


def _git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=False,
        )
    except OSError:
        return None
    return out.stdout.strip() or None


def verify_tables(sf_dir: str) -> str:
    """Check every table under ``sf_dir`` against its ``SHA256SUMS``;
    return the digest of that manifest, which names the input."""
    with open(os.path.join(sf_dir, "SHA256SUMS"), "rb") as fh:
        manifest = fh.read()
    for line in manifest.decode().splitlines():
        digest, name = line.split()
        with open(os.path.join(sf_dir, name), "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != digest:
                raise ValueError(f"{sf_dir}/{name} does not match SHA256SUMS")
    return hashlib.sha256(manifest).hexdigest()


class Inputs:
    """The inputs of one run: the test tables and the seeded tree."""

    def __init__(self, seed: int, workload, smoke: bool) -> None:
        import gen

        self.tables = SMOKE_TABLES if smoke else "sf0.1"
        self.sf_dir = os.path.join(DATA, self.tables)
        self.tables_sha256 = verify_tables(self.sf_dir)
        self.events_per_refresh = SMOKE_TREE_EVENTS if smoke else workload.events_per_refresh
        self.tree = gen.make_tree(seed, workload.refreshes, self.events_per_refresh)
        self.tree_rows = sum(gen.tree_rows(t) for t in self.tree)
        self.spool_dir = os.path.join(WORK, "spool", str(os.getpid()))


def _prepare_environment() -> None:
    """Point the engine, its Python workers and every scratch path at
    the checkout before the JVM starts."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers are forked by the JVM and inherit this environment;
    # without the checkout on their path, UDF-bearing plans raise
    # ModuleNotFoundError for the engine package.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    if HERE not in sys.path:
        sys.path.insert(0, HERE)


class Runner:
    """One benchmark run: set-up, cold pass, warm passes, teardown."""

    def __init__(self, args) -> None:
        self.args = args
        self.records: list[dict] = []
        self.failures: dict[str, str] = {}
        self.rows: dict[str, int] = {}
        self.sink_tables: dict[int, int] = {}
        self.phases = None
        self.collected: list[tuple] = []  # (op, record, output) of the cold pass
        self.check_s = 0.0

    # -- set-up ----------------------------------------------------------
    def setup(self) -> None:
        from sports_betting_data_pipeline_spark.session import get_spark

        import tracing
        import workloads

        self.workload = workloads.WORKLOADS[self.args.workload]
        self.ops = workloads.operations(self.args.workload)
        self.inputs = Inputs(self.args.seed, self.workload, self.args.smoke)

        cpus = _cpus()
        java_opts = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
        }
        if self.args.trace:
            self.event_dir = os.path.join(WORK, "eventlog")
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update(tracing.EVENT_LOG_CONF)
            conf["spark.eventLog.dir"] = "file:" + self.event_dir
        t0 = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{self.args.workload}",
            master=f"local[{cpus}]",
            shuffle_partitions=cpus,
            extra_conf=conf,
        )
        self.session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()  # the engine's first job
        self.setup_s = time.perf_counter() - t0
        self.spark = spark
        if self.args.trace:
            self.phases = tracing.PhaseLog()
            self.spark.streams.addListener(tracing.ProgressListener(self.phases))

    # -- operations ------------------------------------------------------
    def _phase(self, key, fn, *args):
        """Run one phase; in traced runs under its own job group."""
        if self.phases is None:
            return fn(*args)
        import tracing

        sc = self.spark.sparkContext
        sc.setJobGroup(tracing.group_id(key), key[1])
        self.phases.opened(key)
        start = int(time.time() * 1000)
        try:
            return fn(*args)
        finally:
            self.phases.closed(key, start, int(time.time() * 1000))
            sc.setLocalProperty("spark.jobGroup.id", None)

    def run_op(self, op, pass_no: int, collect: bool) -> None:
        from workloads import Spans

        self.spark.catalog.clearCache()
        spans = Spans()
        rec = {"op": op.name, "pass": pass_no}
        try:
            t0 = time.perf_counter()
            built = self._phase((pass_no, op.name, "construct"), op.construct, self.spark, self.inputs, spans)
            t1 = time.perf_counter()
            result = self._phase((pass_no, op.name, "exec"), op.execute, built, self.inputs, spans, collect)
            t2 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 - a failing operation is counted, not fatal
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
            self.failures.setdefault(op.name, rec["error"])
            self.records.append(rec)
            return
        rec.update(construct_s=t1 - t0, exec_s=t2 - t1, latency_s=t2 - t0)
        result = op.output(result, spans)
        if collect:
            self.rows[op.name] = len(result)
            self.collected.append((op, rec, result))
        rec["spans"] = spans.seconds
        rec["counts"] = spans.counts
        self.records.append(rec)

    def run_pass(self, pass_no: int, rng: random.Random) -> float:
        """Run every operation once. The cold pass keeps the workload's
        order, so the operation that absorbs the first-use cost is the
        same in every run; later passes are shuffled by the seed."""
        order = list(self.ops)
        if pass_no > 0:
            rng.shuffle(order)
        t0 = time.perf_counter()
        for op in order:
            self.run_op(op, pass_no, collect=pass_no == 0)
        if self.phases is not None:
            self.sink_tables[pass_no] = len(self.spark.catalog.listTables())
        return time.perf_counter() - t0

    def measure(self) -> None:
        rng = random.Random(self.args.seed)
        self.run_pass(0, rng)
        self.measured: list[int] = []
        self.measured_s = 0.0
        while len(self.measured) < self.workload.measured_passes or self.measured_s < self.args.seconds:
            pass_no = 1 + len(self.measured)
            self.measured_s += self.run_pass(pass_no, rng)
            self.measured.append(pass_no)

    def check_outputs(self) -> None:
        """Check the cold pass's outputs. Runs after teardown, so neither
        the oracle work nor its memory lands in a measurement."""
        from sports_betting_data_pipeline_spark.plans import ORACLES

        from check import Checker

        t0 = time.perf_counter()
        checker = Checker(ROOT, self.inputs.sf_dir, ORACLES)
        try:
            for op, rec, output in self.collected:
                ok, why = op.check(checker, self.inputs, output)
                rec["check"] = ok
                if not ok:
                    self.failures.setdefault(op.name, why)
        finally:
            checker.close()
        self.collected = []
        self.check_s = time.perf_counter() - t0

    def teardown(self) -> None:
        """Stop Spark and its JVM and wait for it, then read the event log."""
        from pyspark import SparkContext

        sc = self.spark.sparkContext
        gateway = SparkContext._gateway
        jvm_pid = gateway.proc.pid
        self.jvm_rss_mb = _vm_hwm_mb(jvm_pid)
        self.python_rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        self.peak_rss_mb = self.jvm_rss_mb + self.python_rss_mb
        mem = sc._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        self.heap_committed_mb = mem.getHeapMemoryUsage().getCommitted() / (1024.0 * 1024.0)
        self.heap_live_mb = heap_live_mb(self.spark)
        self.app_id = sc.applicationId
        self.shuffle_partitions = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        self.pyspark_version = sc.version
        sc.setLogLevel("OFF")
        self.spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
        shutil.rmtree(self.inputs.spool_dir, ignore_errors=True)

    # -- results ---------------------------------------------------------
    def _ok(self, pass_no: int | None = None) -> list[dict]:
        return [
            r for r in self.records
            if "error" not in r and (pass_no is None or r["pass"] == pass_no)
        ]

    def end_to_end(self) -> dict[str, float]:
        self.tail_pct = tail_percentile(len(self.ops) * self.workload.measured_passes)
        latencies = [r["latency_s"] for r in self._ok() if r["pass"] in self.measured]
        return {
            "setup_s": self.setup_s,
            "cold_pass_s": sum(r["latency_s"] for r in self._ok(0)),
            "pass_s": sum(op_best(self.records, self.measured).values()),
            "query_p50_s": percentile(latencies, 50),
            "query_tail_s": percentile(latencies, self.tail_pct),
            "heap_live_mb": self.heap_live_mb,
        }

    def refresh_metrics(self) -> dict[str, float]:
        if not self.workload.refreshes:
            return {}
        return {"rows_per_s": rows_per_s(self._ok(), self.measured)}

    def per_layer(self) -> dict[str, float]:
        import tracing

        path = os.path.join(self.event_dir, self.app_id)
        with open(path) as fh:
            counters = tracing.parse_event_log(fh, self.phases)
        os.remove(path)
        metrics = layer_metrics(
            self.records, counters, self.phases, self.sink_tables,
            self.measured, _cpus(),
        )
        metrics["driver.peak_rss_mb"] = self.peak_rss_mb
        return metrics

    def context(self) -> dict:
        return {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "trace": self.args.trace,
            "cpus": _cpus(),
            "nproc": os.cpu_count(),
            "master": f"local[{_cpus()}]",
            "input": {"tables": self.inputs.tables, "sha256": self.inputs.tables_sha256},
            "tree": {
                "refreshes": self.workload.refreshes,
                "events_per_refresh": self.inputs.events_per_refresh,
                "rows": self.inputs.tree_rows,
            },
            "shuffle_partitions": self.shuffle_partitions,
            "pyspark": self.pyspark_version,
            "git_commit": _git_commit(),
            "seconds": self.args.seconds,
            "ops": [op.name for op in self.ops],
        }


def op_best(records: list[dict], passes: list[int]) -> dict[str, float]:
    """Each operation's best warm latency (construct + exec) over ``passes``.

    Two delays only ever add to an operation's latency: other tenants of
    a shared host slow the whole machine in bursts of a few seconds, and
    a process that starts on a busy host warms its JIT more slowly, so
    its first warm passes run long. Both vary from run to run; the
    fastest of an operation's samples is the one least touched by
    them."""
    by_op: dict[str, list[float]] = {}
    for r in records:
        if r["pass"] in passes and "error" not in r:
            by_op.setdefault(r["op"], []).append(r["construct_s"] + r["exec_s"])
    return {op: min(v) for op, v in by_op.items()}


def rows_per_s(records: list[dict], passes: list[int]) -> float:
    """Sheet rows landed per second of tree refresh (source -> flatten
    -> sink), at each refresh operation's best warm latency."""
    refresh = [r for r in records if r["op"].startswith("refresh_") and r["pass"] in passes]
    rows = {r["op"]: r["counts"]["sinks.rows"] for r in refresh if "error" not in r}
    return sum(rows.values()) / sum(op_best(refresh, passes).values())


def layer_metrics(records, counters, phases, sink_tables, passes, cpus) -> dict[str, float]:
    """Per-layer metrics of a traced run: per measured pass, median over passes."""
    import tracing

    per_pass = []
    for p in passes:
        recs = [r for r in records if r["pass"] == p and "error" not in r]

        def spans(layer, recs=recs):
            return sum(r["spans"].get(layer, 0.0) for r in recs)

        def counts(name, recs=recs):
            return sum(r["counts"].get(name, 0.0) for r in recs)

        def phase_sum(field, phase, p=p):
            return sum(
                c.get(field, 0.0) for k, c in counters.items()
                if k[0] == p and (phase is None or k[2] == phase)
            )

        construct_s = sum(r["construct_s"] for r in recs)
        exec_s = sum(r["exec_s"] for r in recs)
        construct_job_s = phase_sum("job_s", "construct")
        task_s = phase_sum("task_s", "exec")
        stages = [
            durs for k, c in counters.items() if k[0] == p and k[2] == "exec"
            for durs in c.get("stage_task_s", [])
        ]
        progress = [pr for key, pr in phases.progress if key is not None and key[0] == p]
        last_state: dict[str, dict] = {}
        for pr in progress:
            last_state[pr["run_id"]] = pr
        per_pass.append({
            "plans.construct_s": construct_s,
            "plans.construct_jobs": phase_sum("jobs", "construct"),
            "plans.construct_job_s": construct_job_s,
            "plans.analysis_s": max(0.0, construct_s - construct_job_s),
            "operators.exec_s": exec_s,
            "operators.jobs": phase_sum("jobs", "exec"),
            "operators.stages": phase_sum("stages", "exec"),
            "operators.tasks": phase_sum("tasks", "exec"),
            "operators.task_s": task_s,
            "operators.gc_s": phase_sum("gc_s", "exec"),
            "operators.shuffle_read_b": phase_sum("shuffle_read_b", "exec"),
            "operators.shuffle_write_b": phase_sum("shuffle_write_b", "exec"),
            "operators.spill_b": phase_sum("spill_b", "exec"),
            "operators.task_skew": tracing.task_skew(stages),
            "operators.core_util": task_s / (exec_s * cpus) if exec_s else 0.0,
            "operators.flatten_build_s": spans("operators.flatten_build_s"),
            "io.scan_b": phase_sum("scan_b", None),
            "io.scan_rows": phase_sum("scan_rows", None),
            "io.write_b": phase_sum("write_b", None),
            "functions.py_run_s": phase_sum("py_run_ms", None) / 1000.0,
            "functions.py_init_s": phase_sum("py_init_ms", None) / 1000.0,
            "functions.py_bytes_sent": phase_sum("py_bytes_sent", None),
            "functions.py_bytes_returned": phase_sum("py_bytes_returned", None),
            "streaming.drains": sum(1 for k in phases.run_phase.values() if k[0] == p),
            "streaming.batches": len(progress),
            "streaming.input_rows": sum(pr["input_rows"] for pr in progress),
            "streaming.trigger_s": sum(pr["trigger_ms"] for pr in progress) / 1000.0,
            "streaming.add_batch_s": sum(pr["add_batch_ms"] for pr in progress) / 1000.0,
            "streaming.planning_s": sum(pr["planning_ms"] for pr in progress) / 1000.0,
            "streaming.log_s": sum(pr["log_ms"] for pr in progress) / 1000.0,
            "streaming.state_commit_s": sum(pr["state_commit_ms"] for pr in progress) / 1000.0,
            "streaming.state_rows": sum(pr["state_rows"] for pr in last_state.values()),
            "streaming.state_mem_b": sum(pr["state_mem_b"] for pr in last_state.values()),
            "streaming.sink_tables_left": sink_tables.get(p, 0),
            "sources.snapshot_s": spans("sources.snapshot_s"),
            "sources.records": counts("sources.records"),
            "sinks.append_s": sum(r["exec_s"] for r in recs if r["op"].startswith("refresh_")),
            "sinks.rows": counts("sinks.rows"),
            "sinks.parts": counts("sinks.parts"),
            "sinks.bytes": counts("sinks.bytes"),
        })
    metrics = {name: statistics.median(pp[name] for pp in per_pass) for name in per_pass[0]}
    metrics["trace.pass_s"] = sum(op_best(records, passes).values())
    return metrics


LAYER_UNITS = {
    "_s": "s", "_mb": "MB", "_b": "B", "bytes": "B", "_bytes_sent": "B", "_bytes_returned": "B",
    "task_skew": "ratio", "core_util": "ratio",
}


def layer_unit(name: str) -> str:
    for suffix, unit in LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help=f"read the {SMOKE_TABLES} tables and a {SMOKE_TREE_EVENTS}-event tree (self-test)")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ beside perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    _prepare_environment()
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    runner = Runner(args)
    runner.setup()
    try:
        runner.measure()
    finally:
        runner.teardown()
    runner.check_outputs()
    metrics = runner.per_layer() if args.trace else runner.end_to_end()
    units = {m: (layer_unit(m) if args.trace else END_TO_END_UNITS[m]) for m in metrics}
    refresh = {} if args.trace else runner.refresh_metrics()
    attempted = len(runner.records)
    failed = sum(1 for r in runner.records if "error" in r or r.get("check") is False)
    record = {
        "context": runner.context(),
        "metrics": {**metrics, **refresh},
        "units": {**units, **{m: REFRESH_UNITS[m] for m in refresh}},
        "attempted": attempted,
        "failed": failed,
        "failed_frac": failed / attempted,
        "failures": runner.failures,
        "tail_percentile": runner.tail_pct if not args.trace else None,
        "tail_samples": sum(1 for r in runner._ok() if r["pass"] in runner.measured),
        "measured_passes": runner.measured,
        "measured_s": runner.measured_s,
        "check_s": runner.check_s,
        "setup_session_s": runner.session_s,
        "memory_mb": {
            "jvm_peak_rss": runner.jvm_rss_mb, "python_peak_rss": runner.python_rss_mb,
            "heap_live": runner.heap_live_mb, "heap_committed": runner.heap_committed_mb,
        },
        "run_s": _since_process_start(),
        "rows": runner.rows,
        "operations": runner.records,
    }
    out_dir = os.path.join(WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    out_path = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(out_path, "w") as fh:
        json.dump(record, fh, indent=1)
    for name, value in record["metrics"].items():
        print(f"{name:32s} {value:16.6f} {record['units'][name]}")
    print(f"failed_frac {record['failed_frac']:.4f} ({failed}/{attempted}); "
          f"{len(runner.measured)} measured passes; record -> {os.path.relpath(out_path, ROOT)}")
    for name, why in runner.failures.items():
        print(f"FAILED {name}: {why}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m: {"value": v, "unit": units[m]} for m, v in metrics.items()},
    }))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
