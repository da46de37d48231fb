#!/usr/bin/env python3
"""The engine's benchmark: closed-loop workloads with output checks.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Workloads (one client each, Spark as
local[nproc]):

- `headline_sf0.01`: passes over the 11 headline queries of
  `queries/` on the repository's fixed sf0.01 test data, each query
  materialized with a noop write; the seed permutes the order of each
  pass. Catalyst, Spark execution and `queries`/`operators` do the
  work; `client`, `dialect` and the HTTP transport do none.
- `client_arrow_http`: the client path the paper is about. Arrow
  batches out of and into `Client` (select at 10k/100k/400k rows,
  insert, insert_many, insert_batches, ClickHouse-dialect statements)
  and the HTTP ArrowStream path against `ArrowHttpStub` running in its
  own process (transport select/insert with and without lz4, DSv2
  `read_remote`/`insert_remote`). `operators` do no work here. Its
  reference-schema tables are generated from the seed.

Each run sets up several times (session, tables, stand-in server) and
reports the median, runs one cold pass, then a fixed number of steady
passes (`--seconds` over the workload's nominal pass time, at least
one). Outputs are checked outside the timed regions, in a checker
process of their own: query results against the DuckDB oracle SQL of
each `QuerySpec`, reads and read-backs of every write against their
source rows. A wrong output makes the run exit with code 1 after
printing its result. Registered known defects (a named op failing in
exactly the registered way) are reported and counted in
`known_defects` and `failed_ops`, not as wrong outputs.

End-to-end metrics (BENCHMARK.json, gated): `setup_s`, the CPU seconds
of one set-up (median); `pass_cpu_s`, the CPU seconds the driver, the
JVM and the Python workers spend on one steady pass (median); both
leave out the JVM's JIT compiler threads (measure.tree_cpu_seconds).
`python_rss_mb`, the peak resident memory of the driver and the Python
workers. Wall-clock times (`pass_s`, `cold_pass_s`, `setup_wall_s`),
the per-op rates and `peak_rss_mb`, which adds the JVM, are in the
report: on a shared 4-core VM, time stolen by the hypervisor moved
wall-clock pass times by more than 25% from run to run, CPU time less,
and the JVM's peak resident memory follows its garbage collector's heap
sizing, which moved it between 1.3 and 2.1 GB over ten runs of one
workload.

The last line of stdout is one JSON object: with `--trace 0` the
end-to-end metrics, with `--trace 1` the per-layer metrics, which the
traced run measures by splitting calls into their public parts and
reading Spark's status store. The lines before it are a readable report
with every metric, its unit and sample count, and the machine context
of the run (core count, memory, load, hypervisor steal, versions).
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
import warnings

from measure import read_file

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: load average above which a run is flagged as started on a busy machine
#: (the same threshold as bench.py's wait_for_quiet; this run does not wait)
QUIET_LOAD = 0.5


def steal_seconds() -> float:
    """CPU time the hypervisor gave to others, all CPUs (/proc/stat)."""
    fields = read_file("/proc/stat").split("\n", 1)[0].split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def machine_context(seed: int, cpus: int, driver_mem: str) -> dict:
    load = os.getloadavg()
    versions = {}
    for mod in ("pyspark", "pyarrow", "duckdb", "numpy"):
        try:
            versions[mod] = __import__(mod).__version__
        except ImportError:
            versions[mod] = None
    try:
        out = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        ).stderr
        java = next((line for line in out.splitlines() if "version" in line), None)
    except (OSError, subprocess.SubprocessError):
        java = None
    mem_kb = next(
        (int(line.split()[1]) for line in read_file("/proc/meminfo").splitlines()
         if line.startswith("MemTotal:")),
        0,
    )
    return {
        "seed": seed,
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": cpus,
        "driver_memory": driver_mem,
        "mem_total_gb": round(mem_kb / 2**20, 1),
        "loadavg_start": [round(x, 2) for x in load],
        "busy_at_start": load[0] > QUIET_LOAD,
        "java": java,
        "python": platform.python_version(),
        **versions,
        "note": "BENCH_r01-r13 were taken on 32 cores and are not a "
        "baseline for this benchmark",
    }


def prepare_environment(work: str) -> tuple[int, str]:
    """Hermetic run: fresh temp, Spark local and warehouse dirs under
    `work`, and the checkout on the Python workers' path."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4)
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or "3g"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYTHONDONTWRITEBYTECODE": "1",
        # every JVM (the launcher too): temp files in `work`, and no
        # hsperfdata files in the system temp dir
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
        # JIT compiler threads that live as long as the JVM, so their
        # CPU can be told apart (measure.tree_cpu_seconds)
        "-XX:-UseDynamicNumberOfCompilerThreads",
    })
    sys.dont_write_bytecode = True
    import tempfile

    tempfile.tempdir = tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return cpus, driver_mem


def spark_confs(work: str) -> dict[str, str]:
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
    }


class Run:
    """What one workload run records: op counts, failures, known defects,
    setup and pass times, and every metric with its unit."""

    def __init__(self, args, work: str, cpus: int) -> None:
        from measure import RssSampler, Tracer

        self.seed = args.seed
        self.profile = args.profile
        self.seconds = args.seconds
        self.deep = bool(args.trace)
        self.work = work
        self.cpus = cpus
        self.confs = spark_confs(work)
        self.tracer = Tracer()
        self.rss = RssSampler()
        self.attempted = 0
        self.failures: list[tuple[str, str]] = []
        #: registered known defects that reproduced exactly as registered
        self.known: list[tuple[str, str]] = []
        self.setup_times: list[float] = []
        self.setup_cpu_times: list[float] = []
        self.cold_pass_s = 0.0
        self.cold_pass_cpu_s = 0.0
        self.pass_times: list[float] = []
        self.pass_cpu_times: list[float] = []
        self.pass_jit_times: list[float] = []
        #: name -> (value, unit); both metric sets of BENCHMARK.json are
        #: filled from here, plus report-only extras
        self.metrics: dict[str, tuple[float, str]] = {}
        #: name -> sample count, for the report
        self.samples: dict[str, int] = {}
        self.started = time.perf_counter()

    def log(self, msg: str) -> None:
        print(f"[perfbench +{time.perf_counter() - self.started:6.1f}s] {msg}", file=sys.stderr, flush=True)

    def op_failed(self, what: str, err: BaseException | str) -> None:
        why = err if isinstance(err, str) else f"{type(err).__name__}: {str(err)[:300]}"
        self.failures.append((what, why))

    def set(self, name: str, value: float, unit: str, n: int | None = None) -> None:
        self.metrics[name] = (float(value), unit)
        if n is not None:
            self.samples[name] = n


def load_benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def emit(run: Run, context: dict, spec: dict, workload: str) -> bool:
    run.set("setup_s", statistics.median(run.setup_cpu_times), "s", len(run.setup_cpu_times))
    run.set("setup_wall_s", statistics.median(run.setup_times), "s", len(run.setup_times))
    run.set("cold_pass_s", run.cold_pass_s, "s", 1)
    run.set("pass_s", statistics.median(run.pass_times), "s", len(run.pass_times))
    run.set("cold_pass_cpu_s", run.cold_pass_cpu_s, "s", 1)
    run.set("pass_cpu_s", statistics.median(run.pass_cpu_times), "s", len(run.pass_cpu_times))
    run.set("jvm.jit_cpu_s", statistics.median(run.pass_jit_times), "s", len(run.pass_jit_times))
    for i, seconds in enumerate(run.pass_times, 1):
        run.set(f"steady_pass_{i}_s", seconds, "s")
    run.set("peak_rss_mb", run.rss.peak_mb(), "MB")
    run.set("python_rss_mb", run.rss.peak_mb("driver") + run.rss.peak_mb("workers"), "MB")
    for part in ("driver", "jvm", "workers"):
        run.set(f"proc.rss_{part}_mb", run.rss.peak_mb(part), "MB")
    failed = len(run.failures)
    attempted = max(run.attempted, 1)
    run.set("failed_ops", (failed + len(run.known)) / attempted, "ratio", attempted)
    run.set("known_defects", len(run.known), "count")
    if run.deep:
        # the traced run's own end-to-end figures: compared with an
        # untraced run of the same seed they give the tracing overhead
        for name in ("setup_s", "cold_pass_s", "pass_s", "pass_cpu_s"):
            run.set(f"trace.{name}", run.metrics[name][0], "s")
        per_pass = run.tracer.overhead_s / (len(run.pass_times) + 1)
        run.set("trace.bookkeeping_s", per_pass, "s")

    wanted = spec["per_layer"] if run.deep else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        value, unit = run.metrics.get(m["name"], (0.0, m["unit"]))
        if unit != m["unit"]:
            raise RuntimeError(f"{m['name']}: unit {unit} != {m['unit']}")
        metrics[m["name"]] = {"value": value, "unit": unit}

    print(f"# workload {workload}  seed {run.seed}  trace {int(run.deep)}")
    print("# context " + json.dumps(context, sort_keys=True))
    for name in sorted(run.metrics):
        value, unit = run.metrics[name]
        n = run.samples.get(name)
        print(f"#   {name:40s} {value:14.6g} {unit}" + (f"  (n={n})" if n else ""))
    for what, why in run.known:
        print(f"# known defect reproduced: {what}: {why}")
    for what, why in run.failures:
        print(f"# FAILED: {what}: {why}")
    correct = failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return correct


def stop_jvm() -> None:
    """End the JVM PySpark started, and wait for it (its Python workers
    end with it), so the run leaves no process behind."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None:
        return
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


WORKLOADS = {
    "headline_sf0.01": ("headline", "run_headline"),
    "client_arrow_http": ("client_http", "run_client_http"),
}


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--profile", choices=("full", "tiny"), default="full",
                        help="input sizes; tiny is for perfbench/selftest.py")
    args = parser.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "clickhouse_arrow_spark", "client.py")):
        print(
            "perfbench: the package clickhouse_arrow_spark is not next to "
            f"perfbench/ in {ROOT}; run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    spec = load_benchmark_spec()
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        cpus, driver_mem = prepare_environment(work)
        sys.path.insert(0, HERE)
        warnings.simplefilter("ignore")
        module, func = WORKLOADS[args.workload]
        workload = getattr(__import__(module), func)
        context = machine_context(args.seed, cpus, driver_mem)
        steal0 = steal_seconds()
        run = Run(args, work, cpus)
        workload(run)
        context["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
        context["steal_s"] = round(steal_seconds() - steal0, 2)
        return 0 if emit(run, context, spec, args.workload) else 1
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
