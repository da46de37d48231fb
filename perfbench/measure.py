"""Measurement helpers: layer spans, Spark's own status store, /proc RSS.

Every number here is taken from outside the program: a span is the
wall time of one call into a layer's public function, made by the
benchmark's own code, and the Spark figures come from the status store
and `QueryExecution` tracker Spark keeps anyway. The program under test
gets no tracing of its own.
"""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Spans of one run: (name, start, end), in perf_counter seconds.

    Spans are always recorded: the end-to-end metrics are made from
    them. What the traced run adds is reads of Spark's status store and
    Catalyst phases, and calls split into their public parts; the time
    those extra reads take is `overhead_s`.
    """

    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float]] = []
        #: seconds the tracer spent on its own bookkeeping reads
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.perf_counter()))

    @contextmanager
    def bookkeeping(self):
        """Time the tracer's own reads; they are the tracing overhead."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    def durations(self, name: str) -> list[float]:
        return [t1 - t0 for n, t0, t1 in self.spans if n == name]


def tree_cpu_seconds(exclude: set[int]) -> float:
    """CPU seconds (user + system) used so far by this process and its
    descendants (the JVM and the Python workers), minus `exclude` and
    their children, and minus the JVM's JIT compiler threads. Exited
    children count through their parent's cumulative child time.

    Time the hypervisor steals counts less here than in wall time, so
    this is steadier on a shared machine. JIT compilation is left out
    because it is the JVM warming up, not the program's work: it was
    more than half of a steady headline pass's CPU, and the share that
    falls into a given pass varies from run to run. `jit_cpu_seconds`
    reports it."""
    table = _proc_table()
    pids = [os.getpid(), *_descendants(table, exclude)]
    ticks = sum(table[pid][2] - _jit_ticks(pid, table[pid][1]) for pid in pids if pid in table)
    return ticks / os.sysconf("SC_CLK_TCK")


def jit_cpu_seconds(exclude: set[int]) -> float:
    """CPU seconds the JVM's JIT compiler threads have used so far."""
    table = _proc_table()
    ticks = sum(_jit_ticks(pid, table[pid][1]) for pid in _descendants(table, exclude))
    return ticks / os.sysconf("SC_CLK_TCK")


#: java pid -> thread ids of its JIT compiler threads. They live as long
#: as the JVM: run.py turns off HotSpot's dynamic compiler threads, whose
#: exit would move their CPU time out of reach.
_JIT_THREADS: dict[int, list[str]] = {}


def _jit_ticks(pid: int, comm: str) -> int:
    if comm != "java":
        return 0
    tids = _JIT_THREADS.get(pid)
    if tids is None:
        tids = _JIT_THREADS[pid] = [
            tid for tid in os.listdir(f"/proc/{pid}/task")
            if "CompilerThre" in read_file(f"/proc/{pid}/task/{tid}/comm")
        ]
    ticks = 0
    for tid in tids:
        stat = read_file(f"/proc/{pid}/task/{tid}/stat")
        if stat:
            ticks += sum(int(x) for x in stat[stat.rfind(")") + 2:].split()[11:13])
    return ticks


def read_file(path: str) -> str:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return ""


@contextmanager
def timed_setup(run, exclude: set[int]):
    """Wall and CPU seconds of one set-up; the CPU of the whole process
    tree, the stand-in server included, except `exclude`."""
    cpu0 = tree_cpu_seconds(exclude)
    t0 = time.perf_counter()
    yield
    run.setup_times.append(time.perf_counter() - t0)
    run.setup_cpu_times.append(tree_cpu_seconds(exclude) - cpu0)


def run_passes(run, one_pass, nominal_pass_s: float) -> None:
    """One cold pass, then a fixed number of steady passes that fills
    `run.seconds` at the workload's nominal pass time (at least one).

    The count is fixed rather than "until the time is up" because
    passes still speed up while the JIT warms: a run that fits one more
    pass would report a lower median than one that does not.

    A pass takes its wall and CPU time, unless `one_pass` returns the
    (wall, CPU) seconds its ops took, when it checks outputs between
    ops."""

    def timed_pass(steady: bool) -> tuple[float, float]:
        cpu0 = tree_cpu_seconds(run.rss.exclude)
        jit0 = jit_cpu_seconds(run.rss.exclude)
        t0 = time.perf_counter()
        op_seconds = one_pass(steady=steady)
        if steady:
            run.pass_jit_times.append(jit_cpu_seconds(run.rss.exclude) - jit0)
        if op_seconds is not None:
            return op_seconds
        return time.perf_counter() - t0, tree_cpu_seconds(run.rss.exclude) - cpu0

    run.log("setups: " + " ".join(f"{t:.2f}s/{c:.2f}cpu" for t, c in zip(run.setup_times, run.setup_cpu_times)))
    run.cold_pass_s, run.cold_pass_cpu_s = timed_pass(False)
    run.log("cold pass done")
    for _ in range(max(1, round(run.seconds / nominal_pass_s))):
        wall, cpu = timed_pass(True)
        run.pass_times.append(wall)
        run.pass_cpu_times.append(cpu)
    run.log("steady passes: " + " ".join(f"{t:.2f}" for t in run.pass_times))


def unit_of(name: str) -> str:
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes"), ("_mb", "MB")):
        if name.endswith(suffix):
            return unit
    return "count"


# -- Spark status store ----------------------------------------------------

class SparkCounters:
    """Job, stage and task totals from Spark's AppStatusStore, and SQL
    execution counts from the SQLAppStatusStore, for the jobs started
    after a `mark()`. Job ids are sequential, so new jobs are found by
    probing upward from the last id seen."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._next_job = 0

    def _drain(self) -> None:
        # status updates arrive on the listener bus; wait for it so a
        # just-finished job's stages are complete in the store
        self.jsc.listenerBus().waitUntilEmpty(10_000)

    def _job(self, job_id: int):
        from py4j.protocol import Py4JJavaError

        try:
            return self.store.job(job_id)
        except Py4JJavaError:
            return None

    def mark(self) -> dict:
        self._drain()
        while self._job(self._next_job) is not None:
            self._next_job += 1
        return {"job": self._next_job, "executions": self.sql_store.executionsCount()}

    def since(self, mark: dict) -> dict:
        """Totals over the jobs started after `mark`."""
        self._drain()
        out = defaultdict(float)
        out["sql_executions"] = self.sql_store.executionsCount() - mark["executions"]
        stage_ids: set[int] = set()
        job_id = mark["job"]
        while (job := self._job(job_id)) is not None:
            out["jobs"] += 1
            ids = job.stageIds().mkString(",")
            stage_ids.update(int(x) for x in ids.split(",") if x)
            job_id += 1
        self._next_job = max(self._next_job, job_id)
        for sid in sorted(stage_ids):
            s = self.store.lastStageAttempt(sid)
            if s.numCompleteTasks() == 0:
                continue  # skipped: its output was reused
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["input_records"] += s.inputRecords()
        return out


def catalyst_phases(df) -> dict[str, float]:
    """Analysis/optimization/planning ms from the DataFrame's own
    QueryExecution tracker (planning is forced if it has not run)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        out[phase] = phases.apply(phase).durationMs() if phases.contains(phase) else 0.0
    return out


# -- resident memory from /proc --------------------------------------------

def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, comm, CPU ticks of it and its reaped children)."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        rparen = stat.rfind(")")
        fields = stat[rparen + 2:].split()
        # utime, stime, cutime, cstime
        ticks = sum(int(x) for x in fields[11:15])
        table[int(entry)] = (int(fields[1]), stat[stat.find("(") + 1:rparen], ticks)
    return table


def _descendants(table: dict, exclude: set[int]) -> list[int]:
    """Descendants of this process, leaving out `exclude` and theirs."""
    children = defaultdict(list)
    for pid, (ppid, _, _) in table.items():
        children[ppid].append(pid)
    out, todo = [], [p for p in children[os.getpid()] if p not in exclude]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(p for p in children[pid] if p not in exclude)
    return out


def _hwm_bytes(pid: int) -> int:
    """Peak resident set of a live process (VmHWM), 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of the driver (this process), the JVM and
    the Python workers, read from /proc.

    The driver and the JVM live for the whole run, so their peaks are
    the kernel's own high-water marks (VmHWM), read at the end, exact
    and free of sampling noise. Python workers come and go, so their
    current RSS is summed every `interval` seconds and the largest sum
    kept; the process tree is walked only every `rescan` seconds, to
    keep the sampler's own cost small. The total is the sum of the three
    peaks. Processes in `exclude` (and their children) are left out,
    e.g. the stand-in server."""

    def __init__(self, interval: float = 0.2, rescan: float = 1.0) -> None:
        self.interval = interval
        self.rescan = rescan
        self.exclude: set[int] = set()
        self.peak = {"driver": 0, "jvm": 0, "workers": 0}
        self._jvms: list[int] = []
        self._workers: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _scan(self) -> None:
        table = _proc_table()
        pids = _descendants(table, self.exclude)
        self._jvms = [p for p in pids if table[p][1] == "java"]
        self._workers = [p for p in pids if table[p][1].startswith("python")]

    def _sample_workers(self) -> None:
        page = os.sysconf("SC_PAGE_SIZE")
        total = 0
        for pid in self._workers:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * page
            except OSError:
                pass  # the worker has exited
        self.peak["workers"] = max(self.peak["workers"], total)

    def _loop(self) -> None:
        last_scan = 0.0
        while not self._stop.wait(self.interval):
            if time.monotonic() - last_scan >= self.rescan:
                self._scan()
                last_scan = time.monotonic()
            self._sample_workers()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._scan()
        self._sample_workers()
        self.peak["driver"] = _hwm_bytes(os.getpid())
        self.peak["jvm"] = sum(_hwm_bytes(pid) for pid in self._jvms)

    def peak_mb(self, part: str | None = None) -> float:
        return (self.peak[part] if part else sum(self.peak.values())) / 2**20
