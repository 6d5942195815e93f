"""Shared benchmark plumbing: machine sizing, the Spark session, set-up
repetitions, the in-memory span tracer, status-store deltas, memory
and percentile helpers. Nothing here changes engine code: every number
comes from the benchmark's own timers or from Spark's status store."""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import time

#: tail percentiles tried from the highest down; the reported tail is
#: the highest one with at least ten samples beyond it
TAIL_LADDER = (0.99, 0.95, 0.9, 0.75, 0.5)

#: set-ups per run; the first also starts the JVM, and setup_s is the
#: median of all of them
SETUP_REPS = 2

#: seconds to wait for the JVM and its workers to end before killing them
STOP_WAIT_S = 20.0


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float]) -> tuple[float, float]:
    """(tail percentile, value): the highest ladder percentile with at
    least ten samples beyond it. Below 40 samples no percentile above the
    median qualifies, so the tail is the median (below 20 samples even the
    median has fewer than ten beyond it)."""
    n = len(values)
    for q in TAIL_LADDER:
        if n * (1 - q) >= 10:
            return q, percentile(values, q)
    return 0.5, percentile(values, 0.5)


def _proc_table() -> dict[int, tuple[int, str, str]]:
    """pid -> (parent pid, state, start time) of every visible process."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # fields after the command name: state, ppid, ..., starttime
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        table[int(d)] = (int(fields[1]), fields[0], fields[19])
    return table


def _descendants(pid: int) -> set[tuple[int, str]]:
    """(pid, start time) of every process below ``pid``."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for p, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(p)
    out, todo = set(), [pid]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.add((k, table[k][2]))
            todo.append(k)
    return out


def _wait_gone(procs: set[tuple[int, str]]) -> None:
    """Wait until each (pid, start time) has ended; kill what is still
    running after ``STOP_WAIT_S``, and wait as long again for those."""
    for killing in (False, True):
        deadline = time.monotonic() + STOP_WAIT_S
        while time.monotonic() < deadline:
            table = _proc_table()
            alive = {p for p, st in procs
                     if p in table and table[p][2] == st and table[p][1] != "Z"}
            if not alive:
                return
            if killing:
                for p in alive:
                    with contextlib.suppress(OSError):
                        os.kill(p, signal.SIGKILL)
            time.sleep(0.05)


def physical_ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Bench:
    """One benchmark run: sizing, work dirs, session, tracer, results."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float,
                 trace: bool, params: dict):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.params = params
        self.cpus = len(os.sched_getaffinity(0))
        self.driver_mem_gb = max(1, min(8, physical_ram_bytes() // (4 << 30)))
        self.work = os.path.join(root, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
        self.out_dir = os.path.join(root, ".perfbench_out")
        self.spark = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.layer: dict[str, float] = {}
        self.setup_times: list[float] = []
        self.session_times: list[float] = []
        self.rss_mb = 0.0  # peak RSS at the end of the measured phase
        self.attempted = 0
        self.failed = 0
        self.notes: dict = {}

    # ------------------------------------------------------------ session

    def environment(self) -> None:
        """Deployment env for get_spark and the Python workers. Scratch
        (spark.local.dir, TMPDIR) is pinned inside the run's work dir."""
        local = os.path.join(self.work, "spark-local")
        tmp = os.path.join(self.work, "tmp")
        for d in (local, tmp):
            os.makedirs(d, exist_ok=True)
        env = {
            "SPARK_GRAFT_CPUS": str(self.cpus),
            "SPARK_GRAFT_DRIVER_MEM": f"{self.driver_mem_gb}g",
            "SPARK_GRAFT_LOCAL_DIR": local,
            "TMPDIR": tmp,
            "PYTHONPATH": os.pathsep.join(
                p for p in (self.root, os.environ.get("PYTHONPATH")) if p
            ),
        }
        os.environ.update(env)
        self.notes["settings"] = {
            "master": f"local[{self.cpus}]",
            "shuffle_partitions": self.cpus,
            "driver_memory": env["SPARK_GRAFT_DRIVER_MEM"],
            "physical_ram_gb": round(physical_ram_bytes() / (1 << 30), 1),
            "local_dir": os.path.relpath(local, self.root),
        }

    def start_session(self):
        from flink_join_scaling_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        tmp = os.environ["TMPDIR"]
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            cpus=self.cpus,
            shuffle_partitions=self.cpus,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            },
        )
        self.spark.sparkContext.setCheckpointDir(os.path.join(self.work, "checkpoints"))
        self.session_times.append(time.perf_counter() - t0)

    def setup(self, build, warmup) -> None:
        """Set up ``SETUP_REPS`` times — session start, input generation,
        warmup — and keep the last. ``build()`` writes the inputs."""
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            self.start_session()
            with self.phase("build"):
                build()
            with self.phase("warmup"):
                warmup()
            self.setup_times.append(time.perf_counter() - t0)

    @contextlib.contextmanager
    def phase(self, name: str):
        """Wall time of an untimed phase, kept in the notes."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.notes.setdefault("phases_s", []).append((name, time.perf_counter() - t0))

    def close(self) -> None:
        """Stop the session, then the JVM it runs in and every process
        this run started (the JVM and its Python workers), and wait for
        each to end, so nothing outlives the run."""
        from pyspark import SparkContext

        started = _descendants(os.getpid())
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            self.spark = None
            started |= _descendants(os.getpid())
            gateway = SparkContext._gateway
            if gateway is not None:
                SparkContext._gateway = SparkContext._jvm = None
                gateway.shutdown()
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    # the gateway JVM exits when its stdin closes
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=STOP_WAIT_S)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
            _wait_gone(started)
            shutil.rmtree(self.work, ignore_errors=True)

    # ------------------------------------------------------- engine hygiene

    def release_pinned(self) -> None:
        """Unpersist every pinned RDD (localCheckpoint blocks included)
        and empty the checkpoint dir, so one call's pins cannot slow the
        next. Runs between calls, outside every timed region."""
        jsc = self.spark.sparkContext._jsc
        for rdd in list(jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)
        ckpt = os.path.join(self.work, "checkpoints")
        for name in os.listdir(ckpt) if os.path.isdir(ckpt) else ():
            shutil.rmtree(os.path.join(ckpt, name), ignore_errors=True)

    def calibrate(self) -> float:
        """Fixed null query (range -> count, no scan or shuffle): its
        median is this run's scheduling overhead, a diagnostic only."""
        times = []
        for _ in range(5):
            t0 = time.perf_counter()
            self.spark.range(1_000_000).count()
            times.append(time.perf_counter() - t0)
        return statistics.median(times)

    def peak_rss_mb(self) -> float:
        """Peak resident memory (VmHWM) of this driver process plus the
        JVM so far; read before the correctness gate, whose DuckDB runs
        in this process."""
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0

    # ------------------------------------------------------------- tracing

    @contextlib.contextmanager
    def span(self, name: str, **counts):
        """Record a span (kept in memory, written at exit). The parent is
        the enclosing span; the root span's id names the call. The Spark
        jobs run directly under the span carry its job group, so its
        status-store totals can be read back."""
        parent = self._stack[-1] if self._stack else None
        sp = {
            "name": name,
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "call": parent["call"] if parent else len(self.spans),
            "start": time.perf_counter(),
            "counts": dict(counts),
        }
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self.spark.sparkContext
        group = f"span-{sp['id']}"
        sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            sp["stages"] = self.stage_totals(group)
            if parent is not None:
                sc.setJobGroup(f"span-{parent['id']}", parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def stage_totals(self, group: str) -> dict[str, float]:
        """Sum executor CPU, GC, spill and shuffle-write metrics over the
        stages of every job run in job group ``group``."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        stage_ids = set()
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        tot = dict.fromkeys(
            ("cpu_s", "gc_s", "spill_bytes", "shuffle_write_bytes", "shuffle_write_records"), 0.0)
        for sid in stage_ids:
            attempts = store.stageData(sid, False, None, False, None)
            for i in range(attempts.size()):
                s = attempts.apply(i)
                tot["cpu_s"] += s.executorCpuTime() / 1e9
                tot["gc_s"] += s.jvmGcTime() / 1e3
                tot["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
                tot["shuffle_write_records"] += s.shuffleWriteRecords()
        return tot

    def self_time(self, sp: dict) -> float:
        """Span duration minus the part its direct children cover."""
        kids = [c for c in self.spans if c["parent"] == sp["id"]]
        return (sp["end"] - sp["start"]) - sum(c["end"] - c["start"] for c in kids)

    def write_trace(self) -> str:
        os.makedirs(self.out_dir, exist_ok=True)
        path = os.path.join(self.out_dir, f"trace-{self.workload}-seed{self.seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": self.workload, "seed": self.seed,
                       "notes": self.notes, "spans": self.spans}, f, indent=1)
        return path


def median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
