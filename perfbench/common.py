"""Shared pieces of the benchmark: run context, Spark environment,
process reaping, statistics with the sample rule, spans and resource
sampling.

No benchmark module imports pyspark or the package at module import
time: the set-up clock starts before those imports, so their cost is
part of ``setup_s``.
"""

from __future__ import annotations

import ctypes
import json
import math
import os
import signal
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def spark_env(work: str) -> None:
    """Point every scratch location of Spark, the JVM, Python and DuckDB
    inside ``work`` (the benchmark writes only inside its checkout) and
    size the session from the visible cores."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.pop("SPARK_CONF_DIR", None)
    confs = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # keep every micro-batch's commit and progress record for the
        # freshness and trigger-phase statistics
        "spark.sql.streaming.minBatchesToRetain": "100000",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }
    args = " ".join(f"--conf {k}={v}" for k, v in confs.items())
    # the heap starts at its maximum, so its growth does not move timings
    java = (f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
            " -XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"{args} --driver-java-options '{java}' pyspark-shell"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts,
    so that processes orphaned by their parent (Spark's Python workers
    when the JVM exits, say) become its children, which ``reap_all``
    waits for."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def descendants(root: int) -> list[int]:
    """Every live process below ``root``, from /proc."""
    parent = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def reap_all(grace_s: float = 20.0) -> None:
    """Wait until every process this one started, or adopted, has
    ended; kill what is still running after ``grace_s`` seconds."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for p in descendants(os.getpid()):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


# ------------------------------------------------------------ statistics

def median(xs) -> float:
    return statistics.median(xs)


def pctl(xs, q: float) -> float:
    """Linear-interpolated percentile ``q`` in [0, 100]."""
    s = sorted(xs)
    pos = (len(s) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


class SampleRuleError(RuntimeError):
    pass


def reported_pctl(name: str, xs, q: float, min_beyond: int = 10) -> float:
    """Percentile ``q`` of ``xs`` under the sample rule: at least
    ``min_beyond`` samples must rank above it, or the run fails instead
    of reporting it. Prints the value with its sample counts."""
    v = pctl(xs, q)
    beyond = len(xs) - 1 - math.floor((len(xs) - 1) * q / 100.0)
    line = f"{name} = {v:.6g} (p{q:g} of n={len(xs)}, {beyond} beyond)"
    print(line, flush=True)
    if beyond < min_beyond:
        raise SampleRuleError(f"{line}: fewer than {min_beyond} beyond")
    return v


def few_median(name: str, xs) -> float:
    """Median of a few costly repetitions, too few for the sample rule,
    so it is printed as what it is: with its count, minimum and maximum."""
    v = median(xs)
    print(f"{name} = {v:.6g} (median of only n={len(xs)}, "
          f"min {min(xs):.6g}, max {max(xs):.6g})", flush=True)
    return v


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; Spark's marker and checksum
    files are not data."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


# ------------------------------------------------------------ run context

class Bench:
    """One benchmark run: arguments, scratch directory, the Spark
    session, spans and output checks."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.t_start = time.monotonic()
        self.spark = None
        self.tracer: Tracer | None = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def log(self, what: str) -> None:
        """Progress line on stderr: seconds since the run started."""
        print(f"[{time.monotonic() - self.t_start:7.2f}s] {what}",
              file=sys.stderr, flush=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def check(self, what: str, ok: bool) -> None:
        """Count one checked operation; a wrong one is a failure."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
            self.log("CHECK FAILED: " + what)

    def stop(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        if gw is not None:
            gw.shutdown()
            if gw.proc is not None:
                gw.proc.stdin.close()
                gw.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None


# ------------------------------------------------------------ tracing

class Tracer:
    """In-memory spans (name, start, end, parent, run id) around the
    benchmark's calls into the package. Each span runs its Spark jobs
    under its own job group, and the jobs, stages, tasks, shuffle bytes
    and task times of that group are read from the status store when
    the span ends. Disabled, it records nothing and sets no job group."""

    def __init__(self, spark, enabled: bool, run_id: str):
        self.spark = spark
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    class _Span:
        def __init__(self, tracer: "Tracer", name: str):
            self.tracer = tracer
            self.name = name
            self.rec: dict = {}

        def __enter__(self):
            tr = self.tracer
            if not tr.enabled:
                return self.rec
            sid = len(tr.spans)
            group = f"{tr.run_id}/{sid}/{self.name}"
            self.rec.update(
                id=sid, name=self.name, run=tr.run_id, group=group,
                parent=tr._stack[-1] if tr._stack else None,
            )
            tr.spans.append(self.rec)
            tr._stack.append(sid)
            sc = tr.spark.sparkContext
            self._prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(group, self.name)
            self.rec["start"] = time.perf_counter()
            return self.rec

        def __exit__(self, *exc):
            tr = self.tracer
            if not tr.enabled:
                return False
            self.rec["end"] = time.perf_counter()
            tr._stack.pop()
            sc = tr.spark.sparkContext
            if self._prev:
                sc.setJobGroup(self._prev, "")
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.rec.update(tr.work(self.rec["group"]))
            return False

    def span(self, name: str) -> "_Span":
        return Tracer._Span(self, name)

    def work(self, group: str) -> dict:
        """Jobs, stages and tasks that ran under one job group, the
        shuffle bytes they wrote, and per stage the task times (stages
        skipped by shuffle reuse are not counted)."""
        sc = self.spark.sparkContext
        st = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jobs = list(st.getJobIdsForGroup(group))
        stages = []
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                sinfo = st.getStageInfo(s)
                if sinfo is None or sinfo.numCompletedTasks == 0:
                    continue
                stages.append(_stage_record(store, s, sinfo))
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s["tasks"] for s in stages),
            "shuffle_bytes": sum(s["shuffle_bytes"] for s in stages),
            "stage_list": stages,
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1, default=str)


def _stage_record(store, stage_id: int, sinfo) -> dict:
    """Tasks, shuffle bytes written and task run times of one stage,
    from the tasks of attempt ``sinfo.currentAttemptId`` in the JVM
    status store."""
    rec = {"stage": stage_id, "tasks": sinfo.numCompletedTasks,
           "shuffle_bytes": 0, "task_ms": []}
    it = store.taskList(stage_id, sinfo.currentAttemptId, 1 << 30).iterator()
    while it.hasNext():
        m = it.next().taskMetrics()
        if m.isDefined():
            m = m.get()
            rec["task_ms"].append(int(m.executorRunTime()))
            rec["shuffle_bytes"] += int(m.shuffleWriteMetrics().bytesWritten())
    return rec


# ------------------------------------------------------------ memory

class MemSampler:
    """Peak resident memory of the driver JVM and, separately, of its
    Python workers. The JVM's peak is its own high-water mark (VmHWM);
    the workers' peak is the largest sum, over samples taken every
    ``period_s``, of the resident size of every worker alive at the
    sample."""

    def __init__(self, jvm_pid: int, period_s: float = 0.25):
        self.jvm_pid = jvm_pid
        self.period_s = period_s
        self.workers_peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "MemSampler":
        self._thread.start()
        return self

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            total = 0
            for p in descendants(self.jvm_pid):
                total += _status_kb(p, "VmRSS:")
            self.workers_peak_kb = max(self.workers_peak_kb, total)

    def stop(self) -> dict:
        self._stop.set()
        self._thread.join(timeout=10)
        return {
            "mem.jvm_peak_rss_mb": _status_kb(self.jvm_pid, "VmHWM:") / 1024,
            "mem.workers_peak_rss_mb": self.workers_peak_kb / 1024,
        }


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid(spark) -> int:
    """Pid of the driver JVM (the child of spark-submit's launcher, or
    the launcher itself when it execs java)."""
    from pyspark import SparkContext

    launcher = SparkContext._gateway.proc.pid
    for p in [launcher] + descendants(launcher):
        try:
            with open(f"/proc/{p}/comm") as f:
                if f.read().strip() == "java":
                    return p
        except OSError:
            pass
    return launcher
