"""Measurement plumbing shared by the workloads: the Spark session and
its cold set-up timing, spans with Spark job groups, event-log
parsing, storage (cache) probes, /proc readings and output
fingerprints.

Nothing here imports the engine at module import time; ``Session``
does, after the worker import path is set.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import json
import math
import os
import signal
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "dask_datapipeline_spark"


# ---------------------------------------------------------------------------
# host state
# ---------------------------------------------------------------------------


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_jiffies() -> tuple[int, int, int]:
    """(total, steal, idle + iowait) jiffies from /proc/stat: steal is
    CPU time the hypervisor gave to someone else while this VM wanted it."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[7], v[3] + v[4]


def steal_share(j0: tuple[int, int, int], j1: tuple[int, int, int]) -> tuple[float, float]:
    """(share of all CPU time, share of busy CPU time) stolen between two
    ``cpu_jiffies`` readings. A busy vCPU ran for (1 - the second) of
    the wall time."""
    total, steal, idle = (b - a for a, b in zip(j0, j1))
    return steal / max(total, 1), steal / max(total - idle, 1)


def _cmdline(pid: str) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _ancestors() -> set[int]:
    out, pid = set(), os.getpid()
    while pid > 1:
        out.add(pid)
        with open(f"/proc/{pid}/stat") as f:
            pid = int(f.read().rsplit(")", 1)[1].split()[1])
    return out


def rivals() -> list[str]:
    """Other live Spark JVMs or pytest processes (contention sources);
    this process and its ancestors do not count."""
    own, found = _ancestors(), []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) in own:
            continue
        cmd = _cmdline(pid)
        if "org.apache.spark.deploy.SparkSubmit" in cmd or "pytest" in cmd:
            found.append(f"{pid}: {cmd[:120]}")
    return found


def _children(pid: int) -> list[int]:
    out = []
    for t in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(t) as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            pass
    return out


def process_tree(pid: int) -> list[int]:
    todo, seen = [pid], []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


#: thread names (``comm``, 15 chars) of the JVM's JIT compilers
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_ticks(path: str) -> tuple[str, int, int]:
    """(comm, own user+system ticks, reaped children's ticks) of a
    /proc stat file."""
    with open(path) as f:
        data = f.read()
    head, tail = data.rsplit(")", 1)
    v = tail.split()
    return head.split("(", 1)[1], int(v[11]) + int(v[12]), int(v[13]) + int(v[14])


def cpu_seconds() -> float:
    """User + system CPU seconds of this process tree, reaped children
    included, less the JVM's JIT compiler threads. Steal time is not
    charged to a process, so this resists host load; JIT compilation is
    a warm-up cost that keeps falling for many iterations and would
    otherwise dominate the run-to-run spread."""
    total = 0
    for p in process_tree(os.getpid()):
        try:
            _, own, reaped = _stat_ticks(f"/proc/{p}/stat")
        except OSError:
            continue
        total += own + reaped
        for t in glob.glob(f"/proc/{p}/task/*/stat"):
            try:
                comm, ticks, _ = _stat_ticks(t)
            except OSError:
                continue
            if comm.startswith(_JIT_THREADS):
                total -= ticks
    return total / os.sysconf("SC_CLK_TCK")


def now() -> tuple[float, float]:
    """(wall, CPU) clock reading; ``since`` turns it into elapsed seconds."""
    return time.perf_counter(), cpu_seconds()


def since(t0: tuple[float, float]) -> tuple[float, float]:
    wall, cpu = now()
    return wall - t0[0], cpu - t0[1]


def become_subreaper() -> None:
    """Adopt orphaned descendants (Python workers whose JVM has ended),
    so that ``reap_descendants`` can wait for them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def reap_descendants(grace: float = 10.0) -> None:
    """Terminate every process below this one (SIGTERM, then SIGKILL
    after ``grace`` seconds) and wait until each has ended."""
    deadline, sig = time.monotonic() + grace, signal.SIGTERM
    while True:
        pids = process_tree(os.getpid())[1:]
        if not pids:
            return
        for p in pids:
            with contextlib.suppress(ProcessLookupError):
                os.kill(p, sig)
        for p in _children(os.getpid()):
            with contextlib.suppress(ChildProcessError):
                os.waitpid(p, os.WNOHANG)
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.05)


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process and every live descendant (the
    driver JVM and its Python worker daemon and workers)."""
    return sum(_status_kb(p, "VmHWM") for p in process_tree(os.getpid())) / 1024.0


# ---------------------------------------------------------------------------
# fingerprints
# ---------------------------------------------------------------------------


def _canon(v) -> str:
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def fingerprint(columns: list[str], rows) -> tuple[int, str]:
    """Order-independent fingerprint of a result: (row count, sum of
    per-row hashes mod 2**64 over the columns sorted by name)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    acc, n = 0, 0
    for r in rows:
        line = "\x1f".join(_canon(r[i]) for i in order).encode()
        acc = (acc + int.from_bytes(hashlib.blake2b(line, digest_size=8).digest(), "big")) % (1 << 64)
        n += 1
    return n, f"{acc:016x}"


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    parent: int | None
    iteration: int
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans around calls into the engine's layers. Disabled, ``span``
    only yields; enabled, each span records name, layer, start, end,
    parent and iteration, and tags every Spark job started inside it
    with the job group ``s<id>`` so event-log stages map back to it.
    Spans stay in memory until ``dump``."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.iteration = -1
        self._stack: list[Span] = []
        self.sc = None
        self.on_close = None
        # perf_counter -> epoch seconds, to line spans up with event-log
        # and streaming-progress timestamps
        self.epoch = time.time() - time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer, time.perf_counter(),
                 parent.id if parent else None, self.iteration)
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(f"s{s.id}", name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.on_close is not None:
                self.on_close(s)
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(f"s{parent.id}", parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "layer": s.layer,
                    "start": s.start + self.epoch, "end": s.end + self.epoch, "parent": s.parent,
                    "iteration": s.iteration, "counts": s.counts,
                }) + "\n")


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


@dataclass
class StageStats:
    stage_id: int
    tasks: int = 0
    task_ms: list = field(default_factory=list)
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0
    python_bytes: int = 0


@dataclass
class JobInfo:
    job_id: int
    group: str | None
    stages: list
    submit_s: float  # epoch seconds
    execution: int | None  # SQL execution id


def _join_row_metrics(plan: dict, out: set) -> None:
    """Accumulator ids of "number of output rows" on every join node of
    a SQL plan-info tree."""
    if "Join" in plan.get("nodeName", ""):
        out.update(m["accumulatorId"] for m in plan.get("metrics") or []
                   if m.get("name") == "number of output rows")
    for child in plan.get("children") or []:
        _join_row_metrics(child, out)


def read_event_log(log_dir: str) -> tuple[dict[int, JobInfo], dict[int, StageStats], dict[int, int]]:
    """Parse the (uncompressed) event log(s) in ``log_dir``: jobs with
    their group, stages, submit time and SQL execution, per-stage task
    stats, and the rows the join operators of each SQL execution
    produced (summed over the initial and every adaptive re-plan: a
    replaced join never runs, so it adds nothing)."""
    jobs: dict[int, JobInfo] = {}
    stages: dict[int, StageStats] = {}
    join_ids: dict[int, set] = {}
    acc_total: dict[int, int] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path, encoding="utf-8", errors="replace") as f:
            for line in f:
                if '"Event":"SparkListenerJobStart"' in line:
                    e = json.loads(line)
                    props = e.get("Properties") or {}
                    ex = props.get("spark.sql.execution.id")
                    jobs[e["Job ID"]] = JobInfo(e["Job ID"], props.get("spark.jobGroup.id"),
                                                list(e.get("Stage IDs") or []),
                                                e.get("Submission Time", 0) / 1000.0,
                                                int(ex) if ex is not None else None)
                elif ("SparkListenerSQLExecutionStart" in line
                      or "SparkListenerSQLAdaptiveExecutionUpdate" in line):
                    e = json.loads(line)
                    _join_row_metrics(e.get("sparkPlanInfo") or {}, join_ids.setdefault(e["executionId"], set()))
                elif '"Event":"SparkListenerTaskEnd"' in line:
                    e = json.loads(line)
                    st = stages.setdefault(e["Stage ID"], StageStats(e["Stage ID"]))
                    info, m = e.get("Task Info") or {}, e.get("Task Metrics") or {}
                    st.tasks += 1
                    st.task_ms.append(int(m.get("Executor Run Time", 0)))
                    st.cpu_ns += int(m.get("Executor CPU Time", 0))
                    st.gc_ms += int(m.get("JVM GC Time", 0))
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    st.shuffle_write += int(sw.get("Shuffle Bytes Written", 0))
                    st.shuffle_read += int(sr.get("Remote Bytes Read", 0)) + int(sr.get("Local Bytes Read", 0))
                    st.spill += int(m.get("Memory Bytes Spilled", 0)) + int(m.get("Disk Bytes Spilled", 0))
                    for acc in info.get("Accumulables") or []:
                        try:
                            upd = int(acc.get("Update") or 0)
                        except (TypeError, ValueError):
                            continue
                        acc_total[acc["ID"]] = acc_total.get(acc["ID"], 0) + upd
                        if acc.get("Name") == "data sent to Python workers":
                            st.python_bytes += upd
    join_rows = {ex: sum(acc_total.get(i, 0) for i in ids) for ex, ids in join_ids.items()}
    return jobs, stages, join_rows


# ---------------------------------------------------------------------------
# the Spark session
# ---------------------------------------------------------------------------


class Session:
    """One Spark process at ``local[<cores>]``. ``start`` times the
    cold set-up (JVM + session, first job, Python worker pool) in wall
    and CPU seconds, and
    sets the worker import path before the JVM exists, so Arrow UDFs
    import the engine from this checkout whatever the cwd."""

    def __init__(self, work: str, cores: int, event_log: bool):
        self.work = work
        self.cores = cores
        self.event_log_dir = os.path.join(work, "eventlog")
        self.event_log = event_log
        self.spark = None
        self.timings: dict[str, float] = {}

    def _conf(self) -> dict[str, str]:
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # everything stays in the work dir (no /tmp/hsperfdata_*);
            # fixed JIT compiler threads, since a compiler thread that
            # exits takes its CPU time out of reach of cpu_seconds
            "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                                              "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"),
            # no listening port from a benchmark process
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.event_log:
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def start(self):
        become_subreaper()
        path = os.environ.get("PYTHONPATH", "")
        if ROOT not in path.split(os.pathsep):
            os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        t0, cpu0 = now()
        from dask_datapipeline_spark.session import get_spark

        spark = get_spark("perfbench", extra_conf=self._conf())
        t1 = time.perf_counter()
        spark.range(1000).selectExpr("sum(id)").collect()
        t2 = time.perf_counter()
        n = self.cores
        # a lambda pickles by value: workers need not import this module
        spark.range(n, numPartitions=n).mapInPandas(lambda it: it, "id long").collect()
        t3, cpu3 = now()
        self.timings = {"start_s": t1 - t0, "first_job_s": t2 - t1, "worker_spawn_s": t3 - t2,
                        "wall_s": t3 - t0, "cpu_s": cpu3 - cpu0}
        self.spark = spark
        return spark

    def cached_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)

    def clear_cache(self) -> None:
        self.spark.catalog.clearCache()
        # localCheckpoint RDDs are not in the SQL cache; unpersist all
        for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)

    def stop(self) -> None:
        """Stop Spark, then end the JVM and every process it started
        (the Python worker daemon and its workers) and wait for each:
        a JVM left to notice its closed stdin after this process exits
        would outlive the run."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        reap_descendants()


@contextlib.contextmanager
def watchdog(session: Session, seconds: float):
    """Cancel every running Spark job if the guarded block outlives
    ``seconds``; the block then raises and counts as a failure."""
    t = threading.Timer(seconds, session.spark.sparkContext.cancelAllJobs)
    t.daemon = True
    t.start()
    try:
        yield
    finally:
        t.cancel()
        t.join()


def ensure_package() -> None:
    """Refuse to run outside a checkout that holds the engine."""
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found beside perfbench/ in {ROOT}", file=sys.stderr)
        raise SystemExit(2)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
