"""Shared pieces of a benchmark run: the Spark session, the run's
working directory, job/task accounting, memory and host telemetry,
and the percentile helpers every workload reports with."""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from perfbench.spans import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def prepare_process_env(work: str) -> None:
    """Point everything the run writes at ``work`` and let Python
    workers import ``kafana_spark`` whatever the working directory is.

    Must run before the JVM starts: the JVM and the Python workers it
    forks inherit this environment.
    """
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # also for spark-submit's launcher JVM: no hsperfdata file in /tmp
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = (opts + " -XX:-UsePerfData").strip()
    # collected timestamps become naive datetimes in the local zone;
    # UTC makes them equal the store's UTC values
    os.environ["TZ"] = "UTC"
    time.tzset()
    import tempfile

    tempfile.tempdir = None


def n_cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: str):
    """The library's own session builder on ``local[nproc]``, with its
    warehouse, scratch and JVM temp dirs under ``work``."""
    from kafana_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "kafana-perfbench", master=f"local[{n_cpus()}]",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": tmp,
            # TieredStopAtLevel=1 (C1 only): a run lasts about a minute,
            # and C2 compilation otherwise spans the whole timed loop on
            # the same 4 cores. Measured on a 4-vCPU VM, ingest: run-to-run
            # spread of batch p50 0.16 -> 0.08, latency unchanged, JVM CPU
            # per batch 1.6 s -> 1.05 s; discover p50 ~10 % higher.
            # UsePerfData off: no hsperfdata file in the system temp dir.
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                "-XX:-UsePerfData -XX:TieredStopAtLevel=1",
            # streaming progress must stay queryable for every batch
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        })


def stop_spark(spark) -> None:
    """Stop the session and wait until its JVM (and so the Python
    workers it forked) has exited; PySpark itself only stops the
    context and leaves the JVM to notice this process is gone."""
    import subprocess

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits on end of its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def warm_up(spark) -> None:
    """One trivial job, so set-up does not pay the first job's class
    loading; each workload's warm pass warms what it uses itself."""
    spark.range(1000).count()


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    tracer: Tracer
    group_seq: int = 0

    def subdir(self, *parts: str) -> str:
        path = os.path.join(self.work, *parts)
        if os.path.isdir(path):
            shutil.rmtree(path)
        os.makedirs(path)
        return path


class JobCounter:
    """Jobs and tasks of the Spark work done inside one ``with`` block,
    read from the status tracker through a fresh job group."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.jobs = 0
        self.tasks = 0

    def __enter__(self):
        self.ctx.group_seq += 1
        self.group = f"perfbench-{self.ctx.group_seq}"
        self.ctx.spark.sparkContext.setJobGroup(self.group, self.group)
        return self

    def __exit__(self, *exc):
        sc = self.ctx.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(self.group):
            self.jobs += 1
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                st = tracker.getStageInfo(sid)
                self.tasks += st.numTasks if st else 0
        return False


@dataclass
class LoopResult:
    """What a workload's timed loop did: one latency per operation, the
    items it processed (records, requests or key runs), its wall time,
    and whatever the correctness check needs afterwards."""
    op_ms: list[float] = field(default_factory=list)
    items: int = 0
    elapsed: float = 0.0
    outputs: list = field(default_factory=list)


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver Python process plus the JVM."""
    kb = _hwm_kb(os.getpid())
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        kb += _hwm_kb(proc.pid)
    return kb / 1024.0


def _tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant (Python workers of the JVM)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(spark) -> float:
    """User + system CPU seconds used so far by this process, the JVM
    and the JVM's descendants (reaped children included). Stolen time
    is not charged here, unlike wall time."""
    tick = os.sysconf("SC_CLK_TCK")
    pids = [os.getpid()]
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        pids += _tree_pids(proc.pid)
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in f[11:15])
        except (OSError, ValueError, IndexError):
            continue
    return total / tick


def _cpu_jiffies() -> list[int]:
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return []


@dataclass
class HostProbe:
    """CPU busy %, steal % and load1 over a run. Recorded so a run on a
    noisy machine can be spotted; never compared."""
    jiffies: list[int] = field(default_factory=_cpu_jiffies)
    load1_start: float = field(default_factory=lambda: os.getloadavg()[0])

    def report(self) -> dict:
        out = {"n_cpus": n_cpus(), "load1_start": round(self.load1_start, 2),
               "load1_end": round(os.getloadavg()[0], 2)}
        end = _cpu_jiffies()
        if len(self.jiffies) >= 8 and len(end) >= 8:
            d = [b - a for a, b in zip(self.jiffies, end)]
            total = sum(d)
            if total > 0:
                idle = d[3] + d[4]
                out["cpu_busy_pct"] = round(100.0 * (total - idle) / total, 2)
                out["cpu_steal_pct"] = round(100.0 * d[7] / total, 2)
        return out


def dir_stats(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(files, bytes) of the data files under ``path``."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size
